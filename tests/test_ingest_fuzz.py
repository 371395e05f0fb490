"""Property-based robustness: ingest never crashes and never loses rows.

Hypothesis generates adversarial small CSVs (random headers incl. synonyms
and junk, random dirty cells, wrong-width rows, blank lines, BOM) and the
invariants are checked: ingest completes (file-level reject or ok) and,
when ok, every data row is accounted for
(good + rejects + duplicates_removed == data_rows).
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from retail_aws_etl_pipeline_spark.ingest import ingest_file
from retail_aws_etl_pipeline_spark.lake import LakeLayout

HEADERS = st.lists(
    st.sampled_from(
        [
            "transaction_id", "transactionid", "txn_id",
            "store_id", "storeid", "shop_id",
            "timestamp", "item_id", "product_id",
            "quantity", "qty", "unit_price", "price",
            "revenue", "amount", "item_category",
            "payment_method", "customer_id",
            "discount_code", "junk col", "WeIrD-HeAdEr",
        ]
    ),
    min_size=1,
    max_size=12,
    unique=True,
)

CELL = st.sampled_from(
    [
        "ABC123", "S01", "2024-10-16 14:30:25", "07-12-24 20:23", "",
        "N/A", "$446.23", "$1,413.15", "(5.00)", "3", "x;y", "2024/02/30 25:61",
        "ITEM001", "Card", "2024-10-16", "garbage", "  ", "0",
    ]
)

ROWS = st.lists(st.lists(CELL, min_size=0, max_size=14), min_size=0, max_size=15)


@given(header=HEADERS, rows=ROWS, bom=st.booleans(), blanks=st.integers(0, 3))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_ingest_never_crashes_and_conserves(spark, tmp_path_factory, header, rows, bom, blanks):
    tmp = tmp_path_factory.mktemp("fuzz")
    lake = LakeLayout(str(tmp / "lake"))
    lines = [",".join(header)]
    for r in rows:
        lines.append(",".join(r))
    for _ in range(blanks):
        lines.insert(1, "")
    content = ("﻿" if bom else "") + "\n".join(lines) + "\n"
    path = str(tmp / "fuzz.csv")
    with open(path, "w") as f:
        f.write(content)

    result = ingest_file(spark, path, lake, archive=False, write_reject_csv=False)
    assert result.status in ("ok", "file_rejected")
    if result.status == "ok":
        c = result.counts
        assert c["data_rows"] == c["good_rows"] + c["reject_rows"] + c["duplicates_removed"], c
        if c["good_rows"] > 0:
            assert os.path.isdir(lake.processed)


def test_ingest_all_rows_rejected_counts_resolve(spark, tmp_path):
    """Regression (found by the fuzzer): when EVERY row is a structural
    reject, the deduped frame is empty at runtime and AQE empty-relation
    propagation prunes its Observation node — resolve_counts must fall
    back to explicit aggregation instead of surfacing the toPyRow
    assertion."""
    header = [
        "timestamp", "revenue", "store_id", "txn_id", "product_id",
        "unit_price", "payment_method", "transaction_id", "discount_code",
        "qty", "price", "WeIrD-HeAdEr",
    ]
    rows = [["S01", "ABC123", "ABC123", "ABC123"], ["ABC123"]]
    path = str(tmp_path / "allreject.csv")
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")
    lake = LakeLayout(str(tmp_path / "lake"))
    result = ingest_file(spark, path, lake, archive=False, write_reject_csv=False)
    assert result.status == "ok"
    c = result.counts
    assert c["data_rows"] == 2
    assert c["good_rows"] == 0
    assert c["structural_rejects"] == 2
    assert c["data_rows"] == c["good_rows"] + c["reject_rows"] + c["duplicates_removed"]


_HEADER = "transaction_id,store_id,timestamp,item_id,quantity,unit_price,revenue"


def _ingest_all_reject(spark, tmp_path, monkeypatch, rows):
    """Ingest a file whose every row is rejected and return its counts,
    asserting the counts came through the explicit-aggregation fallback
    (the pruned-Observation error was seen and recognised)."""
    from retail_aws_etl_pipeline_spark.operators import validate

    seen = []
    real = validate._is_pruned_observation

    def spy(err):
        seen.append(real(err))
        return seen[-1]

    monkeypatch.setattr(validate, "_is_pruned_observation", spy)
    path = str(tmp_path / "allreject.csv")
    with open(path, "w") as f:
        f.write("\n".join([_HEADER, *rows]) + "\n")
    lake = LakeLayout(str(tmp_path / "lake"))
    result = ingest_file(spark, path, lake, archive=False, write_reject_csv=False)
    assert result.status == "ok"
    assert seen and all(seen), seen
    return result.counts


def test_all_invalid_timestamps_count_through_the_fallback(spark, tmp_path, monkeypatch):
    rows = [f"T{i},S01,not a date,ITEM{i},2,$3.00,$6.00" for i in range(5)]
    c = _ingest_all_reject(spark, tmp_path, monkeypatch, rows)
    assert c["timestamp_rejects"] == 5
    assert c["good_rows"] == 0


def test_all_negative_quantities_count_through_the_fallback(spark, tmp_path, monkeypatch):
    rows = [f"T{i},S01,2024-10-16 14:30:25,ITEM{i},-2,$3.00,$6.00" for i in range(5)]
    c = _ingest_all_reject(spark, tmp_path, monkeypatch, rows)
    assert c["business_rejects"] == 5
    assert c["good_rows"] == 0


def test_other_observation_errors_propagate(spark):
    """Only the pruned-Observation error falls back; anything else (here a
    plain RuntimeError from the metrics read) surfaces to the caller."""
    import pytest
    from pyspark.sql import functions as F

    from retail_aws_etl_pipeline_spark.operators.validate import observed_or_aggregated

    class BrokenObservation:
        @property
        def get(self):
            raise RuntimeError("metrics unavailable")

    with pytest.raises(RuntimeError, match="metrics unavailable"):
        observed_or_aggregated(BrokenObservation(), spark.range(3), [F.count(F.lit(1))])
