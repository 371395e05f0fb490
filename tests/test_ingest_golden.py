"""Golden end-to-end: the 5 reference sample CSVs through ingest + compaction.

Counts were measured by running this engine on
/root/reference/sample_csv_files/ and sanity-checked against the
per-file distributions in FIXTURES.md §3-4 (e.g. sales_2024-10-16's 406
timestamp rejects = 67 ISO-T + 124 dd-MM-yy + 176 AM/PM + 36 empty + 3
impossible). They pin the reject-routing semantics (SURVEY.md §7.4.1).
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from retail_aws_etl_pipeline_spark.ingest import ingest_file
from retail_aws_etl_pipeline_spark.lake import LakeLayout, list_date_partitions
from retail_aws_etl_pipeline_spark.operators.compact import compact_pending, register_gold_view
from retail_aws_etl_pipeline_spark.schema import SILVER_SCHEMA

SAMPLES = "/root/reference/sample_csv_files"

#: file -> (data_rows, structural, timestamp, business, good)
GOLDEN = {
    "sales_2024-10-16.csv": (1241, 0, 406, 7, 828),
    "sales_2024-12-07.csv": (1500, 24, 437, 7, 1032),
    "sales_2025-06-12.csv": (1646, 33, 484, 10, 1119),
    "sales_2025-09-03.csv": (1459, 21, 462, 12, 964),
    "sales_2025-10-18.csv": (1699, 38, 539, 12, 1110),
}


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("lake_e2e")
    lake = LakeLayout(str(tmp / "lake"))
    results = {}
    for f in sorted(glob.glob(f"{SAMPLES}/*.csv")):
        dst = str(tmp / os.path.basename(f))
        shutil.copy(f, dst)
        results[os.path.basename(f)] = ingest_file(spark, dst, lake)
    return lake, results


def test_golden_counts(ingested):
    _, results = ingested
    assert set(results) == set(GOLDEN)
    for name, (total, structural, ts, dq, good) in GOLDEN.items():
        c = results[name].counts
        assert c["data_rows"] == total, (name, c)
        assert c["structural_rejects"] == structural, (name, c)
        assert c["timestamp_rejects"] == ts, (name, c)
        assert c["business_rejects"] == dq, (name, c)
        assert c["good_rows"] == good, (name, c)
        # conservation invariant: nothing silently lost (fixes reference bug)
        assert c["data_rows"] == c["good_rows"] + c["reject_rows"] + c["duplicates_removed"]


def test_silver_schema_and_rows(spark, ingested):
    lake, _ = ingested
    df = spark.read.parquet(lake.processed)
    assert df.count() == sum(g[4] for g in GOLDEN.values())
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in SILVER_SCHEMA.fields}
    assert got == want


def test_rejects_schema_and_classes(spark, ingested):
    lake, _ = ingested
    rej = spark.read.json(lake.rejected("data_quality/json"))
    by_reason = {r["reject_reason"]: r["count"] for r in rej.groupBy("reject_reason").count().collect()}
    assert by_reason["MISSING_REQUIRED_COLUMN"] == sum(g[1] for g in GOLDEN.values())
    assert by_reason["INVALID_TIMESTAMP_FORMAT"] == sum(g[2] for g in GOLDEN.values())
    assert by_reason["BUSINESS_LOGIC_FAIL"] == sum(g[3] for g in GOLDEN.values())
    # business rejects null their raw_row; structural/timestamp keep it
    assert rej.filter("reject_reason = 'BUSINESS_LOGIC_FAIL' AND raw_row IS NOT NULL").count() == 0
    assert rej.filter("reject_reason = 'INVALID_TIMESTAMP_FORMAT' AND raw_row IS NULL").count() == 0


def test_file_level_reject(spark, tmp_path):
    lake = LakeLayout(str(tmp_path / "lake"))
    bad = tmp_path / "no_required_cols.csv"
    bad.write_text("a,b,c\n1,2,3\n")
    r = ingest_file(spark, str(bad), lake)
    assert r.status == "file_rejected"
    assert any("missing_columns" in e for e in r.file_errors)
    empty = tmp_path / "empty.csv"
    empty.write_text("")
    r2 = ingest_file(spark, str(empty), lake)
    assert r2.status == "file_rejected"
    assert r2.file_errors == ["empty_file"]


def test_compaction_end_to_end(spark, ingested):
    lake, _ = ingested
    summary = compact_pending(spark, lake, max_partitions=10_000)
    assert summary["processed_partitions_count"] == len(list_date_partitions(lake.processed))
    gold = register_gold_view(spark, lake)
    assert "row_hash" in gold.columns
    assert "date" in gold.columns  # real partition col, not the reference's null quirk
    # silver good rows had no per-file dups; cross-file same-date rows keep
    # one row per (date, transaction_id)
    dup = gold.groupBy("date", "transaction_id").count().filter("count > 1").count()
    assert dup == 0
    total = sum(r["rows_after_dedup"] for r in summary["results"])
    assert gold.count() == total
    # idempotent: second run is a no-op (incremental diff empty)
    summary2 = compact_pending(spark, lake)
    assert summary2["processed_partitions_count"] == 0
    # forced recompaction overwrites only the forced partition
    d = summary["results"][0]["target_date"]
    summary3 = compact_pending(spark, lake, force_dates=[d])
    assert summary3["processed_partitions_count"] == 1
    assert spark.read.parquet(lake.gold).count() == total


def test_ingest_pending_ledger(spark, tmp_path):
    import json

    from retail_aws_etl_pipeline_spark.ingest import ingest_pending

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    lake = LakeLayout(str(tmp_path / "lake"))
    for f in sorted(glob.glob(f"{SAMPLES}/*.csv"))[:2]:
        shutil.copy(f, incoming / os.path.basename(f))

    r1 = ingest_pending(spark, str(incoming), lake, archive=False)
    assert len(r1) == 2 and all(r.status == "ok" for r in r1)
    # second run: nothing new
    assert ingest_pending(spark, str(incoming), lake, archive=False) == []
    # a new file arrives -> only it is processed
    src = sorted(glob.glob(f"{SAMPLES}/*.csv"))[2]
    shutil.copy(src, incoming / os.path.basename(src))
    r3 = ingest_pending(spark, str(incoming), lake, archive=False)
    assert [r.source_file for r in r3] == [os.path.basename(src)]
    ledger = [json.loads(l) for l in open(str(tmp_path / "lake" / "ingest_ledger.jsonl"))]
    assert len(ledger) == 3


def test_athena_analog_views(spark, ingested):
    from retail_aws_etl_pipeline_spark.plans import views as V

    lake, _ = ingested
    compact_pending(spark, lake, process_all=True, max_partitions=10_000)
    V.register_lake_views(spark, lake)
    daily = V.daily_revenue_gold(spark)
    assert daily.count() > 0
    assert daily.columns == ["date", "total_revenue"]
    # dates descend
    dates = [r["date"] for r in daily.collect()]
    assert dates == sorted(dates, reverse=True)
    top = V.top_items_gold(spark, 5)
    assert top.count() == 5
    revs = [r["revenue"] for r in top.collect()]
    assert revs == sorted(revs, reverse=True)
    assert V.sql(spark, "SELECT COUNT(*) AS n FROM fact_sales").collect()[0]["n"] > 0


def test_system_reject_on_failure(spark, tmp_path, monkeypatch):
    """Any mid-ingest failure quarantines the file to rejected/system (K7
    intent) and re-raises."""
    import retail_aws_etl_pipeline_spark.ingest as ing

    def boom(*a, **kw):
        raise RuntimeError("simulated executor failure")

    monkeypatch.setattr(ing, "split_quality", boom)
    lake = LakeLayout(str(tmp_path / "lake"))
    src = tmp_path / "sales_ok.csv"
    shutil.copy(f"{SAMPLES}/sales_2024-10-16.csv", src)
    with pytest.raises(RuntimeError, match="simulated"):
        ing.ingest_file(spark, str(src), lake)
    sysdir = lake.rejected("system")
    assert not src.exists()  # moved
    names = os.listdir(sysdir)
    assert any(n.endswith("_reason.json") for n in names)
    assert any(n.startswith("sales_ok.csv_") and not n.endswith(".json") for n in names)


def test_extended_cascade_recovers_rows(spark, tmp_path):
    """With the EXTENDED_PATTERNS registry the doc-promised + sample-observed
    formats (ISO-T, dd-MM-yy, AM/PM) parse, recovering most of the
    reference's timestamp rejects."""
    from retail_aws_etl_pipeline_spark.functions.timestamps import EXTENDED_PATTERNS

    lake = LakeLayout(str(tmp_path / "lake"))
    src = tmp_path / "f.csv"
    shutil.copy(f"{SAMPLES}/sales_2024-10-16.csv", src)
    r = ingest_file(
        spark, str(src), lake, timestamp_patterns=EXTENDED_PATTERNS, archive=False
    )
    base_good, base_ts_rejects = GOLDEN["sales_2024-10-16.csv"][4], GOLDEN["sales_2024-10-16.csv"][2]
    # 67 ISO-T + 124 dd-MM-yy + 176 AM/PM recovered; empty + impossible stay rejected
    assert r.counts["timestamp_rejects"] < base_ts_rejects - 300
    assert r.counts["good_rows"] > base_good + 300
    assert r.counts["data_rows"] == (
        r.counts["good_rows"] + r.counts["reject_rows"] + r.counts["duplicates_removed"]
    )


def test_ingest_batch_matches_per_file_semantics(spark, tmp_path):
    """A 5-file batch (one unioned plan, one silver write) produces the
    exact golden per-file counts, the same silver total, and the same
    reject-class totals as file-at-a-time ingest."""
    from pyspark.sql import functions as F

    from retail_aws_etl_pipeline_spark.ingest import ingest_batch

    lake = LakeLayout(str(tmp_path / "lake"))
    paths = []
    for f in sorted(glob.glob(f"{SAMPLES}/*.csv")):
        dst = str(tmp_path / os.path.basename(f))
        shutil.copy(f, dst)
        paths.append(dst)

    results = ingest_batch(spark, paths, lake, archive=False, write_reject_csv=False)
    assert [r.status for r in results] == ["ok"] * len(GOLDEN)
    for r in results:
        total, structural, ts, dq, good = GOLDEN[r.source_file]
        assert r.counts["data_rows"] == total
        assert r.counts["structural_rejects"] == structural
        assert r.counts["timestamp_rejects"] == ts
        assert r.counts["business_rejects"] == dq
        assert r.counts["good_rows"] == good

    silver = spark.read.parquet(lake.processed)
    assert silver.count() == sum(g[4] for g in GOLDEN.values())
    per_file = {
        r["source_file"]: r["n"]
        for r in silver.groupBy("source_file").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_file == {name: g[4] for name, g in GOLDEN.items()}

    rejects = spark.read.json(lake.rejected("data_quality/json"))
    by_reason = {r["reject_reason"]: r["count"] for r in rejects.groupBy("reject_reason").count().collect()}
    assert by_reason["MISSING_REQUIRED_COLUMN"] == sum(g[1] for g in GOLDEN.values())
    assert by_reason["INVALID_TIMESTAMP_FORMAT"] == sum(g[2] for g in GOLDEN.values())
    assert by_reason["BUSINESS_LOGIC_FAIL"] == sum(g[3] for g in GOLDEN.values())


def test_ingest_pending_batched_ledger(spark, tmp_path):
    import json

    from retail_aws_etl_pipeline_spark.ingest import ingest_pending

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    for f in sorted(glob.glob(f"{SAMPLES}/*.csv"))[:3]:
        shutil.copy(f, incoming / os.path.basename(f))
    lake = LakeLayout(str(tmp_path / "lake"))

    r1 = ingest_pending(
        spark, str(incoming), lake, batch_size=2, archive=False, write_reject_csv=False
    )
    assert len(r1) == 3 and all(r.status == "ok" for r in r1)
    with open(os.path.join(lake.root, "ingest_ledger.jsonl")) as f:
        assert len(f.readlines()) == 3

    # nothing pending -> no-op, ledger unchanged
    r2 = ingest_pending(
        spark, str(incoming), lake, batch_size=2, archive=False, write_reject_csv=False
    )
    assert r2 == []
