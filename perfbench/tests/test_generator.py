"""The generator's ground truth against the engine on small instances."""

from __future__ import annotations

import os

import pytest

from perfbench import gen

pytestmark = pytest.mark.usefixtures("spark")


def ingest_and_compare(spark, root, paths, truth):
    from retail_aws_etl_pipeline_spark.ingest import ingest_file
    from retail_aws_etl_pipeline_spark.lake import LakeLayout
    from retail_aws_etl_pipeline_spark.operators.compact import compact_pending

    lake = LakeLayout(os.path.join(root, "lake"))
    for path, ft in zip(paths, truth.files):
        c = ingest_file(spark, path, lake, archive=False).counts
        assert (
            c["data_rows"], c["structural_rejects"], c["timestamp_rejects"],
            c["business_rejects"], c["duplicates_removed"], c["good_rows"],
        ) == (
            ft.data_rows, ft.structural, ft.timestamp, ft.business, ft.duplicates, ft.good,
        ), ft.name
    compact_pending(spark, lake, max_partitions=10_000)
    got = {
        (r["d"], r["transaction_id"]): (r["store_id"], r["item_id"], r["payment_method"], r["revenue"])
        for r in spark.read.parquet(lake.gold)
        .selectExpr("CAST(date AS STRING) AS d", "transaction_id", "store_id", "item_id",
                    "payment_method", "revenue")
        .collect()
    }
    want = {k: (s, i, p, float(v)) for k, (s, i, p, v) in truth.gold_after(len(paths)).items()}
    assert got == want


def test_every_header_variant_and_delimiter(spark, tmp_path):
    g = gen.RetailGenerator(5)
    first = gen.start_date(5)
    paths = []
    for k, variant in enumerate(gen.VARIANT_ORDER):
        path = str(tmp_path / f"f{k}.csv")
        g.write_file(
            path, [first], rows=200, dirt=gen.DAILY_DIRT, duplicate_share=0.01,
            correction_share=0.05, variant=variant,
            delimiter=gen.DELIMITERS[k % len(gen.DELIMITERS)],
        )
        paths.append(path)
    ingest_and_compare(spark, str(tmp_path), paths, g.truth)


def test_daily_truth_with_late_corrections(spark, tmp_path):
    paths, truth = gen.make_daily(3, str(tmp_path / "in"), days=2, rows=400)
    assert truth.files[1].corrections > 0
    ingest_and_compare(spark, str(tmp_path), paths, truth)


def test_backfill_truth_with_resent_rows(spark, tmp_path):
    paths, truth = gen.make_backfill(4, str(tmp_path / "in"), files=2, rows_per_file=600,
                                     dates_per_file=5)
    totals = truth.totals(2)
    assert totals["superseded_rows"] > 0
    ingest_and_compare(spark, str(tmp_path), paths, truth)


def test_generated_shares_match_the_workload_design(tmp_path):
    _, daily = gen.make_daily(1, str(tmp_path / "d"), days=4)
    s = daily.shares()
    assert 0.27 <= s["dirty_share"] <= 0.32
    assert 0.03 <= s["late_correction_share"] <= 0.05
    _, backfill = gen.make_backfill(1, str(tmp_path / "b"), files=2, rows_per_file=5000)
    s = backfill.shares()
    assert 0.025 <= s["dirty_share"] <= 0.035 and s["dates"] == 60


def test_same_seed_same_inputs(tmp_path):
    a, _ = gen.make_daily(9, str(tmp_path / "a"), days=2)
    b, _ = gen.make_daily(9, str(tmp_path / "b"), days=2)
    for pa, pb in zip(a, b):
        assert open(pa, "rb").read() == open(pb, "rb").read()
