"""The two workloads: inputs, the closed measuring loop, and the checks.

Every workload is one client in a closed loop: the next operation starts
when the previous one returns. Inputs are generated from the seed before
the session starts; the program only sees the generated files.
"""

from __future__ import annotations

import os
import random
import time
from datetime import date, timedelta

from perfbench import gen, lakecheck
from perfbench.harness import log
from perfbench.stats import median, percentile, rate, ratio

DAILY_DAYS = 12  # one history day + up to 11 measured days
DAILY_MIN_DAYS = 4
BACKFILL_FILES = 2
BACKFILL_ROWS_PER_FILE = 4000
QUERY_ROUNDS = 8
CORPUS_MIN_PASSES = 2  # timed, after the priming pass
CORPUS = {"docs": 900, "vectors": 400, "lineitems": 900, "events": 900}
CORPUS_TABLES = ["documents", "embeddings", "lineitem", "events"]
#: The first two read the per-document gram layout, the other three do not.
#: curation_funnel_report, minhash_estimate_error (gram-layout readers) and
#: exif_orientation_probe are left out: together they cost ~24 s a pass on
#: a 4-core host, more than one run can afford.
CURATION_SPECS = [
    "doc_containment_pairs_prefix",
    "gopher_repetition_report",
    "bitext_margin_pairs_ivf",
    "bm25_multi_query_topk",
    "hll_distinct_report",
]


class Measured:
    """What a workload run hands back: samples and per-layer readings."""

    def __init__(self):
        self.cycles: list[float] = []
        self.rates: list[float] = []
        self.queries: list[float] = []  # ms
        self.per_query: dict[str, list[float]] = {}
        self.layers: dict[str, float] = {}
        self.daily_files = 0

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    def end_to_end(self) -> dict[str, float]:
        return {
            "cycle_p50_s": median(self.cycles),
            "rows_per_s": median(self.rates),
            "query_p50_ms": median(self.queries),
            # the highest percentile with ten samples beyond it at 40 queries
            "query_p75_ms": percentile(self.queries, 75),
        }


# -- shared pieces -------------------------------------------------------------


def run_queries(h, out: Measured | None, queries: list) -> None:
    """One analyst round over the registered gold view, each query checked;
    latencies go to ``out`` unless it is None."""
    from retail_aws_etl_pipeline_spark.plans import views

    canned = {"daily_revenue": views.daily_revenue_gold, "top_items": views.top_items_gold}
    for name, sql, want in queries:
        with h.tracer.span(name, "views"):
            t0 = time.perf_counter()
            ok, rows = h.op(name, lambda: [
                tuple(r) for r in (canned[name](h.spark) if sql is None else views.sql(h.spark, sql)).collect()
            ])
            dt = time.perf_counter() - t0
        if out is not None:
            out.queries.append(dt * 1000.0)
            out.per_query.setdefault(name, []).append(dt)
        if ok and not lakecheck.same_rows(rows, want):
            h.fail(name, [f"got {rows[:3]}... want {want[:3]}..."])


def record_ingest(out: Measured, results) -> None:
    for r in results or []:
        out.add("ingest.files", 1)
        out.add("ingest.rows_in", r.counts.get("data_rows", 0))
        out.add("ingest.rows_good", r.counts.get("good_rows", 0))
        out.add("ingest.rows_rejected", r.counts.get("reject_rows", 0))


def record_compaction(out: Measured, gold_before: dict, gold_after: dict, new_rows: int) -> None:
    """Rows a compaction read and wrote, from gold snapshots around it."""
    touched = [p for p, v in gold_after.items() if gold_before.get(p, (None,))[0] != v[0]]
    rewritten = [p for p in touched if p in gold_before]
    reread = sum(gold_before[p][1] for p in rewritten)
    rows_in = reread + new_rows
    rows_out = sum(gold_after[p][1] for p in touched)
    out.add("compact.rows_in", rows_in)
    out.add("compact.rows_out", rows_out)
    out.add("compact.duplicates_dropped", rows_in - rows_out)
    out.add("compact.partitions_rewritten", len(rewritten))
    out.add("compact.reread_rows", reread)
    out.add("compact.new_rows", new_rows)


def finish_lakes(out: Measured, lakes: list, raw_bytes: int) -> None:
    """Sizes of what the lakes keep on disk, against the raw bytes landed."""
    out.layers["lake.bytes_per_raw_byte"] = sum(
        sum(lakecheck.zone_bytes(lake).values()) for lake in lakes
    ) / raw_bytes
    for lake in lakes:
        gold_files = lakecheck.live_parquet_files(lake.gold)
        out.add("compact.gold_files", len(gold_files))
        out.add("compact.gold_bytes", sum(os.path.getsize(p) for p in gold_files))
        out.add("ingest.silver_files", len(lakecheck.live_parquet_files(lake.processed)))
        out.add("ingest.reject_files", lakecheck.file_count(lake.rejected("data_quality"), ".json")
                + lakecheck.file_count(lake.rejected("data_quality"), ".csv"))
    out.layers["compact.rewrite_rows_per_new_row"] = ratio(
        out.layers.get("compact.reread_rows", 0), out.layers.get("compact.new_rows", 0)
    )


def land(src: str, incoming: str) -> None:
    os.makedirs(incoming, exist_ok=True)
    os.replace(src, os.path.join(incoming, os.path.basename(src)))


# -- retail ---------------------------------------------------------------------


def generate_retail(seed: int, work: str):
    daily = gen.make_daily(seed, os.path.join(work, "staged_daily"), days=DAILY_DAYS)
    backfill = gen.make_backfill(
        seed * 2 + 1, os.path.join(work, "staged_backfill"), files=BACKFILL_FILES,
        rows_per_file=BACKFILL_ROWS_PER_FILE,
    )
    return daily, backfill


def run_retail(h, inputs, work: str, seconds: float) -> Measured:
    """The daily phase, then the backfill phase, on two lakes."""
    daily, backfill = inputs
    out = Measured()
    daily_lake = daily_phase(h, out, daily, os.path.join(work, "daily"), seconds)
    backfill_lake = backfill_phase(h, out, backfill, os.path.join(work, "backfill"))
    raw = daily[1].totals(out.daily_files)["raw_bytes"] + backfill[1].totals(BACKFILL_FILES)["raw_bytes"]
    finish_lakes(out, [daily_lake, backfill_lake], raw)
    return out


def daily_phase(h, out: Measured, inputs, work: str, seconds: float):
    """Each day: land the file, drain raw -> silver -> gold through the
    streaming pipeline, register the views, answer the analyst set on the
    updated gold. A day is one cycle; the first day is untimed history so
    that every measured day rewrites existing gold partitions."""
    from retail_aws_etl_pipeline_spark.lake import LakeLayout
    from retail_aws_etl_pipeline_spark.plans import views
    from retail_aws_etl_pipeline_spark.streaming import streams

    paths, truth = inputs
    lake = LakeLayout(os.path.join(work, "lake"))
    incoming = os.path.join(work, "incoming")
    checkpoint = os.path.join(work, "checkpoint")
    pick = random.Random(truth.files[0].data_rows)

    def day(i: int, timed: bool) -> None:
        silver_before = lakecheck.partitions(lake.processed)
        gold_before = lakecheck.partitions(lake.gold)
        gold = truth.gold_after(i + 1)
        today = os.path.basename(paths[i])[len("sales_"):][:10]
        week = ((date.fromisoformat(today) - timedelta(days=6)).isoformat(), today)
        keys = sorted(truth.file_rows[i])
        queries = lakecheck.analyst_queries(gold, week, today, keys[pick.randrange(len(keys))][1])
        h.tracer.run_id = f"day{i}"
        with h.tracer.span("day", "cycle"):
            t0 = time.perf_counter()
            land(paths[i], incoming)
            ok, results = h.op("drain", streams.run_pipeline_available_now,
                               h.spark, incoming, lake, checkpoint)
            t_loaded = time.perf_counter()
            if ok and h.op("register", views.register_lake_views, h.spark, lake)[0]:
                run_queries(h, None, queries)
            t1 = time.perf_counter()
        silver_after = lakecheck.partitions(lake.processed)
        gold_after = lakecheck.partitions(lake.gold)
        errors = lakecheck.check_lake(lake, silver_after, gold_after, truth.totals(i + 1), gold)
        if errors:
            h.fail(f"day {i}", errors)
        if not timed:
            return
        out.cycles.append(t1 - t0)
        log(f"day {i}: {t1 - t0:.2f} s, drain {t_loaded - t0:.2f} s")
        record_ingest(out, results)
        new_rows = sum(lakecheck.row_counts(silver_after).values()) - sum(
            lakecheck.row_counts(silver_before).values()
        )
        record_compaction(out, gold_before, gold_after, new_rows)

    day(0, timed=False)
    log("history day done")
    deadline = time.perf_counter() + seconds
    i = 1
    while i < len(paths) and (i <= DAILY_MIN_DAYS or time.perf_counter() < deadline):
        day(i, timed=True)
        i += 1
    out.daily_files = i
    return lake


def backfill_phase(h, out: Measured, inputs, work: str):
    """Land every export, ingest through the manifest commit path and compact
    (timed as one: rows_per_s), then answer the analyst set over the larger
    gold: one priming round, then QUERY_ROUNDS timed rounds."""
    from retail_aws_etl_pipeline_spark import ingest
    from retail_aws_etl_pipeline_spark.lake import LakeLayout
    from retail_aws_etl_pipeline_spark.operators import compact
    from retail_aws_etl_pipeline_spark.plans import views

    paths, truth = inputs
    lake = LakeLayout(os.path.join(work, "lake"))
    incoming = os.path.join(work, "incoming")
    n = len(paths)
    gold = truth.gold_after(n)
    dates = sorted({d for d, _ in gold})
    pick = random.Random(len(gold))
    w0 = pick.randrange(len(dates) - 7)
    week = (dates[w0], dates[w0 + 6])
    keys = sorted(gold)

    h.tracer.run_id = "backfill"
    with h.tracer.span("backfill", "cycle"):
        t0 = time.perf_counter()
        for p in paths:
            land(p, incoming)
        ok_i, results = h.op("ingest", ingest.ingest_pending, h.spark, incoming, lake,
                             commit_protocol="manifest")
        t_ingested = time.perf_counter()
        ok_c, summary = h.op("compaction", compact.compact_pending, h.spark, lake,
                             commit_protocol="manifest", max_partitions=len(dates) + 1)
        t_commit = time.perf_counter()
    out.rates.append(rate(truth.totals(n)["raw_rows"], t_commit - t0))
    log(f"backfill: ingest {t_ingested - t0:.2f} s, compaction {t_commit - t_ingested:.2f} s")
    silver_parts = lakecheck.partitions(lake.processed)
    gold_parts = lakecheck.partitions(lake.gold)
    errors = lakecheck.check_lake(lake, silver_parts, gold_parts, truth.totals(n), gold)
    if ok_c and summary["processed_partitions_count"] != len(dates):
        errors.append(f"compacted {summary['processed_partitions_count']} of {len(dates)} dates")
    if errors:
        h.fail("backfill", errors)
    record_ingest(out, results)
    record_compaction(out, {}, gold_parts, sum(lakecheck.row_counts(silver_parts).values()))
    out.layers["lake_manifest.files_published"] = sum(
        len(files) for files, _n in list(silver_parts.values()) + list(gold_parts.values())
    )
    log("backfill checked")
    if not (ok_i and ok_c):
        return lake
    for r in range(1 + QUERY_ROUNDS):
        h.tracer.run_id = f"round{r}"
        queries = lakecheck.analyst_queries(gold, week, dates[-1], keys[pick.randrange(len(keys))][1])
        with h.tracer.span("round", "cycle"):
            if r == 0 and not h.op("register", views.register_lake_views, h.spark, lake)[0]:
                return lake
            run_queries(h, out if r else None, queries)
    return lake


# -- corpus_curation -----------------------------------------------------------


def generate_corpus(seed: int, work: str):
    data = os.path.join(work, "corpus")
    gen.make_corpus(seed, data, **CORPUS)
    return data


def run_corpus(h, data: str, work: str, seconds: float) -> Measured:
    """Passes over the curation specs, each result collected; a pass is one
    cycle. The first pass is untimed priming (Python workers, codegen);
    timed passes follow until ``seconds`` have been measured. The cache is
    cleared after every call, so each call computes from its inputs. Each
    spec's last result is checked against its DuckDB oracle."""
    from retail_aws_etl_pipeline_spark.plans import all_specs

    specs = all_specs()
    out = Measured()
    last: dict[str, tuple] = {}
    passes = 0
    deadline = None
    while passes < 1 + CORPUS_MIN_PASSES or time.perf_counter() < deadline:
        h.tracer.run_id = f"pass{passes}"
        with h.tracer.span("pass", "cycle"):
            walls = []
            for name in CURATION_SPECS:
                with h.tracer.span(name, f"extensions.{name}"):
                    t0 = time.perf_counter()
                    ok, res = h.op(name, lambda: _collect(specs[name].spark_fn(h.spark, data)))
                    walls.append(time.perf_counter() - t0)
                # what a spec leaves persisted is counted (caching layer), then
                # dropped so that no later call reads it
                h.spark.catalog.clearCache()
                if ok:
                    last[name] = res
        log(f"pass {passes}: " + " ".join(f"{w:.2f}" for w in walls))
        if passes:
            out.cycles.append(sum(walls))
            out.rates.append(rate(CORPUS["docs"], sum(walls)))
            out.queries.extend(w * 1000.0 for w in walls)
            for name, w in zip(CURATION_SPECS, walls):
                out.add(f"extensions.{name}.s", w)
        else:
            deadline = time.perf_counter() + seconds
        passes += 1
    for name, (cols, rows) in last.items():
        oracle = lakecheck.oracle_rows(oracle_sql(name, specs, data), data, CORPUS_TABLES)
        err = lakecheck.matches_oracle(cols, rows, oracle)
        if err:
            h.fail(name, [err])
    for name in CURATION_SPECS:
        out.layers[f"extensions.{name}.s"] /= passes - 1
    return out


def oracle_sql(name: str, specs: dict, data: str) -> str:
    """The spec's DuckDB oracle for ``data``. The IVF spec's registered
    oracle embeds centroid literals fitted to the sf0.01 test tables, so
    it is rebuilt for the generated corpus by the same function."""
    if name == "bitext_margin_pairs_ivf":
        from retail_aws_etl_pipeline_spark.plans import extensions

        return extensions._bitext_ivf_oracle(data)
    return specs[name].oracle


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


WORKLOADS = {
    "retail": (generate_retail, run_retail),
    "corpus_curation": (generate_corpus, run_corpus),
}
