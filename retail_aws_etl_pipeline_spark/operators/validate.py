"""Row-level data-quality routing: structural → timestamp → business splits.

Re-expresses the reference's three-way split
(glue_job_raw_to_processed.py:223-351) as one labeled lineage: a single
cached DataFrame carries a ``reject_reason`` column (NULL = good), so all
class counts come from ONE aggregation pass instead of the reference's five
separate ``count()`` recomputations of the full parse lineage (SURVEY.md §4
flags that as its main perf hazard).

Split semantics kept identical to the reference:
1. structural: any required column NULL after positional projection
   (token shortfall or header-missing column) → MISSING_REQUIRED_COLUMN;
2. timestamp: regex-gated cascade yields NULL → INVALID_TIMESTAMP_FORMAT;
3. numeric cleaning (currency/quantity), metadata, exact-duplicate drop;
4. business: |revenue − quantity×unit_price| > 0.01 → BUSINESS_LOGIC_FAIL.

One DOCUMENTED DEVIATION (SURVEY.md §7.4.3): in the reference, a row whose
required numeric cleans to NULL (``N/A``, empty string) makes the DQ
predicate evaluate to SQL NULL and the row silently vanishes from BOTH the
good and reject streams. Here NULL cleaned numerics are an explicit
BUSINESS_LOGIC_FAIL, so every input row is accounted for:
``data_rows == good + rejects + duplicates_removed`` (tested invariant).

Reject parity quirks preserved: business rejects carry their CLEANED
numeric values and a NULLed ``raw_row`` (glue_job_raw_to_processed.py:342);
structural/timestamp rejects carry raw strings and keep ``raw_row``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.functions.numeric import clean_currency, clean_quantity
from retail_aws_etl_pipeline_spark.functions.timestamps import REFERENCE_PATTERNS, parse_timestamp
from retail_aws_etl_pipeline_spark.schema import (
    REJECT_COLUMNS,
    REJECT_REASON_BUSINESS,
    REJECT_REASON_STRUCTURAL,
    REJECT_REASON_TIMESTAMP,
    REQUIRED_COLUMNS,
    REVENUE_TOLERANCE,
)


@dataclass
class QualitySplit:
    """Outcome of the quality routing over one extracted frame.

    ``counts`` starts empty: the class counts ride piggyback on the first
    action over ``good``/``rejects`` via ``Observation`` nodes embedded in
    the plan (zero extra jobs — the reference recomputed the lineage 5×).
    Call :meth:`resolve_counts` AFTER that first action to materialize the
    dict; calling it before any action blocks until one completes.
    """

    good: DataFrame  # silver-shaped rows (pre-write)
    rejects: DataFrame  # fixed 13-column reject frame, all three classes
    counts: dict = field(default_factory=dict)  # resolved class counts
    _resolve: Callable[[], dict] | None = None

    def resolve_counts(self) -> dict:
        if not self.counts and self._resolve is not None:
            self.counts = self._resolve()
        return self.counts


def _required_null_cond():
    cond = F.lit(False)
    for c in REQUIRED_COLUMNS:
        name = "timestamp_raw" if c == "timestamp" else c
        cond = cond | F.col(name).isNull()
    return cond


def _is_pruned_observation(err: Py4JJavaError) -> bool:
    """True for the error ``Observation.get`` raises when AQE pruned the
    observed node: a Java ``AssertionError`` thrown in
    ``PythonSQLUtils.toPyRow`` while converting the schemaless row."""
    jerr = err.java_exception
    if jerr.getClass().getName() != "java.lang.AssertionError":
        return False
    return any(
        f.getClassName().endswith("PythonSQLUtils") and f.getMethodName() == "toPyRow"
        for f in jerr.getStackTrace()
    )


def observed_or_aggregated(obs: Observation, frame: DataFrame, exprs) -> dict:
    """Observation metrics, or an explicit aggregation fallback.

    When a frame is empty AT RUNTIME (e.g. every row rejected), AQE's
    empty-relation propagation can prune the Observation node below the
    empty shuffle — ``obs.get`` then fails converting a schemaless row
    (the ``toPyRow`` assertion). The explicit aggregation yields the
    identical dict by re-running the (empty-input) lineage — the
    degenerate all-reject case only, where the file is one cheap extra
    scan. Every other error propagates.
    """
    try:
        return obs.get
    except Py4JJavaError as err:
        if not _is_pruned_observation(err):
            raise
    return frame.agg(*exprs).first().asDict()


def align_reject_schema(df: DataFrame) -> DataFrame:
    """Pad any missing reject column with NULL and fix the column order
    (glue_job_raw_to_processed.py:316-337) — prevents the reference's
    NUM_COLUMNS_MISMATCH union failure (docs/troubleshooting.md:6)."""
    out = df
    for col_name in REJECT_COLUMNS:
        if col_name not in df.columns:
            out = out.withColumn(col_name, F.lit(None).cast("string"))
    return out.select(
        *[F.col(c).cast("string").alias(c) if c != "timestamp_parsed" else F.col(c) for c in REJECT_COLUMNS]
    )


def split_quality(
    extracted: DataFrame,
    ingest_run_id: str,
    source_file: str,
    timestamp_patterns: list[tuple[str, str]] | None = None,
    ingest_ts=None,
    obs_prefix: str = "",
) -> QualitySplit:
    """Route one extracted frame into silver-good rows + tagged rejects.

    ``ingest_ts`` is an injectable Column (default ``current_timestamp()``)
    so tests and oracle comparisons can pin a deterministic clock
    (SURVEY.md §7.4.4). ``obs_prefix`` namespaces the Observation nodes —
    required when several splits union into one plan (batched ingest):
    observation names must be unique within a query execution.
    """
    patterns = timestamp_patterns if timestamp_patterns is not None else REFERENCE_PATTERNS
    ingest_ts_col = ingest_ts if ingest_ts is not None else F.current_timestamp()

    # -- structural ---------------------------------------------------------
    struct_cond = _required_null_cond()
    parsed = extracted.withColumn(
        "timestamp_parsed",
        F.when(~struct_cond, parse_timestamp("timestamp_raw", patterns)),
    )

    # Total/structural/timestamp class counts ride the first action as an
    # Observation (inside the cached plan, so they are computed exactly once
    # — at cache population) instead of a dedicated aggregation job.
    parse_exprs = [
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(struct_cond, 1).otherwise(0)).alias("structural"),
        F.sum(
            F.when(~struct_cond & F.col("timestamp_parsed").isNull(), 1).otherwise(0)
        ).alias("invalid_timestamp"),
    ]
    obs_parse = Observation(f"{obs_prefix}parse_counts")
    parsed = parsed.observe(obs_parse, *parse_exprs)

    # The parse lineage is deliberately NOT cached: its only consumers
    # besides the good path are the early-reject branches and the count
    # fallback, and the common case (a clean production file) never
    # executes either — caching the widest frame in the pipeline (every
    # raw column + raw_row + timestamp_parsed) cost a full serialization
    # pass on every ingest to serve branches that usually read nothing
    # (measured ~10% of bench ingest wall). A dirty file re-parses ONCE
    # at reject-write time: the structural and timestamp branches are
    # fused into a single filter pass below, so the reject union is one
    # scan, not two.
    early_rejects = parsed.filter(
        struct_cond | F.col("timestamp_parsed").isNull()
    ).withColumn(
        "reject_reason",
        F.when(struct_cond, F.lit(REJECT_REASON_STRUCTURAL)).otherwise(
            F.lit(REJECT_REASON_TIMESTAMP)
        ),
    )

    survivors = parsed.filter(~struct_cond & F.col("timestamp_parsed").isNotNull())

    # -- numeric cleaning + metadata (glue_job_raw_to_processed.py:279-298) --
    cleaned = (
        survivors.withColumn("unit_price", clean_currency("unit_price"))
        .withColumn("revenue", clean_currency("revenue"))
        .withColumn("quantity", clean_quantity("quantity"))
        .withColumn("timestamp", F.col("timestamp_parsed"))
        .withColumn("ingest_run_id", F.lit(ingest_run_id))
        .withColumn("source_file", F.lit(source_file))
        .withColumn("ingest_ts", ingest_ts_col)
        .withColumn("date", F.to_date(F.col("timestamp")))
    )

    # -- business DQ (glue_job_raw_to_processed.py:304-310 + null-numeric
    # deviation documented above) -------------------------------------------
    dq_cond = (
        F.col("timestamp").isNull()
        | F.col("quantity").isNull()
        | F.col("unit_price").isNull()
        | F.col("revenue").isNull()
        | (
            F.abs(F.col("revenue") - (F.col("quantity") * F.col("unit_price")))
            > REVENUE_TOLERANCE
        )
    )

    # Uncached for the same reason as the parse lineage: the only consumer
    # beyond the caller's silver write is the business-reject branch,
    # which a clean file never executes. A dirty file re-runs the
    # dropDuplicates shuffle once at reject-write time; the clean-path
    # saving (no serialization pass over the full deduped frame on every
    # ingest) wins on the common case. Identical rows make the re-run
    # deterministic — any kept duplicate is byte-equal.
    dedup_exprs = [
        F.count(F.lit(1)).alias("after_dedup"),
        F.sum(F.when(dq_cond, 1).otherwise(0)).alias("business"),
    ]
    obs_dedup = Observation(f"{obs_prefix}dedup_counts")
    deduped = cleaned.dropDuplicates().observe(obs_dedup, *dedup_exprs)

    dq_rejects = (
        deduped.filter(dq_cond)
        .withColumn("raw_row", F.lit(None).cast("string"))
        .withColumn("reject_reason", F.lit(REJECT_REASON_BUSINESS))
    )
    good = deduped.filter(~dq_cond)

    rejects = align_reject_schema(early_rejects).unionByName(
        align_reject_schema(dq_rejects)
    )

    # -- zero-extra-pass class counts --------------------------------------
    # The Observation nodes above record all class totals during the first
    # action (normally the caller's silver write). ``resolve_counts`` just
    # reads them back and derives the report dict.
    def _resolve() -> dict:
        base = observed_or_aggregated(obs_parse, parsed, parse_exprs)
        after = observed_or_aggregated(obs_dedup, deduped, dedup_exprs)
        # SUM over an empty frame aggregates to NULL (a header-only file
        # passes the head gate but parses to zero data rows) — treat as 0.
        structural = base["structural"] or 0
        invalid_ts = base["invalid_timestamp"] or 0
        survivors_n = base["total"] - structural - invalid_ts
        counts = {
            "data_rows": base["total"],
            "structural_rejects": structural,
            "timestamp_rejects": invalid_ts,
            "duplicates_removed": survivors_n - after["after_dedup"],
            "business_rejects": after["business"] or 0,
            "good_rows": after["after_dedup"] - (after["business"] or 0),
        }
        counts["reject_rows"] = (
            counts["structural_rejects"]
            + counts["timestamp_rejects"]
            + counts["business_rejects"]
        )
        return counts

    return QualitySplit(good=good, rejects=rejects, _resolve=_resolve)
