"""Twin-equivalence pin for the duplicated-span report.

duplicated_span_report ↔ doc_fingerprints — the span report is the
strictly stronger exact-dup signal: any fp_exact collision is a
full-length duplicated span.
"""

from __future__ import annotations

from retail_aws_etl_pipeline_spark.operators import dedup as D
from retail_aws_etl_pipeline_spark.operators import textops as TX


def test_span_report_supersedes_exact_fingerprints(spark):
    """Any fp_exact collision (doc_fingerprints' exact-dup signal) is a
    FULL-LENGTH duplicated span in duplicated_span_report — the span
    report is the strictly stronger member of the dedup exactness
    ladder, so swapping the fingerprint query out loses no detection."""
    n = 32
    dup = " ".join(f"a{i}" for i in range(n))
    uniq = " ".join(f"b{i}" for i in range(n))
    docs = spark.createDataFrame(
        [(0, dup), (1, dup), (2, uniq)], "doc_id long, text string"
    )
    fps = {r.doc_id: r.fp_exact for r in TX.fingerprints(docs).collect()}
    assert fps[0] == fps[1] != fps[2]
    spans = {r.doc_id: r for r in D.duplicated_span_stats(docs).collect()}
    for d in (0, 1):  # the exact pair: one maximal span covering everything
        assert spans[d].n_dup_spans == 1, spans[d]
        assert spans[d].dup_tokens == n
        assert spans[d].longest_span_tokens == n
    assert spans[2].n_dup_spans == 0 and spans[2].dup_tokens == 0
