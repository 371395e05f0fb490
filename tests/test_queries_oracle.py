"""Oracle-differential tests: every registry query with an oracle must
hash-match DuckDB at sf0.01 — the same gate the driver applies."""

from __future__ import annotations

import pytest

from retail_aws_etl_pipeline_spark.plans import all_specs
from tests.conftest import SF_ORACLE
from tests.oracle import compare


ALL = all_specs()

ORACLE_QUERIES = sorted(n for n, s in ALL.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in ALL.items() if s.oracle is None)


def test_suite_session_is_ansi_mode(spark):
    """The oracle suite IS the standing ANSI gate (VERDICT r12 item 6):
    Spark 4 defaults spark.sql.ansi.enabled=true, get_spark never
    overrides it, and three of the five r12 adversarial finds were
    ANSI-mode crashes (try_cast-vs-cast, int32-multiply overflow). Every
    oracle compare below therefore already runs under ANSI semantics —
    this pin makes sure nobody quietly turns it off and un-gates that
    whole bug class."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, name):
    spec = ALL[name]
    df = spec.spark_fn(spark, SF_ORACLE)
    result = compare(df, spec.oracle, SF_ORACLE)
    assert result["ok"], f"{name}: {result}"


def test_no_rows_only_queries_remain():
    """EVERY registered entry carries a DuckDB oracle — the weaker
    rows-only driver check is extinct. If this ever fails, an oracle-less
    entry slipped into the registry: give it an oracle before
    registering it."""
    assert ROWS_ONLY_QUERIES == []


#: Query functions built ahead of registration. Each is proven against its
#: module-level oracle by its own test file (tests/test_staged_r17_seeds.py,
#: tests/test_staged_r18_seeds.py, tests/test_staged_r19.py).
STAGED = {
    "extensions.char_entropy_report",
    "extensions.countmin_topk_report",
    "extensions.hash_sample_quantile_report",
    "extensions.k_anonymity_report",
    "extensions.ngram_novelty_report",
    "extensions.source_priority_dedup_report",
    "extensions.streamed_bloom_filter_report",
    "extensions.streamed_bottomk_quantile_report",
    "extensions.streamed_cms_topk_report",
    "extensions.tiff_dims_probe",
    "extensions.token_drift_psi_report",
    "extensions.topk_churn_report",
    "extensions.unimax_allocation_report",
}


def test_every_query_function_is_registered():
    """Every public module-level ``(spark, sf_dir)`` function in the plans
    modules is the ``spark_fn`` of a registered spec or a named STAGED
    function, so every other query function in the package is one the
    driver, bench.py or perfbench can run. Unregistered query code fails
    here instead of accumulating."""
    import importlib
    import inspect

    registered = {id(s.spark_fn) for s in ALL.values()}
    staged = []
    strays = []
    for mod_name in ("analytics", "extensions", "queries"):
        mod = importlib.import_module(f"retail_aws_etl_pipeline_spark.plans.{mod_name}")
        for name, fn in vars(mod).items():
            if (
                not name.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
                and list(inspect.signature(fn).parameters) == ["spark", "sf_dir"]
                and id(fn) not in registered
            ):
                qual = f"{mod_name}.{name}"
                (staged if qual in STAGED else strays).append(qual)
    assert strays == [], f"query functions outside all_specs(): {strays}"
    # a staged function that is registered or deleted leaves the list
    assert sorted(staged) == sorted(STAGED)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # contract: every oracle key exists in queries()
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    # driver hard-checks at most ~50 entries, in order: stay inside the window
    assert len(q) <= 50, f"driver window exceeded: {len(q)} queries"
