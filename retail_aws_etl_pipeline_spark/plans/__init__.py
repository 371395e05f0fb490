from retail_aws_etl_pipeline_spark.plans.queries import (  # noqa: F401
    REGISTRY,
    WINDOW_SIZE,
    QuerySpec,
    all_specs,
    queries,
    oracle_sql,
)

# Importing these modules populates REGISTRY via their @register decorators.
from retail_aws_etl_pipeline_spark.plans import analytics  # noqa: E402,F401
from retail_aws_etl_pipeline_spark.plans import extensions  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Driver-window rotation, derived from the correctness archive.
#
# The driver hash-checks WINDOW_SIZE registry entries per round; every
# other registered query relies on its archived ``CORRECTNESS_r*.json`` row
# plus the local sf0.01 DuckDB oracle run (tests/test_queries_oracle.py
# parametrizes over all_specs()). The COVERAGE.md §rotation policy: no
# entry's newest hard driver row may be older than MAX_STALENESS_ROUNDS —
# with the registry capped at WINDOW_SIZE * MAX_STALENESS_ROUNDS entries
# that is exactly the full-swap cadence, so the SLO holds iff every round's
# window is the stalest tail.
#
# The window is DERIVED: the pool is sorted by (newest driver row, name)
# and the window is its stalest WINDOW_SIZE entries. Never-proven entries
# come first (a new registration's first row outranks any freshness
# refresh), then the oldest rows, and the order re-derives itself the
# moment the driver archives a new CORRECTNESS file.
#
# tests/test_window_slo.py enforces the SLO independently, and
# test_rotation_window.py pins this derivation against an independent
# recomputation.
# ---------------------------------------------------------------------------

import glob as _glob
import json as _json
import os as _os
import re as _re

#: Newest driver row may be at most this many rounds behind the upcoming
#: round (current window membership counts as the upcoming round's row).
MAX_STALENESS_ROUNDS = 3


def _repo_root() -> str:
    return _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    )


def newest_driver_rows(root: str | None = None) -> dict[str, int]:
    """name -> newest round with an archived CORRECTNESS row for it."""
    newest: dict[str, int] = {}
    pat = _os.path.join(root or _repo_root(), "CORRECTNESS_r*.json")
    for path in _glob.glob(pat):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = _json.load(f)
        except (OSError, ValueError):
            continue
        for name in rows:
            newest[name] = max(newest.get(name, 0), rnd)
    return newest


def _rotate_driver_window() -> None:
    newest = newest_driver_rows()
    pool = sorted(REGISTRY.items(), key=lambda kv: (newest.get(kv[0], 0), kv[0]))
    REGISTRY.clear()
    REGISTRY.update(pool)


_rotate_driver_window()
