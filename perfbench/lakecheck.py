"""Lake state read from disk, and the analyst answers computed from truth.

Row counts come from parquet footers of the live files (for a manifested
zone, the files its current snapshot names), so the checks measure the
lake from outside without launching Spark jobs.
"""

from __future__ import annotations

import math
import os
from collections import defaultdict
from decimal import Decimal

import pyarrow.parquet as pq


def live_parquet_files(root: str) -> list[str]:
    from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable

    table = ManifestedTable(root, partition_col="date")
    if table.exists():
        return sorted(os.path.join(root, f["path"]) for f in table.snapshot()["files"])
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out.extend(
            os.path.join(dirpath, n)
            for n in files
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
    return sorted(out)


def partition_of(path: str) -> str | None:
    for piece in path.split(os.sep):
        if piece.startswith("date="):
            return piece[5:]
    return None


def partitions(root: str) -> dict[str, tuple[frozenset, int]]:
    """Live files and footer row count of each date partition of a zone."""
    files: dict[str, set] = defaultdict(set)
    rows: dict[str, int] = defaultdict(int)
    for p in live_parquet_files(root):
        part = partition_of(p)
        files[part].add(p)
        rows[part] += pq.ParquetFile(p).metadata.num_rows
    return {part: (frozenset(files[part]), rows[part]) for part in files}


def row_counts(parts: dict) -> dict[str, int]:
    return {p: n for p, (_files, n) in parts.items()}


def reject_rows(lake) -> int:
    """JSON-lines reject rows on disk (one line per rejected row)."""
    root = lake.rejected("data_quality/json")
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.startswith("part-") and name.endswith(".json"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    n += sum(1 for line in f if line.strip())
    return n


def zone_bytes(lake) -> dict[str, int]:
    """Bytes on disk of the zones a lake keeps: silver, gold, rejects, audit."""
    zones = {
        "silver": lake.processed,
        "gold": lake.gold,
        "rejects": os.path.join(lake.root, "rejected"),
        "audit": os.path.join(lake.root, "audit"),
    }
    out = {}
    for zone, root in zones.items():
        total = 0
        for dirpath, _dirs, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in files)
        out[zone] = total
    return out


def file_count(root: str, suffix: str) -> int:
    return sum(
        1
        for _dp, _d, files in os.walk(root)
        for n in files
        if n.endswith(suffix) and not n.startswith((".", "_"))
    )


def check_lake(lake, silver_parts: dict, gold_parts: dict, totals: dict, gold_truth: dict) -> list[str]:
    """Row conservation and gold rows against the generator's truth.

    raw = silver + rejects + within-file duplicates, and
    silver - superseded rows = gold, each side measured on disk
    (``*_parts``: :func:`partitions` of the zone).
    """
    silver = sum(row_counts(silver_parts).values())
    gold_parts = row_counts(gold_parts)
    gold = sum(gold_parts.values())
    rejects = reject_rows(lake)
    errors = []
    if totals["raw_rows"] != silver + rejects + totals["within_file_duplicates"]:
        errors.append(
            f"raw {totals['raw_rows']} != silver {silver} + rejects {rejects}"
            f" + duplicates {totals['within_file_duplicates']}"
        )
    if silver - totals["superseded_rows"] != gold:
        errors.append(
            f"silver {silver} - superseded {totals['superseded_rows']} != gold {gold}"
        )
    for name, got in (("silver", silver), ("reject", rejects), ("gold", gold)):
        want = totals[f"{name}_rows"]
        if got != want:
            errors.append(f"{name} rows {got} != expected {want}")
    want_parts: dict[str, int] = defaultdict(int)
    for d, _tid in gold_truth:
        want_parts[d] += 1
    if dict(want_parts) != gold_parts:
        bad = sorted(set(want_parts) ^ set(gold_parts)) or sorted(
            d for d in want_parts if want_parts[d] != gold_parts.get(d)
        )
        errors.append(f"gold rows per date differ on {bad[:5]}")
    return errors


# -- analyst query set ---------------------------------------------------------


def analyst_queries(gold: dict, week: tuple[str, str], latest: str, txn: str):
    """(name, SQL or None for the canned view function, expected rows)."""
    rev_by_date: dict[str, Decimal] = defaultdict(Decimal)
    rev_by_item: dict[str, Decimal] = defaultdict(Decimal)
    rev_by_store: dict[str, Decimal] = defaultdict(Decimal)
    mix: dict[str, list] = {}
    point = None
    for (d, tid), (store, item, payment, revenue) in gold.items():
        rev_by_date[d] += revenue
        rev_by_item[item] += revenue
        if week[0] <= d <= week[1]:
            rev_by_store[store] += revenue
        if d == latest:
            m = mix.setdefault(payment, [0, Decimal(0)])
            m[0] += 1
            m[1] += revenue
        if tid == txn:
            point = (tid, d, store, float(revenue))
    top = sorted(rev_by_item.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    return [
        ("daily_revenue", None,
         [(d, float(v)) for d, v in sorted(rev_by_date.items(), reverse=True)]),
        ("top_items", None, [(i, float(v)) for i, v in top]),
        ("week_store_revenue",
         "SELECT store_id, CAST(SUM(CAST(revenue AS DECIMAL(28,6))) AS DOUBLE) AS revenue "
         f"FROM fact_sales WHERE date BETWEEN DATE'{week[0]}' AND DATE'{week[1]}' "
         "GROUP BY store_id ORDER BY store_id",
         [(s, float(v)) for s, v in sorted(rev_by_store.items())]),
        ("payment_mix_latest",
         "SELECT payment_method, COUNT(*) AS n, "
         "CAST(SUM(CAST(revenue AS DECIMAL(28,6))) AS DOUBLE) AS revenue "
         f"FROM fact_sales WHERE date = DATE'{latest}' "
         "GROUP BY payment_method ORDER BY payment_method",
         [(p, n, float(v)) for p, (n, v) in sorted(mix.items())]),
        ("point_lookup",
         "SELECT transaction_id, CAST(date AS STRING) AS date, store_id, revenue "
         f"FROM fact_sales WHERE transaction_id = '{txn}'",
         [point] if point else []),
    ]


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Ordered row equality; doubles within 1e-9 relative."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float):
                if a is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif str(a) != str(b):
                return False
    return True


# -- registry oracle comparison -----------------------------------------------


def _norm(v) -> str:
    from datetime import date, datetime

    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            v = 0.0
        return f"{v:.9g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_bag(cols: list[str], rows: list[tuple]) -> list[str]:
    """Order-insensitive row bag with columns sorted by name (the
    comparison of the repository's oracle tests)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def oracle_rows(sql: str, data_dir: str, tables: list[str]) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()
    finally:
        con.close()


def matches_oracle(cols: list[str], rows: list[tuple], oracle: tuple) -> str | None:
    """None when Spark's result equals the oracle's, else the difference."""
    o_cols, o_rows = oracle
    if len(rows) != len(o_rows):
        return f"row count {len(rows)} != oracle {len(o_rows)}"
    if sorted(cols) != sorted(o_cols):
        return f"columns {sorted(cols)} != oracle {sorted(o_cols)}"
    if value_bag(cols, rows) != value_bag(o_cols, o_rows):
        return "value hash differs from oracle"
    return None
