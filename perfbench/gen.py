"""Seeded benchmark inputs with their ground truth.

Retail CSVs follow FIXTURES.md §2-4: rotating header variants (synonyms,
shuffled order, an extra column, a missing optional column), four
delimiters, BOMs, blank lines, ``$`` and thousands-separator currency,
the §3 timestamp dirt, wrong-delimiter rows, N/A numerics, balance
failures, exact duplicate lines and late corrections. The ground truth
follows the routing pinned by ``tests/test_ingest_golden.py``:

- a wrong-delimiter row splits into one token -> MISSING_REQUIRED_COLUMN;
- an unparseable timestamp (ISO-T, dd-MM-yy, AM/PM, empty, impossible)
  -> INVALID_TIMESTAMP_FORMAT;
- an N/A or empty required numeric, or |revenue - qty*price| > 0.01
  -> BUSINESS_LOGIC_FAIL;
- an exact duplicate line of a good row is dropped before silver;
- gold keeps the latest ingested row per (date, transaction_id).

Cases the engine routes ambiguously are never generated: no field holds
the file's delimiter (thousands separators only appear in files that are
not comma-delimited), no required string field is empty, no transaction
id repeats inside one file, and the first 20 lines (the dialect sniff
sample) are clean rows.

Everything here is pure Python: the program only ever sees the files.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from decimal import Decimal

STORES = [f"S{n:03d}" for n in range(1, 21)]
CATEGORIES = ["Clothing", "Sports", "Toys", "Home", "Groceries", "Electronics"]
PAYMENTS = ["Card", "Cash", "Transfer", "Mobile"]
N_ITEMS = 300
ALNUM_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
ALNUM_LOWER = "abcdefghijklmnopqrstuvwxyz0123456789"

CANONICAL = [
    "transaction_id", "store_id", "timestamp", "item_id", "item_category",
    "quantity", "unit_price", "revenue", "payment_method", "customer_id",
]

#: Header variants: (canonical column or None for an ignored extra column,
#: header text), in file order. FIXTURES.md §2 plus the synonym forms.
HEADER_VARIANTS: dict[str, list[tuple[str | None, str]]] = {
    "canonical": [(c, c) for c in CANONICAL],
    "shuffled_extra": [
        ("item_id", "item_id"), ("revenue", "revenue"), ("store_id", "store_id"),
        ("transaction_id", "transaction_id"), (None, "discount_code"),
        ("customer_id", "customer_id"), ("item_category", "item_category"),
        ("quantity", "quantity"), ("payment_method", "payment_method"),
        ("timestamp", "timestamp"), ("unit_price", "unit_price"),
    ],
    "missing_optional": [(c, c) for c in CANONICAL if c != "customer_id"],
    "shuffled_synonym": [
        ("item_id", "item_id"), ("revenue", "revenue"), ("store_id", "storeid"),
        ("transaction_id", "transaction_id"), ("customer_id", "customer_id"),
        ("item_category", "item_category"), ("quantity", "quantity"),
        ("payment_method", "payment_method"), ("timestamp", "timestamp"),
        ("unit_price", "unit_price"),
    ],
    "synonym_only": [(c, "storeid" if c == "store_id" else c) for c in CANONICAL],
    "spelled_out": [
        ("transaction_id", "Transaction ID"), ("store_id", "shop_id"),
        ("timestamp", "Time Stamp"), ("item_id", "product_id"),
        ("item_category", "category"), ("quantity", "qty"),
        ("unit_price", "Unit-Price"), ("revenue", "amount"),
        ("payment_method", "Payment Method"), ("customer_id", "Customer ID"),
    ],
    "abbreviated": [
        ("transaction_id", "txn_id"), ("store_id", "StoreID"),
        ("timestamp", "timestamp"), ("item_id", "ItemID"),
        ("item_category", "ItemCategory"), ("quantity", "QuantitySold"),
        ("unit_price", "price"), ("revenue", "RevenueAmount"),
        ("payment_method", "PaymentMethod"), ("customer_id", "CustomerID"),
    ],
}
VARIANT_ORDER = list(HEADER_VARIANTS)
DELIMITERS = [",", ";", "|", "\t"]

#: Parseable timestamp renderings: the reference's 11-pattern cascade.
GOOD_TS_FORMATS = [
    "%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M", "%Y/%m/%d %H:%M:%S", "%Y/%m/%d %H:%M",
    "%m/%d/%Y %H:%M:%S", "%m/%d/%Y %H:%M", "%m/%d/%Y", "%Y-%m-%d", "%Y/%m/%d",
    "%Y%m%d %H%M%S", "%Y%m%d",
]
GOOD_TS_WEIGHTS = [30, 8, 10, 4, 20, 6, 4, 6, 4, 5, 3]

#: Dirty-row kinds and the reject class the engine routes each to.
DIRT_CLASS = {
    "ts_iso": "timestamp",
    "ts_ddmmyy": "timestamp",
    "ts_ampm": "timestamp",
    "ts_empty": "timestamp",
    "ts_impossible": "timestamp",
    "wrong_delimiter": "structural",
    "na_numeric": "business",
    "balance_fail": "business",
}

#: Shares of all data rows, FIXTURES.md §3-4 proportions scaled to ~30%.
DAILY_DIRT = {
    "ts_iso": 0.05, "ts_ddmmyy": 0.085, "ts_ampm": 0.12, "ts_empty": 0.008,
    "ts_impossible": 0.002, "wrong_delimiter": 0.02, "na_numeric": 0.006,
    "balance_fail": 0.004,
}
#: The same classes scaled to ~3% for the bulk exports.
BACKFILL_DIRT = {
    "ts_iso": 0.004, "ts_ddmmyy": 0.006, "ts_ampm": 0.008, "ts_empty": 0.001,
    "ts_impossible": 0.001, "wrong_delimiter": 0.005, "na_numeric": 0.003,
    "balance_fail": 0.002,
}

CURRENCY_SHARE = 0.015  # of unit_price and revenue fields, each
THOUSANDS_SHARE = 0.5  # of currency-marked values >= 1000 in non-comma files


@dataclass
class Txn:
    txn_id: str
    store: str
    ts: datetime
    item: str
    category: str
    qty: int
    price: Decimal
    payment: str
    customer: str

    @property
    def revenue(self) -> Decimal:
        return self.price * self.qty


@dataclass
class FileTruth:
    name: str
    data_rows: int = 0
    structural: int = 0
    timestamp: int = 0
    business: int = 0
    duplicates: int = 0  # exact duplicate lines dropped before silver
    corrections: int = 0  # rows re-sending an earlier file's transaction
    raw_bytes: int = 0

    @property
    def rejects(self) -> int:
        return self.structural + self.timestamp + self.business

    @property
    def good(self) -> int:
        return self.data_rows - self.rejects - self.duplicates


@dataclass
class RetailTruth:
    """Expected lake state after ingesting a prefix of the files in order."""

    files: list[FileTruth] = field(default_factory=list)
    #: per file: {(date, txn_id): (store, item, payment, revenue)} of its good rows
    file_rows: list[dict] = field(default_factory=list)

    def gold_after(self, n_files: int) -> dict:
        gold: dict = {}
        for rows in self.file_rows[:n_files]:
            gold.update(rows)  # later file = later ingest_ts = kept
        return gold

    def totals(self, n_files: int) -> dict:
        fs = self.files[:n_files]
        silver = sum(f.good for f in fs)
        gold = len(self.gold_after(n_files))
        return {
            "raw_rows": sum(f.data_rows for f in fs),
            "raw_bytes": sum(f.raw_bytes for f in fs),
            "silver_rows": silver,
            "reject_rows": sum(f.rejects for f in fs),
            "within_file_duplicates": sum(f.duplicates for f in fs),
            "gold_rows": gold,
            "superseded_rows": silver - gold,
        }

    def shares(self) -> dict:
        fs = self.files
        rows = sum(f.data_rows for f in fs)
        dates = {d for rows_ in self.file_rows for d, _ in rows_}
        return {
            "files": len(fs),
            "rows": rows,
            "raw_bytes": sum(f.raw_bytes for f in fs),
            "dates": len(dates),
            "dirty_share": round(sum(f.rejects for f in fs) / rows, 4),
            "duplicate_share": round(sum(f.duplicates for f in fs) / rows, 4),
            "late_correction_share": round(sum(f.corrections for f in fs) / rows, 4),
            "superseded_share": round(self.totals(len(fs))["superseded_rows"] / rows, 4),
        }


class RetailGenerator:
    """Draws transactions and renders them as CSV files with known routing."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.used_ids: set[str] = set()
        rng = self.rng
        self.items = [f"ITEM{n:05d}" for n in range(1, N_ITEMS + 1)]
        self.item_category = {i: rng.choice(CATEGORIES) for i in self.items}
        self.item_price = {
            i: Decimal(rng.randint(100, 50000)) / 100 for i in self.items
        }
        # skewed popularity so top-k has a clear head
        weights = [1.0 / (k + 1) ** 0.7 for k in range(N_ITEMS)]
        self.item_cum_weights = [sum(weights[: k + 1]) for k in range(N_ITEMS)]
        self.truth = RetailTruth()
        self.gold: dict = {}  # truth.gold_after(all files so far)

    # -- drawing -------------------------------------------------------------

    def _id(self, alphabet: str, n: int) -> str:
        return "".join(self.rng.choices(alphabet, k=n))

    def new_txn(self, day: date) -> Txn:
        rng = self.rng
        while True:
            tid = self._id(ALNUM_UPPER, 12)
            if tid not in self.used_ids:
                self.used_ids.add(tid)
                break
        item = rng.choices(self.items, cum_weights=self.item_cum_weights)[0]
        ts = datetime(day.year, day.month, day.day) + timedelta(
            seconds=rng.randrange(86400)
        )
        return Txn(
            tid, rng.choice(STORES), ts, item, self.item_category[item],
            rng.randint(1, 10), self.item_price[item], rng.choice(PAYMENTS),
            self._id(ALNUM_LOWER, 8),
        )

    # -- rendering -----------------------------------------------------------

    def _money(self, value: Decimal, delimiter: str) -> str:
        text = f"{value:.2f}"
        if self.rng.random() < CURRENCY_SHARE:
            if delimiter != "," and value >= 1000 and self.rng.random() < THOUSANDS_SHARE:
                text = f"{value:,.2f}"
            text = "$" + text
        return text

    def _fields(self, t: Txn, delimiter: str, dirt: str | None) -> dict[str, str]:
        rng = self.rng
        if dirt == "ts_iso":
            ts = t.ts.strftime("%Y-%m-%dT%H:%M:%S")
        elif dirt == "ts_ddmmyy":
            ts = t.ts.strftime("%d-%m-%y %H:%M")
        elif dirt == "ts_ampm":
            ts = t.ts.strftime("%m/%d/%Y %I:%M%p")
        elif dirt == "ts_empty":
            ts = ""
        elif dirt == "ts_impossible":
            ts = f"{t.ts.year}/02/30 25:61"
        else:
            ts = t.ts.strftime(rng.choices(GOOD_TS_FORMATS, GOOD_TS_WEIGHTS)[0])
        qty, price, revenue = str(t.qty), self._money(t.price, delimiter), self._money(
            t.revenue, delimiter
        )
        if dirt == "na_numeric":
            bad = rng.choice(["N/A", ""])
            which = rng.randrange(3)
            if which == 0:
                qty = bad
            elif which == 1:
                price = bad
            else:
                revenue = bad
        elif dirt == "balance_fail":
            revenue = f"{t.revenue + Decimal(rng.randint(100, 5000)) / 100:.2f}"
        return {
            "transaction_id": t.txn_id, "store_id": t.store, "timestamp": ts,
            "item_id": t.item, "item_category": t.category, "quantity": qty,
            "unit_price": price, "revenue": revenue, "payment_method": t.payment,
            "customer_id": t.customer,
        }

    def _line(self, t, variant, delimiter, dirt) -> str:
        f = self._fields(t, delimiter, dirt)
        cells = [
            f[c] if c is not None else self.rng.choice(["", "SAVE10", "PROMO5"])
            for c, _ in HEADER_VARIANTS[variant]
        ]
        if dirt == "wrong_delimiter":
            wrong = ";" if delimiter != ";" else ","
            return wrong.join(cells)
        return delimiter.join(cells)

    # -- files ---------------------------------------------------------------

    def write_file(
        self,
        path: str,
        dates: list[date],
        rows: int,
        dirt: dict[str, float],
        duplicate_share: float,
        correction_share: float,
        resend_share: float = 0.0,
        blank_lines: tuple[int, int] = (4, 14),
        variant: str | None = None,
        delimiter: str | None = None,
    ) -> FileTruth:
        """Write one CSV and append its truth.

        ``correction_share``: rows re-sending an earlier file's good
        transaction with a new quantity (and matching revenue).
        ``resend_share``: rows re-sending an earlier file's good transaction
        unchanged (an overlapping export). ``variant`` and ``delimiter``
        override the seeded choice.
        """
        rng = self.rng
        idx = len(self.truth.files)
        drawn_variant = VARIANT_ORDER[(idx + rng.randrange(len(VARIANT_ORDER))) % len(VARIANT_ORDER)]
        drawn_delimiter = DELIMITERS[rng.randrange(len(DELIMITERS))]
        variant = variant or drawn_variant
        delimiter = delimiter or drawn_delimiter
        ft = FileTruth(os.path.basename(path))
        good_rows: dict = {}
        lines: list[str] = []

        earlier = self.gold
        earlier_keys = sorted(earlier)
        n_corr = int(rows * correction_share) if earlier_keys else 0
        n_resend = int(rows * resend_share) if earlier_keys else 0
        n_dirty = {k: int(round(rows * s)) for k, s in dirt.items()}
        n_dup = int(rows * duplicate_share)
        n_plain = rows - n_corr - n_resend - sum(n_dirty.values()) - n_dup

        # (txn, dirt kind) entries; corrections/resends are clean rows
        entries: list[tuple[Txn, str | None]] = []
        for _ in range(n_plain):
            entries.append((self.new_txn(rng.choice(dates)), None))
        picked = rng.sample(earlier_keys, min(len(earlier_keys), n_corr + n_resend))
        for k, key in enumerate(picked):
            t = self._earlier_txn(key, earlier[key])
            if k < n_corr:
                t.qty = rng.choice([q for q in range(1, 11) if q != t.qty])
                ft.corrections += 1
            entries.append((t, None))
        for kind, n in n_dirty.items():
            for _ in range(n):
                entries.append((self.new_txn(rng.choice(dates)), kind))
        rng.shuffle(entries)
        # the dialect-sniff sample (first 20 lines) stays clean
        clean = [e for e in entries if e[1] is None]
        dirty = [e for e in entries if e[1] is not None]
        entries = clean[:20] + sorted(clean[20:] + dirty, key=lambda _: rng.random())

        for t, kind in entries:
            line = self._line(t, variant, delimiter, kind)
            lines.append(line)
            ft.data_rows += 1
            if kind is None:
                good_rows[(t.ts.date().isoformat(), t.txn_id)] = (
                    t.store, t.item, t.payment, t.revenue,
                )
            else:
                setattr(ft, DIRT_CLASS[kind], getattr(ft, DIRT_CLASS[kind]) + 1)
        # exact duplicate lines of good rows, placed after the sniff sample
        good_lines = [ln for ln, (_, kind) in zip(lines, entries) if kind is None]
        for _ in range(n_dup):
            lines.insert(rng.randint(20, len(lines)), rng.choice(good_lines))
            ft.data_rows += 1
            ft.duplicates += 1
        for _ in range(rng.randint(*blank_lines)):
            lines.insert(rng.randint(20, len(lines)), "")

        header = delimiter.join(h for _, h in HEADER_VARIANTS[variant])
        if rng.random() < 0.2:
            header = "﻿" + header
        text = header + "\n" + "\n".join(lines) + "\n"
        data = text.encode("utf-8")
        with open(path, "wb") as f:
            f.write(data)
        ft.raw_bytes = len(data)
        self.truth.files.append(ft)
        self.truth.file_rows.append(good_rows)
        self.gold.update(good_rows)
        return ft

    def _earlier_txn(self, key, value) -> Txn:
        """Rebuild an earlier good transaction from its gold truth."""
        day, tid = key
        store, item, payment, revenue = value
        price = self.item_price[item]
        d = date.fromisoformat(day)
        ts = datetime(d.year, d.month, d.day) + timedelta(seconds=self.rng.randrange(86400))
        return Txn(
            tid, store, ts, item, self.item_category[item], int(revenue / price),
            price, payment, self._id(ALNUM_LOWER, 8),
        )


def start_date(seed: int) -> date:
    return date(2024, 1, 1) + timedelta(days=random.Random(seed * 7919 + 1).randrange(300))


def make_daily(
    seed: int, out_dir: str, days: int, rows: int | None = None
) -> tuple[list[str], RetailTruth]:
    """One file per business day, 1.5k rows (or ``rows``), ~30% dirty,
    ~5% late corrections."""
    os.makedirs(out_dir, exist_ok=True)
    g = RetailGenerator(seed)
    first = start_date(seed)
    paths = []
    for i in range(days):
        d = first + timedelta(days=i)
        path = os.path.join(out_dir, f"sales_{d.isoformat()}.csv")
        g.write_file(
            path, [d], rows=rows or 1500, dirt=DAILY_DIRT,
            duplicate_share=0.005, correction_share=0.05,
        )
        paths.append(path)
    return paths, g.truth


def make_backfill(
    seed: int, out_dir: str, files: int, rows_per_file: int, dates_per_file: int = 30
) -> tuple[list[str], RetailTruth]:
    """Multi-week exports, ~3% dirty, with rows re-sent across exports."""
    os.makedirs(out_dir, exist_ok=True)
    g = RetailGenerator(seed)
    first = start_date(seed)
    paths = []
    for k in range(files):
        dates = [first + timedelta(days=k * dates_per_file + j) for j in range(dates_per_file)]
        path = os.path.join(
            out_dir, f"export_{k:02d}_{dates[0].isoformat()}_{dates[-1].isoformat()}.csv"
        )
        g.write_file(
            path, dates, rows=rows_per_file, dirt=BACKFILL_DIRT,
            duplicate_share=0.003, correction_share=0.0, resend_share=0.01,
            blank_lines=(2, 6),
        )
        paths.append(path)
    return paths, g.truth


# -- document corpus -----------------------------------------------------------

VOCAB = [
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
    "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value",
    "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the",
]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [44, 15, 14, 14, 13]


def make_corpus(seed: int, out_dir: str, docs: int, vectors: int, lineitems: int, events: int) -> None:
    """The registry's document-family tables in the testdata layout.

    ``documents``: texts of 10-99 words over a 30-word vocabulary, 5% of
    them an earlier text plus " dup" (near duplicates); ``embeddings``:
    unit 64-d float vectors with 10 labels; ``lineitem`` and ``events``
    carry the keys the sketch report counts. One file and one row group
    per table, as in the testdata.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))))
    order = list(range(docs))
    rng.shuffle(order)
    texts = [texts[j] for j in order]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(docs), pa.int64()),
            "text": texts,
            "lang": [rng.choices(LANGS, LANG_WEIGHTS)[0] for _ in range(docs)],
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    nrng = np.random.default_rng(seed)
    emb = nrng.standard_normal((vectors, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(vectors), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(nrng.integers(0, 10, vectors), pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(range(lineitems), pa.int64()),
            "l_partkey": pa.array(nrng.integers(0, max(1, lineitems // 30), lineitems), pa.int64()),
            "l_quantity": pa.array(nrng.integers(1, 50, lineitems).astype(float)),
        }),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(events), pa.int64()),
            "user_id": pa.array(nrng.integers(0, max(1, events // 65), events), pa.int64()),
            "event_type": [rng.choice(["view", "click", "buy"]) for _ in range(events)],
            "value": pa.array(nrng.random(events)),
        }),
        os.path.join(out_dir, "events.parquet"),
    )
