"""Seeded inputs for the benchmark workloads.

Two generators, both pure functions of a seed and a size:

- ``OlistLanding`` writes Olist-shaped landing drops (one CSV per table
  per drop) through ``tools.make_olist_fixtures.make_fixtures``, so every
  drop carries the fixture's dirty rows (NULL keys, malformed
  timestamps, out-of-domain values, in-file duplicate keys, orphans).
  A *batch* drop adds what the fixture cannot produce on its own:
  batch-unique new order, customer and review ids beside updates to
  existing orders and their customers, items, payments and reviews.
  Every drop states its landing row count and byte count, and the
  generator keeps the set of valid distinct keys it has emitted per
  table, computed from the silver contract rules below, independently
  of the program.
- ``write_sf_tables`` writes the ten parquet tables the registered
  queries read (``session.TESTDATA_TABLES``), shaped like the
  repository's TPC-H-style test data (TESTDATA.md), at a given scale
  factor.
"""

from __future__ import annotations

import csv
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from decimal import Decimal, InvalidOperation

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.make_olist_fixtures import BR_STATES, CITIES, STATUSES, make_fixtures

OLIST_TABLES = (
    "customers", "geolocation", "orders", "order_items",
    "order_payments", "order_reviews", "products", "sellers",
)
# business key per landing table, in raw (CSV) column names
RAW_KEYS = {
    "customers": ("customer_id",),
    "geolocation": ("geolocation_zip_code_prefix",),
    "orders": ("order_id",),
    "order_items": ("order_id", "order_item_id"),
    "order_payments": ("order_id", "payment_sequential"),
    "order_reviews": ("review_id",),
    "products": ("product_id",),
    "sellers": ("seller_id",),
}
ORDER_STATUS_DOMAIN = {
    "created", "approved", "invoiced", "processing",
    "shipped", "delivered", "canceled", "unavailable",
}
# fixture ids that name a generated entity; anything else (order_badst,
# rev_orphan, cust_nullu ...) is a hand-written dirty row kept verbatim
_ID_RE = re.compile(r"^(order|cust|uniq|rev)_(\d+)$")
_RENAMED_COLS = {
    "customers": ("customer_id", "customer_unique_id"),
    "orders": ("order_id", "customer_id"),
    "order_items": ("order_id",),
    "order_payments": ("order_id",),
    "order_reviews": ("review_id", "order_id"),
}


def _is_int(v: str) -> bool:
    try:
        int(v)
    except ValueError:
        return False
    return True


def _is_float(v: str) -> bool:
    try:
        float(v)
    except ValueError:
        return False
    return True


def _is_decimal_10_2(v: str) -> bool:
    try:
        d = Decimal(v)
    except InvalidOperation:
        return False
    return d.is_finite() and abs(d) < Decimal(10) ** 8


def _is_ts(v: str) -> bool:
    try:
        datetime.strptime(v, "%Y-%m-%d %H:%M:%S")
    except ValueError:
        return False
    return True


def valid_row(table: str, r: dict[str, str]) -> bool:
    """Whether silver keeps the row: the NOT NULL keys, domains, ranges
    and casts of the table's contract (schemas.CONTRACTS), restated
    here so the benchmark's expected counts do not come from the code
    under test."""
    s = {k: (v or "").strip() for k, v in r.items()}
    if table == "customers":
        return bool(s["customer_id"] and s["customer_unique_id"])
    if table == "geolocation":
        return bool(s["geolocation_zip_code_prefix"]) and _is_float(
            s["geolocation_lat"]) and _is_float(s["geolocation_lng"])
    if table == "orders":
        return bool(s["order_id"] and s["customer_id"]) and (
            s["order_status"].lower() in ORDER_STATUS_DOMAIN)
    if table == "order_items":
        return bool(s["order_id"]) and _is_int(s["order_item_id"])
    if table == "order_payments":
        return bool(s["order_id"]) and _is_int(s["payment_sequential"]) and (
            _is_decimal_10_2(s["payment_value"]))
    if table == "order_reviews":
        return (
            bool(s["review_id"] and s["order_id"])
            and _is_ts(s["review_creation_date"])
            and _is_int(s["review_score"])
            and 1 <= int(s["review_score"]) <= 5
        )
    return bool(s[RAW_KEYS[table][0]])  # products, sellers


def _key(table: str, r: dict[str, str]) -> tuple:
    k = tuple((r[c] or "").strip() for c in RAW_KEYS[table])
    if table in ("order_items", "order_payments"):
        k = (k[0], int(k[1]))  # int-cast key column
    return k


@dataclass
class Drop:
    """One landing drop: what was written and when it was closed."""

    seq: int
    rows: dict[str, int]
    bytes: int
    closed_at: float = 0.0  # time.perf_counter() once its last file was closed
    new_orders: int = 0
    updated_orders: int = 0

    @property
    def total_rows(self) -> int:
        return sum(self.rows.values())


@dataclass
class OlistLanding:
    """Seeded landing directory that grows drop by drop.

    ``n_orders`` sizes the first drop (the fixture's customer, product
    and seller counts scale with it); ``batch_share`` sizes each later
    batch as a share of it, half new orders and half updates."""

    landing: str
    seed: int
    n_orders: int
    batch_share: float = 0.01
    drops: list[Drop] = field(default_factory=list)
    valid_keys: dict[str, set] = field(
        default_factory=lambda: {t: set() for t in OLIST_TABLES}
    )

    def __post_init__(self) -> None:
        self.n_customers = max(100, self.n_orders * 3 // 4)
        self.n_products = max(50, self.n_orders // 30)
        self.n_sellers = max(20, self.n_orders // 300)
        # base rows of every valid first-drop order, for later updates
        self._base: dict[str, dict[str, list[dict]]] = {}
        self._customers: dict[str, dict] = {}

    # -------------------------------------------------------------- io

    def _path(self, table: str, seq: int) -> str:
        # zero-padded sequence: file names sort in landing order, which
        # is the source_file tie-break order of a from-scratch load
        return os.path.join(self.landing, table, f"{table}_{seq:04d}.csv")

    @staticmethod
    def _read(path: str) -> tuple[list[str], list[dict]]:
        with open(path, newline="") as f:
            rd = csv.DictReader(f)
            return list(rd.fieldnames or ()), list(rd)

    def _write(self, table: str, seq: int, header: list[str], rows: list[dict]) -> None:
        path = self._path(table, seq)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", newline="") as f:
            w = csv.DictWriter(f, header)
            w.writeheader()
            w.writerows(rows)

    def _record(self, seq: int, tables: dict[str, list[dict]]) -> Drop:
        size = 0
        for t, rows in tables.items():
            size += os.path.getsize(self._path(t, seq))
            for r in rows:
                if valid_row(t, r):
                    self.valid_keys[t].add(_key(t, r))
        return Drop(seq, {t: len(r) for t, r in tables.items()}, size)

    # ----------------------------------------------------------- drops

    def write_first(self) -> Drop:
        """The first drop: one fixture at full size, written as is."""
        seq = len(self.drops)
        make_fixtures(
            self.landing, seed=self.seed, n_customers=self.n_customers,
            n_products=self.n_products, n_sellers=self.n_sellers,
            n_orders=self.n_orders, file_suffix=f"{seq:04d}",
        )
        tables = {t: self._read(self._path(t, seq))[1] for t in OLIST_TABLES}
        for r in tables["customers"]:
            if valid_row("customers", r):
                self._customers[r["customer_id"]] = r
        for t in ("orders", "order_items", "order_payments", "order_reviews"):
            for r in tables[t]:
                if valid_row(t, r):
                    self._base.setdefault(r["order_id"], {}).setdefault(t, []).append(r)
        drop = self._record(seq, tables)
        self.drops.append(drop)
        return drop

    def write_batch(self, staging: str) -> Drop:
        """A later drop: ``batch_share`` of the first drop's orders,
        half new (fixture rows with batch-unique ids), half updates to
        first-drop orders, their customer, items, payments and review."""
        seq = len(self.drops)
        rng = random.Random(self.seed * 1_000_003 + seq)
        n_new = max(2, int(self.n_orders * self.batch_share) // 2)
        make_fixtures(
            staging, seed=rng.randrange(1 << 30),
            n_customers=max(4, n_new * 3 // 4), n_products=self.n_products,
            n_sellers=self.n_sellers, n_orders=n_new, file_suffix="staged",
        )
        tag = f"b{seq:04d}"

        def rename(v: str) -> str:
            m = _ID_RE.match(v)
            return f"{m[1]}_{tag}_{m[2]}" if m else v

        tables: dict[str, list[dict]] = {}
        headers: dict[str, list[str]] = {}
        for t in OLIST_TABLES:
            header, rows = self._read(os.path.join(staging, t, f"{t}_staged.csv"))
            for r in rows:
                for c in _RENAMED_COLS.get(t, ()):
                    r[c] = rename(r[c])
            if t in ("products", "sellers"):
                # ~1% of the catalogue re-lands, plus the dirty rows
                # the fixture appends after the generated ones
                n = self.n_products if t == "products" else self.n_sellers
                rows = [r for i, r in enumerate(rows) if i >= n or rng.random() < 0.01]
            headers[t], tables[t] = header, rows
        shutil.rmtree(staging)

        updated = rng.sample(sorted(self._base), min(n_new, len(self._base)))
        seen_customers: set[str] = set()
        for oid in updated:
            base = self._base[oid]
            for r in base.get("orders", ()):
                status = rng.choice(STATUSES)
                tables["orders"].append({
                    **r,
                    "order_status": status,
                    "order_approved_at": _later(r["order_purchase_timestamp"], rng),
                    "order_delivered_customer_date": (
                        _later(r["order_purchase_timestamp"], rng)
                        if status == "delivered" else ""
                    ),
                })
                cust = self._customers.get(r["customer_id"])
                if cust is not None and r["customer_id"] not in seen_customers:
                    # one update row per customer: in-file duplicate keys
                    # stay the fixture's own dirty rows
                    seen_customers.add(r["customer_id"])
                    tables["customers"].append({
                        **cust,
                        "customer_city": rng.choice(CITIES).title(),
                        "customer_state": rng.choice(BR_STATES).lower(),
                    })
            for r in base.get("order_items", ()):
                tables["order_items"].append({
                    **r, "price": f"{rng.uniform(10, 500):.2f}",
                    "freight_value": f"{rng.uniform(5, 60):.2f}",
                })
            for r in base.get("order_payments", ()):
                tables["order_payments"].append(
                    {**r, "payment_value": f"{rng.uniform(20, 600):.2f}"}
                )
            for r in base.get("order_reviews", ()):
                tables["order_reviews"].append(
                    {**r, "review_score": str(rng.randint(1, 5))}
                )
        for t in OLIST_TABLES:
            self._write(t, seq, headers[t], tables[t])
        closed_at = time.perf_counter()
        drop = self._record(seq, tables)
        drop.closed_at = closed_at
        drop.new_orders, drop.updated_orders = n_new, len(updated)
        self.drops.append(drop)
        return drop


def _later(ts: str, rng: random.Random) -> str:
    t = datetime.strptime(ts, "%Y-%m-%d %H:%M:%S") if _is_ts(ts) else datetime(2018, 1, 1)
    return (t + timedelta(days=rng.randint(1, 30), seconds=rng.randint(0, 86399))).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


# ------------------------------------------------------- query tables

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.5, 0.125, 0.125, 0.125, 0.125)
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def _days(rng: np.random.Generator, n: int, lo: datetime, hi: datetime) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.date(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_sf_tables(out: str, seed: int, sf: float) -> int:
    """Write the query tables at scale factor ``sf``; returns bytes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def put(name: str, cols: dict[str, pa.Array]) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part)
    put("part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4)),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        roll = rng.random()
        if i > 10 and roll < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), n)]))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
    )
