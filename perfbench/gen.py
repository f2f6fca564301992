"""Seeded input generators and their pure-Python oracles.

Everything the program under test sees is produced here from ``--seed``:

* food-orders CSV files shaped like the reference's ``food_daily.csv``
  (FIXTURES.md section 1), with the edge cases at fixed shares, plus an
  oracle of the reference semantics (P1-P4 clean, the len<12 drop, the
  status split and the C1-C3 counts) computed without Spark;
* TPC-H-style, events, documents and embeddings parquet tables with the
  schemas and column distributions of the sf0.01 test tables (TESTDATA.md),
  for the query workload.

Generation is never timed. Results are cached under the benchmark's work
directory keyed by kind, seed and size, so a second run with the same
seed skips it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import re

HEADER = (
    "Customer_id,date,time,order_id,items,amount,mode,restaurnt,Status,"
    "ratings,feedback"
)
N_FIELDS = 11
STATUS_IDX = 8
ITEMS_IDX = 4

FOODS = [
    "Pizza", "Margarita", "Waterzooi", "Crispy Onion Rings", "Fried Rice",
    "Benedict", "pickle", "Noodles", "Sushi Platter", "Burger", "Fries",
    "Caesar Salad", "Fish and Chips", "Pad Thai", "Dumplings", "Pasta",
    "Ramen", "Gyoza", "Edamame", "Tacos", "Falafel", "Biryani",
]
RESTAURANTS = [
    "Brussels Mussels ", "Gaspar's", "Taco Bell", "Wok This Way",
    "Tokyo Table", "Patty Shack", "Leafy Greens", "The Codfather",
    "Bangkok Bites", "Roma Roma", "Curry House ", "Mama's Kitchen",
]
FEEDBACK = [
    "Late delivery", "Awesome experience", "Delivery boy didnt come at doorstep",
    "Good", "Great", "Perfect", "Fresh", "Nice", "Cold food", "Still waiting",
    "Very tasty", "Wrong order", "Good packaging", "Average", "Too spicy",
    "Will order again", "Fast delivery",
]
MODES = ["Card", "Cash", "Online", "Wallet"]
# (value, cumulative share) - the reference file's status mix
STATUSES = [
    ("Delivered", 0.975), ("On Hold", 0.986), ("Not delivered", 0.994),
    ("Cancelled", 1.0),
]

# Edge-case shares (per row). The reference file has ~94% trailing-colon
# items and ~0.2% special characters; the special-character and
# malformed-row shares are raised so every file of a few hundred rows
# exercises each path.
P_TRAILING_COLON = 0.94
P_SPECIAL = 0.02
P_SCI_ID = 0.01
P_SHORT = 0.005
P_EMPTY_LAST = 0.01
P_LONG_CUSTOMER = 0.003

_SPECIAL_RE = re.compile(r"[?%&]")


def _mixed_case(rng: random.Random, word: str) -> str:
    r = rng.random()
    if r < 0.1:
        return word.upper()
    if r < 0.2:
        return "".join(
            c.upper() if rng.random() < 0.5 else c.lower() for c in word
        )
    return word


def _inject_special(rng: random.Random, text: str) -> str:
    pos = rng.randrange(len(text) + 1)
    return text[:pos] + rng.choice("?%&") + text[pos:]


def food_row(rng: random.Random, date: str) -> str:
    """One CSV line of a food-orders file (no trailing newline)."""
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    cust = (
        "".join(rng.choice(letters) for _ in range(4))
        + f"{rng.randrange(10**6):06d}"
        + "".join(rng.choice(letters) for _ in range(2))
    )
    if rng.random() < P_LONG_CUSTOMER:
        cust = cust[:4] + "9" + cust[4:]
    time_s = f"{rng.randrange(24)}.{rng.randrange(60):02d}.{rng.randrange(60):02d}"
    if rng.random() < P_SCI_ID:
        order_id = f"{rng.randrange(1, 10)}.{rng.randrange(100):02d}E+{rng.randrange(100, 120)}"
    else:
        order_id = f"{rng.randrange(1000):03d}{rng.choice(letters)}{rng.randrange(1000):03d}"
    items = ":".join(
        _mixed_case(rng, rng.choice(FOODS)) for _ in range(rng.randint(1, 4))
    )
    if rng.random() < P_TRAILING_COLON:
        items += ":"
    if rng.random() < P_SPECIAL:
        items = _inject_special(rng, items)
    r = rng.random()
    status = next(s for s, cum in STATUSES if r < cum)
    feedback = rng.choice(FEEDBACK)
    if rng.random() < P_SPECIAL:
        feedback = _inject_special(rng, feedback)
    if rng.random() < P_EMPTY_LAST:
        feedback = ""
    fields = [
        cust, date, time_s, order_id, items, str(rng.randint(12, 127)),
        rng.choice(MODES), rng.choice(RESTAURANTS), status,
        str(rng.randint(1, 5)), feedback,
    ]
    if rng.random() < P_SHORT:
        fields = fields[: rng.randint(3, N_FIELDS - 1)]
    return ",".join(fields)


# ---------------------------------------------------------------------------
# Oracle: the reference semantics, row by row, in plain Python
# ---------------------------------------------------------------------------


def _clean_field(value: str, is_items: bool) -> str:
    if is_items and value.endswith(":"):
        value = value[:-1]
    return _SPECIAL_RE.sub("", value.lower())


def clean_line(line: str) -> tuple[list[str], bool]:
    """P1-P4 on one data line: (12 cleaned output fields, is_short).

    Missing fields of a short row read as ''; a missing status is NULL in
    the engine, which counts it as "other" - the '' here does the same.
    """
    fields = line.split(",")
    out = [
        _clean_field(fields[i] if i < len(fields) else "", i == ITEMS_IDX)
        for i in range(N_FIELDS)
    ]
    out.append(_clean_field(fields[N_FIELDS], False) if len(fields) > N_FIELDS else "1")
    return out, len(fields) < N_FIELDS


def row_digest(fields: list[str]) -> tuple[int, int]:
    """Two 32-bit halves of md5 over the unit-separator-joined fields;
    summed over a table they give an order-insensitive content hash that
    Spark computes with the same md5/conv expressions
    (``workloads.table_digests``)."""
    h = hashlib.md5("\x1f".join(fields).encode()).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


class FoodOracle:
    """Accumulates C1-C3 (pre-drop) and per-table row count and hash."""

    def __init__(self) -> None:
        self.total = self.delivered = self.other = 0
        self.short = 0
        self.tables = {
            "delivered": {"rows": 0, "h1": 0, "h2": 0},
            "other": {"rows": 0, "h1": 0, "h2": 0},
        }

    def add(self, line: str) -> None:
        out, is_short = clean_line(line)
        self.total += 1
        delivered = out[STATUS_IDX] == "delivered"
        if delivered:
            self.delivered += 1
        else:
            self.other += 1
        if is_short:
            self.short += 1
            return
        t = self.tables["delivered" if delivered else "other"]
        h1, h2 = row_digest(out)
        t["rows"] += 1
        t["h1"] += h1
        t["h2"] += h2

    def to_dict(self) -> dict:
        return {
            "total": self.total, "delivered": self.delivered,
            "other": self.other, "short": self.short, "tables": self.tables,
        }


def fixture_self_check(rows: list[str]) -> dict:
    """Oracle counts over the unit-test fixture rows (tests/fixtures.py):
    pre-drop C1-C3 and post-drop table sizes."""
    o = FoodOracle()
    for r in rows:
        o.add(r)
    return {
        "pre": (o.total, o.delivered, o.other),
        "post": (
            o.tables["delivered"]["rows"] + o.tables["other"]["rows"],
            o.tables["delivered"]["rows"],
            o.tables["other"]["rows"],
        ),
    }


def _cached(path: str, build) -> dict:
    """Return the JSON next to a generated artifact, building it once."""
    meta = path + ".oracle.json"
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)
    tmp = path + ".tmp"
    oracle = build(tmp)
    os.replace(tmp, path)
    with open(meta + ".tmp", "w") as f:
        json.dump(oracle, f)
    os.replace(meta + ".tmp", meta)
    return oracle


def write_food_file(path: str, rng: random.Random, n_rows: int, date: str) -> dict:
    """Write one BOM-headed food CSV; return its oracle dict."""
    oracle = FoodOracle()
    with open(path, "w", encoding="utf-8-sig", newline="\n") as f:
        f.write(HEADER + "\n")
        for _ in range(n_rows):
            line = food_row(rng, date)
            oracle.add(line)
            f.write(line + "\n")
    return oracle.to_dict()


def food_csv(cache_dir: str, seed: int, n_rows: int) -> tuple[str, dict]:
    """The batch input of ``ingest``: one CSV of ``n_rows`` orders."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"food-{seed}-{n_rows}.csv")

    def build(tmp: str) -> dict:
        rng = random.Random(f"food-{seed}")
        return write_food_file(tmp, rng, n_rows, "11/10/2023")

    return path, _cached(path, build)


def stream_file_date(index: int) -> str:
    """Each streamed file carries its own order date, so a row in the
    output tables names the file it came from."""
    d = dt.date(2020, 1, 1) + dt.timedelta(days=index)
    return f"{d.month}/{d.day}/{d.year}"


def stream_files(cache_dir: str, seed: int, n_files: int, rows: int) -> list[tuple[str, dict]]:
    """The streamed inputs of ``ingest``: ``n_files`` CSVs of ``rows`` orders."""
    os.makedirs(cache_dir, exist_ok=True)
    out = []
    for i in range(n_files):
        path = os.path.join(cache_dir, f"stream-{seed}-{rows}-{i:04d}.csv")

        def build(tmp: str, i: int = i) -> dict:
            rng = random.Random(f"stream-{seed}-{i}")
            return write_food_file(tmp, rng, rows, stream_file_date(i))

        out.append((path, _cached(path, build)))
    return out


# ---------------------------------------------------------------------------
# Query-workload tables (schemas of the sf test tables, TESTDATA.md)
# ---------------------------------------------------------------------------
#
# Every column follows the distribution measured on the sf0.01 test tables;
# row counts scale linearly with ``scale`` (the counts below are sf0.01's):
#
# * customer (1 500): c_nationkey U{0..24}, c_acctbal U(-999.99, 9999.99)
#   to cents, c_mktsegment uniform over 5 segments.
# * orders (15 000): o_custkey uniform over customers, o_orderstatus uniform
#   F/O/P, o_totalprice U(1000, 500000) to cents, o_orderdate a uniform day
#   in 1995-01-01..2001-08-01, o_orderpriority uniform over 5.
# * lineitem (60 000): l_orderkey uniform over orders (so 1-13 lines per
#   order, 46 orders above q18's 300 units), l_linenumber U{1..7},
#   l_partkey U{0..1999}, l_suppkey U{0..99}, l_quantity U{1..50},
#   l_extendedprice U(900, 105000) to cents, l_discount U(0, 0.10) and
#   l_tax U(0, 0.08) rounded to cents (half weight at both ends),
#   l_returnflag A/N/R and l_linestatus F/O uniform, l_shipdate a uniform
#   day in 1995-01-02..2001-11-04, independent of the order date.
# * nation (25): NATION_i in region i % 5; region (5): the TPC-H names;
#   supplier (100): s_nationkey U{0..24}, s_acctbal U(-999.99, 9999.99).
# * events (10 000): ts uniform over 2024-01-01..2024-01-31, event_id in
#   ts order, user_id uniform over 150 users, event_type uniform over 5,
#   value exponential with mean 50 to cents, props '{"k": U{0..99}}'.
# * documents (500): the 30-word vocabulary, U{10..100} tokens; 5% are
#   near duplicates that copy a uniformly chosen earlier document and
#   insert the token "dup" at a random position; lang en .4 and de, es,
#   fr, zh .15 each; source src{doc_id % 20}; n_chars = len(text). This
#   is the construction tools/scale_curve.py records for the test data.
# * embeddings (500): 64-d standard-normal vectors scaled to unit length,
#   label U{0..9}.

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data vector customer join"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
TABLES = ["customer", "orders", "lineitem", "nation", "region", "supplier",
          "events", "documents", "embeddings"]


def _day_us(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days * 86_400 * 10**6


def query_tables(cache_dir: str, seed: int, scale: float) -> tuple[str, list[str]]:
    """Write the tables the query mix reads; return (dir, table names).

    ``scale`` is the TPC-H scale factor (see the table notes above).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(cache_dir, f"tables-{seed}-{scale}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, TABLES
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(50_000 * scale)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def cents(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values: list[str], n: int):
        return pa.array(np.array(values)[rng.integers(0, len(values), n)])

    day_us = 86_400 * 10**6
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(cents(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    })
    o_first = _day_us(dt.date(1995, 1, 1))
    o_days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(cents(1000, 500000, n_ord)),
        "o_orderdate": pa.array(o_first + rng.integers(0, o_days, n_ord) * day_us,
                                type=pa.timestamp("us")),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    })
    l_first = _day_us(dt.date(1995, 1, 2))
    l_days = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days + 1
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(cents(900, 105000, n_li)),
        "l_discount": pa.array(cents(0, 0.10, n_li)),
        "l_tax": pa.array(cents(0, 0.08, n_li)),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(l_first + rng.integers(0, l_days, n_li) * day_us,
                               type=pa.timestamp("us")),
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(cents(-999.99, 9999.99, n_supp)),
    })
    ev_first = _day_us(dt.date(2024, 1, 1))
    write("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.sort(ev_first + rng.integers(0, 30 * day_us, n_ev)),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
    open(os.path.join(out, "_DONE"), "w").close()
    return out, TABLES
