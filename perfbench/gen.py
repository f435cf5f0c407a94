"""Seeded input generation for the benchmark workloads.

Every input the program reads during a run is written here, as parquet
files with the column names and physical types of the package's
TPC-H-ish testdata tables (``schemas.TESTDATA``). The same seed always
yields byte-identical tables; different seeds change the content but
not the sizes, so run-to-run work stays comparable.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector join customer of to and"
).split()
# Language markers sprinkled into non-English documents (the package's
# lang_id heuristic keys on these words).
LANG_WORDS = {
    "de": ("der", "die", "das", "und", "nicht"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
}
EPOCH = dt.date(1970, 1, 1)
# Row counts of the package's sf0.1 testdata (the scale ``bench.py``
# serves). Workload sizes are stated as a fraction of these.
SF01_ROWS = {
    "orders": 150_000, "customer": 15_000, "part": 20_000,
    "supplier": 1_000, "events": 100_000, "users": 1_500, "documents": 5_000,
}


def sf01_rows(fraction: float) -> dict[str, int]:
    """sf0.1's row counts scaled by ``fraction``. Lineitem follows from
    the orders: 1-7 lines each, four on average, as in sf0.1."""
    return {k: max(1, round(v * fraction)) for k, v in SF01_ROWS.items()}


def _day(d: dt.date) -> int:
    return (d - EPOCH).days


def _ts_us(days: np.ndarray) -> pa.Array:
    """Midnight timestamps (µs, naive) for day offsets from the epoch."""
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def dims(rng: np.random.Generator, n_cust: int, n_supp: int, n_part: int) -> dict[str, pa.Table]:
    """region, nation, customer, supplier and part."""
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part}


def orders_lineitem(
    rng: np.random.Generator,
    n_orders: int,
    first: dt.date,
    last: dt.date,
    n_cust: int,
    n_supp: int,
    n_part: int,
    key_base: int = 0,
    days: np.ndarray | None = None,
) -> tuple[pa.Table, pa.Table]:
    """``n_orders`` orders dated uniformly over ``first..last`` (or over
    the given day offsets), each with 1-7 lines."""
    if days is None:
        days = rng.integers(_day(first), _day(last) + 1, n_orders)
    okeys = np.arange(key_base, key_base + n_orders, dtype="int64")
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": _ts_us(days),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    n_lines = rng.integers(1, 8, n_orders)
    li_order = np.repeat(np.arange(n_orders), n_lines)
    n = len(li_order)
    line_no = np.arange(n) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    qty = rng.integers(1, 51, n).astype("float64")
    lineitem = pa.table({
        "l_orderkey": okeys[li_order],
        "l_partkey": rng.integers(0, n_part, n).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n).astype("int64"),
        "l_linenumber": pa.array(line_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts_us(days[li_order] + rng.integers(1, 122, n)),
    })
    return orders, lineitem


def events(rng: np.random.Generator, n_events: int, n_users: int) -> pa.Table:
    """Clickstream over January 2024 (the span the DW conversion path
    expects), sorted by time."""
    start = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)) + int(start * 1e6)
    return pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0, 200, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """A document pool with planted near-duplicates (one in eight docs
    is an edited copy of an earlier one) and exact duplicates (one in
    a hundred), so every dedup pass has pairs to find."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.01:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 10 and r < 0.125:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(toks) // 12)):
                toks[int(rng.integers(0, len(toks)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks))
            langs.append(langs[-1])
            continue
        lang = "en" if r < 0.6 else ("de", "es", "fr")[int(rng.integers(0, 3))]
        toks = list(vocab[rng.integers(0, len(vocab), int(rng.integers(20, 100)))])
        if lang != "en":
            marks = LANG_WORDS[lang]
            for _ in range(len(toks) // 6):
                toks[int(rng.integers(0, len(toks)))] = marks[int(rng.integers(0, len(marks)))]
        texts.append(" ".join(toks))
        langs.append(lang)
    return pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
