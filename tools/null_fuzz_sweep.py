"""Null-injection differential sweep: the full oracle gate on
null-riddled data.

The sf0.01 gate proves Spark == DuckDB on the shipped testdata — which
is almost entirely non-null. Real 100 TB inputs are not. This sweep
copies a testdata dir with a deterministic pseudo-random ~1/denom of
every non-key cell nulled (same parquet for both engines, so any
mismatch is a genuine cross-engine NULL-semantics divergence: null
ordering defaults, null-skipping aggregates, three-valued predicates)
and re-runs every oracle-paired registry entry through the standard
comparator. Usage:

    python tools/null_fuzz_sweep.py [denom]          # default 10 (~10% nulls)
    python tools/null_fuzz_sweep.py [denom] --groups # group-kill mode

Key/id columns and join/seed structural columns are kept non-null so
the sweep measures NULL semantics, not FK chaos; everything else —
measures, dates, strings, embeddings — takes nulls. Prints one line
per entry and exits 1 on any crash or mismatch.

``--groups`` nulls a column for EVERY row of ~1/denom of parent
groups (orders by o_custkey, lineitem by l_orderkey, events by
user_id, ...) instead of ~1/denom of cells independently. Cell-level
masks provably cannot produce an all-null GROUP at this scale (the r6
ADVICE counterexample: a customer whose every order has NULL
o_totalprice slips past the cell sweep but diverges a NULLS-LAST
oracle rank from a null-dropping engine join) — this mode generates
exactly those, so every grouped aggregate's NULL contract is
exercised cross-engine.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq
from oracle_sweep import select, session, sweep

SF_SRC = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Structural columns that stay non-null: surrogate/join keys and the
# columns plan-build itself depends on (centroid seeding, tokenizers
# fall through fine on null text — text IS nullable here).
KEEP = {
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"), ("nation", "n_regionkey"),
    ("customer", "c_custkey"), ("customer", "c_nationkey"),
    ("supplier", "s_suppkey"), ("supplier", "s_nationkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"), ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"), ("lineitem", "l_linenumber"),
    ("events", "event_id"), ("events", "user_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"), ("embeddings", "embedding"),
}


# Group-kill parent keys: in --groups mode a column nulls for EVERY
# row whose group value is selected, so all-null groups exist by
# construction. Tables absent here fall back to the cell mask.
GROUP_KEY = {
    "orders": "o_custkey",
    "lineitem": "l_orderkey",
    "events": "user_id",
    "customer": "c_nationkey",
    "supplier": "s_nationkey",
}


def _null_mask(table: str, col: str, n: int, denom: int) -> pa.Array:
    # Deterministic per (table, column, row): a cheap LCG-style mix so
    # re-runs and both engines see the byte-identical file. crc32, not
    # hash() — the builtin is salted per process.
    import zlib

    seed = (zlib.crc32(f"{table}.{col}".encode()) & 0x7FFFFFFF) or 1
    vals = [((seed + 2654435761 * i) >> 7) % denom == 0 for i in range(n)]
    return pa.array(vals, type=pa.bool_())


def _group_null_mask(
    table: str, col: str, group_vals, denom: int
) -> pa.Array:
    """Select by GROUP value, not row index: every row of a selected
    group nulls together (same deterministic mix, keyed on the group
    value so different columns kill different group subsets)."""
    import zlib

    seed = (zlib.crc32(f"{table}.{col}".encode()) & 0x7FFFFFFF) or 1
    vals = [
        ((seed + 2654435761 * int(g)) >> 7) % denom == 0
        for g in group_vals
    ]
    return pa.array(vals, type=pa.bool_())


def make_fuzzed_sf(dst: str, denom: int, groups: bool = False) -> None:
    import pyarrow.compute as pc

    for t in TABLES:
        tab = pq.read_table(os.path.join(SF_SRC, f"{t}.parquet"))
        gvals = (
            tab.column(GROUP_KEY[t]).to_pylist()
            if groups and t in GROUP_KEY
            else None
        )
        cols = []
        for field in tab.schema:
            col = tab.column(field.name)
            if (t, field.name) in KEEP:
                cols.append(col)
                continue
            if gvals is not None:
                mask = _group_null_mask(t, field.name, gvals, denom)
            else:
                mask = _null_mask(t, field.name, len(tab), denom)
            cols.append(
                pc.if_else(mask, pa.nulls(len(tab), field.type), col)
            )
        out_schema = pa.schema(
            [pa.field(f.name, f.type, nullable=True) for f in tab.schema]
        )
        pq.write_table(
            pa.Table.from_arrays(cols, schema=out_schema),
            os.path.join(dst, f"{t}.parquet"),
        )


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--groups"]
    groups = "--groups" in sys.argv[1:]
    denom = int(args[0]) if args and args[0].isdigit() else 10
    pats = args[1:] if args and args[0].isdigit() else args
    mode = "groupkill" if groups else "nullfuzz"
    with tempfile.TemporaryDirectory(prefix=f"sf_{mode}{denom}_") as dst:
        make_fuzzed_sf(dst, denom, groups=groups)
        unit = "groups per column" if groups else "cells"
        print(f"fuzzed copy at {dst} (~1/{denom} {unit} nulled)")

        from tests.oracle_check import compare_query

        spark = session("null-fuzz-sweep", 16)
        return sweep(
            f"NULL-FUZZ SWEEP (denom={denom}{', groups' if groups else ''})",
            select(pats, oracle_only=True),
            lambda name: compare_query(spark, dst, name),
        )


if __name__ == "__main__":
    sys.exit(main())
