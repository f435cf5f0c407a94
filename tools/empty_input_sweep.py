"""Degenerate-input robustness sweep: every registry entry against
0-row (default) or first-k-row tables.

A 100 TB pipeline sees degenerate inputs constantly — a fresh
partition, a filtered-to-nothing day, a cold-start table, a group of
size 1. Every registered plan should either return an empty (or
correctly-degenerate) result or fail with one of its own documented
ValueError guards — never an opaque runtime crash. This sweep
materializes a schema-identical k-row copy of every testdata table
(k=0 by default; preserving the events nanos-timestamp quirk by
copying the arrow schema byte-for-byte; k>0 slices the first k rows so
values stay realistic) and runs the full registry against it. Usage:

    python tools/empty_input_sweep.py [k_rows] [name_substring ...]

Prints one line per entry in the driver's order (``ok`` with its rows
or guard message, ``FAIL`` with the crash) and exits 1 on any crash.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq
from oracle_sweep import select, session, sweep

from olist_data_warehouse_spark.plans.queries import REGISTRY

SF_SRC = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def make_sliced_sf(dst: str, k: int) -> None:
    for t in TABLES:
        src = os.path.join(SF_SRC, f"{t}.parquet")
        if k <= 0:
            schema = pq.read_schema(src)
            out = pa.Table.from_arrays(
                [pa.array([], type=f.type) for f in schema], schema=schema
            )
        else:
            out = pq.read_table(src).slice(0, k)
        pq.write_table(out, os.path.join(dst, f"{t}.parquet"))


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    with tempfile.TemporaryDirectory(prefix=f"sf_deg{k}_") as dst:
        make_sliced_sf(dst, k)
        spark = session("empty-input-sweep", 8)

        def check(name: str) -> tuple[bool, str]:
            try:
                return True, f"{len(REGISTRY[name].fn(spark, dst).collect())} rows"
            except ValueError as e:
                # An explicit guard raising its documented error is a
                # designed outcome, not a robustness failure.
                return True, f"guard: {e}"

        # optional name filter: positional args after k are substrings —
        # run only matching entries (new-entry battery without a full sweep)
        return sweep(f"EMPTY-INPUT SWEEP (k={k})", select(sys.argv[2:]), check)


if __name__ == "__main__":
    sys.exit(main())
