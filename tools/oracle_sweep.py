"""Full-registry DuckDB-oracle sweep at an arbitrary scale factor.

Replicates the driver's correctness gate over EVERY registry entry (the
driver itself evaluates only a ~50-entry prefix per round; this closes
the evidentiary gap locally), in the driver's ``ordered_registry()``
order, so an entry leaning on state a neighbour left behind fails here
as it would there. Usage:

    python tools/oracle_sweep.py [sf_dir] [name ...]   # default sf0.01

Prints one line per entry and a final tally; exit code 1 on any fail.
The fuzz and degenerate-input sweeps (``null_fuzz_sweep.py``,
``unicode_fuzz_sweep.py``, ``empty_input_sweep.py``) run through this
module's :func:`select`, :func:`session` and :func:`sweep` too.
"""

from __future__ import annotations

import os
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from olist_data_warehouse_spark.plans.queries import ordered_registry


def select(pats: list[str], oracle_only: bool = False) -> list[str]:
    """Registry names in ``ordered_registry()`` order: those naming any
    of the substrings ``pats`` (every name when none are given), and
    with ``oracle_only`` only the entries paired with a DuckDB oracle."""
    return [
        n for n, rq in ordered_registry().items()
        if (not pats or any(p in n for p in pats))
        and (rq.oracle is not None or not oracle_only)
    ]


def session(app: str, shuffle_partitions: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )


def sweep(
    title: str, names: list[str], check: Callable[[str], tuple[bool, str]]
) -> int:
    """Run ``check(name) -> (ok, detail)`` over ``names`` in order: one
    line per entry (an exception is a fail), then the tally and every
    fail. Returns the exit code, 1 on any fail."""
    t0 = time.time()
    fails = []
    for i, name in enumerate(names, 1):
        t = time.time()
        try:
            ok, detail = check(name)
        except Exception as e:  # noqa: BLE001 - report and continue
            ok, detail = False, f"EXC {type(e).__name__}: {e}"
        status = "ok" if ok else "FAIL"
        print(
            f"[{i:3d}/{len(names)}] {status:4s} {name:40s}"
            f" {time.time() - t:6.2f}s  {detail[:120]}",
            flush=True,
        )
        if not ok:
            fails.append((name, detail))
    print(
        f"\n{title}: {len(names) - len(fails)}/{len(names)} pass"
        f" in {time.time() - t0:.0f}s"
    )
    for name, detail in fails:
        print(f"  FAIL {name}: {detail}")
    return 1 if fails else 0


def main() -> int:
    from tests.oracle_check import compare_query

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = list(ordered_registry())
    if len(sys.argv) > 2:  # optional name filters
        want = set(sys.argv[2:])
        unknown = want - set(names)
        if unknown:
            print(f"unknown names: {sorted(unknown)}")
            return 1
        names = [n for n in names if n in want]
    spark = session("oracle-sweep", 32)
    return sweep(
        f"SWEEP at {sf_dir}",
        names,
        lambda name: compare_query(spark, sf_dir, name),
    )


if __name__ == "__main__":
    raise SystemExit(main())
