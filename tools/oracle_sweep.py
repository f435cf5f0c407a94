"""Full-registry DuckDB-oracle sweep at an arbitrary scale factor.

Replicates the driver's correctness gate over EVERY registry entry (the
driver itself evaluates only a ~50-entry prefix per round; this closes
the evidentiary gap locally), in the driver's ``ordered_registry()``
order, so an entry leaning on state a neighbour left behind fails here
as it would there. Usage:

    python tools/oracle_sweep.py [sf_dir] [name ...]   # default sf0.01

Prints one line per entry and a final tally; exit code 1 on any fail.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from olist_data_warehouse_spark.plans.queries import ordered_registry
from tests.oracle_check import compare_query


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName("oracle-sweep")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    t0 = time.time()
    fails = []
    names = list(ordered_registry())
    if len(sys.argv) > 2:  # optional name filters
        want = set(sys.argv[2:])
        unknown = want - set(names)
        if unknown:
            print(f"unknown names: {sorted(unknown)}")
            return 1
        names = [n for n in names if n in want]
    for i, name in enumerate(names, 1):
        t = time.time()
        try:
            ok, detail = compare_query(spark, sf_dir, name)
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
        f"\nSWEEP {len(names) - len(fails)}/{len(names)} pass"
        f" in {time.time() - t0:.0f}s at {sf_dir}"
    )
    for name, detail in fails:
        print(f"  FAIL {name}: {detail}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
