"""Tracing overhead: the traced run's op medians against the untraced run's.

    python3 perfbench/overhead.py --workload etl --seed 1 --seconds 20

Runs ``run.py`` once with ``--trace 0`` and once with ``--trace 1`` on
the same seed and prints, per op class, both medians and their ratio
minus one. The traced ops also pay for the direct reader calls, the
forced planning and the status-store reads that produce the per-layer
numbers, so the overhead bounds how far those numbers may be read as
shares of the untraced latencies.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> list[dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True, timeout=600,
    ).stdout
    return [json.loads(line) for line in out.strip().splitlines()[-2:]]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    args = p.parse_args()
    (plain, _), (_, traced) = _run(args, 0), _run(args, 1)
    report = {}
    for cls in ("mech", "bypass"):
        a = plain["info"]["latency"][f"{cls}_op_s"]
        b = traced["metrics"][f"trace.{cls}_op_s"]["value"]
        report[cls] = {"untraced_op_s": a, "traced_op_s": b, "overhead": b / a - 1}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
