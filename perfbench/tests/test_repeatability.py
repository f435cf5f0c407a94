"""Two traced runs of one seed give identical Spark and lake counts.

The traced run executes a fixed op sequence, so these counts are exact
properties of the program on that seed, not of the box. Run from the
repository root (each traced run takes about a minute):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
COUNTS = (
    "exec.jobs", "exec.stages", "plans.build_jobs", "readers.jobs",
    "lake.commits", "lake.files_added",
)


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"], result
    return {k: result["metrics"][k]["value"] for k in COUNTS}


@pytest.mark.parametrize("workload", ["reports", "etl", "corpus"])
def test_traced_counts_repeat(workload):
    first = _traced(workload, seed=7)
    assert first["exec.jobs"] > 0 and first["readers.jobs"] > 0
    assert _traced(workload, seed=7) == first
