"""Process hygiene of the package: lake entries leave no scratch
behind, a cached warehouse does not outlive its testdata directory,
and in-entry contracts are not ``assert`` statements (which
``python -O`` strips, together with any work done inside them)."""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_scratch_root_removed_at_exit(tmp_path):
    """``_SCRATCH_ROOT`` is per-process; a process that built a lake
    table under it must not leave it behind when it exits."""
    child = (
        "import os\n"
        "from olist_data_warehouse_spark.plans import lake_queries as q\n"
        "d = q._fresh('hygiene', 'sf-probe')\n"
        "os.makedirs(d)\n"
        "open(os.path.join(d, 'part.parquet'), 'wb').write(b'x')\n"
        "print(q._SCRATCH_ROOT)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", child],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    root = out.stdout.strip().splitlines()[-1]
    assert root.startswith(str(tmp_path)), root
    assert not os.path.exists(root)


def test_star_cache_of_a_deleted_sf_dir_is_swept(spark, sf_dir, tmp_path):
    """``warehouse_tables`` caches each build under ``.cache/star_*``;
    once the build's ``sf_dir`` is deleted the key can never be hit
    again, so the next call removes it whatever its age."""
    from olist_data_warehouse_spark.plans.queries import warehouse_tables

    cache = REPO / ".cache"
    before = set(os.listdir(cache)) if cache.is_dir() else set()
    copy = tmp_path / "sf_copy"
    shutil.copytree(sf_dir, copy)
    warehouse_tables(spark, str(copy))
    built = {d for d in os.listdir(cache) if d.startswith("star_")} - before
    assert len(built) == 1
    shutil.rmtree(copy)
    warehouse_tables(spark, sf_dir)
    assert not built & set(os.listdir(cache))


def test_no_assert_statements_in_package():
    pkg = REPO / "olist_data_warehouse_spark"
    found = [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Assert)
    ]
    assert found == []
