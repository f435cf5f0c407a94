"""Cross-PROCESS optimistic-concurrency race over one lake table.

The entire ACID claim of the log format rests on the O_EXCL
``os.link`` gate in ``LakeTable._write_commit``
(sources/lakehouse.py): two writers racing the same version number
must conflict loudly, and ``with_occ_retry`` must serialize the loser
AFTER the winner. In-process races (test_lakehouse.py) exercise the
retry loop but share one Python process; this file races REAL
processes — separate interpreters, separate file handles — which is
what multi-writer mode actually means. Commit writers are
plain-Python (no Spark session per process): the gate is pure
filesystem, so metadata commits race it exactly as data commits do.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from olist_data_warehouse_spark.sources.lakehouse import LakeTable

REPO = Path(__file__).resolve().parents[1]

N_WORKERS = 4
COMMITS_PER_WORKER = 15

_WORKER_SRC = """
import sys
sys.path.insert(0, {repo!r})
from olist_data_warehouse_spark.sources.lakehouse import (
    LakeTable, with_occ_retry,
)

path, worker_id, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
t = LakeTable(path)
for i in range(n):
    def op():
        cur = t.version()  # NOT `or -1`: version 0 is falsy
        v = (cur if cur is not None else -1) + 1
        t._write_commit(
            v,
            {{"op": "append", "add": [], "remove": [],
              "writer": worker_id, "seq": i}},
        )
        return v
    # a hot 4-writer table needs far more than the default 5 attempts;
    # exhaustion here would fail the parent's commit-count assertion
    with_occ_retry(op, attempts=10_000)
print("done", worker_id)
"""


def test_cross_process_occ_exactly_one_winner_per_version(tmp_path):
    path = str(tmp_path / "raced")
    t = LakeTable(path)
    t._write_commit(0, {"op": "create", "add": [], "remove": [],
                        "schema": {"type": "struct", "fields": []}})

    script = tmp_path / "worker.py"
    script.write_text(_WORKER_SRC.format(repo=str(REPO)))
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), path, str(w),
             str(COMMITS_PER_WORKER)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for w in range(N_WORKERS)
    ]
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err.decode()[-2000:]

    total = N_WORKERS * COMMITS_PER_WORKER
    versions = t._commit_versions()
    # exactly N commits, versions contiguous with no gaps or extras
    assert versions == list(range(total + 1))
    # every (writer, seq) landed exactly once — nothing lost to a
    # race, nothing double-committed by a retry that had already won
    seen = set()
    for v in versions[1:]:
        c = t._read_commit(v)
        key = (c["writer"], c["seq"])
        assert key not in seen, f"double commit {key} at v{v}"
        seen.add(key)
    assert len(seen) == total
    # the log replays cleanly through the raced range (checkpoints
    # were written at every CHECKPOINT_EVERY-th version by the winner)
    state = t._state()
    assert state["version"] == total
    assert state["files"] == {}


def test_losing_append_leaves_no_orphans(spark, tmp_path):
    """A losing append attempt has already moved its staged files into
    data/; the lost O_EXCL gate unlinks them before the conflict reaches
    with_occ_retry, so the retry loop leaves no orphans. (Vacuum of
    unreferenced files is covered by test_lakehouse.py's
    test_vacuum_drops_unreferenced_files.)"""
    from pyspark.sql import functions as F

    from olist_data_warehouse_spark.sources.lakehouse import with_occ_retry

    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = LakeTable.create(df, str(tmp_path / "lake"))
    competitor = LakeTable(t.path)
    raced = {"done": False}
    real_write = t._write_commit

    def racing_write(v, commit):
        if not raced["done"]:
            raced["done"] = True
            competitor._write_commit(
                v, {"op": "append", "add": [], "remove": []}
            )
        return real_write(v, commit)

    t._write_commit = racing_write
    with_occ_retry(lambda: t.append(df))
    t._write_commit = real_write

    assert raced["done"]
    assert t.version() == 2  # the competitor's v1, the retried append
    assert _on_disk(t) == _referenced(t)
    assert t.read(spark).count() == 40


def test_racing_mutators_serialize_via_whole_op_retry(spark, tmp_path):
    """The documented contract for read-dependent mutators: wrap the
    WHOLE operation in with_occ_retry, so the loser recomputes against
    fresh state. Two concurrent delete_where calls must both apply —
    the end state equals both predicates regardless of commit order."""
    import threading

    from pyspark.sql import functions as F

    from olist_data_warehouse_spark.sources.lakehouse import with_occ_retry

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    t = LakeTable.create(base.repartition(4), str(tmp_path / "t"))
    errs = []

    def deleter(pred):
        try:
            handle = LakeTable(t.path)  # own handle, fresh state reads
            with_occ_retry(
                lambda: handle.delete_where(spark, pred), attempts=50
            )
        except Exception as e:  # noqa: BLE001 - surfaced via assert
            errs.append(e)

    threads = [
        threading.Thread(target=deleter, args=(F.col("k") < 30,)),
        threading.Thread(target=deleter, args=(F.col("k") >= 70,)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errs, errs
    got = t.read(spark)
    assert got.count() == 40
    assert {r["k"] for r in got.select("k").collect()} == set(range(30, 70))
    # three commits, contiguous — the loser retried as a NEW version
    assert t._commit_versions() == [0, 1, 2]


def test_worker_commit_payload_is_json_clean(tmp_path):
    # guard for the raced-commit shape: history() tolerates commits
    # carrying extra writer-audit keys
    path = str(tmp_path / "h")
    t = LakeTable(path)
    t._write_commit(0, {"op": "create", "add": [], "remove": [],
                        "schema": {"type": "struct", "fields": []}})
    t._write_commit(1, {"op": "append", "add": [], "remove": [],
                        "writer": 3, "seq": 0})
    hist = t.history()
    assert [h["op"] for h in hist] == ["create", "append"]
    assert json.loads(
        (Path(path) / "_log" / "00000001.json").read_text()
    )["writer"] == 3


def _referenced(t) -> set[str]:
    """Every data file some committed version names: data adds, CDF
    sides, and deletion-vector sidecars."""
    out: set[str] = set()
    for v in t._commit_versions():
        c = t._read_commit(v)
        for key in ("add", "cdf_delete", "cdf_insert", "dv"):
            for m in c.get(key, []):
                out.add(m["path"] if isinstance(m, dict) else m)
                if isinstance(m, dict) and m.get("dv"):
                    out |= set(m["dv"]["paths"])
    return out


def _on_disk(t) -> set[str]:
    return {
        os.path.relpath(os.path.join(root, n), t.path)
        for root, _d, names in os.walk(t.data_dir)
        for n in names
    }


def test_failed_sibling_staging_reclaims_attempt_files(spark, tmp_path):
    """A cdf=True update stages its rewrite, pre-images and post-images
    in one parallel batch. When one staging raises, the files its
    siblings already moved into data/ are unlinked: nothing the failed
    attempt wrote outlives it, and the table reads as before."""
    import threading

    import pytest
    from pyspark.sql import functions as F

    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    t = LakeTable.create(base.repartition(2), str(tmp_path / "t"), cdf=True)
    before = sorted(tuple(r) for r in t.read(spark).collect())
    real_stage = t._stage_files
    calls = {"n": 0}
    lock = threading.Lock()

    def flaky_stage(*a, **kw):
        with lock:
            calls["n"] += 1
            n = calls["n"]
        if n == 2:
            raise RuntimeError("staging job died")
        return real_stage(*a, **kw)

    t._stage_files = flaky_stage
    with pytest.raises(RuntimeError, match="staging job died"):
        t.update_where(spark, F.col("k") < 5, {"v": F.lit(0.0)})
    t._stage_files = real_stage
    assert calls["n"] == 3  # all three stagings ran; one raised
    assert t.version() == 0
    assert _on_disk(t) == _referenced(t)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before


def test_losing_mutation_reclaims_its_staged_files(spark, tmp_path):
    """A row mutation whose O_EXCL commit loses unlinks the files it
    staged before the conflict reaches with_occ_retry, so the retry
    loop leaves no orphans for vacuum — in both rewrite and dv mode,
    like the append above."""
    from pyspark.sql import functions as F

    from olist_data_warehouse_spark.sources.lakehouse import with_occ_retry

    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    t = LakeTable.create(base.repartition(2), str(tmp_path / "t"), cdf=True)
    competitor = LakeTable(t.path)
    raced = {"n": 0}
    real_write = t._write_commit

    def racing_write(v, commit):
        if raced["n"] < 2:  # lose once in each mode
            raced["n"] += 1
            competitor._write_commit(
                v, {"op": "append", "add": [], "remove": []}
            )
        return real_write(v, commit)

    t._write_commit = racing_write
    for mode, m in (("rewrite", 7), ("dv", 5)):
        with_occ_retry(
            lambda: t.delete_where(spark, F.col("k") % m == 0, mode=mode)
        )
    t._write_commit = real_write
    assert raced["n"] == 2
    assert _on_disk(t) == _referenced(t)
    # multiples of 7 (6 rows) or 5 (8 rows), 0 and 35 counted once
    assert t.read(spark).count() == 40 - 12


def test_sink_replay_race_reclaims_staged_files(spark, tmp_path):
    """A replica of the same app commits this (app, batch) between the
    foreachBatch sink's staging and its commit. The sink's commit loses
    the O_EXCL gate, re-checks the txn under fresh state, lands nothing
    and unlinks the files it staged."""
    from pyspark.sql import functions as F

    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    replica = LakeTable(t.path)
    real_stage = t._stage_files

    def racing_stage(*a, **kw):
        metas = real_stage(*a, **kw)
        replica.streaming_sink("app")(df, 0)  # the replica wins batch 0
        return metas

    t._stage_files = racing_stage
    t.streaming_sink("app")(df, 0)
    t._stage_files = real_stage
    assert t.version() == 1  # the replica's commit only
    assert t.last_txn_batch("app") == 0
    assert _on_disk(t) == _referenced(t)
    assert t.read(spark).count() == 40
