"""UPDATE ... SET ... WHERE on the lake format, both modes.

Pins the public Delta UPDATE contract re-expressed Spark-first:
``update_where`` is file-granular copy-on-write by default (only files
containing matches rewrite; all assignments evaluate against the
ORIGINAL row in one projection) and merge-on-read with ``mode='dv'``
(matched rows dv-deleted + post-images appended in ONE atomic commit,
zero existing files rewritten). CDF replays pre-images as -1 and
post-images as +1; vacuum keeps standalone post-image files while
their commit is retained; type drift is rejected before staging.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources.lakehouse import LakeTable

pytestmark = pytest.mark.usefixtures("spark")


def _mk(spark, path, n=1000, files=4, cdf=False, mod=10):
    df = spark.range(n).withColumn("v", (F.col("id") % mod).cast("long"))
    return LakeTable.create(
        df.repartitionByRange(files, "id"), path, cdf=cdf
    )


def _sig(t: LakeTable) -> dict[str, tuple]:
    return {
        p: (
            os.path.getsize(os.path.join(t.path, p)),
            os.path.getmtime(os.path.join(t.path, p)),
        )
        for p in t._state()["files"]
    }


def test_update_rewrite_is_file_granular(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=1000, files=4)
    before = _sig(t)
    # ids 0..99 live in file 1 of the 4 range partitions only
    r = t.update_where(
        spark, F.col("id") < 100, {"v": F.lit(-1).cast("long")}
    )
    assert r["rows_updated"] == 100
    assert r["files_rewritten"] == 1
    assert r["files_kept"] == 3
    after = _sig(t)
    # the 3 untouched files are byte-identical and shared by reference
    assert len(set(before) & set(after)) == 3
    for p in set(before) & set(after):
        assert before[p] == after[p]
    got = t.read(spark)
    assert got.where(F.col("v") == -1).count() == 100
    assert got.where((F.col("id") < 100) & (F.col("v") != -1)).count() == 0
    assert got.count() == 1000


def test_update_assignments_see_original_row(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10, 20), (2, 30, 40)], "id long, a long, b long"
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    # SET a=b, b=a must SWAP (both read the pre-update row)
    t.update_where(
        spark, F.col("id") == 1, {"a": F.col("b"), "b": F.col("a")}
    )
    rows = {r["id"]: (r["a"], r["b"]) for r in t.read(spark).collect()}
    assert rows == {1: (20, 10), 2: (30, 40)}


def test_update_null_predicate_rows_untouched(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None), (2, 5), (3, 50)], "id long, x long"
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    r = t.update_where(spark, F.col("x") > 10, {"x": F.lit(0).cast("long")})
    assert r["rows_updated"] == 1  # only id=3; NULL comparison is NULL
    rows = {r["id"]: r["x"] for r in t.read(spark).collect()}
    assert rows == {1: None, 2: 5, 3: 0}


def test_update_type_drift_rejected_before_staging(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=100, files=1)
    v0 = t.version()
    with pytest.raises(ValueError, match="type mismatch"):
        t.update_where(spark, F.col("id") < 10, {"v": F.lit("oops")})
    assert t.version() == v0  # nothing committed
    assert t.read(spark).where(F.col("v").isNull()).count() == 0


def test_update_validation(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=10, files=1)
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(spark, F.lit(True), {"nope": F.lit(1)})
    with pytest.raises(ValueError, match="at least one column"):
        t.update_where(spark, F.lit(True), {})
    with pytest.raises(ValueError, match="mode"):
        t.update_where(spark, F.lit(True), {"v": F.lit(0)}, mode="zap")


def test_update_dv_rewrites_nothing(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=1000, files=4)
    before = _sig(t)
    r = t.update_where(
        spark,
        F.col("v") == 7,
        {"v": F.lit(-7).cast("long")},
        mode="dv",
    )
    assert r["rows_updated"] == 100
    assert r["files_rewritten"] == 0
    # every pre-existing data file byte-identical; post-images are NEW
    after = _sig(t)
    for p in before:
        assert after[p] == before[p]
    assert len(after) > len(before)
    got = t.read(spark)
    assert got.count() == 1000
    assert got.where(F.col("v") == 7).count() == 0
    assert got.where(F.col("v") == -7).count() == 100


def test_update_dv_is_cumulative_on_live_view(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=1000, files=4)
    t.delete_where(spark, F.col("v") == 3, mode="dv")
    # dv-deleted rows must not re-match the update
    r = t.update_where(
        spark,
        F.col("id") < 500,
        {"v": F.lit(-1).cast("long")},
        mode="dv",
    )
    assert r["rows_updated"] == 450  # 500 minus the 50 deleted (v==3)
    got = t.read(spark)
    assert got.count() == 900
    assert got.where(F.col("v") == 3).count() == 0
    assert got.where(F.col("v") == -1).count() == 450


def test_update_relocates_partition_rows(spark, tmp_path):
    df = spark.range(100).withColumn(
        "bucket", F.when(F.col("id") < 50, "a").otherwise("b")
    )
    t = LakeTable.create(
        df, str(tmp_path / "t"), partition_by=["bucket"]
    )
    r = t.update_where(
        spark, F.col("id") < 10, {"bucket": F.lit("c")}
    )
    assert r["rows_updated"] == 10
    got = t.read(spark)
    assert got.where(F.col("bucket") == "c").count() == 10
    assert got.where(F.col("bucket") == "a").count() == 40
    # the relocated rows physically live under the new partition dir
    assert any(
        "bucket=c" in p for p in t._state()["files"]
    ), sorted(t._state()["files"])
    # partition pruning still exact after the relocation
    assert (
        t.read(spark, prune=[("bucket", "=", "c")])
        .where(F.col("bucket") == "c")
        .count()
        == 10
    )


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_update_cdf_replays_delete_plus_insert(spark, tmp_path, mode):
    t = _mk(spark, str(tmp_path / f"t_{mode}"), n=400, files=2, cdf=True)
    v0 = t.version()
    t.update_where(
        spark, F.col("v") == 1, {"v": F.lit(100).cast("long")}, mode=mode
    )
    ch, _ = t.read_changes_since(spark, v0)
    dels = ch.where(F.col("_change_type") == "delete")
    ins = ch.where(F.col("_change_type") == "insert")
    assert dels.count() == 40 and ins.count() == 40
    assert dels.where(F.col("v") != 1).count() == 0  # pre-images
    assert ins.where(F.col("v") != 100).count() == 0  # post-images
    # folding the signed deltas over v0 reproduces the current table
    base = t.read(spark, version=v0)
    signed = ch.withColumn(
        "_s",
        F.when(F.col("_change_type") == "insert", 1).otherwise(-1),
    )
    folded = (
        base.withColumn("_s", F.lit(1))
        .unionByName(signed.select("id", "v", "_s"))
        .groupBy("id", "v")
        .agg(F.sum("_s").alias("_n"))
        .where(F.col("_n") > 0)
        .drop("_n")
    )
    assert folded.exceptAll(t.read(spark)).count() == 0
    assert t.read(spark).exceptAll(folded).count() == 0


def test_update_streaming_cdf_carries_update(spark, tmp_path):
    from olist_data_warehouse_spark.sources.lakehouse import _cdf_pairs

    t = _mk(spark, str(tmp_path / "t"), n=100, files=1, cdf=True)
    t.update_where(spark, F.col("v") == 0, {"v": F.lit(9).cast("long")})
    c = t._read_commit(t.version())
    kinds = [k for k, _ in _cdf_pairs(c)]
    assert kinds.count("delete") >= 1 and kinds.count("insert") >= 1


def test_update_without_cdf_blocks_feed(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=100, files=1, cdf=False)
    v0 = t.version()
    t.update_where(spark, F.col("v") == 0, {"v": F.lit(9).cast("long")})
    with pytest.raises(ValueError, match="cdf"):
        t.read_changes_since(spark, v0)


def test_update_time_travel_reads_pre_update(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=200, files=2)
    v0 = t.version()
    t.update_where(spark, F.col("v") == 2, {"v": F.lit(-2).cast("long")})
    old = t.read(spark, version=v0)
    assert old.where(F.col("v") == 2).count() == 20
    assert old.where(F.col("v") == -2).count() == 0


def test_update_prune_skips_clean_files(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=1000, files=4)
    # range-clustered on id: the prune proves only 1 of 4 candidates
    r = t.update_where(
        spark,
        F.col("id") < 100,
        {"v": F.lit(-1).cast("long")},
        prune=("id", "<", 100),
    )
    assert r["files_rewritten"] == 1 and r["files_kept"] == 3
    assert t.read(spark).where(F.col("v") == -1).count() == 100


def test_vacuum_keeps_update_postimages_for_kept_commits(
    spark, tmp_path
):
    t = _mk(spark, str(tmp_path / "t"), n=200, files=2, cdf=True)
    t.update_where(spark, F.col("v") == 1, {"v": F.lit(9).cast("long")})
    c = t._read_commit(t.version())
    post = {f["path"] for f in c["cdf_insert"]}
    pre = {f["path"] for f in c["cdf_delete"]}
    removed = t.vacuum(retention_seconds=0, keep_versions=2, force=True)
    for p in post | pre:
        assert p not in removed, f"vacuum reclaimed CDF image {p}"
        assert os.path.exists(os.path.join(t.path, p))


def test_update_matches_nothing_is_cheap(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=100, files=2)
    n_files = len(t._state()["files"])
    for mode in ("rewrite", "dv"):
        r = t.update_where(
            spark, F.col("v") == 999, {"v": F.lit(0).cast("long")},
            mode=mode,
        )
        assert r["rows_updated"] == 0 and r["files_rewritten"] == 0
        assert len(t._state()["files"]) == n_files
