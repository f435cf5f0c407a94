"""Deletion vectors (merge-on-read DELETE) on the lake format.

Pins the public Delta DV contract (VLDB 2023), re-expressed
Spark-first: ``delete_where(mode='dv')`` writes parquet index sidecars
and ZERO data files; every read path (snapshot, time travel, batch
DataSource, CDF, clone) anti-joins the vectors out; mutators match on
the LIVE view so repeated deletes are cumulative and exact; compact
materializes vectors away; vacuum retains sidecars exactly as long as
a retained or pinned version references them.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources import lakebatch
from olist_data_warehouse_spark.sources.lakehouse import LakeTable

pytestmark = pytest.mark.usefixtures("spark")


def _mk(spark, path, n=1000, files=4, cdf=False, mod=10):
    df = spark.range(n).withColumn("v", F.col("id") % mod)
    return LakeTable.create(
        df.repartitionByRange(files, "id"), path, cdf=cdf
    )


def _data_files(t: LakeTable) -> set[str]:
    return {
        os.path.join(t.path, p): os.path.getmtime(os.path.join(t.path, p))
        for p in t._state()["files"]
    }


def test_dv_delete_rewrites_nothing(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    before = _data_files(t)
    r = t.delete_where(spark, F.col("v") == 3, mode="dv")
    assert r["files_rewritten"] == 0
    assert r["rows_deleted"] == 100
    # the exact same data files, byte-untouched (mtime unchanged)
    assert _data_files(t) == before
    got = t.read(spark)
    assert got.count() == 900
    assert got.where(F.col("v") == 3).count() == 0


def test_dv_deletes_are_cumulative_and_idempotent(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete_where(spark, F.col("v") == 3, mode="dv")
    r2 = t.delete_where(spark, F.col("v") == 5, mode="dv")
    assert r2["rows_deleted"] == 100
    # same predicate again: the match scan runs on the LIVE view, so
    # already-deleted rows can never re-match or double-count
    r3 = t.delete_where(spark, F.col("v") == 5, mode="dv")
    assert r3["rows_deleted"] == 0
    assert t.read(spark).count() == 800
    d = t.detail()
    assert d["rows"] == 800
    assert d["dv_deleted"] == 200


def test_dv_time_travel_reads_pre_delete_versions(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete_where(spark, F.col("v") == 3, mode="dv")
    t.delete_where(spark, F.col("v") == 5, mode="dv")
    assert t.read(spark, version=0).count() == 1000
    assert t.read(spark, version=1).count() == 900
    assert t.read(spark, version=2).count() == 800


def test_dv_null_predicate_rows_survive(spark, tmp_path):
    df = spark.range(100).withColumn(
        "v", F.when(F.col("id") % 3 == 0, F.col("id") % 7)
    )
    t = LakeTable.create(df, str(tmp_path / "t"))
    t.delete_where(spark, F.col("v") == 0, mode="dv")
    got = t.read(spark)
    # NULL-predicate rows survive (SQL three-valued logic): only the 5
    # v=0 rows (ids 0,21,42,63,84) are deleted; all 66 NULL rows stay
    assert got.where(F.col("v").isNull()).count() == 66
    assert got.where(F.col("v") == 0).count() == 0
    assert got.count() == 95


def test_cow_delete_and_merge_respect_existing_dvs(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.delete_where(spark, F.col("v") == 3, mode="dv")
    # COW delete on the dv'd table: survivors keep the dv'd rows out
    r = t.delete_where(spark, F.col("v") == 7)
    assert r["rows_deleted"] == 100
    assert t.read(spark).count() == 800
    # merge updates only LIVE rows; dv'd keys do not resurrect
    src = (
        spark.range(1000)
        .where(F.col("id") % 10 == 1)
        .withColumn("v", F.lit(99).cast("long"))
    )
    m = t.merge_into(spark, src, keys=["id"])
    assert m["rows_matched"] == 100
    got = t.read(spark)
    assert got.count() == 800
    assert got.where(F.col("v") == 99).count() == 100
    assert got.where(F.col("v") == 3).count() == 0


def test_apply_changes_on_dv_table(spark, tmp_path):
    t = LakeTable.create(
        spark.range(100).withColumn("v", F.col("id") % 4).repartition(4),
        str(tmp_path / "t"),
    )
    t.delete_where(spark, F.col("id") >= 90, mode="dv")
    src = (
        spark.range(20)
        .withColumn("v", F.lit(50).cast("long"))
        .withColumn(
            "_op",
            F.when(F.col("id") < 10, F.lit("u")).otherwise(F.lit("d")),
        )
    )
    t.apply_changes(spark, src, keys=["id"])
    got = t.read(spark)
    assert got.count() == 80
    assert got.where(F.col("v") == 50).count() == 10


def test_compact_materializes_dvs_away(spark, tmp_path):
    t = LakeTable.create(
        spark.range(500).withColumn("v", F.col("id") % 5).repartition(6),
        str(tmp_path / "t"),
    )
    t.delete_where(spark, F.col("v") == 0, mode="dv")
    assert any(m.get("dv") for m in t._state()["files"].values())
    t.compact(spark, target_file_bytes=10**7)
    # REORG...APPLY(PURGE) role: the rewrite drops every dv reference
    assert not any(m.get("dv") for m in t._state()["files"].values())
    assert t.read(spark).count() == 400


def test_checkpoint_roundtrips_dv_metadata(spark, tmp_path):
    t = LakeTable.create(
        spark.range(200).withColumn("v", F.col("id") % 2),
        str(tmp_path / "t"),
    )
    t.delete_where(spark, F.col("v") == 0, mode="dv")
    for _ in range(9):
        t.append(spark.range(10).withColumn("v", F.lit(1).cast("long")))
    assert t.version() == 10  # parquet checkpoint written here
    st = t._state()  # resolved FROM the checkpoint
    assert any(m.get("dv") for m in st["files"].values())
    assert t.read(spark).count() == 190


def test_vacuum_keeps_then_reclaims_dv_sidecars(spark, tmp_path):
    t = LakeTable.create(
        spark.range(100).withColumn("v", F.col("id") % 2),
        str(tmp_path / "t"),
    )
    t.delete_where(spark, F.col("v") == 0, mode="dv")
    t.append(spark.range(5).withColumn("v", F.lit(1).cast("long")))
    # dv referenced by the current version: never reclaimed
    removed = t.vacuum(keep_versions=1, retention_seconds=0, force=True)
    assert not any("dv-" in p for p in removed)
    assert t.read(spark).count() == 55
    # compact materializes the dv; afterwards the sidecar ages out
    t.compact(spark, target_file_bytes=10**7)
    removed = t.vacuum(keep_versions=1, retention_seconds=0, force=True)
    assert any("dv-" in p for p in removed)
    assert t.read(spark).count() == 55


def test_clone_shares_dv_and_diverges(spark, tmp_path):
    src = LakeTable.create(
        spark.range(100).withColumn("v", F.col("id") % 2),
        str(tmp_path / "src"),
    )
    src.delete_where(spark, F.col("v") == 1, mode="dv")
    clone = src.clone_shallow(str(tmp_path / "clone"))
    assert clone.read(spark).count() == 50
    clone.delete_where(spark, F.col("id") < 10, mode="dv")
    assert clone.read(spark).count() == 45
    assert src.read(spark).count() == 50  # source untouched


def test_cdf_replays_dv_deletes_and_remove_dv(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=100, files=2, cdf=True, mod=2)
    t.delete_where(spark, F.col("v") == 1, mode="dv")  # v1: -50
    t.overwrite(
        spark.range(3).withColumn("v", F.lit(0).cast("long"))
    )  # v2: -50 live (NOT -100 raw), +3
    ch, _ = t.read_changes_since(spark, 0)
    per = {
        (r["_change_type"], r["_commit_version"]): r["count"]
        for r in ch.groupBy("_change_type", "_commit_version")
        .count()
        .collect()
    }
    assert per == {
        ("delete", 1): 50,
        ("delete", 2): 50,
        ("insert", 2): 3,
    }, per


def test_rollback_past_dv_delete_resurrects_exactly(spark, tmp_path):
    t = LakeTable.create(
        spark.range(100).withColumn("v", F.col("id") % 4),
        str(tmp_path / "t"),
        cdf=True,
    )
    t.delete_where(spark, F.col("v") == 2, mode="dv")  # v1: -25
    t.rollback(0)  # v2: +25 back
    assert t.read(spark).count() == 100
    ch, _ = t.read_changes_since(spark, 0)
    per = {
        (r["_change_type"], r["_commit_version"]): r["count"]
        for r in ch.groupBy("_change_type", "_commit_version")
        .count()
        .collect()
    }
    # the rollback's delta is exactly the resurrected rows: the raw
    # file replays dv-filtered on the remove side (-75 live) and
    # restored on the add side (+100 at the old meta)
    assert per == {
        ("delete", 1): 25,
        ("delete", 2): 75,
        ("insert", 2): 100,
    }, per


def test_batch_datasource_applies_dvs(spark, tmp_path):
    lakebatch.register(spark)
    p = str(tmp_path / "t")
    t = _mk(spark, p, cdf=True)
    t.delete_where(spark, F.col("v") == 3, mode="dv")
    got = spark.read.format("lake").option("path", p).load()
    assert got.count() == 900
    assert got.where(F.col("v") == 3).count() == 0
    # pushdown pruning composes with the dv mask
    sel = (
        spark.read.format("lake")
        .option("path", p)
        .load()
        .where(F.col("id") < 250)
    )
    assert sel.count() == 225
    # version time travel reads the pre-delete snapshot raw
    v0 = (
        spark.read.format("lake")
        .option("path", p)
        .option("version", "0")
        .load()
    )
    assert v0.count() == 1000
    # cdf mode replays the dv delete as -1 rows
    cdf = (
        spark.read.format("lake")
        .option("path", p)
        .option("mode", "cdf")
        .option("since", "0")
        .load()
    )
    agg = {
        r["_change_type"]: r["count"]
        for r in cdf.groupBy("_change_type").count().collect()
    }
    assert agg == {"delete": 100}


def test_partitioned_dv_delete_and_drop(spark, tmp_path):
    p = str(tmp_path / "t")
    df = (
        spark.range(400)
        .withColumn("r", (F.col("id") % 4).cast("int"))
        .withColumn("v", F.col("id") % 5)
    )
    t = LakeTable.create(df, p, partition_by=["r"], cdf=True)
    r = t.delete_where(spark, F.col("v") == 0, mode="dv")
    assert r["files_rewritten"] == 0
    assert r["rows_deleted"] == 80
    assert t.read(spark).count() == 320
    lakebatch.register(spark)
    got = spark.read.format("lake").option("path", p).load()
    assert got.count() == 320
    assert got.where(F.col("r").isNull()).count() == 0
    # metadata-only partition drop on dv'd files: CDF replays the
    # partition's LIVE rows (100 raw minus 20 dv'd)
    t.drop_partitions({"r": 1})
    ch, _ = t.read_changes_since(spark, 1)
    per = {
        (r["_change_type"], r["_commit_version"]): r["count"]
        for r in ch.groupBy("_change_type", "_commit_version")
        .count()
        .collect()
    }
    assert per == {("delete", 2): 80}, per
    assert t.read(spark).count() == 240


def test_dv_mode_validation(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=10)
    with pytest.raises(ValueError, match="mode"):
        t.delete_where(spark, F.col("v") == 0, mode="bitmap")


def test_merge_dv_zero_rewrite(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=1000, files=4)
    before = _data_files(t)
    src = spark.createDataFrame(
        [(5, -5), (105, -105), (2000, 1)], "id long, v long"
    )
    r = t.merge_into(spark, src, ["id"], mode="dv")
    assert r["files_rewritten"] == 0
    assert r["rows_matched"] == 2 and r["rows_source"] == 3
    # every pre-existing data file untouched
    after = _data_files(t)
    for p in before:
        assert after[p] == before[p]
    got = t.read(spark)
    assert got.count() == 1001
    rows = {r["id"]: r["v"] for r in got.where(
        F.col("id").isin(5, 105, 2000)).collect()}
    assert rows == {5: -5, 105: -105, 2000: 1}


def test_merge_dv_keep_mode_rewrites_nothing(spark, tmp_path):
    """An insert-only keep merge changes no target row, so dv mode is
    the same commit as rewrite mode: zero files rewritten, no vectors,
    only the unmatched source rows land."""
    src = spark.createDataFrame([(1, 100), (50, 5)], "id long, v long")
    got = {}
    for mode in ("rewrite", "dv"):
        t = _mk(spark, str(tmp_path / mode), n=10, files=1)
        before = _data_files(t)
        r = t.merge_into(spark, src, ["id"], when_matched="keep", mode=mode)
        assert r["rows_matched"] == 1 and r["files_rewritten"] == 0
        assert _data_files(t).items() >= before.items()
        assert all(not m.get("dv") for m in t._state()["files"].values())
        got[mode] = sorted(tuple(x) for x in t.read(spark).collect())
    assert got["rewrite"] == got["dv"]
    assert (1, 1) in got["dv"] and (50, 5) in got["dv"]


def test_merge_dv_cdf_fold_parity(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=200, files=2, cdf=True)
    v0 = t.version()
    src = spark.createDataFrame(
        [(1, 111), (300, 3)], "id long, v long"
    )
    t.merge_into(spark, src, ["id"], mode="dv")
    ch, _ = t.read_changes_since(spark, v0)
    dels = ch.where(F.col("_change_type") == "delete")
    ins = ch.where(F.col("_change_type") == "insert")
    assert dels.count() == 1 and ins.count() == 2
    assert dels.collect()[0]["id"] == 1
    base = t.read(spark, version=v0)
    signed = ch.withColumn(
        "_s", F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
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


def test_merge_dv_over_prior_dv_delete(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=100, files=2)
    t.delete_where(spark, F.col("id") == 7, mode="dv")
    src = spark.createDataFrame([(7, 70)], "id long, v long")
    r = t.merge_into(spark, src, ["id"], mode="dv")
    # the dv-deleted row no longer exists -> the source row INSERTS
    assert r["rows_matched"] == 0
    got = t.read(spark)
    assert got.where(F.col("id") == 7).count() == 1
    assert got.where(F.col("id") == 7).collect()[0]["v"] == 70
    assert got.count() == 100  # 99 survivors + 1 insert


def test_apply_changes_dv_zero_rewrite(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=100, files=2, cdf=True)
    before = _data_files(t)
    v0 = t.version()
    src = spark.createDataFrame(
        [(1, 111, "u"), (2, None, "d"), (500, 5, "u")],
        "id long, v long, _op string",
    )
    r = t.apply_changes(spark, src, ["id"], mode="dv")
    assert r["files_rewritten"] == 0
    assert r["rows_upserts"] == 2 and r["rows_deletes"] == 1
    assert r["rows_matched"] == 2  # ids 1 and 2 existed; 500 is new
    after = _data_files(t)
    for p in before:
        assert after[p] == before[p]
    got = t.read(spark)
    # 100 - 2 dv'd (deleted id=2, updated id=1) + 2 upserts (1, 500)
    assert got.count() == 100
    rows = {x["id"]: x["v"] for x in got.where(
        F.col("id").isin(1, 2, 500)).collect()}
    assert rows == {1: 111, 500: 5}
    # CDF fold parity across the dv CDC apply
    ch, _ = t.read_changes_since(spark, v0)
    base = t.read(spark, version=v0)
    signed = ch.withColumn(
        "_s", F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    )
    folded = (
        base.withColumn("_s", F.lit(1))
        .unionByName(signed.select("id", "v", "_s"))
        .groupBy("id", "v")
        .agg(F.sum("_s").alias("_n"))
        .where(F.col("_n") > 0)
        .drop("_n")
    )
    assert folded.exceptAll(got).count() == 0
    assert got.exceptAll(folded).count() == 0
