"""CHECK constraints on the lake format (Delta's ALTER TABLE ADD
CONSTRAINT contract): add validates existing data, every row-writing
path fails atomically on violation, NULL evaluations PASS (SQL
standard three-valued CHECK), metadata-only ``alter`` commits are
invisible to both change feeds, and the constraint rides config into
checkpoints and shallow clones.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources.lakehouse import LakeTable

pytestmark = pytest.mark.usefixtures("spark")


def _mk(spark, path, n=100, cdf=False):
    df = spark.range(n).withColumn("v", (F.col("id") % 10).cast("long"))
    return LakeTable.create(df.coalesce(2), path, cdf=cdf)


def _batch(spark, ids_vs):
    return spark.createDataFrame(ids_vs, "id long, v long")


def test_add_constraint_validates_existing_data(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.version()
    with pytest.raises(ValueError, match="over existing rows"):
        t.add_constraint(spark, "v_small", "v < 5")
    assert t.version() == v0
    assert t.constraints() == {}
    t.add_constraint(spark, "v_bounded", "v >= 0 AND v < 10")
    assert t.constraints() == {"v_bounded": "v >= 0 AND v < 10"}


def test_append_rejects_violations_atomically(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    v0 = t.version()
    with pytest.raises(ValueError, match="v_nonneg"):
        t.append(_batch(spark, [(1000, 1), (1001, -1)]))
    assert t.version() == v0
    assert t.read(spark).where(F.col("v") < 0).count() == 0
    t.append(_batch(spark, [(1000, 1), (1001, 2)]))
    assert t.read(spark).count() == 102


def test_null_evaluations_pass(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    # NULL >= 0 is NULL -> PASSES (SQL standard CHECK); NOT NULL rules
    # are spelled explicitly
    t.append(_batch(spark, [(2000, None)]))
    assert t.read(spark).where(F.col("v").isNull()).count() == 1
    t.add_constraint(spark, "id_not_null", "id IS NOT NULL")
    with pytest.raises(ValueError, match="id_not_null"):
        t.append(_batch(spark, [(None, 1)]))


def test_overwrite_enforced(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="v_nonneg"):
        t.overwrite(_batch(spark, [(1, -5)]))
    t.overwrite(_batch(spark, [(1, 5)]))
    assert t.read(spark).count() == 1


def test_merge_enforced_on_written_rows_only(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=10)
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    bad = _batch(spark, [(1, -1), (100, 2)])
    with pytest.raises(ValueError, match="v_nonneg"):
        t.merge_into(spark, bad, ["id"])
    # keep mode writes only unmatched inserts: a violating MATCHED row
    # is discarded, never written, so it does not trip the gate
    t.merge_into(spark, bad, ["id"], when_matched="keep")
    assert t.read(spark).where(F.col("id") == 100).count() == 1
    assert t.read(spark).where(F.col("v") < 0).count() == 0
    # ... but a violating INSERT does
    with pytest.raises(ValueError, match="v_nonneg"):
        t.merge_into(
            spark, _batch(spark, [(200, -9)]), ["id"],
            when_matched="keep",
        )


def test_apply_changes_enforced_on_upserts_not_tombstones(
    spark, tmp_path
):
    t = _mk(spark, str(tmp_path / "t"), n=10)
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    src = spark.createDataFrame(
        [(1, None, "d"), (100, 5, "u")], "id long, v long, _op string"
    )
    # the tombstone's NULL payload is ignored (delete-by-key); only
    # the upsert rows are gated
    r = t.apply_changes(spark, src, ["id"])
    assert r["rows_deletes"] == 1 and r["rows_upserts"] == 1
    with pytest.raises(ValueError, match="v_nonneg"):
        t.apply_changes(
            spark,
            spark.createDataFrame(
                [(101, -5, "u")], "id long, v long, _op string"
            ),
            ["id"],
        )


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_update_enforced_on_post_images(spark, tmp_path, mode):
    t = _mk(spark, str(tmp_path / f"t_{mode}"), n=20)
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    v0 = t.version()
    with pytest.raises(ValueError, match="v_nonneg"):
        t.update_where(
            spark, F.col("id") < 5, {"v": F.lit(-1).cast("long")},
            mode=mode,
        )
    assert t.version() == v0
    t.update_where(
        spark, F.col("id") < 5, {"v": F.lit(99).cast("long")}, mode=mode
    )
    assert t.read(spark).where(F.col("v") == 99).count() == 5


def test_streaming_sink_enforced(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=10)
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    sink = t.streaming_sink("app1")
    sink(_batch(spark, [(100, 1)]), 0)
    assert t.read(spark).count() == 11
    with pytest.raises(ValueError, match="v_nonneg"):
        sink(_batch(spark, [(101, -1)]), 1)
    assert t.last_txn_batch("app1") == 0  # violating batch not recorded


def test_drop_constraint(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=10)
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    t.drop_constraint("v_nonneg")
    assert t.constraints() == {}
    t.append(_batch(spark, [(100, -1)]))  # no longer gated
    assert t.read(spark).where(F.col("v") < 0).count() == 1
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("v_nonneg")


def test_add_constraint_validation(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=10)
    with pytest.raises(ValueError, match="identifier"):
        t.add_constraint(spark, "bad name", "v >= 0")
    with pytest.raises(ValueError, match="BOOLEAN"):
        t.add_constraint(spark, "notbool", "v + 1")
    with pytest.raises(ValueError, match="does not resolve"):
        t.add_constraint(spark, "noresolve", "nope >= 0")
    t.add_constraint(spark, "ok", "v >= 0")
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint(spark, "ok", "v >= 1")


def test_alter_commits_invisible_to_cdf(spark, tmp_path):
    from olist_data_warehouse_spark.sources.lakehouse import _cdf_pairs

    t = _mk(spark, str(tmp_path / "t"), n=10, cdf=True)
    v0 = t.version()
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    t.append(_batch(spark, [(100, 1)]))
    ch, cur = t.read_changes_since(spark, v0)
    assert ch.count() == 1  # only the append's row; the alter adds none
    assert _cdf_pairs(t._read_commit(v0 + 1)) == []


def test_alter_does_not_break_strict_append_stream(spark, tmp_path):
    import tempfile

    from olist_data_warehouse_spark.sources.lakestream import (
        LakeStreamDataSource,
    )

    t = _mk(spark, str(tmp_path / "t"), n=10)
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    t.append(_batch(spark, [(100, 1)]))
    spark.dataSource.register(LakeStreamDataSource)
    out = str(tmp_path / "out")
    ckpt = tempfile.mkdtemp(prefix="ckpt-")
    q = (
        spark.readStream.format("lakestream")
        .option("path", t.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # the strict reader consumed create + append and SKIPPED the alter
    assert spark.read.parquet(out).count() == 11


def test_constraints_ride_into_checkpoints_and_clones(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=10)
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    # force commits past a checkpoint boundary so state reloads from
    # the parquet checkpoint rather than the raw alter commit
    for i in range(12):
        t.append(_batch(spark, [(1000 + i, 1)]))
    t2 = LakeTable(t.path)
    assert t2.constraints() == {"v_nonneg": "v >= 0"}
    with pytest.raises(ValueError, match="v_nonneg"):
        t2.append(_batch(spark, [(1, -1)]))
    c = t.clone_shallow(str(tmp_path / "c"))
    assert c.constraints() == {"v_nonneg": "v >= 0"}
    with pytest.raises(ValueError, match="v_nonneg"):
        c.append(_batch(spark, [(1, -1)]))


def test_history_surfaces_constraint_commits(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=10)
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    t.drop_constraint("v_nonneg")
    h = {e["version"]: e for e in t.history()}
    assert h[1]["op"] == "alter"
    assert h[1]["constraint"]["action"] == "add"
    assert h[2]["constraint"] == {"action": "drop", "name": "v_nonneg"}


def test_batch_writer_enforces_proven_constraints(spark, tmp_path):
    """r10 verdict item #3: the native writer now ENFORCES constraints
    whose DDL-time dialect proof passed — violations refuse atomically
    (no commit, no stray manifest file), clean batches land."""
    from olist_data_warehouse_spark.sources.lakebatch import (
        LakeBatchDataSource,
    )

    t = _mk(spark, str(tmp_path / "t"), n=10)
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    spark.dataSource.register(LakeBatchDataSource)
    _batch(spark, [(100, 1)]).write.format("lake").option(
        "path", t.path
    ).mode("append").save()
    assert t.read(spark).count() == 11
    v0 = t.version()
    files0 = set(t._state()["files"])
    with pytest.raises(Exception, match="CHECK constraint violation"):
        (
            _batch(spark, [(101, -1)])
            .write.format("lake")
            .option("path", t.path)
            .mode("append")
            .save()
        )
    assert t.version() == v0
    assert set(t._state()["files"]) == files0


def test_batch_writer_refuses_unproven_constraint(spark, tmp_path):
    """An expression whose canary cross-check could not prove
    Spark/DuckDB agreement (here: a Spark-only function) keeps the
    refusal."""
    from olist_data_warehouse_spark.sources.lakebatch import (
        LakeBatchDataSource,
    )

    t = _mk(spark, str(tmp_path / "t"), n=10)
    t.add_constraint(spark, "h", "xxhash64(v) IS NOT NULL")
    spark.dataSource.register(LakeBatchDataSource)
    with pytest.raises(Exception, match="not proven dialect-exact"):
        (
            _batch(spark, [(100, 1)])
            .write.format("lake")
            .option("path", t.path)
            .mode("append")
            .save()
        )
    # the table API remains the supported path for it
    t.append(_batch(spark, [(100, 1)]))
    assert t.read(spark).count() == 11
