"""Row-level change-data feed: insert/delete multiset deltas that
survive delete, merge, and compaction in the consumed range."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources import lakebatch, lakestream
from olist_data_warehouse_spark.sources.lakehouse import LakeTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 10).cast("double").alias("v"),
    )


@pytest.fixture()
def cdf_table(spark, tmp_path):
    return LakeTable.create(
        _df(spark, 0, 30).repartition(3), str(tmp_path / "cdf"), cdf=True
    )


def _deltas(df):
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    return {
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in df.collect()
    }, df.select(F.sum(sign)).first()[0]


def test_appends_replay_as_inserts(spark, cdf_table):
    t = cdf_table
    v0 = t.version()
    t.append(_df(spark, 30, 40))
    ch, cur = t.read_changes_since(spark, v0)
    assert cur == t.version()
    keys, net = _deltas(ch)
    assert net == 10
    assert all(c == "insert" for _, c, _ in keys)
    assert {k for k, _, _ in keys} == set(range(30, 40))


def test_delete_replays_preimages(spark, cdf_table):
    t = cdf_table
    v0 = t.version()
    res = t.delete_where(spark, F.col("k") < 5)
    assert res["rows_deleted"] == 5
    ch, _ = t.read_changes_since(spark, v0)
    keys, net = _deltas(ch)
    assert net == -5
    assert keys == {(k, "delete", 1) for k in range(5)}


def test_merge_replays_both_sides(spark, cdf_table):
    t = cdf_table
    v0 = t.version()
    src = spark.createDataFrame(
        [Row(k=3, g="z", v=1.0), Row(k=100, g="z", v=2.0)]
    )
    t.merge_into(spark, src, ["k"])
    ch, _ = t.read_changes_since(spark, v0)
    keys, net = _deltas(ch)
    # matched k=3: delete pre-image + insert post-image; k=100: insert
    assert net == 1
    assert keys == {(3, "delete", 1), (3, "insert", 1), (100, "insert", 1)}
    # post-image row carries the SOURCE values
    post = ch.where(
        (F.col("k") == 3) & (F.col("_change_type") == "insert")
    ).first()
    assert post["g"] == "z" and post["v"] == 1.0


def test_keep_merge_replays_inserts_only(spark, cdf_table):
    t = cdf_table
    v0 = t.version()
    src = spark.createDataFrame(
        [Row(k=3, g="z", v=1.0), Row(k=100, g="z", v=2.0)]
    )
    t.merge_into(spark, src, ["k"], when_matched="keep")
    ch, _ = t.read_changes_since(spark, v0)
    keys, net = _deltas(ch)
    assert net == 1
    assert keys == {(100, "insert", 1)}


def test_compact_is_invisible_to_the_feed(spark, cdf_table):
    t = cdf_table
    v0 = t.version()
    t.append(_df(spark, 30, 35))
    t.compact(spark, target_file_bytes=1 << 30)
    t.append(_df(spark, 35, 40))
    ch, cur = t.read_changes_since(spark, v0)
    keys, net = _deltas(ch)
    assert net == 10
    assert {k for k, _, _ in keys} == set(range(30, 40))
    # the append-only feed RAISES across the same range — the CDF is
    # strictly more capable
    with pytest.raises(ValueError, match="non-append"):
        t.read_appends_since(spark, v0)


def test_overwrite_and_rollback_are_file_exact_deltas(spark, cdf_table):
    t = cdf_table
    v0 = t.version()
    t.overwrite(_df(spark, 100, 103))
    ch, _ = t.read_changes_since(spark, v0)
    keys, net = _deltas(ch)
    assert net == 3 - 30
    t.rollback(v0)
    ch2, _ = t.read_changes_since(spark, v0)
    _, net2 = _deltas(ch2)
    assert net2 == 0  # overwrite then rollback nets to nothing


def test_non_cdf_table_raises_on_rewriting_commit(spark, tmp_path):
    t = LakeTable.create(_df(spark, 0, 10), str(tmp_path / "plain"))
    v0 = t.version()
    t.append(_df(spark, 10, 12))  # appends alone are fine without CDF
    ch, _ = t.read_changes_since(spark, v0)
    assert ch.count() == 2
    t.delete_where(spark, F.col("k") < 2)
    with pytest.raises(ValueError, match="cdf=True"):
        t.read_changes_since(spark, v0)


def test_cdf_maintains_aggregate_through_churn(spark, cdf_table):
    """The headline consumer: maintain SUM/COUNT per group through
    append+delete+merge+compact using only the feed; must equal the
    full recompute."""
    t = cdf_table
    v0 = t.version()
    base = t.read(spark, version=v0).groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    t.append(_df(spark, 30, 50))
    t.delete_where(spark, F.col("k") % 7 == 0)
    t.merge_into(
        spark,
        _df(spark, 45, 60).withColumn("v", F.col("v") + 0.5),
        ["k"],
    )
    t.compact(spark, target_file_bytes=1 << 30)
    ch, _ = t.read_changes_since(spark, v0)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = ch.groupBy("g").agg(
        F.sum(sign).alias("dn"),
        F.sum(F.col("v") * sign).alias("ds"),
    )
    merged = (
        base.alias("b").join(delta.alias("d"), ["g"], "full_outer")
        .select(
            "g",
            (F.coalesce("b.n", F.lit(0)) + F.coalesce("d.dn", F.lit(0))
             ).alias("n"),
            (F.coalesce("b.s", F.lit(0.0)) + F.coalesce("d.ds", F.lit(0.0))
             ).alias("s"),
        )
        .where(F.col("n") > 0)
    )
    truth = t.read(spark).groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    got = {r["g"]: (r["n"], round(r["s"], 6)) for r in merged.collect()}
    want = {r["g"]: (r["n"], round(r["s"], 6)) for r in truth.collect()}
    assert got == want


def test_vacuum_keeps_preimages_of_kept_range(spark, cdf_table):
    t = cdf_table
    t.delete_where(spark, F.col("k") < 3)
    t.append(_df(spark, 60, 62))
    # keep every version: the delete's pre-image files must survive
    n_versions = len(t._commit_versions())
    t.vacuum(keep_versions=n_versions, retention_seconds=0, force=True)
    ch, _ = t.read_changes_since(spark, 0)
    assert ch.where(F.col("_change_type") == "delete").count() == 3
    # drop history before the delete: pre-images become reclaimable
    removed = t.vacuum(keep_versions=1, retention_seconds=0, force=True)
    preimages = {
        f["path"]
        for v in t._commit_versions()
        for f in t._read_commit(v).get("cdf_delete", [])
    }
    assert preimages & set(removed)


def test_feed_lower_bound_below_minus_one_raises(spark, cdf_table, tmp_path):
    """-1 is the lowest feed bound (it replays the whole log); a lower
    one names no commit, so every surface rejects it up front instead of
    opening a log file that cannot exist."""
    t = cdf_table
    for feed in (t.read_changes_since, t.read_appends_since):
        with pytest.raises(ValueError, match="below -1"):
            feed(spark, -5)
    lakebatch.register(spark)
    with pytest.raises(Exception, match="below -1"):
        spark.read.format("lake").option("path", t.path).option(
            "mode", "cdf"
        ).option("since", "-5").load().collect()
    lakestream.register(spark)
    q = (
        spark.readStream.format("lakestream").option("path", t.path)
        .option("starting_version", "-5").load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="below -1"):
        q.awaitTermination(180)
