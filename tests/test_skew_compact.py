"""Salted join correctness (row-identical to the plain join, salt in
the shuffle key) and the parquet layout writers (bucketing, range
clustering, Z-order)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark.operators import skew


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (0) with 5000 rows, 50 cold keys
    rows = [(0, i) for i in range(5000)] + [(k, k) for k in range(1, 51)]
    big = spark.createDataFrame(rows, "k bigint, v bigint")
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(51)], "k bigint, name string"
    )
    return big, small


def test_salted_join_row_identical_to_plain_join(spark, skewed):
    big, small = skewed
    plain = big.join(small, "k").select("k", "v", "name")
    salted = skew.salted_join(big, small, ["k"]).select("k", "v", "name")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_left_join_preserves_unmatched_rows(spark, skewed):
    big, small = skewed
    small_missing = small.filter(F.col("k") != 0)   # hot key unmatched
    out = skew.salted_join(big, small_missing, ["k"], how="left")
    assert out.count() == big.count()
    assert out.filter(F.col("k") == 0).filter(F.col("name").isNull()).count() == 5000
    with pytest.raises(ValueError):
        skew.salted_join(big, small, ["k"], how="full_outer")


def test_salted_join_shuffles_on_salted_key(spark, skewed):
    big, small = skewed
    df = skew.salted_join(big, small, ["k"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "_salt" in buf.getvalue()  # the salt is part of the join key


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """The 100 TB lever: co-bucketed tables join shuffle-free."""
    from olist_data_warehouse_spark.sources import writers as W

    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    spark.catalog.setCurrentDatabase("bktest")
    orders = spark.range(10000).select(
        F.col("id").alias("o_key"), (F.col("id") % 7).alias("o_attr")
    )
    items = spark.range(30000).select(
        (F.col("id") % 10000).alias("o_key"), F.col("id").alias("i_id")
    )
    W.write_bucketed(orders, "bktest.o_b", ["o_key"], 8)
    W.write_bucketed(items, "bktest.i_b", ["o_key"], 8)
    # disable broadcast so the plan shows what happens when BOTH sides
    # are fact-sized (the case bucketing exists for)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bktest.o_b").join(spark.table("bktest.i_b"), "o_key")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan      # co-located: no shuffle at all
        assert joined.count() == 30000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.catalog.setCurrentDatabase("default")


def test_write_clustered_tightens_row_group_stats(spark, tmp_path):
    """Clustered layout: file-level key ranges are (near-)disjoint and
    narrow, so a range predicate prunes most files via stats; an
    unsorted write leaves every file covering ~the whole key range.
    Checked directly on parquet footer min/max — the stats the scan's
    skipping actually uses."""
    import os

    import pyarrow.parquet as pq

    from olist_data_warehouse_spark.sources.writers import write_clustered

    df = spark.range(100_000).selectExpr(
        "cast(hash(id) % 10000 as bigint) AS key", "id AS payload"
    )
    flat = str(tmp_path / "flat")
    clustered = str(tmp_path / "clustered")
    df.repartition(8).write.parquet(flat)
    write_clustered(df, clustered, ["key"], n_files=8)

    def spans(path):
        out = []
        for root, _d, files in os.walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(0)
                    assert col.path_in_schema == "key"
                    st = col.statistics
                    out.append((st.min, st.max))
        return out

    full = 10000 + 9999  # key spans [-9999, 9999] under hash % 10000
    flat_spans = spans(flat)
    clu_spans = spans(clustered)
    # unsorted: every row group covers nearly the whole key domain
    assert all((hi - lo) > 0.9 * full for lo, hi in flat_spans)
    # clustered: each row group covers a narrow slice...
    assert all((hi - lo) < 0.2 * full for lo, hi in clu_spans)
    # ...and a 5%-of-domain range predicate could skip most row groups
    q_lo, q_hi = 0, 0.05 * full - 9999
    overlapping = [1 for lo, hi in clu_spans if hi >= q_lo and lo <= q_hi]
    assert len(overlapping) <= max(2, len(clu_spans) // 4)


def test_aqe_splits_skewed_sort_merge_join(spark):
    """The claim every skew note in SCALING.md leans on, demonstrated:
    a join where ~90% of rows share one key plans as SortMergeJoin,
    and AQE's runtime re-plan marks it skew=true — the hot partition
    is split across tasks instead of serializing on one. Thresholds
    are lowered to make the local dataset 'big'; on a cluster the
    defaults (256 MB) trigger the same way. Verified on the EXECUTED
    adaptive plan (explain() before execution shows the static plan
    and would pass vacuously)."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB"
        )
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k")
        n = len(j.collect())
        assert n == 275_000  # 270k hot-key rows + 5k tail matches
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_write_zordered_prunes_both_dimensions(spark, tmp_path):
    """Z-ORDER layout contract: after a Z-curve write on (x, y), every
    row group covers a narrow slice of BOTH dimensions, so a predicate
    on either column prunes via footer stats. The linear-sort baseline
    on x alone leaves y's per-group span as wide as the whole domain."""
    import os

    import pyarrow.parquet as pq

    from olist_data_warehouse_spark.sources.writers import (
        write_clustered,
        write_zordered,
    )

    # two independent ~uniform dimensions
    df = spark.range(100_000).selectExpr(
        "cast(pmod(hash(id), 100000) as bigint) AS x",
        "cast(pmod(hash(id * 7 + 3), 100000) as bigint) AS y",
    )
    linear = str(tmp_path / "linear")
    zpath = str(tmp_path / "zorder")
    write_clustered(df, linear, ["x"], n_files=16)
    write_zordered(df, zpath, "x", "y", n_files=16, n_buckets=64)

    def spans(path, col_idx):
        out = []
        for root, _d, files in os.walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(col_idx).statistics
                    out.append((st.min, st.max))
        return out

    domain = 100_000
    # linear sort on x: x prunes hard, y not at all
    assert all((hi - lo) < 0.2 * domain for lo, hi in spans(linear, 0))
    assert all((hi - lo) > 0.9 * domain for lo, hi in spans(linear, 1))
    # z-order: BOTH dimensions stay materially narrower than the
    # domain for nearly every row group. (A z-segment that crosses a
    # high-order bit flip of one dimension legitimately spans the
    # other's full domain — the classic curve-boundary artifact — so
    # the contract is aggregate: pruning works on average, with at
    # most a couple of boundary groups read in full.)
    zx, zy = spans(zpath, 0), spans(zpath, 1)
    for sp in (zx, zy):
        wide = sum(1 for lo, hi in sp if (hi - lo) >= 0.6 * domain)
        assert wide <= 2, f"{wide}/{len(sp)} row groups span >60% of a dim"
        avg = sum(hi - lo for lo, hi in sp) / len(sp)
        assert avg < 0.45 * domain
