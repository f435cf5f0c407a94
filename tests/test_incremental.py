"""E3 parity: the incremental load replicating the reference's own
ETL smoke test (`Olist DW.sql:294-353`, FIXTURES.md §C) — fake 2019
rows are picked up once, idempotently, at whole-date granularity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark.plans import incremental, warehouse
from tests import olist_fixtures


@pytest.fixture(scope="module")
def state(spark):
    """DW built from pre-2019 data; staging then gains the fake rows."""
    st_after = olist_fixtures.staging_with_fake_2019(spark)
    # Build uses the < 2019 cutoff, so the DW starts without fake dates
    # even though staging already contains them (same effect as the
    # reference's insert-after-build ordering).
    dw = warehouse.build_warehouse(st_after)
    return st_after, dw


def test_delta_picks_up_exactly_new_dates(state):
    st, dw = state
    new = incremental.incremental_load_orders(st, dw)
    got_dates = {r.date_key for r in new.select("date_key").distinct().collect()}
    assert got_dates == {
        20190101, 20190102, 20190103, 20190104, 20190105, 20190106,
        20190201,  # fixture order o4, also post-cutoff
    }
    # Spot-check one aggregated row: 2019-01-02 order, price 239.90
    r = new.filter(F.col("date_key") == 20190102).collect()
    assert len(r) == 1 and r[0].sales_total == 239.9 and r[0].sales_quantity == 1


def test_second_run_is_idempotent(state):
    """Anti-join idempotence: after appending, a re-run inserts nothing."""
    st, dw = state
    new = incremental.incremental_load_orders(st, dw)
    dw2 = dict(dw)
    dw2["orders"] = dw["orders"].unionByName(new)
    again = incremental.incremental_load_orders(st, dw2)
    assert again.count() == 0


def test_late_item_for_loaded_date_is_skipped(spark, state):
    """Whole-date granularity (SURVEY §7.4.8): a late item for an
    already-loaded date_key is dropped (SSIS UPDATE branch unwired)."""
    from olist_data_warehouse_spark import schemas

    st, dw = state
    late = spark.createDataFrame(
        [("o2", 2, "p1", "s1", olist_fixtures.ts("20180514 00:00:00"), 99.0, 9.0)],
        schemas.OLIST_ORDER_ITEMS,
    )
    st_late = dict(st)
    st_late["order_items"] = st["order_items"].unionByName(late)
    new = incremental.incremental_load_orders(st_late, dw)
    # 2018-05-10 is already loaded → the late item's date never appears.
    assert new.filter(F.col("date_key") == 20180510).count() == 0


def test_merge_upsert_routes_all_three_branches(spark):
    """keep / update / insert classification with source values winning
    on matched keys."""
    target = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    source = spark.createDataFrame([(2, 25.0), (3, 30.0)], "k int, v double")
    out = {
        r.k: (r.v, r.merge_action)
        for r in incremental.merge_upsert(target, source, ["k"]).collect()
    }
    assert out == {1: (10.0, "keep"), 2: (25.0, "update"), 3: (30.0, "insert")}


def test_merge_upsert_idempotent(spark):
    """Re-applying the same source changes no values: merge(merge(t,s),s)
    == merge(t,s) on every column except the action audit."""
    target = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    source = spark.createDataFrame([(2, 25.0), (3, 30.0)], "k int, v double")
    once = incremental.merge_upsert(target, source, ["k"])
    twice = incremental.merge_upsert(once.drop("merge_action"), source, ["k"])
    assert {(r.k, r.v) for r in once.collect()} == {
        (r.k, r.v) for r in twice.collect()
    }


def test_replace_where_touches_only_delta_partitions(spark, tmp_path):
    """Partition-scoped fact maintenance on the lake: a replace_where
    over the delta's partitions swaps them in one commit, and every
    other partition's files stay live, unread and unrewritten."""
    from olist_data_warehouse_spark.sources.lakehouse import LakeTable

    base = spark.createDataFrame(
        [(19960101, 10), (19960102, 20), (19970101, 30), (19980101, 40)],
        "date_key int, units bigint",
    ).withColumn("yr", (F.col("date_key") / 10000).cast("int"))
    t = LakeTable.create(base, str(tmp_path / "fact"), partition_by=["yr"])

    def files_of(yr):
        return {
            p: m["rows"] for p, m in t._state()["files"].items()
            if m["partition"]["yr"] == yr
        }

    before_96, before_98 = files_of(1996), files_of(1998)

    # corrected 1997 partition: revised units + a new date
    delta = spark.createDataFrame(
        [(19970101, 35), (19970202, 5)], "date_key int, units bigint"
    ).withColumn("yr", (F.col("date_key") / 10000).cast("int"))
    r = t.replace_where(
        spark, delta, F.col("yr") == 1997, prune=("yr", "=", 1997)
    )

    assert files_of(1996) == before_96
    assert files_of(1998) == before_98
    assert r["rows_deleted"] == 1 and r["rows_inserted"] == 2
    got = sorted(
        map(tuple, t.read(spark).select("date_key", "units").collect())
    )
    assert got == [
        (19960101, 10), (19960102, 20), (19970101, 35), (19970202, 5),
        (19980101, 40),
    ]
