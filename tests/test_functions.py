"""Unit tests for T-SQL-exact scalar semantics (SURVEY.md §2.7, §7.4)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from olist_data_warehouse_spark.functions import (
    date_key_to_date,
    date_to_date_key,
    datediff_hours,
    int_avg,
    surrogate_key,
)


def test_datediff_hours_boundary_semantics(spark):
    """DATEDIFF(HOUR) counts hour-boundary crossings, not elapsed hours."""
    rows = [
        # 23:59 -> 00:01: 2 minutes elapsed, but one hour boundary crossed.
        (dt.datetime(2018, 1, 1, 23, 59), dt.datetime(2018, 1, 2, 0, 1), 1),
        # same hour: 0
        (dt.datetime(2018, 1, 1, 10, 0), dt.datetime(2018, 1, 1, 10, 59), 0),
        # exactly 1h
        (dt.datetime(2018, 1, 1, 10, 30), dt.datetime(2018, 1, 1, 11, 30), 1),
        # negative (won before contact — the reference's `< 1` DELETE case)
        (dt.datetime(2018, 1, 2, 0, 1), dt.datetime(2018, 1, 1, 23, 59), -1),
    ]
    df = spark.createDataFrame(
        [(a, b) for a, b, _ in rows], "a timestamp, b timestamp"
    )
    got = [r[0] for r in df.select(datediff_hours("a", "b")).collect()]
    assert got == [e for _, _, e in rows]


def test_date_key_roundtrip(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2018, 3, 5, 14, 30),)], "ts timestamp"
    )
    out = df.select(
        date_to_date_key("ts").alias("dk"),
        date_key_to_date(date_to_date_key("ts")).alias("d"),
    ).collect()[0]
    assert out.dk == 20180305
    assert out.d == dt.date(2018, 3, 5)


def _j2_join(df, ts_col: str, calendar):
    """The reference's expression join of a yyyyMMdd-keyed calendar."""
    return df.join(
        F.broadcast(calendar),
        date_key_to_date(F.col("date_key")) == F.to_date(ts_col),
    )


def test_computed_calendar_attributes_keep_the_j2_join_rows(spark):
    """``star.with_calendar`` keeps the rows, and attaches the
    ``date_key``/``year``, that the J2 join to a calendar built from the
    same rows did: a NULL date drops, as the inner join dropped it.
    Checked on the q1/q2 orders path and on the conversions fact."""
    from olist_data_warehouse_spark.plans import star

    orders = spark.createDataFrame(
        [
            (1, dt.datetime(1997, 12, 31, 12, 0)),
            (2, dt.datetime(1998, 1, 1, 12, 0)),
            (3, dt.datetime(1998, 12, 31, 12, 0)),
            (4, dt.datetime(1999, 1, 1, 12, 0)),
            (5, None),
        ],
        "o_orderkey long, o_orderdate timestamp",
    )
    cols = ["o_orderkey", "date_key", "year"]
    joined = _j2_join(orders, "o_orderdate", star.build_time_period(orders))
    computed = star.with_calendar(orders, "o_orderdate")
    assert sorted(computed.select(cols).collect()) == sorted(
        joined.select(cols).collect()
    )
    q1_rows = sorted(computed.filter(F.col("year") == 1998).select(cols).collect())
    assert q1_rows == sorted(
        joined.filter(F.col("year") == 1998).select(cols).collect()
    )
    assert [tuple(r) for r in q1_rows] == [(2, 19980101, 1998), (3, 19981231, 1998)]

    h = dt.datetime(2024, 3, 1, 12, 0)
    events = spark.createDataFrame(
        [
            (1, "signup", h),
            (1, "purchase", h + dt.timedelta(hours=30)),
            (2, "signup", h),
            (2, "purchase", None),  # its only purchase: won_date is NULL
            (3, "signup", h + dt.timedelta(days=1)),
            (3, "purchase", h + dt.timedelta(days=2, hours=5)),
            (3, "purchase", None),
        ],
        "user_id long, event_type string, ts timestamp",
    )
    leads = star.build_conversion_leads(events)
    deals = star.build_conversion_deals(events)
    reference = (
        _j2_join(
            leads.join(deals, "user_id"), "won_date",
            star.build_calendar(events, "ts"),
        )
        .groupBy("date_key", "origin", "lead_type")
        .agg(
            int_avg(datediff_hours("first_contact_date", "won_date")).alias(
                "avg_hrs_convert"
            )
        )
        .filter(F.col("avg_hrs_convert") >= 1)
    )
    got = sorted(star.build_conversions_fact(events).collect())
    assert got == sorted(reference.collect())
    assert [tuple(r) for r in got] == [
        (20240302, "origin_1", "type_1", 30),
        (20240303, "origin_3", "type_0", 29),
    ]


def test_int_avg_floors(spark):
    df = spark.createDataFrame([(1,), (2,), (2,)], "x int")
    assert df.agg(int_avg("x")).collect()[0][0] == 1  # avg=1.666 -> 1


def test_surrogate_key_seeded_and_stable(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], "name string")
    got = {
        (r.name, r.k)
        for r in surrogate_key(df, "k", ["name"], start=1000).collect()
    }
    assert got == {("a", 1000), ("b", 1001), ("c", 1002)}


def test_surrogate_key_continue_sequence(spark):
    """Appends continue from max(existing) — Olist DW.sql:71-75."""
    base = spark.createDataFrame([("a",), ("b",)], "name string")
    dim = surrogate_key(base, "k", ["name"], start=1000)
    mx = dim.agg(F.max("k")).collect()[0][0]
    new = spark.createDataFrame([("z",), ("y",)], "name string")
    appended = surrogate_key(new, "k", ["name"], start=mx + 1)
    got = {(r.name, r.k) for r in appended.collect()}
    assert got == {("y", 1002), ("z", 1003)}


def test_profile_operator_counts_ranges_checksum(spark):
    """Generic single-pass profiler: counts nulls correctly, distincts
    exactly, cents checksums exactly, timestamp ranges rendered."""
    from olist_data_warehouse_spark.operators import profiling

    df = spark.createDataFrame(
        [
            (1, "a", 1.25, "2024-01-01 10:00:00"),
            (2, "a", 2.75, "2024-03-05 00:30:00"),
            (3, None, 0.50, "2023-12-31 23:59:59"),
            (4, "b", None, None),
        ],
        "id bigint, k string, price double, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    row = profiling.profile(
        df, key_cols=["k"], money_cols=["price"], ts_cols=["ts"]
    ).collect()[0]
    assert row.n_rows == 4
    assert row.n_k == 3 and row.n_distinct_k == 2
    assert row.min_cents_price == 50 and row.max_cents_price == 275
    assert row.sum_cents_price == 450
    assert row.min_ts == "2023-12-31 23:59:59"
    assert row.max_ts == "2024-03-05 00:30:00"


def test_measure_correlation_partitioning_invariant(spark):
    """a16's five BIGINT second moments are exact partial aggregates,
    so the final statistics are bit-identical under any partition
    layout — the property float-streaming covar_pop/corr lacks."""
    from olist_data_warehouse_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    base = REGISTRY["a16_measure_correlation"].fn(spark, sf)
    rows_a = sorted(map(tuple, base.collect()))

    from olist_data_warehouse_spark.sources.readers import load_testdata
    from pyspark.sql import functions as F

    li = load_testdata(spark, sf, ("lineitem",))["lineitem"].repartition(17)
    x = F.round(F.col("l_quantity") * 100, 0).cast("long")
    y = F.round(F.col("l_discount") * 10000, 0).cast("long")
    c = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    s = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    rows_b = sorted(
        map(
            tuple,
            s.select(
                "l_returnflag", "n",
                F.round(num / (nd * F.col("n")), 6).alias("cov_xy"),
                F.round(
                    num / (
                        F.sqrt(nd * F.col("sxx")
                               - F.col("sx").cast("double") * F.col("sx"))
                        * F.sqrt(nd * F.col("syy")
                                 - F.col("sy").cast("double") * F.col("sy"))
                    ), 6,
                ).alias("corr_xy"),
            ).collect(),
        )
    )
    assert rows_a == rows_b
