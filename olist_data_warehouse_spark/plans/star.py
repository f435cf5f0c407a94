"""Star-schema build over the driver's TPC-H-ish testdata.

The reference builds a Kimball star: small dimension tables with
sequence-generated surrogate keys plus pre-aggregated fact tables
(`Olist DW.sql:55-180`). This module expresses the same build DAG over
the testdata role-mapping (FIXTURES.md §D):

    part.p_brand            → product dimension  (keys start at 1000)
    nation × region         → location dimension (city=n_name, state=r_name)
    o_orderdate calendar    → time_period dimension (int yyyyMMdd keys)
    orders ⋈ lineitem ⋈ ... → sales fact  (mirrors Olist DW.sql:144-156)
    events signup/purchase  → conversions fact (mirrors :166-180)

Scale posture (100 TB):
- Dimensions are tiny (≤ thousands of rows): they get unpartitioned
  row_number windows (fine at dim cardinality) and are *broadcast* into
  every fact join — zero shuffle on the big side for dim lookups.
- The fact build's only required shuffle is the final groupBy on the
  fact grain. orders⋈lineitem is the one big-big join; on a real
  deployment both sides would be bucketed by order key to make it
  shuffle-free, locally AQE handles it.
- All date logic stays in Catalyst built-ins (no UDFs) so predicate
  pushdown and whole-stage codegen survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olist_data_warehouse_spark.functions import (
    date_key_to_date,
    date_to_date_key,
    datediff_hours,
    int_avg,
    surrogate_key,
)

# Cutoff mirroring `order_purchase_timestamp < '20190101'` (Olist DW.sql:155):
# keeps most of the 1995-2001 testdata while leaving later dates for the
# incremental-load path to pick up.
SALES_CUTOFF = "2001-01-01"
# Status filter mirroring `order_status != 'canceled'` (Olist DW.sql:155).
EXCLUDED_STATUS = "F"


def build_product_dim(part: DataFrame) -> DataFrame:
    """Product dimension: DISTINCT brands + surrogate keys from 1000.

    Mirrors `Olist DW.sql:55-67` (category → product with sequence
    seeded at 1000). Natural order = brand name, making keys stable.
    """
    return surrogate_key(
        part.select(F.col("p_brand").alias("product")).distinct(),
        "product_key",
        ["product"],
        start=1000,
    ).select("product_key", "product")


def build_location_dim(nation: DataFrame, region: DataFrame) -> DataFrame:
    """Location dimension from DISTINCT (city, state) pairs.

    Mirrors `Olist DW.sql:84-97` (geolocation → location). city=n_name,
    state=r_name; zip = zero-padded nation key to keep a 3-part natural
    key like the reference's (zip, city, state).
    """
    base = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("n_name").alias("city"),
            F.col("r_name").alias("state"),
            F.lpad(F.col("n_nationkey").cast("string"), 5, "0").alias("zip"),
        )
        .distinct()
    )
    return surrogate_key(base, "location_key", ["state", "city", "zip"]).select(
        "location_key", "city", "state", "zip"
    )


def build_time_period(orders: DataFrame) -> DataFrame:
    """Calendar dimension: one row per day spanning the order dates.

    The reference *presumes* a pre-existing `time_period(date_key
    int-yyyymmdd, year)` table (`Olist DW.sql:153,223`); we derive it
    from the data's own date range with `sequence()` — a single-row agg
    exploded into ~2.5k rows; negligible at any scale.
    """
    return build_calendar(orders, "o_orderdate")


def build_calendar(df: DataFrame, ts_col: str) -> DataFrame:
    """Calendar dim spanning ``ts_col``'s min..max dates (one row/day)."""
    bounds = df.agg(
        F.min(F.to_date(ts_col)).alias("lo"),
        F.max(F.to_date(ts_col)).alias("hi"),
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    ).select(
        date_to_date_key(F.col("d")).alias("date_key"),
        F.year("d").cast("int").alias("year"),
    )


def with_calendar(df: DataFrame, ts_col: str) -> DataFrame:
    """``df`` with the ``date_key`` and ``year`` a J2 join to a calendar
    covering every ``ts_col`` date would attach, without the join.

    Such a calendar (``build_calendar`` over ``df``, or over a frame whose
    dates include ``df``'s) matches every non-NULL date exactly once, so
    the join only attaches these two attributes and drops the NULL-dated
    rows. Computing them saves the calendar's second scan, its min/max
    stage and its broadcast, which Catalyst cannot prove redundant.
    """
    d = F.to_date(ts_col)
    return df.filter(d.isNotNull()).withColumns(
        {"date_key": date_to_date_key(d), "year": F.year(d)}
    )


def build_sales_fact(
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    product_dim: DataFrame,
    location_dim: DataFrame,
    time_period: DataFrame,
) -> DataFrame:
    """Sales fact at (date_key, location_key, product_key, seller_id) grain.

    Mirrors the 8-table star build join `Olist DW.sql:144-156`:
    J1 (chained equi-joins), J2 (expression join: int yyyyMMdd key ↔
    timestamp, both sides computed), J3 (composite (city,state) join),
    A1 (SUM price / COUNT product), P3 (status != filter), P6 (date
    upper bound). All dims broadcast; the one shuffle is the final
    groupBy on the fact grain.
    """
    o = orders.filter(
        (F.col("o_orderstatus") != EXCLUDED_STATUS)
        & (F.col("o_orderdate") < F.lit(SALES_CUTOFF).cast("timestamp"))
    )
    nr = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    joined = (
        o.join(lineitem, lineitem.l_orderkey == o.o_orderkey)
        .join(F.broadcast(part), part.p_partkey == lineitem.l_partkey)
        .join(F.broadcast(product_dim), F.col("product") == F.col("p_brand"))
        .join(F.broadcast(supplier), supplier.s_suppkey == lineitem.l_suppkey)
        .join(F.broadcast(nr), F.col("n_nationkey") == F.col("s_nationkey"))
        # J2: expression join — both sides computed to DATE. Precomputing
        # keeps it an equi-join (broadcast-eligible), never cross+filter.
        .join(
            F.broadcast(time_period),
            date_key_to_date(F.col("date_key")) == F.to_date("o_orderdate"),
        )
        # J3: composite-key join on (city, state) like `l.zip = s.zip AND
        # l.city = s.city` (Olist DW.sql:154).
        .join(
            F.broadcast(location_dim),
            (F.col("city") == F.col("n_name")) & (F.col("state") == F.col("r_name")),
        )
    )
    return joined.groupBy(
        "date_key",
        "location_key",
        "product_key",
        F.col("l_suppkey").alias("seller_id"),
    ).agg(
        F.sum("l_extendedprice").alias("sales_total"),
        F.count("l_partkey").alias("sales_quantity"),
    )


def build_conversion_leads(events: DataFrame) -> DataFrame:
    """Marketing-funnel 'leads' analog from the events stream.

    Role mapping (FIXTURES.md §D): user's first `signup` event = lead
    first_contact; origin derived deterministically from user_id.
    """
    return (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_contact_date"))
        .withColumn(
            "origin", F.concat(F.lit("origin_"), (F.col("user_id") % 4).cast("string"))
        )
    )


def build_conversion_deals(events: DataFrame) -> DataFrame:
    """'closed_deals' analog: user's first `purchase` event = won_date."""
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("won_date"))
        .withColumn(
            "lead_type", F.concat(F.lit("type_"), (F.col("user_id") % 3).cast("string"))
        )
    )


def build_conversions_fact(events: DataFrame) -> DataFrame:
    """Conversions fact: AVG hours from first contact to close.

    Mirrors `Olist DW.sql:166-180` (J4 + A2 + F3): join leads to deals,
    attach won_date's calendar attributes (:func:`with_calendar`), and
    aggregate DATEDIFF(HOUR) with the integer-AVG convention. The
    reference's AVG-weighting fan-out trap (SURVEY.md §7.4.5) is
    replicated by the grain: one row per (user, date) pair feeding a
    grouped AVG.
    """
    # The reference joins Olist_Marketing's own calendar copy
    # (`Olist DW.sql:269`), which spans the events dates; every won_date
    # is one of them, so its attributes are computed, not joined.
    leads = build_conversion_leads(events)
    deals = build_conversion_deals(events)
    joined = with_calendar(leads.join(deals, "user_id"), "won_date")
    return (
        joined.groupBy("date_key", "origin", "lead_type")
        .agg(
            int_avg(
                datediff_hours(F.col("first_contact_date"), F.col("won_date"))
            ).alias("avg_hrs_convert")
        )
        # The reference DELETEs negative/zero conversions (`:183-184`).
        .filter(F.col("avg_hrs_convert") >= 1)
    )
