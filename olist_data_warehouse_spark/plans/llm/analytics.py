"""Extended relational/window/time-series/quality query entries.

Split from llm_queries.py; see that module for the shared
portability invariants."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from olist_data_warehouse_spark.operators import (
    bloom,
    components,
    corpus,
    dedup,
    multimodal,
    packing,
    sampling,
    scd,
    similarity,
    skew,
    sketches,
    temporal,
    textops,
)
from olist_data_warehouse_spark.plans.queries import _t, register
from olist_data_warehouse_spark.plans.llm.common import (  # noqa: F401
    SQL_MINHASH,
    SQL_NORM_TOKENS,
    SQL_SHINGLES,
    _COS_SQL,
    _EMB_LSH_BANDS,
    _EMB_LSH_BUCKETS_SQL,
    _EMB_LSH_MAX_BUCKET,
    _EMB_LSH_PLANES_PER_BAND,
    _LANG_CASE,
    _SCORE_COLS,
    _SQL_LSH_EDGES,
    _STOPWORDS_SQL,
    _bucket_sql,
    _lang_scores_sql,
    _lsh_bucket_sql,
)


@register(
    "tj_asof_purchase_click",
    oracle="""
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL
),
r0 AS (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
),
r1 AS (SELECT user_id, ts, event_id, value FROM r0 WHERE rn = 1)
SELECT l.user_id, l.ts, l.event_id, l.value,
       r1.ts AS matched_ts, r1.event_id AS matched_event_id,
       r1.value AS matched_value
FROM l ASOF LEFT JOIN r1 ON l.user_id = r1.user_id AND r1.ts <= l.ts
""",
    doc="As-of join (operator Spark lacks): each purchase gets the "
    "latest preceding click of the same user. Implemented as the "
    "union-merge window — one hash shuffle on the key, no join node, "
    "nothing to nested-loop. Oracle is DuckDB's NATIVE ASOF LEFT JOIN: "
    "an independent algorithm agreeing on the same answer.",
)
def tj_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    return temporal.asof_join(
        purchases, clicks, by=["user_id"],
        right_cols=["event_id", "value"], tie_col="event_id",
    )


@register(
    "tj_range_error_clicks",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
c AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT e.event_id, e.user_id,
       count(c.ts) AS n_clicks,
       round(coalesce(sum(c.value), 0), 2) AS click_value
FROM e LEFT JOIN c
  ON e.user_id = c.user_id
 AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 30 MINUTE
GROUP BY e.event_id, e.user_id
""",
    doc="Range join (interval x points) without a nested loop: clicks "
    "within 30 minutes after each error, same user. Binned form — "
    "intervals explode to <=2 half-hour bins, points to 1, equi-join "
    "on (user, bin) + exact range filter — so Catalyst plans a hash "
    "join where the naive inequality join would be a "
    "BroadcastNestedLoopJoin. Oracle is DuckDB's inequality join.",
)
def tj_range_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), "value"
    )
    paired = temporal.range_join_binned(
        errors, clicks, by=["user_id"], start_col="ts",
        length=F.expr("INTERVAL 30 MINUTES"), point_ts="click_ts",
        bin_seconds=1800,
    )
    return (
        paired.groupBy("event_id", "user_id")
        .agg(
            F.count("click_ts").alias("n_clicks"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2)
            .alias("click_value"),
        )
        # inner pair join drops errors with zero clicks; restore them
        .join(errors.select("event_id", "user_id"), ["event_id", "user_id"],
              "right_outer")
        .fillna({"n_clicks": 0, "click_value": 0.0})
    )


@register(
    "json_props_extract",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
""",
    doc="Semi-structured extraction: pull a typed field out of a JSON "
    "string column (events.props) and aggregate it — "
    "get_json_object stays JVM-side (no UDF), and at scale the parse "
    "happens once per row in the same codegen stage as the aggregate's "
    "map side. The schema-on-read path for log/props payloads.",
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.filter(F.col("props").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
    )


@register(
    "scd2_supplier_merge",
    oracle="""
WITH dim0 AS (
  SELECT s_suppkey, s_nationkey, round(s_acctbal, 2) AS acctbal,
         DATE '1995-01-01' AS effective_from
  FROM supplier
),
upd AS (
  SELECT s_suppkey,
         CASE WHEN s_suppkey % 3 = 0 THEN s_nationkey + 1
              ELSE s_nationkey END AS s_nationkey,
         round(s_acctbal, 2) AS acctbal
  FROM supplier WHERE s_suppkey % 3 IN (0, 1)
  UNION ALL
  SELECT s_suppkey + 1000000, s_nationkey, round(s_acctbal, 2)
  FROM supplier WHERE s_suppkey % 3 = 2
)
SELECT d.s_suppkey, d.s_nationkey, d.acctbal, d.effective_from,
       CAST(NULL AS DATE) AS effective_to, TRUE AS is_current
FROM dim0 d LEFT JOIN upd u USING (s_suppkey)
WHERE u.s_suppkey IS NULL
   OR (d.s_nationkey IS NOT DISTINCT FROM u.s_nationkey
       AND d.acctbal IS NOT DISTINCT FROM u.acctbal)
UNION ALL
SELECT d.s_suppkey, d.s_nationkey, d.acctbal, d.effective_from,
       DATE '1998-06-01', FALSE
FROM dim0 d JOIN upd u USING (s_suppkey)
WHERE d.s_nationkey IS DISTINCT FROM u.s_nationkey
   OR d.acctbal IS DISTINCT FROM u.acctbal
UNION ALL
SELECT u.s_suppkey, u.s_nationkey, u.acctbal, DATE '1998-06-01',
       CAST(NULL AS DATE), TRUE
FROM upd u LEFT JOIN dim0 d USING (s_suppkey)
WHERE d.s_suppkey IS NULL
   OR d.s_nationkey IS DISTINCT FROM u.s_nationkey
   OR d.acctbal IS DISTINCT FROM u.acctbal
""",
    doc="SCD Type-2 merge: an update snapshot against a supplier "
    "dimension — changed keys close their open row at the batch date "
    "and insert a new version, new keys insert, unchanged/absent keys "
    "survive untouched. Upgrades the reference's rebuild-from-scratch "
    "dims (Olist DW.sql:55-131) to effective-dated history. One "
    "full-outer shuffle join; history rows pass through. The change "
    "test is IS DISTINCT FROM on both sides - scd2_apply was already "
    "null-safe and the oracle's plain = silently misclassified "
    "NULL-attribute rows (null_fuzz_sweep).",
)
def scd2_supplier_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")["supplier"]
    dim0 = sup.select(
        "s_suppkey", "s_nationkey",
        F.round("s_acctbal", 2).alias("acctbal"),
        F.lit("1995-01-01").cast("date").alias("effective_from"),
        F.lit(None).cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    upd = (
        sup.filter(F.col("s_suppkey") % 3 < 2)
        .select(
            "s_suppkey",
            F.when(F.col("s_suppkey") % 3 == 0, F.col("s_nationkey") + 1)
            .otherwise(F.col("s_nationkey")).alias("s_nationkey"),
            F.round("s_acctbal", 2).alias("acctbal"),
        )
        .unionByName(
            sup.filter(F.col("s_suppkey") % 3 == 2).select(
                (F.col("s_suppkey") + 1000000).alias("s_suppkey"),
                "s_nationkey",
                F.round("s_acctbal", 2).alias("acctbal"),
            )
        )
    )
    return scd.scd2_apply(
        dim0, upd,
        key_cols=["s_suppkey"], tracked_cols=["s_nationkey", "acctbal"],
        batch_ts=F.lit("1998-06-01").cast("date"),
    )


@register(
    "scd2_point_in_time",
    oracle="""
WITH dim0 AS (
  SELECT s_suppkey, s_nationkey, round(s_acctbal, 2) AS acctbal,
         DATE '1995-01-01' AS effective_from
  FROM supplier
),
upd AS (
  SELECT s_suppkey,
         CASE WHEN s_suppkey % 3 = 0 THEN s_nationkey + 1
              ELSE s_nationkey END AS s_nationkey,
         round(s_acctbal, 2) AS acctbal
  FROM supplier WHERE s_suppkey % 3 IN (0, 1)
  UNION ALL
  SELECT s_suppkey + 1000000, s_nationkey, round(s_acctbal, 2)
  FROM supplier WHERE s_suppkey % 3 = 2
),
dim AS (
  SELECT d.s_suppkey, d.s_nationkey, d.effective_from,
         CAST(NULL AS DATE) AS effective_to
  FROM dim0 d LEFT JOIN upd u USING (s_suppkey)
  WHERE u.s_suppkey IS NULL
     OR (d.s_nationkey IS NOT DISTINCT FROM u.s_nationkey
         AND d.acctbal IS NOT DISTINCT FROM u.acctbal)
  UNION ALL
  SELECT d.s_suppkey, d.s_nationkey, d.effective_from, DATE '1998-06-01'
  FROM dim0 d JOIN upd u USING (s_suppkey)
  WHERE d.s_nationkey IS DISTINCT FROM u.s_nationkey
     OR d.acctbal IS DISTINCT FROM u.acctbal
  UNION ALL
  SELECT u.s_suppkey, u.s_nationkey, DATE '1998-06-01',
         CAST(NULL AS DATE)
  FROM upd u LEFT JOIN dim0 d USING (s_suppkey)
  WHERE d.s_suppkey IS NULL
     OR d.s_nationkey IS DISTINCT FROM u.s_nationkey
     OR d.acctbal IS DISTINCT FROM u.acctbal
),
f AS (
  SELECT l.l_suppkey, CAST(o.o_orderdate AS DATE) AS d,
         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT CAST(EXTRACT(year FROM f.d) AS INT) AS year,
       dim.s_nationkey,
       CAST(SUM(f.cents) AS BIGINT) AS rev_cents,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM f
JOIN dim ON dim.s_suppkey = f.l_suppkey
        AND dim.effective_from <= f.d
        AND (dim.effective_to IS NULL OR f.d < dim.effective_to)
GROUP BY 1, 2
""",
    doc="SCD Type-2 POINT-IN-TIME lookup — the query the effective-"
    "dated dimension exists for: each fact row joins the dimension "
    "VERSION that was valid on its own order date (from <= d < to), "
    "so revenue attributes to the supplier's nation AS OF the sale, "
    "not as of today — a changed supplier's pre-cutover orders keep "
    "the old nation, post-cutover orders get the new one. Plan shape: "
    "the versioned dim is dimension-sized (<= 2 rows per key) and "
    "broadcasts; the join keys on suppkey with the validity range as "
    "a residual predicate, so the fact scans once with zero shuffle "
    "before the output-bounded (year, nation) rollup. Composes the "
    "already-verified scd2_apply merge with the fact-side lookup.",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "supplier", "lineitem", "orders")
    sup, li, o = t["supplier"], t["lineitem"], t["orders"]
    dim0 = sup.select(
        "s_suppkey", "s_nationkey",
        F.round("s_acctbal", 2).alias("acctbal"),
        F.lit("1995-01-01").cast("date").alias("effective_from"),
        F.lit(None).cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    upd = (
        sup.filter(F.col("s_suppkey") % 3 < 2)
        .select(
            "s_suppkey",
            F.when(F.col("s_suppkey") % 3 == 0, F.col("s_nationkey") + 1)
            .otherwise(F.col("s_nationkey")).alias("s_nationkey"),
            F.round("s_acctbal", 2).alias("acctbal"),
        )
        .unionByName(
            sup.filter(F.col("s_suppkey") % 3 == 2).select(
                (F.col("s_suppkey") + 1000000).alias("s_suppkey"),
                "s_nationkey",
                F.round("s_acctbal", 2).alias("acctbal"),
            )
        )
    )
    dim = scd.scd2_apply(
        dim0, upd,
        key_cols=["s_suppkey"], tracked_cols=["s_nationkey", "acctbal"],
        batch_ts=F.lit("1998-06-01").cast("date"),
    ).select("s_suppkey", "s_nationkey", "effective_from", "effective_to")
    f = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias(
            "cents"
        ),
    )
    joined = f.join(
        F.broadcast(dim),
        (F.col("s_suppkey") == F.col("l_suppkey"))
        & (F.col("effective_from") <= F.col("d"))
        & (
            F.col("effective_to").isNull()
            | (F.col("d") < F.col("effective_to"))
        ),
    )
    return joined.groupBy(
        F.year("d").alias("year"), "s_nationkey"
    ).agg(
        F.sum("cents").alias("rev_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "skew_salted_join",
    oracle="""
SELECT e.user_id, u.n_events AS user_total,
       count(*) AS n, round(sum(e.value), 2) AS sum_value
FROM events e
JOIN (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1) u
  ON e.user_id = u.user_id
GROUP BY e.user_id, u.n_events
""",
    doc="Salted join for hot-key skew: the fact side's shuffle key "
    "gets a salt in [0,8), the dim side is replicated once per salt, "
    "so one hot key spreads over 8 reducers instead of serializing on "
    "one. The oracle runs the UNSALTED join — salting must be "
    "row-identical to it, which is the operator's contract.",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    joined = skew.salted_join(ev, per_user, on=["user_id"], n_salts=8)
    return (
        joined.groupBy("user_id", F.col("n_events").alias("user_total"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@register(
    "w2_running_total",
    oracle="""
SELECT event_id, user_id,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
FROM events
WHERE ts IS NOT NULL
""",
    doc="Running total per user over event time (frame: unbounded "
    "preceding). Accumulated in integer cents (BIGINT): exact, so the "
    "window's summation tree shape (Spark incremental vs DuckDB "
    "segment tree) cannot drift the low bits, and — unlike the DECIMAL "
    "form this replaced — the output survives DuckDB's pandas "
    "conversion, which degrades every DECIMAL to float64 and can "
    "therefore never hash-match Spark's Decimal objects "
    "(CORRECTNESS_r02/r03: w2 had 0 divergent cells yet "
    "hash_match=false). One hash shuffle on user_id; frames never "
    "cross partitions.",
)
def w2_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()  # timeless rows have no timeline position
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return ev.select(
        "event_id", "user_id",
        F.sum(cents).over(w).alias("running_cents"),
    )


@register(
    "w3_lag_delta",
    oracle="""
SELECT event_id, user_id,
       date_diff('second', lag(ts) OVER (
         PARTITION BY user_id ORDER BY ts, event_id), ts) AS secs_since_prev
FROM events
""",
    doc="LAG: integer seconds since the user's previous event (NULL "
    "for the first) — the sessionization primitive as a standalone "
    "window query.",
)
def w3_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return ev.select(
        "event_id", "user_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(prev))
        .cast("bigint").alias("secs_since_prev"),
    )


@register(
    "a11_cube",
    oracle="""
SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents
GROUP BY CUBE (lang, source)
""",
    doc="CUBE: all 2^2 grouping sets over (lang, source) in one pass "
    "(Expand + single aggregate — not 4 scans).",
)
def a11_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return d.cube("lang", "source").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("chars")
    )


@register(
    "w4_ntile_quartiles",
    oracle="""
SELECT event_id, event_type,
       CAST(ntile(4) OVER (PARTITION BY event_type
                           ORDER BY value NULLS FIRST, event_id) AS INT)
       AS quartile
FROM events
""",
    doc="NTILE(4): equal-frequency value quartiles per event type — "
    "the bucketing used for quality-score banding in training-data "
    "curation. Deterministic via the event_id tiebreak. NULL values "
    "sort FIRST (missing = lowest band), pinned explicitly in the "
    "oracle because the engines' ASC defaults disagree (Spark nulls "
    "first, DuckDB nulls last — found by tools/null_fuzz_sweep.py).",
)
def w4_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type",
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@register(
    "set_union_distinct",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
""",
    doc="UNION (distinct) — completes the set-op family next to "
    "UNION ALL / INTERSECT / EXCEPT: union + one dedup shuffle.",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "supplier")
    return (
        t["customer"].select(F.col("c_nationkey").alias("nationkey"))
        .union(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


@register(
    "p11_contains_filter",
    oracle="""
SELECT lang, count(*) AS n
FROM documents
WHERE text LIKE '%the%'
GROUP BY lang
""",
    doc="Substring-predicate scan: LIKE '%s%' compiles to a "
    "StringContains filter that Spark pushes into the parquet reader "
    "(row-group stats + predicate evaluation at the scan), so the "
    "filter runs before any row reaches the aggregate.",
)
def p11_contains_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return (
        d.filter(F.col("text").contains("the"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "tj_asof_forward_tol",
    oracle="""
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'click' AND ts IS NOT NULL
),
r0 AS (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
r1 AS (SELECT user_id, ts, event_id, value FROM r0 WHERE rn = 1),
m AS (
  SELECT l.user_id, l.ts, l.event_id, l.value,
         r1.ts AS m_ts, r1.event_id AS m_eid, r1.value AS m_val
  FROM l ASOF LEFT JOIN r1 ON l.user_id = r1.user_id AND r1.ts >= l.ts
)
SELECT user_id, ts, event_id, value,
       CASE WHEN epoch_us(m_ts) - epoch_us(ts) <= 1800000000
            THEN m_ts END AS matched_ts,
       CASE WHEN epoch_us(m_ts) - epoch_us(ts) <= 1800000000
            THEN m_eid END AS matched_event_id,
       CASE WHEN epoch_us(m_ts) - epoch_us(ts) <= 1800000000
            THEN m_val END AS matched_value
FROM m
""",
    doc="FORWARD as-of join with tolerance (pandas merge_asof parity): "
    "each click gets the EARLIEST same-user purchase at/after it, "
    "nulled when it lies more than 30 minutes ahead. Same union-merge "
    "window as the backward form — direction flips which frame edge "
    "the carry reads (first-over-following), tolerance is a "
    "post-carry conditional NULL; neither adds an exchange "
    "(operators/temporal.py asof_join).",
)
def tj_asof_forward_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return temporal.asof_join(
        clicks, purchases, by=["user_id"],
        right_cols=["event_id", "value"], tie_col="event_id",
        direction="forward", tolerance_seconds=1800,
    ).select(
        "user_id", "ts", "event_id", "value",
        "matched_ts", "matched_event_id", "matched_value",
    )


@register(
    "w8_forward_fill",
    oracle="""
SELECT event_id, user_id, event_type,
       last_value(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS last_purchase_value
FROM events
WHERE ts IS NOT NULL
""",
    doc="Forward fill (LOCF): carry each user's most recent purchase "
    "value onto every subsequent event — the gap-fill primitive for "
    "sparse observations (sensor panels, sessionized attributes). "
    "last(col, ignorenulls) over an unbounded-preceding frame: one "
    "hash shuffle on user_id, constant per-row state, no self-join — "
    "the same carry the as-of join builds on.",
)
def w8_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()  # timeless rows have no timeline position
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "event_id", "user_id", "event_type",
        F.last(carried, ignorenulls=True).over(w).alias(
            "last_purchase_value"
        ),
    )


@register(
    "p12_prefix_filter",
    oracle="""
SELECT p_brand, count(*) AS n,
       CAST(sum(CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS retail_cents
FROM part
WHERE p_name LIKE 'a%'
GROUP BY p_brand
""",
    doc="Prefix-predicate scan: LIKE 'a%' compiles to StringStartsWith, "
    "which Spark pushes into the parquet reader where row-group min/max "
    "string stats can skip whole row groups — the third pushdown class "
    "pinned (equality/range via s1/p6, contains via p11). Plan test "
    "asserts the filter reaches PushedFilters.",
)
def p12_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")["part"]
    return (
        p.filter(F.col("p_name").startswith("a"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.round(F.col("p_retailprice") * 100, 0).cast("long")
            ).alias("retail_cents"),
        )
    )


@register(
    "p13_above_customer_avg",
    oracle="""
WITH c AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              OVER (PARTITION BY o_custkey) AS BIGINT) AS sum_cents,
         CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n
  FROM orders
)
SELECT o_orderkey, o_custkey, price_cents
FROM c
WHERE price_cents * n > sum_cents
""",
    doc="The correlated-subquery pattern (orders above their own "
    "customer's average) de-correlated the way Catalyst itself would: "
    "a windowed sum/count per customer instead of a per-row rescan. "
    "The comparison is cross-multiplied integer cents "
    "(price*n > sum), so no division, no float boundary — a row "
    "exactly AT the average is excluded identically on every engine. "
    "One hash shuffle on the correlation key.",
)
def p13_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")["orders"]
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    w = Window.partitionBy("o_custkey")
    c = o.select(
        "o_orderkey", "o_custkey",
        cents.alias("price_cents"),
        F.sum(cents).over(w).alias("sum_cents"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return c.filter(
        F.col("price_cents") * F.col("n") > F.col("sum_cents")
    ).select("o_orderkey", "o_custkey", "price_cents")


@register(
    "ivm_agg_merge",
    oracle="""
SELECT o_custkey,
       CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m') AS INT) AS month_key,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS rev_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1, 2
""",
    doc="Incremental view maintenance for distributive aggregates: the "
    "monthly revenue rollup is maintained as partial aggregates — a "
    "BASE agg over history plus a DELTA agg over the new batch, "
    "merged by summing partials (SUM and COUNT are associative and "
    "commutative, so merge(agg(A), agg(B)) == agg(A union B) exactly "
    "in integer cents). The oracle computes the full rollup in one "
    "pass and must match bit-for-bit. At 100 TB this is THE refresh "
    "shape: the nightly job scans only the delta (days, not years), "
    "merges into the materialized rollup with dynamic partition "
    "overwrite on the touched months, and never rereads the fact. "
    "Algebraic aggregates (avg) derive from (sum, count); holistic "
    "ones (exact median) do not merge — those recompute or use "
    "mergeable sketches (sk_hist_quantiles). The base/delta split "
    "routes NULL dates explicitly (they satisfy neither inequality "
    "— an unrouted null row is silently LOST by the merge while the "
    "one-pass oracle keeps it; null_fuzz_sweep).",
)
def ivm_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    cut = F.lit("1996-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_custkey",
            F.date_format("o_orderdate", "yyyyMM").cast("int").alias(
                "month_key"
            ),
        ).agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("rev_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )

    # The split must PARTITION the fact: a NULL order date satisfies
    # neither inequality, so without the isNull() route those rows
    # silently vanish from the merged view while a one-pass rollup
    # keeps their NULL-month group (null_fuzz_sweep's catch — the
    # classic incremental-pipeline drop).
    base = partial(
        o.filter(
            (F.col("o_orderdate") < cut) | F.col("o_orderdate").isNull()
        )
    )
    delta = partial(o.filter(F.col("o_orderdate") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("o_custkey", "month_key")
        .agg(
            F.sum("rev_cents").alias("rev_cents"),
            F.sum("n_orders").alias("n_orders"),
        )
    )


@register(
    "j9_reconcile_orders_lines",
    oracle="""
WITH a AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
  FROM orders
),
b AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS line_cents
  FROM lineitem GROUP BY 1
)
SELECT
  CAST(count(*) FILTER (WHERE a.o_orderkey IS NOT NULL
                          AND b.l_orderkey IS NOT NULL) AS BIGINT)
    AS matched,
  CAST(count(*) FILTER (WHERE b.l_orderkey IS NULL) AS BIGINT)
    AS orders_without_lines,
  CAST(count(*) FILTER (WHERE a.o_orderkey IS NULL) AS BIGINT)
    AS orphan_line_orders,
  CAST(COALESCE(SUM(b.n_lines), 0) AS BIGINT) AS total_lines,
  CAST(count(*) FILTER (WHERE a.price_cents = b.line_cents) AS BIGINT)
    AS price_exact_matches
FROM a FULL OUTER JOIN b ON a.o_orderkey = b.l_orderkey
""",
    doc="Cross-table reconciliation audit — the data-quality gate every "
    "warehouse load runs after ingest (the reference's SSIS package "
    "implies it between its OLTP extract and DW load): orders vs the "
    "per-order rollup of lineitem, FULL OUTER JOIN on the key, "
    "classifying matched / header-without-lines / orphan-lines and "
    "counting exact integer-cents price agreement. Scale shape: each "
    "side map-side-combines to order grain first (lineitem collapses "
    "~4:1 before the join), one shuffle on o_orderkey, then the "
    "classification folds to a single row with a map-side-combined "
    "global aggregate — output size is O(1) regardless of input size.",
)
def j9_reconcile_orders_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "lineitem")
    a = t["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("price_cents"),
    )
    b = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            ).alias("line_cents"),
        )
    )
    j = a.join(b, a.o_orderkey == b.l_orderkey, "full_outer")
    both = F.col("o_orderkey").isNotNull() & F.col("l_orderkey").isNotNull()
    return j.agg(
        F.count(F.when(both, 1)).alias("matched"),
        F.count(F.when(F.col("l_orderkey").isNull(), 1)).alias(
            "orders_without_lines"
        ),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias(
            "orphan_line_orders"
        ),
        F.coalesce(F.sum("n_lines"), F.lit(0)).alias("total_lines"),
        F.count(
            F.when(F.col("price_cents") == F.col("line_cents"), 1)
        ).alias("price_exact_matches"),
    )


@register(
    "w9_cume_dist_nth",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer
)
SELECT c_custkey, c_nationkey, bal_cents,
       round(cume_dist() OVER w, 4) AS cume_frac,
       nth_value(c_custkey, 2) OVER (
         PARTITION BY c_nationkey
         ORDER BY bal_cents NULLS FIRST, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS second_lowest_key
FROM c
WINDOW w AS (PARTITION BY c_nationkey
             ORDER BY bal_cents NULLS FIRST, c_custkey)
""",
    doc="Window-function completeness: cume_dist and nth_value over the "
    "per-nation balance ordering. The ORDER BY is made unique with "
    "the key tie-break, so cume_dist degenerates to rank/n — an "
    "exact small-integer division that rounds identically on both "
    "engines — and nth_value(2) (explicit full-frame, since the "
    "default frame would return NULL for the partition's first row) "
    "is deterministic (NULL balances sort FIRST, pinned in the oracle). One hash exchange on c_nationkey + an "
    "in-partition sort; no global sort. Single-customer nations "
    "yield NULL second_lowest_key on both engines.",
)
def w9_cume_dist_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")["customer"]
    base = c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    wb = Window.partitionBy("c_nationkey").orderBy("bal_cents", "c_custkey")
    wf = wb.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return base.select(
        "c_custkey",
        "c_nationkey",
        "bal_cents",
        F.round(F.cume_dist().over(wb), 4).alias("cume_frac"),
        F.nth_value("c_custkey", 2).over(wf).alias("second_lowest_key"),
    )


@register(
    "p14_exists_semi",
    oracle="""
SELECT c_custkey, c_name, c_nationkey
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND CAST(round(o.o_totalprice * 100, 0) AS BIGINT) > 45000000
)
""",
    doc="Positive EXISTS — the semi-join complement of the NOT IN "
    "anti-join pair (p5/j8): customers with at least one order above "
    "450k, planned as LEFT SEMI so each customer row emits at most "
    "once no matter how many orders qualify (an INNER join + "
    "DISTINCT would shuffle the fan-out first and dedup after — the "
    "semi join never materializes the multiplicity). The price "
    "filter pushes below the join, so the build side carries only "
    "qualifying orders; integer-cents comparison keeps the boundary "
    "row identical on both engines.",
)
def p14_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    big = t["orders"].filter(
        F.round(F.col("o_totalprice") * 100, 0).cast("long") > 45000000
    )
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
    )


@register(
    "ts_gapfill_daily",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
b AS (SELECT user_id, min(d) AS f, max(d) AS l FROM daily GROUP BY 1),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(f, l, INTERVAL 1 DAY)) AS DATE) AS d
  FROM b
)
SELECT s.user_id, strftime(s.d, '%Y-%m-%d') AS day,
       COALESCE(dd.n, 0) AS n_events
FROM spine s LEFT JOIN daily dd ON s.user_id = dd.user_id AND s.d = dd.d
""",
    doc="Time-series gap filling with a generated date spine: every "
    "user gets a dense row per calendar day of their own active span, "
    "zero-filled where no events landed — the shape every retention/"
    "forecasting job needs before window math (a LAG over sparse days "
    "silently skips the gaps). The spine is sequence()-generated from "
    "per-user (min, max) bounds — rows are MANUFACTURED by the plan, "
    "not read — then equi-left-joined back to the daily counts. Scale "
    "shape: daily counts map-side combine; the spine is output-"
    "bounded (sum of active spans, the size the report needs anyway); "
    "the join is on (user, day) so AQE handles it like any fact join. "
    "Day keys are strings on both engines (the events-table oracle "
    "convention), so no DATE-encoding hash drift.",
)
def ts_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = daily.groupBy("user_id").agg(
        F.min("d").alias("f"), F.max("d").alias("l")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(f, l, interval 1 day)")).alias("d"),
    )
    return (
        spine.join(daily, ["user_id", "d"], "left")
        .select(
            "user_id",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        )
    )


@register(
    "funnel_steps",
    oracle="""
WITH s1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
),
s2 AS (
  SELECT user_id, ts, event_type, t1,
         min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
           OVER (PARTITION BY user_id) AS t2
  FROM s1
),
s3 AS (
  SELECT user_id, t1, t2,
         min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
           OVER (PARTITION BY user_id) AS t3
  FROM s2
),
per_user AS (
  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
  FROM s3 GROUP BY 1
)
SELECT
  CAST(count(*) AS BIGINT) AS n_users,
  CAST(count(t1) AS BIGINT) AS n_step_view,
  CAST(count(t2) AS BIGINT) AS n_step_click,
  CAST(count(t3) AS BIGINT) AS n_step_purchase
FROM per_user
""",
    doc="Strictly-ordered funnel (view -> later click -> later "
    "purchase): each step's timestamp is the earliest qualifying "
    "event AFTER the previous step, so out-of-order activity never "
    "counts — the sequential semantics product funnels actually mean, "
    "not three independent EXISTS. The chained conditional mins are "
    "three stacked window aggregates over the SAME partition spec, "
    "which Catalyst plans as one exchange on user_id with zero extra "
    "shuffles (pinned); the funnel report then folds to a single row "
    "map-side. At 100 TB: one hash shuffle of the events, state per "
    "user is three timestamps, and the same chain extends to any "
    "step count without new exchanges.",
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    s1 = e.select("user_id", "ts", "event_type", t1.alias("t1"))
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    s2 = s1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    s3 = s2.withColumn("t3", t3)
    per_user = s3.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_step_view"),
        F.count("t2").alias("n_step_click"),
        F.count("t3").alias("n_step_purchase"),
    )


@register(
    "cohort_retention",
    oracle="""
WITH f AS (
  SELECT user_id, ts,
         min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_day
  FROM events
)
SELECT strftime(first_day, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', first_day, CAST(ts AS DATE)) // 7 AS BIGINT)
         AS offset_weeks,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
FROM f
GROUP BY 1, 2
""",
    doc="Cohort retention: users grouped by first-seen day, activity "
    "bucketed into integer week offsets from THAT user's own start "
    "(pure day arithmetic — no week-of-year convention, so both "
    "engines bucket identically), counting distinct active users per "
    "(cohort, offset) cell. Two exchanges: the first-touch window on "
    "user_id, then the distinct-count aggregate — a single DISTINCT "
    "column plans as the two-phase partial-dedup (no Expand node, "
    "pinned), so the second shuffle carries (cohort, offset, user) "
    "triples already deduped map-side. The cohort matrix is output-"
    "bounded (days x weeks), tiny at any input scale.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id")
    f = e.select(
        "user_id",
        "ts",
        F.min(F.to_date("ts")).over(w).alias("first_day"),
    )
    return (
        f.select(
            F.date_format("first_day", "yyyy-MM-dd").alias("cohort_day"),
            F.floor(
                F.datediff(F.to_date("ts"), F.col("first_day")) / 7
            ).alias("offset_weeks"),
            "user_id",
        )
        .groupBy("cohort_day", "offset_weeks")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


@register(
    "a18_event_histogram",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       array_to_string(
         list_sort(list(coalesce(event_type, '') || ':'
                        || CAST(n AS VARCHAR))),
         ',') AS histogram,
       CAST(sum(n) AS BIGINT) AS n_events
FROM c GROUP BY user_id
""",
    doc="Nested-type aggregation with a canonical serialization: each "
    "user's per-event-type counts collapse to ONE deterministic "
    "'type:count,...' string — collect_list order is partition-"
    "dependent, so the sort_array BEFORE serializing is what makes "
    "the result identical on any engine, any layout (the same "
    "binary-UTF8 ordering the T4 tie convention relies on). This is "
    "the portable form of a map<string,long> column: feature dicts, "
    "label histograms, per-doc tag bags all serialize this way when "
    "engines must agree bit-for-bit. Two map-side-combined exchanges "
    "(type grain, then user grain); the array never exceeds the "
    "event-type vocabulary.",
)
def a18_event_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # concat_ws SKIPS null parts (an unlabeled type would serialize
    # as a bare count) while SQL || nulls the whole entry — pin the
    # canonical form for a NULL type to ':n' via coalesce('') on both
    # sides (null_fuzz_sweep).
    entry = F.concat_ws(
        ":", F.coalesce(F.col("event_type"), F.lit("")), F.col("n")
    )
    return c.groupBy("user_id").agg(
        F.array_join(
            F.sort_array(F.collect_list(entry)), ","
        ).alias("histogram"),
        F.sum("n").alias("n_events"),
    )


@register(
    "reco_item_cooccurrence",
    oracle="""
WITH ui AS (
  SELECT DISTINCT user_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE json_extract(props, '$.k') IS NOT NULL
),
co AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item != b.item
  GROUP BY 1, 2
),
ranked AS (
  SELECT item_a, item_b, n_users,
         ROW_NUMBER() OVER (PARTITION BY item_a
                            ORDER BY n_users DESC, item_b) AS rn
  FROM co
)
SELECT item_a, item_b, CAST(rn AS INT) AS rank, n_users
FROM ranked WHERE rn <= 5
""",
    doc="Item-to-item co-occurrence recommender ('users who engaged "
    "with A also engaged with B'): distinct (user, item) pairs -> "
    "self-join on user -> per-pair user counts -> top-5 co-items per "
    "item. The (user, item) dedup happens BEFORE the self-join (one "
    "map-side-combined exchange), so the join fan-out per user is "
    "C(distinct items, 2), never C(raw events, 2) — at 100 TB the "
    "documented skew knob is capping per-user distinct items (top-N "
    "by recency) before the join, exactly the bound production "
    "co-occurrence jobs apply; the output is vocabulary-bounded "
    "(items x 5) regardless of input scale. Ties break to the "
    "smaller item id, both engines.",
)
def reco_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    ui = (
        e.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    a = ui.select("user_id", F.col("item").alias("item_a"))
    b = ui.select("user_id", F.col("item").alias("item_b"))
    co = (
        a.join(b, "user_id")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    w = Window.partitionBy("item_a").orderBy(
        F.desc("n_users"), F.asc("item_b")
    )
    return (
        co.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("item_a", "item_b", "rank", "n_users")
    )


@register(
    "reco_item_lift",
    oracle="""
WITH ui AS (
  SELECT DISTINCT user_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE json_extract(props, '$.k') IS NOT NULL
),
n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ui),
supp AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS s FROM ui GROUP BY 1),
co AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(COUNT(*) AS BIGINT) AS s_ab
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2
)
SELECT co.item_a, co.item_b, co.s_ab,
       (1000000 * co.s_ab * n.n_users) // (sa.s * sb.s) AS lift_ppm
FROM co
JOIN supp sa ON sa.item = co.item_a
JOIN supp sb ON sb.item = co.item_b
CROSS JOIN n
WHERE (1000000 * co.s_ab * n.n_users) // (sa.s * sb.s) > 1000000
""",
    doc="Association-rule LIFT over item pairs: lift(A,B) = "
    "P(A∧B)/(P(A)P(B)) in integer ppm — N·s_ab·1e6 // (s_a·s_b), "
    "pure BIGINT so the >1 threshold (genuinely associated pairs, "
    "not popularity artifacts) cuts identically on both engines. "
    "Same dedup-before-self-join discovery as the co-occurrence "
    "recommender; per-item supports join back as a (vocabulary-"
    "sized) broadcast and the total-users denominator is a one-row "
    "cross join. Output bounded by the item-pair vocabulary.",
)
def reco_item_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    ui = (
        e.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    n = ui.agg(F.countDistinct("user_id").alias("n_users"))
    supp = ui.groupBy("item").agg(F.count(F.lit(1)).alias("s"))
    a = ui.select("user_id", F.col("item").alias("item_a"))
    b = ui.select("user_id", F.col("item").alias("item_b"))
    co = (
        a.join(b, "user_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("s_ab"))
    )
    sa = supp.select(F.col("item").alias("item_a"), F.col("s").alias("sa"))
    sb = supp.select(F.col("item").alias("item_b"), F.col("s").alias("sb"))
    lift = F.expr("(1000000 * s_ab * n_users) div (sa * sb)")
    return (
        co.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n))
        .select("item_a", "item_b", "s_ab", lift.alias("lift_ppm"))
        .filter(F.col("lift_ppm") > 1000000)
    )


_BENFORD_PPM = {
    d: int(__import__("math").log10(1 + 1 / d) * 1_000_000)
    for d in range(1, 10)
}


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
)


@register(
    "dq_benford_digits",
    oracle=f"""
WITH v AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM v)
SELECT v.digit,
       CAST(COUNT(*) AS BIGINT) AS observed,
       (1000000 * COUNT(*)) // n.total AS observed_ppm,
       CASE v.digit {_BENFORD_CASE} END AS expected_ppm,
       ABS((1000000 * COUNT(*)) // n.total
           - CASE v.digit {_BENFORD_CASE} END) AS abs_dev_ppm
FROM v CROSS JOIN n
GROUP BY v.digit, n.total
""",
    doc="Benford's-law first-digit audit — the screening test fraud "
    "and data-quality reviews run on money columns: observed "
    "first-digit frequencies vs the log10(1+1/d) expectation, both "
    "in integer ppm (the expectations are nine plan literals computed "
    "once; observed shares are BIGINT floor-division), so deviations "
    "are engine-exact. One scan + one 9-row aggregate; the total-row "
    "denominator is a one-row broadcast. TPC-H prices are synthetic "
    "uniforms, so the large deviations HERE are the point — the audit "
    "flags exactly this kind of generated data.",
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    v = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast(
                "string"
            ),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    n = v.agg(F.count(F.lit(1)).alias("total"))
    expected = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for pair in _BENFORD_PPM.items()
                for x in pair
            ]
        ),
        F.col("digit"),
    ).cast("long")
    return (
        v.crossJoin(F.broadcast(n))
        .groupBy("digit", "total")
        .agg(F.count(F.lit(1)).alias("observed"))
        .select(
            "digit",
            "observed",
            F.expr("(1000000 * observed) div total").alias("observed_ppm"),
            expected.alias("expected_ppm"),
            F.abs(
                F.expr("(1000000 * observed) div total") - expected
            ).alias("abs_dev_ppm"),
        )
    )


_PR_EDGES_SQL = """
ui AS (
  SELECT DISTINCT user_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE json_extract(props, '$.k') IS NOT NULL
),
co AS (
  SELECT a.item AS src, b.item AS dst,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item != b.item
  GROUP BY 1, 2
),
edges AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY n_users DESC, dst) AS rn
    FROM co
  ) WHERE rn <= 3
),
nodes AS (SELECT DISTINCT src AS item FROM edges
          UNION SELECT DISTINCT dst FROM edges),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
        FROM edges GROUP BY src)
""".strip()


def _pr_step_sql(cur: str, nxt: str) -> str:
    return f"""
{nxt} AS (
  SELECT n.item,
         150000 + COALESCE(CAST(SUM(
           (850000 * r.rank_micro) // (1000000 * d.outdeg)
         ) AS BIGINT), 0) AS rank_micro
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.item
  LEFT JOIN {cur} r ON r.item = e.src
  LEFT JOIN deg d ON d.src = e.src
  GROUP BY n.item
)""".strip()


@register(
    "graph_pagerank_items",
    oracle=f"""
WITH {_PR_EDGES_SQL},
r0 AS (SELECT item, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes),
{_pr_step_sql("r0", "r1")},
{_pr_step_sql("r1", "r2")},
{_pr_step_sql("r2", "r3")}
SELECT item, rank_micro FROM r3
""",
    doc="INTEGER-EXACT PageRank (damping 0.85, 3 fixed power "
    "iterations) over the directed item graph built from each item's "
    "top-3 co-occurring items — the iterative-algorithm family beyond "
    "connected components and k-means. All rank mass moves in micro "
    "units with per-edge floor division, so every iteration is pure "
    "BIGINT arithmetic and the oracle's unrolled-CTE iterations match "
    "bit-for-bit (the float form would drift across engines by "
    "summation order). Per iteration: one equi-join of the compact "
    "(src, dst, outdeg) edge list against the (node, rank) table plus "
    "one groupBy-sum, both map-side combined — the identical shuffle "
    "shape as hash-min CC, cost O(|edges|) per round, the graph's "
    "text/payload never moves. Fixed iteration count keeps the entry "
    "oracle-expressible; production convergence loops add the "
    "localCheckpoint lineage cut the CC operator demonstrates.",
)
def graph_pagerank_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    ui = (
        e.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    a = ui.select("user_id", F.col("item").alias("src"))
    b = ui.select("user_id", F.col("item").alias("dst"))
    co = (
        a.join(b, "user_id")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("n_users"), F.asc("dst"))
    edges = (
        co.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("src", "dst")
        .persist()
    )
    nodes = (
        edges.select(F.col("src").alias("item"))
        .union(edges.select(F.col("dst").alias("item")))
        .distinct()
        .persist()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = edges.join(deg, "src").persist()
    ranks = nodes.select(
        "item", F.lit(1000000).cast("long").alias("rank_micro")
    )
    for _ in range(3):
        contrib = (
            ed.join(ranks, ed.src == ranks.item)
            .select(
                F.col("dst").alias("item"),
                F.expr(
                    "(850000 * rank_micro) div (1000000 * outdeg)"
                ).alias("c"),
            )
            .groupBy("item")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, "item", "left").select(
            "item",
            (F.lit(150000) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("rank_micro"),
        )
    return ranks


@register(
    "w10_range_numeric_frame",
    oracle="""
WITH c AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
  FROM orders
)
SELECT o_orderkey, o_custkey, price_cents,
       CAST(count(*) OVER (
         PARTITION BY o_custkey ORDER BY price_cents
         RANGE BETWEEN 1000000 PRECEDING AND 1000000 FOLLOWING
       ) AS BIGINT) AS n_within_10k,
       CAST(sum(price_cents) OVER (
         PARTITION BY o_custkey ORDER BY price_cents
         RANGE BETWEEN 1000000 PRECEDING AND 1000000 FOLLOWING
       ) AS BIGINT) AS sum_within_10k
FROM c
""",
    doc="Value-based RANGE frame over a NUMERIC ordering (not time): "
    "for each order, how many of the same customer's orders fall "
    "within ±$10k of its price, and their sum — the peer-band "
    "window (price-band comparisons, salary bands, sensor tolerance "
    "groups) that ROWS frames cannot express because the frame edge "
    "is a VALUE offset. Integer-cents ordering keys make the frame "
    "boundary exact on both engines (a float ordering key would "
    "admit/exclude edge rows differently). Same execution shape as "
    "the time-based w6: one hash exchange on the partition key, "
    "in-partition sort, sliding two-pointer frame — no extra "
    "shuffle vs a plain window.",
)
def w10_range_numeric_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")["orders"]
    c = o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("price_cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("price_cents")
        .rangeBetween(-1000000, 1000000)
    )
    return c.select(
        "o_orderkey",
        "o_custkey",
        "price_cents",
        F.count(F.lit(1)).over(w).alias("n_within_10k"),
        F.sum("price_cents").over(w).alias("sum_within_10k"),
    )


@register(
    "f8_calendar_features",
    oracle="""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS day,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(day(o_orderdate) AS INT) AS dom,
       CAST(day(last_day(CAST(o_orderdate AS DATE))) AS INT)
         AS days_in_month,
       CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END
         AS is_weekend
FROM orders
WHERE o_orderkey % 10 = 0
""",
    doc="Calendar feature derivation — the date-dimension enrichment "
    "the reference computes in its time_period build (`Olist "
    "DW.sql:44-56` derives year/month columns; this extends to the "
    "quarter/month-length/weekend features a seasonality model "
    "needs). The portability trap this op documents: WEEKDAY "
    "NUMBERING IS A CONVENTION, not a fact — Spark's dayofweek() is "
    "1-based Sunday-start, DuckDB's is 0-based — so the registered "
    "contract exposes only the convention-free derivation "
    "(is_weekend), and week-of-year is deliberately absent (ISO vs "
    "US week rules differ between engines). All expressions are "
    "codegen'd scan-stage projections: zero shuffle at any scale.",
)
def f8_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    d = F.col("o_orderdate")
    return o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("day"),
        F.quarter(d).alias("qtr"),
        F.dayofmonth(d).alias("dom"),
        F.dayofmonth(F.last_day(d)).alias("days_in_month"),
        F.when(F.dayofweek(d).isin(1, 7), 1).otherwise(0).alias(
            "is_weekend"
        ),
    )


@register(
    "a21_multi_distinct",
    oracle="""
SELECT CAST(strftime(o_orderdate, '%Y') AS INT) AS yr,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1
""",
    doc="Multiple COUNT(DISTINCT ...) over different columns in one "
    "aggregate — the query shape that FORCES Spark's Expand plan "
    "(each input row replicates once per distinct column, tagged "
    "with a grouping id, then two aggregation phases dedup and "
    "count) — deliberately registered as the cost counterpoint to "
    "cohort_retention's single-distinct no-Expand plan: shuffle "
    "volume here is ~(#distinct-cols + 1) x input, the one case "
    "where adding 'just one more distinct' multiplies the exchange. "
    "At 100 TB the swap is one HLL sketch per column "
    "(sk_hll_daily_users pattern): fixed 64-row register files per "
    "group instead of an input-sized Expand, at ~13 pct error.",
)
def a21_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "w11_ratio_to_report",
    oracle="""
WITH c AS (
  SELECT n_name,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
g AS (
  SELECT n_name, CAST(SUM(bal_cents) AS BIGINT) AS nation_cents
  FROM c GROUP BY 1
)
SELECT n_name, nation_cents,
       round(nation_cents / CAST(SUM(nation_cents) OVER () AS DOUBLE), 4)
         AS share_of_total
FROM g
""",
    doc="Ratio-to-report — each nation's share of total balance: an "
    "aggregate followed by an UNPARTITIONED window over the "
    "aggregate's tiny output. The ordering of the two steps is the "
    "whole scale story: the global SUM OVER () runs on ~25 "
    "nation-grain rows (a single-partition exchange of the REPORT, "
    "which is O(groups)), never on the input — the naive "
    "one-level form (window over raw rows) would single-partition "
    "the entire fact. Dim join broadcasts; integer cents make "
    "numerator and denominator exact, so the 4dp share is identical "
    "on both engines.",
)
def w11_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = _t(spark, sf_dir, "customer", "nation")
    c = t["customer"].join(
        F.broadcast(t["nation"]),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    g = c.groupBy("n_name").agg(
        F.sum(
            F.round(F.col("c_acctbal") * 100, 0).cast("long")
        ).alias("nation_cents")
    )
    w = Window.partitionBy()
    return g.select(
        "n_name",
        "nation_cents",
        F.round(
            F.col("nation_cents")
            / F.sum("nation_cents").over(w).cast("double"),
            4,
        ).alias("share_of_total"),
    )


@register(
    "w12_rank_variants",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer WHERE c_custkey % 7 = 0
)
SELECT c_custkey, c_nationkey, bal_cents,
       CAST(row_number() OVER w AS INT) AS rn,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk
FROM c
WINDOW w AS (PARTITION BY c_nationkey ORDER BY bal_cents DESC, c_custkey)
""",
    doc="The three ranking semantics side by side on one ordering — "
    "row_number (arbitrary-but-deterministic via the key tie-break), "
    "rank (gaps after ties), dense_rank (no gaps): the distinction "
    "that silently changes top-k row counts when ties exist, made "
    "explicit as a single registered contract. All three share one "
    "window spec, so Catalyst plans ONE exchange + one sort (same "
    "merge rule the w9 pin covers); the c_custkey tie-break makes "
    "even row_number engine-exact.",
)
def w12_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = (
        _t(spark, sf_dir, "customer")["customer"]
        .filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100, 0)
            .cast("long")
            .alias("bal_cents"),
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("bal_cents"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "bal_cents",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "set_except_all",
    oracle="""
SELECT o_orderpriority FROM orders WHERE o_custkey % 3 = 0
EXCEPT ALL
SELECT o_orderpriority FROM orders WHERE o_custkey % 3 = 1
""",
    doc="EXCEPT ALL — multiplicity-aware set difference (each "
    "occurrence on the right cancels ONE occurrence on the left), "
    "completing the set-op family beyond the DISTINCT forms "
    "(set_except): the bag semantics audits need when comparing "
    "event logs where duplicate rows are legitimate. Spark plans it "
    "as a counted aggregate on both sides + a generate of the "
    "surviving multiplicities — one exchange per side on the row "
    "value, output replicated without ever materializing either "
    "input twice.",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    a = o.filter(F.col("o_custkey") % 3 == 0).select("o_orderpriority")
    b = o.filter(F.col("o_custkey") % 3 == 1).select("o_orderpriority")
    return a.exceptAll(b)


@register(
    "json_variant_extract",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       min(json_extract_string(props, '$.k')) AS min_k_str
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
""",
    doc="Semi-structured extraction via Spark 4's VARIANT type: "
    "parse_json() decodes the payload ONCE into a binary variant, "
    "and every variant_get() reads from that decoded form — vs "
    "get_json_object (json_props_extract), which re-parses the "
    "string for EACH extracted path. With one field the two tie; "
    "with the 20-field payloads real event logs carry, parse-once "
    "is the difference between 1 and 20 JSON scans per row, which "
    "is why variant is the lakehouse-native semi-structured "
    "encoding (store the variant column, skip the parse entirely). "
    "Both a typed bigint and a string extraction come off the same "
    "parse; string MIN is lexicographic on both engines.",
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    v = F.parse_json(F.col("props"))
    k_long = F.variant_get(v, "$.k", "bigint")
    k_str = F.variant_get(v, "$.k", "string")
    return (
        ev.filter(F.col("props").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k_long).alias("sum_k"),
            F.min(k_str).alias("min_k_str"),
        )
    )


@register(
    "ivm_index_merge",
    oracle=f"""
WITH {SQL_NORM_TOKENS},
words AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM tok),
postings AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
           AS posting_list
  FROM words
  WHERE term != '' AND term NOT IN ({_STOPWORDS_SQL})
  GROUP BY term
)
SELECT term, df, posting_list FROM postings WHERE df >= 2
""",
    doc="Incremental VIEW MAINTENANCE for the inverted index: the "
    "engine builds a BASE index over 90% of the corpus and a DELTA "
    "index over the new 10%, then merges postings per term "
    "(array_union of the doc sets, df = merged size) — and the oracle "
    "is the FULL REBUILD over everything, so the gate proves "
    "merge(index(A), index(B)) == index(A ∪ B) exactly. This is the "
    "set-valued sibling of ivm_agg_merge's distributive sums: "
    "collect_set is mergeable, so a nightly index refresh costs one "
    "pass over the delta plus a term-keyed join against the base — "
    "never a corpus rebuild. The df >= 2 publication filter applies "
    "AFTER the merge (a term can cross the threshold when the delta "
    "lands), exactly as a rebuild would.",
)
def ivm_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]

    def side_index(part: DataFrame) -> DataFrame:
        return (
            part.select(
                "doc_id", F.explode(textops.tokens("text")).alias("term")
            )
            .filter(
                (F.col("term") != "")
                & ~F.col("term").isin(*textops.STOPWORDS)
            )
            .groupBy("term")
            .agg(F.collect_set("doc_id").alias("docs"))
        )

    base = side_index(d.filter(F.col("doc_id") % 10 != 0))
    delta = side_index(d.filter(F.col("doc_id") % 10 == 0))
    empty = F.array().cast("array<bigint>")
    merged = (
        base.select("term", F.col("docs").alias("b_docs"))
        .join(
            delta.select("term", F.col("docs").alias("d_docs")),
            "term",
            "full_outer",
        )
        .select(
            "term",
            F.array_union(
                F.coalesce("b_docs", empty), F.coalesce("d_docs", empty)
            ).alias("docs"),
        )
    )
    return (
        merged.select(
            "term",
            F.size("docs").cast("long").alias("df"),
            F.array_join(
                F.transform(F.array_sort("docs"), lambda x: x.cast("string")),
                ",",
            ).alias("posting_list"),
        )
        .filter(F.col("df") >= 2)
    )


@register(
    "ts_ohlc_bars",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         epoch_us(ts) // 900000000 AS bucket,
         row_number() OVER (
           PARTITION BY event_type, epoch_us(ts) // 900000000
           ORDER BY ts, event_id) AS rn,
         count(*) OVER (
           PARTITION BY event_type, epoch_us(ts) // 900000000) AS cnt
  FROM events
)
SELECT event_type, bucket,
       max(CASE WHEN rn = 1 THEN value END) AS open,
       max(value) AS high, min(value) AS low,
       max(CASE WHEN rn = cnt THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_events
FROM ranked
GROUP BY event_type, bucket
""",
    doc="Time-series resampling into 15-minute OHLC bars per event "
    "type — the downsampling pass every metrics/trading pipeline "
    "runs before charting or feature extraction. Open/close are "
    "first/last VALUE by (ts, event_id) — pure selection, so the "
    "doubles pass through untouched and hash identically on both "
    "engines (no float arithmetic, unlike an average). The bucket is "
    "integer floor-division of epoch micros (operands nonnegative: "
    "div == //). Plan shape: ONE exchange on the implicit "
    "(event_type, bucket) grain — the row_number sort, the peer "
    "count, and the final aggregate all reuse it; at 100 TB this is "
    "a single shuffle of (type, bucket, value, ts) with the "
    "aggregate's partial combine doing the compaction.",
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    b = e.select(
        "event_type",
        "value",
        "ts",
        "event_id",
        F.expr("unix_micros(ts) div 900000000").alias("bucket"),
    )
    wo = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    wp = Window.partitionBy("event_type", "bucket")
    ranked = b.select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )
    return ranked.groupBy("event_type", "bucket").agg(
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("value"))).alias(
            "close"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "dq_zscore_outliers",
    oracle="""
WITH cents AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
  FROM orders
),
g AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS HUGEINT) AS s,
         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
  FROM cents GROUP BY o_orderpriority
),
flagged AS (
  SELECT c.o_orderpriority, c.o_orderkey,
         (g.n * c.c - g.s) AS dev,
         (g.n * g.q - g.s * g.s) AS nvar
  FROM cents c JOIN g USING (o_orderpriority)
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN dev > 0 AND dev * dev > 4 * nvar
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out_2s,
       CAST(sum(CASE WHEN dev > 0 AND dev * dev > 9 * nvar
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out_3s,
       min(CASE WHEN dev > 0 AND dev * dev > 9 * nvar
                THEN o_orderkey END) AS first_out_3s_key
FROM flagged
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="Exact distributed z-score outlier detection, zero floating "
    "point: x > mean + k*sigma is cross-multiplied into the pure-"
    "integer predicate (n*x - S) > 0 AND (n*x - S)^2 > k^2*(n*Q - "
    "S^2) over cents (S = sum, Q = sum of squares), so the 2-sigma "
    "and 3-sigma flags are bit-identical on any engine and any "
    "partitioning — no sqrt, no variance epsilon, no float "
    "accumulation order. Squares ride in DECIMAL(38,0) (Spark) / "
    "HUGEINT (DuckDB), both exact 128-bit integer arithmetic; "
    "intermediate only — outputs are BIGINT (the oracle type guard "
    "bans DECIMAL columns). Plan: one map-side-combined aggregate "
    "for the 5-row group stats, broadcast back over the scan, "
    "re-aggregate — two passes, no sort, no window; at 100 TB the "
    "fact shuffles once (and the first pass's 5-row result is a "
    "plan-time broadcast).",
)
def dq_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    cents = o.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
    )
    dec = F.col("c").cast("decimal(19,0)")
    g = cents.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("q"),
    )
    flagged = cents.join(F.broadcast(g), "o_orderpriority").select(
        "o_orderpriority",
        "o_orderkey",
        (F.col("n") * F.col("c") - F.col("s")).alias("dev"),
        (F.col("n") * F.col("q") - F.col("s") * F.col("s")).alias("nvar"),
    )
    out2 = (F.col("dev") > 0) & (
        F.col("dev") * F.col("dev") > 4 * F.col("nvar")
    )
    out3 = (F.col("dev") > 0) & (
        F.col("dev") * F.col("dev") > 9 * F.col("nvar")
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(out2, 1).otherwise(0)).cast("long").alias("n_out_2s"),
            F.sum(F.when(out3, 1).otherwise(0)).cast("long").alias("n_out_3s"),
            F.min(F.when(out3, F.col("o_orderkey"))).alias(
                "first_out_3s_key"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "dq_psi_splits",
    oracle="""
WITH s AS (
  SELECT doc_id, n_chars,
         CASE WHEN ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
                    1, 8))::BIGINT % 10000 < 8000
              THEN 1 ELSE 0 END AS is_train
  FROM documents
),
b AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM s),
bucketed AS (
  SELECT is_train,
         LEAST(((n_chars - b.lo) * 10) // (b.hi - b.lo + 1),
               CAST(9 AS BIGINT)) AS bucket
  FROM s CROSS JOIN b
),
c AS (
  SELECT bucket,
         CAST(SUM(is_train) + 1 AS BIGINT) AS a,
         CAST(SUM(1 - is_train) + 1 AS BIGINT) AS h
  FROM bucketed GROUP BY bucket
),
t AS (SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(h) AS BIGINT) AS th
      FROM c)
SELECT c.bucket,
       GREATEST((1000000 * c.a) // t.ta, 1) AS train_ppm,
       GREATEST((1000000 * c.h) // t.th, 1) AS held_ppm,
       CAST((GREATEST((1000000 * c.a) // t.ta, 1)
             - GREATEST((1000000 * c.h) // t.th, 1))
            * CAST(floor(1000000.0 * ln(
                CAST(GREATEST((1000000 * c.a) // t.ta, 1) AS DOUBLE) /
                GREATEST((1000000 * c.h) // t.th, 1))) AS BIGINT)
            AS BIGINT) AS psi_contrib
FROM c CROSS JOIN t
""",
    doc="Population Stability Index between the train and held-out "
    "splits — the standard ML-ops drift check that a split (or a new "
    "data batch vs the training distribution) hasn't shifted: "
    "Σ (p_a − p_b)·ln(p_a/p_b) over 10 equal-width feature buckets, "
    "computed entirely in integers — shares in floor-div ppm with "
    "add-one smoothing, clamped to >= 1 ppm so an extreme-skew bucket "
    "can never push ln to 0's pole, one ln per BUCKET floored to "
    "micro-nats (the BM25/unigram precedent), so per-bucket "
    "contributions (1e-12 units) hash identically on both engines. Two scans (bounds, "
    "then bucket counts), a 10-row aggregate, and one-row broadcasts "
    "for the bounds and totals — at 100 TB the cost is the one "
    "bucketing pass; PSI > 0.2 is the conventional "
    "retrain/investigate trigger.",
)
def dq_psi_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    s = d.select(
        "n_chars",
        F.when(
            sampling.hash_bucket(F.col("doc_id"), "split") < 8000, 1
        ).otherwise(0).alias("is_train"),
    )
    b = s.agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
    bucketed = s.crossJoin(F.broadcast(b)).select(
        "is_train",
        F.least(
            F.expr("((n_chars - lo) * 10) div (hi - lo + 1)"),
            F.lit(9).cast("long"),
        ).alias("bucket"),
    )
    c = bucketed.groupBy("bucket").agg(
        (F.sum("is_train") + 1).cast("long").alias("a"),
        (F.sum(1 - F.col("is_train")) + 1).cast("long").alias("h"),
    )
    t = c.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("h").cast("long").alias("th"),
    )
    # Clamp shares to >= 1 ppm: at very large totals a near-empty
    # bucket's floor-divided share is 0 even after add-one smoothing,
    # and ln(0) hard-errors in DuckDB / NULLs in Spark — exactly on
    # the skewed inputs PSI exists to flag. 1 ppm is the resolution
    # floor of the share unit.
    out = c.crossJoin(F.broadcast(t)).select(
        "bucket",
        F.greatest(F.expr("(1000000 * a) div ta"), F.lit(1).cast("long"))
        .alias("train_ppm"),
        F.greatest(F.expr("(1000000 * h) div th"), F.lit(1).cast("long"))
        .alias("held_ppm"),
    )
    ln_ratio = F.floor(
        F.lit(1000000.0)
        * F.log(
            F.col("train_ppm").cast("double") / F.col("held_ppm")
        )
    ).cast("long")
    return out.select(
        "bucket",
        "train_ppm",
        "held_ppm",
        ((F.col("train_ppm") - F.col("held_ppm")) * ln_ratio)
        .cast("long")
        .alias("psi_contrib"),
    )


@register(
    "dq_snapshot_diff",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
delta AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) + 1
              ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END AS cents
  FROM orders WHERE o_orderkey % 97 != 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT)
  FROM orders WHERE o_orderkey % 11 = 0
),
j AS (
  SELECT COALESCE(b.k, d.k) AS k,
         b.k IS NOT NULL AS in_base, d.k IS NOT NULL AS in_delta,
         b.st AS b_st, d.st AS d_st, b.cents AS b_c, d.cents AS d_c
  FROM base b FULL OUTER JOIN delta d ON b.k = d.k
)
SELECT
  CAST(SUM(CASE WHEN NOT in_base THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
  CAST(SUM(CASE WHEN NOT in_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(SUM(CASE WHEN in_base AND in_delta
                 AND (b_st IS DISTINCT FROM d_st
                      OR b_c IS DISTINCT FROM d_c) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_changed,
  CAST(SUM(CASE WHEN in_base AND in_delta
                 AND b_st IS NOT DISTINCT FROM d_st
                 AND b_c IS NOT DISTINCT FROM d_c THEN 1 ELSE 0 END)
       AS BIGINT) AS n_unchanged,
  CAST(SUM(CASE WHEN in_base AND in_delta
                 AND b_c IS DISTINCT FROM d_c THEN 1 ELSE 0 END)
       AS BIGINT) AS n_price_changed,
  CAST(SUM(CASE WHEN in_base AND in_delta
                 AND b_st IS DISTINCT FROM d_st THEN 1 ELSE 0 END)
       AS BIGINT) AS n_status_changed
FROM j
""",
    doc="Snapshot diff — the data-diff audit every migration, backfill "
    "or pipeline-upgrade review runs before swapping a table: one "
    "full-outer join on the key classifies every row as added / "
    "removed / changed / unchanged and attributes changes per column, "
    "collapsing to a single audit row. Money compares in integer "
    "cents (engine-exact); the delta here is a deterministic "
    "synthetic mutation set (drops, +1-cent edits, inserts) so the "
    "oracle reproduces the exact counts. Plan shape: ONE shuffle for "
    "the full-outer join, then a map-side-combined scalar aggregate; "
    "at 100 TB the join keys on the table's natural/bucketed key and "
    "a column-pruned comparison set keeps the shuffle narrow — the "
    "fingerprint manifest (write_with_manifest) answers the cheaper "
    "'identical or not' question without any join at all.",
)
def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        cents.alias("cents"),
    )
    delta = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("st"),
            F.when(F.col("o_orderkey") % 5 == 0, cents + 1)
            .otherwise(cents)
            .alias("cents"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("k"),
                F.col("o_orderstatus").alias("st"),
                cents.alias("cents"),
            )
        )
    )
    # Membership must come from an explicit presence flag, NOT from a
    # value column's null-ness: a row whose status is legitimately
    # NULL is still IN the snapshot (null_fuzz_sweep's catch).
    b = base.select(
        F.col("k"), F.col("st").alias("b_st"), F.col("cents").alias("b_c"),
        F.lit(True).alias("_in_b"),
    )
    d = delta.select(
        F.col("k"), F.col("st").alias("d_st"), F.col("cents").alias("d_c"),
        F.lit(True).alias("_in_d"),
    )
    j = b.join(d, "k", "full_outer").select(
        F.coalesce(F.col("_in_b"), F.lit(False)).alias("in_base"),
        F.coalesce(F.col("_in_d"), F.lit(False)).alias("in_delta"),
        "b_st", "d_st", "b_c", "d_c",
    )
    both = F.col("in_base") & F.col("in_delta")
    # IS DISTINCT FROM, not != — a null->value transition IS a change
    # and null == null IS unchanged; plain != counts such rows as
    # NEITHER under three-valued logic.
    chg = ~F.col("b_st").eqNullSafe(F.col("d_st")) | ~F.col(
        "b_c"
    ).eqNullSafe(F.col("d_c"))
    one = F.lit(1)
    zero = F.lit(0)
    return j.agg(
        F.sum(F.when(~F.col("in_base"), one).otherwise(zero))
        .cast("long").alias("n_added"),
        F.sum(F.when(~F.col("in_delta"), one).otherwise(zero))
        .cast("long").alias("n_removed"),
        F.sum(F.when(both & chg, one).otherwise(zero))
        .cast("long").alias("n_changed"),
        F.sum(F.when(both & ~chg, one).otherwise(zero))
        .cast("long").alias("n_unchanged"),
        F.sum(
            F.when(both & ~F.col("b_c").eqNullSafe(F.col("d_c")), one)
            .otherwise(zero)
        ).cast("long").alias("n_price_changed"),
        F.sum(
            F.when(both & ~F.col("b_st").eqNullSafe(F.col("d_st")), one)
            .otherwise(zero)
        ).cast("long").alias("n_status_changed"),
    )


@register(
    "ts_cusum_alerts",
    oracle="""
WITH RECURSIVE d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
o AS (
  SELECT event_type, day, cnt,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
         COUNT(*) OVER (PARTITION BY event_type) AS nd,
         SUM(cnt) OVER (PARTITION BY event_type) AS tot
  FROM d
),
p AS (
  SELECT event_type, day, cnt, i, (1000000 * tot) // nd AS mean_micro
  FROM o
),
r AS (
  SELECT event_type, day, cnt, i, mean_micro,
         CAST(GREATEST(CAST(0 AS BIGINT),
                  1000000 * cnt - mean_micro - mean_micro // 16)
              AS BIGINT) AS cusum
  FROM p WHERE i = 1
  UNION ALL
  SELECT p.event_type, p.day, p.cnt, p.i, p.mean_micro,
         CAST(GREATEST(CAST(0 AS BIGINT),
                  r.cusum + 1000000 * p.cnt - p.mean_micro
                  - p.mean_micro // 16) AS BIGINT)
  FROM p JOIN r ON p.event_type IS NOT DISTINCT FROM r.event_type
              AND p.i = r.i + 1
)
SELECT event_type, day, cnt, CAST(cusum AS BIGINT) AS cusum,
       cusum > mean_micro // 4 AS is_alert
FROM r
""",
    doc="CUSUM change detection on daily event volumes — the drift "
    "alarm a data-quality monitor runs over arrival counts: per "
    "series, CUSUM_t = max(0, CUSUM_{t-1} + (x_t - mean - slack)), "
    "alert when the accumulated positive drift crosses the threshold. "
    "The recurrence is genuinely SEQUENTIAL state — not window-"
    "expressible — and the engine runs it as a BOUNDED ARRAY FOLD in "
    "pure Catalyst: each series' (day, cnt) rows collect into one "
    "sorted array (days-per-series is bounded by the calendar, the "
    "same bound streaming state relies on), one aggregate() fold "
    "threads the accumulator through in order, and the result "
    "explodes back to rows. Everything is integer micro-units "
    "(mean = 1e6·total div n_days; slack mean/16; threshold mean/4) "
    "so the fold is BIGINT-exact against the oracle's recursive CTE. "
    "One exchange on the series key; at 100 TB the daily pre-"
    "aggregate is the only fact-scale pass.",
)
def ts_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()  # timeless rows are outside event time
    )
    d = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("cnt").alias("tot"),
        F.sort_array(F.collect_list(F.struct("day", "cnt"))).alias("days"),
    ).select(
        "event_type",
        "days",
        F.expr("(1000000 * tot) div nd").alias("mean_micro"),
    )
    zero = F.lit(0).cast("long")
    mean = F.col("mean_micro")
    slack = F.expr("mean_micro div 16")
    init = F.expr(
        "CAST(array() AS array<struct<day: date, cnt: bigint, cusum: bigint>>)"
    )
    folded = F.aggregate(
        F.col("days"),
        init,
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.struct(
                    x["day"].alias("day"),
                    x["cnt"].alias("cnt"),
                    F.greatest(
                        zero,
                        F.coalesce(F.try_element_at(acc, F.lit(-1))["cusum"], zero)
                        + x["cnt"] * 1000000
                        - mean
                        - slack,
                    ).alias("cusum"),
                )
            ),
        ),
    )
    return (
        per.select(
            "event_type",
            "mean_micro",
            F.explode(folded).alias("r"),
        )
        .select(
            "event_type",
            F.col("r.day").alias("day"),
            F.col("r.cnt").alias("cnt"),
            F.col("r.cusum").alias("cusum"),
            (F.col("r.cusum") > F.expr("mean_micro div 4")).alias(
                "is_alert"
            ),
        )
    )


@register(
    "dq_winsorize",
    oracle="""
WITH c AS (
  SELECT o_orderpriority AS grp, o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
  WHERE o_totalprice IS NOT NULL
),
r AS (
  SELECT grp, o_orderkey, cents,
         ROW_NUMBER() OVER (PARTITION BY grp
                            ORDER BY cents, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY grp) AS n
  FROM c
),
bounds AS (
  SELECT grp,
         MAX(CASE WHEN rn = (n - 1) // 100 + 1 THEN cents END) AS lo,
         MAX(CASE WHEN rn = (99 * (n - 1)) // 100 + 1 THEN cents END) AS hi
  FROM r GROUP BY grp
)
SELECT r.grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       b.lo, b.hi,
       CAST(SUM(r.cents) AS BIGINT) AS sum_cents,
       CAST(SUM(LEAST(GREATEST(r.cents, b.lo), b.hi)) AS BIGINT)
         AS sum_winsorized,
       CAST(SUM(CASE WHEN r.cents < b.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_low,
       CAST(SUM(CASE WHEN r.cents > b.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_high
FROM r JOIN bounds b USING (grp)
GROUP BY r.grp, b.lo, b.hi
""",
    doc="Winsorization — the outlier-clamping cleaning pass feature "
    "pipelines run before training: per-group p01/p99 bounds as EXACT "
    "integer ORDER STATISTICS (rank floor((q)(n-1))+1 over a "
    "deterministic (value, key) order — a selection, never an "
    "interpolation, so bounds and clamped sums are BIGINT-exact on "
    "both engines; the a13 exact-percentile entry documents "
    "approx_percentile as the at-scale swap for the rank pass). One "
    "window exchange on the group key; bounds collapse to one row "
    "per group and broadcast back; the audit rollup (totals + clamp "
    "counts per tail) is output-bounded by group count. Unpriced "
    "rows are excluded on both sides - a NULL cannot be ranked or "
    "clamped (null_fuzz_sweep).",
)
def dq_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")["orders"]
    c = o.filter(F.col("o_totalprice").isNotNull()).select(
        F.col("o_orderpriority").alias("grp"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("grp").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("grp")
    r = c.select(
        "grp",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = r.groupBy("grp").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n - 1) div 100 + 1"), F.col("cents"))
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(99 * (n - 1)) div 100 + 1"),
                F.col("cents"),
            )
        ).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    return (
        r.join(F.broadcast(bounds), "grp")
        .groupBy("grp", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.sum(clamped).alias("sum_winsorized"),
            F.sum(F.when(F.col("cents") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_low"),
            F.sum(F.when(F.col("cents") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_high"),
        )
        .select(
            "grp", "n", "lo", "hi", "sum_cents", "sum_winsorized",
            "n_clamped_low", "n_clamped_high",
        )
    )


@register(
    "attrib_multi_model",
    oracle="""
WITH pairs AS (
  SELECT p.event_id AS pid,
         CAST(round(p.value * 100, 0) AS BIGINT) AS cents,
         c.ts AS click_ts, c.event_id AS cid
  FROM events p
  JOIN events c
    ON p.event_type = 'purchase' AND c.event_type = 'click'
   AND c.user_id = p.user_id
   AND c.ts >= p.ts - INTERVAL 60 MINUTES AND c.ts < p.ts
),
credited AS (
  SELECT pid, cents, click_ts,
         ROW_NUMBER() OVER (PARTITION BY pid
                            ORDER BY click_ts, cid) AS rn_first,
         ROW_NUMBER() OVER (PARTITION BY pid
                            ORDER BY click_ts DESC, cid DESC) AS rn_last,
         COUNT(*) OVER (PARTITION BY pid) AS n_touch
  FROM pairs
)
SELECT strftime(date_trunc('hour', click_ts), '%Y-%m-%d %H:%M:%S')
         AS click_hour,
       CAST(SUM(CASE WHEN rn_first = 1 THEN cents ELSE 0 END) AS BIGINT)
         AS first_touch_cents,
       CAST(SUM(CASE WHEN rn_last = 1 THEN cents ELSE 0 END) AS BIGINT)
         AS last_touch_cents,
       CAST(SUM((cents * 1000000) // n_touch) AS BIGINT)
         AS linear_micro_cents
FROM credited
GROUP BY 1
""",
    doc="Multi-touch attribution, three models in one pass: each "
    "purchase's prior-hour clicks share its value by FIRST-touch "
    "(all credit to the earliest click), LAST-touch (to the latest), "
    "and LINEAR (cents x 1e6 // n per click — integer micro-cents "
    "with truncating division, so per-model totals are engine-exact; "
    "a production job reconciles the <=n_touch-1 micro-cent "
    "truncation residue to the first touch as policy). One interval "
    "self-join bounded by the 60-minute window (the streaming twin's "
    "state bound), then per-purchase windows share a single exchange "
    "on the purchase id; the hourly rollup is output-bounded. "
    "Deterministic tie-breaks by (ts, event_id).",
)
def attrib_multi_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    pairs = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 MINUTES"))
        & (F.col("click_ts") < F.col("p_ts")),
    )
    wf = Window.partitionBy("pid").orderBy("click_ts", "cid")
    wl = Window.partitionBy("pid").orderBy(
        F.desc("click_ts"), F.desc("cid")
    )
    wn = Window.partitionBy("pid")
    credited = pairs.select(
        "pid",
        "cents",
        "click_ts",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
        F.count(F.lit(1)).over(wn).alias("n_touch"),
    )
    return credited.groupBy(
        F.date_format(
            F.date_trunc("hour", "click_ts"), "yyyy-MM-dd HH:mm:ss"
        ).alias("click_hour")
    ).agg(
        F.sum(
            F.when(F.col("rn_first") == 1, F.col("cents")).otherwise(0)
        ).alias("first_touch_cents"),
        F.sum(
            F.when(F.col("rn_last") == 1, F.col("cents")).otherwise(0)
        ).alias("last_touch_cents"),
        F.sum(F.expr("(cents * 1000000) div n_touch")).alias(
            "linear_micro_cents"
        ),
    )


@register(
    "ts_interpolate_hourly",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1
),
spine AS (
  SELECT b.event_type, unnest(generate_series(b.h0, b.h1)) AS h FROM bounds b
),
j AS (
  SELECT s.event_type, s.h, d.cents
  FROM spine s LEFT JOIN hourly d
    ON d.event_type = s.event_type AND d.h = s.h
),
n AS (
  SELECT event_type, h, cents,
         last_value(cents IGNORE NULLS) OVER w AS pc,
         last_value(CASE WHEN cents IS NOT NULL THEN h END IGNORE NULLS)
           OVER w AS ph,
         first_value(cents IGNORE NULLS) OVER w2 AS nc,
         first_value(CASE WHEN cents IS NOT NULL THEN h END IGNORE NULLS)
           OVER w2 AS nh
  FROM j
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS UNBOUNDED PRECEDING),
         w2 AS (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, h,
       CASE WHEN cents IS NOT NULL THEN cents
            ELSE pc + ((nc - pc) * (h - ph)) // (nh - ph) END AS cents,
       cents IS NULL AS is_interpolated
FROM n
""",
    doc="Grouped time-series LINEAR interpolation at hourly grain: the "
    "gap-filling completion of the family (ts_gapfill_daily zero-"
    "fills, w8_forward_fill carries last-known): missing hours get "
    "prev + (next-prev)*(h-prev_h)/(next_h-prev_h) in integer cents "
    "with truncating integer division — Spark's div and DuckDB's // "
    "agree on negative slopes too, so interpolated values are "
    "engine-exact with zero float arithmetic. One exchange on "
    "event_type: the spine explodes from per-series bounds, and "
    "prev/next anchors come from two IGNORE NULLS window passes over "
    "the same partitioning (no self-join). Series boundaries are "
    "always observed rows by construction, so no edge NULLs.",
)
def ts_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    hourly = e.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    j = spine.join(hourly, ["event_type", "h"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked = F.when(F.col("cents").isNotNull(), F.col("h"))
    n = j.select(
        "event_type",
        "h",
        "cents",
        F.last("cents", ignorenulls=True).over(wp).alias("pc"),
        F.last(marked, ignorenulls=True).over(wp).alias("ph"),
        F.first("cents", ignorenulls=True).over(wn).alias("nc"),
        F.first(marked, ignorenulls=True).over(wn).alias("nh"),
    )
    interp = F.col("pc") + F.expr("((nc - pc) * (h - ph)) div (nh - ph)")
    return n.select(
        "event_type",
        "h",
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .otherwise(interp)
        .alias("cents"),
        F.col("cents").isNull().alias("is_interpolated"),
    )


@register(
    "dq_key_skew_report",
    oracle="""
WITH stacked AS (
  SELECT 'l_orderkey' AS key_col, l_orderkey AS key_value FROM lineitem
  UNION ALL
  SELECT 'l_partkey', l_partkey FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', l_suppkey FROM lineitem
),
counts AS (
  SELECT key_col, key_value, CAST(count(*) AS BIGINT) AS n_rows
  FROM stacked GROUP BY 1, 2
),
tot AS (SELECT key_col, CAST(sum(n_rows) AS BIGINT) AS total
        FROM counts GROUP BY 1),
ranked AS (
  SELECT key_col, key_value, n_rows,
         ROW_NUMBER() OVER (PARTITION BY key_col
                            ORDER BY n_rows DESC, key_value) AS rn
  FROM counts
)
SELECT r.key_col, r.key_value, r.n_rows, CAST(r.rn AS INT) AS rank,
       (1000000 * r.n_rows) // t.total AS share_ppm
FROM ranked r JOIN tot t USING (key_col)
WHERE r.rn <= 5
""",
    doc="Join-key skew diagnosis — the 'measure before you salt' "
    "report every 100 TB join plan should start from: for each "
    "candidate shuffle key, the 5 heaviest values with their row "
    "counts and integer parts-per-million share of the table. One "
    "stacked pass (the three key columns unpivot map-side, so the "
    "fact scans ONCE), one combined groupBy, then a top-5 window on "
    "the (small) per-key counts. share_ppm is integer floor division "
    "— engine-exact. The output feeds the existing knobs directly: "
    "a key above the salt threshold routes to skew_salted_join, a "
    "bucket/shingle above its cap routes to the cap-and-drop fuses.",
)
def dq_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    stacked = li.select(
        F.expr(
            "stack(3, 'l_orderkey', l_orderkey, 'l_partkey', l_partkey, "
            "'l_suppkey', l_suppkey) AS (key_col, key_value)"
        )
    )
    counts = stacked.groupBy("key_col", "key_value").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    tot = counts.groupBy("key_col").agg(F.sum("n_rows").alias("total"))
    w = Window.partitionBy("key_col").orderBy(
        F.desc("n_rows"), F.asc("key_value")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .join(F.broadcast(tot), "key_col")
        .select(
            "key_col",
            "key_value",
            "n_rows",
            "rank",
            F.expr("(1000000 * n_rows) div total").alias("share_ppm"),
        )
    )


_KNN_EDGES_SQL = """
ui AS (
  SELECT DISTINCT user_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE json_extract(props, '$.k') IS NOT NULL
),
co AS (
  SELECT a.item AS src, b.item AS dst,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item != b.item
  GROUP BY 1, 2
),
knn AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY n_users DESC, dst) AS rn
    FROM co
  ) WHERE rn <= 5
),
edges AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM knn
)
""".strip()


def _knn_edges(spark: SparkSession, sf_dir: str):
    """Engine-side twin of :data:`_KNN_EDGES_SQL` — the SINGLE
    construction of the capped undirected item graph, shared by
    graph_triangles, graph_link_prediction, graph_label_propagation,
    and graph_modularity so the degree cap and tie-break can never
    desynchronize across the four entries (they previously carried
    four copies). Returns (directed_knn, undirected_edges), the
    undirected side persisted (every caller joins it at least
    twice)."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    ui = (
        e.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    a = ui.select("user_id", F.col("item").alias("src"))
    b = ui.select("user_id", F.col("item").alias("dst"))
    co = (
        a.join(b, "user_id")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("n_users"), F.asc("dst"))
    knn = (
        co.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("src", "dst")
    )
    edges = (
        knn.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .persist()
    )
    return knn, edges


@register(
    "graph_triangles",
    oracle=f"""
WITH {_KNN_EDGES_SQL},
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT a AS item FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT item, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY item
""",
    doc="Distributed triangle counting over the bounded-degree item "
    "graph (top-5 co-occurrence neighbors per item, symmetrized to "
    "an undirected a<b edge list) — the third graph-family member "
    "beyond connected components and PageRank, and the standard "
    "cohesion feature for community detection and spam/bot audits. "
    "The id-ordered orientation (a<b<c via two ordered hash joins + "
    "a closing-edge join) enumerates each triangle exactly once with "
    "no candidate explosion; per-corner participation counts come "
    "from a union of three projections of the (a,b,c) triple, one "
    "map-side-combined aggregate. At 100 TB: the top-k cap bounds "
    "every join's fan-out at k^2 per vertex, all three joins shuffle "
    "only (BIGINT, BIGINT) pairs, and the raw co-occurrence density "
    "never reaches the wedge join (the cap is applied per-src before "
    "symmetrization, same as graph_pagerank_items).",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    _knn, edges = _knn_edges(spark, sf_dir)
    e1 = edges
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")),
        )
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("item"))
        .union(tri.select(F.col("b").alias("item")))
        .union(tri.select(F.col("c").alias("item")))
    )
    return corners.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@register(
    "ts_max_concurrency",
    oracle="""
WITH iv AS (
  SELECT event_type, ts AS s, ts + INTERVAL 15 MINUTE AS e FROM events
),
deltas AS (
  SELECT event_type, s AS t, CAST(1 AS BIGINT) AS d FROM iv
  UNION ALL
  SELECT event_type, e AS t, CAST(-1 AS BIGINT) AS d FROM iv
),
running AS (
  SELECT event_type, t, d,
         SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                      ROWS UNBOUNDED PRECEDING) AS conc
  FROM deltas
),
peak AS (
  SELECT event_type, max(conc) AS peak_concurrency
  FROM running GROUP BY event_type
)
SELECT r.event_type,
       CAST(p.peak_concurrency AS BIGINT) AS peak_concurrency,
       min(r.t) AS first_peak_ts
FROM running r JOIN peak p
  ON r.event_type = p.event_type AND r.conc = p.peak_concurrency
GROUP BY r.event_type, p.peak_concurrency
""",
    doc="Sweep-line peak concurrency per event type: every event "
    "opens a 15-minute dwell interval [ts, ts+15m); +1/-1 boundary "
    "deltas, a running sum ordered by (t, d), and the max is the "
    "peak number of simultaneously-open intervals — the classic "
    "interval-overlap aggregation behind capacity planning and "
    "session-concurrency dashboards. Determinism under ties is "
    "argued, not assumed: rows tying on the sort key (t, d) all "
    "carry the SAME delta, so the multiset of running-sum values "
    "inside a tie group is permutation-invariant — max and "
    "first-peak-ts are well-defined on both engines even though "
    "neither promises a stable sort. Ordering d ascending puts -1 "
    "closes before +1 opens at the same instant (end-exclusive "
    "semantics). Plan: one exchange on event_type feeds the "
    "running-sum sort, the 5-row peak table broadcasts back, and "
    "the final aggregate reuses the same partitioning — at 100 TB "
    "the per-key sort is the cost, which is exactly the sweep "
    "line's sequential nature; finer sharding (e.g. per day with "
    "boundary stitching) is the documented scale-out.",
)
def ts_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    iv = e.select(
        "event_type",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("e"),
    )
    deltas = iv.select(
        "event_type", F.col("s").alias("t"), F.lit(1).cast("long").alias("d")
    ).union(
        iv.select(
            "event_type",
            F.col("e").alias("t"),
            F.lit(-1).cast("long").alias("d"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = deltas.select(
        "event_type", "t", F.sum("d").over(w).alias("conc")
    )
    peak = running.groupBy("event_type").agg(
        F.max("conc").alias("peak_concurrency")
    )
    return (
        running.join(F.broadcast(peak), "event_type")
        .filter(F.col("conc") == F.col("peak_concurrency"))
        .groupBy("event_type", "peak_concurrency")
        .agg(F.min("t").alias("first_peak_ts"))
        .select("event_type", "peak_concurrency", "first_peak_ts")
    )


@register(
    "w13_rolling_median",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority,
         epoch_us(o_orderdate) // 86400000000 AS day,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c
  FROM orders
  WHERE o_totalprice IS NOT NULL
  GROUP BY 1, 2
),
rolled AS (
  SELECT o_orderpriority, day, c,
         list_sort(list(c) OVER (
           PARTITION BY o_orderpriority ORDER BY day NULLS FIRST
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
  FROM daily
)
SELECT o_orderpriority, day, c,
       CAST(len(win) AS BIGINT) AS n_win,
       CAST(CASE WHEN len(win) % 2 = 1
                 THEN 2 * win[(len(win) + 1) // 2]
                 ELSE win[len(win) // 2] + win[len(win) // 2 + 1]
            END AS BIGINT) AS med_x2
FROM rolled
""",
    doc="EXACT rolling median (7-day, ROWS frame) of daily revenue "
    "per order priority — the robust smoother dashboards want where "
    "a rolling mean is wrecked by one spiky day. Neither engine "
    "supports exact percentile as a window aggregate, so the frame "
    "is materialized: collect_list/list() over ROWS BETWEEN 6 "
    "PRECEDING, sorted, and the median read by index — reported as "
    "med_x2 (double the median) so the even-count midpoint average "
    "stays in BIGINT, no float division on either engine. The frame "
    "is BOUNDED (7 values of daily pre-aggregates), so the "
    "materialized list is O(1) per row and the whole window rides "
    "the single (priority) exchange the daily rollup already "
    "created; the day key is integer epoch-day floor-division "
    "(nonnegative: div == //). At 100 TB the daily pre-aggregation "
    "is what shrinks the input — the window runs over O(groups x "
    "days) rows, not the fact. approx_percentile over a raw-row "
    "RANGE frame is the documented swap when the frame cannot be "
    "pre-aggregated. Unpriced rows are excluded on both sides and "
    "a NULL day sorts FIRST, pinned in the oracle (null_fuzz_sweep).",
)
def w13_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")["orders"]
    daily = (
        o.filter(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderpriority",
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_orderpriority", "day")
        .agg(F.sum("cents").alias("c"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    rolled = daily.select(
        "o_orderpriority",
        "day",
        "c",
        F.sort_array(F.collect_list("c").over(w)).alias("win"),
    )
    n = F.size("win")
    med_x2 = (
        F.when(
            n % 2 == 1,
            2 * F.element_at("win", ((n + 1) / 2).cast("int")),
        )
        .otherwise(
            F.element_at("win", (n / 2).cast("int"))
            + F.element_at("win", (n / 2 + 1).cast("int"))
        )
        .cast("long")
    )
    return rolled.select(
        "o_orderpriority",
        "day",
        "c",
        n.cast("long").alias("n_win"),
        med_x2.alias("med_x2"),
    )


@register(
    "dq_mad_outliers",
    oracle="""
WITH cents AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
  FROM lineitem
),
med AS (
  SELECT l_returnflag,
         CAST(median(2 * c) AS BIGINT) AS med_x2
  FROM cents GROUP BY l_returnflag
),
dev AS (
  SELECT c.l_returnflag, abs(2 * c.c - m.med_x2) AS d, m.med_x2
  FROM cents c JOIN med m USING (l_returnflag)
),
mad AS (
  SELECT l_returnflag, CAST(median(2 * d) AS BIGINT) AS mad_x4
  FROM dev GROUP BY l_returnflag
)
SELECT d.l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       min(d.med_x2) AS med_x2,
       min(m.mad_x4) AS mad_x4,
       CAST(sum(CASE WHEN 2 * d.d > 3 * m.mad_x4 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_out_3mad
FROM dev d JOIN mad m USING (l_returnflag)
GROUP BY d.l_returnflag
""",
    doc="Robust outlier detection by median absolute deviation, "
    "integer-exact end to end: the median and the MAD are reported "
    "in doubled units (med_x2, mad_x4) so the even-count midpoint "
    "average of integers stays integral — 2x cents has even values, "
    "so the interpolated median is an exact BIGINT on both engines; "
    "likewise the MAD over the (already doubled, hence integer) "
    "absolute deviations. The 3-MAD flag |x-med| > 3*MAD cross-"
    "multiplies to 2*dev > 3*mad_x4 — no float compare anywhere, "
    "unlike every textbook 1.4826*MAD formulation. Complements "
    "dq_zscore_outliers: MAD survives the exact heavy-tail "
    "contamination that inflates sigma and hides outliers from the "
    "z-score. Plan: two exact-percentile aggregates over the 3-group "
    "key with the tiny group tables broadcast back between passes — "
    "exact per-group percentiles sort within groups (the documented "
    "cost, same as a13_median_percentile); approx_percentile is the "
    "at-scale swap when 3 sorted passes over the fact are too dear.",
)
def dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    cents = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("c"),
    )
    med = cents.groupBy("l_returnflag").agg(
        F.percentile(2 * F.col("c"), F.lit(0.5)).cast("long").alias("med_x2")
    )
    dev = cents.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        F.abs(2 * F.col("c") - F.col("med_x2")).alias("d"),
        "med_x2",
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.percentile(2 * F.col("d"), F.lit(0.5)).cast("long").alias("mad_x4")
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med_x2").alias("med_x2"),
            F.min("mad_x4").alias("mad_x4"),
            F.sum(
                F.when(2 * F.col("d") > 3 * F.col("mad_x4"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_out_3mad"),
        )
    )


@register(
    "ts_linear_trend",
    oracle="""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
centered AS (
  SELECT event_type,
         day - min(day) OVER (PARTITION BY event_type) AS x,
         y
  FROM daily
),
sums AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM centered GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
FROM sums
""",
    doc="Per-series OLS linear trend over daily event counts, "
    "reported as the EXACT RATIONAL slope (numerator n*Sxy - Sx*Sy, "
    "denominator n*Sxx - Sx^2) — the drift detector for monitoring "
    "volume trends without a single float: the caller divides (or "
    "cross-multiplies against a threshold) at the end. The day index "
    "is re-centered per series (x = day - min day, via a window min "
    "on the tiny daily rollup) so the moment sums stay small; they "
    "still ride in DECIMAL(38,0)/HUGEINT because n*Sxy is quadratic "
    "in the series length times daily volume at 100 TB. Outputs are "
    "BIGINT (oracle guard bans DECIMAL). Plan: one map-side-combined "
    "daily rollup shuffled on (type, day), then the window min and "
    "the moment aggregate share the per-type exchange over O(days) "
    "rows — the fact is touched once.",
)
def ts_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    daily = (
        e.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    centered = daily.select(
        "event_type",
        (
            F.col("day")
            - F.min("day").over(Window.partitionBy("event_type"))
        ).alias("x"),
        "y",
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    sums = centered.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    return sums.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("slope_den"),
    )


@register(
    "dq_category_entropy",
    oracle="""
WITH counts AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY lang, source
),
tot AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM counts GROUP BY lang
),
terms AS (
  SELECT c.lang, t.n, t.n_sources,
         c.c * CAST(floor(-ln(CAST(c.c AS DOUBLE) / t.n) * 1000000)
                    AS BIGINT) AS wterm
  FROM counts c JOIN tot t USING (lang)
)
SELECT lang, min(n) AS n_docs, min(n_sources) AS n_sources,
       CAST(sum(wterm) // min(n) AS BIGINT) AS entropy_micro_nats
FROM terms GROUP BY lang
""",
    doc="Shannon entropy of the source distribution per language, "
    "quantized to integer micro-nats — the class-balance / "
    "diversity audit a corpus pipeline runs before mixing: entropy "
    "near 0 means one source dominates the language. Each "
    "category's -ln(c/N) is floored to micro-nats BEFORE the "
    "count-weighted sum (the unigram_logprob pattern: both engines "
    "compute the same double ratio and the same libm ln, and the "
    "floor quantization absorbs any final-ulp concern), then the "
    "weighted sum divides by N with integer div — every output "
    "column is BIGINT. Plan: two map-side-combined aggregates over "
    "the (lang, source) key — cardinality O(langs x sources), never "
    "O(rows) — with the per-lang totals joined back broadcast; the "
    "documents fact is scanned once, text column pruned away.",
)
def dq_category_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    counts = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = counts.groupBy("lang").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_sources")
    )
    terms = counts.join(F.broadcast(tot), "lang").select(
        "lang",
        "n",
        "n_sources",
        (
            F.col("c")
            * F.floor(
                -F.log(F.col("c").cast("double") / F.col("n")) * 1000000
            )
        ).alias("wterm"),
    )
    return terms.groupBy("lang").agg(
        F.min("n").alias("n_docs"),
        F.min("n_sources").alias("n_sources"),
        F.expr("CAST(sum(wterm) div min(n) AS BIGINT)").alias(
            "entropy_micro_nats"
        ),
    )


@register(
    "ts_seasonal_baseline",
    oracle="""
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
),
wd AS (
  SELECT day % 7 AS weekday,
         CAST(sum(cnt) AS BIGINT) AS wd_sum,
         CAST(count(*) AS BIGINT) AS wd_n
  FROM daily GROUP BY 1
)
SELECT d.day, d.day % 7 AS weekday, d.cnt, w.wd_sum, w.wd_n
FROM daily d JOIN wd w ON d.day % 7 = w.weekday
WHERE 4 * d.cnt * w.wd_n > 5 * w.wd_sum
""",
    doc="Seasonal-baseline anomaly flags: each day's order count "
    "against the average over all SAME-WEEKDAY days, flagging days "
    ">= 25% above baseline via the cross-multiplied integer "
    "predicate 4*cnt*wd_n > 5*wd_sum — no float division, no "
    "averages materialized. The weekday key is epoch-day mod 7 — a "
    "pure-integer convention identical on every engine, sidestepping "
    "the dayofweek() numbering trap f8_calendar_features documents. "
    "Baseline is over OBSERVED days (absent days don't vote; gap-"
    "filling is ts_gapfill_daily's job and composes upstream of "
    "this). Plan: the fact collapses to O(days) in one map-side-"
    "combined aggregate; the 7-row weekday table broadcasts back — "
    "the flag pass is a broadcast hash join over the daily rollup, "
    "nothing re-shuffles.",
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    daily = (
        o.select(
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wd = (
        daily.select((F.col("day") % 7).alias("weekday"), "cnt")
        .groupBy("weekday")
        .agg(
            F.sum("cnt").alias("wd_sum"),
            F.count(F.lit(1)).alias("wd_n"),
        )
    )
    return (
        daily.withColumn("weekday", F.col("day") % 7)
        .join(F.broadcast(wd), "weekday")
        .filter(
            4 * F.col("cnt") * F.col("wd_n") > 5 * F.col("wd_sum")
        )
        .select("day", "weekday", "cnt", "wd_sum", "wd_n")
    )


@register(
    "w14_activity_streaks",
    oracle="""
WITH active AS (
  SELECT DISTINCT user_id,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
numbered AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
           AS grp
  FROM active
),
islands AS (
  SELECT user_id, grp,
         CAST(count(*) AS BIGINT) AS streak_len,
         min(day) AS streak_start
  FROM numbered GROUP BY user_id, grp
),
ranked AS (
  SELECT user_id, streak_len, streak_start,
         max(streak_len) OVER (PARTITION BY user_id) AS max_len,
         sum(streak_len) OVER (PARTITION BY user_id) AS n_active
  FROM islands
)
SELECT user_id,
       CAST(min(n_active) AS BIGINT) AS n_active_days,
       CAST(min(max_len) AS BIGINT) AS longest_streak,
       min(streak_start) AS streak_start_day
FROM ranked
WHERE streak_len = max_len
GROUP BY user_id
""",
    doc="Gaps-and-islands: per-user longest run of CONSECUTIVE active "
    "days (plus total active days and the earliest day a longest "
    "streak starts) — the classic engagement/retention metric and "
    "the canonical day - row_number() grouping trick: consecutive "
    "days share the (day - rn) island key with zero self-joins. All "
    "integer epoch-day arithmetic; ties between equal-length "
    "streaks resolve to the earliest start on both engines via the "
    "final MIN. Plan: the fact collapses to distinct (user, day) "
    "first (one map-side-combined exchange); the row_number, both "
    "full-frame window aggregates, and the final filter+aggregate "
    "all reuse that single per-user partitioning — one shuffle "
    "total, O(active-days) rows after the distinct.",
)
def w14_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    active = (
        e.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .distinct()
    )
    wn = Window.partitionBy("user_id").orderBy("day")
    numbered = active.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(wn)).alias("grp"),
    )
    islands = numbered.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    wu = Window.partitionBy("user_id")
    ranked = islands.select(
        "user_id",
        "streak_len",
        "streak_start",
        F.max("streak_len").over(wu).alias("max_len"),
        F.sum("streak_len").over(wu).alias("n_active"),
    )
    return (
        ranked.filter(F.col("streak_len") == F.col("max_len"))
        .groupBy("user_id")
        .agg(
            F.min("n_active").cast("long").alias("n_active_days"),
            F.min("max_len").cast("long").alias("longest_streak"),
            F.min("streak_start").alias("streak_start_day"),
        )
    )


@register(
    "reco_user_user_cf",
    oracle="""
WITH ui AS (
  SELECT DISTINCT user_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE json_extract(props, '$.k') IS NOT NULL
),
item_pop AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_users
  FROM ui GROUP BY item
),
kept AS (
  SELECT u.user_id, u.item FROM ui u
  JOIN item_pop p ON u.item = p.item AND p.n_users <= 200
),
deg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS d FROM kept GROUP BY 1
),
pairs AS (
  SELECT a.user_id AS u1, b.user_id AS u2,
         CAST(count(*) AS BIGINT) AS shared
  FROM kept a JOIN kept b
    ON a.item = b.item AND a.user_id != b.user_id
  GROUP BY 1, 2
),
scored AS (
  SELECT p.u1, p.u2, p.shared,
         (1000000 * p.shared * p.shared) // (da.d * db.d) AS cos2_ppm
  FROM pairs p
  JOIN deg da ON p.u1 = da.user_id
  JOIN deg db ON p.u2 = db.user_id
)
SELECT u1, u2, shared, cos2_ppm
FROM (
  SELECT u1, u2, shared, cos2_ppm,
         row_number() OVER (PARTITION BY u1
                            ORDER BY cos2_ppm DESC, u2) AS rn
  FROM scored
) WHERE rn <= 3
""",
    doc="User-user collaborative filtering: each user's top-3 most "
    "similar users by SQUARED binary cosine in integer ppm — "
    "cos^2 = shared^2 / (|A||B|) is monotone in cosine, so the "
    "ranking is exactly the cosine ranking with zero sqrt and zero "
    "floats (BIGINT floor-division; (cos2_ppm DESC, u2) makes the "
    "cut deterministic). The neighbor lists drive user-based "
    "recommendation and sockpuppet/collusion detection. Scale "
    "fuses mirror reco_item_cooccurrence from the other side: "
    "items with > 200 distinct users are dropped BEFORE the self-"
    "join (ubiquitous items carry no similarity signal and are "
    "exactly the quadratic blowup), so per-item fan-out is capped; "
    "the join shuffles only (item, user) pairs; degree tables are "
    "user-vocabulary-sized hash joins; top-3 is one window on the "
    "pair table.",
)
def reco_user_user_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    ui = (
        e.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    item_pop = ui.groupBy("item").agg(F.count(F.lit(1)).alias("n_users"))
    kept = ui.join(
        item_pop.filter(F.col("n_users") <= 200).select("item"), "item"
    ).persist()
    deg = kept.groupBy("user_id").agg(F.count(F.lit(1)).alias("d"))
    a = kept.select("item", F.col("user_id").alias("u1"))
    b = kept.select("item", F.col("user_id").alias("u2"))
    pairs = (
        a.join(b, "item")
        .filter(F.col("u1") != F.col("u2"))
        .groupBy("u1", "u2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    da = deg.select(F.col("user_id").alias("u1"), F.col("d").alias("da"))
    db = deg.select(F.col("user_id").alias("u2"), F.col("d").alias("db"))
    scored = (
        pairs.join(da, "u1")
        .join(db, "u2")
        .select(
            "u1",
            "u2",
            "shared",
            F.expr(
                "(1000000 * shared * shared) div (da * db)"
            ).alias("cos2_ppm"),
        )
    )
    w = Window.partitionBy("u1").orderBy(F.desc("cos2_ppm"), F.asc("u2"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("u1", "u2", "shared", "cos2_ppm")
    )


@register(
    "graph_link_prediction",
    oracle=f"""
WITH {_KNN_EDGES_SQL},
nb AS (
  SELECT a AS node, b AS nbr FROM edges
  UNION ALL SELECT b, a FROM edges
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY node
),
wedges AS (
  SELECT x.nbr AS xa, y.nbr AS xb, CAST(count(*) AS BIGINT) AS common
  FROM nb x JOIN nb y ON x.node = y.node AND x.nbr < y.nbr
  GROUP BY 1, 2
),
cand AS (
  SELECT w.xa AS a, w.xb AS b, w.common
  FROM wedges w
  LEFT JOIN edges e ON e.a = w.xa AND e.b = w.xb
  WHERE e.a IS NULL
)
SELECT c.a, c.b, c.common,
       (1000000 * c.common) // (da.d + db.d - c.common) AS jaccard_ppm
FROM cand c
JOIN deg da ON da.node = c.a
JOIN deg db ON db.node = c.b
ORDER BY jaccard_ppm DESC, a, b
LIMIT 20
""",
    doc="Link prediction by neighbor Jaccard over the bounded-degree "
    "item graph: the top-20 NON-adjacent pairs whose neighborhoods "
    "overlap most — the classic 'these items should be related' "
    "candidate generator (and the graph-completion audit for a "
    "curated edge list). Candidates are exactly the wedge pairs "
    "(a-x-b sharing a neighbor, a<b, one equi self-join of the "
    "symmetrized adjacency on the shared node), minus existing edges "
    "via an anti-join; the score 1e6*|common| div (|N(a)|+|N(b)|-"
    "|common|) is pure BIGINT floor division. Completes the graph "
    "family's audit arc: PageRank ranks nodes, triangles measure "
    "cohesion, this predicts edges. Same scale fuse as "
    "graph_triangles — the top-5 degree cap bounds the wedge join at "
    "O(V*k^2) whatever the raw co-occurrence density; top-20 is "
    "TakeOrderedAndProject.",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    _knn, edges = _knn_edges(spark, sf_dir)
    nb = edges.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionByName(
        edges.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = nb.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    x = nb.select("node", F.col("nbr").alias("xa"))
    y = nb.select("node", F.col("nbr").alias("xb"))
    wedges = (
        x.join(y, "node")
        .filter(F.col("xa") < F.col("xb"))
        .groupBy("xa", "xb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = wedges.join(
        edges,
        (wedges.xa == edges.a) & (wedges.xb == edges.b),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("xa"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("xb"), F.col("d").alias("db"))
    return (
        cand.join(da, "xa")
        .join(db, "xb")
        .select(
            F.col("xa").alias("a"),
            F.col("xb").alias("b"),
            "common",
            F.expr(
                "(1000000 * common) div (da + db - common)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


def _lp_round_sql(cur: str, nxt: str, rnd: int) -> str:
    return f"""
votes_{rnd} AS (
  SELECT nb.node, l.label, CAST(count(*) AS BIGINT) AS votes
  FROM nb JOIN {cur} l ON nb.nbr = l.item
  WHERE nb.node NOT IN (SELECT item FROM {cur})
  GROUP BY nb.node, l.label
),
new_{rnd} AS (
  SELECT node AS item, label, CAST({rnd} AS INT) AS round_assigned
  FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY votes DESC, label) AS rn
    FROM votes_{rnd}
  ) WHERE rn = 1
),
{nxt} AS (
  SELECT item, label, round_assigned FROM {cur}
  UNION ALL SELECT item, label, round_assigned FROM new_{rnd}
)""".strip()


@register(
    "graph_label_propagation",
    oracle=f"""
WITH {_KNN_EDGES_SQL},
nb AS (
  SELECT a AS node, b AS nbr FROM edges
  UNION ALL SELECT b, a FROM edges
),
l0 AS (
  SELECT DISTINCT least(src, dst) AS item,
         least(src, dst) % 3 AS label,
         CAST(0 AS INT) AS round_assigned
  FROM knn WHERE least(src, dst) % 7 = 0
  UNION
  SELECT DISTINCT greatest(src, dst), greatest(src, dst) % 3,
         CAST(0 AS INT)
  FROM knn WHERE greatest(src, dst) % 7 = 0
),
{_lp_round_sql("l0", "l1", 1)},
{_lp_round_sql("l1", "l2", 2)}
SELECT item, CAST(label AS BIGINT) AS label, round_assigned FROM l2
""",
    doc="Semi-supervised label propagation over the bounded-degree "
    "item graph: ~1/7 of the nodes carry seed labels (3 classes), "
    "and two unrolled majority-vote rounds spread them — unlabeled "
    "nodes adopt the most-voted label among labeled neighbors "
    "(votes DESC, label ASC tie-break), labeled nodes are immutable. "
    "This is the auto-labeling workhorse for sparse-annotation "
    "corpora (and the batch shape of community detection): all "
    "integer votes, no damping floats, so the unrolled-CTE oracle "
    "matches exactly, like graph_pagerank_items. Per round: one "
    "equi-join of the adjacency against the label table + one "
    "map-side-combined vote count + one per-node window on the "
    "vote table — the label table is node-bounded, the adjacency is "
    "degree-capped, and document/item payloads never move. Fixed "
    "round count keeps it oracle-expressible; production loops with "
    "the CC operator's localCheckpoint + fixpoint-sum pattern.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    _knn, edges = _knn_edges(spark, sf_dir)
    nb = edges.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionByName(
        edges.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    ).persist()
    nodes = nb.select("node").distinct()
    labels = (
        nodes.filter(F.col("node") % 7 == 0)
        .select(
            F.col("node").alias("item"),
            (F.col("node") % 3).alias("label"),
            F.lit(0).cast("int").alias("round_assigned"),
        )
        .localCheckpoint()
    )
    for rnd in (1, 2):
        labeled_ids = labels.select(F.col("item").alias("node"))
        votes = (
            nb.join(F.broadcast(labeled_ids), "node", "left_anti")
            .join(
                labels.select(
                    F.col("item").alias("nbr"), F.col("label")
                ),
                "nbr",
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        wv = Window.partitionBy("node").orderBy(
            F.desc("votes"), F.asc("label")
        )
        new = (
            votes.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select(
                F.col("node").alias("item"),
                "label",
                F.lit(rnd).cast("int").alias("round_assigned"),
            )
        )
        labels = labels.unionByName(new).localCheckpoint()
    return labels.select(
        "item", F.col("label").cast("long").alias("label"), "round_assigned"
    )


@register(
    "tj_asof_nearest",
    oracle="""
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'click' AND ts IS NOT NULL
),
r0 AS (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
r1 AS (SELECT user_id, ts, event_id, value FROM r0 WHERE rn = 1),
mb AS (
  SELECT l.event_id, r1.ts AS b_ts, r1.event_id AS b_eid,
         r1.value AS b_val
  FROM l ASOF LEFT JOIN r1
    ON l.user_id = r1.user_id AND r1.ts <= l.ts
),
mf AS (
  SELECT l.event_id, r1.ts AS f_ts, r1.event_id AS f_eid,
         r1.value AS f_val
  FROM l ASOF LEFT JOIN r1
    ON l.user_id = r1.user_id AND r1.ts >= l.ts
),
tolerated AS (
  SELECT l.user_id, l.ts, l.event_id, l.value,
         CASE WHEN epoch_us(l.ts) - epoch_us(b_ts) <= 1800000000
              THEN b_ts END AS b_ts,
         CASE WHEN epoch_us(l.ts) - epoch_us(b_ts) <= 1800000000
              THEN b_eid END AS b_eid,
         CASE WHEN epoch_us(l.ts) - epoch_us(b_ts) <= 1800000000
              THEN b_val END AS b_val,
         CASE WHEN epoch_us(f_ts) - epoch_us(l.ts) <= 1800000000
              THEN f_ts END AS f_ts,
         CASE WHEN epoch_us(f_ts) - epoch_us(l.ts) <= 1800000000
              THEN f_eid END AS f_eid,
         CASE WHEN epoch_us(f_ts) - epoch_us(l.ts) <= 1800000000
              THEN f_val END AS f_val
  FROM l JOIN mb USING (event_id) JOIN mf USING (event_id)
)
SELECT user_id, ts, event_id, value,
       CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR
                 epoch_us(ts) - epoch_us(b_ts)
                 <= epoch_us(f_ts) - epoch_us(ts))
            THEN b_ts ELSE f_ts END AS matched_ts,
       CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR
                 epoch_us(ts) - epoch_us(b_ts)
                 <= epoch_us(f_ts) - epoch_us(ts))
            THEN b_eid ELSE f_eid END AS matched_event_id,
       CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR
                 epoch_us(ts) - epoch_us(b_ts)
                 <= epoch_us(f_ts) - epoch_us(ts))
            THEN b_val ELSE f_val END AS matched_value
FROM tolerated
""",
    doc="NEAREST as-of join with tolerance — completes the "
    "backward/forward/nearest merge_asof triple: each click gets the "
    "closest same-user purchase in EITHER direction (ties pinned to "
    "backward; the oracle implements the same rule via two "
    "independent native ASOF JOINs + a CASE). Engine side runs BOTH "
    "carries over the ONE key exchange (two frames, same "
    "partitioning — an extra in-partition sort, no extra shuffle, "
    "still no join node). Tolerance follows pandas merge_asof "
    "exactly: each direction's candidate is gap-checked BEFORE the "
    "nearer one is chosen, so an out-of-tolerance nearest side "
    "falls back to the other side's in-tolerance match.",
)
def tj_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return temporal.asof_join(
        clicks, purchases, by=["user_id"],
        right_cols=["event_id", "value"], tie_col="event_id",
        direction="nearest", tolerance_seconds=1800,
    ).select(
        "user_id", "ts", "event_id", "value",
        "matched_ts", "matched_event_id", "matched_value",
    )


@register(
    "w15_skyline_orders",
    oracle="""
WITH cents AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
),
daycounts AS (
  SELECT day, c, CAST(count(*) AS BIGINT) AS n
  FROM cents GROUP BY day, c
),
daymax AS (
  SELECT day, c AS cmax, n AS n_at_max FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY day ORDER BY c DESC) AS rn
    FROM daycounts
  ) WHERE rn = 1
)
SELECT d.day, d.cmax AS cents_max, d.n_at_max
FROM daymax d
WHERE NOT EXISTS (
  SELECT 1 FROM daymax q
  WHERE q.day < d.day AND q.cmax >= d.cmax
)
""",
    doc="2-D Pareto skyline (earlier day better, higher order value "
    "better): the days not dominated by any strictly-earlier day "
    "with at-least-equal maximum order value — the skyline / non-"
    "dominated-set operator behind multi-criteria 'best offers' "
    "queries. The reduction is the point: a skyline row must carry "
    "its day's MAXIMUM value (a same-day higher value dominates), so "
    "the fact first collapses to per-(day, value) counts and per-day "
    "maxima, and the skyline itself is a strict running-max filter "
    "over O(days) rows. The oracle is the INDEPENDENT NOT-EXISTS "
    "dominance formulation, so the window reduction is proven "
    "equivalent to the definition, not assumed. The final window is "
    "deliberately single-partition over the DAY-GRAIN rollup (the "
    "w11 pattern — O(days), never O(rows)); the distributed form "
    "for a non-collapsible skyline is per-partition local skylines "
    "merged, which this pre-aggregation subsumes. Rows missing "
    "either coordinate are excluded on both sides - a NULL day "
    "neither dominates nor is dominated under 3VL, which silently "
    "diverges from the window form (null_fuzz_sweep).",
)
def w15_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")["orders"]
    cents = o.filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    ).select(
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
    )
    daycounts = cents.groupBy("day", "c").agg(
        F.count(F.lit(1)).alias("n")
    )
    wd = Window.partitionBy("day").orderBy(F.desc("c"))
    daymax = (
        daycounts.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "day", F.col("c").alias("cents_max"), F.col("n").alias("n_at_max")
        )
    )
    ws = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return (
        daymax.withColumn(
            "_prevmax", F.max("cents_max").over(ws)
        )
        .filter(
            F.col("_prevmax").isNull()
            | (F.col("cents_max") > F.col("_prevmax"))
        )
        .select("day", "cents_max", "n_at_max")
    )


@register(
    "tj_interval_overlap",
    oracle="""
WITH a AS (
  SELECT user_id, event_id AS a_id, epoch_us(ts) AS s
  FROM events WHERE event_type = 'view'
),
b AS (
  SELECT user_id, event_id AS b_id, epoch_us(ts) AS s
  FROM events WHERE event_type = 'click'
)
SELECT a.user_id, a.a_id, b.b_id,
       CAST(least(a.s + 600000000, b.s + 600000000)
            - greatest(a.s, b.s) AS BIGINT) AS overlap_us
FROM a JOIN b
  ON a.user_id = b.user_id
 AND a.s < b.s + 600000000
 AND b.s < a.s + 600000000
""",
    doc="Interval-overlap join (10-minute view dwells x 10-minute "
    "click dwells per user, end-exclusive) — the two-sided "
    "generalization of the binned range join: shift-conflict / "
    "concurrent-session detection. The oracle is the raw DOUBLE-"
    "INEQUALITY join (which a naive engine plans as a per-key nested "
    "loop); the engine side is the equi-join on (user, time-bin) "
    "with each interval exploding to <= 2 bins and duplicates "
    "suppressed POSITIONALLY — a multi-bin pair emits only from the "
    "bin containing the later start, which provably lies in both "
    "intervals — so no distinct, no second exchange "
    "(operators/temporal.py interval_overlap_join_binned). Plan-"
    "pinned hash join, never a nested loop.",
)
def tj_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    a = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts")
    )
    b = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("b_id"), F.col("ts").alias("b_ts")
    )
    return temporal.interval_overlap_join_binned(
        a, b, by=["user_id"], a_start="a_ts", b_start="b_ts",
        a_len_seconds=600, b_len_seconds=600,
    ).select("user_id", "a_id", "b_id", "overlap_us")


@register(
    "dq_uniqueness_profile",
    oracle="""
WITH stacked AS (
  SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS v FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
)
SELECT col,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
       (1000000 * count(DISTINCT v)) // count(*) AS uniq_ppm,
       CAST(count(*) - count(v) AS BIGINT) AS n_null
FROM stacked GROUP BY col
""",
    doc="Per-column uniqueness profile from ONE stacked scan: row "
    "count, exact distinct count, integer-ppm uniqueness ratio, and "
    "null count for each profiled column — the candidate-key / "
    "join-key-quality discovery pass (uniq_ppm = 1e6 says key; "
    "near-0 says low-cardinality dimension), complementing "
    "dq_key_skew_report's hot-value view of the same decision. "
    "Values stack as strings (one map-side unpivot, no per-column "
    "jobs); the exact COUNT(DISTINCT) per column is the Expand-plan "
    "cost shape a21_multi_distinct pins, and the documented at-scale "
    "swap is one HLL register file per column (sk_hll_* family) when "
    "exactness isn't required.",
)
def dq_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    stacked = o.select(
        F.expr(
            "stack(4, 'o_orderkey', CAST(o_orderkey AS STRING), "
            "'o_custkey', CAST(o_custkey AS STRING), "
            "'o_orderstatus', o_orderstatus, "
            "'o_orderpriority', o_orderpriority) AS (col, v)"
        )
    )
    return stacked.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("v")).alias("n_distinct"),
        F.expr(
            "(1000000 * count(DISTINCT v)) div count(*)"
        ).alias("uniq_ppm"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
    )


@register(
    "a23_weighted_median",
    oracle="""
WITH cents AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
),
byval AS (
  SELECT l_returnflag, c, CAST(sum(w) AS BIGINT) AS wv
  FROM cents GROUP BY l_returnflag, c
),
cum AS (
  SELECT l_returnflag, c, wv,
         CAST(SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY c
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
         CAST(SUM(wv) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
  FROM byval
)
SELECT l_returnflag, min(c) AS weighted_median_cents,
       min(tw) AS total_weight
FROM cum WHERE 2 * cw >= tw
GROUP BY l_returnflag
""",
    doc="Exact WEIGHTED median (price weighted by quantity) per "
    "group — the inventory-weighted 'typical unit price' that a "
    "plain median misstates when line sizes vary. Lower weighted "
    "median convention: the smallest value whose cumulative weight "
    "reaches half the total, via the cross-multiplied integer "
    "predicate 2*cum >= total — no halving, no interpolation, every "
    "column BIGINT. The fact first collapses to per-(group, value) "
    "weight sums (map-side combined), so the cumulative window runs "
    "over the VALUE DOMAIN per group, not the rows — the same "
    "rollup-before-window discipline as w13/w15; at 100 TB the "
    "value domain (distinct cents) bounds the window, and the "
    "sketch swap is a weighted histogram (sk_hist family). Rows "
    "with NULL price or NULL weight are excluded on both sides — a "
    "missing value cannot carry weight mass (null_fuzz_sweep).",
)
def a23_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    cents = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("c"),
        F.col("l_quantity").cast("long").alias("w"),
    ).filter(F.col("c").isNotNull() & F.col("w").isNotNull())
    byval = cents.groupBy("l_returnflag", "c").agg(
        F.sum("w").alias("wv")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = byval.select(
        "l_returnflag",
        "c",
        F.sum("wv").over(wcum).alias("cw"),
        F.sum("wv").over(wtot).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("c").alias("weighted_median_cents"),
            F.min("tw").alias("total_weight"),
        )
    )


@register(
    "a24_mode",
    oracle="""
WITH cents AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) % 1000 AS last_cents
  FROM orders
),
counts AS (
  SELECT o_orderpriority, last_cents, count(*) AS cnt
  FROM cents GROUP BY 1, 2
),
top AS (
  SELECT o_orderpriority, last_cents AS mode_value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                 ORDER BY cnt DESC, last_cents) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT t.o_orderpriority, CAST(t.mode_value AS BIGINT) AS mode_value,
       CAST(g.n AS BIGINT) AS n
FROM top t JOIN (
  SELECT o_orderpriority, count(*) AS n FROM cents GROUP BY 1
) g USING (o_orderpriority)
""",
    doc="Exact per-group MODE with a PINNED tie rule: most frequent "
    "value, ties to the smallest (count DESC, value ASC). Native "
    "mode() aggregates are exactly what this entry exists to "
    "replace: DuckDB's (and most engines') mode breaks ties by scan "
    "order — verified non-deterministic on this very data — so a "
    "reproducible pipeline needs the explicit count-rollup + argmax "
    "formulation on BOTH engines. Plan: per-(group, value) counts "
    "map-side combined, then a per-group window argmax over the "
    "value domain — two bounded exchanges, no sort of the fact.",
)
def a24_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")["orders"]
    cents = o.select(
        "o_orderpriority",
        (F.round(F.col("o_totalprice") * 100, 0).cast("long") % 1000).alias(
            "last_cents"
        ),
    )
    counts = cents.groupBy("o_orderpriority", "last_cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("cnt"), F.asc("last_cents")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority", F.col("last_cents").alias("mode_value")
        )
        .join(
            cents.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n")
            ),
            "o_orderpriority",
        )
        .select("o_orderpriority", "mode_value", "n")
    )


@register(
    "graph_modularity",
    oracle=f"""
WITH {_KNN_EDGES_SQL},
nb AS (
  SELECT a AS node, b AS nbr FROM edges
  UNION ALL SELECT b, a FROM edges
),
l0 AS (
  SELECT DISTINCT least(src, dst) AS item,
         least(src, dst) % 3 AS label,
         CAST(0 AS INT) AS round_assigned
  FROM knn WHERE least(src, dst) % 7 = 0
  UNION
  SELECT DISTINCT greatest(src, dst), greatest(src, dst) % 3,
         CAST(0 AS INT)
  FROM knn WHERE greatest(src, dst) % 7 = 0
),
{_lp_round_sql("l0", "l1", 1)},
{_lp_round_sql("l1", "l2", 2)},
nodes AS (SELECT DISTINCT node FROM nb),
comm AS (
  SELECT n.node,
         COALESCE(l.label, -(n.node + 1)) AS community
  FROM nodes n LEFT JOIN l2 l ON l.item = n.node
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM edges),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY node
),
dc AS (
  SELECT c.community, CAST(sum(deg.d) AS BIGINT) AS d_c
  FROM comm c JOIN deg ON deg.node = c.node
  GROUP BY c.community
),
ec AS (
  SELECT ca.community, CAST(count(*) AS BIGINT) AS e_c
  FROM edges e
  JOIN comm ca ON ca.node = e.a
  JOIN comm cb ON cb.node = e.b
  WHERE ca.community = cb.community
  GROUP BY ca.community
)
SELECT CAST((SELECT count(*) FROM dc) AS BIGINT) AS n_communities,
       (SELECT m_edges FROM m) AS m_edges,
       CAST(sum(4 * (SELECT m_edges FROM m) * COALESCE(ec.e_c, 0)
                - dc.d_c * dc.d_c) AS BIGINT) AS q_num,
       CAST(4 * (SELECT m_edges FROM m) * (SELECT m_edges FROM m)
            AS BIGINT) AS q_den
FROM dc LEFT JOIN ec ON dc.community = ec.community
""",
    doc="Newman modularity of the label-propagation partition as an "
    "EXACT RATIONAL: Q = sum_c(e_c/m - (d_c/2m)^2) is cleared of "
    "fractions to q_num = sum_c(4m*e_c - d_c^2) over q_den = 4m^2 — "
    "pure BIGINT, so the partition-quality score that normally "
    "arrives as a float is bit-identical on both engines (the "
    "ts_linear_trend rational-output pattern). Unlabeled nodes are "
    "singleton communities (the standard treatment), so Q is "
    "well-defined over the whole graph. This closes the graph "
    "analytics loop: propagate labels, then SCORE the partition — "
    "the accept/reject gate for any community assignment. Plan: "
    "intra-community edge counts are one edges⋈community⋈community "
    "equi-join chain; degree mass one rollup; all tables are node- "
    "or community-bounded; 4m*e_c needs 128-bit headroom at "
    "trillion-edge scale (DECIMAL/HUGEINT intermediates, BIGINT "
    "out).",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = graph_label_propagation(spark, sf_dir)
    # the SAME persisted capped edge list the LP entry built — the
    # quadratic co-occurrence self-join runs once per invocation, not
    # twice (review finding, round 5)
    _knn, edges = _knn_edges(spark, sf_dir)
    nb = edges.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionByName(
        edges.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    nodes = nb.select("node").distinct()
    comm = nodes.join(
        labels.select(F.col("item").alias("node"), "label"),
        "node",
        "left",
    ).select(
        "node",
        F.coalesce(F.col("label"), -(F.col("node") + 1)).alias("community"),
    ).persist()
    m_edges = edges.count()
    deg = nb.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    dc = comm.join(deg, "node").groupBy("community").agg(
        F.sum("d").alias("d_c")
    )
    ca = comm.select(F.col("node").alias("a"), F.col("community").alias("comm_a"))
    cb = comm.select(F.col("node").alias("b"), F.col("community").alias("comm_b"))
    ec = (
        edges.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("comm_a") == F.col("comm_b"))
        .groupBy(F.col("comm_a").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    per_c = dc.join(ec, "community", "left").select(
        "community",
        F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
        "d_c",
    )
    return per_c.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.lit(m_edges).cast("long").alias("m_edges"),
        F.sum(
            4 * F.lit(m_edges) * F.col("e_c") - F.col("d_c") * F.col("d_c")
        )
        .cast("long")
        .alias("q_num"),
        F.lit(4 * m_edges * m_edges).cast("long").alias("q_den"),
    )


@register(
    "dq_fk_integrity",
    oracle="""
WITH checks AS (
  SELECT 'lineitem.l_orderkey->orders' AS edge,
         (SELECT count(*) FROM lineitem) AS n_child,
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
           AS n_orphans
  UNION ALL
  SELECT 'lineitem.l_partkey->part',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM supplier s
                            WHERE s.s_suppkey = l.l_suppkey))
  UNION ALL
  SELECT 'orders.o_custkey->customer',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'customer.c_nationkey->nation',
         (SELECT count(*) FROM customer),
         (SELECT count(*) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM nation n
                            WHERE n.n_nationkey = c.c_nationkey))
  UNION ALL
  SELECT 'supplier.s_nationkey->nation',
         (SELECT count(*) FROM supplier),
         (SELECT count(*) FROM supplier s
          WHERE NOT EXISTS (SELECT 1 FROM nation n
                            WHERE n.n_nationkey = s.s_nationkey))
  UNION ALL
  SELECT 'nation.n_regionkey->region',
         (SELECT count(*) FROM nation),
         (SELECT count(*) FROM nation n
          WHERE NOT EXISTS (SELECT 1 FROM region r
                            WHERE r.r_regionkey = n.n_regionkey))
)
SELECT edge, CAST(n_child AS BIGINT) AS n_child,
       CAST(n_orphans AS BIGINT) AS n_orphans
FROM checks
""",
    doc="Referential-integrity audit of the WHOLE schema in one "
    "report: every FK edge of the star (7 edges) with child "
    "cardinality and orphan count — the load-gate every warehouse "
    "runs before publishing (the reference trusts its FKs "
    "implicitly; this makes the check a queryable operator). Each "
    "edge is a LEFT ANTI join against the parent's key set — parent "
    "keys are dimension-sized and broadcast for all edges except "
    "orders (fact-to-fact, shuffled); counts are map-side-combined "
    "scalars, so the report costs one pass per child table "
    "regardless of fact size. Zero orphans on this testdata by "
    "construction — the point is the operator, pinned green, so a "
    "real pipeline's regression shows as a nonzero cell.",
)
def dq_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(
        spark, sf_dir,
        "lineitem", "orders", "part", "supplier", "customer",
        "nation", "region",
    )

    def edge(name, child, ckey, parent, pkey, broadcast=True):
        # one rename here — callers pass the RAW parent + its key name
        pk = parent.select(F.col(pkey).alias(ckey)).distinct()
        if broadcast:
            pk = F.broadcast(pk)
        orphans = child.join(pk, ckey, "left_anti")
        return (
            child.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
            )
            .select(
                F.lit(name).alias("edge"), "n_child", "n_orphans"
            )
        )

    parts = [
        edge("lineitem.l_orderkey->orders", t["lineitem"], "l_orderkey",
             t["orders"], "o_orderkey", broadcast=False),
        edge("lineitem.l_partkey->part", t["lineitem"], "l_partkey",
             t["part"], "p_partkey"),
        edge("lineitem.l_suppkey->supplier", t["lineitem"], "l_suppkey",
             t["supplier"], "s_suppkey"),
        edge("orders.o_custkey->customer", t["orders"], "o_custkey",
             t["customer"], "c_custkey"),
        edge("customer.c_nationkey->nation", t["customer"], "c_nationkey",
             t["nation"], "n_nationkey"),
        edge("supplier.s_nationkey->nation", t["supplier"], "s_nationkey",
             t["nation"], "n_nationkey"),
        edge("nation.n_regionkey->region", t["nation"], "n_regionkey",
             t["region"], "r_regionkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "w16_new_vs_returning",
    oracle="""
WITH activity AS (
  SELECT DISTINCT user_id,
         epoch_us(ts) // 86400000000 AS day
  FROM events
  WHERE ts IS NOT NULL
),
first_seen AS (
  SELECT user_id, min(day) AS first_day FROM activity GROUP BY user_id
),
daily AS (
  SELECT a.day,
         CAST(count(*) AS BIGINT) AS n_active,
         CAST(sum(CASE WHEN f.first_day = a.day THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new
  FROM activity a JOIN first_seen f USING (user_id)
  GROUP BY a.day
)
SELECT day, n_active, n_new,
       CAST(n_active - n_new AS BIGINT) AS n_returning,
       CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_users
FROM daily
""",
    doc="Daily growth curve: active, NEW (first-ever-seen today), "
    "returning, and cumulative acquired users — the "
    "acquisition-vs-retention decomposition behind every growth "
    "dashboard, and the complement of cohort_retention (which "
    "follows cohorts forward; this reads the same first-touch fact "
    "day by day). first_seen is one map-side-combined min per user; "
    "the per-user join back is user-vocabulary-sized; the cumulative "
    "sum is a single-partition window over the DAY-GRAIN rollup "
    "(the w11 pattern — O(days) rows). All integer epoch-day "
    "arithmetic.",
)
def w16_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")["events"]
    activity = (
        e.filter(F.col("ts").isNotNull())  # ts-null fuzz
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .distinct()
    )
    first_seen = activity.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    daily = (
        activity.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new"),
        )
    )
    wc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).cast("long").alias(
            "n_returning"
        ),
        F.sum("n_new").over(wc).cast("long").alias("cum_users"),
    )


@register(
    "ts_autocorrelation",
    oracle="""
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
lags AS (SELECT unnest([1, 7]) AS lag),
pairs AS (
  SELECT l.lag, a.y AS ya, b.y AS yb
  FROM daily a
  JOIN lags l ON TRUE
  JOIN daily b ON b.day = a.day + l.lag
),
sums AS (
  SELECT lag,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(ya) AS HUGEINT) AS sa,
         CAST(sum(yb) AS HUGEINT) AS sb,
         CAST(sum(CAST(ya AS HUGEINT) * yb) AS HUGEINT) AS sab,
         CAST(sum(CAST(ya AS HUGEINT) * ya) AS HUGEINT) AS saa,
         CAST(sum(CAST(yb AS HUGEINT) * yb) AS HUGEINT) AS sbb
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(n * sab - sa * sb AS BIGINT) AS corr_num,
       CAST(n * saa - sa * sa AS BIGINT) AS corr_den_a,
       CAST(n * sbb - sb * sb AS BIGINT) AS corr_den_b
FROM sums
""",
    doc="Lag-1 and lag-7 autocorrelation of daily order counts as "
    "EXACT RATIONALS: Pearson r over (y_t, y_t+k) pairs reported as "
    "(num, den_a, den_b) with r = num / sqrt(den_a * den_b) left to "
    "the caller — the num's SIGN and cross-lag comparisons via "
    "num^2 * den cross-multiplication need no float anywhere "
    "(a16_measure_correlation's pattern applied to the series "
    "against its own shift). A lag-7 peak is the weekly-seasonality "
    "detector that justifies ts_seasonal_baseline's weekday model. "
    "Pairing is an equi-join of the day-grain rollup with itself on "
    "day+k (absent days simply drop pairs — gap-filling composes "
    "upstream via ts_gapfill_daily); moments ride in "
    "DECIMAL(38,0)/HUGEINT, outputs BIGINT.",
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    daily = (
        o.select(
            F.expr("unix_micros(o_orderdate) div 86400000000").alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    lags = spark.createDataFrame([(1,), (7,)], "lag long")
    a = daily.select("day", F.col("y").alias("ya"))
    b = daily.select(
        F.col("day").alias("bday"), F.col("y").alias("yb")
    )
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bday") == F.col("day") + F.col("lag"))
    )
    da = F.col("ya").cast("decimal(38,0)")
    db = F.col("yb").cast("decimal(38,0)")
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(da).alias("sa"),
        F.sum(db).alias("sb"),
        F.sum(da * db).alias("sab"),
        F.sum(da * da).alias("saa"),
        F.sum(db * db).alias("sbb"),
    )
    return sums.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
        .cast("long")
        .alias("corr_num"),
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        .cast("long")
        .alias("corr_den_a"),
        (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        .cast("long")
        .alias("corr_den_b"),
    )


@register(
    "q4_shipping_priority",
    oracle="""
WITH rev AS (
  SELECT l.l_orderkey,
         o.o_orderdate,
         o.o_orderpriority,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
              AS BIGINT) AS rev_cents
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
    AND l.l_shipdate > TIMESTAMP '1998-01-01'
)
SELECT l_orderkey,
       CAST(sum(rev_cents) AS BIGINT) AS revenue_cents,
       o_orderdate, o_orderpriority
FROM rev
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_cents DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3-shape shipping-priority query on the OLTP side: "
    "BUILDING-segment customers, orders placed before the cutoff "
    "whose lines ship after it, top-10 open orders by outstanding "
    "revenue — the classic 3-way selective star probe, and the one "
    "reference-style benchmark shape the q1/q2/q3 pairs didn't "
    "cover (it exercises the previously-unused c_mktsegment "
    "attribute). Revenue is per-line "
    "round(extendedprice*(1-discount)*100) cents — one rounding of "
    "the identical double product on both engines, then pure BIGINT "
    "sums (the engine-wide cents contract). Plan: the segment "
    "filter prunes the customer dim BEFORE its broadcast; both date "
    "filters push to the scans; top-10 is TakeOrderedAndProject "
    "with the T4 (revenue DESC, key ASC) tie convention.",
)
def q4_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    o = t["orders"].filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = t["lineitem"].filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    ).select(
        "l_orderkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
        )
        .cast("long")
        .alias("rev_cents"),
    )
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("rev_cents").alias("revenue_cents"))
        .select(
            "l_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority"
        )
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "dq_ks_drift",
    oracle=f"""
WITH labeled AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c,
         CASE WHEN {_bucket_sql("split", "o_orderkey")} < 8000
              THEN 'a' ELSE 'b' END AS side
  FROM orders
  WHERE o_totalprice IS NOT NULL
),
counts AS (
  SELECT c,
         CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
           AS na_c,
         CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
           AS nb_c
  FROM labeled GROUP BY c
),
tot AS (
  SELECT CAST(sum(na_c) AS BIGINT) AS na,
         CAST(sum(nb_c) AS BIGINT) AS nb
  FROM counts
),
cum AS (
  SELECT c,
         SUM(na_c) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(nb_c) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cb
  FROM counts
)
SELECT tot.na, tot.nb,
       CAST(max(abs(ca * tot.nb - cb * tot.na)) AS BIGINT) AS ks_num,
       CAST(tot.na * tot.nb AS BIGINT) AS ks_den
FROM cum CROSS JOIN tot
GROUP BY tot.na, tot.nb
""",
    doc="EXACT two-sample Kolmogorov-Smirnov drift statistic between "
    "the train-ish and held-out-ish slices of the price "
    "distribution: D = max |F_a - F_b| over the empirical CDFs, "
    "cross-multiplied to the pure-integer max |cum_a*n_b - "
    "cum_b*n_a| over n_a*n_b — the unbinned, binning-free "
    "complement of dq_psi_splits (PSI answers 'how much drift per "
    "bucket'; KS answers 'largest CDF gap anywhere', the classic "
    "accept/reject test statistic) with zero float CDFs. Plan: the "
    "fact collapses to per-VALUE side counts (map-side combined), "
    "then BOTH cumulative CDFs run through the two-pass banded "
    "running sum (packing.banded_running_sum, band = c div 2^20 ≈ "
    "$10k price slices) — for a near-continuous measure the value "
    "domain approaches O(rows), so the r6 full-domain window was a "
    "single-partition sort at 100x (VERDICT r6 #1); banded, each "
    "window partition holds only one price slice's distinct cents "
    "and the single-partition prefix touches the O(price_range / "
    "2^20) band table only. The max reduces to one row.",
)
def dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.operators.packing import (
        banded_running_sum,
    )

    o = _t(spark, sf_dir, "orders")["orders"]
    # An empirical CDF is over OBSERVED values — unpriced rows are
    # excluded on both sides (and with them the engines' divergent
    # NULL sort position in the cumulative window; null_fuzz_sweep).
    labeled = o.filter(F.col("o_totalprice").isNotNull()).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"),
        F.when(
            sampling.hash_bucket(F.col("o_orderkey"), "split") < 8000, "a"
        )
        .otherwise("b")
        .alias("side"),
    )
    counts = labeled.groupBy("c").agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0)).alias("na_c"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0)).alias("nb_c"),
    )
    # c is non-null (price-filtered above), so the default loud NULL
    # contract of the banded primitives applies vacuously.
    cum = banded_running_sum(
        counts,
        band=F.expr("c div 1048576"),
        order_by=[F.asc("c")],
        sums={"ca": "na_c", "cb": "nb_c"},
    ).select("ca", "cb")
    tot = counts.agg(
        F.sum("na_c").alias("na"), F.sum("nb_c").alias("nb")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")
                )
            )
            .cast("long")
            .alias("ks_num"),
            F.min(F.col("na") * F.col("nb")).cast("long").alias("ks_den"),
        )
        .select("na", "nb", "ks_num", "ks_den")
    )


@register(
    "a29_gini_concentration",
    oracle="""
WITH cents AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY o_custkey
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c, o_custkey) AS i
  FROM cents
),
sums AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(c) AS HUGEINT) AS s,
         CAST(sum(CAST(i AS HUGEINT) * c) AS HUGEINT) AS si
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(s AS BIGINT) AS total_cents,
       CAST(2 * si - (n + 1) * s AS BIGINT) AS gini_num,
       CAST(n * s AS BIGINT) AS gini_den
FROM sums
""",
    doc="Gini coefficient of per-customer revenue concentration as an "
    "EXACT RATIONAL: G = (2·Σ i·x_i − (n+1)·Σx_i) / (n·Σx_i) over "
    "rank-ordered customer totals — the whale-concentration / "
    "inequality metric behind 'top 1% of customers drive X%' "
    "analyses, with zero floats (the rank-weighted sum replaces the "
    "Lorenz-curve integral exactly). Ordering ties break by customer "
    "key, which leaves G unchanged (equal values commute in the "
    "formula) but pins both engines to identical i·x_i terms. Plan: "
    "per-customer rollup (map-side combined), then the DISTRIBUTED "
    "two-pass range-banded rank (packing.banded_global_rank, band = "
    "c div 2^23 ≈ $84k revenue slices) over the CUSTOMER-grain "
    "table — no single-partition window even at 10^8 customers — "
    "and a 1-row moment reduce; i·x_i rides in 128-bit "
    "intermediates.",
)
def a29_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.operators.packing import (
        banded_global_rank,
    )

    o = _t(spark, sf_dir, "orders")["orders"]
    # Concentration is over OBSERVED revenue: unpriced orders carry no
    # amount on either engine (SUM skips NULL), and a customer whose
    # EVERY order is unpriced has no observed revenue at all — without
    # this filter their c is NULL, whose band would otherwise vanish
    # in the banded rank's offset join while the oracle ranks it
    # NULLS LAST (ADVICE r6). banded_global_rank now also raises on
    # NULL bands rather than dropping, so this contract is enforced.
    cents = (
        o.filter(F.col("o_totalprice").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("c")
        )
    )
    ranked = banded_global_rank(
        cents,
        band=F.expr("c div 8388608"),
        order_by=[F.asc("c"), F.asc("o_custkey")],
        rank_name="i",
    ).select("c", "i")
    cd = F.col("c").cast("decimal(38,0)")
    idx = F.col("i").cast("decimal(38,0)")
    sums = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(cd).alias("s"),
        F.sum(idx * cd).alias("si"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("s").cast("long").alias("total_cents"),
        (2 * F.col("si") - (F.col("n") + 1) * F.col("s"))
        .cast("long")
        .alias("gini_num"),
        (F.col("n") * F.col("s")).cast("long").alias("gini_den"),
    )


@register(
    "a31_lorenz_deciles",
    oracle="""
WITH cents AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY o_custkey
),
tiled AS (
  SELECT c, NTILE(10) OVER (ORDER BY c, o_custkey) AS decile
  FROM cents
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM tiled)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(c) AS BIGINT) AS cents_total,
       CAST((1000000 * sum(c)) // tot.t AS BIGINT) AS share_ppm
FROM tiled CROSS JOIN tot
GROUP BY decile, tot.t
""",
    doc="The Lorenz curve behind a29_gini_concentration, as a decile "
    "table: customers ranked by revenue into NTILE(10) buckets, each "
    "decile's customer count, cents total, and integer-ppm share of "
    "all revenue — the 'top decile drives X%' readout executives "
    "actually consume, where the Gini is the one-number summary. "
    "NTILE is deterministic here because the ordering (c, custkey) "
    "is unique, and both engines use the same NTILE remainder "
    "convention (larger buckets first) — pinned by the gate. Plan: "
    "customer-grain rollup, the DISTRIBUTED two-pass range-banded "
    "rank (packing.banded_global_rank), then NTILE recovered "
    "arithmetically from (rank, n): with q = n div 10, r = n mod "
    "10, the first r buckets hold q+1 rows — so no NTILE window "
    "(single-partition by definition) touches the customer table; "
    "1-row total broadcast, floor-div ppm.",
)
def a31_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.operators.packing import (
        banded_global_rank,
    )

    o = _t(spark, sf_dir, "orders")["orders"]
    # Observed-revenue contract — same as a29_gini_concentration: an
    # all-NULL-price customer has no observed revenue; without the
    # filter their NULL c would vanish in the banded rank's offset
    # join while the oracle NTILEs it NULLS LAST (ADVICE r6).
    cents = (
        o.filter(F.col("o_totalprice").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("c")
        )
    )
    ranked = banded_global_rank(
        cents,
        band=F.expr("c div 8388608"),
        order_by=[F.asc("c"), F.asc("o_custkey")],
        rank_name="i",
    )
    n_row = ranked.agg(F.count(F.lit(1)).alias("n"))
    # NTILE(10) from the exact rank: q=n div 10, r=n mod 10; the
    # first r buckets take q+1 rows (Spark's and DuckDB's shared
    # larger-buckets-first convention), the rest take q.
    j = F.col("i") - 1
    q = F.expr("n div 10")
    r = F.col("n") % 10
    decile = F.when(
        j < r * (q + 1), F.floor(j / (q + 1)) + 1
    ).otherwise(r + F.floor((j - r * (q + 1)) / q) + 1)
    tiled = ranked.crossJoin(F.broadcast(n_row)).select(
        "c", decile.cast("int").alias("decile")
    )
    tot = tiled.agg(F.sum("c").alias("t"))
    return (
        tiled.crossJoin(F.broadcast(tot))
        .groupBy("decile", "t")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c").alias("cents_total"),
        )
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            "cents_total",
            F.expr(
                "CAST((1000000 * cents_total) div t AS BIGINT)"
            ).alias("share_ppm"),
        )
    )
