"""Sketch and bloom-filter query entries.

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


_HLL_NUM = sketches.HLL_ALPHA * sketches.HLL_M * sketches.HLL_M * (
    1 << sketches.HLL_RANK_MAX
)


@register(
    "sk_hll_distinct_users",
    oracle=f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM events
),
parts AS (
  SELECT event_type,
         CAST(floor(h / {1 << sketches.HLL_RANK_BITS}.0) AS BIGINT) AS bucket,
         h % {1 << sketches.HLL_RANK_BITS} AS w
  FROM h
),
regs AS (
  SELECT event_type, bucket,
         max(CASE WHEN w = 0 THEN {sketches.HLL_RANK_MAX}
                  ELSE {sketches.HLL_RANK_MAX} - length(bin(w)) END) AS register
  FROM parts GROUP BY 1, 2
),
agg AS (
  SELECT event_type,
         SUM(CAST(power(2, {sketches.HLL_RANK_MAX} - register) AS BIGINT))
           AS sum_occupied,
         COUNT(*) AS n_occupied
  FROM regs GROUP BY 1
),
est AS (
  SELECT event_type,
         {_HLL_NUM!r} / (sum_occupied
            + ({sketches.HLL_M} - n_occupied) * {1 << sketches.HLL_RANK_MAX}) AS raw,
         CAST({sketches.HLL_M} - n_occupied AS BIGINT) AS zeros
  FROM agg
)
SELECT event_type,
       round(CASE WHEN raw <= {2.5 * sketches.HLL_M!r} AND zeros > 0
                  THEN {float(sketches.HLL_M)!r} * ln({float(sketches.HLL_M)!r} / zeros)
                  ELSE raw END, 4) AS approx_distinct,
       zeros AS n_zero_registers
FROM est
""",
    doc="Approximate COUNT(DISTINCT) via a portable HyperLogLog "
    "(m=64): register file built relationally from the portable hash "
    "— rank is integer bit-length, the harmonic sum an exact scaled "
    "BIGINT — so unlike approx_count_distinct the estimate is "
    "bit-reproducible on any engine and the oracle hash-checks it. "
    "Per-(group,bucket) max is a map-side partial agg: the shuffle "
    "carries <=64 rows per group at any input size.",
)
def sk_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return sketches.hll_distinct(ev, ["event_type"], F.col("user_id"))


@register(
    "sk_hist_quantiles",
    oracle="""
WITH v AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
),
bounds AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi, count(value) AS n
  FROM v GROUP BY 1
),
binned AS (
  SELECT v.event_type, b.lo, b.hi, b.n,
         CASE WHEN hi = lo THEN 0 ELSE
           least(CAST(floor((value - lo) / ((hi - lo) / 100)) AS BIGINT),
                 99) END AS bin
  FROM v JOIN bounds b USING (event_type)
),
counts AS (
  SELECT event_type, lo, hi, n, bin, count(*) AS c
  FROM binned GROUP BY 1, 2, 3, 4, 5
),
cum AS (
  SELECT event_type, lo, hi, n, bin, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cumc
  FROM counts
),
qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
SELECT event_type, q AS quantile,
       round(lo + min(bin) * (hi - lo) / 100, 4) AS value_est
FROM cum CROSS JOIN qs
WHERE cumc >= n * q
GROUP BY event_type, q, lo, hi
""",
    doc="Approximate quantiles from an equi-width histogram sketch: "
    "bounded-cardinality partial agg on (group,bin) + a window over "
    "<=100 rows per group — no global sort, unlike exact percentile, "
    "and bit-reproducible across engines (unlike percentile_approx, "
    "which no oracle can check).",
)
def sk_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return sketches.histogram_quantiles(
        ev, ["event_type"], F.col("value"), quantiles=[0.5, 0.9, 0.99]
    )


@register(
    "bloom_prefilter_lineitem",
    oracle=f"""
WITH build AS (
  SELECT DISTINCT o_orderkey AS key FROM orders
  WHERE o_orderdate >= DATE '1998-01-01'
),
hashes AS (SELECT unnest([0, 1, 2]) AS i),
pos AS (
  SELECT DISTINCT
         ('0x' || substr(md5(CAST(i AS VARCHAR) || '|'
                              || CAST(key AS VARCHAR)), 1, 8))::BIGINT
           % {bloom.M_BITS_DEFAULT} AS p
  FROM build CROSS JOIN hashes
)
SELECT count(*) AS n_pass,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE NOT EXISTS (
  SELECT 1 FROM hashes h
  WHERE ('0x' || substr(md5(CAST(h.i AS VARCHAR) || '|'
                             || CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
          % {bloom.M_BITS_DEFAULT}
        NOT IN (SELECT p FROM pos)
)
""",
    doc="Bloom semi-join reduction: an 8 KB bitset over 1998 order "
    "keys filters the lineitem scan map-side — no shuffle of the fact "
    "to probe the keyset; the surviving ~x% flow into the real join "
    "(false positives only, never negatives). The oracle recomputes "
    "membership from the same hash family, so the result — false "
    "positives included — matches bit-for-bit.",
)
def bloom_prefilter_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "lineitem")
    build = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("date")
    )
    words = bloom.bloom_build(build, F.col("o_orderkey"))
    li = t["lineitem"].filter(
        bloom.bloom_might_contain(F.col("l_orderkey"), words)
    )
    return li.agg(
        F.count("*").alias("n_pass"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


@register(
    "sk_cms_heavy_hitters",
    oracle=f"""
WITH cells AS (
  SELECT i.i AS r,
         ('0x' || substr(md5(CAST(i.i AS VARCHAR) || '|'
                              || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % {sketches.CMS_WIDTH} AS c
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
),
cms AS (SELECT r, c, count(*) AS cnt FROM cells GROUP BY 1, 2),
cand AS (SELECT DISTINCT user_id FROM events),
probes AS (
  SELECT user_id AS key, i.i AS r,
         ('0x' || substr(md5(CAST(i.i AS VARCHAR) || '|'
                              || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % {sketches.CMS_WIDTH} AS c
  FROM cand CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
)
SELECT p.key, min(cms.cnt) AS est
FROM probes p JOIN cms ON p.r = cms.r AND p.c = cms.c
GROUP BY p.key
""",
    doc="Count-min heavy hitters: per-user event frequencies from a "
    "4x1024 counter matrix — a bounded-cardinality partial aggregate "
    "whose shuffle volume is fixed at any input size, and the sketch "
    "side always broadcastable. Integer counters: estimates are exact "
    "across engines, so even the overestimates hash-match.",
)
def sk_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    cms = sketches.cms_build(ev, F.col("user_id"))
    cand = ev.select("user_id").distinct()
    return sketches.cms_estimate(cms, cand, F.col("user_id"))


@register(
    "sk_hll_daily_users",
    oracle=f"""
WITH h AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM events
),
parts AS (
  SELECT day,
         CAST(floor(h / {1 << sketches.HLL_RANK_BITS}.0) AS BIGINT) AS bucket,
         h % {1 << sketches.HLL_RANK_BITS} AS w
  FROM h
),
regs AS (
  SELECT day, bucket,
         max(CASE WHEN w = 0 THEN {sketches.HLL_RANK_MAX}
                  ELSE {sketches.HLL_RANK_MAX} - length(bin(w)) END) AS register
  FROM parts GROUP BY 1, 2
),
agg AS (
  SELECT day,
         SUM(CAST(power(2, {sketches.HLL_RANK_MAX} - register) AS BIGINT))
           AS sum_occupied,
         COUNT(*) AS n_occupied
  FROM regs GROUP BY 1
),
est AS (
  SELECT day,
         {_HLL_NUM!r} / (sum_occupied
            + ({sketches.HLL_M} - n_occupied) * {1 << sketches.HLL_RANK_MAX}) AS raw,
         CAST({sketches.HLL_M} - n_occupied AS BIGINT) AS zeros
  FROM agg
)
SELECT day,
       round(CASE WHEN raw <= {2.5 * sketches.HLL_M!r} AND zeros > 0
                  THEN {float(sketches.HLL_M)!r} * ln({float(sketches.HLL_M)!r} / zeros)
                  ELSE raw END, 4) AS approx_distinct,
       zeros AS n_zero_registers
FROM est
""",
    doc="Daily-active-users via the portable HyperLogLog, grouped by "
    "event day: the time-partitioned form of sk_hll_distinct_users "
    "that demonstrates what makes sketches the 100 TB answer — "
    "per-day register files are MERGEABLE partial aggregates (64 "
    "rows/day cross the shuffle however many billion events a day "
    "holds), and rolling any date range up is a max over registers, "
    "never a re-scan.",
)
def sk_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    daily = ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return sketches.hll_distinct(daily, ["day"], F.col("user_id"))


@register(
    "sk_hll_set_algebra",
    oracle=f"""
WITH ev AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM events
  WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-05', '2024-01-06')
),
parts AS (
  SELECT day,
         CAST(floor(h / {1 << sketches.HLL_RANK_BITS}.0) AS BIGINT) AS bucket,
         h % {1 << sketches.HLL_RANK_BITS} AS w
  FROM ev
),
regs AS (
  SELECT day, bucket,
         max(CASE WHEN w = 0 THEN {sketches.HLL_RANK_MAX}
                  ELSE {sketches.HLL_RANK_MAX} - length(bin(w)) END)
           AS register
  FROM parts GROUP BY 1, 2
),
uregs AS (SELECT bucket, max(register) AS register FROM regs GROUP BY 1),
est_day AS (
  SELECT day,
         SUM(CAST(power(2, {sketches.HLL_RANK_MAX} - register) AS BIGINT))
           AS sum_occupied,
         COUNT(*) AS n_occupied
  FROM regs GROUP BY 1
),
est_u AS (
  SELECT SUM(CAST(power(2, {sketches.HLL_RANK_MAX} - register) AS BIGINT))
           AS sum_occupied,
         COUNT(*) AS n_occupied
  FROM uregs
),
fin_day AS (
  SELECT day,
         {_HLL_NUM!r} / (sum_occupied + ({sketches.HLL_M} - n_occupied)
                         * {1 << sketches.HLL_RANK_MAX}) AS raw,
         {sketches.HLL_M} - n_occupied AS zeros
  FROM est_day
),
fin_u AS (
  SELECT {_HLL_NUM!r} / (sum_occupied + ({sketches.HLL_M} - n_occupied)
                         * {1 << sketches.HLL_RANK_MAX}) AS raw,
         {sketches.HLL_M} - n_occupied AS zeros
  FROM est_u
),
e_day AS (
  SELECT day,
         round(CASE WHEN raw <= {2.5 * sketches.HLL_M!r} AND zeros > 0
                    THEN {float(sketches.HLL_M)!r}
                         * ln({float(sketches.HLL_M)!r} / zeros)
                    ELSE raw END, 4) AS est
  FROM fin_day
),
e_u AS (
  SELECT round(CASE WHEN raw <= {2.5 * sketches.HLL_M!r} AND zeros > 0
                    THEN {float(sketches.HLL_M)!r}
                         * ln({float(sketches.HLL_M)!r} / zeros)
                    ELSE raw END, 4) AS est_union
  FROM fin_u
)
SELECT '2024-01-05' AS day_a, '2024-01-06' AS day_b,
       a.est AS est_a, b.est AS est_b, u.est_union,
       round(a.est + b.est - u.est_union, 4) AS est_intersect
FROM (SELECT est FROM e_day WHERE day = '2024-01-05') a
CROSS JOIN (SELECT est FROM e_day WHERE day = '2024-01-06') b
CROSS JOIN e_u u
""",
    doc="HLL set algebra — the property that makes sketches a "
    "STORAGE format, not just a query shortcut: per-day register "
    "files merge by per-bucket MAX into the union's registers "
    "(lossless for the union estimate — identical to sketching the "
    "concatenated days), and the two-day user overlap follows by "
    "inclusion-exclusion WITHOUT ever re-scanning events. At 100 TB "
    "this is how any date-range distinct count is answered from 64-"
    "row daily sketch files instead of the raw log; the intersection "
    "inherits both estimates' error (fine for overlap dashboards, "
    "not for joins). All register math is integer-exact from the "
    "portable hash, so even the approximations cross-check "
    "bit-for-bit.",
)
def sk_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    day_a, day_b = "2024-01-05", "2024-01-06"
    two = e.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    ).filter(F.col("day").isin(day_a, day_b))
    regs = sketches.hll_registers(two, ["day"], F.col("user_id")).persist()
    per_day = sketches.hll_estimate(regs, ["day"])
    union_regs = regs.groupBy("bucket").agg(
        F.max("register").alias("register")
    )
    est_u = sketches.hll_estimate(union_regs, []).select(
        F.col("approx_distinct").alias("est_union")
    )
    a = per_day.filter(F.col("day") == day_a).select(
        F.col("approx_distinct").alias("est_a")
    )
    b = per_day.filter(F.col("day") == day_b).select(
        F.col("approx_distinct").alias("est_b")
    )
    return (
        a.crossJoin(b)
        .crossJoin(est_u)
        .select(
            F.lit(day_a).alias("day_a"),
            F.lit(day_b).alias("day_b"),
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_intersect"),
        )
    )


@register(
    "sk_hist_merge",
    oracle="""
WITH v AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
),
bounds AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi, count(value) AS n
  FROM v GROUP BY 1
),
binned AS (
  SELECT v.event_type, b.lo, b.hi, b.n,
         CASE WHEN hi = lo THEN 0 ELSE
           least(CAST(floor((value - lo) / ((hi - lo) / 100)) AS BIGINT),
                 99) END AS bin
  FROM v JOIN bounds b USING (event_type)
),
counts AS (
  SELECT event_type, lo, hi, n, bin, count(*) AS c
  FROM binned GROUP BY 1, 2, 3, 4, 5
),
cum AS (
  SELECT event_type, lo, hi, n, bin, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cumc
  FROM counts
),
qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
SELECT event_type, q AS quantile,
       round(lo + min(bin) * (hi - lo) / 100, 4) AS value_est
FROM cum CROSS JOIN qs
WHERE cumc >= n * q
GROUP BY event_type, q, lo, hi
""",
    doc="Histogram MERGEABILITY, gate-proven: the engine builds the "
    "per-(type, bin) histogram as TWO independent partial histograms "
    "(event_id parity shards, sharing the same global bounds), "
    "merges them by bin-count SUM, and reads the quantiles from the "
    "merged cumulative — the oracle is the DIRECT one-pass "
    "histogram, so merge(hist(A), hist(B)) == hist(A ∪ B) is an "
    "oracle-checked identity, exactly like ivm_agg_merge for "
    "aggregates and sk_hll_set_algebra for HLL registers. This is "
    "the property that lets per-partition/per-day histogram files "
    "roll up into any date range without re-scanning — the bounds "
    "must be GLOBAL (per-shard bounds would misalign bins; the "
    "docstring names that trap). Costs one bounds pass + one "
    "bounded-cardinality partial agg per shard.",
)
def sk_hist_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")["events"]
    v = ev.filter(F.col("value").isNotNull())
    bounds = v.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("value").alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / 100
    binned = v.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "lo",
        "hi",
        "n",
        (F.col("event_id") % 2).alias("shard"),
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width).cast(
                    "long"
                ),
                F.lit(99),
            )
        )
        .alias("bin"),
    )
    partials = binned.groupBy(
        "event_type", "lo", "hi", "n", "shard", "bin"
    ).agg(F.count(F.lit(1)).alias("c"))
    merged = partials.groupBy("event_type", "lo", "hi", "n", "bin").agg(
        F.sum("c").alias("c")
    )
    cum = merged.withColumn(
        "cumc",
        F.sum("c").over(
            Window.partitionBy("event_type")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    qcol = F.explode(F.array(*[F.lit(q) for q in (0.5, 0.9, 0.99)]))
    return (
        cum.withColumn("quantile", qcol)
        .filter(F.col("cumc") >= F.col("n") * F.col("quantile"))
        .groupBy("event_type", "lo", "hi", "quantile")
        .agg(F.min("bin").alias("qbin"))
        .select(
            "event_type",
            "quantile",
            F.round(
                F.col("lo") + F.col("qbin") * (F.col("hi") - F.col("lo")) / 100,
                4,
            ).alias("value_est"),
        )
    )
