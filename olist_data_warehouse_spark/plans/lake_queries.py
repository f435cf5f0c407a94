"""Driver-gated lakehouse queries: every LakeTable mutator as a
(Spark plan, DuckDB oracle) pair.

The log-structured table format (:mod:`..sources.lakehouse`) is the
engine's durability layer; until round 8 its correctness rested only on
self-authored pytest. These entries put each mutator behind the same
mechanized differential gate as every other operator: the Spark side
CREATEs a real lake table from the round's parquet input, runs the
mutation (file-granular DELETE, MERGE upsert, additive schema
evolution, append-only change feed, overwrite+rollback time travel,
stats-pruned read), and returns the full READBACK; the oracle states
the end result relationally over the same raw tables. A wrong commit
log, a lost file action, a broken NULL contract, or a pruning bug all
surface as a hash mismatch.

Scratch discipline: tables are built under a per-process tmp root,
rebuilt from scratch on every call (the driver may re-run entries),
and removed when the interpreter exits — the returned DataFrame
lazily reads the staged parquet, so the files must outlive the call.

Reference parity: the reference's staging reloads are DELETE+INSERT
over SQL Server tables (`Olist DW.sql:39-186`); here the same row
semantics run as logged, versioned, file-granular commits.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_data_warehouse_spark.plans.queries import _t, register
from olist_data_warehouse_spark.sources.lakehouse import LakeTable

# Per-process scratch root: concurrent runners (driver, pytest, bench)
# never collide; a process rebuilds its own table dirs per call, and
# the root goes at interpreter exit.
_SCRATCH_ROOT = os.path.join(
    tempfile.gettempdir(), f"odw-lake-queries-{os.getpid()}"
)


def _remove_scratch_root(pid: int = os.getpid()) -> None:
    # a forked child inherits the handler; only the owner removes
    if os.getpid() == pid:
        shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)


atexit.register(_remove_scratch_root)


def _require(cond, msg=None) -> None:
    """An entry's in-entry contract: raises AssertionError(``msg``)
    when ``cond`` is false. A function, not an ``assert`` statement,
    so the contract (and any work inside ``cond``) still runs under
    ``python -O``."""
    if not cond:
        raise AssertionError(msg)


def _fresh(name: str, sf_dir: str) -> str:
    """A clean table path for (entry, sf_dir) — removed if it exists,
    so every call builds the table from the current input."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(_SCRATCH_ROOT, tag, name)
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


@register(
    "lake_delete_where",
    oracle="""
SELECT * FROM orders
WHERE o_totalprice IS NULL OR o_totalprice <= 400000.0
""",
    doc="Durable DELETE WHERE on the lake format: create the table "
    "range-clustered on o_totalprice (8 files with disjoint stats), "
    "delete rows above the threshold with a stats prune, read back "
    "the committed version. The oracle states the survivor set with "
    "SQL three-valued semantics (NULL-predicate rows survive). "
    "Clustering makes the prune real: the delete opens only the "
    "files whose [min,max] straddles the threshold — at 100 TB a "
    "point delete touches O(matching files), not the table. "
    "Reference parity: S7 DELETE WHERE (SURVEY §2.1) made versioned.",
)
def lake_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartitionByRange(8, "o_totalprice"),
        _fresh("delete_where", sf_dir),
    )
    t.delete_where(
        spark,
        F.col("o_totalprice") > 400000.0,
        prune=("o_totalprice", ">", 400000.0),
    )
    return t.read(spark)


@register(
    "lake_merge_upsert",
    oracle="""
WITH target AS (
  SELECT * FROM orders WHERE o_orderkey % 4 <> 0
),
source AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice * 0.5 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT * FROM source
UNION ALL
SELECT * FROM target t
WHERE NOT EXISTS (
  SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey
)
""",
    doc="Durable MERGE upsert on the lake format: target = orders with "
    "key % 4 <> 0, source = key % 2 = 0 at half price — overlapping "
    "keys are updates (file-granular rewrite of only the files that "
    "hold them), the rest are inserts (new files). The oracle is the "
    "standard MERGE expansion: source wins on match, anti-joined "
    "target rows carry over. Halving a double is exact, so values "
    "hash-match bit-for-bit. The J7 merge shape (SURVEY §2.3) made "
    "durable and versioned.",
)
def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    target = orders.where(F.col("o_orderkey") % 4 != 0)
    t = LakeTable.create(
        target.repartitionByRange(8, "o_orderkey"),
        _fresh("merge_upsert", sf_dir),
    )
    source = orders.where(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.5
    )
    t.merge_into(spark, source, keys=["o_orderkey"])
    return t.read(spark)


@register(
    "lake_apply_changes",
    oracle="""
WITH target AS (
  SELECT * FROM orders WHERE o_orderkey % 4 <> 0
),
ups AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice * 0.5 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
),
dels AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0
)
SELECT * FROM ups
UNION ALL
SELECT * FROM target t
WHERE NOT EXISTS (SELECT 1 FROM ups u WHERE u.o_orderkey = t.o_orderkey)
  AND NOT EXISTS (SELECT 1 FROM dels d WHERE d.o_orderkey = t.o_orderkey)
""",
    doc="CDC APPLY in ONE atomic commit (the Delta APPLY CHANGES INTO "
    "/ Debezium-apply shape): target = orders with key%4<>0; the "
    "change batch carries UPSERTS (even keys at half price, _op='u') "
    "and TOMBSTONES (odd multiples of 3 as NULL-payload delete rows, "
    "_op='d') — one apply_changes call deletes, updates, and inserts "
    "file-granularly, so no reader can ever observe the deletes "
    "without the upserts (composing delete_where + merge_into would "
    "expose that half-applied state between two commits). The oracle "
    "is the three-way relational expansion: upserts win, targets "
    "survive only if neither upserted nor deleted. Halving a double "
    "is exact, so values hash bit-for-bit; tombstone payloads are "
    "NULL to pin that delete rows apply by KEY alone. At 100 TB this "
    "is the hourly CDC-ingest shape: O(affected files) rewritten, "
    "delete keys frozen distributed, one commit per batch.",
)
def lake_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    target = orders.where(F.col("o_orderkey") % 4 != 0)
    t = LakeTable.create(
        target.repartitionByRange(8, "o_orderkey"),
        _fresh("apply_changes", sf_dir),
    )
    ups = orders.where(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.5
    ).withColumn("_op", F.lit("u"))
    dels = (
        orders.where(
            (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 3 == 0)
        )
        .select(
            "o_orderkey",
            # NULL payload: deletes must apply by KEY alone
            *[
                F.lit(None).cast(orders.schema[c].dataType).alias(c)
                for c in orders.columns
                if c != "o_orderkey"
            ],
        )
        .withColumn("_op", F.lit("d"))
    )
    t.apply_changes(spark, ups.unionByName(dels), keys=["o_orderkey"])
    return t.read(spark)


@register(
    "lake_schema_evolution",
    oracle="""
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       CAST(NULL AS VARCHAR) AS bal_band
FROM customer WHERE c_custkey % 2 = 1
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       CASE WHEN c_acctbal < 0 THEN 'neg'
            WHEN c_acctbal IS NOT NULL THEN 'pos' END AS bal_band
FROM customer WHERE c_custkey % 2 = 0
""",
    doc="Additive schema evolution on the lake format: create from the "
    "odd-key half of customer, append the even-key half carrying a "
    "new bal_band column with merge_schema=True, read back. Old files "
    "are NEVER rewritten — the read applies the evolved schema by "
    "name, so pre-evolution rows surface bal_band as typed NULL (the "
    "Delta/Iceberg evolution contract: schema lives in the log, not "
    "the files). The oracle is the UNION of both generations with an "
    "explicit NULL column for the old one.",
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")["customer"]
    t = LakeTable.create(
        cust.where(F.col("c_custkey") % 2 == 1),
        _fresh("schema_evolution", sf_dir),
    )
    evolved = cust.where(F.col("c_custkey") % 2 == 0).withColumn(
        "bal_band",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal").isNotNull(), "pos"),
    )
    t.append(evolved, merge_schema=True)
    return t.read(spark)


@register(
    "lake_change_feed",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY event_type
""",
    doc="Append-only change feed driving incremental view maintenance: "
    "events split three ways (pmod of event_id; NULL ids ride slice "
    "0, so the slices PARTITION the table). Create = slice 0; snapshot "
    "the aggregate at v0; land slice 1 via append and slice 2 via the "
    "exactly-once streaming sink; read_appends_since(v0) yields ONLY "
    "the two delta batches, whose aggregate merges into the v0 "
    "snapshot (count-add; sum-add with the all-NULL-group identity "
    "preserved). The oracle is the FULL recompute — if the feed "
    "leaked, duplicated, or re-read base rows, the merge would "
    "diverge. This is `ivm_agg_merge` fed by durable storage churn: "
    "at 100 TB the refresh scans the delta, never the table.",
)
def lake_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    part = F.pmod(F.col("event_id"), F.lit(3))
    slices = [
        ev.where((part == 0) | F.col("event_id").isNull()),
        ev.where(part == 1),
        ev.where(part == 2),
    ]
    t = LakeTable.create(slices[0], _fresh("change_feed", sf_dir))
    v0 = t.version()
    cents = F.round(F.col("value") * 100, 0).cast("long")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("cents"),
        )

    base = agg(t.read(spark, version=v0))
    t.append(slices[1])
    t.streaming_sink("cf")(slices[2], 0)
    delta, _cur = t.read_appends_since(spark, v0)
    dagg = agg(delta)
    b, d = base.alias("b"), dagg.alias("d")
    # null-SAFE group-key join: SQL GROUP BY has one NULL group, so
    # the merge must treat NULL event_type as one key, not two
    return b.join(
        d,
        F.col("b.event_type").eqNullSafe(F.col("d.event_type")),
        "full_outer",
    ).select(
        F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias(
            "event_type"
        ),
        (
            F.coalesce(F.col("b.n_events"), F.lit(0))
            + F.coalesce(F.col("d.n_events"), F.lit(0))
        ).alias("n_events"),
        # SUM identity: a group whose every value is NULL sums to NULL,
        # and that must survive the incremental merge too
        F.when(
            F.col("b.cents").isNull() & F.col("d.cents").isNull(),
            F.lit(None).cast("long"),
        )
        .otherwise(
            F.coalesce(F.col("b.cents"), F.lit(0))
            + F.coalesce(F.col("d.cents"), F.lit(0))
        )
        .alias("cents"),
    )


@register(
    "lake_cdf_incremental",
    oracle="""
WITH s01 AS (
  SELECT * FROM events
  WHERE ((event_id % 3) + 3) % 3 IN (0, 1) OR event_id IS NULL
),
surv AS (
  SELECT * FROM s01 WHERE value IS NULL OR value <= 100.0
),
src AS (
  SELECT event_id, ts, user_id, event_type, value * 2 AS value, props
  FROM events WHERE event_id % 2 = 0 AND event_id IS NOT NULL
),
final AS (
  SELECT * FROM src
  UNION ALL
  SELECT * FROM surv t
  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.event_id = t.event_id)
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM final
GROUP BY event_type
HAVING COUNT(*) > 0
""",
    doc="Row-level change-data feed maintaining an aggregate through "
    "CHURN, not just appends: create (cdf=True) from two event "
    "slices, snapshot the per-type aggregate, then DELETE high-value "
    "rows and MERGE in the even-key half at doubled value — commits "
    "the append-only feed cannot replay. read_changes_since yields "
    "insert/delete row deltas (deletes from persisted pre-images; "
    "merge = pre-image deletes + source inserts); the consumer folds "
    "them as signed counts/sums, tracking the non-null count so an "
    "all-NULL group still sums to NULL and a group deleted to zero "
    "rows drops out. The oracle replays the same mutations "
    "relationally and recomputes from scratch — any leak, duplicate, "
    "or sign error in the feed diverges. At 100 TB the refresh scans "
    "O(churn); the full recompute is the thing this operator exists "
    "to avoid.",
)
def lake_cdf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    part = F.pmod(F.col("event_id"), F.lit(3))
    s01 = ev.where(part.isin(0, 1) | F.col("event_id").isNull())
    t = LakeTable.create(s01, _fresh("cdf_incremental", sf_dir), cdf=True)
    v0 = t.version()
    cents = F.round(F.col("value") * 100, 0).cast("long")

    def agg(df: DataFrame, sign=None) -> DataFrame:
        s = F.lit(1) if sign is None else sign
        return df.groupBy("event_type").agg(
            F.sum(s).alias("n_events"),
            F.sum(cents * s).alias("cents"),
            F.sum(F.when(F.col("value").isNotNull(), s).otherwise(0)
                  ).alias("nn"),
        )

    base = agg(t.read(spark, version=v0))
    t.delete_where(spark, F.col("value") > 100.0)
    source = ev.where(
        (F.col("event_id") % 2 == 0) & F.col("event_id").isNotNull()
    ).withColumn("value", F.col("value") * 2)
    t.merge_into(spark, source, keys=["event_id"])
    changes, _cur = t.read_changes_since(spark, v0)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = agg(changes, sign=sign)
    b, d = base.alias("b"), delta.alias("d")
    zero = F.lit(0).cast("long")
    n = F.coalesce("b.n_events", zero) + F.coalesce("d.n_events", zero)
    nn = F.coalesce("b.nn", zero) + F.coalesce("d.nn", zero)
    return (
        # null-SAFE group-key join (one NULL group, as in SQL GROUP BY)
        b.join(
            d,
            F.col("b.event_type").eqNullSafe(F.col("d.event_type")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias(
                "event_type"
            ),
            n.alias("n_events"),
            # SUM identity: a group left with zero non-NULL values is
            # NULL, even when the signed cents happen to cancel to 0
            F.when(nn == 0, F.lit(None).cast("long"))
            .otherwise(
                F.coalesce("b.cents", zero) + F.coalesce("d.cents", zero)
            )
            .alias("cents"),
        )
        .where(F.col("n_events") > 0)
    )


@register(
    "lake_time_travel",
    oracle="SELECT * FROM orders",
    doc="Time travel and metadata-only rollback: create from orders, "
    "OVERWRITE with a small slice (old files stay on disk, shared by "
    "the old version), then ROLLBACK to v0 — a commit that restores "
    "v0's file list without writing a single data file — and read "
    "back. The readback must equal the original table bit-for-bit; "
    "the oracle is the table itself. Exercises the log-replay path "
    "(checkpointless replay across create/overwrite/rollback).",
)
def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartition(4), _fresh("time_travel", sf_dir)
    )
    t.overwrite(orders.where(F.col("o_orderstatus") == "F"))
    t.rollback(0)
    return t.read(spark)


@register(
    "lake_stream_pipeline",
    oracle="""
SELECT event_id, user_id,
       CAST(round(value * 100, 0) AS BIGINT) AS cents
FROM events
WHERE event_type = 'purchase'
""",
    doc="The full lake -> lake STREAMING loop as one gated operator: "
    "events land in a source lake table over two commits; a real "
    "Structured Streaming query reads it through the lakestream "
    "Python DataSource (offsets = commit versions, one added FILE per "
    "input partition, Arrow executor reads), filters to purchases and "
    "derives integer cents, and lands in a second lake table through "
    "the exactly-once foreachBatch sink; the result is the "
    "DESTINATION's committed readback. The oracle is the plain "
    "relational transform — any dropped/duplicated micro-batch, "
    "offset error, or sink replay diverges. At 100 TB this is the "
    "trickle-ingest topology: each hop moves O(churn), and both ends "
    "are versioned, time-travelable tables.",
)
def lake_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakestream

    ev = _t(spark, sf_dir, "events")["events"]
    part = F.pmod(F.col("event_id"), F.lit(2))
    src = LakeTable.create(
        ev.where((part == 0) | F.col("event_id").isNull()),
        _fresh("stream_pipe_src", sf_dir),
    )
    src.append(ev.where(part == 1))
    transform = lambda df: (  # noqa: E731 — applied to stream AND seed
        df.where(F.col("event_type") == "purchase").select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    dst = LakeTable.create(
        transform(ev).limit(0), _fresh("stream_pipe_dst", sf_dir)
    )
    lakestream.register(spark)
    ckpt = _fresh("stream_pipe_ckpt", sf_dir)
    q = (
        transform(
            spark.readStream.format("lakestream")
            .option("path", src.path)
            .load()
        )
        .writeStream.foreachBatch(dst.streaming_sink("pipe"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) returns False on timeout with the query
    # still running — reading dst then would return a silently PARTIAL
    # result the driver could not tell from a real lakestream/sink bug.
    _require(q.awaitTermination(300), "stream did not drain within 300s")
    return dst.read(spark)


@register(
    "lake_timestamp_travel",
    oracle="SELECT * FROM orders",
    doc="TIMESTAMP time travel (Delta's timestampAsOf): create from "
    "orders, OVERWRITE with a small slice, then read AS OF an instant "
    "between the two commits — resolve_timestamp bisects the log's "
    "recorded commit wall-clocks (O(log commits) reads) to the last "
    "commit at or before the instant, and the readback must equal the "
    "pre-overwrite table bit-for-bit; the oracle is orders itself. An "
    "in-entry assert pins the resolution to version 0. This is the "
    "operator-facing answer to 'what did the table look like at "
    "HH:MM' that version numbers alone can't give.",
)
def lake_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartition(4), _fresh("ts_travel", sf_dir)
    )
    t.overwrite(orders.where(F.col("o_orderstatus") == "F"))
    mid = (t._commit_ts(0) + t._commit_ts(1)) / 2
    _require(t.resolve_timestamp(mid) == 0, "timestamp resolved wrong commit")
    return t.read(spark, timestamp=mid)


@register(
    "lake_stream_drain",
    oracle="""
SELECT event_id, user_id,
       CAST(round(value * 100, 0) AS BIGINT) AS cents
FROM events
WHERE event_type = 'click'
""",
    doc="One-command RUN-TO-COMPLETION drain of a rate-limited backlog "
    "(r10 verdict item #1 — the availableNow+limit trap's supported "
    "recipe): events lands as SIX one-file commits, a lakestream query "
    "with max_files_per_batch=2 is handed to lakestream.drain(), which "
    "paces the whole backlog through bounded processingTime "
    "micro-batches, stops at the call-time target, and reports the "
    "batch count — a self-audit pins batches >= ceil(files/2), i.e. "
    "the catch-up really was budget-paced, never one unbounded batch. "
    "The result is the DESTINATION lake table's committed readback "
    "through the exactly-once sink; the oracle is the plain relational "
    "transform, so a dropped/duplicated micro-batch, a probe "
    "mis-anchor, or an early stop diverges. Reference parity: the E3 "
    "incremental load (Package.dtsx:657-673) is exactly this "
    "bounded-buffer run-to-completion drain.",
)
def lake_stream_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakestream

    ev = _t(spark, sf_dir, "events")["events"]
    part = F.pmod(F.col("event_id"), F.lit(6))
    src = LakeTable.create(
        ev.where((part == 0) | F.col("event_id").isNull()).coalesce(1),
        _fresh("stream_drain_src", sf_dir),
    )
    for i in range(1, 6):
        src.append(ev.where(part == i).coalesce(1))
    transform = lambda df: (  # noqa: E731 — applied to stream AND seed
        df.where(F.col("event_type") == "click").select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    dst = LakeTable.create(
        transform(ev).limit(0), _fresh("stream_drain_dst", sf_dir)
    )
    lakestream.register(spark)
    writer = (
        transform(
            spark.readStream.format("lakestream")
            .option("path", src.path)
            .option("max_files_per_batch", "2")
            .load()
        )
        .writeStream.foreachBatch(dst.streaming_sink("drain"))
        .option("checkpointLocation", _fresh("stream_drain_ckpt", sf_dir))
    )
    res = lakestream.drain(writer, src.path, timeout=300)
    # self-audit: the drain was BUDGET-PACED to completion — at most 2
    # files per micro-batch means at most 2 NON-EMPTY files per batch,
    # so the row-moving batch count is >= ceil(live_files/2) (an
    # unbounded single batch would fail here; degenerate corpora stage
    # empty files, which move no rows and bound accordingly)
    n_live = sum(
        1 for m in src._state()["files"].values() if m.get("rows", 0) > 0
    )
    _require(
        res["batches"] >= (n_live + 1) // 2,
        f"drain not budget-paced: {res} over {n_live} non-empty files",
    )
    return dst.read(spark)


@register(
    "lake_prune_read",
    oracle="SELECT * FROM lineitem WHERE l_orderkey < 3000",
    doc="Stats-pruned point read: lineitem range-clustered on "
    "l_orderkey into 8 files; read with prune=(l_orderkey,<,3000) "
    "opens only the files whose [min,max] can match, then applies the "
    "actual row filter. Pruning is a file-level guarantee (skipped "
    "files provably hold no matching rows), so the result must equal "
    "the plain filtered scan — a prune that skipped a dirty file "
    "would LOSE rows and hash-mismatch. The manifest prune is the "
    "100 TB read path: O(matching files) opened, not the table.",
)
def lake_prune_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    t = LakeTable.create(
        li.repartitionByRange(8, "l_orderkey"),
        _fresh("prune_read", sf_dir),
    )
    pruned = t.read(spark, prune=("l_orderkey", "<", 3000))
    return pruned.where(F.col("l_orderkey") < 3000)


@register(
    "lake_zorder_prune",
    oracle="SELECT * FROM lineitem WHERE l_partkey <= 50",
    doc="Z-ORDER clustering (compact(cluster_by=[l_orderkey, "
    "l_partkey]), the public Delta OPTIMIZE ZORDER design): the table "
    "lands in ingest order, is rewritten along the interleaved-bit "
    "curve of BOTH columns, and is then read with a stats prune on "
    "l_partkey — the SECOND clustering column, which a linear sort "
    "would leave unprunable. The z-value is a pure column expression "
    "(min-max scale to 16-bit buckets, bit interleave — codegen'd, no "
    "UDF); the rewrite is identity, so the oracle is the plain "
    "filtered scan and any row lost or duplicated by the re-layout "
    "hash-mismatches. The readback applies the real row filter, so "
    "correctness never depends on pruning precision — pruning only "
    "bounds I/O. At 100 TB this is the maintenance job that keeps "
    "point reads O(matching files) on every frequent filter column.",
)
def lake_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    t = LakeTable.create(
        li.repartition(8), _fresh("zorder_prune", sf_dir)
    )
    total = sum(m["bytes"] for m in t._state()["files"].values())
    t.compact(
        spark,
        target_file_bytes=max(1, total // 12),
        cluster_by=["l_orderkey", "l_partkey"],
    )
    pruned = t.read(spark, prune=("l_partkey", "<=", 50))
    return pruned.where(F.col("l_partkey") <= 50)


@register(
    "lake_partition_drop",
    oracle="""
SELECT * FROM orders
WHERE o_orderstatus IS NULL OR o_orderstatus <> 'F'
""",
    doc="METADATA-ONLY partition retirement on the lake format: orders "
    "lands partitioned by o_orderstatus (native partition columns — "
    "Hive data/col=val layout, per-file partition values in the "
    "manifest), then drop_partitions({'o_orderstatus': 'F'}) removes "
    "the whole partition as a manifest edit: zero files read, zero "
    "files written, survivors byte-untouched, old versions still "
    "time-travel to the dropped rows. The oracle states the survivor "
    "set relationally (NULL-status rows ride the null partition and "
    "survive a value drop). This is the retention/GDPR shape at "
    "100 TB: reference parity is S7 DELETE (SURVEY §2.1) at partition "
    "granularity, an O(matched files) metadata action instead of a "
    "rewrite.",
)
def lake_partition_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders,
        _fresh("partition_drop", sf_dir),
        partition_by=["o_orderstatus"],
    )
    before = {
        p: m["bytes"] for p, m in t._state()["files"].items()
    }
    t.drop_partitions({"o_orderstatus": "F"})
    after = t._state()["files"]
    # self-audit: drop is metadata-only — no file rewritten or added
    _require(
        all(p in before and before[p] == m["bytes"]
            for p, m in after.items()),
        "drop rewrote files",
    )
    return t.read(spark)


@register(
    "lake_stream_cdf",
    oracle="""
WITH s01 AS (
  SELECT * FROM events
  WHERE ((event_id % 3) + 3) % 3 IN (0, 1) OR event_id IS NULL
),
surv AS (
  SELECT * FROM s01 WHERE value IS NULL OR value <= 100.0
),
src AS (
  SELECT event_id, ts, user_id, event_type, value * 2 AS value, props
  FROM events WHERE event_id % 2 = 0 AND event_id IS NOT NULL
),
final AS (
  SELECT * FROM src
  UNION ALL
  SELECT * FROM surv t
  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.event_id = t.event_id)
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM final
GROUP BY event_type
HAVING COUNT(*) > 0
""",
    doc="The row-level change feed as a STREAMING source (mode='cdf' on "
    "lakestream — the streaming twin of read_changes_since, Delta's "
    "readChangeFeed shape): a cdf=True table takes a DELETE and a "
    "MERGE (commits the append feed must refuse), then one real "
    "Structured Streaming query replays the whole log as signed row "
    "deltas (+_change_type/_commit_version) through the exactly-once "
    "sink into a second lake table, and the entry folds the landed "
    "deltas into the per-type aggregate (signed counts/sums; non-null "
    "tracking keeps the all-NULL-group SUM identity; groups deleted "
    "to zero rows drop out). The oracle replays the same mutations "
    "relationally and recomputes from scratch — a dropped/duplicated "
    "micro-batch, a wrong pre-image, or a sign error diverges. This "
    "lifts the skip_rewrites at-least-once-minus-deletes tradeoff: at "
    "100 TB a downstream consumer maintains state through churn while "
    "moving O(churn) bytes per trigger.",
)
def lake_stream_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakestream

    ev = _t(spark, sf_dir, "events")["events"]
    part = F.pmod(F.col("event_id"), F.lit(3))
    s01 = ev.where(part.isin(0, 1) | F.col("event_id").isNull())
    src = LakeTable.create(s01, _fresh("stream_cdf_src", sf_dir), cdf=True)
    src.delete_where(spark, F.col("value") > 100.0)
    merge_src = ev.where(
        (F.col("event_id") % 2 == 0) & F.col("event_id").isNotNull()
    ).withColumn("value", F.col("value") * 2)
    src.merge_into(spark, merge_src, keys=["event_id"])

    dst = LakeTable.create(
        ev.limit(0)
        .withColumn("_change_type", F.lit("x"))
        .withColumn("_commit_version", F.lit(0).cast("long")),
        _fresh("stream_cdf_dst", sf_dir),
    )
    lakestream.register(spark)
    q = (
        spark.readStream.format("lakestream")
        .option("path", src.path)
        .option("mode", "cdf")
        .load()
        .writeStream.foreachBatch(dst.streaming_sink("cdfpipe"))
        .option("checkpointLocation", _fresh("stream_cdf_ckpt", sf_dir))
        .trigger(availableNow=True)
        .start()
    )
    _require(q.awaitTermination(300), "cdf stream did not drain within 300s")

    d = dst.read(spark)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    nn = F.sum(F.when(F.col("value").isNotNull(), sign).otherwise(0))
    return (
        d.groupBy("event_type")
        .agg(
            F.sum(sign).alias("n_events"),
            F.sum(cents * sign).alias("cents_raw"),
            nn.alias("nn"),
        )
        .where(F.col("n_events") > 0)
        .select(
            "event_type",
            "n_events",
            # SUM identity: zero surviving non-NULL values means NULL,
            # even when the signed cents cancel to 0
            F.when(F.col("nn") == 0, F.lit(None).cast("long"))
            .otherwise(F.col("cents_raw"))
            .alias("cents"),
        )
    )


@register(
    "lake_shallow_clone",
    oracle="""
SELECT * FROM orders WHERE o_orderkey % 3 <> 0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 = 0
""",
    doc="SHALLOW CLONE (the public Delta CLONE shape): fork orders as "
    "a metadata-only table — the clone's create commit references the "
    "source's data files by absolute path, zero bytes copied — then "
    "mutate ONLY the clone (delete multiples of 3, re-append the "
    "multiples of 21) and read the clone back. The oracle states the "
    "clone's end state relationally; a separate assertion pins that "
    "the SOURCE still reads its full original row count, so a clone "
    "mutation that leaked into shared files would fail loudly before "
    "the hash compare. At 100 TB this is the experimentation/branch "
    "move: fork a full table for a pipeline trial in O(manifest), "
    "pay storage only for the clone's own churn.",
)
def lake_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    src = LakeTable.create(
        orders.repartition(6), _fresh("clone_src", sf_dir)
    )
    n_src = orders.count()
    clone = src.clone_shallow(_fresh("clone_dst", sf_dir))
    clone.delete_where(spark, F.col("o_orderkey") % 3 == 0)
    clone.append(
        orders.where(
            (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 3 == 0)
        )
    )
    # divergence audit: the source is byte-identical and fully readable
    _require(src.read(spark).count() == n_src, "clone mutated the source")
    return clone.read(spark)


@register(
    "lake_clone_partitioned",
    oracle="""
SELECT * FROM orders
WHERE o_orderstatus IS NULL OR o_orderstatus <> 'F'
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0
""",
    doc="SHALLOW CLONE of a PARTITIONED table (r9 verdict item #2 — "
    "the r9 refusal is lifted): orders lands partitioned by "
    "o_orderstatus, the clone's create commit references the source's "
    "Hive-layout files by absolute path with their manifest partition "
    "values (zero bytes copied, audited in-entry), then the CLONE "
    "alone takes a metadata-only drop_partitions of the 'F' partition "
    "and appends the key%5 'F' slice into its OWN data/ — so the "
    "readback mixes files under TWO roots. The scan groups files by "
    "their data/ ancestor: one Hive-discovery leaf per root, never "
    "per file. The oracle states the clone's end state; in-entry "
    "audits pin zero data files copied at clone time and the source "
    "still reading its full row count. At 100 TB this is branching a "
    "partitioned production table for a retention trial in "
    "O(manifest).",
)
def lake_clone_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    src = LakeTable.create(
        orders,
        _fresh("clone_part_src", sf_dir),
        partition_by=["o_orderstatus"],
    )
    n_src = orders.count()
    clone = src.clone_shallow(_fresh("clone_part_dst", sf_dir))
    # zero-copy audit: the clone owns no data files at creation
    _require(
        not os.path.isdir(clone.data_dir) or not any(
            names for _r, _d, names in os.walk(clone.data_dir)
        ),
        "clone copied data files",
    )
    clone.drop_partitions({"o_orderstatus": "F"})
    clone.append(
        orders.where(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 5 == 0)
        )
    )
    # divergence audit: the source is untouched and fully readable
    _require(src.read(spark).count() == n_src, "clone mutated the source")
    return clone.read(spark)


@register(
    "lake_pushdown_read",
    oracle="""
SELECT * FROM lineitem
WHERE l_orderkey >= 300 AND l_orderkey < 900 AND l_quantity >= 25.0
""",
    doc="The lake format as a first-class Spark BATCH source with "
    "FILTER PUSHDOWN: lineitem lands range-clustered on l_orderkey, "
    "registers as spark.read.format('lake'), and the query is a plain "
    "DataFrame .where() — Catalyst hands the conjuncts to pushFilters "
    "(Python DataSource pushdown API, Spark 4.1), the source prunes "
    "the manifest's per-file [min,max] stats, and partitions() plans "
    "only the files whose ranges can match. Every filter is reported "
    "residual, so Spark re-applies the exact row predicate: pruning "
    "bounds I/O, never semantics (the l_quantity conjunct filters "
    "rows inside surviving files). A self-audit pins that the pushed "
    "range actually pruned input partitions. At 100 TB this is the "
    "zero-cooperation read path: any WHERE on a clustered column "
    "skips files with no caller-side prune hints.",
)
def lake_pushdown_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch
    from olist_data_warehouse_spark.sources.lakebatch import (
        LakeBatchDataSource,
    )

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    t = LakeTable.create(
        li.repartitionByRange(8, "l_orderkey"),
        _fresh("pushdown_read", sf_dir),
    )
    # self-audit: the pushed range must prune planning, not just rows
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    ds = LakeBatchDataSource({"path": t.path})
    rd = ds.reader(None)
    list(rd.pushFilters([
        GreaterThanOrEqual(("l_orderkey",), 300),
        LessThan(("l_orderkey",), 900),
    ]))
    n_all = len(t._state()["files"])
    n_pruned = len(rd.partitions())
    # a 0/1-file table (degenerate corpora in the input batteries) has
    # nothing to prune; with real range-clustered files the pushed
    # range must shrink planning
    _require(
        n_all < 2 or n_pruned < n_all,
        f"pushdown pruned nothing ({n_pruned}/{n_all})",
    )
    lakebatch.register(spark)
    return (
        spark.read.format("lake")
        .option("path", t.path)
        .load()
        .where(
            (F.col("l_orderkey") >= 300)
            & (F.col("l_orderkey") < 900)
            & (F.col("l_quantity") >= 25.0)
        )
    )


@register(
    "lake_batch_cdf",
    oracle="""
WITH s01 AS (
  SELECT * FROM events
  WHERE ((event_id % 3) + 3) % 3 IN (0, 1) OR event_id IS NULL
),
surv AS (
  SELECT * FROM s01 WHERE value IS NULL OR value <= 100.0
),
src AS (
  SELECT event_id, ts, user_id, event_type, value * 2 AS value, props
  FROM events WHERE event_id % 2 = 0 AND event_id IS NOT NULL
)
SELECT * FROM src
UNION ALL
SELECT * FROM surv t
WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.event_id = t.event_id)
""",
    doc="The row-level change feed through the BATCH DataSource "
    "(r9 verdict item #4 — spark.read.format('lake').option('mode',"
    "'cdf'), Delta's readChangeFeed shape): a cdf=True events table "
    "takes a DELETE and a MERGE, then ONE batch read with since=-1 "
    "replays the whole log as the table's columns plus _change_type/"
    "_commit_version, and the entry reconstructs the FINAL table as "
    "the multiset difference inserts exceptAll deletes — if the feed "
    "leaked, duplicated, or mis-signed a single row, the "
    "reconstruction diverges from the oracle's relational replay. "
    "Pre-images ride their persisted files; the plan moves O(churn) "
    "file slices through the same Arrow kernel as the snapshot read. "
    "Uniform surface: stream (lakestream mode=cdf), Python API "
    "(read_changes_since), and now plain spark.read all serve the "
    "same delta contract.",
)
def lake_batch_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch

    ev = _t(spark, sf_dir, "events")["events"]
    part = F.pmod(F.col("event_id"), F.lit(3))
    s01 = ev.where(part.isin(0, 1) | F.col("event_id").isNull())
    t = LakeTable.create(s01, _fresh("batch_cdf", sf_dir), cdf=True)
    t.delete_where(spark, F.col("value") > 100.0)
    source = ev.where(
        (F.col("event_id") % 2 == 0) & F.col("event_id").isNotNull()
    ).withColumn("value", F.col("value") * 2)
    t.merge_into(spark, source, keys=["event_id"])

    lakebatch.register(spark)
    ch = (
        spark.read.format("lake")
        .option("path", t.path)
        .option("mode", "cdf")
        .option("since", "-1")
        .load()
    )
    cols = [c for c in ch.columns
            if c not in ("_change_type", "_commit_version")]
    ins = ch.where(F.col("_change_type") == "insert").select(*cols)
    dels = ch.where(F.col("_change_type") == "delete").select(*cols)
    return ins.exceptAll(dels)


@register(
    "lake_sql_view",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       round(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderkey >= 1000 AND o_orderkey < 20000
GROUP BY o_orderstatus
""",
    doc="The lake format behind plain SQL: orders lands range-"
    "clustered in a lake table, register_table exposes it as a temp "
    "view over the pushdown-capable batch source, and the query is "
    "pure spark.sql — the WHERE's range conjuncts flow through "
    "Catalyst into pushFilters and prune manifest files before the "
    "aggregate. Reference parity: the reference IS a SQL warehouse "
    "(every §2 query is T-SQL over tables), so its users' zero-"
    "DataFrame read path must work here too. A catalog TABLE (CREATE "
    "TABLE ... USING lake) is not possible on Spark 4.1 — Python "
    "data sources do not forward storage options into scan-time "
    "reads — so the view is the documented SQL surface; the oracle "
    "is the identical SQL over raw orders.",
)
def lake_sql_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch

    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartitionByRange(6, "o_orderkey"),
        _fresh("sql_view", sf_dir),
    )
    name = "lake_sql_view_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    lakebatch.register_table(spark, name, t.path)
    return spark.sql(f"""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               round(SUM(o_totalprice), 2) AS revenue
        FROM {name}
        WHERE o_orderkey >= 1000 AND o_orderkey < 20000
        GROUP BY o_orderstatus
    """)


@register(
    "lake_write_roundtrip",
    oracle="SELECT * FROM orders",
    doc="The lake format's WRITE side as a Spark sink: "
    "df.write.format('lake') creates the table from the odd-key half "
    "of orders and appends the even-key half — each executor task "
    "streams its Arrow batches into one immutable parquet file and "
    "computes the manifest's min/max/null stats EXECUTOR-SIDE (no "
    "second Spark scan; the driver's commit assembles the log entry "
    "under the standard OCC retry). The readback goes through the "
    "batch 'lake' source, so the entry proves the full native "
    "write -> log -> pushdown-capable read loop; the oracle is orders "
    "itself — a lost task file, a double commit, or a schema drift "
    "diverges. A self-audit pins that every committed file carries "
    "stats for the sort key, i.e. the written manifest is PRUNABLE. "
    "At 100 TB this is the ingest path: stats ride the write, the "
    "commit is O(files), and the table is immediately skippable.",
)
def lake_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch

    lakebatch.register(spark)
    orders = _t(spark, sf_dir, "orders")["orders"]
    path = _fresh("write_roundtrip", sf_dir)
    odd = orders.where(F.col("o_orderkey") % 2 == 1)
    even = orders.where(F.col("o_orderkey") % 2 == 0)
    odd.repartition(4).write.format("lake").option("path", path).mode(
        "append"
    ).save()
    even.repartition(3).write.format("lake").option("path", path).mode(
        "append"
    ).save()
    t = LakeTable(path)
    _require(t.version() == 1, f"expected 2 commits, at v{t.version()}")
    # written manifest must be prunable: stats rode the executor write
    for m in t._state()["files"].values():
        if m["rows"] > 0:
            _require("o_orderkey" in m["stats"], "file missing write stats")
    return spark.read.format("lake").option("path", path).load()


@register(
    "lake_write_partitioned",
    oracle="SELECT * FROM orders",
    doc="Native Arrow write into a PARTITIONED lake table (r10 "
    "verdict item #2 — the refusal lifted): the table is created "
    "partitioned by o_orderstatus from the odd-key half of orders, "
    "then the even-key half appends through df.write.format('lake') "
    "— each executor task splits its Arrow batches by partition "
    "tuple with a vectorized group-indices pass, writes one "
    "Hive-laid-out file per (task, tuple) with data columns only "
    "(the value rides the directory), computes stats executor-side, "
    "and records the tuple in the commit exactly as "
    "LakeTable.append does. Self-audits pin that every "
    "natively-written file carries its partition tuple and that "
    "partition pruning on the appended files is REAL (some files "
    "provably clean for one status value). The oracle is orders "
    "itself. At 100 TB this is the governed-ingest path: the "
    "fastest writer now lands in the layout the table's pruning "
    "and retention are built on.",
)
def lake_write_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch

    lakebatch.register(spark)
    orders = _t(spark, sf_dir, "orders")["orders"]
    path = _fresh("write_partitioned", sf_dir)
    odd = orders.where(F.col("o_orderkey") % 2 == 1)
    even = orders.where(F.col("o_orderkey") % 2 == 0)
    t = LakeTable.create(odd, path, partition_by=["o_orderstatus"])
    v0_files = set(t._state()["files"])
    even.repartition(3).write.format("lake").option("path", path).mode(
        "append"
    ).save()
    _require(t.version() == 1, f"expected 2 commits, at v{t.version()}")
    state = t._state()
    new_files = [
        m for p, m in state["files"].items() if p not in v0_files
    ]
    for m in new_files:
        _require(m.get("partition"), "native file missing partition tuple")
        _require("o_orderkey" in m["stats"], "file missing write stats")
    # pruning on the partition column must skip the other statuses'
    # files — including the natively-written ones. Meaningful only
    # when the appended half spans >1 partition value (a 0/1-row
    # degenerate corpus legitimately has nothing to skip).
    new_vals = {
        m["partition"]["o_orderstatus"]
        for m in new_files
        if m.get("partition")
    }
    if len(new_vals) > 1 and "F" in new_vals:
        cand, clean = t.prune_files("o_orderstatus", "=", "F")
        _require(
            clean,
            "no provably-clean files: partition stats not recorded",
        )
        _require(
            any(p not in v0_files for p in clean),
            "no natively-written file was prunable",
        )
    return spark.read.format("lake").option("path", path).load()


@register(
    "lake_delete_dv",
    oracle="""
SELECT * FROM orders
WHERE (o_totalprice IS NULL OR o_totalprice <= 400000.0)
  AND o_orderkey % 7 <> 0
""",
    doc="MERGE-ON-READ delete via DELETION VECTORS (the public Delta "
    "DV design, VLDB 2023, re-expressed Spark-first as a "
    "_metadata.row_index anti-join against parquet index sidecars): "
    "orders lands range-clustered in 8 files, then TWO successive "
    "delete_where(mode='dv') calls — price threshold, then a key "
    "modulus — record matched (file, row-index) pairs and rewrite "
    "ZERO data files. Self-audits pin the contract: files_rewritten "
    "== 0 on both commits, every original data file byte-identical "
    "(mtime+size), and the second delete counted only LIVE rows (the "
    "match scan runs on the dv-filtered view, so overlap rows never "
    "double-count). The oracle states the survivor set with SQL "
    "three-valued semantics. At 100 TB this is the GDPR/retention "
    "point-delete path: O(matched indexes) written instead of "
    "rewriting every straddled file.",
)
def lake_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartitionByRange(8, "o_totalprice"),
        _fresh("delete_dv", sf_dir),
    )
    sig_before = {
        p: (
            os.path.getsize(os.path.join(t.path, p)),
            os.path.getmtime(os.path.join(t.path, p)),
        )
        for p in t._state()["files"]
    }
    r1 = t.delete_where(
        spark,
        F.col("o_totalprice") > 400000.0,
        prune=("o_totalprice", ">", 400000.0),
        mode="dv",
    )
    r2 = t.delete_where(spark, F.col("o_orderkey") % 7 == 0, mode="dv")
    _require(
        r1["files_rewritten"] == 0 and r2["files_rewritten"] == 0,
        (r1, r2),
    )
    sig_after = {
        p: (
            os.path.getsize(os.path.join(t.path, p)),
            os.path.getmtime(os.path.join(t.path, p)),
        )
        for p in sig_before
    }
    _require(sig_after == sig_before, "a dv delete touched a data file")
    # live-view accounting: the second delete must have counted ONLY
    # rows the first left alive (overlap rows — high price AND key%7
    # — were already dv-deleted and must not double-count)
    expect2 = orders.where(
        (F.col("o_orderkey") % 7 == 0)
        & (
            F.col("o_totalprice").isNull()
            | (F.col("o_totalprice") <= 400000.0)
        )
    ).count()
    _require(r2["rows_deleted"] == expect2, (r2, expect2))
    return t.read(spark)


@register(
    "lake_dv_compact",
    oracle="""
SELECT * FROM lineitem
WHERE l_orderkey % 8 = 0
  AND (l_quantity IS NULL OR l_quantity <= 45.0)
""",
    doc="Deletion-vector lifecycle closed by COMPACTION (Delta's "
    "REORG ... APPLY (PURGE) role): lineitem takes a dv delete "
    "(quantity threshold; zero files rewritten), then compact() "
    "bin-packs WITH dv'd files force-included — the rewrite "
    "materializes the vectors into plain parquet, the new manifest "
    "carries no dv references, and reads stop paying the anti-join. "
    "Self-audits pin both halves: dv present after the delete, ZERO "
    "dv references and strictly fewer files after the compact. The "
    "oracle is the survivor set — if materialization dropped or "
    "resurrected a row, the hash diverges. At 100 TB this is the "
    "maintenance loop that keeps merge-on-read bounded: deletes stay "
    "O(indexes) on the write path, and the periodic compact folds "
    "them into the data before vectors accumulate.",
)
def lake_dv_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a keyed eighth of lineitem: the lifecycle proof (dv present ->
    # purged -> fewer files) is size-independent, and compaction IS a
    # full rewrite of dv'd files by design — benching it on the full
    # fact would time parquet IO, not the contract
    li = _t(spark, sf_dir, "lineitem")["lineitem"].where(
        F.col("l_orderkey") % 8 == 0
    )
    t = LakeTable.create(
        li.repartition(8), _fresh("dv_compact", sf_dir)
    )
    t.delete_where(spark, F.col("l_quantity") > 45.0, mode="dv")
    st = t._state()
    if any(m.get("dv") for m in st["files"].values()):
        n_before = len(st["files"])
        t.compact(spark, target_file_bytes=256 * 1024 * 1024)
        st = t._state()
        _require(
            not any(m.get("dv") for m in st["files"].values()),
            "compact left dv references behind",
        )
        _require(len(st["files"]) < n_before, "compact did not bin-pack")
    # else: degenerate corpus (empty / all-NULL quantity) — the
    # predicate matched nothing, there is no lifecycle to audit, and
    # the survivor set below is still oracle-exact
    return t.read(spark)


@register(
    "lake_dv_cdf",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 11 = 3
""",
    doc="Change-feed EXACTNESS across deletion vectors: a cdf=True "
    "orders table takes a dv delete (-matched live rows) and then an "
    "OVERWRITE (whose remove side must replay the removed files' "
    "LIVE rows only — the commit's remove_dv record routes the "
    "replay through the dv-filtered scan; a raw-file replay would "
    "re-delete already-deleted rows and corrupt every downstream "
    "fold). The entry folds the full signed feed (+1 insert / -1 "
    "delete per row, grouped over the row's columns) and returns the "
    "rows with positive net count — which must equal the final "
    "overwrite payload, the oracle. Net-zero rows vanishing proves "
    "insert/delete symmetry at row granularity across create, dv "
    "delete, and overwrite; this is the IVM contract a maintained "
    "aggregate depends on.",
)
def lake_dv_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartition(4), _fresh("dv_cdf", sf_dir), cdf=True
    )
    t.delete_where(spark, F.col("o_orderkey") % 3 == 0, mode="dv")
    final = orders.where(F.col("o_orderkey") % 11 == 3)
    t.overwrite(final)
    ch, _ = t.read_changes_since(spark, -1)
    cols = [c for c in ch.columns if not c.startswith("_")]
    signed = ch.withColumn(
        "_sign",
        F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        ),
    )
    return (
        signed.groupBy(*cols)
        .agg(F.sum("_sign").alias("_net"))
        .where(F.col("_net") > 0)
        .drop("_net")
    )


@register(
    "lake_update_where",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 10 = 0
            THEN o_totalprice + 1.0 ELSE o_totalprice
       END AS o_totalprice,
       o_orderdate,
       CASE WHEN o_totalprice > 400000.0
            THEN 'REPRICED' ELSE o_orderpriority
       END AS o_orderpriority
FROM orders
""",
    doc="UPDATE ... SET ... WHERE in both Delta modes, composed: a "
    "COPY-ON-WRITE update (stats-pruned on the range-clustered sort "
    "key, so only files whose min/max admit the predicate rewrite — "
    "files_kept > 0 asserted in-entry) retags o_orderpriority above a "
    "price threshold, then a MERGE-ON-READ update (mode='dv') bumps "
    "o_totalprice on a key modulus with ZERO files rewritten "
    "(files_rewritten == 0 asserted). The oracle states both as CASE "
    "projections — the dv update's CASE reads the ORIGINAL price "
    "because the first update never changed it, pinning that each "
    "assignment evaluates against its own pre-update row. NULL "
    "predicate rows pass through both updates untouched (three-valued "
    "semantics). At 100 TB the rewrite mode is the bulk-correction "
    "path (O(matching files)) and the dv mode the point-fix path "
    "(O(matched rows) written); both land as one atomic commit.",
)
def lake_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartitionByRange(8, "o_totalprice"),
        _fresh("update_where", sf_dir),
    )
    r1 = t.update_where(
        spark,
        F.col("o_totalprice") > 400000.0,
        {"o_orderpriority": F.lit("REPRICED")},
        prune=("o_totalprice", ">", 400000.0),
    )
    _require(
        r1["files_kept"] > 0 or not t._state()["files"],
        "stats prune rewrote every file on a range-clustered table",
    )
    r2 = t.update_where(
        spark,
        F.col("o_orderkey") % 10 == 0,
        {"o_totalprice": F.col("o_totalprice") + F.lit(1.0)},
        mode="dv",
    )
    _require(r2["files_rewritten"] == 0, r2)
    return t.read(spark)


@register(
    "lake_constraint_gate",
    oracle="""
SELECT * FROM orders
""",
    doc="CHECK constraints as an ATOMIC write gate (Delta's ALTER "
    "TABLE ADD CONSTRAINT contract): the table is created from the "
    "even-keyed half of orders, a price constraint is added (existing "
    "rows validated first — adding a constraint current data violates "
    "is refused, asserted in-entry with a too-tight constraint), then "
    "an append of the odd half with NEGATED prices is rejected as a "
    "whole — version unchanged, zero rows of the bad batch visible — "
    "and the clean odd half lands. NULL prices PASS the check (SQL "
    "standard three-valued CHECK; NOT NULL is spelled explicitly). "
    "The oracle is simply the full orders table: if the gate leaked "
    "even one negated row, or the refused batch left partial state, "
    "the hash diverges. At 100 TB this is the schema-on-write "
    "integrity contract: the batch stages once and one aggregate over "
    "its staged files checks it (a refused batch's files are "
    "unlinked), nothing for unconstrained tables.",
)
def lake_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    even = orders.where(F.col("o_orderkey") % 2 == 0)
    odd = orders.where(F.col("o_orderkey") % 2 == 1)
    t = LakeTable.create(even.repartition(4), _fresh("constraint", sf_dir))
    # a constraint the existing data violates must be refused — only
    # assertable when a row actually violates it (NULL prices PASS a
    # CHECK, and an empty table satisfies everything vacuously)
    n_violating = even.where(
        F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice") <= 1e12)
    ).count()
    if n_violating:
        try:
            t.add_constraint(spark, "impossible", "o_totalprice > 1e12")
            raise AssertionError("violating add_constraint was accepted")
        except ValueError:
            pass
    t.add_constraint(
        spark,
        "price_nonneg",
        "o_totalprice >= 0.0",
    )
    v0 = t.version()
    bad = odd.withColumn(
        "o_totalprice", -F.abs(F.col("o_totalprice")) - F.lit(1.0)
    )
    if bad.where(F.col("o_totalprice") < 0).limit(1).count():
        try:
            t.append(bad)
            raise AssertionError("violating append was accepted")
        except ValueError:
            pass
        _require(t.version() == v0, "refused append left a commit behind")
    t.append(odd)
    return t.read(spark)


@register(
    "lake_merge_dv",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       o_totalprice + 10.0 AS o_totalprice, o_orderdate,
       o_orderpriority
FROM orders WHERE o_orderkey % 5 = 0
UNION ALL
SELECT * FROM orders WHERE o_orderkey % 5 <> 0
""",
    doc="MERGE with DELETION VECTORS (the Delta DV MERGE shape): a "
    "fifth of orders comes back as an updated source batch (price "
    "+10) and merges on the key with mode='dv' — matched target rows "
    "become vectors, the staged source is the commit's only incoming "
    "data, and ZERO existing files rewrite (asserted in-entry, plus "
    "rows_matched == the source row count: every source row found "
    "its target). The oracle is the post-merge table stated "
    "relationally (updated fifth UNION ALL untouched rest). This is "
    "the 100 TB trickle-upsert endgame: the rewrite-mode merge costs "
    "O(matched files), dv mode costs O(source rows + matched "
    "indexes) written — compact() later folds the vectors away.",
)
def lake_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartition(6), _fresh("merge_dv", sf_dir)
    )
    src = orders.where(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
    )
    r = t.merge_into(spark, src, ["o_orderkey"], mode="dv")
    _require(r["files_rewritten"] == 0, r)
    _require(r["rows_matched"] == r["rows_source"], r)
    return t.read(spark)


@register(
    "lake_merge_clauses",
    oracle="""
WITH target AS (
  SELECT * FROM orders WHERE o_orderkey % 4 <> 0
),
source AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice * 0.5 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT t.* FROM target t
JOIN source s ON s.o_orderkey = t.o_orderkey
WHERE (t.o_totalprice > 300000.0) IS NOT TRUE
UNION ALL
SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
       t.o_orderdate,
       CASE WHEN t.o_orderstatus = 'F' THEN '0-MERGED'
            ELSE t.o_orderpriority END AS o_orderpriority
FROM target t
WHERE NOT EXISTS (SELECT 1 FROM source s
                  WHERE s.o_orderkey = t.o_orderkey)
UNION ALL
SELECT s.* FROM source s
WHERE NOT EXISTS (SELECT 1 FROM target t
                  WHERE t.o_orderkey = s.o_orderkey)
  AND s.o_totalprice < 100000.0
""",
    doc="Full Delta MERGE clause grammar in ONE statement — the three "
    "r10-verdict additions exercised together: whenMatchedDELETE "
    "with a CONDITION (matched orders above 300k are deleted; below "
    "— or NULL, IS-NOT-TRUE semantics — are KEPT, and their source "
    "rows are discarded, never falling through to insert), "
    "whenNotMatchedInsert with a condition (only half-priced "
    "newcomers under 100k land), and whenNotMatchedBySource UPDATE "
    "with a condition + SET (finished orders no source row touches "
    "get a marker priority). The oracle is the standard three-branch "
    "relational expansion with CASE for the by-source SET. "
    "File-granularity still holds on this path: only files whose "
    "rows actually CHANGE rewrite (a matched file where every "
    "condition fails is untouched), found by one join pass; the "
    "by-source clause forces full-table candidacy exactly like "
    "Delta. Reference parity: the reference's incremental reload "
    "(J7, Package.dtsx:657-673) is this grammar's degenerate "
    "insert-only case.",
)
def lake_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    target = orders.where(F.col("o_orderkey") % 4 != 0)
    t = LakeTable.create(
        target.repartitionByRange(8, "o_orderkey"),
        _fresh("merge_clauses", sf_dir),
    )
    source = orders.where(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.5
    )
    t.merge_into(
        spark,
        source,
        keys=["o_orderkey"],
        when_matched="delete",
        matched_condition="t.o_totalprice > 300000.0",
        when_not_matched="insert",
        not_matched_condition="o_totalprice < 100000.0",
        when_not_matched_by_source="update",
        not_matched_by_source_condition="t.o_orderstatus = 'F'",
        not_matched_by_source_set={"o_orderpriority": "'0-MERGED'"},
    )
    return t.read(spark)


@register(
    "lake_column_mapping",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       o_totalprice AS price, o_orderdate
FROM orders
WHERE o_totalprice IS NULL OR o_totalprice <= 400000.0
""",
    doc="COLUMN MAPPING end to end (Delta 'name mode', metadata-only "
    "DDL): orders lands range-clustered, o_totalprice RENAMES to "
    "price and o_orderpriority DROPS — both zero-rewrite commits "
    "(every original data file byte-identical, asserted in-entry) — "
    "then a dv DELETE runs against the NEW logical name with a stats "
    "prune that must translate logical->physical to skip the range-"
    "clean files (files with vectors < total files asserted when the "
    "corpus is non-degenerate). The oracle restates the survivor set "
    "with the rename as a projection alias and the dropped column "
    "omitted. Exercises the full translation chain: alter commits, "
    "mapped scan aliasing, write staging under physical names, "
    "physical-keyed stats pruning, and the dv anti-join on a mapped "
    "table. At 100 TB a rename is a catalog edit, not a table "
    "rewrite.",
)
def lake_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartitionByRange(8, "o_totalprice"),
        _fresh("column_mapping", sf_dir),
    )
    sig_before = {
        p: (
            os.path.getsize(os.path.join(t.path, p)),
            os.path.getmtime(os.path.join(t.path, p)),
        )
        for p in t._state()["files"]
    }
    t.rename_column("o_totalprice", "price")
    t.drop_column("o_orderpriority")
    sig_after = {
        p: (
            os.path.getsize(os.path.join(t.path, p)),
            os.path.getmtime(os.path.join(t.path, p)),
        )
        for p in sig_before
    }
    _require(sig_after == sig_before, "column DDL touched a data file")
    r = t.delete_where(
        spark,
        F.col("price") > 400000.0,
        prune=("price", ">", 400000.0),
        mode="dv",
    )
    _require(r["files_rewritten"] == 0, r)
    st = t._state()
    dved = sum(1 for m in st["files"].values() if m.get("dv"))
    if r["rows_deleted"]:
        _require(
            0 < dved < len(st["files"]),
            "stats prune did not translate the renamed column "
            f"({dved} of {len(st['files'])} files took vectors)",
        )
    return t.read(spark)


@register(
    "lake_write_governed",
    oracle="""
SELECT doc_id, text, lang, source,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
    doc="Governed tables on the NATIVE write path (r10 verdict item "
    "#3 — the constraint/generated refusals lifted): a table with a "
    "GENERATED n_chars column AND a CHECK constraint accepts "
    "df.write.format('lake') — the even-doc half creates via the "
    "table API, the odd-doc half appends through the native Arrow "
    "writer OMITTING n_chars, which the executor computes per batch "
    "through DuckDB using expressions whose Spark/DuckDB agreement "
    "was PROVEN at DDL time over a typed canary battery and recorded "
    "in the table config (the sessionless data-source writer just "
    "reads the verdict). In-entry audits pin the violation paths: a "
    "batch breaking the CHECK and a batch providing a WRONG generated "
    "value both refuse ATOMICALLY (task failure -> abort -> staged "
    "files unlinked, version and file set unchanged). The oracle "
    "restates the generation rule as a projection over all of "
    "documents. At 100 TB this closes the governed-ingest gap: the "
    "fastest write path now enforces the same contracts the table "
    "API does, instead of refusing exactly the production-configured "
    "tables.",
)
def lake_write_governed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch

    lakebatch.register(spark)
    # heal=False: the documents heal exists for per-row-heavy text/
    # vector consumers; here the frame only feeds WRITES, so healing
    # to defaultParallelism just fans the table into 32 tiny files
    # (32 Python writer tasks, 32 footer reads, 32-file scans on every
    # later mutation). Input-proportional write parallelism is the
    # honest posture: many input files at 100 TB -> many writer tasks.
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    even = d.where(F.col("doc_id") % 2 == 0)
    odd = d.where(F.col("doc_id") % 2 == 1)
    t = LakeTable.create(
        even.drop("n_chars"),
        _fresh("write_governed", sf_dir),
        generated={"n_chars": "CAST(length(text) AS BIGINT)"},
    )
    t.add_constraint(spark, "id_nonneg", "doc_id >= 0")
    odd.drop("n_chars").write.format("lake").option(
        "path", t.path
    ).mode("append").save()
    v0 = t.version()
    files0 = set(t._state()["files"])
    # violation audits need actual violating ROWS — a degenerate
    # (empty) corpus has none to violate with, so it skips them
    probe = odd.limit(3)
    if probe.count():
        bad_check = probe.drop("n_chars").withColumn(
            "doc_id", F.lit(-1).cast("long")
        )
        refused = False
        try:
            bad_check.write.format("lake").option(
                "path", t.path
            ).mode("append").save()
        except Exception:
            refused = True
        _require(refused, "CHECK-violating batch accepted by native writer")
        bad_gen = probe.withColumn(
            "n_chars", (F.length("text") + F.lit(7)).cast("long")
        )
        refused = False
        try:
            bad_gen.write.format("lake").option("path", t.path).mode(
                "append"
            ).save()
        except Exception:
            refused = True
        _require(refused, "wrong generated value accepted by native writer")
        _require(t.version() == v0, "refused write left a commit behind")
        _require(set(t._state()["files"]) == files0, "stray manifest file")
    return t.read(spark)


@register(
    "lake_stream_sink",
    oracle="SELECT * FROM orders WHERE o_orderkey % 3 = 0",
    doc="NATIVE streaming sink (r10 verdict item #5): "
    "writeStream.format('lake') replaces the foreachBatch recipe — "
    "a lake source table (orders keys %3=0, landed as create + two "
    "appends) streams through the lakestream reader into a NEW lake "
    "table via the DataSource streamWriter, drained to completion. "
    "Each micro-batch commit carries the exactly-once txn action "
    "({app, batch}); in-entry audits pin that every commit is a "
    "create/stream_append with the app's txn recorded and versions "
    "contiguous, and the replay path (same batchId re-committed) "
    "drops its staged files without landing a commit — byte-level "
    "exactly-once, not just row-count luck. The write side shares "
    "the batch writer's whole contract: per-task Arrow streaming, "
    "executor-side stats, partition routing, governed-table proofs. "
    "The oracle is the filtered source. At 100 TB this is the "
    "continuous-ingest path with a uniform surface: the same "
    "format string reads batch, reads stream, writes batch, writes "
    "stream.",
)
def lake_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch, lakestream

    lakebatch.register(spark)
    lakestream.register(spark)
    orders = _t(spark, sf_dir, "orders")["orders"].where(
        F.col("o_orderkey") % 3 == 0
    )
    src = LakeTable.create(
        orders.where(F.col("o_orderkey") % 9 == 0).coalesce(1),
        _fresh("stream_sink_src", sf_dir),
    )
    for m in (3, 6):
        src.append(
            orders.where(
                (F.col("o_orderkey") % 9 == m)
            ).coalesce(1)
        )
    dst = _fresh("stream_sink_dst", sf_dir)
    ck = _fresh("stream_sink_ck", sf_dir)
    writer = (
        spark.readStream.format("lakestream")
        .option("path", src.path)
        .load()
        .writeStream.format("lake")
        .option("path", dst)
        .option("app", "entry_sink")
        .option("checkpointLocation", ck)
    )
    lakestream.drain(writer, src.path, timeout=240)
    t = LakeTable(dst)
    if t.version() is None:
        # degenerate corpus: an empty backlog fires no micro-batch,
        # so the sink never creates the table — parity is the source
        return src.read(spark)
    hist = t.history()
    _require(
        all(h["op"] in ("create", "stream_append") for h in hist), hist
    )
    _require(t.last_txn_batch("entry_sink") >= 0)
    vs = t._commit_versions()
    _require(vs == list(range(len(vs))), vs)
    # replay audit: re-committing an already-committed batchId must
    # drop its staged files and land NO commit (exactly-once)
    import json as _json

    from olist_data_warehouse_spark.sources.lakebatch import (
        LakeStreamSinkWriter,
    )

    w = LakeStreamSinkWriter(
        app="entry_sink",
        path=dst,
        schema_json=_json.dumps(t.read(spark).schema.jsonValue()),
        overwrite=False,
        exists=True,
    )
    msg = w.write(iter(t.read(spark).limit(1).toArrow().to_batches()))
    v0 = t.version()
    w.commit([msg], 0)
    _require(t.version() == v0, "replayed epoch landed a commit")
    for f in _json.loads(msg.files_json or "[]"):
        _require(
            not os.path.exists(os.path.join(dst, f["path"])),
            "replayed epoch left its staged file",
        )
    return t.read(spark)


@register(
    "lake_stream_decode",
    oracle="""
SELECT doc_id AS item_id,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE octet_length(encode(
         'FAKEIMG|' || CAST(doc_id % 64 + 16 AS VARCHAR) || '|'
                    || CAST(doc_id % 48 + 16 AS VARCHAR) || '|3|'
                    || substr(text, 1, 64))) END AS INT) AS byte_len,
       text IS NOT NULL AS is_valid,
       CAST(CASE WHEN text IS NULL THEN 0
                 ELSE doc_id % 64 + 16 END AS INT) AS width,
       CAST(CASE WHEN text IS NULL THEN 0
                 ELSE doc_id % 48 + 16 END AS INT) AS height,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE 3 END AS INT) AS channels
FROM documents
WHERE doc_id % 3 = 0
""",
    doc="STREAMING-NATIVE multimodal decode (r12 verdict optional "
    "#6): binary image payloads land in a lake source table (create "
    "+ one append, two commits to replay), stream through the "
    "lakestream reader, decode via the SAME Arrow-batched "
    "mapInPandas kernel the batch path uses (operators/multimodal."
    "decode_image_meta — mapInPandas is stateless, so it composes "
    "with Structured Streaming unchanged), and land in a NEW lake "
    "table through the exactly-once streaming sink. In-entry audits "
    "pin the sink contract (create/stream_append ops only, txn "
    "recorded, versions contiguous). The oracle recomputes the "
    "metadata analytically over the same documents slice — proving "
    "the bytes→kernel→sink path end-to-end, not a codec. At 100 TB "
    "this is the continuous-ingest shape for multimodal corpora: "
    "payload bytes cross the JVM↔Python boundary once per Arrow "
    "batch inside each micro-batch, and the sink's txn protocol "
    "makes decode replays idempotent.",
)
def lake_stream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.operators import multimodal
    from olist_data_warehouse_spark.sources import lakebatch, lakestream

    lakebatch.register(spark)
    lakestream.register(spark)
    # heal=False: d only CREATES the stream's source table — decode
    # parallelism comes from the lakestream reader, so healing here
    # only multiplies source files and writer tasks (see
    # lake_write_governed).
    d = _t(spark, sf_dir, "documents", heal=False)["documents"].where(
        F.col("doc_id") % 3 == 0
    )
    w = (F.col("doc_id") % 64 + 16).cast("int")
    h = (F.col("doc_id") % 48 + 16).cast("int")
    payload = F.concat(
        F.lit("FAKEIMG|"), w.cast("string"), F.lit("|"),
        h.cast("string"), F.lit("|3|"), F.substring("text", 1, 64),
    ).cast("binary")
    images = d.select(
        F.col("doc_id").alias("item_id"), payload.alias("payload")
    )
    src = LakeTable.create(
        images.where(F.col("item_id") % 2 == 0).coalesce(1),
        _fresh("stream_dec_src", sf_dir),
    )
    src.append(images.where(F.col("item_id") % 2 != 0).coalesce(1))
    dst = _fresh("stream_dec_dst", sf_dir)
    ck = _fresh("stream_dec_ck", sf_dir)
    decoded = multimodal.decode_image_meta(
        spark.readStream.format("lakestream")
        .option("path", src.path)
        .load()
    )
    writer = (
        decoded.writeStream.format("lake")
        .option("path", dst)
        .option("app", "entry_decode")
        .option("checkpointLocation", ck)
    )
    lakestream.drain(writer, src.path, timeout=240)
    out_cols = [
        "item_id", "byte_len", "is_valid", "width", "height",
        F.col("channels").cast("int").alias("channels"),
    ]
    t = LakeTable(dst)
    if t.version() is None:
        # degenerate corpus: no micro-batch fired — parity is the
        # batch-twin decode of the same (empty) slice
        return multimodal.decode_image_meta(images).select(*out_cols)
    hist = t.history()
    _require(
        all(rec["op"] in ("create", "stream_append") for rec in hist),
        hist,
    )
    _require(t.last_txn_batch("entry_decode") >= 0)
    vs = t._commit_versions()
    _require(vs == list(range(len(vs))), vs)
    return t.read(spark).select(*out_cols)


@register(
    "lake_generated_cols",
    oracle="""
SELECT doc_id, text, lang, source,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
    doc="GENERATED ALWAYS AS columns (Delta's generated-column "
    "contract, fixed at create): documents lands WITHOUT its n_chars "
    "column and the table declares n_chars GENERATED AS "
    "length(text) — the create computes it, a second append omitting "
    "it computes it again, and a batch PROVIDING a wrong value is "
    "refused atomically (asserted in-entry when a non-null mismatch "
    "exists; NULL-vs-NULL trivially matches under the null-safe "
    "compare, so degenerate corpora skip the audit). The oracle "
    "restates the generation rule as a projection — if any computed "
    "value drifted from the declared expression, the hash diverges. "
    "At 100 TB this is schema-on-write denormalization: derived "
    "columns stay consistent by CONTRACT (computed or validated at "
    "every write path, recomputed by UPDATE when dependencies "
    "change), not by pipeline discipline.",
)
def lake_generated_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heal=False: write-path entry — see lake_write_governed
    d = _t(spark, sf_dir, "documents", heal=False)["documents"]
    even = d.where(F.col("doc_id") % 2 == 0)
    odd = d.where(F.col("doc_id") % 2 == 1)
    t = LakeTable.create(
        even.drop("n_chars"),
        _fresh("generated", sf_dir),
        generated={"n_chars": "CAST(length(text) AS BIGINT)"},
    )
    t.append(odd.drop("n_chars"))
    bad = odd.withColumn(
        "n_chars", (F.length("text") + F.lit(1)).cast("long")
    )
    n_mismatch = bad.where(
        ~F.col("n_chars").eqNullSafe(
            F.expr("CAST(length(text) AS BIGINT)")
        )
    ).count()
    if n_mismatch:
        v0 = t.version()
        try:
            t.append(bad)
            raise AssertionError("wrong generated values were accepted")
        except ValueError:
            pass
        _require(t.version() == v0, "refused append left a commit behind")
    return t.read(spark)


@register(
    "lake_sql_merge",
    oracle="""
WITH target AS (
  SELECT * FROM orders WHERE o_orderkey % 4 <> 0
),
source AS (
  SELECT o_orderkey, o_custkey, 'XX' AS o_orderstatus,
         o_totalprice * 0.5 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
       s.o_totalprice AS o_totalprice, t.o_orderdate,
       '5-SQLSET' AS o_orderpriority
FROM target t
JOIN source s ON s.o_orderkey = t.o_orderkey
WHERE (t.o_totalprice > 300000.0) IS NOT TRUE
UNION ALL
SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
       t.o_orderdate,
       CASE WHEN t.o_orderstatus = 'F' THEN '0-MERGED'
            ELSE t.o_orderpriority END AS o_orderpriority
FROM target t
WHERE NOT EXISTS (SELECT 1 FROM source s
                  WHERE s.o_orderkey = t.o_orderkey)
UNION ALL
SELECT s.* FROM source s
WHERE NOT EXISTS (SELECT 1 FROM target t
                  WHERE t.o_orderkey = s.o_orderkey)
  AND s.o_totalprice < 100000.0
""",
    doc="MERGE AS SQL TEXT (r11 verdict item #2): the entry body is "
    "ONE lakesql.sql('MERGE INTO ...') statement over a "
    "register_table view, routed by the thin dispatcher to the "
    "merge_into clause engine — clause-grammar coverage matching "
    "lake_merge_clauses PLUS the partial-SET form that engine gained "
    "for SQL parity: conditional matched DELETE (>300k), a chained "
    "matched UPDATE SET assigning ONLY price and priority (the "
    "source plants o_orderstatus='XX' so a wrong full-row replace "
    "would surface as 'XX' leaking into matched rows — the oracle "
    "keeps the target status), a conditional INSERT * (<100k "
    "newcomers land whole, WITH the 'XX'), and a by-source UPDATE "
    "SET with condition. The oracle is the standard three-branch "
    "relational expansion. Spark's own SQL cannot run DML against "
    "Python-DataSource views (no DML hook upstream), so the "
    "dispatcher parses exactly these statement shapes and hands the "
    "table API the clauses — same engine, same file-granular "
    "rewrite, now reachable from the SQL-warehouse user's first "
    "statement (reference entry point parity: Olist DW.sql:254-261 "
    "is SQL text).",
)
def lake_sql_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch, lakesql

    orders = _t(spark, sf_dir, "orders")["orders"]
    target = orders.where(F.col("o_orderkey") % 4 != 0)
    t = LakeTable.create(
        target.repartitionByRange(8, "o_orderkey"),
        _fresh("sql_merge", sf_dir),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name, src = f"lake_sql_merge_{tag}", f"lake_sql_merge_src_{tag}"
    lakebatch.register_table(spark, name, t.path)
    orders.where(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.5
    ).withColumn(
        "o_orderstatus", F.lit("XX")
    ).createOrReplaceTempView(src)
    r = lakesql.sql(spark, f"""
        MERGE INTO {name} AS t
        USING {src} AS s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND t.o_totalprice > 300000.0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET
             o_totalprice = s.o_totalprice,
             o_orderpriority = '5-SQLSET'
        WHEN NOT MATCHED AND s.o_totalprice < 100000.0 THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'F'
             THEN UPDATE SET o_orderpriority = '0-MERGED'
    """)
    _require(r["version"] == 1, r)
    # degenerate-safe: a sliced corpus may have zero key overlap (all
    # rows land as inserts); an empty source does nothing at all
    _require(
        r["rows_matched"] + r["rows_inserted"] > 0
        or r["rows_source"] == 0,
        r,
    )
    return t.read(spark)


@register(
    "lake_sql_delete",
    oracle="""
SELECT * FROM orders
WHERE o_totalprice IS NULL OR o_totalprice < 300000.0
""",
    doc="DELETE AS SQL TEXT: one lakesql.sql('DELETE FROM ... AS o "
    "WHERE o.o_totalprice >= 300000.0') over a register_table view "
    "— the dispatcher strips the alias qualifier, AUTO-DERIVES the "
    "stats prune (o_totalprice, >=, 300000.0) from the predicate's "
    "comparison conjunct (sound: rows matching the predicate match "
    "every conjunct, so out-of-range files hold no matches — the "
    "file-skipping Delta derives from DML predicates), and calls "
    "delete_where. The table lands range-clustered on o_totalprice "
    "so the prune is REAL: files_kept > 0 is asserted in-entry. The "
    "oracle states the survivor set with three-valued semantics "
    "(NULL-price rows survive). S7 DELETE WHERE (SURVEY §2.1) "
    "reached from SQL text.",
)
def lake_sql_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch, lakesql

    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartitionByRange(8, "o_totalprice"),
        _fresh("sql_delete", sf_dir),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"lake_sql_delete_{tag}"
    lakebatch.register_table(spark, name, t.path)
    r = lakesql.sql(
        spark,
        f"DELETE FROM {name} AS o WHERE o.o_totalprice >= 300000.0",
    )
    # an empty orders table commits no file, so there is none to keep
    _require(r["files_kept"] > 0 or not orders.limit(1).count(), r)
    return t.read(spark)


@register(
    "lake_sql_update",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate,
       CASE WHEN o_orderstatus = 'F' THEN upper(o_orderpriority)
            ELSE o_orderpriority END AS o_orderpriority
FROM orders
""",
    doc="UPDATE AS SQL TEXT: one lakesql.sql('UPDATE ... SET ... "
    "WHERE ...') over a register_table view — two assignments in one "
    "statement (an expression over the original row and a double "
    "increment, both evaluated against the pre-image in one "
    "projection, SQL UPDATE semantics), gated to o_orderstatus = "
    "'F'. Routed to update_where: file-granular copy-on-write, only "
    "files holding matched rows rewrite. The oracle is the CASE "
    "restatement; +1.0 on a double is exact, upper() on ASCII "
    "priorities is engine-identical, so values hash bit-for-bit.",
)
def lake_sql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch, lakesql

    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartition(6), _fresh("sql_update", sf_dir)
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"lake_sql_update_{tag}"
    lakebatch.register_table(spark, name, t.path)
    r = lakesql.sql(spark, f"""
        UPDATE {name}
        SET o_orderpriority = upper(o_orderpriority),
            o_totalprice = o_totalprice + 1.0
        WHERE o_orderstatus = 'F'
    """)
    _require(r["rows_updated"] > 0 or r["files_rewritten"] == 0, r)
    return t.read(spark)


@register(
    "lake_vacuum_retention",
    oracle="""
SELECT * FROM orders WHERE o_orderkey % 3 = 0
""",
    doc="VACUUM with the retention guard matrix (r11 verdict item "
    "#4), end to end: orders lands (v0), an overwrite narrows it to "
    "the key%3 slice (v1, unreferencing v0's files), then the entry "
    "asserts the full Delta-style safety ladder in order — (1) a "
    "sub-floor retention window REFUSES without force=True (a live "
    "stream's checkpoint or in-flight commit may reference "
    "just-unreferenced files; the refused call reclaims nothing and "
    "v0 still reads), (2) a compliant window reclaims nothing young "
    "(the age gate is the standing writer protection), (3) "
    "force=True + keep_versions=1 actually reclaims v0's files, (4) "
    "time travel to the vacuumed v0 now fails LOUDLY with "
    "FileNotFoundError naming the cause — never a silently empty "
    "DataFrame — while the current read is untouched. The oracle "
    "states the surviving current state relationally.",
)
def lake_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartition(4), _fresh("vacuum_retention", sf_dir)
    )
    n0 = orders.count()
    t.overwrite(orders.where(F.col("o_orderkey") % 3 == 0))
    try:
        t.vacuum(keep_versions=1, retention_seconds=0)
        raise AssertionError("sub-floor retention must refuse")
    except ValueError:
        pass
    _require(
        t.read(spark, version=0).count() == n0,
        "a refused vacuum must reclaim nothing",
    )
    _require(
        t.vacuum(keep_versions=1) == [],
        "a compliant window must keep young files",
    )
    removed = t.vacuum(keep_versions=1, retention_seconds=0, force=True)
    if n0:  # an empty orders table commits no file to reclaim
        _require(removed, "force + zero retention reclaims v0's files")
        try:
            t.read(spark, version=0)
            raise AssertionError(
                "time travel past vacuum must fail loudly"
            )
        except FileNotFoundError as e:
            _require("vacuum" in str(e))
    return t.read(spark)


@register(
    "lake_sql_ddl",
    oracle="""
SELECT o_orderkey, o_totalprice, o_orderstatus,
       CASE WHEN o_totalprice >= 200000.0 THEN 'hi'
            ELSE 'lo' END AS price_band
FROM orders
WHERE o_orderkey % 5 <> 0
""",
    doc="The FULL SQL DDL lifecycle as text (r12): CREATE TABLE "
    "(schema) USING lake LOCATION, INSERT INTO ... SELECT from a "
    "view, ALTER TABLE ADD COLUMNS (metadata-only widen — old rows "
    "read NULL because scans apply the log's CURRENT schema by name, "
    "zero files touched), UPDATE backfilling the new column with a "
    "CASE expression, ALTER TABLE RENAME COLUMN (column-mapping "
    "rename, physical names untouched), ALTER TABLE ADD CONSTRAINT "
    "CHECK validating the whole table, and SET TBLPROPERTIES — "
    "every statement one lakesql.sql() string, the result read back "
    "through the auto-refreshed SQL binding (schema-changing ALTERs "
    "re-register the view, since a temp view's analysis schema is "
    "frozen at registration). The oracle restates the final table "
    "relationally; NULL prices fall to 'lo' in both engines (CASE "
    "three-valued semantics). Closes the last SQL-warehouse surface "
    "gap the r11 verdict named: a user can now stand up, evolve, "
    "govern, and query a lake table without ever leaving SQL text.",
)
def lake_sql_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakesql

    orders = _t(spark, sf_dir, "orders")["orders"]
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name, src = f"lake_sql_ddl_{tag}", f"lake_sql_ddl_src_{tag}"
    path = _fresh("sql_ddl", sf_dir)
    orders.createOrReplaceTempView(src)
    S = lambda q: lakesql.sql(spark, q)  # noqa: E731
    r = S(
        f"CREATE TABLE {name} (o_orderkey BIGINT, o_totalprice DOUBLE,"
        f" o_orderstatus STRING) USING lake LOCATION '{path}'"
    )
    _require(r["created"] is True, r)
    S(
        f"INSERT INTO {name} SELECT o_orderkey, o_totalprice, "
        f"o_orderstatus FROM {src} WHERE o_orderkey % 5 <> 0"
    )
    S(f"ALTER TABLE {name} ADD COLUMNS (band STRING)")
    r = S(
        f"UPDATE {name} SET band = CASE WHEN o_totalprice >= 200000.0"
        f" THEN 'hi' ELSE 'lo' END"
    )
    _require(r["rows_updated"] > 0 or r["files_rewritten"] == 0, r)
    S(f"ALTER TABLE {name} RENAME COLUMN band TO price_band")
    S(
        f"ALTER TABLE {name} ADD CONSTRAINT band_domain "
        f"CHECK (price_band IN ('hi', 'lo'))"
    )
    S(f"ALTER TABLE {name} SET TBLPROPERTIES ('stage' = 'governed')")
    return spark.sql(
        f"SELECT o_orderkey, o_totalprice, o_orderstatus, price_band "
        f"FROM {name}"
    )


@register(
    "lake_sql_asof",
    oracle="""
SELECT o_orderkey, o_totalprice, 'travel' AS via
FROM orders WHERE o_totalprice > 400000.0
UNION ALL
SELECT o_orderkey, o_totalprice, 'cdf' AS via
FROM orders WHERE o_totalprice > 400000.0
""",
    doc="SQL READ extensions (r12): ``FROM t VERSION AS OF n`` and "
    "``table_changes('t', since)`` inside one SELECT — the "
    "dispatcher rewrites each to a registered snapshot/CDF view "
    "(distinct view per (table, as-of), so two travels of the same "
    "table coexist in one query) and hands the whole statement to "
    "plain spark.sql, where Catalyst plans it like any other join/ "
    "union. The entry builds orders (v0, cdf=True), deletes the "
    ">400k slice (v1), then computes the deleted rows BOTH ways in "
    "one statement: time-travel EXCEPT ALL current, UNION ALL the "
    "change feed's delete side — two independent engine paths "
    "(version-pinned manifest scan vs pre-image replay) that must "
    "agree exactly with the oracle's predicate restatement, tagged "
    "by provenance. Delta's SQL time-travel + table_changes TVF "
    "surface, re-expressed over the Python DataSource batch reader "
    "(file-pruned, executor-side DV masking).",
)
def lake_sql_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch, lakesql

    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartition(6), _fresh("sql_asof", sf_dir), cdf=True
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"lake_sql_asof_{tag}"
    lakebatch.register_table(spark, name, t.path)
    r = lakesql.sql(
        spark, f"DELETE FROM {name} WHERE o_totalprice > 400000.0"
    )
    _require(r["rows_deleted"] > 0 or r["files_rewritten"] == 0, r)
    return lakesql.sql(spark, f"""
        SELECT o_orderkey, o_totalprice, 'travel' AS via
        FROM {name} VERSION AS OF 0
        EXCEPT ALL
        SELECT o_orderkey, o_totalprice, 'travel' AS via FROM {name}
        UNION ALL
        SELECT o_orderkey, o_totalprice, 'cdf' AS via
        FROM table_changes('{name}', 0)
        WHERE _change_type = 'delete'
    """)


@register(
    "lake_replace_where",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
WHERE o_totalprice IS NULL OR o_totalprice < 400000.0
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus,
       o_totalprice + 0.5 AS o_totalprice, o_orderdate,
       'BACKFILL' AS o_orderpriority
FROM orders
WHERE o_totalprice >= 400000.0
""",
    doc="replaceWhere (r12 — Delta's atomic predicate-scoped "
    "overwrite, the idempotent-backfill shape at 100 TB): ONE commit "
    "deletes the >=400k region and lands its repriced replacement "
    "via SQL text (`INSERT INTO t REPLACE WHERE pred SELECT ...`), "
    "so a re-run replaces the same region again instead of "
    "duplicating, and no reader sees the swap half-done. The table "
    "lands range-clustered on o_totalprice so the auto-derived stats "
    "prune is real: files_kept > 0 asserted in-entry (on a "
    "day-partitioned table the touched set is exactly the region's "
    "partitions — the day-repair loop costs O(region), never "
    "O(table)). Incoming rows must ALL satisfy the predicate "
    "(Delta's gate — rows landing outside the region would break "
    "idempotence); survivor rewrites are carried rows, not inserts, "
    "so the CDF replays the swap exactly (pinned in "
    "test_sql_insert_replace_where). Oracle: survivors UNION ALL the "
    "backfilled region.",
)
def lake_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olist_data_warehouse_spark.sources import lakebatch, lakesql

    orders = _t(spark, sf_dir, "orders")["orders"]
    t = LakeTable.create(
        orders.repartitionByRange(8, "o_totalprice"),
        _fresh("replace_where", sf_dir),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name, src = f"lake_rw_{tag}", f"lake_rw_src_{tag}"
    lakebatch.register_table(spark, name, t.path)
    orders.createOrReplaceTempView(src)
    r = lakesql.sql(spark, f"""
        INSERT INTO {name} REPLACE WHERE o_totalprice >= 400000.0
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 0.5, o_orderdate, 'BACKFILL'
        FROM {src} WHERE o_totalprice >= 400000.0
    """)
    _require(r["rows_deleted"] == r["rows_inserted"], r)
    _require(r["files_kept"] > 0 or r["files_rewritten"] == 0, r)
    return t.read(spark)


@register(
    "lake_copy_into",
    oracle="""
SELECT * FROM orders
""",
    doc="COPY INTO (r12 — Delta's idempotent file-ingestion "
    "contract): a landing zone receives orders in two parquet drops "
    "(even keys, then odd keys); the entry runs COPY INTO three "
    "times via SQL text — first loads drop 1, an immediate re-run "
    "loads NOTHING (the loaded-set of file identities lands in the "
    "SAME commit as the data, so a crash-retry can never "
    "double-load), and the third run after drop 2 lands ingests "
    "exactly the delta. files_loaded/skipped asserted at each step; "
    "the feed admits the append-class commits. This is the crontab "
    "ingest loop at 100 TB: each run costs O(new files), the "
    "loaded-set is manifest-scale file identity exactly like the "
    "live-file dict. Oracle: the reassembled orders table.",
)
def lake_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from olist_data_warehouse_spark.sources import lakebatch, lakesql

    orders = _t(spark, sf_dir, "orders")["orders"]
    base = _fresh("copy_into", sf_dir)
    land = _os.path.join(base, "land")
    t = LakeTable.create(orders.limit(0), _os.path.join(base, "t"))
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"lake_copy_{tag}"
    lakebatch.register_table(spark, name, t.path)
    orders.where(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(
        _os.path.join(land, "drop1")
    )
    glob = _os.path.join(land, "*", "*.parquet")
    r1 = lakesql.sql(spark, f"COPY INTO {name} FROM '{glob}'")
    _require(r1["files_loaded"] >= 1 and r1["files_skipped"] == 0, r1)
    r2 = lakesql.sql(spark, f"COPY INTO {name} FROM '{glob}'")
    _require(r2["files_loaded"] == 0 and r2["rows_loaded"] == 0, r2)
    orders.where(
        (F.col("o_orderkey") % 2 != 0) | F.col("o_orderkey").isNull()
    ).coalesce(1).write.parquet(_os.path.join(land, "drop2"))
    r3 = lakesql.sql(spark, f"COPY INTO {name} FROM '{glob}'")
    _require(r3["files_loaded"] >= 1 and r3["files_skipped"] >= 1, r3)
    return t.read(spark)
