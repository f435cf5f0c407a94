"""Streaming form of the incremental load + event-time operators.

The reference's "incremental" story is a scheduled re-run of a delta
query plus an anti-join insert (SSIS package, SURVEY.md §2.9/E3). Its
idiomatic Spark upgrade is Structured Streaming: the same insert-only
merge runs per micro-batch in ``foreachBatch``, with watermarked
event-time windows replacing the whole-date granularity.

Every table maintained here is a lake table (``sources.lakehouse``):
each micro-batch lands as one ``LakeTable`` commit. On a real cluster
the parquet file source is replaced by Kafka/files-on-object-store —
the plan in the middle doesn't change.

Batch/stream parity: each streaming transformation has a batch twin in
``plans/queries.py`` (`stream_*` entries) whose DuckDB oracle pins the
semantics; the pytest suite then asserts the streaming run produces
exactly the batch result (availableNow trigger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources.lakehouse import LakeTable
from olist_data_warehouse_spark.sources.readers import read_parquet

# The parquet file source needs an explicit schema. Requesting plain
# TIMESTAMP (LTZ) over the file's TIMESTAMP(MICROS, NTZ) physical type
# (current testdata generation) reads the stored micros verbatim —
# value-preserving under the UTC session pin (see sources.readers).
EVENTS_RAW_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
# Older testdata generations wrote TIMESTAMP(NANOS), which Spark only
# surfaces as INT64 nanos under spark.sql.legacy.parquet.nanosAsLong —
# the batch reader's legacy branch (sources.readers
# _normalize_timestamps). Same columns, ts as raw nanos.
EVENTS_RAW_SCHEMA_NANOS = EVENTS_RAW_SCHEMA.replace(
    "ts timestamp", "ts bigint"
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one file = one batch
    with availableNow; a directory of arriving files in production).

    Generation-aware, mirroring the batch reader exactly: supports the
    current TIMESTAMP(MICROS, NTZ) testdata and the older
    TIMESTAMP(NANOS) generation (detected from the parquet footer on the
    driver, through the batch reader's ``read_parquet`` — no Spark job),
    so batch and stream can never disagree about which files they accept.
    """
    # Pin UTC exactly like the batch reader (sources.readers
    # load_testdata): the NTZ micros are read verbatim into LTZ, so all
    # downstream rendering (date_format on window starts, session-gap
    # arithmetic) is session-timezone-dependent. Without the pin, a
    # foreign non-UTC session would diverge from the batch twins and the
    # oracle. CALLER-VISIBLE SIDE EFFECT, deliberately not restored:
    # both confs stay set on the session after this returns (the same
    # contract as load_testdata, so batch and stream can never disagree
    # mid-session). In particular nanosAsLong=true makes ANY later
    # parquet read in this session surface TIMESTAMP(NANOS) columns as
    # raw bigint nanos — it is a session-wide legacy conf with no
    # per-reader option to scope it; a caller mixing other nanos
    # parquet sources must normalize them the way _normalize_timestamps
    # does, or reset the conf.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    probe = read_parquet(spark, path).schema
    nanos = any(
        f.name == "ts" and f.dataType.simpleString() == "bigint"
        for f in probe.fields
    )
    # Glob, not bare file path: the streaming file source requires its
    # basePath to be a directory (a glob's parent qualifies).
    raw = (
        spark.readStream.schema(
            EVENTS_RAW_SCHEMA_NANOS if nanos else EVENTS_RAW_SCHEMA
        )
        .format("parquet")
        .load(path + "*")
    )
    if nanos:
        # Integer DIV keeps nanos→micros exact (float loses precision
        # above 2^53 ns); identical to the batch normalization.
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked 1-hour tumbling window counts per event_type.

    Late rows beyond the watermark are dropped instead of reopening old
    windows — the streaming analog of the reference's "late item for a
    loaded date is skipped" behavior (SURVEY §7.4.8), but windowed and
    principled.
    """
    # A row without an event time is outside event time entirely -
    # dropped explicitly in BOTH modes (streaming would drop it at
    # the watermark; the batch twin must agree; ts-null fuzz).
    w = events.filter(F.col("ts").isNotNull()).withWatermark(
        "ts", watermark
    )
    return (
        w.groupBy(
            F.window("ts", "1 hour").alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def ohlc_bars(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """15-minute OHLC bars as ONE streaming-safe aggregate.

    Open/close are order-sensitive selections, which the batch form
    (``ts_ohlc_bars``) expresses with a row_number window — a per-group
    sort that streaming state cannot hold. min_by/max_by over the
    (ts, event_id) struct express the same selection as a plain
    mergeable aggregate: each state row keeps the current best
    (ordering-key, value) pair, so the SAME code runs batch and
    streaming, the per-group sort disappears, and late rows within the
    watermark revise the bar. (ts, event_id) is unique, so the
    selection is deterministic on both engines. The bucket key is
    integer floor-division of the window start's epoch micros —
    timezone-free, unlike a formatted window string.
    """
    # A row without an event time is outside event time entirely -
    # dropped explicitly in BOTH modes (streaming would drop it at
    # the watermark; the batch twin must agree; ts-null fuzz).
    w = events.filter(F.col("ts").isNotNull()).withWatermark(
        "ts", watermark
    )
    return (
        w.groupBy(
            F.window("ts", "15 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.min_by("value", F.struct("ts", "event_id")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.expr("unix_micros(win.start) div 900000000").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def merge_batch(
    batch: DataFrame,
    path: str,
    keys: list[str],
    when_matched: str = "update",
    partition_by: str | None = None,
) -> None:
    """The one foreachBatch body behind every maintained table: the
    first batch creates the lake table at ``path``, every later batch
    is one :meth:`LakeTable.merge_into` on ``keys`` — one atomic
    commit, so a crashed batch leaves the previous version live.

    ``when_matched='update'`` is the upsert (a re-emitted cumulative
    row replaces the stored one); ``'keep'`` is the insert-only merge,
    the reference's SSIS reload (`Package.dtsx:657-673`). Both are
    idempotent, so a replayed epoch leaves the rows as they were.
    ``partition_by`` names a partition column that is a function of
    ``keys``; the merge is pruned to the partitions the batch holds."""
    t = LakeTable(path)
    if t.version() is None:
        LakeTable.create(
            batch, path, partition_by=[partition_by] if partition_by else None
        )
        return
    prune = None
    if partition_by:
        touched = [r[0] for r in batch.select(partition_by).distinct().collect()]
        prune = (partition_by, "in", touched)
    t.merge_into(batch.sparkSession, batch, keys, when_matched, prune=prune)


def _maintain(
    agg: DataFrame,
    output_mode: str,
    checkpoint_dir: str,
    path: str,
    keys: list[str],
    **merge,
) -> None:
    """Run ``agg`` to the end of its input (availableNow), merging each
    micro-batch into the lake table at ``path`` (:func:`merge_batch`)."""
    (
        agg.writeStream.outputMode(output_mode)
        .foreachBatch(lambda b, _id: merge_batch(b, path, keys, **merge))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_streaming_ohlc(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Continuously-maintained OHLC bars: update-mode aggregation +
    per-batch upsert by (event_type, bucket), the same convergence
    contract as :func:`run_streaming_rollup` — a bar split across
    micro-batches is written partial, then revised complete, because
    update mode re-emits the window's cumulative aggregate."""
    _maintain(
        ohlc_bars(read_events_stream(spark, sf_dir), watermark),
        "update", checkpoint_dir, target_path, ["event_type", "bucket"],
    )


def run_streaming_incremental(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    checkpoint_dir: str,
) -> None:
    """The J7 incremental load as a streaming job.

    Per micro-batch: aggregate, then an insert-only merge on the window
    key into the lake table at ``target_path`` — already-loaded keys
    stay, only new ones land: the SSIS Lookup→Split→Insert semantics,
    continuously. availableNow makes it a catch-up batch run (the
    scheduled-daily analog).
    """
    _maintain(
        tumbling_counts(read_events_stream(spark, sf_dir)),
        "complete", checkpoint_dir, target_path,
        ["window_start", "event_type"], when_matched="keep",
    )


def run_streaming_rollup(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Continuously-maintained rollup (the "hypertable rollup" /
    incremental materialized view): per micro-batch, UPSERT the updated
    windows into the lake table at ``target_path`` — late rows within
    the watermark *revise* an already-written window instead of being
    skipped.

    The complement of :func:`run_streaming_incremental` (insert-only
    merge = "late item for a loaded date is skipped", the reference's
    SSIS policy): this is the streaming twin of the batch MERGE
    (``j7_merge_upsert``). Update-mode aggregation re-emits a window's
    *cumulative* totals whenever a batch touches it, so replacing the
    target's rows for exactly the emitted keys converges to the full
    batch aggregate — a window split across micro-batches is first
    written partial, then revised complete.
    """
    _maintain(
        tumbling_counts(read_events_stream(spark, sf_dir), watermark),
        "update", checkpoint_dir, target_path, ["window_start", "event_type"],
    )


def run_streaming_fact_maintenance(
    spark: SparkSession,
    sf_dir: str,
    fact_path: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> None:
    """CDC-style continuous fact maintenance: the rollup upsert (late
    rows within the watermark *revise* written windows) on a lake table
    partitioned by day (``pday``).

    Per micro-batch: update-mode aggregation emits the cumulative
    totals of every (window, type) the batch touched, and the merge is
    pruned to the batch's day partitions. Only files that hold a
    revised window are rewritten; every other file stays live by
    reference — write cost scales with the churn window (a day or
    two), never the accumulated fact, which is the whole 100 TB
    maintenance story: a year-old fact partition costs nothing when
    today's events arrive.
    """
    agg = tumbling_counts(read_events_stream(spark, sf_dir), watermark)
    _maintain(
        agg.withColumn(
            "pday",
            F.date_format(F.to_timestamp("window_start"), "yyyyMMdd").cast(
                "int"
            ),
        ),
        "update", checkpoint_dir, fact_path, ["window_start", "event_type"],
        partition_by="pday",
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: a new session starts after a > gap idle period.

    Batch form via lag + running sum — one shuffle on user_id, fully
    window-expressible (and oracle-checkable). The streaming twin is
    ``F.session_window(ts, gap)`` which Spark maintains with state —
    same semantics, incremental state instead of a sort.
    """
    from pyspark.sql import Window

    events = events.filter(F.col("ts").isNotNull())  # ts-null fuzz
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
            > gap_s,
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn("session_seq", F.sum("new_session").over(w) + 1)
    return (
        flagged.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
        .select("user_id", "session_seq", "session_start", "session_end", "n_events")
    )


def purchase_click_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    lookback_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase matched to
    the same user's clicks in the preceding ``lookback_minutes``.

    The canonical two-stream stateful operator the batch as-of/range
    joins (operators/temporal.py) upgrade to: both sides buffer rows in
    state, the time-interval condition plus the two watermarks bound
    that state (click state older than watermark + lookback is evicted,
    purchase state older than watermark), and matches emit in append
    mode as soon as the watermark passes — no unbounded buffering at
    any scale. Takes the two streams as arguments; both may derive from
    the same source stream (self-join of one reader is fine).

    Output: one row per (purchase, qualifying click) with the seconds
    the click preceded the purchase — the attribution primitive.
    """
    c = (
        clicks.select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        ).withWatermark("click_ts", watermark)
    )
    p = (
        purchases.select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        ).withWatermark("purchase_ts", watermark)
    )
    joined = p.join(
        c,
        F.expr(
            f"user_id = c_user AND "
            f"click_ts >= purchase_ts - INTERVAL {int(lookback_minutes)} "
            f"MINUTES AND click_ts < purchase_ts"
        ),
        "inner",
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "click_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).cast("bigint").alias("secs_before"),
    )


def attributed_purchases_hourly(
    clicks: DataFrame,
    purchases: DataFrame,
    lookback_minutes: int = 60,
    watermark: str = "0 seconds",
) -> DataFrame:
    """CHAINED stateful streaming: the stream-stream interval join
    feeding a watermarked tumbling aggregation — hourly counts of
    (purchase, preceding-click) attribution pairs.

    Two stateful operators in one query (join state + window state):
    the join emits matches as the watermark passes, the downstream
    window closes and emits in append mode once the global watermark
    (min across both inputs) clears its end. The pattern for any
    "join then aggregate" continuous pipeline; state in both operators
    stays watermark-bounded. Runs identically on batch inputs
    (withWatermark is a no-op there; the aggregation is a plain
    windowed groupBy), which is what the parity test exploits.
    """
    c = (
        clicks.select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        ).withWatermark("click_ts", watermark)
    )
    p = (
        purchases.select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        ).withWatermark("purchase_ts", watermark)
    )
    j = p.join(
        c,
        F.expr(
            f"user_id = c_user AND "
            f"click_ts >= purchase_ts - INTERVAL {int(lookback_minutes)} "
            f"MINUTES AND click_ts < purchase_ts"
        ),
        "inner",
    )
    return (
        j.groupBy(F.window("purchase_ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.date_format(F.col("win.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_end"
            ),
            "n_pairs",
        )
    )


def split_clicks_purchases(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Filter the raw events (stream or batch) into the two join sides."""
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    return clicks, purchases


STATEFUL_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"
STATEFUL_STATE_SCHEMA = "n bigint, total double"


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``.

    Maintains a running (event count, value total) per user across
    micro-batches — the pattern for operators Spark's built-in windowed
    aggs can't express (per-key custom state transitions, e.g. online
    quality scores or streaming dedup-by-fingerprint). State is one
    fixed-width row per user; Arrow batches cross the JVM↔Python
    boundary per group-batch, never per row. The batch twin (plain
    groupBy agg) is oracle-pinned as ``stream_user_totals``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=STATEFUL_OUT_SCHEMA,
        stateStructType=STATEFUL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization with Spark's native session window —
    stateful, watermark-driven; the scale path for the batch twin."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("win"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exactly-once dedup: first occurrence of each key wins;
    replays and at-least-once source duplicates are dropped.

    `dropDuplicatesWithinWatermark` keeps per-key state only until the
    key's event time ages past the watermark — bounded state, unlike a
    plain dropDuplicates on a stream, which would grow forever. The
    batch twin is dropDuplicates on the same keys.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


FUNNEL_OUT_SCHEMA = "user_id bigint, t1_us bigint, t2_us bigint, t3_us bigint"
FUNNEL_STATE_SCHEMA = (
    "min_view bigint, clicks array<bigint>, purchases array<bigint>"
)


def funnel_stream(events: DataFrame) -> DataFrame:
    """Streaming strictly-ordered funnel (view -> later click -> later
    purchase) via ``applyInPandasWithState`` — multi-step ORDERED state,
    which no built-in windowed agg expresses.

    The subtlety vs. monotone aggregates (stateful_user_totals): the
    step chain is NOT incrementally computable from scalars — a
    late-arriving EARLIER view lowers t1, which can re-qualify clicks
    that were previously before the funnel start. The operator is
    therefore buffer-and-finalize: state retains (min view, click
    times, purchase times) and re-derives t1/t2/t3 on every batch, so
    the result is independent of arrival order and equals the batch
    twin on any replay schedule. Each emission is monotone
    nonincreasing per step (t1 only lowers; a lower t1 weakly lowers
    t2; a lower t2 weakly lowers t3), so the final answer is the
    per-user MIN over update-mode emissions. At scale: state is
    O(clicks + purchases per user) inside the retention window, and
    a production deployment prunes buffered times older than the
    watermark once the preceding step's time is final (t-k below the
    watermark can no longer change). Times cross the boundary as
    BIGINT micros — no timezone rendering in Python.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    pre = events.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).filter(F.col("event_type").isin("view", "click", "purchase"))

    def update(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            min_view, clicks, purchases = state.get
            clicks = list(clicks or [])
            purchases = list(purchases or [])
        else:
            min_view, clicks, purchases = None, [], []
        for pdf in pdf_iter:
            v = pdf.loc[pdf["event_type"] == "view", "ts_us"]
            if len(v):
                m = int(v.min())
                min_view = m if min_view is None else min(min_view, m)
            clicks += [
                int(x) for x in pdf.loc[pdf["event_type"] == "click", "ts_us"]
            ]
            purchases += [
                int(x)
                for x in pdf.loc[pdf["event_type"] == "purchase", "ts_us"]
            ]
        t1 = min_view
        t2 = (
            min((c for c in clicks if c > t1), default=None)
            if t1 is not None
            else None
        )
        t3 = (
            min((p for p in purchases if p > t2), default=None)
            if t2 is not None
            else None
        )
        state.update((min_view, clicks, purchases))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "t1_us": [t1],
                "t2_us": [t2],
                "t3_us": [t3],
            }
        )

    return pre.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def funnel_batch(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`funnel_stream`: per-user ordered step times
    as BIGINT micros via the chained conditional-min windows (one
    user_id exchange — same chain as the corpus-level funnel_steps)."""
    from pyspark.sql.window import Window

    pre = events.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    w = Window.partitionBy("user_id")
    s1 = pre.withColumn(
        "t1",
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts_us"))
        ).over(w),
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts_us") > F.col("t1")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") > F.col("t2")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    return s3.groupBy("user_id").agg(
        F.max("t1").alias("t1_us"),
        F.max("t2").alias("t2_us"),
        F.max("t3").alias("t3_us"),
    )


def unattributed_purchases_join(
    clicks: DataFrame,
    purchases: DataFrame,
    lookback_minutes: int = 60,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the attribution join
    that also surfaces the MISSES: every purchase emits, matched rows
    as soon as they pair, and null-padded rows only once the click
    watermark has passed the purchase's lookback window (before that,
    a matching click could still arrive, so "no match" is not yet
    decidable). This delayed-null emission is the defining semantics
    of outer stream-stream joins: correctness REQUIRES the watermark,
    not just for state eviction but for the answer itself. Tail
    caveat, deliberately documented: rows whose window has not closed
    when the query stops (the last `watermark + lookback` of event
    time in a bounded replay) remain unemitted — the parity test
    bounds the comparison to closed windows.
    """
    c = (
        clicks.select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        ).withWatermark("click_ts", watermark)
    )
    p = (
        purchases.select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        ).withWatermark("purchase_ts", watermark)
    )
    joined = p.join(
        c,
        F.expr(
            f"user_id = c_user AND "
            f"click_ts >= purchase_ts - INTERVAL {int(lookback_minutes)} "
            f"MINUTES AND click_ts < purchase_ts"
        ),
        "left_outer",
    )
    return joined.select(
        "user_id",
        "purchase_id",
        F.unix_micros(F.col("purchase_ts").cast("timestamp")).alias(
            "purchase_us"
        ),
        "click_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).cast("bigint").alias("secs_before"),
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM drift monitor (stateful twin of plans' ts_cusum_alerts)
# ---------------------------------------------------------------------------

CUSUM_OUT_SCHEMA = (
    "event_type string, n_days int, max_cusum bigint, n_alerts int"
)
CUSUM_STATE_SCHEMA = "days array<int>, counts array<bigint>"

_US_PER_DAY = 86_400_000_000


def _cusum_summary(
    day_counts: dict[int, int], baseline_micro: int,
    slack_div: int, thresh_div: int,
) -> tuple[int, int, int]:
    """(n_days, max_cusum, n_alerts) of the CUSUM trajectory over the
    day->count map — the one shared kernel, so stream and batch twins
    cannot drift. Integer micro-units throughout (the registered batch
    op's arithmetic), truncating division."""
    slack = baseline_micro // slack_div
    thresh = baseline_micro // thresh_div
    cusum = 0
    max_cusum = 0
    n_alerts = 0
    for d in sorted(day_counts):
        cusum = max(0, cusum + day_counts[d] * 1_000_000 - baseline_micro - slack)
        max_cusum = max(max_cusum, cusum)
        if cusum > thresh:
            n_alerts += 1
    return len(day_counts), max_cusum, n_alerts


def cusum_batch(
    events: DataFrame, baseline_micro: dict[str, int],
    slack_div: int = 16, thresh_div: int = 4,
) -> list[tuple]:
    """Batch twin of :func:`cusum_stream` against an EXPLICIT baseline
    (the monitoring posture: the reference rate comes from history or
    an SLO, not from the data under test — unlike the registered
    ts_cusum_alerts, which self-derives it for oracle checkability).
    Pre-aggregates daily counts distributed, then folds each series'
    calendar-bounded trajectory as a GROUPED kernel
    (``applyInPandas`` per event_type running the same
    :func:`_cusum_summary` the stream twin uses — stream and batch
    cannot drift, and per-task state is O(days) regardless of how
    many series exist; only the one-row-per-series summaries ever
    reach the driver). Returns sorted
    (event_type, n_days, max_cusum, n_alerts) rows."""
    if not baseline_micro:
        return []
    bm = dict(baseline_micro)

    def summarize(pdf):
        import pandas as pd

        dc = {
            int(d): int(c) for d, c in zip(pdf["day"], pdf["cnt"])
        }
        et = str(pdf["event_type"].iloc[0])
        n_days, mx, na = _cusum_summary(
            dc, bm[et], slack_div, thresh_div
        )
        return pd.DataFrame(
            {
                "event_type": [et],
                "n_days": [n_days],
                "max_cusum": [mx],
                "n_alerts": [na],
            }
        )

    rows = (
        # Watermark contract (SCALING.md): a NULL event time is outside
        # event time — drop it here like every other temporal twin; a
        # NULL day would reach the pandas kernel as NaN and raise
        # (ADVICE r6).
        events.filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.expr(
                f"CAST(unix_micros(CAST(ts AS timestamp)) div {_US_PER_DAY}"
                " AS int)"
            ).alias("day"),
        )
        .filter(F.col("event_type").isin(*bm.keys()))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("event_type")
        .applyInPandas(
            summarize,
            "event_type string, n_days long, max_cusum long, "
            "n_alerts long",
        )
        .collect()
    )
    return sorted(
        (r.event_type, r.n_days, r.max_cusum, r.n_alerts) for r in rows
    )


def cusum_stream(
    events: DataFrame, baseline_micro: dict[str, int],
    slack_div: int = 16, thresh_div: int = 4,
) -> DataFrame:
    """Streaming CUSUM drift monitor via ``applyInPandasWithState`` —
    sequential state that no windowed aggregate expresses, running
    continuously: per series the state is the day->count map
    (CALENDAR-BOUNDED, the same bound that justified the batch array
    fold), each micro-batch merges its arrivals in, and the full
    trajectory re-derives from state — so late events that raise an
    EARLIER day's count retroactively reshape every later CUSUM value,
    and the final emission equals the batch twin on any replay
    schedule (buffer-and-finalize, the funnel_stream discipline).
    Emits (event_type, n_days, max_cusum, n_alerts) per key per batch
    in update mode; the latest emission per key is the answer. At
    scale a production deployment finalizes days below the watermark
    into a (cusum_at_day, max, alerts) prefix summary and drops their
    buffered counts — the recurrence is resumable from any prefix."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if not baseline_micro:
        raise ValueError(
            "cusum_stream needs at least one (event_type, baseline) — "
            "an empty baseline dict cannot even build the series filter"
        )
    pre = events.select(
        "event_type",
        F.expr(
            f"CAST(unix_micros(CAST(ts AS timestamp)) div {_US_PER_DAY}"
            " AS int)"
        ).alias("day"),
    ).filter(F.col("event_type").isin(*baseline_micro.keys()))

    def update(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            days, counts = state.get
            dc = dict(zip(list(days or []), list(counts or [])))
        else:
            dc = {}
        for pdf in pdf_iter:
            for d, n in pdf.groupby("day").size().items():
                dc[int(d)] = dc.get(int(d), 0) + int(n)
        et = key[0]
        n_days, mx, na = _cusum_summary(
            dc, baseline_micro[et], slack_div, thresh_div
        )
        state.update((list(dc.keys()), [dc[k] for k in dc]))
        yield pd.DataFrame(
            {
                "event_type": [et],
                "n_days": [n_days],
                "max_cusum": [mx],
                "n_alerts": [na],
            }
        )

    return pre.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming incremental inverted-index maintenance (foreachBatch twin of
# plans' ivm_index_merge)
# ---------------------------------------------------------------------------


def index_refresh_stream(docs_stream: DataFrame, index_path: str):
    """Continuous inverted-index maintenance: each micro-batch of
    documents builds its tiny delta index (term -> doc set) and merges
    into the materialized base via array_union per term — the
    operational form of ``ivm_index_merge``'s proven identity
    merge(index(A), index(B)) == index(A ∪ B). Per batch the work is
    one pass over the DELTA plus a term-keyed join against the base;
    the corpus is never rebuilt. The stored form is raw postings
    (term, docs); the df >= 2 publication filter is a view applied at
    read time, so a term crossing the threshold mid-stream publishes
    exactly as a rebuild would.

    The base is a lake table (vocabulary-sized): the first batch
    creates it and each later merge is one ``overwrite`` commit, so a
    batch that dies mid-write leaves the previous version live and the
    checkpointed retry re-merges against it. Returns the writeStream
    builder — caller picks trigger/checkpoint.
    """
    from olist_data_warehouse_spark.operators import textops

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.select(
                "doc_id", F.explode(textops.tokens("text")).alias("term")
            )
            .filter(
                (F.col("term") != "")
                & ~F.col("term").isin(*textops.STOPWORDS)
            )
            .groupBy("term")
            .agg(F.collect_set("doc_id").alias("docs"))
        )
        idx = LakeTable(index_path)
        if idx.version() is None:
            LakeTable.create(delta, index_path)
            return
        empty = F.array().cast("array<bigint>")
        # lake data files are immutable, so the overwrite may read the
        # version it replaces
        idx.overwrite(
            idx.read(batch_df.sparkSession)
            .select("term", F.col("docs").alias("b"))
            .join(
                delta.select("term", F.col("docs").alias("d")),
                "term",
                "full_outer",
            )
            .select(
                "term",
                F.array_union(
                    F.coalesce("b", empty), F.coalesce("d", empty)
                ).alias("docs"),
            )
        )

    return docs_stream.writeStream.foreachBatch(merge)


def read_published_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The published view over the maintained raw postings: df >= 2,
    canonical ascending-id CSV — same contract as text_inverted_index
    and ivm_index_merge."""
    raw = LakeTable(index_path).read(spark)
    return (
        raw.select(
            "term",
            F.size("docs").cast("long").alias("df"),
            F.array_join(
                F.transform(
                    F.array_sort("docs"), lambda x: x.cast("string")
                ),
                ",",
            ).alias("posting_list"),
        )
        .filter(F.col("df") >= 2)
    )


def hll_refresh_stream(events_stream: DataFrame, regs_path: str):
    """Continuous daily-active-users sketch: each micro-batch builds
    its 64-rows-per-day HLL register delta and merges into the
    materialized register table by per-bucket MAX — the operational
    form of the sketch's mergeability (sk_hll_set_algebra's proven
    identity), so the daily-distinct estimate stays current at a per-
    batch cost of O(delta + days*64), never a re-scan.

    The register table is a lake table: the first batch creates it
    (version 0) and each later merge is one ``overwrite`` commit, so
    readers never see a half-written merge, a crashed batch leaves the
    previous version live, and every historical estimate stays
    as-of-readable (time travel over sketch state). Returns the
    writeStream builder — caller picks trigger/checkpoint."""
    from olist_data_warehouse_spark.operators import sketches

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        daily = batch_df.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        delta = sketches.hll_registers(daily, ["day"], F.col("user_id"))
        regs = LakeTable(regs_path)
        if regs.version() is None:
            LakeTable.create(delta, regs_path)
            return
        # lake data files are immutable, so the overwrite may read the
        # version it replaces
        regs.overwrite(
            regs.read(batch_df.sparkSession)
            .unionByName(delta)
            .groupBy("day", "bucket")
            .agg(F.max("register").alias("register"))
        )

    return events_stream.writeStream.foreachBatch(merge)


def read_hll_daily(
    spark: SparkSession, regs_path: str, version: int | None = None
) -> DataFrame:
    """(day, approx_distinct, n_zero_registers) from the materialized
    register table — current by default, or AS OF an older version."""
    from olist_data_warehouse_spark.operators import sketches

    return sketches.hll_estimate(
        LakeTable(regs_path).read(spark, version=version), ["day"]
    )
