"""Streaming parity: stream output must equal the oracle-pinned batch
twin (availableNow trigger = bounded catch-up run)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from olist_data_warehouse_spark.sources.lakehouse import LakeTable
from olist_data_warehouse_spark.sources.readers import load_testdata
from olist_data_warehouse_spark.streaming import events as ev

SF = "/root/testdata/sf0.001"


def rows(df, *cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_streaming_incremental_matches_batch(spark, tmp_path):
    batch = ev.tumbling_counts(load_testdata(spark, SF, ("events",))["events"])
    target = str(tmp_path / "win_counts")
    ev.run_streaming_incremental(spark, SF, target, str(tmp_path / "ckpt"))
    got = LakeTable(target).read(spark)
    cols = ("window_start", "event_type", "n_events", "total_value")
    assert rows(got, *cols) == rows(batch, *cols)


def test_streaming_incremental_is_idempotent(spark, tmp_path):
    """Re-running the merge against an already-loaded target appends
    nothing (insert-only merge on the window key — the J7 semantics)."""
    batch = ev.tumbling_counts(load_testdata(spark, SF, ("events",))["events"])
    target = str(tmp_path / "win_counts2")
    ev.run_streaming_incremental(spark, SF, target, str(tmp_path / "ckpt"))
    n1 = LakeTable(target).read(spark).count()
    # fresh checkpoint, same target
    ev.run_streaming_incremental(spark, SF, target, str(tmp_path / "ckpt2"))
    n2 = LakeTable(target).read(spark).count()
    assert n1 == n2 == batch.count()


@pytest.mark.parametrize("when_matched", ["update", "keep"])
def test_merge_batch_replayed_epoch_is_idempotent(
    spark, tmp_path, when_matched
):
    """A replayed epoch hands foreachBatch the same micro-batch again:
    the second merge must leave the table's rows exactly as the first
    left them, for the upsert and the insert-only form alike."""
    path = str(tmp_path / "t")
    schema = "k string, g string, n bigint"
    first = spark.createDataFrame([("a", "x", 1), ("b", "x", 2)], schema)
    epoch = spark.createDataFrame([("b", "x", 5), ("c", "y", 3)], schema)
    ev.merge_batch(first, path, ["k", "g"], when_matched)
    ev.merge_batch(epoch, path, ["k", "g"], when_matched)
    once = sorted(map(tuple, LakeTable(path).read(spark).collect()))
    ev.merge_batch(epoch, path, ["k", "g"], when_matched)
    again = sorted(map(tuple, LakeTable(path).read(spark).collect()))
    assert again == once
    b = 5 if when_matched == "update" else 2
    assert once == [("a", "x", 1), ("b", "x", b), ("c", "y", 3)]


def test_session_window_stream_matches_batch_sessionize(spark):
    """Native session_window (stateful) agrees with the lag+cumsum batch
    form on session starts and sizes."""
    events = load_testdata(spark, SF, ("events",))["events"]
    batch = ev.sessionize_batch(events, gap_minutes=30)

    stream = ev.sessionize_stream(ev.read_events_stream(spark, SF), 30)
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("sessions_stream")
    assert rows(got, "user_id", "session_start", "n_events") == rows(
        batch, "user_id", "session_start", "n_events"
    )


def test_apply_in_pandas_with_state_matches_batch(spark):
    """Custom stateful operator (applyInPandasWithState): running
    per-user totals across micro-batches equal the batch groupBy."""
    events = load_testdata(spark, SF, ("events",))["events"]
    batch = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    stream = ev.stateful_user_totals(ev.read_events_stream(spark, SF))
    q = (
        stream.writeStream.format("memory")
        .queryName("user_totals_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per (user, batch); the last emission per
    # user carries the final running total.
    got = (
        spark.table("user_totals_stream")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    cols = ("user_id", "n_events", "total_value")
    assert rows(got, *cols) == rows(batch, *cols)


def test_streaming_parity_under_non_utc_session(spark):
    """read_events_stream must pin UTC itself (mirroring the batch
    reader): on a foreign session left at a non-UTC timezone, the NTZ
    micros would otherwise render window starts shifted by the zone
    offset and diverge from the batch twin / oracle."""
    # Batch twin first — load_testdata pins UTC, so these rows are the
    # canonical UTC rendering. Materialize before changing the zone.
    batch = ev.tumbling_counts(load_testdata(spark, SF, ("events",))["events"])
    cols = ("window_start", "event_type", "n_events", "total_value")
    want = rows(batch, *cols)

    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        stream = ev.tumbling_counts(ev.read_events_stream(spark, SF))
        q = (
            stream.writeStream.format("memory")
            .queryName("tumbling_nonutc")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert rows(spark.table("tumbling_nonutc"), *cols) == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_stream_stream_interval_join_matches_batch(spark):
    """Watermarked stream-stream interval join (purchases x clicks in
    the preceding hour) emits exactly the batch join's rows."""
    events = load_testdata(spark, SF, ("events",))["events"]
    batch = ev.purchase_click_interval_join(
        *ev.split_clicks_purchases(events)
    )
    cols = ("user_id", "purchase_id", "click_id", "secs_before")
    want = rows(batch, *cols)
    assert want, "batch twin produced no rows — test would be vacuous"

    src = ev.read_events_stream(spark, SF)
    stream = ev.purchase_click_interval_join(*ev.split_clicks_purchases(src))
    q = (
        stream.writeStream.format("memory")
        .queryName("ssj_purchase_clicks")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert rows(spark.table("ssj_purchase_clicks"), *cols) == want


def test_chained_stateful_join_then_window_agg(spark):
    """Two chained stateful operators (stream-stream join -> windowed
    agg): emitted windows carry exactly the batch twin's counts; only
    windows the final watermark hasn't cleared may be withheld."""
    import datetime as dt

    events = load_testdata(spark, SF, ("events",))["events"]
    clicks_b, purchases_b = ev.split_clicks_purchases(events)
    batch = ev.attributed_purchases_hourly(clicks_b, purchases_b)
    cols = ("window_start", "window_end", "n_pairs")
    want = {r[0]: tuple(r) for r in batch.select(*cols).collect()}
    assert want, "batch twin empty — vacuous test"

    src = ev.read_events_stream(spark, SF)
    stream = ev.attributed_purchases_hourly(*ev.split_clicks_purchases(src))
    q = (
        stream.writeStream.format("memory")
        .queryName("chained_attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r[0]: tuple(r) for r in spark.table("chained_attrib").select(*cols).collect()}

    # every emitted window matches the batch value exactly
    for k, v in got.items():
        assert want.get(k) == v, f"window {k}: stream={v} batch={want.get(k)}"

    # the global watermark is min(max click ts, max purchase ts) with 0
    # delay; windows strictly before it MUST have been emitted (the
    # boundary window itself may legitimately be withheld).
    mx = events.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    maxes = {r.event_type: r.m for r in mx}
    cutoff = min(maxes["click"], maxes["purchase"])
    for k, v in want.items():
        end = dt.datetime.strptime(v[1], "%Y-%m-%d %H:%M:%S")
        if end < cutoff.replace(tzinfo=None):
            assert k in got, f"closed window {k} (end {end}) not emitted"


def test_stream_reads_legacy_nanos_generation(spark, tmp_path):
    """Older testdata generations wrote TIMESTAMP(NANOS); the streaming
    reader must accept them exactly like the batch reader's legacy
    branch does (no batch-vs-stream generation asymmetry)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/events.parquet")
    idx = t.schema.get_field_index("ts")
    t = t.set_column(
        idx, "ts", t.column("ts").cast(pa.timestamp("ns"))
    )
    nanos_dir = tmp_path / "nanos_gen"
    nanos_dir.mkdir()
    # store_schema + version 2.6 keep the physical type at NANOS
    # instead of coercing back to micros on write.
    pq.write_table(
        t, nanos_dir / "events.parquet", version="2.6",
        coerce_timestamps=None, store_schema=False,
    )
    assert (
        pq.read_schema(nanos_dir / "events.parquet").field("ts").type
        == pa.timestamp("ns")
    )

    batch = ev.tumbling_counts(
        load_testdata(spark, str(nanos_dir), ("events",))["events"]
    )
    stream = ev.tumbling_counts(ev.read_events_stream(spark, str(nanos_dir)))
    q = (
        stream.writeStream.format("memory")
        .queryName("tumbling_nanos")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cols = ("window_start", "event_type", "n_events", "total_value")
    assert rows(spark.table("tumbling_nanos"), *cols) == rows(batch, *cols)


def test_streaming_dedup_drops_replayed_duplicates(spark):
    """Streaming dedup-within-watermark sees each event_id once even
    when the source replays; agrees with the batch dropDuplicates."""
    events = load_testdata(spark, SF, ("events",))["events"]
    batch_n = events.dropDuplicates(["event_id"]).count()

    # simulate an at-least-once source: the same file delivered twice
    base = ev.read_events_stream(spark, SF)
    doubled = base.union(base)
    stream = ev.dedup_stream(doubled, ["event_id"])
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream")
    assert got.count() == batch_n
    assert got.select("event_id").distinct().count() == batch_n


def test_streaming_rollup_revises_boundary_windows(spark, tmp_path):
    """Continuous-aggregate maintenance: events arrive as three
    time-ordered files, the rollup runs after each arrival (one
    checkpoint — restart-resume each time), and a window split across
    arrivals is first written PARTIAL then revised to its full total.
    Final table == full batch aggregate; the anti-join-insert policy
    (run_streaming_incremental) would have frozen the partial row."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF}/events.parquet")
    src = src.take(pc.sort_indices(src, sort_keys=[("ts", "ascending")]))
    n = src.num_rows

    # Cut so at least one arrival boundary splits a (window, type)
    # group: find an adjacent same-hour same-type pair near each third
    # and cut between its rows. (At this SF hourly windows are near
    # singletons, so a blind N/3 cut almost never splits one.)
    hours = [
        (ts.replace(minute=0, second=0, microsecond=0), et)
        for ts, et in zip(
            src.column("ts").to_pylist(), src.column("event_type").to_pylist()
        )
    ]

    def cut_near(target):
        order = sorted(range(1, n), key=lambda i: abs(i - target))
        for i in order:
            if hours[i - 1] == hours[i]:
                return i
        return target

    cuts = sorted({0, cut_near(n // 3), cut_near(2 * n // 3), n})
    assert len(cuts) == 4, "degenerate cuts — testdata too small"

    data_dir = tmp_path / "roll"
    events_dir = data_dir / "events.parquet"
    events_dir.mkdir(parents=True)
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "rollup_counts")

    batch = ev.tumbling_counts(load_testdata(spark, SF, ("events",))["events"])
    cols = ("window_start", "event_type", "n_events", "total_value")
    want = rows(batch, *cols)

    snapshots = []
    for i in range(3):
        chunk = src.slice(cuts[i], cuts[i + 1] - cuts[i])
        pq.write_table(chunk, events_dir / f"part-{i:03d}.parquet")
        ev.run_streaming_rollup(spark, str(data_dir), target, ckpt)
        snapshots.append(rows(LakeTable(target).read(spark), *cols))

    assert snapshots[-1] == want

    # The revision actually happened: after the first arrival at least
    # one (window, type) row carried a partial total that the final
    # table contradicts — i.e. upsert rewrote it, insert-only wouldn't.
    final = {(r[0], r[1]): r for r in snapshots[0] | snapshots[1] | snapshots[2]}
    first = {(r[0], r[1]): r for r in snapshots[0]}
    final_by_key = {(r[0], r[1]): r for r in want}
    revised = [
        k for k, r in first.items() if final_by_key.get(k) not in (None, r)
    ]
    assert revised, (
        "no boundary window was revised — split points landed on hour "
        "boundaries and the test is vacuous"
    )


def test_streaming_fact_maintenance_partition_scoped(spark, tmp_path):
    """CDC-style continuous fact maintenance: events arrive as three
    time-ordered files; each arrival merges into ONLY the day-partitions
    it touches. Final fact == full batch aggregate, and at least one
    data file written by the first run is still live after the later
    runs (carried by reference, never rewritten)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF}/events.parquet")
    src = src.take(pc.sort_indices(src, sort_keys=[("ts", "ascending")]))
    n = src.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]

    data_dir = tmp_path / "cdc"
    events_dir = data_dir / "events.parquet"
    events_dir.mkdir(parents=True)
    ckpt = str(tmp_path / "ckpt")
    fact_path = str(tmp_path / "fact")
    fact = LakeTable(fact_path)

    snapshots = []
    for i in range(3):
        chunk = src.slice(cuts[i], cuts[i + 1] - cuts[i])
        pq.write_table(chunk, events_dir / f"part-{i:03d}.parquet")
        ev.run_streaming_fact_maintenance(
            spark, str(data_dir), fact_path, ckpt
        )
        snapshots.append(set(fact._state()["files"]))

    batch = ev.tumbling_counts(load_testdata(spark, SF, ("events",))["events"])
    cols = ("window_start", "event_type", "n_events", "total_value")
    got = fact.read(spark)
    assert rows(got, *cols) == rows(batch, *cols)

    # Partition scoping: data files of days untouched by later arrivals
    # stay live through runs 2 and 3. (Time-ordered arrivals guarantee
    # run 1 wrote days the later chunks never revisit.)
    assert snapshots[0] & snapshots[-1], (
        "every run-1 data file was rewritten by later runs"
    )
    # And maintenance did not balloon the fact: every batch aggregate
    # row lives in exactly one pday partition.
    assert got.filter(
        F.col("pday") != F.date_format(
            F.to_timestamp("window_start"), "yyyyMMdd"
        ).cast("int")
    ).count() == 0


def test_funnel_stream_matches_batch(spark):
    """Ordered-funnel stateful operator: per-user (t1,t2,t3) from the
    buffer-and-finalize stream equal the batch window chain. Each step
    time is monotone nonincreasing across emissions, so the final
    state is the per-user MIN of the update-mode output."""
    events = load_testdata(spark, SF, ("events",))["events"]
    batch = ev.funnel_batch(events)
    stream = ev.funnel_stream(ev.read_events_stream(spark, SF))
    q = (
        stream.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("funnel_stream")
        .groupBy("user_id")
        .agg(
            F.min("t1_us").alias("t1_us"),
            F.min("t2_us").alias("t2_us"),
            F.min("t3_us").alias("t3_us"),
        )
    )
    cols = ("user_id", "t1_us", "t2_us", "t3_us")
    assert rows(got, *cols) == rows(batch, *cols)


def test_funnel_stream_corrects_late_arriving_views(spark):
    """The property that makes the funnel buffer-and-finalize: replay
    the SECOND half of the timeline first (batch 1), then the first
    half (batch 2) — late-arriving earlier views must retroactively
    lower t1 and re-qualify clicks, converging to the same result as
    the batch twin over everything. maxFilesPerTrigger=1 forces two
    real micro-batches with state carried between them."""
    import glob
    import os
    import shutil
    import tempfile

    events = load_testdata(spark, SF, ("events",))["events"]
    batch = ev.funnel_batch(events)
    cut = events.agg(
        F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)")
    ).collect()[0][0]
    late_first = events.filter(
        F.unix_micros(F.col("ts").cast("timestamp")) >= cut
    )
    early_second = events.filter(
        F.unix_micros(F.col("ts").cast("timestamp")) < cut
    )

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for i, part in enumerate((late_first, early_second)):
            tmp = os.path.join(d, f"w{i}")
            part.coalesce(1).write.parquet(tmp)
            f = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.copy(f, os.path.join(src, f"{i:04d}.parquet"))

        stream = ev.funnel_stream(
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("funnel_ooo")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = (
            spark.table("funnel_ooo")
            .groupBy("user_id")
            .agg(
                F.min("t1_us").alias("t1_us"),
                F.min("t2_us").alias("t2_us"),
                F.min("t3_us").alias("t3_us"),
            )
        )
        cols = ("user_id", "t1_us", "t2_us", "t3_us")
        assert rows(got, *cols) == rows(batch, *cols)
        # two real micro-batches ran: users active in both halves
        # emitted at least twice
        emits = spark.table("funnel_ooo").groupBy("user_id").count()
        assert emits.filter(F.col("count") >= 2).count() > 0


def test_left_outer_interval_join_emits_nulls_below_watermark(spark):
    """Stream-stream LEFT OUTER interval join: matched rows equal the
    batch join exactly; null-padded rows emit exactly for purchases
    whose lookback window CLOSED — purchase_ts strictly below the
    final global watermark, which is the MIN of both sides' max event
    time (the click side can lag, freezing closure: the defining
    outer-join-needs-watermark semantics)."""
    events = load_testdata(spark, SF, ("events",))["events"]
    cb, pb = ev.split_clicks_purchases(events)
    batch = ev.unattributed_purchases_join(cb, pb)
    cols = ("user_id", "purchase_id", "purchase_us", "click_id",
            "secs_before")
    batch_matched = rows(batch.filter(F.col("click_id").isNotNull()), *cols)
    wm = min(
        cb.agg(
            F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        ).collect()[0][0],
        pb.agg(
            F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        ).collect()[0][0],
    )
    batch_closed_unmatched = rows(
        batch.filter(
            F.col("click_id").isNull() & (F.col("purchase_us") < wm)
        ),
        *cols,
    )

    cs, ps = ev.split_clicks_purchases(ev.read_events_stream(spark, SF))
    stream = ev.unattributed_purchases_join(cs, ps)
    q = (
        stream.writeStream.format("memory")
        .queryName("lo_join_parity")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("lo_join_parity")
    got_matched = rows(got.filter(F.col("click_id").isNotNull()), *cols)
    got_unmatched = rows(got.filter(F.col("click_id").isNull()), *cols)

    assert got_matched == batch_matched
    assert batch_closed_unmatched <= got_unmatched
    # nothing beyond the batch answer ever emits (no phantom nulls for
    # purchases that DID have a click)
    batch_all_unmatched = rows(batch.filter(F.col("click_id").isNull()), *cols)
    assert got_unmatched <= batch_all_unmatched


def test_checkpoint_recovery_resumes_state_exactly_once(spark):
    """Kill-and-resume: run the stateful totals over file 1 with a
    checkpoint, stop, drop file 2 into the source, restart from the
    SAME checkpoint — the resumed query must process ONLY the new file
    (the checkpoint's file log dedups), carry the user state forward,
    and converge to the batch answer over both files. A third restart
    with nothing new must process nothing."""
    import glob
    import os
    import shutil
    import tempfile

    events = load_testdata(spark, SF, ("events",))["events"]
    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)
    batch = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )

    def run(src, ckpt, out):
        stream = ev.stateful_user_totals(
            spark.readStream.schema(events.schema).parquet(src)
        )

        def sink(df, epoch_id):
            df.write.mode("append").parquet(out)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def drop_file(df, src, name):
        with tempfile.TemporaryDirectory() as w:
            sub = os.path.join(w, "w")
            df.coalesce(1).write.parquet(sub)
            f = glob.glob(os.path.join(sub, "part-*.parquet"))[0]
            shutil.copy(f, os.path.join(src, name))

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        ckpt = os.path.join(d, "ckpt")
        out = os.path.join(d, "out")
        os.makedirs(src)

        drop_file(half_a, src, "0001.parquet")
        run(src, ckpt, out)
        n_after_first = len(glob.glob(os.path.join(out, "*.parquet")))

        drop_file(half_b, src, "0002.parquet")
        run(src, ckpt, out)

        got = (
            spark.read.parquet(out)
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("total_value").alias("total_value"),
            )
        )
        cols = ("user_id", "n_events", "total_value")
        assert rows(got, *cols) == rows(batch, *cols)

        # third run: checkpoint knows both files — nothing re-emits
        n_before_third = len(glob.glob(os.path.join(out, "*.parquet")))
        assert n_before_third > n_after_first  # run 2 did emit
        run(src, ckpt, out)
        emitted = spark.read.parquet(out).count()
        run(src, ckpt, out)
        assert spark.read.parquet(out).count() == emitted


def test_cusum_stream_matches_batch_and_corrects_late_days(spark):
    """Streaming CUSUM monitor: the final per-series emission equals
    the batch twin, AND replaying the timeline out of order (second
    half first) converges to the same summary — late events that raise
    an EARLIER day's count must retroactively reshape the trajectory
    (buffer-and-finalize, like the funnel)."""
    import os
    import tempfile

    events = load_testdata(spark, SF, ("events",))["events"]
    baseline = {
        r.event_type: int(r.m)
        for r in events.groupBy("event_type")
        .agg(
            F.expr(
                "CAST((1000000 * count(*)) div count(DISTINCT "
                "unix_micros(CAST(ts AS timestamp)) div 86400000000) "
                "AS bigint)"
            ).alias("m")
        )
        .collect()
    }
    expected = ev.cusum_batch(events, baseline)
    assert expected, "baseline/batch twin produced no series"

    # in-order availableNow replay
    stream = ev.cusum_stream(ev.read_events_stream(spark, SF), baseline)
    q = (
        stream.writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = (
        spark.table("cusum_stream")
        .withColumn("o", F.monotonically_increasing_id())
        .groupBy("event_type")
        .agg(F.max_by(F.struct("n_days", "max_cusum", "n_alerts"), "o").alias("s"))
        .select("event_type", "s.n_days", "s.max_cusum", "s.n_alerts")
    )
    got = sorted(map(tuple, final.collect()))
    assert got == expected

    # out-of-order: write second half then first half as separate
    # files, one file per trigger -> two real micro-batches
    cut = events.agg(
        F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)")
    ).collect()[0][0]
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        events.filter(
            F.unix_micros(F.col("ts").cast("timestamp")) >= cut
        ).coalesce(1).write.parquet(os.path.join(src, "half=late"))
        events.filter(
            F.unix_micros(F.col("ts").cast("timestamp")) < cut
        ).coalesce(1).write.parquet(os.path.join(src, "half=early"))
        sstream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/half=*")
        )
        q2 = (
            ev.cusum_stream(sstream, baseline)
            .writeStream.format("memory")
            .queryName("cusum_ooo")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        final2 = (
            spark.table("cusum_ooo")
            .withColumn("o", F.monotonically_increasing_id())
            .groupBy("event_type")
            .agg(
                F.max_by(
                    F.struct("n_days", "max_cusum", "n_alerts"), "o"
                ).alias("s")
            )
            .select("event_type", "s.n_days", "s.max_cusum", "s.n_alerts")
        )
        assert sorted(map(tuple, final2.collect())) == expected
        # two real micro-batches: at least one series emitted twice
        emits = spark.table("cusum_ooo").groupBy("event_type").count()
        assert emits.filter(F.col("count") >= 2).count() > 0


def test_index_refresh_stream_converges_to_rebuild(spark):
    """Continuous inverted-index maintenance: stream the corpus in two
    real micro-batches through foreachBatch array_union merges; the
    published view (df >= 2 filter applied at read) must equal the
    registered full-rebuild entry over all documents — including terms
    that only cross the publication threshold once the second batch
    lands."""
    import os
    import tempfile

    from olist_data_warehouse_spark.plans.queries import REGISTRY

    docs = load_testdata(spark, SF, ("documents",))["documents"]
    rebuild = rows(
        REGISTRY["text_inverted_index"].fn(spark, SF),
        "term", "df", "posting_list",
    )
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        idx = os.path.join(d, "index")
        docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
            os.path.join(src, "half=a")
        )
        docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
            os.path.join(src, "half=b")
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/half=*")
        )
        q = (
            ev.index_refresh_stream(stream, idx)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        q.awaitTermination()
        got = rows(
            ev.read_published_index(spark, idx),
            "term", "df", "posting_list",
        )
        assert got == rebuild
        assert LakeTable(idx).version() == 1  # one version per batch


def test_streaming_ohlc_matches_batch_and_oracle_form(spark, tmp_path):
    """The min_by/max_by OHLC transform through real availableNow
    micro-batches with per-batch upsert equals the same transform run
    as a batch query (whose ranked-CTE oracle pins the selection
    semantics)."""
    batch = ev.ohlc_bars(load_testdata(spark, SF, ("events",))["events"])
    cols = (
        "event_type", "bucket", "open", "high", "low", "close", "n_events"
    )
    target = str(tmp_path / "ohlc")
    ev.run_streaming_ohlc(spark, SF, target, str(tmp_path / "ckpt"))
    got = LakeTable(target).read(spark)
    assert rows(got, *cols) == rows(batch, *cols)


def test_streaming_phash_kernel_matches_batch(spark):
    """The Arrow mapInPandas phash kernel is STATELESS, so it runs on a
    stream unchanged — per-item hashes streamed through two real
    micro-batches (append mode, no watermark needed) equal the batch
    kernel over the same payloads. Demonstrates that every multimodal
    stage composes with Structured Streaming as-is."""
    import os

    from olist_data_warehouse_spark.operators import multimodal

    docs = load_testdata(spark, SF, ("documents",))["documents"]
    w = (F.col("doc_id") % 64 + 16).cast("int")
    h = (F.col("doc_id") % 48 + 16).cast("int")
    payload = F.concat(
        F.lit("FAKEIMG|"), w.cast("string"), F.lit("|"),
        h.cast("string"), F.lit("|3|"), F.substring("text", 1, 64),
    ).cast("binary")
    images = docs.select(
        F.col("doc_id").alias("item_id"), payload.alias("payload")
    )
    batch = rows(multimodal.image_phash(images), "item_id", "phash")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        out = os.path.join(d, "out")
        images.filter(F.col("item_id") % 2 == 0).coalesce(1).write.parquet(
            os.path.join(src, "half=a")
        )
        images.filter(F.col("item_id") % 2 == 1).coalesce(1).write.parquet(
            os.path.join(src, "half=b")
        )
        stream = (
            spark.readStream.schema(images.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/half=*")
        )
        q = (
            multimodal.image_phash(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = rows(spark.read.parquet(out), "item_id", "phash")
        assert got == batch


def test_streaming_hll_register_merge_matches_batch(spark):
    """Daily-active HLL maintained through two real micro-batches by
    per-bucket register MAX (each merge published as a new immutable
    VERSION) must equal the batch sketch over all events — and the
    first version must equal the batch sketch over only the first
    half (time travel over sketch state)."""
    import os

    from olist_data_warehouse_spark.operators import sketches
    from olist_data_warehouse_spark.plans.queries import REGISTRY

    events = load_testdata(spark, SF, ("events",))["events"]
    batch_all = rows(
        REGISTRY["sk_hll_daily_users"].fn(spark, SF),
        "day", "approx_distinct", "n_zero_registers",
    )
    first_half = events.filter(F.col("event_id") % 2 == 0)
    batch_first = rows(
        sketches.hll_distinct(
            first_half.withColumn(
                "day", F.date_format("ts", "yyyy-MM-dd")
            ),
            ["day"], F.col("user_id"),
        ),
        "day", "approx_distinct", "n_zero_registers",
    )
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        regs = os.path.join(d, "regs")
        first_half.coalesce(1).write.parquet(os.path.join(src, "half=a"))
        events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
            os.path.join(src, "half=b")
        )
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/half=*")
        )
        q = (
            ev.hll_refresh_stream(stream, regs)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert LakeTable(regs).version() == 1  # one version per batch
        got = rows(
            ev.read_hll_daily(spark, regs),
            "day", "approx_distinct", "n_zero_registers",
        )
        assert got == batch_all
        as_of_0 = rows(
            ev.read_hll_daily(spark, regs, version=0),
            "day", "approx_distinct", "n_zero_registers",
        )
        assert as_of_0 == batch_first


def test_cusum_batch_excludes_null_event_times(spark):
    """Watermark contract (ADVICE r6): a NULL event ts is outside event
    time — cusum_batch must drop it like every other temporal twin
    instead of crashing on a NaN day group in the pandas kernel."""
    events = load_testdata(spark, SF, ("events",))["events"]
    baseline = {
        r.event_type: int(r.m)
        for r in events.groupBy("event_type")
        .agg(
            F.expr(
                "CAST((1000000 * count(*)) div count(DISTINCT "
                "unix_micros(CAST(ts AS timestamp)) div 86400000000) "
                "AS bigint)"
            ).alias("m")
        )
        .collect()
    }
    clean = ev.cusum_batch(events, baseline)
    dirty = events.unionByName(
        events.limit(5).withColumn("ts", F.lit(None).cast("timestamp"))
    )
    assert ev.cusum_batch(dirty, baseline) == clean
