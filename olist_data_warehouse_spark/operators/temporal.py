"""Temporal joins Spark lacks as built-ins: as-of join and range join.

Both are composed from existing DataFrame ops (task contract: prefer
composition over UDFs), with plan shapes chosen for 100 TB:

- **as-of join** (latest right row with ts <= left ts, per key) uses
  the union-merge trick: tag both sides, union, one window over
  (key, ts) carrying the last right-side values forward, filter back
  to left rows. ONE hash shuffle on the key — never a per-key
  collect, never a nested-loop. This is how kdb/Flink-style as-of
  semantics map onto a shuffle engine.
- **range join** (left interval [ts, ts+len) × right points) would
  plan as BroadcastNestedLoopJoin if written as a raw inequality
  join — quadratic per key at scale. `range_join_binned` instead
  buckets time into bins of the interval length: each left interval
  lands in at most 2 bins (explode factor ≤ ceil(len/bin)+1 = 2),
  each right point in exactly 1, and the join becomes an EQUI-join
  on (key, bin) with the exact range predicate applied post-join.
  Catalyst plans it as a hash join; the bin key co-locates only
  plausible pairs.

No analog in the reference (T-SQL has neither operator); part of the
engine's beyond-reference surface. DuckDB's native ASOF JOIN is the
oracle for `asof_join` — an independent algorithm agreeing on the
same answer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    prefix: str = "matched_",
    tie_col: str | None = None,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach the nearest right row in the same
    ``by`` key: with ``direction="backward"`` (default) the latest row
    with ``right_ts <= left_ts``; with ``"forward"`` the earliest row
    with ``right_ts >= left_ts``; with ``"nearest"`` whichever of the
    two is closer in time, equal distances going backward (pandas
    ``merge_asof`` parity; the tie rule — which pandas leaves
    unspecified — is pinned here).
    ``tolerance_seconds`` bounds the match distance — rows whose only
    match lies further away keep their left columns with NULL match
    columns, exactly like merge_asof's ``tolerance``: for
    ``"nearest"`` the bound applies to each direction's candidate
    BEFORE the nearer one is chosen (pandas semantics — an
    out-of-tolerance nearest side falls back to the other side's
    in-tolerance match rather than returning NULL). Right rows are
    first deduplicated to one per (key, ts) — keeping the max
    ``tie_col`` — so the match is unique and deterministic.

    Plan: dedup window + union-merge window = two exchanges on the
    key, both reused by AQE; no join node at all, so there is nothing
    to skew or nested-loop — direction only flips which frame edge the
    carry reads from (last-over-preceding vs first-over-following),
    and tolerance is a post-carry conditional NULL, so neither knob
    changes the exchange count. Equal timestamps match in both
    directions: the right row sorts into the readable side of the
    frame at the same ts.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            "direction must be 'backward', 'forward', or 'nearest'"
        )
    right_cols = right_cols or [
        c for c in right.columns if c not in by and c != right_ts
    ]
    if tie_col is None:
        tie_col = right_cols[0]

    # The watermark contract: a row without an event time cannot be
    # temporally matched — left rows with NULL ts are dropped, right
    # rows with NULL ts can match nothing. (pandas merge_asof RAISES
    # on null keys; a distributed pipeline drops them instead;
    # ts-null fuzz.)
    left = left.filter(F.col(left_ts).isNotNull())
    right = right.filter(F.col(right_ts).isNotNull())
    dw = Window.partitionBy(*by, right_ts).orderBy(F.col(tie_col).desc())
    r1 = (
        right.withColumn("_rn", F.row_number().over(dw))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    lcols = [c for c in left.columns if c not in by and c != left_ts]
    l_tagged = left.select(
        *by,
        F.col(left_ts).alias("_ts"),
        F.lit(0).alias("_is_r"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(r1.schema[c].dataType).alias(f"_r_{c}")
          for c in right_cols],
        F.lit(None).cast(r1.schema[right_ts].dataType).alias("_r_ts"),
    )
    r_tagged = r1.select(
        *by,
        F.col(right_ts).alias("_ts"),
        F.lit(1).alias("_is_r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        F.col(right_ts).alias("_r_ts"),
    )

    merged = l_tagged.unionByName(r_tagged)
    # Carry the right row as ONE nullable STRUCT, not per column: a
    # per-column last(..., ignorenulls=True) would "fill through" a
    # matched right row whose attribute is legitimately NULL with an
    # EARLIER row's non-null value (null_fuzz_sweep's catch). The
    # struct is non-null exactly on right rows, so the carry
    # identifies the nearest right ROW and its fields keep their real
    # (possibly NULL) values — merge_asof semantics.
    merged = merged.withColumn(
        "_pack",
        F.when(
            F.col("_is_r") == 1,
            F.struct(
                *[F.col(f"_r_{c}").alias(f"_r_{c}") for c in right_cols],
                F.col("_r_ts").alias("_r_ts"),
            ),
        ),
    )
    if direction == "nearest":
        # Both carries over the SAME key exchange (two frames, one
        # partitioning): the backward carry reads the last right row
        # at/before, the forward carry the first at/after; the closer
        # one wins, ties (equal distance) go BACKWARD — the pinned
        # engine contract (pandas merge_asof 'nearest' parity up to
        # its unspecified tie rule).
        wb = (
            Window.partitionBy(*by)
            .orderBy(F.col("_ts").asc(), F.col("_is_r").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = (
            Window.partitionBy(*by)
            .orderBy(F.col("_ts").asc(), F.col("_is_r").asc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        merged = merged.withColumn(
            "_bp", F.last("_pack", ignorenulls=True).over(wb)
        ).withColumn("_fp", F.first("_pack", ignorenulls=True).over(wf))
        for c in [*(f"_r_{c}" for c in right_cols), "_r_ts"]:
            merged = merged.withColumn(
                f"_b{c}", F.col("_bp")[c]
            ).withColumn(f"_f{c}", F.col("_fp")[c])
        merged = merged.drop("_bp", "_fp")
        if tolerance_seconds is not None:
            # pandas merge_asof parity: tolerance nulls each
            # DIRECTIONAL carry before the nearer one is chosen, so a
            # left row whose closest match is out of tolerance still
            # takes the opposite direction's in-tolerance match (a
            # post-selection gap check would drop it).
            tol = F.lit(int(tolerance_seconds) * 1_000_000)
            okb = (
                F.unix_micros(F.col("_ts"))
                - F.unix_micros(F.col("_b_r_ts"))
            ) <= tol
            okf = (
                F.unix_micros(F.col("_f_r_ts"))
                - F.unix_micros(F.col("_ts"))
            ) <= tol
            for c in [*(f"_r_{c}" for c in right_cols), "_r_ts"]:
                merged = merged.withColumn(
                    f"_b{c}", F.when(okb, F.col(f"_b{c}"))
                ).withColumn(f"_f{c}", F.when(okf, F.col(f"_f{c}")))
        gb = F.unix_micros(F.col("_ts")) - F.unix_micros(F.col("_b_r_ts"))
        gf = F.unix_micros(F.col("_f_r_ts")) - F.unix_micros(F.col("_ts"))
        use_b = F.col("_b_r_ts").isNotNull() & (
            F.col("_f_r_ts").isNull() | (gb <= gf)
        )
        for c in [*(f"_r_{c}" for c in right_cols), "_r_ts"]:
            merged = merged.withColumn(
                c, F.when(use_b, F.col(f"_b{c}")).otherwise(F.col(f"_f{c}"))
            ).drop(f"_b{c}", f"_f{c}")
        return merged.filter(F.col("_is_r") == 0).select(
            *by,
            F.col("_ts").alias(left_ts),
            *[F.col(c) for c in lcols],
            F.col("_r_ts").alias(f"{prefix}{right_ts}"),
            *[F.col(f"_r_{c}").alias(f"{prefix}{c}") for c in right_cols],
        )
    if direction == "backward":
        # right rows sort before left rows at equal ts so `<=` matches
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col("_ts").asc(), F.col("_is_r").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        def carry(col):
            return F.last(col, ignorenulls=True).over(w)
    else:
        # forward: left rows sort before right rows at equal ts, and
        # the carry reads the FIRST right value at/after the row
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col("_ts").asc(), F.col("_is_r").asc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        def carry(col):
            return F.first(col, ignorenulls=True).over(w)

    merged = merged.withColumn("_cp", carry("_pack"))
    for c in right_cols:
        merged = merged.withColumn(f"_r_{c}", F.col("_cp")[f"_r_{c}"])
    merged = merged.withColumn("_r_ts", F.col("_cp")["_r_ts"]).drop("_cp")

    if tolerance_seconds is not None:
        # merge_asof tolerance: the left row survives, the match nulls.
        gap = F.abs(
            F.unix_micros(F.col("_ts")) - F.unix_micros(F.col("_r_ts"))
        )
        ok = gap <= F.lit(int(tolerance_seconds) * 1_000_000)
        for c in right_cols:
            merged = merged.withColumn(
                f"_r_{c}", F.when(ok, F.col(f"_r_{c}"))
            )
        merged = merged.withColumn("_r_ts", F.when(ok, F.col("_r_ts")))

    out = merged.filter(F.col("_is_r") == 0).select(
        *by,
        F.col("_ts").alias(left_ts),
        *[F.col(c) for c in lcols],
        F.col("_r_ts").alias(f"{prefix}{right_ts}"),
        *[F.col(f"_r_{c}").alias(f"{prefix}{c}") for c in right_cols],
    )
    return out


def range_join_binned(
    intervals: DataFrame,
    points: DataFrame,
    by: list[str],
    start_col: str,
    length: Column,
    point_ts: str = "ts",
    bin_seconds: int | None = None,
) -> DataFrame:
    """Equi-join-shaped range join: pairs every interval
    ``[start, start+length)`` with the right-side points falling
    inside it (same ``by`` key). ``length`` must be a literal
    interval; ``bin_seconds`` defaults to the interval length so each
    interval spans at most 2 bins.

    Returns interval rows joined (inner) to their contained points —
    callers aggregate as needed. The join key is (by..., time bin), so
    Catalyst plans a hash join; the exact predicate
    ``start <= point_ts < start + length`` filters bin-edge pairs.

    Correct for ANY ``bin_seconds``: each interval explodes to the full
    ``sequence(bin(start), bin(end))`` of bins it overlaps, so a bin
    smaller than the interval still covers every point (it just raises
    the explode factor — size bins near the interval length to keep it
    at ≤ 2 rows per interval).
    """
    if bin_seconds is None:
        raise ValueError(
            "bin_seconds is required; the interval length (in seconds) is "
            "the usual choice — it caps the per-interval explode factor at 2"
        )

    def binno(ts: Column) -> Column:
        return (ts.cast("long") / bin_seconds).cast("long")

    iv = intervals.withColumn("_end", F.col(start_col) + length)
    # every bin the interval overlaps, inclusive of both edge bins
    iv = iv.withColumn(
        "_bin",
        F.explode(F.sequence(binno(F.col(start_col)), binno(F.col("_end")))),
    )
    pt = points.withColumn("_bin", binno(F.col(point_ts)))

    joined = iv.join(pt, on=[*by, "_bin"], how="inner").filter(
        (F.col(point_ts) >= F.col(start_col)) & (F.col(point_ts) < F.col("_end"))
    )
    return joined.drop("_bin", "_end")


def interval_overlap_join_binned(
    a: DataFrame,
    b: DataFrame,
    by: list[str],
    a_start: str,
    b_start: str,
    a_len_seconds: int,
    b_len_seconds: int,
) -> DataFrame:
    """Interval×interval OVERLAP join ([s, s+len) end-exclusive, same
    ``by`` key) as an EQUI-join — the two-sided generalization of
    :func:`range_join_binned`: a raw double-inequality join plans as a
    nested loop, quadratic per key. Time is bucketed into bins of the
    larger interval length; each interval explodes to the (≤ 2 for
    len ≤ bin) bins it covers, the join runs on (key, bin), and the
    exact overlap predicate filters bin-edge pairs.

    Duplicate suppression is POSITIONAL, not a distinct: a pair that
    shares several bins is emitted only from the bin containing
    ``greatest(s_a, s_b)`` — that instant lies inside BOTH intervals
    (they overlap and it is the later start), so exactly one copy
    survives with zero extra exchange — the same responsibility-
    assignment trick the LSH first-shared-band dedup uses.

    Returns (by..., a row cols, b row cols, overlap_us)."""
    if a_len_seconds < 1 or b_len_seconds < 1:
        # A zero length degenerates twice over: both zero makes
        # bin_us 0 (division by zero in every bin expression), and a
        # single zero-length side bins [floor(s/bin), floor((s-1)/bin)]
        # which can run DESCENDING and emit spurious bins ahead of the
        # overlap>0 filter.
        raise ValueError(
            "interval lengths must be >= 1 second (end-exclusive "
            f"[s, s+len) intervals): got a={a_len_seconds}, "
            f"b={b_len_seconds}"
        )
    bin_us = max(a_len_seconds, b_len_seconds) * 1_000_000
    a_us = F.unix_micros(F.col(a_start))
    b_us = F.unix_micros(F.col(b_start))

    def binned(df, start_us, length_s, side):
        end_us = start_us + length_s * 1_000_000
        return df.withColumn(
            "_bin",
            F.explode(
                F.sequence(
                    F.floor(start_us / bin_us).cast("long"),
                    F.floor((end_us - 1) / bin_us).cast("long"),
                )
            ),
        ).withColumn(f"_{side}_us", start_us)

    ab = binned(a, a_us, a_len_seconds, "a")
    bb = binned(b, b_us, b_len_seconds, "b")
    joined = ab.join(bb, [*by, "_bin"])
    resp = F.floor(
        F.greatest(F.col("_a_us"), F.col("_b_us")) / bin_us
    ).cast("long")
    overlap = F.least(
        F.col("_a_us") + a_len_seconds * 1_000_000,
        F.col("_b_us") + b_len_seconds * 1_000_000,
    ) - F.greatest(F.col("_a_us"), F.col("_b_us"))
    return (
        joined.filter((overlap > 0) & (F.col("_bin") == resp))
        .withColumn("overlap_us", overlap)
        .drop("_bin", "_a_us", "_b_us")
    )
