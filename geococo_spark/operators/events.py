"""Event-log operators (the analytics side of a training-data
pipeline's telemetry tables): gap-based sessionization.

Reference parity note: the reference engine has no event-log surface;
this module is part of the driver brief's "operations a large-scale
training-data pipeline would need" axis, like operators/dedup.py and
operators/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_BUCKET_UNITS = ("minute", "hour", "day", "week", "month")


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    gap_minutes: int = 30,
    bucket: str | None = "hour",
) -> DataFrame:
    """Gap-based sessionization: consecutive events of one user belong
    to the same session while the inter-event gap stays <=
    ``gap_minutes``; a larger gap (or the user's first event) opens a
    new session. Returns one row per session: ``(user_col,
    session_idx, n_events, session_start, session_end)`` with
    ``session_idx`` numbering a user's sessions from 1 in time order.

    Scale shape (VERDICT r07 #5 — structural skew bound, guide §2.5):
    events are windowed per (user, ``date_trunc(bucket, ts)``), NOT per
    user, so ONE task never holds a hot user's whole history — a
    crawler identity with 10^8 events is split across its active
    buckets (default ``"hour"``). The per-bucket pass emits SEGMENT
    rows (count, start, end per within-bucket run); a second, much
    smaller pass per user merges segments whose boundary gap is <= the
    threshold and renumbers. This is EXACTLY the one-pass result:
    session breaks depend only on consecutive-event gaps; the bucket
    cuts force a provisional break at each bucket's first event, and
    the merge pass re-tests precisely those cuts against the true
    previous event (the prior segment's end — segments partition the
    user's events in time order). Non-NULL segment starts are unique
    per user (two segments in one bucket start > gap apart; equal
    timestamps share a bucket and, at gap 0 <= threshold, a segment).
    Events with a NULL ``ts`` each form a one-event segment with a NULL
    start, so the merge pass breaks start ties on the segment's least
    ``order_tiebreak`` — the order the single window gives them. State
    per task is one (user, bucket) slice in pass 1 and one user's
    SEGMENTS (bounded by active-time / gap, not by event count) in
    pass 2.
    ``bucket=None`` restores the single-window shape (one exchange,
    per-task state = one user's full history — fine when no key is
    hot). Gap arithmetic is timestamp SUBTRACTION vs an interval
    literal — timezone-free (works on TIMESTAMP_NTZ, which is what
    parquet timestamps scan as) and exact to the microsecond, matching
    the DuckDB oracle's epoch_us math; second-truncating unix casts
    would not. One tz caveat (same family as
    ``streaming.ingest.sessionized_events``): Spark evaluates
    ``date_trunc`` on ntz by casting through the SESSION timezone, and
    the exactness proof needs the bucket function to be MONOTONE in
    ``ts`` (each bucket one contiguous interval) — true under UTC
    (which the engine's ``get_spark`` pins) or any fixed-offset zone;
    a DST-folding session tz could fold two intervals into one bucket.
    Ordering is total via ``order_tiebreak``, so session boundaries
    are deterministic under timestamp ties.
    """
    gap_lit = F.expr(f"INTERVAL '{int(gap_minutes)}' MINUTE")
    if bucket is None:
        w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
        gap = F.col(ts_col) - F.lag(F.col(ts_col)).over(w)
        is_new = F.when(gap.isNull() | (gap > gap_lit), 1).otherwise(0)
        session_idx = (
            F.sum(is_new)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long")
        )
        return (
            # explicit projection to the three columns the windows/agg
            # touch (round 8: plan inspection showed Catalyst already
            # prunes the payload columns through the Window, so this is
            # documentation + insurance against opaque upstream
            # operators, not a measured win)
            events.select(user_col, ts_col, order_tiebreak)
            .withColumn("session_idx", session_idx)
            .groupBy(user_col, "session_idx")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.min(ts_col).alias("session_start"),
                F.max(ts_col).alias("session_end"),
            )
        )
    if bucket not in _BUCKET_UNITS:
        raise ValueError(
            f"sessionize: bucket must be one of {_BUCKET_UNITS} or None, got {bucket!r}"
        )
    # pass 1: within-(user, bucket) runs — the only pass that touches
    # event rows, per-task state bounded by the bucket width
    ev = events.select(user_col, ts_col, order_tiebreak).withColumn(
        "__sb", F.date_trunc(bucket, F.col(ts_col))
    )
    w1 = Window.partitionBy(user_col, "__sb").orderBy(ts_col, order_tiebreak)
    gap1 = F.col(ts_col) - F.lag(F.col(ts_col)).over(w1)
    new1 = F.when(gap1.isNull() | (gap1 > gap_lit), 1).otherwise(0)
    seg_idx = (
        F.sum(new1)
        .over(w1.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
    )
    segs = (
        ev.withColumn("__seg", seg_idx)
        .groupBy(user_col, "__sb", "__seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.min(ts_col).alias("__start"),
            F.max(ts_col).alias("__end"),
            F.min(order_tiebreak).alias("__tb"),
        )
    )
    # pass 2: sessionize the SEGMENTS per user — merge across bucket
    # cuts where the boundary gap (this start vs previous end) is
    # within threshold, then renumber in time order
    w2 = Window.partitionBy(user_col).orderBy("__start", "__tb")
    gap2 = F.col("__start") - F.lag(F.col("__end")).over(w2)
    new2 = F.when(gap2.isNull() | (gap2 > gap_lit), 1).otherwise(0)
    session_idx2 = (
        F.sum(new2)
        .over(w2.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
    )
    return (
        segs.withColumn("session_idx", session_idx2)
        .groupBy(user_col, "session_idx")
        .agg(
            F.sum("__n").cast("long").alias("n_events"),
            F.min("__start").alias("session_start"),
            F.max("__end").alias("session_end"),
        )
    )
