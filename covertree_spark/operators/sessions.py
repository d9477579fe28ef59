"""Sessionization (gap rule) with a HOT-KEY-BOUNDED two-phase plan.

The classic formulation — two windows partitioned by user — is correct
but puts a user's ENTIRE history in one task: a bot account with 10^8
events is a straggler no cell-splitting machinery reaches (round-4
VERDICT #5 / What's-wrong #3).

Two-phase shape (per-bucket sessions + boundary stitch):

  phase 1: events salt into (user, time-bucket) groups; a local window
    inside each bucket computes provisional session starts (the
    bucket's first event counts as a start — provisionally) and the
    local cumulative start count. Task size is bounded by the largest
    single (user, bucket) — the engine's documented contract: the
    bound is max per-user events per ``bucket_us`` window, not per-user
    total.

  phase 2 (the stitch): ONE ROW PER (user, bucket) — first/last event
    micros + local start count — flows through a per-user window over
    BUCKET SUMMARIES (cardinality = time-range / bucket_us, independent
    of event count). The summary window decides whether each bucket's
    first event truly starts a session (gap from the previous bucket's
    last event: buckets partition time, so the previous event globally
    IS the last event of the previous non-empty bucket) and prefix-sums
    the corrected start counts into a per-bucket session offset.

  final: join the offsets back on (user, bucket); an event's session
    index = bucket offset + its local cumulative count (+ the first-
    event correction folded into the offset). Microsecond-exact integer
    arithmetic throughout — identical semantics to the one-window plan
    (parity-tested, and the catalog oracle is unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# DATA-ADAPTIVE dial (r6, the components.py small-path discipline
# applied to the session family): the two-phase plan exists
# to BOUND the largest task by the largest (user, time-bucket) group.
# When the WHOLE input is at most this many rows, the classic
# one-window plan's largest task is bounded by the same number — the
# hot-key contract holds trivially — and its single exchange replaces
# the two-phase's 3-4 exchanges + stitch join (measured: the bucket
# machinery is ~2x the wall of the one-window plan at bench scale,
# pure fixed-latency stages). Above the cutoff (any 100 TB event
# stream) the two-phase shape runs unchanged. Both shapes are
# parity-tested identical (test_user_travel / test_sessions_r6).
SMALL_CUTOFF = 2_000_000


def _probe_rows(events: DataFrame, n_hint: int | None) -> int | None:
    """Row count for the adaptive dial: the caller's hint, else one
    count job (cheap for scan-only frames — parquet row-group
    metadata; callers with derived inputs pass ``n_hint`` so the
    probe never executes a subplan twice). None for streaming frames
    (no count; the bounded two-phase shape is the only safe one)."""
    if n_hint is not None:
        return int(n_hint)
    if events.isStreaming:
        return None
    return events.count()


def sessionize(
    events: DataFrame,
    gap_us: int,
    bucket_us: int | None = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    n_hint: int | None = None,
    small_cutoff: int = SMALL_CUTOFF,
) -> DataFrame:
    """(id_col, user_col, sess) with sess = 1-based session index per
    user; a gap > ``gap_us`` microseconds starts a new session.
    Ordering ties break on ``id_col`` (ties never span buckets: the
    bucket is a pure function of the timestamp). ``bucket_us`` defaults
    to 4x the gap — coarse enough that human-scale users occupy few
    buckets, fine enough to salt a bot's firehose."""
    n = _probe_rows(events, n_hint)
    if n is not None and n <= small_cutoff:
        return sessionize_single_window(
            events, gap_us, ts_col=ts_col, user_col=user_col, id_col=id_col
        )
    if bucket_us is None:
        bucket_us = 4 * gap_us
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ev = events.select(
        F.col(id_col).alias("_eid"),
        F.col(user_col).alias("_uid"),
        us.alias("_us"),
    ).withColumn("_bkt", F.floor(F.col("_us") / F.lit(int(bucket_us))))

    w_local = Window.partitionBy("_uid", "_bkt").orderBy(
        F.col("_us").asc(), F.col("_eid").asc()
    )
    gap_local = F.col("_us") - F.lag("_us").over(w_local)
    ns = F.when(
        gap_local.isNull() | (gap_local > F.lit(int(gap_us))), F.lit(1)
    ).otherwise(F.lit(0))
    local = ev.withColumn("_ns", ns).withColumn(
        "_lcum",
        F.sum("_ns").over(
            w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )

    summ = local.groupBy("_uid", "_bkt").agg(
        F.min("_us").alias("_first_us"),
        F.max("_us").alias("_last_us"),
        F.sum("_ns").alias("_starts"),
    )
    w_user = Window.partitionBy("_uid").orderBy(F.col("_bkt").asc())
    prev_last = F.lag("_last_us").over(w_user)
    # the bucket's first event provisionally counted as a start;
    # correction is 0 (really a start) or -1 (continuation across the
    # bucket boundary)
    delta = F.when(
        prev_last.isNull()
        | ((F.col("_first_us") - prev_last) > F.lit(int(gap_us))),
        F.lit(0),
    ).otherwise(F.lit(-1))
    offsets = (
        summ.withColumn("_delta", delta)
        .withColumn(
            "_base",
            F.coalesce(
                F.sum(F.col("_starts") + F.col("_delta")).over(
                    w_user.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(
            "_uid", "_bkt",
            (F.col("_base") + F.col("_delta")).alias("_off"),
        )
    )

    return (
        local.join(offsets, ["_uid", "_bkt"])
        .select(
            F.col("_eid").alias(id_col),
            F.col("_uid").alias(user_col),
            (F.col("_off") + F.col("_lcum")).cast("bigint").alias("sess"),
        )
    )


def sessionize_single_window(
    events: DataFrame,
    gap_us: int,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """The classic one-window formulation — correct at human-scale
    per-user cardinality, unbounded task size on a hot key. Kept as
    the parity reference for the two-phase plan."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    gap = us - F.lag(us).over(w)
    new_sess = F.when(
        gap.isNull() | (gap > F.lit(int(gap_us))), F.lit(1)
    ).otherwise(F.lit(0))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        id_col,
        user_col,
        F.sum(new_sess).over(wcum).cast("bigint").alias("sess"),
    )


def consecutive_pairs(
    events: DataFrame,
    bucket_us: int,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    n_hint: int | None = None,
    small_cutoff: int = SMALL_CUTOFF,
) -> DataFrame:
    """(user_id, event_id, prev_id, us, prev_us) for every event that
    HAS a same-user predecessor under the (ts, id) order — the lag(1)
    / trajectory-segment primitive (``us`` = the event's microsecond
    timestamp, ``prev_us`` = the predecessor's, so consumers get the
    segment's time gap for free), with the SAME hot-key-bounded
    two-phase shape as ``sessionize``:

      phase 1: a local lag inside each (user, time-bucket) window
        resolves every event except each bucket's first; task size is
        bounded by the largest single (user, bucket).
      phase 2: ONE ROW PER (user, bucket) — the bucket's last
        (us, id) — flows through a per-user window over bucket
        summaries; lag over THAT gives the previous non-empty bucket's
        last event, which globally precedes this bucket's first
        (buckets partition time; ts ties share a bucket by
        construction, so cross-bucket ties cannot occur).

    Each user's globally-first event appears in no output row (it has
    no predecessor) — same convention as SQL lag + IS NOT NULL."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    n = _probe_rows(events, n_hint)
    if n is not None and n <= small_cutoff:
        # one-window small path (see SMALL_CUTOFF): same (us, id)
        # per-user order, same lag semantics, one exchange
        return (
            events.select(
                F.col(user_col).alias("user_id"),
                F.col(id_col).alias("event_id"),
                us.alias("us"),
            )
            .select(
                "user_id", "event_id", "us",
                F.lag("event_id").over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("us").asc(), F.col("event_id").asc()
                    )
                ).alias("prev_id"),
                F.lag("us").over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("us").asc(), F.col("event_id").asc()
                    )
                ).alias("prev_us"),
            )
            .filter(F.col("prev_id").isNotNull())
            .select("user_id", "event_id", "prev_id", "us", "prev_us")
        )
    ev = events.select(
        F.col(id_col).alias("_eid"),
        F.col(user_col).alias("_uid"),
        us.alias("_us"),
    ).withColumn("_bkt", F.floor(F.col("_us") / F.lit(int(bucket_us))))
    w = Window.partitionBy("_uid", "_bkt").orderBy(
        F.col("_us").asc(), F.col("_eid").asc()
    )
    loc = ev.select(
        "*",
        F.lag("_eid").over(w).alias("_peid"),
        F.lag("_us").over(w).alias("_pus"),
        F.row_number().over(w).alias("_rn"),
    )
    resolved = loc.filter(F.col("_peid").isNotNull()).select(
        F.col("_uid").alias("user_id"),
        F.col("_eid").alias("event_id"),
        F.col("_peid").alias("prev_id"),
        F.col("_us").alias("us"),
        F.col("_pus").alias("prev_us"),
    )
    summ = ev.groupBy("_uid", "_bkt").agg(
        F.max(F.struct(F.col("_us"), F.col("_eid"))).alias("_last")
    )
    ws = Window.partitionBy("_uid").orderBy(F.col("_bkt").asc())
    carry = summ.select(
        "_uid", "_bkt", F.lag("_last").over(ws).alias("_plast")
    )
    stitched = (
        loc.filter(F.col("_rn") == 1)
        .join(carry, ["_uid", "_bkt"])
        .filter(F.col("_plast").isNotNull())
        .select(
            F.col("_uid").alias("user_id"),
            F.col("_eid").alias("event_id"),
            F.col("_plast._eid").alias("prev_id"),
            F.col("_us").alias("us"),
            F.col("_plast._us").alias("prev_us"),
        )
    )
    return resolved.unionByName(stitched)


def prefix_starts(
    flagged: DataFrame,
    bucket_us: int,
    ts_us_col: str = "us",
    user_col: str = "user_id",
    id_col: str = "event_id",
    flag_col: str = "st",
    n_hint: int | None = None,
    small_cutoff: int = SMALL_CUTOFF,
) -> DataFrame:
    """Per-user prefix count of ``flag_col`` (0/1) under the (us, id)
    order — the generalized sessionize final step for break flags
    computed EXTERNALLY (e.g. trip segmentation, where a break depends
    on the segment's great-circle jump, not just the time gap). Same
    hot-key bound as ``sessionize``: no task holds a full user history,
    only the largest (user, time-bucket) group. Unlike ``sessionize``
    there is no bucket-boundary correction — the flags are final.

    All other input columns pass through; adds ``trip`` (1-based,
    assuming each user's first event is flagged 1).

    ``n_hint``: callers whose ``flagged`` is a DERIVED frame (joins,
    UDF stages) MUST pass the known row count — the adaptive probe
    would otherwise execute the subplan an extra time."""
    n = _probe_rows(flagged, n_hint)
    if n is not None and n <= small_cutoff:
        w1 = Window.partitionBy(user_col).orderBy(
            F.col(ts_us_col).asc(), F.col(id_col).asc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return flagged.withColumn(
            "trip", F.sum(flag_col).over(w1).cast("bigint")
        )
    bkt = F.floor(F.col(ts_us_col) / F.lit(int(bucket_us)))
    loc = flagged.withColumn("_bkt", bkt)
    w_local = Window.partitionBy(user_col, "_bkt").orderBy(
        F.col(ts_us_col).asc(), F.col(id_col).asc()
    )
    loc = loc.withColumn(
        "_lcum",
        F.sum(flag_col).over(
            w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    summ = loc.groupBy(user_col, "_bkt").agg(
        F.sum(flag_col).alias("_starts")
    )
    w_user = Window.partitionBy(user_col).orderBy(F.col("_bkt").asc())
    offsets = summ.select(
        user_col,
        "_bkt",
        F.coalesce(
            F.sum("_starts").over(
                w_user.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return (
        loc.join(offsets, [user_col, "_bkt"])
        .withColumn(
            "trip", (F.col("_off") + F.col("_lcum")).cast("bigint")
        )
        .drop("_bkt", "_lcum", "_off")
    )
