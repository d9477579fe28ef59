"""Structured-streaming ingest: pages stream -> derived points.

The reference is batch-only (SURVEY §2.9); BASELINE keeps ``warc_ts``
so incremental append = re-run over new snapshots. This module gives
the engine a native incremental path anyway: a parquet-directory
stream of pages is transformed with the SAME exact-arithmetic
derivations as the batch path (one code path, so batch/stream parity
is a test, not a hope) and appended to a points table. Downstream
index builds then checkpoint per cell (plans/checkpoint.py), so a new
micro-batch only rebuilds the cells it touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import cells as cellcodec
from ..core import geometry
from ..sources.pages import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def stream_points(pages: DataFrame, res: int) -> DataFrame:
    """Same derivations as the batch path (byte-identical text carried
    through; exact-arithmetic lon/lat; JVM-only expressions so the
    stream never blocks on Python)."""
    lon_e, lat_e = geometry.sql_lonlat_exprs("id")
    cell_e = cellcodec.sql_cell_expr(lon_e, lat_e, res)
    return pages.select(
        "id",
        "url",
        "warc_ts",
        "text",
        F.expr(lon_e).alias("lon"),
        F.expr(lat_e).alias("lat"),
        F.expr(cell_e).alias("cell"),
    )


def run_ingest(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint_path: str,
    res: int = 4,
) -> None:
    """One availableNow pass: drain whatever is in ``src_path`` into
    the points table exactly once (checkpointed offsets -> restarts
    resume mid-stream, mirroring the batch layer's snapshot resume)."""
    pages = read_pages_stream(spark, src_path)
    pts = stream_points(pages, res)
    q = (
        pts.writeStream.format("parquet")
        .option("path", dst_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def stream_dedup_pages(pages: DataFrame, watermark: str | None = None) -> DataFrame:
    """Streaming EXACT dedup: first occurrence of each distinct text
    survives — the incremental form of ``dedup.exact_dedup_keep``.
    Spark-first: the state store keyed on the 256-bit content hash IS
    the dedup set, via the built-in dropDuplicates operator (no custom
    state code for semantics a built-in covers). With ``watermark``
    (e.g. "2 hours"), duplicates are only suppressed within the
    watermark horizon and state is evicted — the bounded-state mode a
    10^12-row ingest needs; without it, state grows with the distinct
    count (exact global dedup, small corpora only)."""
    hashed = pages.withColumn("_h", F.sha2(F.col("text"), 256))
    if watermark is not None:
        return (
            hashed.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["_h"])
            .drop("_h")
        )
    return hashed.dropDuplicates(["_h"]).drop("_h")


def stream_sessionize(
    events: DataFrame,
    gap_us: int,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """CUSTOM stateful operator: streaming sessionization (gap rule) —
    the incremental form of ``operators.sessions.sessionize``. State
    per user is two integers (last event micros, session counter):
    O(#users) state, O(1) per event, every event emitted exactly once
    in its micro-batch.

    EXACTNESS CONTRACT: per-user event times must be nondecreasing
    ACROSS micro-batches (in-order logs — e.g. the availableNow drain
    of a time-partitioned directory). Within a batch, rows are sorted
    here. This is the same in-order contract a watermark-bounded
    session window enforces by dropping late rows; batch parity is
    pinned by test against the batch sessionizer."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events.select(
        F.col(id_col).alias("event_id"),
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
    )
    out_schema = "event_id bigint, user_id bigint, sess bigint"
    state_schema = "last_us bigint, sess bigint"

    def update_fn(key, pdfs, state):
        last_us, sess = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["_us", "event_id"], kind="stable")
            us = pdf["_us"].to_numpy(dtype=np.int64)
            prev = np.empty_like(us)
            prev[0] = last_us
            prev[1:] = us[:-1]
            ns = (us - prev) > gap_us
            if sess == 0:
                ns[0] = True  # first event ever for this user
            sess_ids = sess + np.cumsum(ns)
            sess = int(sess_ids[-1])
            last_us = int(us[-1])
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy(),
                    "user_id": pdf["user_id"].to_numpy(),
                    "sess": sess_ids,
                }
            )
        state.update((last_us, sess))

    return ev.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_cell_profile(pts: DataFrame) -> DataFrame:
    """CUSTOM stateful operator (applyInPandasWithState): running
    per-cell profile (count + lon/lat centroid) maintained across
    micro-batches — the incremental form of ``partition.cell_stats``'
    first pass. Genuinely order-dependent state (running sums), i.e.
    not expressible as a plain streaming aggregate with the same
    update-per-batch output, which is why it exercises the custom-
    state API instead of groupBy().agg(). Emits one updated row per
    touched cell per micro-batch (outputMode='update')."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "cell bigint, cnt bigint, lon_c double, lat_c double"
    state_schema = "cnt bigint, slon double, slat double"

    def update_fn(key, pdfs, state):
        cnt, slon, slat = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            slon += float(pdf["lon"].sum())
            slat += float(pdf["lat"].sum())
        state.update((cnt, slon, slat))
        yield pd.DataFrame(
            {
                "cell": [key[0]],
                "cnt": [cnt],
                "lon_c": [slon / cnt],
                "lat_c": [slat / cnt],
            }
        )

    return pts.groupBy("cell").applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_od_flows(
    events: DataFrame,
    res: int,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """CUSTOM stateful operator: streaming ORIGIN-DESTINATION
    transitions — the incremental form of queries.q_od_matrix's pair
    stage. State per user is two integers (last event micros, last
    event id): O(#users) state; each micro-batch resolves only its
    own consecutive pairs (the state supplies the cross-batch
    predecessor) and emits one (src_cell, dst_cell) row per cross-cell
    transition, exactly once. The flow MATRIX is then a plain
    downstream aggregate over this exactly-once stream (bounded at
    (4^res)^2 rows) — streaming emits transitions, not the matrix,
    so the operator composes with any window/watermark the consumer
    wants. Same in-order-logs contract as stream_sessionize; parity
    vs the batch pair stage is a pytest."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events.select(
        F.col(id_col).alias("event_id"),
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
    )
    out_schema = (
        "user_id bigint, event_id bigint, src_cell bigint, dst_cell bigint"
    )
    state_schema = "last_us bigint, last_eid bigint"

    def update_fn(key, pdfs, state):
        last_us, last_eid = state.get if state.exists else (0, -1)
        uid = int(key[0])
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["_us", "event_id"], kind="stable")
            eids = pdf["event_id"].to_numpy(dtype=np.int64)
            prev = np.empty_like(eids)
            prev[0] = last_eid
            prev[1:] = eids[:-1]
            last_eid = int(eids[-1])
            last_us = int(pdf["_us"].iloc[-1])
            valid = prev >= 0
            if not valid.any():
                continue
            cur, pre = eids[valid], prev[valid]
            lon1, lat1 = geometry.lonlat_from_id(pre)
            lon2, lat2 = geometry.lonlat_from_id(cur)
            src_c = cellcodec.cell_id(lon1, lat1, res)
            dst_c = cellcodec.cell_id(lon2, lat2, res)
            flow = src_c != dst_c
            if not flow.any():
                continue
            yield pd.DataFrame(
                {
                    "user_id": np.full(int(flow.sum()), uid, dtype=np.int64),
                    "event_id": cur[flow],
                    "src_cell": src_c[flow],
                    "dst_cell": dst_c[flow],
                }
            )
        state.update((last_us, last_eid))

    return ev.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_geofence(
    events: DataFrame,
    polys: list,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """CUSTOM stateful operator: streaming GEOFENCE transition
    detection — the incremental form of queries.q_geofence_transitions.
    State per user is two integers (last event micros, last event id):
    O(#users) state; each micro-batch tests only its own consecutive
    pairs (the state supplies the cross-batch predecessor), bbox-pruned
    even-odd against the fence set exactly like the batch kernel, so
    every transition is emitted exactly once. Same in-order-logs
    contract as stream_sessionize (per-user times nondecreasing across
    micro-batches); parity vs the batch operator is a pytest. ``polys``
    rides the closure — fences are a broadcast-sized dimension here;
    a fence TABLE streams through the cogrouped pip_join_table plan
    instead."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..core.polygons import point_in_polygon

    bundles = [
        (np.asarray(p, dtype=np.float64),
         (p[:, 0].min(), p[:, 0].max(), p[:, 1].min(), p[:, 1].max()))
        for p in polys
    ]

    ev = events.select(
        F.col(id_col).alias("event_id"),
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
    )
    out_schema = "user_id bigint, event_id bigint, poly_id bigint, entered bigint"
    state_schema = "last_us bigint, last_eid bigint"

    def update_fn(key, pdfs, state):
        last_us, last_eid = state.get if state.exists else (0, -1)
        uid = int(key[0])
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["_us", "event_id"], kind="stable")
            eids = pdf["event_id"].to_numpy(dtype=np.int64)
            prev = np.empty_like(eids)
            prev[0] = last_eid
            prev[1:] = eids[:-1]
            last_eid = int(eids[-1])
            last_us = int(pdf["_us"].iloc[-1])
            valid = prev >= 0
            if not valid.any():
                continue
            cur, pre = eids[valid], prev[valid]
            lon1, lat1 = geometry.lonlat_from_id(pre)
            lon2, lat2 = geometry.lonlat_from_id(cur)
            out = []
            for pid, (poly, (x0, x1, y0, y1)) in enumerate(bundles):
                cand = (
                    ((lon1 >= x0) & (lon1 <= x1) & (lat1 >= y0) & (lat1 <= y1))
                    | ((lon2 >= x0) & (lon2 <= x1) & (lat2 >= y0) & (lat2 <= y1))
                )
                if not cand.any():
                    continue
                was = point_in_polygon(lon1[cand], lat1[cand], poly)
                now = point_in_polygon(lon2[cand], lat2[cand], poly)
                flip = was != now
                if not flip.any():
                    continue
                out.append(
                    pd.DataFrame(
                        {
                            "user_id": np.full(int(flip.sum()), uid, dtype=np.int64),
                            "event_id": cur[cand][flip],
                            "poly_id": np.full(int(flip.sum()), pid, dtype=np.int64),
                            "entered": now[flip].astype(np.int64),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)
        state.update((last_us, last_eid))

    return ev.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cell_bursts(
    events: DataFrame,
    res: int,
    w_days: int = 7,
    k: int = 3,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """CUSTOM stateful operator: streaming SPATIOTEMPORAL BURST
    detection — the incremental form of queries.q_cell_bursts. State
    per cell is (current day, its running count, the W trailing daily
    counts): O(#cells x (W+2)) integers total, independent of event
    volume. Each micro-batch folds its events into the per-day counts
    (day groups processed ascending — the per-cell in-order-logs
    contract shared with stream_sessionize) and emits a (cell, day,
    n_events, prior) row whenever the integer cross-multiplied test
    cnt*W > K*prior currently fires. The test is MONOTONE in the
    running count with prior fixed (a day's trailing window is
    complete before its first event under the in-order contract), so
    in update mode the LAST emission per (cell, day) equals the batch
    row exactly, and every batch burst is emitted — batch parity is
    last-per-key, pinned by pytest. prior > 0 mirrors the batch
    window's NULL-when-empty filter (absent trailing days are zero
    events in both formulations)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    lon, lat = geometry.sql_lonlat_exprs(id_col)
    cell = cellcodec.sql_cell_expr(lon, lat, res)
    ev = events.select(
        F.col(id_col).alias("event_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
    ).withColumn("cell", F.expr(cell.replace(id_col, "event_id")))
    out_schema = "cell bigint, day bigint, n_events bigint, prior bigint"
    state_schema = "cur_day bigint, cur_cnt bigint, trail array<bigint>"

    def update_fn(key, pdfs, state):
        if state.exists:
            cur_day, cur_cnt, trail = state.get
            trail = list(trail)
        else:
            cur_day, cur_cnt, trail = -1, 0, [0] * w_days
        c = int(key[0])
        for pdf in pdfs:
            if pdf.empty:
                continue
            us = np.sort(pdf["_us"].to_numpy(dtype=np.int64))
            # op-order-mirrored day derivation: the batch op (and its
            # oracle) floor an IEEE double division, which can differ
            # from integer // within ~ulp of a day boundary
            days = np.floor(us.astype(np.float64) / 86_400_000_000.0).astype(
                np.int64
            )
            out = []
            for d in np.unique(days):  # ascending
                d = int(d)
                n_d = int((days == d).sum())
                if cur_day < 0:
                    cur_day, cur_cnt = d, 0
                elif d > cur_day:
                    shift = d - cur_day
                    joined = [cur_cnt] + trail  # counts for cur_day, -1, ...
                    trail = [
                        joined[j - shift] if j - shift >= 0 else 0
                        for j in range(1, w_days + 1)
                    ]
                    cur_day, cur_cnt = d, 0
                cur_cnt += n_d
                prior = sum(trail)
                if prior > 0 and cur_cnt * w_days > k * prior:
                    out.append((c, cur_day, cur_cnt, prior))
            if out:
                yield pd.DataFrame(
                    out, columns=["cell", "day", "n_events", "prior"]
                )
        state.update((cur_day, cur_cnt, trail))

    return ev.groupBy("cell").applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_asof(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "view",
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """CUSTOM stateful operator: STREAMING AS-OF JOIN — the
    incremental form of queries.q_events_asof (attribution: every
    click matched to the user's latest view at or before it). State
    per user is TWO integers (latest view's micros + event id); each
    micro-batch walks its events in (ts, views-before-clicks,
    event_id) order so a view at the click's exact timestamp matches,
    exactly mirroring the batch rule ``v.ts <= c.ts`` with
    (ts, event_id) DESC preference. Same in-order-logs contract as
    the other stateful operators; emits one row per click,
    exactly once — batch parity is a pytest. At 10^6 users this is
    16 bytes of state per user; the batch op's hot-key-bounded
    windows are unnecessary here because state replaces history."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events.select(
        F.col(id_col).alias("event_id"),
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(type_col).alias("_ty"),
    ).where(F.col(type_col).isin(left_type, right_type))
    out_schema = (
        "event_id bigint, user_id bigint, matched_id bigint, lag_us bigint"
    )
    state_schema = "v_us bigint, v_id bigint"

    def update_fn(key, pdfs, state):
        v_us, v_id = state.get if state.exists else (-1, -1)
        uid = int(key[0])
        for pdf in pdfs:
            if pdf.empty:
                continue
            # views sort before clicks at equal timestamps (<= rule)
            pdf = pdf.assign(_k=(pdf["_ty"] != "view").astype(np.int8))
            pdf = pdf.sort_values(["_us", "_k", "event_id"], kind="stable")
            out = []
            for eid, us, ty in zip(
                pdf["event_id"].to_numpy(dtype=np.int64),
                pdf["_us"].to_numpy(dtype=np.int64),
                pdf["_ty"],
            ):
                if ty == "view":
                    v_us, v_id = int(us), int(eid)
                else:
                    if v_id >= 0:
                        out.append((int(eid), uid, v_id, int(us) - v_us))
                    else:
                        out.append((int(eid), uid, -1, -1))
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["event_id", "user_id", "matched_id", "lag_us"],
                )
        state.update((v_us, v_id))

    return ev.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_travel(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """CUSTOM stateful operator: RUNNING PER-USER TRAVEL DISTANCE —
    the incremental form of queries.q_user_travel. State per user is
    three integers (last micros, last event id, metres so far); each
    micro-batch extends the trajectory with the op-order-mirrored
    integer-metre haversine over its consecutive pairs (the state
    supplies the cross-batch predecessor) and emits the user's
    updated (n_segs, total_m). Integer metres make the running sum
    order-free, so the final emission per user equals the batch
    aggregate exactly — parity is last-per-key, pinned by pytest.
    Same in-order-logs contract as the other stateful operators."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events.select(
        F.col(id_col).alias("event_id"),
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
    )
    out_schema = "user_id bigint, n_segs bigint, total_m bigint"
    state_schema = "last_us bigint, last_eid bigint, total_m bigint, n_segs bigint"

    def update_fn(key, pdfs, state):
        last_us, last_eid, total_m, n_segs = (
            state.get if state.exists else (0, -1, 0, 0)
        )
        uid = int(key[0])
        emitted = False
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["_us", "event_id"], kind="stable")
            eids = pdf["event_id"].to_numpy(dtype=np.int64)
            prev = np.empty_like(eids)
            prev[0] = last_eid
            prev[1:] = eids[:-1]
            last_eid = int(eids[-1])
            last_us = int(pdf["_us"].iloc[-1])
            valid = prev >= 0
            if valid.any():
                cur, pre = eids[valid], prev[valid]
                lon1, lat1 = geometry.lonlat_from_id(pre)
                lon2, lat2 = geometry.lonlat_from_id(cur)
                m = geometry.haversine_m_int(lon1, lat1, lon2, lat2)
                total_m += int(m.sum())
                n_segs += int(valid.sum())
            emitted = True
        if emitted:
            yield pd.DataFrame(
                {
                    "user_id": [uid],
                    "n_segs": [n_segs],
                    "total_m": [total_m],
                }
            )
        state.update((last_us, last_eid, total_m, n_segs))

    return ev.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
