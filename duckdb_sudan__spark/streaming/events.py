"""Structured Streaming over the `events` table.

The batch twins of these queries live in operators/analytic.py
(ev_tumbling / ev_sessionize) and are oracle-checked; the streaming
forms here share the same aggregation logic so batch == stream
semantics modulo watermark-dropped late rows.

Design: `readStream` file source over the events parquet (each
micro-batch is one file slice), event-time watermark for state
cleanup, tumbling window agg, and a session window via the built-in
`session_window` (gap-based) — at scale this is the
`applyInPandasWithState`-free path, state store size bounded by the
watermark horizon.
"""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from duckdb_sudan__spark.session import align_events_ts


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),  # raw nanos (Long) or TIMESTAMP(MICROS)
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based stream of events; ts converted to session-TZ
    timestamp by the batch loader's own session.align_events_ts,
    handling both on-disk generations (TIMESTAMP(NANOS)-as-long and
    TIMESTAMP(MICROS)/NTZ)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    staged = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    disk_type = (
        spark.read.parquet(staged[0]).schema["ts"].dataType
        if staged
        else T.TimestampNTZType()
    )
    return align_events_ts(
        spark.readStream.schema(_events_schema(disk_type))
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )


def tumbling_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour tumbling window counts + value sums with late-data
    watermark; state is evicted once the watermark passes a window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def time_bucket_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of the batch ts_time_bucket entry: 15-minute
    tumbling windows per event_type. F.window's bucket boundaries are
    epoch-aligned exactly like the batch floor(epoch/900)·900, and the
    value sum uses the same DECIMAL(27,6) accumulator, so a completed
    stream is row-identical to the batch operator (asserted in
    tests/test_sources_streaming.py). Watermark bounds state: closed
    buckets are evicted after 1 hour of event-time."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "15 minutes").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("bucket_start"), "event_type", "n", "sum_value")
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Gap-based session windows per user (the streaming form of
    ev_sessionize). session_window keeps state per open session only."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("user_id"),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def hll_rollup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming approximate-distinct rollup: hourly windows of
    approx_count_distinct(user_id) per event_type — the streaming face
    of the sketch tier (sketches.py): per-window HLL registers live in
    the state store (KBs per open window, bounded by the watermark
    horizon), never the distinct user set itself. HLL register updates
    are max-merges — order-insensitive — so the drained stream's
    estimates are IDENTICAL to a batch approx_count_distinct over the
    same windows (asserted in tests), even though micro-batch
    arrival order differs from the batch scan order."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "approx_users",
            "n_events",
        )
    )


def bitmap_distinct_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Hourly EXACT-distinct rollup via mergeable bitmaps — the exact
    complement of hll_rollup_stream with the same state posture: the
    streaming state per (window, type, bucket) is ONE int64 chunk mask
    (bucket = user_id div 63, bit = user_id mod 63), bit_or-merged
    across micro-batches by the engine's partial aggregation. State is
    bounded by the ACTIVE-KEY domain /63 per open window (not the
    event count), and masks from any shard/replay OR together
    idempotently — drained popcounts are IDENTICAL to a batch
    recompute regardless of arrival order (asserted in tests). The
    popcount presentation runs sink-side over the drained masks
    (agg_bitmap_distinct's batch idiom, olap18.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour").alias("win"),
            F.col("event_type"),
            # integer div (not double /63): exact over the whole
            # non-negative int64 key domain — matches the batch twin
            F.expr("user_id div 63").alias("bucket"),
        )
        .agg(
            # negative keys break the contract loudly, matching the
            # batch twin's guard (ADVICE r10): a negative shift amount
            # is undefined and floor-vs-truncating div diverges
            F.bit_or(
                F.expr(
                    "shiftleft(cast(1 as bigint), IF(user_id >= 0,"
                    " cast(user_id % 63 as int),"
                    " cast(raise_error('bitmap_distinct_stream: negative"
                    " user_id breaks the bitmap contract') as int)))"
                )
            ).alias("mask")
        )
        .select(F.col("win.start").alias("window_start"), "event_type", "bucket", "mask")
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: funnel detection via applyInPandasWithState
# ---------------------------------------------------------------------------

FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("view_ts", T.TimestampType()),
        T.StructField("click_ts", T.TimestampType()),
        T.StructField("purchase_ts", T.TimestampType()),
        T.StructField("funnel_micros", T.LongType()),
    ]
)
# (stage, view_us, click_us): 0=waiting-for-view … 3=completed/emitted
FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.IntegerType()),
        T.StructField("view_us", T.LongType()),
        T.StructField("click_us", T.LongType()),
    ]
)

_FUNNEL_STEPS = ("view", "click", "purchase")


def _funnel_fn(key, pdf_iter, state):
    """Per-user funnel state machine (first view → first later click →
    first later purchase, emit once). A group larger than one Arrow
    batch (> spark.sql.execution.arrow.maxRecordsPerBatch rows for one
    user in a micro-batch) arrives as MULTIPLE chunks with no global
    order, so all chunks are concatenated and sorted once by event
    time before the state machine runs — per-chunk sorting alone would
    let a later chunk's earlier 'view' be latched second, breaking the
    stream==batch equivalence. The GroupState carries the stage across
    micro-batches so a funnel can span batch boundaries."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    stage, view_us, click_us = state.get if state.exists else (0, 0, 0)
    out = []
    chunks = [c for c in pdf_iter if len(c)]
    if stage < 3 and chunks:
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values("ts", kind="stable")
        us = pdf["ts"].astype("int64") // 1000 if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns" else pdf["ts"].astype("int64")
        for t_us, etype in zip(us, pdf["event_type"]):
            if stage == 0 and etype == "view":
                view_us, stage = int(t_us), 1
            elif stage == 1 and etype == "click" and t_us > view_us:
                click_us, stage = int(t_us), 2
            elif stage == 2 and etype == "purchase" and t_us > click_us:
                out.append(
                    {
                        "user_id": key[0],
                        "view_ts": pd.Timestamp(view_us, unit="us"),
                        "click_ts": pd.Timestamp(click_us, unit="us"),
                        "purchase_ts": pd.Timestamp(int(t_us), unit="us"),
                        "funnel_micros": int(t_us) - view_us,
                    }
                )
                stage = 3
                break
    state.update((stage, view_us, click_us))
    if out:
        yield pd.DataFrame(out)


def funnel_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """First-completion funnel per user as a custom stateful streaming
    operator — the pattern (first click AFTER first view AFTER ...) is
    inexpressible with built-in windowed aggs, so this is the
    applyInPandasWithState tier: state is 3 scalars per in-flight user,
    Arrow-batched, partitioned by user_id across executors."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_fn,
            FUNNEL_OUT_SCHEMA,
            FUNNEL_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: per-key LAG (the CDC "delta vs previous
# row" stream) — inter-event gaps per (user, event_type)
# ---------------------------------------------------------------------------

GAPS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("gap_us", T.LongType()),
    ]
)
# last event's (micros, event_id) per key; presence = state.exists
GAPS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("last_eid", T.LongType()),
    ]
)


def _gaps_fn(key, pdf_iter, state):
    """Per-(user, type) running-lag state machine: each event emits its
    microsecond gap to the PREVIOUS event of the same key (first event
    emits nothing), with (ts, event_id) total order — the same
    deterministic tiebreak the batch ev_inter_event_gaps window uses.
    Chunks are concatenated and sorted once (the funnel's multi-chunk
    rule); the GroupState carries (last_us, last_eid) across
    micro-batches so a gap can span a batch boundary. This is the CDC
    delta shape: O(1) state per key, emit-per-event.

    Cross-batch ordering contract: within one micro-batch arrival
    order doesn't matter (sorted here), but equivalence with the
    batch ev_inter_event_gaps window additionally requires that a
    key's events arrive across micro-batches in (ts, event_id) order.
    An out-of-order-but-within-watermark arrival in a LATER batch
    cannot be slotted retroactively with O(1) state — the true
    predecessor is gone — so such events are DROPPED explicitly
    (no row emitted, state never moves backwards) rather than
    emitting a silently-negative gap (r9 advice)."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    # has_prev comes from state.exists, NOT a magic sentinel value —
    # epoch microseconds are legitimately negative before 1970, so a
    # "-1 means empty" test would silently drop pre-epoch gaps and
    # diverge from the batch twin (review r9).
    has_prev = state.exists
    last_us, last_eid = state.get if has_prev else (0, 0)
    chunks = [c for c in pdf_iter if len(c)]
    if not chunks:
        if has_prev:
            state.update((int(last_us), int(last_eid)))
        return
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    us = (
        pdf["ts"].astype("int64") // 1000
        if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns"
        else pdf["ts"].astype("int64")
    )
    pdf = pdf.assign(_us=us).sort_values(["_us", "event_id"], kind="stable")
    out = []
    for t_us, eid in zip(pdf["_us"], pdf["event_id"]):
        if has_prev and (int(t_us), int(eid)) <= (int(last_us), int(last_eid)):
            # late OR re-delivered cross-batch arrival: <= also drops
            # an at-least-once replay of the exact last event, which
            # would otherwise emit a spurious gap_us=0 duplicate
            # (r10 review) — see docstring contract
            continue
        if has_prev:
            out.append(
                {
                    "user_id": key[0],
                    "event_type": key[1],
                    "event_id": int(eid),
                    "ts": pd.Timestamp(int(t_us), unit="us"),
                    "gap_us": int(t_us) - int(last_us),
                }
            )
        last_us, last_eid, has_prev = int(t_us), int(eid), True
    state.update((int(last_us), int(last_eid)))
    if out:
        yield pd.DataFrame(out)


def event_gaps_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Inter-event gaps as a custom stateful streaming operator —
    built-in streaming has no lag() (windowed aggs only), so the
    per-key previous-row state is the applyInPandasWithState tier:
    2 scalars per (user, type) key, Arrow-batched, partitioned across
    executors. The streaming twin of ev_inter_event_gaps' window.
    Batch-equivalence assumes in-(ts, event_id)-order arrival per key
    across micro-batches; late cross-batch arrivals are dropped, never
    emitted as negative gaps — see _gaps_fn's contract."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            _gaps_fn,
            GAPS_OUT_SCHEMA,
            GAPS_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: per-user first-seen classification (the
# "new vs returning" stream) — each (user, day) appearance classified
# against the user's running first-ever day
# ---------------------------------------------------------------------------

NEWRET_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("day", T.TimestampType()),
        T.StructField("is_new", T.BooleanType()),
    ]
)
# (first_us, last_emitted_us): first-ever day + high-water mark of
# emitted days; presence = state.exists (the _gaps_fn sentinel rule)
NEWRET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)

_DAY_US = 86_400_000_000


def _new_ret_fn(key, pdf_iter, state):
    """Per-user (user, day) classifier: the first-ever active day emits
    is_new=true, every later distinct day is_new=false. O(1) state per
    user (two day scalars) — the unbounded-key-domain complement of
    the funnel's per-user scalars. Same cross-batch ordering contract
    as _gaps_fn: within a batch days dedup+sort locally; across
    batches days must arrive non-decreasing, and a later batch
    carrying a day at-or-before the emitted high-water mark is DROPPED
    (already-emitted classifications can't be retracted in append
    mode). Floor-to-day uses Python floor division so pre-epoch
    timestamps land on the correct day boundary."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    has = state.exists
    first_us, last_us = state.get if has else (0, 0)
    chunks = [c for c in pdf_iter if len(c)]
    if not chunks:
        if has:
            state.update((int(first_us), int(last_us)))
        return
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    us = (
        pdf["ts"].astype("int64") // 1000
        if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns"
        else pdf["ts"].astype("int64")
    )
    days = sorted({(int(u) // _DAY_US) * _DAY_US for u in us})
    out = []
    for d in days:
        if has and d <= last_us:
            continue  # duplicate or late cross-batch day: drop
        if not has:
            first_us, has = d, True
            out.append({"user_id": key[0], "day": pd.Timestamp(d, unit="us"), "is_new": True})
        else:
            out.append({"user_id": key[0], "day": pd.Timestamp(d, unit="us"), "is_new": False})
        last_us = d
    state.update((int(first_us), int(last_us)))
    if out:
        yield pd.DataFrame(out)


def new_vs_returning_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ev_new_vs_returning's streaming twin: per-user first-seen state
    (applyInPandasWithState, 2 scalars per user) classifies each
    distinct active day as new/returning as it happens — the live
    growth-dashboard feed. The drained per-(user, day) rows aggregate
    exactly to the batch entry's daily counts (asserted in
    tests/test_sources_streaming.py). Batch-equivalence assumes
    per-user non-decreasing day arrival across micro-batches; late
    days are dropped, never re-classified — see _new_ret_fn."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _new_ret_fn,
            NEWRET_OUT_SCHEMA,
            NEWRET_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


ATTRIBUTION_LAG_MIN = 10


def attribution_join_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stream-stream interval self-join: every click pairs with the
    views by the same user in the preceding ATTRIBUTION_LAG_MIN minutes
    (ad-attribution shape). Both sides carry watermarks and the join
    condition bounds event-time distance, so Spark's state store
    retains each side only for watermark + interval — bounded state on
    an unbounded 100 TB stream, the core stream-stream join guarantee."""
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    return (
        clicks.join(
            views,
            F.expr(
                f"v_user = c_user AND v_ts <= c_ts "
                f"AND v_ts > c_ts - INTERVAL {ATTRIBUTION_LAG_MIN} MINUTES"
            ),
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "view_id",
            (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("lag_micros"),
        )
    )


def attribution_outer_join_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """LEFT-OUTER stream-stream interval join — the production
    attribution shape: every view either pairs with the same user's
    clicks in the following ATTRIBUTION_LAG_MIN minutes, or is emitted
    UNMATCHED (NULL click) once the watermark proves no click can still
    arrive. Harder state-expiry semantics than the inner
    attribution_join_stream: the engine must hold each view until
    global watermark > v_ts + interval, then emit the null row exactly
    once — the state-expiry contract a funnel-drop-off dashboard relies
    on. State on both sides stays watermark + interval bounded."""
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    return (
        views.join(
            clicks,
            F.expr(
                f"c_user = v_user AND c_ts >= v_ts "
                f"AND c_ts < v_ts + INTERVAL {ATTRIBUTION_LAG_MIN} MINUTES"
            ),
            "leftOuter",
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "click_id",
            (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("lag_micros"),
            F.col("click_id").isNotNull().alias("matched"),
        )
        # sentinel rows (user -1, _write_attribution_sentinels) exist to
        # push the final watermark; excluding them HERE makes their
        # absence a construction guarantee rather than a watermark/
        # trailing-batch timing fact (ADVICE r6: the view sentinel sits
        # below the final watermark, so its non-emission relied on
        # availableNow not running a no-data eviction batch — true in
        # this Spark build, version-fragile). The predicate is
        # deliberately `matched OR user_id >= 0` — referencing BOTH
        # join sides — because a bare `user_id >= 0` is pushed below
        # the join into the view input, which removes the sentinel
        # VIEW from the stream and stalls the watermark it exists to
        # advance (measured: the last batch's unmatched views then
        # stay in state forever). Real rows always have user_id >= 0,
        # and a sentinel can never match, so the semantics are exactly
        # "drop sentinel rows".
        .where(F.col("matched") | (F.col("user_id") >= 0))
    )


def _write_attribution_sentinels(spark: SparkSession, src_dir: str) -> None:
    """Append one far-future view and one even-farther click (user -1)
    as a SECOND parquet file, so the availableNow drain gets a later
    micro-batch whose watermark passes every real view's no-match
    horizon — without it, append-mode outer-join nulls for the final
    batch would stay in state when the file stream ends (watermarks
    only advance on data). The sentinels themselves can never match
    real rows (nonexistent user, out-of-window timestamps), and the
    outer-join output filters user_id >= 0 so their absence from the
    result is guaranteed by construction (not by watermark/batch
    timing — the view sentinel at max+100h is BELOW the final ~max+199h
    watermark); tests assert the absence."""
    files = sorted(glob.glob(os.path.join(src_dir, "*.parquet")))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    orig = spark.read.parquet(files[0])
    ts_type = orig.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # raw nanos

        def shifted(hours: int):
            return (F.col("max_ts") + F.lit(hours * 3600 * 10**9)).alias("ts")
    else:

        def shifted(hours: int):
            return (F.col("max_ts") + F.expr(f"INTERVAL {hours} HOURS")).alias("ts")

    base = orig.agg(F.max("ts").alias("max_ts"))
    parts = [
        base.select(
            F.lit(eid).cast("long").alias("event_id"),
            shifted(hours),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit(etype).alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        for eid, etype, hours in ((-1, "view", 100), (-2, "click", 200))
    ]
    sent = parts[0].unionByName(parts[1]).select([f.name for f in orig.schema.fields])
    sent.coalesce(1).write.mode("append").parquet(src_dir)


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop repeated event_ids inside the
    watermark horizon (`dropDuplicatesWithinWatermark`) — state holds
    one key per event inside the horizon instead of forever, the
    standard at-least-once → effectively-once repair for 100 TB
    streams."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


# ---------------------------------------------------------------------------
# Funnel, tier 2: transformWithStateInPandas (Spark 4 stateful API).
# Same state machine as _funnel_fn; the newer API brings typed state
# handles, timers, and TTL, and requires the RocksDB state store —
# the production choice at 100 TB (state spills to local SSD instead
# of executor heap, with incremental checkpoints).
# ---------------------------------------------------------------------------


def _make_funnel_processor():
    """Built lazily: pyspark.sql.streaming.stateful_processor imports
    only when the tier is requested, keeping older runtimes importable."""
    import pandas as pd  # noqa: PLC0415 — runs on executors
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor, StatefulProcessorHandle

    class FunnelProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("funnel", FUNNEL_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            stage, view_us, click_us = self._state.get() if self._state.exists() else (0, 0, 0)
            out = []
            chunks = [c for c in rows if len(c)]
            if stage < 3 and chunks:
                pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
                pdf = pdf.sort_values("ts", kind="stable")
                us = (
                    pdf["ts"].astype("int64") // 1000
                    if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns"
                    else pdf["ts"].astype("int64")
                )
                for t_us, etype in zip(us, pdf["event_type"]):
                    if stage == 0 and etype == "view":
                        view_us, stage = int(t_us), 1
                    elif stage == 1 and etype == "click" and t_us > view_us:
                        click_us, stage = int(t_us), 2
                    elif stage == 2 and etype == "purchase" and t_us > click_us:
                        out.append(
                            {
                                "user_id": key[0],
                                "view_ts": pd.Timestamp(view_us, unit="us"),
                                "click_ts": pd.Timestamp(click_us, unit="us"),
                                "purchase_ts": pd.Timestamp(int(t_us), unit="us"),
                                "funnel_micros": int(t_us) - view_us,
                            }
                        )
                        stage = 3
                        break
            self._state.update((stage, view_us, click_us))
            if out:
                yield pd.DataFrame(out)

        def close(self) -> None:
            pass

    return FunnelProcessor()


def funnel_tws_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """transformWithStateInPandas funnel — result-identical to
    funnel_stream (asserted in tests); the operator tier differs:
    RocksDB-backed typed state instead of the legacy GroupState."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_make_funnel_processor(),
            outputStructType=FUNNEL_OUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator #2: gap-based sessionization via
# transformWithStateInPandas — exercises the typed-state tier on a
# DIFFERENT state shape than the funnel (an open-session accumulator
# that both emits and carries across batches). Emission contract:
# a session is emitted when the event that CLOSES it (same user,
# gap exceeded) is observed in-stream; each user's final open session
# stays in state — in production the event-time timer flushes it when
# the watermark passes session_end + gap, but a bounded replay's
# watermark never passes the tail, so the batch-equivalence test
# compares against batch sessions that HAVE a successor (the exact
# same contract, spelled in tests/test_sources_streaming.py).
# ---------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000

SESSION_TWS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        # Σ round(value·1e6) per event — an integer accumulator, so the
        # sum is identical in ANY accumulation order (a raw double sum
        # would differ from the batch plan's at the last ulp)
        T.StructField("value_micros", T.LongType()),
    ]
)

SESSION_TWS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_micros", T.LongType()),
    ]
)


def _make_session_processor():
    """Lazy import, same pattern as _make_funnel_processor."""
    import pandas as pd  # noqa: PLC0415 — runs on executors
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor, StatefulProcessorHandle

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("open_session", SESSION_TWS_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            open_s = self._state.get() if self._state.exists() else None
            chunks = [c for c in rows if len(c)]
            if not chunks:
                if open_s is not None:
                    self._state.update(tuple(open_s))
                return
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            # (ts, event_id) = the batch plan's total order, so gap
            # decisions are identical event-for-event
            pdf = pdf.sort_values(["ts", "event_id"], kind="stable")
            us = (
                pdf["ts"].astype("int64") // 1000
                if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns"
                else pdf["ts"].astype("int64")
            )
            vmic = pdf["value"].to_numpy() * 1e6
            out = []
            for t_us, vm in zip(us, vmic.round().astype("int64")):
                t_us = int(t_us)
                if open_s is None:
                    open_s = [t_us, t_us, 1, int(vm)]
                elif t_us - open_s[1] > SESSION_GAP_US:  # gap exceeded → close
                    out.append(
                        {
                            "user_id": key[0],
                            "session_start": pd.Timestamp(open_s[0], unit="us"),
                            "session_end": pd.Timestamp(open_s[1], unit="us"),
                            "n_events": open_s[2],
                            "value_micros": open_s[3],
                        }
                    )
                    open_s = [t_us, t_us, 1, int(vm)]
                else:
                    open_s[1] = t_us
                    open_s[2] += 1
                    open_s[3] += int(vm)
            self._state.update(tuple(open_s))
            if out:
                yield pd.DataFrame(out)

        def close(self) -> None:
            pass

    return SessionProcessor()


def sessionize_tws_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """transformWithStateInPandas sessionizer — the typed-state twin of
    session_window sessionization, with the emit-on-close contract
    documented above."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_make_session_processor(),
            outputStructType=SESSION_TWS_OUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator #3: the ATTRIBUTION-WINDOW funnel — the
# streaming twin of batch ev_funnel_windowed (every step within
# FUNNEL_WINDOW_US of the anchoring first view). Unlike the unbounded
# funnel, this one's state is watermark-expirable in production (a
# user whose window passed can never convert — exactly what the batch
# docstring means by "the bounded-state property").
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_US = 72 * 3600 * 1_000_000  # keep ≡ timeseries.FUNNEL_WINDOW_HOURS


def _funnel_windowed_fn(key, pdf_iter, state):
    """Same state machine as _funnel_fn with the window constraint on
    the click and purchase transitions. The anchor view is FIRST view
    only — a dead window does not re-anchor, matching the batch
    MIN(view) semantics."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    stage, view_us, click_us = state.get if state.exists else (0, 0, 0)
    out = []
    chunks = [c for c in pdf_iter if len(c)]
    if stage < 3 and chunks:
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values("ts", kind="stable")
        us = (
            pdf["ts"].astype("int64") // 1000
            if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns"
            else pdf["ts"].astype("int64")
        )
        for t_us, etype in zip(us, pdf["event_type"]):
            t_us = int(t_us)
            if stage == 0 and etype == "view":
                view_us, stage = t_us, 1
            elif (
                stage == 1 and etype == "click"
                and view_us < t_us <= view_us + FUNNEL_WINDOW_US
            ):
                click_us, stage = t_us, 2
            elif (
                stage == 2 and etype == "purchase"
                and t_us > click_us and t_us <= view_us + FUNNEL_WINDOW_US
            ):
                out.append(
                    {
                        "user_id": key[0],
                        "view_ts": pd.Timestamp(view_us, unit="us"),
                        "click_ts": pd.Timestamp(click_us, unit="us"),
                        "purchase_ts": pd.Timestamp(t_us, unit="us"),
                        "funnel_micros": t_us - view_us,
                    }
                )
                stage = 3
                break
    state.update((stage, view_us, click_us))
    if out:
        yield pd.DataFrame(out)


def funnel_windowed_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_windowed_fn,
            FUNNEL_OUT_SCHEMA,
            FUNNEL_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming SCD2 build: per-user current-version state, emit-on-close.
# The streaming twin of operators/olap9.py ev_scd2_intervals — the
# production "dimension maintenance from a CDC/event stream" pattern.
# ---------------------------------------------------------------------------

SCD2_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
    ]
)
# (cur_type, valid_from_us); cur_type '' = no version open yet
SCD2_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_type", T.StringType()),
        T.StructField("valid_from_us", T.LongType()),
    ]
)


def _scd2_fn(key, pdf_iter, state):
    """Per-user SCD2 state machine: hold the OPEN version (type, start)
    across micro-batches; every observed type change CLOSES the open
    version (emit user, status, valid_from, valid_to=change ts) and
    opens the new one. Emit-on-close contract (the open version is
    state, not output — same convention as the tws gap-sessionizer),
    which makes a drained stream equal the batch builder's CLOSED rows
    exactly. Chunks are concatenated and sorted by (ts, event_id) once
    — the same total order as the batch window."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    cur_type, valid_from_us = state.get if state.exists else ("", 0)
    out = []
    chunks = [c for c in pdf_iter if len(c)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(["ts", "event_id"], kind="stable")
        us = pdf["ts"].astype("int64") // 1000 if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns" else pdf["ts"].astype("int64")
        for t_us, etype in zip(us, pdf["event_type"]):
            if cur_type == "":
                cur_type, valid_from_us = str(etype), int(t_us)
            elif etype != cur_type:
                out.append(
                    {
                        "user_id": key[0],
                        "status": cur_type,
                        "valid_from": pd.Timestamp(valid_from_us, unit="us"),
                        "valid_to": pd.Timestamp(int(t_us), unit="us"),
                    }
                )
                cur_type, valid_from_us = str(etype), int(t_us)
    state.update((cur_type, valid_from_us))
    if out:
        yield pd.DataFrame(out)


def scd2_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """SCD2 dimension maintenance as a custom stateful operator: state
    is 2 scalars per user (the open version), partitioned by user_id
    across executors — the CDC-to-dimension pattern at 100 TB. Only
    the user_id % 31 cohort flows through (the batch twin's slice)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.where(F.col("user_id") % 31 == 0)
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _scd2_fn,
            SCD2_OUT_SCHEMA,
            SCD2_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: per-user lifetime tracking (the hazard
# curve's streaming feed) — each micro-batch updates (first, last) day
# state and emits the user's CURRENT lifetime in days
# ---------------------------------------------------------------------------

LIFETIME_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("t_days", T.LongType()),
    ]
)
# (first_us, last_us) of the user's observed day range
LIFETIME_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def _lifetime_fn(key, pdf_iter, state):
    """Update-mode lifetime tracker: O(1) state per user (two day
    scalars). Emits one (user, t_days) row per micro-batch in which
    the user's observed [first, last] day range CHANGED — lifetimes
    only grow, so the sink-side max(t_days) per user is the final
    lifetime regardless of batch interleaving (unlike the append-mode
    operators there is NO cross-batch ordering contract at all:
    min/max are order-free)."""
    import pandas as pd

    lo = hi = None
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        # pandas datetime64 int64 view is NANOseconds — floor to the
        # day grid in µs (the state schema's unit, like _new_ret_fn)
        us = (pdf["ts"].astype("int64") // 1000 // _DAY_US) * _DAY_US
        b_lo, b_hi = int(us.min()), int(us.max())
        lo = b_lo if lo is None or b_lo < lo else lo
        hi = b_hi if hi is None or b_hi > hi else hi
    if lo is None:
        return
    if state.exists:
        (s_lo, s_hi) = state.get
        lo = min(lo, s_lo)
        hi = max(hi, s_hi)
        changed = (lo, hi) != (s_lo, s_hi)
    else:
        changed = True
    state.update((lo, hi))
    if changed:
        yield pd.DataFrame(
            {"user_id": [key[0]], "t_days": [(hi - lo) // _DAY_US]}
        )


def lifetime_stream(events: DataFrame) -> DataFrame:
    """ev_hazard_curve's streaming feed: per-user lifetime state
    maintained by the engine (applyInPandasWithState, update mode);
    the hazard table is a sink-side rollup over max(t_days) per user
    (drained ≡ the batch entry, asserted in tests). Deliberately NO
    watermark (r11 review): a watermark would drop late rows before
    the state update and silently lose a user's true first-seen day —
    with order-free min/max state and NoTimeout, arbitrarily late
    arrivals are correct, and state stays 2 scalars per user either
    way (a watermark would not shrink it)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _lifetime_fn,
            LIFETIME_OUT_SCHEMA,
            LIFETIME_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: weekly growth accounting (new / retained /
# resurrected) via applyInPandasWithState
# ---------------------------------------------------------------------------

GROWTH_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("week", T.TimestampType()),
        T.StructField("status", T.StringType()),
    ]
)
# (prev_week_us,): the user's last classified active week (Monday 00:00
# in epoch µs); presence = state.exists (the _gaps_fn sentinel rule)
GROWTH_STATE_SCHEMA = T.StructType([T.StructField("prev_week_us", T.LongType())])

_WEEK_US = 7 * _DAY_US


def _monday_floor_us(us: int) -> int:
    """Monday-00:00 floor in epoch µs (1970-01-01 is a Thursday —
    Monday-index 3 — so day − ((day+3) mod 7) is the week's Monday;
    Python floor division keeps pre-epoch stamps on the right week,
    matching date_trunc('week') on both engines)."""
    day = us // _DAY_US
    return (day - ((day + 3) % 7)) * _DAY_US


def _growth_fn(key, pdf_iter, state):
    """Per-user weekly growth classifier: first-ever active week emits
    'new', a week exactly 7 days after the previous active week emits
    'retained', a later gap emits 'resurrected'. O(1) state per user
    (one week scalar). Same cross-batch ordering contract as
    _new_ret_fn: weeks dedup+sort within the batch; across batches a
    week at-or-before the emitted high-water mark is DROPPED (append
    mode can't retract a classification)."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    has = state.exists
    (prev_us,) = state.get if has else (0,)
    chunks = [c for c in pdf_iter if len(c)]
    if not chunks:
        if has:
            state.update((int(prev_us),))
        return
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    us = (
        pdf["ts"].astype("int64") // 1000
        if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns"
        else pdf["ts"].astype("int64")
    )
    weeks = sorted({_monday_floor_us(int(u)) for u in us})
    out = []
    for w in weeks:
        if has and w <= prev_us:
            continue  # duplicate or late cross-batch week: drop
        if not has:
            status, has = "new", True
        elif w == prev_us + _WEEK_US:
            status = "retained"
        else:
            status = "resurrected"
        out.append({"user_id": key[0], "week": pd.Timestamp(w, unit="us"), "status": status})
        prev_us = w
    state.update((int(prev_us),))
    if out:
        yield pd.DataFrame(out)


def growth_accounting_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ev_growth_accounting's streaming twin: the per-(user, week)
    new/retained/resurrected feed as it happens (the live growth
    dashboard). Drained rows aggregate EXACTLY to the batch entry's
    weekly state counts — churned and the quick ratio are sink-side
    presentation over those counts, identical expressions in both
    (asserted in tests/test_sources_streaming.py). Batch-equivalence
    assumes per-user non-decreasing week arrival across micro-batches;
    late weeks are dropped, never re-classified — see _growth_fn."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _growth_fn,
            GROWTH_OUT_SCHEMA,
            GROWTH_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: weekly activity streak tracker (r13 —
# ev_weekly_active_streaks' incremental-maintenance twin)
# ---------------------------------------------------------------------------

STREAKS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("wk", T.LongType()),
        T.StructField("run_len", T.LongType()),
        T.StructField("late_drops", T.LongType()),
    ]
)
# (prev_wk, run_len, late_drops): the user's last classified epoch-week,
# the length of the streak ENDING at it, and the cumulative count of
# dropped at-or-before-high-water weeks (ADVICE r13: the drop was
# silent — on a source that is not per-user week-ordered the streaming
# histogram diverged from the batch twin with no observable signal);
# presence = state.exists
STREAKS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("prev_wk", T.LongType()),
        T.StructField("run_len", T.LongType()),
        T.StructField("late_drops", T.LongType()),
    ]
)


def _weekly_streak_fn(key, pdf_iter, state):
    """Per-user streak tracker: each newly-processed distinct
    epoch-week (day-index div 7 — the BATCH entry's week definition,
    deliberately NOT the Monday floor _growth_fn uses) emits the
    length of the consecutive-week run ENDING at that week: prev+1
    extends (run+1), a gap resets to 1. O(1) state per user (three
    int64s). Same cross-batch ordering contract as _new_ret_fn /
    _growth_fn: weeks dedup+sort within the batch; across batches a
    week at-or-before the high-water mark is DROPPED (append mode
    can't retract an emitted run length) — but COUNTED, not silent
    (ADVICE r13): every emitted row carries the user's cumulative
    late_drops, so a production source that is not per-user
    week-ordered shows its divergence from the batch twin in-band;
    the equivalence test asserts the counter is zero on the ordered
    corpus. max(run_len) per user over the drained rows IS the batch
    entry's longest_weeks — asserted in
    tests/test_sources_streaming.py."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    has = state.exists
    prev_wk, run_len, late = state.get if has else (0, 0, 0)
    chunks = [c for c in pdf_iter if len(c)]
    if not chunks:
        if has:
            state.update((int(prev_wk), int(run_len), int(late)))
        return
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    us = (
        pdf["ts"].astype("int64") // 1000
        if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns"
        else pdf["ts"].astype("int64")
    )
    weeks = sorted({(int(u) // _DAY_US) // 7 for u in us})
    out = []
    for w in weeks:
        if has and w <= prev_wk:
            # the within-batch set is deduped, so w < prev_wk is a true
            # out-of-order arrival (counted); w == prev_wk is a benign
            # cross-batch redelivery of the high-water week (not)
            if w < prev_wk:
                late += 1
            continue
        run_len = run_len + 1 if (has and w == prev_wk + 1) else 1
        has = True
        out.append(
            {"user_id": key[0], "wk": w, "run_len": int(run_len), "late_drops": int(late)}
        )
        prev_wk = w
    state.update((int(prev_wk), int(run_len), int(late)))
    if out:
        yield pd.DataFrame(out)


def _make_weekly_streak_processor():
    """Lazy import, same pattern as _make_funnel_processor. The state
    machine is _weekly_streak_fn's, verbatim — including the ADVICE-r13
    late_drops counter — on RocksDB typed state (three int64s/user):
    the Spark-4 production tier for the engagement-streak feed
    (VERDICT r13 item 6: keeps the TWS tier at parity with the
    applyInPandasWithState tier)."""
    import pandas as pd  # noqa: PLC0415 — runs on executors
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor, StatefulProcessorHandle

    class WeeklyStreakProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("streak", STREAKS_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            has = self._state.exists()
            prev_wk, run_len, late = self._state.get() if has else (0, 0, 0)
            chunks = [c for c in rows if len(c)]
            if not chunks:
                if has:
                    self._state.update((int(prev_wk), int(run_len), int(late)))
                return
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            us = (
                pdf["ts"].astype("int64") // 1000
                if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns"
                else pdf["ts"].astype("int64")
            )
            weeks = sorted({(int(u) // _DAY_US) // 7 for u in us})
            out = []
            for w in weeks:
                if has and w <= prev_wk:
                    if w < prev_wk:  # == is a benign redelivery (uncounted)
                        late += 1
                    continue
                run_len = run_len + 1 if (has and w == prev_wk + 1) else 1
                has = True
                out.append(
                    {"user_id": key[0], "wk": w, "run_len": int(run_len),
                     "late_drops": int(late)}
                )
                prev_wk = w
            self._state.update((int(prev_wk), int(run_len), int(late)))
            if out:
                yield pd.DataFrame(out)

        def close(self) -> None:
            pass

    return WeeklyStreakProcessor()


def weekly_streaks_tws_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """transformWithStateInPandas weekly-streak tracker — result-
    identical to weekly_streaks_stream (asserted in tests); the
    operator tier differs: RocksDB-backed typed state instead of the
    legacy GroupState, the Spark-4 direction for custom stateful
    operators."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_make_weekly_streak_processor(),
            outputStructType=STREAKS_OUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    )


def weekly_streaks_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ev_weekly_active_streaks' streaming twin: the per-(user, week)
    current-streak feed as it happens (the live engagement-streak
    badge a product surface shows). Drained rows reduce to the batch
    histogram by max(run_len) per user — asserted exactly in
    tests/test_sources_streaming.py. Batch-equivalence assumes
    per-user non-decreasing week arrival across micro-batches; late
    weeks are dropped, never re-classified, and surfaced via the
    cumulative late_drops column — see _weekly_streak_fn."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _weekly_streak_fn,
            STREAKS_OUT_SCHEMA,
            STREAKS_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: interval-union sweep (merged activity
# islands) via applyInPandasWithState
# ---------------------------------------------------------------------------

IVU_WINDOW_US = 10 * 60 * 1_000_000  # must equal olap30.COVER_WINDOW_US (tested)

IVU_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("island_start", T.TimestampType()),
        T.StructField("island_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)
# (start_us, end_us, n): the OPEN island; presence = state.exists
IVU_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _interval_union_fn(key, pdf_iter, state):
    """Per-user merge-intervals sweep: each event opens [ts, ts+W);
    an event beyond the open island's end CLOSES it (emitted) and
    opens a new one; an overlapping event extends it. Only CLOSED
    islands are emitted (append mode can't retract) — each user's
    final island stays in state at drain end, which the equivalence
    test accounts for. Cross-batch contract: within a batch events
    sort locally; a cross-batch event at-or-before the open island's
    START is late and dropped (an overlap-extension from a later
    batch is still correct because it only moves end_us forward)."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    has = state.exists
    start_us, end_us, n = state.get if has else (0, 0, 0)
    chunks = [c for c in pdf_iter if len(c)]
    if not chunks:
        if has:
            state.update((int(start_us), int(end_us), int(n)))
        return
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    us_col = (
        pdf["ts"].astype("int64") // 1000
        if pdf["ts"].dtype.kind == "M" and pdf["ts"].dt.unit == "ns"
        else pdf["ts"].astype("int64")
    )
    out = []
    for u in sorted(int(x) for x in us_col):
        s, e = u, u + IVU_WINDOW_US
        if not has:
            start_us, end_us, n, has = s, e, 1, True
        elif s > end_us:
            out.append(
                {"user_id": key[0],
                 "island_start": pd.Timestamp(start_us, unit="us"),
                 "island_end": pd.Timestamp(end_us, unit="us"),
                 "n_events": n}
            )
            start_us, end_us, n = s, e, 1
        elif s <= start_us and u != start_us:
            continue  # late cross-batch arrival before the open island
        else:
            end_us = max(end_us, e)
            n += 1
    state.update((int(start_us), int(end_us), int(n)))
    if out:
        yield pd.DataFrame(out)


def interval_union_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ev_interval_union_coverage's streaming twin: merged activity
    islands close and emit AS the stream advances (the live uptime /
    billed-time feed). O(1) state per user (one open island). Drained
    closed islands equal the batch islands minus each user's final
    (still-open) island; asserted in tests/test_sources_streaming.py."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _interval_union_fn,
            IVU_OUT_SCHEMA,
            IVU_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: incremental market-basket co-occurrence
# ---------------------------------------------------------------------------
# The streaming twin of q_market_basket_pairs: a live ingest keeps the
# brand-affinity matrix fresh WITHOUT rescanning history. State is the
# per-order brand SET; when a micro-batch adds new brands to an order,
# exactly the NEW pairs (new x existing + new x new, i<j) are emitted —
# so every distinct (order, pair) is emitted exactly once across the
# whole stream and the summed deltas equal the batch n_ab. The total
# emission is arrival-order-INSENSITIVE (the i<j pairs of the final
# set do not depend on which batch contributed which brand), which is
# what makes the drained≡batch equivalence exact.

BASKET_OUT_SCHEMA = T.StructType(
    [
        T.StructField("brand_a", T.StringType()),
        T.StructField("brand_b", T.StringType()),
    ]
)
# the order's brand set as a typed array — no delimiter assumption on
# the key domain (r12 review: a comma-joined string silently splits a
# key containing ',' into phantom brands on any non-TPC-H reuse)
BASKET_STATE_SCHEMA = T.StructType(
    [T.StructField("brands", T.ArrayType(T.StringType()))]
)


def _basket_fn(key, pdf_iter, state):
    """Per-order pair-delta emitter. No sort needed: the emitted TOTAL
    is the i<j pair set of the final brand set, independent of arrival
    order within or across chunks/batches."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    seen = set(state.get[0] or []) if state.exists else set()
    out = []
    for pdf in pdf_iter:
        for b in pdf["b"]:
            if b in seen:
                continue
            for e in seen:
                a, c = (b, e) if b < e else (e, b)
                out.append({"brand_a": a, "brand_b": c})
            seen.add(b)
    state.update((sorted(seen),))
    if out:
        yield pd.DataFrame(out)


def basket_pairs_stream(order_brands: DataFrame) -> DataFrame:
    """order_brands: a streaming (ok, b) relation. State is one string
    per OPEN order — bounded per key by |brands|, but unbounded in
    keys under NoTimeout; a production deployment evicts on an
    order-closed signal (processing-time timeout or a closure event).
    The availableNow drain over a bounded corpus is the demonstration
    regime the equivalence test pins."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return order_brands.groupBy("ok").applyInPandasWithState(
        _basket_fn,
        BASKET_OUT_SCHEMA,
        BASKET_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# The one drain path: every stream in this package runs through drain()
# ---------------------------------------------------------------------------


def drain(writer: DataStreamWriter, name: str, checkpoint: str, timeout_s: int = 120) -> None:
    """Run `writer` to completion as an availableNow query that owns
    its `checkpoint` directory. A drain still running after timeout_s
    raises instead of returning partial output (a truncated drain would
    otherwise be compared against its batch twin); the query is stopped
    either way."""
    q = writer.option("checkpointLocation", checkpoint).trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_s):
            raise RuntimeError(f"{name} drain exceeded {timeout_s} s")
    finally:
        q.stop()


_STATE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

# name -> (builder over the events stream, output mode, needs RocksDB).
# The transformWithStateInPandas tier requires the RocksDB state store.
STREAMS = {
    "tumbling": (tumbling_counts_stream, "complete", False),
    "time_bucket": (time_bucket_stream, "complete", False),
    "sessionize": (sessionize_stream, "complete", False),
    "hll_rollup": (hll_rollup_stream, "complete", False),
    "bitmap_distinct": (bitmap_distinct_stream, "complete", False),
    "funnel": (funnel_stream, "append", False),
    "funnel_windowed": (funnel_windowed_stream, "append", False),
    "funnel_tws": (funnel_tws_stream, "append", True),
    "sessionize_tws": (sessionize_tws_stream, "append", True),
    "event_gaps": (event_gaps_stream, "append", False),
    "new_vs_returning": (new_vs_returning_stream, "append", False),
    "growth_accounting": (growth_accounting_stream, "append", False),
    "weekly_streaks": (weekly_streaks_stream, "append", False),
    "weekly_streaks_tws": (weekly_streaks_tws_stream, "append", True),
    "interval_union": (interval_union_stream, "append", False),
    "lifetime": (lifetime_stream, "update", False),
    "attribution": (attribution_join_stream, "append", False),
    "scd2": (scd2_stream, "append", False),
    "attribution_outer": (attribution_outer_join_stream, "append", False),
    "dedup": (dedup_stream, "append", False),
}


def run_stream_to_memory(spark: SparkSession, sf_dir: str, which: str = "tumbling") -> DataFrame:
    """Drive the events stream `which` to completion against the static
    events file and return the result as a DataFrame (used by tests and
    the `queries()` rows-only entries). Valid names are the keys of
    STREAMS; an unknown name raises KeyError. An entry that needs
    RocksDB gets that state-store provider for its drain only: the
    session's previous provider is restored after every drain."""
    build, mode, rocksdb = STREAMS[which]
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "events")
        os.makedirs(src)
        os.link(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))
        events = events_stream(spark, src)
        if build is attribution_outer_join_stream:
            _write_attribution_sentinels(spark, src)
        name = f"stream_{which}_result"
        writer = build(events).writeStream.format("memory").queryName(name).outputMode(mode)
        prev = spark.conf.get(_STATE_PROVIDER, None)
        if rocksdb:
            spark.conf.set(_STATE_PROVIDER, _ROCKSDB)
        try:
            drain(writer, f"stream_{which}", os.path.join(tmp, "ckpt"))
        finally:
            if prev is None:
                spark.conf.unset(_STATE_PROVIDER)
            else:
                spark.conf.set(_STATE_PROVIDER, prev)
        return spark.table(name)
