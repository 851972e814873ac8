"""Watermarked windowed aggregations + stateful ops over an event stream.

Batch twins live in plans/events_queries.py — same logical semantics;
these add watermarks (late-data bound), incremental state, and
exactly-once file-sink behavior.  All operators take/return streaming
DataFrames so they compose with any readStream source.

Scale notes: stateful aggregation state is partitioned by group key
across executors; the watermark bounds state size (without it, a 100 TB
stream's window state grows unboundedly).  ``dropDuplicatesWithinWatermark``
replaces the reference's skip-if-exists idempotency
(reference: ingestion/pipeline.py:78-81) with bounded-state dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Event streams carry their event time in ``ts``; every operator here
# bounds its state by this watermark delay.
WATERMARK = "2 hours"


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling-window counts + value sum per
    ``event_type``."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_stream(events: DataFrame) -> DataFrame:
    """Per-``user_id`` session windows with a 30-minute inactivity gap
    (session_window) — the streaming form of events_sessionize_30m."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(events: DataFrame, key_cols: list[str]) -> DataFrame:
    """Bounded-state streaming dedup: duplicates arriving within the
    watermark horizon are dropped; state for older keys is reclaimed."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    watermark: str = WATERMARK,
    interval: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: right events within ``interval``
    AFTER the matching left event, per ``user_id``.

    The §2.9 category the batch twins can't show: both sides buffer
    state; the watermarks + the two-sided time-range condition bound how
    long each side's rows are retained (without the range condition the
    join state grows without limit on a 100 TB stream).  State is
    partitioned by the join key across executors.

    ``how='left_outer'`` adds the no-match rows: a buffered left row is
    null-emitted (and its state evicted) only once the watermark has
    passed its entire candidate window — ts + interval < watermark — so
    outer results are late by exactly the watermark delay, the price of
    not holding left state forever.  Spark requires the time-range
    condition for outer stream-stream joins for this reason.

    ``right`` must already expose its key and event time as
    ``r_user_id`` and ``r_ts`` (alias before calling — both inputs may
    derive from the same source, and self-joins need distinct column
    names).
    """
    lw = left.withWatermark("ts", watermark)
    rw = right.withWatermark("r_ts", watermark)
    cond = (
        (lw["user_id"] == rw["r_user_id"])
        & (rw["r_ts"] >= lw["ts"])
        & (rw["r_ts"] <= lw["ts"] + F.expr(f"INTERVAL {interval}"))
    )
    return lw.join(rw, cond, how)


def stateful_capped_sessions(
    events: DataFrame,
    gap_s: int = 1800,
    max_events: int = 50,
) -> DataFrame:
    """Custom per-``user_id`` stateful sessionization via
    ``applyInPandasWithState``.

    Sessions close on inactivity gap (like ``session_window``) OR when
    they reach ``max_events`` — a compound close condition the built-in
    operator cannot express; the reference's nearest analog is the
    token-budget cut in context packing (reference: main.py:355-363).

    State per key is four scalars (start, last, n, total) — bounded and
    tiny, so a 100 TB stream shards it across executors by key with no
    growth risk; the event-time timeout emits sessions left open when
    the watermark passes their horizon.  Emitted rows carry
    ``closed_reason`` ∈ {gap, cap, timeout}.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start_us long, session_end_us long, "
        "n_events long, total_value double, closed_reason string"
    )
    state_schema = "start long, last long, n long, total double"
    gap_us = gap_s * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        uid = key[0]
        rows = []
        if state.hasTimedOut:
            start, last, n, total = state.get
            rows.append((uid, start, last, n, total, "timeout"))
            state.remove()
            yield pd.DataFrame(
                rows,
                columns=[
                    "user_id",
                    "session_start_us",
                    "session_end_us",
                    "n_events",
                    "total_value",
                    "closed_reason",
                ],
            )
            return
        if state.exists:
            start, last, n, total = state.get
        else:
            start = last = None
            n, total = 0, 0.0
        # The iterator yields the group's rows as multiple Arrow chunks in
        # ARBITRARY order — sessionization needs one global time sort over
        # the whole group (per-chunk sorting silently produces inverted
        # sessions).  Group state is per-key and batches are bounded, so
        # the concat is small.
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            allpdf = pd.concat(chunks).sort_values("ts")
            for ts, value in zip(allpdf["ts"], allpdf["value"]):
                ts_us = int(ts.value // 1000)  # pandas Timestamp ns → µs
                if last is not None and ts_us - last > gap_us:
                    rows.append((uid, start, last, n, total, "gap"))
                    start = last = None
                    n, total = 0, 0.0
                if start is None:
                    start = last = ts_us
                else:
                    # Late-but-within-watermark rows from a PREVIOUS batch
                    # can precede the restored session bounds — absorb them
                    # without regressing the interval (end<start otherwise).
                    start = min(start, ts_us)
                    last = max(last, ts_us)
                n += 1
                total += float(value)
                if n >= max_events:
                    rows.append((uid, start, last, n, total, "cap"))
                    start = last = None
                    n, total = 0, 0.0
        if start is not None:
            state.update((start, last, n, total))
            state.setTimeoutTimestamp(last // 1000 + gap_s * 1000)
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            rows,
            columns=[
                "user_id",
                "session_start_us",
                "session_end_us",
                "n_events",
                "total_value",
                "closed_reason",
            ],
        )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key_col: str,
) -> DataFrame:
    """Stream-static enrichment join: decorate a live event stream with a
    slow-changing dimension table (user profile, document metadata).

    The static side is re-planned per micro-batch — a broadcast hash
    join against the streamed batch, no streaming state at all (unlike
    stream-stream joins there is nothing to watermark: the static side
    is always wholly available).  At cluster scale the dimension scan is
    pruned/pushed-down per batch, so the recurring cost is the dim
    read, not a shuffle of the stream.  Left join keeps events whose
    dimension row is missing (nulls), the ingest-friendly default.
    """
    return stream.join(F.broadcast(dim), key_col, "left")


def stateful_running_totals_tws(events: DataFrame) -> DataFrame:
    """Per-``user_id`` running totals via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state API (StatefulProcessor + typed state
    handles), completing the stateful surface next to the classic
    ``applyInPandasWithState`` sessionizer above.

    Each micro-batch emits one row per active key with the cumulative
    event count / value total / last-seen time across ALL batches so
    far — the streaming analog of the incremental view maintenance
    operator (relational.py::merge_partial_aggs): state is one tiny
    struct per key (bounded; sharded by key across executors), updated
    with the batch's partial aggregate, never recomputed from history.
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
            StructField("last_us", LongType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total, last_us = 0, 0.0, 0
            if self._state.exists():
                n, total, last_us = self._state.get()
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                total += float(pdf["value"].sum())
                last_us = max(last_us, int(pdf["ts"].max().value // 1000))
            self._state.update((n, total, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "last_seen_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    out_schema = "user_id long, n_events long, total_value double, last_seen_us long"
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="EventTime",
        )
    )


def windowed_distinct_users(events: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling-window APPROXIMATE distinct-``user_id``
    counts (HLL, 1% relative standard deviation).

    Streaming cannot hold per-window distinct sets (unbounded state per
    window under late data); ``approx_count_distinct`` keeps one HLL
    register block per window — algebraic, mergeable across
    micro-batches, watermark-evictable.  Same trade as the batch HLL
    rollup (operators/sketches.py): exact below the sparse threshold,
    ~1% beyond.  The batch twin for tests is the identical expression
    without the watermark."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "n_users")
    )


def ohlc_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.relational.ohlc_bars``: watermarked
    1-hour tumbling OHLC bars of ``value`` per ``event_type``, ties in
    ``ts`` broken by ``event_id``.

    min_by/max_by over the decimal-packed (ts, tiebreak) key are
    algebraic, so the state per open window is ONE partial bar (7
    scalars) per group — each micro-batch folds into it and the
    watermark evicts closed bars.  This is why the batch formulation
    was chosen over a window sort: the same aggregate is incrementally
    maintainable, giving batch/stream result parity by construction
    (asserted in tests/test_streaming.py).
    """
    key = F.unix_micros(F.col("ts")).cast("decimal(38,0)") * F.lit(
        10**12
    ).cast("decimal(38,0)") + F.col("event_id").cast("decimal(38,0)")
    v = F.col("value")
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by(v, key).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, key).alias("close"),
            F.count("*").alias("n"),
            F.round(F.sum(v), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
            "total_value",
        )
    )
