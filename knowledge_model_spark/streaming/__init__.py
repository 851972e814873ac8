"""Structured Streaming operators (engine extension; SURVEY.md §2.9).

The reference has no streaming runtime — incrementality is cron +
filesystem state (reference: deployments/nas_daily.py:19-32,
pipelines/tasks/fetch_clean.py:35-53).  This package supplies the real
thing: watermarked windowed aggregations, stateful dedup, and session
windows, plus (in ``streaming.ingest``) two Trigger.AvailableNow sinks
that keep derived tables current from new landing files.
``stream_index_ingest`` appends IVF postings at-least-once (a replayed
micro-batch appends again); ``stream_vocab_ingest`` skips replayed batch
ids.  Documents enter the corpus sink only through
``pipelines.ingest_tick``.
"""

from knowledge_model_spark.streaming.windows import (
    ohlc_stream,
    sessionized_stream,
    stateful_capped_sessions,
    stateful_running_totals_tws,
    stream_stream_interval_join,
    streaming_dedup,
    tumbling_counts,
)

__all__ = [
    "tumbling_counts",
    "ohlc_stream",
    "sessionized_stream",
    "stateful_capped_sessions",
    "stateful_running_totals_tws",
    "stream_stream_interval_join",
    "streaming_dedup",
]
