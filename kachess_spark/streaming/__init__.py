"""Structured Streaming surface (SURVEY.md §2.9: additive — the reference
has no streaming constructs; BASELINE.json's north star allows extensions).

Batch twins of every windowed aggregation live in ``windows.py`` and are
oracle-checked.  Each batch/stream pair shares one transformation, a
private body in ``windows.py``: the batch twin applies it to the static
table, the streaming twin to the watermarked file stream
(``stream_events``), exercised by tests with
``trigger(availableNow=True)``; the ``foreachBatch`` runners drain through
one helper, ``windows._drain``.  The module docstring of ``windows.py``
lists the bodies and the pairs written twice on purpose.
"""

from kachess_spark.streaming.windows import (
    dedup_window_counts,
    streaming_dedup_counts,
    streaming_ewma_smoothing,
    streaming_dedup_events,
    streaming_interval_join,
    streaming_static_enrich,
    ingest_dedup_gate_batch,
    ingest_gate_growing_batch,
    ingest_gate_verified_batch,
    ingest_gate_growing_verified_batch,
    streaming_ingest_dedup_gate,
    stream_documents,
    session_window_stats,
    sliding_window_avg,
    stream_events,
    streaming_session_stats,
    streaming_sliding_avg,
    streaming_tumbling_counts,
    streaming_user_running_totals,
    tumbling_window_counts,
)

__all__ = [
    "stream_events",
    "dedup_window_counts",
    "streaming_dedup_counts",
    "streaming_ewma_smoothing",
    "streaming_dedup_events",
    "streaming_interval_join",
    "streaming_static_enrich",
    "tumbling_window_counts",
    "sliding_window_avg",
    "session_window_stats",
    "streaming_tumbling_counts",
    "streaming_sliding_avg",
    "streaming_session_stats",
    "streaming_user_running_totals",
    "ingest_dedup_gate_batch",
    "ingest_gate_growing_batch",
    "ingest_gate_verified_batch",
    "ingest_gate_growing_verified_batch",
    "streaming_ingest_dedup_gate",
    "stream_documents",
]
