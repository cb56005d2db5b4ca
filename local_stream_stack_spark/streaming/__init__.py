"""Streaming operator layer (Structured Streaming forms).

The batch twins of these operators live in queries/events_ops.py where
the DuckDB oracle can check them; this package holds the genuinely
streaming formulations (watermarks, output modes, stateful dedup,
foreachBatch upsert) exercised by tests/test_streaming.py with bounded
file sources and memory sinks (no Kafka in the dev environment —
SURVEY.md §5).
"""

from local_stream_stack_spark.streaming.ops import (
    windowed_counts,
    session_windowed_counts,
    dedup_within_watermark,
    latest_per_key_stream_parquet,
    stream_static_join,
)

__all__ = [
    "windowed_counts",
    "session_windowed_counts",
    "dedup_within_watermark",
    "latest_per_key_stream_parquet",
    "stream_static_join",
]
