"""Structured Streaming surface (SURVEY.md §2.8 headroom; BASELINE north
star: streams as first-class ingestion)."""

from apache_iceberg_spark.streaming.events import (
    run_stream,
    stream_events,
    tumbling_counts_stream,
)

__all__ = ["stream_events", "tumbling_counts_stream", "run_stream"]
