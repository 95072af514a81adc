"""Structured Streaming helpers (beyond the reference, which is batch-only —
SURVEY.md §2.2 marks the `incremental` config flag as dead surface; here
incremental processing is real)."""

from .lakehouse_sink import stream_merge_into
from .pipeline import (
    read_parquet_stream,
    run_available_now,
    sessionized_counts,
    windowed_event_counts,
)

__all__ = [
    "read_parquet_stream",
    "windowed_event_counts",
    "sessionized_counts",
    "run_available_now",
    "stream_merge_into",
]
