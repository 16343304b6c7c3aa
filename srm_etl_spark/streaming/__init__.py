"""Structured Streaming variants of the event operators."""

from .events import (  # noqa: F401
    session_window_counts,
    stream_events,
    streaming_dedup,
    tumbling_window_counts,
)
