"""Structured Streaming ingest (SURVEY.md §2.9)."""

from .ingest_stream import (  # noqa: F401
    stream_ann_ingest,
    stream_ingest_events,
)
