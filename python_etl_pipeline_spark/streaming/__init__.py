"""Structured Streaming layer (SURVEY.md §2.10)."""

from .file_stream import (
    stream_ingest_available_now,
    windowed_event_counts,
    running_user_totals,
    stream_stream_interval_join,
    stream_dedup_within_watermark,
    stream_document_curation,
)

__all__ = [
    "stream_ingest_available_now",
    "windowed_event_counts",
    "running_user_totals",
    "stream_stream_interval_join",
    "stream_dedup_within_watermark",
    "stream_document_curation",
]
