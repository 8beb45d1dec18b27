"""Structured Streaming ingest (SURVEY.md §2.9)."""

from .ingest_stream import (  # noqa: F401
    stream_ann_ingest,
    stream_bloom_membership,
    stream_cms_frequencies,
    stream_fp_dedup_ingest,
    stream_hll_cardinality,
    stream_ingest_events,
    stream_pdf_ingest,
    stream_quality_gate,
    stream_rank_quantiles,
    stream_warc_ingest,
)
