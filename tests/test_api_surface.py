"""API-surface ratchet: every public top-level function or class of the
package needs a caller outside tests/ (the package itself, scripts/,
bench.py, perfbench/ or the catalog entry __spark_entry__.py), unless it
is pinned in TEST_ONLY below. The pin list may only shrink: an entry
that gains a real caller or is deleted must leave it (the second
assert), and nothing may join it without a caller (the first). A
public name with no caller at all, tests included, always fails."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "hospital_stain_tracker_data_pipeline_spark")
CALLER_PATHS = [PKG, "scripts", "perfbench", "bench.py", "__spark_entry__.py"]

# public names whose only callers are tests (shrink-only)
TEST_ONLY = set("""
ann_hot_bucket_report approx_distinct_hll audit_fetch_log bloom_fpp
bm25_reference bpe_vocab build_mjpeg_mp4 cdc_chunks classify_media
contrastive_score cosine curation_funnel_report dedup_fp_against_corpus
doc_ngrams encode_jpeg_progressive extract_audio_features
extract_pixel_stats extract_video_features fetch_warc_record
filter_blocked_domains filter_by_compression filter_repetitious knn_pq
minhash_hot_bucket_report minhash_lsh_candidates ngram_contamination
normalize_text_udf pack_codes packing_efficiency pagerank
perplexity_buckets pq_decode pq_encode probe_calibration read_jsonl
read_sitemap_index recover_index_swap resample_audio resize_images
robots_sitemaps sample_video_frames save_bloom_sketch save_cms_sketch
save_hll_sketch save_ngram_lm save_quantile_sketch semantic_dedup
simhash64 simhash_band_candidates simhash_hot_bucket_report skew_report
sniff_pdf stream_bloom_membership stream_cms_frequencies
stream_dedup_against_corpus stream_fp_dedup_ingest stream_hll_cardinality
stream_pdf_ingest stream_quality_gate stream_rank_quantiles
stream_score_perplexity stream_static_enrich
stream_stream_attribution_join stream_warc_ingest temperature_weights
tune_lsh_bands unpack_codes verify_packed_corpus write_bucketed_table
write_jdbc_upsert write_jsonl
""".split())


def _py_files(paths):
    for p in paths:
        p = os.path.join(REPO, p)
        if p.endswith(".py"):
            yield p
        else:
            yield from glob.glob(os.path.join(p, "**", "*.py"), recursive=True)


def _referenced(paths) -> set[str]:
    """Every name loaded or attribute read in the files: a call, a
    reference passed as a value, or a re-export used elsewhere."""
    out = set()
    for f in _py_files(paths):
        for node in ast.walk(ast.parse(open(f).read())):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
    return out


def test_public_api_has_callers_outside_tests():
    public = {
        node.name
        for f in _py_files([PKG])
        for node in ast.parse(open(f).read()).body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
    }
    test_only = public - _referenced(CALLER_PATHS)
    uncalled = test_only - _referenced(["tests"])
    assert not uncalled, f"public names nothing calls: {sorted(uncalled)}"
    assert test_only <= TEST_ONLY, (
        "public names only tests call — give them a caller or delete "
        f"them: {sorted(test_only - TEST_ONLY)}"
    )
    assert TEST_ONLY <= test_only, (
        "stale TEST_ONLY entries (now called or gone) — remove them: "
        f"{sorted(TEST_ONLY - test_only)}"
    )
