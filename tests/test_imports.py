"""Package hygiene: every module imports cleanly (no circular imports,
no syntax drift, no missing deps) and the operators package re-exports
the documented public surface."""

from __future__ import annotations

import importlib
import pkgutil

import hospital_stain_tracker_data_pipeline_spark as pkg


def test_every_module_imports():
    failures = []
    for mod in pkgutil.walk_packages(pkg.__path__, prefix=f"{pkg.__name__}."):
        try:
            importlib.import_module(mod.name)
        except Exception as e:  # pragma: no cover - the assert reports
            failures.append((mod.name, repr(e)))
    assert not failures, failures


def test_operator_surface_exports():
    from hospital_stain_tracker_data_pipeline_spark import operators as o

    for name in (
        "train_ngram_lm", "score_perplexity",
        "train_logistic_probe", "batch_score",
        "semantic_dedup_pairs", "cap_per_group",
        "extract_domain", "plan_token_mixture",
        "sample_token_mixture", "source_token_stats", "leakage_safe_split",
        "pack_token_chunks", "pack_documents_no_split",
        "write_packed_corpus", "shard_manifest", "verify_packed_corpus",
        "bm25_topk", "bm25_bulk_scores",
        "build_bm25_index", "dedup_substrings",
        "save_ivf_index", "load_ivf_index",
        "pq_fit_codebooks", "pq_encode", "pq_decode", "knn_pq",
        "knn_ivf_pq", "pack_codes", "unpack_codes",
        "save_pq_index", "load_pq_index",
        "reciprocal_rank_fusion", "corpus_diff", "corpus_diff_summary",
        "summarize_diff",
        "hll_registers", "hll_merge", "hll_estimate",
        "cms_sketch", "cms_merge", "cms_query", "sample_stratified",
        "tokenizer_efficiency",
        "extract_image_features",
        "image_phash", "audio_fingerprint", "video_phash",
        "fp_dup_pairs",
        "save_fp_index", "load_fp_index", "append_fp_index",
        "remove_from_fp_index", "compact_fp_index",
        "sniff_pdf", "extract_pdf_text",
        "build_simple_pdf",
    ):
        assert callable(getattr(o, name)), name
    for family in (o.IMAGE, o.AUDIO, o.VIDEO):
        assert isinstance(family, o.FingerprintFamily)


def test_pipeline_surface_exports():
    from hospital_stain_tracker_data_pipeline_spark import pipeline as p

    for name in (
        "LakeTable", "zorder_write",
        "file_skipping_report",
    ):
        assert callable(getattr(p, name)) or name == "LakeTable", name
