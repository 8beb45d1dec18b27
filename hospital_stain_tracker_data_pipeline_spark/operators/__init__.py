"""Reusable DataFrame -> DataFrame operators."""

from .validate import split_valid_invalid, reject_reason_column  # noqa: F401
from .upsert import upsert_last_writer_wins  # noqa: F401
from .asof import calendar_day_delta, with_prev_calendar_day  # noqa: F401
from .repetition import (  # noqa: F401
    doc_repetition_profile,
    ngram_repetition,
)
from .bpe import (  # noqa: F401
    bpe_encode,
    tokenizer_efficiency,
    train_bpe,
    word_histogram,
)
from .lm import (  # noqa: F401
    score_perplexity,
    train_ngram_lm,
)
from .mixture import (  # noqa: F401
    plan_token_mixture,
    sample_exact_k,
    sample_stratified,
    sample_token_mixture,
    source_token_stats,
)
from .web import (  # noqa: F401
    canonicalize_url,
    cap_per_group,
    dedup_exact_urls,
    extract_domain,
    extract_text_from_html,
    fetch_timeline,
    parse_html_documents,
    plan_recrawl,
    robots_crawl_delays,
    robots_filter,
    robots_rules,
    schedule_fetch,
)
from .sketch import (  # noqa: F401
    bloom_fpp,
    bloom_query,
    bloom_sketch,
    cms_merge,
    cms_query,
    cms_sketch,
    dyadic_rank_merge,
    dyadic_rank_sketch,
    heavy_hitters,
    quantiles_from_sketch,
    rank_from_cells,
    hll_estimate,
    hll_merge,
    filter_unseen,
    hll_registers,
)
from .quality import (  # noqa: F401
    compression_signals,
    corpus_report,
    ensure_quality_signals,
    filter_gopher_quality,
    gopher_stage_predicates,
    quality_signals,
    redact_pii,
)
from .splits import leakage_safe_split, split_assignments  # noqa: F401
from .packing import (  # noqa: F401
    pack_documents_no_split,
    pack_token_chunks,
    shard_manifest,
    verify_packed_corpus,
    write_packed_corpus,
)
from .diffs import (  # noqa: F401
    corpus_diff,
    corpus_diff_summary,
    summarize_diff,
)
from .pq import (  # noqa: F401
    ann_index_drift,
    append_ann_index,
    build_ann_index,
    compact_ann_index,
    knn_ivf_pq,
    knn_pq,
    remove_from_ann_index,
    search_ann_index,
    load_pq_index,
    pack_codes,
    pq_decode,
    pq_encode,
    pq_fit_codebooks,
    save_pq_index,
    unpack_codes,
)
from .inference import (  # noqa: F401
    batch_score,
    probe_calibration,
    train_logistic_probe,
)
from .retrieval import (  # noqa: F401
    bm25_bulk_scores,
    bm25_topk,
    build_bm25_index,
    reciprocal_rank_fusion,
)
from .dedup import (  # noqa: F401
    append_fp_index,
    compact_dedup_index,
    compact_fp_index,
    remove_from_dedup_index,
    remove_from_fp_index,
    dedup_against_corpus,
    dedup_pairs_against_corpus,
    dedup_substrings,
    hamming_hot_bucket_report,
    hamming_pairs,
    hamming_pairs_against_corpus,
    index_fsck,
    simhash_hot_bucket_report,
    load_dedup_index,
    load_fp_index,
    lsh_hot_buckets,
    minhash_hot_bucket_report,
    save_fp_index,
    minhash_signature_index,
    recover_index_swap,
    save_dedup_index,
    select_cluster_representatives,
)
from .similarity import (  # noqa: F401
    ann_hot_bucket_report,
    dequantize_embeddings,
    load_ivf_index,
    quantize_embeddings,
    save_ivf_index,
    semantic_dedup_pairs,
)
from .audio_fp import audio_fingerprint  # noqa: F401
from .video_fp import video_phash  # noqa: F401
from .fingerprint import (  # noqa: F401
    AUDIO,
    IMAGE,
    VIDEO,
    FingerprintFamily,
    fp_dup_pairs,
)
from .pdf import (  # noqa: F401
    build_objstm_pdf,
    build_simple_pdf,
    extract_pdf_text,
    pdf_is_encrypted,
    sniff_pdf,
)
from .multimodal import (  # noqa: F401
    extract_image_features,
    image_phash,
)
from .features import (  # noqa: F401
    hashed_text_features,
    score_text_probe,
    train_text_probe,
)
