"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extract-then-validate pipeline on
the sf0.001 corpus; ``queries()``/``oracle_sql()`` expose each
implemented operator from SURVEY.md §2 with its DuckDB oracle.
Spark builders live in ``blackedge_ocr_spark/queries.py``; the SQL is
generated from the same constants in
``blackedge_ocr_spark/sqloracle.py`` so the two sides cannot drift.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved-span extraction + validation at sf0.001."""
    from blackedge_ocr_spark.queries import q_pipeline_extract_full

    return q_pipeline_extract_full(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from blackedge_ocr_spark import queries as q

    out = {
        # T* scalar transforms (SURVEY §2.3)
        "normalize": q.q_normalize,
        "extract_numbers": q.q_extract_numbers,
        "key_term_freq": q.q_key_term_freq,
        "word_frequency": q.q_word_frequency,
        # D* problem detector (SURVEY §2.8)
        "problem_flags": q.q_problem_flags,
        "problems_rollup": q.q_problems_rollup,
        # A* similarity (SURVEY §2.5)
        "similarity_pairs": q.q_similarity_pairs,
        # P* routing (SURVEY §2.2)
        "routing": q.q_routing,
        "workflow_counts": q.q_workflow_counts,
        # pipeline stages over the interleaved span corpus (SURVEY §3.5)
        "spansify_stats": q.q_spansify_stats,
        "extract_content": q.q_extract_content,
        "span_problems": q.q_span_problems,
        "validation_decision": q.q_validation_decision,
        "pipeline_extract": q.q_pipeline_extract,
        # training-data pipeline operators (analysis subpackage)
        "dedup_exact": q.q_dedup_exact,
        "dedup_minhash": q.q_dedup_minhash,
        "dedup_lsh_pairs": q.q_dedup_lsh_pairs,
        "dedup_production_pairs": q.q_dedup_production_pairs,
        "dedup_clusters": q.q_dedup_clusters,
        "cluster_keeper_quality": q.q_cluster_keeper_quality,
        "dedup_simhash": q.q_dedup_simhash,
        "ngram_jaccard": q.q_ngram_jaccard,
        "ann_topk": q.q_ann_topk,
        "ann_topk_served": q.q_ann_topk_served,
        "ann_lsh_topk": q.q_ann_lsh_topk,
        "ann_ivf_topk": q.q_ann_ivf_topk,
        "ann_ivf_kmeans_topk": q.q_ann_ivf_kmeans_topk,
        "ann_recall": q.q_ann_recall,
        "dim_recall": q.q_dim_recall,
        "embedding_neardup": q.q_embedding_neardup,
        "embedding_neardup_lsh": q.q_embedding_neardup_lsh,
        "neardup_recall": q.q_neardup_recall,
        "semantic_dedup": q.q_semantic_dedup,
        "ann_sq8_topk": q.q_ann_sq8_topk,
        "ann_pq_topk": q.q_ann_pq_topk,
        "ann_ivfpq_topk": q.q_ann_ivfpq_topk,
        "hll_distinct": q.q_hll_distinct,
        "cms_topk": q.q_cms_topk,
        "bloom_probe": q.q_bloom_probe,
        "sampled_quantiles": q.q_sampled_quantiles,
        "lang_confusion": q.q_lang_confusion,
        "minhash_jaccard_est": q.q_minhash_jaccard_est,
        "winnow_pairs": q.q_winnow_pairs,
        "classifier_calibration": q.q_classifier_calibration,
        "source_mirror_stats": q.q_source_mirror_stats,
        "lang_id": q.q_lang_id,
        "token_counts": q.q_token_counts,
        "quality_scores": q.q_quality_scores,
        "fingerprints": q.q_fingerprints,
        "term_doc_freq": q.q_term_doc_freq,
        "corpus_stats": q.q_corpus_stats,
        "snapshot_diff": q.q_snapshot_diff,
        "media_meta": q.q_media_meta,
        "media_features": q.q_media_features,
        "media_resize": q.q_media_resize,
        "frame_sample": q.q_frame_sample,
        "segment_stats": q.q_segment_stats,
        "azure_layout": q.q_azure_layout,
        "ingest_validate": q.q_ingest_validate,
        "simhash_pairs": q.q_simhash_pairs,
        "routing_errors": q.q_routing_errors,
        "dedup_apply": q.q_dedup_apply,
        "corpus_curation": q.q_corpus_curation,
        "curation_funnel": q.q_curation_funnel,
        "final_content": q.q_final_content,
        "similarity_report": q.q_similarity_report,
        # corpus curation (analysis/corpusops.py)
        "dup_ngrams": q.q_dup_ngrams,
        "decontaminate": q.q_decontaminate,
        "corpus_sample": q.q_corpus_sample,
        "token_packing": q.q_token_packing,
        "token_packing_2p": q.q_token_packing_2p,
        # safety curation (analysis/scrub.py)
        "pii_scan": q.q_pii_scan,
        "pii_redact": q.q_pii_redact,
        "repetition_stats": q.q_repetition_stats,
        "paragraph_dedup": q.q_paragraph_dedup,
        "boilerplate_strip": q.q_boilerplate_strip,
        "url_dedup": q.q_url_dedup,
        "domain_filter": q.q_domain_filter,
        # training-order / chunking / mix rebalance / vocabulary
        "corpus_shuffle": q.q_corpus_shuffle,
        "doc_chunks": q.q_doc_chunks,
        "lang_rebalance": q.q_lang_rebalance,
        "top_terms": q.q_top_terms,
        "incremental_extract": q.q_incremental_extract,
        "span_packing": q.q_span_packing,
        "quality_sample": q.q_quality_sample,
        # tokenizer / split / mixture (corpus assembly)
        "bpe_pairs": q.q_bpe_pairs,
        "data_split": q.q_data_split,
        "mixture_weights": q.q_mixture_weights,
        "media_dedup": q.q_media_dedup,
        "doc_features": q.q_doc_features,
        "vocab_coverage": q.q_vocab_coverage,
        "domain_stats": q.q_domain_stats,
        "lm_scores": q.q_lm_scores,
        # retrieval / collocation statistics
        "bm25_topk": q.q_bm25_topk,
        "cooccur_pmi": q.q_cooccur_pmi,
        "quality_classifier": q.q_quality_classifier,
        # tokenizer training loop + exact substring dedup
        "bpe_train": q.q_bpe_train,
        "bpe_encode": q.q_bpe_encode,
        "substring_dedup": q.q_substring_dedup,
        # DSIR importance resampling (hashed-n-gram likelihood ratio)
        "dsir_weights": q.q_dsir_weights,
        "dsir_select": q.q_dsir_select,
        # Gopher quality-rule battery
        "gopher_rules": q.q_gopher_rules,
        # CCNet perplexity bucketing
        "ccnet_buckets": q.q_ccnet_buckets,
        # C4 cleaning battery + global three-sentence-span dedup
        "c4_filters": q.q_c4_filters,
        "c4_span_dedup": q.q_c4_span_dedup,
        # ftfy-lite unicode hygiene (strip + NFC)
        "unicode_scrub": q.q_unicode_scrub,
        # span-sequence contract audit + repair (extraction QA)
        "span_integrity": q.q_span_integrity,
        # Gopher A1.2 repetition rule battery
        "gopher_repetition": q.q_gopher_repetition,
        # per-source unigram KL drift vs corpus mixture
        "source_drift": q.q_source_drift,
        # interpolated bigram LM scoring (pruned top-V model)
        "lm2_scores": q.q_lm2_scores,
    }
    return out


def oracle_sql() -> dict[str, str]:
    from blackedge_ocr_spark.sqloracle import build_oracles

    return build_oracles()
