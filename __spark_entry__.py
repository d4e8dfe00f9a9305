"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sec_xbrl_finwarehouse_spark import oracles
from sec_xbrl_finwarehouse_spark.plans import (
    audio_queries,
    corpus_queries,
    crossmodal_queries,
    embedding_queries,
    events_queries,
    image_queries,
    text_queries,
)
from sec_xbrl_finwarehouse_spark.plans import star_queries as sq

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# the 17 reference-parity star queries (window group 1 in r9; all
# carry green r9 rows and sit below the boundary this round)
STAR_PARITY = {
    "statements_annual", "ratios_annual", "screener",
    "window_dedup_latest", "pivot_wide", "flow_stock_union",
    "window_dedup_priority", "coalesce_priority", "annual_period_filter",
    "top_k_orders", "natural_key_dedup", "insert_if_absent",
    "upsert_latest_wins", "statements_annual_v2", "statements_annual_v1",
    "company_profile", "ratios_lookup",
}

# ---- window rotation policy (r12 active) ------------------------------------
# The driver's correctness gate covers the FIRST 50 entries in dict
# order per round; the window ROTATES so no query's newest driver row
# goes stale longer than the surface/window ratio forces (oldest rows
# always lead). r10 ran the 50 entries frozen in R10_WINDOW below
# (CORRECTNESS_r10.json, 50/50 green); r11 ran R11_WINDOW
# (CORRECTNESS_r11.json, 50/50 green). r12 leads with the 16
# R12_LEADS (the r9-newest entries that sat out r11 -- their rows are
# three rounds stale, the oldest on record), then the r12 NEW and
# semantics-CHANGED entries, then back-fills with the oldest remaining
# rows: R10_WINDOW entries not re-verified since r10, in R10_WINDOW
# order. The r10-verified entries that do not fit are the r13 leads,
# visible as the head of list(queries())[50:].

# the 50 entries CORRECTNESS_r10.json verified (newest rows r10) --
# frozen verbatim so future rotations are self-documenting
R10_WINDOW = [
    "event_hll_distinct", "event_cm_heavy_hitters", "event_ams_f2",
    "event_hll_sliding", "event_cm_sliding", "doc_dsir_sample",
    "emb_knn_graph", "emb_knn_refine", "doc_paragraph_dedup",
    "doc_span_dedup", "doc_editdist_neardup", "doc_editdist_clusters",
    "doc_unigram_logprob", "doc_ccnet_bucket", "image_phash",
    "image_neardup", "image_dedup_clusters", "event_histogram_quantiles",
    "event_kmv_distinct", "event_kmv_overlap", "event_bloom_semijoin",
    "doc_weighted_sample", "doc_exact_dedup", "doc_quality",
    "doc_ngram_novelty", "doc_minhash_lsh_dedup",
    "doc_minhash_jaccard_est", "doc_dedup_clusters", "doc_simhash",
    "doc_simhash_neardup", "doc_stratified_sample", "doc_dedup_keep_best",
    "doc_corpus_build", "doc_ngram_df", "doc_tfidf_topk",
    "doc_decontaminate", "doc_seq_packing", "doc_mixture_sample",
    "doc_dup_ngram_frac", "doc_repetition", "doc_bigram_logprob",
    "doc_pii_scan", "emb_ivf_recall", "emb_ivfpq_recall",
    "emb_prefix_rerank_topk", "emb_ann_topk", "emb_ivf_ann_topk",
    "emb_pq_ann_topk", "emb_ivf_pq_ann_topk", "emb_hard_negatives_ann",
]

# the 50 entries CORRECTNESS_r11.json verified (newest rows r11) --
# frozen verbatim, like R10_WINDOW, so rotations self-document
R11_WINDOW = [
    "doc_length_histogram", "doc_domain_mix", "doc_global_shuffle",
    "doc_token_stats", "doc_chunk", "doc_train_test_split",
    "doc_bpe_token_count", "doc_fingerprint", "doc_lang_id",
    "audio_fingerprint", "audio_neardup", "audio_dedup_clusters",
    "emb_ann_recall_sampled", "doc_decontaminate", "emb_ann_topk",
    "emb_lsh_ann_topk", "emb_ann_recall", "emb_ivf_recall",
    "emb_ivfpq_recall", "emb_lsh_neardup", "emb_dedup_clusters",
    "doc_semantic_dedup", "emb_knn_graph", "emb_knn_refine",
    "statements_annual", "ratios_annual", "screener",
    "window_dedup_latest", "pivot_wide", "flow_stock_union",
    "window_dedup_priority", "coalesce_priority", "annual_period_filter",
    "top_k_orders", "natural_key_dedup", "insert_if_absent",
    "upsert_latest_wins", "statements_annual_v2", "statements_annual_v1",
    "company_profile", "ratios_lookup", "event_gap_fill",
    "event_scd2", "event_window_agg", "event_transitions",
    "event_dau_wau", "event_sliding_window", "event_sessionize",
    "event_asof_join", "event_rollup",
]

# (a) the 16 r9-verified entries that sat out both r10 and r11 (their
# newest rows are r9, three rounds stale -- oldest on record): they
# LEAD the r12 window, as planned in r11
R12_LEADS = [
    "event_daily_growth", "event_topk_per_user", "event_distinct_users",
    "event_interval_join", "event_percentiles", "event_cube",
    "event_funnel", "event_retention", "event_anomaly",
    "doc_jaccard_pairs", "doc_containment_pairs", "emb_cosine_neardup",
    "emb_nearest_centroid", "emb_int8_quantize", "emb_hard_negatives",
    "emb_kmeans_iter",
]
# (b) queries NEW in r12: the true-BPE encoder (pinned merges
# fixture), the trained hashed-feature quality classifier, the
# cross-modal (text+image+audio) dedup-cluster union, and sequence
# packing budgeted on true-BPE counts (the encoder composed with the
# shard-local packing window)
R12_NEW = [
    "doc_bpe_encode", "doc_quality_classifier",
    "multimodal_dedup_clusters", "doc_bpe_seq_packing",
]
# (c) entries whose CODE changed in r12: the audio oracle's
# zero-centering was rewritten O(len^2) -> O(len) (ADVICE r11 --
# value-identical, but every oracle-touching edit re-verifies), and
# doc_bpe_token_count's BPE_PATTERN moved to functions/bpe.py
# (re-exported; expression unchanged, re-verified anyway)
R12_CHANGED = [
    "audio_fingerprint", "audio_neardup", "audio_dedup_clusters",
    "doc_bpe_token_count",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full reference pipeline (ingest-shaped facts ->
    statements_annual, SURVEY.md §3.2) on sf0.001."""
    return sq.q_statements_annual(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # reference-parity pipeline + operators (SURVEY §2 / §3,
        # FIXTURES.md §C mapping)
        "statements_annual": sq.q_statements_annual,
        "ratios_annual": sq.q_ratios_annual,
        "screener": sq.q_screener,                            # P6 + J2 + O2
        "window_dedup_latest": sq.q_window_dedup_latest,      # W1
        "pivot_wide": sq.q_pivot_wide,                        # A1
        "flow_stock_union": sq.q_flow_stock_union,            # U1 + P4
        "window_dedup_priority": sq.q_window_dedup_priority,  # W2
        "coalesce_priority": sq.q_coalesce_priority,          # A2
        "annual_period_filter": sq.q_annual_period_filter,    # P5 + J1
        "top_k_orders": sq.q_top_k_orders,                    # O1/O2
        "natural_key_dedup": sq.q_natural_key_dedup,          # D1
        "insert_if_absent": sq.q_insert_if_absent,            # S6
        "upsert_latest_wins": sq.q_upsert_latest_wins,        # S5
        "statements_annual_v2": sq.q_statements_annual_v2,
        "statements_annual_v1": sq.q_statements_annual_v1,
        "company_profile": sq.q_company_profile,              # J3
        "ratios_lookup": sq.q_ratios_lookup,                  # O1
        **events_queries.QUERIES,
        **text_queries.QUERIES,
        **corpus_queries.QUERIES,
        **embedding_queries.QUERIES,
        **image_queries.QUERIES,
        **audio_queries.QUERIES,
        **crossmodal_queries.QUERIES,
    }
    must = R12_LEADS + R12_NEW + R12_CHANGED  # 23 slots
    # back-fill with the OLDEST remaining rows: R10_WINDOW entries not
    # re-verified since r10 (R11_WINDOW covered six of them via the
    # r11 changed set), in R10_WINDOW order. 44 candidates, 27 slots
    # -- the 17 sit-outs lead r13.
    r10_newest = [
        n for n in R10_WINDOW
        if n not in R11_WINDOW and n not in must
    ]
    backfill = r10_newest[: 50 - len(must)]
    window = must + backfill
    # uniqueness, not just length (ADVICE r11): a name accidentally
    # listed in two must-lists would silently shrink the verified
    # window while a bare len() check still passes
    assert len(window) == 50, len(window)
    assert len(set(window)) == 50, sorted(
        n for n in set(window) if window.count(n) > 1
    )
    ordered = {n: all_q[n] for n in window}
    # --- window boundary: r13 leads (r10 rows aging out next round)
    # first below the line, then the r11-verified remainder ---
    ordered.update({n: all_q[n] for n in r10_newest})
    ordered.update({n: all_q[n] for n in all_q if n not in ordered})
    assert len(ordered) == len(all_q)
    return ordered


def oracle_sql() -> dict[str, str]:
    return {
        **oracles.build_reference_oracles(),
        **events_queries.ORACLES,
        **text_queries.ORACLES,
        **corpus_queries.ORACLES,
        **embedding_queries.ORACLES,
        **image_queries.ORACLES,
        **audio_queries.ORACLES,
        **crossmodal_queries.ORACLES,
    }
