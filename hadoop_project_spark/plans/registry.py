"""Registry mapping query names → (Spark plan builder, DuckDB oracle SQL).

The driver contract (__spark_entry__.py) runs each builder at sf0.01 and
hash-compares against the oracle SQL; builders therefore alias every
computed column to the same name the SQL uses, and cast output numerics
to explicit DOUBLE/BIGINT on both sides (see functions/numeric.py for
why decimal-internal/double-out is the float-parity strategy).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Driver-window ordering. The correctness gate hash-checks exactly the
    # first 50 entries of queries(); priority (then registration order)
    # decides which land inside that window. Default 100 = in-window;
    # 900 = back-of-book (oracle-less iterative queries and relational
    # variants whose SURVEY §2 rows are already covered by an in-window
    # hash-green query — see tests/test_registry_window.py).
    priority: int = 100


_REGISTRY: dict[str, QuerySpec] = {}
_ORDER: dict[str, int] = {}

# Round-by-round rotation of the driver's 50-query correctness window,
# kept in ONE place instead of editing ~98 @register sites. The driver
# hash-checks exactly the first 50 of all_queries(); these overrides
# (applied over each spec's own priority) decide which 50. Policy:
# every oracle-bearing query must land inside the window in SOME round
# — tests/test_registry_window.py enforces "driver-green in a prior
# round's CORRECTNESS_r*.json OR in the current window".
#
# Round 11 (per VERDICT r10 items 1-2, 6-7): the window is the
# headline set, the new round-11 rewrite query
# (exact_substring_dedup_rewrite, self-promoted priority=10), and a
# hash anchor for every query whose CODE round 11 touched — the LSM
# compaction was converged onto serving.py's versioned publish
# (index/ann segment queries), serving.py itself changed (ADVICE r10
# fixes + the storage seam: every *_served twin), the fitted
# artifacts now arrive via served tables (semdedup pair +
# ann_topk_ivfpq), and operators/substring.py was refactored
# (merge_intervals shared by spans/coverage/rewrite). The r10-only
# anchors are demoted to 500, still oracle-tested every CI run by
# tests/test_oracle_parity.py.
PRIORITY_OVERRIDES: dict[str, int] = {
    # --- round-14 regression anchors: keep in-window (prio 20) ---
    # Round 14: the window is the headline set, the LR trio (kept one
    # more round — VERDICT r13), a hash anchor for every query whose
    # code an earlier round-14 change touched (co-purchase pair builder,
    # SemDeDup decision table, ANN rerank tail, BM25 single-pass
    # relevance, shard-rewrite and hard-negative protocols — those
    # riders sit in-window at prio 20 or their prio-10 registration),
    # and every rider of the set-based MinHash-LSH rewrite
    # (operators/dedup.py: doc_shingle_sets, set_overlap, one-parse
    # signature and band-key text).
    **{
        name: 20
        for name in (
            # headline anchors (every round)
            "word_count",
            "pricing_summary",
            "regional_revenue",
            "two_leg_conversion",
            "priority_month_matrix",
            # governance_queries.py: one _copurchase_pairs builder for
            # all co-purchase/PageRank queries (served twin is already
            # in-window at its prio-10 registration)
            "part_pagerank_iterated",
            "part_pagerank_bucketed",
            "part_copurchase_rank_step",
            "part_copurchase_triangles",
            # invindex.py: BM25 two-pass branch removed, score/top-k
            # pass-through inlined
            "bm25_mrr_eval",
            "bm25_topk",
            "bm25_topk_stored",
            # similarity.py: lsh_topk/ivf_topk share one rerank tail
            "ann_recall_at_k",
            # dedup.py: set-based minhash_lsh_pairs and its consumers
            "dedup_minhash_lsh",
            "dedup_clusters",
            "dedup_canonical_by_quality",
            "leakage_free_split",
            "split_leakage_report",
            # dedup.py + ssjoin.py: shared set builder / verify tail and
            # the one-parse signature + band-key text
            "dedup_lsh_recall_eval",
            "lsh_band_sweep",
            "ssjoin_prefix_pairs",
            "neardup_gate_admissions",
            "neardup_gate_lsm_admissions",
            "neardup_gate_served_probe",
        )
    },
    # --- green in r1-r8, still CI-oracle-tested: demote (prio 500) ---
    # Queries below self-promoted at registration (priority<100) to
    # enter their first window and earned a green CORRECTNESS row, so
    # the override now outranks the registration promotion and releases
    # their slots; r8-window anchors released this round are listed
    # too. (Anything not listed: see _effective_priority.)
    **{
        name: 500
        for name in (
            # r13 prio-20 anchors released in r14 (code untouched in
            # r14; all green in CORRECTNESS_r13)
            "heavy_hitter_bigrams",
            "ann_topk_bruteforce",
            "ann_truncated_dim_recall",
            "kmeans_centroids",
            "kmeans_cluster_sizes",
            "kmeans_silhouette",
            "kmeans_assign_step",
            "nearest_two_centroids",
            # r12 prio-10/20 anchors released this round (code
            # untouched in r13; all green in CORRECTNESS_r12)
            "ann_topk_ivfpq",
            "ann_topk_ivfpq_served",
            "ann_ivfpq_segment_compaction",
            "ann_ivfpq_base_plus_segments",
            "contrastive_dense_negatives",
            "multimodal_bmp_features",
            "multimodal_wav_features",
            "audio_fingerprint_neardup",
            "pii_redaction_counts",
            "pii_planted_redaction",
            "phrase_search_served",
            "index_segment_compaction_roundtrip",
            "index_base_plus_segments_probe",
            # r11 prio-10 anchors released in r12 (code untouched
            # in r12; all green in CORRECTNESS_r11)
            "tokenizer_fertility_by_source",
            "exact_substring_spans",
            "doc_duplication_coverage",
            "exact_substring_dedup_rewrite",
            "exact_substring_dedup_corpus",
            "corpus_version_diff",
            "contrastive_pairs",
            "image_dhash_neardup",
            "training_shard_manifest",
            # r10 anchors released in r11 (code untouched;
            # all green in CORRECTNESS_r10)
            "avro_roundtrip_segment_stats",
            "ann_topk_pq_adc",
            "ann_pq_recall",
            "bucketed_join_roundtrip",
            "inverted_index_build_roundtrip",
            # r9 anchors released in r10 (code untouched in r10;
            # the two writer-roundtrip movers were adjudicated as host
            # drift by the round-10 within-session A/B — SCALING.md)
            "dpp_partitioned_join_roundtrip",
            "proximity_search_pairs",
            "inverted_index_directory",
            "phrase_search_hits",
            # r8 anchors (released in r9; ssjoin-pin family deltas were
            # re-adjudicated by the round-9 within-session A/B)
            "doc_duplicate_spans",
            "doc_duplicate_span_ratio",
            "doc_winnowing_fingerprints",
            "winnowing_dup_candidates",
            "dedup_exact",
            "dedup_ngram_jaccard",
            "doc_quality_model_filter",
            "bpe_train_merges",
            "bpe_encode_token_counts",
            "tfidf_top_terms",
            "bigram_pmi_collocations",
            "doc_bigram_lm_top",
            "dedup_survivors_by_source",
            "doc_lm_avgprob",
            "doc_chunks_overlap",
            "training_data_mix",
            "corpus_quality_by_lang",
            "quality_filter_funnel",
            "doc_fingerprints",
            # r7-new, green in CORRECTNESS_r07
            # r7 anchors released in r8
            "part_name_fuzzy_pairs",
            "part_entity_clusters",
            "source_overlap_matrix",
            "decontaminate_ngram",
            "bloom_decontaminate_fpr",
            "hll_source_distinct_shingles",
            "hll_source_overlap",
            "dedup_simhash_signatures",
            "dedup_simhash_pairs",
            "price_quantile_histogram",
            # earlier-round self-promotions (registration priority<100)
            "embedding_neardup_pairs_bucketed",
            "events_decayed_engagement",
            "embedding_neardup_pairs",
            "ann_topk_ivf",
            "events_hourly_rollup",
            "latest_event_per_user",
            "priority_month_matrix_formatted",
            "orc_roundtrip_order_priorities",
            "json_roundtrip_source_stats",
            "events_retention_cohorts",
            "events_dau_wau_stickiness",
            "events_session_concurrency",
            "merge_upsert_roundtrip",
            "json_corrupt_records_audit",
            "events_value_outliers",
            "docs_split_assignment",
            "lineitem_winsorized_stats",
            "training_mix_temperature",
            "ab_test_value_zscore",
            "weighted_price_quantiles",
            "national_market_share",
            "promo_revenue_share",
            "orders_expectations",
            "fk_integrity_report",
            "pps_weighted_sample",
            "pps_ht_source_totals",
            "event_transition_matrix",
            "seasonal_baseline_wape",
            "nation_revenue_gini",
        )
    },
}
_DEMOTE_DEFAULT = 500
_DEFAULT_PRIORITY = 100


def _effective_priority(name: str) -> int:
    if name in PRIORITY_OVERRIDES:
        return PRIORITY_OVERRIDES[name]
    spec = _REGISTRY[name]
    if spec.oracle is not None:
        # Honor an EXPLICIT promotion at registration time (priority
        # strictly below the 100 default) so a brand-new query enters
        # its first window without needing a PRIORITY_OVERRIDES edit —
        # r4 lesson: pii_redaction_counts registered priority=10 was
        # silently demoted to 500 here and missed its window. Un-listed
        # default-priority oracle-bearing queries were all green in
        # earlier rounds: push them behind the promoted set but ahead
        # of oracle-less ones.
        if spec.priority < _DEFAULT_PRIORITY:
            return spec.priority
        return _DEMOTE_DEFAULT
    return max(spec.priority, _DEMOTE_DEFAULT + 1)


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    priority: int = 100,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name, fn, oracle, doc or (fn.__doc__ or ""), tags, priority
        )
        _ORDER[name] = len(_ORDER)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """All queries, ordered by (effective priority, registration order);
    the driver's correctness window is the first 50 of this ordering."""
    names = sorted(_REGISTRY, key=lambda n: (_effective_priority(n), _ORDER[n]))
    return {n: _REGISTRY[n] for n in names}
