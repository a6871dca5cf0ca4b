"""Registry mapping query names → (Spark plan builder, DuckDB oracle SQL).

The driver contract (__spark_entry__.py) runs each builder at sf0.01 and
hash-compares against the oracle SQL; builders therefore alias every
computed column to the same name the SQL uses, and cast output numerics
to explicit DOUBLE/BIGINT on both sides (see functions/numeric.py for
why decimal-internal/double-out is the float-parity strategy).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    tags: tuple[str, ...] = ()


_REGISTRY: dict[str, QuerySpec] = {}

# The driver hash-checks exactly the first 50 of all_queries(); these
# are those 50. Rotating the window is an edit to this one set, and
# tests/test_registry_window.py checks that every name is registered
# and that the set fills the window exactly.
DRIVER_WINDOW: frozenset[str] = frozenset(
    {
        # headline anchors
        "word_count",
        "pricing_summary",
        "regional_revenue",
        "two_leg_conversion",
        "priority_month_matrix",
        # the 18 riders of operators/dedup.py's one shingle path (found
        # by wrapping doc_shingle_sets, minhash_signatures and
        # doc_band_keys and building all 204 queries at sf0.001):
        # doc_shingle_sets stream consumers
        "bloom_decontaminate_fpr",
        "hll_source_distinct_shingles",
        "hll_source_overlap",
        "decontaminate_ngram",
        "contrastive_pairs",
        "contrastive_dense_negatives",
        # minhash_signatures / doc_band_keys riders
        "dedup_minhash_lsh",
        "dedup_clusters",
        "dedup_canonical_by_quality",
        "split_leakage_report",
        "leakage_free_split",
        "dedup_lsh_recall_eval",
        "lsh_band_sweep",
        "neardup_gate_admissions",
        "neardup_gate_lsm_admissions",
        "neardup_gate_served_probe",
        # operators/ssjoin.py readers of doc_shingle_sets
        "ssjoin_prefix_pairs",
        "doc_duplicate_span_ratio",
        # execution.literal riders
        "kmeans_centroids",
        "kmeans_silhouette",
        "customer_value_deciles",
        "incremental_shard_export",
        "incremental_shard_rewrite",
        "training_shard_assignment",
        "sequence_packing",
        "weighted_price_quantiles",
        "quality_lr_train",
        "quality_lr_corpus_filter",
        "bpe_train_merges",
        "dpp_partitioned_join_roundtrip",
        "semantic_dedup_decisions",
        "ann_topk_ivfpq",
        "ann_ivfpq_segment_compaction",
        "phrase_search_hits",
        "phrase_search_served",
        "proximity_search_pairs",
        "inverted_index_build_roundtrip",
        "index_segment_compaction_roundtrip",
        "bm25_topk",
        "bm25_topk_stored",
        "bm25_topk_served",
        "bm25_mrr_eval",
        "bm25_prf_dense_rerank",
        # operators/similarity.py: global_topk / ADC ranking window
        "ann_topk_bruteforce",
        # governance_queries.py: one _copurchase_pairs
        "part_copurchase_rank_step",
    }
)


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tags)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """All queries, DRIVER_WINDOW first, each part in registration order;
    the driver's correctness window is the first 50 of this ordering."""
    names = sorted(_REGISTRY, key=lambda n: n not in DRIVER_WINDOW)
    return {n: _REGISTRY[n] for n in names}
