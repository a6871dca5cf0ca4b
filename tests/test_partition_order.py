"""Partition-order independence: the riders of the one-scan index
probes, of the group-limited top-k window and of the driver-built
literal relations (K-Means fit, rank offsets, weighted-quantile
targets) and the sketches over the shingle stream must hash-match their DuckDB oracles whatever the shuffle
width. Each runs at 1 and at 7 shuffle partitions, with AQE partition
coalescing off so the width is the one the plan really runs at: one
partition makes every aggregate and window see a single input order,
seven split the partial group limits, partial aggregates and decimal
sums across tasks."""

from __future__ import annotations

import pytest

from hadoop_project_spark.plans import all_queries, ml_queries
from hadoop_project_spark.quality import compare_to_oracle

SPECS = all_queries()

RIDERS = [
    # one-scan phrase and proximity probes (in-session and stored)
    "phrase_search_hits",
    "phrase_search_served",
    "index_segment_compaction_roundtrip",
    "proximity_search_pairs",
    # query-term-pruned stored BM25 and the BM25 top-k window
    "bm25_topk",
    "bm25_topk_served",
    "bm25_mrr_eval",
    # similarity.global_topk and the ADC ranking (the IVF riders share
    # these windows; their oracles take ~20 s each, so they stay with
    # tests/test_oracle_parity.py)
    "ann_topk_bruteforce",
    "ann_topk_pq_adc",
    # execution.literal relations built from driver-side aggregates:
    # the pinned K-Means fit's centroids, ranking.py's per-bucket rank
    # offsets, wquantile.py's per-group target buckets
    "kmeans_centroids",
    "customer_value_deciles",
    "weighted_price_quantiles",
    # sketches over the (doc, shingle) stream, which arrives in its
    # scan order (no distinct() exchange) since it became the explode
    # of dedup.doc_shingle_sets
    "hll_source_overlap",
    "bloom_decontaminate_fpr",
]

_CONF = {
    "spark.sql.shuffle.partitions": None,
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


@pytest.mark.parametrize("parts", [1, 7])
@pytest.mark.parametrize("name", RIDERS)
def test_rider_matches_oracle_at_shuffle_width(spark, sf_dir, name, parts):
    saved = {k: spark.conf.get(k) for k in _CONF}
    for k, v in _CONF.items():
        spark.conf.set(k, str(parts) if v is None else v)
    # a memoized fit from the other width would skip the fit under test
    ml_queries._FIT_CACHE.clear()
    try:
        spec = SPECS[name]
        df = spec.build(spark, sf_dir)
        res = compare_to_oracle(spark, df, spec.oracle, sf_dir, name=name)
        assert res.ok, (name, parts)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()
