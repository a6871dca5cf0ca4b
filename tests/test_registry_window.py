"""The driver's correctness gate hash-checks exactly the first 50
registered queries. This suite pins the window's composition so a
refactor can't silently push an oracle-bearing query family out of
driver verification again (round-1 lesson: the whole dedup/ANN family
registered past the window and got no CORRECTNESS rows).

Round 4 changes the policy from a static window to a ROTATION: the
window now holds every oracle-bearing query that has never had a green
driver row (26 as of r3) plus regression anchors for this round's code
changes. The invariant enforced here: every oracle-bearing query is
either already driver-green in some committed CORRECTNESS_r*.json or
inside the current window — i.e. nothing oracle-bearing can be parked
forever.
"""

from __future__ import annotations

import glob
import json
import os

from hadoop_project_spark.plans import all_queries

WINDOW = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Regression anchors for round 14: the headline set, the LR trio (kept
# in-window one more round), a hash anchor for every query whose code
# round 14 touched — must be proven green THIS round.
MUST_VERIFY = {
    # headline (every round)
    "word_count",
    "pricing_summary",
    "regional_revenue",
    "two_leg_conversion",
    "priority_month_matrix",
    # the LR trio after the oracle BIGINT casts (DuckDB HUGEINT output
    # columns canonicalizing differently from int64)
    "quality_lr_train",
    "quality_lr_corpus_filter",
    "quality_lr_eval",
    # governance_queries.py: one _copurchase_pairs builder for all five
    # co-purchase/PageRank riders incl. the served twin
    "part_pagerank_iterated",
    "part_pagerank_bucketed",
    "part_pagerank_served",
    "part_copurchase_rank_step",
    "part_copurchase_triangles",
    # invindex.py: BM25 two-pass branch removed, pass-through inlined
    "bm25_mrr_eval",
    "bm25_topk",
    "bm25_topk_stored",
    "bm25_topk_served",
    "bm25_prf_dense_rerank",
    "hybrid_topk_rrf",
    "mmr_diversified_topk",
    # similarity.py / similarity_queries.py: one ANN rerank tail, one
    # SemDeDup decision table
    "ann_recall_at_k",
    "ann_topk_prefiltered",
    "semantic_dedup_decisions",
    "semantic_dedup_bucketed",
    # packing_queries.py/shardexport.py: production-only rewrite protocol
    "incremental_shard_rewrite",
    "training_shard_assignment",
    "incremental_shard_export",
    # dedup.py: set-based minhash_lsh_pairs and every consumer
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_canonical_by_quality",
    "leakage_free_split",
    "split_leakage_report",
    # dedup.py + ssjoin.py: shared set builder / verify tail, one-parse
    # signature and band-key text (the streaming gates build band keys)
    "dedup_lsh_recall_eval",
    "lsh_band_sweep",
    "ssjoin_prefix_pairs",
    "neardup_gate_lsm_admissions",
    "neardup_gate_served_probe",
    "neardup_gate_admissions",
}


def _ever_green() -> set[str]:
    """Query names with a green driver row in any committed round."""
    green: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") or (
                row.get("hash_match") is None and row.get("rows_match")
            ):
                green.add(name)
    return green


def test_window_has_no_oracle_less_queries():
    specs = list(all_queries().values())[:WINDOW]
    missing = [s.name for s in specs if s.oracle is None]
    assert not missing, f"oracle-less queries inside the driver window: {missing}"


def test_must_verify_queries_inside_window():
    window_names = set(list(all_queries())[:WINDOW])
    out = MUST_VERIFY - window_names
    assert not out, f"must-verify queries outside the driver window: {out}"


def test_no_oracle_bearing_query_parked_forever():
    """Every oracle-bearing query has either already earned a green
    driver row (committed CORRECTNESS_r*.json) or sits inside the
    current window so it earns one this round."""
    qs = all_queries()
    window_names = set(list(qs)[:WINDOW])
    green = _ever_green()
    parked = [
        n
        for n, s in qs.items()
        if s.oracle is not None and n not in green and n not in window_names
    ]
    assert not parked, f"oracle-bearing queries with no path to a driver row: {parked}"


def test_every_query_has_an_oracle():
    """Round 8 closed the last oracle-less entries (the iterative
    K-Means queries now run the pinned fixed-point fit with a chained-
    CTE replay oracle, plans/ml_queries.py) — the whole registry is
    oracle-bearing and must stay that way."""
    qs = all_queries()
    oracle_less = [n for n, s in qs.items() if s.oracle is None]
    assert not oracle_less, f"oracle-less queries: {oracle_less}"
