"""The driver's correctness gate hash-checks exactly the first 50 of
all_queries(), and plans/registry.py's DRIVER_WINDOW names those 50.
This suite pins that window so a refactor can't silently push an
oracle-bearing query family out of driver verification (the dedup/ANN
family once registered past the window and got no CORRECTNESS rows).

The rules enforced here: DRIVER_WINDOW holds exactly WINDOW registered
names, so it is the window; the window holds no oracle-less query and
every MUST_VERIFY anchor; and every oracle-bearing query is either
already driver-green in some committed CORRECTNESS_r*.json or inside
the current window, so nothing oracle-bearing can be parked forever.
"""

from __future__ import annotations

import glob
import json
import os

from hadoop_project_spark.plans import all_queries
from hadoop_project_spark.plans.registry import DRIVER_WINDOW

WINDOW = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Regression anchors for round 17: the headline set and every rider of
# the one shingle path (dedup.doc_shingle_sets, minhash_signatures and
# doc_band_keys) — must be proven green THIS round.
MUST_VERIFY = {
    # headline (every round)
    "word_count",
    "pricing_summary",
    "regional_revenue",
    "two_leg_conversion",
    "priority_month_matrix",
    # doc_shingle_sets stream consumers
    "bloom_decontaminate_fpr",
    "hll_source_distinct_shingles",
    "hll_source_overlap",
    "decontaminate_ngram",
    "contrastive_pairs",
    "contrastive_dense_negatives",
    # minhash_signatures / doc_band_keys
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
    # ssjoin.py readers of doc_shingle_sets
    "ssjoin_prefix_pairs",
    "doc_duplicate_span_ratio",
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


def test_driver_window_set_is_the_window():
    """DRIVER_WINDOW names only registered queries and exactly WINDOW of
    them, so the first WINDOW of all_queries() are its names (a
    misspelled name would let an outside query into the window)."""
    qs = all_queries()
    unknown = sorted(DRIVER_WINDOW - set(qs))
    assert not unknown, f"DRIVER_WINDOW names no registered query: {unknown}"
    assert len(DRIVER_WINDOW) == WINDOW
    assert set(list(qs)[:WINDOW]) == DRIVER_WINDOW


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
