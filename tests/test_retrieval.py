"""Hybrid-retrieval operators (operators/retrieval.py): RRF fusion
semantics, PRF centroid exactness, and leg composition — local unit
tests; the full pipelines are oracle-hash-verified through the registry
(tests/test_oracle_parity.py: hybrid_topk_rrf, bm25_prf_dense_rerank).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import eager_pin
from hadoop_project_spark.operators import retrieval as rt


def _leg(spark, rows):
    return spark.createDataFrame(
        rows, "query_id long, neighbor_id long, rank int"
    )


def test_rrf_fuse_integer_units_and_absent_legs(spark):
    """A doc in both legs sums both contributions; a doc in one leg gets
    rank 0 on the other side and exactly RRF_MICRO // (RRF_K + r)."""
    a = _leg(spark, [(1, 10, 1), (1, 11, 2)])
    b = _leg(spark, [(1, 10, 2), (1, 12, 1)])
    got = {
        r["neighbor_id"]: (r["lex_rank"], r["dense_rank"], r["rrf_micro"])
        for r in rt.rrf_fuse(a, b, k=10).collect()
    }
    m, k = rt.RRF_MICRO, rt.RRF_K
    assert got[10] == (1, 2, m // (k + 1) + m // (k + 2))
    assert got[11] == (2, 0, m // (k + 2))
    assert got[12] == (0, 1, m // (k + 1))


def test_rrf_fuse_ranking_and_ties(spark):
    """Fused order is rrf_micro DESC with neighbor_id tie-break, and k
    truncates."""
    a = _leg(spark, [(1, 10, 1), (1, 11, 1)])  # impossible in one leg,
    b = _leg(spark, [(1, 12, 1)])  # but exercises the tie-break exactly
    rows = rt.rrf_fuse(a, b, k=2).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in rows] == [10, 11]
    assert [r["rank"] for r in rows] == [1, 2]


def test_jaccard_topk_values(spark):
    """Exact Jaccard on a crafted corpus; zero-overlap docs are not
    candidates at all."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d"),
            (1, "a b c d"),  # J = 1.0
            (2, "a b x y"),  # J = 2/6
            (3, "p q r s"),  # no shared token -> absent
        ],
        "doc_id long, text string",
    )
    rows = rt.jaccard_topk(docs, n_queries=1, k=10).collect()
    got = {r["neighbor_id"]: (r["score"], r["rank"]) for r in rows}
    assert set(got) == {1, 2}
    assert got[1] == (1.0, 1)
    assert got[2] == (2.0 / 6.0, 2)


def test_prf_centroid_rank_order_fold(spark, sf_dir):
    """Centroid equals the fixed-order ((v1+v2)+v3)/3 fold of the
    top-3 docs' embeddings, and under-filled queries drop."""
    emb = load_table(spark, sf_dir, "embeddings")
    topk = spark.createDataFrame(
        [("q", 0, 1), ("q", 1, 2), ("q", 2, 3), ("short", 0, 1)],
        "query string, doc_id long, rnk int",
    )
    out = rt.prf_centroids(topk, emb, m=3).collect()
    assert [r["query"] for r in out] == ["q"]
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    expect = [
        ((float(vecs[0][i]) + float(vecs[1][i])) + float(vecs[2][i])) / 3.0
        for i in range(len(vecs[0]))
    ]
    assert out[0]["q_vec"] == expect


def test_hybrid_legs_agree_with_components(spark, sf_dir):
    """The fused result's per-leg ranks equal the standalone legs'."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    fused = rt.hybrid_rrf_topk(docs, emb, n_queries=2, leg_depth=5, k=5)
    lex = rt.jaccard_topk(docs, 2, 5)
    lex_ranks = {
        (r["query_id"], r["neighbor_id"]): r["rank"] for r in lex.collect()
    }
    for r in fused.collect():
        if r["lex_rank"] > 0:
            assert lex_ranks[(r["query_id"], r["neighbor_id"])] == r["lex_rank"]


def test_hard_negatives_exclude_positives_and_rank(spark):
    """Hard negatives: candidates must share a 3-shingle with the
    anchor (token-only overlap is NOT enough), excluded (positive)
    pairs and the anchor itself never appear, and ranking is by exact
    unigram Jaccard descending."""
    from hadoop_project_spark.operators import retrieval as rt

    docs = spark.createDataFrame(
        [
            (0, "a b c d e"),
            (1, "a b c d e"),   # the positive (excluded)
            (2, "a b c x y"),   # shares shingle "a b c"; J = 3/7
            (3, "c d e q r"),   # shares shingle "c d e"; J = 3/7
            (4, "a p c q e"),   # shares tokens but NO shingle -> absent
            (5, "zz yy xx"),    # no overlap -> absent
        ],
        "doc_id long, text string",
    )
    anchors = spark.createDataFrame([(0,)], "anchor_id long")
    excl = spark.createDataFrame([(0, 1), (1, 0)], "anchor_id long, other_id long")
    rows = rt.hard_negatives_for_anchors(
        docs, anchors, excl, k=5, sets=eager_pin(rt.doc_token_sets(docs))
    ).collect()
    got = [(r["neighbor_id"], r["score"], r["rank"]) for r in sorted(rows, key=lambda r: r["rank"])]
    # equal scores tie-break on neighbor_id
    assert got == [(2, 3.0 / 7.0, 1), (3, 3.0 / 7.0, 2)]


def test_hard_negatives_df_cap_fuses_hot_shingles(spark):
    """A shingle occurring in more docs than the df cap generates no
    candidates."""
    from hadoop_project_spark.operators import retrieval as rt

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(5)],
        "doc_id long, text string",
    )
    anchors = spark.createDataFrame([(0,)], "anchor_id long")
    excl = spark.createDataFrame([], "anchor_id long, other_id long")
    out = rt.hard_negatives_for_anchors(
        docs,
        anchors,
        excl,
        k=5,
        sets=eager_pin(rt.doc_token_sets(docs)),
        df_cap=3,
    )
    assert out.count() == 0


def test_hard_negatives_guard_the_caller_supplied_sets(spark):
    """`sets` must have exactly the doc_token_sets columns and already
    be persisted; either breach raises before any job runs."""
    import pytest

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    anchors = spark.createDataFrame([(0,)], "anchor_id long")
    excl = spark.createDataFrame([], "anchor_id long, other_id long")
    with pytest.raises(ValueError, match="persisted"):
        rt.hard_negatives_for_anchors(
            docs, anchors, excl, k=5, sets=rt.doc_token_sets(docs)
        )
    wide = eager_pin(rt.doc_token_sets(docs).withColumn("x", F.lit(1)))
    with pytest.raises(ValueError, match="columns"):
        rt.hard_negatives_for_anchors(docs, anchors, excl, k=5, sets=wide)


def test_mmr_select_diversity_and_ties(spark):
    """MMR: step 1 = most relevant; a near-duplicate of the first pick
    is deferred below a less-relevant but diverse candidate."""
    from hadoop_project_spark.operators import retrieval as rt

    # rel: 10 best, 11 almost as relevant but ~identical to 10,
    # 12 less relevant but diverse
    cand = spark.createDataFrame(
        [(1, 10, 900_000_000), (1, 11, 890_000_000), (1, 12, 500_000_000)],
        "query_id long, neighbor_id long, rel_nano long",
    )
    sims = []
    hi, lo = 990_000_000, 10_000_000
    m = {(10, 11): hi, (10, 12): lo, (11, 12): lo}
    for (a, b), s in m.items():
        sims += [(1, a, b, s), (1, b, a, s)]
    psim = spark.createDataFrame(
        sims, "query_id long, a long, b long, sim_nano long"
    )
    rows = {r["step"]: r for r in rt.mmr_select(cand, psim, 3).collect()}
    assert rows[1]["neighbor_id"] == 10
    assert rows[1]["mmr_nano"] == 7 * 900_000_000
    # 11: 7*0.89e9 - 3*0.99e9 = 3.26e9 < 12: 7*0.5e9 - 3*0.01e9 = 3.47e9
    assert rows[2]["neighbor_id"] == 12
    assert rows[3]["neighbor_id"] == 11
