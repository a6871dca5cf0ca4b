"""Hybrid retrieval: lexical + dense legs fused by reciprocal-rank
fusion (RRF), plus BM25 pseudo-relevance feedback (PRF) into a dense
re-rank — the standard modern retrieval stack (Cormack et al.'s RRF;
Rocchio-style PRF) composed from this repo's already-certified ranking
operators.

Scale notes (the 100 TB shapes):

* Every leg ends in operators/similarity.global_topk: one per-query
  row_number window whose Partial WindowGroupLimit keeps at most k rows
  per partition and query before the exchange, so no leg ever funnels
  the full scored set into one reducer.
* The lexical leg is computed in POSTINGS form: distinct tokens are
  exploded once with the per-doc set size carried alongside, the tiny
  query-side postings broadcast, and the only shuffle is the
  (query_id, doc_id) intersection-count aggregate. This is exactly the
  probe the stored inverted index answers at scale (term-bucketed scan
  instead of the explode), so the plan transfers to the served layout
  unchanged.
* Fusion itself is O(queries x leg_depth) rows — bounded by construction
  — so the full-outer rank join and the final window cost nothing at any
  corpus size.

Determinism discipline: RRF scores are INTEGER micro-units
(RRF_MICRO // (RRF_K + rank), integer division) so fusion involves no
float folds at all; leg scores that are ratios (Jaccard) or rounded
cosines follow the repo-wide single-division / round-to-9dp parity
rules, making every ranking decision bit-identical to the DuckDB
oracles (plans/retrieval_queries.py).

Reference analog: the reference engine has no retrieval layer at all —
this extends the inverted-index family (operators/invindex.py, itself
the generalization of WordCount1/src/main/java/WordCount.java:24) into
the query-serving surface an LLM data pipeline needs for RAG corpus
curation and eval-set mining.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from hadoop_project_spark.operators import similarity as sim
from hadoop_project_spark.operators import textstats as ts

# RRF constant from Cormack/Clarke/Buettcher (SIGIR'09): 1/(60 + rank).
# Scores are scaled to integer micro-units so the fused key is exact on
# every engine: contribution = RRF_MICRO // (RRF_K + rank).
RRF_K = 60
RRF_MICRO = 1_000_000


def topk_per_query(
    scored: DataFrame, k: int, score_col: str = "score"
) -> DataFrame:
    """Exact per-query top-k of (query_id, neighbor_id, score_col) rows
    with (score DESC, neighbor_id ASC) total order — the generic form of
    similarity.global_topk (which it delegates to, renaming the score
    column through its window)."""
    ranked = sim.global_topk(
        scored.withColumnRenamed(score_col, "cosine"), k
    )
    return ranked.withColumnRenamed("cosine", score_col)


def distinct_token_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, n_toks, term) — one row per DISTINCT whitespace token
    per document, with the token-set size carried on every row so the
    Jaccard denominator needs no second corpus join.

    explode_outer + term IS NOT NULL, not explode: an inner explode of
    the bare array makes Spark infer size(ts) > 0 and push it to the
    scan with the tokenizer inlined, tokenizing every document twice."""
    sets = docs.select(
        "doc_id",
        F.array_distinct(ts.tokens_nonempty("text")).alias("ts"),
    )
    return sets.select(
        "doc_id",
        F.size("ts").cast("long").alias("n_toks"),
        F.explode_outer("ts").alias("term"),
    ).filter(F.col("term").isNotNull())


def jaccard_topk(docs: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Query-by-example lexical leg: token-set Jaccard of each of the
    first ``n_queries`` documents against every other document sharing
    at least one token, exact top-k per query.

    Candidates come from the term join (docs with zero shared tokens are
    not candidates — the inverted-index probe shape), so the only
    corpus-sized shuffle is the (query_id, neighbor_id) count aggregate.
    The score is a single int/int division — bit-identical cross-engine.
    """
    tok = distinct_token_postings(docs)
    q = tok.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"),
        F.col("n_toks").alias("nq"),
        "term",
    )
    inter = (
        tok.join(F.broadcast(q), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("neighbor_id"))
        .agg(
            F.count(F.lit(1)).alias("ni"),
            F.max("n_toks").alias("nc"),  # constant per doc
            F.max("nq").alias("nq"),  # constant per query
        )
    )
    scored = inter.select(
        "query_id",
        "neighbor_id",
        (
            F.col("ni").cast("double")
            / (F.col("nq") + F.col("nc") - F.col("ni"))
        ).alias("score"),
    )
    return topk_per_query(scored, k)


def dense_topk(
    emb: DataFrame, n_queries: int, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """Dense leg: sim.brute_force_topk for the first ``n_queries``
    vectors, its 9-dp cosine renamed to ``score``."""
    return sim.brute_force_topk(
        emb, emb.filter(F.col(id_col) < n_queries), k, id_col=id_col
    ).withColumnRenamed("cosine", "score")


def _rrf_contrib(rank_col: str):
    """Integer micro-unit RRF contribution; absent-from-leg (rank 0)
    contributes nothing."""
    return F.when(
        F.col(rank_col) > 0,
        F.expr(f"CAST({RRF_MICRO} DIV ({RRF_K} + {rank_col}) AS BIGINT)"),
    ).otherwise(F.lit(0).cast("bigint"))


def rrf_fuse(
    leg_a: DataFrame,
    leg_b: DataFrame,
    k: int,
    a_rank: str = "lex_rank",
    b_rank: str = "dense_rank",
) -> DataFrame:
    """Fuse two (query_id, neighbor_id, rank) leg rankings by RRF.

    Returns (query_id, neighbor_id, <a_rank>, <b_rank>, rrf_micro, rank)
    — absent legs surface as rank 0, the fused key is an exact BIGINT,
    and ties break on neighbor_id. Input legs are bounded (<= leg depth
    per query), so the full-outer join and window are O(queries x depth).
    """
    a = leg_a.select(
        "query_id", "neighbor_id", F.col("rank").alias(a_rank)
    )
    b = leg_b.select(
        "query_id", "neighbor_id", F.col("rank").alias(b_rank)
    )
    fused = (
        a.join(b, ["query_id", "neighbor_id"], "full_outer")
        .select(
            "query_id",
            "neighbor_id",
            F.coalesce(a_rank, F.lit(0)).cast("int").alias(a_rank),
            F.coalesce(b_rank, F.lit(0)).cast("int").alias(b_rank),
        )
        .withColumn(
            "rrf_micro", (_rrf_contrib(a_rank) + _rrf_contrib(b_rank))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    n_queries: int,
    leg_depth: int,
    k: int,
) -> DataFrame:
    """Query-by-example hybrid retrieval: token-Jaccard lexical leg +
    cosine dense leg (embeddings.vec_id ≡ documents.doc_id — the
    embedding column of the same corpus, stored side by side as a real
    pipeline would), each to ``leg_depth``, RRF-fused to top ``k``."""
    lex = jaccard_topk(docs, n_queries, leg_depth)
    dense = dense_topk(emb, n_queries, leg_depth)
    out = rrf_fuse(lex, dense, k)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "lex_rank",
        "dense_rank",
        "rrf_micro",
        "rank",
    )


# Hot-shingle fuse for the hard-negative candidate join: a shingle
# occurring in more than this many documents (boilerplate) generates no
# candidates — the same discipline as operators/substring.MAX_GRAM_OCC
# and the PPJoin rarest-prefix rule. At the shipped fixtures every
# shingle df is far below it (max 25 at sf0.1), so it is a pure scale
# fuse, not a behavior knob.
NEG_SHINGLE_DF_CAP = 64


def doc_token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, ts, n): each document's DISTINCT unigram token array
    and its size — the exact-Jaccard scoring relation of
    hard_negatives_for_anchors, exposed so a caller that already owns
    an independent blocking eager-pin job (contrastive_pairs' ssjoin
    positives) can build this one CONCURRENTLY with it (guide §2.6)
    instead of paying the two pin jobs back-to-back."""
    return docs.select(
        "doc_id",
        F.array_distinct(ts.tokens_nonempty("text")).alias("ts"),
    ).select("doc_id", "ts", F.size("ts").cast("long").alias("n"))


def hard_negatives_for_anchors(
    docs: DataFrame,
    anchors: DataFrame,
    exclude_pairs: DataFrame,
    k: int,
    sets: DataFrame,
    df_cap: int = NEG_SHINGLE_DF_CAP,
) -> DataFrame:
    """Top-k HARD NEGATIVES per anchor: documents that share a
    (df-capped) 3-shingle with the anchor — lexically close at the
    phrase level — ranked by exact unigram token-set Jaccard, excluding
    ``exclude_pairs`` (the positive/near-dup set). The classic
    contrastive-training negative: close enough to confuse a lexical
    model, not the same content.

    Candidate generation is SHINGLE-BLOCKED, never token-blocked: a
    natural-language corpus's unigram vocabulary has stopword-class
    terms whose postings touch most documents (measured here: 31-term
    fixture vocabulary, max df 3923/5000 — a token-blocked candidate
    join materialized ~90M rows at sf0.1), while 3-shingle dfs stay
    small (max 25) and the df cap fuses any boilerplate shingle. The
    anchor-side shingle postings broadcast (anchors are the docs in
    positive pairs — a tiny fraction of the corpus); scoring joins the
    per-doc distinct token ARRAYS only for the bounded candidate set.
    Returns (query_id, neighbor_id, score, rank).

    ``sets`` is the scoring relation ``eager_pin(doc_token_sets(docs))``
    for the same corpus, pinned by the caller (contrastive_pairs builds
    it concurrently with its own blocking pin, guide §2.6). Two guards
    check what is checkable here and raise ValueError otherwise: its
    column NAMES must be exactly {doc_id, ts, n} — no column missing,
    none extra, order free, types not checked — and it must already be
    persisted (an unpinned relation recomputes the corpus tokenization
    once per consuming exchange: the anchor-side and candidate-side
    scoring exchanges start concurrently). Provenance — that it was
    built from ``docs`` — remains the caller's promise.
    """
    from hadoop_project_spark.execution import pin
    from hadoop_project_spark.operators import dedup as dd

    expected = {"doc_id", "ts", "n"}
    if set(sets.columns) != expected:
        raise ValueError(
            "hard_negatives_for_anchors: `sets` must be the pinned "
            f"doc_token_sets relation (columns {sorted(expected)}), "
            f"got columns {sets.columns}"
        )
    if sets.storageLevel == StorageLevel.NONE:
        raise ValueError(
            "hard_negatives_for_anchors: `sets` must already be "
            "persisted (eager_pin(doc_token_sets(docs))) — an unpinned "
            "relation recomputes the corpus tokenization once per "
            "consuming exchange"
        )
    # pinned: the df aggregate, the corpus join side, and the anchor
    # join side all consume the exploded shingle stream
    sh = pin(dd.doc_shingles(docs))
    dfc = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("sh")
    )
    shc = sh.join(dfc, "sh")
    a_sh = shc.join(
        F.broadcast(anchors), shc["doc_id"] == anchors["anchor_id"]
    ).select("anchor_id", "sh")
    cand = (
        shc.join(F.broadcast(a_sh), "sh")
        .filter(F.col("doc_id") != F.col("anchor_id"))
        .select(
            F.col("anchor_id").alias("query_id"),
            F.col("doc_id").alias("neighbor_id"),
        )
        .distinct()
    )
    excl = exclude_pairs.select(
        F.col("anchor_id").alias("query_id"),
        F.col("other_id").alias("neighbor_id"),
    )
    cand = cand.join(F.broadcast(excl), ["query_id", "neighbor_id"], "left_anti")
    a_sets = sets.select(
        F.col("doc_id").alias("query_id"),
        F.col("ts").alias("a_ts"),
        F.col("n").alias("na"),
    )
    c_sets = sets.select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("ts").alias("c_ts"),
        F.col("n").alias("nc"),
    )
    inter = F.size(F.array_intersect("a_ts", "c_ts"))
    scored = (
        cand.join(a_sets, "query_id")
        .join(c_sets, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                inter.cast("double") / (F.col("na") + F.col("nc") - inter)
            ).alias("score"),
        )
    )
    return topk_per_query(scored, k)


def prf_centroids(topk: DataFrame, emb: DataFrame, m: int) -> DataFrame:
    """Rocchio-style pseudo-relevance-feedback query vectors: the
    element-wise mean of the top-``m`` ranked documents' embeddings per
    query, folded IN RANK ORDER (((v1+v2)+v3)/m) so the float sum is
    bit-identical to the oracle's fixed-arity fold.

    ``topk``: (query, doc_id, rnk) — any ranking; only rnk <= m rows are
    used, and queries with fewer than ``m`` ranked docs are dropped (both
    engines drop identically). Driver state is zero: the fold happens in
    a collect_list aggregate bounded at m rows per query.
    """
    fb = (
        topk.filter(F.col("rnk") <= m)
        .join(emb, topk["doc_id"] == emb["vec_id"])
        .select(
            "query",
            F.struct(
                F.col("rnk").alias("rnk"), F.col("embedding").alias("v")
            ).alias("e"),
        )
    )
    agg = fb.groupBy("query").agg(
        F.sort_array(F.collect_list("e")).alias("es")
    )
    agg = agg.filter(F.size("es") == m)
    summed = agg.select(
        "query",
        F.aggregate(
            F.slice("es", 2, m - 1),
            F.transform(
                F.element_at("es", 1)["v"], lambda x: x.cast("double")
            ),
            lambda acc, e: F.zip_with(
                acc, e["v"], lambda a, b: a + b.cast("double")
            ),
        ).alias("s"),
    )
    return summed.select(
        "query",
        F.transform("s", lambda x: x / F.lit(float(m))).alias("q_vec"),
    )


def dense_rerank(
    centroids: DataFrame, emb: DataFrame, k: int
) -> DataFrame:
    """Cosine top-k (9 dp) of the corpus against each PRF centroid
    (sim.centroid_topk). ``centroids``: (query, q_vec double[])."""
    q = centroids.select(F.col("query").alias("query_id"), "q_vec")
    return sim.centroid_topk(emb, q, k).withColumnRenamed("cosine", "score")


# ---------------------------------------------------------------------------
# MMR (Maximal Marginal Relevance, Carbonell & Goldstein '98): greedy
# diversified re-rank of a bounded candidate pool. Scores live in exact
# INTEGER nano-units so every greedy comparison is engine-identical:
# rel/sim cosines are 9dp-rounded doubles -> *1e9 rounds to an exact
# BIGINT, and the marginal score is 7*rel_n - 3*maxsim_n
# (lambda = 0.7 scaled by 10) — pure integer arithmetic.
MMR_LAM_NUM = 7  # lambda * 10
MMR_DIV_NUM = 3  # (1 - lambda) * 10


def nano(col: Column) -> Column:
    """Exact integer nano-units of a 9dp-rounded double column."""
    return F.round(_to_col(col) * F.lit(1e9)).cast("long")


def _to_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def mmr_select(cand: DataFrame, psim: DataFrame, k: int) -> DataFrame:
    """Greedy MMR over per-query candidate pools.

    ``cand``: (query_id, neighbor_id, rel_nano) — the pool (bounded,
    e.g. a certified top-20); ``psim``: (query_id, a, b, sim_nano) —
    pairwise candidate similarities, BOTH orientations. Step 1 picks
    argmax rel (ties -> lowest neighbor_id); step i picks argmax
    7*rel_n - 3*max(sim_n to selected). Returns (query_id, neighbor_id,
    step, rel_nano, mmr_nano) with step 1's mmr_nano = 7*rel_n.

    The greedy loop is sequential BY DEFINITION, so it runs per query
    group in one cogrouped applyInPandas over the bounded pool — O(k *
    pool) integer ops per query, never a corpus-sized operation; the
    expensive parts (pool ranking, pairwise sims) stay JVM-side
    upstream. The oracle replays the same greedy as k UNROLLED CTE
    steps (the chained-CTE pattern the K-Means/BPE oracles use).
    """
    import pandas as pd

    out_schema = (
        "query_id long, neighbor_id long, step int, "
        "rel_nano long, mmr_nano long"
    )

    def fn(key, cdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(key[0])
        rel = dict(zip(cdf["neighbor_id"].astype(int), cdf["rel_nano"].astype(int)))
        sims = {
            (int(a), int(b)): int(s)
            for a, b, s in zip(pdf["a"], pdf["b"], pdf["sim_nano"])
        }
        remaining = set(rel)
        selected: list[int] = []
        rows = []
        for step in range(1, k + 1):
            if not remaining:
                break
            best = None
            for n in remaining:
                if not selected:
                    score = MMR_LAM_NUM * rel[n]
                else:
                    # STRICT completeness (ADVICE r11 #1, tightened by
                    # the round-12 review): psim must carry BOTH
                    # orientations for the whole pool. Any missing
                    # (candidate, selected) pair fails loudly with a
                    # descriptive error — a partial pair set (e.g. the
                    # id-ordered single-orientation output of the pair
                    # kernels) would otherwise silently take max over
                    # a subset and corrupt the ranking, while the
                    # oracle's MAX-over-present diverges undetectably.
                    missing = [s for s in selected if (n, s) not in sims]
                    if missing:
                        raise ValueError(
                            f"mmr_select: psim is missing (candidate, "
                            f"selected) similarities for query {qid}, "
                            f"candidate {n} vs selected {missing} — "
                            "pass both orientations of the pool's "
                            "pairwise sims"
                        )
                    score = MMR_LAM_NUM * rel[n] - MMR_DIV_NUM * max(
                        sims[(n, s)] for s in selected
                    )
                # argmax score, ties -> LOWEST neighbor_id
                cur = (score, -n)
                if best is None or cur > best[0]:
                    best = (cur, n, score)
            _, n, score = best
            remaining.discard(n)
            selected.append(n)
            rows.append((qid, n, step, rel[n], score))
        return pd.DataFrame(
            rows,
            columns=["query_id", "neighbor_id", "step", "rel_nano", "mmr_nano"],
        )

    return (
        cand.groupBy("query_id")
        .cogroup(psim.groupBy("query_id"))
        .applyInPandas(fn, schema=out_schema)
    )
