"""Hybrid-retrieval queries (operators/retrieval.py): reciprocal-rank
fusion of lexical and dense rankings, and BM25 pseudo-relevance
feedback into a dense re-rank.

Every ranking decision is exact cross-engine: Jaccard is one int/int
division, cosines are rounded to 9 dp before ranking (the ANN-family
rule), PRF centroids fold in fixed rank order with fixed arity, and the
fused RRF key is an integer (micro-units, integer division) — so the
oracles re-derive the ENTIRE pipeline (token sets, BM25 chain,
centroids, cosines, both rankings, the fusion) from scratch and must
hash-match bit-for-bit.

The reference has no retrieval layer; this is the extension surface's
RAG/eval-mining story on top of the certified BM25 (invindex_queries)
and ANN (similarity_queries) families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators import invindex as ix
from hadoop_project_spark.operators import retrieval as rt
from hadoop_project_spark.plans.invindex_queries import (
    BM25_K,
    BM25_QUERIES,
    _sql_bm25_ctes,
)
from hadoop_project_spark.plans.registry import register
from hadoop_project_spark.plans.similarity_queries import DIM, _sql_cosine
from hadoop_project_spark.plans.text_pipeline import SQL_NORM

N_QUERIES = 8  # query-by-example ids — same set as the ANN family
LEG_DEPTH = 20  # per-leg ranking depth fed into fusion
HYBRID_K = 10  # fused top-k
PRF_M = 3  # feedback docs per query (fixed arity keeps the fold exact)
PRF_DENSE_DEPTH = 20

# Lexical leg: distinct-token postings with set sizes carried along.
_SQL_TOKSETS = f"""tokset AS (
      SELECT doc_id,
             list_distinct([t for t in string_split({SQL_NORM}, ' ')
                            if t <> '']) AS ts
      FROM documents
    ),
    tok AS (SELECT doc_id, len(ts) AS n, UNNEST(ts) AS term FROM tokset)"""


def _sql_rrf_tail(
    a_leg: str, b_leg: str, a_rank: str, b_rank: str, k: int
) -> str:
    """FULL OUTER rank join + integer-micro-unit RRF + final window —
    shared verbatim by both fusion oracles so the fusion arithmetic has
    exactly one SQL spelling."""
    return f"""fused AS (
      SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.neighbor_id, d.neighbor_id) AS neighbor_id,
             COALESCE(l.r, 0) AS {a_rank},
             COALESCE(d.r, 0) AS {b_rank}
      FROM {a_leg} l
      FULL OUTER JOIN {b_leg} d
        ON l.query_id = d.query_id AND l.neighbor_id = d.neighbor_id
    ),
    sc AS (
      SELECT query_id, neighbor_id, {a_rank}, {b_rank},
             (CASE WHEN {a_rank} > 0
                   THEN {rt.RRF_MICRO} // ({rt.RRF_K} + {a_rank})
                   ELSE 0 END
            + CASE WHEN {b_rank} > 0
                   THEN {rt.RRF_MICRO} // ({rt.RRF_K} + {b_rank})
                   ELSE 0 END) AS rrf_micro
      FROM fused
    ),
    fin AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf_micro DESC, neighbor_id
      ) AS rank
      FROM sc
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST({a_rank} AS INT) AS {a_rank},
           CAST({b_rank} AS INT) AS {b_rank},
           CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(rank AS INT) AS rank
    FROM fin WHERE rank <= {k}"""


def _sql_hybrid_rrf() -> str:
    return f"""
    WITH {_SQL_TOKSETS},
    qt AS (
      SELECT doc_id AS query_id, n AS nq, term
      FROM tok WHERE doc_id < {N_QUERIES}
    ),
    inter AS (
      SELECT q.query_id, c.doc_id AS neighbor_id,
             MAX(q.nq) AS nq, MAX(c.n) AS nc,
             CAST(COUNT(*) AS BIGINT) AS ni
      FROM tok c JOIN qt q ON c.term = q.term AND c.doc_id <> q.query_id
      GROUP BY 1, 2
    ),
    lex AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY CAST(ni AS DOUBLE) / (nq + nc - ni) DESC,
                        neighbor_id
             ) AS r
      FROM inter
    ),
    qv AS (
      SELECT vec_id AS query_id, embedding AS q
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    ds AS (
      SELECT qv.query_id, c.vec_id AS neighbor_id,
             {_sql_cosine("qv.q", "c.embedding")} AS cosine
      FROM embeddings c, qv WHERE c.vec_id <> qv.query_id
    ),
    dense AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
             ) AS r
      FROM ds
    ),
    {_sql_rrf_tail(
        f"(SELECT * FROM lex WHERE r <= {LEG_DEPTH})",
        f"(SELECT * FROM dense WHERE r <= {LEG_DEPTH})",
        "lex_rank",
        "dense_rank",
        HYBRID_K,
    )}
    """


@register(
    "hybrid_topk_rrf",
    oracle=_sql_hybrid_rrf(),
    tags=("retrieval", "similarity", "fusion", "extension"),
)
def hybrid_topk_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-example HYBRID retrieval: token-Jaccard lexical leg
    (postings-form candidates — only docs sharing a token, the stored
    inverted index's probe shape at scale) fused with the exact-cosine
    dense leg by reciprocal-rank fusion in integer micro-units.
    embeddings.vec_id ≡ documents.doc_id (the corpus's embedding column
    stored side by side). The oracle re-derives token sets, Jaccards,
    cosines, both rankings, and the fusion from scratch."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return rt.hybrid_rrf_topk(docs, emb, N_QUERIES, LEG_DEPTH, HYBRID_K)


def _sql_prf_rerank() -> str:
    e = [f"e{j}.embedding" for j in (1, 2, 3)]
    cent_expr = (
        f"[((CAST({e[0]}[i] AS DOUBLE) + CAST({e[1]}[i] AS DOUBLE))"
        f" + CAST({e[2]}[i] AS DOUBLE)) / {float(PRF_M)!r}"
        f" for i in range(1, {DIM + 1})]"
    )
    return f"""
    WITH {_sql_bm25_ctes()},
    fb AS (SELECT query, doc_id, rnk FROM rk WHERE rnk <= {PRF_M}),
    cent AS (
      SELECT a.query, {cent_expr} AS qv
      FROM (SELECT query, doc_id FROM fb WHERE rnk = 1) a
      JOIN (SELECT query, doc_id FROM fb WHERE rnk = 2) b USING (query)
      JOIN (SELECT query, doc_id FROM fb WHERE rnk = 3) c3 USING (query)
      JOIN embeddings e1 ON e1.vec_id = a.doc_id
      JOIN embeddings e2 ON e2.vec_id = b.doc_id
      JOIN embeddings e3 ON e3.vec_id = c3.doc_id
    ),
    ds AS (
      SELECT t.query AS query_id, c.vec_id AS neighbor_id,
             {_sql_cosine("t.qv", "c.embedding")} AS cosine
      FROM embeddings c, cent t
    ),
    dense AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
             ) AS r
      FROM ds
    ),
    bm AS (
      SELECT query AS query_id, doc_id AS neighbor_id, rnk AS r
      FROM rk WHERE rnk <= {BM25_K}
    ),
    {_sql_rrf_tail(
        "bm",
        f"(SELECT * FROM dense WHERE r <= {PRF_DENSE_DEPTH})",
        "bm25_rank",
        "dense_rank",
        HYBRID_K,
    )}
    """


def _sql_prf_final_fixup(sql: str) -> str:
    """The PRF fusion keys on the TEXT query, so the shared tail's
    BIGINT cast of query_id must become VARCHAR."""
    return sql.replace(
        "CAST(query_id AS BIGINT) AS query_id",
        "CAST(query_id AS VARCHAR) AS query",
    )


@register(
    "bm25_prf_dense_rerank",
    oracle=_sql_prf_final_fixup(_sql_prf_rerank()),
    tags=("retrieval", "bm25", "prf", "fusion", "extension"),
)
def bm25_prf_dense_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern retrieval pipeline for a TEXT query with no
    query embedding: BM25 top-k → Rocchio pseudo-relevance-feedback
    centroid (mean of the top-3 docs' embeddings, folded in rank order
    so the float sum is fixed-arity exact) → dense cosine re-rank →
    RRF fusion of the lexical and dense rankings. Queries whose BM25
    ranking has fewer than {PRF_M} docs drop out identically on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # pinned: the BM25 ranking feeds BOTH the PRF centroid path and the
    # fusion's lexical leg — unpinned, the whole tf/df/dl scoring chain
    # and top-k window execute twice (round 12: profiled as repeated
    # ~4 s jobs inside this query; the pinned relation is queries × k
    # rows, so the blocking pin job costs the one scoring pass it must)
    from hadoop_project_spark.execution import eager_pin

    bm25 = eager_pin(ix.bm25_topk(docs, BM25_QUERIES, BM25_K))
    cent = rt.prf_centroids(
        bm25.select("query", "doc_id", "rnk"), emb, PRF_M
    )
    dense = rt.dense_rerank(cent, emb, PRF_DENSE_DEPTH)
    bm_leg = bm25.select(
        F.col("query").alias("query_id"),
        F.col("doc_id").alias("neighbor_id"),
        F.col("rnk").alias("rank"),
    )
    fused = rt.rrf_fuse(bm_leg, dense, HYBRID_K, "bm25_rank", "dense_rank")
    return fused.select(
        F.col("query_id").cast("string").alias("query"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "bm25_rank",
        "dense_rank",
        "rrf_micro",
        "rank",
    )


# ---------------------------------------------------------------------------
# MMR diversified re-rank (round 11): greedy diversity over the dense
# top-20 pool, exact in integer nano-units, oracle = K unrolled CTE
# steps (the chained-CTE iterative pattern).
# ---------------------------------------------------------------------------
MMR_POOL = 20
MMR_K = 5


def _sql_mmr_rerank() -> str:
    lam, div = rt.MMR_LAM_NUM, rt.MMR_DIV_NUM
    steps = []
    for i in range(2, MMR_K + 1):
        steps.append(f"""selu{i - 1} AS (
      {" UNION ALL ".join(
          f"SELECT query_id, nid FROM sel{j}" for j in range(1, i)
      )}
    ),
    sc{i} AS (
      SELECT r.query_id, r.nid, r.rel_n,
             {lam} * r.rel_n - {div} * MAX(p.sim_n) AS score_n
      FROM cand r
      JOIN psim p ON p.query_id = r.query_id AND p.a = r.nid
      JOIN selu{i - 1} s ON s.query_id = p.query_id AND s.nid = p.b
      WHERE NOT EXISTS (
        SELECT 1 FROM selu{i - 1} x
        WHERE x.query_id = r.query_id AND x.nid = r.nid
      )
      GROUP BY r.query_id, r.nid, r.rel_n
    ),
    sel{i} AS (
      SELECT query_id, nid, rel_n, score_n FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY score_n DESC, nid
        ) AS rn FROM sc{i}
      ) WHERE rn = 1
    )""")
    finals = " UNION ALL ".join(
        [f"SELECT query_id, nid, 1 AS step, rel_n, {lam} * rel_n AS mmr_n"
         " FROM sel1"]
        + [
            f"SELECT query_id, nid, {i}, rel_n, score_n FROM sel{i}"
            for i in range(2, MMR_K + 1)
        ]
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    pool AS (
      SELECT query_id, neighbor_id, cosine FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_sql_cosine("q.qv", "c.embedding")} AS cosine,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_sql_cosine("q.qv", "c.embedding")} DESC,
                          c.vec_id
               ) AS rn
        FROM embeddings c, q WHERE c.vec_id <> q.query_id
      ) WHERE rn <= {MMR_POOL}
    ),
    cand AS (
      SELECT query_id, neighbor_id AS nid,
             CAST(ROUND(cosine * 1e9) AS BIGINT) AS rel_n
      FROM pool
    ),
    psim AS (
      SELECT a.query_id, a.nid AS a, b.nid AS b,
             CAST(ROUND({_sql_cosine("ea.embedding", "eb.embedding")}
                        * 1e9) AS BIGINT) AS sim_n
      FROM cand a
      JOIN cand b ON b.query_id = a.query_id AND b.nid <> a.nid
      JOIN embeddings ea ON ea.vec_id = a.nid
      JOIN embeddings eb ON eb.vec_id = b.nid
    ),
    sel1 AS (
      SELECT query_id, nid, rel_n FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY rel_n DESC, nid
        ) AS rn FROM cand
      ) WHERE rn = 1
    ),
    {",".join(steps)}
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(nid AS BIGINT) AS neighbor_id,
           CAST(step AS INT) AS step,
           CAST(rel_n AS BIGINT) AS rel_nano,
           CAST(mmr_n AS BIGINT) AS mmr_nano
    FROM ({finals})
    """


@register(
    "mmr_diversified_topk",
    oracle=_sql_mmr_rerank(),
    tags=("retrieval", "similarity", "mmr", "diversity", "extension"),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-rank of the dense top-{MMR_POOL}
    pool: step 1 takes the most relevant candidate, each later step the
    argmax of 7*rel - 3*max(sim to already-selected) — the standard
    diversified retrieval output (dedup the RESULT LIST, not the
    corpus). All scores are integer nano-units of 9dp-rounded cosines,
    so the greedy argmax chain is bit-identical cross-engine; the
    oracle replays all {MMR_K} greedy steps as unrolled CTEs. Pool
    ranking and pairwise sims stay JVM-side; only the O(k x pool)
    integer greedy runs per query group in a cogrouped applyInPandas."""
    from pyspark.sql import functions as F

    from hadoop_project_spark.execution import eager_pin
    from hadoop_project_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    pool = rt.dense_topk(emb, N_QUERIES, MMR_POOL)
    # EAGER pin: the corpus-wide dense ranking feeds FIVE consumers
    # (pool_ids, both pair sides, the sim join, mmr_select); unpinned,
    # each broadcast-exchange subtree recomputes the whole top-k
    # pipeline
    cand = eager_pin(
        pool.select(
            "query_id", "neighbor_id",
            rt.nano(F.col("score")).alias("rel_nano"),
        )
    )
    # only the pool's <= N_QUERIES x MMR_POOL distinct ids need vectors:
    # broadcast the tiny id set into the corpus join, then pin the
    # bounded result consumed by both broadcast sides
    pool_ids = cand.select(F.col("neighbor_id").alias("vec_id")).distinct()
    ev = eager_pin(
        emb.join(F.broadcast(pool_ids), "vec_id").select(
            "vec_id", "embedding"
        )
    )

    ca = cand.select("query_id", F.col("neighbor_id").alias("a")).alias("ca")
    cb = cand.select("query_id", F.col("neighbor_id").alias("b")).alias("cb")
    pairs = (
        ca.join(cb, F.col("ca.query_id") == F.col("cb.query_id"))
        .filter(F.col("a") != F.col("b"))
        .select(F.col("ca.query_id").alias("query_id"), "a", "b")
    )
    ea = sim.with_norm(
        ev.select(F.col("vec_id").alias("a"), F.col("embedding").alias("q_vec")),
        "q",
    )
    eb = sim.with_norm(
        ev.select(F.col("vec_id").alias("b"), F.col("embedding").alias("c_vec")),
        "c",
    )
    psim = (
        pairs.join(F.broadcast(ea), "a")
        .join(F.broadcast(eb), "b")
        .select(
            "query_id", "a", "b", rt.nano(sim.cosine_9dp()).alias("sim_nano")
        )
    )
    return rt.mmr_select(cand, psim, MMR_K)
