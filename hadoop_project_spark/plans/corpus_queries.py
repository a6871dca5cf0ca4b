"""Corpus-governance queries over `documents`, each with a DuckDB
oracle re-deriving grams, hash-uniforms, and ratio gates from the same
constants as operators/corpus.py — a hash-match proves the sampling /
contamination / repetition decisions themselves, not just row counts.

tests/test_oracle_parity.py hash-verifies each of them in every CI
run, inside the driver's 50-query window (plans/registry.py
DRIVER_WINDOW) or not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators import corpus as cp
from hadoop_project_spark.operators import textstats as ts
from hadoop_project_spark.plans.dedup_queries import SQL_NORM, SQL_SHINGLES_CTE
from hadoop_project_spark.plans.registry import register
from hadoop_project_spark.plans.text_pipeline import (
    SQL_NTOK,
    SQL_PUNCT_RATIO,
    SQL_QUALITY,
    _sql_stop_hits,
)

# The held-out "benchmark" split for decontamination: a deterministic
# 1/97 slice of doc ids, standing in for an eval set distributed with
# the pipeline.
BENCH_MOD = 97


@register(
    "decontaminate_ngram",
    oracle=f"""
    WITH {SQL_SHINGLES_CTE},
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCH_MOD} = 0),
    corp AS (SELECT doc_id, sh FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM corp GROUP BY doc_id),
    hit AS (
      SELECT doc_id, COUNT(*) AS n_overlap_grams
      FROM corp JOIN bench USING (sh) GROUP BY doc_id
    )
    SELECT h.doc_id, t.n_grams, h.n_overlap_grams,
           CAST(h.n_overlap_grams AS DOUBLE) / CAST(t.n_grams AS DOUBLE)
             AS overlap_frac
    FROM hit h JOIN tot t USING (doc_id)
    """,
    tags=("corpus", "decontamination", "extension"),
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing a 3-gram with the benchmark split: the
    eval-set gram list is broadcast, so the corpus never shuffles except
    the per-doc aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return cp.contamination_report(
        docs, bench_pred=F.col("doc_id") % BENCH_MOD == 0
    )


@register(
    "doc_repetition_stats",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id,
             UNNEST([array_to_string(toks[i:i+1], ' ')
                     for i in range(1, greatest(len(toks) - 1, 1) + 1)]) AS g
      FROM norm
    ),
    cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS top_bigram_frac,
           1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS dup_bigram_frac,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             >= {cp.TOP_BIGRAM_FLAG} AS repetitive
    FROM cnt GROUP BY doc_id
    """,
    tags=("corpus", "repetition", "extension"),
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates: duplicate-bigram and
    top-bigram-share ratios plus the threshold flag, all off one
    (doc_id, bigram) shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return cp.repetition_stats(docs)


@register(
    "docs_hash_sample",
    oracle=f"""
    SELECT doc_id, source,
           CAST(u AS DOUBLE) / {float(cp.SAMPLE_MOD)} AS sample_u
    FROM (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) AS u,
             ((CAST(substr(source, 4) AS INT) % 4) + 1) AS rate_num
      FROM documents
    )
    WHERE CAST(u AS BIGINT) * 4 < CAST(rate_num AS BIGINT) * {cp.SAMPLE_MOD}
    """,
    tags=("corpus", "sampling", "extension"),
)
def docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: per-source keep rates of
    1/4..4/4 decided by an exact integer comparison on the md5-derived
    uniform — reproducible across runs and engines, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    rate_num = (F.substring("source", 4, 10).cast("int") % 4) + 1
    return cp.stratified_hash_sample(docs, rate_num=rate_num, rate_den=4)


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH norm AS (
      SELECT source, string_split({SQL_NORM}, ' ') AS toks FROM documents
    ),
    sg AS (
      SELECT DISTINCT source, sh FROM (
        SELECT source,
               UNNEST([array_to_string(toks[i:i+2], ' ')
                       for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS sh
        FROM norm
      )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_inter
      FROM sg a JOIN sg b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.n_inter,
           CAST(i.n_inter AS DOUBLE)
             / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
    tags=("corpus", "overlap", "extension"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level gram-set Jaccard via a gram-keyed
    self-equi-join over the (source, gram) distinct set."""
    docs = load_table(spark, sf_dir, "documents")
    return cp.source_overlap_matrix(docs)


@register(
    "source_quality_cap",
    oracle=f"""
    WITH q AS (
      SELECT source, doc_id, round({SQL_QUALITY}, 9) AS quality_r
      FROM (
        SELECT source, doc_id,
               CAST({SQL_NTOK} AS BIGINT) AS n_tok,
               {SQL_PUNCT_RATIO} AS punct_ratio,
               CAST({_sql_stop_hits('en')} AS BIGINT) AS s_en
        FROM documents
      )
    )
    SELECT source, doc_id, quality_r, cap_rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY quality_r DESC, doc_id ASC) AS INT)
        AS cap_rank
      FROM q
    ) WHERE cap_rank <= {cp.SOURCE_CAP}
    """,
    tags=("corpus", "capping", "extension"),
)
def source_quality_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping: at most SOURCE_CAP docs kept per source, best
    quality first (9-dp-rounded score, doc_id tie-break) — per-source
    window state only, no global ordering."""
    docs = load_table(spark, sf_dir, "documents")
    return cp.cap_per_source(docs, ts.quality_score("text"))


# ---------------------------------------------------------------------------
# Contrastive pair mining (embedding-training data curation)
# ---------------------------------------------------------------------------
NEG_PER_ANCHOR = 3


def _sql_contrastive_pairs() -> str:
    from hadoop_project_spark.operators import retrieval as rt
    from hadoop_project_spark.operators import ssjoin as sj

    tau_n, tau_d = sj.SSJOIN_TAU_NUM, sj.SSJOIN_TAU_DEN
    return f"""
    WITH {SQL_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    si AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pos AS (
      SELECT i.doc_a, i.doc_b, i.i,
             sx.n + sy.n - i.i AS u,
             CAST(i.i AS DOUBLE) / CAST(sx.n + sy.n - i.i AS DOUBLE)
               AS score
      FROM si i
      JOIN sz sx ON sx.doc_id = i.doc_a
      JOIN sz sy ON sy.doc_id = i.doc_b
      WHERE i.i * {tau_d} >= {tau_n} * (sx.n + sy.n - i.i)
    ),
    anch AS (
      SELECT DISTINCT a FROM (
        SELECT doc_a AS a FROM pos UNION ALL SELECT doc_b FROM pos
      )
    ),
    dfc AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh)
            WHERE df <= {rt.NEG_SHINGLE_DF_CAP}),
    shc AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfc USING (sh)),
    ash AS (
      SELECT s.doc_id AS anchor_id, s.sh
      FROM shc s JOIN anch ON s.doc_id = anch.a
    ),
    ncand AS (
      SELECT DISTINCT a.anchor_id, c.doc_id AS other_id
      FROM shc c JOIN ash a ON c.sh = a.sh AND c.doc_id <> a.anchor_id
    ),
    nexcl AS (
      SELECT anchor_id, other_id FROM ncand n
      WHERE NOT EXISTS (
        SELECT 1 FROM pos p
        WHERE (p.doc_a = n.anchor_id AND p.doc_b = n.other_id)
           OR (p.doc_b = n.anchor_id AND p.doc_a = n.other_id)
      )
    ),
    tokset AS (
      SELECT doc_id,
             list_distinct([t for t in string_split({SQL_NORM}, ' ')
                            if t <> '']) AS ts
      FROM documents
    ),
    tok AS (SELECT doc_id, len(ts) AS n, UNNEST(ts) AS term FROM tokset),
    ni AS (
      SELECT n.anchor_id, n.other_id,
             MAX(x.n) AS na, MAX(y.n) AS nc,
             CAST(COUNT(*) AS BIGINT) AS ni
      FROM nexcl n
      JOIN tok x ON x.doc_id = n.anchor_id
      JOIN tok y ON y.doc_id = n.other_id AND y.term = x.term
      GROUP BY 1, 2
    ),
    negc AS (
      SELECT anchor_id, other_id,
             CAST(ni AS DOUBLE) / (na + nc - ni) AS score
      FROM ni
    ),
    negr AS (
      SELECT anchor_id, other_id, score,
             row_number() OVER (
               PARTITION BY anchor_id ORDER BY score DESC, other_id
             ) AS r
      FROM negc
    ),
    posr AS (
      SELECT doc_a AS anchor_id, doc_b AS other_id, score,
             row_number() OVER (
               PARTITION BY doc_a ORDER BY score DESC, doc_b
             ) AS r
      FROM pos
    )
    SELECT CAST(anchor_id AS BIGINT) AS anchor_id,
           CAST(other_id AS BIGINT) AS other_id,
           'positive' AS pair_type, score, CAST(r AS INT) AS rank
    FROM posr
    UNION ALL
    SELECT CAST(anchor_id AS BIGINT), CAST(other_id AS BIGINT),
           'hard_negative', score, CAST(r AS INT)
    FROM negr WHERE r <= {NEG_PER_ANCHOR}
    """


@register(
    "contrastive_pairs",
    oracle=_sql_contrastive_pairs(),
    tags=("corpus", "contrastive", "dedup", "retrieval", "extension"),
)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training pairs for embedding-model fine-tuning,
    mined entirely from certified machinery: POSITIVES are the exact
    near-dup pairs (3-shingle Jaccard >= tau via the PPJoin
    prefix-filtered join — two crawls of the same content), HARD
    NEGATIVES are each anchor's top unigram-Jaccard documents among
    those sharing a df-capped 3-SHINGLE (lexically close at the phrase
    level, not the same content — the negatives that make a contrastive
    objective learn semantics instead of vocabulary).

    Scale shape: positives are the ssjoin (blocked, never all-pairs);
    anchors — docs appearing in a positive — are a tiny fraction of the
    corpus, broadcast into the SHINGLE-blocked candidate join
    (token-blocking is a measured anti-pattern here: see
    operators/retrieval.hard_negatives_for_anchors); exact Jaccard
    scoring joins token arrays only for the bounded candidate set;
    ranking is the group-limited top-k window. The oracle re-derives
    shingles, positives (integer threshold test), the df cap,
    candidates, token sets, exclusions, and both rankings from scratch.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as w

    from hadoop_project_spark.execution import eager_pin, run_overlapped
    from hadoop_project_spark.operators import retrieval as rt
    from hadoop_project_spark.operators import ssjoin as sj

    docs = load_table(spark, sf_dir, "documents")
    # pinned: the prefix-filtered join feeds FOUR consumers (anchors,
    # the exclusion anti-join, the positive output, and — via anchors —
    # the negative candidate join's broadcast side); unpinned, each
    # re-executes the whole ssjoin pipeline (measured at sf0.1:
    # 17.8 s -> ~4 s warm with the pin). The negatives' token-set
    # scoring relation depends only on docs, so its blocking pin job
    # runs CONCURRENTLY with the ssjoin pin (guide §2.6) instead of
    # serializing after it inside hard_negatives_for_anchors.
    pos, sets = run_overlapped(
        [
            lambda: eager_pin(sj.prefix_filtered_jaccard_pairs(docs)),
            lambda: eager_pin(rt.doc_token_sets(docs)),
        ]
    )
    anchors = (
        pos.select(F.col("doc_a").alias("anchor_id"))
        .unionByName(pos.select(F.col("doc_b").alias("anchor_id")))
        .distinct()
    )
    excl = pos.select(
        F.col("doc_a").alias("anchor_id"), F.col("doc_b").alias("other_id")
    ).unionByName(
        pos.select(
            F.col("doc_b").alias("anchor_id"), F.col("doc_a").alias("other_id")
        )
    )
    negs = rt.hard_negatives_for_anchors(
        docs, anchors, excl, NEG_PER_ANCHOR, sets=sets
    )
    pos_ranked = pos.select(
        F.col("doc_a").cast("long").alias("anchor_id"),
        F.col("doc_b").cast("long").alias("other_id"),
        F.lit("positive").alias("pair_type"),
        F.col("jaccard").alias("score"),
        F.row_number()
        .over(
            w.partitionBy("doc_a").orderBy(
                F.col("jaccard").desc(), F.col("doc_b")
            )
        )
        .alias("rank"),
    )
    neg_rows = negs.select(
        F.col("query_id").cast("long").alias("anchor_id"),
        F.col("neighbor_id").cast("long").alias("other_id"),
        F.lit("hard_negative").alias("pair_type"),
        "score",
        "rank",
    )
    return pos_ranked.unionByName(neg_rows)


def _sql_contrastive_dense_negatives() -> str:
    from hadoop_project_spark.operators import ssjoin as sj
    from hadoop_project_spark.plans.similarity_queries import _sql_cosine

    tau_n, tau_d = sj.SSJOIN_TAU_NUM, sj.SSJOIN_TAU_DEN
    return f"""
    WITH {SQL_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    si AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pos AS (
      SELECT i.doc_a, i.doc_b
      FROM si i
      JOIN sz sx ON sx.doc_id = i.doc_a
      JOIN sz sy ON sy.doc_id = i.doc_b
      WHERE i.i * {tau_d} >= {tau_n} * (sx.n + sy.n - i.i)
    ),
    anch AS (
      SELECT DISTINCT a FROM (
        SELECT doc_a AS a FROM pos UNION ALL SELECT doc_b FROM pos
      )
    ),
    sc AS (
      SELECT anch.a AS anchor_id, c.vec_id AS other_id,
             {_sql_cosine("qa.embedding", "c.embedding")} AS cosine
      FROM anch
      JOIN embeddings qa ON qa.vec_id = anch.a
      JOIN embeddings c ON c.vec_id <> anch.a AND c.label = qa.label
      WHERE NOT EXISTS (
        SELECT 1 FROM pos p
        WHERE (p.doc_a = anch.a AND p.doc_b = c.vec_id)
           OR (p.doc_b = anch.a AND p.doc_a = c.vec_id)
      )
    )
    SELECT CAST(anchor_id AS BIGINT) AS anchor_id,
           CAST(other_id AS BIGINT) AS other_id,
           cosine, CAST(rn AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY anchor_id ORDER BY cosine DESC, other_id
      ) AS rn FROM sc
    ) WHERE rn <= {NEG_PER_ANCHOR}
    """


@register(
    "contrastive_dense_negatives",
    oracle=_sql_contrastive_dense_negatives(),
    tags=("corpus", "contrastive", "similarity", "extension"),
)
def contrastive_dense_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEMANTIC-space twin of contrastive_pairs' hard negatives:
    for each anchor (a doc in a near-dup positive pair), the top
    embedding-cosine documents WITHIN THE ANCHOR'S BLOCK (label here —
    an LSH/IVF cell at scale) that are not its positives — negatives
    that sit close in the embedding space being trained, the
    highest-gradient examples for a contrastive objective.

    Scoring runs through similarity.blocked_anchor_cosines: a
    per-block numpy Gram restricted to anchor rows on one side, with
    the SEQUENTIAL per-dimension accumulation that keeps every cosine
    bit-identical to the JVM fold (the blocked_pair_cosines
    discipline). The first cut of this query scored anchors against the
    WHOLE corpus via the interpreted JVM fold and measured 209 s /
    1.19 GB shuffle at sf1 — the block-restricted Gram is both the
    honest 100 TB shape (candidates come from a cell, never a global
    scan) and ~50x cheaper. Exclusions anti-join is pair-sized; ranking
    is the group-limited top-k window; the oracle re-derives positives,
    anchors, the label restriction, cosines, exclusions, and the
    ranking."""
    from pyspark.sql import functions as F

    from hadoop_project_spark.execution import eager_pin
    from hadoop_project_spark.operators import retrieval as rt
    from hadoop_project_spark.operators import similarity as sim
    from hadoop_project_spark.operators import ssjoin as sj

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    pos = eager_pin(
        sj.prefix_filtered_jaccard_pairs(docs).select("doc_a", "doc_b")
    )
    anchors = (
        pos.select(F.col("doc_a").alias("anchor_id"))
        .unionByName(pos.select(F.col("doc_b").alias("anchor_id")))
        .distinct()
    )
    excl = pos.select(
        F.col("doc_a").alias("query_id"), F.col("doc_b").alias("neighbor_id")
    ).unionByName(
        pos.select(
            F.col("doc_b").alias("query_id"),
            F.col("doc_a").alias("neighbor_id"),
        )
    )
    scored = (
        sim.blocked_anchor_cosines(emb, anchors, block_col="label")
        .join(F.broadcast(excl), ["query_id", "neighbor_id"], "left_anti")
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 9).alias("score"),
        )
    )
    ranked = rt.topk_per_query(scored, NEG_PER_ANCHOR)
    return ranked.select(
        F.col("query_id").cast("long").alias("anchor_id"),
        F.col("neighbor_id").cast("long").alias("other_id"),
        F.col("score").alias("cosine"),
        "rank",
    )
