"""Similarity-search queries over `embeddings` (array<float> column).

Cosines are rounded to 9 dp on BOTH engines before ranking/thresholding
so ordering and filter decisions are identical even if the two engines'
floating-point folds ever differ in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import eager_pin, run_overlapped
from hadoop_project_spark.operators import similarity as sim
from hadoop_project_spark.plans.registry import register

DIM = 64
K = 10
N_QUERIES = 8
NEARDUP_MIN_COSINE = 0.3


def _sql_dot(a: str, b: str, dim: int = DIM) -> str:
    return (
        f"list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in range(1, {dim + 1})])"
    )


def _sql_cosine(a: str, b: str, dim: int = DIM) -> str:
    return (
        f"round({_sql_dot(a, b, dim)} / "
        f"(sqrt({_sql_dot(a, a, dim)}) * sqrt({_sql_dot(b, b, dim)})), 9)"
    )


def _sql_bruteforce_at(dim: int) -> str:
    """Exact cosine top-K SQL, scoring on the FIRST ``dim`` dims (the
    full-width form when dim == DIM; truncated-prefix scoring for the
    matryoshka evaluation below)."""
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    s AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_sql_cosine("q.qv", "c.embedding", dim)} AS cosine
      FROM embeddings c, q
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM s
    )
    WHERE rn <= {K}
    """


_SQL_BRUTEFORCE = _sql_bruteforce_at(DIM)


@register(
    "ann_topk_bruteforce",
    oracle=_SQL_BRUTEFORCE,
    tags=("similarity", "ann", "extension"),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 8 vectors: broadcast queries,
    single corpus scan, per-query window top-k (SURVEY §2 extension —
    the scale-safe exact baseline for ANN)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), K)


# (The former oracle-less `ann_topk_lsh` single-table query is retired:
# the multiprobe machinery is fully oracle-verified by
# `ann_topk_lsh_verified` below, and the approximate-recall property of
# sim.lsh_topk stays asserted vs brute force in tests/test_similarity.py.
# An oracle-less registry twin added no verification surface.)


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_sql_cosine("a.embedding", "b.embedding")} AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_sql_cosine("a.embedding", "b.embedding")} >= {NEARDUP_MIN_COSINE}
    """,
    tags=("similarity", "dedup", "extension"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked on label (the blocking key
    is an LSH bucket at scale; label keeps the oracle deterministic)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Per-block Gram scoring (sim.blocked_pair_cosines): bit-identical
    # doubles to the former join + zip_with/aggregate fold form, at
    # ~1/30th the cost once blocks grow (sf1 decade: 131 s → ~4 s for
    # 20M candidate pairs — the fold is interpreted per pair; the Gram
    # path crosses Arrow once per vector per block). The authoritative
    # round-then-threshold stays JVM-side on the exact doubles.
    pairs = sim.blocked_pair_cosines(emb, NEARDUP_MIN_COSINE, block_col="label")
    return pairs.select(
        "vec_a", "vec_b", F.round("cosine", 9).alias("cosine")
    ).filter(F.col("cosine") >= NEARDUP_MIN_COSINE)


_NEARDUP_BUCKET_PLANES_SEED = 97
# 6 bits ≈ log2(n/target_block) for the shipped fixtures, and keeps the
# driver-checked sf0.01 result non-trivial (6 rows; 8 bits leaves 1)
_NEARDUP_BUCKET_BITS = 6


def _neardup_bucket_planes() -> list[list[float]]:
    return sim.make_hyperplanes(
        _NEARDUP_BUCKET_BITS, DIM, _NEARDUP_BUCKET_PLANES_SEED
    )


def _register_neardup_bucketed() -> None:
    planes = _neardup_bucket_planes()

    @register(
        "embedding_neardup_pairs_bucketed",
        oracle=f"""
        WITH k AS (
          SELECT vec_id, embedding, label,
                 {_sql_lsh_bucket("embedding", planes)} AS bkt
          FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_sql_cosine("a.embedding", "b.embedding")} AS cosine
        FROM k a
        JOIN k b ON a.label = b.label AND a.bkt = b.bkt
               AND a.vec_id < b.vec_id
        WHERE {_sql_cosine("a.embedding", "b.embedding")}
              >= {NEARDUP_MIN_COSINE}
        """,
        tags=("similarity", "dedup", "lsh", "extension"),
    )
    def embedding_neardup_pairs_bucketed(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The SCALE-PATH twin of embedding_neardup_pairs: blocking key
        = (label, 6-bit sign-LSH bucket) instead of label alone, so the
        block COUNT grows with the corpus (choose bits ≈ log2(n /
        target_block)) and candidate volume stays ~linear — where the
        label-only variant's constant block count makes candidates
        quadratic per decade (measured r2 = 10.5× at the sf1 decade;
        this variant measures ~linear). The trade is recall: pairs
        straddling a hyperplane are found only if every differing bit
        splits them — production stacks n_tables/multiprobe exactly as
        sim.lsh_topk does. Buckets come from the same seeded
        hyperplanes on both engines (9-dp-rounded sign decisions), so
        the oracle re-derives the identical candidate set and the hash
        certifies bucketing + Gram scoring end-to-end."""
        emb = load_table(spark, sf_dir, "embeddings")
        keyed = emb.select(
            "vec_id",
            "embedding",
            F.concat_ws(
                ":",
                F.col("label").cast("string"),
                sim.lsh_bucket("embedding", planes).cast("string"),
            ).alias("blk2"),
        )
        pairs = sim.blocked_pair_cosines(
            keyed, NEARDUP_MIN_COSINE, block_col="blk2"
        )
        return pairs.select(
            "vec_a", "vec_b", F.round("cosine", 9).alias("cosine")
        ).filter(F.col("cosine") >= NEARDUP_MIN_COSINE)


def _sql_plane_dot(vec: str, plane: list[float]) -> str:
    """Dot of an embedding column with a literal hyperplane, as the same
    left-to-right fold Spark's F.aggregate produces."""
    lits = ", ".join(repr(x) for x in plane)
    return (
        f"list_sum([CAST({vec}[i] AS DOUBLE) * ([{lits}])[i] "
        f"for i in range(1, {DIM + 1})])"
    )


def _sql_lsh_bucket(vec: str, planes: list[list[float]]) -> str:
    # round(…, 9) before the sign test mirrors operators.similarity
    # .lsh_bucket: both engines make the bucket decision on the same
    # 9dp value, so a borderline plane can't flip the candidate set
    bits = " + ".join(
        f"(CASE WHEN round({_sql_plane_dot(vec, p)}, 9) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"CAST({bits} AS BIGINT)"


def _sql_lsh_oracle(n_planes: int = 8, n_tables: int = 4, seed: int = 42) -> str:
    """Full SQL twin of sim.lsh_topk: per-table sign-bit buckets from
    the SAME seeded hyperplanes, multiprobe hamming-1 matching, exact
    cosine on candidates, per-query top-k."""
    all_planes = [
        sim.make_hyperplanes(n_planes, DIM, seed + 1000 * t)
        for t in range(n_tables)
    ]
    bkt_cols = ", ".join(
        f"{_sql_lsh_bucket('embedding', all_planes[t])} AS bkt{t}"
        for t in range(n_tables)
    )
    match = []
    for t in range(n_tables):
        match.append(f"c.bkt{t} = q.bkt{t}")
        match += [
            f"c.bkt{t} = xor(q.bkt{t}, {1 << i})" for i in range(n_planes)
        ]
    match_sql = "\n         OR ".join(match)
    return f"""
    WITH keyed AS (
      SELECT vec_id, embedding, {bkt_cols} FROM embeddings
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM keyed q JOIN keyed c
        ON q.vec_id < {N_QUERIES}
       AND c.vec_id <> q.vec_id
       AND ({match_sql})
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_sql_cosine("qe.embedding", "ce.embedding")} AS cosine
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    WHERE rn <= {K}
    """


IVF_CELLS = 16
IVF_PROBE = 4
IVF_SEED = 7


def _sql_sqdist(vec: str, cent: list[float]) -> str:
    lits = ", ".join(repr(x) for x in cent)
    return (
        f"round(list_sum([(CAST({vec}[i] AS DOUBLE) - ([{lits}])[i]) * "
        f"(CAST({vec}[i] AS DOUBLE) - ([{lits}])[i]) "
        f"for i in range(1, {DIM + 1})]), 9)"
    )


def _sql_ivf_oracle() -> str:
    """Full SQL twin of sim.ivf_topk: same seeded coarse centroids as
    literals, argmin cell assignment, n_probe nearest cells per query,
    exact cosine on candidates, per-query top-k."""
    cents = sim.make_coarse_centroids(IVF_CELLS, DIM, IVF_SEED)
    ds = ", ".join(_sql_sqdist("embedding", c) for c in cents)
    pairs = (
        f"[[ds[i], CAST(i - 1 AS DOUBLE)] for i in range(1, {IVF_CELLS + 1})]"
    )
    return f"""
    WITH keyed AS (
      SELECT vec_id, [{ds}] AS ds FROM embeddings
    ),
    cells AS (
      SELECT vec_id,
             CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell
      FROM keyed
    ),
    probes AS (
      SELECT vec_id AS query_id,
             unnest([CAST(p[2] AS INT)
                     for p in list_sort({pairs})[:{IVF_PROBE}]]) AS cell
      FROM keyed WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id
      FROM probes p JOIN cells c ON c.cell = p.cell
      WHERE c.vec_id <> p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_sql_cosine("qe.embedding", "ce.embedding")} AS cosine
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored
    )
    WHERE rn <= {K}
    """


@register(
    "ann_topk_ivf",
    oracle=_sql_ivf_oracle(),
    tags=("similarity", "ann", "ivf", "extension"),
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a FULL SQL oracle: DuckDB re-derives the seeded
    coarse cells, the probe sets, and the ranked candidate cosines from
    the same literals, hash-verifying the whole inverted-file pipeline
    (cell assignment → multi-cell probe → candidate join → exact
    re-rank); tests/test_oracle_parity.py runs this oracle every CI
    pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return sim.ivf_topk(
        emb, queries, k=K, n_cells=IVF_CELLS, n_probe=IVF_PROBE,
        dim=DIM, seed=IVF_SEED,
    )


@register(
    "ann_topk_lsh_verified",
    oracle=_sql_lsh_oracle(),
    tags=("similarity", "ann", "lsh", "extension"),
)
def ann_topk_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH ANN path with a FULL SQL oracle: DuckDB re-derives the
    seeded hyperplane buckets, multiprobe candidates, and ranked cosines
    from scratch, so the driver hash-verifies the entire approximate
    pipeline, not just its row count (ann_topk_lsh keeps the op-level
    builder + recall property test)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return sim.lsh_topk(emb, queries, k=K, n_planes=8, dim=DIM, seed=42)


@register(
    "embedding_quantize_profile",
    oracle=f"""
    WITH ex AS (
      SELECT u.i AS dim_idx, CAST(embedding[u.i + 1] AS DOUBLE) AS v
      FROM embeddings,
           (SELECT UNNEST(range(0, {DIM})) AS i) u
    ),
    bounds AS (
      SELECT dim_idx, MIN(v) AS min_v, MAX(v) AS max_v
      FROM ex GROUP BY dim_idx
    )
    SELECT ex.dim_idx, MIN(b.min_v) AS min_v, MIN(b.max_v) AS max_v,
           CAST(SUM(CASE WHEN b.max_v = b.min_v THEN 0
                ELSE least(floor((ex.v - b.min_v)
                                 / ((b.max_v - b.min_v) / 256.0)), 255)
                END) AS BIGINT) AS sum_codes,
           CAST(COUNT(*) AS BIGINT) AS n_values
    FROM ex JOIN bounds b USING (dim_idx)
    GROUP BY ex.dim_idx
    """,
    tags=("similarity", "quantization", "extension"),
)
def embedding_quantize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantization profile of the embeddings table: per-dim
    min/max plus the integer sum of all quantized codes — a checksum
    over every quantization decision (floor over IEEE division; no
    round() tie hazards), hash-matched against DuckDB re-deriving the
    identical codes."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.quantize_profile(emb)


@register(
    "ann_recall_at_k",
    oracle=f"""
    WITH bf AS ({_SQL_BRUTEFORCE}),
    iv AS ({_sql_ivf_oracle()}),
    hits AS (
      SELECT bf.query_id, COUNT(*) AS n_hits
      FROM bf JOIN iv
        ON bf.query_id = iv.query_id
       AND bf.neighbor_id = iv.neighbor_id
      GROUP BY bf.query_id
    )
    SELECT CAST(b.query_id AS BIGINT) AS query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {K} AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM bf) b
    LEFT JOIN hits h USING (query_id)
    """,
    tags=("similarity", "ann", "evaluation", "extension"),
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN retrieval-quality evaluation: per-query recall@10 of the IVF
    index against the exact brute-force ground truth — the metric an
    embedding-pipeline owner watches when tuning n_cells/n_probe.

    Runs BOTH pipelines (sim.ivf_topk and the exact baseline) and joins
    their neighbor sets, so this one driver hash transitively
    re-certifies the whole IVF path (cell assignment, probes, re-rank)
    and the exact top-k window in the same round. At scale both
    sides stay candidate-blocked; the evaluation join is K rows per
    query.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    bf = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    iv = sim.ivf_topk(
        emb, queries, k=K, n_cells=IVF_CELLS, n_probe=IVF_PROBE,
        dim=DIM, seed=IVF_SEED,
    ).select("query_id", "neighbor_id")
    hits = (
        bf.join(iv, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    base = bf.select("query_id").distinct()
    return (
        base.join(hits, "query_id", "left")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(float(K))
            ).alias("recall_at_k"),
        )
    )


TRUNC_DIMS = (8, 16, 32)

_SQL_TRUNC_CTES = ",\n    ".join(
    f"t{d} AS ({_sql_bruteforce_at(d)})" for d in TRUNC_DIMS
)
_SQL_TRUNC_UNION = "\n      UNION ALL ".join(
    f"SELECT {d} AS trunc_dim, query_id, neighbor_id FROM t{d}"
    for d in TRUNC_DIMS
)


@register(
    "ann_truncated_dim_recall",
    oracle=f"""
    WITH bf AS ({_SQL_BRUTEFORCE}),
    {_SQL_TRUNC_CTES},
    u AS (
      {_SQL_TRUNC_UNION}
    ),
    hits AS (
      SELECT u.trunc_dim, bf.query_id, COUNT(*) AS n_hits
      FROM bf JOIN u ON bf.query_id = u.query_id
                    AND bf.neighbor_id = u.neighbor_id
      GROUP BY 1, 2
    ),
    base AS (SELECT DISTINCT query_id FROM bf),
    dims AS (SELECT UNNEST([{", ".join(str(d) for d in TRUNC_DIMS)}])
             AS trunc_dim)
    SELECT CAST(d.trunc_dim AS INTEGER) AS trunc_dim,
           CAST(b.query_id AS BIGINT) AS query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {K} AS recall_at_k
    FROM base b CROSS JOIN dims d
    LEFT JOIN hits h ON h.query_id = b.query_id
                    AND h.trunc_dim = d.trunc_dim
    """,
    tags=("similarity", "ann", "evaluation", "matryoshka", "extension"),
)
def ann_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: recall@K of
    exact cosine top-K computed on only the FIRST d dims (d = 8/16/32)
    against the full-width (64-dim) ground truth — the number that
    decides whether a cheap truncated-prefix prefilter (score on d dims,
    re-rank survivors at full width) is safe for a given corpus.

    Shape for 100 TB: each truncated ranking is sim.brute_force_topk,
    the same scale-safe plan as ann_topk_bruteforce (broadcast queries,
    one corpus scan, top-k window), over a sliced vector — slicing
    costs nothing at scan time and cuts the per-pair fold by 64/d; the
    evaluation join is K rows per query per d. The full-width truth
    relation feeds one join per d, so it is eager-pinned rather than
    recomputed per branch."""
    from functools import reduce

    emb = load_table(spark, sf_dir, "embeddings")
    bf = eager_pin(
        ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    parts = [
        sim.brute_force_topk(
            emb, queries, K, vec_col=f"slice(embedding, 1, {d})"
        ).select(F.lit(d).alias("trunc_dim"), "query_id", "neighbor_id")
        for d in TRUNC_DIMS
    ]
    u = reduce(lambda x, y: x.unionByName(y), parts)
    hits = (
        bf.join(u, ["query_id", "neighbor_id"])
        .groupBy("trunc_dim", "query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    dims = spark.range(1).select(
        F.explode(F.array(*[F.lit(d) for d in TRUNC_DIMS])).alias("trunc_dim")
    )
    base = bf.select("query_id").distinct().crossJoin(F.broadcast(dims))
    return base.join(hits, ["trunc_dim", "query_id"], "left").select(
        F.col("trunc_dim").cast("int").alias("trunc_dim"),
        F.col("query_id").cast("long").alias("query_id"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.lit(float(K))
        ).alias("recall_at_k"),
    )


# deferred: needs _sql_lsh_bucket/_sql_cosine defined above
_register_neardup_bucketed()


# --- semantic dedup (SemDeDup-style cluster-then-dedup) -------------

SEMDEDUP_TAU = 0.3


def _semdedup_centroids() -> list[list[float]]:
    """The FITTED coarse quantizer (plans/semdedup_centroids.py, a
    generated artifact of scripts/fit_semdedup_centroids.py's seeded
    Lloyd run) — not make_coarse_centroids' random planes: random
    centroids in 64-dim left 72% of sf1's vectors nearest ONE centroid
    (14,422 of 20,000), serializing the within-cell Gram scoring into a
    single 14k x 14k task (~155 s); the fitted centroids balance the
    cells at every decade (sf1 max cell 2,404) because the fixture
    decades share cluster structure — exactly how SemDeDup ships its
    quantizer (k-means first, then within-cluster dedup)."""
    from hadoop_project_spark.plans.semdedup_centroids import (
        SEMDEDUP_CENTROIDS,
    )

    return SEMDEDUP_CENTROIDS


def _sql_semdedup_oracle(planes: list[list[float]] | None = None) -> str:
    """Full SQL twin of semantic_dedup_decisions: same centroid
    literals, argmin cell assignment, within-cell cosine pairs, and the
    (cdist, vec_id) keep rule. With ``planes`` (the bucketed twin) the
    blocks refine to (cell, sign-LSH bucket); the keep rule is the
    same."""
    cents = _semdedup_centroids()
    ds = ", ".join(_sql_sqdist("embedding", c) for c in cents)
    bkt_col = bkt_eq = ""
    if planes is not None:
        bkt_col = f",\n             {_sql_lsh_bucket('embedding', planes)} AS bkt"
        bkt_eq = " AND a.bkt = b.bkt"
    return f"""
    WITH assigned AS (
      SELECT vec_id, embedding,
             CAST(list_position(dsl, list_min(dsl)) - 1 AS INT) AS cell,
             list_min(dsl) AS cdist{bkt_col}
      FROM (SELECT vec_id, embedding, [{ds}] AS dsl FROM embeddings)
    ),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             a.cdist AS ca, b.cdist AS cb
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell{bkt_eq} AND a.vec_id < b.vec_id
      WHERE {_sql_cosine("a.embedding", "b.embedding")} >= {SEMDEDUP_TAU}
    ),
    nbrs AS (
      SELECT vec_id, COUNT(*) AS n_dup FROM (
        SELECT va AS vec_id FROM pairs
        UNION ALL
        SELECT vb AS vec_id FROM pairs
      ) GROUP BY vec_id
    ),
    losers AS (
      SELECT DISTINCT CASE WHEN ca > cb THEN va ELSE vb END AS vec_id
      FROM pairs
    )
    SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
           CAST(a.cell AS INTEGER) AS cell,
           a.cdist AS cdist,
           CAST(COALESCE(n.n_dup, 0) AS BIGINT) AS n_dup_neighbors,
           (l.vec_id IS NOT NULL) AS dropped
    FROM assigned a
    LEFT JOIN nbrs n USING (vec_id)
    LEFT JOIN losers l USING (vec_id)
    """


def _semdedup_decide(assigned: DataFrame, block_col: str) -> DataFrame:
    """The SemDeDup decision table over a pinned ``assigned`` relation
    (vec_id, embedding, cell, cdist, ``block_col``): within-block cosine
    pairs, the (cdist, vec_id) keep rule, neighbour counts, and one
    output row per vector. Shared by both semantic-dedup builders, which
    differ only in how they block."""
    raw = sim.blocked_pair_cosines(assigned, SEMDEDUP_TAU, block_col=block_col)
    # authoritative round-then-threshold on the exact doubles (the Gram
    # margin only guards the 9dp boundary) — same contract as
    # embedding_neardup_pairs. eager_pin: pairs feeds the precedence
    # join AND the neighbor-count aggregate — without the pin each
    # consumer re-runs the whole Gram-scoring stage.
    pairs = eager_pin(
        raw.filter(F.round("cosine", 9) >= SEMDEDUP_TAU).select(
            "vec_a", "vec_b"
        )
    )
    # the cdist lookup is per-VECTOR (linear) joined against per-PAIR
    # rows (superlinear): broadcast the small side so the pair relation
    # never shuffles; at 100 TB this becomes a co-partitioned join on
    # the same bucketing the pair generation already has
    cd = F.broadcast(assigned.select("vec_id", "cdist"))
    pj = (
        pairs.join(
            cd.select(F.col("vec_id").alias("vec_a"), F.col("cdist").alias("ca")),
            "vec_a",
        ).join(
            cd.select(F.col("vec_id").alias("vec_b"), F.col("cdist").alias("cb")),
            "vec_b",
        )
    )
    losers = pj.select(
        F.when(F.col("ca") > F.col("cb"), F.col("vec_a"))
        .otherwise(F.col("vec_b"))  # ties: vec_a < vec_b, so b drops
        .alias("vec_id")
    ).distinct()
    nbrs = (
        pairs.select(F.col("vec_a").alias("vec_id"))
        .unionAll(pairs.select(F.col("vec_b").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_dup"))
    )
    return (
        assigned.select("vec_id", "cell", "cdist")
        .join(nbrs, "vec_id", "left")
        .join(losers.withColumn("is_loser", F.lit(True)), "vec_id", "left")
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cell").cast("int").alias("cell"),
            F.col("cdist").alias("cdist"),
            F.coalesce(F.col("n_dup"), F.lit(0))
            .cast("long")
            .alias("n_dup_neighbors"),
            F.coalesce(F.col("is_loser"), F.lit(False)).alias("dropped"),
        )
    )


@register(
    "semantic_dedup_decisions",
    oracle=_sql_semdedup_oracle(),
    tags=("similarity", "dedup", "extension"),
)
def semantic_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, cluster-then-dedup form (the SemDeDup recipe,
    Abbas et al. 2023, arXiv:2303.09540): assign every embedding to its
    nearest coarse centroid, score cosine pairs WITHIN each cluster
    only, and drop every vector that has a semantic duplicate closer to
    the centroid than itself (ties to the lower vec_id). Output is the
    full per-vector decision table: cluster, centroid distance,
    duplicate-neighbor count, and the drop verdict.

    This composes the engine's existing primitives instead of adding
    machinery: centroid assignment is the IVF coarse quantizer over the
    FITTED centroids (_semdedup_centroids — a one-time seeded Lloyd
    pass shipped as literals, exactly the k-means-first step the paper
    prescribes; random centroids measured 72% of vectors in one cell at
    sf1, a single 155 s Gram task), and within-cluster scoring is the
    per-block numpy Gram path (sim.blocked_pair_cosines) shared with
    embedding_neardup_pairs. The keep rule is a pair-local expression
    plus one distinct, so no global sort, window, or driver state.
    Scale caveat (same as embedding_neardup_pairs): the cell count is
    FIXED, so within-cell candidates are quadratic per decade — at
    100 TB choose k ∝ n/target, or use semantic_dedup_bucketed, the
    measured-linear (cell, sign-LSH) twin.
    """
    from hadoop_project_spark.serving import load_semdedup_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    # the fitted quantizer arrives VIA its served artifact (versioned,
    # fingerprinted — VERDICT r10 #6); values are bit-identical to the
    # code literals the oracle embeds, so parity is unchanged
    asg = sim.ivf_cell_assignment("embedding", load_semdedup_centroids(spark))
    # eager_pin: assigned feeds the Gram scorer AND both precedence
    # joins AND the final decision join (concurrent consumers).
    # The assignment struct lands in ONE projection and the fields
    # derive from the struct COLUMN: each getField of `asg` copies the
    # whole k x dim centroid-literal distance tree into the projection,
    # and Catalyst analysis of the duplicated trees measured 2-4x the
    # single-copy form (driver-side, per build). Same doubles, same
    # plan after ProjectCollapsing.
    assigned = eager_pin(
        emb.select("vec_id", "embedding", asg.alias("_asg")).select(
            "vec_id",
            "embedding",
            F.col("_asg.cell").alias("cell"),
            F.col("_asg.cdist").alias("cdist"),
        )
    )
    return _semdedup_decide(assigned, "cell")


_SEMDEDUP_BUCKET_PLANES_SEED = 113
_SEMDEDUP_BUCKET_BITS = 6


def _semdedup_bucket_planes() -> list[list[float]]:
    return sim.make_hyperplanes(
        _SEMDEDUP_BUCKET_BITS, DIM, _SEMDEDUP_BUCKET_PLANES_SEED
    )


@register(
    "semantic_dedup_bucketed",
    oracle=_sql_semdedup_oracle(_semdedup_bucket_planes()),
    tags=("similarity", "dedup", "lsh", "extension"),
)
def semantic_dedup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH twin of semantic_dedup_decisions (same pattern as
    embedding_neardup_pairs -> _bucketed): blocks = (cell, 6-bit
    sign-LSH bucket) instead of cell alone, so block COUNT grows with
    the corpus (choose bits ~ log2(n / target_block)) and candidate
    volume stays ~linear where the fixed-k variant's candidates are
    quadratic per decade. Same fitted quantizer, same tau, same
    (cdist, vec_id) keep rule and decision-table output; the recall
    trade (duplicates straddling a hyperplane are missed unless every
    differing bit splits them) is the published LSH one — production
    stacks n_tables/multiprobe exactly as sim.lsh_topk does."""
    from hadoop_project_spark.serving import load_semdedup_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    asg = sim.ivf_cell_assignment("embedding", load_semdedup_centroids(spark))
    planes = _semdedup_bucket_planes()
    # struct-once projection (see semantic_dedup_decisions): the three
    # getField references each copied the full centroid-literal tree,
    # tripling driver-side analysis of every build — identical values,
    # identical post-collapse plan.
    assigned = eager_pin(
        emb.select(
            "vec_id",
            "embedding",
            asg.alias("_asg"),
            sim.lsh_bucket("embedding", planes).alias("_bkt"),
        ).select(
            "vec_id",
            "embedding",
            F.col("_asg.cell").alias("cell"),
            F.col("_asg.cdist").alias("cdist"),
            F.concat_ws(
                ":",
                F.col("_asg.cell").cast("string"),
                F.col("_bkt").cast("string"),
            ).alias("blk2"),
        )
    )
    return _semdedup_decide(assigned, "blk2")


# --- Product quantization (PQ / ADC) --------------------------------

_PQ_BOOKS = sim.make_pq_codebooks()
_PQ_M = len(_PQ_BOOKS)
_PQ_SUBDIM = len(_PQ_BOOKS[0][0])


def _sql_pq_sqdist_raw(vec: str, m: int, cw: list[float]) -> str:
    """UNROUNDED squared L2 distance from the m-th subvector of ``vec``
    to codeword ``cw`` (subvector via base-offset indexing — no slice
    materialization, mirroring F.slice feeding the fold)."""
    lits = ", ".join(repr(x) for x in cw)
    off = m * _PQ_SUBDIM
    return (
        f"list_sum([(CAST({vec}[{off} + i] AS DOUBLE) - ([{lits}])[i]) * "
        f"(CAST({vec}[{off} + i] AS DOUBLE) - ([{lits}])[i]) "
        f"for i in range(1, {_PQ_SUBDIM + 1})])"
    )


def _sql_pq_ctes() -> str:
    """The shared PQ CTE block: per-subspace rounded distance arrays →
    argmin codes for every vector; integer micro-unit ADC lookup tables
    for the query vectors. Mirrors sim.pq_codes / sim.pq_adc_lut from
    the same codebook literals."""
    ds_cols = ", ".join(
        "["
        + ", ".join(
            f"round({_sql_pq_sqdist_raw('embedding', m, cw)}, 9)"
            for cw in book
        )
        + f"] AS ds{m}"
        for m, book in enumerate(_PQ_BOOKS)
    )
    codes = ", ".join(
        f"CAST(list_position(ds{m}, list_min(ds{m})) - 1 AS INT)"
        for m in range(_PQ_M)
    )
    luts = ", ".join(
        "["
        + ", ".join(
            f"CAST(round({_sql_pq_sqdist_raw('embedding', m, cw)}"
            " * 1000000, 0) AS BIGINT)"
            for cw in book
        )
        + "]"
        for m, book in enumerate(_PQ_BOOKS)
    )
    return f"""
    pq_keyed AS (
      SELECT vec_id, {ds_cols} FROM embeddings
    ),
    pq_codes AS (
      SELECT vec_id, [{codes}] AS codes FROM pq_keyed
    ),
    pq_luts AS (
      SELECT vec_id AS query_id, [{luts}] AS lut
      FROM embeddings WHERE vec_id < {N_QUERIES}
    )"""


_SQL_ADC_SUM = " + ".join(
    f"q.lut[{m + 1}][c.codes[{m + 1}] + 1]" for m in range(_PQ_M)
)

_SQL_PQ_RANKED_TAIL = f"""
    SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
           CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
      FROM pq_scored
    )
    WHERE rn <= {K}
"""


def _sql_pq_adc_oracle() -> str:
    """Full SQL twin of sim.pq_adc_topk: same codebook literals, same
    argmin codes, same integer ADC tables, same (adc, neighbor) order."""
    return f"""
    WITH {_sql_pq_ctes()},
    pq_scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_SQL_ADC_SUM} AS adc_dist
      FROM pq_codes c, pq_luts q
      WHERE c.vec_id <> q.query_id
    )
    {_SQL_PQ_RANKED_TAIL}
    """


def _sql_ivfpq_oracle() -> str:
    """Full SQL twin of sim.ivfpq_topk: the IVF cell/probe CTEs bound
    candidates, the PQ code/LUT CTEs score them."""
    cents = sim.make_coarse_centroids(IVF_CELLS, DIM, IVF_SEED)
    ds = ", ".join(_sql_sqdist("embedding", c) for c in cents)
    pairs = (
        f"[[ds[i], CAST(i - 1 AS DOUBLE)] for i in range(1, {IVF_CELLS + 1})]"
    )
    return f"""
    WITH ivf_keyed AS (
      SELECT vec_id, [{ds}] AS ds FROM embeddings
    ),
    cells AS (
      SELECT vec_id,
             CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell
      FROM ivf_keyed
    ),
    probes AS (
      SELECT vec_id AS query_id,
             unnest([CAST(p[2] AS INT)
                     for p in list_sort({pairs})[:{IVF_PROBE}]]) AS cell
      FROM ivf_keyed WHERE vec_id < {N_QUERIES}
    ),
    {_sql_pq_ctes()},
    cand AS (
      SELECT p.query_id, cl.vec_id AS neighbor_id
      FROM probes p JOIN cells cl ON cl.cell = p.cell
      WHERE cl.vec_id <> p.query_id
    ),
    pq_scored AS (
      SELECT cand.query_id, cand.neighbor_id, {_SQL_ADC_SUM} AS adc_dist
      FROM cand
      JOIN pq_codes c ON c.vec_id = cand.neighbor_id
      JOIN pq_luts q ON q.query_id = cand.query_id
    )
    {_SQL_PQ_RANKED_TAIL}
    """


@register(
    "ann_topk_pq_adc",
    oracle=_sql_pq_adc_oracle(),
    tags=("similarity", "ann", "pq", "extension"),
)
def ann_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k with a FULL SQL oracle: DuckDB
    re-derives the seeded per-subspace codebooks, every vector's argmin
    codes, the per-query integer ADC tables, and the ranked integer
    distances from the same literals — hash-certifying the entire PQ
    pipeline (encode → ADC table → integer scoring → top-k window).

    The memory-bound ANN leg (Jégou et al., TPAMI 2011): at scale the
    stored index holds M=8 codes/vector (32× less than float32×64), a
    scored pair costs 8 integer gathers + adds, and the ranking key is
    an exact integer — no float folds anywhere past encode time."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return sim.pq_adc_topk(emb, queries, k=K, books=_PQ_BOOKS)


@register(
    "ann_topk_ivfpq",
    oracle=_sql_ivfpq_oracle(),
    tags=("similarity", "ann", "pq", "ivf", "extension"),
)
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS's workhorse index) with a FULL SQL oracle: coarse
    cells bound the candidate set (same seeded centroids as ann_topk_ivf
    — probing prunes whole partitions of the stored index), PQ codes
    bound the bytes (ADC integer scoring never touches a full-width
    vector). One hash certifies the composition: cell assignment,
    multi-cell probe, candidate join, PQ encode, ADC ranking."""
    from hadoop_project_spark.serving import load_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # codebooks VIA their served artifact (versioned, fingerprinted —
    # VERDICT r10 #6); float64 through parquet is exact, so the ADC
    # ranking and the literal-embedding oracle are unchanged
    return sim.ivfpq_topk(
        emb, queries, k=K, n_cells=IVF_CELLS, n_probe=IVF_PROBE,
        dim=DIM, cell_seed=IVF_SEED, books=load_pq_codebooks(spark),
    )


@register(
    "ann_pq_recall",
    oracle=f"""
    WITH bf AS ({_SQL_BRUTEFORCE}),
    pq AS ({_sql_pq_adc_oracle()}),
    hits AS (
      SELECT bf.query_id, COUNT(*) AS n_hits
      FROM bf JOIN pq
        ON bf.query_id = pq.query_id
       AND bf.neighbor_id = pq.neighbor_id
      GROUP BY bf.query_id
    )
    SELECT CAST(b.query_id AS BIGINT) AS query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {K} AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM bf) b
    LEFT JOIN hits h USING (query_id)
    """,
    tags=("similarity", "ann", "pq", "evaluation", "extension"),
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the PQ/ADC index: per-query
    recall@10 of the flat ADC ranking against the exact brute-force
    truth — the number that decides how many codes/subspaces a corpus
    needs before the compressed index is trustworthy (the same eval
    contract as ann_recall_at_k / ann_truncated_dim_recall, completing
    the family: every approximate index ships with its measured recall).
    Joining the two rankings keeps the evaluation at K rows per query;
    one driver hash transitively re-certifies both pipelines."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    bf = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    pq = sim.pq_adc_topk(emb, queries, k=K, books=_PQ_BOOKS).select(
        "query_id", "neighbor_id"
    )
    hits = (
        bf.join(pq, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        bf.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(float(K))
            ).alias("recall_at_k"),
        )
    )


@register(
    "ann_topk_ivfpq_served",
    oracle=_sql_ivfpq_oracle(),
    tags=("similarity", "ann", "pq", "ivf", "serving", "extension"),
)
def ann_topk_ivfpq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over the SERVED index — the probe-only twin of
    ann_topk_ivfpq, against the pre-built external layout (the corpus
    encoded once as PQ codes, stored PARTITIONED BY coarse cell —
    serving.ensure_served_ivfpq). The probe's cell set becomes a
    literal IN filter (a bounded driver collect: queries × n_probe
    ints), so Catalyst prunes the non-probed partition DIRECTORIES at
    plan time and every scanned byte is an 8-code row, never a float
    vector — the storage claim in ivfpq_topk's docstring, measured.
    Same oracle as the inline twin: serving must not change results."""
    from hadoop_project_spark.serving import ensure_served_ivfpq

    tname = ensure_served_ivfpq(
        spark, sf_dir, n_cells=IVF_CELLS, cell_seed=IVF_SEED, dim=DIM
    )
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = sim.make_coarse_centroids(IVF_CELLS, DIM, IVF_SEED)
    probe_cells = sorted(
        {
            r["cell"]
            for r in queries.select(
                F.explode(
                    sim.ivf_probes("embedding", cents, IVF_PROBE)
                ).alias("cell")
            ).collect()
        }
    )
    enc = (
        spark.table(tname)
        .filter(F.col("cell").isin(probe_cells))
        .select(F.col("vec_id").alias("neighbor_id"), "cell", "codes")
    )
    return sim.ivfpq_topk_over(
        enc, queries, k=K, cents=cents, books=_PQ_BOOKS, n_probe=IVF_PROBE
    )


@register(
    "ann_ivfpq_segment_compaction",
    oracle=_sql_ivfpq_oracle(),
    tags=("similarity", "ann", "pq", "streaming", "roundtrip", "extension"),
)
def ann_ivfpq_segment_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index's LSM ingest path, hash-certified end to end: the
    embeddings arrive as FOUR deterministic micro-batches through the
    streaming PQ-codes segment sink (streaming/ann_segments.py — the
    schema-agnostic LSM core instantiated for (vec_id, codes, cell),
    one replay deliberately included to exercise the idempotence
    skip), are compacted into the cell-partitioned codes table, and
    the IVF-PQ probe runs against the compacted table. Matching the
    same oracle as ann_topk_ivfpq proves segment ingest → replay-skip
    → compaction → partitioned probe loses nothing vs the one-shot
    encode."""
    import os
    import tempfile

    from hadoop_project_spark.storage import fresh_pid_dir
    from hadoop_project_spark.streaming.ann_segments import (
        compact_codes_segments,
        make_codes_segment_sink,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    seg_root = fresh_pid_dir(tempfile.gettempdir(), "rt_ann_segs", sf)
    sink = make_codes_segment_sink(
        seg_root, books=_PQ_BOOKS, n_cells=IVF_CELLS,
        cell_seed=IVF_SEED, dim=DIM,
    )
    # the four micro-batch ingests are independent (distinct batch_id
    # segments, no shared state until compaction) — overlap their small
    # encode+write jobs (guide §2.6); the replay stays AFTER the pool
    # so it exercises the already-published idempotence skip
    run_overlapped(
        [
            (lambda bb: lambda: sink(
                emb.filter(F.col("vec_id") % 4 == bb), bb
            ))(b)
            for b in range(4)
        ]
    )
    sink(emb.filter(F.col("vec_id") % 4 == 1), 1)  # replayed batch: no-op
    table = f"rt_ann_seg_codes_{sf}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    compact_codes_segments(spark, seg_root, table, n_cells=IVF_CELLS)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = sim.make_coarse_centroids(IVF_CELLS, DIM, IVF_SEED)
    enc = spark.table(table).select(
        F.col("vec_id").alias("neighbor_id"), "cell", "codes"
    )
    return sim.ivfpq_topk_over(
        enc, queries, k=K, cents=cents, books=_PQ_BOOKS, n_probe=IVF_PROBE
    )


@register(
    "ann_ivfpq_base_plus_segments",
    oracle=_sql_ivfpq_oracle(),
    tags=("similarity", "ann", "pq", "streaming", "serving", "extension"),
)
def ann_ivfpq_base_plus_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index's BETWEEN-compactions serving state,
    hash-certified: half the vectors live in the compacted
    cell-partitioned codes table (an older fold), the other half
    arrive as two fresh uncompacted code segments published via the
    object-store-safe MANIFEST protocol, and the IVF-PQ probe runs
    over base ∪ segments — the read path a live vector index serves
    while segments await the next compaction (the base leg keeps
    partition pruning; the segment leg is bounded by ingest recency —
    the standard LSM read-amplification trade). Matching the
    whole-corpus oracle proves the union serving view loses nothing."""
    import os
    import tempfile

    from hadoop_project_spark.storage import fresh_pid_dir
    from hadoop_project_spark.streaming.ann_segments import (
        compact_codes_segments,
        make_codes_segment_sink,
        read_codes_segments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    seg_root = fresh_pid_dir(tempfile.gettempdir(), "rt_ann_mix_segs", sf)
    sink = make_codes_segment_sink(
        seg_root, publish="manifest", books=_PQ_BOOKS, n_cells=IVF_CELLS,
        cell_seed=IVF_SEED, dim=DIM,
    )
    table = f"rt_ann_mix_codes_{sf}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    sink(emb.filter(F.col("vec_id") % 2 == 0), 0)
    compact_codes_segments(spark, seg_root, table, n_cells=IVF_CELLS)
    # the two post-compaction segments are independent appends —
    # overlap them (guide §2.6); the compaction above must stay
    # sequential so it folds exactly segment 0 (the query certifies
    # the BETWEEN-compactions union, not a fully-folded base)
    run_overlapped(
        [
            lambda: sink(emb.filter(F.col("vec_id") % 4 == 1), 1),
            lambda: sink(emb.filter(F.col("vec_id") % 4 == 3), 2),
        ]
    )
    base = spark.table(table).select(
        F.col("vec_id").alias("neighbor_id"), "cell", "codes"
    )
    seg = read_codes_segments(spark, seg_root).select(
        F.col("vec_id").alias("neighbor_id"), "cell", "codes"
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = sim.make_coarse_centroids(IVF_CELLS, DIM, IVF_SEED)
    return sim.ivfpq_topk_over(
        base.unionByName(seg), queries, k=K, cents=cents, books=_PQ_BOOKS,
        n_probe=IVF_PROBE,
    )


@register(
    "ann_topk_prefiltered",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label, embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    s AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
             {_sql_cosine("q.qv", "c.embedding")} AS cosine
      FROM embeddings c JOIN q ON c.label = q.label
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, CAST(label AS BIGINT) AS label,
           cosine, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM s
    )
    WHERE rn <= {K}
    """,
    tags=("similarity", "ann", "filtered", "extension"),
)
def ann_topk_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED vector search — the query shape every vector
    store serves ("nearest neighbors WHERE label = X"), with the
    PRE-filter semantics (filter first, then exact top-k over the
    filtered set): post-filtering a fixed-k unfiltered ANN result
    under-fills whenever fewer than k of the unfiltered top-k satisfy
    the predicate; pre-filtering is exact by construction.

    The plan is the scale story: the predicate is an EQUI-JOIN key
    (corpus joins the broadcast query set ON label), so scoring touches
    only predicate-matching rows — against the label-partitioned served
    layout this becomes partition pruning at the scan (the same
    composition ann_topk_ivfpq_served proves for cell keys); no
    crossJoin appears anywhere. Two-stage top-k as always."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = sim.with_norm(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("label"),
            F.col("embedding").alias("q_vec"),
        ),
        "q",
    )
    corpus = sim.with_norm(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label"),
            F.col("embedding").alias("c_vec"),
        ),
        "c",
    )
    scored = (
        corpus.join(F.broadcast(queries), "label")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.col("label").cast("long").alias("label"),
            sim.cosine_9dp().alias("cosine"),
        )
    )
    ranked = sim.global_topk(scored.drop("label"), K)
    # the pre-filter guarantees neighbor label == query label, so the
    # output label comes from the 8-row broadcast query side — no
    # second corpus scan
    qlab = queries.select(
        "query_id", F.col("label").cast("long").alias("label")
    )
    return ranked.join(F.broadcast(qlab), "query_id").select(
        "query_id", "neighbor_id", "label", "cosine", "rank"
    )
