"""Similarity search over embedding columns (array<float>).

Exact cosine is scored in ONE place, brute_force_topk, and every ANN
path re-ranks its candidates through the same norm/cosine projection:

* brute_force_topk — exact cosine top-k: broadcast the (small) query
  set, scan the corpus once, then rank with one row_number ≤ k window
  per query (global_topk). Spark plans it as a Partial WindowGroupLimit
  inside the scan stage, so at most k rows per partition and query
  reach the query-keyed exchange, and a Final one above it; the raw
  scores never shuffle. centroid_topk is the same scan for query
  vectors that are not corpus members.
* lsh_topk / ivf_topk — random-hyperplane LSH and inverted-file
  candidate generation: bucket or cell keys are shuffle keys, so the
  work per query drops by ~2^H (LSH) or n_cells/n_probe (IVF) while
  recall stays tunable; the candidates are re-ranked by exact cosine.

Every cosine is rounded to 9 dp before ranking, so ordering decisions
are made on the values an oracle re-derives even if two engines'
floating-point folds differ in the last ulp.

All vector math is JVM-side (functions/vector.py) — zip_with/aggregate
inside whole-stage codegen; no Python per row. Hyperplanes are
deterministic (seeded Python RNG, embedded as literals) so results are
reproducible and oracle-checkable.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from hadoop_project_spark.functions.vector import (
    dot_cols_sql,
    dot_sql,
    l2_norm_sql,
)


def _window_topk(scored: DataFrame, score: str, order, k: int) -> DataFrame:
    """Per-query top-k of (query_id, neighbor_id, score) rows under
    (order, neighbor_id): one row_number ≤ k window, planned as a
    Partial WindowGroupLimit below the query_id exchange and a Final
    one above it."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def global_topk(scored: DataFrame, k: int) -> DataFrame:
    """Exact per-query top-k by cosine DESC (NaN first, NULL last, as
    the window orders doubles), neighbor_id tie-break."""
    return _window_topk(scored, "cosine", F.col("cosine").desc(), k)


def with_norm(rel: DataFrame, side: str) -> DataFrame:
    """Append ``{side}_norm``, the L2 norm of ``{side}_vec``, to a
    scoring side (``side`` is ``q`` or ``c``). Norms are materialized
    once per row BEFORE the pair join: cosine inside the join would
    recompute both norms per candidate pair (O(pairs × dim) extra
    work), and dot/(n_q·n_c) is arithmetically identical. One text
    parse (functions/vector.l2_norm_sql, float-identical to the Column
    form) instead of ~2 py4j lambda constructions per norm."""
    return rel.withColumn(f"{side}_norm", F.expr(l2_norm_sql(f"{side}_vec")))


def cosine_9dp() -> Column:
    """round(q_vec·c_vec / (q_norm·c_norm), 9) over a joined pair of
    with_norm sides — the one cosine every ranking here orders by."""
    return F.round(
        F.expr(dot_cols_sql("q_vec", "c_vec"))
        / (F.col("q_norm") * F.col("c_norm")),
        9,
    )


def _side(rel: DataFrame, id_col: str, vec_col: str, side: str) -> DataFrame:
    """(query_id | neighbor_id, {side}_vec, {side}_norm) of corpus rows;
    ``vec_col`` is a column name or SQL text."""
    id_as = "query_id" if side == "q" else "neighbor_id"
    vec = F.expr(vec_col).alias(f"{side}_vec")
    return with_norm(rel.select(F.col(id_col).alias(id_as), vec), side)


def _scan_topk(
    c: DataFrame, q: DataFrame, k: int, exclude_self: bool
) -> DataFrame:
    """Broadcast the query side ``q`` over one scan of the corpus side
    ``c`` and rank every pair by cosine_9dp."""
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select("query_id", "neighbor_id", cosine_9dp().alias("cosine"))
    return global_topk(scored, k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-match excluded).

    ``queries`` are corpus rows (same ``id_col``/``vec_col``);
    ``vec_col`` is a column name or SQL text (e.g. ``slice(embedding,
    1, 8)`` for truncated-prefix scoring). Returns (query_id,
    neighbor_id, cosine, rank), cosine rounded to 9 dp, neighbor_id
    tie-break."""
    return _scan_topk(
        _side(corpus, id_col, vec_col, "c"),
        _side(queries, id_col, vec_col, "q"),
        k,
        exclude_self=True,
    )


def centroid_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """brute_force_topk for query vectors that are not corpus members
    (e.g. pseudo-relevance-feedback centroids): ``queries`` is
    (query_id, q_vec), and no pair is excluded."""
    return _scan_topk(
        _side(corpus, "vec_id", "embedding", "c"),
        with_norm(queries, "q"),
        k,
        exclude_self=False,
    )


def make_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim. Plain
    Python RNG (public, stable algorithm) so both the Spark plan and any
    oracle can embed identical literals."""
    rng = random.Random(seed)
    return [
        [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def lsh_bucket(vec_col: str, planes: list[list[float]]):
    """Bucket id = integer of sign bits of <vec, plane_i>.

    The dot is rounded to 9 dp BEFORE the sign decision (the same
    strategy as cosine_9dp): a vector lying within an ulp of a
    hyperplane would otherwise flip its bucket between two engines'
    summation orders, changing the candidate set an oracle re-derives.

    Assembled as ONE expr-string parse (functions/vector.dot_sql):
    the Column-API form costs ~205 ms of py4j lambda construction per
    bucket key × 8 keys per lsh_topk plan; the parsed tree is
    float-identical (A/B verified bucket-for-bucket equal)."""
    terms = [
        f"(CASE WHEN round({dot_sql(vec_col, p)}, 9) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return F.expr(f"cast({' + '.join(terms)} as bigint)")


def _rerank_candidates(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine top-k over ANN candidate id pairs (query_id,
    neighbor_id): the shared tail of lsh_topk and ivf_topk. A hot
    bucket or cell can still concentrate one query's candidates — the
    global_topk window's partial group limit keeps what shuffles to the
    ranking at partitions × k regardless."""
    scored = (
        cand.join(F.broadcast(_side(queries, id_col, vec_col, "q")), "query_id")
        .join(_side(corpus, id_col, vec_col, "c"), "neighbor_id")
        .select("query_id", "neighbor_id", cosine_9dp().alias("cosine"))
    )
    return global_topk(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH; the
    candidates are ranked by the 9-dp cosine (_rerank_candidates).

    Single-table sign-bit LSH fails whenever a neighborhood straddles a
    hyperplane (the whole cluster splits across buckets), so — as in
    every production LSH — we build ``n_tables`` independent tables and
    union their candidates: a pair is missed only if it splits in EVERY
    table. ``multiprobe`` additionally probes all hamming-1 buckets per
    table, rescuing pairs that differ by exactly one borderline plane.

    Scale shape: corpus is bucketed by a scan-side expression (no
    shuffle until the join); (table, bucket) is the join key, so the
    per-query work is ~n_tables × (1 + n_planes) buckets instead of the
    full corpus; skewed buckets are AQE-split.
    """
    # Per-table bucket keys are materialized into named columns FIRST:
    # each key is 8 hyperplane dot products, and the multiprobe variants
    # reference the key 1 + n_planes times per table — built inline they
    # would re-evaluate the dot products per probe (36× per query row at
    # the defaults). XOR over the materialized column is free.
    all_planes = [
        make_hyperplanes(n_planes, dim, seed + 1000 * t) for t in range(n_tables)
    ]
    bkt_cols = [
        lsh_bucket(vec_col, all_planes[t]).alias(f"bkt{t}") for t in range(n_tables)
    ]
    c_keyed = corpus.select(F.col(id_col).alias("neighbor_id"), *bkt_cols)
    q_keyed = queries.select(F.col(id_col).alias("query_id"), *bkt_cols)
    c_buckets = [
        F.struct(F.lit(t).alias("tbl"), F.col(f"bkt{t}").alias("bucket"))
        for t in range(n_tables)
    ]
    q_probes = []
    for t in range(n_tables):
        probes = [F.col(f"bkt{t}")]
        if multiprobe:
            probes += [
                F.col(f"bkt{t}").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)
            ]
        q_probes += [
            F.struct(F.lit(t).alias("tbl"), p.alias("bucket")) for p in probes
        ]
    # Bucket join and dedup carry ONLY ids — vectors are fetched once per
    # unique candidate pair afterwards, so the distinct's shuffle rows
    # are 2 longs instead of 2 × dim floats + norms.
    c_ids = c_keyed.select(
        "neighbor_id", F.explode(F.array(*c_buckets)).alias("tb")
    ).select("neighbor_id", "tb.tbl", "tb.bucket")
    q_ids = q_keyed.select(
        "query_id", F.explode(F.array(*q_probes)).alias("tb")
    ).select("query_id", "tb.tbl", "tb.bucket")
    cand = (
        c_ids.join(F.broadcast(q_ids), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _rerank_candidates(cand, corpus, queries, k, id_col, vec_col)


def make_coarse_centroids(n_cells: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Seeded pseudo-random coarse-quantizer centroids in [-1, 1]^dim.

    At 100 TB you'd train these with one K-Means pass (operators.kmeans)
    and broadcast the result; seeded-random cells keep the IVF mechanics
    — cell assignment, inverted-list join, multi-cell probing —
    byte-reproducible so a SQL oracle can re-derive them from the same
    literals. The operator accepts any centroid list, trained or not."""
    rng = random.Random(seed)
    return [
        [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]
        for _ in range(n_cells)
    ]


def _cell_dists_sql(vec_col: str, cents: list[list[float]]) -> str:
    """SQL text of the array<double> of 9dp-rounded squared L2
    distances to each coarse centroid (one nested literal; rounding
    makes the argmin/probe-order decisions identical across engines —
    same strategy as lsh_bucket). Assembled as TEXT and parsed once:
    the Column-form transform/zip_with/aggregate lambda chain costs
    ~0.1-0.2 s of py4j construction per reference, and the argmin
    consumers reference the array 2-3×; the parsed tree is
    float-identical (collect-verified, same guarantee as dot_sql)."""
    from hadoop_project_spark.functions.vector import (
        double_array_sql,
        sqdist_sql,
    )

    arr = double_array_sql(cents)
    return f"transform({arr}, c -> round({sqdist_sql(vec_col, 'c')}, 9))"


def ivf_cell(vec_col: str, cents: list[list[float]]):
    """Inverted-file cell id = argmin cell distance (first index on
    ties, matching ORDER BY d, cell in SQL)."""
    ds = _cell_dists_sql(vec_col, cents)
    return F.expr(f"cast(array_position({ds}, array_min({ds})) - 1 as int)")


def ivf_cell_assignment(vec_col: str, cents: list[list[float]]):
    """struct(cell, cdist): the argmin coarse cell plus its 9dp-rounded
    squared distance. The semantic-dedup operator blocks on ``cell`` and
    uses ``cdist`` as the keep-rule precedence (closest-to-centroid
    survives), so both must come from the SAME rounded distance array
    an oracle can re-derive from the centroid literals."""
    ds = _cell_dists_sql(vec_col, cents)
    return F.expr(
        f"struct(cast(array_position({ds}, array_min({ds})) - 1 as int)"
        f" as cell, array_min({ds}) as cdist)"
    )


def ivf_probes(vec_col: str, cents: list[list[float]], n_probe: int):
    """The n_probe nearest cell ids for a query vector, nearest first
    (ties to the lower cell id)."""
    ds = _cell_dists_sql(vec_col, cents)
    return F.expr(
        f"transform(slice(array_sort(transform({ds}, "
        "(d, i) -> struct(d as d, cast(i as int) as i))), "
        f"1, {n_probe}), s -> s.i)"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    seed: int = 7,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an inverted-file (IVF) index — the other
    standard ANN scale path next to LSH.

    Scale shape: the corpus scan assigns each vector to its nearest
    coarse cell (pure projection — at scale this IS the partitioning /
    clustering key of the stored table, so the "inverted lists" are
    parquet partitions and probing prunes whole files); each query
    probes its n_probe nearest cells; the cell-key join carries ids
    only; the 9-dp cosine runs on candidates (_rerank_candidates); the
    global_topk window's partial group limit bounds the ranking
    shuffle."""
    cents = centroids if centroids is not None else make_coarse_centroids(
        n_cells, dim, seed
    )
    c_ids = corpus.select(
        F.col(id_col).alias("neighbor_id"), ivf_cell(vec_col, cents).alias("cell")
    )
    q_ids = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(ivf_probes(vec_col, cents, n_probe)).alias("cell"),
    )
    cand = (
        c_ids.join(F.broadcast(q_ids), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    return _rerank_candidates(cand, corpus, queries, k, id_col, vec_col)


def blocked_pair_cosines(
    corpus: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin: float = 1e-6,
) -> DataFrame:
    """All same-block vector pairs (vec_a < vec_b) with raw cosine ≥
    ``threshold - margin`` — the shared scoring core of the near-dup
    operators. Callers apply the authoritative JVM-side round/filter on
    the returned exact doubles; the margin only guards the boundary a
    subsequent 9-dp rounding could cross (≤ 5e-10 ≪ 1e-6).

    Scoring is a per-block Gram matrix in numpy (applyInPandas): each
    vector crosses the Arrow boundary ONCE per block and the pair loop
    runs vectorized, where a pair-join form ships both vectors per PAIR
    and evaluates an interpreted zip_with/aggregate fold per pair —
    measured at the sf1 decade (20M candidate pairs): 131 s → ~4 s; an
    unrolled 64-term JVM sum was WORSE (351 s, falls out of whole-stage
    codegen). Values are bit-identical to the JVM fold form: the Gram
    accumulation iterates dimensions sequentially (((0+t0)+t1)+… exactly
    like F.aggregate), norms fold the same way, and float32→float64
    widening matches the cast-then-multiply of functions/vector.dot.

    Memory contract: one BLOCK must fit in a task (same rule as every
    blocked operator here); at 100 TB the LSH bucket granularity is
    chosen to bound block size, and the Gram work per block is
    O(block² · dim) BLAS, not an O(pairs) shuffle.
    """
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    cut = threshold - margin

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf[id_col].to_numpy()
        M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        n, dim = M.shape
        if n < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        # sequential per-dimension accumulation == F.aggregate's fold
        # order, so G and sq are bit-identical to the JVM expressions
        G = np.zeros((n, n))
        sq = np.zeros(n)
        tmp = np.empty((n, n))
        for d in range(dim):
            col = M[:, d]
            np.multiply.outer(col, col, out=tmp)
            G += tmp
            sq += col * col
        nrm = np.sqrt(sq)
        # zero-norm guard (ADVICE r11 #2): suppress the 0/0 and drop
        # pairs involving an all-zero vector — NaN compares False
        # against cut, but an inf from G>0/0 (impossible) or a NaN
        # must never reach callers' round/filter as a "cosine"
        with np.errstate(divide="ignore", invalid="ignore"):
            C = G / np.multiply.outer(nrm, nrm)
        ia, ib = np.triu_indices(n, k=1)
        keep = (C[ia, ib] >= cut) & (sq[ia] > 0) & (sq[ib] > 0)
        ia, ib = ia[keep], ib[keep]
        a_ids, b_ids = ids[ia], ids[ib]
        swap = a_ids > b_ids  # emit id-ordered pairs like the join form
        a_out = np.where(swap, b_ids, a_ids)
        b_out = np.where(swap, a_ids, b_ids)
        return pd.DataFrame(
            {"vec_a": a_out, "vec_b": b_out, "cosine": C[ia, ib]}
        )

    return corpus.groupBy(F.col(block_col).alias("blk")).applyInPandas(
        score_block, schema=out_schema
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    min_cosine: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on ``block_col``
    (at scale the block key is an LSH bucket — see lsh_bucket; here the
    table's own label provides the deterministic blocking for the
    oracle-checkable variant). Scoring via blocked_pair_cosines; the
    exact threshold decision is made JVM-side on the raw doubles."""
    return blocked_pair_cosines(
        corpus, min_cosine, block_col, id_col, vec_col
    ).filter(F.col("cosine") >= min_cosine)


def quantize_profile(
    emb: DataFrame, vec_col: str = "embedding", levels: int = 256
) -> DataFrame:
    """Per-dimension int8 quantization profile — the storage/bandwidth
    stage of an ANN index build (float32 → 1 byte/dim is 4× less scan
    at query time; IVF/LSH recall is typically unharmed).

    For each dimension: global min/max, and the SUM of every vector's
    quantized code in that dimension. The code sum is an integer
    checksum over all n_vectors × dim quantization DECISIONS — if any
    single code differed between engines the sum would differ — while
    keeping the output at `dim` rows.

    Determinism: code = floor((v - min) / scale) clamped to
    levels-1, with scale = (max - min) / levels. floor over
    correctly-rounded IEEE division is bit-deterministic on any
    engine (unlike round(), whose half-boundary tie rule varies);
    degenerate dimensions (max == min) map to code 0.

    Shape: one posexplode (no shuffle) feeding a groupBy(dim) — the
    per-dim min/max aggregate partially combines map-side, then the
    same exchange serves the join back for code assignment; the second
    pass re-scans rather than caching n_vectors × dim exploded rows.
    """
    exploded = emb.select(
        F.posexplode(F.col(vec_col)).alias("dim_idx", "v")
    ).select("dim_idx", F.col("v").cast("double").alias("v"))
    bounds = exploded.groupBy("dim_idx").agg(
        F.min("v").alias("min_v"), F.max("v").alias("max_v")
    )
    scale = (F.col("max_v") - F.col("min_v")) / F.lit(float(levels))
    code = F.when(F.col("max_v") == F.col("min_v"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("v") - F.col("min_v")) / scale), F.lit(levels - 1)
        )
    )
    return (
        exploded.join(bounds, "dim_idx")
        .groupBy("dim_idx")
        .agg(
            F.min("min_v").alias("min_v"),
            F.min("max_v").alias("max_v"),
            F.sum(code).cast("bigint").alias("sum_codes"),
            F.count("*").cast("bigint").alias("n_values"),
        )
    )


# --- Product quantization (PQ / ADC) --------------------------------
#
# The third standard ANN scale path next to LSH and IVF, and the one
# that wins when the index must be MEMORY-BOUND: each vector is encoded
# as M small codes (one per subspace), so a 64×float32 embedding
# becomes M=8 single-byte codes — a 32× cut in what a scan reads — and
# query-time scoring is M integer lookups + adds against a per-query
# ADC (asymmetric distance computation) table instead of a 64-term
# float fold. Jégou, Douze, Schmid, "Product Quantization for Nearest
# Neighbor Search" (TPAMI 2011); FAISS's PQ/IVFPQ are this design.

PQ_M = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (PQ_M * PQ_SUBDIM == embedding dim)
PQ_CODES = 16  # codewords per subspace (4-bit codes)
PQ_SEED = 11
ADC_UNIT = 1_000_000  # integer micro-units for ADC lookup tables


def make_pq_codebooks(
    m: int = PQ_M,
    codes: int = PQ_CODES,
    subdim: int = PQ_SUBDIM,
    seed: int = PQ_SEED,
) -> list[list[list[float]]]:
    """Seeded per-subspace PQ codebooks (m codebooks × codes codewords
    × subdim dims, 6dp literals in [-1, 1]).

    At 100 TB you'd train each codebook with one K-Means pass over that
    subspace's slices (operators.kmeans per subspace) and broadcast the
    result; seeded-random codewords keep the PQ mechanics — encode,
    ADC tables, integer scoring — byte-reproducible so a SQL oracle can
    re-derive them from the same literals (the make_coarse_centroids
    strategy). Every operator below accepts any codebook list, trained
    or not."""
    rng = random.Random(seed)
    return [
        [
            [round(rng.uniform(-1.0, 1.0), 6) for _ in range(subdim)]
            for _ in range(codes)
        ]
        for _ in range(m)
    ]


def pq_codes(vec_col: str, books: list[list[list[float]]]):
    """array<int> of PQ codes: per subspace, the argmin-codeword index
    over 9dp-rounded squared L2 distances (first index on ties —
    matching ORDER BY d, code in SQL; same cross-engine-argmin strategy
    as ivf_cell). One text parse for the whole M-subspace array — the
    _cell_dists_sql rationale, ×M subspaces per encode."""
    from hadoop_project_spark.functions.vector import (
        double_array_sql,
        sqdist_sql,
    )

    subdim = len(books[0][0])
    cols = []
    for m, book in enumerate(books):
        sub = f"slice({vec_col}, {m * subdim + 1}, {subdim})"
        ds = (
            f"transform({double_array_sql(book)}, "
            f"cw -> round({sqdist_sql(sub, 'cw')}, 9))"
        )
        cols.append(
            f"cast(array_position({ds}, array_min({ds})) - 1 as int)"
        )
    return F.expr("array(" + ", ".join(cols) + ")")


def pq_adc_lut(vec_col: str, books: list[list[list[float]]]):
    """array<array<bigint>> ADC lookup table for a QUERY vector:
    lut[m][j] = squared L2 distance from the query's m-th subvector to
    codeword j, in integer micro-units (round(d × 1e6)).

    Integer units make the approximate distance an EXACT integer sum —
    order-free across partitions and engines, no float-fold hazards in
    the ranking key — and the 1e-6 granularity is far coarser than the
    9dp agreement the cosine queries already rely on, so cross-engine
    rounding flips are strictly less likely, not more."""
    from hadoop_project_spark.functions.vector import (
        double_array_sql,
        sqdist_sql,
    )

    subdim = len(books[0][0])
    luts = []
    for m, book in enumerate(books):
        sub = f"slice({vec_col}, {m * subdim + 1}, {subdim})"
        luts.append(
            f"transform({double_array_sql(book)}, "
            f"cw -> cast(round({sqdist_sql(sub, 'cw')}"
            f" * {float(ADC_UNIT)!r}D, 0) as bigint))"
        )
    return F.expr("array(" + ", ".join(luts) + ")")


def _adc_dist(m: int):
    """Σ_m lut[m][codes[m]] over columns `lut` and `codes` — M integer
    gathers + adds per scored pair (the whole point of ADC)."""
    total = None
    for mi in range(m):
        term = F.element_at(
            F.element_at("lut", mi + 1), F.col("codes").getItem(mi) + F.lit(1)
        )
        total = term if total is None else total + term
    return total


def _ranked_by_adc(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k on an integer `adc_dist`, ascending (NULL last),
    neighbor_id tie-break: the global_topk window in ADC order."""
    return _window_topk(
        scored, "adc_dist", F.col("adc_dist").asc_nulls_last(), k
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    books: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Flat ADC scan — approximate top-k over PQ codes alone.

    Scale shape: the corpus is ENCODED ONCE (pure projection; at scale
    the codes column is what the index table stores — M bytes/vector
    instead of 4×dim, so the scan is memory/IO-bound 32× smaller); each
    query broadcasts its M×codes integer ADC table; scoring a pair is M
    element_at gathers + integer adds inside codegen, never a float
    fold; ranking is the group-limited top-k window. The pair count is
    still corpus × queries — PQ is the compression leg, ivfpq_topk adds
    the candidate-pruning leg."""
    books = books if books is not None else make_pq_codebooks()
    enc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        pq_codes(vec_col, books).alias("codes"),
    )
    qlut = queries.select(
        F.col(id_col).alias("query_id"),
        pq_adc_lut(vec_col, books).alias("lut"),
    )
    scored = (
        enc.crossJoin(F.broadcast(qlut))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", _adc_dist(len(books)).alias("adc_dist")
        )
    )
    return _ranked_by_adc(scored, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    cell_seed: int = 7,
    books: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse cells bound the CANDIDATES, PQ codes bound the
    BYTES — FAISS's IVFPQ in DataFrame algebra.

    The corpus scan assigns each vector its coarse cell AND its PQ
    codes in one pass (at scale: cell is the partition key of the
    stored index, codes are the only payload column — probing prunes
    files, scoring reads M bytes/vector); queries probe n_probe nearest
    cells; the cell join carries (id, codes) only; ADC integer scoring
    ranks candidates without ever touching a full-width vector."""
    books = books if books is not None else make_pq_codebooks()
    cents = make_coarse_centroids(n_cells, dim, cell_seed)
    c_ids = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        ivf_cell(vec_col, cents).alias("cell"),
        pq_codes(vec_col, books).alias("codes"),
    )
    return ivfpq_topk_over(
        c_ids, queries, k=k, cents=cents, books=books, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )


def ivfpq_topk_over(
    enc: DataFrame,
    queries: DataFrame,
    k: int,
    cents: list[list[float]],
    books: list[list[list[float]]],
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF-PQ PROBE alone, over an already-encoded corpus relation
    ``enc`` (neighbor_id, cell, codes) — what a serving path runs
    against the STORED index (where ``cell`` is the table's partition
    key and ``codes`` its only payload column). ivfpq_topk builds
    ``enc`` inline; serving attaches it pre-built."""
    q_probe = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(ivf_probes(vec_col, cents, n_probe)).alias("cell"),
    )
    qlut = queries.select(
        F.col(id_col).alias("query_id"),
        pq_adc_lut(vec_col, books).alias("lut"),
    )
    scored = (
        enc.join(F.broadcast(q_probe), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(qlut), "query_id")
        .select(
            "query_id", "neighbor_id", _adc_dist(len(books)).alias("adc_dist")
        )
    )
    return _ranked_by_adc(scored, k)


def blocked_anchor_cosines(
    corpus: DataFrame,
    anchors: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine) for every (anchor, same-block
    vector) pair, anchor-restricted on one side — the asymmetric twin of
    blocked_pair_cosines for "score a small id-set against its blocks"
    (contrastive dense negatives, per-item re-scoring). ``anchors``:
    (anchor_id) — broadcast; the Gram work per block is
    O(block_anchors x block x dim) BLAS instead of the all-pairs
    block², and the per-dimension SEQUENTIAL accumulation keeps every
    cosine bit-identical to the JVM zip_with/aggregate fold (same
    discipline, and same measured ~30x win over interpreted per-pair
    folds, as blocked_pair_cosines)."""
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    # NULL block keys never pair under the equality-join semantics this
    # implements (NULL = NULL is not true); groupBy would lump them
    # into one scored block otherwise (review finding)
    marked = corpus.filter(F.col(block_col).isNotNull()).join(
        F.broadcast(anchors.select(F.col("anchor_id").alias(id_col))
                    .withColumn("_is_anchor", F.lit(True))),
        id_col,
        "left",
    ).select(
        F.col(block_col).alias("blk"),
        F.col(id_col),
        F.col(vec_col),
        F.coalesce("_is_anchor", F.lit(False)).alias("_is_anchor"),
    )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        amask = pdf["_is_anchor"].to_numpy()
        if not amask.any() or len(pdf) < 2:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            )
        ids = pdf[id_col].to_numpy()
        M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        A = M[amask]
        a_ids = ids[amask]
        a, dim = A.shape
        n = M.shape[0]
        # sequential per-dimension accumulation == F.aggregate's fold
        G = np.zeros((a, n))
        sqa = np.zeros(a)
        sqc = np.zeros(n)
        tmp = np.empty((a, n))
        for d in range(dim):
            ca, cc = A[:, d], M[:, d]
            np.multiply.outer(ca, cc, out=tmp)
            G += tmp
            sqa += ca * ca
            sqc += cc * cc
        # zero-norm guard (ADVICE r11 #2, mirroring blocked_pair_
        # cosines' gap): an all-zero embedding has no defined cosine —
        # suppress the 0/0 and drop its pairs instead of letting
        # inf/NaN propagate into downstream ranking
        with np.errstate(divide="ignore", invalid="ignore"):
            C = G / np.multiply.outer(np.sqrt(sqa), np.sqrt(sqc))
        qi, ni = np.meshgrid(np.arange(a), np.arange(n), indexing="ij")
        qi, ni = qi.ravel(), ni.ravel()
        keep = (
            (a_ids[qi] != ids[ni])  # no self pairs
            & (sqa[qi] > 0)
            & (sqc[ni] > 0)
        )
        return pd.DataFrame(
            {
                "query_id": a_ids[qi[keep]],
                "neighbor_id": ids[ni[keep]],
                "cosine": C[qi[keep], ni[keep]],
            }
        )

    return marked.groupBy("blk").applyInPandas(
        score_block, schema=out_schema
    )
