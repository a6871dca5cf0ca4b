"""Iterative ML queries — the reference's K-Means pipeline
(final/src/main/java/program/KDriver.java) on the embeddings table.

Round 8: the iterative queries are FULLY oracle-verified. The fit runs
on KM_QUANT fixed-point coordinates (operators/kmeans.kmeans_fit_pinned
— generalizing the reference's own per-iteration HALF_UP 3-dp centroid
rounding, KMeans.java:192-194), which makes every Lloyd step integer-
exact; the oracle below replays the ENTIRE training loop in DuckDB as
chained MATERIALIZED CTE stages — one (assign → centroid-update) pair
per iteration, the same pattern the round-7 BPE trainer proved
(plans/bpe_queries.py) — so a hash-green driver row certifies all
KM_PIN_ITERS iterations end-to-end, not just one step.
tests/test_kmeans.py additionally pins the pinned fit against a
quantized NumPy Lloyd twin with EXACT integer equality, and keeps the
float fit's property tests for the reference-pipeline semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import literal
from hadoop_project_spark.functions.vector import (
    double_array_lit,
    squared_l2_distance,
)
from hadoop_project_spark.operators import similarity as sim
from hadoop_project_spark.operators.kmeans import (
    KM_QUANT,
    assign_clusters_pinned,
    kmeans_fit_pinned,
    pinned_distances,
    quantize_points,
)
from hadoop_project_spark.plans.registry import register

KM_K = 8
KM_DIM = 64
# Fixed iteration count for the pinned fit: the oracle replays exactly
# this many stages, and the driver loop short-circuits only on an exact
# fixed point (provably a no-op for the remaining stages).
KM_PIN_ITERS = 8

# Seeded literal centroids for the ORACLE-ANCHORED single-step queries
# below (distinct seed from the IVF coarse quantizer so the two query
# families can't mask each other's regressions).
STEP_SEED = 11

# One Lloyd fit is shared by every query over the same (sf_dir, k): the
# result is a plain k×dim integer list independent of the SparkSession,
# and refitting per query (two full convergence loops per bench run)
# would buy nothing. The key folds in serving.source_fingerprint of the
# embeddings parquet (per-file size and mtime, no data read — the key
# quality_lr_queries._fitted uses), so a regenerated fixture under the
# same path invalidates the memo instead of silently serving a stale
# fit, and a memo hit launches no job.
_FIT_CACHE: dict[tuple[str, int, str], object] = {}


def _shared_fit(qpts: DataFrame, sf_dir: str, k: int = KM_K):
    """Pinned fit over the (vec_id, qv) projection, memoized per
    (sf_dir, k, embeddings fingerprint). ``qpts`` must already be
    cached by the caller (every query here materializes it once)."""
    from hadoop_project_spark.serving import source_fingerprint

    src = os.path.join(sf_dir, "embeddings.parquet")
    key = (sf_dir, k, source_fingerprint(src))
    if key not in _FIT_CACHE:
        _FIT_CACHE[key] = kmeans_fit_pinned(
            qpts, k=k, dim=KM_DIM, max_iter=KM_PIN_ITERS, assume_quantized=True
        )
    return _FIT_CACHE[key]


# ---------------------------------------------------------------------------
# Oracle generation: replay the pinned Lloyd loop as chained MATERIALIZED
# CTE stages (the round-7 BPE pattern — DuckDB inlines plain CTEs, and a
# stage referencing its predecessor k times would expand exponentially).
# Everything is integer arithmetic except the centroid update's one
# correctly-rounded double division, mirrored operand-for-operand.
# ---------------------------------------------------------------------------
_SQL_QPTS = f"""pts AS MATERIALIZED (
      SELECT vec_id,
             [CAST(floor(CAST(embedding[i] AS DOUBLE) * {float(KM_QUANT)!r} + 0.5)
                   AS BIGINT)
              for i in range(1, {KM_DIM + 1})] AS q
      FROM embeddings
    )"""

_SQL_DIMS = f"(SELECT UNNEST(range(1, {KM_DIM + 1})) AS j) g"


def _sql_qdist(a: str, b: str) -> str:
    """Exact integer squared-L2 between two BIGINT-list columns."""
    return (
        f"list_sum([({a}[j] - {b}[j]) * ({a}[j] - {b}[j]) "
        f"for j in range(1, {KM_DIM + 1})])"
    )


def _sql_lloyd_chain(k: int, p: str, iters: int = KM_PIN_ITERS) -> list[str]:
    """CTE stages {p}c0 .. {p}c{iters}: init (k lowest vec_ids) and one
    (assign, update) pair per iteration. Assignment ties break to the
    lowest cluster index (ORDER BY dist, cluster — exact on integers,
    matching Spark's array_position-of-min)."""
    d = _sql_qdist("p.q", "c.q")
    stages = [
        f"""{p}c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, q
      FROM (SELECT vec_id, q FROM pts ORDER BY vec_id LIMIT {k})
    )"""
    ]
    for i in range(1, iters + 1):
        stages.append(
            f"""{p}a{i} AS MATERIALIZED (
      SELECT vec_id, q, cluster FROM (
        SELECT p.vec_id, p.q, c.cluster,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d}, c.cluster) AS rn
        FROM pts p CROSS JOIN {p}c{i - 1} c
      ) WHERE rn = 1
    ),
    {p}c{i} AS MATERIALIZED (
      SELECT o.cluster, COALESCE(u.nq, o.q) AS q
      FROM {p}c{i - 1} o LEFT JOIN (
        SELECT cluster, list(nv ORDER BY pos) AS nq FROM (
          SELECT cluster, g.j AS pos,
                 CAST(floor(CAST(SUM(q[g.j]) AS DOUBLE) / COUNT(*) + 0.5)
                      AS BIGINT) AS nv
          FROM {p}a{i} CROSS JOIN {_SQL_DIMS}
          GROUP BY cluster, g.j
        ) GROUP BY cluster
      ) u ON u.cluster = o.cluster
    )"""
        )
    return stages


def _sql_final_assign(p: str, iters: int = KM_PIN_ITERS) -> str:
    """(vec_id, cluster, d): assignment under the FINAL centroids."""
    d = _sql_qdist("p.q", "c.q")
    return f"""{p}fa AS (
      SELECT vec_id, cluster, d FROM (
        SELECT p.vec_id, c.cluster, {d} AS d,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d}, c.cluster) AS rn
        FROM pts p CROSS JOIN {p}c{iters} c
      ) WHERE rn = 1
    )"""


def _sql_kmeans_centroids(k: int = KM_K) -> str:
    stages = [_SQL_QPTS, *_sql_lloyd_chain(k, "k8")]
    return (
        "WITH " + ",\n    ".join(stages) + f"""
    SELECT c.cluster, CAST(g.j - 1 AS INT) AS pos,
           CAST(q[g.j] AS DOUBLE) / {float(KM_QUANT)!r} AS val
    FROM k8c{KM_PIN_ITERS} c CROSS JOIN {_SQL_DIMS}
    """
    )


def _sql_kmeans_cluster_sizes(k: int = KM_K) -> str:
    stages = [_SQL_QPTS, *_sql_lloyd_chain(k, "k8"), _sql_final_assign("k8")]
    return (
        "WITH " + ",\n    ".join(stages) + f"""
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
           round(CAST(SUM(d) AS DOUBLE) / COUNT(*)
                 / {float(KM_QUANT * KM_QUANT)!r}, 6) AS avg_sq_dist
    FROM k8fa GROUP BY cluster
    """
    )


def _sql_silhouette_leg(k: int, p: str, iters: int = KM_PIN_ITERS) -> tuple[list[str], str]:
    """Chain + per-leg CTEs and the final SELECT row for one k."""
    d = _sql_qdist("p.q", "c.q")
    stages = _sql_lloyd_chain(k, p)
    stages.append(
        f"""{p}top2 AS (
      SELECT vec_id,
             MAX(CASE WHEN rn = 1 THEN d END) AS d1,
             MAX(CASE WHEN rn = 2 THEN d END) AS d2
      FROM (
        SELECT p.vec_id, {d} AS d,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {d}, c.cluster) AS rn
        FROM pts p CROSS JOIN {p}c{iters} c
      ) WHERE rn <= 2 GROUP BY vec_id
    ),
    {p}sil AS (
      SELECT CASE WHEN d2 > 0
                  THEN CAST((CAST(d2 AS DOUBLE) - CAST(d1 AS DOUBLE))
                            / CAST(d2 AS DOUBLE) AS DECIMAL(18, 15))
                  ELSE CAST(0.0 AS DECIMAL(18, 15)) END AS s
      FROM {p}top2
    )"""
    )
    for i in range(1, iters + 1):
        stages.append(
            f"""{p}ch{i} AS (
      SELECT COUNT(*) AS c FROM {p}c{i} a JOIN {p}c{i - 1} b
      ON a.cluster = b.cluster AND a.q <> b.q
    )"""
        )
    n_iters_case = (
        "CASE "
        + " ".join(
            f"WHEN (SELECT c FROM {p}ch{i}) = 0 THEN {i}"
            for i in range(1, iters + 1)
        )
        + f" ELSE {iters} END"
    )
    converged = " OR ".join(
        f"(SELECT c FROM {p}ch{i}) = 0" for i in range(1, iters + 1)
    )
    row = f"""SELECT CAST({k} AS INT) AS k,
           (SELECT round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) FROM {p}sil)
             AS silhouette,
           CAST({n_iters_case} AS INT) AS n_iters,
           ({converged}) AS converged"""
    return stages, row


def _sql_kmeans_silhouette() -> str:
    s4, r4 = _sql_silhouette_leg(4, "k4")
    s8, r8 = _sql_silhouette_leg(8, "k8")
    return (
        "WITH " + ",\n    ".join([_SQL_QPTS, *s4, *s8])
        + f"\n    {r4}\n    UNION ALL\n    {r8}"
    )


@register(
    "kmeans_centroids",
    oracle=_sql_kmeans_centroids(),
    tags=("ml", "kmeans", "A11", "J3", "O3", "C2", "iterative"),
)
def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final centroids of the k=8 pinned Lloyd fit on the embeddings,
    as (cluster, pos, val) rows — val in original units at KM_QUANT
    (4-dp) resolution, one exact double division from the certified
    integers. The oracle replays the full iterative loop (C2) in SQL,
    so the driver's hash-match certifies init, every assignment (O3),
    and every weighted-mean update (A11) across all KM_PIN_ITERS
    iterations — the pattern plans/bpe_queries.py established. The
    k × dim fitted values leave the driver through execution.literal
    (a LocalTableScan), so reading them starts no Python worker."""
    emb = load_table(spark, sf_dir, "embeddings")
    qpts = quantize_points(emb).cache()
    try:
        res = _shared_fit(qpts, sf_dir)
    finally:
        qpts.unpersist()
    rows = [
        (ci, pos, q / float(KM_QUANT))
        for ci, c in enumerate(res.centroids_q)
        for pos, q in enumerate(c)
    ]
    return literal(spark, "cluster int, pos int, val double", rows)


@register(
    "kmeans_cluster_sizes",
    oracle=_sql_kmeans_cluster_sizes(),
    tags=("ml", "kmeans", "A9", "O3", "iterative"),
)
def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster cardinalities + mean within-cluster squared distance
    under the pinned fit's final centroids (the reference's PickUpData
    count rollup, A9, in vector space). Distances are exact integers in
    micro-unit²; the average is sum/n/QUANT² — an exact integer sum and
    two correctly-rounded double divisions, mirrored in the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    qpts = quantize_points(emb).cache()
    try:
        res = _shared_fit(qpts, sf_dir)
        assigned = assign_clusters_pinned(qpts, res.centroids_q)
        return assigned.groupBy("cluster").agg(
            F.count("*").cast("long").alias("n_points"),
            F.round(
                F.sum("dist").cast("double")
                / F.count("*")
                / F.lit(float(KM_QUANT * KM_QUANT)),
                6,
            ).alias("avg_sq_dist"),
        )
    finally:
        qpts.unpersist()


@register(
    "kmeans_silhouette",
    oracle=_sql_kmeans_silhouette(),
    tags=("ml", "kmeans", "A12", "F13", "C1", "iterative"),
)
def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection sweep (KDriver.java:60-63): pinned-fit k ∈
    {4, 8}, score each with the reference's simplified silhouette
    ((d2-d1)/d2 on squared distances, Silhouette.java:83-95 bug-compat
    form — scale-invariant, so the micro-unit² integers give the same
    ratio), return one row per k — the engine analog of KResults.txt.
    Per-point silhouettes are identical doubles on both engines
    (integer d1/d2); the mean runs over DECIMAL(18,15) casts so the
    sum is exact and partition-order-independent before the one final
    double division. The per-k rows are scored on the driver and
    returned through execution.literal (a LocalTableScan)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qpts = quantize_points(emb).cache()
    try:
        rows = []
        for k in (4, 8):
            res = _shared_fit(qpts, sf_dir, k)
            ds = F.array_sort(pinned_distances(res.centroids_q))
            d1 = ds[0].cast("double")
            d2 = ds[1].cast("double")
            sil = F.when(ds[1] > 0, (d2 - d1) / d2).otherwise(F.lit(0.0))
            row = qpts.select(sil.cast("decimal(18,15)").alias("s")).agg(
                F.round(
                    F.sum("s").cast("double") / F.count("*"), 6
                ).alias("sil")
            ).first()
            rows.append((k, float(row["sil"]), res.n_iters, res.converged))
    finally:
        qpts.unpersist()
    return literal(
        spark, "k int, silhouette double, n_iters int, converged boolean", rows
    )


# ---------------------------------------------------------------------------
# Oracle-anchored single-step K-Means queries. The convergence LOOP is
# legitimately oracle-less (driver-side iteration), but one Lloyd step is
# pure SQL: literal seeded centroids (same byte-reproducible trick as the
# IVF coarse quantizer, operators/similarity.py make_coarse_centroids),
# argmin assignment, weighted-mean recompute. These hash-anchor the math
# of A11 (per-cluster weighted mean, KMeans.java:178-205), O3 (argmin),
# J3 (broadcast-by-literal centroids), F9 (squared L2), and — via the
# top-2 twin below — O4/F13 (Silhouette.java:83-95) under the driver's
# value-hash check instead of leaving them tests-only.
# ---------------------------------------------------------------------------
def _step_cents() -> list[list[float]]:
    return sim.make_coarse_centroids(KM_K, KM_DIM, STEP_SEED)


def _step_dists(cents: list[list[float]]):
    """array<double> of 9dp-rounded squared L2 distances to each literal
    centroid — rounding makes argmin/sort decisions identical across
    engines (same strategy as the IVF cell assignment)."""
    carr = double_array_lit(cents)
    return F.transform(
        carr, lambda c: F.round(squared_l2_distance("embedding", c), 9)
    )


def _sql_step_ds(cents: list[list[float]]) -> str:
    """DuckDB twin of _step_dists as a literal list expression."""

    def sqdist(cent: list[float]) -> str:
        lits = ", ".join(repr(x) for x in cent)
        return (
            f"round(list_sum([(CAST(embedding[i] AS DOUBLE) - ([{lits}])[i]) * "
            f"(CAST(embedding[i] AS DOUBLE) - ([{lits}])[i]) "
            f"for i in range(1, {KM_DIM + 1})]), 9)"
        )

    return "[" + ", ".join(sqdist(c) for c in cents) + "]"


@register(
    "kmeans_assign_step",
    oracle=f"""
    WITH keyed AS (
      SELECT embedding, {_sql_step_ds(_step_cents())} AS ds FROM embeddings
    ),
    assigned AS (
      SELECT embedding,
             CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cluster
      FROM keyed
    ),
    ex AS (
      SELECT cluster, CAST(u.i AS INT) AS pos,
             CAST(embedding[u.i + 1] AS DOUBLE) AS v
      FROM assigned, (SELECT UNNEST(range(0, {KM_DIM})) AS i) u
    )
    SELECT cluster, pos, round(AVG(v), 6) AS val,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM ex GROUP BY cluster, pos
    """,
    tags=("ml", "kmeans", "A11", "O3", "J3", "F9"),
)
def kmeans_assign_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd step under the driver's hash check: argmin
    assignment to seeded literal centroids, then the per-(cluster, dim)
    mean recompute (A11's sum(x)/n), 6dp-rounded like the reference's
    centroid output. Ties break to the lowest cluster index on both
    engines (array_position / list_position both find the first min)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ds = _step_dists(_step_cents())
    cluster = (F.array_position(ds, F.array_min(ds)) - 1).cast("int")
    assigned = emb.select(cluster.alias("cluster"), "embedding")
    return (
        assigned.select("cluster", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("val"),
            F.count("*").cast("long").alias("n_points"),
        )
    )


@register(
    "nearest_two_centroids",
    oracle=f"""
    WITH keyed AS (
      SELECT {_sql_step_ds(_step_cents())} AS ds FROM embeddings
    ),
    two AS (
      SELECT list_sort([[ds[i], CAST(i - 1 AS DOUBLE)]
                        for i in range(1, {KM_K + 1})])[:2] AS t
      FROM keyed
    ),
    scored AS (
      SELECT CAST(t[1][2] AS INT) AS nearest, CAST(t[2][2] AS INT) AS second,
             t[1][1] AS d1, t[2][1] AS d2,
             CASE WHEN t[2][1] > 0 THEN (t[2][1] - t[1][1]) / t[2][1]
                  ELSE 0.0 END AS sil
      FROM two
    )
    SELECT nearest, second, CAST(COUNT(*) AS BIGINT) AS n_points,
           round(AVG(d1), 6) AS avg_d1, round(AVG(d2), 6) AS avg_d2,
           round(AVG(sil), 6) AS avg_silhouette
    FROM scored GROUP BY nearest, second
    """,
    tags=("ml", "kmeans", "O4", "F13"),
)
def nearest_two_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4's top-2 min under the driver's hash check: per point, the two
    nearest seeded literal centroids (sorted (dist, idx) pairs — ties to
    the lower index on both engines), aggregated per (nearest, second)
    cell with the reference's simplified silhouette (d2-d1)/d2 on
    squared distances (Silhouette.java:83-95, bug-compat form)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ds = _step_dists(_step_cents())
    pairs = F.transform(
        ds, lambda d, i: F.struct(d.alias("d"), i.cast("double").alias("i"))
    )
    two = F.slice(F.array_sort(pairs), 1, 2)
    scored = emb.select(
        two[0]["i"].cast("int").alias("nearest"),
        two[1]["i"].cast("int").alias("second"),
        two[0]["d"].alias("d1"),
        two[1]["d"].alias("d2"),
    ).withColumn(
        "sil",
        F.when(
            F.col("d2") > 0, (F.col("d2") - F.col("d1")) / F.col("d2")
        ).otherwise(F.lit(0.0)),
    )
    return scored.groupBy("nearest", "second").agg(
        F.count("*").cast("long").alias("n_points"),
        F.round(F.avg("d1"), 6).alias("avg_d1"),
        F.round(F.avg("d2"), 6).alias("avg_d2"),
        F.round(F.avg("sil"), 6).alias("avg_silhouette"),
    )
