"""K-Means property tests (SURVEY.md §5: K-Means e2e asserts
convergence properties + exact match vs a pure-Python/NumPy Lloyd
reference, since the reference repo's own goldens are unreproducible)."""

from __future__ import annotations

import numpy as np
import pytest

from hadoop_project_spark.catalog import load_table

K, DIM = 4, 64


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").orderBy("vec_id")


def test_silhouette_in_range(spark, sf_dir):
    """kmeans_silhouette reports the simplified silhouette (d2-d1)/d2
    with d2 >= d1 >= 0, so every per-k value lies in [0, 1]."""
    from hadoop_project_spark.plans.ml_queries import kmeans_silhouette

    rows = kmeans_silhouette(spark, sf_dir).collect()
    assert sorted(r["k"] for r in rows) == [4, 8]
    assert all(0.0 <= r["silhouette"] <= 1.0 for r in rows)


# ---------------------------------------------------------------------------
# Pinned (fixed-point) fit: EXACT integer equality against a quantized
# NumPy Lloyd twin — the local pin behind the driver's chained-CTE
# oracle replay (plans/ml_queries.py).
# ---------------------------------------------------------------------------
def numpy_lloyd_pinned(Q: "np.ndarray", k: int, max_iter: int):
    """Python-int Lloyd on quantized coordinates, replicating
    kmeans_fit_pinned's exact recipe: integer squared distances, argmin
    ties to the lowest index, update floor(sum/n + 0.5) via one double
    division, empty cluster keeps its centroid, fixed-point early exit."""
    import math

    cents = [[int(x) for x in row] for row in Q[:k]]
    converged, it = False, 0
    for it in range(1, max_iter + 1):
        C = np.array(cents, dtype=np.int64)
        d = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # ties -> lowest index, same as Spark
        new = [list(c) for c in cents]
        for ci in range(k):
            members = Q[assign == ci]
            if len(members):
                sums = members.sum(axis=0)
                new[ci] = [
                    math.floor(int(s) / len(members) + 0.5) for s in sums
                ]
        if new == cents:
            converged = True
            break
        cents = new
    return cents, it, converged


def test_pinned_fit_matches_quantized_numpy_exactly(spark, sf_dir, emb):
    from hadoop_project_spark.operators.kmeans import (
        KM_QUANT,
        assign_clusters_pinned,
        kmeans_fit_pinned,
        quantize_points,
    )

    rows = emb.collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Q = np.floor(X * KM_QUANT + 0.5).astype(np.int64)
    np_cents, np_iters, np_conv = numpy_lloyd_pinned(Q, K, 8)

    res = kmeans_fit_pinned(emb, k=K, dim=DIM, max_iter=8)
    assert res.centroids_q == np_cents  # exact integer equality
    assert res.n_iters == np_iters
    assert res.converged == np_conv

    # assignments under the final centroids match exactly too
    qpts = quantize_points(emb)
    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in assign_clusters_pinned(qpts, res.centroids_q).collect()
    }
    C = np.array(np_cents, dtype=np.int64)
    d = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    for vid, dists in zip((r["vec_id"] for r in rows), d):
        assert got[vid] == (int(dists.argmin()), int(dists.min()))


def test_quantization_is_exact_fixed_point(spark, sf_dir, emb):
    """floor(v·QUANT + 0.5) on the Spark side equals the same IEEE
    chain in NumPy for every fixture coordinate (negative values round
    half toward +inf on both)."""
    from hadoop_project_spark.operators.kmeans import KM_QUANT, quantize_points

    rows = emb.collect()
    got = {r["vec_id"]: r["qv"] for r in quantize_points(emb).collect()}
    for r in rows:
        expect = [
            int(np.floor(float(v) * KM_QUANT + 0.5)) for v in r["embedding"]
        ]
        assert got[r["vec_id"]] == expect


def test_pinned_fit_magnitude_guard_fails_loudly(spark):
    """VERDICT r8 item 7: coordinates big enough to break the int64
    squared-distance envelope must raise, not wrap/drift silently."""
    from pyspark.sql import Row

    from hadoop_project_spark.operators.kmeans import kmeans_fit_pinned

    big = 1.0e6  # quantizes to 1e10 ≫ the dim=2 bound of ~2^30
    pts = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[big, -big]),
            Row(vec_id=2, embedding=[-big, big]),
            Row(vec_id=3, embedding=[big / 2, big / 3]),
        ]
    )
    with pytest.raises(ValueError, match="squared-distance envelope"):
        kmeans_fit_pinned(pts, k=2, dim=2, max_iter=2)


def test_pinned_fit_guard_passes_on_unit_scale(spark):
    """The guard is a backstop, not a tax: unit-scale inputs (the
    documented |coord| < 1 envelope) fit without tripping it."""
    from pyspark.sql import Row

    from hadoop_project_spark.operators.kmeans import kmeans_fit_pinned

    pts = spark.createDataFrame(
        [Row(vec_id=i, embedding=[0.01 * i, -0.02 * i]) for i in range(8)]
    )
    res = kmeans_fit_pinned(pts, k=2, dim=2, max_iter=3)
    assert len(res.centroids_q) == 2


# ---------------------------------------------------------------------------
# The shared-fit memo (plans/ml_queries._shared_fit): keyed by the
# embeddings file's fingerprint, so a rewritten file refits and a memo
# hit runs no job.
# ---------------------------------------------------------------------------
def _centroid_rows(spark, sf):
    from hadoop_project_spark.plans.ml_queries import kmeans_centroids

    return sorted(tuple(r) for r in kmeans_centroids(spark, sf).collect())


def test_fit_memo_refits_a_rewritten_embeddings_file(spark, sf_dir, tmp_path):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from hadoop_project_spark.plans import ml_queries

    src = pq.read_table(f"{sf_dir}/embeddings.parquet")
    path = tmp_path / "embeddings.parquet"
    pq.write_table(src, path)
    before = _centroid_rows(spark, str(tmp_path))
    # drop the odd vec_ids: the k lowest ids that seed the fit change
    pq.write_table(
        src.filter(pc.equal(pc.bit_wise_and(src["vec_id"], 1), 0)), path
    )
    after = _centroid_rows(spark, str(tmp_path))
    assert after != before
    ml_queries._FIT_CACHE.clear()
    assert _centroid_rows(spark, str(tmp_path)) == after


def test_fit_memo_hit_launches_no_job(spark, sf_dir, tmp_path, jobs_run_by):
    import shutil

    from hadoop_project_spark.plans.ml_queries import kmeans_centroids

    shutil.copy(f"{sf_dir}/embeddings.parquet", tmp_path)
    fitted = kmeans_centroids(spark, str(tmp_path))
    assert jobs_run_by(lambda: kmeans_centroids(spark, str(tmp_path))) == []
    again = kmeans_centroids(spark, str(tmp_path))
    assert sorted(again.collect()) == sorted(fitted.collect())
