"""LSH quality gate: multi-probe random-hyperplane LSH must reach
reasonable recall@10 against the exact brute-force ranking."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators import similarity as sim


def test_lsh_recall_on_clustered_data(spark):
    """LSH earns its keep on data with neighborhood structure: plant 8
    tight clusters and require high recall@10 with multi-probe."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, 25, axis=0) + 0.05 * rng.normal(size=(200, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<float>",
    )
    queries = df.filter(F.col("vec_id") < 8)
    exact = sim.brute_force_topk(df, queries, k=10)
    approx = sim.lsh_topk(df, queries, k=10, n_planes=8, dim=64, seed=42)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"recall@10 on clustered data too low: {recall:.2f}"


def test_lsh_recall_floor_on_random_data(spark, sf_dir):
    """On structure-free random vectors LSH degrades to ~fraction-probed
    recall — assert it still returns full result sets and beats zero."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = sim.brute_force_topk(emb, queries, k=10)
    approx = sim.lsh_topk(emb, queries, k=10, n_planes=8, dim=64, seed=42)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) > 0


def test_ivf_recall_on_clustered_data(spark):
    """IVF with random coarse cells on clustered data: probing 4 of 16
    cells must recover most exact neighbors (cluster members land in
    the same or adjacent cells)."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, 25, axis=0) + 0.05 * rng.normal(size=(200, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<float>",
    )
    queries = df.filter(F.col("vec_id") < 8)
    exact = sim.brute_force_topk(df, queries, k=10)
    approx = sim.ivf_topk(df, queries, k=10, n_cells=16, n_probe=4, dim=64)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"IVF recall@10 too low: {recall:.2f}"


def test_lsh_bucket_determinism(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    planes = sim.make_hyperplanes(8, 64, seed=42)
    b1 = emb.select(sim.lsh_bucket("embedding", planes).alias("b")).collect()
    b2 = emb.select(sim.lsh_bucket("embedding", planes).alias("b")).collect()
    assert [r["b"] for r in b1] == [r["b"] for r in b2]


def _plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _partial_group_limit_feeds_exchange(df, key: str) -> bool:
    """True when the physical plan's `key`-partitioned ranking exchange
    reads a Partial WindowGroupLimit: each scan partition ships at most
    k rows per key, and a Final limit sits above the exchange."""
    lines = _plan_str(df).splitlines()
    for i, ln in enumerate(lines[:-1]):
        if f"Exchange hashpartitioning({key}#" in ln:
            child = lines[i + 1]
            if "WindowGroupLimit" in child and "Partial" in child:
                return any(
                    "WindowGroupLimit" in l and "Final" in l for l in lines[:i]
                )
    return False


def _without_group_limit(spark, build):
    """Collect `build()` with Spark's WindowGroupLimit inference off —
    the plain full-window ranking the group limit must reproduce."""
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = build()
        assert "WindowGroupLimit" not in _plan_str(df)
        return df.collect()
    finally:
        spark.conf.set(key, saved)


def _added_shuffles(ranked, scored) -> int:
    """Shuffle exchanges the ranking adds on top of its scored input."""
    import re

    def count(df):
        return len(
            re.findall(
                r"Exchange (?:hashpartitioning|rangepartitioning|"
                r"SinglePartition|RoundRobinPartitioning)",
                _plan_str(df),
            )
        )

    return count(ranked) - count(scored)


def test_topk_window_group_limit_bounds_ranking_input(spark, sf_dir):
    """global_topk and the BM25 top-k are one row_number <= k window:
    Spark must plan a Partial WindowGroupLimit below the query-keyed
    ranking exchange, the ONE shuffle the ranking adds (so the scored
    set never shuffles whole), and the result must equal the same
    window ranked without the limit."""
    from hadoop_project_spark.operators import invindex as ix
    from hadoop_project_spark.plans.invindex_queries import BM25_QUERIES

    emb = load_table(spark, sf_dir, "embeddings").repartition(6)
    queries = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    k = 5
    q = sim.with_norm(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        ),
        "q",
    )
    c = sim.with_norm(
        emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ),
        "c",
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.cosine_9dp().alias("cosine"))
    )
    ranked = sim.global_topk(scored, k)
    assert _partial_group_limit_feeds_exchange(ranked, "query_id"), _plan_str(ranked)
    assert _added_shuffles(ranked, scored) == 1, _plan_str(ranked)
    got = ranked.collect()
    assert len(got) == queries.count() * k
    assert sorted(got) == sorted(
        _without_group_limit(spark, lambda: sim.global_topk(scored, k))
    )

    docs = load_table(spark, sf_dir, "documents").repartition(6)
    bm25 = ix.bm25_topk(docs, BM25_QUERIES, k)
    assert _partial_group_limit_feeds_exchange(bm25, "query"), _plan_str(bm25)
    agg = ix._bm25_scored_agg(
        *ix._bm25_inputs(docs), ix._bm25_qt(spark, BM25_QUERIES)
    )
    assert _added_shuffles(bm25, agg) == 1, _plan_str(bm25)
    got = bm25.collect()
    assert len(got) == len(BM25_QUERIES) * k
    assert sorted(got) == sorted(
        _without_group_limit(
            spark, lambda: ix.bm25_topk(docs, BM25_QUERIES, k)
        )
    )


def test_local_topk_nan_null_parity_with_window(spark):
    """NaN cosines rank FIRST under the window's cosine DESC (Spark
    orders NaN above all doubles) and NULLs rank LAST (DESC NULLS
    LAST); the group-limited global_topk must keep exactly that order,
    per partition and after the exchange, or it diverges from the
    naive window."""
    import math

    from pyspark.sql.window import Window

    rows = []
    for q in (1, 2):
        rows += [(q, 10, float("nan")), (q, 11, None), (q, 12, 0.9),
                 (q, 13, 0.8), (q, 14, float("nan")), (q, 15, None),
                 (q, 16, 0.7)]
    scored = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, cosine double"
    ).repartition(3)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    naive = _without_group_limit(
        spark,
        lambda: scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= 4
        ),
    )
    ranked = sim.global_topk(scored, 4)
    assert "WindowGroupLimit" in _plan_str(ranked)

    def key(r):
        c = r["cosine"]
        c = "nan" if (c is not None and math.isnan(c)) else c
        return (r["query_id"], r["rank"], r["neighbor_id"], c)

    assert sorted(map(key, naive)) == sorted(map(key, ranked.collect()))


def test_semantic_dedup_keep_rule(spark, sf_dir):
    """SemDeDup decision invariants: (1) a vector is dropped only if it
    has >= 1 duplicate neighbor; (2) every duplicate GROUP keeps at
    least one member — specifically, within each cluster the matched
    vector closest to the centroid (min (cdist, vec_id)) always
    survives; (3) the decision table covers every input vector exactly
    once."""
    from hadoop_project_spark.plans.similarity_queries import (
        semantic_dedup_decisions,
    )

    dec = semantic_dedup_decisions(spark, sf_dir).collect()
    emb_n = load_table(spark, sf_dir, "embeddings").count()
    assert len(dec) == emb_n
    assert len({r["vec_id"] for r in dec}) == emb_n
    for r in dec:
        if r["dropped"]:
            assert r["n_dup_neighbors"] >= 1
    # per cluster: among matched vectors, the (cdist, vec_id)-minimal
    # one is never dropped
    by_cell: dict[int, list] = {}
    for r in dec:
        if r["n_dup_neighbors"] >= 1:
            by_cell.setdefault(r["cell"], []).append(r)
    for rows in by_cell.values():
        head = min(rows, key=lambda r: (r["cdist"], r["vec_id"]))
        assert not head["dropped"], head


def test_pq_codes_shape_and_range(spark, sf_dir):
    """Every vector encodes to exactly M codes, each in [0, CODES)."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = sim.make_pq_codebooks()
    enc = emb.select(sim.pq_codes("embedding", books).alias("codes"))
    bad = enc.filter(
        (F.size("codes") != sim.PQ_M)
        | F.exists(
            "codes", lambda c: (c < 0) | (c >= F.lit(sim.PQ_CODES))
        )
    )
    assert bad.count() == 0


def test_pq_adc_preserves_cluster_structure(spark):
    """PQ/ADC with UNTRAINED (seeded) codebooks preserves coarse
    neighborhood structure: for planted tight clusters, the compressed
    top-10 comes from the query's own cluster. (Within-cluster ORDER
    under random codebooks is quantization noise — fine-ranking recall
    is what codebook training buys, and what ann_pq_recall measures on
    the real table — but cross-cluster confusion would mean the ADC
    distances are wrong, not just coarse.)"""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.uniform(-1, 1, size=(8, 64))
    pts = np.repeat(centers, 25, axis=0) + 0.02 * rng.normal(size=(200, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<float>",
    )
    queries = df.filter(F.col("vec_id") < 8)
    approx = sim.pq_adc_topk(df, queries, k=10).collect()
    assert len(approx) == 80
    same_cluster = sum(
        1 for r in approx if r["neighbor_id"] // 25 == r["query_id"] // 25
    )
    frac = same_cluster / len(approx)
    assert frac >= 0.9, f"PQ/ADC cross-cluster confusion: {frac:.2f}"


def test_ivfpq_candidates_subset_of_flat_adc(spark, sf_dir):
    """IVF-PQ returns the same ADC distances flat ADC computes for any
    (query, neighbor) it keeps — the cell probe only PRUNES candidates,
    it never changes a kept pair's integer score."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    flat = sim.pq_adc_topk(emb, queries, k=50)
    ivfpq = sim.ivfpq_topk(emb, queries, k=10)
    f = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in flat.collect()
    }
    for r in ivfpq.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in f:  # pruned-in pair also ranked by the flat scan
            assert f[key] == r["adc_dist"]


def test_sql_text_builders_match_column_reference(spark, sf_dir):
    """The expr-string IVF/PQ builders (one parse instead of py4j
    lambda chains — the r12 build-time optimization) must stay
    float-identical to a straight Column-API reference built from the
    same primitives: same zip_with subtract-power-2 fold, same 9dp
    round, same argmin convention. Collect-compared element-for-element
    over the real fixture embeddings."""
    from hadoop_project_spark.functions.vector import (
        double_array_lit,
        squared_l2_distance,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = sim.make_pq_codebooks()
    cents = sim.make_coarse_centroids(16, 64, 7)
    subdim = len(books[0][0])

    def ref_dists(vec_col, cs):
        return F.transform(
            double_array_lit(cs),
            lambda c: F.round(squared_l2_distance(vec_col, c), 9),
        )

    ref_cols = []
    ds = ref_dists("embedding", cents)
    mn = F.array_min(ds)
    ref_cols.append(
        (F.array_position(ds, mn) - 1).cast("int").alias("cell")
    )
    ref_cols.append(mn.alias("cdist"))
    pairs = F.transform(
        ds, lambda d, i: F.struct(d.alias("d"), i.cast("int").alias("i"))
    )
    ref_cols.append(
        F.transform(
            F.slice(F.array_sort(pairs), 1, 4), lambda s: s["i"]
        ).alias("probes")
    )
    code_cols, lut_cols = [], []
    for m, book in enumerate(books):
        sub = F.slice(F.col("embedding"), m * subdim + 1, subdim)
        dsb = F.transform(
            double_array_lit(book),
            lambda cw: F.round(squared_l2_distance(sub, cw), 9),
        )
        code_cols.append(
            (F.array_position(dsb, F.array_min(dsb)) - 1).cast("int")
        )
        lut_cols.append(
            F.transform(
                double_array_lit(book),
                lambda cw: F.round(
                    squared_l2_distance(sub, cw) * F.lit(float(sim.ADC_UNIT)),
                    0,
                ).cast("long"),
            )
        )
    ref_cols.append(F.array(*code_cols).alias("codes"))
    ref_cols.append(F.array(*lut_cols).alias("lut"))

    asg = sim.ivf_cell_assignment("embedding", cents)
    got = (
        emb.select(
            "vec_id",
            "embedding",
            asg.alias("_asg"),
            sim.ivf_cell("embedding", cents).alias("cell2"),
            sim.ivf_probes("embedding", cents, 4).alias("probes"),
            sim.pq_codes("embedding", books).alias("codes"),
            sim.pq_adc_lut("embedding", books).alias("lut"),
        )
        .select(
            "vec_id",
            F.col("_asg.cell").alias("cell"),
            F.col("_asg.cdist").alias("cdist"),
            "cell2",
            "probes",
            "codes",
            "lut",
        )
        .orderBy("vec_id")
        .collect()
    )
    want = emb.select("vec_id", *ref_cols).orderBy("vec_id").collect()
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g["cell"] == w["cell"] == g["cell2"]
        assert g["cdist"] == w["cdist"]
        assert g["probes"] == w["probes"]
        assert g["codes"] == w["codes"]
        assert g["lut"] == w["lut"]


def test_dot_norm_sql_text_match_column_reference(spark, sf_dir):
    """dot_cols_sql / l2_norm_sql (round-13: the brute-force cosine
    rankings' one-parse forms) must stay float-identical to the dot /
    l2_norm Column references over the real fixture embeddings — the
    same pin the IVF/PQ expr-text builders carry above."""
    from hadoop_project_spark.functions.vector import (
        dot,
        dot_cols_sql,
        l2_norm,
        l2_norm_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.slice("embedding", 1, 16).alias("w"),
    )
    got = a.select(
        "vec_id",
        F.expr(l2_norm_sql("v")).alias("nv"),
        F.expr(l2_norm_sql("w")).alias("nw"),
        F.expr(dot_cols_sql("w", "w")).alias("dww"),
    ).orderBy("vec_id").collect()
    want = a.select(
        "vec_id",
        l2_norm("v").alias("nv"),
        l2_norm("w").alias("nw"),
        dot("w", "w").alias("dww"),
    ).orderBy("vec_id").collect()
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g["nv"] == w["nv"]
        assert g["nw"] == w["nw"]
        assert g["dww"] == w["dww"]
