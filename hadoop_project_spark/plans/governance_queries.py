"""Round-5 governance queries: deterministic dataset splits, dedup
survivor selection, winsorized robust stats, and a fixed-point PageRank
step.

Four capabilities a production training-data pipeline runs between
"corpus assembled" and "corpus shipped" that were not yet first-class:

* hash-based train/val/test assignment — every doc lands in exactly one
  split, stable across runs and cluster sizes, with no RNG state to
  coordinate (the md5-prefix trick: split by the lexicographic range of
  the first two hex chars, so both engines decide from the same pure
  string expression).
* duplicate-group survivor selection — dedup_exact (dedup_queries.py)
  *identifies* groups; shipping a corpus also needs the *keep policy*
  (lowest doc_id wins) and the per-source yield accounting after drops.
* winsorized statistics — mean/extremes after clamping to [p01, p99]:
  the robust twin of lineitem_global_minmax for money columns where a
  fat-fingered tail would poison a plain mean. Cross-row money sums ride
  exact fixed-point cents (BIGINT), never order-dependent double sums
  (see functions/numeric.py for the parity rationale).
* one PageRank power-iteration step over the part co-purchase graph —
  hash-anchors the iterative-graph family the same way kmeans_assign_step
  (ml_queries.py) anchors Lloyd iteration: the full loop is driver-side
  convergence (operators/graph.py), but a single step is pure relational
  algebra both engines can agree on. Neighbor messages are quantized to
  round(1e12/deg) BIGINT before summing — for deg ≤ 8192 the true
  fractional part is never within 1/(2·deg) of .5 while double error is
  ≤ 1 ulp (~1.3e-4), so HALF_UP (Spark) and half-away (DuckDB) agree,
  and the BIGINT sum is order-independent where a double sum is not.
  Fixed-point message passing is also the honest 100 TB design: exact,
  associative, and skew/partition-order immune.

The reference has no analog (its iterative surface is the K-Means
driver loop, final/src/main/java/calc/KMeans.java); these extend
SURVEY.md §2's A9 (group-as-dedup), A10 (global extremes), C2
(convergence loop) rows to the governance surfaces a corpus release
actually gates on.
"""

from __future__ import annotations

import operator
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import (
    eager_pin,
    pin,
    run_overlapped,
    widen_for_compute,
)
from hadoop_project_spark.functions.text import normalize_text
from hadoop_project_spark.plans.registry import register
from hadoop_project_spark.plans.text_pipeline import SQL_NORM

# Split thresholds on the first two hex chars of md5(doc_id):
# [00, c8) → train (200/256 ≈ 78.1%), [c8, e1) → val (25/256 ≈ 9.8%),
# [e1, ff] → test (31/256 ≈ 12.1%). Two-char hex compares
# lexicographically == numerically, so a plain string range works in
# both engines with no hex→int parsing (which the engines spell
# differently).
_TRAIN_HI = "c8"
_VAL_HI = "e1"

# Fixed-point scale for PageRank neighbor messages (see module doc).
_PR_SCALE = 1_000_000_000_000.0
_PR_DAMP = 0.85
_PR_BASE = 0.15


@register(
    "docs_split_assignment",
    oracle=f"""
    WITH h AS (
      SELECT source, n_chars,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hx
      FROM documents
    )
    SELECT source,
           CASE WHEN hx < '{_TRAIN_HI}' THEN 'train'
                WHEN hx < '{_VAL_HI}' THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM h
    GROUP BY source, split
    """,
    tags=("governance", "split", "sampling", "extension"),
)
def docs_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split accounting per source.

    The split is a pure function of doc_id (md5-prefix range), so it is
    reproducible across runs, engines, and partitionings — no RNG seeds
    to coordinate across 1000 executors, and a re-run after appending
    new docs never reassigns an old one. One narrow projection + one
    groupBy; the md5 stays inside whole-stage codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    hx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(hx < _TRAIN_HI, "train")
        .when(hx < _VAL_HI, "val")
        .otherwise("test")
    )
    return (
        docs.select(
            "source", "n_chars", split.alias("split")
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )


@register(
    "dedup_survivors_by_source",
    oracle=f"""
    WITH g AS (
      SELECT md5({SQL_NORM}) AS fp,
             min_by(source, doc_id) AS keeper_source,
             COUNT(*) AS n_copies
      FROM documents
      GROUP BY md5({SQL_NORM})
    )
    SELECT keeper_source AS source,
           CAST(COUNT(*) AS BIGINT) AS n_survivors,
           CAST(SUM(n_copies - 1) AS BIGINT) AS n_dropped
    FROM g
    GROUP BY keeper_source
    """,
    tags=("governance", "dedup", "survivor", "extension"),
)
def dedup_survivors_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus yield after exact-dedup survivor selection.

    Keep policy: within each normalized-text fingerprint group the
    lowest doc_id survives; `min_by(source, doc_id)` carries the
    survivor's source through the same aggregate, so the whole query is
    two shuffles (fingerprint, then source) and never joins back to the
    corpus. doc_id is unique, so min_by is deterministic on ties by
    construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    # widen: the md5-of-normalized-text fingerprint is the CPU stage
    # (round-8 slope audit: r2 4.6x from a split-starved sf1 scan)
    widened = widen_for_compute(docs.select("doc_id", "source", "text"))
    groups = (
        widened.select(
            F.md5(normalize_text("text")).alias("fp"),
            "doc_id",
            "source",
        )
        .groupBy("fp")
        .agg(
            F.min_by("source", "doc_id").alias("keeper_source"),
            F.count("*").alias("n_copies"),
        )
    )
    return (
        groups.groupBy(F.col("keeper_source").alias("source"))
        .agg(
            F.count("*").alias("n_survivors"),
            F.sum(F.col("n_copies") - F.lit(1)).alias("n_dropped"),
        )
    )


@register(
    "lineitem_winsorized_stats",
    oracle="""
    WITH pct AS (
      SELECT l_returnflag,
             percentile_cont(0.01) WITHIN GROUP (ORDER BY l_extendedprice)
               AS lo,
             percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice)
               AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           p.lo AS p01, p.hi AS p99,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(*) FILTER (l.l_extendedprice < p.lo) AS BIGINT)
             AS n_clamped_low,
           CAST(COUNT(*) FILTER (l.l_extendedprice > p.hi) AS BIGINT)
             AS n_clamped_high,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS raw_avg,
           CAST(SUM(CAST(round(least(greatest(l.l_extendedprice, p.lo),
                                     p.hi) * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 / CAST(COUNT(*) AS DOUBLE) AS winsorized_avg
    FROM lineitem l JOIN pct p USING (l_returnflag)
    GROUP BY l.l_returnflag, p.lo, p.hi
    """,
    tags=("governance", "robust", "winsorize", "extension"),
)
def lineitem_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized price stats per return flag: clamp to [p01, p99],
    then exact fixed-point mean.

    Two aggregate passes — exact interpolated percentiles per flag
    (primitive parity established for events_value_outliers), then the
    per-flag scalars broadcast back onto the scan. Clamped values are
    summed as round(x·100) BIGINT cents: untouched prices are 2-dp
    exact so ·100 never lands near .5, and the clamp bounds are
    identical doubles in both engines, so HALF_UP vs half-away cannot
    diverge — giving an order-independent sum where a double sum would
    hash-differ between Spark's partial aggregation and DuckDB's
    sequential scan. raw_avg rides the usual DECIMAL(18,2) path
    (functions/numeric.py).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    pct = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("p01"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
    )
    j = li.join(F.broadcast(pct), "l_returnflag")
    clamped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p01")), F.col("p99")
    )
    cents = F.round(clamped * F.lit(100)).cast("long")
    return (
        j.groupBy("l_returnflag", "p01", "p99")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") < F.col("p01")).cast("long")
            ).alias("n_clamped_low"),
            F.sum(
                (F.col("l_extendedprice") > F.col("p99")).cast("long")
            ).alias("n_clamped_high"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count("*").cast("double")
            ).alias("raw_avg"),
            (
                F.sum(cents).cast("double")
                / F.lit(100.0)
                / F.count("*").cast("double")
            ).alias("winsorized_avg"),
        )
        .select(
            "l_returnflag",
            F.col("p01").alias("p01"),
            F.col("p99").alias("p99"),
            "n_items",
            "n_clamped_low",
            "n_clamped_high",
            "raw_avg",
            "winsorized_avg",
        )
    )


@register(
    "part_copurchase_rank_step",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
    nn AS (SELECT COUNT(DISTINCT l_partkey) AS n FROM lineitem),
    contrib AS (
      SELECT e.dst,
             CAST(round({_PR_SCALE!r} / d.out_deg) AS BIGINT) AS c
      FROM e JOIN deg d ON e.src = d.src
    ),
    agg AS (
      SELECT dst, CAST(SUM(c) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_in
      FROM contrib GROUP BY dst
    ),
    nodes AS (SELECT DISTINCT l_partkey AS part_id FROM lineitem)
    SELECT CAST(nd.part_id AS BIGINT) AS part_id,
           CAST(COALESCE(d.out_deg, 0) AS BIGINT) AS out_deg,
           COALESCE(a.n_in, CAST(0 AS BIGINT)) AS n_in,
           {_PR_BASE!r} / nn.n
             + {_PR_DAMP!r} * COALESCE(a.s, CAST(0 AS BIGINT))
               / {_PR_SCALE!r} / nn.n AS rank_score
    FROM nodes nd
    CROSS JOIN nn
    LEFT JOIN deg d ON d.src = nd.part_id
    LEFT JOIN agg a ON a.dst = nd.part_id
    """,
    tags=("graph", "pagerank", "iterative", "extension"),
)
def part_copurchase_rank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power-iteration step over the part co-purchase
    graph (parts sharing an order), from a uniform 1/N start.

    Edge generation is an equi-join keyed on l_orderkey — per-order
    fanout is bounded by order size (≤7 in TPC-H), so the join is
    linear in lineitem at any scale, never all-pairs. Messages are
    quantized BIGINTs (module doc: the round(1e12/deg) bound argument),
    so the in-neighbor sum is exact and partition-order independent —
    the property that lets the full driver loop (operators/graph.py
    style) checkpoint and resume without float drift. Dangling parts
    (single-item orders) stay in the output with base score only, as
    the canonical formulation requires.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = _copurchase_pairs(li, operator.ne).distinct()
    # three consumers below (deg, contrib, nodes-assembly) — persist or
    # the 2.4M-row join+distinct at sf0.1 re-runs per branch (measured:
    # 3.11 s -> 2.0 s median); tracked pin so release_pins() covers it
    edges = pin(edges)
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    n_nodes = li.select("l_partkey").distinct().agg(
        F.count("*").alias("n")
    )
    contrib = edges.join(deg, "src").select(
        "dst",
        F.round(F.lit(_PR_SCALE) / F.col("out_deg")).cast("long").alias("c"),
    )
    agg = contrib.groupBy("dst").agg(
        F.sum("c").alias("s"), F.count("*").alias("n_in")
    )
    nodes = li.select(F.col("l_partkey").alias("part_id")).distinct()
    score = F.lit(_PR_BASE) / F.col("n") + F.lit(_PR_DAMP) * F.coalesce(
        F.col("s"), F.lit(0).cast("long")
    ) / F.lit(_PR_SCALE) / F.col("n")
    return (
        nodes.crossJoin(F.broadcast(n_nodes))
        .join(deg.withColumnRenamed("src", "part_id"), "part_id", "left")
        .join(agg.withColumnRenamed("dst", "part_id"), "part_id", "left")
        .select(
            F.col("part_id").cast("long").alias("part_id"),
            F.coalesce(F.col("out_deg"), F.lit(0)).cast("long").alias(
                "out_deg"
            ),
            F.coalesce(F.col("n_in"), F.lit(0).cast("long")).alias("n_in"),
            score.alias("rank_score"),
        )
    )


# ---------------------------------------------------------------------------
# FULL iterative PageRank — the third end-to-end oracle-certified
# iterative algorithm (after the BPE trainer and the pinned K-Means
# fit), and the purest: every quantity is an integer, so there is no
# rounding discipline at all, and the whole _PR_ITERS-iteration loop is
# ONE lazy DataFrame plan with zero driver state (no collects — unlike
# K-Means, PageRank's update needs no argmin/driver decision).
#
# Integer formulation (the original unnormalized form, ranks summing to
# ~N): r0(v) = 1e12; r_i(v) = 0.15e12 + (17 · Σ_{u→v} r_{i-1}(u) div
# deg(u)) div 20. Floor division on positive integers is bit-identical
# in Spark (`div`) and DuckDB (`//`); sums of BIGINTs are exact and
# partition-order independent. Magnitude bound: total mass stays ≈
# N·1e12 (5e17 at sf1) and 17·msum < 2^63 through ~10× that; beyond,
# drop the scale one decade.
_PR_ITERS = 4
_PRI_SCALE = 10**12  # initial rank units per node
_PRI_BASE = 15 * 10**10  # 0.15 · scale
_PRI_DAMP_NUM = 17  # 0.85 = 17/20
_PRI_DAMP_DEN = 20

# The rank-update expression and the co-purchase edge build are shared
# by BOTH PageRank twins (broadcast and bucketed) — one definition, so
# an edit cannot diverge the twins from their shared oracle.
_PRI_UPDATE_EXPR = (
    f"cast({_PRI_BASE} + ({_PRI_DAMP_NUM} * coalesce(ms, 0))"
    f" div {_PRI_DAMP_DEN} as bigint)"
)


def _copurchase_pairs(
    li: DataFrame, keep: Callable[[Column, Column], Column]
) -> DataFrame:
    """(src, dst) part pairs sharing an order, one row per shared
    order, kept where ``keep(src, dst)`` holds (``operator.ne`` for the
    directed PageRank edges, ``operator.lt`` for the undirected affinity
    pairs); per-order fanout bounded by order size, linear in lineitem.
    Callers add their own tail: ``distinct`` or a support filter.

    The self-join broadcasts one side, so the whole O(fanout) pair
    expansion + the callers' partial aggregate run on the PROBE side's
    scan tasks — widen that side (round 13: the single-file local
    lineitem packs into 3 splits, and the 1.9 s probe stage sat on 3 of
    32 cores; no-op on any real multi-file cluster table,
    execution.py)."""
    a = widen_for_compute(li).alias("a")
    b = li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & keep(F.col("a.l_partkey"), F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"),
        F.col("b.l_partkey").alias("dst"),
    )

_SQL_PR_EDGES = """e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
    nodes AS MATERIALIZED (SELECT DISTINCT l_partkey AS part_id FROM lineitem)"""


def _sql_pagerank_iterated(iters: int = _PR_ITERS) -> str:
    stages = [
        _SQL_PR_EDGES,
        f"""r0 AS MATERIALIZED (
      SELECT part_id, CAST({_PRI_SCALE} AS BIGINT) AS r FROM nodes
    )""",
    ]
    for i in range(1, iters + 1):
        stages.append(
            f"""r{i} AS MATERIALIZED (
      SELECT n.part_id,
             CAST({_PRI_BASE} + ({_PRI_DAMP_NUM} * COALESCE(s.ms, 0))
                  // {_PRI_DAMP_DEN} AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS part_id, SUM(p.r // d.out_deg) AS ms
        FROM e
        JOIN r{i - 1} p ON p.part_id = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
      ) s ON s.part_id = n.part_id
    )"""
        )
    return (
        "WITH " + ",\n    ".join(stages) + f"""
    SELECT CAST(part_id AS BIGINT) AS part_id,
           r AS rank_units,
           CAST(r AS DOUBLE) / {float(_PRI_SCALE)!r} AS rank_score
    FROM r{iters}
    """
    )


@register(
    "part_pagerank_iterated",
    oracle=_sql_pagerank_iterated(),
    tags=("graph", "pagerank", "iterative", "C2", "extension"),
)
def part_pagerank_iterated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL {n}-iteration PageRank over the part co-purchase graph,
    hash-certified end-to-end: integer fixed-point messages make every
    iteration exact (see the block comment above), so the oracle
    replays the whole power iteration as chained MATERIALIZED CTEs —
    C2's convergence-loop row certified at the algorithm level, like
    the BPE trainer and the pinned K-Means fit.

    Scale shape: the edge relation builds once and is pinned (the
    per-iteration message joins are its only consumers); each iteration
    is one edge-keyed join + one dst-keyed partial-aggregated sum —
    O(edges) rows of 16-byte messages per iteration, no driver
    round-trip anywhere (the loop is a single lazy plan; contrast the
    reference's one-MR-job-per-iteration K-Means driver,
    final/src/main/java/program/KDriver.java)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = pin(_copurchase_pairs(li, operator.ne).distinct())
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    # out-degree folded into the cached edge relation ONCE; each
    # iteration then joins the RANK side by BROADCAST (the rank vector
    # is parts-sized — tiny next to edges), so an iteration is one
    # in-place scan of the cache + a BroadcastHashJoin + a dst-keyed
    # partial-aggregated sum whose shuffle is parts-sized. The first
    # form (SMJ against the cached edges) re-sorted 2.4M edge rows per
    # iteration — ~25 core-s each, profiled; broadcast drops it to ~5.
    # At a scale where the rank vector outgrows broadcast, the scale
    # path is src-bucketed edges + an SMJ that reuses the bucket sort.
    edges_deg = pin(edges.join(deg, "src"))
    nodes = pin(li.select(F.col("l_partkey").alias("part_id")).distinct())
    r = nodes.select(
        "part_id", F.lit(_PRI_SCALE).cast("long").alias("r")
    )
    for _ in range(_PR_ITERS):
        msgs = edges_deg.join(
            F.broadcast(r.withColumnRenamed("part_id", "src")), "src"
        ).select("dst", F.expr("r div out_deg").alias("m"))
        agg = msgs.groupBy("dst").agg(F.sum("m").alias("ms"))
        r = (
            nodes.join(
                F.broadcast(agg.withColumnRenamed("dst", "part_id")),
                "part_id",
                "left",
            )
            .select("part_id", F.expr(_PRI_UPDATE_EXPR).alias("r"))
        )
    return r.select(
        F.col("part_id").cast("long").alias("part_id"),
        F.col("r").alias("rank_units"),
        (F.col("r").cast("double") / F.lit(float(_PRI_SCALE))).alias(
            "rank_score"
        ),
    )




@register(
    "part_pagerank_bucketed",
    oracle=_sql_pagerank_iterated(),
    tags=("graph", "pagerank", "iterative", "C2", "roundtrip", "extension"),
)
def part_pagerank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part_pagerank_iterated's BROADCAST-OVERFLOW twin (VERDICT r8 #2):
    the same integer power iteration, same oracle, but the rank vector
    is never broadcast — proving the family survives a rank vector too
    big for the driver/executor broadcast path at 100 TB.

    Layout does the work the broadcast did: the degree-annotated edge
    relation is stored src-BUCKETED AND SORTED (one file per bucket),
    the node set part_id-bucketed with the SAME bucket count, so
    - every per-iteration edges⋈rank join is a sort-merge join with NO
      exchange and NO sort on either side: the rank vector inherits the
      nodes table's bucket partitioning/ordering through the previous
      iteration's join (alias-aware propagation), and
    - the only shuffle per iteration is the dst-keyed message aggregate
      (parts-sized, partial-aggregated).
    The merge hints pin the join strategy the layout is designed for
    (small fixtures would otherwise broadcast and prove nothing);
    plan-gated in tests/test_plan_shapes.py — zero edge re-sorts, per
    governance_queries' own prescription at the iterated twin."""
    import os

    from hadoop_project_spark.sources.sinks import write_bucketed

    # Bucket count = the session's shuffle parallelism, so the per-
    # iteration message aggregate's output partitioning (dst, n) aliases
    # straight into the node join's required (part_id, n) — a mismatch
    # would re-exchange the rank delta every iteration.
    nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sf = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    et, nt = f"rt_pr_edges_{sf}", f"rt_pr_nodes_{sf}"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = pin(_copurchase_pairs(li, operator.ne).distinct())
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    nodes = li.select(F.col("l_partkey").alias("part_id")).distinct()
    # the two bucketed writes are independent (separate tables; the
    # iteration below reads both) — overlap the write jobs (guide §2.6,
    # same pattern as the LSM segment sinks)
    run_overlapped(
        [
            lambda: write_bucketed(
                edges.join(deg, "src").repartition(nb, F.col("src")),
                et,
                ["src"],
                nb,
                sort_cols=["src"],
            ),
            lambda: write_bucketed(
                nodes.repartition(nb, F.col("part_id")),
                nt,
                ["part_id"],
                nb,
                sort_cols=["part_id"],
            ),
        ]
    )
    return _pagerank_over_bucketed_graph(spark, et, nt)


def _pagerank_over_bucketed_graph(
    spark: SparkSession, et: str, nt: str
) -> DataFrame:
    """The exchange-free power iteration over a bucketed graph layout
    (src-bucketed sorted degree-annotated edges, part_id-bucketed
    nodes, matching bucket counts) — shared by the build-per-run twin
    above and the attached serving twin (part_pagerank_served). Merge
    hints pin the SMJ the layout is designed for."""
    e, nd = spark.table(et), spark.table(nt)
    r = nd.select("part_id", F.lit(_PRI_SCALE).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        msgs = e.hint("merge").join(
            r.withColumnRenamed("part_id", "src"), "src"
        ).select("dst", F.expr("r div out_deg").alias("m"))
        agg = msgs.groupBy("dst").agg(F.sum("m").alias("ms"))
        r = (
            nd.hint("merge")
            .join(agg.withColumnRenamed("dst", "part_id"), "part_id", "left")
            .select("part_id", F.expr(_PRI_UPDATE_EXPR).alias("r"))
        )
    return r.select(
        F.col("part_id").cast("long").alias("part_id"),
        F.col("r").alias("rank_units"),
        (F.col("r").cast("double") / F.lit(float(_PRI_SCALE))).alias(
            "rank_score"
        ),
    )


@register(
    "part_pagerank_served",
    oracle=_sql_pagerank_iterated(),
    tags=("graph", "pagerank", "iterative", "C2", "serving", "extension"),
)
def part_pagerank_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed PageRank twin over the ATTACHED pre-built graph
    layout (serving.ensure_served_pagerank_graph — VERDICT r9 #3):
    identical exchange-free iteration plan and oracle as
    part_pagerank_bucketed, but the edge build + two bucketed writes
    are paid once per corpus version instead of per run, so the bench
    prices the iteration itself. Layout staleness (fixture regen, or a
    session whose shuffle parallelism no longer matches the stored
    bucket count) fingerprints and rebuilds."""
    from hadoop_project_spark.serving import ensure_served_pagerank_graph

    et, nt = ensure_served_pagerank_graph(spark, sf_dir)
    return _pagerank_over_bucketed_graph(spark, et, nt)


# Fixed-point scale for LM probability scoring (floor-quantized: floor
# has no .5 tie, and both engines compute the identical correctly-
# rounded double for p*SCALE, so the BIGINT landing is bit-equal).
_LM_SCALE = 1_000_000_000_000.0

# Temperature-mix target draw size and weight quantization. sqrt is
# IEEE-correctly-rounded (unlike pow/log), so sqrt-weights (temperature
# 0.5) are bit-identical across engines; quotas then ride exact integer
# arithmetic (floor-scaled weights, integer division).
_MIX_TARGET = 300
_MIX_WSCALE = 1_000_000.0


@register(
    "doc_lm_avgprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({SQL_NORM}, ' ') AS l FROM documents
    ),
    pos AS (
      SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i
      FROM toks WHERE len(l) >= 2
    ),
    bg AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM pos),
    lm_pair AS (SELECT w1, w2, COUNT(*) AS c_pair FROM bg GROUP BY w1, w2),
    lm_uni AS (SELECT w1, COUNT(*) AS c_w1 FROM bg GROUP BY w1),
    scored AS (
      SELECT b.doc_id,
             CAST(FLOOR((CAST(p.c_pair AS DOUBLE) / CAST(u.c_w1 AS DOUBLE))
                        * {_LM_SCALE!r}) AS BIGINT) AS p_scaled
      FROM bg b
      JOIN lm_pair p ON b.w1 = p.w1 AND b.w2 = p.w2
      JOIN lm_uni u ON b.w1 = u.w1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(p_scaled) AS DOUBLE) / {_LM_SCALE!r}
             / CAST(COUNT(*) AS DOUBLE) AS avg_cond_p
    FROM scored
    GROUP BY doc_id
    """,
    tags=("text", "lm", "quality", "extension"),
)
def doc_lm_avgprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram conditional probability under the
    corpus's own bigram LM — the cheap fluency/quality score whose
    LM-build half is certified by doc_bigram_lm_top.

    Cross-row float sums are the hash gate's enemy (partial aggregation
    vs sequential scan reorder them), so each p(w2|w1) is quantized to
    floor(p·1e12) BIGINT before the per-doc sum: division and multiply
    are IEEE-correctly-rounded (identical in both engines) and floor
    has no tie case, so the integer sum is exact and order-free. The
    bigram stream is persisted once and feeds the LM aggregates and the
    scoring join.
    """
    from pyspark.sql import Window  # noqa: F401  (symmetry with siblings)

    docs = load_table(spark, sf_dir, "documents")
    # widen: normalize/split + interpreted zip_with bigram transform are
    # the CPU stage (round-8 slope audit, split-starvation family)
    toks = widen_for_compute(docs.select("doc_id", "text")).select(
        "doc_id", F.split(normalize_text("text"), " ").alias("t")
    ).filter(F.size("t") >= 2)
    n = F.size("t") - F.lit(1)
    bg = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("t", F.lit(1), n),
                F.slice("t", F.lit(2), n),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # eager pin: the three consumers (pair counts, unigram counts, the
    # scored join) launch concurrent stages that race a lazy persist
    bg = eager_pin(bg)
    lm_pair = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_pair"))
    lm_uni = bg.groupBy("w1").agg(F.count("*").alias("c_w1"))
    p = F.col("c_pair").cast("double") / F.col("c_w1").cast("double")
    scored = (
        bg.join(lm_pair, ["w1", "w2"])
        .join(lm_uni, "w1")
        .select(
            "doc_id",
            F.floor(p * F.lit(_LM_SCALE)).alias("p_scaled"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        (
            F.sum("p_scaled").cast("double")
            / F.lit(_LM_SCALE)
            / F.count("*").cast("double")
        ).alias("avg_cond_p"),
    )


@register(
    "training_mix_temperature",
    oracle=f"""
    WITH stats AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * {_MIX_WSCALE!r})
                  AS BIGINT) AS w_scaled
      FROM documents GROUP BY source
    ),
    denom AS (SELECT SUM(w_scaled) AS d FROM stats),
    quota AS (
      SELECT s.source, s.n_docs,
             ({_MIX_TARGET} * s.w_scaled) // d.d AS quota
      FROM stats s CROSS JOIN denom d
    ),
    ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    SELECT q.source,
           CAST(q.n_docs AS BIGINT) AS n_docs,
           CAST(q.quota AS BIGINT) AS quota,
           CAST(COUNT(r.doc_id) AS BIGINT) AS n_selected,
           CAST(COALESCE(SUM(r.n_chars), 0) AS BIGINT) AS chars_selected
    FROM quota q
    LEFT JOIN ranked r ON r.source = q.source AND r.rn <= q.quota
    GROUP BY q.source, q.n_docs, q.quota
    """,
    tags=("corpus", "sampling", "temperature", "mix", "extension"),
)
def training_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 source mixing: per-source draw quotas ∝ √n_i
    (the standard up-weighting of small sources), filled by
    deterministic md5-order selection.

    The quota math never touches an engine-divergent operation: sqrt is
    IEEE-correctly-rounded (pow/log are NOT — which is why the exponent
    is 0.5), weights are floor-quantized to BIGINT, and the quota is
    exact integer division of integer products. Selection reuses the
    md5-rank trick of docs_hash_sample — reproducible under any
    partitioning, no RNG state. The per-source rank window is
    partitioned (never global), and quotas broadcast onto the ranked
    stream.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    stats = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.floor(
            F.sqrt(F.count("*").cast("double")) * F.lit(_MIX_WSCALE)
        ).alias("w_scaled"),
    )
    denom = stats.agg(F.sum("w_scaled").alias("d"))
    quota = stats.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_docs",
        F.expr(f"({_MIX_TARGET} * w_scaled) div d").alias("quota"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "source", "doc_id", "n_chars", F.row_number().over(w).alias("rn")
    )
    sel = ranked.join(F.broadcast(quota), "source").filter(
        F.col("rn") <= F.col("quota")
    )
    picked = sel.groupBy("source").agg(
        F.count("*").alias("n_selected"),
        F.sum("n_chars").alias("chars_selected"),
    )
    return (
        quota.join(picked, "source", "left")
        .select(
            "source",
            "n_docs",
            "quota",
            F.coalesce(F.col("n_selected"), F.lit(0)).alias("n_selected"),
            F.coalesce(F.col("chars_selected"), F.lit(0)).alias(
                "chars_selected"
            ),
        )
    )


@register(
    "ab_test_value_zscore",
    oracle="""
    WITH assigned AS (
      SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s1,
             CAST(SUM(cents * cents) AS BIGINT) AS s2
      FROM assigned GROUP BY variant
    ),
    stats AS (
      SELECT variant, n,
             CAST(s1 AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS mean_value,
             (CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                  / CAST(n AS DOUBLE))
               / 10000.0 / CAST(n - 1 AS DOUBLE) AS var_value
      FROM m
    )
    SELECT a.n AS n_a, b.n AS n_b,
           a.mean_value AS mean_a, b.mean_value AS mean_b,
           (a.mean_value - b.mean_value)
             / sqrt(a.var_value / CAST(a.n AS DOUBLE)
                    + b.var_value / CAST(b.n AS DOUBLE)) AS z_score
    FROM (SELECT * FROM stats WHERE variant = 'A') a
    CROSS JOIN (SELECT * FROM stats WHERE variant = 'B') b
    """,
    tags=("experiment", "abtest", "stats", "extension"),
)
def ab_test_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-score for purchase value between hash-assigned
    experiment variants (md5 first hex char: [0,8) → A, [8,f] → B).

    Experiment analysis as a one-pass aggregate: per-variant count and
    first/second moments in exact fixed-point cents (value is 2-dp, so
    round(value·100) BIGINT is tie-free and the moment sums are
    order-independent integers), then mean/variance/z computed with
    IEEE-correctly-rounded double expressions spelled identically in
    both engines — the full statistic sits under the driver hash gate,
    not just the counts. Variant assignment is the same no-RNG-state
    md5 discipline as docs_split_assignment.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    variant = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8", "A"
    ).otherwise("B")
    cents = F.round(F.col("value") * F.lit(100)).cast("long")
    assigned = ev.select(variant.alias("variant"), cents.alias("cents"))
    m = assigned.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.lit(100.0) / F.col("n").cast("double")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
        / F.col("n").cast("double")
    ) / F.lit(10000.0) / (F.col("n") - F.lit(1)).cast("double")
    stats = m.select(
        "variant", "n", mean.alias("mean_value"), var.alias("var_value")
    )
    a = stats.filter(F.col("variant") == "A").alias("a")
    b = stats.filter(F.col("variant") == "B").alias("b")
    z = (F.col("a.mean_value") - F.col("b.mean_value")) / F.sqrt(
        F.col("a.var_value") / F.col("a.n").cast("double")
        + F.col("b.var_value") / F.col("b.n").cast("double")
    )
    return a.crossJoin(b).select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.col("a.mean_value").alias("mean_a"),
        F.col("b.mean_value").alias("mean_b"),
        z.alias("z_score"),
    )


@register(
    "part_copurchase_triangles",
    oracle="""
    WITH p AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS a,
             GREATEST(a.l_partkey, b.l_partkey) AS b
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (
      SELECT a, b FROM p GROUP BY a, b HAVING COUNT(*) >= 2
    ),
    nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(t.n_triangles AS BIGINT) AS n_triangles
    FROM tri t
    """,
    tags=("graph", "triangles", "extension"),
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase AFFINITY graph (pairs
    co-purchased in ≥ 2 orders) via the degree-oriented wedge join
    (operators/graph.py triangle_count).

    The support-2 threshold is the semantic filter every co-purchase
    analysis applies (a single shared order is coincidence, not
    affinity) and is also the scale lever: at sf0.1 it reduces 1.2M raw
    pairs to ~3.9k affinity edges before any triangle work. The oracle
    enumerates id-ordered triples directly — fine for DuckDB at test
    scale; the Spark side uses compact-forward orientation so per-node
    wedge fan-out is bounded by oriented out-degree (O(√|E|)), the
    property that keeps the wedge shuffle linear-ish on 100 TB hub-
    heavy graphs where the naive triple join is quadratic. Nodes are
    those with ≥ 1 affinity edge.
    """
    from hadoop_project_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        _copurchase_pairs(li, operator.lt)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("s"))
        .filter(F.col("s") >= 2)
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    return triangle_count(edges)


@register(
    "weighted_price_quantiles",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS g, l_extendedprice AS v,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey AS k1, l_linenumber AS k2
      FROM lineitem
    ),
    tot AS (SELECT g, SUM(w) AS W FROM base GROUP BY g),
    c AS (
      SELECT g, v,
             SUM(w) OVER (PARTITION BY g ORDER BY v, k1, k2) AS cum
      FROM base
    ),
    qs(qn, qd) AS (VALUES (1, 4), (1, 2), (3, 4))
    SELECT c.g AS l_returnflag,
           CAST(qs.qn AS BIGINT) AS q_num,
           CAST(qs.qd AS BIGINT) AS q_den,
           MIN(c.v) AS wq_value
    FROM c JOIN tot USING (g) CROSS JOIN qs
    WHERE c.cum * qs.qd >= qs.qn * tot.W
    GROUP BY 1, 2, 3
    """,
    tags=("stats", "weighted-quantile", "prefix-sum", "extension"),
)
def weighted_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED price quartiles per return flag — the weighted
    percentile Spark lacks, computed scale-safe by the two-pass
    range-bucket machinery (operators/wquantile.py): per-(group, bucket)
    weight sums -> driver walk -> windowed refine over ONLY each
    quantile's target bucket. The oracle is the textbook cumulative-
    weight window — fine for DuckDB at test scale, a one-task-per-group
    collapse the Spark side exists to avoid. Integer threshold test, so
    both engines pick the identical row."""
    li = load_table(spark, sf_dir, "lineitem")
    from hadoop_project_spark.operators.wquantile import weighted_quantiles

    return weighted_quantiles(
        li,
        group_col="l_returnflag",
        value_col="l_extendedprice",
        weight=F.col("l_quantity"),
        quantiles=[(1, 4), (1, 2), (3, 4)],
        tiebreak=["l_orderkey", "l_linenumber"],
    )


# ---------------------------------------------------------------------------
# Leakage-free splits (round 11): assign train/val/test by NEAR-DUP
# CLUSTER, not by document — the standard fix for the eval-leakage
# pitfall where two crawls of the same content land on opposite sides
# of a doc-hashed split.
# ---------------------------------------------------------------------------
_SPLIT_CASE_DOC = (
    f"CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_HI}'"
    f" THEN 'train'"
    f" WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VAL_HI}'"
    f" THEN 'val' ELSE 'test' END"
)
_SPLIT_CASE_COMP = (
    f"CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2) <"
    f" '{_TRAIN_HI}' THEN 'train'"
    f" WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2) < '{_VAL_HI}'"
    f" THEN 'val' ELSE 'test' END"
)


def _sql_leakage_free_split() -> str:
    from hadoop_project_spark.plans.dedup_queries import _sql_components_ctes

    return f"""
    WITH RECURSIVE {_sql_components_ctes(0.5)}
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(component AS BIGINT) AS component,
           {_SPLIT_CASE_COMP} AS split
    FROM comp
    """


def _spark_split_of(col_expr):
    hx = F.substring(F.md5(col_expr.cast("string")), 1, 2)
    return (
        F.when(hx < _TRAIN_HI, "train")
        .when(hx < _VAL_HI, "val")
        .otherwise("test")
    )




@register(
    "leakage_free_split",
    oracle=_sql_leakage_free_split(),
    tags=("governance", "split", "dedup", "leakage", "extension"),
)
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment hashed on the NEAR-DUP COMPONENT id
    instead of the doc id: every member of a duplicate cluster lands on
    the same side by construction, so near-identical copies can never
    straddle train and eval (the leakage a doc-hashed split permits —
    measured by split_leakage_report). Same md5-prefix ranges and
    append-stability as docs_split_assignment; singleton components
    (the vast majority) hash exactly like their doc_id would under a
    component-keyed policy, and the oracle replays the full
    connected-components loop plus the assignment."""
    from hadoop_project_spark.plans.dedup_queries import neardup_components

    comp = neardup_components(spark, sf_dir)
    return comp.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        _spark_split_of(F.col("component")).alias("split"),
    )


def _sql_split_leakage_report() -> str:
    from hadoop_project_spark.plans.dedup_queries import _sql_components_ctes

    return f"""
    WITH RECURSIVE {_sql_components_ctes(0.5)},
    edges AS (
      SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5
    ),
    ds AS (SELECT doc_id, {_SPLIT_CASE_DOC} AS split FROM documents),
    cs AS (SELECT doc_id, {_SPLIT_CASE_COMP} AS split FROM comp),
    pol AS (
      SELECT 'doc_level' AS policy, e.doc_a, e.doc_b,
             a.split AS sa, b.split AS sb
      FROM edges e JOIN ds a ON a.doc_id = e.doc_a
                   JOIN ds b ON b.doc_id = e.doc_b
      UNION ALL
      SELECT 'cluster_level', e.doc_a, e.doc_b, a.split, b.split
      FROM edges e JOIN cs a ON a.doc_id = e.doc_a
                   JOIN cs b ON b.doc_id = e.doc_b
    )
    SELECT policy,
           CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs,
           CAST(SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_split_pairs,
           CAST(SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS leak_rate
    FROM pol GROUP BY policy
    """


@register(
    "split_leakage_report",
    oracle=_sql_split_leakage_report(),
    tags=("governance", "split", "dedup", "leakage", "evaluation",
          "extension"),
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured case FOR the cluster split: per policy, how many
    near-dup pairs straddle train/eval. doc_level leaks a nonzero
    fraction of pairs at every fixture scale; cluster_level is zero BY
    CONSTRUCTION (both endpoints inherit the component's hash). The
    pair relation and both assignments are re-derived by the oracle, so
    the driver hash certifies the leak counts themselves."""
    from hadoop_project_spark.operators import dedup as dd
    from hadoop_project_spark.plans.dedup_queries import neardup_components

    docs = load_table(spark, sf_dir, "documents")
    # ONE pinned edge relation feeds both policy legs AND the
    # components loop (review finding: an unpinned second
    # minhash_lsh_pairs build ran the dominant pipeline twice)
    edges = eager_pin(
        dd.minhash_lsh_pairs(docs).filter(F.col("jaccard") >= 0.5)
    )
    comp = neardup_components(spark, sf_dir, edges=edges)
    ds = docs.select(
        "doc_id", _spark_split_of(F.col("doc_id")).alias("split")
    )
    cs = comp.select(
        "doc_id", _spark_split_of(F.col("component")).alias("split")
    )
    def leg(assign: DataFrame, policy: str) -> DataFrame:
        a = assign.select(
            F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
        )
        b = assign.select(
            F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
        )
        return (
            edges.join(a, "doc_a").join(b, "doc_b")
            .select(F.lit(policy).alias("policy"), "sa", "sb")
        )
    pol = leg(ds, "doc_level").unionByName(leg(cs, "cluster_level"))
    return pol.groupBy("policy").agg(
        F.count(F.lit(1)).cast("long").alias("n_neardup_pairs"),
        F.sum((F.col("sa") != F.col("sb")).cast("int"))
        .cast("long")
        .alias("n_cross_split_pairs"),
        (
            F.sum((F.col("sa") != F.col("sb")).cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("leak_rate"),
    )
