"""Round-6 capability queries: fuzzy string matching, bigram language-
model statistics, and robust (median/MAD) outlier detection.

Three operator families a large-scale training-data pipeline needs that
were not yet first-class:

* edit-distance fuzzy matching — the catalog-entity twin of the
  document near-dup family (operators/dedup.py): blocked candidate
  generation + `levenshtein` verification, never an all-pairs join.
* count-based bigram LM — conditional next-token probabilities, the
  classic cheap quality/perplexity signal over a corpus.
* median/MAD robust outliers — data-quality gating for numeric event
  streams where mean/stddev are skew-fragile.

The reference has no analog for any of these (its text surface is the
word-count family — WordCount1/src/main/java/WordCount.java); they
extend SURVEY.md §2's P1/A1 tokenize-aggregate shape and the dedup
blocking discipline to new verification surfaces. `levenshtein` and
`percentile`/`percentile_cont` were primitive-checked for cross-engine
parity before use (identical on test probes, both classic unit-cost
edit distance / linearly-interpolated quantiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import widen_for_compute
from hadoop_project_spark.functions.text import normalize_text
from hadoop_project_spark.plans.registry import register
from hadoop_project_spark.plans.text_pipeline import SQL_NORM

# Fuzzy-match threshold: part names are "adjective noun" (~10 chars);
# 4 edits catches adjective swaps within a (brand, type) block without
# pairing everything.
FUZZY_MAX_DIST = 4

# 3 * 1.4826 (the normal-consistency constant for MAD): one literal so
# both engines compute `mad * K`, never `3 * (1.4826 * mad)` — keeps the
# float product association identical.
MAD_K = 4.4478


@register(
    "part_name_fuzzy_pairs",
    oracle=f"""
    SELECT a.p_brand, a.p_type,
           a.p_partkey AS part_a, b.p_partkey AS part_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev_dist
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_type = b.p_type
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    """,
    tags=("matching", "levenshtein", "fuzzy", "dedup", "extension"),
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-matches between part names, blocked on
    (p_brand, p_type).

    Same scale discipline as every dedup operator: the self-join runs
    only inside blocking-key groups (25 brands × 6 types here; an LSH or
    q-gram bucket at 100 TB), so cost is Σ block² — never corpus², and
    block SIZE is scale-invariant (a bigger catalog grows brands, not
    parts-per-brand), so candidate pairs grow linearly — measured
    1.33M at sf0.1 -> 13.3M at sf1, exactly 10x.

    Round-7 execution fixes (sf1 profile: 17.7 s with 30 cores idle):
    the build side broadcasts, so the probe inherited the part scan's
    2 byte-splits — widen_for_compute regains the cores for the
    verify; and levenshtein runs with threshold=FUZZY_MAX_DIST, the
    banded O(d*n) DP that abandons a row as soon as the distance
    provably exceeds d (returns -1), instead of filling the full
    O(n^2) matrix per pair. Exact distances for all kept pairs, same
    oracle. A cheap length-band prefilter was measured and REJECTED:
    names are 7-12 chars, so |len_a - len_b| <= 4 keeps 13.28M of
    13.33M pairs — it prunes nothing here.
    """
    p = load_table(spark, sf_dir, "part")
    a = widen_for_compute(
        p.select(
            F.col("p_partkey").alias("part_a"),
            F.col("p_name").alias("name_a"),
            "p_brand", "p_type",
        )
    )
    b = p.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        "p_brand", "p_type",
    )
    return (
        a.join(b, ["p_brand", "p_type"])
        .filter(F.col("part_a") < F.col("part_b"))
        .select(
            "p_brand", "p_type", "part_a", "part_b",
            F.levenshtein("name_a", "name_b", FUZZY_MAX_DIST)
            .cast("long")
            .alias("lev_dist"),
        )
        .filter((F.col("lev_dist") >= 0) & (F.col("lev_dist") <= FUZZY_MAX_DIST))
    )


@register(
    "doc_bigram_lm_top",
    oracle=f"""
    WITH toks AS (
      SELECT string_split({SQL_NORM}, ' ') AS l FROM documents
    ),
    pos AS (
      SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
      FROM toks WHERE len(l) >= 2
    ),
    c AS (
      SELECT l[i] AS w1, l[i + 1] AS w2, COUNT(*) AS cnt
      FROM pos GROUP BY 1, 2
    )
    SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt AS DOUBLE)
             / CAST(SUM(cnt) OVER (PARTITION BY w1) AS DOUBLE) AS cond_p
    FROM c
    ORDER BY cnt DESC, w1, w2
    LIMIT 20
    """,
    tags=("text", "lm", "bigram", "extension"),
)
def doc_bigram_lm_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams with conditional probability p(w2 | w1).

    Bigrams come from one zip_with over the shifted token array (JVM-side,
    no position shuffle); the denominator count(w1) is a window sum over
    the already-aggregated bigram counts — integer-exact, so the final
    double division is bit-identical across engines. The global top-20 is
    a TakeOrdered (sort-limit), not a single-task full sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    # widen: the zip_with bigram transform is interpreted per element —
    # the CPU stage (round-8 slope audit, split-starvation family)
    toks = widen_for_compute(docs.select("text")).select(
        F.split(normalize_text("text"), " ").alias("t")
    ).filter(F.size("t") >= 2)
    n = F.size("t") - F.lit(1)
    big = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", F.lit(1), n),
                F.slice("t", F.lit(2), n),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("bg")
    )
    counts = big.groupBy(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    ).agg(F.count("*").alias("cnt"))
    w1_total = Window.partitionBy("w1")
    return (
        counts.select(
            "w1", "w2", "cnt",
            (F.col("cnt").cast("double")
             / F.sum("cnt").over(w1_total).cast("double")).alias("cond_p"),
        )
        .orderBy(F.desc("cnt"), "w1", "w2")
        .limit(20)
    )


@register(
    "events_value_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, med,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
      FROM dev GROUP BY event_type, med
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           m.med AS med, m.mad AS mad,
           CAST(COUNT(*) FILTER (d.adev > m.mad * {MAD_K}) AS BIGINT)
             AS n_outliers,
           CAST(COUNT(*) FILTER (d.adev > m.mad * {MAD_K}) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS outlier_rate
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.med, m.mad
    """,
    tags=("diagnostics", "outliers", "mad", "robust", "extension"),
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profile per event type: |value − median| > K·MAD.

    Median/MAD instead of mean/stddev so one corrupt batch can't drag
    the gate. Two aggregate passes (median, then MAD over deviations),
    each a groupBy on event_type; the per-type scalars ride broadcast
    joins back onto the stream — no window over the full relation, no
    driver collect. Exact interpolated percentiles on both engines
    (same parity as price_percentiles_by_priority).
    """
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    is_out = (F.col("adev") > F.col("mad") * F.lit(MAD_K)).cast("long")
    return (
        dev.select("event_type", "adev")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(is_out).alias("n_outliers"),
            (F.sum(is_out).cast("double") / F.count("*").cast("double")
             ).alias("outlier_rate"),
        )
        .select(
            "event_type", "n_events", "med", "mad", "n_outliers", "outlier_rate"
        )
    )


@register(
    "part_entity_clusters",
    oracle=f"""
    WITH RECURSIVE fp AS (
      SELECT a.p_partkey AS pa, b.p_partkey AS pb
      FROM part a
      JOIN part b
        ON a.p_brand = b.p_brand AND a.p_type = b.p_type
       AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    ),
    bidir(x, y) AS (
      SELECT pa, pb FROM fp UNION SELECT pb, pa FROM fp
    ),
    walk(n, l) AS (
      SELECT p_partkey, p_partkey FROM part
      UNION
      SELECT e.y, w.l FROM walk w JOIN bidir e ON e.x = w.n
    )
    SELECT CAST(n AS BIGINT) AS p_partkey,
           CAST(MIN(l) AS BIGINT) AS entity_id
    FROM walk GROUP BY n
    """,
    tags=("matching", "entity-resolution", "graph", "C2", "extension"),
)
def part_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked fuzzy matching
    (part_name_fuzzy_pairs) -> undirected match graph -> connected
    components -> every part labeled with its entity id (min partkey of
    its component; unmatched parts are their own entity).

    Spark side is the iterative min-label-propagation loop
    (operators/graph.py, checkpoint-truncated lineage); the oracle is a
    recursive CTE over the same blocked-levenshtein edge set — like
    dedup_clusters, the driver hash certifies a whole iterative
    pipeline, here composed with the fuzzy-match operator, not just one
    projection.
    """
    from hadoop_project_spark.operators.graph import connected_components

    parts = load_table(spark, sf_dir, "part")
    edges = part_name_fuzzy_pairs(spark, sf_dir).select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    )
    cc = connected_components(
        parts.select(F.col("p_partkey").alias("n")), edges
    )
    return cc.select(
        F.col("n").cast("long").alias("p_partkey"),
        F.col("component").cast("long").alias("entity_id"),
    )


_PMI_MIN_COUNT = 5


@register(
    "bigram_pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT string_split({SQL_NORM}, ' ') AS l FROM documents
    ),
    pos AS (
      SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
      FROM toks WHERE len(l) >= 2
    ),
    bg AS (
      SELECT l[i] AS w1, l[i + 1] AS w2, COUNT(*) AS c12
      FROM pos GROUP BY 1, 2
    ),
    uni AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest(l) AS w FROM toks
      ) GROUP BY w
    ),
    tot AS (
      SELECT (SELECT SUM(c) FROM uni) AS n_uni,
             (SELECT SUM(c12) FROM bg) AS n_bi
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS cnt,
           round(ln(((CAST(c12 AS DOUBLE) * n_uni) * n_uni)
                    / ((CAST(n_bi AS DOUBLE) * u1.c) * u2.c)), 6) AS pmi
    FROM bg
    JOIN uni u1 ON bg.w1 = u1.w
    JOIN uni u2 ON bg.w2 = u2.w
    CROSS JOIN tot
    WHERE c12 >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
    tags=("text", "pmi", "collocation", "extension"),
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information —
    ln(p(w1,w2) / (p(w1)p(w2))) over corpus bigram/unigram counts with a
    minimum-support cut (the classic collocation-extraction signal a
    tokenizer/phrase-vocab pipeline computes before merges).

    All counts are integer-exact; the PMI double is assembled with the
    same association on both engines — ((c12·N)·N) / ((B·c1)·c2) — so
    the only cross-engine degree of freedom is ln()'s last ulp inside
    the 6-dp rounding (the HLL estimate's parity argument). Ranking
    uses the ROUNDED pmi with (w1, w2) tie-break, so order decisions
    are identical; the top-20 is a TakeOrdered, not a single-task sort.
    Scale shape: two hash aggregates (bigram, unigram) + broadcast-able
    totals; the unigram join fans each bigram row twice — O(distinct
    bigrams), never O(tokens).
    """
    docs = load_table(spark, sf_dir, "documents")
    # widen: same interpreted-bigram CPU stage as doc_bigram_lm_top
    toks = widen_for_compute(docs.select("text")).select(
        F.split(normalize_text("text"), " ").alias("t")
    )
    toks2 = toks.filter(F.size("t") >= 2)
    n = F.size("t") - F.lit(1)
    big = toks2.select(
        F.explode(
            F.zip_with(
                F.slice("t", F.lit(1), n),
                F.slice("t", F.lit(2), n),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("bg")
    )
    bg = big.groupBy(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    ).agg(F.count("*").alias("c12"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        bg.agg(F.sum("c12").alias("n_bi"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            ((F.col("c12").cast("double") * F.col("n_uni")) * F.col("n_uni"))
            / ((F.col("n_bi").cast("double") * F.col("c1")) * F.col("c2"))
        ),
        6,
    )
    return (
        bg.filter(F.col("c12") >= _PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2",
            F.col("c12").cast("long").alias("cnt"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )
