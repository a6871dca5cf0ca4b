"""Driver query for the count-min sketch heavy-hitter operator
(operators/sketch.py).

The oracle recomputes BOTH surfaces from scratch: the exact heavy-
hitter set (plain GROUP BY + threshold — certifying the sketch path's
no-false-negative guarantee end to end) AND the D x W sketch estimate
column itself (same row-salted md5 cell hashing in SQL — certifying
the sketch arithmetic, not just the final set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import eager_pin, widen_for_compute
from hadoop_project_spark.functions.text import normalize_text
from hadoop_project_spark.operators import sketch as sk
from hadoop_project_spark.plans.registry import register
from hadoop_project_spark.plans.text_pipeline import SQL_NORM

# Relative threshold: keep bigrams with count >= 1.15x the mean
# per-distinct-bigram count (integer test: cnt * nd * 100 >= 115 * s).
HH_THRESH_NUM = 115
HH_THRESH_DEN = 100


@register(
    "heavy_hitter_bigrams",
    oracle=f"""
    WITH toks AS (
      SELECT string_split({SQL_NORM}, ' ') AS l FROM documents
    ),
    pos AS (
      SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
      FROM toks WHERE len(l) >= 2
    ),
    bg AS (SELECT l[i] || ' ' || l[i + 1] AS key FROM pos),
    c AS (SELECT key, COUNT(*) AS c FROM bg GROUP BY key),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS nd
      FROM c
    ),
    keycell AS (
      SELECT key, c, r,
             CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || key),
                                  1, 8)) AS UBIGINT)
               % {sk.CM_WIDTH} AS col
      FROM c CROSS JOIN (VALUES (0), (1), (2), (3)) rows_(r)
    ),
    cells AS (
      SELECT r, col, SUM(c) AS cc FROM keycell GROUP BY r, col
    ),
    est AS (
      SELECT k.key, MIN(ce.cc) AS est
      FROM keycell k JOIN cells ce USING (r, col)
      GROUP BY k.key
    )
    SELECT c.key AS key, CAST(c.c AS BIGINT) AS cnt,
           CAST(e.est AS BIGINT) AS est
    FROM c JOIN est e USING (key) CROSS JOIN tot
    WHERE c.c * tot.nd * {HH_THRESH_DEN} >= {HH_THRESH_NUM} * tot.total
    """,
    tags=("sketch", "heavy-hitters", "count-min", "extension"),
)
def heavy_hitter_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigrams with frequency >= 1.15x the per-bigram mean, found by the
    bounded-memory sketch-then-verify path (operators/sketch.py): a
    4 x 2048 count-min pass, candidate thresholding on the estimates
    (superset by construction), then an exact broadcast-semi-join verify
    pass. Output (key, cnt, est) with est >= cnt always."""
    docs = load_table(spark, sf_dir, "documents")
    # widen BEFORE tokenization: since round 13 cm_heavy_hitters scans
    # this stream exactly ONCE (into its pinned per-key counts). A
    # work_factor=32 widen was A/B-measured against the one-scan form
    # (2 cycles) and is a wash-to-slightly-worse at sf0.1 — the counts
    # groupBy already spreads the heavy fold across cores — so the
    # default byte-stat decision stands (widens from ~sf1 up on its
    # own).
    toks = widen_for_compute(docs.select("text")).select(
        F.split(normalize_text("text"), " ").alias("t")
    ).filter(F.size("t") >= 2)
    n = F.size("t") - F.lit(1)
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", F.lit(1), n),
                F.slice("t", F.lit(2), n),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram")
    )
    return sk.cm_heavy_hitters(
        bigrams, "bigram", HH_THRESH_NUM, HH_THRESH_DEN
    )


# ---------------------------------------------------------------- Bloom
# Same benchmark split as decontaminate_ngram (doc_id % BENCH_MOD == 0)
# so the exact-vs-bloom comparison is apples-to-apples with the exact
# decontamination query.

from hadoop_project_spark.operators import dedup as dd  # noqa: E402
from hadoop_project_spark.plans.corpus_queries import BENCH_MOD  # noqa: E402
from hadoop_project_spark.plans.dedup_queries import SQL_SHINGLES_CTE  # noqa: E402

_SQL_BLOOM_POS = (
    "CAST(('0x' || substr(md5(j || '|' || sh), 1, 8)) AS UBIGINT) % "
    f"{sk.BLOOM_BITS}"
)
_SQL_JS = "(VALUES ('0'), ('1'), ('2')) js(j)"


@register(
    "bloom_decontaminate_fpr",
    oracle=f"""
    WITH {SQL_SHINGLES_CTE},
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCH_MOD} = 0),
    corp AS (SELECT doc_id, sh FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
    bits AS (
      SELECT DISTINCT {_SQL_BLOOM_POS} AS bit
      FROM bench CROSS JOIN {_SQL_JS}
    ),
    gb AS (
      SELECT doc_id, sh, {_SQL_BLOOM_POS} AS bit
      FROM corp CROSS JOIN {_SQL_JS}
    ),
    bloomdocs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT g.doc_id, g.sh, COUNT(*) AS nh
        FROM gb g JOIN bits USING (bit)
        GROUP BY g.doc_id, g.sh
      ) WHERE nh = {sk.BLOOM_HASHES}
    ),
    exactdocs AS (
      SELECT DISTINCT c.doc_id FROM corp c JOIN bench USING (sh)
    ),
    per AS (
      SELECT d.source,
             CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS bloom_hit,
             CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
      FROM documents d
      LEFT JOIN bloomdocs b ON b.doc_id = d.doc_id
      LEFT JOIN exactdocs e ON e.doc_id = d.doc_id
      WHERE d.doc_id % {BENCH_MOD} <> 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_flagged,
           CAST(SUM(exact_hit) AS BIGINT) AS n_exact_flagged,
           CAST(SUM(CASE WHEN bloom_hit = 1 AND exact_hit = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN bloom_hit = 1 AND exact_hit = 0
                    THEN 1 ELSE 0 END) AS DOUBLE)
             / greatest(COUNT(*) - SUM(exact_hit), 1) AS fp_rate
    FROM per GROUP BY source
    """,
    tags=("sketch", "bloom", "decontamination", "extension"),
)
def bloom_decontaminate_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination with a measured false-positive rate:
    build an 8192-bit/3-hash Bloom over the benchmark split's 3-gram
    set, probe every training doc through it, and compare per source
    against the exact gram semi-join (decontaminate_ngram's check).

    This is the membership twin of the count-min query above: at 100 TB
    the exact benchmark gram set may be too large to broadcast, but its
    Bloom bits never are (<= BLOOM_BITS rows regardless of benchmark
    size); the corpus pays one broadcast join, and the one-sided error
    (no false negatives — a contaminated doc can never slip through) is
    exactly what decontamination needs. The oracle recomputes the
    filter AND the exact check, so the hash certifies the measured FP
    rate itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    # four consumers (bench set, bloom probe, exact check, doc base) —
    # pin the gram relation or the shingle transform re-runs per branch;
    # EAGER pin because the branches launch concurrent stages that race
    # past a lazy persist (r6 sf1 profile pattern)
    grams = eager_pin(dd.doc_shingles(docs))
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench = grams.where(is_bench).select("sh").distinct()
    corpus = grams.where(~is_bench)
    bits = sk.bloom_build(bench, "sh")
    bloom_docs = (
        sk.bloom_probe(corpus, "sh", bits).select("doc_id").distinct()
        .withColumn("bloom_hit", F.lit(1))
    )
    exact_docs = (
        corpus.join(F.broadcast(bench), "sh").select("doc_id").distinct()
        .withColumn("exact_hit", F.lit(1))
    )
    per = (
        docs.where(~is_bench)
        .select("doc_id", "source")
        .join(bloom_docs, "doc_id", "left")
        .join(exact_docs, "doc_id", "left")
        .select(
            "source",
            F.coalesce("bloom_hit", F.lit(0)).alias("bloom_hit"),
            F.coalesce("exact_hit", F.lit(0)).alias("exact_hit"),
        )
    )
    fp = ((F.col("bloom_hit") == 1) & (F.col("exact_hit") == 0)).cast("long")
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("bloom_hit").cast("long").alias("n_bloom_flagged"),
        F.sum("exact_hit").cast("long").alias("n_exact_flagged"),
        F.sum(fp).cast("long").alias("n_false_pos"),
        (
            F.sum(fp).cast("double")
            / F.greatest(
                F.count("*") - F.sum("exact_hit"), F.lit(1).cast("long")
            )
        ).alias("fp_rate"),
    )


# ------------------------------------------------------------------ HLL
# Distinct-count sketch (operators/sketch.py HLL section): the third
# mergeable sketch next to count-min (frequency) and Bloom (membership).
# The oracle recomputes the registers AND the estimate from the same
# md5 hash/rank arithmetic in SQL, so a hash-green row certifies the
# whole sketch fold — and carries the exact distinct count next to it,
# with a 3σ bound flag computed identically on both engines.

_HLL_RAW_NUM = repr(sk.HLL_ALPHA * sk.HLL_M * sk.HLL_M)
_HLL_W_DIV = 1 << (32 - sk.HLL_P)
_HLL_MAX_RANK = 32 - sk.HLL_P + 1


@register(
    "hll_source_distinct_shingles",
    oracle=f"""
    WITH {SQL_SHINGLES_CTE},
    src AS (
      SELECT d.source, s.sh FROM sh s JOIN documents d USING (doc_id)
    ),
    hs AS (
      SELECT source, sh,
             CAST(('0x' || substr(md5(sh), 1, 8)) AS UBIGINT) AS h
      FROM src
    ),
    regs AS (
      SELECT source,
             h // {_HLL_W_DIV} AS idx,
             CASE WHEN h % {_HLL_W_DIV} = 0 THEN {_HLL_MAX_RANK}
                  ELSE {_HLL_MAX_RANK}
                       - length(printf('%b', CAST(h % {_HLL_W_DIV} AS BIGINT)))
             END AS rank
      FROM hs
    ),
    byreg AS (
      SELECT source, idx, MAX(rank) AS m FROM regs GROUP BY source, idx
    ),
    agg AS (
      SELECT source,
             SUM(1.0 / (1 << m)) AS s_present,
             COUNT(*) AS n_present
      FROM byreg GROUP BY source
    ),
    e AS (
      SELECT source,
             {sk.HLL_M} - n_present AS v,
             {_HLL_RAW_NUM} / (s_present + ({sk.HLL_M} - n_present)) AS raw
      FROM agg
    ),
    est AS (
      SELECT source, v,
             round(CASE WHEN raw <= {2.5 * sk.HLL_M!r} AND v > 0
                        THEN {float(sk.HLL_M)!r} * ln({float(sk.HLL_M)!r} / v)
                        ELSE raw END, 6) AS est
      FROM e
    ),
    ex AS (
      SELECT d.source, COUNT(DISTINCT s.sh) AS exact_distinct
      FROM sh s JOIN documents d USING (doc_id) GROUP BY d.source
    )
    SELECT ex.source AS source,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
           CAST(est.est AS DOUBLE) AS est,
           CAST(est.v AS BIGINT) AS n_empty,
           CAST(CASE WHEN abs(est.est - ex.exact_distinct)
                     <= {sk.HLL_3SIGMA!r} * ex.exact_distinct
                THEN 1 ELSE 0 END AS BIGINT) AS within_bound
    FROM ex JOIN est USING (source)
    """,
    tags=("sketch", "hll", "distinct-count", "extension"),
)
def hll_source_distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-3-shingle profile by HyperLogLog
    (operators/sketch.hll_registers/hll_estimate) next to the exact
    count, with a 3σ error-bound flag.

    At 100 TB the register table is the whole shuffle — ≤ sources × 256
    rows regardless of shingle cardinality, map-side partial-aggregated
    like the CM grid, and max-mergeable across partitions/days — where
    the exact COUNT(DISTINCT) pays a full shuffle of every distinct
    key. (Spark's own approx_count_distinct is the built-in HLL++ twin;
    this operator exists because its registers are engine-portable and
    SQL-recomputable, which the driver's cross-engine hash gate needs.)
    """
    docs = load_table(spark, sf_dir, "documents")
    # two consumers (sketch + exact twin) of the shingle join — EAGER
    # pin: the consumers' stages launch concurrently and a lazy persist
    # loses the race (both recompute; the r6 sf1 profile pattern)
    grams = eager_pin(
        dd.doc_shingles(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    est = sk.hll_estimate(sk.hll_registers(grams, "sh", "source"))
    exact = grams.groupBy(F.col("source").alias("g")).agg(
        F.count_distinct("sh").cast("long").alias("exact_distinct")
    )
    bound = F.lit(sk.HLL_3SIGMA) * F.col("exact_distinct")
    return (
        exact.join(est, "g")
        .select(
            F.col("g").alias("source"),
            "exact_distinct",
            F.col("est").cast("double").alias("est"),
            "n_empty",
            (F.abs(F.col("est") - F.col("exact_distinct")) <= bound)
            .cast("long")
            .alias("within_bound"),
        )
    )


@register(
    "hll_source_overlap",
    oracle=f"""
    WITH {SQL_SHINGLES_CTE},
    src AS (
      SELECT DISTINCT d.source, s.sh FROM sh s JOIN documents d USING (doc_id)
    ),
    hs AS (
      SELECT source, sh,
             CAST(('0x' || substr(md5(sh), 1, 8)) AS UBIGINT) AS h
      FROM src
    ),
    regs AS (
      SELECT source,
             h // {_HLL_W_DIV} AS idx,
             CASE WHEN h % {_HLL_W_DIV} = 0 THEN {_HLL_MAX_RANK}
                  ELSE {_HLL_MAX_RANK}
                       - length(printf('%b', CAST(h % {_HLL_W_DIV} AS BIGINT)))
             END AS rank
      FROM hs
    ),
    byreg AS (
      SELECT source, idx, MAX(rank) AS m FROM regs GROUP BY source, idx
    ),
    est1 AS (
      SELECT source,
             round(CASE WHEN raw <= {2.5 * sk.HLL_M!r} AND v > 0
                        THEN {float(sk.HLL_M)!r} * ln({float(sk.HLL_M)!r} / v)
                        ELSE raw END, 6) AS est
      FROM (
        SELECT source,
               {sk.HLL_M} - n_present AS v,
               {_HLL_RAW_NUM} / (s_present + ({sk.HLL_M} - n_present)) AS raw
        FROM (
          SELECT source, SUM(1.0 / (1 << m)) AS s_present,
                 COUNT(*) AS n_present
          FROM byreg GROUP BY source
        )
      )
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM src) a
      JOIN (SELECT DISTINCT source FROM src) b ON a.source < b.source
    ),
    pregs AS (
      SELECT p.source_a, p.source_b, r.idx, MAX(r.m) AS m
      FROM pairs p
      JOIN byreg r ON r.source = p.source_a OR r.source = p.source_b
      GROUP BY 1, 2, 3
    ),
    estu AS (
      SELECT source_a, source_b,
             round(CASE WHEN raw <= {2.5 * sk.HLL_M!r} AND v > 0
                        THEN {float(sk.HLL_M)!r} * ln({float(sk.HLL_M)!r} / v)
                        ELSE raw END, 6) AS est_union
      FROM (
        SELECT source_a, source_b,
               {sk.HLL_M} - n_present AS v,
               {_HLL_RAW_NUM} / (s_present + ({sk.HLL_M} - n_present)) AS raw
        FROM (
          SELECT source_a, source_b,
                 SUM(1.0 / (1 << m)) AS s_present,
                 COUNT(*) AS n_present
          FROM pregs GROUP BY source_a, source_b
        )
      )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM src GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
      FROM src a JOIN src b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           CAST(i.n_inter AS BIGINT) AS exact_inter,
           CAST(sa.n + sb.n - i.n_inter AS BIGINT) AS exact_union,
           CAST(u.est_union AS DOUBLE) AS est_union,
           CAST(round(ea.est + eb.est - u.est_union, 6) AS DOUBLE)
             AS est_inter,
           CAST(CASE WHEN abs(u.est_union - (sa.n + sb.n - i.n_inter))
                          <= {sk.HLL_3SIGMA!r} * (sa.n + sb.n - i.n_inter)
                     THEN 1 ELSE 0 END AS BIGINT) AS union_within_bound
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    JOIN estu u USING (source_a, source_b)
    JOIN est1 ea ON ea.source = i.source_a
    JOIN est1 eb ON eb.source = i.source_b
    """,
    tags=("sketch", "hll", "overlap", "extension"),
)
def hll_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source overlap from HLL registers ALONE — union by
    register max-merge, intersection by inclusion-exclusion — next to
    the exact |A∩B| / |A∪B| twin and a 3σ bound flag on the union
    estimate (the inclusion-exclusion intersection has no comparable
    closed-form bound and may even go negative for tiny overlaps; it is
    reported as the honest estimate it is).

    This is the query that certifies HLL's MERGEABILITY, the property
    the 100 TB argument leans on: at scale, per-source (or per-day)
    register tables are tiny persistent artifacts (sources × 256 rows),
    and any union's cardinality — pairs here, arbitrary rollups in
    general — folds from registers by groupBy-max WITHOUT rescanning
    the corpus, where the exact pairwise overlap pays a gram-keyed
    self-join over the full distinct (source, gram) set every time.
    The pairwise work is O(sources² × 256) rows — independent of corpus
    size; both broadcast joins are against the tiny source list.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        dd.doc_shingles(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "sh")
        .distinct()
    )
    # three consumers (registers, sizes, exact inter) whose stages
    # launch concurrently — eager pin, not lazy persist (race)
    grams = eager_pin(grams)
    regs = eager_pin(sk.hll_registers(grams, "sh", "source"))
    singles = sk.hll_estimate(regs)

    srcs = regs.select("g").distinct()
    pairs = (
        srcs.select(F.col("g").alias("source_a"))
        .join(
            F.broadcast(srcs.select(F.col("g").alias("source_b"))),
            F.col("source_a") < F.col("source_b"),
        )
    )
    ra = pairs.join(
        regs.select(F.col("g").alias("source_a"), "idx", "M"), "source_a"
    )
    rb = pairs.join(
        regs.select(F.col("g").alias("source_b"), "idx", "M"), "source_b"
    )
    union_regs = (
        ra.select("source_a", "source_b", "idx", "M")
        .union(rb.select("source_a", "source_b", "idx", "M"))
        .groupBy("source_a", "source_b", "idx")
        .agg(F.max("M").alias("M"))
    )
    est_u = sk.hll_estimate(union_regs, group_cols=("source_a", "source_b"))

    sizes = grams.groupBy("source").agg(F.count("*").alias("n"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    ea = singles.select(F.col("g").alias("source_a"), F.col("est").alias("est_a"))
    eb = singles.select(F.col("g").alias("source_b"), F.col("est").alias("est_b"))
    exact_union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .join(F.broadcast(est_u), ["source_a", "source_b"])
        .join(F.broadcast(ea), "source_a")
        .join(F.broadcast(eb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_inter").cast("long").alias("exact_inter"),
            exact_union.cast("long").alias("exact_union"),
            F.col("est").cast("double").alias("est_union"),
            F.round(F.col("est_a") + F.col("est_b") - F.col("est"), 6)
            .cast("double")
            .alias("est_inter"),
            (
                F.abs(F.col("est") - exact_union.cast("double"))
                <= F.lit(sk.HLL_3SIGMA) * exact_union.cast("double")
            )
            .cast("long")
            .alias("union_within_bound"),
        )
    )


# ------------------------------------------------- histogram quantiles
# Fourth mergeable sketch next to count-min (frequency), Bloom
# (membership), and HLL (distinct count): a fixed-grid histogram whose
# buckets are an ADDITIVE monoid — per-partition/per-day histograms sum
# cell-wise into the global one — giving quantile estimates with a
# bounded absolute error of one bucket width, where the exact
# percentile needs a full sort (or the two-pass range-bucket machinery
# of operators/wquantile.py). Grid on integer cents with a literal
# power-of-two width, so bucketing is exact integer division in both
# engines; the within-one-bucket flag is computed identically on both
# sides and hash-checked like the CM/Bloom/HLL bound flags.
HIST_W_CENTS = 1 << 15  # $327.68 buckets -> ~1.8k buckets over o_totalprice
HIST_QS = (50, 90, 99)


@register(
    "price_quantile_histogram",
    oracle=f"""
    WITH c AS (
      SELECT o_orderpriority AS prio,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    hist AS (
      SELECT prio, cents // {HIST_W_CENTS} AS bucket,
             COUNT(*) AS cnt
      FROM c GROUP BY 1, 2
    ),
    cum AS (
      SELECT prio, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY prio ORDER BY bucket) AS cum
      FROM hist
    ),
    n AS (SELECT prio, COUNT(*) AS n FROM c GROUP BY prio),
    qs AS (SELECT UNNEST([{", ".join(str(q) for q in HIST_QS)}]) AS q),
    est AS (
      SELECT cum.prio, qs.q,
             MIN(cum.bucket) * {HIST_W_CENTS} AS est_cents
      FROM cum
      JOIN n USING (prio)
      CROSS JOIN qs
      WHERE cum.cum * 100 >= qs.q * n.n
      GROUP BY cum.prio, qs.q
    ),
    exact AS (
      SELECT prio,
             percentile_cont(0.50) WITHIN GROUP (ORDER BY cents) AS e50,
             percentile_cont(0.90) WITHIN GROUP (ORDER BY cents) AS e90,
             percentile_cont(0.99) WITHIN GROUP (ORDER BY cents) AS e99
      FROM c GROUP BY prio
    ),
    ex AS (
      SELECT prio, 50 AS q, e50 AS exact_cents FROM exact
      UNION ALL SELECT prio, 90, e90 FROM exact
      UNION ALL SELECT prio, 99, e99 FROM exact
    )
    SELECT est.prio AS o_orderpriority,
           CAST(est.q AS BIGINT) AS q,
           CAST(n.n AS BIGINT) AS n,
           CAST(est.est_cents AS BIGINT) AS est_cents,
           round(CAST(ex.exact_cents AS DOUBLE), 6) AS exact_cents,
           CAST(CASE WHEN abs(round(CAST(ex.exact_cents AS DOUBLE), 6)
                              - est.est_cents)
                          <= {HIST_W_CENTS} THEN 1 ELSE 0 END AS BIGINT)
             AS within_one_bucket
    FROM est
    JOIN n USING (prio)
    JOIN ex ON ex.prio = est.prio AND ex.q = est.q
    """,
    tags=("sketch", "histogram", "quantile", "extension"),
)
def price_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of order totalprice per priority from a fixed-grid
    additive histogram, next to the exact percentile and a
    within-one-bucket-width flag.

    Scale shape: the histogram aggregate is the whole shuffle —
    ≤ priorities × ~1.8k buckets regardless of row count, map-side
    partial-aggregated, and cell-wise ADDITIVE across partitions/days
    (the mergeability that makes this the streaming/incremental
    quantile path). The cumulative pass is a window PARTITIONED by
    priority over the tiny bucket relation — never a global window.
    The exact twin pays percentile's full per-group sort.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    hist = (
        o.withColumn("bucket", F.floor(F.col("cents") / HIST_W_CENTS))
        .groupBy("prio", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy("prio")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    n = o.groupBy("prio").agg(F.count("*").alias("n"))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in HIST_QS])).alias("q")
    )
    est = (
        cum.join(F.broadcast(n), "prio")
        .crossJoin(F.broadcast(qs))
        .where(F.col("cum") * 100 >= F.col("q") * F.col("n"))
        .groupBy("prio", "q")
        .agg((F.min("bucket") * HIST_W_CENTS).alias("est_cents"))
    )
    exact = o.groupBy("prio").agg(
        F.expr(
            "percentile(cents, array({}))".format(
                ", ".join(str(q / 100.0) for q in HIST_QS)
            )
        ).alias("es")
    )
    ex = exact.select(
        "prio",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in HIST_QS]).alias("q"),
                F.col("es").alias("exact_cents"),
            )
        ).alias("z"),
    ).select("prio", F.col("z.q").alias("q"), F.col("z.exact_cents").alias("exact_cents"))
    return (
        est.join(F.broadcast(n), "prio")
        .join(F.broadcast(ex), ["prio", "q"])
        .select(
            F.col("prio").alias("o_orderpriority"),
            F.col("q").cast("long").alias("q"),
            F.col("n").cast("long").alias("n"),
            F.col("est_cents").cast("long").alias("est_cents"),
            # rounded to 6 dp on BOTH engines (repo convention for
            # cross-engine doubles): Spark `percentile` and DuckDB
            # `percentile_cont` interpolate with different float
            # association, and a last-ulp difference fails the driver's
            # exact sorted-value-hash gate (ADVICE r6)
            F.round(F.col("exact_cents").cast("double"), 6).alias(
                "exact_cents"
            ),
            (
                F.abs(
                    F.round(F.col("exact_cents").cast("double"), 6)
                    - F.col("est_cents")
                )
                <= F.lit(HIST_W_CENTS)
            )
            .cast("long")
            .alias("within_one_bucket"),
        )
    )
