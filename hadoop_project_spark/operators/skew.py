"""Skew-mitigation operators: salted two-phase aggregation and salted
joins (SURVEY.md §2.6 R4, §4 "salting" rows).

The reference salted HBase row keys to parallelize scans
(final/src/main/java/population/PopulatePt.java:124-127 writes a
round-robin prefix; final/src/main/java/calc/KMeans.java:270-283 reads
it back as N prefix scans). Here salting serves its real purpose at
scale: breaking up hot keys.

Spark's first line of defense is AQE skew-join splitting (on in
session.py), which handles skewed SHUFFLE partitions at runtime. These
operators cover the two cases AQE does not:

* salted_groupby_agg — a hot GROUP BY key bottlenecks the final
  aggregation task even after partial aggregation when the partial
  results per key are still huge (e.g. collect_list / exact distinct).
  Two-phase: group on (key, salt) first, then merge the S partials.
* salted_broadcast_left — joining a huge skewed fact against a
  medium dimension too big to broadcast whole but small per key:
  replicate each dim row S ways, salt the fact side randomly; every
  hot key's rows spread over S tasks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt in [0, n_salts): hash of the whole row's
    monotonically-increasing partition/row position would be
    non-deterministic across retries; spark_partition_id is stable for
    a given read and cheap, and uniform enough to spread hot keys."""
    return df.withColumn(
        salt_col, (F.spark_partition_id() % F.lit(n_salts)).cast("int")
    )


def salted_groupby_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: list[Column],
    merge_aggs: list[Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for hot grouping keys.

    Phase 1 groups on (keys + salt) — a hot key's rows land in up to
    ``n_salts`` different reduce tasks; phase 2 merges the ≤ n_salts
    partial rows per key. ``partial_aggs`` produce the phase-1 columns;
    ``merge_aggs`` fold them (e.g. sum of counts, sum of sums).

    For algebraic aggregates this is semantically identical to a direct
    groupBy (asserted in tests/test_skew.py); use it when a key's
    partial state itself is large (exact distinct sets, collect_list).
    """
    salted = with_salt(df, n_salts)
    phase1 = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return phase1.groupBy(*keys).agg(*merge_aggs)


def salted_broadcast_left(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof fact⋈dim join: explode the dim ``n_salts``× with a
    salt column, salt the fact uniformly, join on (key, salt).

    Each fact row matches exactly one replica of its dim row, so the
    result multiset is identical to the unsalted join (asserted in
    tests/test_skew.py) while a hot key's probe work spreads over
    ``n_salts`` tasks. The dim side grows n_salts× — use for dims that
    are broadcastable-per-key but have hot fact keys.
    """
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    dim_rep = dim.select("*", salts)
    fact_s = with_salt(fact, n_salts)
    joined = fact_s.join(F.broadcast(dim_rep), [on, "_salt"], how)
    return joined.drop("_salt")


def key_skew_profile(df: DataFrame, keys: list[str]) -> DataFrame:
    """The diagnostic that DECIDES when the salting operators above are
    worth their cost: one-row distribution profile of the per-key row
    counts.

    Output: n_keys, n_rows, max_key_rows, avg_key_rows, p50/p99 key
    rows, max_share (hottest key's fraction of all rows) and skew_ratio
    (max/avg — the straggler multiplier a plain shuffle would suffer).
    Two keyed aggregations: per-key counts (map-side combined), then a
    global fold of one row per key — the profile itself never collects
    more than one row to the driver. Exact percentiles over integer
    counts are engine-portable (Spark `percentile` ≡ DuckDB
    `percentile_cont` interpolation, bit-for-bit).
    """
    per_key = df.groupBy(*keys).agg(F.count("*").alias("cnt"))
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_key_rows"),
        (F.sum("cnt").cast("double") / F.count("*").cast("double")).alias(
            "avg_key_rows"
        ),
        F.expr("percentile(cnt, 0.5)").alias("p50_key_rows"),
        F.expr("percentile(cnt, 0.99)").alias("p99_key_rows"),
        (F.max("cnt").cast("double") / F.sum("cnt").cast("double")).alias(
            "max_share"
        ),
        (
            F.max("cnt").cast("double")
            * F.count("*").cast("double")
            / F.sum("cnt").cast("double")
        ).alias("skew_ratio"),
    )
