"""Exact per-group WEIGHTED quantiles without a per-group global
window — the third consumer of the deterministic range-bucket machinery
(operators/bounds.py, after ranking.py and packing.py).

Spark has no weighted percentile: ``percentile(col, q)`` weights every
row equally, and the textbook cumulative-weight window
(``SUM(w) OVER (PARTITION BY g ORDER BY v)``) collapses each group into
ONE task — the same scale-killer global_distribution_ranks exists to
avoid, only sharded by group. A training-mix pipeline needs the
weighted form constantly (token-weighted quality cutoffs, byte-weighted
latency percentiles), so it gets the proper two-pass treatment:

1. literal value-bucket split points (one approxQuantile driver pass,
   shared by every group);
2. one aggregate: per (group, bucket) weight sums — O(groups x buckets)
   driver metadata, the documented bound of this operator (groups must
   be low-cardinality dimensions, like every GROUP BY whose result a
   driver collects);
3. the driver walks each group's cumulative bucket weights and emits,
   per requested quantile q = qn/qd, the TARGET bucket plus the exact
   integer weight below it;
4. final pass: rows joining a (group, target-bucket) pair survive —
   a B-th of the data per quantile — and a window partitioned by
   (group, quantile) over just those rows finds the smallest value v
   with (below + cum_w(<=v)) * qd >= qn * W. Parallelism is
   groups x quantiles, each task holding ~N/B rows, never a whole
   group.

The lower-weighted-quantile definition (smallest v whose cumulative
weight reaches q*W) is integer-exact: weights are BIGINT, q is the
rational qn/qd, and the threshold test is a cross-multiplication — no
float ever picks the row, so the DuckDB oracle lands on the identical
value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from hadoop_project_spark.execution import literal
from hadoop_project_spark.operators.bounds import (
    bucket_id,
    collect_split_points,
    default_buckets,
)


def weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight: Column,
    quantiles: list[tuple[int, int]],
    tiebreak: list[str],
) -> DataFrame:
    """(group, q_num, q_den, wq_value): per-group lower weighted
    quantile of ``value_col`` under integer weights, for each rational
    q = (q_num, q_den). ``tiebreak`` columns must make
    (value, *tiebreak) unique within a group so the cumulative order is
    total on both engines. Null-weight rows are excluded; duplicate
    quantiles are deduplicated."""
    # duplicate quantiles would double-count weights in the shared
    # refine window (duplicated candidate rows are exact window peers);
    # null weights would poison the driver walk — both normalized here
    quantiles = sorted(set(quantiles))
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).alias("v"),
        weight.cast("long").alias("w"),
        *tiebreak,
    ).where(F.col("w").isNotNull())
    bounds, as_double = collect_split_points(
        base, F.col("v"), default_buckets(base)
    )
    pid = bucket_id(F.col("v"), bounds, as_double)
    assigned = base.withColumn("_pid", pid)
    cell_rows = (
        assigned.groupBy("g", "_pid").agg(F.sum("w").alias("ws")).collect()
    )
    by_group: dict = {}
    for r in cell_rows:
        by_group.setdefault(r["g"], {})[r["_pid"]] = r["ws"]
    targets = []  # (g, qn, qd, pid, below, wtot)
    for g, cells in by_group.items():
        total = sum(cells.values())
        for qn, qd in quantiles:
            acc = 0
            for pid_val in sorted(cells):
                ws = cells[pid_val]
                if (acc + ws) * qd >= qn * total:
                    targets.append((g, qn, qd, pid_val, acc, total))
                    break
                acc += ws
    from pyspark.sql import types as T

    tgt_schema = T.StructType(
        [
            T.StructField("g", base.schema["g"].dataType),
            T.StructField("qn", T.LongType()),
            T.StructField("qd", T.LongType()),
            T.StructField("_pid", T.IntegerType()),
            T.StructField("below", T.LongType()),
            T.StructField("wtot", T.LongType()),
        ]
    )
    tgt = literal(df.sparkSession, tgt_schema, targets)
    cand = assigned.join(F.broadcast(tgt), ["g", "_pid"])
    w_cum = Window.partitionBy("g", "qn", "qd").orderBy("v", *tiebreak)
    cum = F.col("below") + F.sum("w").over(w_cum)
    return (
        cand.withColumn("_cum", cum)
        .where(F.col("_cum") * F.col("qd") >= F.col("qn") * F.col("wtot"))
        .groupBy("g", "qn", "qd")
        .agg(F.min("v").alias("wq_value"))
        .select(
            F.col("g").alias(group_col),
            F.col("qn").alias("q_num"),
            F.col("qd").alias("q_den"),
            "wq_value",
        )
    )
