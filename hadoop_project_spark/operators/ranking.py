"""Distributed global ranking — exact rank / percent_rank / cume_dist /
ntile over a total order WITHOUT a single-task global window.

A naive ``Window.orderBy(...)`` with no partitionBy collapses the whole
dataset into ONE task — the same scale-killer a per-query ANN ranking
avoids by partitioning its window by query (operators/similarity.py). The
classic distributed answer, implemented here:

1. a deterministic bucket id ``_pid`` from literal split points over the
   leading order key (operators/bounds.py) — collected once on the
   driver, so every pass agrees on row→bucket by construction (no
   execution-time resampling race, nothing to checkpoint);
2. ``repartitionByRange`` on ``_pid`` + in-partition sort + an
   Arrow-batched ``mapInPandas`` running counter for bucket-local ranks
   (per-partition imperative logic is exactly the mapInPandas case — no
   extra shuffle, order preserved); the counter resets on ``_pid``
   change, so correctness survives any physical bucket placement;
3. per-bucket row counts → prefix-sum offsets, computed straight off the
   source relation by the same ``_pid`` expression. The counts are
   O(#buckets) driver-held metadata (like the K-Means centroid state),
   broadcast-joined back; global rank = local rank + offset.

Distribution stats then derive from the rank by exact integer formulas
(SQL-standard semantics under a TOTAL order — callers must append a
tie-breaker column; with a unique ORDER BY, percent_rank/cume_dist have
no peer groups and ntile is a pure function of (rank, n, k)).

Cost: one lightweight bounds pass + counts pass + ranked pass — the
price of exactness; at 100 TB each pass is scan+shuffle-local with
parallelism = #buckets throughout, vs the naive window's parallelism
of 1, and lineage recovery stays intact (round 3's eager
localCheckpoint pinned placement by materializing the full relation to
executor disk — a lost block failed the job; the literal bounds remove
both the race AND the pin).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from hadoop_project_spark.execution import literal
from hadoop_project_spark.operators.bounds import (
    bucket_id,
    collect_split_points,
    default_buckets,
)


def _with_local_ranks(df: DataFrame, order_cols: list[Column]) -> DataFrame:
    """Deterministic-bucket partition + in-partition sort + running-counter
    local rank. Adds `_pid` (literal-derived bucket id) and `_local_rank`
    (1-based within bucket). ``df`` must already carry `_pid`."""
    arranged = df.repartitionByRange(F.col("_pid")).sortWithinPartitions(
        F.col("_pid"), *order_cols
    )
    out_schema = T.StructType(
        list(arranged.schema.fields)
        + [T.StructField("_local_rank", T.LongType(), False)]
    )

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Buckets are contiguous within the sorted partition stream;
        # vectorized per-batch cumcount + a carry for the bucket that
        # straddles the batch boundary.
        last_pid, last_rank = None, 0
        for pdf in batches:
            if not len(pdf):
                yield pdf.assign(_local_rank=pd.Series([], dtype="int64"))
                continue
            ranks = pdf.groupby("_pid", sort=False).cumcount() + 1
            if last_pid is not None:
                lead = pdf["_pid"] == last_pid
                ranks = ranks + lead.astype("int64") * last_rank
            pdf = pdf.assign(_local_rank=ranks.astype("int64"))
            last_pid = pdf["_pid"].iloc[-1]
            last_rank = int(pdf["_local_rank"].iloc[-1])
            yield pdf

    return arranged.mapInPandas(number, schema=out_schema)


def ntile_from_rank(rank: Column, n: int, k: int) -> Column:
    """SQL-standard NTILE(k) as a pure function of the 1-based rank
    under a total order: the first n % k buckets get floor(n/k)+1 rows,
    the rest floor(n/k). Integer arithmetic only — oracle-exact."""
    big = n % k
    small = n // k
    cut = big * (small + 1)
    first = F.floor((rank - 1) / F.lit(small + 1)) + 1
    if small == 0:
        return first.cast("int")
    rest = F.lit(big) + F.floor((rank - 1 - cut) / F.lit(small)) + 1
    return F.when(rank <= cut, first).otherwise(rest).cast("int")


def global_distribution_ranks(
    df: DataFrame, order_cols: list[Column], ntile_k: int = 10
) -> DataFrame:
    """All input columns plus exact global `rank`, `pct_rank`,
    `cume`, and `bucket` (NTILE(ntile_k)) under the total order given
    by ``order_cols`` (must be unique — append a key column).

    Three actions: the bounds pass (approxQuantile over the leading
    order key), the counts pass (per-bucket counts off the SOURCE
    relation via the same literal ``_pid`` expression — placement-free,
    so it cannot disagree with the ranked pass), and the ranked pass
    (the returned DataFrame). O(#buckets) longs on the driver."""
    bounds, as_double = collect_split_points(
        df, order_cols[0], default_buckets(df)
    )
    pid = bucket_id(order_cols[0], bounds, as_double)
    assigned = df.withColumn("_pid", pid)
    counts = {
        r["_pid"]: r["cnt"]
        for r in assigned.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    n = sum(counts.values())
    offsets, acc = [], 0
    for pid_val in sorted(counts):
        offsets.append((pid_val, acc))
        acc += counts[pid_val]
    off_df = literal(df.sparkSession, "_pid int, _offset long", offsets)
    ranked = _with_local_ranks(assigned, order_cols)
    rank = F.col("_local_rank") + F.col("_offset")
    return (
        ranked.join(F.broadcast(off_df), "_pid")
        .select(
            *[c for c in df.columns],
            rank.alias("rank"),
            (
                (rank - 1).cast("double")
                / F.lit(float(max(n - 1, 1)))
            ).alias("pct_rank"),
            (rank.cast("double") / F.lit(float(n))).alias("cume"),
            ntile_from_rank(rank, n, ntile_k).alias("bucket"),
        )
    )
