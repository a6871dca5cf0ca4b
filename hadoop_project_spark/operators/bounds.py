"""Deterministic range-bucket assignment for the two-pass distributed
prefix-sum operators (operators/ranking.py, operators/packing.py).

``repartitionByRange`` draws its split points by reservoir sampling at
EXECUTION time, so two actions over the same logical plan can place the
same row in different physical partitions — the race that round 3 pinned
with ``localCheckpoint(eager=True)``, at the cost of materializing the
full relation to executor disk and forfeiting lineage recovery (a lost
block fails the job — unacceptable at 100 TB).

The scale-safe fix implemented here: collect the split points ONCE on
the driver (one lightweight pass — approxQuantile for numeric keys, a
seeded sample otherwise), embed them as LITERALS, and derive the bucket
id ``_pid`` as a pure column expression of the row's key. Every pass —
the per-bucket counts aggregate AND the ranked/offset pass — computes
``_pid`` from the same literals, so they agree by construction. Nothing
is pinned, lineage recovery works, and a lost executor just recomputes.

Physical placement still uses ``repartitionByRange`` (now on the
deterministic ``_pid`` itself, so partitions come out in bucket order
and the plan keeps its ``rangepartitioning`` exchange), but placement no
longer CARRIES correctness: equal ``_pid`` rows always land together
(range partitioning keys equal values identically), and the in-partition
running counters reset on ``_pid`` change, so even an adversarial
placement of multiple buckets into one partition stays exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def collect_split_points(
    df: DataFrame, key: Column, num_buckets: int
) -> tuple[list, bool]:
    """One driver-side pass collecting ``num_buckets - 1`` ascending
    split points for ``key``. Returns ``(bounds, as_double)`` where
    ``as_double`` says whether comparisons should run on a double cast
    (the approxQuantile path). The bounds are deduplicated — heavy ties
    simply yield fewer (larger) buckets, exactly as range partitioning
    would put all equal keys in one partition.

    Numeric keys use ``approxQuantile`` (Greenwald-Khanna, single scan,
    O(1/err) driver memory). Non-numeric (string/date) keys fall back to
    a seeded ``takeSample`` — still collected once, so both downstream
    passes see identical literals regardless of how the sample fell.

    Caveat: approxQuantile only accepts doubles, so integral/decimal
    keys are compared on a double cast. Distinct keys above 2**53
    collapse to the same double — correctness holds (both passes use
    identical literals; ties just share a bucket) but an extreme-
    magnitude key domain can skew bucket sizes. If such a domain ever
    matters, derive bounds from a seeded sample in the key's native
    type instead.
    """
    if num_buckets <= 1:
        return [], False
    probe = df.select(key.alias("_k"))
    dtype = probe.schema[0].dataType
    qs = [i / num_buckets for i in range(1, num_buckets)]
    if isinstance(dtype, _NUMERIC):
        bounds = probe.withColumn("_k", F.col("_k").cast("double")).approxQuantile(
            "_k", qs, 0.001
        )
        as_double = True
    else:
        sample = probe.na.drop().rdd.takeSample(False, num_buckets * 20, seed=7)
        vals = sorted(r["_k"] for r in sample)
        bounds = (
            [vals[int(q * (len(vals) - 1))] for q in qs] if vals else []
        )
        as_double = False
    out: list = []
    for b in bounds:
        if b is not None and (not out or b > out[-1]):
            out.append(b)
    return out, as_double


def bucket_id(key: Column, bounds: list, as_double: bool) -> Column:
    """``_pid`` as a pure expression: the number of split points ≤ key.
    Monotone in the key, null-safe (nulls bucket lowest, matching range
    partitioning's nulls-first), and entirely JVM-side — a sum of
    literal comparisons inside whole-stage codegen."""
    if not bounds:
        return F.lit(0)
    k = key.cast("double") if as_double else key
    expr = None
    for b in bounds:
        c = F.coalesce((k >= F.lit(b)).cast("int"), F.lit(0))
        expr = c if expr is None else expr + c
    return expr.cast("int")


def default_buckets(df: DataFrame) -> int:
    """Bucket count = session shuffle parallelism (32 locally; a cluster
    submit sets it to ~2-3x total cores). Platforms with auto-optimized
    shuffle report the non-numeric value ``'auto'`` — fall back to the
    relation's own partition count there instead of crashing."""
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    try:
        return int(raw)
    except ValueError:
        return max(df.rdd.getNumPartitions(), 1)
