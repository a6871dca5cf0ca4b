"""Count-min sketch heavy hitters over pinned per-key counts, plus the
Bloom and HyperLogLog sketch primitives.

cm_heavy_hitters folds the key stream ONCE into an exact per-key count
relation (key, cnt) and pins it (execution.eager_pin). Every later
step derives from that pinned relation: the D x W count-min grid
(D=4 rows, W=2048 columns; each key's count added to its D cells),
the threshold totals (sum and number of counts), each key's estimate
min_r(cell[r, h_r(key)]), the candidate set (estimates that clear the
threshold), and the exact verify (the counts filtered to candidates).
The estimate over-counts but NEVER under-counts, so the candidate set
is a superset of the true heavy hitters with zero false negatives.

Cost: the pin holds O(distinct keys) rows — the per-key relation the
threshold's mean-count definition needs anyway — spilling to disk when
it outgrows memory. In exchange the input stream is scanned once;
unpinned, each of the grid, totals, estimate and verify steps re-runs
the upstream key pipeline (4-5 corpus scans). The grid, estimate and
verify are integer-identical to sketching the raw stream (the grid is
the count-weighted sum of each key's cells).

That no-false-negative property is what the DuckDB oracle certifies:
the oracle computes plain exact heavy hitters — if the sketch path
dropped a true hitter or admitted a light key, the hash would diverge.

Hashing is md5-based (functions/text.py module doc: engine-portable,
unlike F.hash/xxhash64), row-salted as ``md5(r || ':' || key)``.

Scale shape (100 TB): the per-key count is one partial-aggregated
groupBy; the grid is one groupBy over (row, col) — at most D x W =
8192 groups, combined map-side; the candidate estimates are broadcast
joins against the grid rows; the verify is a broadcast join of the
pinned counts against the (small) candidate set. Driver state: none.
The bounded-state form — a grid of a few KiB whatever the key
cardinality, with no per-key state — is cm_sketch, which the streaming
sketch sink folds per micro-batch (streaming/sketch.py);
cm_heavy_hitters does not implement it. The reference's
word-count-with-combiner (WordCount1/src/main/java/WordCount.java:24,
SURVEY.md §2 A1) is the exact-count special case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hadoop_project_spark.operators.corpus import hash_uniform32

CM_DEPTH = 4
CM_WIDTH = 2048


def _cm_col(key: Column, row: int, width: int = CM_WIDTH) -> Column:
    """Column index of ``key`` in sketch row ``row``: md5-derived 32-bit
    uniform of the row-salted key, mod width."""
    return hash_uniform32(F.concat(F.lit(f"{row}:"), key)) % F.lit(width)


def cm_sketch(keys: DataFrame, key_col: str = "key") -> DataFrame:
    """Build the D x W sketch from a key stream (one input row = one
    occurrence) -> (r, col, cnt) with D*W rows at most."""
    cells = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cm_col(F.col(key_col), r).alias("col"),
                    )
                    for r in range(CM_DEPTH)
                ]
            )
        ).alias("cell")
    ).select("cell.r", "cell.col")
    return cells.groupBy("r", "col").agg(F.count("*").alias("cnt"))


def cm_heavy_hitters(
    keys: DataFrame,
    key_col: str,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Exact keys whose count clears the relative threshold
    ``cnt * n_distinct * threshold_den >= threshold_num * total`` (i.e.
    count >= (threshold_num/threshold_den) x the mean per-key count),
    found via sketch-then-verify.

    Output: (key, cnt, est) — ``est`` is the sketch estimate, always
    >= cnt; both certified by the oracle's from-scratch recomputation.
    """
    from hadoop_project_spark.execution import eager_pin

    # internal alias sidesteps ambiguity when the caller's column is
    # itself named "key" (the verify join below compares input vs
    # candidate columns by name). The occurrence stream is scanned
    # EXACTLY ONCE, into the per-key count relation; the sketch grid,
    # the threshold totals, the candidate estimates AND the exact
    # verify all derive from it (integer-identical: the grid is the
    # count-weighted sum of each key's cells, totals are sum/count of
    # the counts, the verify is the counts filtered to candidates).
    # The earlier form re-ran the upstream key pipeline once per pass
    # (4-5 corpus scans — measured 5 x ~1.2 s single-task jobs for the
    # bigram stream at sf0.1, guide §2.4). Pinning trades O(distinct
    # keys) cache rows — the same cardinality the old distinct pass
    # already shuffled, spilling to disk if needed — for those
    # re-scans; the threshold's mean-count definition needs the exact
    # per-key relation anyway (the verify pass is exact by design), so
    # this is the bounded form of the two-pass shape, not a cache of
    # the corpus.
    counts = eager_pin(
        keys.select(F.col(key_col).alias("__cm_key"))
        .groupBy("__cm_key")
        .agg(F.count("*").alias("__cm_cnt"))
    )
    sketch = (
        counts.select(
            F.col("__cm_cnt").alias("cnt"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _cm_col(F.col("__cm_key"), r).alias("col"),
                        )
                        for r in range(CM_DEPTH)
                    ]
                )
            ).alias("cell"),
        )
        .groupBy("cell.r", "cell.col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    distinct_keys = counts.select(F.col("__cm_key").alias("key"))
    # totals for the relative threshold: one tiny global agg
    totals = counts.agg(
        F.sum("__cm_cnt").alias("total"),
        F.count("*").alias("n_distinct"),
    )
    key_cells = distinct_keys.select(
        "key",
        *[
            _cm_col(F.col("key"), r).alias(f"c{r}")
            for r in range(CM_DEPTH)
        ],
    )
    est = key_cells
    for r in range(CM_DEPTH):
        row_counts = sketch.where(F.col("r") == r).select(
            F.col("col").alias(f"c{r}"), F.col("cnt").alias(f"cnt{r}")
        )
        est = est.join(F.broadcast(row_counts), f"c{r}")
    est = est.select(
        "key",
        F.least(*[F.col(f"cnt{r}") for r in range(CM_DEPTH)]).alias("est"),
    )
    candidates = (
        est.crossJoin(F.broadcast(totals))
        .where(
            F.col("est") * F.col("n_distinct") * F.lit(threshold_den)
            >= F.lit(threshold_num) * F.col("total")
        )
        .select("key", "est")
    )
    exact = counts.join(
        F.broadcast(candidates),
        F.col("__cm_key") == F.col("key"),
        "inner",
    ).select("key", "est", F.col("__cm_cnt").alias("cnt"))
    return (
        exact.crossJoin(F.broadcast(totals))
        .where(
            F.col("cnt") * F.col("n_distinct") * F.lit(threshold_den)
            >= F.lit(threshold_num) * F.col("total")
        )
        .select(
            "key",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("est").cast("long").alias("est"),
        )
    )


# --------------------------------------------------------------- Bloom
# Classic Bloom membership filter (Bloom, CACM 1970) as a DataFrame
# primitive: the reference set folds into <= BLOOM_BITS distinct set-bit
# rows (broadcastable at any corpus scale), the probe side tests
# all-K-positions-set with one broadcast join + per-item count. False
# positives possible (measured by the paired exact check), false
# negatives impossible — same one-sided guarantee family as the
# count-min sketch above, for membership instead of frequency.

BLOOM_BITS = 8192
BLOOM_HASHES = 3


# ----------------------------------------------------------------- HLL
# HyperLogLog distinct-count sketch (Flajolet et al., AofA 2007) as a
# DataFrame primitive — the third one-sided/mergeable sketch next to
# count-min (frequency) and Bloom (membership): per group, 2^HLL_P
# registers each holding the max leading-zero rank seen, folded into
# the bias-corrected harmonic-mean estimate with the standard
# linear-counting fallback for small cardinalities.
#
# Scale shape: one groupBy over (group, register) — ≤ groups × 2^P rows
# regardless of key cardinality, partial-aggregated map-side exactly
# like the CM grid — then one tiny per-group fold. Registers are
# max-mergeable, so per-partition (or per-day) sketches union by
# groupBy-max: the property that makes this the 100 TB distinct-count
# path where exact count_distinct needs a full shuffle of every key.
#
# Engine-portable determinism: the register index/rank come from the
# same md5-based hash_uniform32 as CM/Bloom; 2^-M terms are computed as
# 1.0 / (1 << M) (exact binary fractions, so the register sum is
# order-independent — every partial sum fits the 52-bit mantissa), and
# the Spark-vs-DuckDB estimate differs only if ln() differs in the
# last ulp inside the 6-dp rounding window.

HLL_P = 8
HLL_M = 1 << HLL_P
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
# relative standard error ~1.04/sqrt(m); the profile's bound flag uses 3σ
HLL_3SIGMA = 3 * 1.04 / (HLL_M ** 0.5)
_W_BITS = 32 - HLL_P
_W_MASK = (1 << _W_BITS) - 1
_MAX_RANK = _W_BITS + 1


def hll_registers(keys: DataFrame, key_col: str, group_col: str) -> DataFrame:
    """(g, idx, M): per-group HLL registers — max rank per register.
    Duplicate input keys are free (max is idempotent), so callers skip
    the distinct. Mergeable: union register tables and groupBy-max."""
    h = hash_uniform32(F.col(key_col))
    regs = keys.select(
        F.col(group_col).alias("g"),
        F.shiftright(h, _W_BITS).alias("idx"),
        h.bitwiseAND(F.lit(_W_MASK)).alias("w"),
    )
    # rank = leading zeros of the (32-P)-bit suffix + 1; bin() gives the
    # bit length of w>0 without transcendentals (floor(log2) via log
    # would mis-round at exact powers of two)
    rank = F.when(F.col("w") == 0, F.lit(_MAX_RANK)).otherwise(
        F.lit(_MAX_RANK) - F.length(F.expr("bin(w)"))
    )
    return (
        regs.select("g", "idx", rank.alias("rank"))
        .groupBy("g", "idx")
        .agg(F.max("rank").alias("M"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: tuple[str, ...] = ("g",)
) -> DataFrame:
    """(*group_cols, est, n_empty) from a register table: bias-corrected
    harmonic mean, linear counting below 2.5m with empty registers (the
    standard small-range correction). ``est`` is rounded to 6 dp — the
    only step where two engines' ln() could differ, by ≤ 1 ulp.

    ``group_cols`` lets the same fold run over DERIVED register tables —
    e.g. the pairwise max-merged union registers in
    plans/sketch_queries.hll_source_overlap, the mergeability use-case
    HLL exists for."""
    agg = registers.groupBy(*group_cols).agg(
        # 1.0 / 2^M — exact binary fractions (expr form: the Column API
        # shiftleft only takes a literal shift amount)
        F.sum(F.expr("1.0 / cast(shiftleft(1, M) as double)")).alias(
            "s_present"
        ),
        F.count("*").alias("n_present"),
    )
    v = F.lit(HLL_M) - F.col("n_present")
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / (
        F.col("s_present") + v.cast("double")
    )
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        F.round(est, 6).alias("est"),
        v.cast("long").alias("n_empty"),
    )


def _bloom_pos(key: Column, j: int) -> Column:
    """Bit position of ``key`` under hash j: row-salted md5 uniform mod
    BLOOM_BITS (portable across engines, like _cm_col)."""
    return hash_uniform32(F.concat(F.lit(f"{j}|"), key)) % F.lit(BLOOM_BITS)


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """Distinct set-bit positions of the reference key set -> (bit)."""
    return (
        keys.select(
            F.explode(
                F.array(
                    *[
                        _bloom_pos(F.col(key_col), j)
                        for j in range(BLOOM_HASHES)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )


def bloom_probe(items: DataFrame, item_col: str, bits: DataFrame) -> DataFrame:
    """Input rows that the Bloom filter reports as members: an item
    passes iff ALL of its BLOOM_HASHES positions are set.

    Each input row carries its own distinct position set
    (array_distinct collapses hash collisions within one item) and a
    per-row id, so duplicate input ROWS stay independent groups —
    without the id, two copies of the same item would merge into one
    group whose matched-probe count exceeds the position-set size and
    the member would be dropped, a false negative that would break the
    filter's one-sided guarantee. Membership is then exact: a row
    survives iff every position in its set found a bit."""
    tagged = items.select(
        "*",
        F.monotonically_increasing_id().alias("__rid"),
        F.array_distinct(
            F.array(
                *[_bloom_pos(F.col(item_col), j) for j in range(BLOOM_HASHES)]
            )
        ).alias("__pos"),
    )
    probes = tagged.select("*", F.explode("__pos").alias("bit"))
    group_cols = [c for c in items.columns]
    return (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("__rid", *group_cols, F.size("__pos").alias("__np"))
        .agg(F.count("*").alias("__nh"))
        .where(F.col("__nh") == F.col("__np"))
        .select(*group_cols)
    )
