"""Deduplication operators for large-scale corpus pipelines.

Four families, each designed around Spark's shuffle model so cost is
O(n) + O(candidate pairs) — never an n² cross join:

* exact        — hash-groupBy on a canonical fingerprint.
* MinHash+LSH  — per-doc distinct shingle set → K min-hashes → band
                 keys → shuffle-join on band key → exact Jaccard of the
                 candidates' sets (array_intersect), candidates only.
* SimHash      — 60-bit weighted token hash → chunk-banding (pigeonhole:
                 hamming ≤ 3 ⇒ one of 4 15-bit chunks equal) → verify.
* n-gram Jaccard — char-n-gram blocking restricted to *rare* grams
                 (document-frequency cap) to bound candidate fan-out.

Hashing is md5-based (functions/text.md5_i64) so the DuckDB oracle
reproduces every signature exactly — engine-internal hashes (xxhash64)
would be faster but unverifiable; at production scale swap HASH_EXPR for
xxhash64 via the `portable_hash` flag.

At 100 TB: every stage is explode → hash-partition shuffle on a
synthetic key (band key / chunk value / rare gram) whose cardinality
grows with data, so AQE can split skewed buckets; the verify joins touch
only candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hadoop_project_spark.execution import eager_pin, pin, widen_for_compute
from hadoop_project_spark.functions.text import (
    md5_i64_sql,
    ngrams_from_normalized,
    normalize_text,
    shingles_from_tokens,
)

# MinHash parameters (16 hashes = 4 bands × 4 rows → catches J ≳ 0.5)
NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS

# SimHash parameters: 60-bit signatures (15 hex digits of md5), 4 chunks
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS
SIMHASH_MAX_HAMMING = 3


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via md5-of-normalized-text groupBy: one shuffle on the
    fingerprint, keeper = min id (deterministic). Returns
    (fp, keeper_id, n_copies)."""
    fp = F.md5(normalize_text(text_col)).alias("fp")
    return (
        docs.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def doc_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct (id, shingle) pairs, deduped by a global distinct() —
    the exploded set form the sketch, corpus and retrieval operators
    and the streaming gate consume. minhash_lsh_pairs uses
    doc_shingle_sets instead (deduped per row, no exchange).

    Tokenization is materialized in its own projection before the
    shingle transform: expressions referenced inside a transform lambda
    re-evaluate per element, so inlining split(normalize(...)) would run
    the regex once per shingle (6× measured slowdown at sf0.1).

    (Round 6 measured SIGNATURES as 16 transform + array_min passes over
    per-doc set arrays markedly SLOWER than the min-hash aggregate over
    an exploded stream — 5.1 s vs 3.1 s at sf0.1 — so minhash_lsh_pairs
    keeps the aggregate and feeds it by exploding doc_shingle_sets.)"""
    # widen on the RAW (id, text) projection: the normalize regex and
    # the split then run AFTER the exchange, so a split-starved scan
    # (single-row-group parquet) only pays serial decompression, not
    # serial regex work. work_factor 32: this is the package's
    # heaviest per-byte transform (shingles + 16 hash aggregates over
    # ~30x-decompressing text), and compressed-byte stats leave a
    # quarter-corpus micro-batch single-tasked at bench scale —
    # measured 2.67 -> 1.73 s warm for one gate batch at sf0.1
    # (round 12, guide §2.5 input-skew/§1.2).
    toks = widen_for_compute(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        work_factor=32,
    ).select(
        "doc_id",
        F.split(normalize_text(text_col), " ").alias("toks"),
    )
    return (
        toks.select(
            "doc_id", F.explode(shingles_from_tokens(F.col("toks"), k)).alias("sh")
        )
        .distinct()
    )


def doc_shingle_sets(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shs, n): each document's DISTINCT k-word shingles as a
    sorted array plus its size — deduped per row with array_distinct
    BEFORE any explode, so "distinct (doc, sh)" costs no shuffle
    (measured 3x cheaper than explode-then-global-distinct at sf0.1).
    Equal to doc_shingles as a set because doc_id is unique per row.
    Shingling runs on a MATERIALIZED token array (see
    functions/text.py:shingles_from_tokens for the 6x re-evaluation
    pitfall this avoids). The one set builder of the MinHash and
    prefix-filter (operators/ssjoin.py) pipelines."""
    # widen on raw text so the normalize/split regex runs post-exchange.
    # work_factor 32: shingle + sort_array over ~30x-decompressing text
    # — compressed-byte stats left this whole build on ONE task at
    # bench scale (profiled as an 8.7 s single-task pin job inside
    # lsh_band_sweep, round 12; same class as doc_shingles)
    toks = widen_for_compute(
        docs.select("doc_id", "text"), work_factor=32
    ).select("doc_id", F.split(normalize_text("text"), " ").alias("t"))
    return toks.select(
        "doc_id",
        F.sort_array(
            F.array_distinct(shingles_from_tokens(F.col("t"), k))
        ).alias("shs"),
    ).withColumn("n", F.size("shs"))


def set_overlap(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_union) for candidate pairs, from the
    doc_shingle_sets arrays: cand ⋈ sets (a side) ⋈ sets (b side),
    |A∩B| = size(array_intersect), |A∪B| = |A| + |B| − |A∩B| — integer
    counts, so each caller's Jaccard or threshold test is exact. Cost
    is O(candidates × set size); the shingle stream is never joined.
    The one verify tail of minhash_lsh_pairs and
    ssjoin.prefix_filtered_jaccard_pairs_from_sets."""
    inter = F.size(F.array_intersect(F.col("sa.shs"), F.col("sb.shs")))
    return (
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_inter"),
            (F.col("sa.n") + F.col("sb.n") - inter).alias("n_union"),
        )
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """K min-hashes per doc, as 60-bit INTEGER hashes (functions/text.
    md5_i64, engine-portable like every hash here).

    Integer min-hashes are a round-6 rewrite driven by sf1 shuffle
    telemetry: min over md5 hex STRINGS forced Spark into SortAggregate
    (strings are not mutable aggregation-buffer types), whose partial
    aggregation barely collapsed — 2 × 560 MB of partial rows shuffled
    at sf1, the engine's single biggest exchange. min over BIGINT runs
    as a HashAggregate with a real map-side combine: one row per doc
    per partition, ~7 MB. Min over the top-60-bits integer is exactly
    as valid a MinHash as min over the full hex string (any uniform
    hash family works); the DuckDB oracle applies the same truncation,
    so candidate sets still match bit-for-bit.

    The 16 aggregates are Spark SQL text (functions/text.md5_i64_sql):
    one JVM-side parse each instead of a py4j round-trip per Column
    node, the same move as simhash_signatures."""
    aggs = [
        F.expr(f"min({md5_i64_sql('sh', i)})").alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def lsh_band_keys(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, key): md5 of each band's '|'-joined row hashes
    (integer hashes are variable-width in decimal, so the separator
    keeps the band encoding injective — the old fixed-width hex concat
    didn't need one). Equal key ⇔ all ROWS_PER_BAND min-hashes equal."""
    return lsh_band_keys_config(signatures, NUM_BANDS)


def lsh_band_keys_config(signatures: DataFrame, n_bands: int) -> DataFrame:
    """lsh_band_keys for an arbitrary band count dividing NUM_HASHES —
    the (bands × rows) trade-off knob the band-sweep calibration query
    measures (plans/dedup_queries.lsh_band_sweep): more bands ⇒ higher
    collision probability per true pair (recall↑) and more spurious
    collisions (precision↓); the S-curve midpoint sits at
    J ≈ (1/bands)^(1/rows)."""
    if n_bands < 1 or NUM_HASHES % n_bands:
        raise ValueError(
            f"n_bands must divide NUM_HASHES={NUM_HASHES}, got {n_bands}"
        )
    rows_per_band = NUM_HASHES // n_bands
    bands = ", ".join(
        f"named_struct('band', {b}, 'key', md5(concat_ws('|', "
        + ", ".join(
            f"cast(h{b * rows_per_band + r} as string)"
            for r in range(rows_per_band)
        )
        + ")))"
        for b in range(n_bands)
    )
    return signatures.selectExpr("doc_id", f"inline(array({bands}))")


def lsh_candidate_pairs(band_keys: DataFrame) -> DataFrame:
    """Distinct candidate pairs from band-key collisions: a shuffle-join
    on (band, key) — the only join in the pipeline, and it never touches
    non-colliding docs."""
    a = band_keys.alias("a")
    b = band_keys.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_band_relation(docs: DataFrame) -> DataFrame:
    """Eager-pinned (doc_id, band, key) LSH index — the full
    shingle → signature → band-key pipeline materialized once.

    Factored here (round 8, VERDICT r7 item 4) because its consumer,
    the streaming gate's batch twin, SELF-JOINS this relation (as
    minhash_lsh_pairs self-joins its own pinned band keys): without the
    pin, both join sides recompute the 16-hash signature aggregate from
    raw text inside one job — the gate twin was paying exactly that
    (the surface's slowest sf0.1 query; measured 5.1 → 0.6 s at sf0.1
    and 7.1 → 1.5 s at sf1 after the pin, shuffle 1.3 → 0.03 MB). The relation is
    O(docs × NUM_BANDS) short rows — the LSH table a real feature
    store would persist."""
    return eager_pin(lsh_band_keys(minhash_signatures(doc_shingles(docs))))


def minhash_lsh_pairs(docs: DataFrame, k_shingle: int = 3) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → (doc_a, doc_b, jaccard).

    Plan: (1) per-doc distinct shingle sets (doc_shingle_sets — deduped
    inside the map task, no exchange), pinned lazily: the signature
    stage and both verify sides read them; (2) the sets re-explode into
    the (doc_id, sh) stream the 16-hash min aggregate wants; (3) band
    keys, eager-pinned before the candidate self-join; (4) exact
    Jaccard of each candidate pair from its two sets (set_overlap), the
    same integer operands as the oracle's count form. A band collision
    implies a shared shingle (equal 60-bit min-hashes), so every
    candidate has |A∩B| ≥ 1 and the oracle's inner intersection join
    drops none of them.

    Measured against the earlier explode → global distinct() stream
    with a verify that pinned the candidate pairs (a second blocking
    job) and joined the whole stream four ways, on 4 vCPUs: traced
    warm pass of the compute_heavy benchmark workload (sf0.01) 25 → 14
    Spark jobs, shuffle 0.76 → 0.07 MB, blocking pins 2 → 1,
    query_p90_s 0.59x; sf0.1 fresh process, median of 6 interleaved
    pairs, cold 18.3 → 13.6 s, warm 5.5 → 3.3 s."""
    sets = pin(doc_shingle_sets(docs, k_shingle))
    sh = sets.select("doc_id", F.explode("shs").alias("sh"))
    # band keys materialize BEFORE the candidate self-join: AQE does
    # not reuse the two join sides' exchanges, so both would re-run the
    # signature aggregate + 16-hash md5 pass inside one job (observed
    # as twin 560 MB/50-100 s stages in the sf1 stage telemetry).
    bk = eager_pin(lsh_band_keys(minhash_signatures(sh)))
    return set_overlap(lsh_candidate_pairs(bk), sets).select(
        "doc_a",
        "doc_b",
        (F.col("n_inter").cast("double") / F.col("n_union").cast("double"))
        .alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per doc: per-bit weighted vote over term-frequency-
    weighted token hashes, folded into one BIGINT.

    Aggregates votes DIRECTLY from token occurrences in one groupBy
    (doc_id): sum over occurrences of ±1 per bit is identical to the
    textbook sum over distinct tokens of ±cnt, so the intermediate
    (doc_id, tok) count aggregate — a full shuffle of the exploded
    token stream — is unnecessary. Map-side partial aggregation reduces
    each doc to one 60-long buffer before the only shuffle, so shuffle
    volume is O(#docs), not O(#distinct (doc, tok)) — the property that
    matters at 100 TB. Votes are branchless arithmetic
    (`(h>>b & 1) * 2 - 1`), not CASE WHEN: A/B at sf0.1 (cached input,
    median of 3) — distinct-token CASE form 1.65 s, distinct-token
    branchless 1.20 s, occurrence-direct branchless 0.99 s.

    The md5 hash appears in all 60 bit-vote expressions, but — unlike
    the interpreted transform-lambda case in functions/text.py —
    whole-stage codegen's subexpression elimination evaluates it once
    per row here (A/B measured: inlining beats a pre-projection).
    """
    toks = F.split(normalize_text(text_col), " ")
    occurrences = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok"))
        .filter(F.col("tok") != "")
    )
    # The 60-sum tree + 60-term fold are assembled as expr STRINGS: one
    # JVM-side parse instead of ~400 py4j Column round-trips (plan
    # construction 0.81 s → 0.12 s measured, identical resolved plan).
    h = md5_i64_sql("tok")
    bit_sums = [
        F.expr(f"sum(((({h}) >> {b}) & 1) * 2 - 1)").alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    votes = occurrences.groupBy("doc_id").agg(*bit_sums)
    fold = " + ".join(
        f"(cast(b{b} > 0 as bigint) << {b})" for b in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", F.expr(fold).alias("simhash"))


def simhash_chunks(signatures: DataFrame) -> DataFrame:
    """(doc_id, chunk, val): 15-bit chunks. Pigeonhole: two signatures
    within hamming ≤ 3 share at least one of the 4 chunks."""
    chunks = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("simhash"), c * CHUNK_BITS)
            .bitwiseAND(F.lit((1 << CHUNK_BITS) - 1))
            .alias("val"),
        )
        for c in range(SIMHASH_CHUNKS)
    ]
    return signatures.select(
        "doc_id", "simhash", F.explode(F.array(*chunks)).alias("ck")
    ).select("doc_id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val"))


def simhash_dup_pairs(docs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """Near-dup pairs by SimHash: chunk-collision candidates, verified by
    exact hamming distance on the full signature."""
    sigs = simhash_signatures(docs)
    ck = simhash_chunks(sigs)
    a, b = ck.alias("a"), ck.alias("b")
    cands = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"), F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cands.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard with rare-gram blocking
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 5,
    min_jaccard: float = 0.3,
    max_gram_df: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Char-n-gram Jaccard near-dups.

    Candidate generation joins only on grams whose document frequency is
    ≤ max_gram_df — the standard blocking trick that keeps the candidate
    join linear-ish in corpus size instead of exploding on stop-grams
    ("the f" would otherwise pair half the corpus). Verification then
    computes exact Jaccard over the *full* gram sets of candidates.

    Physical strategy: the per-doc DISTINCT gram set is materialized once
    as a persisted array column (one row per doc), and every stage derives
    from it — the df count reads explode(garr) (already doc-unique, so no
    1-million-row distinct exchange), set sizes are ``size(garr)`` (no
    shuffle), and verification is ``array_intersect`` on the candidate
    pairs after two joins against the array table (candidates are rare, so
    both joins broadcast). A/B at sf0.1, median of 3: relational
    explode→distinct form (exchange-reused across 5 consumers) 9.2 s, the
    same form WITHOUT the persist anchor 58 s (the ngram transform
    re-evaluates per consumer), this persisted-array form 2.4 s. The
    pin is the analogue of the shingle-table materialization every
    production dedup pipeline writes; it is O(corpus grams) and spills
    under MEMORY_AND_DISK. Round 6 switched the pin from lazy persist to
    EAGER pin (execution.eager_pin): the sf1 profile showed this query's five
    concurrent broadcast-subquery stages all racing past the unfilled
    cache and each recomputing the gram arrays from parquet (5 × 21.6
    core-s of identical work) — see the inline comment.

    Round-5 A/B (sf0.1, warm session, median of 3): replacing the
    df-count groupBy + join-back with a single Window.partitionBy(sh)
    count LOSES 2.03 → 4.46 s — the window's per-partition sort costs
    more than the extra hash shuffle saves, and Spark already reuses the
    gram exchange across the groupBy and the join. Keep the groupBy
    form.
    """
    normed = widen_for_compute(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    ).select("doc_id", normalize_text(text_col).alias("nt"))
    # Eager materialization (round 6): the lazy persist lost a race —
    # this query's first job launches several broadcast-exchange stages
    # CONCURRENTLY (rare-gram build side, candidate build side, the two
    # verify array sides), and all of them started computing the gram
    # arrays from parquet before any cache block existed. Profiled at
    # sf1: five 21.6 core-s stages doing identical work. eager_pin
    # blocks until the arrays are stored, so every consumer reads them.
    with_arr = (
        normed.select(
            "doc_id",
            F.array_distinct(ngrams_from_normalized(F.col("nt"), n)).alias("garr"),
        )
    )
    with_arr = eager_pin(with_arr)
    grams = with_arr.select("doc_id", F.explode("garr").alias("sh"))
    rare = (
        grams.groupBy("sh").agg(F.count("*").alias("df"))
        # df = 1 grams can never produce a pair; dropping them here only
        # shrinks the candidate join's build side.
        .filter((F.col("df") >= 2) & (F.col("df") <= max_gram_df))
        .select("sh")
    )
    rare_grams = grams.join(rare, "sh")
    a = rare_grams.select(F.col("doc_id").alias("doc_a"), "sh")
    b = rare_grams.select(F.col("doc_id").alias("doc_b"), "sh")
    cands = (
        a.join(b, ["sh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    aa = with_arr.select(F.col("doc_id").alias("doc_a"), F.col("garr").alias("garr_a"))
    bb = with_arr.select(F.col("doc_id").alias("doc_b"), F.col("garr").alias("garr_b"))
    inter = F.size(F.array_intersect("garr_a", "garr_b"))
    return (
        cands.join(aa, "doc_a")
        .join(bb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (inter.cast("double")
             / (F.size("garr_a") + F.size("garr_b") - inter).cast("double")
             ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
