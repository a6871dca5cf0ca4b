"""Exact set-similarity join via prefix filtering (AllPairs/PPJoin
family) and cross-document duplicate-span statistics.

Two further members of the dedup/blocking discipline established in
operators/dedup.py — same contract (candidate generation is never
all-pairs; verification touches candidates only), different guarantee:

* ``prefix_filtered_jaccard_pairs`` is EXACT — unlike MinHash-LSH
  (probabilistic recall) or the df-capped rare-gram blocker (drops
  grams above a df cap), the prefix filter provably produces a
  candidate superset of every pair with Jaccard >= tau, so the verified
  output is the complete answer. The technique is the canonical
  AllPairs prefix principle (Bayardo, Ma, Srikant, WWW'07; Xiao et al.
  PPJoin, WWW'08): order each document's shingle set by ascending
  global document frequency; two sets with overlap >= o must share an
  element within their first (n - o + 1) elements under ANY common
  total order, and J(a,b) >= tau implies overlap >= ceil(tau * |a|).
  Rare-shingles-first ordering makes the prefixes the most selective
  possible, so candidate volume tracks true-pair volume, not corpus^2.

* ``duplicate_span_stats`` is the corpus-hygiene twin: for every
  document, the fraction of its distinct k-word spans that also occur
  in at least one OTHER document — the span-level duplication signal
  (RefinedWeb/C4-style) that sits between exact-dedup (whole doc) and
  near-dedup (pairwise) in a training-data pipeline.

Scale shape (100 TB): one shuffle keyed by shingle (df count), one
per-doc aggregate (never a global window), a candidate join keyed by
prefix shingle, and an O(candidates) verify. Driver state is zero. The
reference has no set-similarity surface (its text op is word count —
WordCount1/src/main/java/WordCount.java:24); this extends SURVEY.md §2
P1/A1 tokenize-aggregate shapes to exact similarity.

Hashed-key convention (round 7): every shuffle the CANDIDATE machinery
performs — df counting, df-rank aggregation, the prefix self-join, span
marking — keys on ``xxhash64(shingle)`` (8 bytes) instead of the 3-word
shingle string (~17 bytes), the same move as the round-6 integer-MinHash
rewrite. The sf1 profile motivating it: ssjoin_prefix_pairs shuffled
1.22 GB/decade (rS 37.6x on the r6 fixture) with the bytes dominated by
shingle strings riding a df join + a per-doc window + a self-join. A
64-bit collision can only MERGE two distinct shingles (prob <=
D²/2^65 for D distinct shingles — ~1e-11 at sf1), which for candidate
generation only ever widens the candidate set the string-exact verify
then filters; the final pair set is exact with equality certified
against a naive all-pairs twin (tests/test_scale_ops.py).

Persist note: the per-doc shingle-set arrays are pinned because
Spark's higher-order shingle transform is interpreted (not codegen)
and would re-run once per consumer branch (measured 8.5 s -> 0.7 s
for duplicate_span_stats at sf0.1). The pin is per-doc arrays —
O(corpus tokens), the same footprint every dedup operator's shuffle
already carries — and lives until Spark's ContextCleaner collects the
plan (bench.py additionally clears the cache between queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from hadoop_project_spark.execution import eager_pin, widen_for_compute
from hadoop_project_spark.functions.text import normalize_text, shingles_from_tokens
from hadoop_project_spark.operators import dedup as dd

# Jaccard threshold as an exact rational p/q so the verify comparison is
# integer-only on both engines: J >= 1/2  <=>  2*inter >= union.
SSJOIN_TAU_NUM = 1
SSJOIN_TAU_DEN = 2

# k-word spans for both operators (3 matches the dedup family's shingle
# size, so signals are comparable across operators).
SPAN_K = 3

# duplicate_span_stats flag threshold: >= 30% of spans shared.
DUP_SPAN_FLAG_NUM = 3
DUP_SPAN_FLAG_DEN = 10


BITMAP_SLOTS = 4  # 4 x 64 = 256-bit per-doc presence bitmap


def _doc_bitmap(shs: F.Column) -> F.Column:
    """256-bit presence bitmap of a shingle array, as array<long>[4]:
    bit pmod(xxhash64(sh), 256) is set for every shingle. Used for the
    DETERMINISTIC pair prune in prefix_filtered_jaccard_pairs: with
    P = popcount(bm_a | bm_b), u >= P always (u elements set at most u
    bits), so i = na + nb - u <= na + nb - P, and J >= tau implies
    tau_num * P <= tau_den * (na + nb - P) — a necessary condition
    with ZERO false rejects, independent of hash quality."""
    zero = F.array(*[F.lit(0).cast("long") for _ in range(BITMAP_SLOTS)])

    def step(acc: F.Column, sh: F.Column) -> F.Column:
        bi = F.pmod(F.xxhash64(sh), F.lit(64 * BITMAP_SLOTS))
        slot = F.floor(bi / F.lit(64)).cast("int")
        one = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(bi, F.lit(64)).cast("int")
        )
        return F.transform(
            acc, lambda v, i: F.when(i == slot, v.bitwiseOR(one)).otherwise(v)
        )

    return F.aggregate(shs, zero, step)


def _doc_shingle_sets(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """(doc_id, shs, n, bm): dedup.doc_shingle_sets (each document's
    DISTINCT k-word shingles as a sorted array plus its size) with the
    256-bit presence bitmap the candidate prune reads."""
    sets = dd.doc_shingle_sets(docs, k)
    return sets.withColumn("bm", _doc_bitmap(F.col("shs")))


def _hashed_stream(sets: DataFrame, carry_n: bool = False) -> DataFrame:
    """Exploded (doc_id[, n], h) stream of 64-bit shingle hashes — the
    8-byte shuffle key every candidate-side stage uses (module
    docstring, hashed-key convention). array_distinct guards the
    astronomically unlikely within-doc collision so downstream set
    arithmetic stays consistent."""
    cols = ["doc_id", "n"] if carry_n else ["doc_id"]
    return sets.select(
        *cols,
        F.explode(
            F.array_distinct(F.transform("shs", lambda s: F.xxhash64(s)))
        ).alias("h"),
    )


def prefix_candidates(
    sets: DataFrame,
    tau_num: int = SSJOIN_TAU_NUM,
    tau_den: int = SSJOIN_TAU_DEN,
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from the df-ordered prefix join
    with the PPJoin length and positional prunes — a SUPERSET of all
    pairs with Jaccard >= tau (up to 64-bit hash collisions, prob
    <= 2^-64 per pair; exactness certified against a naive all-pairs
    twin in tests/test_scale_ops.py, which also counts THIS relation to
    pin the filtering itself).

    ceil(tau*n) is (tau_num*n + tau_den - 1) div tau_den — pure integer
    arithmetic, bit-identical in any engine. Prunes:
      * length: J >= tau forces tau * max(na, nb) <= min(na, nb)
      * positional: a shared prefix token at positions (pa, pb) bounds
        the overlap by 1 + min(na - pa, nb - pb), which must reach
        minoverlap = ceil(tau/(1+tau) * (na + nb)).
    Measured at sf0.1: candidates 409k -> 125k, verify 3.5s -> 1.5s.

    Plan shape (round 7 — the rS 37.6x fix): the per-doc df-rank is a
    collect_list + array sort_array/slice AGGREGATE, not a row_number
    window — the stream shuffles once (doc_id-keyed, 20 B/row) instead
    of twice (df-join then window), only prefix rows ever re-explode,
    and every key is the 8-byte hash. The prefix principle needs only
    A common total order, so ordering by (df, h) instead of (df, sh)
    changes nothing: rarest-first is preserved (the property that keeps
    hot stop-shingles out of prefixes — load-bearing at corpus scale,
    where a df=1e6 shingle in prefixes would mean 1e12 probe pairs),
    ties break on the hash.

    The 256-bit presence bitmaps ride the prefix rows and the prune
    evaluates INSIDE the join condition (codegen, during probe): the
    sf1 profile showed 4.9M raw prefix collisions reduced to 1.27M by
    the length/positional prunes but only ~2.6k true pairs — the
    bitmap cuts candidates to near-truth before anything materializes,
    so the downstream distinct and verify joins handle thousands of
    rows, not millions.
    """
    dh = _hashed_stream(sets)
    dfc = dh.groupBy("h").agg(F.count("*").alias("df"))
    # (df, h) struct sorts lexicographically: ascending df, then hash —
    # the most-selective (rarest-first) prefix order.
    #
    # The per-doc rank relation is eager-pinned (round 8): the prefix
    # SELF-JOIN below consumes it on both sides, and the sf1 stage
    # profile showed the entire upstream (hashed-stream exchange, df
    # aggregate, doc-keyed collect_list) executing TWICE — one
    # byte-identical stage pair per exchange (50.7 + 36.2 + 38.6 MB
    # each, ~90 duplicated core-s) — because AQE does not reuse the
    # identical exchanges across the self-join's two sides. Same
    # pathology and fix as the minhash band-key pin (dedup.py).
    ranked = eager_pin(
        dh.join(dfc, "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("rhs"))
        .join(sets.select("doc_id", "bm"), "doc_id")
    )
    hn = F.size("rhs")
    ceil_tau_n = F.floor(
        (F.lit(tau_num) * hn + F.lit(tau_den - 1)) / F.lit(tau_den)
    )
    prefix = ranked.select(
        "doc_id",
        "bm",
        hn.alias("n"),
        F.posexplode(
            F.slice("rhs", F.lit(1), hn - ceil_tau_n + F.lit(1))
        ).alias("p", "s"),
    ).select(
        "doc_id", "bm", "n", (F.col("p") + F.lit(1)).alias("rn"),
        F.col("s.h").alias("h"),
    )
    na, nb = F.col("a.n"), F.col("b.n")
    pa, pb = F.col("a.rn"), F.col("b.rn")
    minoverlap = F.floor(
        (F.lit(tau_num) * (na + nb) + F.lit(tau_num + tau_den - 1))
        / F.lit(tau_num + tau_den)
    )
    # popcount(bm_a | bm_b) — see _doc_bitmap for the zero-false-reject
    # proof of the P-based Jaccard upper bound
    p_or = sum(
        F.bit_count(
            F.col("a.bm").getItem(i).bitwiseOR(F.col("b.bm").getItem(i))
        )
        for i in range(BITMAP_SLOTS)
    )
    return (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(tau_num) * F.greatest(na, nb)
                <= F.lit(tau_den) * F.least(na, nb)
            )
            & (F.lit(1) + F.least(na - pa, nb - pb) >= minoverlap)
            & (F.lit(tau_num) * p_or <= F.lit(tau_den) * (na + nb - p_or)),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def prefix_filtered_jaccard_pairs(
    docs: DataFrame,
    tau_num: int = SSJOIN_TAU_NUM,
    tau_den: int = SSJOIN_TAU_DEN,
    k: int = SPAN_K,
) -> DataFrame:
    """All pairs of documents with shingle-set Jaccard >= tau — exact,
    via df-ordered prefix filtering.

    Plan: (1) per-doc distinct shingle arrays (zero-shuffle dedup);
    (2) shingle df — one agg keyed by the 64-bit hash; (3) per-doc
    (df, h) rank arrays via collect_list + sort_array — a doc-keyed
    AGGREGATE, never a global sort or window; (4) prefix rows + PPJoin
    prunes -> candidates (see prefix_candidates); (5) verify with
    array_intersect over the per-doc sorted STRING shingle arrays,
    integer threshold test — so the output is string-exact regardless
    of the hashed candidate machinery.
    """
    # eager pin: the set arrays feed the hashed candidate machinery AND
    # both verify sides — concurrent consumer stages (r6 profile pattern)
    sets = eager_pin(_doc_shingle_sets(docs, k))
    return prefix_filtered_jaccard_pairs_from_sets(sets, tau_num, tau_den)


def prefix_filtered_jaccard_pairs_from_sets(
    sets: DataFrame,
    tau_num: int = SSJOIN_TAU_NUM,
    tau_den: int = SSJOIN_TAU_DEN,
) -> DataFrame:
    """prefix_filtered_jaccard_pairs over a PREBUILT (and already
    pinned) _doc_shingle_sets relation — factored out (round 8) so
    pipelines that need both the exact truth set and another
    shingle-derived relation (the LSH calibration query,
    plans/dedup_queries.dedup_lsh_recall_eval) derive everything from
    ONE materialization of the per-doc shingle arrays instead of
    re-running the normalize/shingle transform per pipeline."""
    # candidates arrive bitmap-pruned to near-truth (prefix_candidates
    # applies the _doc_bitmap necessary condition inside the join), so
    # the verify joins below ship each doc's string array for thousands
    # of surviving pairs — not the 1.27M the PPJoin prunes alone left
    # at sf1, whose per-pair array shipping was 826 MB of the query's
    # 1.11 GB shuffle before round 7.
    cand = prefix_candidates(sets, tau_num, tau_den)
    return (
        dd.set_overlap(cand, sets)
        .where(
            F.col("n_inter") * F.lit(tau_den)
            >= F.lit(tau_num) * F.col("n_union")
        )
        .select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_union").cast("long").alias("n_union"),
            (F.col("n_inter").cast("double") / F.col("n_union").cast("double"))
            .alias("jaccard"),
        )
    )


def duplicate_span_stats(
    docs: DataFrame,
    k: int = SPAN_K,
    flag_num: int = DUP_SPAN_FLAG_NUM,
    flag_den: int = DUP_SPAN_FLAG_DEN,
) -> DataFrame:
    """Per-document cross-corpus duplicate-span ratio: of the document's
    distinct k-word spans, how many occur in >= 2 documents.

    Two shuffles, both linear and both keyed on the 8-byte hash:
    (doc, h) -> df keyed by h, then a per-doc aggregate keyed by doc.
    n_spans is the pre-explode STRING set size (exact); only the df>=2
    duplicated-elsewhere determination rides the hash (exact up to a
    64-bit collision, which would mark one unique span as duplicated —
    prob <= D²/2^65). The flag comparison is integer-only (n_dup *
    flag_den >= flag_num * n_spans); the ratio itself is a single
    correctly-rounded division, identical on every engine.
    """
    sets = eager_pin(_doc_shingle_sets(docs, k))
    dsh = _hashed_stream(sets, carry_n=True)
    df_counts = dsh.groupBy("h").agg(F.count("*").alias("df"))
    per_doc = (
        dsh.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_spans"),
            F.sum((F.col("df") >= 2).cast("long")).alias("n_dup_spans"),
        )
    )
    return per_doc.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
        (
            F.col("n_dup_spans").cast("double")
            / F.col("n_spans").cast("double")
        ).alias("dup_ratio"),
        (
            F.col("n_dup_spans") * F.lit(flag_den)
            >= F.lit(flag_num) * F.col("n_spans")
        ).alias("flagged"),
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = SPAN_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal per-document RUNS of k-gram positions whose gram occurs
    in >= 2 documents — the concrete removal list a span-level
    training-data dedup emits (the "drop repeated substrings" step of
    Lee et al.'s dedup pipeline), where duplicate_span_stats only
    reports the per-doc ratio. Output (doc_id, span_start, span_end,
    n_grams) in 0-based gram positions; a span of n_grams grams covers
    n_grams + k - 1 tokens.

    Scale shape: two linear shuffles (document-frequency by gram, then
    duplicated positions back to their docs), BOTH keyed on the 8-byte
    xxhash64 of the gram rather than its string (module docstring,
    hashed-key convention — exact up to a 64-bit collision marking one
    unique gram as duplicated), and one gaps-and-islands window
    PARTITIONED BY doc — per-doc work is O(doc grams), never a global
    sort. The raw text scan is widened first: the shingle explode is
    the CPU stage, and sf1 profiling showed it running on the scan's 2
    byte-splits with 30 cores idle.
    """
    # work_factor 32: gram explode + per-gram hash (same per-byte class
    # as doc_shingles; compressed stats under-fire the widen locally)
    toks = widen_for_compute(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        work_factor=32,
    ).select(
        "doc_id",
        F.split(normalize_text(text_col), " ").alias("toks"),
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(shingles_from_tokens(F.col("toks"), k)).alias("pos", "sh"),
    ).select("doc_id", "pos", F.xxhash64("sh").alias("h"))
    dup_grams = (
        grams.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("h")
    )
    dpos = grams.join(dup_grams, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dpos.select(
        "doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("grp")
    )
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("pos").alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            F.col("n_grams").cast("long").alias("n_grams"),
        )
    )
