"""Exact repeated-substring detection across documents — the one
standard LLM-corpus dedup family winnowing only approximates: find
every maximal run of ≥ min_len consecutive tokens shared verbatim by
two documents (the "exact substring" dedup of training-data pipelines,
which suffix-array implementations compute single-node; here it is the
distributed, never-all-pairs form).

Method (k-gram anchoring + diagonal run extension):

1. every k-token window of every document becomes an anchor
   (doc_id, pos, gram) — one doc-keyed window pass over the postings
   relation, no HOF per-element lambdas (explode+window codegen beats
   interpreted array transforms ~10× on this corpus shape);
2. anchors that repeat verbatim across documents join on the gram
   value — BLOCKED candidate generation: cost is Σ occ² per repeated
   gram, zero pairs for unique grams (the overwhelming majority), and
   grams above ``max_gram_occ`` occurrences (boilerplate at corpus
   scale: licenses, headers) are dropped BEFORE the join, the same
   df-cap discipline as winnowing/fingerprint candidates;
3. a shared substring of length L ≥ k appears as exactly L−k+1
   anchor matches at one (doc_a, doc_b, pos_a − pos_b) DIAGONAL with
   consecutive pos_a — so maximal shared spans are gaps-and-islands
   runs per diagonal (island id = pos_a − row_number), recovered with
   one window + one aggregate keyed by the (bounded) match set.

Every stage is a narrow projection, a partial-aggregated shuffle, or a
key-blocked join; nothing is quadratic in the corpus and no stage
collects to the driver. The (term-bucketed at scale) anchor relation
shuffles once on gram; the match/diagonal stages are sized by the
duplicated content itself, not the corpus.

Exactness: token positions are the 0-based dense positions of
operators/invindex.postings (normalize_text tokenization), so the
DuckDB oracle replays anchoring, the diagonal join, and the island
windows integer-for-integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from hadoop_project_spark.execution import eager_pin
from hadoop_project_spark.operators.invindex import postings

# Anchor gram width; spans are detectable at >= K_GRAM tokens.
K_GRAM = 6
# Report only maximal spans of at least this many tokens (> K_GRAM so
# the length filter is doing real work, not echoing detectability).
MIN_SPAN = 8
# Boilerplate guard: grams occurring more than this many times corpus-
# wide never anchor (at fixture scale the hottest repeated gram occurs
# 4x, so correctness fixtures exercise the cap as a no-op; at 100 TB it
# is the license-header fuse that bounds the join fan-out).
MAX_GRAM_OCC = 64


def token_kgram_anchors(docs: DataFrame, k: int = K_GRAM) -> DataFrame:
    """(doc_id, pos, g): every k-token window, built with lead() over
    the per-document token sequence — one doc-keyed shuffle, full
    codegen, no interpreted array lambdas."""
    return anchors_over(postings(docs), k)


def anchors_over(p: DataFrame, k: int = K_GRAM) -> DataFrame:
    """token_kgram_anchors over an EXISTING postings relation — the
    anchor set of a document depends only on that document's tokens,
    so a pinned corpus-wide postings relation can feed several anchor
    domains (full corpus, survivors) without re-tokenizing (round-12,
    guide §1.2: remove redundant passes)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("term")] + [
        F.lead("term", i).over(w) for i in range(1, k)
    ]
    return (
        p.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *parts).alias("g"),
            F.lead("term", k - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())  # window fits in the doc
        .drop("_last")
    )


def exact_substring_spans(
    docs: DataFrame,
    k: int = K_GRAM,
    min_len: int = MIN_SPAN,
    max_gram_occ: int = MAX_GRAM_OCC,
) -> DataFrame:
    """(doc_a, doc_b, start_a, start_b, len_tokens): every MAXIMAL
    token span of length ≥ min_len shared verbatim between two
    documents (doc_a < doc_b), at every alignment it occurs.

    Maximality is per diagonal: a span is reported once with its full
    extent, never as its sub-windows — the gaps-and-islands recovery
    over consecutive anchor positions guarantees it. Periodic text
    sharing the same span at several alignments reports each diagonal
    (they are genuinely distinct duplications). Output is sized by the
    actual duplication in the corpus."""
    return spans_from_anchors(
        token_kgram_anchors(docs, k), k, min_len, max_gram_occ
    )


def spans_from_anchors(
    kg: DataFrame,
    k: int = K_GRAM,
    min_len: int = MIN_SPAN,
    max_gram_occ: int = MAX_GRAM_OCC,
) -> DataFrame:
    """exact_substring_spans from an EXISTING anchor relation (the
    occurrence cap counts over exactly the anchors given, so the
    caller controls the corpus domain — full or survivors-only).

    Round-12 match generation (guide §2.4 — remove shuffles outright):
    the former shape pinned the capped anchors and SELF-JOINED them on
    g (cache write + two cache scans + a join); now the occurrence
    list of each surviving gram is collected once — the groupBy
    reuses the cap window's hash partitioning on g, so it adds NO
    exchange and reads rows already sorted by g — and the cross-doc
    pairs expand from the (cap-bounded, ≤ max_gram_occ elements)
    occurrence array in one generator. Zero pins, no join, same
    single anchor shuffle; per-group agg state is bounded because the
    cap filter runs BEFORE the collect."""
    capped = kg.withColumn(
        "n_occ", F.count("*").over(Window.partitionBy("g"))
    ).filter(F.col("n_occ") <= max_gram_occ)
    occs = (
        capped.groupBy("g")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("os"))
        .filter(F.size("os") >= 2)
    )
    m = occs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("os"),
                    lambda x: F.transform(
                        F.filter(
                            F.col("os"),
                            lambda y: y["doc_id"] > x["doc_id"],
                        ),
                        lambda y: F.struct(
                            x["doc_id"].alias("da"),
                            y["doc_id"].alias("db"),
                            (x["pos"] - y["pos"]).alias("diag"),
                            x["pos"].alias("pa"),
                        ),
                    ),
                )
            )
        ).alias("mm")
    ).select("mm.*")
    wd = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = m.withColumn("isl", F.col("pa") - F.row_number().over(wd))
    spans = (
        runs.groupBy("da", "db", "diag", "isl")
        .agg(
            F.min("pa").alias("sa"),
            (F.max("pa") - F.min("pa") + k).alias("len"),
        )
        .filter(F.col("len") >= min_len)
    )
    return spans.select(
        F.col("da").cast("long").alias("doc_a"),
        F.col("db").cast("long").alias("doc_b"),
        F.col("sa").cast("long").alias("start_a"),
        (F.col("sa") - F.col("diag")).cast("long").alias("start_b"),
        F.col("len").cast("long").alias("len_tokens"),
    )


def merge_intervals(sides: DataFrame) -> DataFrame:
    """(doc_id, iid, ms, me): overlapping/touching [s, e) intervals per
    document merged with the classic running-max island scan — one
    doc-keyed window over a duplication-sized relation, never the
    corpus. ``sides`` must be DISTINCT (doc_id, s, e) rows: duplicate
    intervals would tie the windows' (s, e) ordering and running
    windows over tied rows are order-dependent in any engine."""
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sides.withColumn("pmax", F.max("e").over(wprev))
        .withColumn(
            "new_isl",
            F.when(
                F.col("pmax").isNull() | (F.col("s") > F.col("pmax")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("iid", F.sum("new_isl").over(wrun))
        .groupBy("doc_id", "iid")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
    )


def exact_substring_dedup_rewrite(
    docs: DataFrame,
    k: int = K_GRAM,
    min_len: int = MIN_SPAN,
    max_gram_occ: int = MAX_GRAM_OCC,
) -> DataFrame:
    """(doc_id, clean_text, n_cut_tokens): the CLEANED corpus — the
    deliverable an exact-substring dedup pipeline actually ships
    (VERDICT r10 #1; the transform-then-sink shape of the reference's
    own ETL path, Flight2/src/main/java/hw4/HPopulate.java:61-106).

    Policy — lowest doc_id keeps the canonical occurrence: every span
    is cut ONLY on its doc_b side (exact_substring_spans emits
    doc_a < doc_b), so for each duplicated passage exactly the
    earliest document retains it and every later alignment is removed
    (Lee et al.'s exact-substring deduplication, as a single
    detect-and-cut pass). Overlapping cut intervals per document are
    interval-merged first so each token is cut once.

    Scale shape — the splice path runs ONLY over documents that have
    cuts: the corpus-sized token relation is semi-joined against the
    (duplication-sized) cut-doc set before any per-token work, the cut
    intervals join back broadcast-sized, and the rebuild groupBy
    shuffles only the cut docs' tokens. Untouched documents pass
    through as a single normalize_text projection — no explode, no
    shuffle (normalize_text collapses/trims whitespace, so the
    normalized string IS its tokens joined by ' ': both output legs
    are in the same canonical form, which the oracle replays exactly).
    A document whose every token is cut ships as clean_text = ''."""
    p = eager_pin(
        postings(docs)
    )  # two consumers: the anchor window and the splice (round-12:
    # formerly each re-tokenized the corpus from text)
    return _dedup_rewrite_over(
        docs, p, anchors_over(p, k), k, min_len, max_gram_occ
    )


def _dedup_rewrite_over(
    docs: DataFrame,
    p: DataFrame,
    kg: DataFrame,
    k: int = K_GRAM,
    min_len: int = MIN_SPAN,
    max_gram_occ: int = MAX_GRAM_OCC,
) -> DataFrame:
    """exact_substring_dedup_rewrite over precomputed postings ``p``
    and anchors ``kg`` of exactly ``docs`` (both are per-document
    derivations, so a caller holding them for a superset corpus passes
    the doc-filtered relations)."""
    from hadoop_project_spark.functions.text import normalize_text

    spans = spans_from_anchors(kg, k, min_len, max_gram_occ)

    cuts = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("len_tokens")).alias("e"),
    ).distinct()
    merged = eager_pin(merge_intervals(cuts))
    cut_docs = merged.groupBy("doc_id").agg(
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("n_cut_tokens")
    )
    toks = p
    kept = (
        toks.join(cut_docs.select("doc_id"), "doc_id", "leftsemi")
        .alias("t")
        .join(
            merged.alias("m"),
            (F.col("t.doc_id") == F.col("m.doc_id"))
            & (F.col("t.pos") >= F.col("m.ms"))
            & (F.col("t.pos") < F.col("m.me")),
            "left_anti",
        )
    )
    spliced = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda x: x["term"],
            ),
            " ",
        ).alias("clean_text")
    )
    rewritten = cut_docs.join(spliced, "doc_id", "left").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_cut_tokens",
    )
    untouched = (
        docs.join(cut_docs.select("doc_id"), "doc_id", "left_anti")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            normalize_text("text").alias("clean_text"),
            F.lit(0).cast("long").alias("n_cut_tokens"),
        )
    )
    return rewritten.unionByName(untouched)



# Whole-document drop threshold for the combined dedup pipeline: a
# document whose REMOVED-SIDE merged-interval coverage (spans whose
# canonical copy lives in a lower doc_id — removed_side_coverage) reaches
# this fraction is a near-complete copy of earlier documents and is
# DROPPED outright; documents below it survive into the span-cut pass.
# 0.99 (not 0.5) because the fixture's duplicated docs are near-full
# copies (sf0.01 coverage min 0.917, median 1.0) — the threshold must
# split that band for both pipeline stages to do real work, and
# dup_fraction is cross-engine bit-exact so the comparison is safe.
DROP_COVERAGE = 0.99


def exact_substring_dedup_corpus(
    docs: DataFrame,
    k: int = K_GRAM,
    min_len: int = MIN_SPAN,
    max_gram_occ: int = MAX_GRAM_OCC,
    drop_coverage: float = DROP_COVERAGE,
) -> DataFrame:
    """(doc_id, clean_text, n_cut_tokens): the FINAL corpus of the
    combined exact-substring dedup pipeline — both standard policies
    composed in their production order:

    1. DROP documents whose REMOVED-SIDE duplication coverage
       (removed_side_coverage: spans whose canonical copy lives in
       a lower doc_id, interval-merged) reaches ``drop_coverage`` —
       they are near-complete copies of earlier documents; rewriting
       them would ship fragments of boilerplate. Removed-side (not
       the both-sides report) is what preserves a canonical: under
       both-sides coverage a mutual full-copy pair scores 1.0 on BOTH
       members and the whole cluster — passage included — would
       vanish from the corpus; removed-side scores the cluster's
       lowest doc_id 0 and keeps it;
    2. re-detect spans among the SURVIVORS and CUT those
       (exact_substring_dedup_rewrite) — a span whose canonical
       partner was dropped in stage 1 is no longer duplicated text and
       correctly survives; a span shared between two survivors is cut
       on the higher-doc_id side as usual.

    Stage 2 re-detects spans among the SURVIVING anchors (the cap
    recounts over survivors only — a gram pushed over the cap by
    dropped copies can re-anchor, exactly as a fresh pass over the
    surviving corpus would see it). Dropped documents emit no row: the
    output IS the training corpus.

    One pinned postings relation and one anchor window feed BOTH
    stages plus the splice. Anchors and postings are per-document
    derivations, so the survivor-side relations are doc-filters of the
    stage-1 ones; re-deriving them per stage re-tokenized the corpus
    three times (stage-1 anchors, stage-2 anchors, splice) and ran the
    anchor window twice. n_tokens for the drop criterion counts the
    pinned postings rows — identical to the text-split count for every
    doc that can appear in the coverage join (a doc with a span has >=
    min_len nonempty tokens)."""
    p = eager_pin(postings(docs))
    kg = eager_pin(anchors_over(p, k))
    dropped = eager_pin(
        removed_side_coverage(p, kg, k, min_len, max_gram_occ)
        .filter(F.col("dup_fraction") >= F.lit(drop_coverage))
        .select("doc_id")
    )  # O(dropped docs); three anti-join consumers below
    survivors = docs.join(dropped, "doc_id", "left_anti")
    return _dedup_rewrite_over(
        survivors,
        p.join(dropped, "doc_id", "left_anti"),
        kg.join(dropped, "doc_id", "left_anti"),
        k,
        min_len,
        max_gram_occ,
    )


def doc_duplication_coverage(
    docs: DataFrame,
    k: int = K_GRAM,
    min_len: int = MIN_SPAN,
    max_gram_occ: int = MAX_GRAM_OCC,
) -> DataFrame:
    """(doc_id, n_tokens, n_spans, dup_tokens, dup_fraction): the
    dedup DECISION built on the span relation — for every document
    with any shared span, how much of it is duplicated text. This is
    the number an exact-substring dedup pipeline acts on (drop, trim,
    or down-weight — Lee et al.'s dedup removes exactly these spans).

    Both sides of every span project to (doc, start, end) intervals;
    overlapping intervals per document are merged with the classic
    running-max island scan (one doc-keyed window over the
    duplication-sized span relation — never the corpus), so a token
    covered by several overlapping spans counts once. dup_fraction is
    one correctly-rounded double division of exact integers —
    cross-engine bit-equal."""
    p = eager_pin(postings(docs))  # anchors + n_tokens (round-12:
    # formerly two independent tokenize passes)
    spans = spans_from_anchors(anchors_over(p, k), k, min_len, max_gram_occ)
    # DISTINCT is load-bearing, not an optimization: the island scan
    # orders by (s, e), and duplicate intervals (the same span shared
    # with several partners) would make that ordering a TIE — running
    # windows over tied rows are order-dependent in any engine, and
    # the island id could split mid-tie nondeterministically. Unique
    # (doc_id, s, e) rows give the windows a total order.
    sides = spans.select(
        F.col("doc_a").alias("doc_id"),
        F.col("start_a").alias("s"),
        (F.col("start_a") + F.col("len_tokens")).alias("e"),
    ).unionByName(
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("len_tokens")).alias("e"),
        )
    ).distinct()
    return _coverage_over(p, sides)


def removed_side_coverage(
    p: DataFrame,
    kg: DataFrame,
    k: int = K_GRAM,
    min_len: int = MIN_SPAN,
    max_gram_occ: int = MAX_GRAM_OCC,
) -> DataFrame:
    """_coverage_over restricted to the REMOVED side, over postings
    ``p`` and their anchors ``kg`` (anchors_over(p, k)): the fraction
    of the document covered by spans whose canonical copy lives in a
    LOWER doc_id. This — not the both-sides report — is the
    whole-document DROP criterion: under both-sides coverage a mutual
    full-copy pair scores 1.0 on BOTH members, so a drop-threshold
    pass deletes the entire cluster and the passage vanishes from the
    corpus; under removed-side coverage the cluster's lowest doc_id
    has no lower-id partner, scores 0, and keeps the canonical
    occurrence — the same keep-lowest orientation every cut in this
    module uses."""
    spans = spans_from_anchors(kg, k, min_len, max_gram_occ)
    sides = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("len_tokens")).alias("e"),
    ).distinct()
    return _coverage_over(p, sides)


def _coverage_over(p: DataFrame, sides: DataFrame) -> DataFrame:
    """Merged-interval coverage of a DISTINCT (doc_id, s, e) interval
    relation against the documents' token counts — shared by the
    both-sides diagnostic and the removed-side drop criterion.
    n_tokens counts the postings rows (round-12: the former text-split
    count was a second tokenize pass); identical for every doc the
    inner join can emit — a doc with a span has >= min_len nonempty
    tokens, and postings' dense positions count exactly those."""
    merged = merge_intervals(sides)
    cov = merged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("dup_tokens"),
    )
    ntok = p.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    return cov.join(ntok, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_spans",
        "dup_tokens",
        (
            F.col("dup_tokens").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("dup_fraction"),
    )
