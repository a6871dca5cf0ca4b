"""Positional inverted index + exact phrase search over `documents`.

The inverted index is THE canonical Hadoop/MapReduce workload — the
reference's WordCount (WordCount1/src/main/java/WordCount.java:24, §2
P1/A1) is its degenerate form (term → count, positions dropped). This
module completes it relationally: a (term, doc_id, pos) postings
relation, the per-term index directory, and the classic
positional-intersection phrase search an index exists to answer.

Shape for 100 TB:

* ``postings`` is one widened scan + posexplode — no shuffle at all
  until an aggregate/join keys it; at cluster scale the materialized
  form is a parquet table bucketed by term (sources/sinks.py S7), and
  every probe below is then a bucket-local join. That stored shape is
  no longer just asserted: ``build_index_tables`` writes it (one file
  per bucket, sorted by term, doc_id, pos) and the ``*_over`` /
  ``*_stored`` probes run against it — exchange-free term aggregates
  and bucket-pruned term filters, gated in tests/test_plan_shapes.py
  and hash-certified by `inverted_index_build_roundtrip` /
  `bm25_topk_stored`.
* ``index_directory`` is a single partial-aggregated groupBy(term):
  shuffle rows = one per (term, input partition), output rows = |vocab|
  — Heaps-law sublinear in the corpus.
* ``phrase_occurrences`` is the positional intersection run as ONE
  probe for the whole phrase list: the postings are filtered once with
  ``term IN (every phrase word)`` (a bucket-pruned scan of the stored
  index), joined to a broadcast (phrase, term, off, nw) literal on
  term, and grouped by (phrase, doc_id, start = pos − off); a start
  whose group counts nw rows has every word i at start + i. Cost is
  O(Σ posting-list lengths of the phrase words), never a corpus scan
  per phrase, and a hot term cannot fan out: each posting row meets
  only its own word's literal rows. ``proximity_cooccurrence`` is the
  same single scan joined to a (pair, a, b) literal, with the position
  band as the residual of one (pair, doc_id) equi-join.

Exactness: token positions are 0-based over the whitespace-normalized
token sequence (functions/text.normalize_text — the same tokenization
every text operator here uses), so the DuckDB oracle reproduces counts
integer-for-integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hadoop_project_spark.execution import eager_pin, literal, widen_for_compute
from hadoop_project_spark.functions.text import normalize_text


def postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, doc_id, pos): the positional postings relation. Narrow
    (scan + widen + explode); interior empty tokens cannot occur because
    normalize_text collapses/trims whitespace, so positions are dense
    0..n_tokens-1 — the invariant the phrase intersection relies on.
    The one degenerate case — a document whose text normalizes to the
    empty string — yields a single '' token at pos 0; it is filtered so
    such documents contribute ZERO terms everywhere (postings, the
    directory, tf/df/dl/N/T in BM25 — the same convention
    tfidf.doc_term_freqs uses, and the oracles mirror it; ADVICE r8).

    posexplode_outer, not posexplode: an inner explode of the bare
    token array makes Spark infer size(toks) > 0 and push it to the
    scan with the tokenizer inlined, so every document was normalized
    twice, once before the widen. The outer form's extra row for a NULL
    text is dropped by the term != '' filter."""
    toks = widen_for_compute(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    ).select("doc_id", F.split(normalize_text(text_col), " ").alias("toks"))
    return (
        toks.select("doc_id", F.posexplode_outer("toks").alias("pos", "term"))
        .filter(F.col("term") != "")
        .select("term", "doc_id", "pos")
    )


def index_directory(docs: DataFrame) -> DataFrame:
    """Per-term index metadata: document frequency, collection
    frequency, and the doc-id span of the posting list — what an index
    build writes next to the postings themselves. One
    partial-aggregated shuffle keyed by term."""
    return index_directory_over(postings(docs))


def index_directory_over(p: DataFrame) -> DataFrame:
    """index_directory's aggregate over an EXISTING postings relation.
    Over the stored term-bucketed table this is ZERO-shuffle: hash
    partitioning on term satisfies every grouping here (term, and the
    countDistinct expand on (term, doc_id) — a superset of the bucket
    key), so both aggregate phases run bucket-local (asserted in
    tests/test_plan_shapes.py)."""
    return p.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df"),
        F.count("*").cast("long").alias("cf"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Stored index: the 100 TB shape the module docstring prescribes,
# materialized — a postings table BUCKETED BY TERM (so every term-keyed
# aggregate/join downstream is bucket-local, and term-equality probes
# prune to one bucket at the scan: SelectedBucketsCount in the plan),
# plus a doc-length table bucketed by doc_id.
#
# Encoding: both tables store doc_id as Parquet DELTA_BINARY_PACKED
# pages (d-gaps, the posting-list compression every real inverted index
# uses); term, pos and dl keep their dictionaries (delta on pos
# measured 9% larger at sf0.1). Sorted by term first, the doc_ids
# restart at every term and defeat dictionary + RLE: the doc_id chunk
# was 46,108 B of an 81,436 B postings table at sf0.01, against 3,814 B
# for the same rows in a doc-ordered LSM segment. With delta pages:
#
#   bytes      postings sf0.01   postings sf0.1    doclens sf0.1
#   dict           81,436           841,172            33,918
#   delta          45,575           334,116            17,299
# ---------------------------------------------------------------------------

POSTINGS_BUCKETS = 8
DOCLEN_BUCKETS = 8


def index_table_names(prefix: str) -> tuple[str, str]:
    """(postings_table, doclens_table) for a build prefix."""
    return f"{prefix}_postings", f"{prefix}_doclens"


def build_index_tables(
    docs: DataFrame, prefix: str, n_buckets: int = POSTINGS_BUCKETS
) -> tuple[str, str]:
    """Materialize the inverted index: postings bucketed AND sorted by
    (term, doc_id, pos), doc lengths bucketed by doc_id.

    Each relation is repartitioned to exactly n_buckets on its bucket
    column before the write, so every bucket lands in ONE file — the
    layout under which Spark both prunes buckets on term-equality
    filters and propagates the sortBy ordering to downstream sort-merge
    joins (multi-file buckets forfeit the ordering guarantee). The
    postings relation is pinned once and feeds both writes.

    dl (tokens per doc) doubles as the BM25 document length; the corpus
    scalars N and T are its COUNT/SUM — probe-time one-row aggregates
    over the doc-sized table, not a third table."""
    return write_index_tables(eager_pin(postings(docs)), prefix, n_buckets)


def write_index_tables(
    p: DataFrame,
    prefix: str,
    n_buckets: int = POSTINGS_BUCKETS,
    paths: tuple[str, str] | None = None,
) -> tuple[str, str]:
    """The write half of build_index_tables, over an EXISTING postings
    relation — shared with the streaming segment compaction
    (streaming/index_segments.py), which folds per-batch segments into
    the same serving layout. With ``paths`` the two tables are written
    EXTERNAL at those locations (serving.py's attach-or-build
    registry), so a fresh session can probe them without rebuilding."""
    from hadoop_project_spark.sources.sinks import write_bucketed

    pt, dt = index_table_names(prefix)
    write_bucketed(
        p.repartition(n_buckets, F.col("term")),
        pt,
        ["term"],
        n_buckets,
        sort_cols=["term", "doc_id", "pos"],
        path=paths[0] if paths else None,
        delta_cols=("doc_id",),
    )
    dl = p.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    write_bucketed(
        dl.repartition(DOCLEN_BUCKETS, F.col("doc_id")),
        dt,
        ["doc_id"],
        DOCLEN_BUCKETS,
        sort_cols=["doc_id"],
        path=paths[1] if paths else None,
        delta_cols=("doc_id",),
    )
    return pt, dt


def stored_tf(p: DataFrame) -> DataFrame:
    """(doc_id, term, tf) recovered from a stored postings relation —
    grouping keys are a superset of the term bucket key, so over the
    bucketed table this aggregate is exchange-free."""
    return p.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf")
    )


def phrase_occurrences(
    docs: DataFrame, phrases: list[str]
) -> DataFrame:
    """(phrase, doc_id, n_occ): exact occurrence counts of each phrase
    via positional posting-list intersection — start position p matches
    iff term_i sits at p + i for every word of the phrase. Overlapping
    occurrences all count ('a a a' contains 'a a' twice), matching the
    classic positional-index semantics and the oracle's position scan.

    The postings relation is pinned once; phrase lists are query
    literals (like the quality model's frozen weights), broadcast as
    one small relation — at 100 TB the same probe
    (phrase_occurrences_over) runs against the bucketed postings table
    instead of the cache."""
    return phrase_occurrences_over(eager_pin(postings(docs)), phrases)


def _reject_repeats(what: str, items: list) -> None:
    """Each item becomes rows of a literal relation the probe joins on,
    so a repeated item would double its matches: raise instead."""
    rep = sorted({x for x in items if items.count(x) > 1})
    if rep:
        raise ValueError(f"{what}: repeated items: {rep!r}")


def phrase_occurrences_over(p: DataFrame, phrases: list[str]) -> DataFrame:
    """The probe half of phrase_occurrences, over an EXISTING postings
    relation — shared by the in-session pinned path and the stored
    term-bucketed index (build_index_tables), where the one ``term IN
    (phrase words)`` filter prunes the single scan to those words'
    buckets. A (phrase, doc_id, start) group with nw rows is one
    occurrence. Rejects degenerate phrase lists loudly (ADVICE r8),
    and a repeated phrase (its doubled rows would count 2·nw)."""
    if not phrases:
        raise ValueError("phrase_occurrences: empty phrase list")
    blank = [ph for ph in phrases if not ph.split()]
    if blank:
        raise ValueError(
            f"phrase_occurrences: blank/whitespace-only phrases: {blank!r}"
        )
    _reject_repeats("phrase_occurrences", phrases)
    words = literal(
        p.sparkSession,
        "phrase STRING NOT NULL, term STRING NOT NULL, off INT NOT NULL, "
        "nw INT NOT NULL",
        [
            (ph, w, i, len(ph.split()))
            for ph in phrases
            for i, w in enumerate(ph.split())
        ],
    )
    terms = sorted({w for ph in phrases for w in ph.split()})
    start = (F.col("pos") - F.col("off")).alias("start")
    starts = (
        p.filter(F.col("term").isin(terms))
        .join(F.broadcast(words), "term")
        # one exchange for both groupings: (phrase, doc_id) partitioning
        # also clusters the (phrase, nw, doc_id, start) groups
        .repartition("phrase", "doc_id")
        .groupBy("phrase", "nw", "doc_id", start)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") == F.col("nw"))
    )
    return starts.groupBy("phrase", "doc_id").agg(
        F.count("*").cast("long").alias("n_occ")
    )


def proximity_cooccurrence(
    docs: DataFrame, pairs: list[tuple[str, str]], window: int
) -> DataFrame:
    """(pair, n_docs, n_pairs): proximity search — for each term pair
    (a, b), the number of documents where they co-occur within
    ``window`` token positions and the total count of qualifying
    (pos_a, pos_b) occurrence pairs. The third classic positional-index
    probe (exact term → phrase → proximity): same postings relation,
    the position equality of the phrase intersection relaxed to a band.

    Shape: one term-filtered posting scan joined to the broadcast
    (pair, a, b) literal on each side, then one (pair, doc_id)-keyed
    equi-join with the |pos_a − pos_b| ≤ W band as its residual —
    O(Σ posting-list lengths) probe cost, never a corpus scan; output
    per doc is bounded by occurrences² within the band, and against the
    stored index the term filter bucket-prunes exactly like the phrase
    probe."""
    return proximity_cooccurrence_over(
        eager_pin(postings(docs)), pairs, window
    )


def proximity_cooccurrence_over(
    p: DataFrame, pairs: list[tuple[str, str]], window: int
) -> DataFrame:
    """The probe half of proximity_cooccurrence, over an existing
    postings relation. Pairs must be distinct-term (a == b would count
    each occurrence against itself) and not repeated; a pair with no
    match in the band still answers (pair, 0, 0)."""
    if not pairs:
        raise ValueError("proximity_cooccurrence: empty pair list")
    bad = [
        (a, b)
        for a, b in pairs
        if a == b or len(a.split()) != 1 or len(b.split()) != 1
    ]
    if bad:
        raise ValueError(
            "proximity_cooccurrence: degenerate pairs (blank, multi-word, "
            f"or a==b — postings terms are single tokens): {bad!r}"
        )
    _reject_repeats("proximity_cooccurrence", [tuple(ab) for ab in pairs])
    pair_rows = [(f"{a} {b}", a, b) for a, b in pairs]
    lit = literal(
        p.sparkSession,
        "pair STRING NOT NULL, a STRING NOT NULL, b STRING NOT NULL",
        pair_rows,
    )
    terms = sorted({t for ab in pairs for t in ab})
    hits = p.filter(F.col("term").isin(terms))

    def side(col: str, pos: str) -> DataFrame:
        return hits.join(F.broadcast(lit), F.col("term") == F.col(col)).select(
            "pair", "doc_id", F.col("pos").alias(pos)
        )

    found = (
        side("a", "pos_a")
        .join(side("b", "pos_b"), ["pair", "doc_id"])
        .filter(F.abs(F.col("pos_a") - F.col("pos_b")) <= window)
        .groupBy("pair")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_pairs"),
        )
    )
    zero = F.lit(0).cast("long")
    return lit.select("pair").join(F.broadcast(found), "pair", "left").select(
        "pair",
        F.coalesce(F.col("n_docs"), zero).alias("n_docs"),
        F.coalesce(F.col("n_pairs"), zero).alias("n_pairs"),
    )


def phrase_search_stats(docs: DataFrame, phrases: list[str]) -> DataFrame:
    """(phrase, n_docs, n_hits): the per-phrase rollup of
    phrase_occurrences — the result page header of a search engine."""
    return _phrase_stats_rollup(phrase_occurrences(docs, phrases))


def phrase_search_stats_over(p: DataFrame, phrases: list[str]) -> DataFrame:
    """phrase_search_stats probing an EXISTING postings relation — over
    the stored term-bucketed table the one phrase-word filter prunes
    the scan to those words' buckets (SelectedBucketsCount in the
    plan), so a phrase probe reads only its words' posting buckets."""
    return _phrase_stats_rollup(phrase_occurrences_over(p, phrases))


def _phrase_stats_rollup(occ: DataFrame) -> DataFrame:
    return occ.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_occ").cast("long").alias("n_hits"),
    )


# BM25 constants k1 = 1.2, b = 0.75 folded to the integer coefficients
# of the cleared-denominator form (so every operand below is an exact
# integer): tf_part = tf·(k1+1) / (tf + k1(1−b) + k1·b·dl/avgdl) with
# avgdl = T/N becomes 22·T·tf / (10·T·tf + 3·T + 9·dl·N) after
# multiplying through by 10·T.
BM25_TFPART_NUM = 22  # 10·(k1+1)
BM25_TFPART_TF = 10  # 10
BM25_TFPART_T = 3  # 10·k1·(1−b)
BM25_TFPART_DLN = 9  # 10·k1·b


def bm25_topk(
    docs: DataFrame, queries: list[str], k: int = 10
) -> DataFrame:
    """Top-k documents per bag-of-words query under BM25 (Robertson et
    al., the Okapi TREC-3 weighting; k1 = 1.2, b = 0.75 defaults) —
    search scoring over the index relations, cross-engine exact.

    Determinism discipline (the tfidf.py rational-idf rule, extended):
    ln-free rational idf (N − df + ½)/(df + ½) = (2N−2df+1)/(2df+1) and
    the cleared-denominator tf part are each ONE correctly-rounded
    double division over exact integer operands (products stay < 2^53
    through ~10× the sf1 corpus; beyond that, widen to decimal), their
    product is a correctly-rounded multiply — bit-identical doubles in
    any IEEE engine. The per-(query, doc) SUM over matched terms is the
    one order-sensitive step, so each term score is first cast to
    DECIMAL(28,9) (9-dp house decision rounding): the sum is then exact
    and partition-order independent, ranking compares decimals, and the
    output score is one final decimal→double cast.

    Shape for 100 TB: tf/df/dl are the index-build aggregates (all
    partial-aggregated, vocabulary- or corpus-row-bounded); the query
    relation is a broadcast literal; scoring touches only the query
    terms' posting rows; the global (N, T) scalars ride in as 1-row
    cross-joined aggregates. Top-k is one row_number ≤ k window, which
    Spark plans as a Partial WindowGroupLimit before the query-keyed
    exchange and a Final one after it (the ANN rankings' shape), so a
    hot single-term query ships at most k rows per partition and can
    never funnel a 100 TB posting list through one window task
    (VERDICT r8 watch item)."""
    tf, dfr, dl, scal = _bm25_inputs(docs)
    qt = _bm25_qt(docs.sparkSession, queries)
    return _bm25_topk_from_agg(_bm25_scored_agg(tf, dfr, dl, scal, qt), k)


def bm25_topk_stored(
    spark, prefix: str, queries: list[str], k: int = 10
) -> DataFrame:
    """bm25_topk probing the STORED index (build_index_tables): tf and
    df come off the term-bucketed postings table with ZERO exchange
    (bucket-local aggregates, and their term-keyed join is co-located),
    dl off the doc_id-bucketed length table; only the doc-keyed
    tf⋈dl re-key shuffles. The postings scan is filtered to the query
    terms first, which prunes it to their buckets: tf and df are only
    ever read through the query-term join, so the scores are
    unchanged, while dl, N and T still read the whole length table."""
    pt, dt = index_table_names(prefix)
    qterms = sorted({t for q in queries for t in q.split()})
    tf = stored_tf(spark.table(pt).filter(F.col("term").isin(qterms)))
    dfr = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    dl = spark.table(dt)
    scal = dl.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("t"),
    )
    qt = _bm25_qt(spark, queries)
    return _bm25_topk_from_agg(_bm25_scored_agg(tf, dfr, dl, scal, qt), k)


def _bm25_inputs(docs: DataFrame):
    """(tf, dfr, dl, scal) — the four scoring input relations, built
    once here so the ranking (bm25_topk) and its quality eval
    (bm25_relevance_eval) can never drift onto different corpus
    conventions (e.g. this round's empty-term filter). tf is pinned:
    three aggregates and the scoring join all consume it."""
    from hadoop_project_spark.operators.tfidf import doc_term_freqs

    tf = eager_pin(doc_term_freqs(docs))
    dfr = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    scal = tf.agg(
        F.countDistinct("doc_id").cast("long").alias("n"),
        F.sum("tf").cast("long").alias("t"),
    )
    return tf, dfr, dl, scal


def _bm25_qt(spark, queries: list[str]) -> DataFrame:
    """The (query, term) literal relation — built once per query plan.
    Raises ValueError when the queries hold no term at all."""
    rows = [(q, t) for q in queries for t in q.split()]
    if not rows:
        raise ValueError(f"bm25: no query terms in {queries!r}")
    return literal(spark, "query STRING NOT NULL, term STRING NOT NULL", rows)


def bm25_relevance_eval(
    docs: DataFrame, queries: list[str], k: int = 10
) -> DataFrame:
    """(query, n_relevant, first_rel_rank, mrr, precision_at_k):
    retrieval-quality evaluation of the BM25 top-k against a
    DETERMINISTIC relevance set — documents containing ALL the query's
    terms (conjunctive boolean match, the classic pseudo-relevance
    baseline when no human labels exist). The retrieval twin of
    ann_recall_at_k / lsh recall: ranking operators ship with a measured
    quality number, not a hope.

    mrr = 1/rank of the first relevant document inside the top-k (0.0
    if none); precision_at_k = |relevant ∩ top-k| / k. Both divisions
    are single correctly-rounded doubles over small exact integers —
    cross-engine bit-exact. Shape: the tf relation is pinned and shared
    by scoring and relevance; relevance is one broadcast-literal join +
    a (query, doc)-keyed aggregate; the metric join touches only k rows
    per query. Raises ValueError for a query that repeats a term."""
    dup = [q for q in queries if len(q.split()) != len(set(q.split()))]
    if dup:
        # the relevance set reads the scoring aggregate's matched-row
        # count as the distinct-matched-term count, which a repeated
        # term over-counts
        raise ValueError(
            f"bm25_relevance_eval: queries repeat a term: {dup!r}"
        )
    spark = docs.sparkSession
    tf, dfr, dl, scal = _bm25_inputs(docs)
    qt = _bm25_qt(spark, queries)
    nqdf = literal(
        spark,
        "query STRING NOT NULL, nq INT NOT NULL",
        [(q, len(q.split())) for q in queries],
    )
    # the relevance set derives from the SAME pinned aggregate the top-k
    # ranks: with dup-free queries its matched-row count IS the
    # distinct-matched-term count, so the qt ⋈ tf match runs ONCE
    # instead of once for scoring and once for relevance (round 13;
    # guide §2.4)
    agg = eager_pin(_bm25_scored_agg(tf, dfr, dl, scal, qt))
    topk = _bm25_topk_from_agg(agg, k)
    rel = (
        agg.join(F.broadcast(nqdf), "query")
        .filter(F.col("n_terms") == F.col("nq"))
        .select("query", "doc_id")
    )
    hit = topk.join(rel, ["query", "doc_id"]).groupBy("query").agg(
        F.min("rnk").alias("frr"),
        F.count("*").cast("long").alias("n_hits"),
    )
    nrel = rel.groupBy("query").agg(
        F.count("*").cast("long").alias("n_relevant")
    )
    qdf = literal(spark, "query STRING NOT NULL", [(q,) for q in queries])
    return (
        qdf.join(nrel, "query", "left")
        .join(hit, "query", "left")
        .select(
            "query",
            F.coalesce(F.col("n_relevant"), F.lit(0).cast("long")).alias(
                "n_relevant"
            ),
            F.coalesce(F.col("frr"), F.lit(0)).cast("int").alias(
                "first_rel_rank"
            ),
            F.when(F.col("frr").isNull(), F.lit(0.0))
            .otherwise(F.lit(1.0) / F.col("frr").cast("double"))
            .alias("mrr"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).cast(
                    "double"
                )
                / F.lit(float(k))
            ).alias("precision_at_k"),
        )
    )


def _bm25_scored_agg(
    tf: DataFrame,
    dfr: DataFrame,
    dl: DataFrame,
    scal: DataFrame,
    qt: DataFrame,
) -> DataFrame:
    """(query, doc_id, sdec, n_terms) — the per-pair BM25 score sum and
    matched-term count the top-k window ranks. Split out (round 13)
    so bm25_relevance_eval can derive its conjunctive relevance set
    from the SAME aggregate (n_terms counts one row per matched
    (query, term) — the dfr/dl/scal joins cannot drop or duplicate
    rows: dfr and dl are aggregates OF tf, scal is one cross-joined
    row), instead of re-running the qt ⋈ tf match as a second pass."""
    n, t = F.col("n"), F.col("t")
    idf = (2 * n - 2 * F.col("df") + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    tfpart = (F.lit(BM25_TFPART_NUM) * t * F.col("tf")).cast("double") / (
        F.lit(BM25_TFPART_TF) * t * F.col("tf")
        + F.lit(BM25_TFPART_T) * t
        + F.lit(BM25_TFPART_DLN) * F.col("dl") * n
    ).cast("double")
    scored = (
        F.broadcast(qt)
        .join(tf, "term")
        .join(dfr, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scal))
        .select(
            "query",
            "doc_id",
            (idf * tfpart).cast("decimal(28,9)").alias("s"),
        )
    )
    return scored.groupBy("query", "doc_id").agg(
        F.sum("s").alias("sdec"),
        F.count("*").cast("long").alias("n_terms"),
    )


def _bm25_topk_from_agg(agg: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    # Exact top-k as one window: Spark turns `rnk <= k` over row_number
    # into a Partial WindowGroupLimit below the query-keyed exchange (k
    # rows per partition and query leave the scoring stage) and a Final
    # one above it (gated in tests/test_similarity.py). sdec is
    # DECIMAL, so the ranking order is exact.
    w = Window.partitionBy("query").orderBy(
        F.desc("sdec"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_terms",
            F.col("sdec").cast("double").alias("score"),
        )
    )
