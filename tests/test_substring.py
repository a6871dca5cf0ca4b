"""Semantics of exact repeated-substring detection
(operators/substring.py): maximal spans only (no sub-window echoes),
correct alignments, multi-diagonal repeats, and the boilerplate
occurrence cap."""

from __future__ import annotations

from hadoop_project_spark.operators.substring import (
    exact_substring_spans,
    token_kgram_anchors,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _spans(df):
    return sorted(
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.len_tokens)
        for r in df.collect()
    )


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_single_maximal_span_with_alignment(spark):
    shared = _words("s", 10)
    a = _words("a", 3) + " " + shared + " " + _words("z", 4)
    b = _words("b", 5) + " " + shared
    df = exact_substring_spans(_docs(spark, [a, b]), k=6, min_len=8)
    # ONE maximal span: 10 tokens, at a-offset 3 / b-offset 5 — and no
    # 8- or 9-token sub-spans reported alongside it
    assert _spans(df) == [(0, 1, 3, 5, 10)]


def test_below_min_len_not_reported(spark):
    shared = _words("s", 7)  # detectable (>= k) but below min_len
    a = shared + " " + _words("a", 5)
    b = _words("b", 4) + " " + shared
    df = exact_substring_spans(_docs(spark, [a, b]), k=6, min_len=8)
    assert _spans(df) == []


def test_repeated_block_reports_each_alignment(spark):
    shared = _words("s", 8)
    a = shared + " " + _words("m", 3) + " " + shared
    b = _words("b", 2) + " " + shared
    df = exact_substring_spans(_docs(spark, [a, b]), k=6, min_len=8)
    # b's block matches BOTH occurrences in a: two diagonals, one
    # maximal 8-token span each (a-offsets 0 and 11)
    assert _spans(df) == [(0, 1, 0, 2, 8), (0, 1, 11, 2, 8)]


def test_gram_occurrence_cap_suppresses_boilerplate(spark):
    shared = _words("s", 9)
    texts = [_words(f"d{i}", 3) + " " + shared for i in range(6)]
    all_pairs = exact_substring_spans(
        _docs(spark, texts), k=6, min_len=8, max_gram_occ=64
    )
    assert len(_spans(all_pairs)) == 15  # C(6,2) — every pair shares it
    capped = exact_substring_spans(
        _docs(spark, texts), k=6, min_len=8, max_gram_occ=5
    )
    assert _spans(capped) == []  # grams occur 6x > cap: never anchored


def test_anchor_positions_are_dense_token_positions(spark):
    kg = token_kgram_anchors(
        _docs(spark, ["w0 w1 w2 w3 w4 w5 w6"]), k=6
    )
    rows = sorted((r.pos, r.g) for r in kg.collect())
    assert rows == [
        (0, "w0 w1 w2 w3 w4 w5"),
        (1, "w1 w2 w3 w4 w5 w6"),
    ]


def test_coverage_merges_overlapping_spans_once(spark):
    """Tokens covered by several overlapping/identical spans count
    ONCE: doc 0 shares one 10-token block with doc 1 and an
    overlapping 8-token window of it with doc 2 — coverage on doc 0
    must be the union, not the sum."""
    from hadoop_project_spark.operators.substring import (
        doc_duplication_coverage,
    )

    block = _words("s", 10)          # s0..s9 at doc0 positions 2..11
    sub = " ".join(f"s{i}" for i in range(2, 10))  # s2..s9 (8 tokens)
    d0 = _words("a", 2) + " " + block + " " + _words("z", 3)
    d1 = _words("b", 4) + " " + block
    d2 = _words("c", 3) + " " + sub
    cov = doc_duplication_coverage(
        _docs(spark, [d0, d1, d2]), k=6, min_len=8
    )
    rows = {r.doc_id: r for r in cov.collect()}
    # doc 0: spans [2,12) (vs doc1) and [4,12) (vs doc2) merge to 10
    assert rows[0].dup_tokens == 10 and rows[0].n_spans == 1
    assert rows[0].n_tokens == 15
    assert abs(rows[0].dup_fraction - 10 / 15) < 1e-12
    # doc 1: one 10-token block of its 14 tokens
    assert rows[1].dup_tokens == 10 and rows[1].n_tokens == 14
    # doc 2: its 8 shared tokens of 11
    assert rows[2].dup_tokens == 8 and rows[2].n_tokens == 11


def test_rewrite_cuts_doc_b_side_and_splices(spark):
    """Lowest doc_id keeps the canonical occurrence; the higher side's
    copy is cut and its surviving tokens splice back in order."""
    from hadoop_project_spark.operators.substring import (
        exact_substring_dedup_rewrite,
    )

    shared = _words("s", 10)
    a = _words("a", 3) + " " + shared + " " + _words("z", 4)
    b = _words("b", 5) + " " + shared + " " + _words("y", 2)
    out = {
        r.doc_id: r
        for r in exact_substring_dedup_rewrite(
            _docs(spark, [a, b]), k=6, min_len=8
        ).collect()
    }
    assert out[0].clean_text == a and out[0].n_cut_tokens == 0
    assert out[1].clean_text == _words("b", 5) + " " + _words("y", 2)
    assert out[1].n_cut_tokens == 10


def test_rewrite_overlapping_cuts_merge_once(spark):
    """A token inside several overlapping cut intervals is removed
    exactly once (interval merge before the splice)."""
    from hadoop_project_spark.operators.substring import (
        exact_substring_dedup_rewrite,
    )

    block = _words("s", 10)  # d2 holds s0..s9; d0/d1 each share a window
    d0 = _words("a", 2) + " " + " ".join(f"s{i}" for i in range(8))
    d1 = _words("b", 3) + " " + " ".join(f"s{i}" for i in range(2, 10))
    d2 = _words("c", 4) + " " + block + " " + _words("z", 2)
    out = {
        r.doc_id: r
        for r in exact_substring_dedup_rewrite(
            _docs(spark, [d0, d1, d2]), k=6, min_len=8
        ).collect()
    }
    # d2 (highest doc_id) cuts the union [4,14) of its two overlapping
    # shared windows: 10 tokens once, not 16
    assert out[2].n_cut_tokens == 10
    assert out[2].clean_text == _words("c", 4) + " " + _words("z", 2)
    assert out[0].n_cut_tokens == 0 and out[1].n_cut_tokens == 0


def test_rewrite_fully_cut_doc_ships_empty(spark):
    from hadoop_project_spark.operators.substring import (
        exact_substring_dedup_rewrite,
    )

    shared = _words("s", 9)
    out = {
        r.doc_id: r
        for r in exact_substring_dedup_rewrite(
            _docs(spark, [shared + " tail0", shared]), k=6, min_len=8
        ).collect()
    }
    assert out[1].clean_text == "" and out[1].n_cut_tokens == 9
    assert out[0].n_cut_tokens == 0


def test_rewrite_fixpoint_on_fixture(spark, sf_dir):
    """The VERDICT r10 #1 invariant: re-running span detection on the
    REWRITTEN corpus (same k/min_len) finds no cross-document spans —
    one detect-and-cut pass reaches the deduplicated fixpoint on the
    shipped fixture corpus."""
    from pyspark.sql import functions as F

    from hadoop_project_spark.catalog import load_table
    from hadoop_project_spark.operators.substring import (
        exact_substring_dedup_rewrite,
        exact_substring_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    clean = exact_substring_dedup_rewrite(docs).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    residual = exact_substring_spans(clean)
    assert residual.count() == 0


def test_corpus_pipeline_drops_then_cuts(spark):
    """Both stages of the combined pipeline fire: a near-complete copy
    is DROPPED at the coverage threshold, and a partial overlap between
    two SURVIVORS is still cut (higher doc_id side) in stage 2."""
    from hadoop_project_spark.operators.substring import (
        exact_substring_dedup_corpus,
    )

    shared = _words("s", 10)
    d0 = _words("a", 6) + " " + shared + " " + _words("z", 6)  # survives
    d1 = _words("b", 7) + " " + shared + " " + _words("y", 7)  # survives
    d2 = shared  # 100% covered -> dropped
    out = {
        r.doc_id: r
        for r in exact_substring_dedup_corpus(
            _docs(spark, [d0, d1, d2]), k=6, min_len=8, drop_coverage=0.99
        ).collect()
    }
    assert 2 not in out  # dropped: emits no row
    assert out[0].clean_text == d0 and out[0].n_cut_tokens == 0
    # stage 2 re-detects the d0/d1 overlap among survivors and cuts
    # d1's copy (higher doc_id)
    assert out[1].clean_text == _words("b", 7) + " " + _words("y", 7)
    assert out[1].n_cut_tokens == 10


def test_corpus_pipeline_keeps_one_canonical_of_full_copy_cluster(spark):
    """A mutual full-copy cluster must NOT vanish from the corpus: the
    drop criterion is REMOVED-SIDE coverage (spans whose canonical
    lives in a lower doc_id), so the cluster's lowest doc_id scores 0
    and survives intact while every later copy is dropped — under the
    both-sides report all members score 1.0 and the passage would be
    deleted entirely."""
    from hadoop_project_spark.operators.invindex import postings
    from hadoop_project_spark.operators.substring import (
        anchors_over,
        exact_substring_dedup_corpus,
        removed_side_coverage,
    )

    passage = _words("p", 12)
    docs = _docs(spark, [passage, passage, passage])  # ids 0, 1, 2
    p = postings(docs)
    cov = {
        r.doc_id: r.dup_fraction
        for r in removed_side_coverage(
            p, anchors_over(p, 6), k=6, min_len=8
        ).collect()
    }
    assert 0 not in cov  # the canonical has no lower-id partner
    assert cov[1] == 1.0 and cov[2] == 1.0
    out = {
        r.doc_id: r
        for r in exact_substring_dedup_corpus(
            docs, k=6, min_len=8, drop_coverage=0.99
        ).collect()
    }
    assert set(out) == {0}  # exactly one canonical survives...
    assert out[0].clean_text == passage  # ...with the passage intact
    assert out[0].n_cut_tokens == 0
