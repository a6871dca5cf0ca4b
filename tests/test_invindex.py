"""Inverted index / phrase search (operators/invindex.py): exact
equality against a naive Python recount of the same fixture."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Row

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators import invindex as ix
from hadoop_project_spark.plans.invindex_queries import SEARCH_PHRASES


def _norm_tokens(text: str) -> list[str]:
    return " ".join(text.lower().split()).split()


def test_directory_matches_naive_recount(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text").collect()
    df_c: Counter = Counter()
    cf_c: Counter = Counter()
    first: dict = {}
    last: dict = {}
    for r in rows:
        toks = _norm_tokens(r["text"])
        for t in set(toks):
            df_c[t] += 1
            first.setdefault(t, r["doc_id"])
            first[t] = min(first[t], r["doc_id"])
            last[t] = max(last.get(t, r["doc_id"]), r["doc_id"])
        cf_c.update(toks)
    got = {r["term"]: r for r in ix.index_directory(docs).collect()}
    assert set(got) == set(df_c)
    for t, r in got.items():
        assert (r["df"], r["cf"], r["first_doc"], r["last_doc"]) == (
            df_c[t], cf_c[t], first[t], last[t]
        ), t


def _naive_phrase_count(toks: list[str], words: list[str]) -> int:
    k = len(words)
    return sum(
        1 for i in range(len(toks) - k + 1) if toks[i : i + k] == words
    )


def test_phrase_hits_match_naive_scan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text").collect()
    want: dict[str, tuple[int, int]] = {}
    for ph in SEARCH_PHRASES:
        words = ph.split()
        per_doc = [
            _naive_phrase_count(_norm_tokens(r["text"]), words) for r in rows
        ]
        hits = [c for c in per_doc if c > 0]
        if hits:
            want[ph] = (len(hits), sum(hits))
    got = {
        r["phrase"]: (r["n_docs"], r["n_hits"])
        for r in ix.phrase_search_stats(docs, SEARCH_PHRASES).collect()
    }
    assert got == want
    assert want, "phrase workload must be non-degenerate on the fixture"


def test_bm25_matches_naive_python(spark, sf_dir):
    """Exact equality (scores included) against a pure-Python BM25
    using the same integer-rational arithmetic."""
    from decimal import ROUND_HALF_UP, Decimal

    from hadoop_project_spark.plans.invindex_queries import BM25_K, BM25_QUERIES

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text").collect()
    tf: dict = {}
    dl: dict = {}
    for r in rows:
        toks = _norm_tokens(r["text"])
        dl[r["doc_id"]] = len(toks)
        c = Counter(toks)
        for t, n in c.items():
            tf[(r["doc_id"], t)] = n
    df_c: Counter = Counter()
    for (_, t) in tf:
        df_c[t] += 1
    N = len({d for (d, _) in tf})
    T = sum(tf.values())

    want: dict = {}
    for q in BM25_QUERIES:
        scores: dict = {}
        terms: Counter = Counter()
        for t in q.split():
            for (d, tt), f in tf.items():
                if tt != t:
                    continue
                idf = (2 * N - 2 * df_c[t] + 1) / (2 * df_c[t] + 1)
                tfp = (22 * T * f) / (10 * T * f + 3 * T + 9 * dl[d] * N)
                s = Decimal(repr(idf * tfp)).quantize(
                    Decimal("1e-9"), rounding=ROUND_HALF_UP
                )
                scores[d] = scores.get(d, Decimal(0)) + s
                terms[d] += 1
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        for rnk, (d, s) in enumerate(ranked[:BM25_K], start=1):
            want[(q, d)] = (rnk, terms[d], float(s))

    got = {
        (r["query"], r["doc_id"]): (r["rnk"], r["n_terms"], r["score"])
        for r in ix.bm25_topk(docs, BM25_QUERIES, BM25_K).collect()
    }
    assert got == want


def test_streaming_index_directory_equals_batch(spark, sf_dir, tmp_path):
    """Incremental index-directory maintenance across forced
    multi-batches equals the one-shot batch directory exactly (df/cf
    add over disjoint doc batches, doc span folds by min/max) — tying
    the streaming component to the driver-hash-certified
    inverted_index_directory twin."""
    from hadoop_project_spark.streaming.invindex import (
        make_index_directory_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_idx_src")
    docs.repartition(4).write.mode("overwrite").parquet(src)

    state_dir = str(tmp_path / "idx_state")
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(make_index_directory_sink(state_dir))
        .option("checkpointLocation", str(tmp_path / "idx_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["term"]: (r["df"], r["cf"], r["first_doc"], r["last_doc"])
        for r in spark.read.parquet(state_dir).collect()
    }
    exp = {
        r["term"]: (r["df"], r["cf"], r["first_doc"], r["last_doc"])
        for r in ix.index_directory(docs).collect()
    }
    assert got == exp and len(got) > 0


def test_overlapping_occurrences_all_count(spark):
    """'a a a a' contains 'a a' three times — the positional
    intersection counts overlaps, like the oracle's start-pos scan."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a a a b"), Row(doc_id=2, text="b a a")]
    )
    got = {
        (r["phrase"], r["doc_id"]): r["n_occ"]
        for r in ix.phrase_occurrences(docs, ["a a"]).collect()
    }
    assert got == {("a a", 1): 3, ("a a", 2): 1}


def test_phrase_guard_rejects_degenerate_inputs(spark):
    """ADVICE r8: empty phrase lists and whitespace-only phrases raise
    a clear ValueError instead of IndexError."""
    import pytest

    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError, match="empty phrase list"):
        ix.phrase_occurrences(docs, [])
    with pytest.raises(ValueError, match="whitespace-only"):
        ix.phrase_occurrences(docs, ["a b", "   "])


def test_bm25_relevance_eval_rejects_repeated_query_term(spark):
    """The relevance set counts matched rows of the scoring aggregate
    as distinct matched terms, which a repeated query term over-counts:
    the eval raises instead of answering wrongly. The ranking itself
    still accepts the query."""
    import pytest

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c"), Row(doc_id=2, text="a a d")]
    )
    with pytest.raises(ValueError, match="repeat a term"):
        ix.bm25_relevance_eval(docs, ["a b", "a a"], 3)
    assert ix.bm25_topk(docs, ["a a"], 3).count() == 2


def test_empty_document_contributes_no_terms(spark):
    """ADVICE r8: a document normalizing to the empty string yields
    ZERO postings (no '' term) — and the directory therefore skips it,
    matching the oracles' term <> '' convention."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="   "), Row(doc_id=2, text="x y")]
    )
    p = {(r["term"], r["doc_id"], r["pos"]) for r in ix.postings(docs).collect()}
    assert p == {("x", 2, 0), ("y", 2, 1)}
    d = {r["term"]: r["df"] for r in ix.index_directory(docs).collect()}
    assert d == {"x": 1, "y": 1}


def test_proximity_counts_banded_pairs_exactly(spark):
    """|pos_a - pos_b| <= W counts every qualifying occurrence pair:
    'a x b a' with (a,b) W=2 has pairs (0,2) and (3,2) -> n_pairs=2."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a x b a"), Row(doc_id=2, text="b y y y a")]
    )
    got = {
        r["pair"]: (r["n_docs"], r["n_pairs"])
        for r in ix.proximity_cooccurrence(docs, [("a", "b")], 2).collect()
    }
    assert got == {"a b": (1, 2)}  # doc 2's a-b distance is 4 > W


def test_proximity_guard_rejects_degenerate_pairs(spark):
    import pytest

    docs = spark.createDataFrame([Row(doc_id=1, text="a b")])
    with pytest.raises(ValueError, match="empty pair list"):
        ix.proximity_cooccurrence(docs, [], 2)
    with pytest.raises(ValueError, match="degenerate"):
        ix.proximity_cooccurrence(docs, [("a", "a")], 2)


def test_phrase_guard_rejects_repeated_phrase(spark):
    """A repeated phrase doubles its literal rows, so no start could
    count exactly nw matches: the probe raises instead of dropping it."""
    import pytest

    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError, match="repeated items"):
        ix.phrase_occurrences(docs, ["a b", "b c", "a b"])


def test_phrase_repeated_word_and_shared_words(spark):
    """One probe answers phrases that share words and phrases that
    repeat a word: each start counts the offsets its position fills."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b a b a"), Row(doc_id=2, text="b a a b")]
    )
    got = {
        (r["phrase"], r["doc_id"]): r["n_occ"]
        for r in ix.phrase_occurrences(
            docs, ["a b", "b a", "a b a", "a a"]
        ).collect()
    }
    assert got == {
        ("a b", 1): 2, ("a b", 2): 1,
        ("b a", 1): 2, ("b a", 2): 1,
        ("a b a", 1): 2,
        ("a a", 2): 1,
    }


def test_proximity_guard_rejects_repeated_pair(spark):
    import pytest

    docs = spark.createDataFrame([Row(doc_id=1, text="a b")])
    with pytest.raises(ValueError, match="repeated items"):
        ix.proximity_cooccurrence(docs, [("a", "b"), ("a", "b")], 2)


def test_proximity_zero_match_pair_answers_zero(spark):
    """A pair with no occurrence in the band — or no posting at all —
    still answers (pair, 0, 0), next to pairs that match."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a x b a"), Row(doc_id=2, text="c y y y d")]
    )
    got = {
        r["pair"]: (r["n_docs"], r["n_pairs"])
        for r in ix.proximity_cooccurrence(
            docs, [("a", "b"), ("c", "d"), ("a", "zz")], 2
        ).collect()
    }
    assert got == {"a b": (1, 2), "c d": (0, 0), "a zz": (0, 0)}


def test_bm25_rejects_queries_without_terms(spark):
    import pytest

    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError, match="no query terms"):
        ix.bm25_topk(docs, ["   "], 3)
