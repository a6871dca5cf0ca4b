"""MinHash-LSH near-dup pairs (operators/dedup.minhash_lsh_pairs) on a
hand-built corpus whose edge cases the documents fixture does not
guarantee, the one shingle-set and band-key path against a pure-Python
reference, and the rewritten path under both eager-pin branches and a
taken widen."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql.types import DoubleType

from hadoop_project_spark import execution as ex
from hadoop_project_spark.operators import dedup as dd
from hadoop_project_spark.plans import all_queries
from hadoop_project_spark.quality import compare_to_oracle

BASE = (
    "the quick brown fox jumps over the lazy dog while the farmer "
    "watches from the porch and the rain begins to fall on the old "
    "barn roof near the river bend where children used to swim"
)

CORPUS = [
    # one phrase repeated: every shingle occurs several times in the row
    (1, "alpha beta gamma delta alpha beta gamma delta alpha beta gamma delta"),
    # the same four distinct shingles, different repetition count
    (2, "alpha beta gamma delta alpha beta gamma delta alpha beta gamma delta alpha"),
    # shorter than k words: the whole text is its one shingle
    (3, "Hello   World"),
    (4, "hello world"),
    (5, BASE),
    # exact copy of 5
    (6, BASE),
    # near-duplicate of 5: one word differs
    (7, BASE.replace("farmer", "miller")),
    (8, "an unrelated sentence about distributed query engines and shuffles"),
]


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    return {
        " ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))
    }


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _md5_i64(seed: int, s: str) -> int:
    """functions/text.md5_i64_sql: the top 60 bits of md5('seed|s')."""
    return int(hashlib.md5(f"{seed}|{s}".encode()).hexdigest()[:15], 16)


def _band_keys(text: str) -> set[tuple[int, str]]:
    """(band, key) rows of one document: per-index min of the 60-bit
    hash over its distinct 3-word shingles, then md5 of each band's
    '|'-joined decimal row hashes."""
    shs = _shingles(text)
    sig = [min(_md5_i64(i, sh) for sh in shs) for i in range(dd.NUM_HASHES)]
    r = dd.ROWS_PER_BAND
    rows = ["|".join(map(str, sig[b * r : (b + 1) * r])) for b in range(dd.NUM_BANDS)]
    return {(b, hashlib.md5(row.encode()).hexdigest()) for b, row in enumerate(rows)}


@pytest.mark.parametrize("k", [2, 3, 5])
def test_doc_shingle_sets_are_distinct_k_word_shingles(spark, k):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = {r.doc_id: r for r in dd.doc_shingle_sets(docs, k).collect()}
    assert sorted(got) == [i for i, _ in CORPUS]
    for i, text in CORPUS:
        want = _shingles(text, k)
        assert got[i].shs == sorted(want), (i, k)
        assert got[i].n == len(want)
    stream = dd.doc_shingles(docs, k).collect()
    assert sorted((r.doc_id, r.sh) for r in stream) == sorted(
        (i, sh) for i, text in CORPUS for sh in _shingles(text, k)
    )


def test_doc_band_keys_match_python_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = {(r.doc_id, r.band, r.key) for r in dd.doc_band_keys(docs).collect()}
    want = {(i, b, key) for i, text in CORPUS for b, key in _band_keys(text)}
    assert got == want


@pytest.fixture(scope="module")
def pairs(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    out = dd.minhash_lsh_pairs(docs)
    rows = out.collect()
    ex.release_pins()
    return docs, out, {(r.doc_a, r.doc_b): r.jaccard for r in rows}


def test_pair_jaccard_is_exact_set_jaccard(pairs):
    _, _, got = pairs
    text = dict(CORPUS)
    assert got
    for (a, b), j in got.items():
        assert a < b
        assert j == _jaccard(text[a], text[b]), (a, b)


def test_duplicate_shingles_inside_a_row_count_once(pairs):
    """Counting repeated shingles would give 1 and 2 different sizes;
    as sets they are equal."""
    _, _, got = pairs
    assert got[(1, 2)] == 1.0


def test_exact_copy_and_short_docs_pair_at_one(pairs):
    _, _, got = pairs
    assert got[(5, 6)] == 1.0
    assert got[(3, 4)] == 1.0


def test_near_duplicate_is_found(pairs):
    _, _, got = pairs
    text = dict(CORPUS)
    assert got[(5, 7)] == _jaccard(text[5], text[7]) < 1.0
    assert got[(6, 7)] == got[(5, 7)]


def test_output_schema(pairs):
    docs, out, _ = pairs
    id_type = docs.schema["doc_id"].dataType
    assert [(f.name, f.dataType) for f in out.schema] == [
        ("doc_a", id_type),
        ("doc_b", id_type),
        ("jaccard", DoubleType()),
    ]


@pytest.mark.parametrize(
    "pin_floor, widen_floor",
    [(0, 0), (1 << 62, 0), (0, 1 << 62), (1 << 62, 1 << 62)],
    ids=[
        "pin_blocks",
        "pin_lazy",
        "pin_blocks-widen_untaken",
        "pin_lazy-widen_untaken",
    ],
)
@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "split_leakage_report"])
def test_shim_branches_match_oracle(
    spark, sf_dir, monkeypatch, pin_floor, widen_floor, name
):
    """At sf0.001 the byte floors keep every pin lazy, while the
    MinHash callers' doc_shingle_sets widen is taken (MINHASH_WORK_FACTOR
    lifts its 500-document projection over the floor) and the others
    are not. Force each pin branch (blocking, lazy) with every widen
    taken, then with every widen untaken, and hash-check against the
    oracle."""
    monkeypatch.setattr(ex, "PIN_MIN_WORK_BYTES", pin_floor)
    monkeypatch.setattr(ex, "SHIM_MIN_WORK_BYTES", widen_floor)
    ex.clear_query_state(spark)
    spec = all_queries()[name]
    try:
        res = compare_to_oracle(
            spark, spec.build(spark, sf_dir), spec.oracle, sf_dir, name=name
        )
    finally:
        ex.clear_query_state(spark)
    assert res.ok
