"""MinHash-LSH near-dup pairs (operators/dedup.minhash_lsh_pairs) on a
hand-built corpus whose edge cases the documents fixture does not
guarantee, and the rewritten path under both eager-pin branches and a
taken widen."""

from __future__ import annotations

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


@pytest.mark.parametrize("pin_floor", [0, 1 << 62], ids=["pin_blocks", "pin_lazy"])
@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "split_leakage_report"])
def test_shim_branches_match_oracle(spark, sf_dir, monkeypatch, pin_floor, name):
    """At sf0.001 the byte floors keep every pin lazy and every widen
    untaken; force the eager pin's blocking branch, then its lazy one,
    each with the widen taken, and hash-check against the oracle."""
    monkeypatch.setattr(ex, "PIN_MIN_WORK_BYTES", pin_floor)
    monkeypatch.setattr(ex, "SHIM_MIN_WORK_BYTES", 0)
    ex.clear_query_state(spark)
    spec = all_queries()[name]
    try:
        res = compare_to_oracle(
            spark, spec.build(spark, sf_dir), spec.oracle, sf_dir, name=name
        )
    finally:
        ex.clear_query_state(spark)
    assert res.ok
