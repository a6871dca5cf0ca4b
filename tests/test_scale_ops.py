"""Unit/property tests for the round-5 scale-pattern operators:
prefix-filtered ssjoin (operators/ssjoin.py), count-min heavy hitters
(operators/sketch.py), and PPS/HT sampling (operators/sampling.py).

Each operator's end-to-end cross-engine certification is the DuckDB
hash-match in tests/test_oracle_parity.py; these tests pin the
ALGORITHMIC guarantees the oracle alone can't isolate — exactness vs a
brute-force twin, the sketch's no-under-count property, and the
estimator's unbiasedness mechanics — on inputs where the answer is
checkable by hand or by a naive reference.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Row, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators import sampling as sp
from hadoop_project_spark.operators import sketch as sk
from hadoop_project_spark.operators import ssjoin as sj

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows],
        "doc_id long, text string",
    )


# ---------------------------------------------------------------- ssjoin


def _brute_force_pairs(rows, tau_num, tau_den, k):
    """Naive all-pairs Jaccard over k-word shingle sets (whole text as
    the single shingle for short docs — mirrors shingles_from_tokens)."""

    def shingle_set(text):
        toks = text.lower().split()
        if len(toks) <= k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = {i: shingle_set(t) for i, t in rows}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter * tau_den >= tau_num * union:
            out.add((a, b))
    return out


def test_ssjoin_exact_vs_brute_force_on_fixture_docs(spark):
    """The prefix filter must lose NOTHING: the verified pair set equals
    the naive all-pairs answer on the real sf0.001 documents table."""
    docs = load_table(spark, SF, "documents")
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    expect = _brute_force_pairs(rows, sj.SSJOIN_TAU_NUM, sj.SSJOIN_TAU_DEN, sj.SPAN_K)
    got = {
        (r.doc_a, r.doc_b)
        for r in sj.prefix_filtered_jaccard_pairs(docs).collect()
    }
    assert got == expect
    assert len(got) > 0  # fixture plants near-dups; empty would be weak


def test_ssjoin_prefix_actually_filters(spark):
    """CANDIDATE volume (not just the verified output) must be well
    below all-pairs on the fixture corpus — this counts the pruned
    candidate relation itself, so a regression that broke the prefix/
    length/positional pruning (quadratic candidates) fails here even
    though the verified output would stay correct."""
    docs = load_table(spark, SF, "documents")
    n = docs.count()
    sets = sj._doc_shingle_sets(docs, sj.SPAN_K)
    cand = sj.prefix_candidates(sets)
    assert cand.count() < n * (n - 1) // 20


def test_duplicate_span_stats_hand_checked(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c d e"),          # spans: abc bcd cde
            (2, "a b c x y"),          # spans: abc bcx cxy
            (3, "p q r s t"),          # spans: pqr qrs rst (unique)
        ],
    )
    rows = {r.doc_id: r for r in sj.duplicate_span_stats(docs).collect()}
    assert rows[1].n_spans == 3 and rows[1].n_dup_spans == 1
    assert rows[2].n_spans == 3 and rows[2].n_dup_spans == 1
    assert rows[3].n_spans == 3 and rows[3].n_dup_spans == 0
    assert bool(rows[1].flagged) is True   # 1/3 >= 0.3
    assert bool(rows[3].flagged) is False
    assert rows[1].dup_ratio == 1 / 3


def test_duplicate_spans_hand_checked(spark):
    """Island merging: doc 1 and doc 2 share the run 'a b c d e' (three
    consecutive dup 3-grams -> ONE span), doc 3 shares nothing."""
    docs = _docs(
        spark,
        [
            (1, "a b c d e x y z"),   # grams 0..5; 0,1,2 duplicated
            (2, "a b c d e p q r"),   # same leading run
            (3, "k l m n o"),          # unique
        ],
    )
    rows = {
        (r.doc_id, r.span_start): r
        for r in sj.duplicate_spans(docs).collect()
    }
    assert set(rows) == {(1, 0), (2, 0)}
    for key in ((1, 0), (2, 0)):
        assert rows[key].span_end == 2 and rows[key].n_grams == 3


# ---------------------------------------------------------------- sketch


def test_cm_estimate_never_undercounts(spark):
    """est >= true count for every key — the CM invariant that makes
    threshold-on-estimate a candidate SUPERSET (zero false negatives)."""
    words = (
        ["hot"] * 50 + ["warm"] * 10 + [f"cold{i}" for i in range(200)]
    )
    keys = spark.createDataFrame([Row(key=w) for w in words])
    truth = {}
    for w in words:
        truth[w] = truth.get(w, 0) + 1
    # full-population estimates: threshold 0 keeps everything
    out = sk.cm_heavy_hitters(keys, "key", threshold_num=0, threshold_den=1)
    got = {r.key: r for r in out.collect()}
    assert set(got) == set(truth)
    for w, r in got.items():
        assert r.cnt == truth[w]
        assert r.est >= r.cnt


def test_cm_heavy_hitters_exact_set(spark):
    words = ["hot"] * 50 + ["warm"] * 10 + [f"cold{i}" for i in range(40)]
    keys = spark.createDataFrame([Row(key=w) for w in words])
    # mean count = 100/42; threshold 5x mean ~ 11.9 -> {hot} only
    out = sk.cm_heavy_hitters(keys, "key", threshold_num=5, threshold_den=1)
    rows = out.collect()
    assert {(r.key, r.cnt) for r in rows} == {("hot", 50)}


def test_bloom_probe_duplicate_rows_no_false_negative(spark):
    """Duplicate probe ROWS must each survive: before the per-row-id
    grouping fix, two copies of a member merged into one group whose
    matched-probe count (2 x BLOOM_HASHES) failed the == BLOOM_HASHES
    test — a false negative, violating the filter's one-sided
    guarantee."""
    ref = spark.createDataFrame([Row(k="alpha"), Row(k="beta")])
    bits = sk.bloom_build(ref, "k")
    items = spark.createDataFrame(
        [Row(k="alpha"), Row(k="alpha"), Row(k="gamma")]
    )
    got = [r.k for r in sk.bloom_probe(items, "k", bits).collect()]
    assert sorted(got) == ["alpha", "alpha"]  # both copies, multiplicity kept


# -------------------------------------------------------------- sampling


def test_pps_selection_deterministic_and_weight_monotone(spark):
    docs = load_table(spark, SF, "documents")
    a = sp.pps_select(docs, F.col("n_chars"), "source", "doc_id")
    b = sp.pps_select(docs, F.col("n_chars"), "source", "doc_id")
    sel_a = {r.doc_id for r in a.where("selected").collect()}
    sel_b = {r.doc_id for r in b.where("selected").collect()}
    assert sel_a == sel_b and len(sel_a) > 0
    # expected size: K per stratum; allow wide Poisson slack
    n_strata = docs.select("source").distinct().count()
    assert 0 < len(sel_a) < 4 * sp.PPS_TARGET_K * n_strata
    # weight monotonicity: within a stratum, pi must be nondecreasing in
    # the weight (a sign flip in the selection inequality's weight term
    # would preserve determinism but break this)
    rows = a.select("source", "w", "pi").collect()
    by_stratum: dict[str, list[tuple[int, float]]] = {}
    for r in rows:
        by_stratum.setdefault(r.source, []).append((r.w, r.pi))
    for pairs in by_stratum.values():
        pairs.sort()
        for (w1, p1), (w2, p2) in zip(pairs, pairs[1:]):
            assert p1 <= p2, f"pi not monotone in weight: {w1}->{p1}, {w2}->{p2}"


def test_pps_pi_and_ht_mechanics_single_stratum(spark):
    # two docs, weights 30 / 10, k=1: pi = .75 / .25
    rows = spark.createDataFrame(
        [Row(doc_id=1, source="s", n_chars=30),
         Row(doc_id=2, source="s", n_chars=10)]
    )
    sel = sp.pps_select(rows, F.col("n_chars"), "source", "doc_id", k=1)
    got = {r.doc_id: r for r in sel.collect()}
    assert got[1].pi == 0.75 and got[2].pi == 0.25
    ht = sp.ht_stratum_totals(sel, "source").collect()[0]
    assert ht.n_docs == 2 and ht.w_true_total == 40
    # every possible sample's HT contribution is w/pi = 40 exactly, so
    # whatever was selected, ht_total is n_sel * 40
    assert ht.ht_total == ht.n_sel * 40.0


# ------------------------------------------------------------ wquantile


def test_weighted_quantiles_match_python_model(spark):
    """Two-pass weighted quantiles vs a pure-Python cumulative model on
    crafted groups (heavy weight on one value, single-row group)."""
    from hadoop_project_spark.operators.wquantile import weighted_quantiles

    rows = [
        # g, v, w, k
        ("a", 1.0, 1, 1),
        ("a", 2.0, 8, 2),   # median lands here
        ("a", 3.0, 1, 3),
        ("b", 5.0, 1, 4),   # single row: every quantile = 5.0
    ]
    df = spark.createDataFrame(rows, "g string, v double, w long, k long")
    out = weighted_quantiles(
        df, "g", "v", F.col("w"), [(1, 4), (1, 2), (3, 4)], ["k"]
    )
    got = {(r.g, r.q_num, r.q_den): r.wq_value for r in out.collect()}

    def model(vals, qn, qd):
        tot = sum(w for _, w in vals)
        acc = 0
        for v, w in sorted(vals):
            acc += w
            if acc * qd >= qn * tot:
                return v

    data = {"a": [(1.0, 1), (2.0, 8), (3.0, 1)], "b": [(5.0, 1)]}
    for g, vals in data.items():
        for qn, qd in [(1, 4), (1, 2), (3, 4)]:
            assert got[(g, qn, qd)] == model(vals, qn, qd)


# ------------------------------------------------------------------ CLI


def test_cli_list_and_check(spark, capsys):
    """The module front door: list filters by tag; check returns the
    driver-style verdict line (exercised in-process, no subprocess).

    The CLI's get_spark re-applies its default SQL confs to the shared
    session (getOrCreate semantics), so the suite's shuffle-partition
    setting is snapshotted and restored — without this, every test
    running after the CLI sees 32 shuffle partitions instead of the
    conftest's 8 (observed: the AQE skew-split gate stops splitting)."""
    from hadoop_project_spark.__main__ import main

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert main(["list", "--tag", "sketch"]) == 0
        out = capsys.readouterr().out
        assert "heavy_hitter_bigrams" in out
        assert "bloom_decontaminate_fpr" in out

        assert main(["list"]) == 0
        assert len(capsys.readouterr().out.splitlines()) >= 135

        assert (
            main(["check", "word_count", "--sf", "/root/testdata/sf0.001"])
            == 0
        )
        assert "ok=True" in capsys.readouterr().out

        assert main(["check", "no_such_query"]) == 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


# ------------------------------------------------------------------ HLL


def test_hll_duplicate_insensitive_and_mergeable(spark):
    """Registers from a duplicated stream equal registers from the
    distinct stream (max is idempotent), and per-part register tables
    union+max-merge into exactly the whole-stream registers — the
    property that makes HLL the distributed distinct-count path."""
    rows = [Row(g="a", k=f"key{i}") for i in range(300)]
    once = spark.createDataFrame(rows)
    twice = spark.createDataFrame(rows + rows)
    r1 = {(r.g, r.idx): r.M for r in sk.hll_registers(once, "k", "g").collect()}
    r2 = {(r.g, r.idx): r.M for r in sk.hll_registers(twice, "k", "g").collect()}
    assert r1 == r2
    # merge two halves by groupBy-max
    h1 = spark.createDataFrame(rows[:150])
    h2 = spark.createDataFrame(rows[150:])
    from pyspark.sql import functions as F
    merged = {
        (r.g, r.idx): r.M
        for r in sk.hll_registers(h1, "k", "g")
        .unionByName(sk.hll_registers(h2, "k", "g"))
        .groupBy("g", "idx").agg(F.max("M").alias("M")).collect()
    }
    assert merged == r1


def test_hll_estimate_within_3sigma(spark):
    """Estimate lands inside the 3σ relative bound across two decades
    of true cardinality (the bound the profile query flags)."""
    for n in (200, 5000):
        df = spark.createDataFrame([Row(g="g", k=f"item-{i}") for i in range(n)])
        est = sk.hll_estimate(sk.hll_registers(df, "k", "g")).collect()[0]
        assert abs(est.est - n) <= sk.HLL_3SIGMA * n, (n, est.est)


def test_hll_estimate_group_cols_and_union_monotone(spark):
    """hll_estimate over multi-column groups (the pairwise-union path of
    hll_source_overlap): max-merged union registers dominate each side's
    registers pointwise, and the estimate is monotone in the registers,
    so est(A∪B) >= max(est(A), est(B)) exactly."""
    rows = [Row(g="a", k=f"x{i}") for i in range(400)] + [
        Row(g="b", k=f"y{i}") for i in range(250)
    ]
    regs = sk.hll_registers(spark.createDataFrame(rows), "k", "g")
    singles = {r.g: r.est for r in sk.hll_estimate(regs).collect()}
    union_regs = (
        regs.select(F.lit("a").alias("sa"), F.lit("b").alias("sb"), "idx", "M")
        .groupBy("sa", "sb", "idx")
        .agg(F.max("M").alias("M"))
    )
    u = sk.hll_estimate(union_regs, group_cols=("sa", "sb")).collect()[0]
    assert list(u.asDict())[:2] == ["sa", "sb"]
    assert u.est >= max(singles.values())
    # disjoint sets: union estimate also within 3sigma of the true 650
    assert abs(u.est - 650) <= sk.HLL_3SIGMA * 650


def test_filter_funnel_first_fail_attribution(spark):
    """A row failing several rules counts ONLY under its first failing
    rule; survivor counts are the cumulative complement, monotonically
    non-increasing."""
    from hadoop_project_spark.operators import textstats as ts

    rows = [
        Row(a=1, b=1),   # passes both
        Row(a=0, b=1),   # fails rule 1 (and would pass rule 2)
        Row(a=0, b=0),   # fails BOTH -> attributed to rule 1 only
        Row(a=1, b=0),   # fails rule 2
    ]
    out = ts.filter_funnel(
        spark.createDataFrame(rows),
        [("r1", F.col("a") == 1), ("r2", F.col("b") == 1)],
    ).collect()
    by_rule = {r.rule: r for r in out}
    assert [r.rule_idx for r in out] == [1, 2]
    assert by_rule["r1"].n_failed_first == 2  # the double-failure counts here
    assert by_rule["r2"].n_failed_first == 1  # NOT the row that failed r1 too
    assert by_rule["r1"].n_survivors_after == 2
    assert by_rule["r2"].n_survivors_after == 1
    survs = [r.n_survivors_after for r in out]
    assert survs == sorted(survs, reverse=True)


def test_widen_for_compute_semantics(spark):
    """widen_for_compute is byte-bounded on BOTH sides (round-7 form —
    decides from Catalyst plan statistics, never df.rdd): tiny inputs
    pass through untouched (the shim's fixed exchange cost exceeded the
    work on the r6 sf0.1 bench), mid-size split-starved inputs
    repartition to the target, and inputs big enough that Spark's own
    split planning already yields >= target splits are untouched (the
    cluster case — no Exchange added)."""
    from hadoop_project_spark.execution import (
        SHIM_MIN_WORK_BYTES,
        plan_size_bytes,
        widen_for_compute,
    )

    target = spark.sparkContext.defaultParallelism
    max_split = int(
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )

    # tiny (8 KB estimate, far under SHIM_MIN_WORK_BYTES): identity
    tiny = spark.range(0, 1000).coalesce(1)
    assert plan_size_bytes(tiny) < SHIM_MIN_WORK_BYTES
    assert widen_for_compute(tiny) is tiny

    # mid-size (>= the work floor, < target x maxPartitionBytes):
    # repartitioned to the target regardless of current splits
    mid = spark.range(0, 2 * SHIM_MIN_WORK_BYTES // 8).coalesce(1)
    assert SHIM_MIN_WORK_BYTES <= plan_size_bytes(mid) < target * max_split
    widened = widen_for_compute(mid)
    assert widened.rdd.getNumPartitions() == target
    assert widened.count() == 2 * SHIM_MIN_WORK_BYTES // 8

    # huge estimate (>= target x maxPartitionBytes): Spark's split
    # planning already provides the parallelism — identity, no exchange
    huge = spark.range(0, target * max_split // 8)
    assert plan_size_bytes(huge) >= target * max_split
    assert widen_for_compute(huge) is huge


def test_eager_pin_blocks_and_is_cache_released(spark):
    """eager_pin materializes the cache synchronously (consumers hit it)
    and the pin is visible to / released by catalog.clearCache — the
    property localCheckpoint lacked that motivated the persist form."""
    from hadoop_project_spark.execution import eager_pin

    df = eager_pin(spark.range(0, 5000).withColumn("x", F.col("id") * 2))
    assert df.storageLevel.useMemory  # persisted
    assert df.count() == 5000
    spark.catalog.clearCache()
    # after clearCache the relation recomputes from lineage — still correct
    assert df.count() == 5000


# ------------------------------------------------------- winnowing


def test_winnowing_locality_guarantee(spark):
    """The published winnowing property (Schleimer et al. 2003): two
    documents sharing a run of >= w+k-1 tokens share at least one
    fingerprint — locality the MinHash sketches only provide in
    expectation. Here k=3, w=4: a shared 6-token run must collide."""
    from hadoop_project_spark.operators.textstats import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 = w+k-1 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"seven eight {shared} nine ten eleven twelve"),
            (3, "totally different words nothing in common here at all"),
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(docs, k=3, w=4)
    by_doc = {
        r
        for r in fps.groupBy("doc_id")
        .agg({"fp": "collect_set"})
        .rdd.map(lambda r: (r[0], frozenset(r[1])))
        .collect()
    }
    d = dict(by_doc)
    assert d[1] & d[2], "docs sharing a w+k-1 run must share a fingerprint"
    assert not (d[1] & d[3]) and not (d[2] & d[3])


def test_winnowing_short_doc_keeps_one_fingerprint(spark):
    """Documents with fewer than w full windows keep the pos-0 minimum
    so every document has >= 1 fingerprint."""
    from hadoop_project_spark.operators.textstats import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(1, "just two"), (2, "a b c d e")], "doc_id long, text string"
    )
    fps = winnowing_fingerprints(docs, k=3, w=4).collect()
    per_doc = {}
    for r in fps:
        per_doc.setdefault(r.doc_id, 0)
        per_doc[r.doc_id] += 1
    assert per_doc[1] == 1 and per_doc[2] >= 1


def test_winnowing_density(spark):
    """Winnowing stores ~2/(w+1) of the shingle hashes — assert the
    fingerprint count is well under the shingle count on a real doc and
    the selected values are a subset of the doc's shingle hashes."""
    from hadoop_project_spark.functions.text import md5_i64, normalize_text
    from hadoop_project_spark.operators.textstats import winnowing_fingerprints
    from pyspark.sql import functions as F

    text = " ".join(f"tok{i % 17}x{i % 5}" for i in range(200))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    fps = {r.fp for r in winnowing_fingerprints(docs, k=3, w=4).collect()}
    from hadoop_project_spark.functions.text import shingles_from_tokens

    sh = (
        docs.select(
            F.explode(
                shingles_from_tokens(F.split(normalize_text("text"), " "), 3)
            ).alias("g")
        )
        .select(md5_i64(F.col("g")).alias("hv"))
        .collect()
    )
    all_hashes = {r.hv for r in sh}
    assert fps <= all_hashes
    assert len(fps) < len(all_hashes) / 2  # far sparser than the shingle set
