"""Distributed BPE tokenizer training over the `documents` corpus.

The reference has no tokenizer; this is a training-data-pipeline
extension (SURVEY.md §2 extension scope, next to token counting in
operators/textstats.py): given a corpus, learn the first N byte-pair
merges — the Sennrich et al. (ACL 2016) subword algorithm every modern
LLM tokenizer descends from.

Shape for 100 TB — the key design decision is WHAT the iterations run
over. One corpus-scale aggregation builds the distinct-word frequency
table; every BPE iteration after that runs over the VOCABULARY relation
(|V| distinct words), not the corpus. A web-scale corpus has billions
of documents but a vocabulary orders of magnitude smaller, so the
trainer is: 1 heavy pass + N cheap passes, each a pair-explode +
partial-aggregated SUM + a single TakeOrdered(1) — the same bounded
O(iterations) driver state discipline as operators/kmeans.py (each
iteration collects ONE (pair, count) row, never data-scale rows).

Determinism: pair counts are exact integers; the argmax tie-break is
total (count DESC, then left/right lexicographic), so the learned merge
sequence is a pure function of the corpus. No end-of-word marker is
appended (documented divergence from the classic formulation — merges
here never span words anyway because symbols live inside per-word
sequences).

Semantics pinned by tests/test_bpe.py against an independent pure-
Python reference: pair counting is per adjacent POSITION (so a run
'aaa' contributes (a,a) twice — the classic get_stats behavior), and
merge application is greedy left-to-right non-overlapping (the fold
below replaces the accumulator's tail element, so after a merge the
new symbol cannot immediately re-merge as the left half of the same
rule — 'aaaa' under (a,a) becomes ['aa','aa'], not ['aaa','a']).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hadoop_project_spark.functions.text import normalize_text

#: iterations the registered trainer query runs (kept small so the
#: bench cost stays honest; the shape is iteration-count-independent)
N_MERGES = 8

#: Control characters are STRIPPED from words before any symbol work:
#: chr(1)/chr(31) are the marker/separator bytes of the codegen encode
#: representation and the SQL oracle's symbol strings, so a corpus word
#: containing them would silently corrupt token counts (ADVICE r7).
#: Enforced here in the operator — not just asserted against the ASCII
#: fixture — and mirrored verbatim in the oracle's word CTEs
#: (plans/bpe_queries.py); a no-op on printable text. The pattern is a
#: regex-engine escape (Java regex / RE2 both take \\xNN), not a SQL
#: literal escape, so both engines see the identical character class.
CTRL_STRIP_RE = r"[\x00-\x1f]"


def clean_words(tokens: DataFrame, word_col: str = "word") -> DataFrame:
    """Strip control chars from a token stream and drop words that end
    up empty — the shared guard of both the trainer's vocabulary pass
    and the corpus encode."""
    return tokens.select(
        F.regexp_replace(word_col, CTRL_STRIP_RE, "").alias(word_col),
        *[c for c in tokens.columns if c != word_col],
    ).filter(F.col(word_col) != "")


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) distinct-word frequencies — the one corpus-scale pass.
    Partial-aggregated groupBy: the shuffle carries one row per distinct
    word per input partition, not one per token. The normalize/split
    scan is CPU-heavy per row, so the narrow projection is widened
    (execution.py conventions) before it."""
    from hadoop_project_spark.execution import widen_for_compute

    toks = clean_words(
        widen_for_compute(docs.select(text_col)).select(
            F.explode(F.split(normalize_text(text_col), " ")).alias("word")
        )
    )
    return toks.groupBy("word").agg(F.count("*").alias("n"))


#: symbol-boundary marker of the wrapped-string state representation
#: ('\x01sym\x01...' — the SAME representation the SQL oracle and the
#: corpus encode use); never occurs inside a symbol (clean_words).
_M = "\x01"


def with_symbols(words: DataFrame) -> DataFrame:
    """Attach the initial symbol string: every single-character symbol
    wrapped in markers ('\\x01c\\x01' per char). Round-12 optimization
    (guide §4.1 — prefer built-ins over interpreted expressions): the
    former array<string> state forced the merge rewrite through an
    interpreted per-element ``aggregate`` fold; the wrapped string
    turns it into ONE literal codegen ``replace`` per rule — the exact
    representation/semantics the DuckDB oracle has replayed since
    round 7 (plans/bpe_queries.py module docstring: marker-wrapped
    matches can only span whole symbols, and replace()'s leftmost-
    nonoverlapping scan equals the greedy fold; pinned against the
    pure-Python reference in tests/test_bpe.py)."""
    return words.select(
        "word",
        "n",
        F.concat(
            F.lit(_M), F.array_join(F.split("word", ""), _M + _M), F.lit(_M)
        ).alias("s"),
    )


def _syms_array(s: Column) -> Column:
    """The symbol array of a wrapped state string (unwrap + split on
    the marker pair) — codegen string ops, no interpreted fold."""
    return F.split(F.substring(s, 2, F.length(s) - 2), _M + _M)


def pair_counts(state: DataFrame) -> DataFrame:
    """(left, right, cnt): adjacent-position symbol-pair counts weighted
    by word frequency. Overlapping positions all count (classic
    get_stats): a word 'aaa' with frequency f contributes 2f to (a,a).
    zip_with over the sequence and its shift-by-one materializes the
    pairs without a posexplode + self-join."""
    syms = _syms_array(F.col("s"))
    pairs = state.select(
        "n",
        F.explode(
            F.zip_with(
                F.slice(syms, 1, F.size(syms) - 1),
                F.slice(syms, 2, F.size(syms) - 1),
                lambda x, y: F.struct(x.alias("lhs"), y.alias("rhs")),
            )
        ).alias("p"),
    )
    return (
        pairs.select("n", "p.lhs", "p.rhs")
        .groupBy("lhs", "rhs")
        .agg(F.sum("n").alias("cnt"))
    )


def top_pair(state: DataFrame) -> DataFrame:
    """The argmax pair under the total order (cnt DESC, lhs, rhs) —
    a TakeOrdered(1) over the vocabulary-sized pair relation, never a
    global sort."""
    return (
        pair_counts(state)
        .orderBy(F.col("cnt").desc(), "lhs", "rhs")
        .limit(1)
    )


def _merge_replace(s: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping application of one merge
    rule: one literal ``replace`` on the wrapped string ('L','R' →
    '\\x01L\\x01\\x01R\\x01' ⇒ '\\x01LR\\x01'). Leftmost-nonoverlapping
    replace equals the greedy fold ('aaaa' under (a,a) → aa|aa: the
    first match consumes both symbols, the scan resumes after it)."""
    return F.replace(
        s,
        F.lit(_M + left + _M + _M + right + _M),
        F.lit(_M + left + right + _M),
    )


def encode_token_counts(
    docs: DataFrame,
    merges: list[dict],
    text_col: str = "text",
    by_col: str = "source",
) -> DataFrame:
    """Deployment half of the trainer: apply a learned merge list to
    the whole corpus and report per-group tokenization stats —
    (group, n_words, n_chars, n_tokens, chars_per_token).

    Shape for 100 TB: unlike training (vocabulary-sized iterations),
    encoding IS corpus-scale — so it must stay in codegen. Symbol
    sequences are the chr(1)-wrapped strings the SQL oracle uses
    ('\\x01sym\\x01...'), and each merge is one literal
    ``replace()`` — a JVM string op, not an interpreted per-element
    fold — so the whole encode is a scan-stage expression chain of
    len(merges) replaces followed by one partial-aggregated groupBy.
    Token count falls out of the representation: every symbol carries
    exactly two markers, so k = (len(s) - len(strip markers)) div 2."""
    from hadoop_project_spark.execution import widen_for_compute

    m = "\x01"
    words = clean_words(
        widen_for_compute(docs.select(by_col, text_col)).select(
            by_col,
            F.explode(F.split(normalize_text(text_col), " ")).alias("word"),
        )
    )
    s = F.concat(
        F.lit(m), F.array_join(F.split("word", ""), m + m), F.lit(m)
    )
    for rule in merges:
        s = F.replace(
            s,
            F.lit(m + rule["lhs"] + m + m + rule["rhs"] + m),
            F.lit(m + rule["merged"] + m),
        )
    n_chars_w = F.length(F.replace(s, F.lit(m), F.lit("")))
    enc = words.select(
        by_col,
        n_chars_w.alias("n_chars_w"),
        # every symbol carries exactly 2 markers, so the division is
        # exact per row (long arithmetic; no float sums anywhere)
        ((F.length(s) - n_chars_w) / F.lit(2)).cast("long").alias("k"),
    )
    agg = enc.groupBy(by_col).agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("n_chars_w").cast("long").alias("n_chars"),
        F.sum("k").cast("long").alias("n_tokens"),
    )
    return agg.select(
        by_col,
        "n_words",
        "n_chars",
        "n_tokens",
        (
            F.col("n_chars").cast("double") / F.col("n_tokens").cast("double")
        ).alias("chars_per_token"),
    )


def train_merges(docs: DataFrame, n_merges: int = N_MERGES) -> list[dict]:
    """Learn the first ``n_merges`` BPE merges; returns
    [{merge_idx, lhs, rhs, merged, pair_count}, ...] — O(n_merges)
    driver state, one collected row per iteration.

    Only the BASE state (the one corpus-scale aggregation, wrapped as
    symbol strings) is persisted; each iteration derives its state
    lazily as the replace-chain of all merges so far over that base.
    Round-12 optimization (guide §1.2/§2.4): the former loop persisted
    + blocking-counted every iteration's rewrite — one extra job and a
    cache write per merge — to keep the interpreted fold from nesting;
    with the rewrite now a literal codegen ``replace`` per rule,
    re-applying i replaces over the vocabulary-sized cached base is
    cheaper than materializing each step (measured at sf0.1:
    bpe_train_merges ~3.8 s → ~1.3 s), and the per-iteration job count
    halves (one argmax job per merge, no materialization job)."""
    base = with_symbols(word_freq_table(docs)).persist()
    base.count()
    merges: list[dict] = []
    s = F.col("s")
    try:
        for i in range(1, n_merges + 1):
            state = base.select("n", s.alias("s"))
            rows = top_pair(state).collect()
            if not rows:  # degenerate corpus: all 1-char words
                break
            r = rows[0]
            merges.append(
                {
                    "merge_idx": i,
                    "lhs": r["lhs"],
                    "rhs": r["rhs"],
                    "merged": r["lhs"] + r["rhs"],
                    "pair_count": int(r["cnt"]),
                }
            )
            s = _merge_replace(s, r["lhs"], r["rhs"])
    finally:
        base.unpersist()
    return merges
