"""Driver query for the distributed BPE tokenizer trainer
(operators/bpe.py) — with a FULL oracle for the iterative loop.

The repo's other iterative algorithm (K-Means) is driver-anchored via
single-step twins because its float geometry isn't SQL-reproducible.
BPE is: every iteration is integer pair-counting plus a deterministic
string rewrite, so the oracle below replays the ENTIRE training run in
DuckDB as a chain of generated CTE stages — one (pair-count → argmax →
rewrite) triple per merge — and a hash-green row certifies all
N_MERGES iterations end-to-end, not just one step.

Every CTE stage is MATERIALIZED: DuckDB inlines plain CTEs, and a
chain where stage i references stage i-1 three times (argmax pattern
+ rewrite) would otherwise expand to ~4^N scans of the base table
(observed as fd exhaustion at N=8).

Oracle representation: a word's symbol sequence is a single VARCHAR
with every symbol wrapped in chr(1) markers ('\\x01sym\\x01' ...), so
applying a merge is a plain string replace of
'\\x01lhs\\x01\\x01rhs\\x01' with '\\x01lhsrhs\\x01': the markers make
cross-symbol false matches impossible (a match must span exactly two
whole symbols), and replace()'s universal leftmost-nonoverlapping
scan reproduces the Spark-side greedy fold exactly (an 'aaaa' run
under the (a,a) rule becomes aa|aa on both engines). Symbols never
contain chr(1)/chr(31): the operator STRIPS control characters from
the word stream (operators/bpe.clean_words, mirrored in the word CTEs
below — ADVICE r7 asked for enforcement on arbitrary input, not just
the ASCII-fixture assertion), and merged symbols are concatenations
of word characters (tests/test_bpe.py covers a chr(1)-bearing word).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import literal
from hadoop_project_spark.operators import bpe
from hadoop_project_spark.plans.registry import register
from hadoop_project_spark.plans.text_pipeline import SQL_NORM

_US = "chr(31)"  # pair-key separator (pairs only, never inside symbols)
_M = "chr(1)"  # symbol boundary marker
_MM = f"{_M} || {_M}"


def _sql_stages(n_merges: int) -> list[str]:
    """Shared chained-CTE stages: s0..s{n}, each m{i} the argmax pair
    of s{i-1} and s{i} the rewrite under it."""
    stages = [
        f"""w AS (
      SELECT word, COUNT(*) AS n FROM (
        SELECT regexp_replace(word, '{bpe.CTRL_STRIP_RE}', '', 'g') AS word
        FROM (
          SELECT UNNEST(string_split({SQL_NORM}, ' ')) AS word FROM documents
        )
      ) WHERE word <> '' GROUP BY word
    ),
    s0 AS MATERIALIZED (
      SELECT n,
             {_M} || array_to_string(
               [word[i] for i in range(1, length(word) + 1)], {_MM})
             || {_M} AS s
      FROM w
    )"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"s{i - 1}"
        stages.append(
            f"""p{i} AS MATERIALIZED (
      SELECT n, UNNEST([l[j] || {_US} || l[j + 1]
                        for j in range(1, len(l))]) AS pr
      FROM (SELECT n, string_split(substr(s, 2, length(s) - 2), {_MM}) AS l
            FROM {prev})
    ),
    m{i} AS MATERIALIZED (
      SELECT split_part(pr, {_US}, 1) AS lhs,
             split_part(pr, {_US}, 2) AS rhs,
             CAST(SUM(n) AS BIGINT) AS cnt
      FROM p{i} GROUP BY pr
      ORDER BY cnt DESC, lhs, rhs LIMIT 1
    ),
    s{i} AS MATERIALIZED (
      SELECT n, replace(s,
        {_M} || (SELECT lhs FROM m{i}) || {_MM} || (SELECT rhs FROM m{i}) || {_M},
        {_M} || (SELECT lhs FROM m{i}) || (SELECT rhs FROM m{i}) || {_M}) AS s
      FROM {prev}
    )"""
        )
    return stages


def _sql_train_merges(n_merges: int) -> str:
    finals = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_idx, lhs, rhs,"
        f" lhs || rhs AS merged, cnt AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        "WITH " + ",\n    ".join(_sql_stages(n_merges)) + f"\n    {finals}"
    )


def _sql_encode_token_counts(n_merges: int) -> str:
    """Train (shared stages), then re-encode the whole corpus under the
    learned merges and roll token stats up per source."""
    stages = _sql_stages(n_merges)
    stages.append(
        f"""wd AS (
      SELECT source, word FROM (
        SELECT source, regexp_replace(word, '{bpe.CTRL_STRIP_RE}', '', 'g') AS word
        FROM (
          SELECT source, UNNEST(string_split({SQL_NORM}, ' ')) AS word
          FROM documents
        )
      ) WHERE word <> ''
    ),
    e0 AS MATERIALIZED (
      SELECT source,
             {_M} || array_to_string(
               [word[i] for i in range(1, length(word) + 1)], {_MM})
             || {_M} AS s
      FROM wd
    )"""
    )
    for i in range(1, n_merges + 1):
        stages.append(
            f"""e{i} AS MATERIALIZED (
      SELECT source, replace(s,
        {_M} || (SELECT lhs FROM m{i}) || {_MM} || (SELECT rhs FROM m{i}) || {_M},
        {_M} || (SELECT lhs FROM m{i}) || (SELECT rhs FROM m{i}) || {_M}) AS s
      FROM e{i - 1}
    )"""
        )
    stages.append(
        f"""fin AS (
      SELECT source,
             length(replace(s, {_M}, '')) AS n_chars_w,
             (length(s) - length(replace(s, {_M}, ''))) // 2 AS k
      FROM e{n_merges}
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(stages)
        + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_chars_w) AS BIGINT) AS n_chars,
           CAST(SUM(k) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars_w) AS DOUBLE) / CAST(SUM(k) AS DOUBLE)
             AS chars_per_token
    FROM fin GROUP BY source
    """
    )


@register(
    "bpe_train_merges",
    oracle=_sql_train_merges(bpe.N_MERGES),
    tags=("text", "tokenizer", "bpe", "iterative", "extension"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first N_MERGES learned BPE merges over the documents corpus
    — one row per iteration: (merge_idx, lhs, rhs, merged, pair_count).
    See operators/bpe.py for the 100 TB shape (one corpus pass builds
    the word-frequency table; iterations run over the vocabulary
    relation with O(iterations) driver state) and the module docstring
    here for how the oracle replays the whole iterative loop in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.train_merges(docs, bpe.N_MERGES)
    rows = [
        (m["merge_idx"], m["lhs"], m["rhs"], m["merged"], m["pair_count"])
        for m in merges
    ]
    schema = (
        "merge_idx BIGINT, lhs STRING, rhs STRING, "
        "merged STRING, pair_count BIGINT"
    )
    return literal(spark, schema, rows)


@register(
    "bpe_encode_token_counts",
    oracle=_sql_encode_token_counts(bpe.N_MERGES),
    tags=("text", "tokenizer", "bpe", "token-count", "extension"),
)
def bpe_encode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment half of the tokenizer: train the N_MERGES merges,
    then re-encode the WHOLE corpus under them and roll up per-source
    (n_words, n_chars, n_tokens, chars_per_token) — the real token
    budget the BPE-proxy regex in doc_token_stats approximates.
    Encoding is corpus-scale, so it stays a codegen expression chain
    (one literal replace() per merge over the wrapped symbol string —
    see operators/bpe.encode_token_counts); the oracle replays
    training AND encoding from scratch in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.train_merges(docs, bpe.N_MERGES)
    return bpe.encode_token_counts(docs, merges)
