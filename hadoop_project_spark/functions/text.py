"""Text column functions (tokenize / shingle / n-gram / hashing).

The reference's only text op is whitespace tokenization via
``StringTokenizer`` (WordCount1/src/main/java/WordCount.java:24) and a
regex prefix filter (WordCount2/src/main/java/WordCount.java:34). This
module generalizes that surface for the training-data-pipeline operators
(dedup, language ID, quality scoring).

Hashing convention: where an operator needs a hash that must agree with
the DuckDB oracle (MinHash, fingerprints), we use ``md5`` — identical
output in Spark, DuckDB, and any other engine — rather than
engine-internal hashes (``F.hash``/xxhash64 differ from DuckDB's
``hash``). md5-as-string min/max is well-ordered and portable; F.xxhash64
is used only where the oracle does not need to reproduce the hash.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

WHITESPACE_RE = r"\s+"


def tokenize(col: str | Column) -> Column:
    """Whitespace tokenization → array<string> (P1/F1).

    Equivalent DuckDB: ``string_split_regex(text, '\\s+')``.
    Empty tokens (leading/trailing whitespace) must be filtered by the
    caller after explode — both engines produce them identically.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, WHITESPACE_RE)


def normalize_text(col: str | Column) -> Column:
    """Lowercase + collapse whitespace — canonical form for fingerprints
    and shingling. DuckDB: ``regexp_replace(lower(text), '\\s+', ' ', 'g')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), WHITESPACE_RE, " "))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-word shingles from a MATERIALIZED token-array column.

    ``toks`` must be a plain column reference — project the
    split(normalize(...)) into a named column first. Expressions
    referenced inside a ``transform`` lambda are re-evaluated once per
    output element, so passing the raw split-of-regex expression here
    costs O(doc_len) regex evaluations per document (measured 6× slower
    at sf0.1). Documents shorter than k words yield the single full-text
    shingle so every doc has ≥1 shingle.
    """
    cnt = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    # positions 1..n-k+1 (SQL arrays are 1-based)
    idx = F.sequence(F.lit(1), cnt)
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))


def ngrams_from_normalized(c: Column, n: int = 5) -> Column:
    """Character n-grams from a MATERIALIZED normalized-text column.
    Same per-element re-evaluation caveat as shingles_from_tokens.
    Short texts yield the whole text as one gram."""
    cnt = F.greatest(F.length(c) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), cnt)
    return F.transform(idx, lambda i: F.substring(c, i, n))


def word_shingles(col: str | Column, k: int = 3) -> Column:
    """k-word shingles of the normalized text → array<string>.

    Convenience single-expression form. In hot paths (per-corpus explode)
    project ``F.split(normalize_text(col), ' ')`` to a named column and
    use shingles_from_tokens instead — the lambda re-evaluates this whole
    expression per shingle otherwise.
    """
    return shingles_from_tokens(F.split(normalize_text(col), " "), k)


def md5_i64(col: Column, seed: int = 0) -> Column:
    """Portable 60-bit integer hash: md5 hex → first 15 hex digits →
    bigint. Identical in DuckDB via
    ``cast(('0x' || substr(md5(s), 1, 15)) as ubigint)``. Seeded by
    prefixing the seed (distinct hash families for MinHash)."""
    seeded = F.concat(F.lit(f"{seed}|"), col)
    return F.conv(F.substring(F.md5(seeded), 1, 15), 16, 10).cast("long")


def md5_i64_sql(col_sql: str, seed: int = 0) -> str:
    """Spark-SQL text twin of :func:`md5_i64`, for builders that
    assemble wide expression trees as expr strings (one parse JVM-side
    instead of hundreds of py4j Column round-trips — measured 7× faster
    plan construction on the 60-bit SimHash aggregate)."""
    return (
        f"cast(conv(substring(md5(concat('{seed}|', {col_sql})), 1, 15), "
        "16, 10) as bigint)"
    )
