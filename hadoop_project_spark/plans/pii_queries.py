"""Driver-verifiable PII redaction query.

The synthetic `documents` corpus is digit-free, so running the PII
operator on raw `text` would be a vacuous always-zero query. Instead the
query derives a deterministic PII-bearing column from `doc_id` (same
integer arithmetic on both engines), runs the real redaction operator
(operators/pii.py — ordered regexp chain, two-pass boundary kinds), and
aggregates per-kind counts plus an md5 checksum of the REDACTED text —
so the hash comparison proves the full replace chain, not just the
counts. The oracle's CTE chain is GENERATED from the same
``PII_PATTERNS`` tuple the operator uses, so a pattern edit cannot
silently diverge the two sides (Java regex vs RE2 stay compatible
because the patterns are written lookbehind-free — see operators/pii.py
docstring).

Scale shape: scan → project (codegen regexp chain) → hash agg on a
4-value key. No joins, no Python, one tiny shuffle — redaction runs at
scan speed on any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators.pii import (
    _BOUNDARY_KINDS,
    PII_PATTERNS,
    _replacement,
    redact_documents,
)
from hadoop_project_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Deterministic PII synthesis — one SQL fragment per engine, same values.
# Buckets (doc_id % 4) vary which kinds appear so per-bucket sums differ.
# ---------------------------------------------------------------------------


def _synth_sql() -> str:
    """Engine-neutral SQL expression (valid in Spark SQL and DuckDB)
    building the synthetic PII-bearing text from doc_id."""

    def lp(expr: str, n: int) -> str:
        return f"lpad(CAST({expr} AS STRING), {n}, '0')"

    ip = (
        "CAST(doc_id % 256 AS STRING) || '.' || "
        "CAST((doc_id * 7) % 256 AS STRING) || '.' || "
        "CAST((doc_id * 13) % 256 AS STRING) || '.' || "
        "CAST((doc_id * 31) % 256 AS STRING)"
    )
    ssn1 = (
        f"{lp('doc_id % 900 + 100', 3)} || '-' || "
        f"{lp('doc_id % 90 + 10', 2)} || '-' || "
        f"{lp('doc_id % 9000 + 1000', 4)}"
    )
    ssn2 = (
        f"{lp('(doc_id * 3) % 900 + 100', 3)} || '-' || "
        f"{lp('(doc_id * 7) % 90 + 10', 2)} || '-' || "
        f"{lp('(doc_id * 11) % 9000 + 1000', 4)}"
    )
    ccn = f"'4' || {lp('doc_id % 1000000000', 15)}"
    phone = (
        f"'(' || {lp('doc_id % 800 + 100', 3)} || ') ' || "
        f"{lp('(doc_id * 3) % 900 + 100', 3)} || '-' || "
        f"{lp('(doc_id * 5) % 9000 + 1000', 4)}"
    )
    return (
        "'contact user' || CAST(doc_id AS STRING) || '@example.com'"
        f" || CASE WHEN doc_id % 4 IN (0, 1) THEN ' from ' || {ip} ELSE ' from home' END"
        # adjacent SSN pair: exercises the two-pass boundary logic
        f" || CASE WHEN doc_id % 4 IN (1, 2) THEN ' ssn ' || {ssn1} || ' ' || {ssn2} ELSE '' END"
        f" || CASE WHEN doc_id % 4 = 3 THEN ' card ' || {ccn} ELSE '' END"
        f" || CASE WHEN doc_id % 4 IN (2, 3) THEN ' call ' || {phone} ELSE '' END"
        " || ' end'"
    )


def _duck_oracle(text_sql: str | None = None, final: str | None = None) -> str:
    """CTE chain mirroring operators/pii.pii_counts exactly: per kind,
    count on the progressively-redacted text then replace; boundary
    kinds count+replace twice. Generated from PII_PATTERNS so the
    oracle tracks the operator. ``text_sql`` overrides the input text
    expression (default: the pure synthetic column); ``final``
    overrides the closing SELECT (receives the last CTE name via
    ``{prev}`` and the per-kind count columns ``n_<kind>``)."""

    def sq(s: str) -> str:
        # Pattern/replacement strings land inside single-quoted SQL
        # literals; escape ' as '' so a future PII_PATTERNS entry
        # containing a quote can't silently corrupt the oracle.
        return s.replace("'", "''")

    def duck_repl(kind: str) -> str:
        return sq(_replacement(kind).replace("$", "\\"))

    # DuckDB reads STRING as VARCHAR? No — normalize the synth fragment.
    synth = text_sql or _synth_sql().replace("AS STRING", "AS VARCHAR")
    ctes = [f"s0 AS (SELECT doc_id, {synth} AS t FROM documents)"]
    prev = "s0"
    carried: list[str] = []
    for kind, pat in PII_PATTERNS:
        cnt = f"len(regexp_extract_all(t, '{sq(pat)}'))"
        rep = f"regexp_replace(t, '{sq(pat)}', '{duck_repl(kind)}', 'g')"
        if kind in _BOUNDARY_KINDS:
            stage_a = f"{prev}_{kind}a"
            cols = ", ".join(["doc_id"] + carried)
            ctes.append(
                f"{stage_a} AS (SELECT {cols}, {cnt} AS n_{kind}_p1, {rep} AS t FROM {prev})"
            )
            carried.append(f"n_{kind}_p1")
            stage_b = f"{prev}_{kind}b"
            cols = ", ".join(["doc_id"] + [c for c in carried if c != f"n_{kind}_p1"])
            ctes.append(
                f"{stage_b} AS (SELECT {cols}, n_{kind}_p1 + {cnt} AS n_{kind}, {rep} AS t FROM {stage_a})"
            )
            carried.remove(f"n_{kind}_p1")
            carried.append(f"n_{kind}")
            prev = stage_b
        else:
            stage = f"{prev}_{kind}"
            cols = ", ".join(["doc_id"] + carried)
            ctes.append(
                f"{stage} AS (SELECT {cols}, {cnt} AS n_{kind}, {rep} AS t FROM {prev})"
            )
            carried.append(f"n_{kind}")
            prev = stage
    kind_sums = ", ".join(
        f"CAST(SUM(n_{kind}) AS BIGINT) AS sum_{kind}" for kind, _ in PII_PATTERNS
    )
    total = " + ".join(f"n_{kind}" for kind, _ in PII_PATTERNS)
    if final is None:
        final = f"""
    SELECT doc_id % 4 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {kind_sums},
           CAST(SUM({total}) AS BIGINT) AS sum_pii,
           CAST(SUM(length(t)) AS BIGINT) AS redacted_len,
           MIN(md5(t)) AS redacted_md5_min
    FROM {prev}
    GROUP BY doc_id % 4
    """
    else:
        final = final.format(prev=prev)
    return f"""
    WITH {', '.join(ctes)}
    {final}
    """


@register(
    "pii_redaction_counts",
    oracle=_duck_oracle(),
    tags=("pii", "redaction", "extension"),
)
def pii_redaction_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket PII redaction audit over a deterministic synthetic
    PII-bearing corpus: per-kind span counts, total spans, and an md5
    checksum of the redacted text (proves the replacement chain, not
    just detection). Exercises the two-pass adjacent-span logic via an
    SSN pair separated by a single space."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_synth_sql()).alias("text")
    )
    red = redact_documents(docs)
    kind_sums = [
        F.sum(f"n_{kind}").cast("long").alias(f"sum_{kind}")
        for kind, _ in PII_PATTERNS
    ]
    return (
        red.groupBy((F.col("doc_id") % 4).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            *kind_sums,
            F.sum("n_pii").cast("long").alias("sum_pii"),
            F.sum(F.length("text")).cast("long").alias("redacted_len"),
            F.min(F.md5(F.col("text").cast("binary"))).alias("redacted_md5_min"),
        )
    )


def _planted_text_sql(dialect: str) -> str:
    """Planted-corpus text: a deterministic 40% of documents (doc_id %
    5 < 2 — the 'known fraction' of VERDICT r11 #4) carry the
    synthetic PII spans APPENDED TO THEIR REAL text; the rest pass
    through untouched. The shipped testdata is read-only, so the plant
    happens in the projection — identically on both engines — which
    certifies the redaction chain firing on live corpus text (carrier
    + spans) AND leaving clean documents byte-identical."""
    synth = _synth_sql()
    if dialect == "duck":
        synth = synth.replace("AS STRING", "AS VARCHAR")
    return (
        f"CASE WHEN doc_id % 5 < 2 THEN text || ' ' || ({synth}) "
        "ELSE text END"
    )


def _planted_final() -> str:
    kinds = ", ".join(
        f"CAST(n_{kind} AS BIGINT) AS n_{kind}" for kind, _ in PII_PATTERNS
    )
    total = " + ".join(f"n_{kind}" for kind, _ in PII_PATTERNS)
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           doc_id % 5 < 2 AS planted,
           {kinds},
           CAST({total} AS BIGINT) AS n_pii,
           md5(t) AS redacted_md5
    FROM {{prev}}
    """


@register(
    "pii_planted_redaction",
    oracle=_duck_oracle(
        text_sql=_planted_text_sql("duck"), final=_planted_final()
    ),
    tags=("pii", "redaction", "corpus", "extension"),
)
def pii_planted_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document redaction audit over the PLANTED corpus (VERDICT
    r11 #4: make PII fire at driver scale): 40% of documents carry
    deterministic email/IP/SSN/CCN/phone spans appended to their real
    text, the rest are untouched, and the full redaction chain runs
    over every document. The per-doc md5 of the redacted text proves
    both directions at once — planted docs end with their spans
    replaced by typed placeholders and their carrier text intact,
    clean docs come back byte-identical (zero false fires on the
    word-salad corpus). Same scan-speed shape as the bucket audit:
    codegen regexp chain, no joins, no shuffle before the compare."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_planted_text_sql("spark")).alias("text")
    )
    red = redact_documents(docs)
    return red.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % 5 < 2).alias("planted"),
        *[
            F.col(f"n_{kind}").cast("long").alias(f"n_{kind}")
            for kind, _ in PII_PATTERNS
        ],
        F.col("n_pii").cast("long").alias("n_pii"),
        F.md5(F.col("text").cast("binary")).alias("redacted_md5"),
    )
