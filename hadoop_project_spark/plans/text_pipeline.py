"""Text-analysis pipeline queries over the `documents` table.

The oracle SQL is generated from the same constants
(operators/textstats.py) so both engines evaluate the identical
expression tree; scores use only rational arithmetic on exact integer
counts, making the doubles bit-identical.

DuckDB's regex engine is RE2 (no lookarounds), so the shared patterns
use alternation + regexp_extract_all instead of lookaround splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import widen_for_compute
from hadoop_project_spark.operators import textstats as ts
from hadoop_project_spark.plans.registry import register

# -- shared SQL fragments ---------------------------------------------------

SQL_TOKENS = r"[x for x in string_split_regex(text, '\s+') if x <> '']"
SQL_NTOK = f"len({SQL_TOKENS})"
BPE_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
SQL_NBPE = f"len(regexp_extract_all(text, '{BPE_PATTERN}'))"
SQL_PUNCT_RATIO = (
    r"CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE)"
    r" / CAST(greatest(length(text), 1) AS DOUBLE)"
)
SQL_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


def _sql_stop_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in ts.STOPWORDS[lang])
    return (
        f"len([x for x in list_transform({SQL_TOKENS}, t -> lower(t)) "
        f"if list_contains([{words}], x)])"
    )


def _sql_lang_case() -> str:
    cases = []
    for lg in ts.LANG_PRIORITY:
        conds = " AND ".join(
            f"s_{lg} >= s_{o}" for o in ts.LANG_PRIORITY if o != lg
        )
        cases.append(f"WHEN total > 0 AND {conds} THEN '{lg}'")
    return "CASE " + " ".join(cases) + " ELSE 'und' END"


SQL_QUALITY = (
    "least(1.0, CAST(n_tok AS DOUBLE) / 100.0)"
    " * (1.0 - punct_ratio)"
    " * (0.5 + 0.5 * least(1.0,"
    " (CAST(s_en AS DOUBLE) / greatest(CAST(n_tok AS DOUBLE), 1.0)) * 5.0))"
)


# ---------------------------------------------------------------------------
@register(
    "doc_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST({SQL_NTOK} AS BIGINT) AS n_tokens,
           CAST({SQL_NBPE} AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_text,
           {SQL_PUNCT_RATIO} AS punct_ratio
    FROM documents
    """,
    tags=("text", "token-count", "extension"),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting: whitespace tokens + BPE-ish fragment
    count (letters / digit runs / single punctuation as separate tokens)."""
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return docs.select(
        "doc_id",
        ts.token_count("text").alias("n_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
        ).cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_text"),
        ts.punct_ratio("text").alias("punct_ratio"),
    )


@register(
    "doc_quality_scores",
    oracle=f"""
    SELECT doc_id, n_tok AS n_tokens, punct_ratio, {SQL_QUALITY} AS quality_score
    FROM (
      SELECT doc_id,
             CAST({SQL_NTOK} AS BIGINT) AS n_tok,
             {SQL_PUNCT_RATIO} AS punct_ratio,
             CAST({_sql_stop_hits('en')} AS BIGINT) AS s_en
      FROM documents
    )
    """,
    tags=("text", "quality", "extension"),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality heuristic per document: length credit ×
    punctuation penalty × stopword-density credit."""
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return docs.select(
        "doc_id",
        ts.token_count("text").alias("n_tokens"),
        ts.punct_ratio("text").alias("punct_ratio"),
        ts.quality_score("text").alias("quality_score"),
    )


@register(
    "doc_quality_model_filter",
    oracle=f"""
    SELECT doc_id, model_logit,
           model_logit >= {ts.QUALITY_MODEL_THRESHOLD} AS admitted
    FROM (
      SELECT doc_id,
             {ts.QUALITY_MODEL_BIAS}
             + {ts.QUALITY_MODEL_W_LEN}
               * least(CAST(n_tok AS DOUBLE) / 500.0, 1.0)
             + {ts.QUALITY_MODEL_W_PUNCT} * punct_ratio
             + {ts.QUALITY_MODEL_W_STOP}
               * (CAST(s_en AS DOUBLE)
                  / greatest(CAST(n_tok AS DOUBLE), 1.0))
             + {ts.QUALITY_MODEL_W_FRAG}
               * (CAST(n_bpe AS DOUBLE)
                  / greatest(CAST(n_tok AS DOUBLE), 1.0))
               AS model_logit
      FROM (
        SELECT doc_id,
               CAST({SQL_NTOK} AS BIGINT) AS n_tok,
               {SQL_PUNCT_RATIO} AS punct_ratio,
               CAST({_sql_stop_hits('en')} AS BIGINT) AS s_en,
               CAST({SQL_NBPE} AS BIGINT) AS n_bpe
        FROM documents
      )
    )
    """,
    tags=("text", "quality", "model-filter", "extension"),
)
def doc_quality_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (FineWeb-Edu-style classifier
    gate), deployed as a frozen linear logit over scan-stage features —
    see operators/textstats.quality_model_logit for why the exported-
    weight form is the 100 TB deployment shape. Distinct from
    doc_quality_scores' hand-tuned heuristic: this is the `score =
    w·x, admit = score >= t` contract a trained classifier exports."""
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return docs.select(
        "doc_id", ts.quality_model_logit("text").alias("model_logit")
    ).withColumn(
        "admitted", F.col("model_logit") >= F.lit(ts.QUALITY_MODEL_THRESHOLD)
    )


@register(
    "doc_lang_id",
    oracle=f"""
    SELECT doc_id, lang, {_sql_lang_case()} AS lang_pred
    FROM (
      SELECT doc_id, lang,
             {" , ".join(f"CAST({_sql_stop_hits(lg)} AS BIGINT) AS s_{lg}" for lg in ts.LANG_PRIORITY)},
             {" + ".join(f"CAST({_sql_stop_hits(lg)} AS BIGINT)" for lg in ts.LANG_PRIORITY)} AS total
      FROM documents
    )
    """,
    tags=("text", "lang-id", "extension"),
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID vs the table's declared lang."""
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    return docs.select("doc_id", "lang", ts.lang_id("text").alias("lang_pred"))


@register(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5({SQL_NORM}) AS fp_exact,
           list_min(
             [md5(array_to_string(toks[i:i+2], ' '))
              for i in range(1, greatest(len(toks) - 2, 1) + 1)]
           ) AS fp_min_shingle
    FROM (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks, text FROM documents)
    """,
    tags=("text", "fingerprint", "extension"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (md5-of-normalized) and locality-sensitive (min shingle
    md5) fingerprints per document."""
    # widen: normalize/split + per-shingle md5 transform (round-8
    # split-starvation audit; this was r7's one watch-list "regression")
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    from hadoop_project_spark.functions.text import normalize_text

    with_toks = docs.select(
        "doc_id",
        "text",
        F.split(normalize_text("text"), " ").alias("toks"),
    )
    return with_toks.select(
        "doc_id",
        ts.fingerprint("text").alias("fp_exact"),
        ts.min_shingle_fingerprint_from_tokens(F.col("toks"), k=3).alias(
            "fp_min_shingle"
        ),
    )


@register(
    "corpus_quality_by_lang",
    oracle=f"""
    SELECT lang_pred,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(round(quality_score, 6) AS DECIMAL(18,6))) AS DOUBLE) AS quality_mass
    FROM (
      SELECT {_sql_lang_case()} AS lang_pred,
             {SQL_NTOK} AS n_tokens,
             {SQL_QUALITY} AS quality_score
      FROM (
        SELECT doc_id, text,
               CAST({SQL_NTOK} AS BIGINT) AS n_tok,
               {SQL_PUNCT_RATIO} AS punct_ratio,
               {" , ".join(f"CAST({_sql_stop_hits(lg)} AS BIGINT) AS s_{lg}" for lg in ts.LANG_PRIORITY)},
               {" + ".join(f"CAST({_sql_stop_hits(lg)} AS BIGINT)" for lg in ts.LANG_PRIORITY)} AS total
        FROM documents
      )
    )
    GROUP BY lang_pred
    """,
    tags=("text", "agg", "extension"),
)
def corpus_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup per predicted language. The per-doc quality doubles
    are rounded to 6dp and summed as DECIMAL so the aggregate is
    order-independent (same strategy as the money aggregates)."""
    # widen: regex-heavy per-row features (round-8 split-starvation audit)
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("text")
    )
    scored = docs.select(
        ts.lang_id("text").alias("lang_pred"),
        ts.token_count("text").alias("n_tokens"),
        ts.quality_score("text").alias("quality_score"),
    )
    return scored.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.round("quality_score", 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("quality_mass"),
    )


TRAIN_MIX_MIN_Q = 0.2
TRAIN_MIX_TOKEN_CAP = 800


@register(
    "training_data_mix",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             {_sql_lang_case()} AS lang_pred,
             n_tok AS n_tokens,
             {SQL_QUALITY} AS q,
             md5({SQL_NORM}) AS fp
      FROM (
        SELECT doc_id, source, text,
               CAST({SQL_NTOK} AS BIGINT) AS n_tok,
               {SQL_PUNCT_RATIO} AS punct_ratio,
               {" , ".join(f"CAST({_sql_stop_hits(lg)} AS BIGINT) AS s_{lg}" for lg in ts.LANG_PRIORITY)},
               {" + ".join(f"CAST({_sql_stop_hits(lg)} AS BIGINT)" for lg in ts.LANG_PRIORITY)} AS total
        FROM documents
      )
    ),
    filt AS (
      SELECT * FROM scored
      WHERE lang_pred = 'en' AND round(q, 9) >= {TRAIN_MIX_MIN_Q}
    ),
    ded AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM filt
      ) WHERE rn = 1
    ),
    sel AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY round(q, 9) DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM ded
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
    FROM sel WHERE cum_tokens <= {TRAIN_MIX_TOKEN_CAP}
    """,
    tags=("text", "pipeline", "dedup", "window", "extension"),
)
def training_data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data selection pipeline as ONE declarative plan:
    language gate → quality gate → exact dedup (min doc_id per
    normalized-text fingerprint) → per-source token budget (best-quality
    docs first until the source's 800-token cap).

    Scale shape: everything before the budget step is a scan-side
    projection + one window per key (fp, then source); no collect, no
    iteration. Quality ordering uses round(q, 9) so the budget cut falls
    on the same document in both engines; the oracle re-derives every
    stage in SQL, so the driver hash verifies the whole pipeline
    composition, not just the pieces."""
    # widen + PIN: four regex-heavy per-row features behind one scan —
    # the round-8 profile showed them serializing on 2 byte-splits at
    # sf1 (~4.6 s of the query's 7.5 s wall). The widen alone does NOT
    # fix this query: the language/quality gate below is a filter on
    # computed columns, and PushDownPredicates moves it (expressions
    # and all) back through the round-robin exchange into the scan
    # stage. The eager pin materializes the widened, feature-computed
    # projection first — a filter cannot cross an InMemoryRelation —
    # so the features evaluate 32-way in the pin job. The cached
    # relation drops `text` (6 narrow columns), so it is small.
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    from hadoop_project_spark.execution import eager_pin

    scored = eager_pin(
        docs.select(
            "doc_id",
            "source",
            ts.lang_id("text").alias("lang_pred"),
            ts.token_count("text").alias("n_tokens"),
            ts.quality_score("text").alias("q"),
            ts.fingerprint("text").alias("fp"),
        )
    )
    # round(q, 9) before the gate — every float-derived decision is made
    # on the same 9dp value in both engines (same rule as the ordering)
    filt = scored.filter(
        (F.col("lang_pred") == "en") & (F.round("q", 9) >= TRAIN_MIX_MIN_Q)
    )
    from pyspark.sql.window import Window

    w_dedup = Window.partitionBy("fp").orderBy("doc_id")
    ded = (
        filt.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w_budget = (
        Window.partitionBy("source")
        .orderBy(F.round("q", 9).desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ded.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w_budget).cast("long")
        )
        .filter(F.col("cum_tokens") <= TRAIN_MIX_TOKEN_CAP)
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "cum_tokens",
        )
    )


@register(
    "docs_source_groups",
    oracle="""
    SELECT CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 4 AS src_group,
           COUNT(*) AS n_docs,
           COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_en,
           COUNT(CASE WHEN text LIKE '%the%' THEN 1 END) AS n_contains_the,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
    tags=("text", "regexp", "string-functions"),
)
def docs_source_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function coverage in one aggregation: regexp_extract of
    the numeric source id, LIKE containment, conditional counts (F2/F5
    generalized)."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    return (
        docs.groupBy((src_num % 4).alias("src_group"))
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("n_en"),
            F.count(F.when(F.col("text").like("%the%"), 1)).alias("n_contains_the"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# -- quality-filter funnel --------------------------------------------------
# Ordered corpus-pruning rules (the Dolma/RefinedWeb-style attrition
# report): thresholds are rational integer comparisons chosen to bite on
# the synthetic corpus (each rule removes a nontrivial share at sf0.01;
# punctuation-ratio is omitted because this corpus has zero punctuation
# and the rule would be degenerate).
FUNNEL_MIN_TOKENS = 25
FUNNEL_MAX_CHARS = 450
FUNNEL_STOP_DEN = 20  # stopword hits * 20 >= tokens, i.e. >= 5%
FUNNEL_DIST_NUM = 2  # distinct tokens * 2 >= tokens, i.e. >= 50%

_SQL_NDIST = f"len(list_distinct(list_transform({SQL_TOKENS}, t -> lower(t))))"


@register(
    "quality_filter_funnel",
    oracle=f"""
    WITH s AS (
      SELECT CAST({SQL_NTOK} AS BIGINT) AS n_tok,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST({_sql_stop_hits('en')} AS BIGINT) AS s_en,
             CAST({_SQL_NDIST} AS BIGINT) AS n_dist
      FROM documents
    ),
    ff AS (
      SELECT CASE
               WHEN NOT (n_tok >= {FUNNEL_MIN_TOKENS}) THEN 1
               WHEN NOT (n_chars <= {FUNNEL_MAX_CHARS}) THEN 2
               WHEN NOT (s_en * {FUNNEL_STOP_DEN} >= n_tok) THEN 3
               WHEN NOT (n_dist * {FUNNEL_DIST_NUM} >= n_tok) THEN 4
             END AS ff
      FROM s
    ),
    a AS (
      SELECT
        SUM(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS f1,
        SUM(CASE WHEN ff IS NULL OR ff > 1 THEN 1 ELSE 0 END) AS s1,
        SUM(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS f2,
        SUM(CASE WHEN ff IS NULL OR ff > 2 THEN 1 ELSE 0 END) AS s2,
        SUM(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS f3,
        SUM(CASE WHEN ff IS NULL OR ff > 3 THEN 1 ELSE 0 END) AS s3,
        SUM(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS f4,
        SUM(CASE WHEN ff IS NULL OR ff > 4 THEN 1 ELSE 0 END) AS s4
      FROM ff
    )
    SELECT CAST(1 AS BIGINT) AS rule_idx, 'min_tokens' AS rule,
           CAST(f1 AS BIGINT) AS n_failed_first,
           CAST(s1 AS BIGINT) AS n_survivors_after FROM a
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'max_chars', CAST(f2 AS BIGINT),
           CAST(s2 AS BIGINT) FROM a
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'stopword_density', CAST(f3 AS BIGINT),
           CAST(s3 AS BIGINT) FROM a
    UNION ALL
    SELECT CAST(4 AS BIGINT), 'distinct_ratio', CAST(f4 AS BIGINT),
           CAST(s4 AS BIGINT) FROM a
    """,
    tags=("text", "quality", "funnel", "extension"),
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-pruning attrition report: four ordered quality rules
    (min length, max length, stopword density, distinct-token ratio),
    each document attributed to the FIRST rule it fails, with the
    cumulative survivor count after each rule — the per-rule removal
    table a training-data pipeline publishes with every corpus release.

    One scan-stage projection + one global aggregate (operators/
    textstats.filter_funnel); all-integer output, hash-exact."""
    # widen: regex-heavy per-row features (round-8 split-starvation audit)
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("text")
    )
    stats = docs.select(
        ts.token_count("text").alias("n_tok"),
        F.length("text").cast("long").alias("n_chars"),
        ts.stopword_hits("text", "en").alias("s_en"),
        F.size(
            F.array_distinct(F.transform(ts.tokens_nonempty("text"), F.lower))
        )
        .cast("long")
        .alias("n_dist"),
    )
    rules = [
        ("min_tokens", F.col("n_tok") >= FUNNEL_MIN_TOKENS),
        ("max_chars", F.col("n_chars") <= FUNNEL_MAX_CHARS),
        (
            "stopword_density",
            F.col("s_en") * FUNNEL_STOP_DEN >= F.col("n_tok"),
        ),
        (
            "distinct_ratio",
            F.col("n_dist") * FUNNEL_DIST_NUM >= F.col("n_tok"),
        ),
    ]
    return ts.filter_funnel(stats, rules)


WINNOW_K = 3  # tokens per shingle
WINNOW_W = 4  # shingle hashes per winnowing window
WINNOW_FP_DF_CAP = 50  # candidate blocking: drop fingerprints in > CAP docs
WINNOW_MIN_SHARED = 2  # pair survives with >= this many shared fingerprints

_SQL_WINNOW_FPS = f"""
    WITH toks AS (
      SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             greatest(len(toks) - {WINNOW_K - 1}, 1) AS n_sh,
             unnest(generate_series(1,
                    greatest(len(toks) - {WINNOW_K - 1}, 1))) AS pos1,
             unnest([array_to_string(toks[i:i + {WINNOW_K - 1}], ' ')
                     for i in range(1,
                         greatest(len(toks) - {WINNOW_K - 1}, 1) + 1)]) AS g
      FROM toks
    ),
    h AS (
      SELECT doc_id, n_sh, pos1 - 1 AS pos,
             CAST(('0x' || substr(md5('0|' || g), 1, 15)) AS BIGINT) AS hv
      FROM sh
    ),
    wmin AS (
      SELECT doc_id, n_sh, pos,
             min(hv) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
      FROM h
    )
    SELECT DISTINCT doc_id, fp
    FROM wmin WHERE pos <= greatest(n_sh - {WINNOW_W}, 0)
"""


@register(
    "doc_winnowing_fingerprints",
    oracle=f"""
    {_SQL_WINNOW_FPS}
    """,
    tags=("text", "fingerprint", "winnowing", "rolling-hash", "extension"),
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/textstats.
    winnowing_fingerprints — the MOSS rolling-window-minimum selection
    over k-shingle hashes): the fingerprint family with a LOCALITY
    guarantee (any shared ≥ w+k-1-token run shares a fingerprint),
    completing the spectrum next to md5 exact-dedup keys and
    min-shingle/MinHash probabilistic sketches. The oracle recomputes
    shingling, the 60-bit hash, the w-window minimum, and the
    full-window cutoff in SQL, so a hash-green row certifies the
    position arithmetic, not just the hash function."""
    docs = load_table(spark, sf_dir, "documents")
    return ts.winnowing_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)


@register(
    "winnowing_dup_candidates",
    oracle=f"""
    WITH fps AS ({_SQL_WINNOW_FPS}),
    rare AS (
      SELECT fp FROM fps GROUP BY fp
      HAVING COUNT(*) <= {WINNOW_FP_DF_CAP}
    ),
    kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """,
    tags=("text", "fingerprint", "winnowing", "dedup", "extension"),
)
def winnowing_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs from shared winnowing fingerprints: the
    standard fingerprint-index join (block on fp, count shared prints
    per pair, threshold). Blocking discipline matches the rare-gram
    df-cap the ngram-Jaccard path proved: fingerprints present in more
    than WINNOW_FP_DF_CAP documents are dropped before the self-join, so no hot
    fingerprint can quadratically fan out the candidate stage — at
    corpus scale the cap is the boilerplate filter (a fingerprint half
    the corpus shares identifies no pair)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = ts.winnowing_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)
    from hadoop_project_spark.execution import eager_pin

    fps = eager_pin(fps)
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= WINNOW_FP_DF_CAP)
        .select("fp")
    )
    kept = fps.join(rare, "fp")
    a = kept.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = kept.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


@register(
    "tokenizer_fertility_by_source",
    oracle=f"""
    SELECT source,
           CAST(SUM({SQL_NTOK}) AS BIGINT) AS n_ws_tokens,
           CAST(SUM({SQL_NBPE}) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           CASE WHEN SUM({SQL_NTOK}) = 0 THEN NULL
                ELSE CAST(SUM({SQL_NBPE}) AS DOUBLE)
                     / CAST(SUM({SQL_NTOK}) AS DOUBLE) END AS fertility,
           CASE WHEN SUM({SQL_NBPE}) = 0 THEN NULL
                ELSE CAST(SUM(length(text)) AS DOUBLE)
                     / CAST(SUM({SQL_NBPE}) AS DOUBLE) END
             AS chars_per_token
    FROM documents GROUP BY source
    """,
    tags=("text", "tokenizer", "evaluation", "extension"),
)
def tokenizer_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer-cost report per source: FERTILITY (BPE-ish fragments
    per whitespace word — the standard 'how expensive is this domain to
    tokenize' number) and characters per token. The two ratios are what
    a mixture designer reads next to the token budget: a high-fertility
    source consumes budget faster than its character share suggests.
    Single scan, one partial-aggregated rollup; ratios are single
    divisions of exact integer sums (cross-engine identical)."""
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").select("source", "text")
    )
    n_ws = ts.token_count("text")
    n_bpe = ts.bpe_proxy_token_count("text")
    return docs.groupBy("source").agg(
        F.sum(n_ws).cast("long").alias("n_ws_tokens"),
        F.sum(n_bpe).cast("long").alias("n_bpe_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        # NULL (not inf/nan) on degenerate all-empty sources, matching
        # the oracle's CASE guard cross-engine (review finding: Spark's
        # x/0 is NULL, DuckDB's is inf — guard both sides explicitly)
        F.when(
            F.sum(n_ws) != 0,
            F.sum(n_bpe).cast("double") / F.sum(n_ws).cast("double"),
        ).alias("fertility"),
        F.when(
            F.sum(n_bpe) != 0,
            F.sum(F.length("text")).cast("double")
            / F.sum(n_bpe).cast("double"),
        ).alias("chars_per_token"),
    )
