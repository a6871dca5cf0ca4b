"""Driver queries for the exact set-similarity family
(operators/ssjoin.py): prefix-filtered Jaccard join and cross-document
duplicate-span statistics.

Both oracles recompute the full algorithm from scratch in DuckDB —
including the df-ordered prefix selection — so a hash match certifies
not just the final pair set but the filtering math (a wrong prefix
length that dropped a true pair, or integer-threshold drift, would
diverge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators import ssjoin as sj
from hadoop_project_spark.plans.registry import register
from hadoop_project_spark.plans.text_pipeline import SQL_NORM

# DuckDB twin of functions/text.py shingling at k=3 (inclusive slice
# toks[i:i+2]; docs shorter than k yield the whole text as one shingle)
# — same form as plans/corpus_queries.py:source_overlap_matrix.
_SQL_SHINGLES3 = f"""
      SELECT doc_id,
             UNNEST([array_to_string(toks[i:i+2], ' ')
                     for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS sh
      FROM (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks
            FROM documents)
"""


@register(
    "ssjoin_prefix_pairs",
    oracle=f"""
    WITH sg AS (SELECT DISTINCT doc_id, sh FROM ({_SQL_SHINGLES3})),
    dfc AS (SELECT sh, COUNT(*) AS df FROM sg GROUP BY sh),
    ranked AS (
      SELECT s.doc_id, s.sh,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY d.df, s.sh) AS rn,
             COUNT(*) OVER (PARTITION BY s.doc_id) AS n
      FROM sg s JOIN dfc d USING (sh)
    ),
    prefix AS (
      SELECT doc_id, sh FROM ranked
      WHERE rn <= n - (({sj.SSJOIN_TAU_NUM} * n + {sj.SSJOIN_TAU_DEN - 1})
                       // {sj.SSJOIN_TAU_DEN}) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sg GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN sg x ON x.doc_id = c.doc_a
      JOIN sg y ON y.doc_id = c.doc_b AND y.sh = x.sh
      GROUP BY 1, 2
    )
    SELECT CAST(i.doc_a AS BIGINT) AS doc_a,
           CAST(i.doc_b AS BIGINT) AS doc_b,
           CAST(i.i AS BIGINT) AS n_inter,
           CAST(sx.n + sy.n - i.i AS BIGINT) AS n_union,
           CAST(i.i AS DOUBLE) / CAST(sx.n + sy.n - i.i AS DOUBLE)
             AS jaccard
    FROM inter i
    JOIN sz sx ON sx.doc_id = i.doc_a
    JOIN sz sy ON sy.doc_id = i.doc_b
    WHERE i.i * {sj.SSJOIN_TAU_DEN}
          >= {sj.SSJOIN_TAU_NUM} * (sx.n + sy.n - i.i)
    """,
    tags=("dedup", "ssjoin", "prefix-filter", "exact", "extension"),
)
def ssjoin_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT document pairs with 3-shingle Jaccard >= 1/2 via AllPairs
    prefix filtering — the complete-recall complement to the MinHash
    (probabilistic) and rare-gram (df-capped) blockers in
    plans/dedup_queries.py. See operators/ssjoin.py for the prefix
    principle and the 100 TB shuffle budget."""
    docs = load_table(spark, sf_dir, "documents")
    return sj.prefix_filtered_jaccard_pairs(docs)


@register(
    "doc_duplicate_span_ratio",
    oracle=f"""
    WITH sg AS (SELECT DISTINCT doc_id, sh FROM ({_SQL_SHINGLES3})),
    dfc AS (SELECT sh, COUNT(*) AS df FROM sg GROUP BY sh),
    per AS (
      SELECT s.doc_id, COUNT(*) AS n_spans,
             SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM sg s JOIN dfc d USING (sh)
      GROUP BY s.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_dup AS BIGINT) AS n_dup_spans,
           CAST(n_dup AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_ratio,
           n_dup * {sj.DUP_SPAN_FLAG_DEN}
             >= {sj.DUP_SPAN_FLAG_NUM} * n_spans AS flagged
    FROM per
    """,
    tags=("corpus", "dedup", "spans", "quality", "extension"),
)
def doc_duplicate_span_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of distinct 3-word spans shared with at
    least one other document (RefinedWeb/C4-style span-duplication
    signal); flag at >= 30%. Two linear shuffles, integer-exact flag."""
    docs = load_table(spark, sf_dir, "documents")
    return sj.duplicate_span_stats(docs)


@register(
    "doc_duplicate_spans",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+2], ' ') AS sh
      FROM (SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks,
                   unnest(generate_series(1, greatest(len(string_split(
                     {SQL_NORM}, ' ')) - 2, 1))) AS i
            FROM documents)
    ),
    dups AS (
      SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM g)
      GROUP BY sh HAVING COUNT(*) >= 2
    ),
    dpos AS (SELECT doc_id, pos FROM g JOIN dups USING (sh)),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM dpos
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM isl GROUP BY doc_id, grp
    """,
    tags=("corpus", "dedup", "spans", "extension"),
)
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span REMOVAL LIST (operators/ssjoin.duplicate_spans):
    maximal runs of 3-gram positions shared with >= 2 documents, in
    0-based gram coordinates — what a Lee-et-al-style span dedup would
    actually cut, where doc_duplicate_span_ratio only scores it. The
    oracle rebuilds positions, document frequencies and the
    gaps-and-islands run grouping from scratch."""
    docs = load_table(spark, sf_dir, "documents")
    return sj.duplicate_spans(docs)
