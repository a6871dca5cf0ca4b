"""Driver queries for PPS Poisson sampling + Horvitz-Thompson
estimation (operators/sampling.py).

The membership oracle replays the exact HUGEINT selection inequality;
the HT oracle replays the floor-quantized contribution sum — both in
DuckDB from scratch, so a hash match certifies the integer selection
math AND the estimator arithmetic cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators import sampling as sp
from hadoop_project_spark.operators.corpus import SAMPLE_MOD
from hadoop_project_spark.plans.registry import register

_SQL_SEL = f"""
      SELECT doc_id, source, w, w_total, u,
             least(1.0, CAST({sp.PPS_TARGET_K} * w AS DOUBLE)
                          / CAST(w_total AS DOUBLE)) AS pi,
             (CAST(u AS HUGEINT) * CAST(w_total AS HUGEINT)
              < CAST({sp.PPS_TARGET_K} * w AS HUGEINT)
                * CAST({SAMPLE_MOD} AS HUGEINT)) AS selected
      FROM (
        SELECT d.doc_id, d.source, d.n_chars AS w, t.w_total,
               CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) AS u
        FROM documents d
        JOIN (SELECT source, SUM(n_chars) AS w_total
              FROM documents GROUP BY source) t USING (source)
      )
"""


@register(
    "pps_weighted_sample",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST(w AS BIGINT) AS weight, pi
    FROM ({_SQL_SEL})
    WHERE selected
    """,
    tags=("sampling", "pps", "deterministic", "extension"),
)
def pps_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted Poisson PPS sample of documents, expected
    5 per source: include doc iff u * W_source < 5 * n_chars * 2^32
    (DECIMAL(38,0) lanes — no float membership, no shuffle; see
    operators/sampling.py). Emits the inclusion probability alongside
    each selected doc for downstream reweighting."""
    docs = load_table(spark, sf_dir, "documents")
    sel = sp.pps_select(
        docs, F.col("n_chars"), stratum="source", key="doc_id"
    )
    return sel.where("selected").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("w").cast("long").alias("weight"),
        "pi",
    )


@register(
    "pps_ht_source_totals",
    oracle=f"""
    WITH sel AS ({_SQL_SEL}),
    per AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS n_sel,
             SUM(w) AS w_true_total,
             SUM(CASE WHEN selected
                 THEN CAST(FLOOR((CAST(w AS DOUBLE) / pi)
                                 * {sp.HT_SCALE!r}) AS BIGINT)
                 ELSE 0 END) AS ht_q
      FROM sel GROUP BY source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_sel AS BIGINT) AS n_sel,
           CAST(w_true_total AS BIGINT) AS w_true_total,
           CAST(ht_q AS DOUBLE) / {sp.HT_SCALE!r} AS ht_total
    FROM per
    """,
    tags=("sampling", "pps", "horvitz-thompson", "extension"),
)
def pps_ht_source_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Horvitz-Thompson estimate of total characters from
    the PPS sample alone, next to the true total — the unbiasedness
    check a sampling-based telemetry pipeline runs continuously.
    Contributions floor-quantized at 1e-6 so the sum is an exact
    integer reduction (cross-row float-sum discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    sel = sp.pps_select(
        docs, F.col("n_chars"), stratum="source", key="doc_id"
    )
    return sp.ht_stratum_totals(sel, "source")
