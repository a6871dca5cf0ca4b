"""Data-quality gate queries: declarative expectations over `orders`
and a referential-integrity audit across the whole star schema.

Both compile their DuckDB oracle FROM THE SAME spec list the Spark plan
is built from (operators/expectations.py), so editing a check without
its verification is impossible by construction — the property the
driver's hash gate then certifies end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators.expectations import (
    Expectation,
    FkEdge,
    check_expectations,
    fk_orphan_report,
    sql_expectations,
    sql_fk_orphan_report,
)
from hadoop_project_spark.plans.registry import register

# The orders contract: volume, key uniqueness, value sanity, null
# policy, and categorical domains. Metrics are defined as PAIRED
# Spark/SQL aggregate expressions with one shared threshold.
ORDERS_EXPECTATIONS = [
    Expectation(
        "row_count_min",
        lambda: F.count("*"),
        "COUNT(*)",
        ">=",
        1.0,
    ),
    Expectation(
        "orderkey_unique",
        lambda: F.count("*") - F.countDistinct("o_orderkey"),
        "COUNT(*) - COUNT(DISTINCT o_orderkey)",
        "==",
        0.0,
    ),
    Expectation(
        "totalprice_nonnegative",
        lambda: F.sum((F.col("o_totalprice") < 0).cast("long")),
        "COUNT(*) FILTER (o_totalprice < 0)",
        "==",
        0.0,
    ),
    Expectation(
        "orderdate_null_frac",
        lambda: F.sum(F.col("o_orderdate").isNull().cast("long"))
        / F.count("*"),
        "CAST(COUNT(*) FILTER (o_orderdate IS NULL) AS DOUBLE) / COUNT(*)",
        "<=",
        0.0,
    ),
    Expectation(
        "status_domain",
        lambda: F.sum((~F.col("o_orderstatus").isin("F", "O", "P")).cast("long")),
        "COUNT(*) FILTER (o_orderstatus NOT IN ('F', 'O', 'P'))",
        "==",
        0.0,
    ),
    Expectation(
        "priority_pattern",
        lambda: F.sum((~F.col("o_orderpriority").rlike("^[1-5]-")).cast("long")),
        "COUNT(*) FILTER (NOT regexp_matches(o_orderpriority, '^[1-5]-'))",
        "==",
        0.0,
    ),
]

# Every FK edge of the star schema. lineitem edges are the 100 TB-scale
# ones (anti-join shuffles on the key); the dim edges broadcast.
FK_EDGES = [
    FkEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
    FkEdge("lineitem", "l_partkey", "part", "p_partkey"),
    FkEdge("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    FkEdge("orders", "o_custkey", "customer", "c_custkey"),
    FkEdge("customer", "c_nationkey", "nation", "n_nationkey"),
    FkEdge("supplier", "s_nationkey", "nation", "n_nationkey"),
    FkEdge("nation", "n_regionkey", "region", "r_regionkey"),
]


@register(
    "orders_expectations",
    oracle=sql_expectations("orders", ORDERS_EXPECTATIONS),
    tags=("validation", "expectations", "governance", "extension"),
)
def orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-check expectation suite over orders in ONE scan (wide
    aggregate + stack unpivot); the hash certifies metrics, thresholds,
    and verdicts together."""
    return check_expectations(
        load_table(spark, sf_dir, "orders"), ORDERS_EXPECTATIONS
    )


@register(
    "fk_integrity_report",
    oracle=sql_fk_orphan_report(FK_EDGES),
    tags=("validation", "integrity", "anti-join", "governance", "extension"),
)
def fk_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit for all seven FK edges of the schema — one LEFT
    ANTI join per edge, unioned. The J4 anti-join machinery applied as
    a governance surface."""
    tables = {
        name: load_table(spark, sf_dir, name)
        for name in (
            "lineitem",
            "orders",
            "part",
            "supplier",
            "customer",
            "nation",
            "region",
        )
    }
    return fk_orphan_report(spark, tables, FK_EDGES)
