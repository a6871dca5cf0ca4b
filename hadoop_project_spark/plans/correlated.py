"""Correlated-subquery query shapes — the TPC-H Q4/Q17/Q20 family.

The reference has no relational layer, so these cover the classic
decorrelation patterns a user of any SQL-on-big-data engine expects:

* EXISTS with a correlated non-key predicate  → left-semi join with a
  residual condition (Q4 shape);
* scalar subquery per group (avg-derived threshold) → self-aggregation
  joined back on the group key (Q17 shape);
* semi-join against an aggregate-derived threshold over a nested
  aggregation → two-level agg + join (Q20 shape).

Spark-first notes: Catalyst decorrelates these exact shapes when written
as SQL subqueries; the DataFrame forms below ARE the decorrelated plans,
so nothing is left to chance. The Q17/Q20 threshold joins reuse the
aggregation's own hash-partitioning on the join key (one Exchange feeds
both the agg and the join), which is the property that keeps them
scale-safe: no second full-table shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.functions.numeric import dec2
from hadoop_project_spark.plans.registry import register


@register(
    "orders_with_late_items",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
    tags=("join", "subquery", "exists", "J4"),
)
def orders_with_late_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: orders having at least one lineitem shipped 60+ days
    after the order date, counted per priority. The correlated EXISTS
    decorrelates to a left-semi join whose condition carries both the
    key equality and the correlated date predicate (the residual rides
    the same hash join — no second pass)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate >= orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "small_qty_part_revenue",
    oracle="""
    WITH t AS (
      SELECT l_partkey,
             0.2 * AVG(l_quantity) AS qty_thresh
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem JOIN t ON lineitem.l_partkey = t.l_partkey
    WHERE l_quantity < qty_thresh
    """,
    tags=("join", "subquery", "scalar-subquery", "agg"),
)
def small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue from lineitems whose quantity is below 20% of
    their part's average quantity. The correlated scalar subquery
    (per-part average) becomes a self-aggregation joined back on
    l_partkey — the join reuses the aggregation's partitioning, so the
    lineitem table shuffles once, not twice."""
    li = load_table(spark, sf_dir, "lineitem")
    thresh = li.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (F.sum(dec2("l_extendedprice")).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "cheapest_supplier_per_part",
    oracle="""
    WITH up AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_price
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, MIN(unit_price) AS best_price
      FROM up GROUP BY l_partkey
    )
    SELECT up.l_partkey,
           MIN(up.l_suppkey) AS l_suppkey,
           MIN(up.unit_price) AS unit_price
    FROM up JOIN best
      ON up.l_partkey = best.l_partkey AND up.unit_price = best.best_price
    GROUP BY up.l_partkey
    """,
    tags=("join", "subquery", "argmin", "A13"),
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for every part, the supplier quoting the minimum unit
    price (scalar MIN subquery correlated on the part key). Classic
    decorrelation — aggregate the minimum per part, join back on
    (part, price) — rather than a window, because Q2's subquery compares
    against an aggregate of a DIFFERENT relation slice in real TPC-H;
    the join-back form generalizes. The unit price stays a RAW double:
    IEEE division is bit-identical on both engines, and MIN / the
    equality join-back over identical doubles are exact — whereas a
    decimal rounding of the quotient hits half-boundary disagreements
    (Spark HALF_UP on the shortest repr vs DuckDB on the binary value).
    Ties break to the lowest supplier."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    up = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_price"
            )
        )
    )
    best = (
        up.groupBy("l_partkey")
        .agg(F.min("unit_price").alias("best_price"))
        .withColumnRenamed("l_partkey", "bp_partkey")  # disambiguate self-join lineage
    )
    return (
        up.join(
            best,
            (F.col("l_partkey") == F.col("bp_partkey"))
            & (F.col("unit_price") == F.col("best_price")),
        )
        .groupBy("l_partkey")
        .agg(
            F.min("l_suppkey").alias("l_suppkey"),
            F.min("unit_price").alias("unit_price"),
        )
    )


@register(
    "bulk_share_suppliers",
    oracle="""
    WITH sp AS (
      SELECT l_suppkey, l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
      FROM lineitem GROUP BY l_suppkey, l_partkey
    ),
    pt AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS tq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT s_name, COUNT(*) AS n_bulk_parts
    FROM sp
    JOIN pt ON sp.l_partkey = pt.l_partkey
    JOIN supplier ON s_suppkey = sp.l_suppkey
    WHERE CAST(sq AS DOUBLE) > 0.15 * CAST(tq AS DOUBLE)
    GROUP BY s_name
    """,
    tags=("join", "subquery", "agg", "threshold"),
)
def bulk_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers who shipped more than 15% of some part's
    total quantity, with how many such parts each. Nested aggregation
    (per supplier-part, then per part) with an aggregate-derived
    threshold; quantities are summed as DECIMAL (exact) and cast to
    DOUBLE before the single threshold comparison, so the boundary
    decision is bit-identical on both engines. The (supp,part) and
    (part) aggregations share the lineitem scan; supplier is a broadcast
    dim."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(dec2("l_quantity")).alias("sq")
    )
    pt = li.groupBy("l_partkey").agg(F.sum(dec2("l_quantity")).alias("tq"))
    bulk = sp.join(pt, "l_partkey").filter(
        F.col("sq").cast("double") > 0.15 * F.col("tq").cast("double")
    )
    return (
        bulk.join(
            F.broadcast(supp), bulk.l_suppkey == supp.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("n_bulk_parts"))
    )


@register(
    "sole_late_supplier_orders",
    oracle="""
    WITH late AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, COUNT(*) AS n_orders
    FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s_name
    """,
    tags=("join", "subquery", "exists", "not-exists", "J4"),
)
def sole_late_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: per supplier, the multi-supplier orders on which they
    were the ONLY late shipper (late = shipped 60+ days after the order
    date). The correlated EXISTS decorrelates to a left-semi join on the
    distinct (order, supplier) pairs and the correlated NOT EXISTS to a
    left-anti self-join of the late set — both keyed on l_orderkey, so
    the late set shuffles once and every consumer reuses that exchange;
    supplier is a broadcast dim. No driver-side logic anywhere."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    supp = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    l2 = pairs.select(
        F.col("l_orderkey").alias("p_orderkey"),
        F.col("l_suppkey").alias("p_suppkey"),
    )
    multi = late.join(
        l2,
        (F.col("l_orderkey") == F.col("p_orderkey"))
        & (F.col("l_suppkey") != F.col("p_suppkey")),
        "left_semi",
    )
    l3 = late.select(
        F.col("l_orderkey").alias("a_orderkey"),
        F.col("l_suppkey").alias("a_suppkey"),
    )
    sole = multi.join(
        l3,
        (F.col("l_orderkey") == F.col("a_orderkey"))
        & (F.col("l_suppkey") != F.col("a_suppkey")),
        "left_anti",
    )
    return (
        sole.join(F.broadcast(supp), sole.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("n_orders"))
    )
