"""Core relational query plans (SURVEY.md §2.1-§2.6 coverage on the
driver's TPC-H-ish tables).

Each query names the §2 operator rows it exercises. Plans are written so
Catalyst produces the 100-TB-ready physical shape: filters and column
pruning reach the parquet scan, small dimensions broadcast, and the only
shuffles are on genuine aggregation/join keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.functions.numeric import dec2
from hadoop_project_spark.plans.registry import register


# ---------------------------------------------------------------------------
# Flagship: pricing summary (A1/A6 hash agg with partial aggregation; P3
# projection; P4 predicate; pushdown per §4 — the Spark analog of the
# reference's combiner-equipped sum-per-key jobs, WordCount.java:22-53,
# at TPC-H Q1 shape).
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
               * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
        AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "A1", "A6", "P3", "P4"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sums/averages over lineitem with a pushed-down date filter."""
    l = load_table(spark, sf_dir, "lineitem")
    price, disc, tax, qty = (dec2(c) for c in
                             ("l_extendedprice", "l_discount", "l_tax", "l_quantity"))
    one = F.lit(1).cast("decimal(18,2)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-way join with broadcast dims (J1 equi-join; J3 broadcast; §4 join
# strategy). nation/region are tiny → broadcast; the orders⋈lineitem join
# shuffles on the natural key only.
# ---------------------------------------------------------------------------
@register(
    "regional_revenue",
    oracle="""
    SELECT
      n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        AS revenue,
      COUNT(*) AS n_items
    FROM customer
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    tags=("join", "J1", "J3", "A1"),
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation in ASIA — customer⋈nation⋈region⋈orders⋈lineitem."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    cust_in_region = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(cust_in_region, orders.o_custkey == cust_in_region.c_custkey)
        .groupBy("n_name")
        .agg(
            F.sum(dec2("l_extendedprice") * (one - dec2("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Window / secondary sort (O2/O3): top-3 orders per customer. The exact
# semantics the reference built with ~60 LoC of partitioner + key
# comparator + group comparator (Flight2/src/main/java/hw4/HCompute.java:
# 71-129) — one Window spec here.
# ---------------------------------------------------------------------------
@register(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
    tags=("window", "O2", "O3"),
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 by price with deterministic orderkey tie-break."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Grouped ceil-avg + dense domain fill + pivot (A6+A7+A8) — the airline
# month-average matrix of HCompute.java:141-196, re-keyed onto orders.
# ---------------------------------------------------------------------------
_MONTH_CASES = ",\n      ".join(
    f"COALESCE(MAX(CASE WHEN m = {m} THEN a END), 0) AS m{m}" for m in range(1, 13)
)


@register(
    "priority_month_matrix",
    oracle=f"""
    SELECT o_orderpriority,
      {_MONTH_CASES}
    FROM (
      SELECT o_orderpriority, MONTH(o_orderdate) AS m,
             CAST(CEIL(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(*)) AS BIGINT) AS a
      FROM orders
      GROUP BY o_orderpriority, MONTH(o_orderdate)
    )
    GROUP BY o_orderpriority
    """,
    tags=("agg", "A6", "A7", "A8", "F10"),
)
def priority_month_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ceil(avg(price)) per (priority, month), pivoted wide with dense
    1-12 month fill (missing months → 0, HCompute.java:155-175 parity)."""
    orders = load_table(spark, sf_dir, "orders")
    per_month = (
        orders.groupBy("o_orderpriority", F.month("o_orderdate").alias("m"))
        .agg(
            F.ceil(F.sum(dec2("o_totalprice")).cast("double") / F.count("*"))
            .cast("long")
            .alias("a")
        )
    )
    wide = (
        per_month.groupBy("o_orderpriority")
        .pivot("m", list(range(1, 13)))
        .agg(F.first("a"))
    )
    renamed = wide.select(
        "o_orderpriority",
        *[F.col(str(m)).alias(f"m{m}") for m in range(1, 13)],
    )
    return renamed.fillna(0, subset=[f"m{m}" for m in range(1, 13)])


@register(
    "priority_month_matrix_formatted",
    oracle="""
    WITH per AS (
      SELECT o_orderpriority AS p, MONTH(o_orderdate) AS m,
             CAST(CEIL(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(*)) AS BIGINT) AS a
      FROM orders
      GROUP BY o_orderpriority, MONTH(o_orderdate)
    ),
    dense AS (
      SELECT ps.p, ms.m, COALESCE(per.a, 0) AS a
      FROM (SELECT DISTINCT p FROM per) ps
      CROSS JOIN (SELECT CAST(range AS INT) AS m FROM range(1, 13)) ms
      LEFT JOIN per ON per.p = ps.p AND per.m = ms.m
    )
    SELECT p || ',' ||
           string_agg('(' || CAST(m AS VARCHAR) || ',' || CAST(a AS VARCHAR) || ')',
                      ',' ORDER BY m) AS line
    FROM dense
    GROUP BY p
    """,
    tags=("agg", "A8", "O1", "format"),
)
def priority_month_matrix_formatted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A8 output grammar end-to-end: one line per priority,
    `<priority>,(1,<avg>),...,(12,<avg>)` — byte-parity with the
    reference reducer's emitted strings (HCompute.java:148-177),
    including dense month fill and the framework's key ordering (O1).
    Reuses workloads/airline_delay.format_delay_matrix so the
    driver-hashed grammar is the exact code path the golden-replay
    tests exercise."""
    from hadoop_project_spark.workloads.airline_delay import format_delay_matrix

    orders = load_table(spark, sf_dir, "orders")
    per_month = orders.groupBy(
        F.col("o_orderpriority").alias("airline"),
        F.month("o_orderdate").cast("int").alias("month"),
    ).agg(
        F.ceil(F.sum(dec2("o_totalprice")).cast("double") / F.count("*"))
        .cast("long")
        .alias("avg_delay")
    )
    priorities = per_month.select("airline").distinct()
    months = spark.range(1, 13).select(F.col("id").cast("int").alias("month"))
    dense = (
        priorities.crossJoin(F.broadcast(months))
        .join(per_month, ["airline", "month"], "left")
        .select(
            "airline",
            "month",
            F.coalesce("avg_delay", F.lit(0)).alias("avg_delay"),
        )
    )
    return format_delay_matrix(dense)


# ---------------------------------------------------------------------------
# Dense-domain fill via small cross join (A7 standalone): every
# (priority, month) slot even when no orders exist. The dense side is
# tiny → broadcast cross join, no shuffle of the fact table.
# ---------------------------------------------------------------------------
@register(
    "priority_month_dense_counts",
    oracle="""
    SELECT p.o_orderpriority, s.m AS month, COALESCE(c.cnt, 0) AS cnt
    FROM (SELECT DISTINCT o_orderpriority FROM orders) p
    CROSS JOIN (SELECT UNNEST(RANGE(1, 13)) AS m) s
    LEFT JOIN (
      SELECT o_orderpriority, MONTH(o_orderdate) AS m, COUNT(*) AS cnt
      FROM orders GROUP BY 1, 2
    ) c ON c.o_orderpriority = p.o_orderpriority AND c.m = s.m
    """,
    tags=("agg", "A7", "J3"),
)
def priority_month_dense_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts per (priority, month) with explicit zero fill."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(
        "o_orderpriority", F.month("o_orderdate").alias("month")
    ).agg(F.count("*").alias("cnt"))
    priorities = orders.select("o_orderpriority").distinct()
    months = spark.range(1, 13).select(F.col("id").cast("int").alias("month"))
    dense = priorities.crossJoin(F.broadcast(months))
    return (
        dense.join(counts, ["o_orderpriority", "month"], "left")
        .select(
            "o_orderpriority",
            "month",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Anti / semi joins (J4 generalized — the reference only filters,
# PLAIN.java:93-96; a real engine needs the join forms).
# ---------------------------------------------------------------------------
@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "J4"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers that never ordered."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "big_spender_segments",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    GROUP BY c_mktsegment
    """,
    tags=("join", "J4", "A1"),
)
def big_spender_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join + agg: segment counts of customers having a >400k order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Global min/max (A10): the reference needed an in-mapper running
# min/max + single-reducer fold (MinMax.java:48-116); here it's one agg
# with automatic partial aggregation and no single-reducer bottleneck.
# ---------------------------------------------------------------------------
@register(
    "lineitem_global_minmax",
    oracle="""
    SELECT
      CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
      CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
      CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
      CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
      MIN(l_shipdate) AS min_shipdate,
      MAX(l_shipdate) AS max_shipdate,
      COUNT(*) AS n_rows
    FROM lineitem
    """,
    tags=("agg", "A10", "A14"),
)
def lineitem_global_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global min/max over numeric + timestamp columns in one pass."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Weighted mean per group (A11 — the K-Means centroid update formula
# sum(x*w)/sum(w), KMeans.java:178-205, as a relational agg).
# ---------------------------------------------------------------------------
@register(
    "weighted_avg_price_by_flag",
    oracle="""
    SELECT l_returnflag,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "A11"),
)
def weighted_avg_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean price per return flag."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        (
            F.sum(dec2("l_extendedprice") * dec2("l_quantity")).cast("double")
            / F.sum(dec2("l_quantity")).cast("double")
        ).alias("weighted_avg_price")
    )


# ---------------------------------------------------------------------------
# Global argmax (A13 — Summarizer.java:76-87) via max_by, no sort.
# ---------------------------------------------------------------------------
@register(
    "most_valuable_order",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 1
    """,
    tags=("agg", "A13", "O5"),
)
def most_valuable_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row argmax with deterministic tie-break."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(
        1
    ).select("o_orderkey", "o_custkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Distinct counting (extension beyond reference — §2.4 notes the gap).
# ---------------------------------------------------------------------------
@register(
    "order_fanout_stats",
    oracle="""
    SELECT l_linestatus,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey)  AS n_parts,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_linestatus
    """,
    tags=("agg", "distinct"),
)
def order_fanout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per group (expand-based, shuffle on group key)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_linestatus").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Time-bucketed aggregation on the event stream table (batch shape of the
# streaming window op; streaming/ has the readStream twin).
# ---------------------------------------------------------------------------
@register(
    "events_hourly_rollup",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("agg", "time", "streaming-batch"),
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup per event type (batch twin of the
    Structured Streaming window aggregation in streaming/windows.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(dec2("value")).cast("double").alias("total_value"),
    )
