"""Deep multi-join analytics in the TPC-H Q8/Q14 shape — the widest
join trees in the engine's query surface.

The reference's join coverage tops out at two-table repartition joins
(Flight2/src/main/java/hw4/HPopulate.java + HCompute.java — SURVEY.md
§2 J1-J4); production OLAP needs the 6-8 relation snowflake with
conditional-share aggregation on top. These two queries exist to prove
the engine (and its plans) handle that shape well: every dimension side
is explicitly broadcast, the fact table shuffles only for the final
group-by, and the share ratios are decimal-sum exact so the hash gate
holds (functions/numeric.py).

Market-share conventions follow the public TPC-H spec (Q8: nation
share within a region for one part type, by order year; Q14: promo
revenue percentage) re-targeted at the synthetic testdata's dimension
values (p_type ∈ {ECONOMY,...}, regions {ASIA, EUROPE, ...},
nations NATION_0..24).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.functions.numeric import dec2
from hadoop_project_spark.plans.registry import register

_SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)

_SHARE_NATION = "NATION_3"
_SHARE_REGION = "EUROPE"
_SHARE_PTYPE = "ECONOMY"


def _rev() -> F.Column:
    one = F.lit(1).cast("decimal(18,2)")
    return dec2("l_extendedprice") * (one - dec2("l_discount"))


@register(
    "national_market_share",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN sn.n_name = '{_SHARE_NATION}'
                         THEN {_SQL_REV}
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({_SQL_REV}) AS DOUBLE) AS mkt_share,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS total_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN part     ON l_partkey  = p_partkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region   ON cn.n_regionkey = r_regionkey
    WHERE p_type = '{_SHARE_PTYPE}' AND r_name = '{_SHARE_REGION}'
    GROUP BY year(o_orderdate)
    """,
    tags=("join", "J3", "A5", "tpch", "q8"),
)
def national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of ECONOMY-part revenue
    sold to EUROPE customers, by order year.

    Eight relations; the physical plan the 100 TB cluster wants —
    part/supplier/nation/region reduce to small filtered dims and are
    broadcast (part is pre-filtered on p_type before the hint, so the
    broadcast ships only the selective slice), orders⋈lineitem is the
    one fact-fact shuffle, and the share is a conditional decimal sum so
    Spark's partial aggregation and DuckDB's scan agree bit-for-bit
    after the final double division.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount",
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == _SHARE_PTYPE)
        .select("p_partkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    cn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_regionkey"),
    )
    region = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == _SHARE_REGION)
        .select("r_regionkey")
    )
    cust_in_region = customer.join(
        F.broadcast(cn), customer.c_nationkey == cn.cn_key
    ).join(
        F.broadcast(region), F.col("cn_regionkey") == region.r_regionkey
    ).select("c_custkey")
    rev = _rev()
    nation_rev = F.when(
        F.col("sn_name") == _SHARE_NATION, rev
    ).otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(sn), supplier.s_nationkey == sn.sn_key)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_in_region, orders.o_custkey == cust_in_region.c_custkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (F.sum(nation_rev).cast("double") / F.sum(rev).cast("double"))
            .alias("mkt_share"),
            F.sum(rev).cast("double").alias("total_revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "promo_revenue_share",
    oracle=f"""
    SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           CAST(month(l_shipdate) AS BIGINT) AS ship_month,
           CAST(100 AS DOUBLE)
             * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN {_SQL_REV}
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({_SQL_REV}) AS DOUBLE) AS promo_pct,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY year(l_shipdate), month(l_shipdate)
    """,
    tags=("join", "J3", "A5", "tpch", "q14"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly percentage of revenue from PROMO parts
    over the 1996 ship year.

    The ship-date range is a pushed-down scan predicate (min/max row-
    group pruning at scale); part broadcasts whole since only
    (p_partkey, p_type) survives pruning. Same conditional-decimal
    share discipline as national_market_share.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev()
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("long").alias("ship_year"),
            F.month("l_shipdate").cast("long").alias("ship_month"),
        )
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo_rev).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_pct"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )
