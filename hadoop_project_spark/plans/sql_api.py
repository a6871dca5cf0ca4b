"""SQL-API surface: queries submitted as ANSI SQL text via
``spark.sql`` over the catalog's registered views — the entry path a
SQL-first user of the engine takes (the reference has no SQL layer at
all; on Spark it is free and produces the identical Catalyst plan the
DataFrame API would).

The SAME SQL string is the DuckDB oracle: one ANSI text, two engines,
hash-equal results — the strongest possible statement that the SQL
entry path is semantically faithful. That constrains the dialect to the
common subset (year(), CAST, DECIMAL arithmetic), which the money-math
house rules already require.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_project_spark.catalog import register_views
from hadoop_project_spark.plans.registry import register

# TPC-H Q7 shape (volume shipping between two nations by year), over the
# test schema's direct customer/supplier nation keys. Decimal-exact
# money math per the house float-parity rule; the year and the final
# revenue are cast so both engines emit identical types.
NATION_TRADE_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(vol) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
               AS vol
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND year(l_shipdate) IN (1995, 1996)
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
"""


@register(
    "nation_trade_volume_sql",
    oracle=NATION_TRADE_SQL,
    tags=("sql-api", "join", "agg", "q7"),
)
def nation_trade_volume_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape submitted as RAW SQL TEXT through spark.sql over the
    registered views — same string DuckDB runs as the oracle. Catalyst
    plans it exactly like the DataFrame form: nation dims broadcast,
    lineitem⋈orders⋈customer shuffles keyed, year filter pushed to the
    scan."""
    register_views(spark, sf_dir)
    return spark.sql(NATION_TRADE_SQL)
