"""Pipeline-diagnostic queries: key-skew profiling (the measurement
that justifies the salting operators) and snapshot diffing (CDC-style
run-over-run comparison). All are hash-verified by
tests/test_oracle_parity.py every CI run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.operators.profile import (
    column_profile,
    sql_column_profile,
)
from hadoop_project_spark.operators.skew import key_skew_profile
from hadoop_project_spark.operators.snapshot import (
    diff_summary,
    snapshot_diff,
    sql_row_hash,
)
from hadoop_project_spark.plans.registry import register

# Deterministic synthetic "next snapshot" of orders: drop keys ≡ 0
# (mod 101), bump totalprice on keys ≡ 1 (mod 97), add shifted copies
# of keys ≡ 5 (mod 103). Constants are primes so the classes overlap
# minimally and every diff status is non-empty at every SF.
DROP_MOD, CHANGE_MOD, ADD_MOD, ADD_SHIFT = 101, 97, 103, 10_000_000

_HASH = sql_row_hash(["o_totalprice", "o_orderpriority"])


@register(
    "events_key_skew_profile",
    oracle="""
    WITH pk AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
           CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_key_rows,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY cnt) AS p50_key_rows,
           percentile_cont(0.99) WITHIN GROUP (ORDER BY cnt) AS p99_key_rows,
           CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS max_share,
           CAST(MAX(cnt) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(cnt) AS DOUBLE) AS skew_ratio
    FROM pk
    """,
    tags=("diagnostics", "skew", "extension"),
)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key row-count distribution of events.user_id — n_keys, max,
    avg, exact p50/p99, hottest-key share and the max/avg straggler
    ratio that decides whether the salting operators pay for
    themselves."""
    events = load_table(spark, sf_dir, "events")
    return key_skew_profile(events, ["user_id"])


@register(
    "orders_snapshot_diff",
    oracle=f"""
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % {CHANGE_MOD} = 1
                  THEN o_totalprice + 1.00 ELSE o_totalprice END
               AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % {DROP_MOD} <> 0
      UNION ALL
      SELECT o_orderkey + {ADD_SHIFT}, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % {ADD_MOD} = 5
    ),
    o AS (SELECT o_orderkey, {_HASH} AS h FROM old),
    n AS (SELECT o_orderkey, {_HASH} AS h FROM new),
    j AS (
      SELECT CASE WHEN o.h IS NULL THEN 'added'
                  WHEN n.h IS NULL THEN 'removed'
                  WHEN o.h = n.h THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    )
    SELECT status, COUNT(*) AS n_rows FROM j GROUP BY status
    """,
    tags=("diagnostics", "diff", "cdc", "extension"),
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff of orders against a deterministically mutated next
    version: (status, n_rows) for added/removed/changed/unchanged. Both
    engines construct the mutation independently and run their own
    full-outer hash diff — the hashes never cross engines, so only the
    diff SEMANTICS must agree. One keyed shuffle of (key, 16-byte
    hash); row payloads never cross an exchange."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    changed_price = F.when(
        F.col("o_orderkey") % CHANGE_MOD == 1, F.col("o_totalprice") + 1.00
    ).otherwise(F.col("o_totalprice"))
    new = (
        orders.where(F.col("o_orderkey") % DROP_MOD != 0)
        .withColumn("o_totalprice", changed_price)
        .unionByName(
            orders.where(F.col("o_orderkey") % ADD_MOD == 5).withColumn(
                "o_orderkey", F.col("o_orderkey") + ADD_SHIFT
            )
        )
    )
    diff = snapshot_diff(
        orders, new, ["o_orderkey"], ["o_totalprice", "o_orderpriority"]
    )
    return diff_summary(diff)


_PROF_NUM = ["l_quantity", "l_extendedprice", "l_discount"]
_PROF_STR = ["l_returnflag", "l_linestatus"]


@register(
    "lineitem_column_profile",
    oracle=sql_column_profile("lineitem", _PROF_NUM, _PROF_STR),
    tags=("diagnostics", "analyze", "stats", "extension"),
)
def lineitem_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column stats for five lineitem columns off ONE
    scan (a single wide aggregate unpivoted with stack): null counts,
    exact distinct counts, numeric min/max, string length bounds."""
    li = load_table(spark, sf_dir, "lineitem")
    return column_profile(li, _PROF_NUM, _PROF_STR)


@register(
    "user_state_history_scd2",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    isl AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS grp
      FROM seq
    ),
    runs AS (
      SELECT user_id, grp, event_type,
             MIN(ts) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM isl GROUP BY user_id, grp, event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             AS valid_to,
           n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             IS NULL AS is_current
    FROM runs
    """,
    tags=("diagnostics", "scd2", "gaps-and-islands", "extension"),
)
def user_state_history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style state history from the event log: consecutive equal
    event_type runs per user collapse into validity intervals
    [valid_from, valid_to) with the open current row flagged — the
    gaps-and-islands shape (change-flag → running island id → per-island
    aggregate → lead for interval close). All windows partition by
    user_id: per-user state only, no global ordering anywhere."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0)
    )
    isl = events.select(
        "user_id", "event_id", "ts", "event_type", chg.alias("chg")
    ).withColumn(
        "grp",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = isl.groupBy("user_id", "grp", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )
