"""Temporal joins, percentiles, set ops, grouping sets, JSON — the
operator families a complete engine needs beyond the reference's seven
job shapes (SURVEY.md §2.3 notes outer/semi/anti/as-of joins are absent
from the reference; §2.7 notes it has no JSON/array functions).

Scale notes are given per query: the as-of join is the union+ordered-
window formulation (one shuffle on the entity key, no point-in-time
probe per row); the range join is an equi-join on the entity key with a
time-range residual so Catalyst never considers a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.functions.numeric import dec2
from hadoop_project_spark.plans.registry import register


# ---------------------------------------------------------------------------
# As-of join: for each purchase, the user's most recent click value at or
# before the purchase time. The reference has nothing like this (§2.3);
# it is the canonical point-in-time join of a feature-store / training-
# data pipeline. Implementation is the scalable union+window form:
# tag both sides, sort (ts, kind) within user, carry the last non-null
# click value forward — exactly one shuffle on user_id regardless of the
# click:purchase ratio, versus the per-row probe a naive join does.
# ---------------------------------------------------------------------------
@register(
    "events_asof_click_before_purchase",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.value AS purchase_value,
           c.click_value AS last_click_value
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("join", "asof", "window"),
)
def events_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join via tagged union + ordered window."""
    ev = load_table(spark, sf_dir, "events")
    # Dedupe clicks to one row per (user, ts) with a deterministic winner
    # so at-or-before semantics are unambiguous on ts ties.
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("kind"),
            "click_value",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("purchase_value"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("double").alias("click_value"),
        "event_id",
        F.col("value").alias("purchase_value"),
    )
    # (ts, kind) ordering puts a same-timestamp click BEFORE the purchase,
    # matching the oracle's `p.ts >= c.ts` at-or-before semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("last_click_value", F.last("click_value", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select("event_id", "user_id", "purchase_value", "last_click_value")
    )


# ---------------------------------------------------------------------------
# Range (interval) join: events in the 5 minutes following each error,
# per user. Equi-join on user_id + time-range residual: Catalyst plans a
# shuffled/broadcast hash join on user_id and evaluates the range as a
# post-match filter — never a cartesian product (same shape as §2.3 J2's
# theta residual). At 100 TB the user_id equi-key bounds the match set.
# ---------------------------------------------------------------------------
@register(
    "events_after_error_5min",
    oracle="""
    SELECT e.event_id AS error_id,
           COUNT(f.event_id) AS n_follow,
           COUNT(CASE WHEN f.event_type = 'purchase' THEN 1 END) AS n_purchases
    FROM events e
    LEFT JOIN events f
      ON f.user_id = e.user_id
     AND f.ts > e.ts
     AND f.ts <= e.ts + INTERVAL 5 MINUTE
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
    tags=("join", "J2", "range"),
)
def events_after_error_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-error count of follow-on activity within a 5-minute window."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    follow = ev.select(
        F.col("event_id").alias("f_id"),
        F.col("user_id").alias("f_user"),
        F.col("ts").alias("f_ts"),
        F.col("event_type").alias("f_type"),
    )
    cond = (
        (follow.f_user == errors.e_user)
        & (follow.f_ts > errors.e_ts)
        & (follow.f_ts <= errors.e_ts + F.expr("INTERVAL 5 MINUTES"))
    )
    return (
        errors.join(follow, cond, "left")
        .groupBy("error_id")
        .agg(
            F.count("f_id").alias("n_follow"),
            F.count(F.when(F.col("f_type") == "purchase", 1)).alias("n_purchases"),
        )
    )


# ---------------------------------------------------------------------------
# Exact percentiles (extension — §2.4 notes the reference has no
# distribution aggregates). Spark's `percentile` and DuckDB's
# percentile_cont share the lower+(upper-lower)*frac interpolation, so
# doubles match bit-for-bit.
# ---------------------------------------------------------------------------
@register(
    "price_percentiles_by_priority",
    oracle="""
    SELECT o_orderpriority,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
           percentile_cont(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
           percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS p75,
           percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS p99
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "percentile"),
)
def price_percentiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles + p99 of order price per priority."""
    orders = load_table(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.25, 0.50, 0.75, 0.99))")
    return (
        orders.groupBy("o_orderpriority")
        .agg(pct.alias("pct"))
        .select(
            "o_orderpriority",
            F.col("pct")[0].alias("p25"),
            F.col("pct")[1].alias("p50"),
            F.col("pct")[2].alias("p75"),
            F.col("pct")[3].alias("p99"),
        )
    )


# ---------------------------------------------------------------------------
# Full outer join with coalesced keys (§2.3 notes outer joins absent from
# the reference). Order-day activity vs event-day activity; either side
# may be missing a day.
# ---------------------------------------------------------------------------
@register(
    "daily_activity_full_outer",
    oracle="""
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    e AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT COALESCE(o.d, e.d) AS d,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_events, 0) AS n_events
    FROM o FULL OUTER JOIN e ON o.d = e.d
    """,
    tags=("join", "outer"),
)
def daily_activity_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day order and event counts, keeping days seen on either side."""
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    o = orders.groupBy(F.to_date("o_orderdate").alias("od")).agg(
        F.count("*").alias("n_orders")
    )
    e = ev.groupBy(F.to_date("ts").alias("ed")).agg(F.count("*").alias("n_events"))
    return (
        o.join(e, o.od == e.ed, "full_outer")
        .select(
            F.coalesce(o.od, e.ed).alias("d"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Lag-based inter-arrival gaps (window O2 generalized to lag/lead).
# Gap arithmetic on unix_micros keeps everything exact-integer until one
# final double division (deterministic across engines).
# ---------------------------------------------------------------------------
@register(
    "user_event_gaps",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap
      FROM events
    )
    SELECT user_id,
           COUNT(gap) AS n_gaps,
           CAST(SUM(gap) AS DOUBLE) / COUNT(gap) AS avg_gap_us,
           MAX(gap) AS max_gap_us
    FROM g WHERE gap IS NOT NULL
    GROUP BY user_id
    """,
    tags=("window", "lag", "O2"),
)
def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap stats (microsecond-exact lag arithmetic)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap").alias("n_gaps"),
        (F.sum("gap").cast("double") / F.count("gap")).alias("avg_gap_us"),
        F.max("gap").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# Set operations (absent from the reference; table-stakes for an engine).
# ---------------------------------------------------------------------------
@register(
    "repeat_buyers_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996
    """,
    tags=("setop",),
)
def repeat_buyers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who ordered in both 1995 and 1996 (INTERSECT dedupes)."""
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@register(
    "never_urgent_buyers_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("setop",),
)
def never_urgent_buyers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1995 buyers who never placed an urgent order (EXCEPT dedupes).

    Chosen over a year-vs-year EXCEPT because at this data density every
    1995 buyer also buys later — that variant is an always-empty set and
    proves nothing.
    """
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return y95.subtract(urgent)


# ---------------------------------------------------------------------------
# GROUPING SETS with grouping_id (rollup/cube live in relational2; this
# is the general form, using Spark 4's DataFrame.groupingSets).
# ---------------------------------------------------------------------------
@register(
    "orders_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    tags=("agg", "grouping-sets"),
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: (status, priority), (status), grand total."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum(dec2("o_totalprice")).cast("double").alias("total_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price"
        )
    )


# ---------------------------------------------------------------------------
# JSON extraction (§2.7: the reference has no JSON functions — required
# for the events.props payload).
# ---------------------------------------------------------------------------
@register(
    "events_props_json_buckets",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    tags=("json", "agg"),
)
def events_props_json_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group by a key extracted from the JSON props column."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec2("value")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q3-shaped shipping-priority top-k: segment-filtered 3-way join,
# grouped revenue, deterministic top 10. customer side is filtered then
# broadcast; lineitem⋈orders shuffles on the order key only.
# ---------------------------------------------------------------------------
@register(
    "shipping_priority_topk",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "topk", "J1", "J3"),
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped BUILDING-segment orders by discounted revenue."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(18,2)")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec2("l_extendedprice") * (one - dec2("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Deterministic per-group argmax returning the whole row (O3/A13 as a
# row-valued op; most_valuable_order in relational.py is the global
# scalar form).
# ---------------------------------------------------------------------------
@register(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
    tags=("window", "O3", "A13"),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole latest-event row per user with a deterministic tie-break."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Approximate percentiles (the sketch-based twin of
# price_percentiles_by_priority; rows-only driver check, tolerance
# asserted vs the exact quantiles in tests/test_plan_shapes.py's
# companion test below). At 100 TB approx_percentile's QuantileSummaries
# sketch is mergeable map-side — the exact percentile's full sort per
# group is not.
# ---------------------------------------------------------------------------
@register(
    "approx_price_percentiles",
    oracle="""
    SELECT o_orderpriority,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "percentile", "approx", "extension"),
)
def approx_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile quartiles of order price per priority
    (accuracy 10000 ≈ ±0.01% rank error).

    Sketch values are engine-specific, so the hashable output is a
    rank-window bounds check: each sketch quartile must lie between the
    exact interpolated quantiles at q ± 0.02 (a ±2-centile window —
    generous vs the sketch's 1e-4 rank error, but tight enough to catch
    a broken sketch, and value-scale-free so it holds at every SF). The
    oracle derives the same priority keys with TRUE constants, making
    the driver hash a per-group accuracy gate
    (`price_percentiles_by_priority` hash-verifies exact values)."""
    orders = load_table(spark, sf_dir, "orders")
    pct = F.expr(
        "approx_percentile(o_totalprice, array(0.25, 0.50, 0.75), 10000)"
    )
    lo = F.expr("percentile(o_totalprice, array(0.23, 0.48, 0.73))")
    hi = F.expr("percentile(o_totalprice, array(0.27, 0.52, 0.77))")
    ok = [
        (
            (F.col("pct")[i] >= F.col("lo")[i])
            & (F.col("pct")[i] <= F.col("hi")[i])
        ).alias(f"p{q}_ok")
        for i, q in enumerate((25, 50, 75))
    ]
    return (
        orders.groupBy("o_orderpriority")
        .agg(pct.alias("pct"), lo.alias("lo"), hi.alias("hi"))
        .select("o_orderpriority", *ok)
    )


# ---------------------------------------------------------------------------
# Rolling (RANGE-frame) window aggregate — the moving-average class the
# window suite hadn't covered (row_number/lag/rank are ROWS-frame ops).
# The frame is time-based (6 days preceding + current), so days with no
# neighbors aggregate only themselves — different semantics from a
# 7-ROWS frame over a dense calendar.
# ---------------------------------------------------------------------------
@register(
    "daily_revenue_rolling_7d",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
      FROM orders GROUP BY 1
    )
    SELECT d, CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(SUM(rev_dec) OVER (
             ORDER BY d RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS revenue_7d,
           COUNT(*) OVER (
             ORDER BY d RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS days_in_window
    FROM daily
    """,
    tags=("window", "rolling", "range-frame"),
)
def daily_revenue_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue per order day via a RANGE window frame.

    Spark expresses time-RANGE frames on the epoch-seconds ordering
    column with second offsets; summing the day-level decimal-exact
    revenues (not raw rows) keeps the double bit-identical to the
    oracle. Single-partition window is intentional here (one row per
    day); at 100 TB the same pattern partitions by entity
    (user/region) first.
    """
    orders = load_table(spark, sf_dir, "orders")
    # keep the day-level sum in decimal through the window: windowed SUM
    # over doubles accumulates in engine-specific order (DuckDB uses a
    # segment tree) — decimal is order-independent, cast double LAST
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(dec2("o_totalprice")).alias("rev_dec")
    )
    day_secs = 86400
    w = (
        Window.orderBy(F.unix_timestamp(F.col("d").cast("timestamp")))
        .rangeBetween(-6 * day_secs, 0)
    )
    return daily.select(
        "d",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.sum("rev_dec").over(w).cast("double").alias("revenue_7d"),
        F.count("*").over(w).alias("days_in_window"),
    )


# ---------------------------------------------------------------------------
# Rank-family window functions (percent_rank / cume_dist / ntile) —
# completes the window-function surface beyond row_number/lag/rolling.
# All three are exact-rational per group, so doubles match the oracle.
# ---------------------------------------------------------------------------
@register(
    "order_rank_stats",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd,
           NTILE(4) OVER w AS quartile
    FROM orders
    WHERE YEAR(o_orderdate) = 1997
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window", "rank", "O2"),
)
def order_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / quartile of each 1997 order within its
    priority class (deterministic orderkey tie-break)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1997
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
    )


# ---------------------------------------------------------------------------
# Ordered funnel (view → click → purchase): per-user stage timestamps
# chained by strict event-time order. The standard product-analytics
# shape; each stage is one groupBy(user) + one equi-join back — no
# window over the whole event stream needed.
# ---------------------------------------------------------------------------
@register(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
       AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 24 HOUR
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
       AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 24 HOUR
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchased_after_click
    """,
    tags=("funnel", "join", "agg"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users progressing view → click → purchase, each stage within 24h
    of the previous (a saturating no-deadline funnel converts everyone
    in this dense synthetic data — the window makes the stages
    discriminate: 150 → 60 → 25 at sf0.01)."""
    ev = load_table(spark, sf_dir, "events")

    def stage(event_type: str, prev, prev_ts: str, out_ts: str):
        e = ev.filter(F.col("event_type") == event_type)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(out_ts))
        return (
            e.join(prev, "user_id")
            .filter(
                (F.col("ts") > F.col(prev_ts))
                & (F.col("ts") <= F.col(prev_ts) + F.expr("INTERVAL 24 HOURS"))
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    v = stage("view", None, "", "t_view")
    c = stage("click", v, "t_view", "t_click")
    p = stage("purchase", c, "t_click", "t_purchase")
    return (
        v.agg(F.count("*").alias("n_viewed"))
        .crossJoin(c.agg(F.count("*").alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchased_after_click")))
    )


# ---------------------------------------------------------------------------
# Heterogeneous UNION ALL: orders and purchase events harmonized into
# one activity feed, then rolled up monthly per kind — the multi-source
# append shape (type harmonization + union + shared agg).
# ---------------------------------------------------------------------------
@register(
    "activity_feed_monthly",
    oracle="""
    WITH feed AS (
      SELECT 'order' AS kind, o_orderdate AS at,
             CAST(o_totalprice AS DECIMAL(18,2)) AS amount
      FROM orders
      UNION ALL
      SELECT 'purchase' AS kind, ts AS at,
             CAST(value AS DECIMAL(18,2)) AS amount
      FROM events WHERE event_type = 'purchase'
    )
    SELECT kind,
           CAST(DATE_TRUNC('month', at) AS TIMESTAMP) AS month,
           COUNT(*) AS n_rows,
           CAST(SUM(amount) AS DOUBLE) AS total_amount
    FROM feed
    GROUP BY kind, DATE_TRUNC('month', at)
    """,
    tags=("union", "agg"),
)
def activity_feed_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly rollup of a two-source activity feed (orders ∪ purchase
    events) with harmonized schema."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit("order").alias("kind"),
        F.col("o_orderdate").alias("at"),
        dec2("o_totalprice").alias("amount"),
    )
    purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.lit("purchase").alias("kind"),
            F.col("ts").alias("at"),
            dec2("value").alias("amount"),
        )
    )
    return (
        orders.unionByName(purchases)
        .groupBy("kind", F.date_trunc("month", "at").alias("month"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("amount").cast("double").alias("total_amount"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding windows in BATCH (the oracle-checked twin of
# streaming/windows.sliding_rollup_stream): every event lands in
# window/slide = 4 overlapping 1-hour windows. The oracle derives the
# same window set arithmetically: the windows containing ts start at
# floor15(ts) - k*15min for k in 0..3.
# ---------------------------------------------------------------------------
@register(
    "events_sliding_hourly",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '15 minutes', ts)
                - k * INTERVAL '15 minutes' AS TIMESTAMP) AS w_start,
           event_type,
           COUNT(*) AS n_events
    FROM events, UNNEST(RANGE(0, 4)) t(k)
    GROUP BY 1, 2
    """,
    tags=("window", "sliding", "time", "streaming-batch"),
)
def events_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts per (1h window sliding every 15min, event_type)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events")
    )


# ---------------------------------------------------------------------------
# Two-pass global-stats → per-row bucketing: equal-width histogram of
# order price. This is the reference's MinMax → CGenerator shape
# (final/src/main/java/population/MinMax.java feeding CGenerator.java):
# a global aggregate whose scalar result parameterizes the next pass —
# here via a 1-row broadcast cross join instead of an HBase singleton
# row round-trip.
# ---------------------------------------------------------------------------
@register(
    "price_histogram",
    oracle="""
    WITH stats AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    )
    SELECT LEAST(CAST(FLOOR((o_totalprice - lo) / (hi - lo) * 10) AS INT), 9)
             AS bucket,
           COUNT(*) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS bucket_min,
           CAST(MAX(o_totalprice) AS DOUBLE) AS bucket_max
    FROM orders, stats
    GROUP BY 1
    """,
    tags=("agg", "histogram", "A10", "two-pass"),
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket equal-width histogram; bucket edges from a global
    min/max pass broadcast into the bucketing pass."""
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo"))
                / (F.col("hi") - F.col("lo")) * 10).cast("int"),
        F.lit(9),
    )
    return (
        orders.crossJoin(F.broadcast(stats))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("bucket_min"),
            F.max("o_totalprice").cast("double").alias("bucket_max"),
        )
    )


# ---------------------------------------------------------------------------
# Correlation from exact sufficient statistics: built-in corr() differs
# across engines in accumulation order/algorithm, so the moments are
# decimal-exact sums and the Pearson formula is applied once at the end
# — bit-identical doubles on both sides.
# ---------------------------------------------------------------------------
@register(
    "qty_price_correlation",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS corr_qty_price
    FROM m
    """,
    tags=("agg", "statistics"),
)
def qty_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs price per return flag, from
    decimal-exact moment sums."""
    l = load_table(spark, sf_dir, "lineitem")
    qty, price = dec2("l_quantity"), dec2("l_extendedprice")
    m = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qty).alias("sx"),
        F.sum(price).alias("sy"),
        F.sum(qty * qty).alias("sxx"),
        F.sum(price * price).alias("syy"),
        F.sum(qty * price).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    return m.select(
        "l_returnflag",
        "n",
        ((n * sxy - sx * sy)
         / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
         ).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Distribution ranks over a total order — ntile / percent_rank /
# cume_dist WITHOUT the single-task global window (extension; the
# scalable-ranking analog of the reference's total-order sort, §2.5 O1).
# ---------------------------------------------------------------------------
@register(
    "customer_value_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS spend
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, spend,
           CAST(rank() OVER w AS BIGINT) AS rank,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(ntile(10) OVER w AS INT) AS bucket
    FROM spend
    WINDOW w AS (ORDER BY spend, o_custkey)
    """,
    tags=("window", "ranking", "extension"),
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer lifetime spend ranked globally: exact rank,
    percent_rank, cume_dist, and spend decile via
    operators/ranking.global_distribution_ranks — range-repartition +
    mapInPandas local ranks + prefix-sum offsets, never a
    parallelism-1 global window (the oracle's window functions ARE that
    naive plan, so the hash match proves the distributed formulation
    exactly reproduces it)."""
    from hadoop_project_spark.operators.ranking import (
        global_distribution_ranks,
    )

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(dec2("o_totalprice")).cast("double").alias("spend")
    )
    return global_distribution_ranks(
        spend, [F.col("spend"), F.col("o_custkey")], ntile_k=10
    )
