"""Second relational batch: multi-level aggregation (rollup/cube),
batch sessionization, ranked windows, and join-back patterns — rounding
out the §2 generalizations the oracle can verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.functions.numeric import dec2
from hadoop_project_spark.plans.registry import register


@register(
    "lineitem_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup", "extension"),
)
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP: (flag, status), (flag), (all) —
    the multi-level aggregation family absent from the reference
    (SURVEY.md §2.4 'not present')."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
    )


@register(
    "orders_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube", "extension"),
)
def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations over (status, priority)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


@register(
    "events_sessionization_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, event_id, value,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
    tags=("window", "sessionization", "extension"),
)
def events_sessionization_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) via lag + running sum — the
    batch twin of streaming/windows.sessionize_stream; shuffle is one
    hash partition by user_id reused by both windows and the final agg."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "ts", "event_id", "value",
        F.when(
            (F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long") > 1800)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0).alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum(dec2("value")).cast("double").alias("session_value"),
    )


@register(
    "events_top_users",
    oracle="""
    SELECT user_id, total_value, n_events, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT user_id, total_value, n_events,
             DENSE_RANK() OVER (ORDER BY total_value DESC, user_id) AS rnk
      FROM (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
               COUNT(*) AS n_events
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
      )
    )
    WHERE rnk <= 20
    """,
    tags=("window", "topk", "agg"),
)
def events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 purchasers by exact decimal spend with dense ranking."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    totals = ev.groupBy("user_id").agg(
        F.sum(dec2("value")).cast("double").alias("total_value"),
        F.count("*").alias("n_events"),
    )
    # dense_rank ≤ 20 ⟺ total_value among the top-20 DISTINCT totals, so
    # derive that threshold with a distributed TakeOrdered (orderBy+limit
    # never materializes a single-task sort) and pre-filter before the
    # global window — the unpartitioned dense_rank then runs on O(20 +
    # ties) rows instead of every user (the single-task-window scale
    # killer WindowExec warns about at 100 TB).
    top_vals = (
        totals.select("total_value").distinct()
        .orderBy(F.desc("total_value")).limit(20)
    )
    thresh = top_vals.agg(F.min("total_value").alias("_mv"))
    cand = totals.crossJoin(F.broadcast(thresh)).filter(
        F.col("total_value") >= F.col("_mv")
    )
    w = Window.orderBy(F.col("total_value").desc(), F.col("user_id"))
    return cand.select(
        "user_id", "total_value", "n_events", F.dense_rank().over(w).alias("rnk")
    ).filter(F.col("rnk") <= 20)


@register(
    "orders_above_customer_avg",
    oracle="""
    SELECT o.o_custkey, COUNT(*) AS n_above
    FROM orders o
    JOIN (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_price
      FROM orders GROUP BY o_custkey
    ) a ON o.o_custkey = a.o_custkey
    WHERE o.o_totalprice > a.avg_price
    GROUP BY o.o_custkey
    """,
    tags=("join", "agg", "subquery"),
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-back-to-aggregate (correlated-subquery shape): orders above
    their customer's own average price. One shuffle on o_custkey shared
    by the aggregate and the join."""
    o = load_table(spark, sf_dir, "orders")
    avgs = o.groupBy("o_custkey").agg(
        (F.sum(dec2("o_totalprice")).cast("double") / F.count("*")).alias("avg_price")
    )
    return (
        o.join(avgs, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_above"))
    )


@register(
    "part_popularity",
    oracle="""
    SELECT p.p_brand, p.p_type,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           COUNT(*) AS n_lineitems
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand, p.p_type
    """,
    tags=("join", "J3", "agg"),
)
def part_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dimension with explicit broadcast of the small side: at
    100 TB lineitem never shuffles for this join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            F.sum(dec2("l_quantity")).cast("double").alias("total_qty"),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "supplier_nation_balance",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
           COUNT(*) AS n_suppliers,
           CAST(MAX(s_acctbal) AS DOUBLE) AS max_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("join", "agg"),
)
def supplier_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier balances per nation (broadcast dim join)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(dec2("s_acctbal")).cast("double").alias("total_bal"),
            F.count("*").alias("n_suppliers"),
            F.max("s_acctbal").cast("double").alias("max_bal"),
        )
    )


@register(
    "events_timespine_gapfill",
    oracle="""
    WITH bucketed AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS bucket,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, MIN(ts)) AS lo,
             time_bucket(INTERVAL 15 MINUTE, MAX(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS bucket
      FROM b
    )
    SELECT spine.bucket,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           COALESCE(total_value, 0.0) AS total_value
    FROM spine LEFT JOIN bucketed ON spine.bucket = bucketed.bucket
    """,
    tags=("time", "gapfill", "spine", "A7", "extension"),
)
def events_timespine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-series output over a generated 15-minute spine:
    buckets with no events appear with zero counts (A7's dense-domain
    fill generalized from the airline month matrix to a time spine).

    Scale shape: the spine is sequence(min, max, 15 min) exploded from
    ONE aggregate row — size = time-range/step regardless of data
    volume — then a left join against the bucketed aggregate on the
    bucket key. Spark's window(ts, '15 minutes') and DuckDB's
    time_bucket both align to epoch-divisible boundaries, so the keys
    agree exactly."""
    ev = load_table(spark, sf_dir, "events")
    bucketed = (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec2("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket"), "n_events", "total_value")
    )
    # spine: one row of (lo, hi) bucket starts -> exploded sequence
    lo_hi = ev.agg(
        F.min("ts").alias("lo_ts"), F.max("ts").alias("hi_ts")
    ).select(
        # floor, not cast-truncation: cast('long') truncates toward zero,
        # which for pre-1970 (negative-epoch) timestamps would round the
        # bucket start UP, disagreeing with window()/time_bucket flooring.
        F.timestamp_seconds(
            F.floor(F.unix_timestamp("lo_ts") / 900).cast("long") * 900
        ).alias("lo"),
        F.timestamp_seconds(
            F.floor(F.unix_timestamp("hi_ts") / 900).cast("long") * 900
        ).alias("hi"),
    )
    spine = lo_hi.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 15 MINUTES"))
        ).alias("bucket")
    )
    return (
        spine.join(bucketed, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )


@register(
    "lineitem_measures_unpivot",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
    """,
    tags=("agg", "unpivot", "reshape", "extension"),
)
def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the built-in unpivot (melt) — the inverse
    of the A8 pivot family. The wide aggregate computes once; unpivot is
    a zero-shuffle projection expansion (each output row group stays on
    its input row's partition)."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec2("l_extendedprice")).cast("double").alias("sum_price"),
        F.sum(dec2("l_discount")).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    )


@register(
    "events_session_window_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
    tags=("window", "sessionization", "session-window", "streaming-batch", "extension"),
)
def events_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the built-in session_window — the exact
    grouping Structured Streaming uses for stateful session aggregation
    (streaming/windows.sessionize_stream), run in batch so the driver
    hash anchors the streaming semantics.

    session_window's gap rule differs from the lag-based formulation in
    events_sessionization_batch: a session is the half-open interval
    [first_ts, last_ts + gap), so an event exactly `gap` after its
    predecessor starts a NEW session (lag-based `> gap` keeps it). The
    oracle therefore flags new sessions on `>=` and derives session_end
    as max(ts) + gap — byte-matching Spark's window.end."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec2("value")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@register(
    "approx_distinct_users_daily",
    oracle="""
    SELECT CAST(ts AS DATE) AS d, TRUE AS within_5pct
    FROM events GROUP BY CAST(ts AS DATE)
    """,
    tags=("agg", "approx", "extension"),
)
def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per day — the sketch path
    for 100 TB cardinality work.

    The sketch estimate itself is engine-specific, so the hashable
    output is the bounds check: both the HLL estimate (rsd 0.02) and the
    exact distinct count run in one groupBy, and each day emits
    within_5pct = |approx − exact| ≤ 5% · exact. The oracle derives the
    same day keys with TRUE constants, so the driver hash verifies the
    sketch's accuracy claim on every group. The exact twin
    `exact_distinct_users_daily` hash-verifies the counts themselves."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "d",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
    )


@register(
    "exact_distinct_users_daily",
    oracle="""
    SELECT CAST(ts AS DATE) AS d, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY CAST(ts AS DATE)
    """,
    tags=("agg", "distinct"),
)
def exact_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily distinct users (the verification twin of the HLL
    sketch query)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.countDistinct("user_id").alias("n_users")
    )


@register(
    "events_user_rollup_salted",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
    tags=("agg", "skew", "R4"),
)
def events_user_rollup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rollup computed through the two-phase SALTED aggregation
    (operators/skew.py R4): phase 1 groups on (user_id, salt) so a hot
    user's rows spread over 16 reduce tasks, phase 2 merges the partial
    rows. The oracle is the plain one-phase GROUP BY — the hash match
    proves salting is a pure placement transform (partials go through
    decimal so the two-phase merge is order-exact)."""
    from hadoop_project_spark.operators.skew import salted_groupby_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_groupby_agg(
        ev,
        keys=["user_id"],
        partial_aggs=[
            F.count("*").alias("pc"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
        ],
        merge_aggs=[
            F.sum("pc").alias("n_events"),
            F.sum("pv").cast("double").alias("total_value"),
        ],
        n_salts=16,
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH fa AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    counts AS (
      SELECT f.cohort_day,
             CAST(a.d - f.cohort_day AS BIGINT) AS day_offset,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM fa f JOIN act a USING (user_id)
      GROUP BY f.cohort_day, a.d - f.cohort_day
    )
    SELECT c.cohort_day, c.day_offset, c.n_users,
           CAST(c.n_users AS DOUBLE) / CAST(s.n_users AS DOUBLE)
             AS retained_frac
    FROM counts c
    JOIN counts s
      ON s.cohort_day = c.cohort_day AND s.day_offset = 0
    """,
    tags=("cohort", "retention", "analytics", "extension"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix at day grain (the testdata spans one
    month): users grouped by first-activity day, counted on each later
    active day, with the retained fraction against the cohort's day-0
    size.

    Window-free formulation — two aggregates (first activity per user,
    distinct user-days) joined on user_id, so each stage is a plain
    keyed shuffle that scales with distinct (user, day) pairs, never
    with raw event volume past the first aggregate. Day arithmetic is
    integer date subtraction (identical in both engines); cohort sizes
    ride a broadcast self-join on the offset-0 rows.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    fa = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    act = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    counts = (
        fa.join(act, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
    )
    sizes = counts.filter(F.col("day_offset") == 0).select(
        "cohort_day", F.col("n_users").alias("_size")
    )
    return (
        counts.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "n_users",
            (F.col("n_users").cast("double") / F.col("_size").cast("double"))
            .alias("retained_frac"),
        )
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS ed FROM events),
    dau AS (
      SELECT ed AS d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY ed
    ),
    wau AS (
      SELECT days.d, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM days JOIN ud u
        ON u.ed BETWEEN days.d - INTERVAL 6 DAY AND days.d
      GROUP BY days.d
    )
    SELECT dau.d, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    """,
    tags=("analytics", "dau", "wau", "range-join", "extension"),
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day: daily actives over trailing-7-day
    actives — the windowed-DISTINCT aggregate no plain window frame can
    express (distinct doesn't decompose), solved as a day-spine range
    join.

    The distinct (user, day) relation is built ONCE (one shuffle,
    cardinality ≤ users×days, far below raw events); the 7-day range
    join fans each user-day to at most 7 spine days — bounded
    amplification, and the spine side broadcasts at any scale. The
    trailing-distinct count then shuffles on the spine day.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("ed")
    )
    ud = ev.distinct()
    days = ud.select(F.col("ed").alias("d")).distinct()
    dau = ud.groupBy(F.col("ed").alias("d")).agg(F.count("*").alias("dau"))
    wau = (
        ud.join(
            F.broadcast(days),
            (F.col("ed") <= F.col("d"))
            & (F.col("ed") >= F.date_sub(F.col("d"), 6)),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return dau.join(wau, "d").select(
        "d", "dau", "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double"))
        .alias("stickiness"),
    )


@register(
    "events_session_concurrency",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_id,
             DATE_TRUNC('hour', MIN(ts)) AS h_start,
             DATE_TRUNC('hour', MAX(ts)) AS h_end
      FROM numbered GROUP BY user_id, session_id
    ),
    deltas AS (
      SELECT h_start AS h, 1 AS delta FROM sessions
      UNION ALL
      SELECT h_end + INTERVAL 1 HOUR, -1 FROM sessions
    ),
    hourly AS (
      SELECT h, CAST(SUM(delta) AS BIGINT) AS d FROM deltas GROUP BY h
    )
    SELECT CAST(h AS TIMESTAMP) AS hour,
           CAST(SUM(d) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS n_active
    FROM hourly
    """,
    tags=("analytics", "sweep-line", "concurrency", "extension"),
)
def events_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session curve by hour via sweep-line: +1 at each
    session's first hour, −1 one hour past its last, cumulative-summed
    over the hour axis.

    Sessionization is the certified lag+running-sum plan
    (events_sessionization_batch); the sweep-line then reduces every
    interval to two delta rows, aggregates them per hour (bounded by
    the time axis, not by session count), and the final running sum
    runs over that bounded hourly domain — the same bounded-global-
    window argument as daily_revenue_rolling_7d, with all heavy
    per-user work partitioned.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "ts", "event_id",
        F.when(
            (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 1800)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0).alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h_start"),
        F.date_trunc("hour", F.max("ts")).alias("h_end"),
    )
    deltas = sessions.select(
        F.col("h_start").alias("h"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(
            (F.col("h_end") + F.expr("INTERVAL 1 HOUR")).alias("h"),
            F.lit(-1).alias("delta"),
        )
    )
    hourly = deltas.groupBy("h").agg(F.sum("delta").alias("d"))
    wh = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    return hourly.select(
        F.col("h").alias("hour"),
        F.sum("d").over(wh).alias("n_active"),
    )
