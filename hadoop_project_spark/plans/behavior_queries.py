"""Behavioral-sequence analytics over the events stream.

First-class product-analytics surface: the first-order Markov
transition matrix over per-user event sequences — the building block
for path analysis, next-action prediction baselines, and funnel
discovery. Extends the secondary-sort shape of SURVEY.md §2 O2 (the
reference's composite-key sort — final/src/main/java/flight/
FlightCompare.java) with LEAD semantics and a conditional-probability
normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.plans.registry import register


@register(
    "event_transition_matrix",
    oracle="""
    WITH t AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    c AS (
      SELECT from_type, to_type, COUNT(*) AS n_trans
      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n_trans) AS n_from FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, CAST(c.n_trans AS BIGINT) AS n_trans,
           CAST(c.n_trans AS DOUBLE) / CAST(t2.n_from AS DOUBLE) AS p_trans
    FROM c JOIN tot t2 USING (from_type)
    """,
    tags=("behavior", "markov", "window", "O2", "extension"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts and conditional
    probabilities between consecutive events of each user.

    One partitioned LEAD window (shuffle keyed by user_id — never a
    global sort), one count aggregate over the tiny type x type matrix,
    and a broadcast join for the row normalization. Ties inside a
    user's sequence break on event_id, so the transition stream is
    deterministic on both engines. p_trans is a single correctly-
    rounded division of exact integers.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_trans"))
    )
    totals = trans.groupBy("from_type").agg(
        F.sum("n_trans").alias("n_from")
    )
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n_trans").cast("long").alias("n_trans"),
            (
                F.col("n_trans").cast("double")
                / F.col("n_from").cast("double")
            ).alias("p_trans"),
        )
    )


# Fixed-point scale for the forecast-backtest float discipline: event
# values and absolute errors are floor-quantized at 1e6 before any
# cross-row sum, so every aggregate is an exact integer reduction.
_BT_SCALE = 1_000_000.0


@register(
    "seasonal_baseline_wape",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, value,
             date_trunc('day', ts) AS d,
             EXTRACT(hour FROM ts) AS h
      FROM events
    ),
    last_day AS (SELECT MAX(d) AS d FROM ev),
    train AS (
      SELECT event_type, h,
             CAST(SUM(CAST(FLOOR(value * {_BT_SCALE!r}) AS BIGINT))
                  AS BIGINT) AS sum_vq,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev, last_day WHERE ev.d < last_day.d
      GROUP BY event_type, h
    ),
    test AS (
      SELECT ev.event_type, ev.h, ev.value
      FROM ev, last_day WHERE ev.d = last_day.d
    ),
    scored AS (
      SELECT t.event_type,
             CAST(FLOOR(ABS(t.value -
               (CAST(tr.sum_vq AS DOUBLE) / {_BT_SCALE!r} / tr.n))
               * {_BT_SCALE!r}) AS BIGINT) AS err_q,
             CAST(FLOOR(ABS(t.value) * {_BT_SCALE!r}) AS BIGINT) AS av_q
      FROM test t JOIN train tr
        ON tr.event_type = t.event_type AND tr.h = t.h
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(err_q) AS DOUBLE) / CAST(SUM(av_q) AS DOUBLE) AS wape
    FROM scored GROUP BY event_type
    """,
    tags=("behavior", "forecast", "backtest", "extension"),
)
def seasonal_baseline_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each event's value on
    the LAST day from the per-(event_type, hour-of-day) mean over all
    earlier days, and report WAPE (sum |err| / sum |actual|) per type —
    the standing health metric of a metrics-forecasting pipeline.

    Deterministic float discipline: train means divide exact integer
    fixed-point sums; per-event errors are floor-quantized before the
    test-side sums, so both engines reduce identical BIGINTs in any
    order, and WAPE is one final correctly-rounded division. The train
    aggregate is type x 24 cells (broadcast back onto the test scan);
    the last-day split derives from one tiny global MAX.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.date_trunc("day", "ts").alias("d"),
        F.hour("ts").alias("h"),
    )
    last_day = ev.agg(F.max("d").alias("last_d"))
    ev = ev.crossJoin(F.broadcast(last_day))
    vq = F.floor(F.col("value") * F.lit(_BT_SCALE)).cast("long")
    train = (
        ev.where(F.col("d") < F.col("last_d"))
        .groupBy("event_type", "h")
        .agg(F.sum(vq).alias("sum_vq"), F.count("*").alias("n"))
    )
    baseline = (
        F.col("sum_vq").cast("double") / F.lit(_BT_SCALE) / F.col("n")
    )
    test = ev.where(F.col("d") == F.col("last_d"))
    scored = test.join(F.broadcast(train), ["event_type", "h"]).select(
        "event_type",
        F.floor(
            F.abs(F.col("value") - baseline) * F.lit(_BT_SCALE)
        ).cast("long").alias("err_q"),
        F.floor(F.abs(F.col("value")) * F.lit(_BT_SCALE)).cast("long").alias(
            "av_q"
        ),
    )
    return scored.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_scored"),
        (
            F.sum("err_q").cast("double") / F.sum("av_q").cast("double")
        ).alias("wape"),
    )


@register(
    "nation_revenue_gini",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    ranked AS (
      SELECT c_nationkey, rev_c,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY rev_c, o_custkey) AS rk
      FROM rev
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_c) AS BIGINT) AS total_rev_cents,
           CAST(2 * SUM(rk * rev_c) - (COUNT(*) + 1) * SUM(rev_c)
                AS DOUBLE)
             / (COUNT(*) * CAST(SUM(rev_c) AS DOUBLE)) AS gini
    FROM ranked r JOIN nation n ON n.n_nationkey = r.c_nationkey
    GROUP BY n.n_name
    """,
    tags=("behavior", "concentration", "gini", "window", "extension"),
)
def nation_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient per nation over purchasing
    customers — the inequality metric a marketplace watches per region.

    Exact integer path end to end: per-customer revenue in cents
    (o_totalprice is 2-dp, so *100 is exact), rank by (rev, custkey)
    inside a PARTITIONED window (per-nation, never global), and the
    classic rank formulation gini = (2*Sum(i*x_i) - (n+1)*Sum(x)) /
    (n*Sum(x)) reduces BIGINTs until the single final division.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            # o_totalprice is a 2-dp DOUBLE: *100 can land an ulp below
            # the integer, so round (exact, no .5 case for 2-dp values)
            # before the cast — truncation would drop a cent
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_c"
            )
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("rev_c", "o_custkey")
    ranked = rev.withColumn("rk", F.row_number().over(w))
    agg = ranked.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.sum("rev_c").alias("total_rev_cents"),
        F.sum(F.col("rk") * F.col("rev_c")).alias("sum_rk_rev"),
    )
    gini = (
        (2 * F.col("sum_rk_rev") - (F.col("n_customers") + 1) * F.col("total_rev_cents"))
        .cast("double")
        / (F.col("n_customers") * F.col("total_rev_cents").cast("double"))
    )
    return agg.join(
        F.broadcast(nation), agg.c_nationkey == nation.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        F.col("n_customers").cast("long").alias("n_customers"),
        F.col("total_rev_cents").cast("long").alias("total_rev_cents"),
        gini.alias("gini"),
    )


# -- exponentially time-decayed engagement ---------------------------------
# Recency-weighted user scores — the feature-engineering shape behind
# "recent activity matters more" ranking/retention features. Weight
# 2^-age_days with a fixed anchor date keeps EVERYTHING exact integer
# arithmetic: value -> cents (the winsorized-stats idiom), weight ->
# left-shift by (SCALE_EXP - age), sum -> DECIMAL(38,0) (order-
# independent, no float accumulation), final score -> ONE double
# division by 2^SCALE_EXP * 100. Ages beyond SCALE_EXP clamp to the
# minimum weight 2^-SCALE_EXP (decay floor) so the shift never goes
# negative — documented semantic, identical in both engines.
DECAY_ANCHOR = "2024-01-31"  # day after the fixture's event range
DECAY_SCALE_EXP = 30


@register(
    "events_decayed_engagement",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(cents * (CAST(1 AS BIGINT) << exp)
                         AS DECIMAL(38,0))) AS DOUBLE)
             / ({float(1 << DECAY_SCALE_EXP)!r} * 100.0) AS decayed_score
    FROM (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             greatest(0, {DECAY_SCALE_EXP} - datediff('day', CAST(ts AS DATE),
                                                      DATE '{DECAY_ANCHOR}'))
               AS exp
      FROM events
    )
    GROUP BY user_id
    """,
    tags=("behavior", "decay", "feature", "extension"),
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed engagement score:
    sum(value * 2^-age_days) against a fixed anchor date.

    All-integer until the last division (see section comment): the
    per-event term is cents << (SCALE_EXP - age) — a BIGINT — and the
    per-user sum rides DECIMAL(38,0), so the result is independent of
    partitioning and merge order at any scale; the one double division
    at the end is the same literal on both engines. One narrow
    projection + one groupBy — the scan-stage shape of a 100 TB
    feature-materialization job.
    """
    ev = load_table(spark, sf_dir, "events")
    age = F.datediff(F.lit(DECAY_ANCHOR).cast("date"), F.col("ts").cast("date"))
    exp = F.greatest(F.lit(0), F.lit(DECAY_SCALE_EXP) - age)
    cents = F.round(F.col("value") * 100).cast("long")
    # the Column-API shiftleft only takes a literal shift amount; the
    # SQL form accepts the per-row exponent column
    term = (
        cents
        * F.expr("shiftleft(CAST(1 AS BIGINT), __decay_exp)")
    ).cast("decimal(38,0)")
    return (
        ev.withColumn("__decay_exp", exp)
        .select("user_id", term.alias("term"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum("term").cast("double")
                / F.lit(float(1 << DECAY_SCALE_EXP) * 100.0)
            ).alias("decayed_score"),
        )
    )
