"""Source/sink roundtrip queries — the driver-visible anchors for the
engine's file write + read paths (SURVEY.md §2.1 S2/S5/S6).

Each query pushes driver test data through one of the engine's own
sinks and reads it back through the matching source before computing
its aggregate; the DuckDB oracle computes the same aggregate straight
from the original parquet. A hash match therefore certifies the whole
write→read path — quoting, schema application, partition-directory
layout, type preservation — not just the final agg (the same
end-to-end strategy the reference's tests apply to its populate jobs,
Flight2/src/main/java/hw4/HPopulate.java:92-101).

Roundtrip files land under a deterministic per-SF directory in the
system temp dir, rewritten with mode=overwrite on every run — the
builders are side-effecting but idempotent, and the read DataFrame they
return stays valid until the driver collects it.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.execution import literal
from hadoop_project_spark.functions.text import tokenize
from hadoop_project_spark.plans.registry import register
from hadoop_project_spark.sources.csv import write_csv
from hadoop_project_spark.sources.sinks import write_partitioned


def _roundtrip_dir(sf_dir: str, name: str) -> str:
    sf = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(tempfile.gettempdir(), "hps_roundtrips", sf, name)


@register(
    "csv_roundtrip_word_count",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (
      SELECT UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("source", "sink", "S2", "S5", "roundtrip"),
)
def csv_roundtrip_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → engine CSV sink → positional-schema CSV source →
    word count. The oracle runs on the original parquet, so the hash
    match proves the CSV quoting/escaping and schema application are
    lossless (S2+S5), with the in-window `word_count` as the
    no-roundtrip control."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = _roundtrip_dir(sf_dir, "docs_csv")
    write_csv(docs, path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    return (
        back.select(F.explode(tokenize("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "partitioned_parquet_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("sink", "S6", "roundtrip"),
)
def partitioned_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → partitioned+sorted parquet sink (partitionBy the
    priority, sortWithinPartitions the key for row-group pruning) →
    plain parquet read → per-priority rollup. Hash-matching the
    direct-scan oracle proves the partition-directory layout preserves
    rows, types, and the partition column's values exactly (S6)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    path = _roundtrip_dir(sf_dir, "orders_part")
    write_partitioned(
        orders, path, partition_cols=["o_orderpriority"],
        sort_cols=["o_orderkey"],
    )
    back = spark.read.parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@register(
    "bucketed_join_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    tags=("sink", "S7", "roundtrip", "join"),
)
def bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders + lineitem rewritten through the bucketed sink (bucketBy
    the join key, 8 buckets, sorted) then joined via the catalog tables
    — the join runs with NO Exchange on either side (the layout
    co-locates it; asserted in tests/test_sinks.py). The direct-scan
    oracle hash certifies the bucketed write→catalog-read→join path
    end-to-end (S7)."""
    from hadoop_project_spark.sources.sinks import write_bucketed

    sf = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    ot, lt = f"rt_orders_bkt_{sf}", f"rt_lineitem_bkt_{sf}"
    write_bucketed(orders, ot, ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(lineitem, lt, ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    o = spark.table(ot).where(F.col("o_orderpriority") == "1-URGENT")
    l = spark.table(lt)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "zorder_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_extendedprice BETWEEN 20000 AND 40000
    GROUP BY l_returnflag
    """,
    tags=("sink", "layout", "zorder", "roundtrip"),
)
def zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem rewritten Z-order-clustered on (quantity, price), read
    back through a two-dimensional range predicate — the workload shape
    the Morton layout exists for (file/row-group min-max pruning on
    BOTH columns; measured in tests/test_layout.py). The direct-scan
    oracle hash proves the layout rewrite is lossless."""
    from hadoop_project_spark.sources.layout import write_zordered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    path = _roundtrip_dir(sf_dir, "lineitem_zorder")
    write_zordered(
        li,
        path,
        [
            (F.col("l_quantity"), 1.0, 50.0),
            (F.col("l_extendedprice"), 900.0, 105000.0),
        ],
        n_files=16,
    )
    back = spark.read.parquet(path)
    return (
        back.where(
            F.col("l_quantity").between(10, 20)
            & F.col("l_extendedprice").between(20000, 40000)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "incremental_rollup_roundtrip",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("sink", "incremental", "rollup", "roundtrip"),
)
def incremental_rollup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance: the daily rollup for
    the settled prefix (days before the cutoff) is materialized to
    day-partitioned parquet and READ BACK, not recomputed; only the
    unsettled suffix is re-aggregated from the raw events, with the
    cutoff predicate pushed into the scan. The union must hash-match a
    full recompute (the oracle) — certifying that maintaining the
    rollup incrementally is indistinguishable from rebuilding it, which
    is the property that lets a 100 TB pipeline aggregate each day once
    instead of rescanning history every run. Decimal partials survive
    the parquet roundtrip exactly (sums stay DECIMAL(18,2) on disk and
    only cast to DOUBLE at the end), so associativity of the merge is
    exact, not float-ordered."""
    cutoff = "2024-01-20"
    events = load_table(spark, sf_dir, "events")

    def daily(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("ts").cast("date").alias("day"),
            "event_type",
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("dec_value"),
        )

    path = _roundtrip_dir(sf_dir, "events_daily_rollup")
    settled = daily(events.where(F.col("ts") < F.lit(cutoff).cast("timestamp")))
    write_partitioned(settled, path, partition_cols=["day"], sort_cols=["event_type"])
    materialized = spark.read.parquet(path).select(
        "day", "event_type", "n_events", "dec_value"
    )
    fresh = daily(events.where(F.col("ts") >= F.lit(cutoff).cast("timestamp")))
    return (
        materialized.unionByName(fresh)
        .select(
            "day",
            "event_type",
            "n_events",
            F.col("dec_value").cast("double").alias("total_value"),
        )
    )


@register(
    "schema_evolution_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("source", "schema-evolution", "roundtrip"),
)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: batch 1 (even order
    keys) is written WITHOUT the `flagged` column — the old producer —
    and batch 2 (odd keys) WITH it; the reader merges schemas
    (mergeSchema) and treats the missing column as NULL, which the
    aggregation coalesces. Hash-matching an oracle computed on the
    un-evolved original proves an added column is backfill-safe: old
    files keep working, new files carry the new field, and no rows or
    values drift during the transition — the property a long-lived
    100 TB dataset depends on every time its schema grows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = _roundtrip_dir(sf_dir, "orders_evolving")
    old_batch = orders.where(F.col("o_orderkey") % 2 == 0)
    new_batch = orders.where(F.col("o_orderkey") % 2 == 1).withColumn(
        "flagged", F.lit(False)
    )
    old_batch.write.mode("overwrite").parquet(os.path.join(path, "b=1"))
    new_batch.write.mode("overwrite").parquet(os.path.join(path, "b=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "b=1"), os.path.join(path, "b=2")
    )
    # old files: flagged is NULL -> "was written before the column
    # existed" -> counts as flagged=true here (even keys)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("flagged").isNull().cast("long")).alias("n_flagged"),
    )


@register(
    "dpp_partitioned_join_roundtrip",
    oracle="""
    WITH dim(flag, label) AS (VALUES ('A', 'keep'), ('N', 'x'), ('R', 'x'))
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS total_qty
    FROM lineitem JOIN dim ON l_returnflag = dim.flag
    WHERE dim.label = 'keep'
    GROUP BY l_returnflag
    """,
    tags=("source", "dpp", "partition-pruning", "roundtrip"),
)
def dpp_partitioned_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: lineitem rewritten
    partitioned by l_returnflag, then joined against a filtered dim on
    the partition column — Catalyst injects a dynamicpruning subquery
    into the fact scan's PartitionFilters (asserted in
    tests/test_plan_shapes.py), so at 100 TB the scan reads ONLY the
    partitions the dim filter selects, discovered at runtime rather
    than hand-written into the query. The direct-scan oracle hash
    proves pruning changed I/O, not results."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    fact_path = _roundtrip_dir(sf_dir, "lineitem_by_flag")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(fact_path)
    dim_path = _roundtrip_dir(sf_dir, "flag_dim")
    literal(
        spark, "flag string, label string", [("A", "keep"), ("N", "x"), ("R", "x")]
    ).write.mode("overwrite").parquet(dim_path)
    back = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).where(F.col("label") == "keep")
    return (
        back.join(dim, back.l_returnflag == dim.flag)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty"),
        )
    )


@register(
    "orc_roundtrip_order_priorities",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           CAST(MIN(o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o_orderdate) AS DATE) AS last_order
    FROM orders
    WHERE o_orderstatus <> 'F'
    GROUP BY o_orderpriority
    """,
    tags=("source", "sink", "orc", "roundtrip", "extension"),
)
def orc_roundtrip_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC sink (partitioned by o_orderstatus) → ORC source
    with a pushed-down partition filter → priority rollup. The oracle
    aggregates the original parquet directly, so the hash match
    certifies the ORC write→read path end-to-end: type preservation
    (decimal totalprice, date orderdate), partition-directory layout,
    and that the status filter prunes at the ORC scan exactly as it
    would on parquet (sources/formats.py — ORC is the Hive/Trino-
    centric columnar sibling with the same pushdown behavior)."""
    from hadoop_project_spark.sources.formats import read_orc, write_orc

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice", "o_orderdate",
    )
    path = _roundtrip_dir(sf_dir, "orders_orc")
    write_orc(orders, path, partition_by=["o_orderstatus"])
    back = read_orc(spark, path).filter(F.col("o_orderstatus") != "F")
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
    )


@register(
    "json_roundtrip_source_stats",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           MIN(md5(text)) AS text_md5_min
    FROM documents
    GROUP BY source
    """,
    tags=("source", "sink", "json", "roundtrip", "extension"),
)
def json_roundtrip_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → NDJSON sink → JSON source with an EXPLICIT schema
    (schema inference is a full extra pass at 100 TB and silently
    widens types, so read_json requires one) → per-source stats. The
    md5-of-text min in the hash proves JSON string escaping round-
    trips every document byte-for-byte, not just the counts."""
    from hadoop_project_spark.sources.formats import read_json, write_json

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    path = _roundtrip_dir(sf_dir, "docs_json")
    write_json(docs, path)
    back = read_json(spark, path, "doc_id bigint, source string, text string")
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min(F.md5("text")).alias("text_md5_min"),
    )


@register(
    "avro_roundtrip_segment_stats",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_acctbal,
           MIN(md5(c_name)) AS name_md5_min
    FROM customer
    WHERE c_mktsegment <> 'BUILDING'
    GROUP BY c_mktsegment
    """,
    tags=("source", "sink", "avro", "roundtrip", "extension"),
)
def avro_roundtrip_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → Avro sink (partitioned by c_mktsegment) → Avro source
    with a partition filter → per-segment rollup. Avro is the
    row-oriented interchange format (Kafka/ingest edges); Spark 4
    bundles the implementation without registering the short name, so
    sources/formats.py resolves the format class per deployment. The
    oracle aggregates the original parquet directly: a hash match
    certifies Avro write→read type preservation (double acctbal,
    strings via md5) and the partition-directory layout end-to-end."""
    from hadoop_project_spark.sources.formats import (
        avro_supported,
        read_avro,
        write_avro,
    )

    if not avro_supported(spark):
        # Deployment property, surfaced loudly: this engine's target
        # distribution (pyspark 4.1 bundles the avro classes) supports
        # it — a stripped deployment should add
        # `--packages org.apache.spark:spark-avro_2.13` or deregister
        # this query rather than let Spark's datasource lookup fail
        # with a less specific error mid-plan.
        raise RuntimeError(
            "avro_roundtrip_segment_stats needs the avro datasource "
            "classes (bundled in pyspark>=4; external module "
            "org.apache.spark:spark-avro otherwise)"
        )
    cust = load_table(spark, sf_dir, "customer")
    path = _roundtrip_dir(sf_dir, "customer_avro")
    write_avro(cust, path, partition_by=["c_mktsegment"])
    back = read_avro(spark, path).filter(
        F.col("c_mktsegment") != "BUILDING"
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_acctbal"),
        F.min(F.md5("c_name")).alias("name_md5_min"),
    )


@register(
    "merge_upsert_roundtrip",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spent
      FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
      GROUP BY o_custkey
    ),
    delta AS (
      SELECT o_custkey,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spent
      FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      GROUP BY o_custkey
    ),
    merged AS (
      SELECT COALESCE(b.o_custkey, d.o_custkey) AS o_custkey,
             COALESCE(b.n_orders, 0) + COALESCE(d.n_orders, 0) AS n_orders,
             COALESCE(b.total_spent, CAST(0 AS DECIMAL(18,2)))
               + COALESCE(d.total_spent, CAST(0 AS DECIMAL(18,2)))
               AS total_spent,
             CASE WHEN b.o_custkey IS NOT NULL AND d.o_custkey IS NOT NULL
                    THEN 'updated'
                  WHEN b.o_custkey IS NULL THEN 'inserted'
                  ELSE 'unchanged' END AS row_status
      FROM base b FULL OUTER JOIN delta d ON b.o_custkey = d.o_custkey
    )
    SELECT row_status,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS n_orders,
           CAST(SUM(total_spent) AS DOUBLE) AS total_spent
    FROM merged
    GROUP BY row_status
    """,
    tags=("sink", "merge", "upsert", "roundtrip", "extension"),
)
def merge_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO certification: a per-customer running aggregate table
    (orders before 2000) upserted with a delta batch (orders from 2000
    on) via operators/merge.py — additive update expressions, audit
    status column — written through the partitioned sink keyed by
    row_status and read back for the final rollup.

    The oracle recomputes the merge relationally from the original
    parquet, so the hash certifies the full-outer merge resolution
    (matched=add, inserted=take-source, unchanged=keep-target), the
    audit labeling, AND the sink roundtrip in one row. Merge keys are
    the join keys of one co-partitioned shuffle — the same physical
    plan a Delta/Iceberg merge lowers to at 100 TB.
    """
    from hadoop_project_spark.operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    cut = F.lit("2000-01-01").cast("timestamp")

    def per_cust(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "total_spent"
            ),
        )

    base = per_cust(orders.filter(F.col("o_orderdate") < cut))
    delta = per_cust(orders.filter(F.col("o_orderdate") >= cut))
    merged = merge_upsert(
        base,
        delta,
        keys=["o_custkey"],
        updates={
            "n_orders": lambda t, s: t + s,
            "total_spent": lambda t, s: t + s,
        },
        status_col="row_status",
    )
    path = _roundtrip_dir(sf_dir, "cust_merge")
    write_partitioned(merged, path, partition_cols=["row_status"])
    back = spark.read.parquet(path)
    return back.groupBy("row_status").agg(
        F.count("*").alias("n_customers"),
        F.sum("n_orders").alias("n_orders"),
        F.sum("total_spent").cast("double").alias("total_spent"),
    )


# Every 47th doc id gets its JSON line corrupted (trailing garbage) —
# deterministic, so the oracle knows exactly which rows must land in
# _corrupt_record.
_CORRUPT_MOD = 47


@register(
    "json_corrupt_records_audit",
    oracle=f"""
    SELECT
      CAST(COUNT(*) FILTER (doc_id % {_CORRUPT_MOD} <> 0) AS BIGINT)
        AS n_good,
      CAST(COUNT(*) FILTER (doc_id % {_CORRUPT_MOD} = 0) AS BIGINT)
        AS n_corrupt,
      CAST(SUM(n_chars) FILTER (doc_id % {_CORRUPT_MOD} <> 0) AS BIGINT)
        AS chars_good,
      CAST(SUM(doc_id) FILTER (doc_id % {_CORRUPT_MOD} <> 0) AS BIGINT)
        AS id_sum_good
    FROM documents
    """,
    tags=("source", "json", "permissive", "corrupt-records", "extension"),
)
def json_corrupt_records_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest audit: NDJSON with deterministically
    injected corruption (truncation of every 47th line) read
    back with an explicit schema + _corrupt_record column; the audit
    counts good vs quarantined rows and checksums the surviving values.

    The hash match proves Spark's PERMISSIVE parser quarantines exactly
    the corrupted lines — none silently dropped, none half-parsed into
    the good set (a corrupt line yields nulls for all data fields, so
    the id/char checksums would shift on any leak). At 100 TB this is
    the ingest-edge pattern: never fail the job on bad records, land
    them in a quarantine column and count them against an expectation
    gate (plans/validation_queries.py).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    line = F.to_json(F.struct("doc_id", "source", "n_chars"))
    # truncation, not trailing garbage: Jackson stops at the first
    # complete object, so '{...}{' still parses — an unterminated object
    # does not
    corrupted = F.when(
        F.col("doc_id") % _CORRUPT_MOD == 0,
        F.substring(line, 1, 10),
    ).otherwise(line)
    path = _roundtrip_dir(sf_dir, "docs_json_corrupt")
    docs.select(corrupted.alias("value")).write.mode("overwrite").text(path)
    back = spark.read.schema(
        "doc_id bigint, source string, n_chars bigint, _corrupt_record string"
    ).option("columnNameOfCorruptRecord", "_corrupt_record").json(path)
    good = F.col("_corrupt_record").isNull()
    return back.agg(
        F.sum(good.cast("long")).alias("n_good"),
        F.sum((~good).cast("long")).alias("n_corrupt"),
        F.sum(F.when(good, F.col("n_chars"))).alias("chars_good"),
        F.sum(F.when(good, F.col("doc_id"))).alias("id_sum_good"),
    )
