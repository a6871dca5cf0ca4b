"""Table catalog over the driver-provided parquet test tables.

The reference hand-rolled its storage layer as HBase tables with
byte-encoded cells and composite string row keys
(Flight2/src/main/java/hw4/HPopulate.java:40-44, 92-97;
final/src/main/java/program/KConfig.java:6-29). Here a "table" is a
parquet path with a real schema; Catalyst gets column pruning and
predicate pushdown into the scan for free (the reference had to build
this by hand with HBase SingleColumnValueFilters —
Flight2/src/main/java/hw4/HCompute.java:256-267).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from hadoop_project_spark.storage import STORE

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Session settings that change the schema Spark infers from a parquet
# footer; each is part of the schema memo's key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (path, stat signature, schema settings) -> inferred schema, per process
_SCHEMA_MEMO: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet that infers each file's schema once: schema
    inference runs a footer-reading Spark job, so a repeat load passes
    the memoized schema to the reader and launches none."""
    key = (
        path,
        STORE.stat_sig(path),
        tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS),
    )
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; normalizes storage quirks so downstream plans
    see clean types.

    ``events.ts`` has shipped in two physical encodings across driver
    regenerations: parquet TIMESTAMP(NANOS) (read as bigint nanoseconds
    under ``spark.sql.legacy.parquet.nanosAsLong``, truncated to
    microseconds here — the same floor-truncation DuckDB applies), and
    microsecond TIMESTAMP_NTZ (pyspark 4.x reads it as ``timestamp_ntz``,
    which Spark 4 refuses to cast to BIGINT or feed to ``unix_micros``).
    The catalog owns type normalization — every consumer sees a plain
    session-zone ``timestamp``; the session zone is pinned to UTC
    (session.py) so NTZ→LTZ is a value-preserving relabel and the DuckDB
    oracle (which reads the same file as naive TIMESTAMP) agrees.

    The parquet schema is inferred (one footer job) on the first load
    of a file only. Later loads reuse it from a per-process memo keyed
    by the path, its ``STORE.stat_sig`` (size, mtime) and every session
    setting in ``_SCHEMA_CONFS``, so a rewritten file or a changed
    setting is inferred afresh and a repeat load launches no job.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (mirrors the driver's
    DuckDB-side view registration so SQL plans read the same names)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
