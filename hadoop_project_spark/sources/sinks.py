"""Write-path operators: partitioned, sorted, and bucketed parquet
sinks (SURVEY.md §2.1 S5-S7, §4 row-key-layout rows).

The reference's write-path decisions — BufferedMutator sizing
(Flight2/src/main/java/hw4/HPopulate.java:45,77), HFile bulk load
(HPopulateV1.java:144-158), and row-key ordering for scan locality
(HPopulate.java:92-97 vs HPopulateV2.java:93-100) — map onto three
Spark write-layout choices:

* partition columns   → directory-level pruning (the analog of leading
  row-key components: queries on the partition key never touch other
  partitions' files);
* sort-within-partitions → row-group-level min/max pruning inside each
  file (the analog of trailing row-key order);
* bucketing           → pre-shuffled layout so joins/aggregations on
  the bucket key skip their Exchange entirely (the analog the reference
  never had — it re-shuffled on every job).

At 100 TB the bucket/partition column choice IS the physical design:
a fact table bucketed by its join key turns every subsequent join on
that key into a zero-shuffle zip of co-located buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_project_spark.execution import literal


def warehouse_path(spark: SparkSession) -> str:
    """Filesystem path of the session's warehouse dir — the one place
    that decides how a warehouse URI maps to a local path (shared by
    the managed-table stale-location sweep below and serving.py's
    stable served-layout roots). Non-file schemes (hdfs://, s3a://)
    pass through untouched: os.path can't see them and callers treat
    them as opaque roots."""
    from urllib.parse import urlparse

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    parsed = urlparse(wh)
    if parsed.scheme in ("", "file"):
        return parsed.path or wh
    return wh


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet write with optional in-file sort order.

    ``sort_cols`` uses sortWithinPartitions (not a global orderBy) so no
    extra shuffle is introduced — each task writes its rows in sorted
    order, giving parquet row-group min/max stats that downstream range
    predicates prune on.
    """
    out = df
    if sort_cols:
        out = out.sortWithinPartitions(*partition_cols, *sort_cols)
    writer = out.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
    delta_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed table (bucketing requires saveAsTable — the bucket spec
    lives in the catalog, not the files). With ``path`` the table is
    EXTERNAL at that location: the files outlive the in-memory
    catalog, and a later session can re-register them with one DDL
    statement (serving.attach_served_table) instead of rebuilding —
    the serve-vs-build split.

    ``delta_cols`` names integer columns to store as Parquet
    DELTA_BINARY_PACKED pages (d-gaps): the file is written with the
    v2 page writer and those columns' dictionaries are switched off,
    while every other column keeps its dictionary. It is for a sorted
    integer column that sits under a leading sort key, e.g. the
    inverted index's doc_id under term: there the values restart at
    every term, which defeats dictionary + RLE, but their gaps are
    small. At sf0.01 doc_id took 46,108 of the postings table's 81,436
    bytes as dictionary pages; with delta pages the table takes 45,575
    (sf0.1: 841,172 → 334,116, and the doclens table 33,918 → 17,299).

    Two tables bucketed identically on their join key join with NO
    Exchange on either side (asserted in tests/test_sinks.py); the same
    holds for groupBy on the bucket key.

    Overwrite is made robust to a stale warehouse directory: a managed
    table's files can survive from a previous session while the (in-
    memory) catalog forgets the table, in which case saveAsTable fails
    with LOCATION_ALREADY_EXISTS — drop the entry and clear the leftover
    location first. The stale-file sweep only applies to `file:`-scheme
    warehouses (os.path can't see hdfs:// or s3a:// paths — there the
    DROP TABLE is the whole cleanup), and maps a db-qualified name to
    the managed layout `<warehouse>/<db>.db/<tbl>`, not a literal join.
    For an external ``path`` the sweep clears that path instead.
    """
    if mode == "overwrite":
        _drop_with_stale_location(df.sparkSession, table, path)
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    if delta_cols:
        writer = writer.option("parquet.writer.version", "v2")
        for c in delta_cols:
            writer = writer.option(f"parquet.enable.dictionary#{c}", "false")
    writer.format("parquet").saveAsTable(table)


def _drop_with_stale_location(
    spark: SparkSession, table: str, path: str | None
) -> None:
    """DROP TABLE plus the stale-warehouse sweep write_bucketed
    documents: a managed table's files can survive from a previous
    session while the (in-memory) catalog forgets the table, in which
    case saveAsTable fails with LOCATION_ALREADY_EXISTS."""
    import os
    import shutil

    # If the catalog still knows the table, this drop also removes a
    # managed table's files regardless of filesystem scheme.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if path is not None:
        if os.path.exists(path):
            shutil.rmtree(path)
    else:
        root = warehouse_path(spark)
        if os.path.isabs(root) or os.path.exists(root):
            parts = table.lower().split(".")
            rel = (
                parts[-1]
                if len(parts) == 1
                else os.path.join(f"{parts[-2]}.db", parts[-1])
            )
            loc = os.path.join(root, rel)
            if os.path.exists(loc):
                shutil.rmtree(loc, ignore_errors=True)


def write_partitioned_table(
    df: DataFrame,
    table: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Directory-partitioned table via saveAsTable (the partition map
    lives in the catalog; probes prune whole partition directories at
    plan time). Same stale-warehouse overwrite robustness as
    write_bucketed; with ``path`` the table is EXTERNAL there."""
    if mode == "overwrite":
        _drop_with_stale_location(df.sparkSession, table, path)
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def drop_table(spark: SparkSession, table: str) -> None:
    """DDL drop-if-exists (S10 — the reference's recreate-table pattern,
    Flight2/src/main/java/hw4/HPopulate.java:125-151)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int,
    sort_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory into
    ``target_files`` files (optionally sorted for row-group pruning).

    The small-files problem is the classic long-running-pipeline decay
    mode (every micro-batch/append writes a few rows → thousands of
    tiny files → scan-planning dominates). Returns (files_before,
    files_after). Uses an overwrite-via-temp so a crash mid-compact
    never loses data: write to `<path>._compact_tmp`, then swap.
    """
    import os
    import shutil

    before = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    df = spark.read.parquet(path)
    out = df.repartition(target_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    tmp = f"{path}._compact_tmp"
    out.write.mode("overwrite").parquet(tmp)
    # atomic-ish swap: remove originals, move compacted files in
    for f in before:
        os.remove(os.path.join(path, f))
    for f in os.listdir(tmp):
        if f.endswith(".parquet"):
            shutil.move(os.path.join(tmp, f), os.path.join(path, f))
    shutil.rmtree(tmp, ignore_errors=True)
    after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return len(before), len(after)


def write_text_report(spark: SparkSession, lines: list[str], path: str) -> None:
    """Driver text report sink (S9 — the reference's KResults.txt /
    Summary.txt writer, final/src/main/java/calc/Summarizer.java:65-121):
    tiny driver-held content written as ONE ordered text file via
    coalesce(1)."""
    df = literal(spark, "value string", [(l,) for l in lines])
    df.coalesce(1).write.mode("overwrite").text(path)
