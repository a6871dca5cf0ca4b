"""Write-path layout gates: partition pruning and bucketed-join
shuffle elimination — the properties that make the sink choices matter
at 100 TB (see sources/sinks.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hadoop_project_spark.catalog import load_table
from hadoop_project_spark.sources.sinks import (
    drop_table,
    write_bucketed,
    write_partitioned,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune at the directory
    level: the scan's partition count reflects only matching dirs and
    the predicate appears as a partition filter, not a data filter."""
    out = str(tmp_path / "orders_by_status")
    orders = load_table(spark, sf_dir, "orders")
    write_partitioned(
        orders, out, partition_cols=["o_orderstatus"], sort_cols=["o_orderdate"]
    )
    # one directory per status value
    dirs = {d for d in os.listdir(out) if d.startswith("o_orderstatus=")}
    assert dirs == {"o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"}

    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters")[1].splitlines()[0]
    # row parity with the source
    n_src = orders.filter(F.col("o_orderstatus") == "O").count()
    assert back.count() == n_src


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """orders and lineitem bucketed on the order key: their join must
    contain NO Exchange on either side — the layout already co-locates
    matching keys (the property the reference re-paid for with a full
    shuffle in every job)."""
    # spark.sql.warehouse.dir is a static conf — managed tables land in
    # the session's default warehouse; drop_table removes their files.
    drop_table(spark, "orders_bkt")
    drop_table(spark, "lineitem_bkt")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_bkt", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(
        lineitem, "lineitem_bkt", ["l_orderkey"], 8, sort_cols=["l_orderkey"]
    )
    try:
        o = spark.table("orders_bkt")
        l = spark.table("lineitem_bkt")
        # hint forces SMJ (at test scale the dims would auto-broadcast,
        # which also skips the shuffle but doesn't exercise bucketing)
        joined = l.hint("merge").join(o, l.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # the join itself must be exchange-free; the only exchange allowed
        # is the one feeding the final groupBy on a different key
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        # correctness: equals the unbucketed join
        expect = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expect.collect())
        )
    finally:
        drop_table(spark, "orders_bkt")
        drop_table(spark, "lineitem_bkt")


def test_bucketed_groupby_has_no_shuffle(spark, sf_dir, tmp_path):
    """Aggregation keyed on the bucket column reads pre-clustered data:
    no Exchange before the final HashAggregate."""
    drop_table(spark, "lineitem_bkt2")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(lineitem, "lineitem_bkt2", ["l_orderkey"], 8)
    try:
        agg = (
            spark.table("lineitem_bkt2")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        assert "Exchange" not in _plan(agg)
    finally:
        drop_table(spark, "lineitem_bkt2")


def test_compact_parquet(spark, sf_dir, tmp_path):
    """Fragment orders into 64 small files, compact to 4, verify row
    and content parity."""
    from hadoop_project_spark.sources.sinks import compact_parquet

    out = str(tmp_path / "frag")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(64).write.mode("overwrite").parquet(out)
    checksum_before = spark.read.parquet(out).agg(
        F.sum(F.crc32(F.col("o_orderkey").cast("string"))).alias("c")
    ).first()["c"]
    n_before, n_after = compact_parquet(
        spark, out, target_files=4, sort_cols=["o_orderdate"]
    )
    assert n_before >= 60 and n_after == 4
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    checksum_after = back.agg(
        F.sum(F.crc32(F.col("o_orderkey").cast("string"))).alias("c")
    ).first()["c"]
    assert checksum_before == checksum_after


def test_text_report_sink(spark, tmp_path):
    """S9: report lines come back byte-identical and in order from a
    single part file."""
    from hadoop_project_spark.sources.sinks import write_text_report

    lines = [f"SilScore:{i / 10} at Kvalue:{i} at iteration:2" for i in range(1, 6)]
    out = str(tmp_path / "report")
    write_text_report(spark, lines, out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1
    with open(os.path.join(out, parts[0])) as f:
        assert f.read().splitlines() == lines


def test_csv_sink_roundtrips_quoted_fields(spark, tmp_path):
    """Fields containing delimiters and quotes must survive
    write_csv → read (the opencsv-parity quoting convention)."""
    from hadoop_project_spark.sources.csv import write_csv

    rows = [
        (1, 'plain'),
        (2, 'with,comma'),
        (3, 'with "quotes" inside'),
        (4, 'both, "mixed", here'),
        (5, ''),
    ]
    df = spark.createDataFrame(rows, "id int, payload string")
    out = str(tmp_path / "csv_out")
    write_csv(df, out)
    back = (
        spark.read.schema("id int, payload string")
        .option("quote", '"')
        .option("escape", '"')
        .csv(out)
    )
    got = {(r["id"], r["payload"]) for r in back.collect()}
    # Spark's CSV sink writes empty string as an empty (null) field
    exp = {(i, p if p else None) for i, p in rows}
    assert got == exp


def test_bucketed_overwrite_raises_when_stale_path_cannot_go(spark, tmp_path):
    """The stale external location is deleted where the overwrite
    starts, and a failed delete raises there: a regular file in the
    table's place cannot be removed as a directory tree."""
    import pytest

    path = tmp_path / "not_a_table"
    path.write_text("x")
    df = spark.range(4).withColumnRenamed("id", "k")
    with pytest.raises(NotADirectoryError):
        write_bucketed(df, "stale_path_bkt", ["k"], 2, path=str(path))
    assert path.read_text() == "x"
