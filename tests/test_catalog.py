"""catalog.load_table's schema memo: a repeat load launches no Spark
job, a rewritten file is inferred afresh, and events.ts is a plain
timestamp whatever the session's nanosAsLong setting."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from hadoop_project_spark.catalog import load_table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_repeat_load_launches_no_job(spark, sf_dir, tmp_path, jobs_run_by):
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), tmp_path)
    first = jobs_run_by(lambda: load_table(spark, str(tmp_path), "documents"))
    assert first, "the first load of a file infers its schema in a job"
    again = []
    second = jobs_run_by(
        lambda: again.append(load_table(spark, str(tmp_path), "documents"))
    )
    assert second == []
    ref = load_table(spark, sf_dir, "documents")
    assert again[0].schema == ref.schema
    assert again[0].count() == ref.count()


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([1, 2], pa.int32())}), path)
    assert load_table(spark, str(tmp_path), "region").dtypes == [
        ("r_regionkey", "int")
    ]
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([1, 2, 3], pa.int64()),
                "r_name": ["a", "b", "c"],
            }
        ),
        path,
    )
    got = load_table(spark, str(tmp_path), "region")
    assert got.dtypes == [("r_regionkey", "bigint"), ("r_name", "string")]
    assert sorted(r["r_name"] for r in got.collect()) == ["a", "b", "c"]


def test_events_ts_is_timestamp_under_either_nanos_setting(spark, sf_dir):
    saved = spark.conf.get(NANOS_AS_LONG)
    try:
        firsts = []
        for setting in ("false", "true", "false"):
            spark.conf.set(NANOS_AS_LONG, setting)
            ev = load_table(spark, sf_dir, "events")
            assert dict(ev.dtypes)["ts"] == "timestamp", setting
            firsts.append(ev.orderBy("ts").select("ts").first()["ts"])
        assert firsts[0] == firsts[1] == firsts[2]
    finally:
        spark.conf.set(NANOS_AS_LONG, saved)
