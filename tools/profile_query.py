"""Query profiler: per-query wall, per-JOB breakdown, and
.explain("formatted") capture for the queries being optimized.

Usage: python tools/profile_query.py <plan_dir> <tag> <query> [query ...]
  plan_dir: directory the plan files go to (created if missing)
  tag: suffix for the plan files (<plan_dir>/<query>_<tag>.txt)

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
PROFILE_RUNS (default 3).

Each query runs PROFILE_RUNS times (build + noop-sink exec timed
separately, like bench.py); after the LAST run the job-level timeline
since the query's start is printed (jobId, duration, stage count,
task count, call site) — this is how build-side work (writes, fits,
collect barriers) inside end-to-end queries gets attributed, which
bench.py's single build/exec split cannot see.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.request
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_project_spark.execution import clear_query_state


def _rest(spark, path: str):
    try:
        base = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        url = f"{base}/api/v1/applications/{app_id}/{path}"
        with urllib.request.urlopen(url, timeout=10) as resp:
            return json.load(resp)
    except Exception:  # noqa: BLE001
        return []


def _job_ms(job: dict) -> float:
    """Job wall in ms from the REST payload's submission/completion
    timestamps; -1 for a job that has not completed."""
    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    if "completionTime" not in job:
        return -1
    return (
        datetime.strptime(job["completionTime"], fmt)
        - datetime.strptime(job["submissionTime"], fmt)
    ).total_seconds() * 1000


def main() -> None:
    plan_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_runs = int(os.environ.get("PROFILE_RUNS", "3"))

    from hadoop_project_spark.plans import all_queries
    from hadoop_project_spark.session import get_spark

    spark = get_spark(
        app_name="hps-profile",
        cpus=cpus,
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "true"},
    )
    specs = all_queries()

    # same warm-up as bench.py (codegen templates, arrow pool)
    from pyspark.sql import Window, functions as F

    from hadoop_project_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    na = load_table(spark, sf_dir, "nation")
    li.count()
    li.groupBy("l_returnflag").agg(F.sum("l_quantity")).write.format(
        "noop"
    ).mode("overwrite").save()
    na.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("n_regionkey").orderBy("n_nationkey")
        ),
    ).write.format("noop").mode("overwrite").save()
    na.mapInPandas(lambda it: it, schema=na.schema).write.format(
        "noop"
    ).mode("overwrite").save()

    os.makedirs(plan_dir, exist_ok=True)
    for name in names:
        spec = specs[name]
        builds, execs = [], []
        job_mark = max(
            (j["jobId"] for j in _rest(spark, "jobs")), default=-1
        )
        df = None
        for i in range(n_runs):
            if i == n_runs - 1:
                job_mark = max(
                    (j["jobId"] for j in _rest(spark, "jobs")), default=-1
                )
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = spec.build(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            spark.sparkContext.setJobDescription(None)
            if i < n_runs - 1:
                clear_query_state(spark)
        # explain of the returned frame (the declared query surface)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plan_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        clear_query_state(spark)
        tot = [b + e for b, e in zip(builds, execs)]
        print(
            f"\n### {name}: median total {statistics.median(tot):.3f}s "
            f"(build {statistics.median(builds):.3f} / "
            f"exec {statistics.median(execs):.3f}); runs="
            + ",".join(f"{t:.2f}" for t in tot),
            flush=True,
        )
        jobs = [j for j in _rest(spark, "jobs") if j["jobId"] > job_mark]
        jobs.sort(key=lambda j: j["jobId"])
        for j in jobs:
            dur = _job_ms(j)
            # the call-site name: every job's description is the same
            # profile:<query> label set above
            site = (j.get("name") or "")[:110]
            print(
                f"  job {j['jobId']:>4}  {dur/1000:7.2f}s "
                f" stages={len(j.get('stageIds', [])):>2}"
                f" tasks={j.get('numCompletedTasks', '?'):>4}  {site}",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
