from __future__ import annotations

import os

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from hadoop_project_spark.session import get_spark

    s = get_spark(app_name="hps-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
                  shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture
def jobs_run_by(spark):
    """``jobs_run_by(fn)`` -> the ids of the Spark jobs ``fn()`` launched,
    from the status tracker. ``fn`` runs under its own job group; a
    marker job under a second group is then awaited, so every earlier
    job event has reached the tracker before the group is read."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn) -> list[int]:
        group = f"jobs-run-by-{uuid.uuid4().hex}"
        try:
            sc.setJobGroup(group, group)
            fn()
            sc.setJobGroup(f"{group}-marker", "marker")
            spark.range(1).collect()
            deadline = time.monotonic() + 60
            while not tracker.getJobIdsForGroup(f"{group}-marker"):
                assert time.monotonic() < deadline, "marker job never tracked"
                time.sleep(0.02)
            return sorted(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return run
