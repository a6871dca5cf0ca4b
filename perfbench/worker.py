"""One benchmark process: start a Spark session, time the workload's
passes, then check the output of every query of the last pass against
its DuckDB oracle.
``run.py`` starts it and reads the JSON it writes to ``--out``.

A query is ``QuerySpec.build(spark, data_dir)`` followed by a ``noop``
sink, and ``execution.clear_query_state`` runs between queries, as in
``bench.py``. The first pass of the process is the cold pass; passes
then repeat until ``seconds`` have elapsed. With tracing on, untraced
passes run for half the time, then the layer wrappers are installed and
traced passes run for the other half, so the trace overhead is measured
in the same process; the output check then also runs traced.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(cfg: dict):
    from hadoop_project_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{cfg['workload']}",
        cpus=cfg["cpus"],
        shuffle_partitions=int(cfg["cpus"]),
        extra_conf={
            "spark.sql.warehouse.dir": cfg["warehouse"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, time.perf_counter() - t0


def run_query(spark, spec, data_dir: str, jobs=None, tag: str = "", trace=None):
    """Build and execute one query; with ``jobs`` set, tag each phase
    with a job group and account its Spark jobs, and the calls ``trace``
    recorded meanwhile. Returns the record and the query's DataFrame
    (None if the query raised)."""
    from hadoop_project_spark import execution

    sc = spark.sparkContext
    rec: dict = {"name": spec.name}
    ticks0 = cpu_ticks()
    t0 = time.time()
    try:
        if jobs is not None:
            sc.setJobGroup(f"{tag}:build", spec.name)
        df = spec.build(spark, data_dir)
        t1 = time.time()
        if jobs is not None:
            sc.setJobGroup(f"{tag}:exec", spec.name)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
    except Exception:  # noqa: BLE001 - one failing query must not stop the run
        rec["error"] = traceback.format_exc(limit=3)[-2000:]
        df = None
        t1 = t2 = time.time()
    finally:
        if jobs is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
    rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0,
               steal=steal_share(ticks0, cpu_ticks()))
    if jobs is not None:
        rec["spark"] = jobs.query({"build": (f"{tag}:build", t0, t1),
                                   "exec": (f"{tag}:exec", t1, t2)},
                                  trace.take_spans())
    execution.clear_query_state(spark)
    return rec, df


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of the whole machine. Stolen ticks are
    time this VM's runnable vCPUs waited while the hypervisor ran other
    guests; busy ticks include them."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq + steal, steal


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two readings that was stolen."""
    return (t1[1] - t0[1]) / max(1, t1[0] - t0[0])


def run_pass(spark, specs, cfg: dict, n: int, jobs=None, trace=None) -> dict:
    """Pass ``n`` over the workload. The cold pass (``n == 0``) runs the
    queries in the workload's listed order: its cost depends on which
    query pays the process's first-use costs, so a seeded order would
    make ``cold_pass_s`` measure the order. Warm passes run in an order
    fixed by the seed."""
    order = specs if n == 0 else random.Random(cfg["seed"] * 1000 + n).sample(specs, len(specs))
    before = trace.snapshot() if trace is not None else {}
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    ran = [run_query(spark, s, cfg["data"], jobs, f"p{n}:{s.name}", trace)
           for s in order]
    out = {"pass_s": time.perf_counter() - t0, "queries": [rec for rec, _ in ran],
           "steal": steal_share(ticks0, cpu_ticks()),
           "dfs": {rec["name"]: df for rec, df in ran}}
    if trace is not None:
        after = trace.snapshot()
        out["layers"] = {k: v - before.get(k, 0.0) for k, v in after.items()}
    return out


def calibrate(spark) -> dict:
    """bench.py's three fixed micro-workloads, for comparing hosts."""
    jvm, shuf = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(pmod(xxhash64(id), 1048576)) AS s") \
            .write.format("noop").mode("overwrite").save()
        jvm.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(2_000_000).selectExpr("id % 1000 AS k").groupBy("k").count() \
            .write.format("noop").mode("overwrite").save()
        shuf.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i
    return {
        "jvm_hash_s": statistics.median(jvm),
        "shuffle_s": statistics.median(shuf),
        "py_spin_s": time.perf_counter() - t0,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def timed_passes(spark, cfg: dict, specs) -> tuple[dict, dict]:
    """The cold pass, then warm passes (and traced ones with tracing
    on). Returns the timings and the DataFrames of the last pass."""
    from layers import LayerTrace, SparkJobs

    seconds = cfg["seconds"]
    out: dict = {"cold": run_pass(spark, specs, cfg, 0)}
    warm_for = seconds / 2 if cfg["trace"] else seconds
    warm, t_end = [], time.perf_counter() + warm_for
    while not warm or time.perf_counter() < t_end:
        warm.append(run_pass(spark, specs, cfg, len(warm) + 1))
    out["warm"] = warm
    if cfg["trace"]:
        trace = LayerTrace()
        trace.install()
        jobs = SparkJobs(spark)
        traced, t_end = [], time.perf_counter() + seconds / 2
        while not traced or time.perf_counter() < t_end:
            n = len(warm) + len(traced) + 1
            traced.append(run_pass(spark, specs, cfg, n, jobs, trace))
        out["traced"] = traced
    out["left_bytes"] = dir_bytes(cfg["warehouse"]) + dir_bytes(cfg["tmp"])
    passes = [out["cold"], *warm, *out.get("traced", [])]
    last = passes[-1]["dfs"]
    for p in passes:
        del p["dfs"]
    return out, last


def check_outputs(spark, cfg: dict, specs, dfs: dict) -> dict:
    """Compare the output of each query's DataFrame from the last timed
    pass with its oracle. The pass has released its cached relations,
    so the check recomputes them, outside any timed region."""
    from hadoop_project_spark import execution
    from hadoop_project_spark.quality import compare_to_oracle

    results = {}
    for spec in specs:
        try:
            if dfs[spec.name] is None:
                raise RuntimeError("the query raised in the last timed pass")
            r = compare_to_oracle(spark, dfs[spec.name], spec.oracle, cfg["data"],
                                  name=spec.name)
            results[spec.name] = {"ok": r.ok, "rows": r.rows}
        except Exception:  # noqa: BLE001 - a mismatch is a result, not a crash
            results[spec.name] = {
                "ok": False, "error": traceback.format_exc(limit=3)[-2000:],
            }
        execution.clear_query_state(spark)
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.config) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["root"])
    from hadoop_project_spark.plans import all_queries
    from layers import record_tables

    spark, session_s = start_session(cfg)
    spark.range(4).count()  # warm-up: scheduler and executor threads up
    result = {"setup_s": time.time() - cfg["spawned_at"], "session_start_s": session_s,
              "setup_steal": steal_share(cfg["spawn_ticks"], cpu_ticks())}
    registry = all_queries()
    specs = [registry[q] for q in cfg["queries"]]
    tables: set = set()
    record_tables(tables)
    timings, dfs = timed_passes(spark, cfg, specs)
    result.update(timings, tables=sorted(tables))
    jvm = spark.sparkContext._gateway.proc
    result["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm.pid)
    result["checks"] = check_outputs(spark, cfg, specs, dfs)
    if cfg["trace"]:
        result["calibration"] = calibrate(spark)
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)
    tmp = args.out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, args.out)


if __name__ == "__main__":
    main()
