"""Benchmark of the query engine: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload compute_heavy --seed 1 --seconds 3 --trace 0

Run from the root of a checkout of the repository. The run reads the
engine's sf0.01 test fixture from ``fixture/sf0.01`` (the seed fixes the
order of the queries in each warm pass), gives itself an empty Spark
warehouse and temp directory under ``.perfbench_runs/``, and removes
them at the end. Load model: a closed loop with one client; one process
runs the workload's queries one after another on ``local[nproc]``.

Each run starts one fresh worker process (``worker.py``). It times the
cold pass (its first pass), then warm passes until ``--seconds`` have
elapsed, then compares each query's output with its DuckDB oracle,
outside any timed region. ``setup_s`` runs from the worker's spawn until
its session and warm-up job are ready. With ``--trace 1`` the second
half of the warm passes and the output check run under the layer
wrappers of ``layers.py``, and the result carries the per-layer metrics
instead of the end-to-end ones.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are a readable report. ``error_rate`` is ``failed / attempted``:
queries that raised in a timed pass plus outputs that failed their
oracle check, over queries attempted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from worker import cpu_ticks  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
WORKER_TIMEOUT_S = 150

E2E_UNITS = {
    "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "cold_pass_s": "s", "setup_s": "s", "peak_rss_mb": "MB",
    "space_amp": "ratio",
}
# per-layer metric -> unit, read from a traced pass's layer counters
LAYER_COUNTERS = {
    "catalog.load_table.calls": "count",
    "catalog.load_table.s": "s",
    "execution.eager_pin.calls": "count",
    "execution.eager_pin.s": "s",
    "execution.widen.calls": "count",
    "execution.widen.taken": "count",
    "execution.run_overlapped.calls": "count",
    "execution.run_overlapped.thunks": "count",
    "execution.run_overlapped.s": "s",
    "execution.pins_released": "count",
    "serving.attach_or_build.calls": "count",
    "serving.builds": "count",
    "serving.attach_or_build.s": "s",
    "storage.ops": "count",
    "storage.ops.s": "s",
    "streaming.sink_batches": "count",
    "streaming.compact.calls": "count",
    "streaming.compact.s": "s",
    "sources.write.calls": "count",
    "sources.write.s": "s",
}
# per-layer metric -> (unit, key summed over a traced pass's queries)
SPARK_SUMS = {
    "execution.eager_pin.blocked": ("count", "execution.eager_pin.blocked"),
    "plans.build.self_s": ("s", "build.self_s"),
    "plans.build.jobs": ("count", "build.jobs"),
    "plans.exec.jobs": ("count", "exec.jobs"),
    "spark.jobs": ("count", "jobs"),
    "spark.stages": ("count", "stages"),
    "spark.tasks": ("count", "tasks"),
    "spark.failed_tasks": ("count", "failed_tasks"),
    "spark.shuffle_write_mb": ("MB", "shuffle_write_mb"),
    "spark.shuffle_read_mb": ("MB", "shuffle_read_mb"),
    "spark.spill_mb": ("MB", "spill_mb"),
    "spark.input_mb": ("MB", "input_mb"),
    "spark.output_mb": ("MB", "output_mb"),
    "spark.executor_run_s": ("s", "run_s"),
    "spark.executor_cpu_s": ("s", "cpu_s"),
    "spark.gc_s": ("s", "gc_s"),
    "spark.driver_gap_s": ("s", "driver_gap_s"),
}


def run_worker(cfg: dict, run_dir: str, env: dict) -> dict:
    """Run the worker in its own process group; on exit or timeout,
    stop whatever the group still holds and wait until it is gone."""
    cfg_path = os.path.join(run_dir, "config.json")
    out = os.path.join(run_dir, "worker.json")
    log_path = os.path.join(run_dir, "worker.log")
    cfg["spawn_ticks"] = cpu_ticks()
    cfg["spawned_at"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--config", cfg_path, "--out", out],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            stop_group(proc)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker failed ({code}):\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def group_members(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def stop_group(proc) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if proc.poll() is None or group_members(proc.pid):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline:
            if proc.poll() is not None and not group_members(proc.pid):
                return
            time.sleep(0.1)
    proc.wait()


def unstolen(seconds: float, steal: float) -> float:
    """Wall seconds less the share of wanted CPU time the hypervisor
    gave to other guests meanwhile (see README)."""
    return seconds * (1.0 - steal)


def end_to_end(main: dict, space_amp: float) -> dict:
    warm = main["warm"]
    samples = [unstolen(q["wall_s"], q["steal"]) for p in warm for q in p["queries"]]
    return {
        "pass_s": statistics.median(unstolen(p["pass_s"], p["steal"]) for p in warm),
        "query_p50_s": statistics.median(samples),
        "query_p90_s": statistics.quantiles(samples, n=10, method="inclusive")[8],
        "cold_pass_s": unstolen(main["cold"]["pass_s"], main["cold"]["steal"]),
        "setup_s": unstolen(main["setup_s"], main["setup_steal"]),
        "peak_rss_mb": main["peak_rss_mb"],
        "space_amp": space_amp,
    }


def per_layer(main: dict, cores: int) -> dict:
    """Per-layer metrics: medians over the traced warm passes of each
    pass's total, plus the run-level set-up, overhead, the raw wall and
    stolen share behind the adjusted times, and calibration."""
    traced = main["traced"]
    per_pass: dict[str, list[float]] = {}
    for p in traced:
        qs, layers = p["queries"], p["layers"]
        row = {k: layers.get(k, 0.0) for k in LAYER_COUNTERS}
        for name, (_unit, key) in SPARK_SUMS.items():
            row[name] = sum(q["spark"].get(key, 0.0) for q in qs)
        row["plans.build.s"] = sum(q["build_s"] for q in qs)
        row["plans.exec.s"] = sum(q["exec_s"] for q in qs)
        calls = row["serving.attach_or_build.calls"]
        row["serving.attach_hit_rate"] = (
            (calls - row["serving.builds"]) / calls if calls else 0.0)
        row["spark.core_util"] = row["spark.executor_run_s"] / (p["pass_s"] * cores)
        for k, v in row.items():
            per_pass.setdefault(k, []).append(v)
    units = {**LAYER_COUNTERS, **{k: u for k, (u, _) in SPARK_SUMS.items()},
             "plans.build.s": "s", "plans.exec.s": "s",
             "serving.attach_hit_rate": "ratio", "spark.core_util": "ratio"}
    out = {"session.start_s": {"value": main["session_start_s"], "unit": "s"}}
    for k in sorted(per_pass):
        out[k] = {"value": statistics.median(per_pass[k]), "unit": units[k]}
    out["bench.trace_overhead"] = {"value": (
        statistics.median(unstolen(p["pass_s"], p["steal"]) for p in traced)
        / statistics.median(unstolen(p["pass_s"], p["steal"]) for p in main["warm"])),
        "unit": "ratio"}
    out["bench.raw_pass_s"] = {"value": statistics.median(
        p["pass_s"] for p in main["warm"]), "unit": "s"}
    out["bench.steal_share"] = {"value": statistics.median(
        p["steal"] for p in main["warm"]), "unit": "ratio"}
    out["bench.closure_err_max"] = {"value": max(
        q["spark"]["closure_err"] for p in traced for q in p["queries"]), "unit": "ratio"}
    for k, v in main["calibration"].items():
        out[f"calibration.{k}"] = {"value": v, "unit": "s"}
    return out


def self_check(wl: dict, metrics: dict) -> list[str]:
    """Counters the workload must drive; zero means a wrapper missed."""
    return [k for k in wl["expect_calls"] if metrics[k]["value"] <= 0]


def main() -> int:
    ap = argparse.ArgumentParser(description="Query-engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hadoop_project_spark", "plans", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cpus = str(len(os.sched_getaffinity(0)))
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("warehouse", "tmp", "spark_local")}
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d)
    try:
        cfg = {
            "root": ROOT, "workload": args.workload, "queries": wl["queries"],
            "seed": args.seed, "seconds": args.seconds, "trace": bool(args.trace),
            "cpus": cpus, "data": FIXTURE, **dirs,
        }
        env = {
            **os.environ,
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["spark_local"],
            # every JVM, the spark-submit launcher included: no perf-data
            # file under /tmp, temp files inside the run directory
            "JAVA_TOOL_OPTIONS":
                f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['spark_local']}",
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "PYTHONPATH": os.pathsep.join([HERE, ROOT]),
            "PYTHONHASHSEED": "0",
        }
        res = run_worker(cfg, run_dir, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [q for p in [res["cold"], *res["warm"], *res.get("traced", [])]
             for q in p["queries"]]
    errors = [q for q in timed if "error" in q]
    mismatches = {n: c for n, c in res["checks"].items() if not c["ok"]}
    attempted = len(timed) + len(res["checks"])
    failed = len(errors) + len(mismatches)

    # bytes on disk after the passes over the bytes of input they read
    input_bytes = sum(os.path.getsize(os.path.join(FIXTURE, f"{t}.parquet"))
                      for t in res["tables"])
    e2e = end_to_end(res, (input_bytes + res["left_bytes"]) / input_bytes)
    samples = sum(len(p["queries"]) for p in res["warm"])
    print(f"workload {args.workload} seed {args.seed} local[{cpus}] "
          f"warm passes {len(res['warm'])} query samples {samples}")
    print(f"  tables read {', '.join(res['tables'])}: {input_bytes} bytes; "
          f"left on disk {res['left_bytes']} bytes")
    print("  raw wall s, stolen share: setup "
          f"{res['setup_s']:.2f} {res['setup_steal']:.2f}; passes " + ", ".join(
              f"{p['pass_s']:.2f} {p['steal']:.2f}" for p in [res["cold"], *res["warm"]]))
    for k, v in e2e.items():
        print(f"  {k:<14} {v:10.4f} {E2E_UNITS[k]}")
    print(f"  error_rate     {failed / attempted:10.4f} ({failed}/{attempted})")
    for q in errors[:3]:
        print(f"  error in {q['name']}: {q['error']}")
    for n, c in mismatches.items():
        print(f"  check failed for {n}: {c.get('error', '')[-600:]}")

    if args.trace:
        metrics = per_layer(res, int(cpus))
        for k, v in metrics.items():
            print(f"  {k:<36} {v['value']:12.4f} {v['unit']}")
        missed = self_check(wl, metrics)
        if missed:
            print(f"perfbench: traced counters stayed at zero on "
                  f"{args.workload}: {', '.join(missed)}", file=sys.stderr)
            return 3
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
