"""Per-layer tracing, measured from outside the engine.

``LayerTrace.install`` wraps the public functions of each engine layer
(catalog, execution, serving, storage, streaming, sources) with counters
and timers. The engine imports most of these functions by name, so a
wrapper is bound at every module-level alias of the original function
object, not only in the defining module. Times are inclusive: a serving
build that writes through ``sources`` counts in both layers. Nested calls
of the same metric (one compaction entry point calling another) count
once, at the outermost call.

``SparkJobs`` reads Spark's own status store for the jobs of one job
group, which the worker sets per query and phase. An ``eager_pin`` call
counts as blocked when one of its query's Spark jobs ran inside the
call's wall interval: that is measured, not re-derived from the
engine's pin policy.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
import sys
import threading
import time
from collections import defaultdict

PKG = "hadoop_project_spark"

STORAGE_OPS = (
    "list_names", "exists", "is_dir", "read_text", "put_text_atomic",
    "remove", "remove_tree", "stat_sig", "mtime", "publish_dir",
)
SINK_FACTORIES = {
    "streaming.sinks": ["idempotent_parquet_sink"],
    "streaming.index_segments": ["make_segment_sink", "make_postings_segment_sink"],
    "streaming.lsh_segments": ["make_bandkeys_segment_sink", "make_gated_bandkeys_sink"],
    "streaming.ann_segments": ["make_codes_segment_sink"],
    "streaming.merge": ["make_merge_sink"],
}
COMPACTORS = {
    "streaming.index_segments": ["compact_segments", "compact_segments_into"],
    "streaming.lsh_segments": ["compact_bandkeys_segments"],
    "streaming.ann_segments": ["compact_codes_segments"],
}
WRITERS = {
    "sources.sinks": [
        "write_partitioned", "write_bucketed", "write_partitioned_table",
        "compact_parquet", "write_text_report",
    ],
    "sources.csv": ["write_csv"],
    "sources.formats": ["write_orc", "write_json", "write_avro"],
    "sources.layout": ["write_zordered"],
    "sources.text": ["write_kv_text"],
}


def import_engine() -> list:
    """Import every module of the engine package, so that aliases made
    by lazy imports exist before wrappers are bound."""
    pkg = importlib.import_module(PKG)
    for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
        importlib.import_module(info.name)
    return [m for n, m in sys.modules.items() if n == PKG or n.startswith(PKG + ".")]


def rebind(original, replacement, modules) -> int:
    """Point every module-level name bound to ``original`` at
    ``replacement``; returns how many names were rebound."""
    n = 0
    for mod in modules:
        for name, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, name, replacement)
                n += 1
    return n


class LayerTrace:
    """Counters and busy seconds per layer metric, shared by every
    thread of the worker."""

    def __init__(self) -> None:
        self.values: dict[str, float] = defaultdict(float)
        self.spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self._lock = threading.Lock()
        self._depth = threading.local()

    def add(self, key: str, v: float = 1.0) -> None:
        with self._lock:
            self.values[key] += v

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            return dict(self.values)

    def take_spans(self) -> dict[str, list[tuple[float, float]]]:
        """The recorded call intervals since the last call, by key."""
        with self._lock:
            spans, self.spans = dict(self.spans), defaultdict(list)
        return spans

    def timed(self, calls_key: str, s_key: str | None, fn, on_result=None,
              span_key: str | None = None):
        """Wrap ``fn``: count outermost calls under ``calls_key`` and
        their wall seconds under ``s_key``; ``on_result(args, out)``
        runs after an outermost call returns. With ``span_key`` set, the
        wall-clock interval of each outermost call is kept for
        ``take_spans``."""
        depth = self._depth

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            d = getattr(depth, calls_key, 0)
            setattr(depth, calls_key, d + 1)
            wall0, t0 = time.time(), time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                setattr(depth, calls_key, d)
                if d == 0:
                    self.add(calls_key)
                    if s_key:
                        self.add(s_key, time.perf_counter() - t0)
                    if span_key:
                        with self._lock:
                            self.spans[span_key].append((wall0, time.time()))
            if d == 0 and on_result is not None:
                on_result(args, out)
            return out

        return wrapper

    def install(self) -> None:
        """Wrap every traced engine function at all of its aliases."""
        modules = import_engine()
        mod = lambda name: sys.modules[f"{PKG}.{name}"]  # noqa: E731

        def wrap(module: str, attr: str, wrapper_of) -> None:
            original = getattr(mod(module), attr)
            if rebind(original, wrapper_of(original), modules) == 0:
                raise RuntimeError(f"no alias of {module}.{attr} to trace")

        wrap("catalog", "load_table", lambda f: self.timed(
            "catalog.load_table.calls", "catalog.load_table.s", f))

        wrap("execution", "eager_pin", lambda f: self.timed(
            "execution.eager_pin.calls", "execution.eager_pin.s", f,
            span_key="execution.eager_pin.blocked"))
        wrap("execution", "widen_for_compute", lambda f: self.timed(
            "execution.widen.calls", None, f,
            lambda args, out: out is not args[0] and self.add("execution.widen.taken")))
        wrap("execution", "run_overlapped", self._run_overlapped)
        wrap("execution", "release_pins", lambda f: self.timed(
            "execution.release_pins.calls", None, f,
            lambda args, out: self.add("execution.pins_released", out)))

        wrap("serving", "attach_or_build", lambda f: self.timed(
            "serving.attach_or_build.calls", "serving.attach_or_build.s", f,
            lambda args, out: out and self.add("serving.builds")))

        store_cls = mod("storage").LocalStore
        for op in STORAGE_OPS:
            setattr(store_cls, op, self.timed(
                "storage.ops", "storage.ops.s", getattr(store_cls, op)))

        for module, names in SINK_FACTORIES.items():
            for name in names:
                wrap(module, name, self._sink_factory)
        for module, names in COMPACTORS.items():
            for name in names:
                wrap(module, name, lambda f: self.timed(
                    "streaming.compact.calls", "streaming.compact.s", f))
        for module, names in WRITERS.items():
            for name in names:
                wrap(module, name, lambda f: self.timed(
                    "sources.write.calls", "sources.write.s", f))

    def _sink_factory(self, factory):
        @functools.wraps(factory)
        def make(*args, **kwargs):
            return self.timed("streaming.sink_batches", None,
                              factory(*args, **kwargs))
        return make

    def _run_overlapped(self, fn):
        """Count thunks, and carry the caller's Spark job group into the
        pool threads: a new Python thread gets a JVM thread without the
        caller's local properties, so its jobs would be untagged."""
        from pyspark import SparkContext

        def tagged(thunk, group):
            def run():
                SparkContext._active_spark_context.setLocalProperty(
                    "spark.jobGroup.id", group)
                return thunk()
            return run

        timed = self.timed("execution.run_overlapped.calls",
                           "execution.run_overlapped.s", fn)

        @functools.wraps(fn)
        def wrapper(thunks, *args, **kwargs):
            thunks = list(thunks)
            self.add("execution.run_overlapped.thunks", len(thunks))
            group = SparkContext._active_spark_context.getLocalProperty(
                "spark.jobGroup.id")
            if group is not None:
                thunks = [tagged(t, group) for t in thunks]
            return timed(thunks, *args, **kwargs)

        return wrapper


def record_tables(names: set) -> None:
    """Add the name of every table ``catalog.load_table`` loads from now
    on to ``names``. The recorder is bound at every alias in the engine
    modules imported so far; a module imported later takes it from the
    catalog module. Importing nothing more keeps the cold pass cold."""
    modules = [m for n, m in sys.modules.items() if n == PKG or n.startswith(PKG + ".")]
    original = importlib.import_module(f"{PKG}.catalog").load_table

    @functools.wraps(original)
    def load_table(*args, **kwargs):
        names.add(args[2] if len(args) > 2 else kwargs["name"])
        return original(*args, **kwargs)

    rebind(original, load_table, modules)


def _union_s(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in spans:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SparkJobs:
    """Jobs, stages and task metrics of one job group, from the
    application's status store (no web UI needed)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.cores = self.sc.defaultParallelism
        self._seen_untagged = set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _job(self, jid: int) -> dict:
        jd = self.store.job(jid)
        sub, end = jd.submissionTime(), jd.completionTime()
        ids = jd.stageIds()
        return {
            "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "end": end.get().getTime() / 1e3 if end.isDefined() else None,
            "stages": [ids.apply(i) for i in range(ids.size())],
        }

    def _stage(self, sid: int) -> dict | None:
        sd = self.store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            return None
        return {
            "tasks": sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks(),
            "failed_tasks": sd.numFailedTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_mb": sd.inputBytes() / 1e6,
            "output_mb": sd.outputBytes() / 1e6,
            "shuffle_read_mb": sd.shuffleReadBytes() / 1e6,
            "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
            "spill_mb": sd.diskBytesSpilled() / 1e6,
        }

    def query(self, phases: dict[str, tuple[str, float, float]],
              calls: dict[str, list[tuple[float, float]]] | None = None) -> dict:
        """Account one query whose phases ran under job groups: ``phases``
        maps a phase name to (job group, start, end) in wall-clock
        seconds. A job no group claims counts as busy time of the phase
        whose window it overlaps, so it cannot hide in the driver gap.
        ``calls`` maps a key to the wall intervals of traced calls made
        during the query; the result counts, per key, the calls inside
        which one of the query's jobs ran from start to end."""
        self.bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        untagged = [j for j in tracker.getJobIdsForGroup(None)
                    if j not in self._seen_untagged]
        self._seen_untagged.update(untagged)
        jobs = {p: [self._job(j) for j in tracker.getJobIdsForGroup(g)]
                for p, (g, _a, _b) in phases.items()}
        loose = [self._job(j) for j in untagged]
        lo = min(a for _g, a, _b in phases.values())
        hi = max(b for _g, _a, b in phases.values())

        def spans(js):
            return [(j["start"], j["end"] if j["end"] is not None else hi)
                    for j in js if j["start"] is not None]

        out: dict[str, float] = defaultdict(float)
        for p, (_g, a, b) in phases.items():
            self_s = (b - a) - _union_s(spans(jobs[p] + loose), a, b)
            out[f"{p}.jobs"] = len(jobs[p])
            out[f"{p}.self_s"] = self_s
            out["driver_gap_s"] += self_s
        tagged = [j for js in jobs.values() for j in js]
        ran = spans(tagged + loose)
        for key, intervals in (calls or {}).items():
            # job times are whole milliseconds
            out[key] = sum(any(a >= c0 - 0.002 and b <= c1 + 0.002 for a, b in ran)
                           for c0, c1 in intervals)
        out["job_s"] = _union_s(spans(tagged), lo, hi)
        out["closure_err"] = abs(out["driver_gap_s"] + out["job_s"] - (hi - lo)) / (hi - lo)
        out["jobs"] = len(tagged) + len(loose)
        for sid in {s for j in tagged + loose for s in j["stages"]}:
            st = self._stage(sid)
            if st is None:
                continue
            out["stages"] += 1
            for k, v in st.items():
                out[k] += v
        return dict(out)
