"""Tracing for the benchmark's traced runs: spans, layer wrappers and
Spark status-store reads.

Everything here observes the package from outside. Layer spans come from
wrappers the benchmark installs on the package's public functions before
the query registry is imported (``queries.py`` binds them by name at
import). Spark stage metrics are read from the status store right after
each query, before ``spark.ui.retainedStages`` can drop them; Catalyst
phase times come from a query execution listener, for the plans Spark ran.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
import types
import uuid

PACKAGE = "steam_data_engineer_project_spark"

#: operator modules whose public functions get one span family each: the
#: ones the workloads call
OPERATOR_MODULES = ("dedup", "components")

#: (span name, module, function) of every other wrapped layer call
LAYER_CALLS = (
    ("plans.build", "plans.models", "build"),
    ("plans.run_model_sql", "plans.sql", "run_model_sql"),
    ("quality.run_checks", "quality.checks", "run_checks"),
)


class Tracer:
    """In-memory spans. A span is a dict with ``id``, ``parent``, ``name``,
    ``start``, ``end`` (epoch seconds) and ``attrs``; all spans of one run
    carry the same ``run``. Spans opened on threads the benchmark did not
    start (the package's driver thread pools) take the innermost span open
    on the main thread as their parent."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, **attrs) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            span = {
                "run": self.run_id, "id": len(self.spans), "parent": parent,
                "name": name, "start": time.time(), "end": None, "attrs": attrs,
            }
            self.spans.append(span)
        stack.append(span["id"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack().pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name, layer=True)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap every layer call named above.

    Must run before ``queries`` is imported. Module functions are replaced
    on their module and on every already-imported package module that
    bound them by name."""
    if f"{PACKAGE}.queries" in sys.modules:
        raise RuntimeError("layer wrappers must be installed before queries is imported")
    swaps: dict[int, tuple] = {}
    targets = list(LAYER_CALLS)
    for op in OPERATOR_MODULES:
        mod = importlib.import_module(f"{PACKAGE}.operators.{op}")
        targets += [
            (f"operators.{op}", f"operators.{op}", attr)
            for attr, obj in vars(mod).items()
            if isinstance(obj, types.FunctionType)
            and not attr.startswith("_")
            and obj.__module__ == mod.__name__
        ]
    for name, module, attr in targets:
        owner = importlib.import_module(f"{PACKAGE}.{module}")
        fn = getattr(owner, attr)
        wrapped = tracer.wrap(fn, name)
        setattr(owner, attr, wrapped)
        swaps[id(fn)] = (fn, wrapped)
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(PACKAGE) or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            hit = swaps.get(id(obj))
            if hit is not None and hit[0] is obj:
                setattr(mod, attr, hit[1])


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkStatus:
    """Reads job and stage metrics from the driver's status store."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._last_job = self._newest_job_id()
        self._seen_stages: set[int] = set()

    def _newest_job_id(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def flush(self) -> None:
        """Wait until the listener bus has delivered every pending event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, with their stages'
        metrics. Stages already reported (shared by an earlier job) and
        skipped stages are left out."""
        self.flush()
        jobs = self._store.jobsList(None)  # newest first
        fresh = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            fresh.append(job)
        if fresh:
            self._last_job = fresh[0].jobId()
        out = []
        for job in reversed(fresh):
            stage_ids = job.stageIds()
            stages = []
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                stage = self._stage(sid)
                if stage is not None:
                    stages.append(stage)
            out.append({"job": job.jobId(), "submitted": _opt_ms(job.submissionTime()), "stages": stages})
        return out

    def _stage(self, sid: int) -> dict | None:
        try:
            s = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — a stage the store no longer holds
            return None
        if s.status().toString() == "SKIPPED":
            return None
        return {
            "stage": sid,
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
            "shuffle_records": s.shuffleWriteRecords(),
            "input_mb": s.inputBytes() / 2**20,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
            "start": _opt_ms(s.submissionTime()),
            "end": _opt_ms(s.completionTime()),
        }

    def cached_mb(self) -> float:
        infos = self._jsc.getRDDStorageInfo()
        return sum(infos[i].memSize() for i in range(len(infos))) / 2**20


class ServedPlans:
    """A ``QueryExecutionListener`` that records, while ``enabled``, the
    Catalyst phase times of every action Spark ran, read from the phase
    tracker of the query execution that ran it. Nothing is planned again.

    It stays registered for the whole traced run: py4j hands the JVM a new
    proxy on every call, so ``unregister`` cannot find it. Between traced
    passes it is called and records nothing."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.enabled = False
        self._served: list[dict] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 — JVM interface
        if not self.enabled:
            return
        phases = qe.tracker().phases()
        served = {"action": func_name}
        for phase in self.PHASES:
            opt = phases.get(phase)
            served[phase] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        self._served.append(served)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 — JVM interface
        pass

    def drain(self) -> list[dict]:
        """Plans served since the previous call, oldest first. Call after
        the listener bus is flushed (``SparkStatus.flush``)."""
        served, self._served = self._served, []
        return served

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
