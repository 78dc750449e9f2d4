"""Spans around calls into the repository's layers, and exact Spark job
attribution.

A `Tracer` records spans (name, start, end, parent, operation id) in
memory. Each span sets its own Spark job group for its duration, so a
job fired inside it carries the span's id; after the operation the
benchmark asks the status tracker for each span's jobs by group id.
That is exact however many jobs the application has run: it never
takes differences of `getJobIdsForGroup(None)` lengths or of stage-list
totals, which `spark.ui.retainedJobs`/`retainedStages` cap.

The module that fired a job comes from Spark's recorded call site
(`<action> at <file>:<line>`, set by PySpark to the first frame outside
pyspark). Some PySpark calls (DataFrameWriter, DataStreamWriter.start)
set no call site, so Spark records the py4j entry
(`<method> at NativeMethodAccessorImpl.java:0`); such a job belongs to
the innermost enclosing span that wraps a repository function. A job
whose call site is neither — broadcast and subquery jobs submitted from
Spark's own threads — is attributed to `spark.async`.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

PKG = "error_analysis_spark"


class Tracer:
    """In-memory span recorder; `enabled=False` makes `span` a no-op."""

    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None
        self._seq = 0  # span ids stay unique when `spans` is reset
        self._patched: list[tuple[object, str, object]] = []
        # sampled as each span ends: MB of cached RDD/DataFrame blocks
        self.storage_probe = None
        self.peak_cached_mb = 0.0

    @contextmanager
    def span(self, name: str, module: str | None = None):
        """Record a span; `module` names the repository module whose
        function the span wraps."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        rec = {"id": f"perfbench-{id(self)}-{self._seq}",
               "name": name, "parent": parent["id"] if parent else None,
               "op": self.op_id, "module": module, "t0": time.time(),
               "t1": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self.storage_probe is not None:
                self.peak_cached_mb = max(self.peak_cached_mb,
                                          self.storage_probe())
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent["id"] if parent else None)

    # -- wrapping a layer's public functions ---------------------------

    def wrap(self, targets) -> None:
        """For each (module, function name, span name) target, replace
        the function — and every reference to the same function object
        held by an already-imported repository module — with a wrapper
        that runs the call inside `span(span name)`."""
        refs: dict[int, list[tuple[object, str]]] = {}
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith(PKG) or name == "__spark_entry__":
                for attr, val in list(vars(mod).items()):
                    if callable(val):
                        refs.setdefault(id(val), []).append((mod, attr))
        for module, fn_name, span_name in targets:
            orig = getattr(module, fn_name)
            for mod, attr in refs.get(id(orig), []):
                setattr(mod, attr, self._wrapper(orig, span_name))
                self._patched.append((mod, attr, orig))

    def _wrapper(self, orig, span_name: str):
        owner = orig.__module__.removeprefix(PKG + ".")

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(span_name, owner):
                return orig(*a, **kw)
        return wrapper

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()


def public_functions(module_names):
    """(module, name, span name) for every public function defined in
    the named repository modules."""
    import importlib
    import inspect
    out = []
    for name in module_names:
        mod = importlib.import_module(f"{PKG}.{name}")
        for attr, val in vars(mod).items():
            if inspect.isfunction(val) and not attr.startswith("_") \
                    and val.__module__ == mod.__name__:
                out.append((mod, attr, f"{name}.{attr}"))
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span id: duration minus the union of its direct
    children's intervals."""
    kids: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        out[s["id"]] = (s["t1"] - s["t0"]) - covered(
            [(k["t0"], k["t1"]) for k in kids.get(s["id"], [])],
            s["t0"], s["t1"])
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


PY4J_ENTRIES = ("NativeMethodAccessorImpl.java", "DirectMethodHandleAccessor",
                "GeneratedMethodAccessor")


def module_of(call_site: str | None) -> str | None:
    """Repository module ('operators.align', 'pipeline', ...) named by a
    job's call site, 'bench' for the benchmark's own actions, None for a
    py4j entry from Python that carries no call site, or 'spark.async'
    when no repository frame submitted the job."""
    if not call_site or " at " not in call_site:
        return "spark.async"
    path = call_site.rsplit(" at ", 1)[1].rsplit(":", 1)[0].replace("\\", "/")
    if path.startswith(PY4J_ENTRIES):
        return None
    if f"/{PKG}/" in path:
        rel = path.split(f"/{PKG}/", 1)[1]
        return rel[:-3].replace("/", ".") if rel.endswith(".py") else rel
    if path.endswith("__spark_entry__.py"):
        return "plans.entry"
    if "/perfbench/" in path:
        return "bench"
    return "spark.async"


class StatusReader:
    """Reads job and stage records from the application status store
    through py4j, one JSON document per record."""

    STAGE_KEYS = ("status", "submissionTime", "numCompleteTasks",
                  "numFailedTasks", "executorCpuTime", "executorRunTime",
                  "jvmGcTime", "shuffleFetchWaitTime", "shuffleReadBytes",
                  "shuffleWriteBytes", "diskBytesSpilled", "inputBytes",
                  "outputBytes")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._ssc = self.sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished jobs' final metrics."""
        self._ssc.listenerBus().waitUntilEmpty(30_000)

    def jobs_in_group(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict:
        return json.loads(self._json.writeValueAsString(
            self._store.job(job_id)))

    def stage(self, stage_id: int) -> dict:
        d = json.loads(self._json.writeValueAsString(
            self._store.lastStageAttempt(stage_id)))
        return {k: d.get(k) for k in self.STAGE_KEYS}

    def cached_mb(self) -> float:
        infos = self._ssc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2 ** 20
