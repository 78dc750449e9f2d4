"""Per-layer metrics of one traced operation, computed from its spans,
its Spark jobs (attributed by job group and call site), the status
store's stage records and the process tree's CPU.

`PER_LAYER` is the fixed list every traced run reports, in
BENCHMARK.json order; a metric a workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import covered, module_of, self_times

OPERATOR_MODULES = ["align", "stats", "zones", "uncertainty", "variogram",
                    "fitting"]
EXTENSION_MODULES = ["curation", "dedup", "similarity", "text", "multimodal"]
PAIR_STEPS = [  # (module path, function) — the ten steps analyze_pair calls
    ("error_analysis_spark.operators.align", "align_pair"),
    ("error_analysis_spark.operators.align", "difference"),
    ("error_analysis_spark.operators.zones", "rasterize_membership"),
    ("error_analysis_spark.operators.stats", "median_bias"),
    ("error_analysis_spark.operators.stats", "bootstrap_median_std"),
    ("error_analysis_spark.operators.stats", "rms"),
    ("error_analysis_spark.operators.stats", "zonal_stats"),
    ("error_analysis_spark.operators.variogram", "empirical_variogram"),
    ("error_analysis_spark.operators.fitting", "fit_best_spherical_model"),
    ("error_analysis_spark.operators.uncertainty", "sigma_a_by_zone"),
]
EXECUTOR = ["jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
            "task_cpu_s", "task_run_s", "gc_s", "fetch_wait_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
            "slot_busy_frac"]


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    if name.endswith("loadavg_1m"):
        return "load"
    return "count"


_NAMES = (
    ["session.start_s", "sources.write_s", "sources.write_mb",
     "sources.scan_mb", "sources.jobs", "sources.job_s", "plans.build_s",
     "plans.build_jobs", "plans.build_job_s", "pipeline.self_s",
     "pipeline.jobs", "pipeline.job_s"]
    + [f"operators.{m}.{k}" for m in OPERATOR_MODULES
       for k in ("jobs", "job_s")]
    + [f"operators.{fn}.self_s" for _m, fn in PAIR_STEPS]
    + [f"extensions.{m}.{k}" for m in EXTENSION_MODULES
       for k in ("jobs", "job_s", "self_s")]
    + ["streaming.jobs", "streaming.job_s", "streaming.triggers",
       "streaming.trigger_p50_s", "streaming.state_commit_s",
       "streaming.state_rows", "streaming.state_mb", "cachereg.released",
       "spark.storage.peak_cached_mb", "spark.catalyst.analysis_s",
       "spark.catalyst.optimization_s", "spark.catalyst.planning_s"]
    + [f"spark.executor.{k}" for k in EXECUTOR]
    + ["spark.executor.final_job_frac", "spark.async.jobs",
       "spark.pyworker.cpu_s", "driver.py_cpu_s",
       "driver.jvm_nontask_cpu_s", "driver.unattributed_s",
       "trace.overhead_frac", "host.steal_sys_s", "host.loadavg_1m"])
PER_LAYER = [(n, _unit(n)) for n in _NAMES]


def catalyst_phases(dfs) -> dict[str, float]:
    """Analysis/optimization/planning seconds recorded by the
    QueryExecution trackers of DataFrames that have run their action,
    summed."""
    out = {f"spark.catalyst.{ph}_s": 0.0
           for ph in ("analysis", "optimization", "planning")}
    for df in dfs:
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                out[f"spark.catalyst.{ph}_s"] += opt.get().durationMs() / 1e3
    return out


def op_layers(reader, spans: list[dict], op_t0: float, op_t1: float,
              cpu0: dict, cpu1: dict, slots: int,
              extra_groups=()) -> tuple[dict, dict]:
    """Layer metrics of one traced operation, plus the job count per
    attributed module (for the run's detail line).

    `extra_groups` holds (job group, span id, module) for jobs Spark
    runs under a group of its own — a streaming query sets its run id
    as the group of every micro-batch job."""
    reader.drain()
    by_id = {s["id"]: s for s in spans}
    span_of: dict[int, dict | None] = {}
    forced: dict[int, str] = {}
    for s in spans:
        for j in reader.jobs_in_group(s["id"]):
            span_of[j] = s
    for group, span_id, module in extra_groups:
        for j in reader.jobs_in_group(group):
            span_of[j] = by_id.get(span_id)
            forced[j] = module
    if span_of:
        lo = min(span_of)
        for j in reader.jobs_in_group(None):
            if j >= lo and j not in span_of:
                jd = reader.job(j)
                if jd["submissionTime"] / 1000.0 <= op_t1:
                    span_of[j] = None
    jobs = {j: reader.job(j) for j in span_of}

    def under(span, name):
        while span is not None:
            if span["name"] == name:
                return True
            span = by_id.get(span["parent"])
        return False

    def owner(span):
        while span is not None and not span.get("module"):
            span = by_id.get(span["parent"])
        return span["module"] if span else "spark.async"

    m: dict[str, float] = {n: 0.0 for n, _u in PER_LAYER}
    by_module: dict[str, int] = {}
    stage_ids: set[int] = set()
    write_stages: set[int] = set()
    intervals = []
    for j, jd in jobs.items():
        mod = forced.get(j) or module_of(jd.get("name"))
        if mod is None:
            mod = owner(span_of[j])
        by_module[mod] = by_module.get(mod, 0) + 1
        t0 = jd["submissionTime"] / 1000.0
        t1 = (jd.get("completionTime") or jd["submissionTime"]) / 1000.0
        intervals.append((t0, t1))
        dur = t1 - t0
        layer, _, sub = mod.partition(".")
        if mod == "pipeline":
            m["pipeline.jobs"] += 1
            m["pipeline.job_s"] += dur
        elif layer in ("operators", "extensions") and \
                f"{layer}.{sub}.jobs" in m:
            m[f"{layer}.{sub}.jobs"] += 1
            m[f"{layer}.{sub}.job_s"] += dur
        elif layer in ("sources", "streaming"):
            m[f"{layer}.jobs"] += 1
            m[f"{layer}.job_s"] += dur
        elif mod == "spark.async":
            m["spark.async.jobs"] += 1
        sp = span_of[j]
        if under(sp, "plans.build"):
            m["plans.build_jobs"] += 1
            m["plans.build_job_s"] += dur
        if under(sp, "bench.final"):
            m["spark.executor.final_job_frac"] += 1
        m["spark.executor.stages_skipped"] += jd.get("numSkippedStages", 0)
        stage_ids.update(jd.get("stageIds", []))
        if under(sp, "sources.write_pixels"):
            write_stages.update(jd.get("stageIds", []))
    m["spark.executor.jobs"] = len(jobs)
    if jobs:
        m["spark.executor.final_job_frac"] /= len(jobs)
    for sid in stage_ids:
        st = reader.stage(sid)
        # a job lists the parent stages it skipped; one that ran in an
        # earlier operation must not count again
        if st["status"] == "SKIPPED" or \
                (st["submissionTime"] or 0) < op_t0 * 1000 - 1:
            continue
        m["spark.executor.stages"] += 1
        m["spark.executor.tasks"] += st["numCompleteTasks"]
        m["spark.executor.failed_tasks"] += st["numFailedTasks"]
        m["spark.executor.task_cpu_s"] += st["executorCpuTime"] / 1e9
        m["spark.executor.task_run_s"] += st["executorRunTime"] / 1e3
        m["spark.executor.gc_s"] += st["jvmGcTime"] / 1e3
        m["spark.executor.fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
        m["spark.executor.shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
        m["spark.executor.shuffle_write_mb"] += \
            st["shuffleWriteBytes"] / 2**20
        m["spark.executor.spill_mb"] += st["diskBytesSpilled"] / 2**20
        m["sources.scan_mb"] += st["inputBytes"] / 2**20
        if sid in write_stages:
            m["sources.write_mb"] += st["outputBytes"] / 2**20
    wall = op_t1 - op_t0
    m["spark.executor.slot_busy_frac"] = \
        m["spark.executor.task_run_s"] / (wall * slots)

    selfs = self_times(spans)
    root = [s for s in spans if s["parent"] is None]
    for s in spans:
        name = s["name"]
        if name == "plans.build":
            m["plans.build_s"] += s["t1"] - s["t0"]
        elif name == "sources.write_pixels":
            m["sources.write_s"] += s["t1"] - s["t0"]
        elif name == "pipeline.analyze_pair":
            m["pipeline.self_s"] += selfs[s["id"]]
        elif name.startswith("operators.") and \
                f"{name}.self_s" in m:
            m[f"{name}.self_s"] += selfs[s["id"]]
        elif (s["module"] or "").startswith("extensions."):
            m[f"{s['module']}.self_s"] += selfs[s["id"]]
    for r in root:
        kids = [(s["t0"], s["t1"]) for s in spans if s["parent"] == r["id"]]
        m["driver.unattributed_s"] += (r["t1"] - r["t0"]) - covered(
            kids + intervals, r["t0"], r["t1"])

    m["spark.pyworker.cpu_s"] = cpu1["pyworker"] - cpu0["pyworker"]
    m["driver.py_cpu_s"] = cpu1["driver"] - cpu0["driver"]
    m["driver.jvm_nontask_cpu_s"] = (cpu1["jvm"] - cpu0["jvm"]
                                     - m["spark.executor.task_cpu_s"])
    return m, by_module


def mean_layers(per_op: list[dict]) -> dict[str, float]:
    """Per-operation mean of each layer metric over the traced ops."""
    if not per_op:
        return {n: 0.0 for n, _u in PER_LAYER}
    return {n: statistics.fmean(d.get(n, 0.0) for d in per_op)
            for n, _u in PER_LAYER}
