"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dod_survey --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout. It builds the workload's inputs from
the seed under `.perfbench_work/` in the working directory (inputs,
checkpoints, warehouse, Spark scratch and temp files all stay there and
are removed at exit), starts a Spark session through the repository's
`session.get_spark` (local[nproc - 1], 1 GB driver heap), runs the
workload's warm operations, then runs operations closed loop until
`--seconds` of operation time have passed and at least two latency
samples are complete, checks every result outside the timed region, and
prints as its last line

    {"correct": ..., "attempted": N, "failed": F, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (BENCHMARK.json
`end_to_end`). With `--trace 1` untraced and traced operations
alternate; the traced ones wrap the repository's layer functions in
spans and attribute every Spark job, and the metrics are the per-layer
ones (`per_layer`), including `trace.overhead_frac`, the traced
operations' median latency over the untraced ones', minus one.

The latency samples behind `ops_per_s`, `op_p50_s`, `op_tail_s` and
`cpu_s` are one op each, except on query_mix, where a sample is one
pass over its queries (see `QueryMix`); `attempted` and `failed` count
ops (queries).

The line before the result is a JSON detail record: sample count and
percentile behind `op_tail_s`, the host contention ledger (steal+system
CPU-s from /proc/stat, load average), input hash, and in traced runs
the job count per attributed module and the path of the spans file
(`.perfbench_work/spans-<workload>-<seed>.jsonl`, kept after exit).

    python3 perfbench/selftest.py   # checks the benchmark's own machinery

An operation that raises or fails its output check counts in `failed`;
the run then exits 1 after the result line. It exits non-zero without a
result line when the repository's package is missing or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers, procstat  # noqa: E402
from perfbench.trace import StatusReader, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"),
              ("op_tail_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB")]


def spark_slots() -> int:
    """Spark's task slots: one fewer than the cores this process may
    use, which are left to the driver, the Python workers, JIT and GC.
    On 4 cores the streaming DoD's drain time (op_p50_s) spread 0.11
    over five seeds with local[4] and 0.06 with local[3], run
    interleaved."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    `work`, and let the workers import the repository from any working
    directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["_JAVA_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                   f"-Dderby.system.home={work}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # workers run this interpreter (with its packages), and Spark binds
    # to loopback whatever the host name resolves to
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_slots())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"


def tail(lat: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, but never below p90 — so up to 100 samples it is
    p90, and a run that completes fewer ops never reads a lower
    percentile than one that completes more. Linear interpolation
    between order statistics, so the value only rises when any latency
    rises."""
    n = len(lat)
    q = max(0.9, 1.0 - 10.0 / n)
    s = sorted(lat)
    pos = q * (n - 1)
    lo = int(pos)
    val = s[lo] + (s[min(lo + 1, n - 1)] - s[lo]) * (pos - lo)
    return round(100 * q, 2), val


def run(workload: str, seed: int, seconds: float, trace: bool,
        work: str) -> dict:
    from error_analysis_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[workload](spark, work, seed, tracer)
        wl.prepare()
        for i in range(wl.warm_ops):
            wl.op(i)
        setup_s = time.perf_counter() - t0

        reader = StatusReader(spark) if trace else None
        slots = spark_slots()
        lat, traced_lat, untraced_lat, outs, per_op = [], [], [], [], []
        spans: list[dict] = []
        by_module: dict[str, int] = {}
        cpu0, host0 = procstat.tree_cpu(), procstat.host_ledger()
        spent, i = 0.0, wl.warm_ops
        # timed ops come in whole latency samples (one op, or one query
        # pass), at least two, so a run's median never rests on one; a
        # traced run alternates traced and untraced samples and runs at
        # least one of each
        per = wl.ops_per_sample
        while (spent < seconds or len(lat) < 2 * per or len(lat) % per
               or (trace and not (traced_lat and untraced_lat))):
            if trace and (len(lat) // per) % 2 == 0:
                dt, out, m, mods = _traced_op(wl, tracer, reader, i, slots)
                spans.extend(tracer.spans)
                if out is not None:
                    per_op.append(m)
                for k, v in mods.items():
                    by_module[k] = by_module.get(k, 0) + v
                traced_lat.append(dt)
            else:
                dt, out = _attempt(wl.op, i)
                if trace:
                    untraced_lat.append(dt)
            spent += dt
            lat.append(dt)
            outs.append(out)
            i += 1
        cpu1, host1 = procstat.tree_cpu(), procstat.host_ledger()
        # read before the output check, which runs DuckDB in this process
        peak_rss_mb = procstat.tree_peak_rss() / 2 ** 20
        ledger = procstat.contention(host0, host1)

        done = [o for o in outs if o is not None]
        failed = len(outs) - len(done) + sum(
            1 for v in wl.check_all(done) if not v)
        n = len(lat)
        samples = [sum(lat[j:j + per]) for j in range(0, n, per)]
        pct, tail_v = tail(samples)
        detail = {"workload": workload, "seed": seed, "ops": n,
                  "op_latencies_s": [round(v, 4) for v in lat],
                  "sample_latencies_s": [round(v, 4) for v in samples],
                  "op_tail_percentile": pct, "op_tail_n": len(samples),
                  "input_hash": wl.input_hash(), **ledger}
        if wl.px_per_op:
            detail["px_per_s"] = n * wl.px_per_op / sum(lat)
        if trace:
            metrics = layers.mean_layers(per_op)
            metrics["session.start_s"] = session_s
            metrics["trace.overhead_frac"] = (
                statistics.median(traced_lat)
                / statistics.median(untraced_lat) - 1.0
                if traced_lat and untraced_lat else 0.0)
            metrics["host.steal_sys_s"] = ledger["host_steal_sys_s"]
            metrics["host.loadavg_1m"] = ledger["loadavg_1m"]
            detail["jobs_by_module"] = by_module
            detail["spans_file"] = _write_spans(spans, work, workload, seed)
            units = dict(layers.PER_LAYER)
        else:
            metrics = {
                "setup_s": setup_s,
                "ops_per_s": len(samples) / sum(samples),
                "op_p50_s": statistics.median(samples),
                "op_tail_s": tail_v,
                "cpu_s": (cpu1["total"] - cpu0["total"]) / len(samples),
                "peak_rss_mb": peak_rss_mb,
            }
            units = dict(END_TO_END)
        print(json.dumps(detail), flush=True)
        return {"correct": failed == 0, "attempted": n, "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]}
                            for k, v in metrics.items()}}
    finally:
        _stop(spark)


def _attempt(op, i: int) -> tuple[float, object]:
    """(latency, output) of one op; output None when the op raised — it
    counts as failed, and its traceback goes to stderr."""
    a = time.perf_counter()
    try:
        out = op(i)
    except Exception:
        traceback.print_exc()
        out = None
    return time.perf_counter() - a, out


def _write_spans(spans: list[dict], work: str, workload: str,
                 seed: int) -> str:
    """Write the traced ops' spans, one JSON object a line, next to the
    run's scratch directory (which is removed at exit)."""
    path = os.path.join(os.path.dirname(work),
                        f"spans-{workload}-{seed}.jsonl")
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    return os.path.relpath(path)


@contextmanager
def _counting_releases(released: list[int]):
    """Record what every `cachereg.release_tracked()` call returns."""
    from error_analysis_spark import cachereg
    orig = cachereg.release_tracked

    def counting() -> int:
        n = orig()
        released.append(n)
        return n
    cachereg.release_tracked = counting
    try:
        yield
    finally:
        cachereg.release_tracked = orig


def _traced_op(wl, tracer, reader, i: int, slots: int):
    """One op with the workload's layer functions wrapped in spans;
    returns (latency, output, layer metrics, jobs per module); the
    metrics are only for ops that did not raise."""
    released: list[int] = []
    tracer.wrap(wl.trace_targets())
    tracer.enabled, tracer.op_id, tracer.spans = True, i, []
    tracer.storage_probe = reader.cached_mb
    tracer.peak_cached_mb = 0.0
    cpu0 = procstat.tree_cpu()
    try:
        with _counting_releases(released):
            w0 = time.time()
            with tracer.span("op"):
                dt, out = _attempt(wl.op, i)
            w1 = time.time()
    finally:
        tracer.enabled = False
        tracer.unwrap()
    if out is None:
        return dt, out, {}, {}
    cpu1 = procstat.tree_cpu()
    m, mods = layers.op_layers(reader, tracer.spans, w0, w1, cpu0, cpu1,
                               slots, wl.extra_groups)
    m.update(layers.catalyst_phases(wl.final_dfs))
    m.update(wl.extra_layers())
    m["cachereg.released"] = float(sum(released))
    m["spark.storage.peak_cached_mb"] = tracer.peak_cached_mb
    return dt, out, m, mods


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        _environment(work)
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)  # only when no concurrent run still uses it
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
