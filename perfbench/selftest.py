"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

1. Seeded inputs: the same seed gives identical input hashes for every
   workload, a different seed gives different ones, and seeds outside
   numpy's 32-bit range (any integer the command line takes) work.
2. Exact job attribution past Spark's job retention: 1,050 jobs fired in
   105 spans of ten are each attributed to their span, while the
   length-difference method over `getJobIdsForGroup(None)` — capped by
   `spark.ui.retainedJobs` (1,000) — undercounts the same number.
3. Python workers import the repository from any working directory.
4. BENCHMARK.json lists exactly the workloads and metrics the benchmark
   reports.

Exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run as R  # noqa: E402


def _import_in_worker(batches):
    import error_analysis_spark
    import pandas as pd
    for b in batches:
        yield pd.DataFrame({"v": [error_analysis_spark.__version__] * len(b)})


def check_seeds() -> list[str]:
    from perfbench.workloads import WORKLOADS
    bad = []
    for name, cls in WORKLOADS.items():
        a = cls(None, "", 1, None).input_hash()
        b = cls(None, "", 1, None).input_hash()
        c = cls(None, "", 2, None).input_hash()
        big = {cls(None, "", s, None).input_hash() for s in (2 ** 40, -7)}
        print(f"seeds {name}: seed1={a[:12]} again={b[:12]} seed2={c[:12]}")
        if a != b or a == c or len(big | {a, c}) != 4:
            bad.append(f"seeded inputs of {name}")
    return bad


def check_spark(work: str) -> list[str]:
    from error_analysis_spark.session import get_spark
    from perfbench.trace import StatusReader, Tracer
    bad = []
    os.chdir(work)  # not the repository root
    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        sc = spark.sparkContext
        got = spark.range(4).mapInPandas(_import_in_worker, "v string") \
            .collect()
        print(f"worker import from {os.getcwd()}: {got[0]['v']}")

        rdd = spark.range(1)._jdf.javaRDD()  # count() = one JVM-only job
        reader = StatusReader(spark)
        reader.drain()
        before = len(sc.statusTracker().getJobIdsForGroup(None))
        for _ in range(1050):
            rdd.count()
        reader.drain()
        delta = len(sc.statusTracker().getJobIdsForGroup(None)) - before
        print(f"length difference over 1050 ungrouped jobs: {delta}")
        if delta == 1050:
            bad.append("the retention cap did not apply; test is vacuous")

        tracer = Tracer(spark)
        total, wrong = 0, 0
        for _ in range(105):
            with tracer.span("selftest") as sp:
                for _ in range(10):
                    rdd.count()
            reader.drain()
            n = len(reader.jobs_in_group(sp["id"]))
            total += n
            wrong += n != 10
        print(f"span attribution over 1050 jobs: {total}, "
              f"{wrong} spans off")
        if total != 1050 or wrong:
            bad.append("span job attribution")
    finally:
        R._stop(spark)
    return bad


def check_benchmark_json() -> list[str]:
    from perfbench.layers import PER_LAYER
    from perfbench.workloads import WORKLOADS
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    bad = []
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        bad.append("BENCHMARK.json workloads differ from WORKLOADS")
    if [(m["name"], m["unit"]) for m in spec["end_to_end"]] != R.END_TO_END:
        bad.append("BENCHMARK.json end_to_end differs from run.END_TO_END")
    if [(m["name"], m["unit"]) for m in spec["per_layer"]] != PER_LAYER:
        bad.append("BENCHMARK.json per_layer differs from layers.PER_LAYER")
    print(f"BENCHMARK.json: {len(spec['end_to_end'])} end-to-end, "
          f"{len(spec['per_layer'])} per-layer metrics")
    return bad


def main() -> int:
    base = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=base)
    try:
        R._environment(work)
        bad = check_seeds() + check_benchmark_json() + check_spark(work)
    finally:
        os.chdir(os.path.dirname(work))
        shutil.rmtree(work, ignore_errors=True)
    print("FAILED: " + "; ".join(bad) if bad else "selftest ok")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
