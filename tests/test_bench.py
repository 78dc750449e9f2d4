"""Smoke test of bench.py, the repository's timing script, end to end in
a subprocess (its own Spark session)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FINAL_KEYS = {"metric", "value", "unit", "queries", "sf", "n_queries",
              "extras", "ambient_sys_steal_s", "detail", "detail_inline"}


def test_bench_only_runs_writes_detail_and_plans(tmp_path):
    names = ["a8_rms", "so2_anti_join"]
    sf0001 = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf0001)
    env.pop("SPARK_GRAFT_BENCH_SOURCE", None)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), "--only", *names,
         "--runs", "1", "--plans", str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    final = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(final) == FINAL_KEYS
    assert final["n_queries"] == 2 and set(final["detail_inline"]) == set(names)

    with open(os.path.join(ROOT, final["detail"])) as fh:
        detail = json.load(fh)
    assert set(detail["queries"]) == set(names)
    for key in ("task_cpu_s", "task_time_s"):
        assert set(detail[key]) == set(names)
        assert all(v >= 0 for v in detail[key].values()), detail[key]
    assert all(detail["jobs"][n] >= 1 for n in names), detail["jobs"]
    assert sorted(os.listdir(tmp_path)) == [f"{n}.txt" for n in names]
