"""Process-tree CPU and memory, and the host contention ledger, read
from /proc.

The benchmark's process tree is this Python driver, the JVM it launches
(py4j gateway + executors in local mode) and the PySpark daemon with its
forked Python workers. CPU of every live member is utime+stime, plus
cutime+cstime for the children it has already reaped — so a worker that
exits between two samples is still counted, and nothing is counted
twice. Executor task CPU (`executorCpuTime`) misses the Python workers;
this does not.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    rest = s[s.rindex(")") + 2:].split()
    ppid = int(rest[1])
    return ppid, sum(int(v) for v in rest[11:15]) / _TICK


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = _cmd(pid)
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd \
            or "pyspark/daemon" in cmd or "pyspark/worker" in cmd:
        return "pyworker"
    if "java" in cmd.split(" ")[0]:
        return "jvm"
    return "other"


def _all_stats() -> dict[int, tuple[int, float]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    return stats


def tree_pids(root: int, stats: dict | None = None) -> list[int]:
    """root and its live descendants."""
    stats = stats if stats is not None else _all_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, []))
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds of this process's tree by member kind, and total."""
    root = os.getpid()
    stats = _all_stats()
    cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for pid in tree_pids(root, stats):
        cpu[_kind(pid, root)] += stats[pid][1]
    cpu["total"] = sum(cpu.values())
    return cpu


def host_ledger() -> dict:
    """Host-wide system and steal CPU seconds (/proc/stat) and the
    1-minute load average."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(v) / _TICK for v in fields]
    return {"system_s": vals[2], "steal_s": vals[7] if len(vals) > 7 else 0.0,
            "loadavg_1m": os.getloadavg()[0]}


def tree_peak_rss() -> int:
    """Sum over this process's live tree of each member's peak resident
    set (VmHWM) — no sampler that could miss a short peak."""
    total = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def contention(h0: dict, h1: dict) -> dict:
    """The host contention ledger between two `host_ledger` readings."""
    steal = h1["steal_s"] - h0["steal_s"]
    return {"host_steal_sys_s": round(
                steal + h1["system_s"] - h0["system_s"], 3),
            "host_steal_s": round(steal, 3),
            "loadavg_1m": h1["loadavg_1m"]}
