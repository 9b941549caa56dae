"""CPU time and resident memory of a process tree, read from /proc.

The benchmark's driver Python process launches the Spark JVM, which in
turn forks the Python worker daemon and its workers, so the tree rooted at
the benchmark process covers every CPU second the engine spends. Reaped
children are accounted through their parent's cutime/cstime, so a worker
that exits between two readings is not lost.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """root and all its live descendants."""
    root = os.getpid() if root is None else root
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields resume after the last ')'
    return raw[raw.rfind(")") + 2 :].split()


def tree_cpu_s(root: int | None = None) -> float:
    """user+system CPU seconds of the live tree plus its reaped children."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields after ')' start at stat field 3; utime=14 .. cstime=17
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the per-process resident high-water marks (VmHWM) of the
    live tree, in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in tree_pids(root)) / 1024.0


def tree_rss_breakdown(root: int | None = None) -> dict[str, float]:
    """VmHWM in MiB by process kind: driver, jvm, python workers."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "n_workers": 0}
    me = os.getpid() if root is None else root
    for p in tree_pids(root):
        mb = _status_kb(p, "VmHWM") / 1024.0
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if p == me:
            out["driver"] += mb
        elif comm == "java":
            out["jvm"] += mb
        else:
            out["workers"] += mb
            out["n_workers"] += 1
    return out


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_facts() -> dict:
    """nproc and total RAM, used to size the Spark session."""
    nproc = len(os.sched_getaffinity(0))
    ram_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                ram_kb = int(line.split()[1])
                break
    return {"nproc": nproc, "ram_gb": round(ram_kb / 1024 / 1024, 1)}
