"""Measurement probes that sit outside the program: Spark's status store
(the driver UI's REST API on localhost), /proc sampling of the
benchmark's process tree (the driver Python, the gateway JVM and the
Python workers) and the host's CPU steal."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from typing import Dict, List

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


class StatusStore:
    """Per-job-group totals of Spark's stage metrics."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _group_jobs(self, group: str) -> List[dict]:
        # events reach the status store asynchronously: drain the bus first
        self._bus.waitUntilEmpty()
        return [j for j in self._get("/jobs") if j.get("jobGroup") == group]

    def group_plans_contain(self, group: str, operator: str) -> bool:
        """Whether a SQL plan that ran jobs of ``group`` contains ``operator``."""
        job_ids = {j["jobId"] for j in self._group_jobs(group)}
        return any(
            operator in e.get("planDescription", "")
            for e in self._get("/sql?details=false&planDescription=true&length=100000")
            if job_ids & set(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])
        )

    def group_totals(self, group: str) -> Dict[str, float]:
        """Sum the metrics of every stage of every job in ``group``."""
        jobs = self._group_jobs(group)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = dict(jobs=len(jobs), tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                   gc_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        for st in self._get("/stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            out["tasks"] += st["numCompleteTasks"]
            out["executor_run_s"] += st["executorRunTime"] / 1e3
            out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            out["gc_s"] += st["jvmGcTime"] / 1e3
            out["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            out["spill_mb"] += st["diskBytesSpilled"] / MB
        return out


def _tree(root: int) -> List[int]:
    """``root`` and all its descendants, from /proc."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def tree_rss_mb(root: int, jvm: int) -> float:
    """RSS of ``root`` (the driver Python), the gateway ``jvm`` and every
    Python worker under them. Other descendants are short-lived helper
    commands; one caught between spawn and exec still maps its parent's
    pages and would count that process twice."""
    total = 0
    for pid in _tree(root):
        try:
            if pid not in (root, jvm) and not _comm(pid).startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / MB


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped children."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / _TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs had work, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class Stopwatch:
    """Wall time, CPU time of this process tree, and host steal of a block.

    ``unstolen_s`` is the wall time scaled by the share of the CPU time the
    tree wanted that it got: wall * cpu / (cpu + steal). Steal accrues
    only while a CPU has runnable work, and the benchmark is the only work
    on its machine, so the steal is time the benchmark waited for a CPU
    that another guest of the host held. Other guests also slow the
    benchmark while it holds a CPU (shared caches, hyperthread siblings);
    that shows as more CPU time, not as steal, and stays in the result."""

    def __enter__(self):
        self._start = (time.monotonic(), tree_cpu_s(os.getpid()), host_steal_s())
        return self

    def __exit__(self, *exc):
        t0, cpu0, steal0 = self._start
        self.wall_s = time.monotonic() - t0
        self.cpu_s = tree_cpu_s(os.getpid()) - cpu0
        self.steal_s = host_steal_s() - steal0
        return False

    @property
    def unstolen_s(self) -> float:
        return self.wall_s * self.cpu_s / (self.cpu_s + self.steal_s)


def live_descendants(root: int) -> List[int]:
    return [p for p in _tree(root) if p != root]


class RssSampler:
    """Samples the RSS of this process's tree (see ``tree_rss_mb``) on a
    thread; ``take_peak`` returns the peak since the previous call."""

    def __init__(self, jvm: int, interval_s: float = 0.05):
        self._root = os.getpid()
        self._jvm = jvm
        self._interval = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _loop(self):
        while not self._stop.wait(self._interval):
            rss = tree_rss_mb(self._root, self._jvm)
            with self._lock:
                self._peak = max(self._peak, rss)

    def take_peak(self) -> float:
        rss = tree_rss_mb(self._root, self._jvm)
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0.0
        return peak
