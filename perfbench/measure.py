"""Timing summaries, process-tree memory sampling and Spark job counting."""

from __future__ import annotations

import math
import os
import statistics
import threading


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    s = sorted(values)
    if not s:
        return 0.0
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the driver JVM
    and the Python workers are children of the benchmark process)."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of ``root`` and all its descendants,
    with the children each has already reaped."""
    kids = _children()
    tick = os.sysconf("SC_CLK_TCK")
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 14-17: utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background thread that keeps the peak process-tree RSS."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


class JobCounter:
    """Counts the Spark jobs, stages and tasks run between two calls of
    :meth:`take`. The window is bounded by a one-task marker job in its own
    job group, so jobs the engine runs under other groups (broadcasts,
    adaptive query stages) are counted too. Skipped stages are not
    counted; tasks are completed tasks."""

    GROUP = "perfbench-marker"

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.last = self._mark()

    def _mark(self) -> int:
        self.sc.setJobGroup(self.GROUP, "job-window marker")
        try:
            self.sc.parallelize([0], 1).count()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return max(self.tracker.getJobIdsForGroup(self.GROUP))

    def take(self) -> dict:
        end = self._mark()
        jobs, stages = 0, {}
        for jid in range(self.last + 1, end):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages[sid] = st.numCompletedTasks
        self.last = end
        return {"jobs": jobs, "stages": len(stages),
                "tasks": sum(stages.values())}


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, count) of the parquet part files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files
