"""Resource probes that run outside the program under test.

`TreeSampler` reads RSS and CPU time of the benchmark process and all
its descendants (the driver JVM and the Python workers it forks) from
/proc, on a background thread. `failed_tasks` reads task failures from
SparkContext.statusTracker(), which works with the Spark UI disabled.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields restart after ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """`root` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Background /proc sampler of one process tree. `cpu_s()` is the
    tree's CPU seconds so far, counting children that already exited
    through their parent's reaped-children totals; `peak_rss_mb` is the
    largest tree RSS seen since the last `reset_peak()`."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self._pids = [root]
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        tick = 0
        while not self._stop.is_set():
            if tick % 10 == 0:  # the tree changes rarely; rescan once a second
                pids = descendants(self.root)
                with self._lock:
                    self._pids = pids
            rss = self.rss_mb()
            with self._lock:
                self._peak = max(self._peak, rss)
            tick += 1
            self._stop.wait(self.interval_s)

    def pids(self) -> list[int]:
        with self._lock:
            return list(self._pids)

    def rss_mb(self) -> float:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                pass
        return total * _PAGE / 2**20

    def cpu_s(self) -> float:
        ticks = 0
        for pid in self.pids():
            fields = _stat_fields(pid)
            if fields:
                # utime, stime, cutime, cstime (stat fields 14-17)
                ticks += sum(int(x) for x in fields[11:15])
        return ticks / _CLK

    def reset_peak(self) -> None:
        rss = self.rss_mb()
        with self._lock:
            self._peak = rss

    @property
    def peak_rss_mb(self) -> float:
        with self._lock:
            return self._peak


def failed_tasks(sc, group: str | None = None) -> int:
    """Failed task attempts over the jobs of `group` (all jobs if None)."""
    tracker = sc.statusTracker()
    n = 0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            sinfo = tracker.getStageInfo(stage)
            if sinfo:
                n += sinfo.numFailedTasks
    return n
