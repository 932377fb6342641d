"""Spark jobs and seconds per fastqdedup_spark call site, for one
perfbench workload.

Usage (from the root of a repository checkout):

    python3 scripts/job_sites.py --workload code-incremental --seed 1 --ops 3

Builds the workload exactly as perfbench/run.py does (its `_isolate`
session sizing and `WORKLOADS` inputs, set-up and warm-up), then runs
`--ops` operations, each under its own Spark job group. The classic
DataFrame actions (`localCheckpoint`, `collect`, `count`, `toPandas`,
`isEmpty`, `toLocalIterator`) and parquet reads and writes are wrapped:
every job the group gains during a wrapped call is attributed, with the
call's wall time, to the innermost stack frame inside the
fastqdedup_spark package. Jobs launched outside a wrapped call are
reported as `(unattributed)`; `toLocalIterator` launches the jobs for
its later partitions while the caller iterates, after the wrapped call
has returned, so those land there too. Nothing under perfbench/ is
edited; the work directory is removed at exit.

After each operation it also prints the process tree's memory, read
from /proc: the RSS now and the peak RSS (VmHWM) in MB of the JVM, of
the Python driver, and of each `pyspark.daemon` pool (the daemon and
the workers it forked, with the worker count). A change that starts a
second Python worker pool shows here. The same line gives the
operation's job count; the CPU seconds its `pyspark.daemon` pools spent
(utime + stime of the daemons and their live workers, plus the workers
they already reaped, from /proc/<pid>/stat), where a fixed cost each
Python task pays before its rows shows, such as a worker re-reading its
zip imports; and the Janino compilations the operation ran (the delta
of Spark's `CodegenMetrics.METRIC_COMPILATION_TIME` count): a warm
operation whose plans are all in the codegen cache compiles nothing.

Output: one line per operation (jobs, pool CPU, compilations, memory),
one line per call site with jobs and seconds per operation, then the
total jobs per operation and the per-operation (jobs, seconds, pool CPU
seconds).
"""

from __future__ import annotations

import argparse
import collections
import functools
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "fastqdedup_spark") + os.sep


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return {}


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _cpu_s(pid: int, reaped: bool) -> float:
    """utime + stime of `pid` in seconds, plus those of the children it
    reaped when `reaped`."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return 0.0
    # the command name (field 2) may hold spaces; fields restart after ')'
    fields = raw[raw.rindex(")") + 2:].split()
    # utime, stime, cutime, cstime are stat fields 14-17
    ticks = sum(int(x) for x in fields[11:15 if reaped else 13])
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_parts() -> dict[int, tuple[dict[str, str], str, bool]]:
    """pid -> (status, part, is a pool worker) for this process's tree:
    the JVM, the Python driver, each pyspark.daemon pool (daemon +
    forked workers) and anything else."""
    from probes import descendants

    procs = {pid: (_status(pid), _cmdline(pid)) for pid in descendants(os.getpid())}
    out = {}
    for pid, (status, cmd) in procs.items():
        if not status:
            continue
        is_worker = False
        if pid == os.getpid():
            part = "python driver"
        elif "pyspark.daemon" in cmd:
            # a worker is forked from its pool's daemon: same command line
            ppid = int(status["PPid"])
            is_worker = "pyspark.daemon" in procs.get(ppid, ({}, ""))[1]
            part = f"pyspark.daemon pool {ppid if is_worker else pid}"
        elif status.get("Name", "").strip() == "java":
            part = "jvm"
        else:
            part = "other"
        out[pid] = (status, part, is_worker)
    return out


def pool_cpu_s() -> float:
    """CPU seconds of every pyspark.daemon pool so far: the daemons and
    their live workers, and the workers the daemons already reaped."""
    return sum(
        _cpu_s(pid, reaped=not is_worker)
        for pid, (_, part, is_worker) in _tree_parts().items()
        if part.startswith("pyspark.daemon")
    )


def rss_split() -> str:
    """One line: (RSS now / peak RSS) in MB per part of this process's
    tree (see _tree_parts), with each pool's worker count."""

    def mb(status: dict[str, str], key: str) -> float:
        return int(status.get(key, "0 kB").split()[0]) / 1024

    parts: dict[str, list[float]] = collections.defaultdict(lambda: [0.0, 0.0])
    workers: collections.Counter = collections.Counter()
    for status, part, is_worker in _tree_parts().values():
        workers[part] += is_worker
        parts[part][0] += mb(status, "VmRSS")
        parts[part][1] += mb(status, "VmHWM")
    now = sum(v[0] for v in parts.values())
    return f"rss MB (now/peak): total {now:.0f}; " + "; ".join(
        (f"{part} ({workers[part]} workers)" if part.startswith("pyspark") else part)
        + f" {v[0]:.0f}/{v[1]:.0f}"
        for part, v in sorted(parts.items())
    )


class SiteCounter:
    """Attributes the current job group's new jobs to package call sites."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.group: str | None = None
        self.jobs: collections.Counter = collections.Counter()
        self.seconds: collections.Counter = collections.Counter()
        self._depth = 0

    def _group_jobs(self) -> int:
        if self.group is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))

    @staticmethod
    def _site() -> str:
        for frame in reversed(traceback.extract_stack()):
            if frame.filename.startswith(PKG):
                rel = os.path.relpath(frame.filename, ROOT)
                return f"{rel}:{frame.lineno} ({frame.name})"
        return "(outside the package)"

    def wrap(self, owner, name: str) -> None:
        fn = getattr(owner, name)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if self._depth or self.group is None:
                return fn(*args, **kwargs)
            self._depth += 1
            before, t0 = self._group_jobs(), time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                site = self._site()
                self.jobs[site] += self._group_jobs() - before
                self.seconds[site] += time.perf_counter() - t0

        setattr(owner, name, wrapped)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="job_sites")
    p.add_argument("--workload", default="code-incremental",
                   help="a perfbench workload name")
    p.add_argument("--seed", type=int, default=1, help="perfbench input seed")
    p.add_argument("--ops", type=int, default=3,
                   help="operations to count after the warm-up")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from run import CORES, _isolate, _stop_session
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".bench_work", f"job-sites-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _isolate(work)
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from fastqdedup_spark.session import get_spark

        spark = get_spark(master=f"local[{CORES}]")
        sc = spark.sparkContext
        counter = SiteCounter(sc)
        for name in ("localCheckpoint", "collect", "count", "toPandas",
                     "isEmpty", "toLocalIterator"):
            counter.wrap(DataFrame, name)
        counter.wrap(DataFrameReader, "parquet")
        counter.wrap(DataFrameWriter, "parquet")

        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        wl.warm_up_op()
        wl.warm_up_check()
        compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        per_op = []
        for i in range(args.ops):
            if not wl.has_op(i):
                break
            group = f"job-sites-op{i}"
            counter.group = group
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            c0 = compiled.METRIC_COMPILATION_TIME().getCount()
            cpu0 = pool_cpu_s()
            try:
                wl.op(i)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                counter.group = None
            op_s = time.perf_counter() - t0
            pool_s = pool_cpu_s() - cpu0
            n = len(sc.statusTracker().getJobIdsForGroup(group))
            per_op.append((n, op_s, pool_s))
            n_compiled = compiled.METRIC_COMPILATION_TIME().getCount() - c0
            print(f"op {i}: {n} jobs, pyspark.daemon pool CPU {pool_s:.2f} s; "
                  f"{n_compiled} Janino compilations; {rss_split()}", flush=True)
            wl.check(i)
        n_ops = max(len(per_op), 1)
        total = sum(n for n, _, _ in per_op)
        counter.jobs["(unattributed)"] = total - sum(counter.jobs.values())
        print(f"{args.workload} seed {args.seed}: {len(per_op)} operations")
        print(f"{'jobs/op':>8} {'s/op':>7}  call site")
        for site, jobs in sorted(counter.jobs.items(), key=lambda kv: -kv[1]):
            if jobs or counter.seconds[site]:
                print(f"{jobs / n_ops:8.2f} {counter.seconds[site] / n_ops:7.3f}  {site}")
        print(f"total jobs per operation: {total / n_ops:.2f}")
        print("per operation (jobs, s, pool CPU s): "
              + " ".join(f"({n}, {s:.2f}, {c:.2f})" for n, s, c in per_op))
    finally:
        if spark is not None:
            _stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
