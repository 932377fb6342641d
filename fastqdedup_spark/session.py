"""SparkSession factory with scale-minded defaults.

Single place that pins the configs the pipeline relies on: AQE's
partition-coalescing floor, Arrow for every pandas UDF, UTC so DuckDB
oracle comparison is stable, shuffle partitions sized to cores for
local mode (a real cluster would set ~2-3x total cores). AQE itself,
its coalescing and its skew-join splitting (for hot LSH bands) are
Spark's defaults since 3.2, so they are not pinned.

The session is sized for the machine it starts on (`session_size`):
`local[N]` with N the CPUs this process may run on, at most 32, and a
driver heap of a quarter of the memory it may use (physical memory or
the cgroup limit, whichever is smaller), between 1g and 8g.
`SPARK_GRAFT_CPUS` and `SPARK_DRIVER_MEMORY` override either. There is
no off-heap arena: Tungsten's execution memory lives on that heap.

Spark's codegen cache holds CODEGEN_CACHE_ENTRIES (1000) generated
classes instead of its default 100. One perfbench operation's plans
generate about 100 classes, and one run's distinct classes measured
about 139 on fastq-umi and about 170 on code-incremental, so with the
default every warm operation recompiled 84-105 classes with Janino;
with the pin a warm operation compiles none. It is a launch default,
as is the executors' throughput GC: a value submitted with the launch
(`--conf`, spark-defaults.conf) wins, and under spark-submit neither is
set.

`driver_table` builds the small tables the driver computes (lineage,
metrics, union-find labels, empty index views) from Arrow, so that no
Python worker starts for them.
"""

from __future__ import annotations

import os
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MAX_CORES = 32
# generated classes Spark keeps compiled (see get_spark)
CODEGEN_CACHE_ENTRIES = 1000
MIN_DRIVER_MB, MAX_DRIVER_MB = 1024, 8 * 1024
_MEMINFO = "/proc/meminfo"
# cgroup v2, then v1; an unlimited v1 group reads as a huge number
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _memory_limit_bytes() -> int | None:
    """The smaller of physical memory and this process's cgroup memory
    limit; None when neither can be read."""
    limits = []
    try:
        with open(_MEMINFO) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                value = f.read().strip()
        except OSError:
            continue
        if value.isdigit():
            limits.append(int(value))
    return min(limits) if limits else None


def session_size(env: Mapping[str, str] = os.environ) -> tuple[int, str]:
    """(cores, driver heap) for a session on this machine.

    Cores: the CPUs this process may run on, at most MAX_CORES. Heap: a
    quarter of `_memory_limit_bytes()` (the JVM's own default share),
    within [MIN_DRIVER_MB, MAX_DRIVER_MB] — the rest stays free for the
    Python workers and the page cache, and a second session on the same
    machine fits. Spark refuses a driver heap below ~450 MB, hence the
    floor; MAX_DRIVER_MB when memory cannot be read.
    `SPARK_GRAFT_CPUS` and `SPARK_DRIVER_MEMORY` override."""
    if hasattr(os, "sched_getaffinity"):
        machine_cpus = len(os.sched_getaffinity(0))
    else:  # macOS
        machine_cpus = os.cpu_count() or 1
    cpus = int(env.get("SPARK_GRAFT_CPUS") or min(machine_cpus, MAX_CORES))
    heap = env.get("SPARK_DRIVER_MEMORY")
    if not heap:
        mem = _memory_limit_bytes()
        mb = MAX_DRIVER_MB if mem is None else mem // 4 // 2**20
        heap = f"{max(MIN_DRIVER_MB, min(MAX_DRIVER_MB, mb))}m"
    return cpus, heap


def driver_table(
    spark: SparkSession, schema: StructType, columns: Sequence[Sequence]
) -> DataFrame:
    """A DataFrame of driver-side `columns` (one sequence per field of
    `schema`, in order and typed by it; empty for a table with no rows).
    It travels to the JVM as one Arrow table, which starts no Python
    worker. A list of rows, and a pandas frame with zero rows, go
    through a Python RDD instead, and the first such job starts a second
    pool of Python workers beside the one the Arrow UDFs use, held for
    the session."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    cols = zip(columns or [[]] * len(schema), schema)
    arrays = [pa.array(c, type=to_arrow_type(f.dataType)) for c, f in cols]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema.names), schema)


def get_spark(
    master: str | None = None,
    app_name: str = "fastqdedup-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus, driver_memory = session_size()
    # Under spark-submit the gateway JVM already carries --master (the
    # PythonRunner launches this process with PYSPARK_GATEWAY_PORT set);
    # forcing a local[] default there would silently override the
    # cluster master. Only default when we own the JVM launch.
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]"
    # Throughput GC for a batch engine: G1's pause-target heuristics
    # cost ~25% wall on the fused pipeline at width 32 (measured,
    # BASELINE.md round 5: 50.6 -> 40.0 s at 192k files, 8 GB heap;
    # a 48 GB G1 heap was another 33% worse). Local-mode driver JVM
    # flags only apply if exported BEFORE the gateway launches, hence
    # the env var rather than a builder config; a user-set GC flag in
    # SPARK_SUBMIT_OPTS wins. No-op if the JVM is already up.
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if "GC" not in opts:
        opts += " -XX:+UseParallelGC"
    # Confs a user may submit get their defaults the same way, as JVM
    # system properties: SparkSubmit applies the submitted values
    # (PYSPARK_SUBMIT_ARGS --conf, spark-defaults.conf) over them, so a
    # submitted value wins; a builder config would replace it. Under
    # spark-submit the JVM is already up and these do nothing: the
    # submitted value, or Spark's default, holds.
    # - spark.executor.extraJavaOptions: the same throughput-GC choice
    #   for cluster executors (no-op in local mode, where the driver
    #   JVM hosts the executors).
    # - spark.sql.codegen.cache.maxEntries (static): Spark's default of
    #   100 generated classes is below one perfbench operation's plans,
    #   so every warm operation recompiled 84-105 classes with Janino.
    #   One run's distinct classes measured about 139 (fastq-umi's two
    #   warm-up operations) and about 170 (code-incremental's seed
    #   build plus its first increment); with room for all of them a
    #   warm operation compiles none.
    for key, value in (
        ("spark.executor.extraJavaOptions", "-XX:+UseParallelGC"),
        ("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)),
    ):
        if f"-D{key}=" not in opts:
            opts += f" -D{key}={value}"
    os.environ["SPARK_SUBMIT_OPTS"] = opts.strip()
    # Executor python workers must import this package BY NAME (every
    # pandas/Arrow UDF pickles by reference), but they only inherit the
    # launch environment — not the driver's sys.path. Launched from
    # outside the repo (cwd elsewhere, no PYTHONPATH), the first UDF
    # task dies with ModuleNotFoundError. Export the package root on
    # PYTHONPATH before the gateway JVM spawns — the local-mode analog
    # of spark-submit --py-files; no-op if the JVM is already up or the
    # path is present.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
        )
    if shuffle_partitions is None and master is not None:
        # local[N] → N; on a real cluster this would be ~2x total executor cores
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        # submit mode without an explicit count: defer to the cluster's
        # spark.sql.shuffle.partitions (AQE coalesces the excess anyway)
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder
        # AQE coalesces reduce stages by BYTES with a 1 MB floor, which
        # starves CPU-bound stages whose input is small but whose work
        # is not: the dissection kernel's pack exchange is ~4 MB at
        # 24k files, so the grouped Python stage ran on 3 tasks of a
        # 32-core session (measured: the isolated dissect job 3.0 ->
        # 1.3 s with the floor lowered). 64 KB keeps parallelism-first
        # coalescing effective down to small exchanges; large shuffles
        # (bytes/core above the floor) are unaffected at any scale.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # no console progress bars: they redraw on stderr for every
        # stage (kilobytes per CLI run), interleave with the package's
        # own log lines, and cost the render thread's tty writes while
        # jobs run
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()
