"""SparkSession factory with scale-minded defaults.

Single place that pins the configs the pipeline relies on: AQE (skew
join splitting for hot LSH bands), Arrow for every pandas UDF, UTC so
DuckDB oracle comparison is stable, shuffle partitions sized to cores
for local mode (a real cluster would set ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "fastqdedup-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
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
        os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -XX:+UseParallelGC".strip()
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
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces reduce stages by BYTES with a 1 MB floor, which
        # starves CPU-bound stages whose input is small but whose work
        # is not: the dissection kernel's pack exchange is ~4 MB at
        # 24k files, so the grouped Python stage ran on 3 tasks of a
        # 32-core session (measured: the isolated dissect job 3.0 ->
        # 1.3 s with the floor lowered). 64 KB keeps parallelism-first
        # coalescing effective down to small exchanges; large shuffles
        # (bytes/core above the floor) are unaffected at any scale.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Tungsten execution memory OFF-HEAP: the band self-join's hash
        # builds and the dedup aggregations allocate page arrays via
        # Unsafe instead of on-heap long[] — measured on the isolated
        # 768k/32c pair stage (interleaved, BASELINE.md round 5), the
        # join stage's GC fell 781 -> 134 core-s (a co-partitioned
        # shape) and ~380-530 -> 64 (the shipped salted shape) with
        # identical output. The size is a cap, not a
        # reservation; the on-heap heap can stay moderate (big heaps
        # were a measured width tax).
        .config(
            "spark.memory.offHeap.enabled",
            "false" if os.environ.get("SPARK_GRAFT_OFFHEAP") == "0" else "true",
        )
        .config(
            "spark.memory.offHeap.size",
            os.environ.get("SPARK_GRAFT_OFFHEAP", "8g") or "8g",
        )
        .config("spark.ui.enabled", "false")
        # no console progress bars: they redraw on stderr for every
        # stage (kilobytes per CLI run), interleave with the package's
        # own log lines, and cost the render thread's tty writes while
        # jobs run
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # same throughput-GC choice for real cluster executors (no-op in
    # local mode, where the driver JVM hosts the executors). Deference:
    # a user-supplied spark.executor.extraJavaOptions must not be
    # clobbered — builder.config would override the submitted value at
    # session build. Read the resolved SparkConf (spark-submit --conf
    # lands in JVM system properties), not PYSPARK_SUBMIT_ARGS: under
    # spark-submit the driver python process does NOT see user --conf
    # values in that env var (ADVICE r5). SparkConf() here is after the
    # SPARK_SUBMIT_OPTS setup above, so a gateway launched by it still
    # carries the GC flag.
    from pyspark import SparkConf

    try:
        user_exec_opts = SparkConf().get("spark.executor.extraJavaOptions", None)
    except Exception:  # noqa: BLE001 — no gateway/JVM: nothing submitted
        user_exec_opts = None
    if user_exec_opts is None:
        builder = builder.config(
            "spark.executor.extraJavaOptions", "-XX:+UseParallelGC"
        )
    return builder.getOrCreate()
