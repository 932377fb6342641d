"""Two-cluster-size scaling evidence (BASELINE.md protocol).

No real multi-executor cluster exists in this sandbox, so the
north_rule's N -> 4N criterion is evidenced by running the IDENTICAL
pipeline on the IDENTICAL input at local[8] and local[32] in separate
JVMs and reporting throughput at both plus
scaling efficiency = throughput(32) / (4 x throughput(8)).

Usage: python scripts/scaling_bench.py [n_files]   (default 24000)
Child mode (internal): python scripts/scaling_bench.py --child <cores> <n_files>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def child(cores: int, n_files: int) -> None:
    import time

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.pipeline import dedup_files
    from fastqdedup_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    files = generate_files(spark, n_files, seed=42).cache()
    files.count()
    # shipped defaults (256-bin est sketch banded over its first 128
    # bins, AUTO Arrow-stage task count): the gate measures the
    # pipeline a user actually gets
    cfg = DedupConfig(shingle_k=7, jaccard_threshold=0.6)
    # full warm-up run: the first run in a JVM pays janino compilation,
    # HotSpot JIT, and python-worker spin-up (~2.5x the steady-state
    # wall). A 100 TB job amortizes that once across hours, so the
    # steady-state trials below are the throughput that scales.
    dedup_files(spark, files, cfg, quality=False).deduped.count()
    best = None
    best_load = None
    # NOISY NEIGHBORS (BASELINE.md): identical configs vary up to 2x
    # run-to-run; contention only ever slows a run, so best-of-N is the
    # least contaminated estimator
    trials = 2 if n_files > 100_000 else 3
    for _ in range(trials):  # report the better (steady-state) trial
        # stamp load at LAUNCH: load1m after a wide run is mostly
        # self-load (a busy 32c job alone drives load1m toward 32)
        l0 = os.getloadavg()[0]
        t0 = time.monotonic()
        res = dedup_files(spark, files, cfg, quality=False)
        n_out = res.deduped.count()
        dt = time.monotonic() - t0
        if best is None or dt < best:
            best, best_load = dt, l0
    print(json.dumps({"cores": cores, "n_files": n_files, "sec": round(best, 2),
                      "files_per_sec": round(n_files / best, 1), "files_out": n_out,
                      "python_stage_tasks": cfg.python_stage_tasks(
                          spark.sparkContext, n_files),
                      "load1m": round(best_load, 1)}))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), int(sys.argv[3]))
        return
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 24000
    results = {}
    # palindromic side order: the sandbox's external load arrives in
    # ~10-minute waves, so a fixed (8 then 32) order systematically
    # exposes one side to more contention. Each side runs at both ends
    # of the window; best-of per side (contention only ever slows).
    for cores in (32, 8, 8, 32):
        # pin the whole process tree (JVM, GC, shuffle threads, python
        # workers) to exactly `cores` CPUs — otherwise a local[8] run
        # borrows the other 24 cores for GC/python and the comparison
        # under-reports scaling
        env = dict(os.environ)
        # identical MODERATE heap on both sides: an oversized heap is a
        # measured tax at width (BASELINE.md round 5: 48g G1 67.6s /
        # 48g ParallelGC 73.4s vs 8g ParallelGC 40.0s at 32c, 192k) —
        # big-heap page/TLB/NUMA costs land exactly where parallelism
        # is widest. Undersized is just as wrong (r4: a too-small heap
        # turned the comparison into a GC benchmark), so larger inputs
        # get proportionally more.
        env.setdefault("SPARK_DRIVER_MEMORY",
                       "8g" if n_files <= 400_000 else "24g")
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}", sys.executable, __file__,
             "--child", str(cores), str(n_files)],
            capture_output=True, text=True, check=True, env=env,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        rec = json.loads(line)
        if cores not in results or rec["sec"] < results[cores]["sec"]:
            results[cores] = rec
        print(line)
    tp8 = results[8]["files_per_sec"]
    tp32 = results[32]["files_per_sec"]
    eff = tp32 / (4 * tp8)
    print(json.dumps({
        "throughput_local8": tp8,
        "throughput_local32": tp32,
        "scaling_efficiency_8_to_32": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }))


if __name__ == "__main__":
    main()
