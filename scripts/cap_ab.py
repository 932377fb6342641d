"""Interleaved A/B of python_stage_partitions (the Arrow-stage task
cap) on the fused pipeline at a fixed core count.

Each Arrow task is a python worker (~1 core) plus a JVM serialization
thread (~0.3-0.5 core), so cores-many tasks oversubscribe ~1.4x — but
capping to cores//2 UNDERsubscribes a quiet box (16 python workers
leave ~8+ cores idle). The right cap depends on ambient load, which on
this box arrives in ~10-minute waves — so the arms are interleaved
across waves and judged best-of (contention only ever slows a run).

Usage: taskset -c 0-<n-1> python scripts/cap_ab.py <cores> [n_files] [reps] [caps]
caps is comma-separated (default "0,16,24"); 0 = the size-aware AUTO
default (DedupConfig.python_stage_tasks: cores//2 for long stages,
full width for short ones), an explicit N = exactly N tasks.
Prints one JSON line per (cap, rep) plus a best-of summary.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    cores = int(sys.argv[1])
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 192_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    CAPS = [int(c) for c in (sys.argv[4] if len(sys.argv) > 4 else "0,16,24").split(",")]

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.pipeline import dedup_files
    from fastqdedup_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    files = generate_files(spark, n_files, seed=42).localCheckpoint(eager=True)
    files.count()
    # warm python workers + JIT with one throwaway full run (cold rep 1
    # otherwise pays janino/JIT/python spin-up and poisons whichever arm
    # goes first). Shipped defaults (256/128 sketch) since the round-5
    # recalibration: the cap verdict must track the production path —
    # the original calibration predated the chunked kernels, which cut
    # python-side work ~5x and shift the oversubscription balance.
    warm = DedupConfig(shingle_k=7, jaccard_threshold=0.6)
    dedup_files(spark, files, warm, quality=False).deduped.count()

    best = {}
    order = list(CAPS)
    for rep in range(reps):
        for cap in order:
            cfg = DedupConfig(
                shingle_k=7, jaccard_threshold=0.6,
                python_stage_partitions=cap,
            )
            l0 = os.getloadavg()[0]
            t0 = time.monotonic()
            res = dedup_files(spark, files, cfg, quality=False)
            n_out = res.deduped.count()
            wall = time.monotonic() - t0
            rec = {"cap": cap, "rep": rep, "wall": round(wall, 2), "rows": n_out,
                   "load_at_launch": round(l0, 1)}
            print(json.dumps(rec), flush=True)
            if cap not in best or wall < best[cap]["wall"]:
                best[cap] = rec
        order.reverse()  # palindromic: each arm sees both wave phases
    print(json.dumps({"cores": cores, "n_files": n_files,
                      "best": {str(c): best[c]["wall"] for c in best},
                      "best_loads": {str(c): best[c]["load_at_launch"] for c in best}}),
          flush=True)


if __name__ == "__main__":
    main()
