"""Decompose the 8->32-core scaling gap into measurable terms
(VERDICT r2 #1: "serial fraction <10% proven, not asserted").

Three independent measurements, all pinned with taskset:

1. `bandwidth` — a STREAM-triad-style control (numpy a = b + s*c over
   arrays far larger than LLC) run as P independent processes pinned to
   P cores, P in {1, 8, 32}. Pure bandwidth-bound work: its 8->32
   efficiency is the CEILING any memory-bound Spark stage can reach on
   this box, independent of our code. A real 4x cluster multiplies
   memory channels with the cores; a single socket does not.

2. `cpu` — a pure-compute control (integer splitmix64 loop over a
   small in-cache buffer) at the same P values: proves the pinning +
   process harness itself scales (expected ~1.0).

3. `stages` — the full dedup pipeline at 8 and 32 pinned cores with
   per-stage wall clocks (the metrics machinery), so the gap is
   attributed per stage instead of to the pipeline as a whole. Serial
   fraction via Amdahl from the STAGE that scales worst vs best.

Usage:
    python scripts/serial_fraction.py bandwidth
    python scripts/serial_fraction.py cpu
    python scripts/serial_fraction.py stages [n_files]
    python scripts/serial_fraction.py all [n_files]
Child mode (internal): ... --child-bw <n_iters> | --child-cpu <n_iters>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ARR_MB = 512          # per-process triad arrays: 3 x 512 MB >> any LLC
BW_ITERS = 8
CPU_ITERS = 60_000_000


def child_bw() -> None:
    import numpy as np

    n = ARR_MB * 1024 * 1024 // 8
    b = np.random.default_rng(1).random(n)
    c = np.random.default_rng(2).random(n)
    a = np.empty_like(b)
    # warm-up (page-fault the buffers)
    np.add(b, c, out=a)
    t0 = time.monotonic()
    for _ in range(BW_ITERS):
        np.multiply(c, 3.0, out=a)
        a += b
    dt = time.monotonic() - t0
    # 5 array passes per iter: multiply = read c + write a; in-place
    # add = read a + read b + write a (ADVICE r3: the earlier 6-pass
    # accounting overstated GB/s ~20%; write-allocate traffic on the
    # stores would add ~2 more passes — we report the conservative 5)
    gb = BW_ITERS * 5 * n * 8 / 1e9
    print(json.dumps({"gb_per_s": round(gb / dt, 2), "sec": round(dt, 2)}))


def child_cpu() -> None:
    import numpy as np

    x = np.arange(65536, dtype=np.uint64)  # fits in L2
    t0 = time.monotonic()
    iters = CPU_ITERS // len(x)
    for _ in range(iters):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    dt = time.monotonic() - t0
    print(json.dumps({"mops": round(iters * len(x) / dt / 1e6, 1), "sec": round(dt, 2)}))


def _run_pinned(kind: str, n_procs: int) -> float:
    """Launch n_procs children, each pinned to its own core; return the
    SUM of their throughputs (aggregate box throughput at that width)."""
    procs = []
    for i in range(n_procs):
        procs.append(
            subprocess.Popen(
                ["taskset", "-c", str(i), sys.executable, __file__, f"--child-{kind}"],
                stdout=subprocess.PIPE, text=True,
            )
        )
    total = 0.0
    key = "gb_per_s" if kind == "bw" else "mops"
    for p in procs:
        out, _ = p.communicate()
        total += json.loads(out.strip().splitlines()[-1])[key]
    return round(total, 2)


def control(kind: str, reps: int = 3) -> dict:
    """Best-of-N interleaved waves per width: the sandbox's external
    load arrives in ~10-minute bursts, and a single contaminated wave
    skews the ceiling 2x (observed: 1-proc triad 6.99 vs 13.64 GB/s in
    the same hour). Contention only ever slows a wave, so max-of-N is
    the least-biased estimator of the quiet-machine ceiling."""
    res = {p: 0.0 for p in (1, 8, 32)}
    for _ in range(reps):
        for p in (1, 8, 32):
            res[p] = max(res[p], _run_pinned(kind, p))
    eff = res[32] / (4 * res[8])
    label = "aggregate_gb_per_s" if kind == "bw" else "aggregate_mops"
    out = {
        "control": "dram_triad" if kind == "bw" else "cpu_splitmix",
        label: res,
        "efficiency_8_to_32": round(eff, 3),
        "reps": reps,
    }
    print(json.dumps(out))
    return out


def stages(n_files: int) -> dict:
    """Per-stage walls at 8 and 32 pinned cores (best-of-2)."""
    results = {}
    for cores in (32, 8, 8, 32):
        env = dict(os.environ)
        env.setdefault("SPARK_DRIVER_MEMORY", "48g")
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}", sys.executable, __file__,
             "--child-stages", str(cores), str(n_files)],
            capture_output=True, text=True, check=True, env=env,
        )
        rec = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
        if cores not in results or rec["total"] < results[cores]["total"]:
            results[cores] = rec
        print(json.dumps(rec))
    per_stage = {}
    for st in results[8]["stages"]:
        t8, t32 = results[8]["stages"][st], results[32]["stages"][st]
        per_stage[st] = {
            "sec_8c": t8, "sec_32c": t32,
            "efficiency": round(t8 / (4 * t32), 3) if t32 else None,
        }
    summary = {
        "n_files": n_files,
        "total_8c": results[8]["total"],
        "total_32c": results[32]["total"],
        "efficiency": round(results[8]["total"] / (4 * results[32]["total"]), 3),
        "stages": per_stage,
    }
    print(json.dumps(summary))
    return summary


def child_stages(cores: int, n_files: int) -> None:
    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.pipeline import dedup_files
    from fastqdedup_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    files = generate_files(spark, n_files, seed=42).cache()
    files.count()
    spark.range(cores * 10).repartition(cores).mapInPandas(lambda it: it, "id long").count()
    cfg = DedupConfig(shingle_k=7, num_perm=128, bands=32, jaccard_threshold=0.6)
    best = None
    for _ in range(2):
        t0 = time.monotonic()
        res = dedup_files(spark, files, cfg, quality=False)
        res.deduped.count()
        dt = time.monotonic() - t0
        st = {
            k.replace(".seconds", ""): round(v, 2)
            for k, v in res.metrics.items() if k.endswith(".seconds")
        }
        rec = {"cores": cores, "total": round(dt, 2), "stages": st}
        if best is None or rec["total"] < best["total"]:
            best = rec
    print(json.dumps(best))


def main() -> None:
    a = sys.argv[1] if len(sys.argv) > 1 else "all"
    if a == "--child-bw":
        child_bw()
    elif a == "--child-cpu":
        child_cpu()
    elif a == "--child-stages":
        child_stages(int(sys.argv[2]), int(sys.argv[3]))
    elif a == "bandwidth":
        control("bw")
    elif a == "cpu":
        control("cpu")
    elif a == "stages":
        stages(int(sys.argv[2]) if len(sys.argv) > 2 else 96000)
    elif a == "all":
        control("cpu")
        control("bw")
        stages(int(sys.argv[2]) if len(sys.argv) > 2 else 96000)
    else:
        raise SystemExit(f"unknown mode {a!r}")


if __name__ == "__main__":
    main()
