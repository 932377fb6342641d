"""A/B num_perm=128 vs 256 (VERDICT r4 #3): doubling the sketch halves
the estimator sigma (0.054 -> 0.038 at j~0.6), so the borderline band
that pays for exact python verify can shrink by 1/sqrt(2) at the SAME
false-drop sigma (est_margin 0.2 -> 0.141). Costs to weigh: the OPH
signer hashes 2x bins per doc, the band table doubles (64 bands at the
same rows-per-band=4), and the est sketch becomes 8 longs (~50
expression nodes — still far under the JIT limits, confirmed by the
stderr codegen scan).

Usage: python scripts/ab_num_perm.py [n_files] [reps]
Arms are interleaved across load waves; per-arm best-of is what to read.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F


def run_arm(spark, n_files, cfg):
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.pipeline import dedup_files

    files = generate_files(spark, n_files, seed=42).localCheckpoint(eager=True)
    files.count()
    l0 = os.getloadavg()[0]
    t0 = time.monotonic()
    res = dedup_files(spark, files, cfg, quality=False)
    n_out = res.deduped.count()
    wall = time.monotonic() - t0
    return {"wall": round(wall, 2), "rows": n_out, "load": round(l0, 1),
            "load_after": round(os.getloadavg()[0], 1)}


def main():
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 192_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.session import get_spark

    arms = {
        "np128": DedupConfig(
            shingle_k=7, num_perm=128, bands=32,
            jaccard_threshold=0.6, est_margin=0.2,
            python_stage_partitions=16,
        ),
        # band_bins=0 -> band over ALL 256 bins (64 bands x 4 rows).
        # Left at the 128 default this arm silently ran 64 bands x 2
        # rows over the first 128 bins — a far looser banding that
        # floods candidates and mismeasures the coupled-256 arm.
        "np256": DedupConfig(
            shingle_k=7, num_perm=256, bands=64, band_bins=0,
            jaccard_threshold=0.6, est_margin=0.141,
            python_stage_partitions=16,
        ),
        # decoupled: np128's exact banding structure (32 bands x 4
        # rows over the first 128 bins -> identical candidate-recall
        # math and band-table size) + a 256-bin est sketch (sigma
        # 1/sqrt(2) smaller -> borderline band shrinks at the same
        # false-drop probability). Costs only: 2x OPH binning (minor
        # vs shingling) and 8-long carried sketch vs 4.
        "np256_b32": DedupConfig(
            shingle_k=7, num_perm=256, bands=32, band_bins=128,
            jaccard_threshold=0.6, est_margin=0.141,
            python_stage_partitions=16,
        ),
    }
    spark = get_spark(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).agg(F.sum("id")).collect()
    # full warm-up so neither arm pays the cold-JVM ~2.5x on its first rep
    run_arm(spark, n_files, arms["np128"])
    results: dict = {k: [] for k in arms}
    order = list(arms)
    for _ in range(reps):
        for name in order:
            r = run_arm(spark, n_files, arms[name])
            results[name].append(r)
            print(json.dumps({"arm": name, **r}), flush=True)
        order.reverse()  # palindromic across load waves
    summary = {
        name: {"best_wall": min(r["wall"] for r in runs),
               "rows": runs[0]["rows"]}
        for name, runs in results.items()
    }
    print(json.dumps({"n_files": n_files, **summary}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
