"""Interleaved A/B of the round-5 late adoptions on the fused pipeline:
windowless co-partitioned pair stage (copartition_pairs) and hash-min
verify keying (verify_orient). Same-JVM arms, palindromic order across
the box's ~10-minute load waves, warm-up pass first, best-of verdict —
the cap_ab protocol. Off-heap is session-level, so compare across two
invocations: SPARK_GRAFT_OFFHEAP=0 disables it (see session.get_spark).

Usage: taskset -c 0-<n-1> python scripts/knob_ab.py <cores> [n_files] [reps]
Arms: head (shipped defaults), nocopart, noorient, legacy (both off).
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    cores = int(sys.argv[1])
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 768_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.pipeline import dedup_files
    from fastqdedup_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    files = generate_files(spark, n_files, seed=42).localCheckpoint(eager=True)
    files.count()

    base = dict(shingle_k=7, jaccard_threshold=0.6)
    # every knob PINNED per arm (never inherited from the shipped
    # default): after the copartition_pairs default flipped to False,
    # default-relative arms silently collapsed into identical configs
    # and the A/B compared a knob against itself
    ARMS = {
        "copart": DedupConfig(**base, copartition_pairs=True, verify_orient=True),
        "nocopart": DedupConfig(**base, copartition_pairs=False, verify_orient=True),
        "noorient": DedupConfig(**base, copartition_pairs=True, verify_orient=False),
        "legacy": DedupConfig(**base, copartition_pairs=False, verify_orient=False),
    }
    dedup_files(spark, files, ARMS["copart"], quality=False).deduped.count()  # warm-up

    best = {}
    rows0 = None
    order = list(ARMS)
    for rep in range(reps):
        for arm in order:
            l0 = os.getloadavg()[0]
            t0 = time.monotonic()
            res = dedup_files(spark, files, ARMS[arm], quality=False)
            n_out = res.deduped.count()
            wall = time.monotonic() - t0
            if rows0 is None:  # `or` skipped the check when arm 1 returned 0
                rows0 = n_out
            assert n_out == rows0, f"{arm}: output rows {n_out} != {rows0}"
            rec = {"arm": arm, "rep": rep, "wall": round(wall, 2),
                   "rows": n_out, "load_at_launch": round(l0, 1)}
            print(json.dumps(rec), flush=True)
            if arm not in best or wall < best[arm]["wall"]:
                best[arm] = rec
        order.reverse()
    print(json.dumps({
        "cores": cores, "n_files": n_files,
        "offheap": os.environ.get("SPARK_GRAFT_OFFHEAP", "8g"),
        "best": {a: best[a]["wall"] for a in best},
        "best_loads": {a: best[a]["load_at_launch"] for a in best},
    }), flush=True)


if __name__ == "__main__":
    main()
