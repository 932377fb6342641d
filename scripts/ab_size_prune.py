"""A/B the exact size-bound prune in verify_pairs_jaccard (VERDICT r3 #7)
with the 2-bit est prefilter in place: q14 + docs pipeline at sf0.1,
best-of-N per arm, load-stamped.

Usage: python scripts/ab_size_prune.py [reps]
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import fastqdedup_spark.operators.verify as verify_mod
from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.pipeline import dedup_files
from fastqdedup_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 2

orig_verify = verify_mod.verify_pairs_jaccard


def no_prune_verify(pairs, contents, cfg, **kw):
    kw["size_col"] = None
    return orig_verify(pairs, contents, cfg, **kw)


def run_q14(spark):
    return entrymod.queries()["q14_minhash_near_dup"](spark, SF).count()


def run_docs(spark):
    files = entrymod._docs_as_files(entrymod._t(spark, SF, "documents"))
    cfg = DedupConfig(shingle_k=7, num_perm=128, bands=32, jaccard_threshold=0.8)
    return dedup_files(spark, files, cfg, quality=False).deduped.count()


def main():
    spark = get_spark(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    import pyspark.sql.functions as F

    spark.range(1_000_000).agg(F.sum("id")).collect()
    for arm, patch in [("prune_on", orig_verify), ("prune_off", no_prune_verify)]:
        verify_mod.verify_pairs_jaccard = patch
        # the pipeline module binds the name at import: patch there too
        import fastqdedup_spark.pipeline as pipeline_mod

        pipeline_mod.verify_pairs_jaccard = patch
        for name, fn in [("q14", run_q14), ("docs_pipeline", run_docs)]:
            best, rows = 1e9, None
            for _ in range(REPS):
                l0 = os.getloadavg()[0]
                t0 = time.monotonic()
                rows = fn(spark)
                dt = time.monotonic() - t0
                best = min(best, dt)
                print(f"{arm:10s} {name:14s} {dt:7.2f}s rows={rows} load={l0:.1f}", flush=True)
            print(f"BEST {arm:10s} {name:14s} {best:7.2f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
