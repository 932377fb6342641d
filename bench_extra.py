"""Auxiliary benchmarks (bench.py is FROZEN for driver measurement;
extra numbers cited in OPTIMIZATION_r06.md live here).

Same methodology as bench.py (best-of-N, fresh DataFrame per rep, load
stamps) but runs ONLY the two end-to-end pipelines — they are the last
legs of bench.py's frozen order, so on a wave-saturated box a quiet
launch window has usually decayed by the time bench.py reaches them.
A pipelines-only run fits inside one quiet window.

Usage: python bench_extra.py  -> one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F

import __spark_entry__ as entrymod
from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.corpus import generate_files
from fastqdedup_spark.pipeline import dedup_files
from fastqdedup_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CORPUS_FILES = int(os.environ.get("SPARK_GRAFT_CORPUS_FILES", "24000"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def main() -> None:
    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).agg(F.sum("id")).collect()

    def docs():
        files = entrymod._docs_as_files(entrymod._t(spark, SF_DIR, "documents"))
        n = files.count()
        cfg = DedupConfig(shingle_k=7, jaccard_threshold=0.8)
        res = dedup_files(spark, files, cfg, quality=False)
        return {"files_in": n, "rows": res.deduped.count()}

    def corpus():
        files = generate_files(spark, CORPUS_FILES, seed=42).localCheckpoint(eager=True)
        n = files.count()
        cfg = DedupConfig(shingle_k=7, jaccard_threshold=0.6)
        res = dedup_files(spark, files, cfg, quality=False)
        return {"files_in": n, "rows": res.deduped.count()}

    out: dict = {"queries": {}, "detail": {}}
    for name, fn in (("pipeline_dedup_docs", docs), ("pipeline_dedup_corpus", corpus)):
        runs, loads, info = [], [], {}
        for _ in range(REPS):
            l0 = os.getloadavg()[0]
            t0 = time.monotonic()
            info = fn()
            runs.append(round(time.monotonic() - t0, 3))
            loads.append(round(l0, 1))
        out["queries"][name] = min(runs)
        out["detail"][name] = {**info, "runs": runs, "load1m": loads}
    out["metric"] = "pipelines_total_sec"
    out["value"] = round(sum(out["queries"].values()), 3)
    out["unit"] = "sec"
    out["sf"] = SF_DIR
    out["cpus"] = CPUS
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
