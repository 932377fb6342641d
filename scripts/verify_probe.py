"""Isolate the edges/verify stage: counts, executed plan, REST metrics.
Usage: taskset -c 0-31 python scripts/verify_probe.py <cores> [n_files]
"""
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from scripts.stage_probe import get_spark_ui, rest


def main():
    cores = int(sys.argv[1])
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 192_000

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.functions.minhash import add_signature_columns, normalize_content
    from fastqdedup_spark.operators.exact_dedup import with_sha256
    from fastqdedup_spark.operators.lsh import minhash_candidate_pairs
    from fastqdedup_spark.operators.verify import verify_pairs_jaccard

    spark = get_spark_ui(cores)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig(shingle_k=7, num_perm=128, bands=32, jaccard_threshold=0.6)
    files = generate_files(spark, n_files, seed=42).localCheckpoint(eager=True)
    base = with_sha256(files)
    distinct = (
        base.groupBy("sha")
        .agg(F.first("content").alias("content"), F.count(F.lit(1)).alias("cnt"))
        .withColumn("content_norm", normalize_content("content"))
        .select("sha", "cnt", "content_norm")
    )
    signed = add_signature_columns(distinct, cfg).withColumn(
        "nid", F.unhex(F.substring("sha", 1, 32))
    ).localCheckpoint(eager=True)
    print(json.dumps({"n_distinct": signed.count()}), flush=True)

    pairs_lazy = minhash_candidate_pairs(signed, cfg, id_col="nid")
    pairs = pairs_lazy.localCheckpoint(eager=True)
    print(json.dumps({"n_pairs": pairs.count()}), flush=True)

    edges = verify_pairs_jaccard(
        pairs,
        signed.select("nid", "content_norm", "n_shingles", "sig_packed"),
        cfg,
        id_col="nid",
        skip_est=True,
    )
    app_id = rest("/applications")[0]["id"]
    before = {s["stageId"] for s in rest(f"/applications/{app_id}/stages")}
    l0 = os.getloadavg()[0]
    t0 = time.monotonic()
    n_edges = edges.count()
    wall = time.monotonic() - t0
    print(json.dumps({"n_edges": n_edges, "verify_wall": round(wall, 2),
                      "cores": cores, "load": round(l0, 1),
                      "load_after": round(os.getloadavg()[0], 1)}), flush=True)
    for s in rest(f"/applications/{app_id}/stages?status=complete"):
        if s["stageId"] in before:
            continue
        print(json.dumps({
            "id": s["stageId"], "tasks": s["numCompleteTasks"],
            "runT": round(s["executorRunTime"] / 1e3, 1),
            "cpuT": round(s["executorCpuTime"] / 1e9, 1),
            "shW_mb": round(s["shuffleWriteBytes"] / 1e6, 1),
            "shR_mb": round(s["shuffleReadBytes"] / 1e6, 1),
        }), flush=True)
    edges.explain("formatted")
    spark.stop()


if __name__ == "__main__":
    main()
