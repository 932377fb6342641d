"""WARM per-stage probe of the shipped fused pipeline.

stage_probe.py measures a COLD single run (2.5x the steady-state wall
— BASELINE.md round 5) and predates the 256/128 sketch defaults. This
variant profiles what the gate actually measures: the shipped session
(ParallelGC, 64 MB broadcast ceiling), shipped DedupConfig defaults,
cores//2 Arrow-stage cap, one full warm-up run, THEN a measured run
whose stages are isolated by snapshotting completed stage IDs between
the two. Reports the same REST metrics as stage_probe.

Usage: taskset -c 0-<n-1> SPARK_DRIVER_MEMORY=24g \
         python scripts/pipeline_stage_probe.py <cores> [n_files]
"""
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1{path}") as r:
        return json.load(r)


def main():
    cores = int(sys.argv[1])
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 768_000

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.pipeline import dedup_files
    from fastqdedup_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g" if n_files > 400_000 else "8g")
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    # the shipped session disables the UI; re-enable via a fresh context
    # is not possible post-launch, so this probe builds its own session
    # only if the UI is off
    if spark.conf.get("spark.ui.enabled", "false") == "false":
        spark.stop()
        from pyspark.sql import SparkSession

        builder = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("pipeline-stage-probe")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", os.environ["SPARK_DRIVER_MEMORY"])
            .config("spark.ui.enabled", "true")
            .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        )
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    files = generate_files(spark, n_files, seed=42).localCheckpoint(eager=True)
    files.count()
    cfg = DedupConfig(
        shingle_k=7, jaccard_threshold=0.6,
        python_stage_partitions=max(2, cores // 2),
    )
    # warm-up: janino + HotSpot C2 + python worker spin-up
    dedup_files(spark, files, cfg, quality=False).deduped.count()

    app_id = rest("/applications")[0]["id"]
    before = {s["stageId"] for s in rest(f"/applications/{app_id}/stages")}

    l0 = os.getloadavg()[0]
    t0 = time.monotonic()
    res = dedup_files(spark, files, cfg, quality=False)
    n_out = res.deduped.count()
    wall = time.monotonic() - t0
    print(json.dumps({"cores": cores, "n_files": n_files,
                      "warm_pipeline_wall": round(wall, 2), "files_out": n_out,
                      "load_at_launch": round(l0, 1)}), flush=True)

    from datetime import datetime

    def ts(s, k):
        try:
            return datetime.strptime(
                s[k].replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
            ).timestamp()
        except Exception:
            return None

    stages = [
        s for s in rest(f"/applications/{app_id}/stages?status=complete")
        if s["stageId"] not in before
    ]
    rows, stage_wall = [], 0.0
    for s in stages:
        t_a, t_b = ts(s, "firstTaskLaunchedTime"), ts(s, "completionTime")
        sw = round(t_b - t_a, 2) if t_a and t_b else None
        if sw:
            stage_wall += sw
        rows.append({
            "id": s["stageId"], "tasks": s["numCompleteTasks"], "wall": sw,
            "runT": round(s["executorRunTime"] / 1e3, 2),
            "cpuT": round(s["executorCpuTime"] / 1e9, 2),
            "gcT": round(s["jvmGcTime"] / 1e3, 2),
            "shW_mb": round(s["shuffleWriteBytes"] / 1e6, 1),
            "shR_mb": round(s["shuffleReadBytes"] / 1e6, 1),
            "name": s["name"].split("\n")[0][:70],
        })
    print(json.dumps({
        "sum_stage_walls": round(stage_wall, 1),
        "driver_gap_lower_bound": round(max(wall - stage_wall, 0.0), 1),
        "n_stages": len(rows),
    }), flush=True)
    rows.sort(key=lambda r: -(r["wall"] or 0.0))
    for r in rows:
        print(json.dumps(r), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
