"""Per-stage executor-metrics probe for the scaling investigation.

Runs the pipeline (the scaling_bench gate path) once at the given core
count, then pulls the Spark UI REST API for every completed stage:
executorRunTime (task wall x tasks), executorCpuTime, GC, python-eval
time, shuffle bytes, max task time.
Distinguishes, per stage:
- compute-bound   runTime ~ wall x cores, cpu ~ runTime
- straggler/skew  maxTask ~ stage wall
- waiting         cpuTime << runTime (DRAM stalls, python round-trips)
- serial/driver   sum(stage walls) << pipeline wall

Usage: taskset -c 0-<n-1> python scripts/stage_probe.py <cores> [n_files]
"""
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F
from pyspark.sql import SparkSession


def get_spark_ui(cores: int) -> SparkSession:
    # optional off-heap execution memory (e.g. SPARK_OFFHEAP=8g):
    # tungsten hash builds / sorts allocate via Unsafe instead of
    # on-heap long[] pages, taking them out of GC entirely
    offheap = os.environ.get("SPARK_OFFHEAP", "")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("stage-probe")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if offheap:
        b = b.config("spark.memory.offHeap.enabled", "true").config(
            "spark.memory.offHeap.size", offheap
        )
    return b.getOrCreate()


def rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1{path}") as r:
        return json.load(r)


def main():
    cores = int(sys.argv[1])
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 192_000

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.pipeline import dedup_files

    spark = get_spark_ui(cores)
    spark.sparkContext.setLogLevel("ERROR")
    files = generate_files(spark, n_files, seed=42).localCheckpoint(eager=True)
    files.count()
    spark.range(cores * 10).repartition(cores).mapInPandas(
        lambda it: it, "id long"
    ).count()
    cfg = DedupConfig(shingle_k=7, num_perm=128, bands=32, jaccard_threshold=0.6)

    app_id = rest("/applications")[0]["id"]
    before = {s["stageId"] for s in rest(f"/applications/{app_id}/stages")}

    l0 = os.getloadavg()[0]
    t0 = time.monotonic()
    res = dedup_files(spark, files, cfg, quality=False)
    n_out = res.deduped.count()
    wall = time.monotonic() - t0
    print(json.dumps({"cores": cores, "n_files": n_files,
                      "pipeline_wall": round(wall, 2), "files_out": n_out,
                      # the AUTO Arrow-stage task count for this input size
                      # (the pipeline sizes it from the distinct count)
                      "python_stage_tasks": cfg.python_stage_tasks(
                          spark.sparkContext, n_files),
                      "load_before": round(l0, 1),
                      "load_after": round(os.getloadavg()[0], 1)}),
          flush=True)

    stages = [
        s for s in rest(f"/applications/{app_id}/stages?status=complete")
        if s["stageId"] not in before
    ]
    from datetime import datetime

    def ts(s, k):
        try:
            return datetime.strptime(
                s[k].replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
            ).timestamp()
        except Exception:
            return None

    rows = []
    stage_wall = 0.0
    for s in stages:
        t_a, t_b = ts(s, "firstTaskLaunchedTime"), ts(s, "completionTime")
        sw = round(t_b - t_a, 2) if t_a and t_b else None
        if sw:
            stage_wall += sw
        rows.append({
            "id": s["stageId"],
            "tasks": s["numCompleteTasks"],
            "wall": sw,
            "runT": round(s["executorRunTime"] / 1e3, 2),
            "cpuT": round(s["executorCpuTime"] / 1e9, 2),
            "gcT": round(s["jvmGcTime"] / 1e3, 2),
            "shW_mb": round(s["shuffleWriteBytes"] / 1e6, 1),
            "shR_mb": round(s["shuffleReadBytes"] / 1e6, 1),
            "name": s["name"].split("\n")[0][:70],
        })
    # stages can overlap (parallel jobs), so sum(stage walls) is an
    # upper bound on executor-busy wall; wall - sum = at least this much
    # driver/scheduling gap
    print(json.dumps({
        "sum_stage_walls": round(stage_wall, 1),
        "driver_gap_lower_bound": round(max(wall - stage_wall, 0.0), 1),
        "n_stages": len(rows),
    }), flush=True)
    rows.sort(key=lambda r: -r["runT"])
    for r in rows[:3]:
        try:
            q = rest(
                f"/applications/{app_id}/stages/{r['id']}/0/taskSummary"
                "?quantiles=0.0,0.5,1.0"
            )
            r["task_s_min_med_max"] = [round(x / 1e3, 2) for x in q["duration"]]
        except Exception:
            pass
    tot_run = sum(r["runT"] for r in rows)
    tot_cpu = sum(r["cpuT"] for r in rows)
    print(json.dumps({
        "sum_executorRunTime_s": round(tot_run, 1),
        "sum_executorCpuTime_s": round(tot_cpu, 1),
        "wall_x_cores": round(wall * cores, 1),
        "occupancy": round(tot_run / (wall * cores), 3),
        "cpu_over_run": round(tot_cpu / tot_run, 3) if tot_run else None,
    }), flush=True)
    for r in rows[:18]:
        print(json.dumps(r), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
