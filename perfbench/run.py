"""Seeded end-to-end benchmark of the fastqdedup_spark CLI.

Run from the root of a repository checkout:

    python3 perfbench/run.py --workload code-incremental --seed 1 --seconds 10 --trace 0

One process, one local[4] Spark session, one closed-loop client: set-up
(session start, input generation, one checked warm-up operation) is
timed as setup_s, then operations run back to back for --seconds (at
least two of them), each followed by its output check. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the lines above it print
every metric with its unit and sample count. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run
(spans are written to .bench_traces/ at exit). Everything the run
writes stays under .bench_work/ and .bench_traces/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# a run always measures at least this many operations, so every run has
# a median and a maximum of its own even when one operation outlasts
# --seconds (operations take 6-15 s on a loaded 4-core machine)
MIN_OPS = 2


def _isolate(work: str) -> None:
    """Keep every file the session writes inside the checkout and size
    the session for this benchmark (set before the JVM launches)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.chdir(work)


def _tail(times: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile); the maximum (percentile 100) when there are
    10 samples or fewer."""
    n = len(times)
    if n <= 10:
        return max(times), 100.0
    return sorted(times)[n - 11], 100.0 * (n - 10) / n


def _stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait until every process
    the run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait(timeout=30)
    from probes import descendants

    deadline = time.monotonic() + 30
    while True:
        rest = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.2)


def _loop(args, wl, sampler, tracer) -> list[dict]:
    """The closed loop: operations back to back for args.seconds (and
    at least MIN_OPS of them), each timed, then checked (the check is
    outside the operation's time)."""
    ops: list[dict] = []
    sampler.reset_peak()
    start = time.perf_counter()
    i = 0
    while (i < MIN_OPS or time.perf_counter() - start < args.seconds) and wl.has_op(i):
        rec = {"rows": wl.rows(i), "ok": True}
        cpu0, t = sampler.cpu_s(), time.perf_counter()
        try:
            if tracer:
                tracer.run_op(i, lambda i=i: wl.op(i))
            else:
                wl.op(i)
        except Exception:  # noqa: BLE001 - a raising operation is a failed one
            traceback.print_exc()
            rec["ok"] = False
        rec["op_s"] = time.perf_counter() - t
        rec["cpu_s"] = sampler.cpu_s() - cpu0
        traced = bool(tracer) and rec["ok"]
        if traced:
            tracer.end_op(rec["rows"])
        try:
            wl.check(i)
        except Exception:  # noqa: BLE001 - includes CheckFailed
            traceback.print_exc()
            rec["ok"] = False
        if traced:
            # layer numbers of a failed operation are not reported
            if rec["ok"]:
                tracer.per_op[-1].update(wl.layer_extra)
            else:
                tracer.per_op.pop()
        ops.append(rec)
        i += 1
    return ops


def run(args, work: str) -> tuple[dict, list[str]]:
    from probes import TreeSampler, failed_tasks
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    sampler = TreeSampler(os.getpid())
    sampler.start()
    from fastqdedup_spark.session import get_spark

    spark = get_spark(master=f"local[{CORES}]")
    try:
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        inputs_s = time.perf_counter() - t0 - session_s
        tracer = setup_layers = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark, sampler, CORES)
            tracing.install(tracer)
        warm_ok = True
        try:
            if tracer:
                # the warm-up is traced too: the set-up job is where the
                # checkpoint layer runs (workloads.CodeIncremental)
                tracer.run_op(-1, wl.warm_up_op)
                tracer.end_op(wl.rows(-1))
                setup_layers = tracer.per_op.pop()
            else:
                wl.warm_up_op()
            wl.warm_up_check()
        except Exception:  # noqa: BLE001 - a broken warm-up makes the run incorrect
            traceback.print_exc()
            warm_ok = False
        setup_s = time.perf_counter() - t0
        ops = _loop(args, wl, sampler, tracer)
        peak_rss = sampler.peak_rss_mb
        total_failed_tasks = failed_tasks(spark.sparkContext)
        if tracer:
            tracer.unwrap()
            os.makedirs(os.path.join(ROOT, ".bench_traces"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".bench_traces", f"{args.workload}-seed{args.seed}.json"
            ))
    finally:
        _stop_session(spark)
        sampler.stop()

    good = [o for o in ops if o["ok"]]
    failed = len(ops) - len(good)
    lines = [
        f"workload {args.workload} seed {args.seed}: {len(ops)} operations, "
        f"{failed} failed (failed_ops_frac {failed / max(len(ops), 1):.4f}), "
        f"{total_failed_tasks} failed Spark task attempts"
        + ("" if warm_ok else "; the warm-up operation FAILED"),
        f"set-up: session {session_s:.2f} s, inputs {inputs_s:.2f} s, "
        f"warm-up {setup_s - session_s - inputs_s:.2f} s",
    ]
    if not good:
        return {"correct": False, "attempted": max(len(ops), 1), "failed": max(failed, 1),
                "metrics": {}}, lines
    times = [o["op_s"] for o in good]
    tail, pct = _tail(times)
    n = len(good)
    if tracer:
        layer = tracer.summary()
        layer["session.start_s"] = session_s
        for k in ("checkpoint.write_s", "checkpoint.failed_tasks"):
            layer[k] = setup_layers[k] if setup_layers else 0.0
        layer.update(wl.setup_extra)
        metrics = {k: (v, _unit(k)) for k, v in sorted(layer.items())}
        lines.append(f"per-layer numbers: median over {len(tracer.per_op)} traced operations")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (statistics.median(o["rows"] / o["op_s"] for o in good), "1/s"),
            "op_s_p50": (statistics.median(times), "s"),
            "op_s_tail": (tail, "s"),
            "cpu_s_per_1k_rows": (
                statistics.median(1000 * o["cpu_s"] / o["rows"] for o in good), "s"
            ),
            "peak_rss_mb": (peak_rss, "MB"),
            "dup_recall": (wl.quality.recall, "ratio"),
            "dup_precision": (wl.quality.precision, "ratio"),
        }
        lines.append(f"op_s_tail is p{pct:.1f} of {n} operation samples")
        lines.append("operation seconds: " + " ".join(f"{t:.3f}" for t in times))
    for k, (v, unit) in metrics.items():
        lines.append(f"  {k:45s} {v:14.6g} {unit:6s} (n={1 if k == 'setup_s' else n})")
    result = {
        "correct": failed == 0 and warm_ok,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, lines


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes_written") or name.endswith("append_bytes"):
        return "bytes"
    if name.endswith(("cpu_util", "ratio", "yield", "per_input_byte")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fastqdedup_spark", "__init__.py")):
        print(f"perfbench: no fastqdedup_spark package under {ROOT}; run from a "
              "repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # SIGTERM unwinds through the finally blocks below, so the
    # session, its processes and the work directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate(work)
        result, lines = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
