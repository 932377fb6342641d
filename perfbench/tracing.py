"""In-memory span tracer for the traced (--trace 1) run.

Spans are recorded from the benchmark's side only: the public functions
of each layer are wrapped by attribute patching for the duration of the
run, and nothing inside fastqdedup_spark/ changes. Spark is lazy, so a
layer's time is the time of the calls that materialize it: the
pipeline's StageCheckpointer.stage boundaries are mapped to the layer
that builds each stage, and a layer's time is its spans' self time
(duration minus the part covered by child spans). Every span runs its
Spark jobs under its own job group, so failed tasks are attributed to
the layer whose span launched them.

Each span records name, layer, operation id, parent, start, end, CPU
time of the process tree at both ends, and the row counts at that
boundary (counted after the operation, on the already materialized
stage, and charged to tracing overhead).
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict

from probes import failed_tasks

# pipeline stage name -> layer that builds it
STAGE_LAYER = {
    "counted_keys": "exact_dedup",
    "distinct_contents": "exact_dedup",
    "signatures": "minhash",
    "pairs": "lsh",
    "edges": "verify",
    "clusters": "connected_components",
    "survivors": "dissect",
}

LAYERS = [
    "sources", "exact_dedup", "minhash", "lsh", "verify",
    "connected_components", "dissect", "checkpoint", "incremental",
]


class Tracer:
    def __init__(self, spark, sampler, cores: int) -> None:
        self.sc = spark.sparkContext
        self.sampler = sampler
        self.cores = cores
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []
        self.op: int | None = None
        self._op_spans: list[dict] = []
        self._captured: dict[str, list] = defaultdict(list)
        self._overhead = 0.0
        self.per_op: list[dict[str, float]] = []

    # -- patching ------------------------------------------------------------
    def wrap(self, owner, attr: str, layer, name: str | None = None, capture: str = "") -> None:
        """Replace owner.attr by a spanned passthrough. `layer` is a
        string or a function of the call's arguments."""
        orig = getattr(owner, attr)
        span_name = name or f"{getattr(owner, '__name__', owner)}.{attr}"
        tracer = self

        def wrapper(*args, **kwargs):
            lay = layer(*args, **kwargs) if callable(layer) else layer
            return tracer._span(span_name, lay, capture, orig, args, kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span['id']}", span["name"])

    def _span(self, name, layer, capture, fn, args, kwargs):
        enter = time.perf_counter()
        rec = {
            "id": len(self.spans), "name": name, "layer": layer, "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "cpu0": self.sampler.cpu_s(),
        }
        if name == "StageCheckpointer.stage":
            rec["stage"] = args[1] if len(args) > 1 else kwargs.get("name")
        self.spans.append(rec)
        self._op_spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self._overhead += rec["start"] - enter
        try:
            out = fn(*args, **kwargs)
        finally:
            leave = time.perf_counter()
            rec["end"] = leave
            rec["cpu1"] = self.sampler.cpu_s()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self._overhead += time.perf_counter() - leave
        if capture:
            self._captured[capture].append((rec, out))
        return out

    # -- operations ----------------------------------------------------------
    def run_op(self, op: int, fn):
        """Run one operation under a root span."""
        self.op = op
        self._op_spans = []
        self._captured = defaultdict(list)
        self._overhead = 0.0
        try:
            return self._span("operation", "op", "", fn, (), {})
        finally:
            self.op = None

    def end_op(self, input_rows: int) -> None:
        """Per-operation layer numbers; the post-op counting it needs is
        charged to tracing overhead."""
        t = time.perf_counter()
        self.sc.setJobGroup("perfbench-overhead", "tracing counts")
        try:
            m = self._op_metrics(input_rows)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        m["tracing.overhead_s"] = self._overhead + time.perf_counter() - t
        self.per_op.append(m)

    def _op_metrics(self, input_rows: int) -> dict[str, float]:
        spans = self._op_spans
        child_wall: dict[int, float] = defaultdict(float)
        child_cpu: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_wall[s["parent"]] += s["end"] - s["start"]
                child_cpu[s["parent"]] += s["cpu1"] - s["cpu0"]
        wall: dict[str, float] = defaultdict(float)
        cpu: dict[str, float] = defaultdict(float)
        for s in spans:
            wall[s["layer"]] += s["end"] - s["start"] - child_wall[s["id"]]
            cpu[s["layer"]] += s["cpu1"] - s["cpu0"] - child_cpu[s["id"]]

        stage_rows: dict[str, int] = defaultdict(int)
        for rec, df in self._captured["stage"]:
            rec["rows"] = df.count()
            stage_rows[rec["stage"]] += rec["rows"]
        survivors = [df for rec, df in self._captured["stage"] if rec["stage"] == "survivors"]
        clusters = sum(df.select("cluster_id").distinct().count() for df in survivors)
        metrics: dict[str, float] = {}
        for _, res in self._captured["result"]:
            for k, v in res.metrics.items():
                metrics[k] = metrics.get(k, 0.0) + v
        cross = 0
        for rec, df in self._captured["cross_pairs"]:
            rec["rows"] = df.count()
            cross += rec["rows"]
        rounds = sum(out[1] for _, out in self._captured["cc"])
        probe = [
            min((c["start"] for c in spans if c["parent"] == s["id"]
                 and c["layer"] == "pipeline"), default=s["end"]) - s["start"]
            for s in spans if s["name"] == "incremental.dedup_files_incremental"
        ]

        def util(*layers: str) -> float:
            w = sum(wall[x] for x in layers)
            return sum(cpu[x] for x in layers) / (w * self.cores) if w > 0 else 0.0

        distinct = stage_rows["distinct_contents"] + stage_rows["counted_keys"]
        pairs, edges = stage_rows["pairs"], stage_rows["edges"]
        out = {
            "sources.read_s": wall["sources.read"],
            "sources.write_s": wall["sources.write"],
            "sources.cpu_util": util("sources.read", "sources.write"),
            "exact_dedup.s": wall["exact_dedup"],
            "exact_dedup.distinct_ratio": distinct / metrics.get("input.files", input_rows),
            "minhash.s": wall["minhash"],
            "minhash.docs": stage_rows["signatures"],
            "minhash.cpu_util": util("minhash"),
            "lsh.s": wall["lsh"],
            "lsh.band_rows": metrics.get("bands.n_bands", 0.0),
            "lsh.max_band_size": metrics.get("bands.max_band_size", 0.0),
            "lsh.candidate_pairs": pairs,
            "verify.s": wall["verify"],
            "verify.pairs_in": pairs,
            "verify.edges_out": edges,
            "verify.yield": edges / pairs if pairs else 0.0,
            "connected_components.s": wall["connected_components"],
            "connected_components.rounds": rounds,
            "dissect.s": wall["dissect"],
            "dissect.clusters": clusters,
            "dissect.fallback_clusters": metrics.get("dissect.fallback_clusters", 0.0),
            "checkpoint.write_s": wall["checkpoint"],
            "incremental.probe_s": sum(probe),
            "incremental.cross_pairs": cross,
            "incremental.append_s": wall["incremental.append"],
        }
        by_layer: dict[str, int] = defaultdict(int)
        for s in spans:
            by_layer[s["layer"].split(".")[0]] += failed_tasks(self.sc, f"perfbench-{s['id']}")
        for layer in LAYERS:
            out[f"{layer}.failed_tasks"] = by_layer[layer]
        return out

    # -- results -------------------------------------------------------------
    def summary(self) -> dict[str, float]:
        """Median over traced operations of every per-op number."""
        keys = self.per_op[0].keys() if self.per_op else ()
        return {k: statistics.median(m[k] for m in self.per_op) for k in keys}

    def dump(self, path: str) -> None:
        spans = [
            {**s, "start": s["start"] - self.t0, "end": s["end"] - self.t0}
            for s in self.spans if "end" in s
        ]
        with open(path, "w") as f:
            json.dump(spans, f)


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry points (module attributes are
    patched where the caller looks them up)."""
    from fastqdedup_spark import cli, incremental, pipeline
    from fastqdedup_spark.checkpoint import StageCheckpointer
    from fastqdedup_spark.sources import fastq

    w = tracer.wrap
    w(cli, "input_fingerprint", "sources.read", "sources.input_fingerprint")
    w(cli, "read_files_table", "sources.read", "sources.read_files_table")
    w(cli, "write_table", "sources.write", "sources.write_table")
    w(fastq, "read_fastq", "sources.read", "sources.fastq.read_fastq")
    w(fastq, "zip_fastq", "sources.read", "sources.fastq.zip_fastq")
    w(fastq, "write_fastq", "sources.write", "sources.fastq.write_fastq")
    w(fastq, "dedup_keys", "pipeline", "pipeline.dedup_keys", capture="result")
    w(StageCheckpointer, "stage",
      lambda self, name, *a, **k: STAGE_LAYER.get(name, "connected_components"),
      "StageCheckpointer.stage", capture="stage")
    w(StageCheckpointer, "_write_lineage", "checkpoint", "checkpoint.write_lineage")
    w(StageCheckpointer, "_verify_lineage", "checkpoint", "checkpoint.verify_lineage")
    w(StageCheckpointer, "write_metrics", "checkpoint", "checkpoint.write_metrics")
    w(pipeline, "connected_components", "connected_components",
      "connected_components.connected_components", capture="cc")
    w(incremental, "dedup_files_incremental", "incremental",
      "incremental.dedup_files_incremental")
    w(incremental, "cross_candidate_pairs", "incremental",
      "incremental.cross_candidate_pairs", capture="cross_pairs")
    w(incremental, "dedup_files", "pipeline", "pipeline.dedup_files", capture="result")
    w(incremental.DedupIndex, "append", "incremental.append", "incremental.DedupIndex.append")
