"""Stage checkpointing + metrics lineage (SURVEY.md M8).

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Every pipeline stage can be materialized to
`<checkpoint_dir>/<config_hash>/<stage>` as parquet with Spark's
`_SUCCESS` marker as the completion sentinel; a rerun with the same
config hash reads the stage back instead of recomputing (idempotent
resume — kill at stage k, rerun, byte-identical outputs). A production
deployment would target Iceberg tables; the Iceberg runtime jars are
not in this image, so the same keyed-stage contract is implemented on
parquet (swap `_write`/`_read` to `writeTo(...)` when the catalog
exists).

Metrics: each stage appends rows (stage, metric, value) — the analog of
the reference's trie stats / per-stage timing
(/root/reference/src/fastqdedup/__init__.py:133-157, 410-412).

Lineage: every materialized stage also persists a per-partition-file
fingerprint table (`<base>/_lineage/<stage>`: file, rows, xor/sum-folded
xxhash64 of all hashable columns). A resume recomputes the fingerprints
from the stage it is about to trust and fails loudly on mismatch —
"resumes idempotently" is verified, not assumed: a half-overwritten or
bit-rotted stage cannot silently flow downstream past the _SUCCESS
marker.
"""

from __future__ import annotations

import os
import time
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from fastqdedup_spark.config import DedupConfig


class MetricsCollector:
    """(stage, metric, value) rows. Counts ride jobs that already run:
    `observe` attaches them to a plan via Dataset.observe, and they are
    read once that plan has been materialized."""

    def __init__(self) -> None:
        self.rows: list[tuple[str, str, float]] = []
        self._pending: list[tuple[Observation, dict[str, str]]] = []

    def add(self, stage: str, metric: str, value: float) -> None:
        self.rows.append((stage, metric, float(value)))

    def observe(self, df: DataFrame, metrics: dict[str, Column]) -> DataFrame:
        """`df` with `metrics` ("stage.metric" -> aggregate Column)
        computed by whatever action materializes it: zero extra Spark
        jobs. The values land in this collector when metrics are next
        read, so the returned DataFrame MUST be materialized first —
        Observation.get, the only public way to read an observation,
        blocks until the observed plan has run. StageCheckpointer.stage
        keeps that contract for observations made while building a
        stage: it reads them right after materializing the stage and
        discards them when the stage fuses into its consumer. A resumed
        stage never builds, so nothing is observed; its persisted
        _metrics stand in."""
        obs = Observation()
        names = {f"m{i}": key for i, key in enumerate(metrics)}
        cols = [c.alias(a) for a, c in zip(names, metrics.values())]
        self._pending.append((obs, names))
        return df.observe(obs, *cols)

    def _settle(self, since: int = 0) -> None:
        """Read the observations registered since mark `since` (their
        plans have been materialized) into rows."""
        for obs, names in self._pending[since:]:
            got = obs.get
            for alias, key in names.items():
                if got[alias] is not None:
                    stage, metric = key.split(".", 1)
                    self.add(stage, metric, got[alias])
        del self._pending[since:]

    def as_dict(self) -> dict:
        self._settle()
        return {f"{s}.{m}": v for s, m, v in self.rows}


class StageCheckpointer:
    """Keys every materialized stage by (config_hash, stage_name)."""

    def __init__(self, spark: SparkSession, cfg: DedupConfig) -> None:
        self.spark = spark
        self.cfg = cfg
        self.base = (
            os.path.join(cfg.checkpoint_dir, cfg.config_hash())
            if cfg.checkpoint_dir
            else ""
        )
        self.metrics = MetricsCollector()
        self._persisted: dict[str, list[tuple[str, float]]] | None = None

    def _path(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.base, "_lineage", stage)

    def _success_exists(self, path: str) -> bool:
        """_SUCCESS check that works for REMOTE checkpoint dirs too: a
        driver-local os.path.exists is always False for hdfs://s3a://
        paths, which silently disabled resume (and lineage verify)
        while still paying every stage write — the north rule's
        "resumable" claim void on exactly the deployments that need
        it. Local paths keep the cheap os.stat."""
        marker = os.path.join(path, "_SUCCESS")
        if "://" not in path or path.startswith("file://"):
            local = marker[len("file://"):] if marker.startswith("file://") else marker
            return os.path.exists(local)
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(marker)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def _lineage_rows(self, df: DataFrame) -> list[tuple[str, int, int, int]]:
        """Per-partition-file lineage of a materialized stage: for each
        parquet part file, (file, rows, xor- and sum-folded xxhash64 of
        every hashable column). Order-insensitive multiset fingerprint:
        XOR alone cancels duplicate rows, the wrapping SUM does not, so
        the pair catches dropped/extra/bit-flipped rows that the
        _SUCCESS marker and row counts cannot. One aggregation job over
        the stage (map-side combine, one row out per file)."""
        hashable = [
            c for c in df.columns
            if "map<" not in df.schema[c].dataType.simpleString()
        ]
        h = F.xxhash64(*hashable) if hashable else F.lit(0).cast("long")
        # the SUM fold is pmod-bounded so it cannot overflow int64 under
        # ANSI mode (2^31 max per row -> safe past 4B rows per file)
        agg = (
            df.groupBy(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file")
            )
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.bit_xor(h).alias("xor_fp"),
                F.sum(F.pmod(h, F.lit(2147483647))).alias("sum_fp"),
            )
            .collect()
        )
        return sorted(
            (r["file"], r["rows"], r["xor_fp"] or 0, r["sum_fp"] or 0) for r in agg
        )

    def _write_lineage(self, stage: str, df: DataFrame) -> None:
        rows = self._lineage_rows(df)
        self.spark.createDataFrame(
            rows, "file string, rows long, xor_fp long, sum_fp long"
        ).coalesce(1).write.mode("overwrite").parquet(self._lineage_path(stage))
        self.metrics.add(stage, "lineage_files", len(rows))

    def _verify_lineage(self, stage: str, df: DataFrame) -> None:
        """On resume, recompute the per-file fingerprints and compare to
        the ones persisted at write time — a partial overwrite or
        corrupted part file fails loudly instead of flowing downstream.
        Checkpoints from before lineage existed just skip (metric 0)."""
        lpath = self._lineage_path(stage)
        if not self.cfg.lineage or not self._success_exists(lpath):
            self.metrics.add(stage, "lineage_verified", 0)
            return
        stored = sorted(
            (r["file"], r["rows"], r["xor_fp"], r["sum_fp"])
            for r in self.spark.read.parquet(lpath).collect()
        )
        current = self._lineage_rows(df)
        if stored != current:
            raise RuntimeError(
                f"checkpoint lineage mismatch for stage {stage!r} at "
                f"{self._path(stage)}: persisted {len(stored)} file "
                f"fingerprints, recomputed {len(current)} "
                f"(first diff: {next((a, b) for a, b in zip(stored, current) if a != b) if len(stored) == len(current) else 'file-set changed'}). "
                f"Delete the stage directory to rebuild."
            )
        self.metrics.add(stage, "lineage_verified", 1)

    def read_lineage(self, stage: str) -> DataFrame | None:
        lpath = self._lineage_path(stage)
        if not self._success_exists(lpath):
            return None
        return self.spark.read.parquet(lpath)

    def _persisted_stage_metrics(self, stage: str) -> list[tuple[str, float]]:
        """Metrics persisted by a PREVIOUS run's write_metrics. Observed
        counters (MetricsCollector.observe) never fire on a resumed
        stage — the observed plan is replaced by a parquet scan — so
        without this reload the CLI's fallback-cluster warning and
        output count would be silently absent on resumed runs. Loaded
        once per checkpointer; absent/partial _metrics (run killed
        before write_metrics) just yields nothing."""
        if self._persisted is None:
            self._persisted = {}
            mpath = os.path.join(self.base, "_metrics")
            if self.base and self._success_exists(mpath):
                try:
                    for r in self.spark.read.parquet(mpath).collect():
                        self._persisted.setdefault(r["stage"], []).append(
                            (r["metric"], r["value"])
                        )
                except Exception:
                    pass
        return self._persisted.get(stage, [])

    def has(self, stage: str) -> bool:
        return bool(self.base) and self._success_exists(self._path(stage))

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        fuse: bool = False,
        reload_metrics: tuple[str, ...] = (),
    ) -> DataFrame:
        """Build-or-load. Materialized by default: parquet when a
        checkpoint dir is configured (durable resume), eager
        localCheckpoint otherwise (plan truncation + reuse — without
        this, every downstream action recomputes the whole upstream
        DAG). `fuse=True` marks a stage consumed by exactly ONE
        downstream stage: with no durable dir it stays lazy and fuses
        into its consumer (one fewer pipeline barrier); with a durable
        dir it still persists for resume.

        Observations made during build() (MetricsCollector.observe) are
        read right after the stage materializes; a fused stage's are
        discarded unread, since its plan has not run yet."""
        t0 = time.monotonic()
        if self.has(name):
            df = self.spark.read.parquet(self._path(name))
            self.metrics.add(name, "resumed", 1)
            self._verify_lineage(name, df)
            # `reload_metrics` names metric-stages whose counters were
            # observed while BUILDING this stage (e.g. "dissect" rides
            # the "survivors" build) — they never fire on resume.
            # seconds/resumed/lineage_verified are re-emitted fresh by
            # every resumed run — re-adding their persisted copies too
            # would grow one duplicate row per resume GENERATION (run N
            # persists N copies of lineage_verified, run N+1 reloads
            # them all and adds its own)
            for mstage in (name, *reload_metrics):
                for metric, value in self._persisted_stage_metrics(mstage):
                    if metric not in ("seconds", "resumed", "lineage_verified"):
                        self.metrics.add(mstage, metric, value)
            # this run's cost of the stage is the load (+ lineage
            # verify) time — emitted fresh so per-stage timings survive
            # resume chains (the reload filter above excludes the
            # persisted copy; without this add, `seconds` silently
            # vanished from _metrics after the first resume)
            self.metrics.add(name, "seconds", time.monotonic() - t0)
            return df
        mark = len(self.metrics._pending)
        df = build()
        if self.base:
            df.write.mode("overwrite").parquet(self._path(name))
            df = self.spark.read.parquet(self._path(name))
        elif not fuse:
            df = df.localCheckpoint(eager=True)
        else:
            del self.metrics._pending[mark:]
        self.metrics._settle(mark)
        if self.base and self.cfg.lineage:
            self._write_lineage(name, df)
        self.metrics.add(name, "seconds", time.monotonic() - t0)
        return df

    def counted_stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        counts: dict[str, Column],
        **stage_kwargs,
    ) -> tuple[DataFrame, dict[str, float]]:
        """stage() plus `counts` ("stage.metric" -> aggregate Column)
        over its rows. A fresh build observes them (zero extra jobs); a
        resumed stage takes them from the persisted _metrics, else (the
        previous run died before write_metrics) from one aggregation
        over the resumed stage. Either way the same counts are reported."""
        df = self.stage(name, lambda: self.metrics.observe(build(), counts), **stage_kwargs)
        got = self.metrics.as_dict()
        missing = []
        for key in counts:
            if key in got:
                continue
            stage, metric = key.split(".", 1)
            persisted = dict(self._persisted_stage_metrics(stage))
            if metric in persisted:
                self.metrics.add(stage, metric, persisted[metric])
            else:
                missing.append(key)
        if missing:
            row = df.agg(
                *[counts[k].alias(f"m{i}") for i, k in enumerate(missing)]
            ).collect()[0]
            for i, key in enumerate(missing):
                self.metrics.add(*key.split(".", 1), row[f"m{i}"])
        got = self.metrics.as_dict()
        return df, {k: got[k] for k in counts}

    def write_metrics(self) -> None:
        if self.base:
            # last-wins per (stage, metric): a resumed run holds both
            # the reloaded copy and any freshly recomputed one of the
            # same counter — persisting the raw list would compound
            # duplicates across resume chains
            rows = [
                (*key.split(".", 1), value)
                for key, value in self.metrics.as_dict().items()
            ]
            self.spark.createDataFrame(
                rows, "stage string, metric string, value double"
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.base, "_metrics")
            )
