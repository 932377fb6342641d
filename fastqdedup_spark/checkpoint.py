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

Metrics are rows (stage, metric, value), the analog of the reference's
trie stats and per-stage timing (fastqdedup/__init__.py:133-157,
410-412). One record per durable stage (`<base>/_lineage/<stage>`, one
row) holds the per-partition-file fingerprints (file, rows, xor/sum-
folded xxhash64 of all hashable columns) and every metric the stage's
build produced (its observations and its `metrics.add` calls). Every
resume recomputes the fingerprints from the stage it is about to trust and fails loudly
on mismatch — "resumes idempotently" is verified, not assumed: a
half-overwritten or bit-rotted stage cannot silently flow downstream
past the _SUCCESS marker. The same read restores the build's metrics,
so a resumed stage reports what its build observed. A stage counts as
complete only once its record has landed too, so a run killed between
the stage write and the record write rebuilds that stage instead of
resuming it unverified or without its counts. The run-level `_metrics`
table (write_metrics) is the run's report; no resume reads it.
"""

from __future__ import annotations

import os
import time
from typing import Callable

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.session import driver_table
from fastqdedup_spark.sources import listing

_FILE_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("rows", T.LongType()),
    T.StructField("xor_fp", T.LongType()),
    T.StructField("sum_fp", T.LongType()),
])
_RECORD_SCHEMA = T.StructType([
    T.StructField("files", T.ArrayType(_FILE_SCHEMA)),
    T.StructField("metrics", T.MapType(T.StringType(), T.DoubleType())),
])
_METRICS_SCHEMA = T.StructType([
    T.StructField("stage", T.StringType()),
    T.StructField("metric", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


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
        stage never builds, so nothing is observed; the values its
        build observed come back from the stage's record."""
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
        self.base = (
            os.path.join(cfg.checkpoint_dir, cfg.config_hash())
            if cfg.checkpoint_dir
            else ""
        )
        self.metrics = MetricsCollector()

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
        it. Local paths keep the cheap os.stat; a remote marker is
        looked up with the public binaryFile listing (no job)."""
        marker = os.path.join(path, "_SUCCESS")
        if "://" not in path or path.startswith("file://"):
            local = marker[len("file://"):] if marker.startswith("file://") else marker
            return os.path.exists(local)
        return listing(self.spark, marker) is not None

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

    def _write_lineage(self, stage: str, df: DataFrame, since: int) -> None:
        """The stage's record: its file fingerprints and the metric rows
        added since `since` (its build's, and lineage_files)."""
        files = self._lineage_rows(df)
        self.metrics.add(stage, "lineage_files", len(files))
        metrics = {f"{s}.{m}": v for s, m, v in self.metrics.rows[since:]}
        record = driver_table(self.spark, _RECORD_SCHEMA, [
            [[dict(zip(_FILE_SCHEMA.names, f)) for f in files]],
            [list(metrics.items())],
        ])
        record.coalesce(1).write.mode("overwrite").parquet(self._lineage_path(stage))

    def _verify_lineage(self, stage: str, df: DataFrame) -> None:
        """On resume, recompute the per-file fingerprints and compare to
        the ones in the stage's record — a partial overwrite or
        corrupted part file fails loudly instead of flowing downstream —
        then restore the metrics the build recorded. has() already
        required the record's _SUCCESS marker."""
        (record,) = (
            self.spark.read.schema(_RECORD_SCHEMA)
            .parquet(self._lineage_path(stage))
            .collect()
        )
        stored = sorted(tuple(f) for f in record["files"])
        current = self._lineage_rows(df)
        if stored != current:
            raise RuntimeError(
                f"checkpoint lineage mismatch for stage {stage!r} at "
                f"{self._path(stage)}: persisted {len(stored)} file "
                f"fingerprints, recomputed {len(current)} "
                f"(first diff: {next((a, b) for a, b in zip(stored, current) if a != b) if len(stored) == len(current) else 'file-set changed'}). "
                f"Delete the stage directory to rebuild."
            )
        for key, value in record["metrics"].items():
            self.metrics.add(*key.split(".", 1), value)
        self.metrics.add(stage, "lineage_verified", 1)

    def has(self, stage: str) -> bool:
        """A durable stage is complete once its record has landed: the
        stage's own _SUCCESS comes first, and a run killed before the
        record write left a stage no resume could verify or count, so
        it is rebuilt."""
        return (
            bool(self.base)
            and self._success_exists(self._path(stage))
            and self._success_exists(self._lineage_path(stage))
        )

    def stage(
        self, name: str, build: Callable[[], DataFrame], fuse: bool = False
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
        discarded unread, since its plan has not run yet. A durable
        stage's record keeps them, with the build's other metrics, for
        its resumes. `seconds` is this run's cost of the stage (on
        resume: the load and the lineage verify)."""
        t0 = time.monotonic()
        if self.has(name):
            df = self.spark.read.parquet(self._path(name))
            self.metrics.add(name, "resumed", 1)
            self._verify_lineage(name, df)
            self.metrics.add(name, "seconds", time.monotonic() - t0)
            return df
        mark, since = len(self.metrics._pending), len(self.metrics.rows)
        df = build()
        if self.base:
            df.write.mode("overwrite").parquet(self._path(name))
            # the written schema, not an inference job over the files
            df = self.spark.read.schema(df.schema).parquet(self._path(name))
        elif not fuse:
            df = df.localCheckpoint(eager=True)
        else:
            del self.metrics._pending[mark:]
        self.metrics._settle(mark)
        if self.base:
            self._write_lineage(name, df, since)
        self.metrics.add(name, "seconds", time.monotonic() - t0)
        return df

    def counted_stage(
        self, name: str, build: Callable[[], DataFrame], counts: dict[str, Column]
    ) -> tuple[DataFrame, dict[str, float]]:
        """stage() over a build that observes `counts` ("stage.metric"
        -> aggregate Column over its rows, zero extra jobs), and those
        counts: observed by a fresh build, restored from the record by a
        resume."""
        df = self.stage(name, lambda: self.metrics.observe(build(), counts))
        got = self.metrics.as_dict()
        return df, {k: got[k] for k in counts}

    def write_metrics(self) -> None:
        if self.base:
            # last-wins per (stage, metric), one row each
            rows = [
                (*key.split(".", 1), value)
                for key, value in self.metrics.as_dict().items()
            ]
            table = driver_table(self.spark, _METRICS_SCHEMA, list(zip(*rows)))
            table.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.base, "_metrics")
            )
