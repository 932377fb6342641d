"""Per-partition lineage on stage checkpoints (north_rule: "resumable
from checkpoint with per-partition lineage + metrics ... resumes
idempotently"). Each durable stage's record pins each parquet part
file's row count and content fingerprint at write time, with the
metrics its build produced; a resume re-derives the fingerprints from
the bytes it is about to trust and restores the metrics."""

import pyspark.sql.functions as F
import pytest

from fastqdedup_spark.checkpoint import StageCheckpointer
from fastqdedup_spark.config import DedupConfig


def _ck(spark, tmp_path):
    return StageCheckpointer(
        spark, DedupConfig(checkpoint_dir=str(tmp_path / "ck"))
    )


def _record(spark, ck, stage):
    return spark.read.parquet(ck._lineage_path(stage))


def _files(spark, ck, stage):
    return _record(spark, ck, stage).select(F.inline("files")).collect()


def test_lineage_written_and_verified_on_resume(spark, tmp_path):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("row-"), F.col("id")).alias("content"),
    )
    ck1 = _ck(spark, tmp_path)
    out1 = ck1.stage("stage_a", lambda: df.repartition(4))
    lrows = _files(spark, ck1, "stage_a")
    assert sum(r["rows"] for r in lrows) == 1000
    assert len(lrows) == len({r["file"] for r in lrows})  # one row per part
    assert ck1.metrics.as_dict()["stage_a.lineage_files"] == len(lrows)

    ck2 = _ck(spark, tmp_path)
    out2 = ck2.stage("stage_a", lambda: (_ for _ in ()).throw(AssertionError))
    assert out2.count() == out1.count()
    m = ck2.metrics.as_dict()
    assert m["stage_a.resumed"] == 1
    assert m["stage_a.lineage_verified"] == 1


def test_lineage_mismatch_fails_loudly(spark, tmp_path):
    """A stage directory whose bytes no longer match the lineage written
    with it (half-overwritten run, manual tampering) must refuse to
    resume instead of flowing stale data downstream."""
    ck1 = _ck(spark, tmp_path)
    ck1.stage("stage_b", lambda: spark.range(0, 100).repartition(2))
    # overwrite the stage data bypassing the checkpointer: _SUCCESS is
    # present and valid parquet, but the lineage fingerprints are stale
    spark.range(500, 600).repartition(2).write.mode("overwrite").parquet(
        ck1._path("stage_b")
    )
    ck2 = _ck(spark, tmp_path)
    with pytest.raises(RuntimeError, match="lineage mismatch"):
        ck2.stage("stage_b", lambda: spark.range(0, 100))


def test_stage_without_lineage_is_rebuilt(spark, tmp_path):
    """A run killed after a stage's _SUCCESS landed but before its
    lineage did leaves a stage no resume can verify: the rerun rebuilds
    it (no `resumed` metric) and writes the lineage it was missing,
    instead of resuming it unverified forever."""
    import shutil

    ck1 = _ck(spark, tmp_path)
    ck1.stage("stage_c", lambda: spark.range(0, 50))
    shutil.rmtree(ck1._lineage_path("stage_c"))
    ck2 = _ck(spark, tmp_path)
    built = []

    def build():
        built.append(1)
        return spark.range(0, 50)

    out = ck2.stage("stage_c", build)
    assert out.count() == 50
    assert built == [1]
    m = ck2.metrics.as_dict()
    assert "stage_c.resumed" not in m
    assert sum(r["rows"] for r in _files(spark, ck2, "stage_c")) == 50
    # and the next run resumes the rebuilt stage, verified
    ck3 = _ck(spark, tmp_path)
    ck3.stage("stage_c", lambda: (_ for _ in ()).throw(AssertionError))
    m = ck3.metrics.as_dict()
    assert m["stage_c.resumed"] == 1 and m["stage_c.lineage_verified"] == 1


def test_persisted_metrics_stable_across_resume_chain(spark, tmp_path):
    """A counter added inside build() lands in the stage's record and
    comes back on every resume: three resume generations each report
    it, and their persisted _metrics tables keep one row per (stage,
    metric) and the same row count."""
    import os

    df = spark.range(0, 50).withColumn("v", F.col("id") * 2)
    ck1 = _ck(spark, tmp_path)

    def build():
        ck1.metrics.add("stage_m", "custom_counter", 7)
        return df.repartition(2)

    ck1.stage("stage_m", build)
    ck1.write_metrics()

    counts = []
    for _ in range(3):
        ck = _ck(spark, tmp_path)
        ck.stage("stage_m", lambda: (_ for _ in ()).throw(AssertionError))
        assert ck.metrics.as_dict()["stage_m.custom_counter"] == 7
        assert sum(m == "custom_counter" for _, m, _ in ck.metrics.rows) == 1
        ck.write_metrics()
        rows = spark.read.parquet(os.path.join(ck.base, "_metrics")).collect()
        keys = [(r["stage"], r["metric"]) for r in rows]
        assert len(keys) == len(set(keys)), keys  # no duplicate counters
        counts.append(len(keys))
        assert ("stage_m", "custom_counter") in keys
    assert counts[0] == counts[1] == counts[2]


def test_resumed_stage_reemits_seconds(spark, tmp_path):
    """Per-stage timings must survive resume chains: a resumed stage
    emits THIS run's load time, and the persisted _metrics keep exactly
    one seconds row per stage."""
    import os

    df = spark.range(0, 100).select("id")
    ck1 = _ck(spark, tmp_path)
    ck1.stage("stage_t", lambda: df)
    assert "stage_t.seconds" in ck1.metrics.as_dict()
    ck1.write_metrics()
    ck2 = _ck(spark, tmp_path)
    ck2.stage("stage_t", lambda: df)
    m = ck2.metrics.as_dict()
    assert m.get("stage_t.resumed") == 1
    assert "stage_t.seconds" in m  # fresh load-time, not the old copy
    ck2.write_metrics()
    rows = [
        r for r in spark.read.parquet(os.path.join(ck2.base, "_metrics")).collect()
        if (r["stage"], r["metric"]) == ("stage_t", "seconds")
    ]
    assert len(rows) == 1


def test_empty_stage_writes_typed_empty_lineage_and_resumes(spark, tmp_path):
    """A durable stage with no rows (the seed build's `pairs` and
    `edges` on a corpus without near-duplicates) persists a record of
    the exact record schema with no file fingerprints, and its resume
    verifies against it."""
    empty = spark.range(0).select(
        F.col("id").alias("id_a"), F.col("id").alias("id_b")
    )
    ck1 = _ck(spark, tmp_path)
    assert ck1.stage("stage_e", lambda: empty).count() == 0
    rec = _record(spark, ck1, "stage_e")
    assert rec.schema.simpleString() == (
        "struct<files:array<struct<file:string,rows:bigint,xor_fp:bigint,"
        "sum_fp:bigint>>,metrics:map<string,double>>"
    )
    ((files, metrics),) = rec.collect()
    assert files == [] and metrics == {"stage_e.lineage_files": 0.0}
    assert ck1.metrics.as_dict()["stage_e.lineage_files"] == 0

    ck2 = _ck(spark, tmp_path)
    out = ck2.stage("stage_e", lambda: (_ for _ in ()).throw(AssertionError))
    assert out.count() == 0
    m = ck2.metrics.as_dict()
    assert m["stage_e.resumed"] == 1
    assert m["stage_e.lineage_verified"] == 1


def test_write_metrics_round_trips(spark, tmp_path):
    """write_metrics persists every (stage, metric, value) of the run,
    one row each."""
    import os

    ck1 = _ck(spark, tmp_path)
    ck1.metrics.add("stage_r", "files", 3)
    ck1.metrics.add("stage_r", "ratio", 0.25)
    ck1.metrics.add("other", "n", 0)
    ck1.write_metrics()
    rows = spark.read.parquet(os.path.join(ck1.base, "_metrics")).collect()
    assert sorted(tuple(r) for r in rows) == [
        ("other", "n", 0.0), ("stage_r", "files", 3.0), ("stage_r", "ratio", 0.25),
    ]


def test_unreadable_persisted_metrics_fail_loudly(spark, tmp_path):
    """A stage record whose _SUCCESS marker exists but whose part file
    is garbage must stop the resume: reading on without it would resume
    the stage unverified and drop the counters its build observed (and
    with dissect.*, the CLI's fallback-cluster warning)."""
    import glob
    import os

    ck1 = _ck(spark, tmp_path)

    def build():
        ck1.metrics.add("dissect", "fallback_clusters", 1)
        return spark.range(0, 20)

    ck1.stage("stage_g", build)
    parts = glob.glob(os.path.join(ck1._lineage_path("stage_g"), "part-*"))
    assert parts
    for p in parts:
        with open(p, "wb") as f:
            f.write(b"not a parquet file")
    ck2 = _ck(spark, tmp_path)
    with pytest.raises(Exception, match="(?i)parquet"):
        ck2.stage("stage_g", lambda: spark.range(0, 20))
    assert "dissect.fallback_clusters" not in ck2.metrics.as_dict()
