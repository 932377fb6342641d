"""Code-domain dissection: directional/adjacency with the Jaccard
predicate over normalized content (O10/O11 re-grounded)."""

import pyspark.sql.functions as F
import pytest

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.corpus import generate_files
from fastqdedup_spark.oracle import (
    cluster_dissection_directional,
    jaccard_within,
)
from fastqdedup_spark.incremental import dedup_files


def test_jaccard_within_kernel():
    a = "the quick brown fox jumps over the lazy dog " * 5
    b = a.replace("lazy", "hazy")
    c = "totally different text about something else entirely " * 5
    w = jaccard_within(0.5, 7)
    assert w(a, b) and not w(a, c) and w("", "")


def test_directional_with_cmp_indirection():
    """Keys are opaque ids; the predicate sees the cmp strings."""
    texts = {
        "s1": "alpha beta gamma delta " * 10,
        "s2": "alpha beta gamma delta " * 10 + "epsilon",
        "s3": "unrelated words entirely here " * 10,
    }
    cluster = [(50, "s1"), (1, "s2"), (1, "s3")]
    cmp = [texts[k] for _, k in cluster]
    out = set(
        cluster_dissection_directional(
            cluster, cmp=cmp, within=jaccard_within(0.5, 7)
        )
    )
    # s2 absorbed by s1 (similar + 2*1-1 <= 50); s3 similar to nothing
    assert out == {"s1", "s3"}


@pytest.mark.parametrize("method", ["directional", "adjacency"])
def test_pipeline_code_mode_dissection(spark, method):
    files = generate_files(spark, 160, seed=11).cache()
    cfg = DedupConfig(
        shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.6, dissection=method
    )
    res = dedup_files(spark, files, cfg, quality=False)
    # every cluster yields at least one survivor; survivors' shas exist
    n_clusters = res.clusters.select("cluster_id").distinct().count()
    surv = res.survivors.collect()
    assert len(surv) >= n_clusters
    shas = {r.sha for r in res.clusters.collect()}
    assert all(r.key in shas for r in surv)
    # exact copies never both survive
    assert res.deduped.filter(F.col("kind").isin("base", "exact")).groupBy(
        "family_id"
    ).count().agg(F.max("count")).collect()[0][0] == 1


def test_mega_cluster_falls_back_to_canonical(spark):
    """Clusters above max_cluster_size never reach the O(n^2) Python
    kernels: they fall back to canonical (min key) and the fallback is
    counted in metrics (VERDICT r2 #6)."""
    from fastqdedup_spark.checkpoint import MetricsCollector
    from fastqdedup_spark.operators.dissect import dissect_clusters

    rows = [("c1", f"k{i:03d}", 1) for i in range(50)]          # planted mega-cluster
    rows += [("c2", "AAAA", 5), ("c2", "AAAT", 1)]               # normal directional case
    df = spark.createDataFrame(rows, "cluster_id string, key string, cnt long")
    m = MetricsCollector()
    out = dissect_clusters(
        df, "directional", max_distance=1, max_cluster_size=10, metrics=m
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.cluster_id, []).append(r.key)
    assert got["c1"] == ["k000"]          # canonical fallback: min key only
    assert got["c2"] == ["AAAA"]          # kernel path: 2n-1 absorbs AAAT
    md = m.as_dict()
    assert md["dissect.fallback_clusters"] == 1
    assert md["dissect.max_cluster_size"] == 10


def test_big_byte_cluster_falls_back_to_canonical(spark):
    """Clusters whose summed cmp payload exceeds max_cluster_bytes route
    to the canonical fallback even when the member COUNT is small — the
    collect_list pack would otherwise build a row near Spark's 2 GB
    limits (VERDICT r3 #6)."""
    from fastqdedup_spark.checkpoint import MetricsCollector
    from fastqdedup_spark.operators.dissect import dissect_clusters
    from fastqdedup_spark.oracle import jaccard_within

    fat = "x y z " * 2000  # 12 kB per member
    rows = [("c1", f"k{i}", 1, fat + f" tail{i}") for i in range(4)]
    rows += [("c2", "a1", 2, "alpha beta gamma"), ("c2", "a2", 1, "alpha beta gamma")]
    df = spark.createDataFrame(rows, "cluster_id string, key string, cnt long, cmp string")
    m = MetricsCollector()
    out = dissect_clusters(
        df, "directional", max_cluster_size=100, max_cluster_bytes=20_000,
        within=jaccard_within(0.6, 5), metrics=m,
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.cluster_id, []).append(r.key)
    assert got["c1"] == ["k0"]  # byte fallback: canonical min key
    assert got["c2"] == ["a1"]  # under both bounds: kernel ran
    assert m.as_dict()["dissect.fallback_clusters"] == 1


def test_byte_oversized_singleton_emitted_once(spark):
    """A single-member cluster whose cmp bytes exceed max_cluster_bytes
    must appear exactly once in the survivors (ADVICE r4: it used to
    match BOTH the singles branch and the oversized branch, so the
    final union emitted its survivor row twice) and must not count as a
    fallback (a singleton needs no dissection kernel)."""
    from fastqdedup_spark.checkpoint import MetricsCollector
    from fastqdedup_spark.operators.dissect import dissect_clusters
    from fastqdedup_spark.oracle import jaccard_within

    fat = "x y z " * 2000  # ~12 kB — over the 10 kB byte bound below
    rows = [("c1", "solo", 3, fat)]
    rows += [("c2", "a1", 2, "alpha beta gamma"), ("c2", "a2", 1, "alpha beta gamma")]
    df = spark.createDataFrame(rows, "cluster_id string, key string, cnt long, cmp string")
    m = MetricsCollector()
    out = dissect_clusters(
        df, "directional", max_cluster_size=100, max_cluster_bytes=10_000,
        within=jaccard_within(0.6, 5), metrics=m,
    ).collect()
    got: dict = {}
    for r in out:
        got.setdefault(r.cluster_id, []).append(r.key)
    assert got["c1"] == ["solo"]      # exactly ONE row, not two
    assert got["c2"] == ["a1"]
    assert m.as_dict()["dissect.fallback_clusters"] == 0


def test_dissect_metrics_mode_adds_zero_jobs(spark):
    """The fallback counter rides the sizes aggregation via
    Dataset.observe: metrics mode must schedule NO extra Spark job
    (VERDICT r3 #3 — a mid-plan count() used to run per dissect call)."""
    from fastqdedup_spark.checkpoint import MetricsCollector
    from fastqdedup_spark.operators.dissect import dissect_clusters

    rows = [("c1", "AAAA", 5), ("c1", "AAAT", 1), ("c2", "GGGG", 1)]
    df = spark.createDataFrame(rows, "cluster_id string, key string, cnt long")

    def n_jobs():
        return len(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))

    dissect_clusters(df, "directional", max_distance=1).collect()  # warm lazy inits
    before = n_jobs()
    dissect_clusters(df, "directional", max_distance=1).collect()
    plain = n_jobs() - before
    before = n_jobs()
    dissect_clusters(
        df, "directional", max_distance=1, metrics=MetricsCollector()
    ).collect()
    with_metrics = n_jobs() - before
    # AQE jitters absolute job counts by +-1; the defended property is
    # that metrics mode schedules no ADDITIONAL jobs
    assert with_metrics <= plain
