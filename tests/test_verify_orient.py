"""Cluster-oriented (hash-min) verify partitioning changes the
partitioning KEY only: the verified pair set and jaccard values must be
byte-identical to the legacy (id_a, salt-4) layout, including when a key
crosses the verify_pairs_per_key salt budget.

Orientation is AUTO: it engages when the caller passes a known row
count that the Arrow-task size rule calls long. The tests reach the
oriented side with python_stage_min_rows_per_task=1 plus a known
approx_rows, and the legacy side with approx_rows=None."""

import pyspark.sql.functions as F
import pytest

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.operators.verify import verify_pairs_jaccard


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, content_norm string")


@pytest.fixture(scope="module")
def hub_corpus(spark):
    base = "def handler(request): return process(request.payload, retries=3) # "
    docs = [(0, base + "hub canonical version of the shared utility body")]
    # 40 near-identical spokes of the hub + 10 unrelated docs
    for i in range(1, 41):
        docs.append((i, base + f"hub canonical version of the shared utility body v{i % 3}"))
    for i in range(100, 110):
        docs.append((i, f"completely unrelated document number {i} with its own words {i * 7}"))
    return _mk(spark, docs)


def _pairs(spark, ids):
    rows = [(a, b) for a in ids for b in ids if a < b]
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _verify(spark, corpus, pairs, orient: bool, hot_degree: int = 4096):
    cfg = DedupConfig(
        shingle_k=5, jaccard_threshold=0.5,
        verify_pairs_per_key=hot_degree, python_stage_min_rows_per_task=1,
    )
    out = verify_pairs_jaccard(
        pairs, corpus, cfg,
        id_col="id", content_col="content_norm",
        # one row per full-width task is "long" at min_rows_per_task=1
        approx_rows=spark.sparkContext.defaultParallelism if orient else None,
    )
    # the hash-min key exists only on the oriented plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert ("_key" in plan) == orient, plan
    return out


def _run(spark, corpus, orient: bool, hot_degree: int = 4096):
    ids = [r.id for r in corpus.select("id").collect()]
    out = _verify(spark, corpus, _pairs(spark, ids), orient, hot_degree)
    return sorted(
        (r.id_a, r.id_b, round(r.jaccard, 12)) for r in out.collect()
    )


def test_orient_matches_legacy(spark, hub_corpus):
    legacy = _run(spark, hub_corpus, orient=False, hot_degree=4096)
    oriented = _run(spark, hub_corpus, orient=True, hot_degree=4096)
    assert oriented == legacy
    assert len(oriented) > 40  # the hub clique actually verified


def test_orient_mega_key_salted_same_result(spark, hub_corpus):
    # the all-pairs candidate set puts ~1.2k pairs on one hash-min key;
    # a budget of 10 forces the size-aware id_a salt for every pair
    legacy = _run(spark, hub_corpus, orient=False, hot_degree=10)
    salted = _run(spark, hub_corpus, orient=True, hot_degree=10)
    assert salted == legacy


def test_orient_empty_pairs(spark):
    corpus = _mk(spark, [(1, "alpha beta"), (2, "gamma delta")])
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert _verify(spark, corpus, pairs, orient=True).count() == 0


def test_mega_key_salt_varies_on_star_hubs(spark):
    """The oversized-key subtask salt must vary across a STAR's pairs:
    band candidates are not transitive, so a boilerplate hub whose nid
    is the component minimum stores every pair as (id_a=hub, id_b=leaf)
    — a salt hashed from id_a alone is constant there and the split
    collapses back into one straggler task."""
    import pyspark.sql.functions as F

    from fastqdedup_spark.operators.verify import mega_key_salt

    star = spark.range(200).select(
        F.lit("hub").alias("id_a"),
        F.concat(F.lit("leaf"), F.col("id")).alias("id_b"),
        F.lit(200).cast("long").alias("_kcnt"),
    )
    salts = star.select(mega_key_salt(16).alias("s"))
    n = salts.distinct().count()
    # ceil(200/16) = 13 granules; hashing (id_a, id_b) should hit most
    assert n >= 8, f"star salt collapsed to {n} granule(s)"
    # under-budget keys stay unsalted (no pointless spread)
    small = star.withColumn("_kcnt", F.lit(8).cast("long"))
    assert small.select(mega_key_salt(16).alias("s")).distinct().count() == 1
