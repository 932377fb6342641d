"""Connected-components operator tests — including the deep-chain case
a plain O(diameter) hash-min would silently mislabel under the
iteration cap."""

import pyspark.sql.functions as F

from fastqdedup_spark.operators.connected_components import (
    _driver_union_find,
    connected_components,
)


def _labels(df):
    return {r.id: r.cluster_id for r in df.collect()}


def test_path_graph_converges_in_log_rounds(spark):
    """300-node path: diameter 299 >> the 50-round cap. Pointer doubling
    must still converge, in O(log n) rounds, to one component."""
    n = 300
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)], "id_a string, id_b string"
    )
    labels, rounds = connected_components(edges, max_iterations=50, driver_max_edges=0)
    got = _labels(labels)
    assert len(got) == n
    assert set(got.values()) == {"n0000"}
    assert rounds <= 12, f"expected O(log n) rounds, took {rounds}"


def test_disjoint_components_and_determinism(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "y"), ("p", "q")],
        "id_a string, id_b string",
    )
    labels, _ = connected_components(edges, driver_max_edges=0)
    got = _labels(labels)
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "x": "x", "y": "x", "z": "x",
        "p": "p", "q": "p",
    }


def test_cc_resumes_from_last_completed_round(spark, tmp_path):
    """VERDICT r1 #5 (north_rule: every stage resumes idempotently):
    a CC killed at round k must resume at round k+1, not round 1, and
    the resumed result must equal an uninterrupted run."""
    from fastqdedup_spark.checkpoint import StageCheckpointer
    from fastqdedup_spark.config import DedupConfig

    n = 120
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)],
        "id_a string, id_b string",
    )
    cfg = DedupConfig(checkpoint_dir=str(tmp_path / "ck"))
    # "kill at round 2": run with an iteration cap of 2 (partial labels)
    ck1 = StageCheckpointer(spark, cfg)
    _, r1 = connected_components(edges, max_iterations=2, checkpointer=ck1, driver_max_edges=0)
    assert r1 == 2 and ck1.has("cc_round_002")
    # resume: rounds 1-2 load from disk, later rounds compute fresh
    ck2 = StageCheckpointer(spark, cfg)
    labels, rounds = connected_components(edges, max_iterations=50, checkpointer=ck2, driver_max_edges=0)
    resumed = [k for k, v in ck2.metrics.as_dict().items() if k.endswith("resumed")]
    assert "cc_round_001.resumed" in resumed and "cc_round_002.resumed" in resumed
    assert rounds > 2
    got = _labels(labels)
    # equals the uninterrupted (non-durable) run
    fresh = _labels(connected_components(edges, max_iterations=50, driver_max_edges=0)[0])
    assert got == fresh
    assert set(got.values()) == {"n0000"}


def test_star_graph_one_round_ish(spark):
    edges = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(50)], "id_a string, id_b string"
    )
    labels, rounds = connected_components(edges, driver_max_edges=0)
    got = _labels(labels)
    assert set(got.values()) == {"hub"}
    assert rounds <= 3


def test_driver_fast_path_equals_distributed(spark):
    """Small graphs run exact union-find on the driver (rounds == 0);
    labels must equal the distributed loop's."""
    import random

    rng = random.Random(5)
    edges = spark.createDataFrame(
        [(f"v{rng.randrange(400):03d}", f"v{rng.randrange(400):03d}") for _ in range(300)],
        "id_a string, id_b string",
    ).filter("id_a != id_b")
    fast, r0 = connected_components(edges)
    slow, _ = connected_components(edges, driver_max_edges=0)
    assert r0 == 0
    assert _labels(fast) == _labels(slow)


def test_driver_union_find_no_edges(spark):
    """Zero edges (a corpus without near-duplicates) label nothing: an
    empty table whose columns keep the edge id type."""
    for id_type in ("bigint", "string"):
        sym = spark.range(0).select(
            F.col("id").cast(id_type).alias("src"),
            F.col("id").cast(id_type).alias("dst"),
        )
        labels = _driver_union_find(sym)
        assert labels.schema.simpleString() == (
            f"struct<id:{id_type},cluster_id:{id_type}>"
        )
        assert labels.count() == 0
