"""SimHash operator tests."""

import pyspark.sql.functions as F

from fastqdedup_spark.functions.simhash import (
    hamming64,
    simhash64,
    simhash_batch,
    simhash_near_dup_pairs,
)


def test_simhash_near_dup_properties():
    base = "the quick brown fox jumps over the lazy dog " * 20
    near = base.replace("lazy", "sleepy")
    far = "completely different words in this unrelated document " * 20
    import numpy as np
    sigs = simhash_batch([base, near, far, base])
    assert sigs[0] == sigs[3]
    d_near = bin(int(sigs[0]) ^ int(sigs[1]) & 0xFFFFFFFFFFFFFFFF).count("1")
    d_far = bin((int(sigs[0]) ^ int(sigs[2])) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert d_near < d_far


def test_simhash_pair_finder(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    words = [f"word{i}" for i in range(200)]
    base = " ".join(rng.choice(words, 400))
    near = base.replace(" word5 ", " swapped5 ")  # tiny relative edit
    rows = [
        (0, base),
        (1, near),
        (2, "unrelated content entirely " * 40),
        (3, base),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_near_dup_pairs(df, max_hamming=6).collect()
    }
    assert (0, 3) in pairs and (0, 1) in pairs and (1, 3) in pairs
    assert not any(2 in p for p in pairs)


def test_hamming64_expr(spark):
    df = spark.createDataFrame([(0b1011, 0b0011)], "a long, b long")
    assert df.select(hamming64("a", "b")).collect()[0][0] == 1


def test_simhash_band_join_hint_reaches_the_plan(spark):
    """The band-join hint is caller-reachable (memory-bound deployments
    need '' or 'merge': a shuffled hash join throws instead of spilling
    when its build side outgrows per-task execution memory) and must
    not change the pair set."""
    docs = spark.createDataFrame(
        [(i, f"token{i % 4} alpha beta gamma delta {i % 7}") for i in range(40)],
        "id long, text string",
    )
    base = simhash_near_dup_pairs(docs, max_hamming=3)
    merged = simhash_near_dup_pairs(docs, max_hamming=3, band_join_hint="merge")
    k = lambda df: sorted((r["id_a"], r["id_b"]) for r in df.collect())
    assert k(base) == k(merged)
