"""Size-adaptive bucket-pair salting correctness: the salted self-join
must produce exactly the same pair set as a plain self-join, for any
pairs_per_task (granule size), with uniform per-granule work."""

import pyspark.sql.functions as F

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.operators.lsh import _pairs_from_bands


def _band_rows(spark, groups):
    rows = [(f"id{g}_{i}", g * 1000) for g, n in groups for i in range(n)]
    return spark.createDataFrame(rows, "key string, band_hash long")


def test_salted_pairs_equal_plain_pairs(spark):
    # one medium band (150), one small (3), one above the freq cap (500)
    bands = _band_rows(spark, [(1, 150), (2, 3), (3, 500)])
    plain_cfg = DedupConfig(pairs_per_task=10**9, band_freq_cap=200)  # S=1 everywhere
    salted_cfg = DedupConfig(pairs_per_task=500, band_freq_cap=200)   # S=45 for band 1
    plain = _pairs_from_bands(bands, "key", plain_cfg, cap=plain_cfg.band_freq_cap)
    salted = _pairs_from_bands(bands, "key", salted_cfg, cap=salted_cfg.band_freq_cap)
    p = {(r.id_a, r.id_b) for r in plain.collect()}
    q = {(r.id_a, r.id_b) for r in salted.collect()}
    assert p == q
    # band 3 (500 members) above the freq cap: contributes nothing
    assert not any(a.startswith("id3") for a, _ in p)
    # band 1: 150 members -> C(150,2) pairs; band 2: C(3,2)
    assert len(p) == 150 * 149 // 2 + 3


def test_salting_handles_all_pairs_across_buckets(spark):
    """Every unordered pair appears exactly once (no dupes before the
    final distinct, no losses) even when bucket(a) > bucket(b)."""
    bands = _band_rows(spark, [(7, 80)])
    cfg = DedupConfig(pairs_per_task=1000, band_freq_cap=100)  # S=7
    pairs = _pairs_from_bands(bands, "key", cfg, cap=cfg.band_freq_cap)
    rows = pairs.collect()
    assert len(rows) == 80 * 79 // 2
    assert len({(r.id_a, r.id_b) for r in rows}) == len(rows)


def test_default_band_join_uses_salted_exchanges(spark):
    """The capped-scheme plan is the salted shape: both sides
    repartitioned explicitly on the salted (band_hash, _v) key — the
    measured single-box winner (BASELINE.md round 5, "Knob A/B: the
    copart pair stage pays ~30% on-box": co-partitioning was ~30%
    slower end-to-end at 768k/32c). Salting must still yield every pair
    of the bands under the cap."""
    bands = _band_rows(spark, [(1, 60), (2, 3), (4, 40)])
    cfg = DedupConfig(pairs_per_task=300, band_freq_cap=100)  # S>1 for bands 1,4
    pairs = _pairs_from_bands(bands, "key", cfg, cap=cfg.band_freq_cap)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert len(got) == 60 * 59 // 2 + 3 + 40 * 39 // 2
    import re

    plan = pairs._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert re.search(r"Exchange hashpartitioning\([^)]*_v", plan), plan


def test_exact_schemes_never_capped(spark):
    """ADVICE r1 (high): pigeonhole/deletion banding documents recall
    1.0 — a band above band_freq_cap must be SALTED, not dropped. With
    no cap (the exact-scheme default), every pair of the oversized band
    survives."""
    bands = _band_rows(spark, [(3, 500)])  # 500 members >> cap of 200
    cfg = DedupConfig(pairs_per_task=20_000, band_freq_cap=200)  # S=13
    pairs = _pairs_from_bands(bands, "key", cfg)  # cap=None default
    assert pairs.count() == 500 * 499 // 2


def test_pigeonhole_recall_above_cap(spark):
    """End-to-end: keys whose pigeonhole chunks all collide in bands
    larger than band_freq_cap still produce every true Hamming-<=d pair."""
    from fastqdedup_spark.operators.lsh import pigeonhole_candidate_pairs

    # 12 keys, all within Hamming 1 of "AAAA" -> every band has >= 4
    # members while the cap is 3; dropping any band loses true pairs
    keys = ["AAAA", "CAAA", "GAAA", "TAAA", "ACAA", "AGAA",
            "ATAA", "AACA", "AAGA", "AATA", "AAAC", "AAAG"]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    cfg = DedupConfig(max_distance=1, band_freq_cap=3, pairs_per_task=10)
    pairs = pigeonhole_candidate_pairs(df, cfg)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # candidate recall: every true Hamming<=1 pair must be present
    from fastqdedup_spark.oracle import oracle_pairs

    truth = {
        tuple(sorted((keys[i], keys[j])))
        for i, j in oracle_pairs(keys, max_distance=1)
    }
    assert truth <= got
