"""2-bit est-sketch prefilter: packing, the Catalyst matching-bin
expression, threshold mapping, and recall-neutrality of the filter.

The est expression must stay O(num_perm/32) nodes — the byte-packed
128-term ancestor overflowed janino's 64 KB method limit inside the
broadcast-join consume function and the whole pair stage silently ran
without whole-stage codegen (VERDICT r3 #1; BASELINE.md rounds 2 and 4
record the measured post-mortem).
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.functions.minhash import minhash_batch
from fastqdedup_spark.operators.verify import (
    est_bin_match_prob,
    est_filter_carried,
    est_floor,
    est_jaccard_matches,
)


def _pack_2bit(sig: np.ndarray, num_perm: int) -> np.ndarray:
    bits = (sig.view(np.uint64) & np.uint64(3)).reshape(len(sig), num_perm // 32, 32)
    shifts = (np.uint64(2) * np.arange(32, dtype=np.uint64))[None, None, :]
    return np.bitwise_or.reduce(bits << shifts, axis=2).view(np.int64)


@pytest.mark.parametrize("num_perm", [64, 128])
def test_est_expression_matches_numpy(spark, num_perm):
    rng = np.random.default_rng(7)
    n = 50
    sig = rng.integers(0, 2**63 - 1, size=(n, num_perm), dtype=np.uint64).view(np.int64)
    # plant high-agreement rows: row i and i+1 share 90% of bins
    for i in range(0, n - 1, 2):
        mask = rng.random(num_perm) < 0.9
        sig[i + 1, mask] = sig[i, mask]
    packed = _pack_2bit(sig, num_perm)
    rows = [(i, packed[i].tolist()) for i in range(n)]
    sigs = spark.createDataFrame(rows, "id long, sig_packed array<bigint>")
    pairs = spark.createDataFrame(
        [(a, b) for a in range(n) for b in range(a + 1, min(a + 4, n))],
        "id_a long, id_b long",
    )
    cfg = DedupConfig(num_perm=num_perm)
    ga = sigs.select(F.col("id").alias("id_a"), F.col("sig_packed").alias("sig_a"))
    gb = sigs.select(F.col("id").alias("id_b"), F.col("sig_packed").alias("sig_b"))
    got = {
        (r["id_a"], r["id_b"]): r["m"]
        for r in pairs.join(ga, "id_a").join(gb, "id_b")
        .withColumn("m", est_jaccard_matches(cfg))
        .collect()
    }
    low = sig.view(np.uint64) & np.uint64(3)
    for (a, b), m in got.items():
        assert m == int(np.count_nonzero(low[a] == low[b])), (a, b)


def test_threshold_mapping_corrects_quarter_bias():
    # est-jaccard >= 0.6 maps to bin-match prob 0.6 + 0.4/4 = 0.7
    assert est_bin_match_prob(0.6) == pytest.approx(0.7)
    assert est_bin_match_prob(1.0) == 1.0
    # at threshold 0.8 the floor is the bin count of est-jaccard 0.6:
    # floor(0.7 * 128), i.e. the quarter bias is corrected, not absorbed
    cfg = DedupConfig(num_perm=128, jaccard_threshold=0.8)
    assert est_floor(cfg) == 89


def test_est_floor_keeps_a_uniform_guard():
    """The floor is derived, not tuned: it equals the floors the two
    tuned design points used (0.8 at 256 and 128 bins), and at every
    threshold and sketch width it sits at least 4.7 binomial standard
    deviations below a threshold pair's expected bin matches, never
    above num_perm."""
    assert est_floor(DedupConfig(num_perm=256, jaccard_threshold=0.8)) == 190
    assert est_floor(DedupConfig(num_perm=128, jaccard_threshold=0.8)) == 89
    for thr in (0.5, 0.6, 0.8, 0.9):
        for n in (128, 256):
            floor = est_floor(DedupConfig(num_perm=n, jaccard_threshold=thr))
            p = est_bin_match_prob(thr)
            sigma = (n * p * (1 - p)) ** 0.5
            assert (n * p - floor) / sigma >= 4.7, (thr, n, floor)
            assert 0 <= floor <= n


def test_prefilter_keeps_true_pairs_drops_background(spark):
    """End-to-end through real signatures: planted near-dups (j ~ 0.9)
    survive; unrelated texts (j ~ 0) are dropped. The pairs carry both
    sketches as payload columns, the shape the band join hands to
    est_filter_carried."""
    cfg = DedupConfig(shingle_k=5, num_perm=128, jaccard_threshold=0.8)
    rng = np.random.default_rng(11)
    base = [
        " ".join(rng.choice(list("abcdefghij"), size=200).tolist()) for _ in range(20)
    ]
    near = [t[:-10] + "zzzzzzzzzz" for t in base]  # tiny mutation, j >> 0.8
    texts = base + near
    sig = minhash_batch(texts, cfg.shingle_k, cfg.num_perm, cfg.seed)
    packed = _pack_2bit(sig, cfg.num_perm)
    true_pairs = [(i, i + 20) for i in range(20)]
    bg_pairs = [(i, j) for i in range(20) for j in range(i + 1, 20)]
    raw = spark.createDataFrame(
        [(a, b, packed[a].tolist(), packed[b].tolist())
         for a, b in true_pairs + bg_pairs],
        "id_a long, id_b long, "
        "sig_packed_a array<bigint>, sig_packed_b array<bigint>",
    )
    kept = {
        (r["id_a"], r["id_b"])
        for r in est_filter_carried(raw, cfg).collect()
    }
    assert set(true_pairs) <= kept
    assert not (set(bg_pairs) & kept)


def test_carried_est_matches_numpy(spark):
    """The sketch rides the band shuffle as a payload column and the
    prefilter keeps a pair on its matching-bin count: every candidate
    pair's count, recomputed in numpy from the two docs' 2-bit
    sketches, must reach est_floor, and est_jaccard_matches over the
    pair's two sig_packed columns must equal that numpy count."""
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.functions.minhash import (
        add_signature_columns,
        normalize_content,
    )
    from fastqdedup_spark.operators.exact_dedup import with_sha256
    from fastqdedup_spark.operators.lsh import minhash_candidate_pairs

    files = generate_files(spark, 800, seed=11)
    distinct = (
        with_sha256(files)
        .groupBy("sha")
        .agg(F.first("content").alias("content"))
        .withColumn("content_norm", normalize_content("content"))
        .select("sha", "content_norm")
    )
    cfg = DedupConfig(shingle_k=7, num_perm=128, bands=32, jaccard_threshold=0.6)
    signed = add_signature_columns(distinct, cfg).localCheckpoint(eager=True)
    sketch = {
        r.sha: np.array(r.sig_packed, dtype=np.int64).view(np.uint64)
        for r in signed.select("sha", "sig_packed").collect()
    }

    def matches(a, b):
        x = sketch[a] ^ sketch[b]
        lane = (x | (x >> np.uint64(1))) & np.uint64(0x5555555555555555)
        diff = sum(bin(int(w)).count("1") for w in lane)
        return cfg.num_perm - diff

    pairs = minhash_candidate_pairs(signed, cfg, id_col="sha")
    sigs = signed.select("sha", "sig_packed")
    rows = (
        pairs.join(sigs.toDF("id_a", "sig_packed_a"), "id_a")
        .join(sigs.toDF("id_b", "sig_packed_b"), "id_b")
        .select(
            "id_a", "id_b",
            est_jaccard_matches(cfg, "sig_packed_a", "sig_packed_b").alias("est"),
        )
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        m = matches(r.id_a, r.id_b)
        assert m >= est_floor(cfg), (r.id_a, r.id_b)
        assert r.est == m, (r.id_a, r.id_b)


def test_decoupled_band_bins_keeps_recall_and_shrinks_margin(spark):
    """num_perm=256 + band_bins=128 (the np256_b32 design point): the
    banding structure stays 32 bands x 4 rows -> same candidate-recall
    math as np128, while the est sketch doubles to 256 bins so the
    derived floor sits closer to the threshold at the same false-drop
    probability. The tightened prefilter must still keep every
    candidate whose TRUE jaccard clears the threshold."""
    from fastqdedup_spark.corpus import generate_files
    from fastqdedup_spark.functions.minhash import (
        add_signature_columns,
        normalize_content,
        shingle_set,
    )
    from fastqdedup_spark.operators.exact_dedup import with_sha256
    from fastqdedup_spark.operators.lsh import _pairs_from_bands, minhash_candidate_pairs

    cfg = DedupConfig(
        shingle_k=7, num_perm=256, bands=32, band_bins=128,
        jaccard_threshold=0.6,
    )
    assert cfg.rows_per_band == 4  # np128's structure, not 256/32=8
    files = generate_files(spark, 800, seed=13)
    distinct = (
        with_sha256(files)
        .groupBy("sha")
        .agg(F.first("content").alias("content"))
        .withColumn("content_norm", normalize_content("content"))
        .select("sha", "content_norm")
    )
    signed = add_signature_columns(distinct, cfg).localCheckpoint(eager=True)
    row = signed.select("band_hash", "sig_packed").first()
    assert len(row["band_hash"]) == 32
    assert len(row["sig_packed"]) == 256 // 32
    kept = minhash_candidate_pairs(signed, cfg, id_col="sha")
    # the same band join with no prefilter: the reference candidate set
    raw = _pairs_from_bands(
        signed.select("sha", F.explode("band_hash").alias("band_hash")),
        "sha", cfg, cap=cfg.band_freq_cap,
    )
    kept_set = {(r.id_a, r.id_b) for r in kept.collect()}
    raw_rows = raw.collect()
    assert kept_set <= {(r.id_a, r.id_b) for r in raw_rows}
    texts = {r["sha"]: r["content_norm"] for r in signed.collect()}
    shingles = {s: shingle_set(t, 7) for s, t in texts.items()}
    dropped_true = [
        (r.id_a, r.id_b)
        for r in raw_rows
        if (r.id_a, r.id_b) not in kept_set
        and len(shingles[r.id_a] & shingles[r.id_b])
        / max(1, len(shingles[r.id_a] | shingles[r.id_b]))
        >= cfg.jaccard_threshold
    ]
    assert dropped_true == []
