"""Candidate-pair generation (SURVEY.md M3) — the distributed
re-grounding of the reference's trie radius search
(`TrieNode_FindNearest`, /root/reference/src/fastqdedup/_triemodule.c:380-495).

Three interchangeable banding schemes, all ending in the same
explode -> self-equi-join shape:

1. MinHash LSH bands (`minhash_candidate_pairs`) — probabilistic, for
   arbitrary-length code content at Jaccard threshold.
2. Pigeonhole bands (`pigeonhole_candidate_pairs`) — EXACT for Hamming
   distance <= d on equal-length keys: split every key into d+1
   contiguous chunks; two keys within d substitutions must agree on at
   least one (chunk_index, chunk, length) triple. 100% candidate recall
   by the pigeonhole principle (supports the >=0.99 recall target with
   zero approximation).
3. Deletion-neighborhood bands (`deletion_candidate_pairs`) — EXACT for
   edit distance <= d (SymSpell guarantee): keys within d edits share a
   variant obtained by deleting <= d characters from each.

Skew handling (north_rule: explicit salting/repartition for hot bands):
- MinHash mega-bands (shared license boilerplate) are frequency-capped:
  a band with f members emits f^2/2 pairs, so bands above
  `band_freq_cap` are dropped rather than exploding the shuffle; their
  members still pair through their other b-1 bands. The EXACT schemes
  (pigeonhole/deletion) are NEVER capped — dropping a band there loses
  true pairs — oversized exact bands are salted across bucket pairs
  instead.
- every scheme's band self-join has ONE shape: band sizes attach via a
  count-over-partition window on the band_hash partitioning, each band
  splits into size-adaptive salt buckets, and both join sides
  repartition explicitly on (band_hash, bucket) into a pinned
  shuffle-hash join. A co-partitioned single-exchange shape halves the
  exchange bytes but measured ~30% slower on one box (BASELINE.md
  round 5, "Knob A/B: the copart pair stage pays ~30% on-box").
- the MinHash est sketch always rides the band shuffle as a payload
  column on both join sides, so the est prefilter reads the streamed
  row with zero hash probes per raw pair (BASELINE.md round 5,
  "Pair-probe verdict").
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.operators.verify import est_filter_carried


def _pairs_from_bands(
    bands: DataFrame, id_col: str, cfg: DedupConfig, prefilter=None,
    cap: int | None = None, extra_cols: list[str] | None = None,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """(id, band_hash) -> distinct (id_a, id_b) with id_a < id_b. The
    generic tail of all three schemes.
    `prefilter` (raw pairs -> pairs) runs BEFORE the distinct, while the
    pair stream is still map-side.

    `cap` is the band-size frequency cap. It must be None for the EXACT
    schemes (pigeonhole / deletion banding): dropping an oversized band
    there silently loses true pairs and splits clusters vs the reference
    trie — e.g. a d=3 pigeonhole chunk over a 4-letter alphabet has only
    256 possible values, so realistic corpora saturate every band.
    Exact schemes salt oversized bands instead of dropping them; only
    the probabilistic MinHash scheme passes cfg.band_freq_cap (a member
    of a capped band still pairs through its other b-1 bands there).

    `payload_cols` names columns of `bands` to carry through the band
    shuffle onto both join sides (as `<col>_a` / `<col>_b`), so a
    prefilter can read them straight off the streamed join output."""
    npart = bands.sparkSession.sparkContext.defaultParallelism
    # SIZE-ADAPTIVE bucket-pair salting (north_rule skew handling): a
    # band with f members emits f^2/2 pairs in ONE reducer under a plain
    # self-join, and even sub-cap bands straggle when several hash into
    # the same task (measured: the pair stage was flat 8 -> 32 cores).
    # Every band therefore splits into S = ceil(f^2 / pairs_per_task)
    # bucket pairs: the right side hashes each member to one of S
    # buckets, the left side replicates once per bucket, and the join
    # key (band, bucket) spreads the band over S granules of at most
    # ~pairs_per_task output each — uniform task heights regardless of
    # the band-size distribution, exact coverage for any S. Most bands
    # get S=1 (no replication).
    s_expr = F.least(
        F.greatest(
            F.ceil(F.col("band_size") * F.col("band_size") / F.lit(cfg.pairs_per_task)),
            F.lit(1),
        ),
        F.lit(4096),
    ).cast("int")
    pay = payload_cols or []
    # Band sizes attach via a count-over-partition WINDOW on the same
    # hash partitioning the self-join needs (no sizes join, no broadcast
    # of a corpus-scaled band table), and both sides repartition
    # EXPLICITLY on the salted key — an exact scheme's oversized bands
    # are unbounded, and spreading one band's S granules ACROSS tasks is
    # the point. The explicit repartition also pins the stage at full
    # parallelism (user repartitions are exempt from AQE byte-based
    # coalescing, which would starve the quadratic-OUTPUT stage down to
    # a few tasks by INPUT bytes).
    from pyspark.sql import Window

    w = Window.partitionBy("band_hash")
    kept = (
        bands.repartition(npart, "band_hash")
        .withColumn("band_size", F.count(F.lit(1)).over(w))
        .filter(F.col("band_size") > 1)
    )
    if cap is not None:
        kept = kept.filter(F.col("band_size") <= cap)
    kept = kept.withColumn("_s", s_expr)
    left = kept.select(
        "band_hash", "_s", F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in pay],
    ).withColumn(
        "_v", F.explode(F.sequence(F.lit(0), F.col("_s") - 1))
    ).repartition(npart, "band_hash", "_v")
    right = kept.select(
        "band_hash",
        F.col(id_col).alias("id_b"),
        F.pmod(F.xxhash64(id_col), F.col("_s")).cast("int").alias("_v"),
        *[F.col(c).alias(f"{c}_b") for c in pay],
    ).repartition(npart, "band_hash", "_v")
    # Pin the co-located SHUFFLED HASH join (both sides are already
    # repartitioned on the join key). Without the hint, AQE converts
    # this to a broadcast join whenever the sampled corpus fits the
    # threshold — a small-scale artifact: the band table is
    # corpus-scaled, so it can never broadcast at 100 TB; the pinned
    # plan is the scale-invariant one. Measured on-box (192k files,
    # interleaved best-of): pair-stage cpuT is a wash vs the broadcast
    # plan at both widths (8c 59.0 vs 64.2 core-s, 32c 236.1 vs 233.7)
    # — the stage's cost lives in the per-raw-pair est eval, not in
    # which join transport feeds it (BASELINE.md round 5, "Pair-probe
    # verdict").
    rhs = right.hint(cfg.band_join_hint) if cfg.band_join_hint else right
    raw = (
        left.join(rhs, ["band_hash", "_v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"{c}_a" for c in pay], *[f"{c}_b" for c in pay])
    )
    if prefilter is not None:
        raw = prefilter(raw)
    out_cols = ["id_a", "id_b"] + (extra_cols or [])
    return raw.select(*out_cols).distinct()


def minhash_candidate_pairs(
    signed: DataFrame, cfg: DedupConfig, id_col: str = "sha"
) -> DataFrame:
    """`signed` must carry `band_hash: array<bigint>` and `sig_packed:
    array<bigint>` (from functions.minhash.add_signature_columns). Band
    index is already baked into the hash's high bits, so a flat explode
    suffices.

    The estimated-Jaccard prefilter (verify.est_filter_carried, floor
    verify.est_floor) runs INSIDE candidate generation — between the
    band self-join and the pair `distinct` — so the quadratic
    boilerplate-skew flood is cut before it ever hits an exchange.

    The sketch rides the band shuffle as a payload column on both join
    sides, so the filter reads the streamed row. The 4-long (128-bin)
    2-bit sketch fattens the band exchange only ~2.3x (166 -> 375 MB at
    192k files), while joining the raw pairs against per-id sketch
    tables paid TWO random hash lookups per raw pair — the stage's
    dominant cost (cpuT 61.7 vs 23.4 core-s at 8 cores, 223.2 vs 46.4
    at 32; BASELINE.md round 5, "Pair-probe verdict")."""
    bands = signed.select(
        F.col(id_col), F.explode("band_hash").alias("band_hash"), F.col("sig_packed")
    )
    # est_matches is ALWAYS carried through the pair distinct (it is
    # deterministic per pair, so the distinct is unaffected) and only
    # dropped afterwards: as an aggregate key the column is REQUIRED
    # above, which pins the est expression in a Project — the only
    # operator whose codegen splits big expressions into
    # sub-JIT-limit methods. Dropping it pre-distinct lets Catalyst
    # collapse the expression into a Filter/join-condition blob that
    # HotSpot refuses to JIT (see est_jaccard_matches) — measured
    # 15x slower on the corpus pair stage.
    pairs = _pairs_from_bands(
        bands, id_col, cfg,
        prefilter=lambda raw: est_filter_carried(raw, cfg, keep_est=True),
        cap=cfg.band_freq_cap,
        extra_cols=["est_matches"],
        payload_cols=["sig_packed"],
    )
    return pairs.drop("est_matches")


def pigeonhole_candidate_pairs(
    keys: DataFrame, cfg: DedupConfig, key_col: str = "key", id_col: str = "key"
) -> DataFrame:
    """Exact Hamming-<=d banding. All JVM-side (no UDF): chunk
    boundaries come from integer arithmetic on length(key); the band
    hash is xxhash64(chunk_index, chunk, length) so unequal-length keys
    never collide (Hamming is equal-length-only, distances.h:16-20)."""
    d = cfg.max_distance
    nb = d + 1
    chunks = F.expr(
        f"transform(sequence(0, {d}), i -> named_struct("
        f"  'bi', i,"
        f"  'chunk', substring({key_col},"
        f"     cast(i * length({key_col}) / {nb} as int) + 1,"
        f"     cast((i + 1) * length({key_col}) / {nb} as int)"
        f"       - cast(i * length({key_col}) / {nb} as int))))"
    )
    bands = keys.select(
        F.col(id_col).alias("_id"), F.explode(chunks).alias("c"), F.length(key_col).alias("_len")
    ).select(
        F.col("_id"),
        F.xxhash64("c.bi", "c.chunk", "_len").alias("band_hash"),
    )
    return _pairs_from_bands(bands.withColumnRenamed("_id", id_col), id_col, cfg)


def deletion_candidate_pairs(
    keys: DataFrame, cfg: DedupConfig, key_col: str = "key", id_col: str = "key"
) -> DataFrame:
    """Exact edit-<=d banding via the deletion neighborhood (SymSpell):
    explode every string reachable by deleting up to d characters.
    JVM-side for d<=2 via nested transforms; the variant set is
    array_distinct-ed before the explode."""
    d = cfg.max_distance
    if d < 1 or d > 2:
        raise NotImplementedError("deletion banding supports d in {1, 2}")
    del1 = (
        f"transform(sequence(1, length({key_col})),"
        f" i -> concat(substring({key_col}, 1, i - 1), substring({key_col}, i + 1)))"
    )
    if d == 1:
        variants = f"array_distinct(concat(array({key_col}), {del1}))"
    else:
        del2 = (
            f"flatten(transform({del1}, v -> transform(sequence(1, greatest(length(v), 1)),"
            f" j -> concat(substring(v, 1, j - 1), substring(v, j + 1)))))"
        )
        variants = f"array_distinct(concat(array({key_col}), {del1}, {del2}))"
    bands = keys.select(
        F.col(id_col).alias("_id"), F.explode(F.expr(variants)).alias("v")
    ).select(F.col("_id").alias(id_col), F.xxhash64("v").alias("band_hash"))
    return _pairs_from_bands(bands, id_col, cfg)
