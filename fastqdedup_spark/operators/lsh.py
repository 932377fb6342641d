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
  `band_freq_cap` are dropped and COUNTED in the metrics rather than
  silently exploding the shuffle; their members still pair through
  their other b-1 bands. The EXACT schemes (pigeonhole/deletion) are
  NEVER capped — dropping a band there loses true pairs — oversized
  exact bands are salted across bucket pairs instead.
- the band self-join runs with AQE skew-join splitting on, and the band
  table is pre-repartitioned on band_hash so the join is a co-located
  shuffle-hash join rather than a driver-surprise.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from fastqdedup_spark.config import DedupConfig


def _pairs_from_bands(
    bands: DataFrame, id_col: str, cfg: DedupConfig, prefilter=None,
    cap: int | None = None, extra_cols: list[str] | None = None,
    payload_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(id, band_hash) -> distinct (id_a, id_b) with id_a < id_b, plus a
    one-row metrics DataFrame. The generic tail of all three schemes.
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
    prefilter can read them straight off the streamed join output
    (cfg.est_transport == "carry")."""
    sizes = bands.groupBy("band_hash").agg(F.count(F.lit(1)).alias("band_size"))
    capped_expr = (
        F.sum(F.when(F.col("band_size") > cap, 1).otherwise(0))
        if cap is not None
        else F.lit(0)
    )
    # KNOWN COST for whoever collects this df: it re-derives
    # bands+sizes (one explode + shuffle) for 3 scalars. dedup_keys
    # collects it (the FASTQ path's bands.* metrics); dedup_files does
    # not, so the code-domain CLI reports no bands.*. The
    # MetricsCollector.observe ride was considered and deliberately NOT
    # wired: it would insert a CollectMetrics node into the pair-stage
    # plan, whose exchange-reuse shape the scaling work tuned.
    metrics = sizes.agg(
        F.count(F.lit(1)).alias("n_bands"),
        F.max("band_size").alias("max_band_size"),
        capped_expr.alias("capped_bands"),
    )
    npart = cfg.pair_partitions or bands.sparkSession.sparkContext.defaultParallelism
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
    if cap is not None and cfg.copartition_pairs:
        # The single-fat-exchange shape below needs the coarser-clustering
        # co-partitioning rule. get_spark pins it at session build, but
        # callers may hand us a foreign session (the correctness driver
        # does); it is a runtime SQL conf, so set it here — without it
        # the plan is still CORRECT, just re-shuffles the fat table per
        # side, which is exactly the 2.66 GB regression copart exists to
        # remove.
        # The set is SESSION-WIDE and deliberately not restored: the
        # conf must still hold when the lazy plan is physically planned
        # at action time, long after this builder returns. Warn when we
        # actually flip a foreign session's value so the semantic change
        # (subset-key co-partitioning for ALL later joins) is visible.
        _conf = bands.sparkSession.conf
        if _conf.get("spark.sql.requireAllClusterKeysForCoPartition", "true") != "false":
            import logging

            logging.getLogger("fastqdedup_spark").warning(
                "copartition_pairs: setting session-wide "
                "spark.sql.requireAllClusterKeysForCoPartition=false "
                "(required at action time; affects later joins in this "
                "session)"
            )
        _conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # CAPPED schemes (MinHash), windowless CO-PARTITIONED shape: the
        # payload-fat band table crosses the wire ONCE. Band sizes come
        # from a THIN aggregate (band_hash-only shuffle, map-side
        # combine) instead of a count-over-partition window on the fat
        # table, and attach via a co-partitioned shuffled-hash join that
        # pipelines inside the pair stage — no sort anywhere, so the
        # stage's task memory holds only hash builds, not two window
        # sorts (the window-based copart variant was measured 1.5-2x
        # WORSE than legacy at 768k/32c: gcT 589-1492 core-s from the
        # merged sorts+build+distinct lifetime; BASELINE.md round 5).
        # The salt stays in the JOIN KEY while both sides keep the
        # band_hash-only partitioning — with
        # spark.sql.requireAllClusterKeysForCoPartition=false (get_spark
        # sets it) EnsureRequirements accepts the coarser clustering, so
        # AQE reuses ONE fat exchange for both sides (the legacy path's
        # two per-side salt repartitions wrote 2.66 GB at 768k/32c —
        # half the stage's shuffle traffic — for zero distribution
        # benefit: _v is constant 0 for the S=1 bands carrying ~all
        # rows). A whole band's granules now live in one task, bounded
        # by cap^2/2 <= ~2 x pairs_per_task of emission work.
        keep_sizes = sizes.filter(
            (F.col("band_size") > 1) & (F.col("band_size") <= cap)
        ).withColumn("_s", s_expr).select("band_hash", "_s").repartition(
            npart, "band_hash"
        )
        fat = bands.repartition(npart, "band_hash").join(
            keep_sizes.hint("shuffle_hash"), "band_hash"
        )
        left = fat.select(
            "band_hash", "_s", F.col(id_col).alias("id_a"),
            *[F.col(c).alias(f"{c}_a") for c in pay],
        ).withColumn("_v", F.explode(F.sequence(F.lit(0), F.col("_s") - 1)))
        right = fat.select(
            "band_hash",
            F.col(id_col).alias("id_b"),
            F.pmod(F.xxhash64(id_col), F.col("_s")).cast("int").alias("_v"),
            *[F.col(c).alias(f"{c}_b") for c in pay],
        )
    else:
        # UNCAPPED exact schemes (pigeonhole/deletion) and the legacy
        # knob: band sizes attach via a count-over-partition WINDOW on
        # the same hash partitioning the self-join needs (no sizes
        # join, no broadcast of a corpus-scaled band table), and both
        # sides repartition EXPLICITLY on the salted key — an exact
        # scheme's oversized bands are unbounded, and spreading one
        # band's S granules ACROSS tasks is the point. The explicit
        # repartition also pins the stage at full parallelism (user
        # repartitions are exempt from AQE byte-based coalescing, which
        # would starve the quadratic-OUTPUT stage down to a few tasks
        # by INPUT bytes).
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
    # interleaved best-of, scripts/pair_probe.py): pair-stage cpuT is
    # a wash vs the broadcast plan at both widths (8c 59.0 vs 64.2
    # core-s, 32c 236.1 vs 233.7) — the stage's cost lives in the
    # per-raw-pair est probes/eval, not in which join transport feeds
    # them (BASELINE.md round-5 pair-probe note).
    rhs = right.hint(cfg.band_join_hint) if cfg.band_join_hint else right
    raw = (
        left.join(rhs, ["band_hash", "_v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"{c}_a" for c in pay], *[f"{c}_b" for c in pay])
    )
    if prefilter is not None:
        raw = prefilter(raw)
    out_cols = ["id_a", "id_b"] + (extra_cols or [])
    return raw.select(*out_cols).distinct(), metrics


def minhash_candidate_pairs(
    signed: DataFrame, cfg: DedupConfig, id_col: str = "sha",
    keep_est: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """`signed` must carry `band_hash: array<bigint>` (from
    functions.minhash.add_signature_columns). Band index is already
    baked into the hash's high bits, so a flat explode suffices.

    When `sig_packed` is present, the estimated-Jaccard prefilter runs
    INSIDE candidate generation — between the band self-join and the
    pair `distinct` — so the quadratic boilerplate-skew flood is cut
    before it ever hits an exchange. Callers should then pass
    skip_est=True to the verify stage.

    Measured design note (192k files, ~60M raw pairs): with the OLD
    128-byte sketch, probing the broadcast sketch map beat carrying it
    through the band shuffle (9x row fattening). The 2-bit sketch
    flipped the verdict — 4 longs fatten band rows only ~2.3x, and the
    probe variant pays TWO random hash lookups per raw pair, which are
    the stage's dominant cost (cpuT 61.7 vs 23.4 core-s at 8 cores,
    223.2 vs 46.4 at 32). cfg.est_transport="carry" is the default;
    "probe" remains for payload-heavy sketch configs.

    `keep_est=True` carries the matching-bin count through as an
    `est_matches` column (deterministic per pair, so the distinct is
    unaffected) — the pipeline uses it to split candidates into
    est-certain accepts and a borderline band that alone needs the
    exact (Python) verify."""
    carry = cfg.est_transport == "carry"
    band_cols = [F.col(id_col), F.explode("band_hash").alias("band_hash")]
    # est_margin=0 disables the prefilter entirely, so carrying the
    # 8-long sketch through the band exchange would fatten it ~2.3x
    # for a payload nothing downstream reads — gate on the same
    # condition as the prefilter itself.
    if carry and "sig_packed" in signed.columns and cfg.est_margin > 0:
        band_cols.append(F.col("sig_packed"))
    bands = signed.select(*band_cols)
    if "sig_packed" in signed.columns and cfg.est_margin > 0:
        from fastqdedup_spark.operators.verify import (
            est_filter_carried,
            est_prefilter,
        )

        sigs = signed.select(id_col, "sig_packed")
        # est_matches is ALWAYS carried through the pair distinct (it is
        # deterministic per pair, so the distinct is unaffected) and only
        # dropped afterwards: as an aggregate key the column is REQUIRED
        # above, which pins the 128-term est expression in a Project —
        # the only operator whose codegen splits big expressions into
        # sub-JIT-limit methods. Dropping it pre-distinct lets Catalyst
        # collapse the expression into a Filter/join-condition blob that
        # HotSpot refuses to JIT (see est_prefilter) — measured 15x
        # slower on the corpus pair stage.
        if carry:
            prefilter = lambda raw: est_filter_carried(raw, cfg, keep_est=True)
        else:
            prefilter = lambda raw: est_prefilter(
                raw, sigs, cfg, id_col, keep_est=True
            )
        pairs, metrics = _pairs_from_bands(
            bands, id_col, cfg,
            prefilter=prefilter,
            cap=cfg.band_freq_cap,
            extra_cols=["est_matches"],
            payload_cols=["sig_packed"] if carry else None,
        )
        if not keep_est:
            pairs = pairs.drop("est_matches")
        return pairs, metrics
    return _pairs_from_bands(bands, id_col, cfg, cap=cfg.band_freq_cap)


def pigeonhole_candidate_pairs(
    keys: DataFrame, cfg: DedupConfig, key_col: str = "key", id_col: str = "key"
) -> tuple[DataFrame, DataFrame]:
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
    pairs, metrics = _pairs_from_bands(bands.withColumnRenamed("_id", id_col), id_col, cfg)
    return pairs, metrics


def deletion_candidate_pairs(
    keys: DataFrame, cfg: DedupConfig, key_col: str = "key", id_col: str = "key"
) -> tuple[DataFrame, DataFrame]:
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
