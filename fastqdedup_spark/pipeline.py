"""End-to-end near-duplicate clustering tails (SURVEY.md §3 graft lifecycle).

Two tails built from the same operators (banded candidate pairs, verify,
connected components, dissect) and the same stage shapes: candidate
pairs and verified edges fuse into the connected-components input
unless a durable checkpoint dir persists them, and every metric rides a
materialization that runs anyway.

- `dedup_keys`     — reference-parity mode: short fixed-alphabet keys,
  EXACT Hamming/edit-radius clustering via pigeonhole / deletion
  banding. Reproduces the reference's `deduplicate_cluster`
  (/root/reference/src/fastqdedup/__init__.py:209-288) semantics 1:1 —
  the golden trie fixtures pass through this path.
- `cluster_signed` — code-domain mode per BASELINE.json north_rule:
  LSH band -> capped/salted band join -> exact-Jaccard verify ->
  connected components -> dissect -> survivor semi-join, with
  per-stage metrics and keyed checkpoints.

The code domain has one front, incremental.dedup_files_incremental. It
aggregates the input by sha (`distinct_contents`: count, content and
first-wins rep in one pass), signs each distinct content once
(`sign_contents`), probes a persisted index (tiers 1-2) and hands the
signed contents the probes let through to `cluster_signed`. The batch
CLI is that front against an empty index view that appends nothing, so
it skips the probes and clusters the whole signed input.

`dedup_keys` and `cluster_signed` stay two tails rather than one
function with a caller switch: they differ in id translation (nid ->
sha), verifier (radius predicate vs exact-Jaccard UDF), dissection inputs and
the output rebuild.

Stage graph (code mode), every arrow a Catalyst-planned exchange:

  files --filter--> quality --sha2--> exact groups (P9 pre-agg)
        --mapInPandas--> band hashes --explode+join--> candidate pairs
        --pandas_udf--> verified edges --iterate--> cluster labels
        --agg/applyInPandas--> survivors --semi-join--> deduped files
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from fastqdedup_spark.checkpoint import StageCheckpointer
from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.operators.connected_components import connected_components
from fastqdedup_spark.operators.dissect import dissect_clusters
from fastqdedup_spark.operators.lsh import (
    deletion_candidate_pairs,
    minhash_candidate_pairs,
    pigeonhole_candidate_pairs,
)
from fastqdedup_spark.operators.verify import verify_pairs_distance, verify_pairs_jaccard


@dataclass
class DedupResult:
    clusters: DataFrame    # (key-or-sha, cluster_id, cnt)
    survivors: DataFrame   # (cluster_id, key-or-sha)
    deduped: DataFrame     # surviving input rows
    metrics: dict


def _fill_singletons(counted: DataFrame, labels: DataFrame, id_col: str) -> DataFrame:
    """Nodes that never appeared in an edge are their own cluster."""
    lab = labels.withColumnRenamed("id", id_col)
    return (
        counted.join(lab, id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    )


def dedup_keys(
    spark: SparkSession, keys: DataFrame, cfg: DedupConfig, key_col: str = "key"
) -> DedupResult:
    """Reference-parity clustering over a one-row-per-occurrence key
    table. Candidate generation is EXACT (pigeonhole for Hamming,
    deletion neighborhood for edit distance) so recall vs the reference
    is 1.0 by construction; the verify stage keeps precision exact.

    Stage shapes match cluster_signed's: `counted_keys` materializes,
    `pairs` and `edges` fuse into the connected-components input (a
    durable checkpoint dir still persists both), and metrics ride those
    materializations (edges.n, dissect.*)."""
    ck = StageCheckpointer(spark, cfg)
    counted = ck.stage(
        "counted_keys",
        lambda: keys.groupBy(F.col(key_col).alias("key")).agg(
            F.count(F.lit(1)).alias("cnt")
        ),
    )
    gen = deletion_candidate_pairs if cfg.use_edit_distance else pigeonhole_candidate_pairs
    pairs = ck.stage("pairs", lambda: gen(counted, cfg), fuse=True)
    edges = ck.stage(
        "edges", lambda: verify_pairs_distance(pairs, counted, cfg), fuse=True
    )
    labels, rounds = connected_components(edges, checkpointer=ck)
    clusters = _fill_singletons(counted, labels, "key")
    survivors = ck.stage(
        "survivors",
        lambda: dissect_clusters(
            clusters.select("cluster_id", "key", "cnt"),
            cfg.dissection,
            cfg.max_distance,
            cfg.use_edit_distance,
            max_cluster_size=cfg.max_cluster_size,
            max_cluster_bytes=cfg.max_cluster_bytes,
            # free: the fallback counter rides the sizes job via
            # Dataset.observe, so metrics cost zero extra actions here
            metrics=ck.metrics,
        ),
    )
    surv = survivors.select(F.col("key").alias("__surv_key"))
    deduped = keys.join(
        surv, on=keys[key_col] == surv["__surv_key"], how="left_semi"
    )
    ck.metrics.add("cc", "rounds", rounds)
    ck.write_metrics()
    return DedupResult(clusters, survivors, deduped, ck.metrics.as_dict())


def survivor_shas(
    cfg: DedupConfig, survivors: DataFrame, n_survivors: float
) -> DataFrame:
    """The survivors stage's keys as a `sha` column, for the semi-joins
    that keep one row per survivor. Both sides of those joins are
    pinned tables with no usable size statistics, so Spark would plan
    a sort-merge join with two exchanges. When the survivor count
    (output.files) fits incremental_broadcast_max_rows, the same gate
    the incremental path's new-side broadcasts use, the keys broadcast
    instead; a larger count leaves the strategy to AQE."""
    keys = survivors.select(F.col("key").alias("sha"))
    if n_survivors <= cfg.incremental_broadcast_max_rows:
        return F.broadcast(keys)
    return keys


def cluster_signed(
    ck: StageCheckpointer,
    cfg: DedupConfig,
    distinct: DataFrame,
    signed: DataFrame,
    n_distinct: int,
    out_cols: list[str],
) -> DedupResult:
    """The code domain's clustering tail, tier 3 of
    incremental.dedup_files_incremental: candidate pairs, verified
    edges, connected components, clusters, survivors and the first-wins
    output.

    `signed` holds the contents to cluster (sign_contents' columns, one
    row per sha, `n_distinct` rows); `distinct` is a distinct_contents
    table covering at least those shas, and `out_cols` (the input's
    columns minus `sha`) orders the rebuilt output rows. Metrics land
    in `ck.metrics`: edges.n on the connected-components input,
    output.files and dissect.* on survivors."""
    # candidate generation runs on compact 16-byte binary ids (the first
    # 128 bits of the sha), not 64-char hex shas: the band self-join's
    # output is quadratic in band size and each row carries two ids, so
    # id width directly scales the heaviest shuffle. 128 bits (vs the
    # earlier xxhash64) makes collisions impossible in practice: a
    # birthday collision at 10^12 distinct contents has P ~ 1.5e-15,
    # where 64 bits had P ~ 0.03 — and a collision here is NOT benign
    # (the nid->sha fan-out join would attach verified edges to both
    # shas and falsely merge unrelated clusters).
    pairs_lazy = minhash_candidate_pairs(signed, cfg, id_col="nid")
    # pairs feeds only the verify stage and edges feed only the CC
    # sym-checkpoint: both fuse into their consumer (one fewer pipeline
    # barrier each) unless a durable checkpoint dir persists them for
    # resume
    pairs = ck.stage("pairs", lambda: pairs_lazy, fuse=True)

    # every candidate pair is verified exactly: connected components
    # would spread one false edge across two whole clusters
    edges_nid = ck.stage(
        "edges",
        lambda: verify_pairs_jaccard(
            pairs.select("id_a", "id_b"),
            signed.select("nid", "content_norm"),
            cfg,
            id_col="nid",
            # proxy for the (unknown) candidate-pair count: the
            # whole-pipeline cap A/Bs that calibrated the threshold
            # capped/uncapped both Arrow stages together
            approx_rows=n_distinct,
        ).select("id_a", "id_b"),
        fuse=True,
    )
    # connected components run in compact nid space (16-byte binary vs
    # 64-char sha strings — 4x less through every CC round and through
    # the driver fast path). nid is the sha's hex prefix, so byte order
    # equals sha order and min-nid labels translate EXACTLY to min-sha
    # labels via the nid map afterwards (one scalable equi-join pair,
    # strategy left to AQE).
    nid_map = signed.select("nid", "sha")
    labels_nid, rounds = connected_components(
        edges_nid.select("id_a", "id_b"), checkpointer=ck
    )
    # cluster table in TWO joins instead of three: `signed` already
    # carries (nid, sha, cnt) one row per distinct content, so the
    # corpus side left-joins the (edge-sized) label table directly on
    # nid — no separate id->sha translation join and no second scan of
    # the distinct stage — and only the min-nid->min-sha translation
    # remains as a second join (label-sized output; unmatched
    # singletons keep their own sha via the coalesce, exactly
    # _fill_singletons' semantics). Its one consumer is the survivors
    # stage, so it fuses into that stage's plan (a durable checkpoint
    # dir still persists it); DedupResult.clusters is that lazy plan
    # over the pinned signatures and labels.
    clusters = ck.stage(
        "clusters",
        lambda: signed.select("nid", "sha", "cnt")
        .join(labels_nid.withColumnRenamed("id", "nid"), "nid", "left")
        .join(
            nid_map.withColumnRenamed("nid", "cluster_id").withColumnRenamed(
                "sha", "cluster_sha"
            ),
            "cluster_id",
            "left",
        )
        .select(
            "sha", "cnt", F.coalesce("cluster_sha", F.col("sha")).alias("cluster_id")
        ),
        fuse=True,
    )
    if cfg.dissection in ("canonical", "highest_count"):
        surv_input = clusters.select("cluster_id", F.col("sha").alias("key"), "cnt")
        surv_kwargs = {}
    else:
        # directional/adjacency in the code domain: identity stays the
        # sha, the radius predicate is exact Jaccard on normalized
        # content (O10/O11 re-grounded; ref __init__.py:60-122).
        # The member table stays THIN — a cmp_len column feeds the byte
        # bound, and the heavy content attaches inside dissect only for
        # the multi-member in-bounds clusters the kernel compares
        # (singleton members, the bulk of a real corpus, never move
        # content through the dissection exchanges at all).
        from fastqdedup_spark.oracle import jaccard_within

        surv_input = clusters.select("cluster_id", "sha", "cnt").join(
            signed.select("sha", F.length("content_norm").alias("cmp_len")), "sha"
        ).select("cluster_id", F.col("sha").alias("key"), "cnt", "cmp_len")
        surv_kwargs = {
            "within": jaccard_within(cfg.jaccard_threshold, cfg.shingle_k),
            "cmp_source": signed.select("sha", "content_norm"),
        }
    surv_kwargs["max_cluster_size"] = cfg.max_cluster_size
    surv_kwargs["max_cluster_bytes"] = cfg.max_cluster_bytes
    # the fallback counter rides the survivors job via Dataset.observe
    # (zero extra actions). survivors holds one row per surviving sha,
    # and `deduped` below is exactly one file per survivor, so its row
    # count is output.files
    surv_kwargs["metrics"] = ck.metrics
    survivors, counts = ck.counted_stage(
        "survivors",
        lambda: dissect_clusters(surv_input, cfg.dissection, **surv_kwargs),
        {"output.files": F.count(F.lit(1))},
    )
    # O13 survivor semi-join + first-wins: one surviving FILE per
    # surviving content, deterministic by (repo, path, commit). The
    # representative rides on the distinct table — no second
    # full-input aggregation here, and no join back to the input at
    # all: the full row is rebuilt from the rep struct + the table's
    # content, so row-per-sha uniqueness is aggregation-guaranteed.
    deduped = distinct.join(
        survivor_shas(cfg, survivors, counts["output.files"]),
        "sha",
        "left_semi",
    ).select(
        *[
            (F.col("content") if c == "content" else F.col(f"rep.{c}")).alias(c)
            for c in out_cols
        ],
        "sha",
    )
    ck.metrics.add("cc", "rounds", rounds)
    ck.write_metrics()
    return DedupResult(clusters, survivors, deduped, ck.metrics.as_dict())
