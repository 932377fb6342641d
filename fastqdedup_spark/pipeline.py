"""End-to-end near-duplicate pipelines (SURVEY.md §3 graft lifecycle).

Two entry points built from the same operators (banded candidate
pairs, verify, connected components, dissect) and the same stage
shapes: candidate pairs and verified edges fuse into the
connected-components input unless a durable checkpoint dir persists
them, and every metric rides a materialization that runs anyway.

- `dedup_keys`    — reference-parity mode: short fixed-alphabet keys,
  EXACT Hamming/edit-radius clustering via pigeonhole / deletion
  banding. Reproduces the reference's `deduplicate_cluster`
  (/root/reference/src/fastqdedup/__init__.py:209-288) semantics 1:1 —
  the golden trie fixtures pass through this path.
- `dedup_files`   — code-domain mode per BASELINE.json north_rule:
  normalize -> shingle -> MinHash sign -> LSH band -> capped/salted
  band join -> exact-Jaccard verify -> connected components ->
  dissect -> survivor semi-join, with per-stage metrics and keyed
  checkpoints.

`dedup_keys` and `cluster_signed` below stay two tails rather than one
function with a caller switch: they differ in id translation (nid ->
sha), verifier (radius UDF vs exact Jaccard), dissection inputs and
the output rebuild.

`dedup_files` is a front plus a tail. The front aggregates the input
by sha (`distinct_contents`: count, content and first-wins rep in one
pass) and signs each distinct content once (`sign_contents`). The tail,
`cluster_signed`, takes those two tables and runs pairs, edges,
connected components, clusters, survivors and the first-wins output.
The incremental path (incremental.py) builds the same two tables for
its whole batch once, and its tier 3 calls the same tail on the signed
contents that tiers 1-2 let through, so nothing is aggregated or
signed twice.

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
from fastqdedup_spark.functions.minhash import add_signature_columns, normalize_content
from fastqdedup_spark.functions.quality import content_quality_filter
from fastqdedup_spark.operators.connected_components import connected_components
from fastqdedup_spark.operators.dissect import dissect_clusters
from fastqdedup_spark.operators.exact_dedup import with_sha256
from fastqdedup_spark.operators.lsh import (
    deletion_candidate_pairs,
    minhash_candidate_pairs,
    pigeonhole_candidate_pairs,
)
from fastqdedup_spark.operators.verify import (
    est_min_matches,
    verify_pairs_distance,
    verify_pairs_jaccard,
)
from fastqdedup_spark.sources import FILES_COLUMNS


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
    labels, rounds = connected_components(
        edges, cfg.cc_max_iterations, checkpointer=ck
    )
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
        reload_metrics=("dissect",),
    )
    surv = survivors.select(F.col("key").alias("__surv_key"))
    deduped = keys.join(
        surv, on=keys[key_col] == surv["__surv_key"], how="left_semi"
    )
    ck.metrics.add("cc", "rounds", rounds)
    ck.write_metrics()
    return DedupResult(clusters, survivors, deduped, ck.metrics.as_dict())


def require_files_columns(files: DataFrame) -> None:
    """Raise when `files` lacks a column of the files-table contract."""
    missing = set(FILES_COLUMNS) - set(files.columns)
    if missing:
        raise ValueError(f"files table missing columns: {sorted(missing)}")


def distinct_contents(files: DataFrame) -> DataFrame:
    """files (with `sha`) -> one row per distinct content:
    (sha, cnt, content, rep).

    P9 pre-aggregation: exact duplicates collapse BEFORE signatures,
    mirroring the trie's count-in-node (_triemodule.c:233-239). The
    first-wins representative (min (repo, path, commit), O13) is
    computed in the SAME aggregation so the survivor tail never
    rescans the full input. The rep struct carries EVERY non-content
    column (orderable types required; repo/path/commit lead, so the
    first-wins order is unchanged): the final `deduped` output is
    reconstructed from it directly, which both removes a full join of
    the corpus and guarantees one output row per surviving sha — the
    old join-back on (sha, repo, path, commit) matched every input copy
    of the representative row, so a fully-duplicated input row (two
    ingestion batches unioned) leaked duplicate output rows for one
    distinct content."""
    rep_rest = [
        c for c in files.columns
        if c not in ("repo", "path", "commit", "content", "sha")
    ]
    return files.groupBy("sha").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.first("content").alias("content"),  # identical per sha
        F.min(F.struct("repo", "path", "commit", *rep_rest)).alias("rep"),
    )


def sign_contents(
    distinct: DataFrame,
    cfg: DedupConfig,
    approx_rows: float | None,
    source: str = "content",
) -> DataFrame:
    """(sha, cnt, <source>) -> (sha, cnt, content_norm, n_shingles,
    band_hash, sig_packed, nid): one Arrow MinHash pass over the
    normalized `source` column."""
    return add_signature_columns(
        distinct.withColumn("content_norm", normalize_content(source)).select(
            "sha", "cnt", "content_norm"
        ),
        cfg,
        approx_rows=approx_rows,
    ).withColumn("nid", F.unhex(F.substring("sha", 1, 32)))


def dedup_files(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig,
    quality: bool = True,
) -> DedupResult:
    """Code-domain near-dup clustering per BASELINE.json north_rule.

    Input: files(id?, repo, path, commit, lang, content). Output keeps
    the per-row sha256 invariant: `deduped` rows carry the `sha` of
    their untouched `content` (equality testable end-to-end).

    This is the front (the distinct_contents and signatures stages);
    cluster_signed is the tail. Every metric rides a stage
    materialization that runs anyway (MetricsCollector.observe):
    input.files and distinct.contents on distinct_contents, the rest in
    the tail. A resumed stage reports the previous run's persisted
    values instead; the counts that size plans (these two and
    output.files) are recounted on the resumed stage when the previous
    run died before persisting them.
    """
    require_files_columns(files)
    ck = StageCheckpointer(spark, cfg)
    # a tiny single-row-group input scans as 1-2 partitions, so the
    # quality regexes + sha256 + the distinct stage's partial agg would
    # run near-serially; no-op at real scale / for checkpointed inputs
    from fastqdedup_spark.functions.partitioning import widen_small_input

    files = widen_small_input(files)
    if quality:
        files = content_quality_filter(files)
    files = with_sha256(files)

    # The distinct-contents count sizes two static plan choices (the
    # tail's metadata-broadcast gate, Arrow-stage task caps). It and the
    # input row count ride the stage's own materialization via
    # Dataset.observe (CollectMetrics fires on BOTH materialization
    # paths: localCheckpoint is a withAction and so is the durable
    # parquet write) — zero extra jobs on a fresh run; a resumed stage
    # reports them as StageCheckpointer.counted_stage describes.
    distinct, counts = ck.counted_stage(
        "distinct_contents",
        lambda: distinct_contents(files),
        {
            "distinct.contents": F.count(F.lit(1)),
            "input.files": F.coalesce(F.sum("cnt"), F.lit(0)),
        },
    )
    n_distinct = counts["distinct.contents"]

    def _build_signatures() -> DataFrame:
        if cfg.strip_boilerplate_frac <= 0:
            return sign_contents(distinct, cfg, n_distinct)
        # semantic-skew source removal: lines shared by more than
        # strip_boilerplate_frac of documents (license headers,
        # generated preambles) leave the shingle space entirely, so
        # unrelated files stop sharing bands. The sha invariant is
        # untouched — stripping only affects the similarity model.
        from fastqdedup_spark.operators.boilerplate import (
            common_lines,
            strip_boilerplate,
        )

        boiler = common_lines(distinct, "content", cfg.strip_boilerplate_frac)
        return sign_contents(
            strip_boilerplate(distinct, boiler, "content"),
            cfg,
            n_distinct,
            source="content_stripped",
        )

    signed = ck.stage("signatures", _build_signatures)
    out_cols = [c for c in files.columns if c != "sha"]
    return cluster_signed(ck, cfg, distinct, signed, n_distinct, out_cols)


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
    """The clustering tail shared by dedup_files and the incremental
    path's tier 3: candidate pairs, verified edges, connected
    components, clusters, survivors and the first-wins output.

    `signed` holds the contents to cluster (sign_contents' columns, one
    row per sha, `n_distinct` rows); `distinct` is a distinct_contents
    table covering at least those shas, and `out_cols` (the input's
    columns minus `sha`) orders the rebuilt output rows. Metrics land
    in `ck.metrics`: edges.n on the connected-components input,
    output.files and dissect.* on survivors."""
    # Metadata-broadcast decision (static per run): past
    # est_broadcast_max_rows verify's size/label joins must run shuffled
    # (a forced broadcast there is a driver OOM at >50M distinct
    # contents).
    eff_broadcast = cfg.resolved_est_broadcast(n_distinct)
    ck.metrics.add("est", "broadcast", float(eff_broadcast))
    # candidate generation runs on compact 16-byte binary ids (the first
    # 128 bits of the sha), not 64-char hex shas: the band self-join's
    # output is quadratic in band size and each row carries two ids, so
    # id width directly scales the heaviest shuffle. 128 bits (vs the
    # earlier xxhash64) makes collisions impossible in practice: a
    # birthday collision at 10^12 distinct contents has P ~ 1.5e-15,
    # where 64 bits had P ~ 0.03 — and a collision here is NOT benign
    # (the nid->sha fan-out join would attach verified edges to both
    # shas and falsely merge unrelated clusters).
    pairs_lazy = minhash_candidate_pairs(
        signed, cfg, id_col="nid", keep_est=cfg.est_autoaccept
    )
    # minhash_candidate_pairs runs the est prefilter only when a packed
    # sketch exists AND est_margin > 0 — mirror that exact condition
    # instead of hardcoding skip_est=True, so an est_margin=0 run still
    # gets the exact size-bound prune in verify (otherwise the full
    # unfiltered pair flood would ship content to the Python kernel).
    est_ran_upstream = "sig_packed" in signed.columns and cfg.est_margin > 0
    # pairs feeds only the verify stage and edges feed only the CC
    # sym-checkpoint: both fuse into their consumer (one fewer pipeline
    # barrier each) unless a durable checkpoint dir persists them for
    # resume
    pairs = ck.stage("pairs", lambda: pairs_lazy, fuse=True)

    def _build_edges() -> DataFrame:
        cand = pairs
        certain = None
        if cfg.est_autoaccept and "est_matches" in cand.columns:
            # est-certainty split: pairs whose sketch estimate clears
            # threshold + margin are accepted outright (false-accept
            # bound symmetric to the prefilter's false-drop bound, see
            # DedupConfig.est_autoaccept); only the borderline band
            # pays for the exact Arrow-side Jaccard.
            if not ck.base:
                # the split filters cand TWICE (certain + borderline);
                # a fused (lazy) pair plan would re-run its reduce side
                # for each branch — same class of double-scan the CC
                # self-union had
                cand = cand.localCheckpoint(eager=True)
            hi = min(
                est_min_matches(cfg, cfg.jaccard_threshold + cfg.est_margin) + 1,
                cfg.num_perm,
            )
            certain = cand.filter(F.col("est_matches") >= hi).select("id_a", "id_b")
            cand = cand.filter(F.col("est_matches") < hi)
        verified = verify_pairs_jaccard(
            cand.select("id_a", "id_b"),
            signed.select("nid", "content_norm", "n_shingles"),
            cfg,
            id_col="nid",
            skip_est=est_ran_upstream,
            metadata_broadcast=eff_broadcast,
            # proxy for the (unknown) borderline-pair count: the
            # whole-pipeline cap A/Bs that calibrated the threshold
            # capped/uncapped both Arrow stages together
            approx_rows=n_distinct,
        ).select("id_a", "id_b")
        return verified if certain is None else certain.unionByName(verified)

    edges_nid = ck.stage("edges", _build_edges, fuse=True)
    # connected components run in compact nid space (16-byte binary vs
    # 64-char sha strings — 4x less through every CC round and through
    # the driver fast path). nid is the sha's hex prefix, so byte order
    # equals sha order and min-nid labels translate EXACTLY to min-sha
    # labels via the nid map afterwards (one scalable equi-join pair,
    # strategy left to AQE).
    nid_map = signed.select("nid", "sha")
    labels_nid, rounds = connected_components(
        edges_nid.select("id_a", "id_b"), cfg.cc_max_iterations, checkpointer=ck
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
        reload_metrics=("dissect",),
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
