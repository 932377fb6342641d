"""Cluster dissection (SURVEY.md M6) — survivor selection per cluster.

The four methods of the reference's registry
(/root/reference/src/fastqdedup/__init__.py:125-130) plus the graft's
`canonical`:

- highest_count  (ref __init__.py:94-102)  -> pure aggregate, no Python
- canonical      (graft-only)               -> pure aggregate, no Python
- adjacency      (ref __init__.py:105-122)  -> applyInPandas per cluster
- directional    (ref __init__.py:60-91)    -> applyInPandas per cluster

adjacency/directional are inherently sequential *within* a cluster
(each survivor's choice depends on prior removals), so they run as
grouped-map pandas UDFs: one cluster = one pandas group, executed in
parallel ACROSS clusters. The per-cluster kernels are the SAME
functions the pure-Python oracle uses (fastqdedup_spark.oracle) — parity
is tested once, against the reference's golden fixtures.

Scale guard: a grouped map pulls a whole cluster onto one worker.
Clusters larger than `max_cluster_size` (boilerplate mega-clusters)
fall back to `canonical` — a documented semantic deviation, counted in
the metrics, never silent.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from fastqdedup_spark.oracle import CLUSTER_DISSECTION_METHODS


def dissect_clusters(
    clusters: DataFrame,
    method: str = "directional",
    max_distance: int = 1,
    use_edit_distance: bool = False,
    max_cluster_size: int = 5_000,
    max_cluster_bytes: int = 256 << 20,
    within=None,
    metrics=None,
    cmp_source: DataFrame | None = None,
) -> DataFrame:
    """clusters: (cluster_id, key, cnt[, cmp | cmp_len]) -> survivors
    (cluster_id, key).

    `key` is the survivor identity; the optional `cmp` column is what
    the radius predicate compares (parity mode: key itself; code mode:
    normalized content while key stays the sha). `cnt` is the
    exact-duplicate multiplicity (P9 pre-aggregation: the trie collapses
    duplicates before clustering, _triemodule.c:233-239 — we groupBy
    upstream). `within` overrides the Hamming/edit predicate (e.g.
    oracle.jaccard_within for the code domain).

    `max_cluster_size` bounds the O(n^2) per-cluster Python kernels: the
    directional/adjacency predicates cost up to size^2 calls inside ONE
    pandas group, so a 100k-member boilerplate mega-cluster would park
    ~10^10 predicate calls on one worker. `max_cluster_bytes` bounds the
    packed row weight (code mode carries full normalized content per
    member). Clusters above either bound fall back to `canonical` — a
    documented semantic deviation, counted via `metrics` (a
    MetricsCollector, read after the result is materialized) when
    provided, never silent. Both knobs are plumbed from DedupConfig /
    the CLI.
    """
    if method == "highest_count":
        # survivor = max (cnt, key) tuple per cluster; ties -> greatest key
        return clusters.groupBy("cluster_id").agg(
            F.max(F.struct("cnt", "key")).alias("m")
        ).select("cluster_id", F.col("m.key").alias("key"))
    if method == "canonical":
        return clusters.groupBy("cluster_id").agg(F.min("key").alias("key"))
    if method not in CLUSTER_DISSECTION_METHODS:
        raise ValueError(f"unknown dissection method: {method}")

    kernel = CLUSTER_DISSECTION_METHODS[method]
    has_cmp = "cmp" in clusters.columns or cmp_source is not None

    # split mega-clusters off to the aggregate fallback; sizes has one
    # row per cluster (corpus-scaled), so the join strategy stays with
    # AQE rather than a forced broadcast
    # singleton clusters (the bulk of any real corpus) never touch the
    # Python kernel: every dissection method returns the lone member, so
    # they pass through as a pure-JVM projection — the grouped-map
    # stage only sees multi-member clusters (measured: ~80% fewer
    # pandas groups on the docs corpus)
    # the byte bound guards the collect_list pack below: in code mode
    # each member struct carries full normalized content, so a
    # 5k-member cluster of 1 MB files would be a 5 GB single row —
    # over Spark's 2 GB row/buffer limits. Oversized-by-bytes clusters
    # take the canonical fallback exactly like oversized-by-count ones.
    # ONE thin aggregation routes every cluster AND resolves the two
    # aggregate-only branches outright: carrying min(key) in the same
    # pass means singletons (the bulk of any real corpus) and oversized
    # fallbacks need NO join back to the member table at all — their
    # survivor IS the carried min. Only the multi-member, in-bounds
    # clusters re-touch `clusters`, via a thin semi-join that reuses
    # the same cluster_id exchange the aggregation established (the
    # old shape joined the full member table against sizes and then
    # filtered it three ways — one extra corpus-wide join and a
    # triple-evaluated join subtree; measured as the bulk of a
    # 1.4-3.1 s survivors stage at bench sizes).
    if "cmp_len" in clusters.columns:
        byte_expr = F.sum("cmp_len")
    elif "cmp" in clusters.columns:
        byte_expr = F.sum(F.length("cmp"))
    else:
        byte_expr = F.min(F.lit(0))
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("_csize"),
        F.coalesce(byte_expr.cast("long"), F.lit(0)).alias("_cbytes"),
        F.min("key").alias("_minkey"),
    )
    # A singleton is never "oversized": every method returns the lone
    # member, so it needs no dissection kernel regardless of bytes.
    # Without the _csize > 1 guard a byte-oversized single-member
    # cluster would match BOTH the singles branch and the big branch
    # and its survivor row would be emitted twice by the final union.
    oversized = (
        (F.col("_csize") > max_cluster_size)
        | (F.col("_cbytes") > max_cluster_bytes)
    ) & (F.col("_csize") > 1)
    singles = sizes.filter(F.col("_csize") == 1).select(
        "cluster_id", F.col("_minkey").alias("key")
    )
    big_out = sizes.filter(oversized).select(
        "cluster_id", F.col("_minkey").alias("key")
    )
    if metrics is not None:
        # the fallback counter rides the final materialization via an
        # observation on the fallback branch itself (its row count IS
        # the cluster count), so it costs no Spark job. It cannot ride
        # `sizes`: sizes feeds three plan branches, and a CollectMetrics
        # node duplicated across branches trips the analyzer's
        # duplicate-observation check.
        big_out = metrics.observe(
            big_out, {"dissect.fallback_clusters": F.count(F.lit(1))}
        )
        metrics.add("dissect", "max_cluster_size", max_cluster_size)
    small = clusters.join(
        sizes.filter((F.col("_csize") > 1) & ~oversized).select("cluster_id"),
        "cluster_id",
        "left_semi",
    )
    if cmp_source is not None:
        # heavy payload attaches HERE, after routing: only kernel-bound
        # members fetch their content
        small = small.join(
            cmp_source.select(F.col(cmp_source.columns[0]).alias("key"),
                              F.col(cmp_source.columns[1]).alias("cmp")),
            "key",
        )

    # Dup-cluster corpora have MANY small clusters; one grouped-map
    # pandas group per cluster pays a JVM<->Python crossing each
    # (measured ~1.5 ms/group — the dissect stage was ~all overhead).
    # Instead each cluster is packed into ONE ROW via collect_list and a
    # single mapInPandas dissects every whole cluster in an Arrow batch.
    #
    # Row atomicity is the load-bearing property: an earlier version
    # relied on repartition(cluster_id) + sortWithinPartitions to
    # co-locate clusters for a streaming grouped scan, but a plain
    # mapInPandas declares NO required distribution, so Catalyst may
    # elide the "redundant" exchange against an upstream join's
    # partitioning and AQE may then replan that join (broadcast
    # conversion + local shuffle reads) — silently breaking the
    # co-location and splitting clusters across tasks (observed at 384k
    # files: absorption failed for most clusters, and the output varied
    # with core count). collect_list is an aggregation, so Spark
    # GUARANTEES each cluster arrives complete, under any planning.
    member_struct = (
        F.struct("key", "cnt", "cmp") if has_cmp else F.struct("key", "cnt")
    )
    # Width note: the pack exchange's input bytes are small (~4 MB at
    # 24k files), so AQE's byte-based coalescing starved this CPU-bound
    # kernel down to 1-3 tasks. An explicit keyed repartition here gets
    # ELIDED whenever the semi-join above already established the
    # cluster_id partitioning (its ENSURE_REQUIREMENTS exchange is the
    # coalesced one) — the session-level
    # spark.sql.adaptive.coalescePartitions.minPartitionSize=64k floor
    # (session.py) is what actually restores the stage's width.
    packed = small.groupBy("cluster_id").agg(
        F.collect_list(member_struct).alias("members")
    )

    def gen(batches):
        for pdf in batches:
            out_cids: list = []
            out_keys: list = []
            for cid, members in zip(pdf["cluster_id"], pdf["members"]):
                cluster = [(int(m["cnt"]), m["key"]) for m in members]
                cmp = [m["cmp"] for m in members] if has_cmp else None
                if cmp is not None and hasattr(within, "prepare"):
                    # e.g. jaccard_within: shingle each member once, not
                    # once per pairwise comparison (O(n), not O(n^2))
                    cmp = within.prepare(cmp)
                survivors = list(
                    kernel(
                        cluster, max_distance, use_edit_distance,
                        cmp=cmp, within=within,
                    )
                )
                out_cids.extend([cid] * len(survivors))
                out_keys.extend(survivors)
            yield pd.DataFrame({"cluster_id": out_cids, "key": out_keys})

    # output schema mirrors the INPUT's cluster_id/key types: a
    # hardcoded "string" would coerce a caller's bigint cluster ids
    # through the final unionByName, silently changing the result
    # schema and breaking downstream equi-joins on cluster_id
    cid_t = clusters.schema["cluster_id"].dataType.simpleString()
    key_t = clusters.schema["key"].dataType.simpleString()
    small_out = packed.mapInPandas(gen, f"cluster_id {cid_t}, key {key_t}")
    return singles.unionByName(small_out).unionByName(big_out)
