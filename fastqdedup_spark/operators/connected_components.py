"""Single-linkage clustering as iterative DataFrame connected components
(SURVEY.md M5) — hash-min label propagation.

Re-grounds the reference's destructive BFS cluster extraction
(`Trie.pop_cluster`, /root/reference/src/fastqdedup/_triemodule.c:760-897):
the transitive closure under "exists a pair within radius" is exactly a
connected-components labelling, and single-linkage partitions are
order-independent, so the sequential pop order doesn't need mirroring.
Determinism: the final label is the component-minimum id (the reference
seeds clusters with the alphabetically-first sequence,
_triemodule.c:510-551 — same spirit: a canonical, input-order-free label).

Scale design:
- labels converge in O(diameter) rounds; duplicate-cluster graphs are
  shallow (star-ish), so this beats large-star/small-star's constant
  factors in practice while staying O(log n) safe via the iteration cap.
- a FRONTIER optimization mirrors the reference's shrinking-work trick
  (P8, delete-as-you-cluster): only labels that changed last round are
  re-propagated, so late rounds touch a vanishing fraction of edges.
- `localCheckpoint(eager=True)` after every round truncates the lineage
  (an unchecked iterative plan grows exponentially); with a configured
  checkpoint dir the labels are also persisted for idempotent resume.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from fastqdedup_spark.session import driver_table


def _driver_union_find(sym: DataFrame) -> DataFrame:
    """Exact CC on the driver for small edge sets: union-find with path
    halving, labels = component-minimum id (identical semantics to the
    distributed loop). The near-dup edge graph is typically tiny
    relative to the corpus — a distributed iterative loop on a 100k-edge
    graph spends 10x its compute time on per-round job scheduling."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])  # path halving
            x = parent[x]
        return x

    # Arrow toPandas: row materialization through py4j costs ~10x more
    # than the union-find loop itself at ~10^5 edges — this collect is
    # the pipeline's one serial driver step, keep it lean
    pdf = sym.toPandas()
    seen = set()
    for a, b in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
        seen.add(a)
        seen.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    # find() roots are union-by-min, so root == component minimum
    nodes = list(seen)
    id_type = sym.schema[0].dataType
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("cluster_id", id_type)]
    )
    return driver_table(sym.sparkSession, schema, [nodes, [find(v) for v in nodes]])


def connected_components(
    edges: DataFrame, max_iterations: int = 50, checkpointer=None,
    driver_max_edges: int = 500_000,
) -> tuple[DataFrame, int]:
    """edges: (id_a, id_b) undirected. Returns ((id, cluster_id), rounds).

    cluster_id is the minimum id in the component (same type as the id
    columns — use sha256 strings or long ids; strings stay
    collision-free at 10^12 rows where 64-bit hashes would not).

    `checkpointer` (a StageCheckpointer with a durable dir) makes every
    ROUND resumable: round r's labels persist as stage `cc_round_{r}`,
    so a job killed mid-CC restarts from its last completed round
    instead of from round 1 (north_rule: every stage resumes
    idempotently — the iterative stage included). Without it, rounds
    are localCheckpoint-ed only (plan truncation, no durability).
    """
    # ONE pass over edges: a self-union of an unmaterialized edges plan
    # scans the expensive upstream (the Arrow verify stage) TWICE inside
    # the same materialization job — measured at 192k files, the python
    # verify ran back-to-back as two ~1000 core-s stages. explode keeps
    # the symmetrization single-scan regardless of how lazy the input is.
    from fastqdedup_spark.checkpoint import MetricsCollector

    # the edge count (tier decision below, and the pipeline's edges.n)
    # rides the symmetrization's own materialization via Dataset.observe
    # — localCheckpoint is a withAction, so CollectMetrics fires during
    # the checkpoint job and no separate count() job runs
    metrics = checkpointer.metrics if checkpointer is not None else MetricsCollector()
    sym = (
        metrics.observe(edges, {"edges.n": F.count(F.lit(1))})
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    n_edges = 2 * int(metrics.as_dict()["edges.n"])
    # small graphs: the iterative loop's per-round driver latency (3-5
    # Spark jobs x O(100ms) x rounds) dwarfs the actual work — run exact
    # union-find on the driver instead. Same labels, zero rounds. The
    # distributed loop remains the path for graphs that don't fit a
    # driver (driver_max_edges=0 forces it, used by its own tests).
    if n_edges <= 2 * driver_max_edges:
        return _driver_union_find(sym), 0
    # right-size the loop's parallelism to the graph: duplicate graphs
    # are usually tiny relative to the corpus, and per-round fixed task
    # overhead at full parallelism otherwise dominates the iteration
    # (~50k edges per partition; full parallelism for big graphs)
    npart = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 50_000 + 1))
    sym = sym.repartition(npart, "src").localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("dst").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    frontier = labels  # labels that changed last round (all, initially)
    rounds = 0
    for rounds in range(1, max_iterations + 1):
        # push the frontier's labels across edges, take the min per node
        candidates = (
            sym.join(
                frontier.select(F.col("id").alias("src"), "label"), "src"
            )
            .groupBy("dst")
            .agg(F.min("label").alias("cand"))
            .select(F.col("dst").alias("id"), "cand")
        )
        propagated = labels.join(candidates, "id", "left").select(
            "id", F.least(F.col("label"), F.coalesce("cand", "label")).alias("label")
        )
        # pointer doubling (label <- label-of-label): collapses chains
        # exponentially, so convergence is O(log diameter) rounds rather
        # than O(diameter) — a gradually-mutating near-dup CHAIN would
        # otherwise outrun any fixed iteration cap and mislabel silently
        shortcut = propagated.alias("x").join(
            propagated.select(
                F.col("id").alias("label"), F.col("label").alias("label2")
            ).alias("y"),
            "label",
            "left",
        ).select("id", F.least("label", F.coalesce("label2", "label")).alias("label"))
        # one materialization per round carries BOTH the new labels and
        # the change flag; the change count and next frontier are then
        # cheap scans of the checkpointed result. With a durable
        # checkpointer the round persists (resume restarts here, not at
        # round 1); a previously-completed round loads back instantly.
        def _build(shortcut=shortcut, labels=labels):
            return labels.withColumnRenamed("label", "old").join(
                shortcut, "id"
            ).select(
                "id", "label", (F.col("label") < F.col("old")).alias("changed")
            )

        if checkpointer is not None and checkpointer.base:
            new = checkpointer.stage(f"cc_round_{rounds:03d}", _build)
        else:
            new = _build().localCheckpoint(eager=True)
        labels = new.select("id", "label")
        # single frontier build: the emptiness probe runs on the SAME
        # filtered plan the next round consumes (one limit(1) job over
        # the checkpointed round, not two separate filter scans)
        frontier = new.filter("changed").select("id", "label")
        if frontier.limit(1).isEmpty():
            break
    return labels.withColumnRenamed("label", "cluster_id"), rounds
