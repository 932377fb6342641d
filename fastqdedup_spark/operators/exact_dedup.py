"""Exact-duplicate tier (SURVEY.md M1).

Reference semantics re-expressed:
- O5 group-by-count: identical keys collapse with an incremented count
  (trie insert, /root/reference/src/fastqdedup/_triemodule.c:222-288)
  -> `groupBy(sha256(content)).count()`.
- O9 highest_count representative -> deterministic per-group min/max.
- O13 survivor semi-join + first-wins emission
  (/root/reference/src/fastqdedup/__init__.py:189-206): each surviving
  key emitted exactly once.

Scale notes: representative selection uses `min(struct(...))` inside the
SAME aggregation as the count — one shuffle on `sha`, fully
partial-aggregated map-side (no window sort over the whole table). The
reference's "first occurrence in file order wins" is order-dependent; a
distributed table has no file order, so first-wins is defined by the
deterministic total order (repo, path, commit) — documented semantic
re-grounding, invariant under partitioning.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def with_sha256(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Adds the per-row `sha` invariant column (BASELINE.json input_hint:
    content sha256 equality must be preserved end-to-end). JVM-side
    `sha2` — no Python involved."""
    return df.withColumn("sha", F.sha2(F.col(content_col), 256))


def exact_group_counts(df: DataFrame) -> DataFrame:
    """sha -> (cnt, representative id/repo/path/commit). One shuffle."""
    return df.groupBy("sha").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("repo", "path", "commit", "id")).alias("rep"),
    )


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep EXACTLY one row per distinct content; first-wins by
    (repo, path, commit). Input must already have `sha`.

    Aggregation-only: one groupBy, no join-back. The earlier inner
    join on (sha, repo, path, commit) matched EVERY input copy of the
    representative row, so a fully-duplicated input row (same
    repo/path/commit/content twice — two ingestion batches unioned is
    enough) emitted two output rows for one distinct content. The
    aggregation guarantees row-per-sha uniqueness by construction and
    drops the join stage entirely. Non-key columns ride the min-struct
    (they must be orderable types); `content` is fetched with first()
    — identical per sha by definition."""
    lead = ["repo", "path", "commit"]
    rest = [c for c in df.columns if c not in (*lead, "sha", "content")]
    out = (
        df.groupBy("sha")
        .agg(
            F.min(F.struct(*lead, *rest)).alias("_rep"),
            F.first("content").alias("_content"),
            F.count(F.lit(1)).alias("exact_count"),
        )
    )
    cols = [
        (F.col("_content") if c == "content" else F.col(f"_rep.{c}")).alias(c)
        for c in df.columns
        if c != "sha"
    ]
    return out.select(*cols, "sha", "exact_count")
