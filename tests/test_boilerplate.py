"""Boilerplate detection/stripping and its effect on candidate skew."""

import pyspark.sql.functions as F

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.corpus import _LICENSE, generate_files
from fastqdedup_spark.operators.boilerplate import common_lines, strip_boilerplate
from fastqdedup_spark.pipeline import dedup_files


def test_common_lines_finds_license(spark):
    files = generate_files(spark, 240, seed=5)  # 1/3 of families share _LICENSE
    boiler = common_lines(files, "content", doc_frac=0.2)
    found = {r.line for r in boiler.collect()}
    license_lines = {l.strip() for l in _LICENSE.strip().split("\n")}
    assert license_lines <= found
    # ordinary content lines are random word salad: none should qualify
    assert len(found) <= len(license_lines) + 2


def test_strip_boilerplate_removes_only_those_lines(spark):
    files = generate_files(spark, 120, seed=5)
    boiler = common_lines(files, "content", doc_frac=0.2)
    stripped = strip_boilerplate(files, boiler, "content")
    row = stripped.filter(F.col("content").contains("Copyright")).first()
    assert row is not None
    assert "Copyright" not in row.content_stripped
    # non-boilerplate content preserved verbatim (line sets minus boiler)
    kept = [l for l in row.content.split("\n") if "License" not in l and "Copyright" not in l and "obtain a copy" not in l.lower()]
    assert all(l in row.content_stripped for l in kept if l.strip())


def test_pipeline_with_stripping_cuts_skew_keeps_recall(spark):
    files = generate_files(spark, 800, seed=9).cache()
    base_cfg = DedupConfig(shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.6)
    strip_cfg = DedupConfig(
        shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.6,
        strip_boilerplate_frac=0.2,
    )
    r1 = dedup_files(spark, files, base_cfg, quality=False)
    r2 = dedup_files(spark, files, strip_cfg, quality=False)
    # exact copies still collapse and near-dup families still cluster
    for r in (r1, r2):
        fam = r.deduped.filter(F.col("kind").isin("base", "exact")).groupBy(
            "family_id").count().collect()
        assert all(x["count"] == 1 for x in fam)
    # stripping must not balloon the output (same or fewer survivors:
    # header-only overlaps vanish, real near-dups remain)
    assert abs(r2.deduped.count() - r1.deduped.count()) <= 800 * 0.05
