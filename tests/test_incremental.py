"""Incremental-dedup contract (incremental.py module docstring):

tier 1  exact sha vs everything ever seen,
tier 2  Jaccard >= threshold vs index SURVIVORS only,
tier 3  full batch pipeline among the remainder,
index appends idempotent, reruns bit-identical, model drift refused —
all pinned against a pure-Python oracle implementing the same
three-tier semantics from first principles (hashlib + shingle sets +
union-find), and the broadcast/shuffled band-join paths must agree.
"""

import hashlib
import os
import re

import pyspark.sql.functions as F
import pytest

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.corpus import generate_files
from fastqdedup_spark.functions.minhash import shingle_set
from fastqdedup_spark.incremental import (
    DedupIndex,
    build_index,
    cross_candidate_pairs,
    dedup_files_incremental,
)
from fastqdedup_spark.oracle import _UnionFind

CFG = DedupConfig(
    shingle_k=7, jaccard_threshold=0.8, dissection="canonical"
)
N_FILES = 600


def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text.lower()).strip()


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _jac(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def _batch_oracle(contents: list[str], k: int, thr: float) -> set:
    """Batch dedup oracle (canonical dissection): distinct contents,
    union-find over exact-Jaccard edges, min-sha survivor per cluster."""
    distinct = sorted({c for c in contents})
    shas = [_sha(c) for c in distinct]
    sh = [shingle_set(_norm(c), k) for c in distinct]
    uf = _UnionFind(len(distinct))
    for i in range(len(distinct)):
        for j in range(i + 1, len(distinct)):
            if _jac(sh[i], sh[j]) >= thr:
                uf.union(i, j)
    clusters: dict[int, list[str]] = {}
    for i, s in enumerate(shas):
        clusters.setdefault(uf.find(i), []).append(s)
    return {min(members) for members in clusters.values()}


def _incremental_oracle(
    old_contents: list[str], new_contents: list[str], k: int, thr: float
):
    """Returns (dropped_exact, dropped_near, kept) as sha sets over the
    DISTINCT new contents (file-level mapping is 1:sha here)."""
    old_all = {_sha(c) for c in old_contents}
    old_surv_shas = _batch_oracle(old_contents, k, thr)
    by_sha = {_sha(c): c for c in old_contents}
    old_surv_shingles = [shingle_set(_norm(by_sha[s]), k) for s in old_surv_shas]

    new_distinct = sorted({c for c in new_contents})
    t1 = {_sha(c) for c in new_distinct if _sha(c) in old_all}
    fresh = [c for c in new_distinct if _sha(c) not in old_all]
    t2 = {
        _sha(c)
        for c in fresh
        if any(_jac(shingle_set(_norm(c), k), s) >= thr for s in old_surv_shingles)
    }
    remainder = [c for c in fresh if _sha(c) not in t2]
    kept = _batch_oracle(remainder, k, thr)
    return t1, t2, kept


def _tier_rows(metrics: dict) -> tuple:
    return tuple(
        metrics[k] for k in (
            "incremental.dropped_exact", "incremental.dropped_near",
            "incremental.kept", "batch.input.files",
        )
    )


def _oracle_tier_rows(new_contents: list[str], t1: set, t2: set, kept: set) -> tuple:
    """(dropped_exact, dropped_near, kept, tier-3 input) as file rows:
    tiers 1-2 drop every copy of a sha, tier 3 keeps one file per
    surviving sha and sees every copy of the rest."""
    shas = [_sha(c) for c in new_contents]
    return (
        sum(s in t1 for s in shas),
        sum(s in t2 for s in shas),
        len(kept),
        sum(s not in t1 and s not in t2 for s in shas),
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_files(spark, N_FILES, seed=11).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def split(corpus):
    old = corpus.filter(F.crc32(F.col("path")) % 3 != 0)
    new = corpus.filter(F.crc32(F.col("path")) % 3 == 0)
    return old, new


@pytest.fixture(scope="module")
def built(spark, split, tmp_path_factory):
    old, _ = split
    path = str(tmp_path_factory.mktemp("incr") / "ix")
    res, idx = build_index(spark, old, CFG, path, quality=False)
    return res, idx


def test_incremental_matches_python_oracle(spark, split, built):
    old, new = split
    _, idx = built
    inc = dedup_files_incremental(
        spark, new, CFG, idx, quality=False, update_index=False
    )
    old_contents = [r["content"] for r in old.select("content").collect()]
    new_contents = [r["content"] for r in new.select("content").collect()]
    t1, t2, kept = _incremental_oracle(
        old_contents, new_contents, CFG.shingle_k, CFG.jaccard_threshold
    )
    got_t1 = {r["sha"] for r in inc.dropped_exact.select("sha").collect()}
    got_t2 = {r["sha"] for r in inc.dropped_near.select("sha").collect()}
    got_kept = {r["sha"] for r in inc.deduped.select("sha").collect()}
    assert got_t1 == t1
    assert got_t2 == t2
    assert got_kept == kept
    # every tier produced work (otherwise the oracle equality is vacuous)
    assert t1 and t2 and kept
    # the observed tier counts are the oracle tiers' FILE rows
    assert _tier_rows(inc.metrics) == _oracle_tier_rows(new_contents, t1, t2, kept)


def test_tier3_matches_dedup_files_on_remainder(spark, split, built):
    """Tier 3 clusters the signed batch left over by tiers 1-2 with the
    batch pipeline's tail, without re-aggregating or re-signing it. Its
    output must equal dedup_files over the oracle's remainder in every
    column (the first-wins rep of duplicated copies included), and its
    input/distinct/output counts must equal that run's metrics."""
    from fastqdedup_spark.incremental import dedup_files

    old, new = split
    _, idx = built
    # exact copies under a path that sorts first and another id: the
    # copy, not the original, is the first-wins representative
    copies = new.filter(F.col("id") % 4 == 0).withColumn(
        "path", F.concat(F.lit(" "), "path")
    ).withColumn("id", F.col("id") + 10 * N_FILES)
    batch = new.unionByName(copies)
    inc = dedup_files_incremental(
        spark, batch, CFG, idx, quality=False, update_index=False
    )
    old_contents = [r["content"] for r in old.select("content").collect()]
    new_contents = [r["content"] for r in batch.select("content").collect()]
    t1, t2, _ = _incremental_oracle(
        old_contents, new_contents, CFG.shingle_k, CFG.jaccard_threshold
    )
    dropped = spark.createDataFrame([(s,) for s in t1 | t2], "sha string")
    remainder = batch.join(
        dropped, F.sha2("content", 256) == dropped["sha"], "left_anti"
    )
    assert remainder.groupBy("content").count().filter("count > 1").count() > 0
    want = dedup_files(spark, remainder, CFG, quality=False)

    def rows(df):
        return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())

    assert inc.deduped.columns == want.deduped.columns
    assert rows(inc.deduped) == rows(want.deduped)
    for k in ("input.files", "distinct.contents", "output.files"):
        assert inc.metrics[f"batch.{k}"] == want.metrics[k], k


def test_batch_oracle_matches_build(split, built):
    old, _ = split
    res, _ = built
    old_contents = [r["content"] for r in old.select("content").collect()]
    want = _batch_oracle(old_contents, CFG.shingle_k, CFG.jaccard_threshold)
    got = {r["key"] for r in res.survivors.select("key").collect()}
    assert got == want


def test_rerun_same_batch_is_bit_identical(spark, split, tmp_path):
    """Crash-after-append resume: the second run of batch id b must see
    the index exactly as the first run did (its own appended state is
    excluded from reads) and reproduce the same output."""
    old, new = split
    _, idx = build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False)
    one = dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    two = dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    k1 = sorted(r["sha"] for r in one.deduped.select("sha").collect())
    k2 = sorted(r["sha"] for r in two.deduped.select("sha").collect())
    assert k1 == k2 and k1


def test_chaining_across_increments(spark, split, tmp_path):
    """Increment 2 must dedup against increment 1's RETAINED state:
    an exact copy of any inc-1 file dies in tier 1, and a near-dup of
    an inc-1 survivor dies in tier 2."""
    old, new = split
    _, idx = build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False)
    one = dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    kept1 = one.deduped
    assert kept1.count() > 0
    # batch 2: exact copies of inc-1 KEPT files (new paths, same content)
    # + near-dup mutations of them (append a short token tail: >= 0.8
    # Jaccard for the generated file sizes)
    exact2 = kept1.select(
        F.col("repo"), F.concat(F.col("path"), F.lit(".again")).alias("path"),
        F.col("commit"), F.col("lang"), F.col("content"),
    )
    near2 = kept1.select(
        F.col("repo"), F.concat(F.col("path"), F.lit(".near")).alias("path"),
        F.col("commit"), F.col("lang"),
        F.concat(F.col("content"), F.lit(" tail marker")).alias("content"),
    )
    two = dedup_files_incremental(
        spark, exact2.unionByName(near2), CFG, idx, quality=False, batch_id="b2"
    )
    n_exact = two.dropped_exact.count()
    n_kept1 = kept1.count()
    assert n_exact == n_kept1  # every exact copy died in tier 1
    # the mutated copies mostly die in tier 2 (a few fall below 0.8 for
    # short files); none may die in tier 1
    assert two.dropped_near.count() > 0
    assert two.dropped_exact.join(
        near2.select(F.sha2("content", 256).alias("sha")), "sha", "left_semi"
    ).count() == 0


# Spark jobs of one increment below (tier probes, tier-3 clustering,
# append), measured once the batch was aggregated and signed once, the
# index read with its known schema and the near probe's band join
# materialized once, and with the plan shapes chosen from observed
# counts (broadcast survivor semi-joins, `hits` unpinned, `clusters`
# fused into survivors, no fan-out for short Arrow stages), and with
# the union-find labels built from Arrow (`survivors` 5 -> 2 jobs). A
# new action on this path fails the guard.
INCREMENT_JOB_FLOOR = 24
# Spark jobs of the seed build (build_index into an empty index): the
# same path, whose empty as-of view skips the tier-1/2 probes (no
# `cand` or `remainder`), so tier 3 takes the signatures stage as is.
BUILD_JOB_FLOOR = 17
# Spark jobs of the batch run (dedup_files, no index): the seed build
# without the append.
BATCH_JOB_FLOOR = 14


def _jobs_of(spark, group: str, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_increment_job_floor(spark, split, tmp_path):
    """Counts ride materializations that run anyway: no count() or
    collect() comes back on the batch run, the seed build or the
    increment unnoticed."""
    from fastqdedup_spark.incremental import dedup_files

    old, new = split
    batch, n_batch = _jobs_of(
        spark, "test-batch-job-floor",
        lambda: dedup_files(spark, old, CFG, quality=False),
    )
    (res, idx), n_build = _jobs_of(
        spark, "test-build-job-floor",
        lambda: build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False),
    )
    inc, n_jobs = _jobs_of(
        spark, "test-increment-job-floor",
        lambda: dedup_files_incremental(
            spark, new, CFG, idx, quality=False, batch_id="b1"
        ),
    )
    assert batch.metrics["output.files"] == res.metrics["output.files"] > 0
    assert inc.metrics["incremental.kept"] > 0
    assert n_batch <= BATCH_JOB_FLOOR
    assert n_build <= BUILD_JOB_FLOOR
    assert n_jobs <= INCREMENT_JOB_FLOOR


def test_no_python_rdd_on_build_or_increment(spark, tmp_path, monkeypatch):
    """The driver-side tables (lineage, _metrics, the union-find labels,
    the empty as-of view) travel to the JVM as Arrow: no Python RDD is
    built, so no second pool of Python workers starts beside the UDFs'.
    A corpus without near-duplicates makes the durable seed build write
    the empty `pairs` and `edges` stages and run union-find over zero
    edges, the cases that used to build one."""
    from dataclasses import replace as _replace

    import pyspark.rdd

    def files(lo, hi):
        return spark.range(lo, hi, 1, 2).select(
            F.lit("r").alias("repo"),
            F.concat(F.lit("p"), F.col("id")).alias("path"),
            F.lit("c").alias("commit"),
            F.lit("py").alias("lang"),
            F.concat_ws(
                " ", *(F.sha2(F.concat(F.lit(s), F.col("id")), 512) for s in "ab")
            ).alias("content"),
        ).localCheckpoint(eager=True)

    old, new = files(0, 40), files(40, 60)
    built = []
    init = pyspark.rdd.PipelinedRDD.__init__

    def counting(self, *args, **kwargs):
        built.append(self)
        init(self, *args, **kwargs)

    monkeypatch.setattr(pyspark.rdd.PipelinedRDD, "__init__", counting)
    durable = _replace(CFG, checkpoint_dir=str(tmp_path / "ck"))
    res, idx = build_index(spark, old, durable, str(tmp_path / "ix"), quality=False)
    inc = dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    assert res.metrics["output.files"] == 40
    assert inc.metrics["incremental.kept"] == 20
    assert built == []


def test_model_mismatch_refused(spark, split, tmp_path):
    old, _ = split
    build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False)
    other = DedupConfig(shingle_k=9, jaccard_threshold=0.8, dissection="canonical")
    with pytest.raises(ValueError, match="different similarity model"):
        DedupIndex(spark, str(tmp_path / "ix"), other)


def test_broadcast_and_shuffled_paths_agree(spark, split, built):
    """The two physical forms of the cross band join (broadcast-new vs
    shuffled equi-join) must emit identical candidate pairs, and the
    broadcast form must actually broadcast the NEW side only."""
    from fastqdedup_spark.functions.minhash import add_signature_columns, normalize_content

    old, new = split
    _, idx = built
    new_signed = add_signature_columns(
        new.groupBy(F.sha2("content", 256).alias("sha")).agg(
            F.first("content").alias("content")
        ).withColumn("content_norm", normalize_content("content")).select(
            "sha", "content_norm"
        ),
        CFG,
    ).withColumn("nid", F.unhex(F.substring("sha", 1, 32)))
    old_signed = idx.signed_survivors()
    bc = cross_candidate_pairs(old_signed, new_signed, CFG, broadcast_new=True)
    sh = cross_candidate_pairs(old_signed, new_signed, CFG, broadcast_new=False)
    got_bc = {(r["id_a"], r["id_b"]) for r in bc.collect()}
    got_sh = {(r["id_a"], r["id_b"]) for r in sh.collect()}
    assert got_bc == got_sh and got_bc
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # no negative assert on the shuffled form: at test scale AQE
    # rightly converts the small exchange back to a broadcast join —
    # the point of leaving the plan to AQE on the big-increment path


def test_oversized_increment_path_agrees(spark, split, built):
    """An increment past incremental_broadcast_max_rows must drop EVERY
    forced new-side broadcast hint (tier-1 sha tables, tier-2 band join
    and hit tables) and still produce identical tiers — the hint
    override is the only difference between the two regimes."""
    from dataclasses import replace as _replace

    old, new = split
    _, idx = built
    small = dedup_files_incremental(
        spark, new, CFG, idx, quality=False, update_index=False
    )
    big_cfg = _replace(CFG, incremental_broadcast_max_rows=0)
    big = dedup_files_incremental(
        spark, new, big_cfg, idx, quality=False, update_index=False
    )
    for attr in ("dropped_exact", "dropped_near", "deduped"):
        a = sorted(r["sha"] for r in getattr(small, attr).select("sha").collect())
        b = sorted(r["sha"] for r in getattr(big, attr).select("sha").collect())
        assert a == b and a, attr
    assert big.metrics["incremental.broadcast_new"] == 0.0
    assert small.metrics["incremental.broadcast_new"] == 1.0


def test_index_batch_with_shingle_count_column_still_reads(spark, split, built, tmp_path):
    """Index batches written before the signer stopped counting distinct
    shingles carry a sixth column, `n_shingles`, between content_norm
    and band_hash. The index reads pass the five-column schema, so an
    increment against such a batch runs and finds the same tiers as
    against a batch written today."""
    import shutil

    old, new = split
    path = str(tmp_path / "ix")
    build_index(spark, old, CFG, path, quality=False)
    batch_dir = os.path.join(path, "index", "base")
    legacy = spark.read.parquet(batch_dir).select(
        "sha", "nid", "content_norm",
        F.size("band_hash").cast("int").alias("n_shingles"),
        "band_hash", "sig_packed",
    )
    staged = str(tmp_path / "legacy_batch")
    legacy.write.parquet(staged)
    shutil.rmtree(batch_dir)
    shutil.move(staged, batch_dir)
    assert "n_shingles" in spark.read.parquet(batch_dir).columns
    idx = DedupIndex(spark, path, CFG)
    assert "n_shingles" not in idx.signed_survivors().columns
    got = dedup_files_incremental(
        spark, new, CFG, idx, quality=False, update_index=False
    )
    want = dedup_files_incremental(
        spark, new, CFG, built[1], quality=False, update_index=False
    )
    for attr in ("dropped_exact", "dropped_near", "deduped"):
        a = sorted(r["sha"] for r in getattr(got, attr).select("sha").collect())
        b = sorted(r["sha"] for r in getattr(want, attr).select("sha").collect())
        assert a == b and a, attr


def test_half_appended_batch_is_invisible_and_self_heals(spark, split, tmp_path):
    """A crash between append()'s two writes must leave the batch
    invisible (is_empty stays True for a partial base build and both
    reads are empty: half a batch is an index no run produced) and a
    retry must rebuild over the debris."""
    old, _ = split
    path = str(tmp_path / "ix")
    # simulate both partial states: index-only (the new write order's
    # real crash window) and fingerprints-only (legacy order debris)
    for sub in ("index", "fingerprints"):
        p = os.path.join(path, sub, "base")
        os.makedirs(p, exist_ok=True)
        if sub == "index":
            open(os.path.join(p, "_SUCCESS"), "w").close()
        idx = DedupIndex(spark, path, CFG)
        assert idx.is_empty
        # the partial batch is not read: the index reads as empty tables
        assert idx.fingerprints().count() == 0
        assert idx.signed_survivors().count() == 0
    # the retry overwrites the debris and completes
    res, idx = build_index(spark, old, CFG, path, quality=False)
    assert not idx.is_empty and idx.has_batch("base")
    assert idx.fingerprints().count() > 0


def test_index_append_idempotent(spark, split, tmp_path):
    old, new = split
    _, idx = build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False)
    n_f, n_s = idx.fingerprints().count(), idx.signed_survivors().count()
    dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    f1, s1 = idx.fingerprints().count(), idx.signed_survivors().count()
    assert f1 > n_f and s1 > n_s
    dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    assert idx.fingerprints().count() == f1
    assert idx.signed_survivors().count() == s1
    assert os.path.exists(os.path.join(str(tmp_path / "ix"), "_meta.json"))


def test_cli_seed_build_rerun_reproduces_run_one(spark, split, tmp_path):
    """Re-running the FIRST --index command (crash retry, cron replay)
    must reproduce run 1's output: before the batch-id fix the rerun
    routed to the increment path under a DIFFERENT id than the seed
    build's 'base', saw its own previous append as foreign history,
    dropped every file as dup_exact, and overwrote --output with an
    empty table."""
    from fastqdedup_spark.cli import main

    old, _ = split
    old_p = str(tmp_path / "old")
    old.write.parquet(old_p)
    ix, out1, out2 = (str(tmp_path / d) for d in ("ix", "o1", "o2"))
    common = ["--index", ix, "--shingle-k", "7", "--threshold", "0.8",
              "-c", "canonical", "-q"]
    main(["--input", old_p, "--output", out1, *common])
    main(["--input", old_p, "--output", out2, *common])
    s1 = sorted(r["sha"] for r in spark.read.parquet(out1).select("sha").collect())
    s2 = sorted(r["sha"] for r in spark.read.parquet(out2).select("sha").collect())
    assert s1 == s2 and s1
    assert len(DedupIndex(spark, ix, CFG)._ledger()) == 1  # no double append


def test_derived_batch_id_is_content_stable(spark, split):
    """The no-input_id fallback must be a pure function of the batch
    CONTENT (plan strings embed per-session expression ids and broke
    crash-resume): row order must not matter, different content must."""
    from fastqdedup_spark.incremental import derived_batch_id
    from fastqdedup_spark.operators.exact_dedup import with_sha256

    cfg = DedupConfig()  # input_id == "" -> content fallback
    old, new = split
    a = with_sha256(old)
    assert derived_batch_id(cfg, a) == derived_batch_id(
        cfg, a.orderBy(F.desc("path"))
    )
    assert derived_batch_id(cfg, a) != derived_batch_id(cfg, with_sha256(new))
    # explicit input_id wins and needs no DataFrame
    cfg2 = DedupConfig(input_id="ds-v1")
    assert derived_batch_id(cfg2) == derived_batch_id(cfg2, a)


def test_cli_index_build_then_increment(spark, split, tmp_path, monkeypatch):
    """End-to-end CLI surface: --index on an empty dir seeds it with the
    batch run's retained state; a second invocation with a new input
    dedups AGAINST it. Outputs pinned to the pure-python three-tier
    oracle over the same (quality-filtered) contents the CLI sees."""
    from fastqdedup_spark import incremental
    from fastqdedup_spark.cli import main
    from fastqdedup_spark.functions.quality import content_quality_filter

    increments = []

    def observed(*args, **kwargs):
        increments.append(dedup_files_incremental(*args, **kwargs))
        return increments[-1]

    monkeypatch.setattr(incremental, "dedup_files_incremental", observed)
    old, new = split
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    old.write.parquet(old_p)
    new.write.parquet(new_p)
    ix, out1, out2 = (str(tmp_path / d) for d in ("ix", "out1", "out2"))
    common = ["--index", ix, "--shingle-k", "7", "--threshold", "0.8",
              "-c", "canonical", "-q"]

    main(["--input", old_p, "--output", out1, *common])
    idx = DedupIndex(spark, ix, CFG)
    assert not idx.is_empty

    main(["--input", new_p, "--output", out2, *common])

    old_contents = [
        r["content"] for r in content_quality_filter(old).select("content").collect()
    ]
    new_contents = [
        r["content"] for r in content_quality_filter(new).select("content").collect()
    ]
    assert {r["sha"] for r in spark.read.parquet(out1).select("sha").collect()} == \
        _batch_oracle(old_contents, CFG.shingle_k, CFG.jaccard_threshold)
    t1, t2, kept = _incremental_oracle(
        old_contents, new_contents, CFG.shingle_k, CFG.jaccard_threshold
    )
    assert {r["sha"] for r in spark.read.parquet(out2).select("sha").collect()} == kept
    # the increment appended under the input-fingerprint-derived batch
    # id: a rerun of the same input is an idempotent no-op append
    f1 = idx.fingerprints().count()
    main(["--input", new_p, "--output", out2, *common])
    assert idx.fingerprints().count() == f1
    # the seed build is an increment against an empty index: tiers 1-2
    # drop nothing and tier 3 sees every file. The increment and its
    # rerun (same batch id, so the same as-of index view) report the
    # oracle's rows
    seed_kept = _batch_oracle(old_contents, CFG.shingle_k, CFG.jaccard_threshold)
    seed_rows = (0, 0, len(seed_kept), len(old_contents))
    want = _oracle_tier_rows(new_contents, t1, t2, kept)
    assert [_tier_rows(inc.metrics) for inc in increments] == [seed_rows, want, want]


def test_retry_after_interleaved_batch_reproduces_first_run(spark, split, tmp_path):
    """As-of visibility (ledger order): a retry of batch b1 that runs
    AFTER batch b2 landed must still see the index exactly as b1's
    first run did. Single-id exclusion leaks b2's state: b2's
    fingerprints record every sha it SAW (including copies of b1's
    kept files it dropped), so the leaky retry kills b1's whole kept
    set in tier 1 and returns a de-synced output."""
    old, new = split
    _, idx = build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False)
    one = dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    k1 = sorted(r["sha"] for r in one.deduped.select("sha").collect())
    assert k1
    # b2 lands between b1's crash and its retry: exact copies of b1's
    # kept files — they die in b2's tier 1, but their shas enter b2's
    # fingerprint table
    copies = one.deduped.select(
        F.col("repo"), F.concat(F.col("path"), F.lit(".copy")).alias("path"),
        F.col("commit"), F.col("lang"), F.col("content"),
    )
    dedup_files_incremental(spark, copies, CFG, idx, quality=False, batch_id="b2")
    retry = dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    k2 = sorted(r["sha"] for r in retry.deduped.select("sha").collect())
    assert k1 == k2


def test_build_index_same_id_different_content_refused(spark, split, tmp_path):
    """build_index under an already-used (path, batch_id) must no-op
    only for the SAME corpus (idempotent seed rerun); different content
    raises instead of silently keeping the old state while returning
    the new corpus's dedup result."""
    old, new = split
    path = str(tmp_path / "ix")
    build_index(spark, old, CFG, path, quality=False)
    with pytest.raises(ValueError, match="DIFFERENT content"):
        build_index(spark, new, CFG, path, quality=False)
    # same-corpus rerun stays a clean no-op
    res, idx = build_index(spark, old, CFG, path, quality=False)
    assert len(idx._ledger()) == 1


def test_increment_same_id_different_content_refused(spark, split, tmp_path):
    """An increment that reuses a batch id with different content must
    raise at the append instead of keeping the old batch in the index
    while its caller writes the new batch's output."""
    old, new = split
    _, idx = build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False)
    dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    other = new.filter(F.col("id") % 2 == 0)
    with pytest.raises(ValueError, match="DIFFERENT content"):
        dedup_files_incremental(spark, other, CFG, idx, quality=False, batch_id="b1")
    assert idx._ledger() == ["base", "b1"]


def test_cli_seed_rerun_after_increment_reproduces_run_one(spark, split, tmp_path):
    """The seed-build command rerun after an increment landed sees the
    index as its first run did (empty), so it reproduces run 1's output
    rows and appends nothing."""
    from fastqdedup_spark.cli import main

    old, new = split
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    old.write.parquet(old_p)
    new.write.parquet(new_p)
    ix = str(tmp_path / "ix")
    common = ["--index", ix, "--shingle-k", "7", "--threshold", "0.8",
              "-c", "canonical", "-q"]
    main(["--input", old_p, "--output", str(tmp_path / "o1"), *common])
    main(["--input", new_p, "--output", str(tmp_path / "o2"), *common])
    idx = DedupIndex(spark, ix, CFG)
    ledger, n_fp = idx._ledger(), idx.fingerprints().count()
    main(["--input", old_p, "--output", str(tmp_path / "o3"), *common])

    def rows(d):
        return sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / d)).collect())

    assert rows("o3") == rows("o1") and rows("o1")
    assert idx._ledger() == ledger and len(ledger) == 2
    assert idx.fingerprints().count() == n_fp


def test_durable_increment_resumes(spark, split, tmp_path):
    """An increment with a checkpoint dir, rerun under the same batch id
    (and again with the persisted _metrics deleted), resumes its front
    stages and reproduces the first run: the same rows, each with
    sha256(content) == sha, the same tier counts, and the same number of
    Spark jobs with and without _metrics. The checkpoint key
    covers the batch id: the same input under another id resumes
    nothing."""
    import glob
    import shutil
    from dataclasses import replace as _replace

    old, new = split
    _, idx = build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False)
    ckdir = str(tmp_path / "ck")
    cfg = _replace(CFG, checkpoint_dir=ckdir)
    cols = ["sha", "repo", "path", "commit", "content"]

    def run(bid="b1", update_index=True):
        inc = dedup_files_incremental(
            spark, new, cfg, idx, quality=False, batch_id=bid,
            update_index=update_index,
        )
        return inc, sorted(tuple(r) for r in inc.deduped.select(*cols).collect())

    one, rows1 = run()
    assert rows1 and all(_sha(r[4]) == r[0] for r in rows1)
    assert "batch.distinct_contents.resumed" not in one.metrics
    (metrics_dir,) = glob.glob(os.path.join(ckdir, "*", "_metrics"))
    jobs = []
    for drop_metrics in (False, True):
        if drop_metrics:
            shutil.rmtree(metrics_dir)
        (again, rows), n_jobs = _jobs_of(
            spark, f"test-durable-resume-{drop_metrics}", run
        )
        jobs.append(n_jobs)
        assert again.metrics["batch.distinct_contents.resumed"] == 1
        assert again.metrics["batch.signatures.resumed"] == 1
        assert rows == rows1
        assert _tier_rows(again.metrics) == _tier_rows(one.metrics)
    # the resumed stages' counts come from their own records, so the
    # resume needs no _metrics and runs no job in its place
    assert jobs[0] == jobs[1]
    other, rows = run("b2", update_index=False)
    assert "batch.distinct_contents.resumed" not in other.metrics
    assert idx._ledger() == ["base", "b1"]


def test_durable_retry_after_interleaved_batch_recomputes(spark, split, tmp_path):
    """A checkpointed increment that died before its append must not
    resume once another batch landed before its retry: its stages were
    computed against another as-of view. The retry equals a run without
    checkpoints against the index as it now stands."""
    from dataclasses import replace as _replace

    old, new = split
    _, idx = build_index(spark, old, CFG, str(tmp_path / "ix"), quality=False)
    cfg = _replace(CFG, checkpoint_dir=str(tmp_path / "ck"))
    # b1 dies before its append: its stages persist, the index does not grow
    dedup_files_incremental(
        spark, new, cfg, idx, quality=False, batch_id="b1", update_index=False
    )
    # b2 lands first, holding copies of half of b1's files
    copies = new.filter(F.col("id") % 2 == 0).withColumn(
        "path", F.concat("path", F.lit(".copy"))
    )
    dedup_files_incremental(spark, copies, CFG, idx, quality=False, batch_id="b2")
    want = dedup_files_incremental(
        spark, new, CFG, idx, quality=False, batch_id="b1", update_index=False
    )
    retry = dedup_files_incremental(spark, new, cfg, idx, quality=False, batch_id="b1")
    assert "batch.signatures.resumed" not in retry.metrics
    assert _tier_rows(retry.metrics) == _tier_rows(want.metrics)
    assert sorted(r["sha"] for r in retry.deduped.select("sha").collect()) == sorted(
        r["sha"] for r in want.deduped.select("sha").collect()
    )


def test_non_local_index_refused(spark, tmp_path, monkeypatch):
    """The index's bookkeeping is driver-local: a URI of another scheme
    raises and creates nothing in the working directory, and a file://
    URI is the local directory it names."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    for uri in ("s3a://bucket/ix", "hdfs://nn/ix"):
        with pytest.raises(ValueError, match="not a local directory"):
            DedupIndex(spark, uri, CFG)
    assert os.listdir(cwd) == []
    idx = DedupIndex(spark, f"file://{tmp_path}/ix", CFG)
    assert idx.is_empty and os.path.exists(tmp_path / "ix" / "_meta.json")
    assert os.listdir(cwd) == []


def test_missing_ledger_rebuilt_from_batch_dirs(spark, split, tmp_path):
    """The ledger is bookkeeping, not truth: deleting _ledger.json (old
    index layout, crash before the ledger write) must not hide data —
    reads fall back to the sorted completed batch dirs and the next
    append re-ledgers everything."""
    old, new = split
    path = str(tmp_path / "ix")
    _, idx = build_index(spark, old, CFG, path, quality=False)
    dedup_files_incremental(spark, new, CFG, idx, quality=False, batch_id="b1")
    n_f = idx.fingerprints().count()
    os.remove(os.path.join(path, "_ledger.json"))
    # fallback sorts by completion time (_SUCCESS mtime), so the true
    # append order survives ledger loss — lexicographic order would
    # invert it ("b1" < "base") and corrupt the as-of exclusion
    assert idx._ledger() == ["base", "b1"]
    assert idx.fingerprints().count() == n_f
    idx._ensure_ledgered("b1")
    assert idx._ledger() == ["base", "b1"]


def test_meta_write_is_atomic(spark, tmp_path):
    """A truncated _meta.json would wedge the index forever; the
    temp+rename write means the file is either absent or complete.
    (Direct check: the atomic writer never leaves a partial dest.)"""
    import json as _json

    path = str(tmp_path / "ix")
    DedupIndex(spark, path, CFG)
    with open(os.path.join(path, "_meta.json")) as f:
        meta = _json.load(f)  # complete, parseable
    assert meta["model"]
    assert not os.path.exists(os.path.join(path, "_meta.json.tmp"))
