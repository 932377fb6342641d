"""Code-domain pipeline gate (BASELINE.json metric):

- dup-pair recall >= 0.99 vs the exact-Jaccard oracle at the same
  shingle/signature config,
- per-row sha256 invariant preserved end-to-end,
- idempotent resume from a stage checkpoint,
- exact duplicates always land in one cluster.
"""

import hashlib

import pyspark.sql.functions as F
import pytest

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.corpus import generate_files
from fastqdedup_spark.functions.minhash import shingle_set
from fastqdedup_spark.oracle import _UnionFind, oracle_jaccard_pairs
from fastqdedup_spark.incremental import dedup_files

N_FILES = 400
CFG = DedupConfig(shingle_k=7, num_perm=128, bands=32, jaccard_threshold=0.6)


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_files(spark, N_FILES, seed=7).cache()


@pytest.fixture(scope="module")
def result(spark, corpus):
    return dedup_files(spark, corpus, CFG)


def _norm(text):
    import re
    return re.sub(r"\s+", " ", text.lower()).strip()


def test_corpus_deterministic(spark):
    a = generate_files(spark, 50, seed=7, partitions=1).orderBy("id").collect()
    b = generate_files(spark, 50, seed=7, partitions=8).orderBy("id").collect()
    assert [r.content for r in a] == [r.content for r in b]


def test_sha256_invariant(corpus, result):
    """Pipeline output rows must carry the sha256 of their UNTOUCHED
    content (input_hint invariant)."""
    rows = result.deduped.select("sha", "content").collect()
    assert rows, "pipeline produced no survivors"
    for r in rows:
        assert hashlib.sha256(r.content.encode()).hexdigest() == r.sha


def test_dup_pair_recall(spark, corpus, result):
    """Recall of clustered pairs vs exact-Jaccard-threshold ground truth."""
    contents = [r.content for r in corpus.select("content").distinct().collect()]
    shas = [hashlib.sha256(c.encode()).hexdigest() for c in contents]
    sets = [shingle_set(_norm(c), CFG.shingle_k) for c in contents]
    truth_pairs = oracle_jaccard_pairs(sets, CFG.jaccard_threshold)
    assert truth_pairs, "corpus must contain planted near-dups"
    # oracle clusters = CC over truth pairs (single linkage)
    uf = _UnionFind(len(contents))
    for i, j in truth_pairs:
        uf.union(i, j)
    truth_cluster_pairs = {
        tuple(sorted((shas[i], shas[j])))
        for i in range(len(contents))
        for j in range(i + 1, len(contents))
        if uf.find(i) == uf.find(j)
    }
    label = {r.sha: r.cluster_id for r in result.clusters.collect()}
    got = sum(
        1 for a, b in truth_cluster_pairs if label.get(a) == label.get(b)
    )
    recall = got / len(truth_cluster_pairs)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"


def test_exact_duplicates_one_survivor(corpus, result):
    """kind in (base, exact) within a family are byte-identical: exactly
    one output row among them."""
    fam = (
        result.deduped.filter(F.col("kind").isin("base", "exact"))
        .groupBy("family_id")
        .count()
        .collect()
    )
    assert fam and all(r["count"] == 1 for r in fam)


def test_resume_idempotent(spark, corpus, tmp_path_factory):
    """Run with checkpoints, delete a late stage, rerun: identical output."""
    ckdir = str(tmp_path_factory.mktemp("ck"))
    cfg = DedupConfig(
        shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.6,
        checkpoint_dir=ckdir,
    )
    small = corpus.limit(120).cache()
    r1 = dedup_files(spark, small, cfg)
    out1 = sorted(r.sha for r in r1.deduped.select("sha").collect())
    import shutil, os
    shutil.rmtree(os.path.join(ckdir, cfg.config_hash(), "survivors"))
    r2 = dedup_files(spark, small, cfg)
    out2 = sorted(r.sha for r in r2.deduped.select("sha").collect())
    assert out1 == out2
    assert any(k.endswith("resumed") for k in r2.metrics)


def test_resume_without_persisted_metrics(spark, corpus, tmp_path_factory):
    """A run that died before write_metrics leaves its stage checkpoints
    but no _metrics. The resume must not raise (the resumed stages'
    observations never ran and must not be read) and must return the
    first run's output rows, each with sha256(content) == sha."""
    import os
    import shutil

    ckdir = str(tmp_path_factory.mktemp("ck_nometrics"))
    cfg = DedupConfig(
        shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.6,
        checkpoint_dir=ckdir,
    )
    small = corpus.limit(120).cache()
    cols = ["sha", "repo", "path", "commit", "content"]
    r1 = dedup_files(spark, small, cfg)
    rows1 = sorted(tuple(r) for r in r1.deduped.select(*cols).collect())
    # the observed counts equal the counts of what they observed
    assert r1.metrics["input.files"] == 120
    assert r1.metrics["distinct.contents"] == small.select("content").distinct().count()
    assert r1.metrics["output.files"] == len(rows1)
    shutil.rmtree(os.path.join(ckdir, cfg.config_hash(), "_metrics"))

    r2 = dedup_files(spark, small, cfg)
    rows2 = sorted(tuple(r) for r in r2.deduped.select(*cols).collect())
    assert r2.metrics["distinct_contents.resumed"] == 1
    assert rows2 == rows1
    assert all(hashlib.sha256(r[4].encode()).hexdigest() == r[0] for r in rows2)


def test_resumed_distinct_count_sizes_the_tail(spark, corpus, tmp_path_factory):
    """A resumed signatures stage reports its PERSISTED distinct count,
    and that count sizes the rebuilt tail: doctored to 9e9 it reaches
    the run's metrics (verify then plans as a long Arrow stage), and
    the output is identical, since a plan size choice changes no
    semantics."""
    import os
    import shutil

    ckdir = str(tmp_path_factory.mktemp("ck_auto"))
    cfg = DedupConfig(
        shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.6,
        checkpoint_dir=ckdir,
    )
    small = corpus.limit(120).cache()
    r1 = dedup_files(spark, small, cfg)
    out1 = sorted(r.sha for r in r1.deduped.select("sha").collect())

    # doctor the persisted metric to a 9e9 synthetic distinct count and
    # drop everything downstream of signatures, with its lineage, so the
    # pair plan rebuilds (the two kept stages keep theirs: a stage
    # without its lineage is rebuilt, not resumed)
    base = os.path.join(ckdir, cfg.config_hash())
    mpath = os.path.join(base, "_metrics")
    mrows = [
        (r.stage, r.metric,
         9e9 if (r.stage, r.metric) == ("incremental", "new_distinct") else r.value)
        for r in spark.read.parquet(mpath).collect()
    ]
    doctored = spark.createDataFrame(mrows, "stage string, metric string, value double")
    tmp_m = mpath + "_tmp"
    doctored.coalesce(1).write.mode("overwrite").parquet(tmp_m)
    shutil.rmtree(mpath)
    os.rename(tmp_m, mpath)
    for stage in os.listdir(base):
        if stage not in ("distinct_contents", "signatures", "_metrics", "_lineage"):
            shutil.rmtree(os.path.join(base, stage))
            shutil.rmtree(os.path.join(base, "_lineage", stage), ignore_errors=True)

    r2 = dedup_files(spark, small, cfg)
    assert r2.metrics["incremental.new_distinct"] == 9e9  # the persisted count
    assert r2.metrics["distinct.contents"] == 9e9         # sized the tail
    out2 = sorted(r.sha for r in r2.deduped.select("sha").collect())
    assert out1 == out2                            # plan choice, not semantics


def test_equal_size_input_rewrite_is_not_resumed(spark, tmp_path):
    """The batch CLI rerun with the same --checkpoint-dir on an input
    rewritten in place at equal size (one content byte changed; the
    path, file count and total bytes unchanged) must rebuild, not
    resume the old input's stages: the output holds the new content's
    sha and not the old one."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fastqdedup_spark import cli

    contents = [
        " ".join(hashlib.sha512(f"{s}{i}".encode()).hexdigest() for s in "abcd")
        for i in range(12)
    ]
    src = tmp_path / "in"
    src.mkdir()
    part = str(src / "part-0.parquet")

    def write(texts):
        table = pa.table({
            "repo": ["r"] * len(texts),
            "path": [f"p{i}.py" for i in range(len(texts))],
            "commit": ["c"] * len(texts),
            "lang": ["py"] * len(texts),
            "content": texts,
        })
        pq.write_table(
            table, part, compression="NONE", use_dictionary=False,
            write_statistics=False,
        )

    def out_shas(out):
        return {r.sha for r in spark.read.parquet(out).select("sha").collect()}

    write(contents)
    size = os.path.getsize(part)
    ck = str(tmp_path / "ck")
    args = ["--input", str(src), "--checkpoint-dir", ck, "--threshold", "0.8", "-q"]
    old = hashlib.sha256(contents[3].encode()).hexdigest()
    cli.main([*args, "--output", str(tmp_path / "o1")])
    assert old in out_shas(str(tmp_path / "o1"))

    rewritten = contents[3][:10] + "X" + contents[3][11:]  # hex digits only
    write(contents[:3] + [rewritten] + contents[4:])
    assert os.path.getsize(part) == size and os.listdir(src) == ["part-0.parquet"]
    cli.main([*args, "--output", str(tmp_path / "o2")])
    shas = out_shas(str(tmp_path / "o2"))
    assert hashlib.sha256(rewritten.encode()).hexdigest() in shas
    assert old not in shas


def test_missing_columns_raises_value_error(spark):
    """Direct API callers get the same clear contract as the CLI's
    read_files_table: a files table missing required columns fails
    fast with the column list, not a deep AnalysisException from
    whichever stage first touches the absent column."""
    bad = spark.createDataFrame([("a",)], "path string")
    with pytest.raises(ValueError, match="missing columns.*content"):
        dedup_files(spark, bad, CFG)


def test_table_locations_route_by_form(spark, tmp_path):
    """A location containing '/' is parquet at that path; a bare
    identifier is an Iceberg table. With no Iceberg catalog in the
    session, a bare identifier raises on read and write, and the write
    leaves no parquet directory named after the table behind (the old
    catch-all fallback wrote one silently)."""
    import os
    import shutil
    import uuid

    from fastqdedup_spark.sources import read_files_table, write_table

    files = generate_files(spark, 5, seed=1)
    path = str(tmp_path / "files")
    write_table(files, path)
    assert read_files_table(spark, path).count() == 5

    name = f"fqd_table_{uuid.uuid4().hex[:8]}"
    jvm_cwd = spark.sparkContext._jvm.java.lang.System.getProperty("user.dir")
    leftovers = [os.path.join(d, name) for d in (jvm_cwd, os.getcwd())]
    try:
        with pytest.raises(Exception):
            write_table(files, name)
        with pytest.raises(Exception):
            write_table(files, name, mode="append")
        with pytest.raises(Exception):
            read_files_table(spark, name)
        assert not any(os.path.exists(p) for p in leftovers)
    finally:
        for p in leftovers:
            shutil.rmtree(p, ignore_errors=True)


def test_fully_duplicated_input_rows_emit_one_survivor(spark):
    """A literally duplicated input row (same repo/path/commit/content
    twice — two ingestion batches unioned) must still yield EXACTLY one
    output row per distinct content: the old join-back on
    (sha, repo, path, commit) matched every input copy of the
    representative and leaked duplicates into `deduped`."""
    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.operators.exact_dedup import exact_dedup, with_sha256
    from fastqdedup_spark.incremental import dedup_files

    schema = "id long, repo string, path string, commit string, lang string, content string"
    rows = [
        (1, "r", "a.py", "c1", "py", "def f():\n    return 1\n" * 4),
        (1, "r", "a.py", "c1", "py", "def f():\n    return 1\n" * 4),  # full dup row
        (2, "r", "b.py", "c1", "py", "def g():\n    return 2\n" * 4),
    ]
    files = spark.createDataFrame(rows, schema)

    ed = exact_dedup(with_sha256(files))
    assert ed.count() == 2
    a = [r for r in ed.collect() if r.path == "a.py"][0]
    assert a.exact_count == 2  # both copies counted, one emitted

    res = dedup_files(spark, files.unionByName(files), DedupConfig(), quality=False)
    out = res.deduped.collect()
    assert len(out) == len({r.sha for r in out}) == 2


def test_code_cli_has_no_parity_only_flags():
    """The reference's Hamming/edit radius (`-d`, `--edit`) drives the
    parity CLI's key clustering only; code-domain clustering is exact
    Jaccard, so the code CLI refuses those flags instead of ignoring
    them. No Spark needed."""
    from fastqdedup_spark import cli

    base = ["--input", "in/", "--output", "out/"]
    for flags in (["-d", "2"], ["--edit"]):
        with pytest.raises(SystemExit):
            cli.argument_parser().parse_args([*base, *flags])
    args = cli.parity_argument_parser().parse_args(["r1.fq", "-d", "2", "--edit"])
    assert (args.max_distance, args.edit) == (2, True)
