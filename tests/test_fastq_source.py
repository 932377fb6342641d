"""FASTQ source, slice projection, and full reference-CLI-equivalent
pipeline tests (reference O1/O2/O3/O4 + end-to-end)."""

import gzip
import zlib

import pytest

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.functions.slices import key_projection, length_string_to_slices
from fastqdedup_spark.sources import fastq
from fastqdedup_spark.sources.fastq import deduplicate_fastq, read_fastq, zip_fastq


# slice parsing: the reference's parametrized cases
# (/root/reference/tests/test_fastqdedup.py:27-34)
@pytest.mark.parametrize(
    "string,result",
    [
        ("5,6,7", [slice(5), slice(6), slice(7)]),
        ("5:8,3,-5:3:-1", [slice(5, 8), slice(3), slice(-5, 3, -1)]),
        ("None:None:16", [slice(None, None, 16)]),
        ("::16", [slice(None, None, 16)]),
    ],
)
def test_length_string_to_slices(string, result):
    assert length_string_to_slices(string) == result


def _write_fastq(path, records, compress=False):
    text = "".join(f"@{n}\n{s}\n+\n{q}\n" for n, s, q in records)
    data = text.encode()
    if compress:
        data = gzip.compress(data)
    path.write_bytes(data)


R1 = [
    ("read1/1", "ACGTACGT", "IIIIIIII"),
    ("read2/1", "ACGTACGA", "IIIIIIII"),
    ("read3/1", "TTTTCCCC", "IIIIIIII"),
    ("read4/1", "ACGTACGT", "IIIIIIII"),  # exact dup of read1
    ("read5/1", "GGGGGGGG", "!!!!!!!!"),  # terrible quality
]
R2 = [
    ("read1/2", "CCCCAAAA", "IIIIIIII"),
    ("read2/2", "CCCCAAAT", "IIIIIIII"),
    ("read3/2", "GGGGAAAA", "IIIIIIII"),
    ("read4/2", "CCCCAAAA", "IIIIIIII"),
    ("read5/2", "AAAAAAAA", "IIIIIIII"),
]


def test_read_fastq_plain_and_gz(spark, tmp_path):
    _write_fastq(tmp_path / "a.fastq", R1)
    _write_fastq(tmp_path / "b.fastq.gz", R1, compress=True)
    for fname in ("a.fastq", "b.fastq.gz"):
        df = read_fastq(spark, str(tmp_path / fname))
        rows = sorted(df.collect(), key=lambda r: r.record_idx)
        assert [(r.name, r.sequence, r.qualities) for r in rows] == R1


def test_zip_validates_mates(spark, tmp_path):
    _write_fastq(tmp_path / "r1.fastq", R1)
    _write_fastq(tmp_path / "r2.fastq", R2)
    t1, t2 = str(tmp_path / "r1.fastq"), str(tmp_path / "r2.fastq")
    zipped = zip_fastq(spark, [t1, t2])
    assert zipped.count() == 5
    bad = [("OTHER/2", "ACGT", "IIII")] + R2[1:]
    _write_fastq(tmp_path / "bad.fastq", bad)
    with pytest.raises(ValueError, match="not mates"):
        zip_fastq(spark, [t1, str(tmp_path / "bad.fastq")])


def test_key_projection_slices(spark):
    df = spark.createDataFrame([("ABCDEFGH", "12345678")], "s1 string, s2 string")
    cases = {
        "3,2": "ABC12",
        "5": "ABCDE12345678",   # second column passes through whole
        "::2,1:4": "ACEG234",
        "-3:,:2": "FGH12",
    }
    for spec, want in cases.items():
        got = df.select(
            key_projection(["s1", "s2"], length_string_to_slices(spec)).alias("k")
        ).collect()[0].k
        assert got == want, spec


def test_zip_rejects_multi_file_tables(spark, tmp_path):
    """record_idx is per-file, so a glob matching several files would
    cross-match tuples; zip_fastq must refuse it (ADVICE r1). read_fastq
    reads such a glob, each record tagged with its file."""
    _write_fastq(tmp_path / "x1.fastq", R1[:2])
    _write_fastq(tmp_path / "x2.fastq", R1[2:4])
    multi = str(tmp_path / "x*.fastq")
    single = str(tmp_path / "x1.fastq")
    with pytest.raises(ValueError, match="multiple files"):
        zip_fastq(spark, [multi, single])
    rows = read_fastq(spark, multi).collect()
    assert sorted(
        (r.file_name.rsplit("/", 1)[1], r.record_idx, r.name) for r in rows
    ) == [("x1.fastq", 0, "read1/1"), ("x1.fastq", 1, "read2/1"),
          ("x2.fastq", 0, "read3/1"), ("x2.fastq", 1, "read4/1")]


def test_quality_filter_covers_all_mates_and_slices(spark, tmp_path):
    """Reference parity (ADVICE r1): the error rate is computed over
    joinfunc of ALL mates' qualities sliced by check_slices
    (ref __init__.py:243-250), not just R1's."""
    r1 = [("a/1", "ACGTACGT", "IIIIIIII"), ("b/1", "TTTTTTTT", "IIIIIIII")]
    r2 = [("a/2", "CCCCAAAA", "!!!!!!!!"), ("b/2", "GGGGCCCC", "IIIIIIII")]
    _write_fastq(tmp_path / "q1.fastq", r1)
    _write_fastq(tmp_path / "q2.fastq", r2)
    t1, t2 = str(tmp_path / "q1.fastq"), str(tmp_path / "q2.fastq")
    cfg = DedupConfig(max_distance=1)
    # record a: R1 perfect, R2 terrible -> discarded now that all mates count
    out = deduplicate_fastq(spark, [t1, t2], cfg)
    assert [r.name_0 for r in out.collect()] == ["b/1"]
    # with check_slices covering only R1, R2's qualities leave the key
    out2 = deduplicate_fastq(
        spark, [t1, t2], cfg, check_slices=[slice(8), slice(0)]
    )
    assert sorted(r.name_0 for r in out2.collect()) == ["a/1", "b/1"]
    # threshold >= 1.0 disables the filter entirely (reference -E)
    out3 = deduplicate_fastq(spark, [t1, t2], cfg, max_average_error_rate=1.0)
    assert sorted(r.name_0 for r in out3.collect()) == ["a/1", "b/1"]


def test_write_fastq_round_trip_and_parity_cli(spark, tmp_path):
    """O13 sink + reference CLI surface end-to-end: outputs are gzipped
    (level 1) FASTQ whose records equal deduplicate_fastq's DataFrame."""
    from fastqdedup_spark.cli import parity_main

    _write_fastq(tmp_path / "in1.fastq.gz", R1, compress=True)
    _write_fastq(tmp_path / "in2.fastq.gz", R2, compress=True)
    o1, o2 = str(tmp_path / "out1.fastq.gz"), str(tmp_path / "out2.fastq.gz")
    parity_main([
        str(tmp_path / "in1.fastq.gz"), str(tmp_path / "in2.fastq.gz"),
        "-o", o1, "-o", o2, "-d", "1", "-c", "directional",
    ])
    got1 = read_fastq(spark, o1)
    rows = sorted(got1.collect(), key=lambda r: r.record_idx)
    assert [r.name for r in rows] == ["read1/1", "read2/1", "read3/1"]
    got2 = read_fastq(spark, o2)
    rows2 = sorted(got2.collect(), key=lambda r: r.record_idx)
    assert [r.sequence for r in rows2] == ["CCCCAAAA", "CCCCAAAT", "GGGGAAAA"]
    # mates stay positionally in sync across output files
    assert [r.name.split("/")[0] for r in rows] == [
        r.name.split("/")[0] for r in rows2
    ]


def test_deduplicate_fastq_end_to_end(spark, tmp_path):
    """Full reference-CLI equivalent: quality filter + paired dedup at
    Hamming d=1 with directional dissection."""
    _write_fastq(tmp_path / "r1.fastq.gz", R1, compress=True)
    _write_fastq(tmp_path / "r2.fastq.gz", R2, compress=True)
    t1, t2 = str(tmp_path / "r1.fastq.gz"), str(tmp_path / "r2.fastq.gz")
    cfg = DedupConfig(max_distance=1, dissection="directional")
    out = deduplicate_fastq(spark, [t1, t2], cfg)
    rows = sorted(out.collect(), key=lambda r: r.record_idx)
    names = [r.name_0 for r in rows]
    # read5 quality-filtered; read1+read4 exact dups (first wins);
    # read2's combined key is Hamming-2 from read1's (1 per mate), so at
    # d=1 it survives as its own cluster; read3 distinct.
    assert names == ["read1/1", "read2/1", "read3/1"]
    # paired columns intact
    assert rows[0].sequence_1 == "CCCCAAAA"


def test_emission_pass_runs_on_raw_records(spark, tmp_path):
    """Reference parity (ADVICE r2): filter_fastq_files_on_set
    (ref __init__.py:189-206) re-reads the RAW inputs and writes the
    FIRST record whose key is in the surviving set — including records
    the quality filter discarded. A low-quality record preceding a
    same-key survivor is therefore the one emitted."""
    recs = [
        ("low/1", "ACGTACGT", "!!!!!!!!"),   # quality-discarded, same key as high/1
        ("high/1", "ACGTACGT", "IIIIIIII"),  # the key survives via this record
        ("other/1", "TTTTCCCC", "IIIIIIII"),
    ]
    _write_fastq(tmp_path / "e1.fastq", recs)
    t1 = str(tmp_path / "e1.fastq")
    out = deduplicate_fastq(spark, [t1], DedupConfig(max_distance=1))
    names = sorted(r.name_0 for r in out.collect())
    assert names == ["low/1", "other/1"]


def test_zip_validates_third_mate_alone(spark, tmp_path):
    """ANY mismatching mate must flag the tuple: the old chained-AND
    filters only caught rows where EVERY mate mismatched, so a 3-file
    zip with files 1-2 in sync but file 3 from a different read set
    validated clean and zipped desynced records."""
    _write_fastq(tmp_path / "z1.fastq", R1)
    _write_fastq(tmp_path / "z2.fastq", R2)
    umi_bad = [("WRONG/3", "ACGT", "IIII")] + [
        (n.replace("/1", "/3"), s, q) for n, s, q in R1[1:]
    ]
    _write_fastq(tmp_path / "z3.fastq", umi_bad)
    t1, t2 = str(tmp_path / "z1.fastq"), str(tmp_path / "z2.fastq")
    with pytest.raises(ValueError, match="not mates"):
        zip_fastq(spark, [t1, t2, str(tmp_path / "z3.fastq")])
    # a fully-synced trio still validates clean
    umi_ok = [(n.replace("/1", "/3"), s, q) for n, s, q in R1]
    _write_fastq(tmp_path / "z3ok.fastq", umi_ok)
    assert zip_fastq(spark, [t1, t2, str(tmp_path / "z3ok.fastq")]).count() == 5


def test_key_projection_stopless_slice_passes_through(spark):
    """":" / "::" in a check-lengths spec is slice(None) — a
    whole-column pass-through, not substring(col, 1, None) (which is a
    plan-build type error)."""
    df = spark.createDataFrame([("ABCDEFGH", "12345678")], "s1 string, s2 string")
    for spec, want in {"3,:": "ABC12345678", ":,::": "ABCDEFGH12345678"}.items():
        got = df.select(
            key_projection(["s1", "s2"], length_string_to_slices(spec)).alias("k")
        ).collect()[0].k
        assert got == want, spec


def test_deduplicate_fastq_checkpoints_bind_to_input(spark, tmp_path):
    """Two DIFFERENT fastq datasets run with the SAME cfg and
    checkpoint_dir must not resume each other's stages (config.py's
    input_id invariant): the second run's survivors must come from its
    own records, not dataset A's checkpointed stages."""
    from fastqdedup_spark.config import DedupConfig

    _write_fastq(tmp_path / "dsa.fastq", R1)
    dsb = [
        ("x1/1", "AAAATTTT", "IIIIIIII"),
        ("x2/1", "CCCCGGGG", "IIIIIIII"),
        ("x3/1", "AAAATTTT", "IIIIIIII"),  # dup of x1
    ]
    _write_fastq(tmp_path / "dsb.fastq", dsb)
    cfg = DedupConfig(checkpoint_dir=str(tmp_path / "ck"), dissection="highest_count")
    ta, tb = str(tmp_path / "dsa.fastq"), str(tmp_path / "dsb.fastq")
    out_a = deduplicate_fastq(spark, [ta], cfg, None, None)
    seqs_a = {r.sequence_0 for r in out_a.collect()}
    out_b = deduplicate_fastq(spark, [tb], cfg, None, None)
    seqs_b = {r.sequence_0 for r in out_b.collect()}
    assert seqs_b == {"AAAATTTT", "CCCCGGGG"}  # B's own dedup, not A's
    # A at max_distance=1: read1/read2/read4 cluster (Hamming 1, count
    # 2 for ACGTACGT wins), read3 and read5 stand alone
    assert seqs_a == {"ACGTACGT", "TTTTCCCC", "GGGGGGGG"}


# Spark jobs one parity CLI run launches on the gz R1/R2 fixture
# (measured: 17; 24 with the binaryFiles read, the record_idx join and
# the toLocalIterator sink). The zipped table is materialized once in
# one job (the mate checks ride it as observations), pairs/edges fuse
# into connected components and the write is one collect of the member
# list, so a validation collect(), a re-parse or a driver-side sort
# coming back shows up here.
FASTQ_JOB_FLOOR = 17


def test_fastq_job_floor(spark, tmp_path):
    from fastqdedup_spark.cli import parity_main

    _write_fastq(tmp_path / "in1.fastq.gz", R1, compress=True)
    _write_fastq(tmp_path / "in2.fastq.gz", R2, compress=True)
    o1, o2 = str(tmp_path / "out1.fastq.gz"), str(tmp_path / "out2.fastq.gz")
    sc = spark.sparkContext
    group = "test-fastq-job-floor"
    sc.setJobGroup(group, "one parity run")
    try:
        parity_main([
            str(tmp_path / "in1.fastq.gz"), str(tmp_path / "in2.fastq.gz"),
            "-o", o1, "-o", o2, "-d", "1", "-c", "directional",
        ])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    with gzip.open(o1, "rt") as f:
        assert f.read().count("\n") == 3 * 4
    assert n_jobs <= FASTQ_JOB_FLOOR


@pytest.mark.parametrize("case", ["not mates", "multiple files"])
def test_parity_cli_failed_check_writes_nothing(spark, tmp_path, case):
    """The mate checks fire after the zipped table materializes, but
    still before write_fastq opens any output."""
    from fastqdedup_spark.cli import parity_main

    if case == "not mates":
        _write_fastq(tmp_path / "r1.fastq.gz", R1, compress=True)
        _write_fastq(
            tmp_path / "r2.fastq.gz", [("OTHER/2", "ACGT", "IIII")] + R2[1:],
            compress=True,
        )
        r1 = str(tmp_path / "r1.fastq.gz")
    else:
        _write_fastq(tmp_path / "r1a.fastq.gz", R1[:2], compress=True)
        _write_fastq(tmp_path / "r1b.fastq.gz", R1[2:4], compress=True)
        _write_fastq(tmp_path / "r2.fastq.gz", R2[:2], compress=True)
        r1 = str(tmp_path / "r1*.fastq.gz")
    o1, o2 = tmp_path / "out1.fastq.gz", tmp_path / "out2.fastq.gz"
    with pytest.raises(ValueError, match=case):
        parity_main([
            r1, str(tmp_path / "r2.fastq.gz"), "-o", str(o1), "-o", str(o2),
            "-d", "1",
        ])
    assert not o1.exists() and not o2.exists()


def test_mate_files_with_different_record_counts_fail(spark, tmp_path):
    """R1 with one record more than R2 must not zip to the shorter
    length: the parity run raises before any output is opened."""
    from fastqdedup_spark.cli import parity_main

    _write_fastq(tmp_path / "r1.fastq.gz", R1, compress=True)
    _write_fastq(tmp_path / "r2.fastq.gz", R2[:4], compress=True)
    o1, o2 = tmp_path / "out1.fastq.gz", tmp_path / "out2.fastq.gz"
    with pytest.raises(ValueError, match="different record counts") as err:
        parity_main([
            str(tmp_path / "r1.fastq.gz"), str(tmp_path / "r2.fastq.gz"),
            "-o", str(o1), "-o", str(o2), "-d", "1",
        ])
    assert "r2.fastq.gz end after 4 records" in str(err.value)
    assert not o1.exists() and not o2.exists()


def test_parse_spans_several_arrow_batches(spark, tmp_path, monkeypatch):
    """With a chunk far smaller than the files, records straddle chunk
    boundaries at different offsets in each mate file (their names and
    reads differ in length, one file is gzip), and the lockstep zip
    still pairs every record with its mate."""
    r1 = [(f"m{i}/1", "ACGT" * (1 + i % 5), "I" * 4 * (1 + i % 5)) for i in range(60)]
    r2 = [(f"m{i}/2 x", "GA" * (1 + i % 3), "F" * 2 * (1 + i % 3)) for i in range(60)]
    _write_fastq(tmp_path / "s1.fastq.gz", r1, compress=True)
    _write_fastq(tmp_path / "s2.fastq", r2)
    paths = [str(tmp_path / "s1.fastq.gz"), str(tmp_path / "s2.fastq")]
    assert len(list(fastq._zip_batches(paths, 64))) > 10
    monkeypatch.setattr(fastq, "CHUNK_BYTES", 64)
    rows = sorted(zip_fastq(spark, paths).collect(), key=lambda r: r.record_idx)
    assert [r.record_idx for r in rows] == list(range(60))
    assert [(r.name_0, r.sequence_0, r.qualities_0) for r in rows] == r1
    assert [(r.name_1, r.sequence_1, r.qualities_1) for r in rows] == r2


def _gzip_members(path) -> int:
    data, members = path.read_bytes(), 0
    while data:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        d.decompress(data)
        data, members = d.unused_data, members + 1
    return members


def test_multi_member_output_reads_back(spark, tmp_path, monkeypatch):
    """Buckets of two record_idx values: the survivors land in several
    members (gzip members for .gz, plain text otherwise) that read back
    record for record in input order, mates in sync."""
    from fastqdedup_spark.cli import parity_main

    r1 = [(f"u{i}/1", f"{i:04b}".replace("0", "A").replace("1", "C") * 2, "IIIIIIII")
          for i in range(12)]
    r2 = [(f"u{i}/2", "GGGGTTTT", "IIIIIIII") for i in range(12)]
    _write_fastq(tmp_path / "in1.fastq.gz", r1, compress=True)
    _write_fastq(tmp_path / "in2.fastq.gz", r2, compress=True)
    monkeypatch.setattr(fastq, "MEMBER_RECORDS", 2)
    o1, o2 = tmp_path / "out1.fastq.gz", tmp_path / "out2.fastq"
    parity_main([
        str(tmp_path / "in1.fastq.gz"), str(tmp_path / "in2.fastq.gz"),
        "-o", str(o1), "-o", str(o2), "-d", "0",
    ])
    # d=0 keeps every distinct key: all 12 tuples, 6 buckets
    assert _gzip_members(o1) >= 6
    want1 = "".join(f"@{n}\n{s}\n+\n{q}\n" for n, s, q in r1)
    want2 = "".join(f"@{n}\n{s}\n+\n{q}\n" for n, s, q in r2)
    assert gzip.decompress(o1.read_bytes()).decode() == want1
    assert o2.read_text() == want2
    assert not list(tmp_path.glob(".fastq-members-*"))


def test_second_parity_run_compiles_nothing(spark, tmp_path):
    """The session's codegen cache holds every class one parity run
    generates, so an identical second run compiles none (Spark's
    default 100-entry cache recompiled about 100 per operation)."""
    from fastqdedup_spark.cli import parity_main

    _write_fastq(tmp_path / "in1.fastq.gz", R1, compress=True)
    _write_fastq(tmp_path / "in2.fastq.gz", R2, compress=True)
    argv = [
        str(tmp_path / "in1.fastq.gz"), str(tmp_path / "in2.fastq.gz"),
        "-o", str(tmp_path / "out1.fastq.gz"), "-o", str(tmp_path / "out2.fastq.gz"),
        "-d", "1", "-c", "directional",
    ]
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    parity_main(argv)
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    parity_main(argv)
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_no_python_rdd_on_parity_run(spark, tmp_path, monkeypatch):
    """The FASTQ read, zip and write run as Arrow tasks: a parity run
    builds no Python RDD, so no second pool of Python workers starts
    beside the UDFs'."""
    import pyspark.rdd

    from fastqdedup_spark.cli import parity_main

    built = []
    init = pyspark.rdd.PipelinedRDD.__init__

    def counting(self, *args, **kwargs):
        built.append(self)
        init(self, *args, **kwargs)

    monkeypatch.setattr(pyspark.rdd.PipelinedRDD, "__init__", counting)
    _write_fastq(tmp_path / "in1.fastq.gz", R1, compress=True)
    _write_fastq(tmp_path / "in2.fastq.gz", R2, compress=True)
    parity_main([
        str(tmp_path / "in1.fastq.gz"), str(tmp_path / "in2.fastq.gz"),
        "-o", str(tmp_path / "out1.fastq.gz"), "-o", str(tmp_path / "out2.fastq.gz"),
        "-d", "1",
    ])
    assert built == []
