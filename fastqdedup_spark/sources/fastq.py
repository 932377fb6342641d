"""FASTQ source, mate zip and sink (reference O1/O2/O13), and the full
reference-equivalent dedup pipeline over real FASTQ files.

- O1 scan + O2 zip: `zip_fastq` reads the mate files (R1, R2, UMI) in
  lockstep in ONE Python task. A `driver_table` listing of the files
  (one row) feeds `mapInArrow`, whose function streams each file in
  CHUNK_BYTES pieces (gzip detected by its magic bytes, so multi-member
  gzip reads too), parses the 4-line records with pyarrow and emits
  the zipped (record_idx, name_i, sequence_i, qualities_i) table as
  Arrow record batches: no whole-file record, no Python RDD, no join on
  record_idx. Memory is bounded by one chunk per file. The table is
  materialized once (eager localCheckpoint); the key counting and the
  first-wins emission both read it. The checks are observations on
  that one materialization, raised right after it and before any
  output is opened: mate files with different record counts, and
  tuples whose names are not mates (same name up to a trailing /1 /2
  /3). Each path must name one file: record_idx is a position within
  a file, so a glob matching several is refused. Ref:
  file_to_fastq_reader and fastq_files_to_records, __init__.py:54-57,
  170-186. `read_fastq` reads a path (a glob may match several files)
  as per-file records with the same parser.
- `deduplicate_fastq` = the whole reference CLI pipeline
  (__init__.py:209-288): quality filter -> key projection -> cluster ->
  dissect -> survivor first-wins emission, returning surviving records.
- O13 sink: `write_fastq` has tasks write record_idx-contiguous buckets
  as gzip members and streams them into each output in bucket order.

Files are read by the Python workers with the standard library, so a
path must be local to them: a plain path or file:// (in local mode, or
on a filesystem mounted on every worker and the driver).
"""

from __future__ import annotations

import glob
import gzip
import os
import shutil
import tempfile
from dataclasses import replace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.functions.quality import average_error_rate_udf
from fastqdedup_spark.functions.slices import key_projection
from fastqdedup_spark.pipeline import dedup_keys
from fastqdedup_spark.session import driver_table
from fastqdedup_spark.sources import local_files_identity

FASTQ_SCHEMA = (
    "file_name string, record_idx long, name string, sequence string, "
    "qualities string"
)
# decompressed bytes a reader holds per file; read when a plan is built
CHUNK_BYTES = 4 << 20
# record_idx span of one output member: a bucket is written by one task
MEMBER_RECORDS = 1 << 18
_FIELDS = ("name", "sequence", "qualities")


def _local_files(path: str) -> list[str]:
    """The local files `path` names (a glob may match several), sorted."""
    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"{path}: FASTQ files are read by the Python workers; pass a "
            "local path (or file://) that every worker can open"
        )
    p = os.path.abspath(path.removeprefix("file://"))
    files = sorted(f for f in glob.glob(p) if os.path.isfile(f))
    if not files:
        raise FileNotFoundError(f"no FASTQ file matches {path}")
    return files


def _one_file(path: str) -> str:
    files = _local_files(path)
    if len(files) > 1:
        raise ValueError(
            f"{path!r} matches multiple files ({files[0]!r}, {files[1]!r}, "
            "...); pass one file per mate — record_idx is per-file."
        )
    return files[0]


def _parse(lines: list[bytes], first_line: int) -> pa.RecordBatch:
    """Complete 4-line records -> (name, sequence, qualities) batch."""
    heads, seqs, plus, quals = (
        pa.array(lines[k::4], pa.binary()) for k in range(4)
    )
    ok = pc.and_(pc.starts_with(heads, "@"), pc.starts_with(plus, "+"))
    if not pc.all(ok).as_py():
        bad = pc.index(ok, False).as_py()
        raise ValueError(f"malformed FASTQ record at line {first_line + 4 * bad}")
    same = pc.equal(pc.binary_length(seqs), pc.binary_length(quals))
    if not pc.all(same).as_py():
        bad = pc.index(same, False).as_py()
        raise ValueError(
            f"sequence/quality length mismatch at line {first_line + 4 * bad}"
        )
    names, seqs, quals = (c.cast(pa.string()) for c in (heads, seqs, quals))
    return pa.RecordBatch.from_arrays(
        [pc.utf8_slice_codeunits(names, 1), seqs, quals], names=list(_FIELDS)
    )


def _records(path: str, chunk_bytes: int):
    """Stream one FASTQ file (plain or gzip) as non-empty record
    batches, one per decompressed chunk of at most `chunk_bytes`."""
    with open(path, "rb") as raw:
        f = gzip.GzipFile(fileobj=raw) if raw.peek(2)[:2] == b"\x1f\x8b" else raw
        partial, pending, line = b"", [], 1
        while block := f.read(chunk_bytes):
            buf = partial + block
            if b"\r" in buf:
                buf = buf.replace(b"\r\n", b"\n")
            lines = buf.split(b"\n")
            partial = lines.pop()
            lines = pending + lines
            n = len(lines) - len(lines) % 4
            pending = lines[n:]
            if n:
                yield _parse(lines[:n], line)
                line += n
        tail = pending + ([partial] if partial else [])
        if len(tail) % 4:
            raise ValueError(
                f"truncated FASTQ {path}: line count not a multiple of 4"
            )
        if tail:
            yield _parse(tail, line)


def _zip_batches(paths: list[str], chunk_bytes: int):
    """The zipped (record_idx, name_i, sequence_i, qualities_i) record
    batches of `paths`, read in lockstep. When one file ends before
    another, one last row carries the longer files' next record and
    nulls for the files that ended, then the stream stops: the caller
    sees where the counts part."""
    readers = [_records(p, chunk_bytes) for p in paths]
    bufs: list[pa.RecordBatch | None] = [None] * len(paths)
    idx = 0
    while True:
        for i, r in enumerate(readers):
            if bufs[i] is None or bufs[i].num_rows == 0:
                bufs[i] = next(r, None)
        live = [b for b in bufs if b is not None]
        if not live:
            return
        short = len(live) < len(bufs)
        k = 1 if short else min(b.num_rows for b in live)
        cols = [pa.array(np.arange(idx, idx + k, dtype=np.int64))]
        for b in bufs:
            cols += (
                b.slice(0, k).columns if b is not None
                else [pa.nulls(k, pa.string())] * len(_FIELDS)
            )
        yield pa.RecordBatch.from_arrays(cols, names=_zip_names(len(paths)))
        if short:
            return
        bufs = [b.slice(k) for b in bufs]
        idx += k


def _zip_names(n: int) -> list[str]:
    return ["record_idx"] + [f"{c}_{i}" for i in range(n) for c in _FIELDS]


def _listing(spark: SparkSession, columns: dict[str, list[str]]) -> DataFrame:
    """A driver-side table of file names, one string column per key."""
    schema = StructType([StructField(c, StringType(), False) for c in columns])
    return driver_table(spark, schema, list(columns.values()))


def read_fastq(spark: SparkSession, path: str) -> DataFrame:
    """The records of every file `path` names, lazily: one row per
    record, `record_idx` its position within its file and `file_name`
    the file (record_idx alone repeats across the files of a glob)."""
    files = _local_files(path)
    chunk = CHUNK_BYTES

    def parse(batches):
        for batch in batches:
            for name in batch.column(0).to_pylist():
                for b in _zip_batches([name], chunk):
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([name] * b.num_rows, pa.string()), *b.columns],
                        names=["file_name", "record_idx", *_FIELDS],
                    )

    return _listing(spark, {"file_name": files}).mapInArrow(parse, FASTQ_SCHEMA)


def _mate_root(name_col: str) -> F.Column:
    """Mate identity: the name up to the first whitespace, with a
    trailing /1 /2 /3 stripped (dnaio's convention)."""
    first = F.split(F.col(name_col), r"\s+").getItem(0)
    return F.regexp_replace(first, r"/[123]$", "")


def zip_fastq(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Positional zip of parallel FASTQ files -> one row per record
    tuple with columns record_idx, name_i/sequence_i/qualities_i,
    materialized once (eager localCheckpoint): every downstream pass
    reads it instead of re-parsing the inputs.

    Raises, before any Spark job, ValueError when a path matches
    several files; and after the materialization, before anything is
    written, ValueError when the files hold different record counts or
    any tuple's names are not mates (ref __init__.py:181-185). Both are
    observations on the one materialization (Dataset.observe), not
    extra scans."""
    files = [_one_file(p) for p in paths]
    n, chunk = len(files), CHUNK_BYTES
    names = _zip_names(n)
    schema = ", ".join(
        f"{c} {'long' if c == 'record_idx' else 'string'}" for c in names
    )

    def zip_files(batches):
        for batch in batches:
            for row in batch.to_pylist():
                yield from _zip_batches([row[f"file_{i}"] for i in range(n)], chunk)

    listing = _listing(spark, {f"file_{i}": [f] for i, f in enumerate(files)})
    out = listing.mapInArrow(zip_files, schema)
    obs = None
    if n > 1:
        ended = [F.col(f"name_{i}").isNull() for i in range(n)]
        any_ended = ended[0]
        # ANY mate mismatching flags the tuple (OR, not chained AND
        # filters — those only kept rows where EVERY mate mismatched,
        # so a 3-file zip with file 3 out of sync but files 1-2 in
        # sync validated clean)
        mismatch = None
        for i in range(1, n):
            any_ended = any_ended | ended[i]
            c = ~_mate_root("name_0").eqNullSafe(_mate_root(f"name_{i}"))
            mismatch = c if mismatch is None else (mismatch | c)
        obs = Observation()
        out = out.observe(
            obs,
            F.min(F.when(any_ended, F.struct(
                "record_idx", *(e.alias(f"e{i}") for i, e in enumerate(ended))
            ))).alias("short"),
            F.min(F.when(mismatch, F.struct("record_idx", "name_0"))).alias("bad"),
        )
    out = out.localCheckpoint(eager=True)
    if obs is not None:
        got = obs.get
        if got["short"] is not None:
            short = got["short"]
            gone = [paths[i] for i in range(n) if short[f"e{i}"]]
            raise ValueError(
                f"mate files have different record counts: {', '.join(gone)} "
                f"end after {short.record_idx} records, the other files go on"
            )
        if got["bad"] is not None:
            bad = got["bad"]
            raise ValueError(
                f"records at index {bad.record_idx} are not mates: {bad.name_0!r}"
            )
    return out


def deduplicate_fastq(
    spark: SparkSession,
    paths: list[str],
    cfg: DedupConfig,
    check_slices: list[slice] | None = None,
    max_average_error_rate: float | None = 0.001,
) -> DataFrame:
    """The reference CLI pipeline end-to-end (deduplicate_cluster,
    __init__.py:209-288) over the mate files `paths`: returns the
    surviving record tuples.

    1. zip + validate (O1/O2), materialized once: steps 2-5 all read
       the zipped table
    2. quality filter on the concat of ALL mates' qualities, sliced by
       the same check_slices as the dedup key (O3; ref __init__.py:243-250
       builds `joinfunc(record.qualities for record in record_tuple)` and
       discards when the average error rate exceeds the threshold).
       Disabled when the threshold is None or >= 1.0 (the reference's
       `-E` sets it to 1.0, and `filter_on_quality = rate < 1.0`).
    3. dedup key = concat of sliced sequences (O4)
    4. exact-radius cluster + dissect (O5-O11) via dedup_keys
    5. survivor semi-join, first occurrence per key wins (O13) — run
       against the RAW (pre-quality-filter) records, matching the
       reference's emission pass over the raw input files
    """
    zipped_raw = zip_fastq(spark, paths)
    if cfg.checkpoint_dir and not cfg.input_id:
        # Bind checkpoints to THIS input (config.py's input_id
        # invariant: same knobs + different data must never resume
        # each other's stages). The name alone is not enough: a file
        # overwritten in place keeps it, so size and mtime fold in.
        cfg = replace(cfg, input_id="fastq|" + local_files_identity(
            [_one_file(p) for p in paths]
        ))
    seq_cols = [c for c in zipped_raw.columns if c.startswith("sequence_")]
    qual_cols = [c.replace("sequence_", "qualities_") for c in seq_cols]
    zipped_raw = zipped_raw.withColumn(
        "dedup_key", key_projection(seq_cols, check_slices)
    )
    filtered = zipped_raw
    if max_average_error_rate is not None and max_average_error_rate < 1.0:
        qual_key = key_projection(qual_cols, check_slices)
        filtered = zipped_raw.filter(
            average_error_rate_udf(qual_key) <= max_average_error_rate
        )
    # Survivor KEYS come from the quality-FILTERED records (the reference
    # clusters only records that pass the filter, __init__.py:243-263) —
    # but the EMISSION pass runs on the RAW zipped table:
    # filter_fastq_files_on_set (__init__.py:189-206) re-reads the raw
    # inputs and writes the FIRST record whose key is in the surviving
    # set, including records the quality filter discarded. A
    # low-quality record that precedes a same-key survivor is therefore
    # the one emitted.
    result = dedup_keys(spark, filtered.select(F.col("dedup_key").alias("key")), cfg)
    # survivor keys can approach input cardinality (mostly-unique
    # libraries), so the semi-join strategy stays with AQE
    survivors = result.survivors.select(F.col("key").alias("dedup_key")).distinct()
    kept = zipped_raw.join(survivors, "dedup_key")
    # first-wins: exactly one record tuple per surviving key, the one
    # with the lowest record_idx (unique, so the struct min picks it).
    # One aggregation clustered on dedup_key reuses the join's
    # partitioning; a join back on (dedup_key, record_idx) would
    # re-shuffle both sides on the full key (measured on fastq-umi: 48-49
    # -> 50 jobs per operation without a session-wide co-partitioning
    # override, 44-45 with this aggregation).
    cols = ["record_idx"] + [
        c for c in kept.columns if c not in ("dedup_key", "record_idx")
    ]
    return (
        kept.groupBy("dedup_key")
        .agg(F.min(F.struct(*cols)).alias("_first"))
        .select("_first.*")
    )


def _fastq_text(batch: pa.RecordBatch, mate: int) -> bytes:
    """One mate's records of `batch` as FASTQ text."""
    head = pc.binary_join_element_wise("@", batch.column(f"name_{mate}"), "")
    recs = pc.binary_join_element_wise(
        head, batch.column(f"sequence_{mate}"), "+",
        batch.column(f"qualities_{mate}"), "", "\n",
    )
    return b"".join(recs.cast(pa.binary()).to_pylist())


def _member_path(staging: str, bucket: int, mate: int, attempt: int) -> str:
    return f"{staging}/b{bucket}-m{mate}-a{attempt}"


def write_fastq(records: DataFrame, output_files: list[str]) -> int:
    """O13 sink: surviving record tuples -> one FASTQ file per mate, in
    input order (record_idx, the reference's first-wins emission
    order), gzip level 1 when the name ends in .gz — matching the
    reference's output (filter_fastq_files_on_set,
    /root/reference/src/fastqdedup/__init__.py:189-206; compresslevel=1
    at :197-198). Returns the number of record tuples written.

    A FASTQ output is one ordered byte stream per mate (mates stay
    positionally in sync across files). Tasks write each
    MEMBER_RECORDS-wide record_idx bucket, sorted, as one member file
    per mate (a gzip member, or plain text): a multi-member gzip file is
    valid (RFC 1952), so the driver only streams the member files into
    each output in bucket order. The members sit in a directory beside
    the first output, which the tasks and the driver must both see;
    outputs are opened only after every member is written."""
    n_mates = len(output_files)
    cols = ["record_idx"]
    for i in range(n_mates):
        cols += [f"name_{i}", f"sequence_{i}", f"qualities_{i}"]
    missing = set(cols) - set(records.columns)
    if missing:
        raise ValueError(f"records table missing columns: {sorted(missing)}")
    outs = [os.path.abspath(p) for p in output_files]
    gz = [p.endswith(".gz") for p in outs]
    staging = tempfile.mkdtemp(prefix=".fastq-members-", dir=os.path.dirname(outs[0]))

    def write_members(batches):
        from pyspark import TaskContext

        attempt = TaskContext.get().taskAttemptId()
        done, files = [], []  # done: [bucket, records] per bucket begun
        for batch in batches:
            if not batch.num_rows:
                continue
            b = batch.column("bucket").to_numpy()
            cuts = [0, *(np.flatnonzero(np.diff(b)) + 1), len(b)]
            for lo, hi in zip(cuts[:-1], cuts[1:]):
                if not done or done[-1][0] != b[lo]:
                    for f in files:
                        f.close()
                    done.append([int(b[lo]), 0])
                    files = [
                        open(_member_path(staging, done[-1][0], m, attempt), "wb")
                        for m in range(n_mates)
                    ]
                part = batch.slice(lo, hi - lo)
                for m, f in enumerate(files):
                    text = _fastq_text(part, m)
                    f.write(gzip.compress(text, compresslevel=1) if gz[m] else text)
                done[-1][1] += hi - lo
        for f in files:
            f.close()
        yield pa.RecordBatch.from_arrays(
            [pa.array([d[0] for d in done], pa.int64()),
             pa.array([attempt] * len(done), pa.int64()),
             pa.array([d[1] for d in done], pa.int64())],
            names=["bucket", "attempt", "records"],
        )

    try:
        members = (
            records.select(
                F.floor(F.col("record_idx") / MEMBER_RECORDS).alias("bucket"), *cols
            )
            .repartition("bucket")
            .sortWithinPartitions("record_idx")
            .mapInArrow(write_members, "bucket long, attempt long, records long")
            .collect()
        )
        members.sort(key=lambda r: r.bucket)
        for m, out in enumerate(outs):
            with open(out, "wb") as f:
                if not members and gz[m]:
                    f.write(gzip.compress(b"", compresslevel=1))
                for r in members:
                    with open(_member_path(staging, r.bucket, m, r.attempt), "rb") as src:
                        shutil.copyfileobj(src, f, 1 << 20)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return sum(r.records for r in members)
