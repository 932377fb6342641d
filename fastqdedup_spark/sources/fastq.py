"""FASTQ source + mate zip (reference O1/O2) and the full
reference-equivalent dedup pipeline over real FASTQ files.

- O1 scan: `read_fastq` parses (possibly gzipped) FASTQ into a lazy
  DataFrame (record_idx, name, sequence, qualities). Files are the unit
  of parallelism (one task per file via binaryFiles) — the natural
  Spark shape, since FASTQ has no splittable record boundaries when
  gzipped. Ref: file_to_fastq_reader, __init__.py:54-57.
- O2 zip + mate validation: `zip_fastq` joins R1/R2/UMI tables on
  record_idx and materializes the zipped table once, so each input is
  gunzipped and parsed once per operation: the key counting and the
  first-wins emission both read that table. The one-file-per-table and
  mate-name checks (same name up to a trailing /1 /2 or read-number
  field) are observations on that materialization, raised right after
  it. Ref: fastq_files_to_records, __init__.py:170-186 (raises on
  non-mates).
- `deduplicate_fastq` = the whole reference CLI pipeline
  (__init__.py:209-288): quality filter -> key projection -> cluster ->
  dissect -> survivor first-wins emission, returning surviving records.
"""

from __future__ import annotations

import gzip
import io
import os

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.functions.quality import average_error_rate_udf
from fastqdedup_spark.functions.slices import key_projection
from fastqdedup_spark.pipeline import dedup_keys

FASTQ_SCHEMA = (
    "file_name string, record_idx long, name string, sequence string, "
    "qualities string"
)


def _parse_fastq_bytes(blob: bytes) -> pd.DataFrame:
    if blob[:2] == b"\x1f\x8b":
        blob = gzip.decompress(blob)
    names, seqs, quals = [], [], []
    lines = io.BytesIO(blob).read().decode("ascii").splitlines()
    if len(lines) % 4:
        raise ValueError("truncated FASTQ: line count not a multiple of 4")
    for i in range(0, len(lines), 4):
        header, seq, plus, qual = lines[i : i + 4]
        if not header.startswith("@") or not plus.startswith("+"):
            raise ValueError(f"malformed FASTQ record at line {i + 1}")
        if len(seq) != len(qual):
            raise ValueError(f"sequence/quality length mismatch at line {i + 1}")
        names.append(header[1:])
        seqs.append(seq)
        quals.append(qual)
    return pd.DataFrame(
        {
            "record_idx": range(len(names)),
            "name": names,
            "sequence": seqs,
            "qualities": quals,
        }
    )


def read_fastq(spark: SparkSession, path: str) -> DataFrame:
    """One task per file; record_idx is the position within its file.
    `file_name` disambiguates records when a glob matches several files
    (record_idx alone repeats across files)."""
    rdd = spark.sparkContext.binaryFiles(path)

    def parse(kv):
        fname, blob = kv
        pdf = _parse_fastq_bytes(bytes(blob))
        return [(fname, *row) for row in pdf.itertuples(index=False, name=None)]

    return spark.createDataFrame(rdd.flatMap(parse), FASTQ_SCHEMA)


def _mate_root(name_col: str) -> F.Column:
    """Mate identity: the name up to the first whitespace, with a
    trailing /1 /2 /3 stripped (dnaio's convention)."""
    first = F.split(F.col(name_col), r"\s+").getItem(0)
    return F.regexp_replace(first, r"/[123]$", "")


def zip_fastq(tables: list[DataFrame]) -> DataFrame:
    """Positional zip of parallel FASTQ tables -> one row per record
    tuple with columns name_i/sequence_i/qualities_i, materialized once
    (eager localCheckpoint): every downstream pass reads it instead of
    re-parsing the inputs. Raises ValueError, after that
    materialization and before anything is written, if any tuple's
    names are not mates (ref __init__.py:181-185).

    The positional join key is record_idx, which is only meaningful when
    each table comes from exactly ONE file — a glob-read table repeats
    record_idx per file and would cross-match records — so multi-file
    tables are rejected. Both checks are observations on the one
    materialization (Dataset.observe), not extra scans: min/max
    file_name on each per-file scan, before the join (so a multi-file
    table is caught even though the join pairs its records with the
    wrong mates), and the lowest mismatching tuple on the joined
    table."""
    file_obs = []
    out = None
    for i, df in enumerate(tables):
        if "file_name" in df.columns:
            obs = Observation()
            df = df.observe(
                obs, F.min("file_name").alias("lo"), F.max("file_name").alias("hi")
            )
            file_obs.append((i, obs))
        renamed = df.select(
            "record_idx",
            F.col("name").alias(f"name_{i}"),
            F.col("sequence").alias(f"sequence_{i}"),
            F.col("qualities").alias(f"qualities_{i}"),
        )
        out = renamed if out is None else out.join(renamed, "record_idx", "inner")
    assert out is not None
    mate_obs = None
    if len(tables) > 1:
        # ANY mate mismatching flags the tuple (OR, not chained AND
        # filters — those only kept rows where EVERY mate mismatched,
        # so a 3-file zip with file 3 out of sync but files 1-2 in
        # sync validated clean). eqNullSafe so a null name (malformed
        # record) is a mismatch, not a three-valued-logic pass.
        mismatch = None
        for i in range(1, len(tables)):
            c = ~_mate_root("name_0").eqNullSafe(_mate_root(f"name_{i}"))
            mismatch = c if mismatch is None else (mismatch | c)
        mate_obs = Observation()
        out = out.observe(
            mate_obs,
            F.min(F.when(mismatch, F.struct("record_idx", "name_0"))).alias("bad"),
        )
    out = out.localCheckpoint(eager=True)
    for i, obs in file_obs:
        got = obs.get
        if got["lo"] != got["hi"]:
            raise ValueError(
                f"zip_fastq table {i} spans multiple files "
                f"({got['lo']!r}, {got['hi']!r}, ...); pass "
                f"one file per table — record_idx is per-file."
            )
    if mate_obs is not None:
        bad = mate_obs.get["bad"]
        if bad is not None:
            raise ValueError(
                f"records at index {bad.record_idx} are not mates: {bad.name_0!r}"
            )
    return out


def deduplicate_fastq(
    spark: SparkSession,
    tables: list[DataFrame],
    cfg: DedupConfig,
    check_slices: list[slice] | None = None,
    max_average_error_rate: float | None = 0.001,
) -> DataFrame:
    """The reference CLI pipeline end-to-end (deduplicate_cluster,
    __init__.py:209-288): returns the surviving record tuples.

    1. zip + validate (O2), materialized once: steps 2-5 all read the
       zipped table
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
    if cfg.checkpoint_dir and not cfg.input_id:
        # Bind checkpoints to THIS input (config.py's input_id
        # invariant: same knobs + different data must never resume
        # each other's stages). Each table is single-file (zip_fastq
        # enforces it), so the file names are a cheap, stable identity;
        # without them a wrong resume is silent survivor corruption,
        # so refuse rather than guess.
        from dataclasses import replace

        def _identity(name: str) -> str:
            # name alone is not enough: a file overwritten in place
            # with different content keeps its name and would silently
            # resume the previous dataset's checkpointed stages (ADVICE
            # r5) — fold size+mtime in for local files, and the
            # metadata fingerprint (count|bytes) for remote ones,
            # mirroring input_fingerprint's approach for file tables.
            if not name:
                return ""
            if "://" in name and not name.startswith("file://"):
                from fastqdedup_spark.sources import input_fingerprint

                return input_fingerprint(name, spark)
            p = name[len("file://"):] if name.startswith("file://") else name
            try:
                st = os.stat(p)
                return f"{name}|{st.st_size}|{st.st_mtime_ns}"
            except OSError:
                return name

        names = []
        for df in tables:
            if "file_name" in df.columns:
                row = df.select("file_name").limit(1).collect()
                names.append(_identity(row[0].file_name if row else ""))
            else:
                names.append("")
        if not any(names):
            raise ValueError(
                "cfg.checkpoint_dir is set but the input tables carry no "
                "file_name to derive a checkpoint identity from; set "
                "cfg.input_id explicitly so two datasets with the same "
                "knobs cannot resume each other's stages"
            )
        cfg = replace(cfg, input_id="fastq|" + "|".join(names))
    zipped_raw = zip_fastq(tables)
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


def write_fastq(records: DataFrame, output_files: list[str]) -> int:
    """O13 sink: serialize surviving record tuples back to one FASTQ
    file per mate, gzip level 1 when the name ends in .gz — matching the
    reference's output exactly (filter_fastq_files_on_set,
    /root/reference/src/fastqdedup/__init__.py:189-206; compresslevel=1
    at :197-198). Records are emitted in input order (record_idx), the
    reference's first-wins emission order.

    A FASTQ output file is a single ordered byte stream (mates must stay
    positionally in sync across files), so this sink streams the sorted
    result through the driver — the same shape as the reference's
    single-process pass 3. At data-lake scale the parquet/Iceberg sink
    (sources.write_table) is the primary output; this exists for
    reference CLI parity. Returns the number of record tuples written."""
    n_mates = len(output_files)
    cols = ["record_idx"]
    for i in range(n_mates):
        cols += [f"name_{i}", f"sequence_{i}", f"qualities_{i}"]
    missing = set(cols) - set(records.columns)
    if missing:
        raise ValueError(f"records table missing columns: {sorted(missing)}")

    def opener(path: str):
        if path.endswith(".gz"):
            return gzip.open(path, "wb", compresslevel=1)
        return open(path, "wb")

    outs = [opener(p) for p in output_files]
    n = 0
    try:
        for row in records.select(*cols).sort("record_idx").toLocalIterator():
            for i, out in enumerate(outs):
                out.write(
                    f"@{row[f'name_{i}']}\n{row[f'sequence_{i}']}\n+\n"
                    f"{row[f'qualities_{i}']}\n".encode("ascii")
                )
            n += 1
    finally:
        for out in outs:
            out.close()
    return n
