"""Source/sink helpers.

The north_rule input is an Iceberg table of source-code files. A
location is routed by its form, never by trial and error: a filesystem
path or URI (anything containing `/`) is parquet at that path, and a
bare table identifier (`db.table`) goes through the Iceberg catalog,
whose errors propagate. A failed Iceberg write therefore never turns
into a local parquet directory named after the table. The schema
contract is the same either way.
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

FILES_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def files_identity(entries) -> str:
    """Identity of files from metadata only (no data read): their count,
    total bytes and a digest of each `(path, size, mtime)` entry, in the
    given order. A file rewritten in place at the same size keeps its
    name and length but not its mtime, so it changes the identity."""
    n, total, digest = 0, 0, hashlib.sha256()
    for path, size, mtime in entries:
        n, total = n + 1, total + size
        digest.update(f"{path}|{size}|{mtime}\n".encode())
    return f"{n}|{total}|{digest.hexdigest()[:16]}"


def local_files_identity(files: list[str]) -> str:
    """files_identity from os.stat (mtime in ns). A file that vanished
    before its stat is left out."""
    stats = []
    for f in files:
        try:
            st = os.stat(f)
        except OSError:
            continue
        stats.append((f, st.st_size, st.st_mtime_ns))
    return files_identity(stats)


def listing(spark: SparkSession, location: str) -> "DataFrame | None":
    """The files under `location` (any Hadoop URI) as a public
    binaryFile listing of (path, length, mtime in microseconds; content
    is never read), or None when nothing is there: the load raises
    PATH_NOT_FOUND at analysis, before any job runs."""
    try:
        df = (
            spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(location)
        )
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
    return df.select("path", "length", F.unix_micros("modificationTime"))


def listed_files_identity(spark: SparkSession, location: str) -> str:
    """files_identity of a remote `location` from its listing (one
    metadata job)."""
    files = listing(spark, location)
    if files is None:
        raise FileNotFoundError(location)
    return files_identity(sorted(map(tuple, files.collect())))


def input_fingerprint(location: str, spark: "SparkSession | None" = None) -> str:
    """Cheap dataset identity for checkpoint keying: the path plus the
    count, total bytes and `path|size|mtime` digest of every file under
    it (local_files_identity for a local input, listed_files_identity
    otherwise). Folded into DedupConfig.input_id so a rerun with the
    same knobs but a DIFFERENT input, or the same input rewritten, never
    resumes another dataset's checkpoints.

    If no session can list a non-local location (hdfs://, s3a://, ...),
    the fingerprint folds in a nanosecond timestamp so the run NEVER
    silently resumes a prior (possibly overwritten) dataset's
    checkpoints — resume is refused rather than wrong."""
    if "://" in location and not location.startswith("file://"):
        spark = spark or SparkSession.getActiveSession()
        if spark is not None:
            try:
                return f"{location}|{listed_files_identity(spark, location)}"
            except Exception:
                pass
        import time

        return f"{location}|unfingerprintable|{time.time_ns()}"
    path = location[len("file://"):] if location.startswith("file://") else location
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, name) for root, _, names in os.walk(path) for name in names
        )
    return f"{location}|{local_files_identity(files)}"


def _is_path(location: str) -> bool:
    """True for a filesystem path or URI (`/` or `://` in it), which
    reads and writes as parquet; False for a bare catalog identifier,
    which goes through Iceberg."""
    return "/" in location


def read_files_table(spark: SparkSession, location: str) -> DataFrame:
    """Iceberg table identifier or parquet path -> files DataFrame."""
    if _is_path(location):
        df = spark.read.parquet(location)
    else:
        df = spark.read.format("iceberg").load(location)
    missing = set(FILES_COLUMNS) - set(df.columns)
    if missing:
        raise ValueError(f"files table at {location} missing columns: {missing}")
    if "id" not in df.columns:
        df = df.withColumn("id", F.xxhash64("repo", "path", "commit"))
    return df


def write_table(df: DataFrame, location: str, mode: str = "overwrite") -> None:
    """Parquet at a path, or an Iceberg table for a bare identifier
    (see _is_path). `mode` must hold on BOTH paths: the Iceberg writeTo
    API has no mode() — createOrReplace() always replaces, so an
    "append" request routed through it would silently drop the table's
    existing rows."""
    if _is_path(location):
        df.write.mode(mode).parquet(location)
    elif mode == "append":
        df.writeTo(location).append()
    else:
        df.writeTo(location).createOrReplace()
