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
from pyspark.sql import DataFrame, SparkSession

FILES_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def local_files_identity(files: list[str]) -> str:
    """Identity of local files from metadata only (no data read): their
    count, total bytes and a digest of each file's `path|size|mtime_ns`
    (os.stat), in the given order. A file rewritten in place at the same
    size keeps its name and length but not its mtime, so it changes the
    identity. A file that vanished before its stat is left out."""
    n, total, digest = 0, 0, hashlib.sha256()
    for f in files:
        try:
            st = os.stat(f)
        except OSError:
            continue
        n, total = n + 1, total + st.st_size
        digest.update(f"{f}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return f"{n}|{total}|{digest.hexdigest()[:16]}"


def input_fingerprint(location: str, spark: "SparkSession | None" = None) -> str:
    """Cheap dataset identity for checkpoint keying: the path plus, for
    a local input, local_files_identity of every file under it. Folded
    into DedupConfig.input_id so a rerun with the same knobs but a
    DIFFERENT input, or the same input rewritten, never resumes another
    dataset's checkpoints.

    Non-local locations (hdfs://, s3a://, ...) go through the Hadoop
    FileSystem ContentSummary API; if no session/filesystem can resolve
    them, the fingerprint folds in a nanosecond timestamp so the run
    NEVER silently resumes a prior (possibly overwritten) dataset's
    checkpoints — resume is refused rather than wrong."""
    if "://" in location and not location.startswith("file://"):
        spark = spark or SparkSession.getActiveSession()
        if spark is not None:
            try:
                jvm = spark._jvm
                p = jvm.org.apache.hadoop.fs.Path(location)
                fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
                cs = fs.getContentSummary(p)
                return f"{location}|{cs.getFileCount()}|{cs.getLength()}"
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
