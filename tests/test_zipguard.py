"""The zipimport re-read guard (fastqdedup_spark.zipguard): an unchanged
zip on sys.path is not re-read by importlib.invalidate_caches(), a
rewritten one is, and a Python worker that runs package code runs
guarded."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark.sql.functions as F

from fastqdedup_spark import zipguard

GUARDED = sys.version_info < (3, 13)  # 3.13 re-reads lazily on its own


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    assert zipguard.installed() is GUARDED
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipguard_old": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zipguard_old", "zipguard_new"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipguard_old").X == 1
    importlib.invalidate_caches()  # the importer's first guarded read

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"zipguard_old": "X = 1\n", "zipguard_new": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importlib.import_module("zipguard_new").Y == 2


def test_python_worker_runs_guarded(spark):
    """A pandas UDF that references package code, as every package UDF
    does, imports the package in its worker when the worker unpickles
    it; that import installs the guard before the UDF runs."""

    @F.pandas_udf("boolean")
    def guarded(ids: pd.Series) -> pd.Series:
        return ids.map(lambda _: zipguard.installed())

    rows = spark.range(0, 8, numPartitions=4).select(guarded("id")).collect()
    assert [r[0] for r in rows] == [GUARDED] * 8
