"""get_spark sizes the session for the machine, leaves AQE on by
Spark's defaults, and must make the package importable on executor
python workers regardless of the launch cwd.

Every pandas/Arrow UDF pickles by reference, so workers import
`fastqdedup_spark` by name — but they only inherit the launch
environment, not the driver's sys.path. Before round 6's fix, any
driver script launched from OUTSIDE the repo (a script that puts the
repo on its own sys.path, run from another cwd with no PYTHONPATH)
died on its first UDF task with ModuleNotFoundError; get_spark now
exports the package root on PYTHONPATH before the gateway JVM spawns.
"""

import os
import subprocess
import sys

from fastqdedup_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """\
import sys
sys.path.insert(0, {repo!r})          # driver-side import only
from fastqdedup_spark.session import get_spark
from fastqdedup_spark.corpus import generate_files
spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
# get_spark leaves AQE, its coalescing and its skew-join splitting to
# Spark's defaults; all three must resolve to on
for key in (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
):
    assert spark.conf.get(key) == "true", (key, spark.conf.get(key))
n = generate_files(spark, 16, seed=1).count()   # mapInPandas -> worker import
assert n == 16, n
print("WORKER_IMPORT_OK")
spark.stop()
"""


def test_udf_job_from_foreign_cwd(tmp_path):
    script = tmp_path / "driver.py"
    script.write_text(_DRIVER.format(repo=REPO))
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the fix must not rely on ambient env
    env["SPARK_DRIVER_MEMORY"] = "2g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),  # repo not importable via cwd
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, f"driver failed:\n{proc.stderr[-3000:]}"
    assert "WORKER_IMPORT_OK" in proc.stdout


def test_session_size_follows_the_machine(tmp_path, monkeypatch):
    """Cores: the affinity CPU count, at most 32. Heap: a quarter of
    the smaller of physical memory and the cgroup limit, within
    [1g, 8g]; 8g when neither can be read. SPARK_GRAFT_CPUS and
    SPARK_DRIVER_MEMORY override. No Spark: the machine is faked."""
    meminfo, cgroup = tmp_path / "meminfo", tmp_path / "memory.max"
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    monkeypatch.setattr(session, "_CGROUP_LIMITS", (str(cgroup),))

    def machine(cpus: int, mem_gib: int, cgroup_limit: str, env=None):
        monkeypatch.setattr(
            os, "sched_getaffinity", lambda pid: set(range(cpus)), raising=False
        )
        meminfo.write_text(
            f"MemTotal:       {mem_gib * 2**20} kB\nMemFree:        1024 kB\n"
        )
        cgroup.write_text(cgroup_limit)
        return session.session_size(env or {})

    assert machine(4, 16, "max\n") == (4, "4096m")
    assert machine(64, 256, "max\n") == (32, "8192m")
    assert machine(8, 64, f"{6 * 2**30}\n") == (8, "1536m")
    assert machine(2, 2, "max\n") == (2, "1024m")
    assert machine(
        4, 16, "max\n", {"SPARK_GRAFT_CPUS": "3", "SPARK_DRIVER_MEMORY": "2g"}
    ) == (3, "2g")
    meminfo.unlink()
    cgroup.unlink()
    assert session.session_size({}) == (4, "8192m")


_SUBMITTED = """\
import sys
sys.path.insert(0, {repo!r})
from fastqdedup_spark.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1)
print("CACHE", spark.conf.get("spark.sql.codegen.cache.maxEntries"))
spark.stop()
"""


def test_codegen_cache_pin_defers_to_a_submitted_value(spark, tmp_path):
    """get_spark sizes Spark's codegen cache (a static conf) for the
    package's plans, unless the launch submitted its own value."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    script = tmp_path / "driver.py"
    script.write_text(_SUBMITTED.format(repo=REPO))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.sql.codegen.cache.maxEntries=7 pyspark-shell"
    )
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, f"driver failed:\n{proc.stderr[-3000:]}"
    assert "CACHE 7" in proc.stdout
