"""get_spark must make the package importable on executor python
workers regardless of the launch cwd.

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

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """\
import sys
sys.path.insert(0, {repo!r})          # driver-side import only
from fastqdedup_spark.session import get_spark
from fastqdedup_spark.corpus import generate_files
spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
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
