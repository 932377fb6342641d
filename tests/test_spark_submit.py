"""north_rule: "run via spark-submit --py-files". This smoke test runs
the REAL submission path — a fresh JVM, the package imported from the
--py-files zip (not the repo checkout), the CLI driver end-to-end on a
tiny files table — and checks the deduped output."""

import hashlib
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))


def _spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    pytest.skip("no spark-submit binary found")


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    from make_pyfiles import build

    zip_path = build(str(tmp_path / "fastqdedup_spark.zip"))

    contents = [
        "def alpha(x):\n    return x + 1\n" + "# unique alpha body\n" * 3,
        "class Beta:\n    value = 42\n" + "# beta implementation here\n" * 3,
        "SELECT col_a, col_b FROM some_table WHERE col_a > 10\n" * 2,
        "def alpha(x):\n    return x + 1\n" + "# unique alpha body\n" * 3,  # dup of 0
        "while true; do echo completely different shell loop; done\n" * 2,
    ]
    table = pa.table(
        {
            "repo": [f"repo{i % 2}" for i in range(len(contents))],
            "path": [f"src/f{i}.txt" for i in range(len(contents))],
            "commit": ["c0"] * len(contents),
            "lang": ["py", "py", "sql", "py", "sh"],
            "content": contents,
        }
    )
    in_path = str(tmp_path / "files_in")
    out_path = str(tmp_path / "files_out")
    os.makedirs(in_path)
    pq.write_table(table, os.path.join(in_path, "part-0.parquet"))

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only import source
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_DRIVER_MEMORY"] = "2g"
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[4]",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "submit_main.py"),
            "--input", in_path,
            "--output", out_path,
            "--quiet",
        ],
        cwd=str(tmp_path),  # repo checkout must not be importable via cwd
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"

    out = pq.read_table(out_path)
    got = sorted(out.column("content").to_pylist())
    # the exact dup pair collapsed, everything else survived
    assert got == sorted(set(contents))
    # every output row carries the sha256 of its untouched content
    assert all(
        hashlib.sha256(c.encode()).hexdigest() == sha
        for c, sha in zip(out.column("content").to_pylist(),
                          out.column("sha").to_pylist())
    )
