"""The benchmark's workloads: seeded inputs, one user-visible operation
each, and the output check that decides whether an operation failed.

An operation is one CLI invocation, run in-process against the
benchmark's single local[4] Spark session (the CLI's get_spark returns
the running session). Operations form one closed loop: the next starts
only after the previous one and its check complete.
"""

from __future__ import annotations

import gzip
import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

import inputs

MASTER = "local[4]"
THRESHOLD = "0.6"


class CheckFailed(Exception):
    """An operation's output disagrees with the planted expectation."""


@dataclass
class Quality:
    """Dedup quality against the planted truth, summed over operations."""

    true_drops: int = 0
    dropped: int = 0
    planted: int = 0

    def add(self, groups: list[inputs.Group], kept: set[str]) -> None:
        for g in groups:
            gone = sum(m not in kept for m in g.members)
            self.true_drops += min(gone, g.drop)
            self.dropped += gone
            self.planted += g.drop

    @property
    def recall(self) -> float:
        return self.true_drops / self.planted if self.planted else 1.0

    @property
    def precision(self) -> float:
        return self.true_drops / self.dropped if self.dropped else 1.0


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _, names in os.walk(path)
        for n in names
    )


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _check_files_output(path: str, expected_rows: int) -> set[str]:
    """Every output row satisfies sha256(content) == sha, and the row
    count is the planted survivor count. Returns the kept paths."""
    table = pq.read_table(path, columns=["path", "content", "sha"]).to_pydict()
    bad = sum(
        inputs.sha256_hex(c) != s for c, s in zip(table["content"], table["sha"])
    )
    _check(bad == 0, f"{bad} output rows with sha != sha256(content)")
    _check(
        len(table["path"]) == expected_rows,
        f"{len(table['path'])} survivors, expected {expected_rows}",
    )
    return set(table["path"])


class Workload:
    name = ""

    def __init__(self, spark, workdir: str, seed: int) -> None:
        self.spark = spark
        self.work = workdir
        self.seed = seed
        self.quality = Quality()
        self.layer_extra: dict[str, float] = {}
        self.setup_extra: dict[str, float] = {"checkpoint.bytes_written": 0}

    def prepare(self) -> None:
        """Generate inputs and their expectations."""

    def warm_up_op(self) -> None:
        """One operation before timing (part of set-up)..."""

    def warm_up_check(self) -> None:
        """...and its check; sets setup_extra."""

    def has_op(self, i: int) -> bool:
        return True

    def rows(self, i: int) -> int:
        raise NotImplementedError

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> None:
        """Validate operation i's output (raises CheckFailed), add its
        quality counts, set layer_extra, and clean up its outputs."""
        raise NotImplementedError


class CodeIncremental(Workload):
    name = "code-incremental"
    # 5 increments cover the loop at >= 2 s per operation; the seed
    # families must outnumber the 30 per increment drawn for re-ingests
    # and near-duplicates
    SEED_FAMILIES = 180
    INCREMENTS = 5
    EXACT = 15
    NEAR = 15
    NEW_FAMILIES = 40

    def prepare(self) -> None:
        from fastqdedup_spark import incremental

        self.seed_path, self.seed_kept, self.incs = inputs.incremental_inputs(
            self.spark, self.work, self.seed, self.SEED_FAMILIES, self.INCREMENTS,
            self.EXACT, self.NEAR, self.NEW_FAMILIES,
        )
        self.index = f"{self.work}/index"
        # observe (never alter) the increment result: its metrics carry
        # the kept/dropped_exact/dropped_near split the check needs
        orig = incremental.dedup_files_incremental
        self._result = None

        def observed(*args, **kwargs):
            self._result = orig(*args, **kwargs)
            return self._result

        incremental.dedup_files_incremental = observed
        self.append_bytes = 0
        self.input_bytes = 0

    def _cli(self, input_path: str, tag: str, *extra: str) -> None:
        from fastqdedup_spark import cli

        cli.main([
            "--input", input_path, "--output", f"{self.work}/out-{tag}",
            "--index", self.index, "--threshold", THRESHOLD,
            "--master", MASTER, "-q", *extra,
        ])

    def warm_up_op(self) -> None:
        # the seed build is the index-build job of the documented
        # production invocation (batch pipeline with durable, lineage-
        # verified stage checkpoints) on the cold JVM; the checkpoint
        # layer is measured here, so its cost lands in setup_s
        self._cli(self.seed_path, "seed", "--checkpoint-dir", f"{self.work}/ck-seed")

    def warm_up_check(self) -> None:
        try:
            _check_files_output(f"{self.work}/out-seed", self.seed_kept)
            self.setup_extra = {"checkpoint.bytes_written": _tree_bytes(f"{self.work}/ck-seed")}
        finally:
            for d in ("out-seed", "ck-seed"):
                shutil.rmtree(f"{self.work}/{d}", ignore_errors=True)
            self._index_bytes = _tree_bytes(self.index)

    def has_op(self, i: int) -> bool:
        return i < len(self.incs)

    def rows(self, i: int) -> int:
        return self.incs[i].rows if i >= 0 else self.seed_kept

    def op(self, i: int) -> None:
        self._result = None
        self._cli(self.incs[i].path, f"{i:02d}")

    def check(self, i: int) -> None:
        inc = self.incs[i]
        out = f"{self.work}/out-{i:02d}"
        try:
            kept = _check_files_output(out, inc.kept)
            _check(self._result is not None, "no incremental result observed")
            m = self._result.metrics
            split = (m["incremental.kept"], m["incremental.dropped_exact"],
                     m["incremental.dropped_near"])
            _check(split == (inc.kept, inc.exact, inc.near),
                   f"kept/exact/near {split}, expected {(inc.kept, inc.exact, inc.near)}")
            # tier 3 drops the within-batch duplicates of what tiers 1-2 let through
            within = m["batch.input.files"] - m["incremental.kept"]
            _check(sum(split) + within == inc.rows,
                   f"kept+dropped {sum(split) + within} != input {inc.rows}")
            self.quality.add(inc.groups, kept)
            index_bytes = _tree_bytes(self.index)
            grown = index_bytes - self._index_bytes
            self._index_bytes = index_bytes
            self.append_bytes += grown
            self.input_bytes += inc.in_bytes
            self.layer_extra = {
                "incremental.append_bytes": grown,
                "incremental.index_bytes_per_input_byte": self.append_bytes / self.input_bytes,
            }
        finally:
            shutil.rmtree(out, ignore_errors=True)


class FastqUmi(Workload):
    name = "fastq-umi"
    MOLECULES = 1000
    PAIRS = 10_000
    UMI_LEN = 8
    READ_LEN = 50
    ERROR_FRAC = 0.03

    def prepare(self) -> None:
        self.fq = inputs.fastq_input(
            self.work, self.seed, self.MOLECULES, self.PAIRS, self.UMI_LEN,
            self.READ_LEN, self.ERROR_FRAC,
        )
        self.layer_extra = {
            "incremental.append_bytes": 0,
            "incremental.index_bytes_per_input_byte": 0,
        }

    def rows(self, i: int) -> int:
        return self.fq.pairs

    def _outs(self, i: int) -> tuple[str, str]:
        return (f"{self.work}/op{i}_R1.fastq.gz", f"{self.work}/op{i}_R2.fastq.gz")

    def op(self, i: int) -> None:
        from fastqdedup_spark import cli

        o1, o2 = self._outs(i)
        cli.parity_main([
            self.fq.r1, self.fq.r2, "-l", f"{self.UMI_LEN},{self.UMI_LEN}",
            "-o", o1, "-o", o2, "--master", MASTER, "-q",
        ])

    # the first operations on a fresh JVM keep getting faster while the
    # JIT compiles (measured on 4 cores: 8.4, 7.1, 6.8, 6.2 s after one
    # warm-up); two warm-up operations take the steepest part of that
    # curve out of the timed loop
    WARM_UP_OPS = 2

    def warm_up_op(self) -> None:
        for k in range(self.WARM_UP_OPS):
            self.op(-1 - k)

    def warm_up_check(self) -> None:
        for k in range(self.WARM_UP_OPS):
            self.check(-1 - k)
        self.quality = Quality()

    def check(self, i: int) -> None:
        outs = self._outs(i)
        try:
            recs = []
            for path in outs:
                with gzip.open(path, "rt") as f:
                    lines = f.read().splitlines(keepends=True)
                recs.append(["".join(lines[j : j + 4]) for j in range(0, len(lines), 4)])
            for got, want, mate in zip(recs, (self.fq.expected_r1, self.fq.expected_r2), "12"):
                _check(len(got) == len(want),
                       f"R{mate}: {len(got)} survivors, oracle expects {len(want)}")
                _check(got == want, f"R{mate}: survivors differ from the oracle's")
            kept = {r.split("/", 1)[0][1:] for r in recs[0]}
            self.quality.add(self.fq.groups, kept)
        finally:
            for path in outs:
                if os.path.exists(path):
                    os.remove(path)


WORKLOADS = {w.name: w for w in (CodeIncremental, FastqUmi)}
