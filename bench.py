"""Benchmark harness (driver-run per round; also the local feedback loop).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit", "queries": {name: sec}, "sf", ...}.

Noisy-neighbor hygiene (VERDICT r3 #3: a load-contaminated BENCH_r03
was indistinguishable from a 3x regression without a judge rerun):
every query runs best-of-$SPARK_GRAFT_BENCH_REPS (default 3) with a
FRESH DataFrame per rep (rebuilding the plan defeats Spark's
shuffle-stage reuse, which would otherwise fake the repeat), and
os.getloadavg() is stamped around each rep in the detail payload.

Headline set = the end-to-end near-dup pipeline (the engine's whole
point) + the heaviest operator families (LSH near-dup, SimHash,
substring dups, CC, cosine top-k, TPC-H-style agg). Timings exclude JVM
startup (a warm-up action runs first).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F

import __spark_entry__ as entrymod
from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.corpus import generate_files
from fastqdedup_spark.pipeline import dedup_files
from fastqdedup_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CORPUS_FILES = int(os.environ.get("SPARK_GRAFT_CORPUS_FILES", "24000"))
# best-of-3: rep variance on this box reaches 3x within one JVM (load
# waves + C2 warm-up of the band-join codegen — q15's first rep runs
# 2-3x its steady state), so best-of-2 under-reports the plan. Measured
# 2026-08-17: q15 reps 17.5/7.6/5.1 at stable ambient load.
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

timings: dict[str, float] = {}
extras: dict[str, dict] = {}


def timed(name: str, run_once, reps: int = REPS) -> None:
    """Best-of-N with load stamps; `run_once()` must BUILD and EXECUTE
    the query from scratch and return an info dict (>= {"rows": n})."""
    runs, loads, info = [], [], {}
    for _ in range(reps):
        l0 = os.getloadavg()[0]
        t0 = time.monotonic()
        info = run_once()
        runs.append(round(time.monotonic() - t0, 3))
        loads.append(round(l0, 1))
    timings[name] = min(runs)
    extras[name] = {**info, "runs": runs, "load1m": loads}


def bench_pipeline_docs(spark):
    files = entrymod._docs_as_files(entrymod._t(spark, SF_DIR, "documents"))
    n = files.count()
    cfg = DedupConfig(shingle_k=7, jaccard_threshold=0.8)  # shipped defaults: 256-bin sketch, 128-bin banding
    res = dedup_files(spark, files, cfg, quality=False)
    n_out = res.deduped.count()
    return {"files_in": n, "rows": n_out}


def bench_pipeline_corpus(spark):
    files = generate_files(spark, CORPUS_FILES, seed=42).localCheckpoint(eager=True)
    n = files.count()
    cfg = DedupConfig(shingle_k=7, jaccard_threshold=0.6)  # shipped defaults: 256-bin sketch, 128-bin banding
    res = dedup_files(spark, files, cfg, quality=False)
    n_out = res.deduped.count()
    return {"files_in": n, "rows": n_out}


def bench_q15_prod(spark):
    """q15 with the production (splitmix64) SimHash signer."""
    from fastqdedup_spark.functions.simhash import simhash_near_dup_pairs

    files = entrymod._docs_as_files(entrymod._t(spark, SF_DIR, "documents")).select(
        "id", F.col("content").alias("text")
    )
    return {"rows": simhash_near_dup_pairs(files, max_hamming=8, portable=False).count()}


def bench_q16_prod(spark):
    """q16 with the production (splitmix64) winnowing gram hash."""
    from fastqdedup_spark.operators.suffix_array import substring_dup_pairs

    files = entrymod._docs_as_files(entrymod._t(spark, SF_DIR, "documents")).select(
        "id", F.lower(F.col("content")).alias("content_norm")
    )
    return {"rows": substring_dup_pairs(files, k=15, w=20, portable=False).count()}


def main() -> None:
    # capture the JVM's stderr for the whole run: a codegen failure
    # (janino 64 KB, compile error) silently downgrades a hot stage to
    # non-codegen execution and only shows as an ERROR log line — count
    # it INTO the bench artifact so the regression is a number, not a
    # grep. The captured stream is replayed to the real stderr at exit.
    import tempfile

    orig_err = os.dup(2)
    errf = tempfile.NamedTemporaryFile(
        mode="w+", prefix="bench_stderr_", suffix=".log", delete=False
    )
    os.dup2(errf.fileno(), 2)
    try:
        _run(errf)
    finally:
        # ALWAYS restore fd 2 and replay the captured stream — without
        # this, an exception anywhere in the run wrote its traceback
        # into the temp file and the process died nonzero with zero
        # diagnostic output (and leaked the temp file)
        try:
            os.fsync(2)
        except OSError:
            pass
        os.dup2(orig_err, 2)
        os.close(orig_err)
        try:
            with open(errf.name) as f:
                sys.stderr.write(f.read())
            os.unlink(errf.name)
        except OSError:
            pass


def _run(errf) -> None:
    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).agg(F.sum("id")).collect()  # JVM warm-up

    qs = entrymod.queries()
    headline = [
        "q01_pricing_summary",
        "q12_cosine_topk",
        "q13_connected_components",
        "q14_minhash_near_dup",
        # oracle-parity (portable-kernel) variants — correctness-tracked
        "q15_simhash_pairs",
        "q16_substring_dups",
        # round-5 LLM-pipeline additions: repetition gates / PII scrub
        # (zero-shuffle projections) and benchmark decontamination
        # (broadcast gram join) — cheap, but a regression in the
        # higher-order-function eval path or the broadcast shape
        # should show up here
        "q25_repetition_stats",
        "q26_pii_scrub",
        "q27_decontaminate",
        "q28_mix_sample",
        # two-level distributed prefix sum (range + offset broadcast) —
        # a regression to a single-reducer global window shows up here
        "q29_pack_shards",
        # C4-style segment dedup: explode -> pinned hash partitioning
        # reused by agg AND join (one content exchange) -> sorted-
        # struct re-assembly; a second exchange sneaking in shows here
        "q30_segment_dedup",
    ]
    for name in headline:
        timed(name, lambda n=name: {"rows": qs[n](spark, SF_DIR).count()})

    # q11 benches the CAPPED variant (the 100 TB plan: hot bigrams carry
    # all of the f^2 skew and almost no Jaccard signal); the
    # driver-contract/oracle path stays uncapped. The drop-count
    # diagnostic is counted OUTSIDE the timed window (below) — the
    # reported q11 time reflects the production plan only.
    q11_drops: dict = {}

    def run_q11():
        q11_drops.clear()
        n = entrymod.q11_bigram_jaccard(
            spark, SF_DIR, freq_cap=100, drop_stats=q11_drops
        ).count()
        return {"rows": n, "freq_cap": 100}

    timed("q11_bigram_jaccard", run_q11)
    dropped_lazy = q11_drops.pop("_dropped_lazy", None)
    extras["q11_bigram_jaccard"]["dropped_bigrams"] = (
        int(dropped_lazy.count()) if dropped_lazy is not None else 0
    )

    # production-kernel (splitmix64 signer) variants: the actual 100 TB
    # path — tracked separately from the SQL-replicable portable kernels
    # so a signer-side perf regression stays visible (VERDICT r2 #3)
    timed("q15_simhash_pairs_prod", lambda: bench_q15_prod(spark))
    timed("q16_substring_dups_prod", lambda: bench_q16_prod(spark))

    timed("pipeline_dedup_docs", lambda: bench_pipeline_docs(spark))
    timed("pipeline_dedup_corpus", lambda: bench_pipeline_corpus(spark))
    for p in ("pipeline_dedup_docs", "pipeline_dedup_corpus"):
        extras[p]["files_per_sec"] = round(extras[p]["files_in"] / timings[p], 1)

    total = round(sum(timings.values()), 3)
    # read the captured stderr for the codegen-error count; fd 2 stays
    # redirected — main()'s finally restores it and replays the text
    os.fsync(2)
    with open(errf.name) as f:
        err_text = f.read()
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR,
                "cpus": CPUS,
                "reps": REPS,
                "codegen_errors": err_text.count("ERROR CodeGenerator"),
                "detail": extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
