"""spark-submit driver (SURVEY.md O17).

Mirrors the reference's argparse surface
(/root/reference/src/fastqdedup/__init__.py:305-361) re-keyed for the
code domain: input table, Jaccard threshold, dissection method, plus
the graft's shingle/signature/band, index and checkpoint knobs. The
reference's Hamming/edit radius (`-d`, `--edit`) belongs to the parity
driver only: code-domain clustering is exact Jaccard. There is one
front: every run goes through incremental.dedup_files_incremental, and
without --index that is an increment against no index that appends
nothing. There is one clustering path: every candidate edge is verified
exactly, and with a checkpoint dir every durable stage is
lineage-checked on resume. Plan
shapes are not flags: the band join has one form, the est prefilter
always runs on the sketch that rides the band shuffle, with a floor
derived from --num-perm and --threshold, verify has one pair keying,
and the Arrow-task count and fan-out are sized from the row counts the
run observes.

Usage (zip built by scripts/make_pyfiles.py; smoke-tested end-to-end in
tests/test_spark_submit.py):
    spark-submit --master <cluster> --py-files dist/fastqdedup_spark.zip \
        scripts/submit_main.py \
        --input /data/files --output /data/deduped \
        --shingle-k 7 --num-perm 256 --bands 32 --threshold 0.8 \
        --cluster-dissection canonical --checkpoint-dir /data/ck
"""

from __future__ import annotations

import argparse
import logging
import sys
import time

from fastqdedup_spark import incremental
from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.session import get_spark
from fastqdedup_spark.sources import input_fingerprint, read_files_table, write_table

logger = logging.getLogger("fastqdedup_spark")


def argument_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="fastqdedup-spark")
    p.add_argument("--input", required=True,
                   help="parquet path (anything containing '/') or Iceberg "
                        "table identifier")
    p.add_argument("--output", required=True,
                   help="parquet path (anything containing '/') or Iceberg "
                        "table identifier")
    p.add_argument("--shingle-k", type=int, default=7)
    p.add_argument("--num-perm", type=int, default=256)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--band-bins", type=int, default=128,
                   help="leading signature bins folded into band hashes "
                        "(0 = all num-perm); the default 256/128 split "
                        "keeps 128-bin banding recall while the est "
                        "prefilter reads the tighter 256-bin sketch")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="exact-Jaccard verify cutoff")
    p.add_argument("-c", "--cluster-dissection", default="canonical",
                   choices=["canonical", "highest_count", "adjacency", "directional"])
    p.add_argument("--band-freq-cap", type=int, default=2000)
    p.add_argument("--max-cluster-size", type=int, default=5_000,
                   help="clusters with more members fall back from "
                        "adjacency/directional dissection to canonical "
                        "(counted in metrics, warned on)")
    p.add_argument("--max-cluster-bytes", type=int, default=256 << 20,
                   help="byte-size analog of --max-cluster-size")
    p.add_argument("--index", default="",
                   help="persisted dedup-index directory on the local "
                        "filesystem (incremental mode; file:// accepted, "
                        "other URI schemes refused): the input is deduped "
                        "AGAINST the batches appended before it — exact "
                        "tier vs every sha ever seen, near tier vs index "
                        "survivors, then a within-batch recluster — only the "
                        "kept files are written to --output, and this "
                        "batch's retained state is appended. On an empty "
                        "index that is a full batch dedup (the seed build)")
    p.add_argument("--index-batch-id", default="",
                   help="explicit batch id for the --index append (default: "
                        "derived from the input fingerprint; a rerun under "
                        "the same id sees the index as its first run did and "
                        "is an idempotent no-op append; the same id with "
                        "different content is refused)")
    p.add_argument("--no-update-index", action="store_false", dest="update_index",
                   help="with --index on a non-empty index: dedup against it "
                        "without appending this batch's retained state")
    p.add_argument("--checkpoint-dir", default="")
    p.add_argument("--master", default=None)
    p.add_argument("-q", "--quiet", action="store_true")
    return p


def parity_argument_parser() -> argparse.ArgumentParser:
    """The reference's exact CLI surface (argument_parser,
    /root/reference/src/fastqdedup/__init__.py:305-361), Spark-backed."""
    p = argparse.ArgumentParser(prog="fastqdedup-parity")
    p.add_argument(
        "fastq", metavar="FASTQ", nargs="+",
        help="Forward FASTQ and optional reverse and UMI FASTQ files.",
    )
    p.add_argument(
        "-l", "--check-lengths",
        help="Comma-separated lengths/slices per file, e.g. '16,8' or '4:8'.",
    )
    p.add_argument(
        "-o", "--output", action="append",
        help="Output file; repeat once per input file.",
    )
    p.add_argument("-p", "--prefix", default="fastqdedup_R",
                   help="Prefix for default output names.")
    p.add_argument("-d", "--max-distance", type=int, default=1)
    p.add_argument("-e", "--max-average-error-rate", type=float, default=0.001)
    p.add_argument("-E", "--no-average-error-rate-filter",
                   action="store_const", dest="max_average_error_rate", const=1.0,
                   help="Do not filter on average per base error rate.")
    p.add_argument("--edit", action="store_true",
                   help="Use edit (Levenshtein) distance instead of Hamming.")
    p.add_argument("-c", "--cluster-dissection-method",
                   choices=["highest_count", "adjacency", "directional"],
                   default="directional")
    p.add_argument("-v", "--verbose", action="count", default=0)
    p.add_argument("-q", "--quiet", action="count", default=0)
    p.add_argument("--master", default=None, help="Spark master (graft-only).")
    return p


def parity_main(argv: list[str] | None = None) -> None:
    """Reference CLI end-to-end on Spark: read FASTQ file(s) -> zip ->
    quality filter -> exact-radius cluster -> dissect -> first-wins ->
    gzipped FASTQ outputs (deduplicate_cluster + main,
    /root/reference/src/fastqdedup/__init__.py:209-288, 378-412)."""
    from fastqdedup_spark.functions.slices import length_string_to_slices
    from fastqdedup_spark.sources.fastq import deduplicate_fastq, write_fastq

    args = parity_argument_parser().parse_args(argv)
    level = logging.INFO - 10 * (args.verbose - args.quiet)
    logging.basicConfig(level=level)
    input_files: list[str] = args.fastq
    check_slices = (
        length_string_to_slices(args.check_lengths) if args.check_lengths else None
    )
    if check_slices and len(input_files) != len(check_slices):
        raise ValueError(
            f"Amount of check lengths ({len(check_slices)}) must be equal to "
            f"the amount of input files ({len(input_files)}). "
        )
    output_files = args.output or [
        f"{args.prefix}{x}.fastq.gz" for x in range(1, len(input_files) + 1)
    ]
    if len(input_files) != len(output_files):
        raise ValueError(
            f"Amount of output files ({len(output_files)}) must be equal to "
            f"the amount of input files ({len(input_files)}). "
        )
    cfg = DedupConfig(
        max_distance=args.max_distance,
        use_edit_distance=args.edit,
        dissection=args.cluster_dissection_method,
    )
    spark = get_spark(master=args.master)
    t0 = time.monotonic()
    surviving = deduplicate_fastq(
        spark, input_files, cfg, check_slices, args.max_average_error_rate
    )
    n = write_fastq(surviving, output_files)
    logger.info(
        "wrote %d surviving record tuples to %s in %.1fs",
        n, ", ".join(output_files), time.monotonic() - t0,
    )


def main(argv: list[str] | None = None) -> None:
    args = argument_parser().parse_args(argv)
    logging.basicConfig(level=logging.WARNING if args.quiet else logging.INFO)
    spark = get_spark(master=args.master)
    cfg = DedupConfig(
        shingle_k=args.shingle_k,
        num_perm=args.num_perm,
        bands=args.bands,
        band_bins=args.band_bins,
        jaccard_threshold=args.threshold,
        dissection=args.cluster_dissection,
        band_freq_cap=args.band_freq_cap,
        max_cluster_size=args.max_cluster_size,
        max_cluster_bytes=args.max_cluster_bytes,
        checkpoint_dir=args.checkpoint_dir,
        # bind checkpoints to THIS input: same knobs + different data
        # must never resume from a previous dataset's stages; --index
        # batch ids derive from the same fingerprint (idempotent appends)
        input_id=(
            input_fingerprint(args.input, spark)
            if (args.checkpoint_dir or args.index)
            else ""
        ),
    )
    t0 = time.monotonic()
    files = read_files_table(spark, args.input)
    # one path for the batch run, the seed build, its rerun and every
    # increment: without --index the input is deduped against no index
    # and nothing is appended. Called through the module attribute, so a
    # wrapper installed there (perfbench/workloads.py observes results
    # that way) sees it.
    index = None
    if args.index:
        index = incremental.DedupIndex(spark, args.index, cfg)
        if index.is_empty and not args.update_index:
            raise SystemExit(
                "--no-update-index requires an existing index: an empty "
                f"--index {args.index} has nothing to dedup against"
            )
    inc = incremental.dedup_files_incremental(
        spark, files, cfg, index,
        update_index=index is not None and args.update_index,
        batch_id=args.index_batch_id or None,
    )
    write_table(inc.deduped, args.output)
    dt = time.monotonic() - t0
    n = inc.metrics["incremental.kept"]
    n_fallback = inc.metrics.get("batch.dissect.fallback_clusters", 0)
    if n_fallback:
        logger.warning(
            "%d cluster(s) exceeded --max-cluster-size/--max-cluster-bytes "
            "and used canonical (min-sha) survivor selection instead of %s",
            int(n_fallback), cfg.dissection,
        )
    logger.info(
        "[%s] deduped to %s rows in %.1fs; metrics: %s",
        "index" if index else "batch", n, dt, inc.metrics,
    )


if __name__ == "__main__":
    main(sys.argv[1:])
