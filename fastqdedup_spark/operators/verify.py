"""Candidate-pair verification (SURVEY.md M4) — keeps precision exact.

Two verifiers, one per domain:

- keys (the parity CLI): the reference's per-pair distance kernels
  (/root/reference/src/fastqdedup/distances.h:8-88, exposed as
  `within_distance`, _distancemodule.c:46-93) as one Catalyst predicate,
  `within_distance_column`: Spark's thresholded `levenshtein` for edit
  distance, a `zip_with`/`aggregate` mismatch count for Hamming. The
  pairs never leave the JVM, so verification adds no Python stage.
- code content: the JVM-side 2-bit est-sketch prefilter
  (est_filter_carried, run inside candidate generation with a floor
  derived from the sketch width and the threshold), then exact shingle
  intersection in an Arrow-vectorized pandas UDF for survivors only, in
  one plan shape: pairs keyed by (id_a, a 4-way id_b salt), fanned out
  to the Arrow-stage task count unless the caller knows the stage is
  short.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame

from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.functions.minhash import (
    content_chunk_bounds,
    shingle_window_hashes,
)


def _attach_pair_values(
    pairs: DataFrame, values: DataFrame, id_col: str, value_col: str,
    values_b: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b) + (id, value) -> (id_a, id_b, value_a, value_b).
    Two equi-joins on the id; at scale both sides hash-partition on the
    join key and AQE broadcasts `values` when it is small. `values_b`,
    when given, supplies id_b's values instead of `values` (pairs whose
    two sides come from different tables: each side then reads only its
    own table)."""
    if values_b is None:
        values_b = values
    va = values.select(F.col(id_col).alias("id_a"), F.col(value_col).alias("value_a"))
    vb = values_b.select(F.col(id_col).alias("id_b"), F.col(value_col).alias("value_b"))
    return pairs.join(va, "id_a").join(vb, "id_b")


def within_distance_column(
    a: str, b: str, max_distance: int, use_edit_distance: bool
) -> Column:
    """Catalyst form of functions.distances.within_distance over the
    string columns named `a` and `b`. Edit distance: `levenshtein` with
    a threshold returns -1 once the distance exceeds it. Hamming:
    zip_with pads the shorter character array with nulls, so the
    null-safe mismatch count covers the length gap too, and the gap is
    weighted past the budget so that unequal lengths never pass
    (distances.h:16-20).

    The Hamming length test is folded into the one arithmetic
    expression on purpose: a separate `length(a) = length(b)` conjunct
    is an equality between the two sides of the id_b join, so Catalyst
    made it a join key and re-keyed that join's exchange on
    (length(value_a), id_b), one more job per run."""
    # one SQL string is one py4j round trip; building the same lambdas
    # through the Column API cost ~200 more per plan build
    if use_edit_distance:
        return F.expr(f"levenshtein({a}, {b}, {max_distance}) >= 0")
    return F.expr(
        f"aggregate(zip_with(split({a}, ''), split({b}, ''),"
        f" (x, y) -> if(x <=> y, 0, 1)), 0, (n, m) -> n + m)"
        f" + abs(length({a}) - length({b})) * {max_distance} <= {max_distance}"
    )


def verify_pairs_distance(
    pairs: DataFrame, keys: DataFrame, cfg: DedupConfig,
    id_col: str = "key", key_col: str = "key",
) -> DataFrame:
    """Reference-parity verification: keep pairs within
    Hamming/Levenshtein radius. Returns (id_a, id_b)."""
    withv = _attach_pair_values(pairs, keys, id_col, key_col)
    within = within_distance_column(
        "value_a", "value_b", cfg.max_distance, cfg.use_edit_distance
    )
    return withv.filter(within).select("id_a", "id_b")


def make_jaccard_udf(k: int, cache_cap_bytes: int = 512 << 20):
    """Exact Jaccard over char-k-gram shingle sets of two text columns.

    Batch optimizations (hub documents appear in MANY candidate pairs —
    the hot-band skew shape):
    - texts are factorized per Arrow batch, so each distinct document's
      shingle set is hashed and uniqued ONCE per batch, not once per pair;
    - a per-TASK cache carries shingle sets ACROSS batches, so a
      document is shingled once per task, not once per batch. Measured
      without it (192k files): per-partition re-shingling made the
      verify stage's python work grow ~linearly with the partition
      count — 1135 executor-core-seconds at 32 partitions, flat wall
      8->32 cores. verify_pairs_jaccard (below) partitions pairs by
      (id_a, a 4-way id_b salt) so each document's pairs concentrate
      in few tasks;
    - intersections run via searchsorted on the pre-sorted unique arrays
      (no allocation, no re-sort) — the vectorized analog of the
      reference's fast-fail compare loop (distances.h:24-27).
    """

    # captured by the UDF closure: pickled empty with the task binary,
    # deserialized per task, and MUTATED across that task's batches.
    # Eviction is LRU-half (python dicts are insertion-ordered; hits
    # refresh recency via pop+reinsert) with incremental byte
    # accounting — the earlier clear-all-at-cap design THRASHED when a
    # task's distinct-doc footprint sat near the cap (768k files: the
    # verify stage burned ~5,000 executor-core-seconds re-shingling in
    # cycles, its wall identical at 8 and 32 cores).
    cache: dict = {}
    cache_bytes = [0]

    @F.pandas_udf(T.DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        both = pd.concat([a.fillna(""), b.fillna("")], ignore_index=True)
        codes, uniques = pd.factorize(both)
        missing = []
        for u in uniques:
            v = cache.pop(u, None)
            if v is None:
                missing.append(u)
            else:
                cache[u] = v  # reinsert: most-recently-used at the end
        if missing:
            # cache-resident chunks (see content_chunk_bounds): a cold
            # task's first batches shingle thousands of uncached docs
            # at once, and the whole-batch kernel call pays ~120 MB of
            # fresh-temporary allocation + DRAM sweep per numpy op
            mlens = np.fromiter(
                (len(u) for u in missing), dtype=np.int64, count=len(missing)
            )
            for lo, hi in content_chunk_bounds(mlens):
                H, starts, counts = shingle_window_hashes(missing[lo:hi], k)
                for i in range(hi - lo):
                    arr = np.unique(H[starts[i] : starts[i] + counts[i]])
                    cache[missing[lo + i]] = arr
                    cache_bytes[0] += arr.nbytes
        sets = [cache[u] for u in uniques]
        n = len(a)
        ca, cb = codes[:n], codes[n:]
        out = np.zeros(n, dtype=np.float64)
        for i in range(n):
            xs, ys = sets[ca[i]], sets[cb[i]]
            nx, ny = len(xs), len(ys)
            if not nx and not ny:
                out[i] = 1.0  # both empty: identical
                continue
            if not nx or not ny:
                continue
            if nx > ny:
                xs, ys, nx, ny = ys, xs, ny, nx
            idx = np.searchsorted(ys, xs)
            idx[idx == ny] = ny - 1
            inter = int(np.count_nonzero(ys[idx] == xs))
            out[i] = inter / (nx + ny - inter)
        # evict AFTER the batch (this batch's entries sit at the MRU end
        # and `sets` holds its arrays regardless): LRU-half keeps hot
        # documents across the cap boundary
        if cache_bytes[0] > cache_cap_bytes:
            for key in list(cache)[: max(len(cache) // 2, 1)]:
                cache_bytes[0] -= cache[key].nbytes
                del cache[key]
        return pd.Series(out)

    # asNondeterministic = "evaluate exactly once, where declared".
    # Without it, Catalyst pushed the jaccard filter BELOW the locality
    # repartition — the UDF ran over the full pair stream on the
    # band-ordered pre-exchange partitioning (no locality, so the
    # per-task shingle cache never hit) and then re-ran a SECOND time
    # above the exchange for the output projection. Observed as two
    # ArrowEvalPython nodes straddling the Exchange in the verify plan.
    return _udf.asNondeterministic()


# Design note (measured, do not relearn): pre-serializing each doc's
# sorted shingle set in the signer and shipping it to verify instead of
# content ("packed kernel") removes ALL python-side shingling — but the
# payload is ~7x the normalized content (5.7 KB vs 0.8 KB per doc on
# the synthetic corpus), and the attach-join + repartition shuffle plus
# Arrow transfer of the fatter rows cost far more than the shingling
# saved: verify wall 94 s vs 18 s at 32 cores under comparable load.
# The text kernel + per-task cache + id_a co-partitioning is the
# winning combination; revisit packing only for corpora whose contents
# are much larger than their shingle sets.
#
# Design note (measured, do not relearn): keying pairs by a one-round
# hash-min COMPONENT label instead of (id_a, id_b salt) cut the
# per-task shingle-cache misses from 1.01M to ~397k at 768k files and
# halved the isolated verify stage, but read wall-neutral end to end and
# ~10% slower at 24k files (BASELINE.md round 5, "Verify locality" and
# "Knob A/B"). Its extra groupBys and label joins are not worth a second
# plan shape below that scale.


_PAIR_MASK = 0x5555555555555555  # low bit of every 2-bit lane


def est_bin_match_prob(j: float) -> float:
    """P[a 2-bit sketch bin agrees] for true jaccard j: the bin carries
    the low 2 bits of the per-bin min-hash, so it agrees when the mins
    are equal (prob j) or collide in the low 2 bits (prob 1/4)."""
    return j + (1.0 - j) / 4.0


# Guard of the est prefilter in binomial standard deviations: a pair
# whose true jaccard sits exactly at the threshold is dropped with
# P ~ 1e-6 (one-sided normal tail at 4.75 sigma).
EST_FLOOR_Z = 4.75


def est_floor(cfg: DedupConfig) -> int:
    """Matching-bin floor of the est prefilter, derived from the sketch
    width and the threshold: a pair at jaccard == threshold agrees on
    each of num_perm bins independently with p = est_bin_match_prob, so
    its count is Binomial(n, p) and the floor sits EST_FLOOR_Z standard
    deviations below n*p. Rounded down, the conservative direction for a
    keep-if-at-least filter. 190 at (0.8, 256 bins), 89 at (0.8, 128),
    144 at (0.6, 256)."""
    n = cfg.num_perm
    p = est_bin_match_prob(cfg.jaccard_threshold)
    return int(n * p - EST_FLOOR_Z * math.sqrt(n * p * (1.0 - p)))


def est_jaccard_matches(
    cfg: DedupConfig, sig_a: str = "sig_a", sig_b: str = "sig_b"
) -> "F.Column":
    """Matching-bin count between `sig_a`/`sig_b` packed-sketch columns
    (2 bits per bin, 32 bins per long): XOR the words, OR-collapse each
    2-bit lane into its low bit, mask, and subtract the popcount — a
    2-bit lane is zero iff the bin agreed.

    Codegen history (do not relearn — measured, Spark 4.1, 20M pairs x
    local[8], BASELINE.md rounds 2 and 4):
    - byte-packed sketch, flat 128 comparison terms: the expression
      inlines into the host consume method (bhj_doConsume /
      hashAgg_doAggregateWithoutKey), ~20k generated lines -> janino
      "Code grows beyond 64 KB" -> whole stage falls back to the
      row-codegen operator path (5.9 s / 20M);
    - SWAR OR-pyramids per word: janino compiles (~10k lines) but the
      method exceeds HotSpot's 8 KB JIT limit -> interpreted BYTECODE,
      236 s / 20M — the worst mode, and it looks like a success in the
      logs;
    - per-word subexpression-duplication tricks do NOT shrink the host
      method (Spark hoists leaf pieces, not the big terms);
    - THIS form (~25 expression nodes, bit_count is a JIT intrinsic):
      936-line host method, fully JIT'd, 1.33 s / 20M — 4.4x the
      fallback, 177x the un-JITed SWAR.
    Keep the expression node count O(num_perm / 32); never reintroduce
    a per-bin comparison chain."""
    n_words = (cfg.num_perm + 31) // 32
    pad_bins = 32 * n_words - cfg.num_perm  # zero lanes in both sigs
    terms = []
    for w in range(n_words):
        x = F.element_at(sig_a, w + 1).bitwiseXOR(F.element_at(sig_b, w + 1))
        lane = x.bitwiseOR(F.shiftrightunsigned(x, 1)).bitwiseAND(F.lit(_PAIR_MASK))
        terms.append(F.lit(32) - F.bit_count(lane))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return (out - F.lit(pad_bins)).cast("int")


def est_filter_carried(
    raw: DataFrame, cfg: DedupConfig, keep_est: bool = False,
) -> DataFrame:
    """Estimated-Jaccard pre-filter (JVM-side): the semantic-skew pair
    flood (boilerplate headers -> quadratically many j~0.2 candidates)
    dies here before any shuffle, content, or Python is touched. The
    floor (est_floor) keeps a pair at j == threshold with the same
    EST_FLOOR_Z-sigma guard at every threshold and sketch width, so
    false drops are statistically negligible; the exact verify UDF
    keeps precision exact.

    `raw` already carries `sig_packed_a`/`sig_packed_b` as band-join
    payload columns, so the filter is a pure streamed-row expression —
    zero hash probes per raw pair (joining per-id sketch relations
    instead paid two random lookups for every one of the ~60M raw
    pairs at 192k files; BASELINE.md round 5, "Pair-probe verdict")."""
    min_matches = est_floor(cfg)
    # The zero-valued NON-DETERMINISTIC term pins the filter ABOVE the
    # est projection: Catalyst never pushes non-deterministic predicates
    # (and this one is a single comparison, so conjunct-splitting can't
    # peel a deterministic part off), so the est expression is evaluated
    # in a Project instead of being alias-substituted into the join
    # CONDITION (a join condition is generated as ONE inline blob).
    # With the 2-bit sketch the expression is small enough that either
    # placement compiles and JITs; the pin stays as cheap insurance
    # against the blob regrowing (e.g. a num_perm bump).
    nondet_zero = (F.rand(cfg.seed) * F.lit(0.0)).cast("int")
    out = raw.withColumn(
        "est_matches", est_jaccard_matches(cfg, "sig_packed_a", "sig_packed_b")
    ).filter((F.col("est_matches") + nondet_zero) >= min_matches)
    cols = ["id_a", "id_b"] + (["est_matches"] if keep_est else [])
    return out.select(*cols)


def verify_pairs_jaccard(
    pairs: DataFrame, contents: DataFrame, cfg: DedupConfig,
    id_col: str = "sha", content_col: str = "content_norm",
    approx_rows: float | None = None,
    contents_b: DataFrame | None = None,
) -> DataFrame:
    """Code-domain verification: exact Jaccard >= threshold on
    normalized content. Returns (id_a, id_b, jaccard). Candidate
    generation already ran the est prefilter (est_filter_carried), so
    every pair that reaches here ships its content to the exact kernel.

    `contents_b`, when given, holds id_b's rows and `contents` only
    id_a's (the incremental probe: every pair is (old, new), so the
    index side and the batch side are never unioned into one table).

    `approx_rows` (when the caller knows it) sizes the Arrow-stage task
    count and, below one task's worth of rows, skips the fan-out (see
    DedupConfig.python_stage_tasks and python_stage_fans_out).

    The kernel re-shingles content per batch with a per-task cache and
    id_a co-partitioning (see make_jaccard_udf and the packed-kernel
    design note above)."""
    jac = make_jaccard_udf(cfg.shingle_k)
    if contents_b is None:
        contents_b = contents
    # The CONTENT table never broadcasts — it exceeds any broadcast
    # budget at real scale and building the broadcast is driver-serial;
    # its join stays a shuffled equi-join on id (the scan-shaped plan
    # that survives 100x data).
    withv = _attach_pair_values(
        pairs, contents.select(id_col, content_col), id_col, content_col,
        values_b=contents_b.select(id_col, content_col),
    )
    # CPU-bound verify: fan out to full parallelism (AQE's byte-based
    # coalescing would run the pair kernel on a handful of cores) — but
    # partition by DOCUMENT, not round-robin: near-dup pairs are
    # clustered, so grouping a document's pairs into the same task lets
    # the UDF's per-task shingle cache amortize each document's
    # shingling across its pairs. Round-robin scattered every hot
    # document into every partition and the python re-shingling work
    # grew ~linearly with the partition count (the stage's 8->32-core
    # scaling was FLAT). The 4-way id_b salt spreads a hub document's
    # pairs over a few tasks instead of one.
    #
    # A known-short stage (fewer documents than one Arrow task's worth)
    # verifies in the partitions its pairs already have: the exchange
    # and its extra python workers cost more than the rows.
    if cfg.python_stage_fans_out(approx_rows):
        sc = pairs.sparkSession.sparkContext
        withv = withv.repartition(
            cfg.python_stage_tasks(sc, approx_rows),
            "id_a", F.pmod(F.xxhash64("id_b"), F.lit(4)),
        )
    return (
        withv.withColumn("jaccard", jac("value_a", "value_b"))
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
