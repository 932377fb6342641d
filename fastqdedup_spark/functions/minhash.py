"""MinHash signatures over char k-gram shingles — the graft's
candidate-generation model (BASELINE.json north_rule), replacing the
reference's trie radius search
(/root/reference/src/fastqdedup/_triemodule.c:380-495).

Vectorization strategy (no per-row Python, per input_hint):
- a whole Arrow batch of normalized texts is concatenated into ONE
  uint8 buffer (k-1 junk windows straddle row boundaries);
- k-gram rolling polynomial hashes over that buffer are k vectorized
  fused ops (H = H*B + buf[j:]), finalized with splitmix64;
- boundary-straddling windows are overwritten with UINT64_MAX so they
  can never win a min;
- each of the `num_perm` permutations is one xor + splitmix64 + one
  `np.minimum.reduceat` over the row-start offsets.

Duplicate shingles need no dedup: min over a multiset equals min over
its set, so signatures are exact MinHash over the shingle SET.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from fastqdedup_spark.config import DedupConfig

_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)
_POLY_B = np.uint64(0x100000001B3)  # FNV-ish odd multiplier


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant set).
    In-place ops on a single working copy — one allocation per call."""
    z = z + np.uint64(0x9E3779B97F4A7C15)  # the only new array
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def perm_seeds(num_perm: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(np.random.SeedSequence([seed, 77]))
    return rng.integers(1, 2**63 - 1, size=num_perm, dtype=np.uint64)


def normalize_content(col: str | Column = "content") -> Column:
    """Content normalization as pure Catalyst expressions: lowercase,
    collapse all whitespace runs to single spaces, trim. (Graft analog
    of the reference's key projection O4, __init__.py:160-167.)"""
    from fastqdedup_spark.functions import as_column

    c = as_column(col)
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


# Row-chunk size for the signer kernels (content bytes per chunk).
# Sized so every per-window temporary (8 bytes x ~4 live arrays per op)
# stays L2/L3-resident even with a full complement of concurrent Arrow
# workers sharing the cache; 256 KB measured best of {256 KB, 1 MB}
# single-threaded and the win is larger under parallel DRAM contention.
_SIGNER_CHUNK_BYTES = 256 << 10


def content_chunk_bounds(lens: np.ndarray, target_bytes: int = _SIGNER_CHUNK_BYTES):
    """(lo, hi) row-ranges cutting `lens` at ~target_bytes boundaries
    (a row longer than the target gets its own chunk). Feeding the
    shingle/OPH kernels cache-resident chunks instead of whole Arrow
    batches avoids their full-width uint64 temporaries — ~120 MB of
    fresh allocation + DRAM sweep per op at 10k rows — and measured
    11x faster there, byte-identical output (BASELINE.md round 5)."""
    n = len(lens)
    if n == 0:
        return
    csum = np.cumsum(lens, dtype=np.int64)
    # one threshold per target_bytes of TOTAL PAYLOAD — not per row: a
    # row-count-scaled threshold list (the original bug) runs out of
    # cuts once total bytes exceed (n-1)*target and dumps the whole
    # tail into one full-width chunk, silently restoring the very
    # DRAM-sweeping temporaries this function exists to avoid. Each
    # cut lands AFTER the row that crosses its threshold (+1), so a
    # row longer than the target really does get its own chunk.
    ncuts = int(csum[-1] // target_bytes)
    cut = (
        np.searchsorted(
            csum, np.arange(1, ncuts + 1, dtype=np.int64) * target_bytes
        )
        + 1
    )
    cut = cut[cut < n]
    for lo, hi in zip(
        np.concatenate(([0], cut)), np.concatenate((cut, [n]))
    ):
        if lo < hi:
            yield int(lo), int(hi)


def shingle_window_hashes(
    texts: "pd.Series | list[str]", k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All k-gram window hashes for a batch.

    Returns (hashes: uint64[nwin_total], starts: int64[nrows],
    counts: int64[nrows]) where row i's valid shingle hashes live at
    hashes[starts[i] : starts[i] + counts[i]] and junk (boundary)
    windows inside [starts[i], starts[i+1]) are UINT64_MAX.
    """
    blobs = [t.encode("utf-8", "surrogatepass") for t in texts]
    lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=len(blobs))
    pad = k - 1
    padded = np.concatenate(
        [np.frombuffer(b + b"\x00" * pad, dtype=np.uint8) for b in blobs]
    ) if blobs else np.zeros(0, dtype=np.uint8)
    buf = padded.astype(np.uint64)
    n = len(buf)
    nwin = max(n - k + 1, 0)
    H = np.zeros(nwin, dtype=np.uint64)
    for j in range(k):
        H *= _POLY_B
        H += buf[j : j + nwin]
    H = _splitmix64(H)
    starts = np.zeros(len(blobs), dtype=np.int64)
    if len(blobs) > 1:
        np.cumsum(lens[:-1] + pad, out=starts[1:])
    counts = np.maximum(lens - k + 1, 0)
    # mask junk windows (those overlapping the pad after each row)
    for i in range(len(blobs)):
        lo = starts[i] + counts[i]
        hi = min(starts[i] + lens[i] + pad, nwin)
        if lo < hi:
            H[max(lo, 0) : hi] = _U64_MAX
    return H, starts, counts


def kperm_signatures(
    H: np.ndarray, starts: np.ndarray, counts: np.ndarray, num_perm: int, seed: int
) -> np.ndarray:
    """Classic k-permutation MinHash: num_perm passes over all shingles.
    O(shingles x num_perm) — the textbook estimator, kept for
    cross-checks; the default signer is `oph_signatures` below."""
    n_rows = len(starts)
    sig = np.empty((n_rows, num_perm), dtype=np.uint64)
    if len(H) == 0:
        sig[:] = _U64_MAX
        return sig
    seeds = perm_seeds(num_perm, seed)
    clipped = np.minimum(starts, len(H) - 1)  # reduceat needs in-range offsets
    for p in range(num_perm):
        y = _splitmix64(H ^ seeds[p])
        y[H == _U64_MAX] = _U64_MAX  # junk windows stay junk post-permutation
        sig[:, p] = np.minimum.reduceat(y, clipped)
    sig[counts == 0, :] = _U64_MAX  # rows too short to have any shingle
    return sig


def oph_signatures(
    H: np.ndarray, starts: np.ndarray, counts: np.ndarray, num_perm: int, seed: int
) -> np.ndarray:
    """One-permutation hashing with rotation densification
    (Li/Owen/Zhang 2012; Shrivastava/Li 2014): ONE pass over the
    shingles — each shingle is routed to bin (hash mod num_perm) and the
    per-bin minimum is the sketch; empty bins borrow (re-mixed) values
    from the nearest non-empty bin to the left, circularly.
    O(shingles + rows x num_perm) instead of O(shingles x num_perm):
    ~100x less compute at num_perm=128, the difference between a
    memory-bandwidth-bound signer and a CPU-bound one at 100 TB.
    """
    n_rows = len(starts)
    M = np.full((n_rows, num_perm), _U64_MAX, dtype=np.uint64)
    if len(H):
        valid = H != _U64_MAX
        seg_lens = np.diff(np.append(starts, len(H)))
        row_idx = np.repeat(np.arange(n_rows, dtype=np.int64), seg_lens)
        seed_mix = np.uint64((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        y = _splitmix64(H ^ seed_mix)
        bins = (y % np.uint64(num_perm)).astype(np.int64)
        vals = _splitmix64(y)
        flat = row_idx[valid] * num_perm + bins[valid]
        # scatter-min straight into the sketch: np.minimum.at's fast
        # ufunc path (numpy >= 1.24) measured 60x faster than the
        # argsort + reduceat formulation it replaces — the signer was
        # DRAM-bound on the sort and barely scaled with cores
        np.minimum.at(M.ravel(), flat, vals[valid])
    # rotation densification: empty bins take the nearest filled bin to
    # the left (circular), value re-mixed with the bin index so borrowed
    # equality still implies source equality and nothing else
    nonempty = M != _U64_MAX
    any_row = nonempty.any(axis=1)
    idx = np.where(nonempty, np.arange(num_perm, dtype=np.int64), -1)
    ff = np.maximum.accumulate(idx, axis=1)
    last = ff[:, -1]  # per-row last non-empty bin (circular wrap source)
    src = np.where(ff >= 0, ff, last[:, None])
    src = np.maximum(src, 0)  # all-empty rows: dummy index, masked below
    rows = np.arange(M.shape[0])[:, None]
    borrowed = _splitmix64(
        M[rows, src] ^ (np.arange(num_perm, dtype=np.uint64) + np.uint64(1)) * _P_MIX
    )
    M = np.where(nonempty, M, borrowed)
    M[~any_row, :] = _U64_MAX  # rows with zero shingles stay empty
    return M


_P_MIX = np.uint64(0xC2B2AE3D27D4EB4F)


def minhash_batch(
    texts: "pd.Series | list[str]", k: int, num_perm: int, seed: int,
    scheme: str = "oph",
) -> np.ndarray:
    """(n_rows, num_perm) int64 signature matrix for a batch."""
    H, starts, counts = shingle_window_hashes(texts, k)
    fn = oph_signatures if scheme == "oph" else kperm_signatures
    return fn(H, starts, counts, num_perm, seed).view(np.int64)


def band_hashes_from_sig(sig: np.ndarray, bands: int, seed: int) -> np.ndarray:
    """(n_rows, bands) int64: order-sensitive fold of each band's rows,
    salted with the band index so identical values in different bands
    never collide."""
    n_rows, num_perm = sig.shape
    r = num_perm // bands
    u = sig.view(np.uint64).reshape(n_rows, bands, r)
    acc = np.full((n_rows, bands), np.uint64(seed) + np.uint64(0x51ED), dtype=np.uint64)
    for j in range(r):
        acc = _splitmix64(acc * _POLY_B + u[:, :, j])
    acc = acc ^ (np.arange(bands, dtype=np.uint64) << np.uint64(56))
    return acc.view(np.int64)


def shingle_set(text: str, k: int) -> set:
    """Python-side exact shingle set (oracle + verify kernel)."""
    H, starts, counts = shingle_window_hashes([text], k)
    return set(H[: counts[0]].tolist())


def add_signature_columns(
    df: DataFrame, cfg: DedupConfig, approx_rows: float | None = None
) -> DataFrame:
    """Appends `band_hash:array<long>` and the 2-bit est sketch
    `sig_packed:array<long>` via one mapInPandas pass over (id-ish cols
    + content_norm). Signature itself is folded straight into band
    hashes — the full signature array never ships through a shuffle.
    `approx_rows` (when the caller knows it) sizes the Arrow-stage
    task cap — see DedupConfig.python_stage_tasks — and, below one
    task's worth of rows, skips the fan-out (python_stage_fans_out)."""
    in_cols = df.columns
    if "content_norm" not in in_cols:
        df = df.withColumn("content_norm", normalize_content("content"))
        in_cols = df.columns
    assert cfg.num_perm % 32 == 0, "2-bit sketch packs 32 bins/long"
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema) \
        + ", band_hash array<bigint>, sig_packed array<bigint>"
    k, num_perm, bands, seed = cfg.shingle_k, cfg.num_perm, cfg.bands, cfg.seed
    band_bins = cfg.resolved_band_bins  # leading bins folded into bands
    # CPU-bound Python stage: AQE coalesces by BYTES and would starve it
    # down to a few cores — fan back out to the python-stage task count
    # first (half the slots by default, see DedupConfig). A known-short
    # stage signs in the partitions it already has.
    if cfg.python_stage_fans_out(approx_rows):
        df = df.repartition(
            cfg.python_stage_tasks(df.sparkSession.sparkContext, approx_rows)
        )

    def sign_chunk(texts):
        """shingle -> OPH for a CACHE-RESIDENT row chunk."""
        H, starts, counts = shingle_window_hashes(texts, k)
        return oph_signatures(H, starts, counts, num_perm, seed).view(np.int64)

    def gen(it):
        for pdf in it:
            texts = pdf["content_norm"].fillna("")
            # cache-resident chunks: see content_chunk_bounds (measured
            # 11x at the 10k-row batch size, 29x at 36k rows; signer
            # stage wall 35.3 -> 10.8 s at 768k files / 32c). The chunk
            # loop's python overhead is ~30 numpy calls per ~170 rows,
            # noise next to the kernels.
            lens = texts.str.len().to_numpy(dtype=np.int64)
            sig_parts = [
                sign_chunk(texts.iloc[lo:hi])
                for lo, hi in content_chunk_bounds(lens)
            ]
            if sig_parts:
                sig = np.concatenate(sig_parts)
            else:
                sig = np.zeros((0, num_perm), dtype=np.int64)
            bh = band_hashes_from_sig(sig[:, :band_bins], bands, seed)
            # pack the low 2 BITS of every bin: 128 bins -> 4 longs (32
            # bins/word). The est-Jaccard prefilter counts agreeing
            # 2-bit bins via XOR + one OR-collapse + bit_count — ~25
            # Catalyst expression nodes, so the pair stage's generated
            # consume method stays far under both janino's 64 KB and
            # HotSpot's 8 KB JIT limits (the earlier byte-packed sketch
            # needed 128 comparison terms and pushed the method past
            # both — the stage silently ran un-JITed, 4-40x slower).
            # Random bins agree with prob 1/4; the threshold math maps
            # jaccard j -> bin-match prob j + (1-j)/4 (est_bin_match_prob,
            # which est_floor reads), so the bias is corrected exactly,
            # not absorbed.
            bits = (sig.view(np.uint64) & np.uint64(3)).reshape(
                len(pdf), num_perm // 32, 32
            )
            shifts = (np.uint64(2) * np.arange(32, dtype=np.uint64))[None, None, :]
            packed = np.bitwise_or.reduce(bits << shifts, axis=2).view(np.int64)
            pdf = pdf.copy()
            pdf["band_hash"] = list(bh)
            pdf["sig_packed"] = list(packed)
            yield pdf

    return df.mapInPandas(gen, out_schema)
