"""Cross-engine (numpy <-> ANSI SQL) hash kernels.

The fast signature kernels (minhash.py, simhash.py) use 64-bit
wraparound arithmetic that portable SQL cannot replicate (DuckDB bigint
multiplication overflows instead of wrapping). These variants restrict
every intermediate to < 2^39 so the identical integer math runs in
numpy (engine side) and in plain SQL (oracle side):

    token/gram hash:  h = 7; for c in codepoints: h = (h*127 + c) % P
    simhash bit j:    ((h * (2j+3) + 5j+1) % P) & 1

with P = 2147483647 (2^31 - 1). Hash quality is lower than splitmix64
but irrelevant for correctness: both engines compute the SAME values,
so pair sets compare exactly; collisions at 2^31 only cost a little
semantic precision, identically on both sides.

The SQL twins of these formulas live in tests/test_oracle_sql.py
(q15/q16) and tests/test_portable.py — keep the constants in sync.
"""

from __future__ import annotations

import numpy as np

P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
B = 127
H0 = 7


def _codepoints(texts: "list[str]") -> tuple[np.ndarray, np.ndarray]:
    """Concatenated codepoint buffer + per-row lengths (int64)."""
    bufs = [np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32) for t in texts]
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    cat = (
        np.concatenate(bufs).astype(np.int64)
        if bufs and lens.sum()
        else np.zeros(0, dtype=np.int64)
    )
    return cat, lens


def portable_token_hashes(tokens: list[str]) -> np.ndarray:
    """int64 poly-mod hash per token; identical to the SQL fold
    list_reduce(list_prepend(7, codepoints), (h, c) -> (h*127 + c) % P).
    Vectorized column-wise over the ragged token matrix."""
    n = len(tokens)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    cat, lens = _codepoints(tokens)
    maxlen = int(lens.max()) if n else 0
    h = np.full(n, H0, dtype=np.int64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    for j in range(maxlen):
        live = lens > j
        h[live] = (h[live] * B + cat[starts[live] + j]) % P
    return h


def portable_simhash_batch(texts: "list[str]") -> np.ndarray:
    """int64[n] portable 64-bit SimHash over lowercased whitespace
    tokens. bit_j(token h) = ((h*(2j+3) + 5j+1) % P) & 1; doc bit_j =
    (sum over tokens of 2*bit-1) > 0.

    Dispatches cache-resident content chunks to `_portable_simhash_chunk`
    — the (n_tokens, 64) bits temporary streams DRAM on a full Arrow
    batch; 32 KB content chunks measured 3.0x (simhash._SIMHASH_CHUNK_BYTES
    calibration, BASELINE.md round 5)."""
    from fastqdedup_spark.functions.minhash import content_chunk_bounds
    from fastqdedup_spark.functions.simhash import _SIMHASH_CHUNK_BYTES

    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    parts = [
        _portable_simhash_chunk(texts[lo:hi])
        for lo, hi in content_chunk_bounds(lens, _SIMHASH_CHUNK_BYTES)
    ]
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)


def _portable_simhash_chunk(texts: "list[str]") -> np.ndarray:
    # tokenize/reduceat/packbits machinery is the shared kernel in
    # simhash.py (one copy of the RE2 tokenizer and the non-empty-rows
    # reduceat subtlety); only the poly-mod bit derivation lives here
    from fastqdedup_spark.functions.simhash import simhash_sign_reduce

    def bits(all_tokens):
        h = portable_token_hashes(all_tokens)  # (n_tokens,)
        j = np.arange(64, dtype=np.int64)
        b = ((h[:, None] * (2 * j + 3)[None, :] + (5 * j + 1)[None, :]) % P) & 1
        return b.astype(np.int32) * 2 - 1  # (n_tokens, 64)

    return simhash_sign_reduce(texts, bits)


_SENTINEL = np.int64(2**62)  # > any (mod P) hash: never wins a min


def portable_window_hashes(
    texts: "list[str]", k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All k-gram poly-mod hashes for a batch, same (H, starts, counts)
    layout as minhash.shingle_window_hashes but over CODEPOINTS with the
    SQL-replicable fold h = fold(7, gram, (h,c) -> (h*127+c) % P).
    Junk (row-boundary) windows are set to a sentinel > P."""
    pad = k - 1
    bufs = [
        np.concatenate(
            [
                np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64),
                np.zeros(pad, dtype=np.int64),
            ]
        )
        for t in texts
    ]
    lens = np.fromiter(
        (len(b) - pad for b in bufs), dtype=np.int64, count=len(bufs)
    )
    cat = np.concatenate(bufs) if bufs else np.zeros(0, dtype=np.int64)
    n = len(cat)
    nwin = max(n - k + 1, 0)
    H = np.full(nwin, H0, dtype=np.int64)
    for j in range(k):
        H = (H * B + cat[j : j + nwin]) % P
    starts = np.zeros(len(texts), dtype=np.int64)
    if len(texts) > 1:
        np.cumsum(lens[:-1] + pad, out=starts[1:])
    counts = np.maximum(lens - k + 1, 0)
    for i in range(len(texts)):
        lo = starts[i] + counts[i]
        hi = min(starts[i] + lens[i] + pad, nwin)
        if lo < hi:
            H[max(lo, 0) : hi] = _SENTINEL
    return H, starts, counts

