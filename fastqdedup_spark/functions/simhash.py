"""64-bit SimHash — the second near-dup signature family (alongside
MinHash) for the dedup tier.

SimHash(doc) = sign-bit aggregate of the hashed token multiset: for
each of 64 bit positions, sum +1/-1 over all token hashes and keep the
sign. Near-duplicates land within small Hamming distance of each other
in signature space, so candidate generation is the SAME pigeonhole
banding the reference-parity path uses (split 64 bits into n chunks;
operators/lsh.py) — a second concrete instance of re-grounding the
trie's Hamming-radius search (/root/reference/src/fastqdedup/
_triemodule.c:380-495) as explode + equi-join.

Vectorization (no per-row Python): the whole Arrow batch's tokens are
concatenated once; per-byte position-weighted mixes are summed into
token hashes with one np.add.reduceat; bit signs accumulate with a
second reduceat over np.unpackbits.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame

from fastqdedup_spark.functions.minhash import _splitmix64

_P1 = np.uint64(0x9E3779B97F4A7C15)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)


def _token_hashes(tokens: list[str]) -> np.ndarray:
    """uint64 hash per token: sum over bytes of mix(byte, position),
    finalized with splitmix64. Position-weighted so anagrams differ;
    sum-combined so the whole batch vectorizes."""
    enc = [t.encode("utf-8", "surrogatepass") for t in tokens]
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.uint64)
    starts = np.zeros(len(enc), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    pos = np.arange(len(buf), dtype=np.uint64) - np.repeat(
        starts.astype(np.uint64), lens
    )
    mixed = _splitmix64(buf * _P1 ^ (pos + np.uint64(1)) * _P2)
    clipped = np.minimum(starts, max(len(buf) - 1, 0))
    sums = np.add.reduceat(mixed, clipped) if len(buf) else np.zeros(len(enc), np.uint64)
    sums = sums.astype(np.uint64)
    sums[lens == 0] = 0
    return _splitmix64(sums ^ (lens.astype(np.uint64) * _P1))


# Calibrated on sf0.1 documents (BASELINE.md round 5): the signers'
# (n_tokens, 64) bit/sign temporaries are ~256 B per content byte, so
# a 32 KB content chunk keeps them L2-resident — measured 2.4x
# (splitmix signer) / 3.0x (portable) over the full-batch call,
# byte-identical output. Same mechanism as minhash.content_chunk_bounds.
_SIMHASH_CHUNK_BYTES = 32 * 1024


def simhash_batch(texts: "pd.Series | list[str]", seed: int = 42) -> np.ndarray:
    """int64[n_rows] SimHash over lowercased whitespace tokens.

    Dispatches cache-resident content chunks to `_simhash_chunk` (see
    _SIMHASH_CHUNK_BYTES)."""
    from fastqdedup_spark.functions.minhash import content_chunk_bounds

    texts = list(texts)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    parts = [
        _simhash_chunk(texts[lo:hi], seed)
        for lo, hi in content_chunk_bounds(lens, _SIMHASH_CHUNK_BYTES)
    ]
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)


# RE2's \s class EXACTLY ([\t\n\f\r ]): the q15 oracle tokenizes with
# regexp_replace(lower(text), '\s+', ' ') in DuckDB (RE2), while
# Python's str.split() also splits on \v and every Unicode space
# (NBSP, NEL, ...) — a latent engine-vs-oracle pair-set divergence
# that the first \v- or non-ASCII-bearing corpus would surface.
_RE2_WS = re.compile("[\t\n\f\r ]+")


def _ws_tokens(text: str) -> "list[str]":
    return [tok for tok in _RE2_WS.split(text.lower()) if tok]


def simhash_sign_reduce(texts: "list[str]", signed_bits_fn) -> np.ndarray:
    """Shared SimHash reduction: tokenize -> (n_tokens, 64) signed-bit
    matrix via `signed_bits_fn(all_tokens)` -> per-row reduceat ->
    little-endian packbits. The ONE copy of the subtle parts (RE2
    tokenizer above, the non-empty-rows reduceat below) — the splitmix
    and portable signers differ only in their bit derivation and plug
    it in here."""
    n = len(texts)
    token_lists = [_ws_tokens(t) for t in texts]
    counts = np.fromiter((len(t) for t in token_lists), dtype=np.int64, count=n)
    all_tokens = [tok for toks in token_lists for tok in toks]
    out = np.zeros(n, dtype=np.uint64)
    if not all_tokens:
        return out.view(np.int64)
    signed = signed_bits_fn(all_tokens)  # (n_tokens, 64) in {-1, +1}
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    # reduceat only over NON-EMPTY rows' starts: empty rows occupy zero
    # tokens, so clipping their (duplicate/end) offsets would corrupt
    # the preceding row's segment; scatter the sums back instead
    nonempty = np.nonzero(counts > 0)[0]
    sums = np.add.reduceat(signed, starts[nonempty], axis=0)
    packed = np.packbits((sums > 0).astype(np.uint8), axis=1, bitorder="little")
    out[nonempty] = packed.view(np.uint64).ravel()
    return out.view(np.int64)


def _simhash_chunk(texts: "list[str]", seed: int = 42) -> np.ndarray:
    def bits(all_tokens):
        h = _splitmix64(_token_hashes(all_tokens) ^ np.uint64(seed))
        b = np.unpackbits(
            h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        return b.astype(np.int32) * 2 - 1

    return simhash_sign_reduce(texts, bits)


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    return pd.Series(simhash_batch(texts.fillna("")))


@F.pandas_udf(T.LongType())
def simhash64_portable(texts: pd.Series) -> pd.Series:
    """SQL-replicable signer (functions/portable.py): same SimHash
    construction, token hash restricted to poly-mod-2^31-1 so a DuckDB
    oracle can recompute the identical signatures."""
    from fastqdedup_spark.functions.portable import portable_simhash_batch

    return pd.Series(portable_simhash_batch(texts.fillna("").tolist()))


def hamming64(a: "str | Column", b: "str | Column") -> Column:
    """Popcount of XOR between two int64 signature columns — JVM-side
    via bit_count (no UDF)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def simhash_bands(df: DataFrame, sig_col: str = "simhash", n_chunks: int = 4) -> DataFrame:
    """Pigeonhole bands over the 64-bit signature: any pair within
    Hamming distance <= n_chunks-1 shares at least one 16-bit chunk.
    All JVM expressions — no UDF."""
    width = 64 // n_chunks
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("bi"),
                F.shiftrightunsigned(F.col(sig_col), i * width).bitwiseAND(
                    F.lit(mask)
                ).alias("chunk"),
            )
            for i in range(n_chunks)
        ]
    )
    return (
        df.select("*", F.explode(chunks).alias("c"))
        .select("*", F.xxhash64("c.bi", "c.chunk").alias("band_hash"))
        .drop("c")
    )


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str = "id", text_col: str = "text",
    max_hamming: int = 3, portable: bool = False,
    broadcast_sigs: bool = True, sig_transport: str = "probe",
    band_join_hint: str | None = None,
) -> DataFrame:
    """End-to-end SimHash near-dup pair finder: sign -> pigeonhole band
    (n_chunks = max_hamming+1 guarantees 100% recall at the radius) ->
    capped-free salted self-join with the exact bit_count verify INSIDE
    the join stage -> distinct. Returns (id_a, id_b, hamming).

    The verify runs as the band join's map-side prefilter (the
    est-prefilter pattern, operators/verify.py): at radius 8 the
    pigeonhole chunks are only 7 bits wide, so a 50k-doc corpus floods
    ~90M raw band pairs — the bit_count verify runs BEFORE the pair
    `distinct`, keeping the flood out of the exchange entirely.
    sig_transport picks the physical form: "probe" (default) joins the
    raw pairs against per-id signature tables — here the relation is
    16 B/doc (~1 MB at 50k docs), CACHE-resident, so probes are cheap
    and carry's fattened bucket streams lose (measured at sf0.1,
    interleaved: probe 4.4-5.2 s vs carry 13.2 s). "carry" rides the
    8-byte signature through the band shuffle — the right shape once
    the signature table exceeds the broadcast ceiling (1e9 docs = 16
    GB), where the MinHash est sketch's measured carry win applies
    (BASELINE.md round 5, "Pair-probe verdict"). Contrast: the minhash
    est sketch relation is 32 B/doc PACKED (83 MB at 192k files —
    DRAM-resident), which is why carry wins there and is its only
    transport.

    Pigeonhole banding is EXACT, so — like operators/lsh.py's exact
    schemes — oversized bands are never dropped (that silently lost true
    pairs); size-adaptive bucket-pair salting spreads them instead.
    `portable=True` swaps in the SQL-replicable signer so a DuckDB
    oracle can recompute the identical pair set."""
    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.functions.partitioning import widen_small_input
    from fastqdedup_spark.operators.lsh import _pairs_from_bands

    signer = simhash64_portable if portable else simhash64
    # the signer is the operator's one Python stage and it rides the
    # input's partitioning: a tiny single-row-group parquet scan plans
    # as 1-2 partitions, serializing the signing on a wide box
    # (measured at sf0.1/32c: portable q15 2.59 s with the signer at
    # parallelism 2). Widen first; no-op at real scale.
    df = widen_small_input(df)
    # consumed twice (band explode + verify join): eager localCheckpoint
    # materializes once and its blocks are released with the DataFrame
    # reference — an explicit persist() here leaked cached partitions on
    # every call for the lifetime of the session
    signed = df.select(
        F.col(id_col).alias("nid"), signer(F.col(text_col)).alias("simhash")
    ).localCheckpoint(eager=True)
    # band_join_hint reaches the internal band-join config: the default
    # (DedupConfig's "shuffle_hash") is the measured single-box winner,
    # but a shuffled hash join's build side must FIT per-task execution
    # memory (it throws instead of spilling — config.py's sizing
    # caveat), and pigeonhole bands at wide radii are unboundedly hot.
    # Memory-bound callers pass "" (let AQE pick) or "merge" (spills).
    cfg = (
        DedupConfig()
        if band_join_hint is None
        else DedupConfig(band_join_hint=band_join_hint)
    )
    carry = sig_transport == "carry"
    band_base = simhash_bands(signed, n_chunks=max_hamming + 1)
    bands = band_base.select(
        "nid", "band_hash", *(["simhash"] if carry else [])
    )

    if carry:
        def verify_inline(raw: DataFrame) -> DataFrame:
            return raw.withColumn(
                "hamming", hamming64("simhash_a", "simhash_b")
            ).filter(F.col("hamming") <= max_hamming)
    else:
        hint = F.broadcast if broadcast_sigs else (lambda d: d)
        sa = signed.select(F.col("nid").alias("id_a"), F.col("simhash").alias("sig_a"))
        sb = signed.select(F.col("nid").alias("id_b"), F.col("simhash").alias("sig_b"))

        def verify_inline(raw: DataFrame) -> DataFrame:
            return (
                raw.join(hint(sa), "id_a")
                .join(hint(sb), "id_b")
                .withColumn("hamming", hamming64("sig_a", "sig_b"))
                .filter(F.col("hamming") <= max_hamming)
            )

    # hamming is deterministic per pair, so carrying it through the
    # distinct leaves the pair set unchanged
    pairs = _pairs_from_bands(
        bands, "nid", cfg, cap=None, prefilter=verify_inline,
        extra_cols=["hamming"],
        payload_cols=["simhash"] if carry else None,
    )
    return pairs.select("id_a", "id_b", "hamming")
