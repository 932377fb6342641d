"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data additions (dedup tiers, similarity
search, text analysis); `oracle_sql()` gives the DuckDB-equivalent SQL
for every SQL-expressible query. Column names and types are aligned on
both sides (the driver hashes values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_as_files(docs: DataFrame) -> DataFrame:
    """documents -> the files(repo,path,commit,lang,content) shape, plus
    a planted near-dup copy of every doc (suffix append) so the dedup
    tiers have real work at any SF."""
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.md5(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
    mutated = base.select(
        (F.col("id") + 1_000_000).alias("id"),
        F.col("repo"),
        F.concat(F.col("path"), F.lit(".copy")).alias("path"),
        F.md5(F.concat(F.col("content"), F.lit(" tail marker"))).alias("commit"),
        F.col("lang"),
        F.concat(F.col("content"), F.lit(" tail marker")).alias("content"),
    )
    return base.unionByName(mutated)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full code-domain near-dup pipeline (MinHash -> LSH
    -> verify -> connected components -> canonical survivors) on
    sf0.001 documents + planted near-dup copies. Returns the cluster
    table; every planted pair must co-cluster."""
    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.pipeline import dedup_files

    files = _docs_as_files(_t(spark, SF_DEFAULT, "documents"))
    cfg = DedupConfig(shingle_k=7, num_perm=64, bands=16, jaccard_threshold=0.8)
    res = dedup_files(spark, files, cfg, quality=False)
    return res.clusters.select("sha", "cluster_id", "cnt")


# ---------------------------------------------------------------------------
# query bodies (spark side)
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark, sf):
    """O5 group-by-count + partial aggs (trie count-in-node analog)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_quantity") < 30)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        )
    )


def q02_filter_project(spark, sf):
    """O3 quality-filter analog: predicate pushdown + projection."""
    ev = _t(spark, sf, "events")
    return (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 5.0))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_errors"), F.round(F.sum("value"), 2).alias("sum_value"))
        .filter(F.col("n_errors") >= 1)
    )


def q03_exact_dedup_docs(spark, sf):
    """O5+O13 exact-dup tier on documents: normalized-content hash
    groups with first-wins representative."""
    d = _t(spark, sf, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        d.select(F.md5(norm).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("rep_doc_id"))
    )


def q04_top_doc_per_lang(spark, sf):
    """O9 highest_count dissection analog: deterministic top-1 per group."""
    d = _t(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.desc("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "doc_id", "n_chars")
    )


def q05_first_wins(spark, sf):
    """O13 first-wins emission: one order per customer by total order."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


def q06_semi_join(spark, sf):
    """O7 membership probe: customers with at least one order."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q07_metrics(spark, sf):
    """O14/O16 stage-metrics analog: per-(lang, source) doc stats."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def q08_token_count(spark, sf):
    """Text analysis: whitespace token counting (portable formula)."""
    from fastqdedup_spark.functions.text import token_count

    d = _t(spark, sf, "documents")
    return d.select("doc_id", token_count("text").cast("long").alias("n_tokens"))


def q09_lang_id(spark, sf):
    """Text analysis: stopword-heuristic language ID."""
    from fastqdedup_spark.functions.text import lang_id

    d = _t(spark, sf, "documents")
    return d.select("doc_id", lang_id("text").alias("lang_guess"))


def q10_quality_score(spark, sf):
    """Text analysis: [0,1] quality heuristic."""
    from fastqdedup_spark.functions.text import quality_score

    d = _t(spark, sf, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


def q11_bigram_jaccard(spark, sf, freq_cap: int | None = None, drop_stats: dict | None = None):
    """n-gram Jaccard near-dup scoring: word-bigram Jaccard between all
    same-source doc pairs with any overlap.

    `freq_cap` is the scale knob (VERDICT r1 #7): a bigram shared by f
    same-source docs emits f^2 join rows — the same quadratic shape LSH
    mega-bands have — so at 100x data the exploded self-join must drop
    bigrams above the cap (they carry almost no Jaccard signal but all
    of the skew). The parity/oracle path runs UNCAPPED (default None);
    bench.py runs the capped variant. A capped run changes `inter` by
    at most (capped bigrams)/|union| per pair — a documented
    precision trade, never silent (count the drops if enabled)."""
    from fastqdedup_spark.functions.partitioning import widen_small_input

    # the bigram build + explode + distinct partial agg ride the scan
    # stage; a single-row-group parquet scan is 1 partition, so that
    # work ran serially — widen first (no-op at real scale)
    d = widen_small_input(_t(spark, sf, "documents"))
    words = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    bigrams = F.array_distinct(
        F.filter(
            F.zip_with(
                words,
                F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(1))),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            lambda x: F.instr(x, " ") > 0,
        )
    )
    b = d.select("source", "doc_id", F.explode(bigrams).alias("bg")).distinct()
    if freq_cap is not None:
        # One materialization feeds sizes, the hot-bigram cap, the drop
        # count, and both self-join sides — the explode+distinct was
        # being recomputed ~3x (VERDICT r3 #2: capped q11 ran 2.3x the
        # uncapped time with zero drops at sf0.1, pure overhead). The
        # oracle/parity path (freq_cap=None) stays fully lazy.
        b = b.localCheckpoint(eager=True)
    sizes = b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if freq_cap is not None:
        hot = b.groupBy("source", "bg").agg(F.count(F.lit(1)).alias("f"))
        if drop_stats is not None:
            # LAZY: the caller counts this AFTER its timing window — a
            # production run never pays the diagnostic job (VERDICT r4
            # #1 residual). It scans the localCheckpointed `b`, so the
            # deferred count stays cheap.
            drop_stats["_dropped_lazy"] = hot.filter(F.col("f") > freq_cap)
        b = b.join(
            hot.filter(F.col("f") <= freq_cap).select("source", "bg"),
            ["source", "bg"],
        )
    inter = (
        b.alias("x")
        .join(b.alias("y"), ["source", "bg"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6).alias(
                "jaccard"
            ),
        )
    )


def q12_cosine_topk(spark, sf):
    """Similarity search: exact brute-force cosine top-3 for the first
    five vectors as queries."""
    from fastqdedup_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    # round ONCE at 4 inside the operator: round(round(x, 6), 4)
    # diverges from the oracle's single round(x, 4) near half-boundaries
    res = brute_force_topk(e, q, k=3, round_decimals=4)
    return res.select(
        "query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank")
    )


def q13_connected_components(spark, sf):
    """O8 clustering: connected components over a deterministic
    similarity graph (same lang+source, n_chars within 1), labels =
    component-minimum doc_id — oracle-checked against a DuckDB
    recursive-CTE transitive closure."""
    from fastqdedup_spark.functions.partitioning import widen_small_input
    from fastqdedup_spark.operators.connected_components import connected_components

    # widen the 1-partition scan so the self-join probe side runs at
    # session width (no-op at real scale)
    d = widen_small_input(
        _t(spark, sf, "documents").select("doc_id", "lang", "source", "n_chars")
    )
    a, b = d.alias("a"), d.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 1)
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    labels, _ = connected_components(edges)
    return (
        d.join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"))
    )


def q14_minhash_near_dup(spark, sf):
    """MinHash+LSH near-dup pairs on documents + planted mutated copies
    (copy id = doc_id + 1,000,000). Output = pairs with exact
    normalized-content 7-gram Jaccard >= 0.8 — LSH generates candidates,
    the verify stage is exact, and the DuckDB oracle recomputes the same
    pair set from first principles (shingle unnest + join)."""
    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.functions.minhash import add_signature_columns, normalize_content
    from fastqdedup_spark.operators.lsh import minhash_candidate_pairs
    from fastqdedup_spark.operators.verify import verify_pairs_jaccard

    # est_margin pinned to 0.2: at 128 bins the default 0.141 (tuned
    # for the 256-bin default sketch) would thin the borderline
    # false-drop guard from 4.75 to ~3.4 sigma — enough for a rare
    # oracle-mismatch flake on boundary pairs. 0.2 keeps this query
    # byte-identical to its long-green round-4 behavior.
    from fastqdedup_spark.functions.partitioning import widen_small_input

    cfg = DedupConfig(shingle_k=7, num_perm=128, bands=32, jaccard_threshold=0.8,
                      est_margin=0.2)
    # normalize_content (regex chain) rides the 2-partition union scan;
    # widen first so it runs at session width (no-op at real scale) —
    # the signer downstream already fans out via the Arrow-task cap
    files = widen_small_input(_docs_as_files(_t(spark, sf, "documents"))).select(
        "id", normalize_content("content").alias("content_norm")
    )
    # pin the signatures: `signed` feeds BOTH the band explode and the
    # verify content fetch — lazy, the OPH signer Python stage executed
    # twice per run (observed as two concurrent 16-task Arrow stages)
    # and the duplicated subtree roughly doubled Catalyst planning time
    # (~0.7 s driver gap per fresh plan). Mirrors the pipeline, which
    # checkpoints its signatures stage for the same reason.
    signed = add_signature_columns(files, cfg).localCheckpoint(eager=True)
    pairs = minhash_candidate_pairs(signed, cfg, id_col="id")
    verified = verify_pairs_jaccard(
        pairs, signed.select("id", "content_norm", "n_shingles"), cfg, id_col="id", skip_est=True
    )
    return verified.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    ).orderBy("doc_a", "doc_b")


def q15_simhash_pairs(spark, sf):
    """SimHash near-dup pairs (pigeonhole-banded — exact recall at the
    radius — salted hot bands, exact bit_count verify) on documents +
    planted copies. The portable signer (functions/portable.py) keeps
    the signature SQL-replicable, so the DuckDB oracle recomputes the
    identical pair set from first principles: token poly-hashes ->
    per-bit signed sums -> 64-bit signatures -> all-pairs
    bit_count(xor) <= 8."""
    from fastqdedup_spark.functions.simhash import simhash_near_dup_pairs

    files = _docs_as_files(_t(spark, sf, "documents")).select(
        "id", F.col("content").alias("text")
    )
    return simhash_near_dup_pairs(files, max_hamming=8, portable=True).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
    ).orderBy("doc_a", "doc_b")


def q16_substring_dups(spark, sf):
    """Winnowing fingerprint substring-duplicate pairs on documents +
    planted copies (shared substring >= w+k-1 chars guaranteed found).
    Portable gram hash -> the DuckDB oracle recomputes the winnowed
    fingerprint SETS exactly (min VALUE per window is tie-rule-free)
    and the same capped pair join."""
    from fastqdedup_spark.operators.suffix_array import substring_dup_pairs

    files = _docs_as_files(_t(spark, sf, "documents")).select(
        "id", F.lower(F.col("content")).alias("content_norm")
    )
    return substring_dup_pairs(files, k=15, w=20, portable=True).orderBy(
        "id_a", "id_b"
    )


def q17_embedding_bucket_ann(spark, sf):
    """LSH-bucketed ANN with Hamming-1 multi-probe, exact cosine rerank.
    Portable hyperplanes (integer-formula uniform planes) make the
    bucket assignment SQL-replicable, so the DuckDB oracle recomputes
    buckets + probe set + rerank exactly."""
    from fastqdedup_spark.operators.similarity import lsh_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    dim = len(e.select("embedding").first()[0])
    return lsh_topk(
        e, q, dim=dim, k=3, n_bits=6, multi_probe=1, plane_kind="portable"
    ).select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))


def q18_doc_fingerprint(spark, sf):
    """Document fingerprinting: md5 of normalized content (portable)."""
    from fastqdedup_spark.functions.text import doc_fingerprint

    d = _t(spark, sf, "documents")
    return d.select("doc_id", doc_fingerprint("text").alias("fp"))


def q19_embedding_near_dup(spark, sf):
    """Embedding-cosine near-dup dedup: embeddings + planted perturbed
    copies (vec_id + 1,000,000; x -> 1.01x + 0.001), pairs with cosine
    >= 0.99 — exact block-matmul; oracle recomputes with
    list_cosine_similarity."""
    from fastqdedup_spark.operators.similarity import cosine_dup_pairs

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    perturbed = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.01 + 0.001).alias("embedding"),
    )
    both = e.unionByName(perturbed)
    return cosine_dup_pairs(both, threshold=0.99).orderBy("id_a", "id_b")


def q20_media_features(spark, sf):
    """Multimodal audio decode end-to-end: a deterministic media table
    (PCM-WAV sines / PNG-magic / MP4-magic payloads, no external data)
    through extract_audio_features — stdlib-PCM codec (soundfile when
    installed), spectral-band histogram, mime sniff.

    The oracle is CLOSED-FORM, not FFT-in-SQL: every audio payload is a
    pure sine at an exact-bin frequency (integer cycles over the 0.25 s
    window -> zero spectral leakage), so the dominant band index is
    arithmetic — bin = f/4 Hz, band = bin // 63 under array_split's
    63/62-bin bands — and WAV byte counts follow from the format (44 B
    header + 2000 samples x 2 B). DuckDB recomputes all of it from
    first principles; a decode/binning/sniff bug breaks the hash."""
    from fastqdedup_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
        synth_wav,
    )

    rows = []
    for i in range(48):
        kind = ["audio", "image", "video"][i % 3]
        if kind == "audio":
            payload = synth_wav(200.0 + 24.0 * i)  # multiples of 4 Hz
        elif kind == "image":
            payload = b"\x89PNG" + bytes([i % 256]) * 64
        else:
            payload = b"\x00\x00\x00" + bytes([i % 256]) * 64
        rows.append((i, kind, bytearray(payload), "", 0, 0, 250))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_audio_features(media, dim=16)
    return out.select(
        "media_id",
        "kind",
        "mime",
        "n_bytes",
        F.size("features").alias("n_features"),
        (
            F.expr("array_position(features, array_max(features))") - F.lit(1)
        ).cast("int").alias("top_band"),
    ).orderBy("media_id")


def q21_video_features(spark, sf):
    """Multimodal video decode end-to-end: a deterministic media table
    (uncompressed YUV4MPEG2 / PNG-magic / WAV-magic payloads, no
    external data) through extract_video_features — stdlib y4m codec
    (pyav when installed), per-sampled-frame grayscale histograms over
    the frame_sample_plan grid, mime sniff.

    The oracle is CLOSED-FORM, like q20's: every video is 3 constant-
    luma frames [a, a, b] at 10 fps (duration 300 ms; every_ms=100
    samples exactly frames 0,1,2), so the mean histogram puts 2/3 at
    bin a//16 and 1/3 at bin b//16 (b = a+80 mod 256 differs from a by
    5 bins mod 16, never colliding) -> top_band = a//16 is arithmetic;
    last_band = b//16 pins per-frame ORDER (a decode that returns
    frames out of order or samples only frame 0 breaks it); y4m byte
    counts follow from the format (37 B header + 3 x (6 + 16*16*1.5))."""
    from fastqdedup_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_video_features,
        synth_y4m,
    )

    rows = []
    for i in range(48):
        kind = ["video", "image", "audio"][i % 3]
        if kind == "video":
            a = (16 + 5 * i) % 256
            payload = synth_y4m([a, a, (a + 80) % 256])
        elif kind == "image":
            payload = b"\x89PNG" + bytes([i % 256]) * 64
        else:
            # RIFF is a container family: the sniffer needs the WAVE
            # form tag at bytes 8-12 (same 68-byte total as before)
            payload = b"RIFF\x00\x00\x00\x00WAVE" + bytes([i % 256]) * 56
        rows.append((i, kind, bytearray(payload), "", 16, 16, 300))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_video_features(media, dim=16, every_ms=100)
    argmax = lambda col: (
        F.expr(f"array_position({col}, array_max({col}))") - F.lit(1)
    ).cast("int")
    return out.select(
        "media_id",
        "kind",
        "mime",
        "n_bytes",
        "n_frames",
        argmax("features").alias("top_band"),
        argmax("element_at(frame_feats, -1)").alias("last_band"),
    ).orderBy("media_id")


def q22_ann_ivf(spark, sf):
    """IVF-Flat ANN (the second ANN scale path next to q17's LSH):
    deterministic Knuth-hash sample centroids, nearest-centroid
    inverted lists, n_probe-list probing, exact cosine rerank. The
    oracle replicates the WHOLE algorithm in SQL — centroid selection,
    assignment argmax (ties by centroid id), probe ranking, rerank —
    so a wrong list assignment or probe set breaks the hash, not just
    a wrong final ranking."""
    from fastqdedup_spark.operators.similarity import ivf_topk

    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(e, q, k=3, n_list=16, n_probe=4).select(
        "query_id",
        "vec_id",
        "list_id",
        F.col("rank").cast("long").alias("rank"),
    )


def _incr_new_docs(docs: DataFrame) -> DataFrame:
    """The q23/q24 increment: for every document, one exact copy
    (tier-1 food), one near copy (' tail marker', tier-2 food vs the
    retained old corpus), one second-order near copy (double tail,
    usually >= 0.8 vs the single-tail sibling but farther from the old
    corpus — within-batch near tier), and one exact WITHIN-BATCH copy
    of the single-tail file (+4M: same content as +2M, a fresh sha
    shared by two batch files — first-wins inside the batch)."""
    base = docs.select(F.col("doc_id").alias("id"), F.col("text").alias("content"))
    single_tail = F.concat("content", F.lit(" tail marker"))
    return (
        base.select((F.col("id") + 1_000_000).alias("id"), "content")
        .unionByName(
            base.select((F.col("id") + 2_000_000).alias("id"), single_tail.alias("content"))
        )
        .unionByName(
            base.select(
                (F.col("id") + 3_000_000).alias("id"),
                F.concat("content", F.lit(" tail marker tail marker")).alias("content"),
            )
        )
        .unionByName(
            base.select((F.col("id") + 4_000_000).alias("id"), single_tail.alias("content"))
        )
    )


def q23_incremental_exact(spark, sf):
    """Incremental dedup, exact tier (incremental.py tier 1 + the batch
    exact tier): the old corpus is every document; the increment is
    _incr_new_docs. Per new file: 'dup_exact' if its content was ever
    seen, else 'kept' if it is the first-wins representative of its
    content within the batch, else 'dup_batch'. Plan shape is the
    module's stream-old-once form: the old fingerprint table is scanned
    once against a broadcast of the batch's shas — the retained corpus
    is never exchanged."""
    docs = _t(spark, sf, "documents")
    old_fp = docs.select(F.sha2("text", 256).alias("sha")).distinct()
    new = _incr_new_docs(docs).withColumn("sha", F.sha2("content", 256))
    hits = old_fp.join(F.broadcast(new.select("sha").distinct()), "sha", "left_semi")
    rep = Window.partitionBy("sha")
    return (
        new.join(hits.withColumn("hit", F.lit(1)), "sha", "left")
        .withColumn("rep_id", F.min("id").over(rep))
        .select(
            "id",
            F.when(F.col("hit").isNotNull(), F.lit("dup_exact"))
            .when(F.col("id") == F.col("rep_id"), F.lit("kept"))
            .otherwise(F.lit("dup_batch"))
            .alias("status"),
        )
        .orderBy("id")
    )


def q24_incremental_near_dup(spark, sf):
    """Incremental dedup, all three tiers, through the REAL module
    (incremental.build_index + dedup_files_incremental): index the old
    corpus (documents as files), then dedup the _incr_new_docs batch
    against it. Per new file: 'dup_exact' (sha seen), 'dup_near'
    (>= 0.8 normalized 7-gram Jaccard vs an index survivor),
    'dup_batch' (lost the within-batch recluster), or 'kept'. The
    DuckDB oracle recomputes the ENTIRE contract from first principles:
    sha256 fingerprints, old-corpus survivor selection (exact shingle
    Jaccard edges + recursive-CTE closure + min-sha canonical), the
    survivor-only tier-2 match, and the batch-side closure — so a wrong
    tier assignment anywhere breaks the hash. LSH/est configs pinned to
    q14's long-green 128-bin setup."""
    import tempfile

    from fastqdedup_spark.config import DedupConfig
    from fastqdedup_spark.incremental import build_index, dedup_files_incremental

    cfg = DedupConfig(
        shingle_k=7, num_perm=128, bands=32, jaccard_threshold=0.8,
        est_margin=0.2, dissection="canonical",
    )
    docs = _t(spark, sf, "documents")
    old_files = docs.select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.md5("text").alias("commit"),
        "lang",
        F.col("text").alias("content"),
    )
    new_files = _incr_new_docs(docs).select(
        "id",
        F.lit("incr").alias("repo"),
        F.concat(F.lit("new/"), F.col("id")).alias("path"),
        F.md5("content").alias("commit"),
        F.lit("und").alias("lang"),
        "content",
    )
    with tempfile.TemporaryDirectory() as d:
        _, idx = build_index(spark, old_files, cfg, f"{d}/ix", quality=False)
        inc = dedup_files_incremental(
            spark, new_files, cfg, idx, quality=False, update_index=False
        )
        parts = (
            inc.dropped_exact.select("id", F.lit("dup_exact").alias("status"))
            .unionByName(inc.dropped_near.select("id", F.lit("dup_near").alias("status")))
            .unionByName(inc.deduped.select("id", F.lit("kept").alias("status")))
        )
        out = parts.unionByName(
            new_files.join(parts.select("id"), "id", "left_anti").select(
                "id", F.lit("dup_batch").alias("status")
            )
        ).orderBy("id")
        # the temp index dir dies with the context manager — materialize
        # the result rows before it does
        return spark.createDataFrame(out.collect(), "id long, status string")


def q25_repetition_stats(spark, sf):
    """Gopher-style repetition gates (functions/repetition.py): per
    document, duplicate-word fraction, duplicate-word char fraction,
    top word count, and top-bigram char coverage — the degenerate-text
    filters an LLM corpus pipeline runs alongside q10's quality score.
    Pure per-row Catalyst higher-order functions: zero shuffle, zero
    Python — the plan is one codegen projection over the scan."""
    from fastqdedup_spark.functions.repetition import word_repetition_stats

    d = _t(spark, sf, "documents")
    return d.select("doc_id", word_repetition_stats("text").alias("r")).select(
        "doc_id",
        F.col("r.n_words").alias("n_words"),
        F.col("r.dup_word_frac").alias("dup_word_frac"),
        F.col("r.dup_char_frac").alias("dup_char_frac"),
        F.col("r.top_word_count").alias("top_word_count"),
        F.col("r.top_bigram_frac").alias("top_bigram_frac"),
    )


def q26_pii_scrub(spark, sf):
    """PII/link scrubbing (functions/scrub.py): per document, counts of
    URLs / emails / IPv4s plus the scrubbed text. The synthetic corpus
    carries no natural PII, so the query deterministically injects
    doc_id-derived PII into the text FIRST (identical expression in the
    DuckDB oracle) — the value hash then covers the scrubbed string
    itself, so a regex-semantics divergence between Java regex and RE2
    or a wrong replacement order breaks the check, not just the counts.
    Pure regexp column expressions: one projection, no shuffle, no
    Python."""
    from fastqdedup_spark.functions.scrub import pii_counts, scrub_pii

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" mail u"), sid, F.lit("@ex"), (F.col("doc_id") % 7).cast("string"), F.lit(".org")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" see https://h"), sid, F.lit(".example.com/a?x=1")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" ip 192.168."), (F.col("doc_id") % 254 + 1).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
    )
    return d.select(
        "doc_id", injected.alias("t")
    ).select(
        "doc_id",
        pii_counts("t").alias("c"),
        scrub_pii("t").alias("scrubbed"),
    ).select(
        "doc_id",
        F.col("c.n_urls").alias("n_urls"),
        F.col("c.n_emails").alias("n_emails"),
        F.col("c.n_ips").alias("n_ips"),
        "scrubbed",
    )


def q27_decontaminate(spark, sf):
    """Benchmark decontamination (operators/decontaminate.py): flag
    corpus documents sharing any 5-word-gram with the 'benchmark'
    slice (deterministically: doc_id % 97 == 0). The corpus side never
    shuffles content — benchmark n-grams broadcast, the one exchange
    carries only contaminated (doc, gram) hits. Benchmark docs and
    their dup families flag themselves, which is the point."""
    from fastqdedup_spark.operators.decontaminate import decontaminate

    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(d, bench, n=5)


def q28_mix_sample(spark, sf):
    """Deterministic corpus mixing (operators/mix.py): resample the
    corpus to target per-language weights (en 1.0, de 0.5, fr 0.25,
    es 0.1, zh 0.0) via the portable two-round-LCG draw on doc_id —
    the oracle replays the identical integer arithmetic, so the KEPT
    ROW SET (not just counts) must match exactly."""
    from fastqdedup_spark.operators.mix import mix_sources

    d = _t(spark, sf, "documents")
    kept = mix_sources(
        d,
        {"en": 1.0, "de": 0.5, "fr": 0.25, "es": 0.1, "zh": 0.0},
        stratum_col="lang",
        key_col="doc_id",
        seed=1,
    )
    return kept.select("doc_id", "lang")


def q29_pack_shards(spark, sf):
    """Token-budget shard packing (operators/pack.py): assign every
    document to the training shard its first token falls in, walking
    the corpus in doc_id order and cutting every 4096 tokens. Tokens
    are the q08 portable whitespace count; the Spark side runs the
    two-level distributed prefix sum (range partitions + one npart-row
    offset window), the oracle the equivalent single window cumsum —
    identical (doc_id, n_tokens, shard) triples required."""
    from fastqdedup_spark.functions.text import token_count
    from fastqdedup_spark.operators.pack import assign_shards

    d = _t(spark, sf, "documents")
    toks = d.select("doc_id", token_count("text").cast("long").alias("n_tokens"))
    return assign_shards(toks, budget=4096).select("doc_id", "n_tokens", "shard")


def q30_segment_dedup(spark, sf):
    """C4-style sub-document dedup (operators/segment_dedup.py):
    segment every document into 12-word windows, remove any window
    that occurs in >= 2 distinct documents (corpus-wide), and
    re-assemble the survivors in order. Output per doc: segment
    count, removed count, cleaned text — the value hash covers the
    cleaned STRING, so a segmentation, threshold, or re-assembly
    order bug breaks the check. mode='exact' (group by the raw
    segment) keeps the semantics byte-replayable by the oracle; the
    hash-keyed scale path is pinned equal in pytest."""
    from fastqdedup_spark.operators.segment_dedup import segment_dedup

    d = _t(spark, sf, "documents")
    return segment_dedup(
        d, text_col="text", id_col="doc_id", window_words=12, min_docs=2
    )


def q31_shuffle_pack(spark, sf):
    """Deterministic global training-order shuffle + shard packing:
    permute the corpus by the portable LCG draw (mix.sample_unit,
    seed 7) with doc_id as the unique tiebreak, then cut 4096-token
    shards walking THAT order (operators/pack.py over the composite
    (draw, doc_id) key). This is the pipeline step everyone runs
    before writing training shards — shuffle first so each shard is
    an unbiased corpus sample, pack second so shards are token-
    balanced — and it stays the two-level distributed prefix sum (no
    single-reducer global sort). The oracle replays the identical
    integer draw and a single window cumsum over the same composite
    order."""
    from fastqdedup_spark.functions.text import token_count
    from fastqdedup_spark.operators.mix import sample_unit
    from fastqdedup_spark.operators.pack import assign_shards

    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        sample_unit("doc_id", seed=7).alias("draw"),
        token_count("text").cast("long").alias("n_tokens"),
    )
    return assign_shards(
        toks, budget=4096, order_col=["draw", "doc_id"]
    ).select("doc_id", "draw", "n_tokens", "shard")


def q32_semantic_dedup(spark, sf):
    """SemDeDup-style end-to-end semantic dedup (Abbas et al. 2023):
    embedding-cosine near-dup pairs (the q19 generator — bucketed
    multi-table sign-LSH candidates + exact cosine verify) fed through
    connected components; each semantic cluster keeps its minimum
    vec_id as the representative. Output per vector: cluster label +
    representative flag — the pipeline a training corpus runs to drop
    semantically redundant documents, composed entirely from the
    engine's scale-path operators (no driver collect, size-gated CC).
    Oracle: exact all-pairs cosine edges + recursive-CTE transitive
    closure, min-id label, recomputed from first principles."""
    from fastqdedup_spark.operators.connected_components import (
        connected_components,
    )
    from fastqdedup_spark.operators.similarity import cosine_dup_pairs

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    perturbed = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.01 + 0.001).alias("embedding"),
    )
    both = e.unionByName(perturbed)
    pairs = cosine_dup_pairs(both, threshold=0.99)
    labels, _ = connected_components(pairs)
    return (
        both.select(F.col("vec_id").alias("id"))
        .join(labels, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
        )
        .withColumn(
            "is_representative",
            (F.col("vec_id") == F.col("cluster_id")).cast("long"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_filter_project": q02_filter_project,
        "q03_exact_dedup_docs": q03_exact_dedup_docs,
        "q04_top_doc_per_lang": q04_top_doc_per_lang,
        "q05_first_wins": q05_first_wins,
        "q06_semi_join": q06_semi_join,
        "q07_metrics": q07_metrics,
        "q08_token_count": q08_token_count,
        "q09_lang_id": q09_lang_id,
        "q10_quality_score": q10_quality_score,
        "q11_bigram_jaccard": q11_bigram_jaccard,
        "q12_cosine_topk": q12_cosine_topk,
        "q13_connected_components": q13_connected_components,
        "q14_minhash_near_dup": q14_minhash_near_dup,
        "q15_simhash_pairs": q15_simhash_pairs,
        "q16_substring_dups": q16_substring_dups,
        "q17_embedding_bucket_ann": q17_embedding_bucket_ann,
        "q18_doc_fingerprint": q18_doc_fingerprint,
        "q19_embedding_near_dup": q19_embedding_near_dup,
        "q20_media_features": q20_media_features,
        "q21_video_features": q21_video_features,
        "q22_ann_ivf": q22_ann_ivf,
        "q23_incremental_exact": q23_incremental_exact,
        "q24_incremental_near_dup": q24_incremental_near_dup,
        "q25_repetition_stats": q25_repetition_stats,
        "q26_pii_scrub": q26_pii_scrub,
        "q27_decontaminate": q27_decontaminate,
        "q28_mix_sample": q28_mix_sample,
        "q29_pack_shards": q29_pack_shards,
        "q30_segment_dedup": q30_segment_dedup,
        "q31_shuffle_pack": q31_shuffle_pack,
        "q32_semantic_dedup": q32_semantic_dedup,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_STOP = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "con"],
}


def _hits_sql(lang: str) -> str:
    terms = " + ".join(
        f"(length(padded) - length(replace(padded, ' {w} ', ''))) / {len(w) + 2}"
        for w in _STOP[lang]
    )
    return f"cast({terms} as int)"


def oracle_sql() -> dict[str, str]:
    lang_case = (
        f"case when {_hits_sql('en')} >= {_hits_sql('de')} and {_hits_sql('en')} >= {_hits_sql('fr')}"
        f" and {_hits_sql('en')} >= {_hits_sql('es')} and {_hits_sql('en')} > 0 then 'en' "
        f"when {_hits_sql('de')} >= {_hits_sql('fr')} and {_hits_sql('de')} >= {_hits_sql('es')}"
        f" and {_hits_sql('de')} > 0 then 'de' "
        f"when {_hits_sql('fr')} >= {_hits_sql('es')} and {_hits_sql('fr')} > 0 then 'fr' "
        f"when {_hits_sql('es')} > 0 then 'es' else 'und' end"
    )
    en_hits = _hits_sql("en")
    # double-space collapse mirrors functions/text.py _stopword_hits:
    # each token gets its own surrounding pads so consecutive repeats
    # of one stopword all count (replace() is non-overlapping)
    padded_expr = "concat(' ', regexp_replace(lower(text), '\\s+', '  ', 'g'), ' ')"
    en_hits_inline = en_hits.replace("padded", padded_expr)
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS count_order,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc
            FROM lineitem WHERE l_quantity < 30
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_filter_project": """
            SELECT user_id, count(*) AS n_errors, round(sum(value), 2) AS sum_value
            FROM events WHERE event_type = 'error' AND value > 5.0
            GROUP BY user_id HAVING count(*) >= 1
        """,
        "q03_exact_dedup_docs": f"""
            SELECT md5({_NORM}) AS fp, count(*) AS cnt, min(doc_id) AS rep_doc_id
            FROM documents GROUP BY 1
        """,
        "q04_top_doc_per_lang": """
            SELECT lang, doc_id, n_chars FROM (
                SELECT lang, doc_id, n_chars,
                       row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id DESC) AS rn
                FROM documents) WHERE rn = 1
        """,
        "q05_first_wins": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey ASC) AS rn
                FROM orders) WHERE rn = 1
        """,
        "q06_semi_join": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
            GROUP BY c_mktsegment
        """,
        "q07_metrics": """
            SELECT lang, source, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars, max(n_chars) AS max_chars
            FROM documents GROUP BY lang, source
        """,
        "q08_token_count": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_replace(trim(text), '\\s+', ' ', 'g'))
                             - length(replace(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ', '')) + 1
                   END AS n_tokens
            FROM documents
        """,
        "q09_lang_id": f"""
            SELECT doc_id, {lang_case} AS lang_guess
            FROM (SELECT doc_id, concat(' ', regexp_replace(lower(text), '\\s+', '  ', 'g'), ' ') AS padded
                  FROM documents)
        """,
        "q10_quality_score": f"""
            SELECT doc_id, round(
                CASE WHEN n > 0 THEN alpha * 1.0 / n ELSE 0.0 END * 0.5
                + least(n / 200.0, 1.0) * 0.3
                + least(hits * 1.0 / greatest(toks, 1), 1.0) * 0.2, 6) AS quality
            FROM (
                SELECT doc_id, length(text) AS n,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                       {en_hits_inline} AS hits,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE length(regexp_replace(trim(text), '\\s+', ' ', 'g'))
                                 - length(replace(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ', '')) + 1
                       END AS toks
                FROM documents)
        """,
        "q11_bigram_jaccard": f"""
            WITH toks AS (
                SELECT doc_id, source, string_split({_NORM}, ' ') AS ws FROM documents
            ), bg AS (
                SELECT DISTINCT doc_id, source, ws[i] || ' ' || ws[i+1] AS bg
                FROM toks, unnest(range(1, len(ws))) AS t(i)
            ), sizes AS (
                SELECT doc_id, count(*) AS sz FROM bg GROUP BY doc_id
            ), inter AS (
                SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
                FROM bg x JOIN bg y ON x.source = y.source AND x.bg = y.bg
                    AND x.doc_id < y.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
                       JOIN sizes sb ON inter.doc_b = sb.doc_id
        """,
        "q12_cosine_topk": """
            SELECT query_id, vec_id, round(cast(score AS double), 4) AS score, rank FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
                       list_cosine_similarity(e.embedding, q.embedding) AS score,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC,
                                    e.vec_id ASC) AS rank
                FROM embeddings e, embeddings q WHERE q.vec_id < 5)
            WHERE rank <= 3
        """,
        "q13_connected_components": """
            WITH RECURSIVE edges AS (
                SELECT a.doc_id AS src, b.doc_id AS dst
                FROM documents a JOIN documents b
                  ON a.lang = b.lang AND a.source = b.source
                 AND abs(a.n_chars - b.n_chars) <= 1 AND a.doc_id <> b.doc_id
            ), reach(a, b) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
            )
            SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
        """,
        "q14_minhash_near_dup": f"""
            WITH all_docs AS (
                SELECT doc_id AS id, {_NORM} AS norm FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS id,
                       trim(regexp_replace(lower(text || ' tail marker'), '\\s+', ' ', 'g')) AS norm
                FROM documents
            ), sh AS (
                -- BYTE 7-grams, matching the engine's UTF-8 window
                -- kernel (minhash.shingle_window_hashes): hex() makes
                -- each byte two chars, so substr(hx, 2i-1, 14) is the
                -- byte window at offset i. Identical to char grams on
                -- ASCII; on multi-byte text char grams would diverge.
                SELECT DISTINCT id, substr(hex(encode(norm)), 2*i - 1, 14) AS s
                FROM all_docs, unnest(range(1, octet_length(encode(norm)) - 5)) AS t(i)
            ), sizes AS (
                SELECT id, count(*) AS sz FROM sh GROUP BY id
            ), inter AS (
                SELECT x.id AS doc_a, y.id AS doc_b, count(*) AS i
                FROM sh x JOIN sh y ON x.s = y.s AND x.id < y.id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b
            FROM inter JOIN sizes sa ON inter.doc_a = sa.id
                       JOIN sizes sb ON inter.doc_b = sb.id
            WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8
            ORDER BY doc_a, doc_b
        """,
        # q15: full first-principles recompute of the portable SimHash
        # (functions/portable.py constants: P=2^31-1, B=127, H0=7, bit_j
        # = parity of (h*(2j+3)+5j+1) mod P) and the exact all-pairs
        # Hamming tail the pigeonhole banding provably equals.
        "q15_simhash_pairs": """
            WITH all_docs AS (
                SELECT doc_id AS id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text || ' tail marker' FROM documents
            ), toks AS (
                SELECT id, unnest(list_filter(string_split(
                    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                    t -> t != '')) AS tok
                FROM all_docs
            ), th AS (
                SELECT id, list_reduce(
                    list_prepend(7::BIGINT, list_transform(
                        range(1, length(tok) + 1),
                        i -> unicode(substr(tok, i, 1))::BIGINT)),
                    (h, c) -> (h * 127 + c) % 2147483647) AS h
                FROM toks
            ), bits AS (
                SELECT id, j,
                       sum(CASE WHEN ((h*(2*j+3) + 5*j+1) % 2147483647) % 2 = 1
                                THEN 1 ELSE -1 END) AS s
                FROM th, unnest(range(0, 64)) t(j)
                GROUP BY id, j
            ), usig AS (
                SELECT id, sum(CASE WHEN s > 0 THEN 1::HUGEINT << j ELSE 0 END) AS u
                FROM bits GROUP BY id
            ), sig AS (
                SELECT d.id, coalesce(cast(u - CASE WHEN u >= 9223372036854775808
                        THEN 18446744073709551616 ELSE 0 END AS BIGINT), 0) AS s
                FROM all_docs d LEFT JOIN usig ON d.id = usig.id
            )
            SELECT a.id AS doc_a, b.id AS doc_b,
                   cast(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
            FROM sig a JOIN sig b ON a.id < b.id
            WHERE bit_count(xor(a.s, b.s)) <= 8
            ORDER BY doc_a, doc_b
        """,
        # q16: winnowing recomputed exactly — portable gram hash, min
        # VALUE per w-window (tie-rule-free), <=w-gram docs keep all
        # grams, same mega-fingerprint cap (2000) as the engine.
        "q16_substring_dups": """
            WITH all_docs AS (
                SELECT doc_id AS id, lower(text) AS norm FROM documents
                UNION ALL
                SELECT doc_id + 1000000, lower(text || ' tail marker') FROM documents
            ), grams AS (
                SELECT id, i, list_reduce(
                    list_prepend(7::BIGINT, list_transform(
                        range(0, 15), j -> unicode(substr(norm, i + j, 1))::BIGINT)),
                    (h, c) -> (h * 127 + c) % 2147483647) AS h
                FROM all_docs, unnest(range(1, length(norm) - 15 + 2)) t(i)
                WHERE length(norm) >= 15
            ), ng AS (
                SELECT id, count(*) AS n FROM grams GROUP BY id
            ), wins AS (
                SELECT g.id, i, n,
                       min(h) OVER (PARTITION BY g.id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 19 FOLLOWING) AS fp
                FROM grams g JOIN ng USING (id)
            ), fps AS (
                SELECT DISTINCT id, fp FROM wins WHERE n > 20 AND i <= n - 20 + 1
                UNION
                SELECT DISTINCT g.id, h AS fp
                FROM grams g JOIN ng USING (id) WHERE n <= 20
            ), sizes AS (
                SELECT fp FROM fps GROUP BY fp
                HAVING count(*) > 1 AND count(*) <= 2000
            )
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_fingerprints
            FROM fps a JOIN fps b USING (fp) JOIN sizes USING (fp)
            WHERE a.id < b.id
            GROUP BY 1, 2
            ORDER BY id_a, id_b
        """,
        # q17: portable hyperplane buckets (6 bits) + Hamming-1
        # multi-probe + exact cosine rerank, all recomputed in SQL.
        "q17_embedding_bucket_ann": """
            WITH b AS (
                SELECT vec_id, embedding,
                       (SELECT sum(CASE WHEN list_dot_product(
                                embedding::DOUBLE[],
                                list_transform(range(0, len(embedding)),
                                    d -> ((1103515245*(j*len(embedding) + d) + 12345)
                                          % 2147483647) / 2147483647.0 - 0.5)) > 0
                            THEN 1 << j ELSE 0 END)
                        FROM unnest(range(0, 6)) t(j)) AS bucket
                FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, embedding AS qe, bucket AS qb
                FROM b WHERE vec_id < 5
            ), cand AS (
                SELECT query_id, b.vec_id,
                       list_cosine_similarity(b.embedding::DOUBLE[], qe::DOUBLE[]) AS score
                FROM b, q
                WHERE bit_count(xor(b.bucket::BIGINT, qb::BIGINT)) <= 1
            )
            SELECT query_id, vec_id, rank FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id ASC) AS rank
                FROM cand) WHERE rank <= 3
        """,
        "q18_doc_fingerprint": f"""
            SELECT doc_id, md5({_NORM}) AS fp FROM documents
        """,
        # q22: the oracle replicates the IVF algorithm end-to-end —
        # Knuth-hash centroid sample, argmax assignment (ties by
        # centroid id), probe ranking, exact rerank — not just the
        # final neighbor set.
        "q22_ann_ivf": """
            WITH c AS (
                SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
                FROM embeddings
                ORDER BY ((vec_id % 2147483647) * 2654435761) % 2147483647 ASC, vec_id ASC
                LIMIT 16
            ), scored AS (
                SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
                                    c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN c
            ), assigned AS (
                SELECT vec_id, v, cid AS list_id FROM scored WHERE rn = 1
            ), probes AS (
                SELECT query_id, qv, cid AS list_id FROM (
                    SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qv, c.cid,
                           row_number() OVER (PARTITION BY q.vec_id
                               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec) DESC,
                                        c.cid ASC) AS pr
                    FROM embeddings q CROSS JOIN c WHERE q.vec_id < 5)
                WHERE pr <= 4
            ), cand AS (
                SELECT p.query_id, a.vec_id, a.list_id,
                       list_cosine_similarity(a.v, p.qv) AS score
                FROM probes p JOIN assigned a ON p.list_id = a.list_id
            )
            SELECT query_id, vec_id, list_id, rank FROM (
                SELECT query_id, vec_id, list_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id ASC) AS rank
                FROM cand) WHERE rank <= 3
        """,
        "q19_embedding_near_dup": """
            WITH all_vecs AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000,
                       list_transform(embedding, x -> x * 1.01 + 0.001)
                FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM all_vecs a, all_vecs b
            WHERE a.vec_id < b.vec_id
              AND list_cosine_similarity(a.embedding, b.embedding) >= 0.99
            ORDER BY id_a, id_b
        """,
        # q20: the decode oracle is closed-form (pure sines at exact-bin
        # frequencies -> dominant band is arithmetic; WAV sizes follow
        # from the PCM format) — no FFT needed in SQL, yet a decode,
        # band-binning, or mime-sniff bug breaks the value hash.
        "q20_media_features": """
            SELECT
                i AS media_id,
                CASE i % 3 WHEN 0 THEN 'audio' WHEN 1 THEN 'image'
                    ELSE 'video' END AS kind,
                CASE i % 3 WHEN 0 THEN 'audio/wav' WHEN 1 THEN 'image/png'
                    ELSE 'video/mp4' END AS mime,
                CASE i % 3 WHEN 0 THEN 4044 WHEN 1 THEN 68
                    ELSE 67 END AS n_bytes,
                CASE WHEN i % 3 = 0 THEN 16 END AS n_features,
                -- sine at f = 200 + 24 i Hz over 0.25 s @ 8 kHz:
                -- spectrum bin = f / 4; 1001 rfft bins split into 16
                -- bands of 63 (first 9) then 62 -> all audio bins here
                -- (<= 320) land in the // 63 region
                CASE WHEN i % 3 = 0 THEN ((200 + 24 * i) // 4) // 63
                    END AS top_band
            FROM range(48) t(i)
            ORDER BY media_id
        """,
        # q21: closed-form like q20 — constant-luma y4m frames make the
        # histogram argmax arithmetic (a//16 for the 2/3-weight frame
        # pair, b//16 for the last frame); byte counts follow from the
        # y4m format (37 B header + 3 frames x (6 B marker + 384 B
        # planes)). A decode, sampling-order, or sniff bug breaks it.
        "q21_video_features": """
            SELECT
                i AS media_id,
                CASE i % 3 WHEN 0 THEN 'video' WHEN 1 THEN 'image'
                    ELSE 'audio' END AS kind,
                CASE i % 3 WHEN 0 THEN 'video/x-yuv4mpeg'
                    WHEN 1 THEN 'image/png' ELSE 'audio/wav' END AS mime,
                CASE i % 3 WHEN 0 THEN 1207 ELSE 68 END AS n_bytes,
                CASE WHEN i % 3 = 0 THEN 3 END AS n_frames,
                CASE WHEN i % 3 = 0
                    THEN ((16 + 5 * i) % 256) // 16 END AS top_band,
                CASE WHEN i % 3 = 0
                    THEN (((16 + 5 * i) % 256 + 80) % 256) // 16
                    END AS last_band
            FROM range(48) t(i)
            ORDER BY media_id
        """,
        "q23_incremental_exact": """
            WITH newd AS (
                SELECT doc_id + 1000000 AS id, text AS content FROM documents
                UNION ALL
                SELECT doc_id + 2000000, text || ' tail marker' FROM documents
                UNION ALL
                SELECT doc_id + 3000000, text || ' tail marker tail marker' FROM documents
                UNION ALL
                SELECT doc_id + 4000000, text || ' tail marker' FROM documents
            ), rep AS (
                SELECT id, content, min(id) OVER (PARTITION BY content) AS rep_id
                FROM newd
            )
            SELECT id,
                   CASE WHEN EXISTS (SELECT 1 FROM documents o WHERE o.text = r.content)
                        THEN 'dup_exact'
                        WHEN id = rep_id THEN 'kept'
                        ELSE 'dup_batch' END AS status
            FROM rep r
            ORDER BY id
        """,
        # q24: the whole incremental three-tier contract from first
        # principles — old-corpus fingerprints + survivor selection
        # (exact shingle-Jaccard edges, recursive-CTE closure, min-sha
        # canonical), survivor-only tier-2 match, batch-side closure.
        "q24_incremental_near_dup": """
            WITH RECURSIVE
            old_s AS (
                SELECT content, sha256(content) AS sha,
                       trim(regexp_replace(lower(content), '\\s+', ' ', 'g')) AS norm
                FROM (SELECT DISTINCT text AS content FROM documents)
            ),
            old_sh AS (
                SELECT DISTINCT sha, substr(hex(encode(norm)), 2*i - 1, 14) AS s
                FROM old_s, unnest(range(1, octet_length(encode(norm)) - 5)) AS t(i)
            ),
            old_sz AS (SELECT sha, count(*) AS sz FROM old_sh GROUP BY sha),
            old_pairs AS (
                SELECT p.a, p.b FROM (
                    SELECT x.sha AS a, y.sha AS b, count(*) AS i
                    FROM old_sh x JOIN old_sh y ON x.s = y.s AND x.sha < y.sha
                    GROUP BY 1, 2
                ) p JOIN old_sz sa ON p.a = sa.sha JOIN old_sz sb ON p.b = sb.sha
                WHERE p.i * 1.0 / (sa.sz + sb.sz - p.i) >= 0.8
            ),
            old_edges AS (
                SELECT a, b FROM old_pairs UNION ALL SELECT b, a FROM old_pairs
            ),
            old_reach(a, b) AS (
                SELECT sha, sha FROM old_s
                UNION
                SELECT r.a, e.b FROM old_reach r JOIN old_edges e ON r.b = e.a
            ),
            old_surv AS (
                SELECT DISTINCT lbl AS sha
                FROM (SELECT a, min(b) AS lbl FROM old_reach GROUP BY a)
            ),
            new_s AS (
                SELECT id, content, sha256(content) AS sha FROM (
                    SELECT doc_id + 1000000 AS id, text AS content FROM documents
                    UNION ALL
                    SELECT doc_id + 2000000, text || ' tail marker' FROM documents
                    UNION ALL
                    SELECT doc_id + 3000000, text || ' tail marker tail marker' FROM documents
                    UNION ALL
                    SELECT doc_id + 4000000, text || ' tail marker' FROM documents
                )
            ),
            fresh AS (
                SELECT DISTINCT sha,
                       trim(regexp_replace(lower(content), '\\s+', ' ', 'g')) AS norm
                FROM new_s WHERE sha NOT IN (SELECT sha FROM old_s)
            ),
            fresh_sh AS (
                SELECT DISTINCT sha, substr(hex(encode(norm)), 2*i - 1, 14) AS s
                FROM fresh, unnest(range(1, octet_length(encode(norm)) - 5)) AS t(i)
            ),
            fresh_sz AS (SELECT sha, count(*) AS sz FROM fresh_sh GROUP BY sha),
            surv_sh AS (
                SELECT sha, s FROM old_sh WHERE sha IN (SELECT sha FROM old_surv)
            ),
            surv_sz AS (SELECT sha, count(*) AS sz FROM surv_sh GROUP BY sha),
            t2 AS (
                SELECT DISTINCT c.sha FROM (
                    SELECT x.sha, y.sha AS osha, count(*) AS i
                    FROM fresh_sh x JOIN surv_sh y ON x.s = y.s
                    GROUP BY 1, 2
                ) c JOIN fresh_sz fz ON c.sha = fz.sha
                    JOIN surv_sz oz ON c.osha = oz.sha
                WHERE c.i * 1.0 / (fz.sz + oz.sz - c.i) >= 0.8
            ),
            rem AS (SELECT sha FROM fresh WHERE sha NOT IN (SELECT sha FROM t2)),
            rem_pairs AS (
                SELECT p.a, p.b FROM (
                    SELECT x.sha AS a, y.sha AS b, count(*) AS i
                    FROM fresh_sh x JOIN fresh_sh y ON x.s = y.s AND x.sha < y.sha
                    WHERE x.sha IN (SELECT sha FROM rem)
                      AND y.sha IN (SELECT sha FROM rem)
                    GROUP BY 1, 2
                ) p JOIN fresh_sz sa ON p.a = sa.sha JOIN fresh_sz sb ON p.b = sb.sha
                WHERE p.i * 1.0 / (sa.sz + sb.sz - p.i) >= 0.8
            ),
            rem_edges AS (
                SELECT a, b FROM rem_pairs UNION ALL SELECT b, a FROM rem_pairs
            ),
            rem_reach(a, b) AS (
                SELECT sha, sha FROM rem
                UNION
                SELECT r.a, e.b FROM rem_reach r JOIN rem_edges e ON r.b = e.a
            ),
            kept AS (
                SELECT DISTINCT lbl AS sha
                FROM (SELECT a, min(b) AS lbl FROM rem_reach GROUP BY a)
            )
            SELECT id,
                   CASE WHEN sha IN (SELECT sha FROM old_s) THEN 'dup_exact'
                        WHEN sha IN (SELECT sha FROM t2) THEN 'dup_near'
                        WHEN sha IN (SELECT sha FROM kept)
                             AND id = min(id) OVER (PARTITION BY sha) THEN 'kept'
                        ELSE 'dup_batch' END AS status
            FROM new_s
            ORDER BY id
        """,
        # q25: word-level repetition gates. The oracle recomputes the
        # run-length statistics relationally (explode + group-by) while
        # the Spark side is a per-row sorted-array aggregate — same
        # math, disjoint mechanics, so an off-by-one in either breaks
        # the hash. Ties for the top bigram resolve to the smallest
        # bigram on both sides (ORDER BY c DESC, b ASC here; strict-`>`
        # over the ascending-sorted array there).
        "q25_repetition_stats": r"""
            WITH base AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                                   x -> x <> '') AS ws
                FROM documents
            ), wc AS (
                SELECT doc_id, w, count(*) AS c, length(w) AS wl
                FROM (SELECT doc_id, unnest(ws) AS w FROM base)
                GROUP BY doc_id, w
            ), agg AS (
                SELECT doc_id,
                       CAST(sum(c) AS BIGINT) AS n_words,
                       CAST(count(*) AS BIGINT) AS n_distinct,
                       CAST(sum(c * wl) AS BIGINT) AS total_chars,
                       CAST(sum(CASE WHEN c > 1 THEN c * wl ELSE 0 END) AS BIGINT) AS dup_chars,
                       CAST(max(c) AS BIGINT) AS top_word_count
                FROM wc GROUP BY doc_id
            ), bc AS (
                SELECT doc_id, b, count(*) AS c
                FROM (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS b
                      FROM base, unnest(range(1, len(ws))) AS t(i))
                GROUP BY doc_id, b
            ), topbg AS (
                SELECT doc_id, CAST(c AS BIGINT) AS bg_count,
                       CAST(length(b) - 1 AS BIGINT) AS bg_chars
                FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                                   ORDER BY c DESC, b ASC) AS rn
                      FROM bc)
                WHERE rn = 1
            )
            SELECT d.doc_id,
                   coalesce(a.n_words, 0) AS n_words,
                   round(CASE WHEN coalesce(a.n_words, 0) > 0
                              THEN CAST(a.n_words - a.n_distinct AS DOUBLE) / a.n_words
                              ELSE 0.0 END, 6) AS dup_word_frac,
                   round(CASE WHEN coalesce(a.total_chars, 0) > 0
                              THEN CAST(a.dup_chars AS DOUBLE) / a.total_chars
                              ELSE 0.0 END, 6) AS dup_char_frac,
                   coalesce(a.top_word_count, 0) AS top_word_count,
                   round(CASE WHEN coalesce(a.total_chars, 0) > 0 AND t.bg_count IS NOT NULL
                              THEN CAST(t.bg_count * t.bg_chars AS DOUBLE) / a.total_chars
                              ELSE 0.0 END, 6) AS top_bigram_frac
            FROM documents d
            LEFT JOIN agg a USING (doc_id)
            LEFT JOIN topbg t USING (doc_id)
        """,
        # q26: identical injection expression, then RE2 replays the
        # Java-regex scrub (patterns restricted to the shared syntax
        # subset — see functions/scrub.py). Replacement order is part
        # of the contract: URL, then email, then bare IPv4.
        "q26_pii_scrub": r"""
            WITH inj AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 2 = 0
                               THEN ' mail u' || doc_id || '@ex' || (doc_id % 7) || '.org'
                               ELSE '' END
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' see https://h' || doc_id || '.example.com/a?x=1'
                               ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' ip 192.168.' || (doc_id % 254 + 1) || '.7'
                               ELSE '' END AS t
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
                   CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g'),
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed
            FROM inj
        """,
        # q27: same 5-gram construction relationally; benchmark slice
        # doc_id % 97 == 0 pinned on both sides
        "q27_decontaminate": r"""
            WITH base AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'),
                                   x -> x <> '') AS ws
                FROM documents
            ), grams AS (
                SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS g
                FROM base, unnest(range(1, len(ws) - 3)) AS t(i)
            ), bench AS (
                SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
            ), hits AS (
                SELECT doc_id, count(*) AS n_contaminated
                FROM grams JOIN bench USING (g)
                GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                   coalesce(h.n_contaminated, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        # q28: the portable two-round LCG (constants shared with
        # functions/portable.py: A=1103515245 C=12345 P=2^31-1, seed 1)
        # replayed as plain bigint arithmetic — the kept ROW SET must
        # match, not just the counts
        "q28_mix_sample": """
            WITH w(lang, ppm) AS (
                VALUES ('en', 1000000), ('de', 500000), ('fr', 250000),
                       ('es', 100000), ('zh', 0)
            ), draw AS (
                SELECT doc_id, lang,
                       (((((doc_id % 2147483647) * 1103515245 + 12345 + 1) % 2147483647)
                         * 1103515245 + 12345) % 2147483647) % 1000000 AS r
                FROM documents
            )
            SELECT doc_id, lang
            FROM draw JOIN w USING (lang)
            WHERE r < ppm
        """,
        "q29_pack_shards": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE length(regexp_replace(trim(text), '\s+', ' ', 'g'))
                                 - length(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) + 1
                       END AS n_tokens
                FROM documents
            ), c AS (
                SELECT doc_id, n_tokens,
                       SUM(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum
                FROM t
            )
            SELECT doc_id, n_tokens, (cum - n_tokens) // 4096 AS shard
            FROM c
        """,
        "q30_segment_dedup": r"""
            WITH words AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), segs AS (
                SELECT doc_id, i AS seg_idx,
                       array_to_string(w[(i * 12 + 1):((i + 1) * 12)], ' ') AS seg
                FROM words, UNNEST(range(CAST(ceil(len(w) / 12.0) AS BIGINT))) AS t(i)
            ), freq AS (
                SELECT seg, count(DISTINCT doc_id) AS n_docs
                FROM segs GROUP BY seg
            ), flagged AS (
                SELECT s.doc_id, s.seg_idx, s.seg, f.n_docs >= 2 AS is_dup
                FROM segs s JOIN freq f USING (seg)
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_segments,
                   CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup_segments,
                   coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
                            FILTER (WHERE NOT is_dup), '') AS cleaned_text
            FROM flagged GROUP BY doc_id
        """,
        "q31_shuffle_pack": r"""
            WITH t AS (
                SELECT doc_id,
                       (((((doc_id % 2147483647) * 1103515245 + 12345 + 7) % 2147483647)
                         * 1103515245 + 12345) % 2147483647) % 1000000 AS draw,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE length(regexp_replace(trim(text), '\s+', ' ', 'g'))
                                 - length(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) + 1
                       END AS n_tokens
                FROM documents
            ), c AS (
                SELECT doc_id, draw, n_tokens,
                       SUM(n_tokens) OVER (
                           ORDER BY draw, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum
                FROM t
            )
            SELECT doc_id, draw, n_tokens, (cum - n_tokens) // 4096 AS shard
            FROM c
        """,
        "q32_semantic_dedup": """
            WITH RECURSIVE all_vecs AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000,
                       list_transform(embedding, x -> x * 1.01 + 0.001)
                FROM embeddings
            ), edges AS (
                SELECT a.vec_id AS src, b.vec_id AS dst
                FROM all_vecs a JOIN all_vecs b
                  ON a.vec_id <> b.vec_id
                 AND list_cosine_similarity(a.embedding, b.embedding) >= 0.99
            ), reach(a, b) AS (
                SELECT vec_id, vec_id FROM all_vecs
                UNION
                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
            )
            SELECT a AS vec_id, min(b) AS cluster_id,
                   CAST(CASE WHEN a = min(b) THEN 1 ELSE 0 END AS BIGINT)
                       AS is_representative
            FROM reach GROUP BY a
        """,
    }
