"""Oracle checks of the paper's algorithms on the shared sf0.001 tables.

Each query below runs a package operator on Spark; its twin in
`oracle_sql()` recomputes the same result from first principles in
DuckDB over the same parquet. Row counts and an order-insensitive hash
of the values must agree:

- q13: DataFrame connected components vs a recursive-CTE closure;
- q14: MinHash + LSH candidates + the exact verify vs exact shingle
  Jaccard;
- q15: the portable SimHash and pigeonhole banding vs all-pairs
  `bit_count(xor)`;
- q16: winnowing substring pairs vs the winnowed fingerprint sets;
- q24: an index build plus one increment (tiers 1-3) vs the whole
  three-tier contract.
"""

from __future__ import annotations

import hashlib

import duckdb
import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame, SparkSession

from test_plans import SF  # the same sf0.001 tables the plan audits read


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

    from fastqdedup_spark.functions.partitioning import widen_small_input

    cfg = DedupConfig(shingle_k=7, num_perm=128, bands=32, jaccard_threshold=0.8)
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
        pairs, signed.select("id", "content_norm"), cfg, id_col="id"
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
        dissection="canonical",
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



_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def oracle_sql() -> dict[str, str]:
    return {
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
        # q24: the whole incremental three-tier contract from first
        # principles — old-corpus fingerprints + survivor selection
        # (exact shingle-Jaccard edges, recursive-CTE closure, min-sha
        # canonical), survivor-only tier-2 match, batch-side closure.
        # Its CTEs are MATERIALIZED: DuckDB 1.0 inlines a plain CTE at
        # every reference, and the tier CTEs are referenced several times
        # (inlined, this query took ~6 min; materialized, ~13 s).
        "q24_incremental_near_dup": """
            WITH RECURSIVE
            old_s AS MATERIALIZED (
                SELECT content, sha256(content) AS sha,
                       trim(regexp_replace(lower(content), '\\s+', ' ', 'g')) AS norm
                FROM (SELECT DISTINCT text AS content FROM documents)
            ),
            old_sh AS MATERIALIZED (
                SELECT DISTINCT sha, substr(hex(encode(norm)), 2*i - 1, 14) AS s
                FROM old_s, unnest(range(1, octet_length(encode(norm)) - 5)) AS t(i)
            ),
            old_sz AS MATERIALIZED (SELECT sha, count(*) AS sz FROM old_sh GROUP BY sha),
            old_pairs AS MATERIALIZED (
                SELECT p.a, p.b FROM (
                    SELECT x.sha AS a, y.sha AS b, count(*) AS i
                    FROM old_sh x JOIN old_sh y ON x.s = y.s AND x.sha < y.sha
                    GROUP BY 1, 2
                ) p JOIN old_sz sa ON p.a = sa.sha JOIN old_sz sb ON p.b = sb.sha
                WHERE p.i * 1.0 / (sa.sz + sb.sz - p.i) >= 0.8
            ),
            old_edges AS MATERIALIZED (
                SELECT a, b FROM old_pairs UNION ALL SELECT b, a FROM old_pairs
            ),
            old_reach(a, b) AS (
                SELECT sha, sha FROM old_s
                UNION
                SELECT r.a, e.b FROM old_reach r JOIN old_edges e ON r.b = e.a
            ),
            old_surv AS MATERIALIZED (
                SELECT DISTINCT lbl AS sha
                FROM (SELECT a, min(b) AS lbl FROM old_reach GROUP BY a)
            ),
            new_s AS MATERIALIZED (
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
            fresh AS MATERIALIZED (
                SELECT DISTINCT sha,
                       trim(regexp_replace(lower(content), '\\s+', ' ', 'g')) AS norm
                FROM new_s WHERE sha NOT IN (SELECT sha FROM old_s)
            ),
            fresh_sh AS MATERIALIZED (
                SELECT DISTINCT sha, substr(hex(encode(norm)), 2*i - 1, 14) AS s
                FROM fresh, unnest(range(1, octet_length(encode(norm)) - 5)) AS t(i)
            ),
            fresh_sz AS MATERIALIZED (SELECT sha, count(*) AS sz FROM fresh_sh GROUP BY sha),
            surv_sh AS MATERIALIZED (
                SELECT sha, s FROM old_sh WHERE sha IN (SELECT sha FROM old_surv)
            ),
            surv_sz AS MATERIALIZED (SELECT sha, count(*) AS sz FROM surv_sh GROUP BY sha),
            t2 AS MATERIALIZED (
                SELECT DISTINCT c.sha FROM (
                    SELECT x.sha, y.sha AS osha, count(*) AS i
                    FROM fresh_sh x JOIN surv_sh y ON x.s = y.s
                    GROUP BY 1, 2
                ) c JOIN fresh_sz fz ON c.sha = fz.sha
                    JOIN surv_sz oz ON c.osha = oz.sha
                WHERE c.i * 1.0 / (fz.sz + oz.sz - c.i) >= 0.8
            ),
            rem AS MATERIALIZED (SELECT sha FROM fresh WHERE sha NOT IN (SELECT sha FROM t2)),
            rem_pairs AS MATERIALIZED (
                SELECT p.a, p.b FROM (
                    SELECT x.sha AS a, y.sha AS b, count(*) AS i
                    FROM fresh_sh x JOIN fresh_sh y ON x.s = y.s AND x.sha < y.sha
                    WHERE x.sha IN (SELECT sha FROM rem)
                      AND y.sha IN (SELECT sha FROM rem)
                    GROUP BY 1, 2
                ) p JOIN fresh_sz sa ON p.a = sa.sha JOIN fresh_sz sb ON p.b = sb.sha
                WHERE p.i * 1.0 / (sa.sz + sb.sz - p.i) >= 0.8
            ),
            rem_edges AS MATERIALIZED (
                SELECT a, b FROM rem_pairs UNION ALL SELECT b, a FROM rem_pairs
            ),
            rem_reach(a, b) AS (
                SELECT sha, sha FROM rem
                UNION
                SELECT r.a, e.b FROM rem_reach r JOIN rem_edges e ON r.b = e.a
            ),
            kept AS MATERIALIZED (
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
    }


def norm_cell(v):
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.9g}"
    return str(v)


def value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


QUERIES = {
    "q13_connected_components": q13_connected_components,
    "q14_minhash_near_dup": q14_minhash_near_dup,
    "q15_simhash_pairs": q15_simhash_pairs,
    "q16_substring_dups": q16_substring_dups,
    "q24_incremental_near_dup": q24_incremental_near_dup,
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_duckdb_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    orows = duck.execute(oracle_sql()[name]).fetchall()
    ocols = [d[0] for d in duck.description]
    assert srows, f"{name}: no rows — the check would prove nothing"
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    if value_hash(srows, scols) != value_hash(orows, ocols):
        key = lambda cols: sorted(range(len(cols)), key=lambda i: cols[i])
        sset = {tuple(norm_cell(r[i]) for i in key(scols)) for r in srows}
        oset = {tuple(norm_cell(r[i]) for i in key(ocols)) for r in orows}
        pytest.fail(
            f"{name}: spark-only {sorted(sset - oset)[:3]}, "
            f"duck-only {sorted(oset - sset)[:3]}"
        )
