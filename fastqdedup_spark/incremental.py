"""The code domain's one front: a batch deduped against a dedup index.

A batch run (the CLI without --index, `dedup_files`) reclusters the
whole input. At 100 TB that is the wrong unit of work for a growing
training corpus: a daily increment is ~0.1-1% of the store, and the
retained corpus is immutable once published. So every code-domain run
is an increment against an index view, and the batch run is the
increment against an empty view that appends nothing:

  index  = what one batch run (or a chain of increments) retained:
           per-survivor MinHash state (normalized content, shingle
           count, band hashes, est sketch) + the sha fingerprints of
           EVERYTHING ever seen,
  update = dedup a new batch against the index without touching,
           re-signing, or re-shuffling the retained corpus, then
           append the batch's own survivors to the index.

Semantics (documented contract, pinned by tests/test_incremental.py
against a pure-Python oracle):

  tier 1 (exact):  a new file whose sha256(content) was EVER seen
                   (kept or dropped) is dropped — `dropped_exact`.
  tier 2 (near):   a remaining file whose normalized-content k-gram
                   Jaccard >= threshold against ANY index survivor is
                   dropped — `dropped_near`.
  tier 3 (batch):  the remainder runs the clustering tail
                   (pipeline.cluster_signed) among themselves — the
                   batch run's result over the remainder, without
                   re-aggregating or re-signing it.
  kept = tier-3 survivors; with update_index=True their signed state
  and the batch's fingerprints append to the index idempotently.

There is one way into the index. The seed build (`build_index`, the
CLI's first `--index` run) is an increment whose as-of view is empty:
tiers 1-2 can drop nothing, so their probes are skipped, tier 3
clusters the whole signed input, and the append is the increment's
append. The batch run is the same run with no index and no append.
The batch table and the signing pass are StageCheckpointer stages
(`distinct_contents`, `signatures`): with a checkpoint dir they are
durable and lineage-verified, and their checkpoint key covers the
index path, the batch id and the batches in its as-of view, so a run
never resumes stages computed against another view.

Deviation from a full recluster, stated rather than hidden: matching
is against SURVIVORS, so similarity does not chain through files the
index already dropped (new B ~ dropped A ~ survivor S does not drop B
unless B ~ S directly). That is the standard incremental trade-off —
single-linkage chaining needs the global edge set — and a periodic
full recluster (the batch CLI, or `build_index` into a new path)
restores it. The reference has no
incremental mode at all (each run rebuilds its trie from scratch,
/root/reference/src/fastqdedup/__init__.py:209-288); this is a
graft-only capability mandated by the 100 TB regime, not a port.

100 TB plan shape (the part that must survive 1000 executors):
- the NEW side is aggregated by sha once and signed once: one
  materialized batch table (sha, cnt, content, first-wins rep) feeds
  tier 1, the signer (its fresh rows only), tier 3's output rows and
  the append's fingerprints; the signed fresh contents feed the near
  probe, tier 3's clustering and the append's survivor state.
- plan shapes follow the counts the increment has already observed:
  the tier-1 hits (old shas seen again) are not pinned but broadcast
  inside the signer's plan, the semi-joins that keep tier-3 survivors
  (the output rows, the append's survivor state) broadcast the
  survivor keys when the observed survivor count fits
  cfg.incremental_broadcast_max_rows, and Arrow stages whose known
  row count is under one task's worth skip their fan-out exchange.
- the OLD side is never broadcast, never collected, and only ever
  SCANNED: the exact tier streams the fingerprint table once against a
  broadcast of the new batch's shas; the near tier streams the index's
  band columns once (the candidate pairs are materialized) against a
  broadcast of the new side's bands, then its contents once, for the
  candidates' old side only (every cross pair is (old, new), so the
  new side's contents come from the signed batch). Zero shuffles of
  retained data when the increment is broadcast-sized (the common
  case by construction).
- when an increment is too big to broadcast
  (cfg.incremental_broadcast_max_rows), the band join degrades to a
  shuffled equi-join on band_hash with AQE skew splitting — and past
  ~10% of corpus size the honest answer is the batch recluster, which
  the index rebuild (`build_index`) makes one call.
- on a real cluster the index tables would be written bucketed
  (fingerprints by sha, bands exploded and bucketed by band_hash) so
  the probe side prunes file scans; here they are plain parquet
  directories with the same logical layout.

Index layout (filesystem; batch writes _SUCCESS-guarded and
idempotent, JSON files written atomically via temp+rename):

  <path>/_meta.json                 similarity-model hash + params
  <path>/_ledger.json               batch ids in APPEND order — reads
                                    with `exclude=b` see only batches
                                    appended BEFORE b (as-of), so a
                                    crash-retry of b reproduces its
                                    first run even after later
                                    increments landed
  <path>/fingerprints/<batch>/      (sha)                    parquet
  <path>/index/<batch>/             (sha, nid, content_norm,
                                     band_hash, sig_packed)   parquet

Index batches written by older code also hold a sixth column, the
per-document distinct-shingle count; every read passes _INDEX_SCHEMA,
so Spark reads those batches without it.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, replace

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from fastqdedup_spark.checkpoint import StageCheckpointer
from fastqdedup_spark.config import DedupConfig
from fastqdedup_spark.functions.minhash import add_signature_columns, normalize_content
from fastqdedup_spark.functions.quality import content_quality_filter
from fastqdedup_spark.operators.exact_dedup import with_sha256
from fastqdedup_spark.operators.verify import est_filter_carried, verify_pairs_jaccard
from fastqdedup_spark.pipeline import DedupResult, cluster_signed, survivor_shas
from fastqdedup_spark.session import driver_table
from fastqdedup_spark.sources import FILES_COLUMNS

# The index tables' on-disk schemas: append() writes exactly these
# columns and types, and the readers hand the same schemas to
# spark.read, which then runs no schema-inference job.
_INDEX_SCHEMA = T.StructType([
    T.StructField("sha", T.StringType()),
    T.StructField("nid", T.BinaryType()),
    T.StructField("content_norm", T.StringType()),
    T.StructField("band_hash", T.ArrayType(T.LongType())),
    T.StructField("sig_packed", T.ArrayType(T.LongType())),
])
_FINGERPRINT_SCHEMA = T.StructType([T.StructField("sha", T.StringType())])


def model_hash(cfg: DedupConfig) -> str:
    """Hash of the fields that define the SIMILARITY MODEL — the ones
    that must match between the run that built an index and every run
    that updates it (signatures/bands/sketches computed under different
    params are not comparable). Execution knobs (salting, transport,
    caps, checkpoints) are deliberately excluded: they change plans,
    not meaning."""
    fields = {
        "shingle_k": cfg.shingle_k,
        "num_perm": cfg.num_perm,
        "bands": cfg.bands,
        "band_bins": cfg.resolved_band_bins,
        "jaccard_threshold": cfg.jaccard_threshold,
        "seed": cfg.seed,
    }
    return hashlib.sha256(json.dumps(fields, sort_keys=True).encode()).hexdigest()[:16]


def derived_batch_id(cfg: DedupConfig, files: DataFrame | None = None) -> str:
    """The batch id dedup_files_incremental derives when no explicit id
    is given: from cfg.input_id when set, else from sha_fingerprint of
    the batch itself (one scan of the NEW batch, never the index). Both
    are stable across sessions, so a rerun of a batch reads the as-of
    view of its first run. A TIMESTAMPED input_id (input_fingerprint's
    `|unfingerprintable|` fallback for remote inputs whose listing
    failed) would give every run a fresh id, so it counts as absent.
    `files` must already carry `sha` (with_sha256)."""
    if cfg.input_id and "|unfingerprintable|" not in cfg.input_id:
        return hashlib.sha256(cfg.input_id.encode()).hexdigest()[:16]
    if files is None:
        raise ValueError("derived_batch_id needs cfg.input_id or the batch itself")
    key = "|".join(str(v) for v in sha_fingerprint(files))
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def sha_fingerprint(df: DataFrame) -> tuple:
    """Order-insensitive content fingerprint of a `sha` column: (count,
    crc32-sum, min, max), one aggregation job over `df`."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32("sha")).alias("s"),
        F.min("sha").alias("lo"),
        F.max("sha").alias("hi"),
    ).collect()[0]
    return (row["n"], row["s"], row["lo"], row["hi"])


@dataclass
class IncrementalResult:
    deduped: DataFrame        # kept new files (tier-3 survivors, full rows + sha)
    # dropped_exact and dropped_near are lazy plans over the new files:
    # every action on either re-reads and re-hashes the input, and one
    # on dropped_exact also rescans the index fingerprints (nothing
    # pins the tier-1 hits), so collect them once if they are reused
    dropped_exact: DataFrame  # new files dropped by tier 1 (sha seen before)
    dropped_near: DataFrame   # new files dropped by tier 2 (>= thr vs an index survivor)
    batch: DedupResult        # the within-batch (tier 3) result over the remainder
    metrics: dict


class DedupIndex:
    """Persisted dedup state; see the module docstring for layout.
    `path` is a local directory (a `file://` URI is accepted): the
    index's bookkeeping uses the driver's filesystem calls, so another
    scheme is refused instead of being created as a local directory
    named after the URI."""

    def __init__(self, spark: SparkSession, path: str, cfg: DedupConfig):
        if path.startswith("file://"):
            path = path[len("file://"):]
        elif "://" in path:
            raise ValueError(
                f"index location {path!r} is not a local directory; "
                "incremental indexes live on the driver's filesystem"
            )
        self.spark = spark
        self.path = path
        meta_path = os.path.join(path, "_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta["model"] != model_hash(cfg):
                raise ValueError(
                    f"index at {path} was built with a different similarity "
                    f"model ({meta['model']} != {model_hash(cfg)}); rebuild "
                    f"with build_index or pass the original config"
                )
        else:
            os.makedirs(path, exist_ok=True)
            # write-to-temp + rename: a crash mid-dump must not leave a
            # truncated _meta.json that wedges every future open (the
            # batch dirs self-heal via _SUCCESS markers; the meta file
            # gets the filesystem's atomic-replace instead)
            self._write_json_atomic(
                meta_path,
                {"model": model_hash(cfg), "shingle_k": cfg.shingle_k,
                 "num_perm": cfg.num_perm, "bands": cfg.bands,
                 "band_bins": cfg.resolved_band_bins,
                 "jaccard_threshold": cfg.jaccard_threshold,
                 "seed": cfg.seed},
            )

    @staticmethod
    def _write_json_atomic(dest: str, obj) -> None:
        tmp = dest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, dest)

    # -- reads -------------------------------------------------------------
    def _ledger(self) -> list[str]:
        """Completed batch ids in APPEND order. The order comes from
        _ledger.json (atomically updated by append()); any completed
        batch the ledger missed — a crash between the second _SUCCESS
        and the ledger write, or an index written by older code — is
        appended in sorted order, so readers never lose data to a
        bookkeeping gap."""
        lpath = os.path.join(self.path, "_ledger.json")
        order: list[str] = []
        if os.path.exists(lpath):
            try:
                with open(lpath) as f:
                    order = json.load(f)["order"]
            except (json.JSONDecodeError, KeyError):
                order = []  # truncated ledger: rebuilt from dirs below
        order = [b for b in order if self.has_batch(b)]
        root = os.path.join(self.path, "fingerprints")
        if os.path.isdir(root):
            seen = set(order)
            # unledgered batches sort by their append instant, not by
            # name — lexicographic order can invert the true append
            # order ("b1" < "base") and a wrong order corrupts the
            # as-of exclusion below. The instant is read from the
            # _appended marker append() persists INSIDE the batch
            # (filesystem mtimes are not durable: an rsync without -t
            # or a backup restore rewrites them and could silently
            # invert the reconstructed order — ADVICE r5); batches from
            # older code without the marker fall back to _SUCCESS mtime.
            def _append_instant(d: str) -> float:
                try:
                    with open(os.path.join(root, d, "_appended")) as f:
                        return float(f.read().strip())
                except (OSError, ValueError):
                    return os.path.getmtime(os.path.join(root, d, "_SUCCESS"))

            order += sorted(
                (d for d in os.listdir(root)
                 if d not in seen and self.has_batch(d)),
                key=lambda d: (_append_instant(d), d),
            )
        return order

    def _ensure_ledgered(self, batch_id: str) -> None:
        order = self._ledger()
        if batch_id not in order:
            order.append(batch_id)
        self._write_json_atomic(
            os.path.join(self.path, "_ledger.json"), {"order": order}
        )

    def _batches(self, sub: str, exclude: str | None = None) -> list[str]:
        # only COMPLETE batches (both fingerprints and index landed)
        # are visible to readers — a crash between append()'s two
        # writes must leave the half-appended batch invisible: its
        # survivor state without its fingerprints (or the reverse) is
        # an index no run produced. Incomplete batches are overwritten
        # by the retry (has_batch is false for them), so the crash
        # self-heals.
        #
        # `exclude` is AS-OF, not a single-id mask: a rerun of batch b
        # must see the index exactly as b's first run did, and if
        # another increment landed between b's crash and its retry,
        # masking b alone would leak that later state into the retry —
        # the output would silently de-sync from the index's persisted
        # batch-b survivors. The ledger's append order makes "before
        # b" well-defined; an unledgered exclude (fresh batch) sees
        # everything, which IS its first-run view.
        order = self._ledger()
        if exclude is not None and exclude in order:
            order = order[: order.index(exclude)]
        root = os.path.join(self.path, sub)
        return [
            os.path.join(root, d)
            for d in order
            if d != exclude and os.path.exists(os.path.join(root, d, "_SUCCESS"))
        ]

    def _read(self, sub: str, schema: T.StructType, exclude: str | None) -> DataFrame:
        dirs = self._batches(sub, exclude)
        if not dirs:
            # an empty as-of view is an empty table, not an error: the
            # seed build is an increment against it
            return driver_table(self.spark, schema, [])
        return self.spark.read.schema(schema).parquet(*dirs)

    def fingerprints(self, exclude: str | None = None) -> DataFrame:
        """(sha) of every file ever presented to this index. `exclude`
        names a batch whose own state must not be read — a RERUN of
        increment b must see the index exactly as b's first run did, or
        b's previously-appended fingerprints would match every one of
        its own files and the resume would return an empty batch."""
        return self._read("fingerprints", _FINGERPRINT_SCHEMA, exclude)

    def signed_survivors(self, exclude: str | None = None) -> DataFrame:
        """Per-survivor MinHash state (_INDEX_SCHEMA); `exclude` as in
        fingerprints()."""
        return self._read("index", _INDEX_SCHEMA, exclude)

    @property
    def is_empty(self) -> bool:
        """True until the first completed (_SUCCESS-marked) batch lands."""
        return not self._batches("fingerprints")

    def has_batch(self, batch_id: str) -> bool:
        return os.path.exists(
            os.path.join(self.path, "index", batch_id, "_SUCCESS")
        ) and os.path.exists(
            os.path.join(self.path, "fingerprints", batch_id, "_SUCCESS")
        )

    # -- writes ------------------------------------------------------------
    def append(
        self, batch_id: str, fingerprints: DataFrame, signed_survivors: DataFrame
    ) -> bool:
        """Idempotent append of one increment's state: a batch dir that
        already has its _SUCCESS marker is never rewritten (a re-run of
        the same increment is a no-op, mirroring StageCheckpointer).
        Returns True when something was written. A completed batch id
        given DIFFERENT content (sha_fingerprint of the stored and the
        given fingerprints, one scan of one batch's sha table each)
        raises instead: a no-op would keep the old state in the index
        while the caller holds the new batch's result."""
        if self.has_batch(batch_id):
            stored = self.spark.read.schema(_FINGERPRINT_SCHEMA).parquet(
                os.path.join(self.path, "fingerprints", batch_id)
            )
            if sha_fingerprint(stored) != sha_fingerprint(fingerprints):
                raise ValueError(
                    f"index at {self.path} already holds a batch {batch_id!r} "
                    "built from DIFFERENT content; pass a distinct batch id "
                    "(or a fresh index) instead of silently keeping the old "
                    "state"
                )
            # ledger repair: a crash between the second _SUCCESS and
            # the ledger write leaves a completed-but-unledgered batch;
            # the retry lands here and records it
            self._ensure_ledgered(batch_id)
            return False
        # index first, fingerprints last: has_batch (and therefore
        # batch visibility in _batches) flips true only when the
        # SECOND write's _SUCCESS lands, so readers never observe a
        # half-appended batch
        for sub, df, schema in (
            ("index", signed_survivors, _INDEX_SCHEMA),
            ("fingerprints", fingerprints, _FINGERPRINT_SCHEMA),
        ):
            df.select(
                *[F.col(f.name).cast(f.dataType) for f in schema]
            ).write.mode("overwrite").parquet(os.path.join(self.path, sub, batch_id))
        # durable append instant INSIDE the batch: the ledger-rebuild
        # fallback orders unledgered batches by this, not by fs mtime
        # (which copy/restore tooling rewrites — ADVICE r5)
        with open(
            os.path.join(self.path, "fingerprints", batch_id, "_appended"), "w"
        ) as f:
            f.write(repr(time.time()))
        self._ensure_ledgered(batch_id)
        return True


def build_index(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig,
    path: str,
    quality: bool = True,
    batch_id: str = "base",
) -> tuple[DedupResult, DedupIndex]:
    """Seed the index at `path` with `files` as batch `batch_id`: an
    increment against an empty index, so its tier-3 result is the batch
    run's result over the whole input (dedup_files). Also the
    periodic-recluster path: rebuild into a new `path` from the union
    of store + recent increments to restore global single-linkage."""
    index = DedupIndex(spark, path, cfg)
    inc = dedup_files_incremental(
        spark, files, cfg, index, quality=quality, batch_id=batch_id
    )
    return inc.batch, index


def dedup_files(
    spark: SparkSession, files: DataFrame, cfg: DedupConfig, quality: bool = True
) -> DedupResult:
    """The batch run (the CLI without --index): an increment against no
    index that appends nothing, so its tier-3 result is the near-dup
    clustering of the whole input. Output rows keep the per-row sha256
    invariant: each carries the `sha` of its untouched `content`."""
    return dedup_files_incremental(
        spark, files, cfg, None, quality=quality, update_index=False
    ).batch


def cross_candidate_pairs(
    old_signed: DataFrame,
    new_signed: DataFrame,
    cfg: DedupConfig,
    broadcast_new: bool = True,
) -> DataFrame:
    """LSH candidates BETWEEN two signed tables: explode both band-hash
    arrays, equi-join on band_hash, est-prefilter on the carried
    sketches, distinct. Returns (id_a=old nid, id_b=new nid).

    broadcast_new=True is the increment shape: the retained side
    streams through a broadcast hash join — no exchange of old data,
    no salting needed (a hot boilerplate band costs map-side est-filter
    work, not reducer skew). False degrades to a shuffled equi-join
    (both sides exchange on band_hash; AQE skew-join splits hot bands)
    for increments past broadcast size."""
    ob = old_signed.select(
        F.col("nid").alias("id_a"),
        F.explode("band_hash").alias("band_hash"),
        F.col("sig_packed").alias("sig_packed_a"),
    )
    nb = new_signed.select(
        F.col("nid").alias("id_b"),
        F.explode("band_hash").alias("band_hash"),
        F.col("sig_packed").alias("sig_packed_b"),
    )
    raw = ob.join(F.broadcast(nb) if broadcast_new else nb, "band_hash")
    return est_filter_carried(raw, cfg).distinct()


def require_files_columns(files: DataFrame) -> None:
    """Raise when `files` lacks a column of the files-table contract."""
    missing = set(FILES_COLUMNS) - set(files.columns)
    if missing:
        raise ValueError(f"files table missing columns: {sorted(missing)}")


def distinct_contents(files: DataFrame) -> DataFrame:
    """files (with `sha`) -> one row per distinct content:
    (sha, cnt, content, rep).

    P9 pre-aggregation: exact duplicates collapse BEFORE signatures,
    mirroring the trie's count-in-node (_triemodule.c:233-239). The
    first-wins representative (min (repo, path, commit), O13) is
    computed in the SAME aggregation so the survivor tail never
    rescans the full input. The rep struct carries EVERY non-content
    column (orderable types required; repo/path/commit lead, so the
    first-wins order is unchanged): the final `deduped` output is
    reconstructed from it directly, which both removes a full join of
    the corpus and guarantees one output row per surviving sha — the
    old join-back on (sha, repo, path, commit) matched every input copy
    of the representative row, so a fully-duplicated input row (two
    ingestion batches unioned) leaked duplicate output rows for one
    distinct content."""
    rep_rest = [
        c for c in files.columns
        if c not in ("repo", "path", "commit", "content", "sha")
    ]
    return files.groupBy("sha").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.first("content").alias("content"),  # identical per sha
        F.min(F.struct("repo", "path", "commit", *rep_rest)).alias("rep"),
    )


def sign_contents(
    distinct: DataFrame, cfg: DedupConfig, approx_rows: float | None
) -> DataFrame:
    """(sha, cnt, content) -> (sha, cnt, content_norm, band_hash,
    sig_packed, nid): one Arrow MinHash pass over the normalized
    content."""
    return add_signature_columns(
        distinct.withColumn("content_norm", normalize_content("content")).select(
            "sha", "cnt", "content_norm"
        ),
        cfg,
        approx_rows=approx_rows,
    ).withColumn("nid", F.unhex(F.substring("sha", 1, 32)))


def _near_probe(
    ck: StageCheckpointer,
    cfg: DedupConfig,
    old_index: DataFrame,
    signed_new: DataFrame,
    n_new: float,
    broadcast_new: bool,
) -> tuple[DataFrame, DataFrame]:
    """Tier 2 of dedup_files_incremental against a non-empty as-of
    view: (remainder, near_shas). `remainder` is tier 3's input, the
    signed batch minus its near-dups of `old_index`, materialized with
    distinct.contents and input.files observed; `near_shas` holds the
    shas it dropped."""
    # materialized: the old-hit fetch and verify below both read it
    cand = ck.metrics.observe(
        cross_candidate_pairs(old_index, signed_new, cfg, broadcast_new),
        {"incremental.cross_pairs": F.count(F.lit(1))},
    ).localCheckpoint(eager=True)
    # The id tables derived from cand (old hits, verified new ids) are
    # NOT sized by n_batch: a small batch of boilerplate-heavy docs can
    # hit millions of retained survivors. They are bounded by cand's
    # observed row count instead, so the broadcast is gated on that
    # count. Semi/anti joins ignore duplicate keys, so the ids broadcast
    # without a distinct (no shuffle) and the index streams past them.
    n_cross = ck.metrics.as_dict()["incremental.cross_pairs"]
    bcast_cross = (
        F.broadcast
        if n_cross <= cfg.incremental_broadcast_max_rows
        else (lambda df: df)
    )
    old_hit = old_index.join(
        bcast_cross(cand.select(F.col("id_a").alias("nid"))), "nid", "left_semi"
    )
    verify_cols = ["nid", "content_norm"]
    # every cross pair is (old, new): id_a's contents come from old_hit,
    # id_b's from the signed batch
    verified = verify_pairs_jaccard(
        cand, old_hit.select(*verify_cols), cfg, id_col="nid",
        approx_rows=n_new,
        contents_b=signed_new.select(*verify_cols),
    )
    # tier 3's input, materialized once: the signed batch minus the
    # near-dup nids. An anti join keeps
    # the signed batch's size estimate, so the tail plans its
    # joins as it would on the signatures stage. Its counts ride this
    # job; dropped_near is the difference to the fresh counts.
    remainder = ck.metrics.observe(
        signed_new.join(
            bcast_cross(verified.select(F.col("id_b").alias("nid"))),
            "nid",
            "left_anti",
        ),
        {
            "distinct.contents": F.count(F.lit(1)),
            "input.files": F.coalesce(F.sum("cnt"), F.lit(0)),
        },
    ).localCheckpoint(eager=True)
    near_shas = signed_new.select("sha").join(
        remainder.select("sha"), "sha", "left_anti"
    )
    return remainder, near_shas


def dedup_files_incremental(
    spark: SparkSession,
    new_files: DataFrame,
    cfg: DedupConfig,
    index: DedupIndex | None,
    quality: bool = True,
    update_index: bool = True,
    batch_id: str | None = None,
) -> IncrementalResult:
    """Dedup `new_files` against `index` (tiers 1-3, module docstring),
    appending the batch's retained state when update_index=True. With
    no index (the batch run) nothing is appended, update_index=True
    raises, and no batch id is derived.

    One aggregation and one signing pass per increment: the batch is
    aggregated by sha once (distinct_contents), only its fresh rows are
    signed, once, and tier 3 clusters the signed contents that tiers
    1-2 let through with the clustering tail (pipeline.cluster_signed).
    The near probe's band join runs once: the candidate pairs are
    materialized, so the index's band columns are scanned once and its
    contents once. The tier-1 hits are not pinned: they broadcast
    inside the signer's plan. The survivor semi-joins (the output rows
    and the append's survivor state) broadcast the survivor keys when
    the observed survivor count fits cfg.incremental_broadcast_max_rows.
    An empty as-of view (no index, the seed build or its rerun) can
    drop nothing, so tiers 1-2 are skipped: the signer takes the whole
    batch table and tier 3 the signatures stage.

    The tier counts in `metrics` (incremental.dropped_exact,
    dropped_near, kept) are file rows, observed on tables that are
    materialized anyway: the batch table, the signed fresh contents,
    tier 3's input (batch.input.files, batch.distinct.contents) and the
    tier-3 survivors; dropped_near is fresh files minus tier 3's input.
    incremental.cross_pairs rides the candidate table. A resumed front
    stage reports the counts a fresh run observes
    (StageCheckpointer.counted_stage). An empty view reports the same
    keys: its tier-3 input is the signed batch, and its cross_pairs 0."""
    if index is None and update_index:
        raise ValueError("update_index=True needs an index to append to")
    require_files_columns(new_files)
    if quality:
        new_files = content_quality_filter(new_files)
    new_files = with_sha256(new_files)
    if index is None:
        as_of, ck = [], StageCheckpointer(spark, cfg)
    else:
        # resolved up front: index reads below EXCLUDE this batch's own
        # previously-appended state, so a resume of a crashed-after-append
        # increment reproduces its first run bit-for-bit
        bid = batch_id or derived_batch_id(cfg, new_files)
        # the checkpoint key covers the as-of view (the visible batch
        # dirs): the same input under another batch id, in another index,
        # or after a batch landed between a crash before this append and
        # its retry, reads other index state, so it must never resume
        # these stages
        as_of = [os.path.abspath(d) for d in index._batches("fingerprints", bid)]
        ck = StageCheckpointer(spark, replace(
            cfg,
            input_id=f"{cfg.input_id}|index={os.path.abspath(index.path)}"
                     f"|batch={bid}|as_of={as_of}",
        ))

    # -- tier 1: exact, streaming the old fingerprints ONCE ----------------
    # The batch table (sha, cnt, content, rep) is materialized ONCE,
    # with its distinct count (the broadcast gate) and row count
    # observed: it feeds the tier-1 probe, the signer, tier 3's output
    # rows and the append's fingerprints, so none of them rescans or
    # re-aggregates the input.
    #
    # hits = old shas that reappear in this batch: bounded by the
    # batch's distinct count, so it broadcasts. It is NOT pinned: its
    # one materialized consumer is the signer's anti join, where it runs
    # as a nested broadcast (one fingerprint scan inside the signing
    # job). dropped_exact stays lazy, so each action on it rescans the
    # fingerprints.
    #
    # EVERY new-side broadcast here is gated on the same knob as the
    # band join: an increment past incremental_broadcast_max_rows must
    # not force multi-GB sha tables onto every executor (the hint
    # overrides Spark's own size guard), so oversized increments let
    # AQE pick the join strategy instead.
    batch_table, counts = ck.counted_stage(
        "distinct_contents",
        lambda: distinct_contents(new_files),
        {
            "incremental.input_distinct": F.count(F.lit(1)),
            "incremental.input_files": F.coalesce(F.sum("cnt"), F.lit(0)),
        },
    )
    n_batch = counts["incremental.input_distinct"]
    broadcast_new = n_batch <= cfg.incremental_broadcast_max_rows
    bcast = F.broadcast if broadcast_new else (lambda df: df)
    # an empty as-of view (no index, the seed build or its rerun) can
    # drop nothing: the tier-1 and tier-2 probes are skipped
    fresh = batch_table
    if as_of:
        hits = index.fingerprints(exclude=bid).join(
            bcast(batch_table.select("sha")), "sha", "left_semi"
        )
        fresh = batch_table.join(bcast(hits), "sha", "left_anti")

    # -- tier 2: near, one band scan and one content scan of the index ------
    signed_new, counts = ck.counted_stage(
        "signatures",
        lambda: sign_contents(fresh, cfg, n_batch),
        {
            "incremental.new_distinct": F.count(F.lit(1)),
            "incremental.fresh_files": F.coalesce(F.sum("cnt"), F.lit(0)),
        },
    )
    n_new = counts["incremental.new_distinct"]
    if not as_of:
        # tier 3's input is the signed batch, and the counts the near
        # probe would observe are known
        remainder, n_remainder = signed_new, n_new
        ck.metrics.add("incremental", "cross_pairs", 0)
        ck.metrics.add("distinct", "contents", n_new)
        ck.metrics.add("input", "files", counts["incremental.fresh_files"])
        dropped_exact = dropped_near = new_files.where(F.lit(False))
    else:
        dropped_exact = new_files.join(bcast(hits), "sha", "left_semi")
        remainder, near_shas = _near_probe(
            ck, cfg, index.signed_survivors(exclude=bid), signed_new, n_new,
            broadcast_new,
        )
        n_remainder = ck.metrics.as_dict()["distinct.contents"]
        dropped_near = new_files.join(bcast(near_shas), "sha", "left_semi")

    # -- tier 3: within-batch clustering of the remainder --------------------
    batch = cluster_signed(
        ck, cfg, batch_table, remainder, n_remainder,
        [c for c in new_files.columns if c != "sha"],
    )

    # the tier counts stay incremental.*; every other metric of the one
    # checkpointer (the stages' and the tail's) reads as batch.*
    m = batch.metrics
    metrics = {
        **{k: v for k, v in m.items() if k.startswith("incremental.")},
        "incremental.dropped_exact": (
            m["incremental.input_files"] - m["incremental.fresh_files"]
        ),
        "incremental.dropped_near": m["incremental.fresh_files"] - m["input.files"],
        "incremental.kept": m["output.files"],
        "incremental.broadcast_new": float(broadcast_new),
        **{f"batch.{k}": v for k, v in m.items() if not k.startswith("incremental.")},
    }

    if update_index:
        # batch survivors were already signed in signed_new — reuse it
        # (zero extra Arrow passes; cnt from the batch aggregation)
        surv_signed = remainder.join(
            survivor_shas(cfg, batch.survivors, m["output.files"]),
            "sha",
            "left_semi",
        )
        index.append(bid, fingerprints=batch_table, signed_survivors=surv_signed)

    return IncrementalResult(batch.deduped, dropped_exact, dropped_near, batch, metrics)
