"""Pipeline configuration.

Mirrors the reference CLI surface (`argument_parser`,
/root/reference/src/fastqdedup/__init__.py:305-361): max distance `-d`,
edit-vs-hamming `--edit` (both read by the parity path only),
dissection method `-c`, quality filter `-e` — plus the graft-only
MinHash/LSH knobs mandated by BASELINE.json north_rule (shingle size
k, signature length, bands x rows, skew caps, checkpoint dir). The est
prefilter's matching-bin floor is not a knob: operators.verify.est_floor
derives it from num_perm and jaccard_threshold.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field, asdict


# Arrow/python stage task count (OPH signer mapInPandas, exact-
# Jaccard verify) is AUTO: half of defaultParallelism for long
# stages, full width for short ones (see python_stage_tasks below).
# Each concurrent Arrow task costs a python worker PLUS a JVM
# serialization thread, so running cores-many tasks oversubscribes
# the box ~1.4x (measured: signer per-doc cost 0.17 -> 0.9 ms at
# full width). Interleaved A/B of the fused pipeline at 192k files
# (BASELINE.md round 5, "Python-stage task cap"): cores//2 won
# best-of at width 32 in both load regimes (32.4 vs 44.1 s
# quiet-ish, 35.1 vs 43.7 stormy; cap 24 worse than both) and at
# width 8 (56.0 vs 66.7; weaker evidence).
#
# AUTO cap threshold: stages with fewer rows than this per
# FULL-WIDTH task stay at full width (a short Arrow stage never
# builds the sustained python+JVM oversubscription the cap
# relieves; capping it just idles half the cores). Calibrated
# between the measured 24k-files loss (~300 rows/task, uncapped
# wins 15%) and 192k win (~2.3k rows/task, capped wins 25%). It
# also gates the fan-out itself: an Arrow stage whose KNOWN row
# count is below one task's worth (this many rows) skips the
# repartition and runs in the partitions its input already has
# (python_stage_fans_out).
PYTHON_STAGE_MIN_ROWS_PER_TASK = 1000


@dataclass(frozen=True)
class DedupConfig:
    # -- similarity model --------------------------------------------------
    shingle_k: int = 7              # char k-gram size over normalized content
    num_perm: int = 256             # MinHash signature length (est-sketch bins)
    bands: int = 32                 # LSH bands (rows = band_bins // bands)
    # How many LEADING signature bins fold into band hashes (0 = all
    # num_perm). Decouples est-sketch precision from banding recall:
    # the default num_perm=256 with band_bins=128 keeps the classic
    # 128-bin banding structure (32 bands x 4 rows -> identical
    # candidate-recall math and band-table size) while the est
    # prefilter reads a 256-bin sketch whose sigma is 1/sqrt(2)
    # smaller, so its derived floor (est_floor: a fixed number of
    # binomial sigmas under the threshold's expected bin matches) sits
    # closer to the threshold at the SAME false-drop probability (in
    # jaccard terms, 0.8 - 0.141 instead of 0.8 - 0.2 at 128 bins).
    # Measured at 192k files (pair-count probe,
    # BASELINE.md round 5, "256-bin sketch over 128-bin banding"): pairs
    # surviving the JVM prefilter into the python exact-Jaccard stage
    # fell 1,077,966 -> 144,849 (7.4x) with identical final output —
    # the band flood is mostly sub-threshold boilerplate pairs whose
    # looser 128-bin estimate crossed the keep line. Costs: 2x OPH
    # binning (minor vs shingling) and an 8-long carried sketch vs 4.
    band_bins: int = 128
    jaccard_threshold: float = 0.8  # verify-stage exact Jaccard cutoff
    # -- reference-parity mode (fixed-length keys, Hamming/edit radius) ----
    max_distance: int = 1           # ref default: __init__.py:37
    use_edit_distance: bool = False
    # -- dissection ---------------------------------------------------------
    dissection: str = "directional"  # directional|adjacency|highest_count|canonical
    # directional/adjacency run O(size^2) per-cluster Python kernels on
    # one worker; clusters above EITHER bound fall back to `canonical`
    # (a documented semantic deviation, counted in metrics as
    # dissect.fallback_clusters and warned about by the CLI, never
    # silent). The byte bound also protects the collect_list pack from
    # Spark's 2 GB single-row limits in code mode.
    max_cluster_size: int = 5_000
    max_cluster_bytes: int = 256 << 20
    # -- skew / scale -------------------------------------------------------
    band_freq_cap: int = 2000       # drop bands with more members (f^2 pair blowup)
    # size-adaptive band salting: each band splits its self-join into
    # ceil(size^2 / pairs_per_task) bucket pairs so no task produces
    # more than ~this many candidate pairs (uniform task heights across
    # any band-size distribution)
    pairs_per_task: int = 2_000_000
    # incremental mode (incremental.py): increments with at most this
    # many DISTINCT new contents stream the retained index through
    # broadcast hash joins (zero exchanges of old data). Sized by the
    # broadcast payload: bands explode to cfg.bands rows/doc of
    # (8B hash + 16B id + sketch longs) ~ 2.5 KB/doc at the defaults,
    # so 1M distinct contents ~ 2.5 GB driver+executor resident — the
    # practical ceiling for a 8-16 GB executor. Bigger increments
    # degrade to the shuffled band equi-join automatically.
    incremental_broadcast_max_rows: int = 1_000_000
    # physical form of the band self-join: "shuffle_hash" pins the
    # co-located shuffled hash join (scale-invariant — the corpus-sized
    # band table can never broadcast at 100 TB); "" lets AQE pick
    # (broadcast at small scale). Measured per-scheme in BASELINE.md
    # round 5. Sizing caveat: a shuffled hash join's build side must
    # fit in per-task execution memory — it throws SparkOutOfMemoryError
    # rather than spilling (sort-merge would spill). Size the heap to
    # ~build_bytes/partitions per task slot (local mode: 24g holds
    # 768k files at 32 partitions; 8g does not) or set "" / "merge"
    # when memory is the binding constraint.
    band_join_hint: str = "shuffle_hash"
    # -- execution ----------------------------------------------------------
    checkpoint_dir: str = ""        # empty = localCheckpoint only, no resume
    input_id: str = ""              # identifies the INPUT dataset (path + cheap
                                    # fingerprint); folded into config_hash so a
                                    # rerun on different data never resumes from
                                    # another dataset's checkpoints
    seed: int = 42

    @property
    def resolved_band_bins(self) -> int:
        # clamped, not asserted: the default band_bins=128 must degrade
        # gracefully for smaller explicit signatures (num_perm=64 bands
        # over all 64 bins, exactly the pre-band_bins behavior)
        bb = self.band_bins or self.num_perm
        return min(bb, self.num_perm)

    @property
    def rows_per_band(self) -> int:
        bb = self.resolved_band_bins
        assert bb % self.bands == 0, "band_bins must divide into bands"
        return bb // self.bands

    def python_stage_tasks(self, sc, approx_rows: float | None = None) -> int:
        """Resolved Arrow/python-stage task count: half the cluster's
        task slots (min 2) — each Arrow task is a python worker plus a
        JVM serialization thread, so slot-many tasks oversubscribe
        ~1.4x (see the PYTHON_STAGE_MIN_ROWS_PER_TASK comment above for
        the measured A/B).

        The cap is SIZE-AWARE when the caller knows the stage's row
        count: oversubscription only costs when python workers hold
        their cores long enough to fight the JVM threads, so a SHORT
        stage (under PYTHON_STAGE_MIN_ROWS_PER_TASK rows per full-width
        task) keeps full width — halving its parallelism just idles
        cores. Interleaved A/B (fused pipeline, 32 pinned cores): cap
        won at 192k files (~2.3k distinct rows/task), LOST ~15% at 24k
        (~300 rows/task, best 9.7 s uncapped vs 11.5 capped). An
        unknown count takes the cap (the safe default for medium and
        large corpora)."""
        width = sc.defaultParallelism
        if (
            approx_rows is not None
            and approx_rows / max(width, 1) < PYTHON_STAGE_MIN_ROWS_PER_TASK
        ):
            return width
        return max(2, width // 2)

    def python_stage_fans_out(self, approx_rows: float | None = None) -> bool:
        """Should an Arrow stage repartition to python_stage_tasks
        before it runs? Not when its known row count is below one
        task's worth (PYTHON_STAGE_MIN_ROWS_PER_TASK): the exchange and
        the python workers it feeds then cost more than the rows. An
        unknown count keeps the fan-out."""
        return (
            approx_rows is None
            or approx_rows >= PYTHON_STAGE_MIN_ROWS_PER_TASK
        )

    # Bump when the PERSISTED SHAPE of any checkpointed stage changes
    # (e.g. round 5 widened distinct_contents' rep struct; version 3
    # dropped the signatures stage's distinct-shingle count; version 4
    # folded each stage's metrics into its lineage record; version 5
    # added the stage's schema to that record): a stale
    # checkpoint from older code must key differently so a resume
    # rebuilds it instead of failing on missing/renamed columns at
    # load time (ADVICE r5: config_hash did not version stage schemas,
    # so cross-upgrade resumes broke instead of rebuilding).
    STAGE_SCHEMA_VERSION = 5

    def config_hash(self) -> str:
        """Stable hash identifying checkpoint compatibility (north_rule:
        'resumable from checkpoint' — stages keyed by (stage, config_hash)).
        Folds STAGE_SCHEMA_VERSION in so checkpoints written by code
        with a different stage schema are rebuilt, not trusted."""
        payload = json.dumps(
            {**asdict(self), "_stage_schema_version": self.STAGE_SCHEMA_VERSION},
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]
