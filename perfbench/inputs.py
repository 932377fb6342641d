"""Seeded benchmark inputs and their planted truth.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs and the same expectations. The program under test
only ever sees the files written here; the truth (family ids, member
kinds, molecule ids) stays on the benchmark side.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import re
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# columns the CLI reads; the generator's id/family_id/kind are truth
FILES_COLUMNS = ["repo", "path", "commit", "lang", "content"]

# a near-duplicate is planted only when its exact 7-gram Jaccard to the
# family base is at least this high, so MinHash/LSH finds it with
# probability ~1 - 1e-7 at the CLI's --threshold 0.6 and the survivor
# count is an exact expectation rather than a probabilistic one
NEAR_MIN_JACCARD = 0.75
SHINGLE_K = 7


def _norm(text: str) -> str:
    # the pipeline's normalize_content: lowercase, collapse whitespace, trim
    return re.sub(r"\s+", " ", text.lower()).strip()


def jaccard(a: str, b: str, k: int = SHINGLE_K) -> float:
    sa = {a[i : i + k] for i in range(max(1, len(a) - k + 1))}
    sb = {b[i : i + k] for i in range(max(1, len(b) - k + 1))}
    return len(sa & sb) / len(sa | sb)


@dataclass
class Group:
    """Input rows that are one planted unit: `drop` of its `members`
    should be removed by a correct dedup (size - 1 for a duplicate
    family, 1 for a re-ingest of something already indexed, 0 for a
    unique file)."""

    members: list[str]
    drop: int


@dataclass
class Increment:
    path: str
    rows: int
    in_bytes: int
    exact: int          # re-ingested copies of indexed files
    near: int           # near-duplicates of indexed files
    kept: int           # expected survivors (tier-3)
    groups: list[Group] = field(default_factory=list)


def _write_files(rows: list[dict], path: str) -> int:
    table = pa.Table.from_pylist(
        [{c: r[c] for c in FILES_COLUMNS} for r in rows],
        schema=pa.schema([(c, pa.string()) for c in FILES_COLUMNS]),
    )
    pq.write_table(table, path)
    return len(rows)


def code_families(spark, n_families: int, seed: int) -> dict[int, dict]:
    """corpus.generate_files as generated, regrouped by planted family:
    {family_id: {"base": row, "exact": [rows], "near": [rows whose
    Jaccard to the base clears NEAR_MIN_JACCARD], "unrelated": [rows]}}."""
    from fastqdedup_spark.corpus import generate_files

    per_family = 8  # corpus layout: base, 2 exact, 3 near, 2 unrelated
    pdf = generate_files(spark, n_families * per_family, seed=seed).toPandas()
    fams: dict[int, dict] = {}
    for row in pdf.sort_values("id").to_dict("records"):
        fam = fams.setdefault(
            int(row["family_id"]), {"base": None, "exact": [], "near": [], "unrelated": []}
        )
        if row["kind"] == "base":
            fam["base"] = row
        else:
            fam[row["kind"]].append(row)
    for fam in fams.values():
        base = _norm(fam["base"]["content"])
        # an edit sequence can reproduce the base byte for byte; such a
        # member is an exact copy, not a near-duplicate
        fam["near"] = [
            r for r in fam["near"]
            if r["content"] != fam["base"]["content"]
            and jaccard(base, _norm(r["content"])) >= NEAR_MIN_JACCARD
        ]
    return fams


def incremental_inputs(
    spark, workdir: str, seed: int, seed_families: int, increments: int,
    exact: int, near: int, new_families: int,
) -> tuple[str, int, list[Increment]]:
    """The code-incremental slices. The index seed holds the base and
    unrelated members of `seed_families` families (all distinct, all
    expected to survive). Increment i holds `exact` byte-identical
    copies and `near` near-duplicates of seed files (each from its own
    seed family) plus `new_families` unseen families contributing base,
    exact copy, near-duplicate and one unrelated file. Expected:
    dropped_exact == exact, dropped_near == near, kept == 2 * new_families."""
    # 10% headroom for new families whose near members all miss
    # NEAR_MIN_JACCARD (they are skipped, never planted; ~0.2% do)
    total = seed_families + increments * new_families * 11 // 10
    fams = code_families(spark, total, seed)
    seed_ids = list(range(seed_families))
    seed_rows = [r for f in seed_ids for r in [fams[f]["base"], *fams[f]["unrelated"]]]
    seed_path = f"{workdir}/seed.parquet"
    seed_kept = _write_files(seed_rows, seed_path)

    reingest = iter(seed_ids)
    nearable = iter(f for f in seed_ids if fams[f]["near"])
    fresh = iter(f for f in range(seed_families, total) if fams[f]["near"])
    used: set[int] = set()
    out = []
    for i in range(increments):
        rows: list[dict] = []
        groups: list[Group] = []
        for _ in range(exact):
            f = next(x for x in reingest if x not in used)
            used.add(f)
            rows.append(fams[f]["exact"][0])
            groups.append(Group([rows[-1]["path"]], 1))
        for _ in range(near):
            f = next(x for x in nearable if x not in used)
            used.add(f)
            rows.append(fams[f]["near"][0])
            groups.append(Group([rows[-1]["path"]], 1))
        for _ in range(new_families):
            fam = fams[next(fresh)]
            dup = [fam["base"], fam["exact"][0], fam["near"][0]]
            rows += [*dup, fam["unrelated"][0]]
            groups += [Group([r["path"] for r in dup], 2), Group([fam["unrelated"][0]["path"]], 0)]
        # a fixed, seed-derived row order: the program must not rely on
        # the planted members arriving next to each other
        order = np.random.default_rng([seed, 1, i]).permutation(len(rows))
        path = f"{workdir}/inc{i:02d}.parquet"
        _write_files([rows[j] for j in order], path)
        out.append(
            Increment(
                path=path, rows=len(rows), in_bytes=os.path.getsize(path),
                exact=exact, near=near, kept=2 * new_families, groups=groups,
            )
        )
    return seed_path, seed_kept, out


@dataclass
class FastqInput:
    r1: str
    r2: str
    pairs: int
    expected_r1: list[str]   # surviving records, in emission order
    expected_r2: list[str]
    groups: list[Group]


def fastq_input(
    workdir: str, seed: int, molecules: int, pairs: int, umi_len: int,
    read_len: int, error_frac: float,
) -> FastqInput:
    """Paired gz FASTQ: each molecule has a random UMI split over the
    first `umi_len` bases of R1 and R2 and at least two read pairs; a
    random `error_frac` of read pairs carries one planted substitution
    inside the UMI (the reference's use case: sequencing errors in the
    UMI that directional dissection must absorb). Qualities are Q37-Q40,
    so every record passes the default average-error-rate filter.

    The expected output comes from oracle.oracle_survivors on the
    counted dedup keys, emitting the first record of every surviving
    key in input order, which is the parity CLI's documented output."""
    from fastqdedup_spark.oracle import oracle_survivors

    rng = np.random.default_rng([seed, 2])
    bases = np.array(list("ACGT"))
    umi = rng.integers(0, 4, size=(molecules, 2 * umi_len))
    counts = 2 + rng.multinomial(pairs - 2 * molecules, [1 / molecules] * molecules)
    mol_of = rng.permutation(np.repeat(np.arange(molecules), counts))
    keys = umi[mol_of].copy()
    err = np.nonzero(rng.random(pairs) < error_frac)[0]
    pos = rng.integers(0, 2 * umi_len, size=len(err))
    # a substitution always changes the base: +1..3 mod 4
    keys[err, pos] = (keys[err, pos] + rng.integers(1, 4, size=len(err))) % 4
    tails = rng.integers(0, 4, size=(pairs, 2, read_len - umi_len))
    quals = rng.integers(0, 4, size=(pairs, 2, read_len))
    qchars = np.array(list("FGHI"))
    key_str = ["".join(bases[k]) for k in keys]
    r1, r2 = [], []
    for i in range(pairs):
        s1 = key_str[i][:umi_len] + "".join(bases[tails[i, 0]])
        s2 = key_str[i][umi_len:] + "".join(bases[tails[i, 1]])
        r1.append(f"@r{i}/1\n{s1}\n+\n{''.join(qchars[quals[i, 0]])}\n")
        r2.append(f"@r{i}/2\n{s2}\n+\n{''.join(qchars[quals[i, 1]])}\n")
    paths = (f"{workdir}/reads_R1.fastq.gz", f"{workdir}/reads_R2.fastq.gz")
    for path, recs in zip(paths, (r1, r2)):
        with gzip.open(path, "wt", compresslevel=1) as f:
            f.writelines(recs)

    survivors = oracle_survivors(
        [(c, k) for k, c in Counter(key_str).items()], "directional", 1
    )
    first: dict[str, int] = {}
    for i, k in enumerate(key_str):
        first.setdefault(k, i)
    keep = sorted(first[k] for k in survivors)
    groups: dict[int, list[str]] = {}
    for i, m in enumerate(mol_of):
        groups.setdefault(int(m), []).append(f"r{i}")
    return FastqInput(
        r1=paths[0], r2=paths[1], pairs=pairs,
        expected_r1=[r1[i] for i in keep], expected_r2=[r2[i] for i in keep],
        groups=[Group(g, len(g) - 1) for g in groups.values()],
    )


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()
