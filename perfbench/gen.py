"""Seeded BIGSdb-shaped inputs for the benchmark.

Everything here is numpy + pyarrow and imports nothing from
``bigsdb_spark``: the same arrays feed the program (as parquet) and the
independent checkers in ``oracle.py``, so a checker never reads a value
the program computed.

Allele values are coded as ints, 0 meaning the 'N' wildcard; the
parquet form is the string ``str(code)`` or ``'N'``.  The scheme shape
follows ``tools/a5_scale.py``: Zipf-skewed alleles drawn as
``floor(V ** (u * u))`` (top allele share ~sqrt(ln2 / ln V)), about 2 %
'N' in the definitions, isolates cloned from a definition with the 'N'
positions filled and about 1 % of positions re-drawn.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WILDCARD = "N"
BASES = np.array(list("ACGT"))


def skewed_alleles(rng: np.random.Generator, shape, vocab: int) -> np.ndarray:
    u = rng.random(shape)
    return np.clip(np.floor(float(vocab) ** (u * u)).astype(np.int64), 1, vocab)


def allele_str(code: int) -> str:
    return WILDCARD if code == 0 else str(int(code))


def vec_strings(row) -> list[str]:
    return [allele_str(c) for c in row]


def md5_vec(strings: list[str]) -> str:
    return hashlib.md5(",".join(strings).encode()).hexdigest()


@dataclass
class Scheme:
    """Profile definitions: ``defs[i]`` is the allele vector of ST
    ``st[i]`` in warehouse (sorted locus name) order."""

    loci: list[str]
    st: list[str]
    defs: np.ndarray  # (P, L) int64, 0 = 'N'
    vocab: int

    @property
    def n_loci(self) -> int:
        return len(self.loci)


def make_scheme(rng, loci: list[str], n_defs: int, vocab: int,
                wild_rate: float = 0.02) -> Scheme:
    loci = sorted(loci)
    a = skewed_alleles(rng, (n_defs, len(loci)), vocab)
    a[rng.random(a.shape) < wild_rate] = 0
    # one ST per distinct vector, first occurrence kept, so an md5 or
    # designation lookup has exactly one answer
    _, first = np.unique(a, axis=0, return_index=True)
    a = a[np.sort(first)]
    return Scheme(loci, [str(i + 1) for i in range(len(a))], a, vocab)


@dataclass
class Isolates:
    """Isolate designations for one scheme: one allele per locus
    (``alleles``), plus one extra paralogous designation at
    ``extra_pos`` for each isolate in ``multi_ids``."""

    ids: np.ndarray      # (N,) int64
    alleles: np.ndarray  # (N, L) int64, never 0
    multi_ids: np.ndarray
    extra_pos: np.ndarray
    extra_allele: np.ndarray


def make_isolates(rng, scheme: Scheme, ids: np.ndarray, mutate: float = 0.01,
                  multi_rate: float = 0.01) -> Isolates:
    n, v = len(ids), scheme.vocab
    a = scheme.defs[rng.integers(0, len(scheme.defs), n)].copy()
    fill = a == 0
    a[fill] = skewed_alleles(rng, int(fill.sum()), v)
    mut = rng.random(a.shape) < mutate
    a[mut] = skewed_alleles(rng, int(mut.sum()), v)
    multi_rows = np.flatnonzero(rng.random(n) < multi_rate)
    pos = rng.integers(0, scheme.n_loci, len(multi_rows))
    # a second allele that differs from the designated one
    extra = a[multi_rows, pos] % v + 1
    return Isolates(ids.astype(np.int64), a, ids[multi_rows].astype(np.int64),
                    pos, extra)


def designation_table(scheme: Scheme, iso: Isolates) -> pa.Table:
    """Long form (isolate_id, locus, pos, allele_id); ``pos`` is the
    0-based warehouse index of the locus."""
    n, L = iso.alleles.shape
    ids = np.concatenate([np.repeat(iso.ids, L), iso.multi_ids])
    pos = np.concatenate([np.tile(np.arange(L), n), iso.extra_pos])
    codes = np.concatenate([iso.alleles.reshape(-1), iso.extra_allele])
    loci = np.array(scheme.loci, dtype=object)
    return pa.table({
        "isolate_id": pa.array(ids, pa.int64()),
        "locus": pa.array(loci[pos], pa.string()),
        "pos": pa.array(pos, pa.int32()),
        "allele_id": pa.array(codes.astype(str), pa.string()),
    })


def scheme_table(scheme: Scheme) -> pa.Table:
    """(st, profile, profile_md5) — the shape ``build_profiles`` gives
    a definitions table."""
    vecs = [vec_strings(r) for r in scheme.defs]
    return pa.table({
        "st": pa.array(scheme.st, pa.string()),
        "profile": pa.array(vecs, pa.list_(pa.string())),
        "profile_md5": pa.array([md5_vec(v) for v in vecs], pa.string()),
    })


def write(table: pa.Table, root: str, name: str) -> str:
    """Write ``<root>/<name>.parquet`` as a one-file dataset directory,
    the layout ``sources.tables.load_table`` reads."""
    path = os.path.join(root, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


# ------------------------------------------------------------- typing

MLST_LOCI = ["abcZ", "adk", "aroE", "fumC", "gdh", "pdhC", "pgm"]


@dataclass
class TypingInputs:
    scheme: Scheme
    isolates: Isolates
    wild_ids: np.ndarray   # isolates typed by the wildcard path


def make_typing(seed: int, n_isolates: int, n_defs: int, n_wild: int) -> TypingInputs:
    rng = np.random.default_rng([seed, 1])
    scheme = make_scheme(rng, MLST_LOCI, n_defs, 60)
    iso = make_isolates(rng, scheme, np.arange(n_isolates))
    wild_ids = np.sort(rng.choice(n_isolates, n_wild, replace=False))
    return TypingInputs(scheme, iso, wild_ids)


# ---------------------------------------------------- clustering / LIN

@dataclass
class ClonalInputs:
    keys: list[str]        # zero-padded, so string order == row order
    profiles: np.ndarray   # (n, L) int64, 0 = 'N'
    loci: list[str]


def make_clonal(seed: int, n: int, n_loci: int, n_complexes: int,
                vocab: int = 200, missing: float = 0.005) -> ClonalInputs:
    """Clonal complexes: each member copies a random earlier member of
    its complex (or the founder) and re-draws 0-3 positions, so the
    within-complex distances span every threshold and the complexes
    sit ~n_loci apart."""
    rng = np.random.default_rng([seed, 2])
    founders = rng.integers(1, vocab + 1, (n_complexes, n_loci))
    cc = rng.integers(0, n_complexes, n)
    prof = np.empty((n, n_loci), dtype=np.int64)
    members: list[list[int]] = [[] for _ in range(n_complexes)]
    for i in range(n):
        c = cc[i]
        pool = members[c]
        parent = founders[c] if not pool else prof[pool[rng.integers(len(pool))]]
        row = parent.copy()
        k = rng.integers(0, 4)
        if k:
            at = rng.choice(n_loci, k, replace=False)
            row[at] = rng.integers(1, vocab + 1, k)
        prof[i] = row
        pool.append(i)
    prof[rng.random(prof.shape) < missing] = 0
    return ClonalInputs([f"P{i:06d}" for i in range(n)], prof,
                        [f"L{j:04d}" for j in range(n_loci)])


def clonal_long_table(inp: ClonalInputs) -> pa.Table:
    n, L = inp.profiles.shape
    keys = np.array(inp.keys, dtype=object)
    loci = np.array(inp.loci, dtype=object)
    codes = inp.profiles.reshape(-1)
    return pa.table({
        "profile_key": pa.array(np.repeat(keys, L), pa.string()),
        "locus": pa.array(np.tile(loci, n), pa.string()),
        "allele_id": pa.array(
            np.where(codes == 0, WILDCARD, codes.astype(str)), pa.string()),
    })


# ---------------------------------------------------------- web requests

COUNTRIES = ["France", "Germany", "UK", "Spain", "Italy", "Brazil", "USA",
             "Kenya", "India", "Japan", "Canada", "Norway"]
SPECIES = ["Neisseria meningitidis", "Neisseria gonorrhoeae",
           "Neisseria lactamica", "Campylobacter jejuni"]
SEROGROUPS = ["A", "B", "C", "W", "X", "Y", None]
TODAY = "2024-06-01"
USER_ID = 7
USER_PROJECTS = [2, 4]


@dataclass
class WebInputs:
    isolates: pa.Table
    private: pa.Table
    projects: pa.Table
    scheme: Scheme
    typed: Isolates          # MLST designations of every isolate
    allele_seqs: dict        # (locus, code) -> sequence
    write_ids: np.ndarray    # isolates the curator writes re-type
    write_states: list[Isolates]  # alternating designation states


def make_web(seed: int, n_isolates: int, n_defs: int, seq_len: int,
             write_batch: int) -> WebInputs:
    rng = np.random.default_rng([seed, 3])
    n = n_isolates
    ids = np.arange(1, n + 1, dtype=np.int64)
    sero = rng.integers(0, len(SEROGROUPS), n)
    iso = pa.table({
        "id": pa.array(ids, pa.int64()),
        "isolate": pa.array([f"ISO-{i}" for i in ids], pa.string()),
        "country": pa.array(np.array(COUNTRIES, dtype=object)[
            np.minimum(skewed_alleles(rng, n, len(COUNTRIES)) - 1,
                       len(COUNTRIES) - 1)], pa.string()),
        "year": pa.array(rng.integers(1990, 2025, n), pa.int32()),
        "species": pa.array(np.array(SPECIES, dtype=object)[
            rng.integers(0, len(SPECIES), n)], pa.string()),
        "serogroup": pa.array([SEROGROUPS[s] for s in sero], pa.string()),
        # ~3 % superseded versions, hidden from every non-admin view
        "new_version": pa.array(
            np.where(rng.random(n) < 0.03, ids + n, 0), pa.int64()
        ).cast(pa.int64()),
    })
    nv = iso.column("new_version").to_numpy()
    iso = iso.set_column(
        iso.schema.get_field_index("new_version"), "new_version",
        pa.array(nv, pa.int64(), mask=nv == 0))
    priv_ids = np.sort(rng.choice(ids, n // 10, replace=False))
    owners = rng.integers(1, 21, len(priv_ids))
    emb = rng.random(len(priv_ids))
    embargo = np.where(emb < 0.1, "2023-01-01",
                       np.where(emb < 0.2, "2025-01-01", ""))
    private = pa.table({
        "isolate_id": pa.array(priv_ids, pa.int64()),
        "owner_id": pa.array(owners, pa.int64()),
        "embargo_date": pa.array(
            [None if e == "" else e for e in embargo], pa.string()
        ).cast(pa.date32()),
    })
    proj_rows = [(p, int(i)) for p in range(1, 6)
                 for i in rng.choice(ids, n // 40, replace=False)]
    projects = pa.table({
        "project_id": pa.array([p for p, _ in proj_rows], pa.int64()),
        "isolate_id": pa.array([i for _, i in proj_rows], pa.int64()),
    })
    scheme = make_scheme(rng, MLST_LOCI, n_defs, 60)
    typed = make_isolates(rng, scheme, ids, multi_rate=0.0)
    seqs: dict = {}
    used: set = set()
    for locus in scheme.loci:
        for code in range(1, scheme.vocab + 1):
            while True:
                s = "".join(BASES[rng.integers(0, 4, seq_len)])
                if s not in used:
                    break
            used.add(s)
            seqs[(locus, code)] = s
    write_ids = np.sort(rng.choice(ids, write_batch, replace=False))
    states = [make_isolates(rng, scheme, write_ids, mutate=0.05,
                            multi_rate=0.0) for _ in range(2)]
    return WebInputs(iso, private, projects, scheme, typed, seqs,
                     write_ids, states)


def allele_table(inp: WebInputs) -> pa.Table:
    keys = sorted(inp.allele_seqs)
    return pa.table({
        "locus": pa.array([k[0] for k in keys], pa.string()),
        "allele_id": pa.array([str(k[1]) for k in keys], pa.string()),
        "sequence": pa.array([inp.allele_seqs[k] for k in keys], pa.string()),
    })
