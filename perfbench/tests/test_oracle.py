"""The benchmark's checkers accept a correct output and reject a
corrupted one: one wrong ST, two groups merged, one wrong LIN
component, one search row dropped.  No Spark: the "program output" is
built here from the generator's arrays.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402


# ------------------------------------------------------------- typing

@pytest.fixture(scope="module")
def typing():
    inp = gen.make_typing(seed=5, n_isolates=400, n_defs=300, n_wild=120)
    # small schemes: clone more isolates straight from definitions so
    # every path has matches
    rows = sorted(oracle.expected_typing_rows(
        inp.scheme, inp.isolates, set(map(int, inp.wild_ids))))
    return inp, rows


def test_typing_accepts_correct_cache(typing):
    inp, rows = typing
    kinds = {k for _, _, k in rows}
    assert kinds == {"exact", "wild", "multi"}
    assert oracle.check_typing(inp, rows, inp.isolates.ids) == []


def test_typing_rejects_one_wrong_st(typing):
    inp, rows = typing
    bad = list(rows)
    i, st, kind = bad[0]
    bad[0] = (i, str(int(st) + 1), kind)
    assert oracle.check_typing(inp, bad, inp.isolates.ids)


def test_typing_rejects_exact_outside_wildcard(typing):
    inp, rows = typing
    wild_iso = next(i for i, _, k in rows if k == "wild")
    bad = [r for r in rows if not (r[0] == wild_iso and r[2] == "wild")]
    bad.append((wild_iso, "999999", "wild"))
    errors = oracle.check_typing(inp, bad, np.array([], dtype=np.int64))
    assert any("subset" in e for e in errors)


def test_set_matches_against_brute_force():
    rng = np.random.default_rng(0)
    defs = rng.integers(0, 4, (50, 5))
    alleles = rng.integers(1, 4, (30, 5))
    extra = np.where(rng.random((30, 5)) < 0.2, rng.integers(1, 4, (30, 5)), -1)
    got = oracle.set_matches(defs, alleles, extra, wildcard=True)
    for r in range(30):
        want = [d for d in range(50) if all(
            defs[d, j] in (alleles[r, j], extra[r, j], 0) for j in range(5))]
        assert list(got[r]) == want


# ---------------------------------------------------------- clustering

def _kruskal(h: np.ndarray, t: int, keys: list[str]) -> list[tuple]:
    n = len(h)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    out = []
    for w, a, b in sorted((int(h[a, b]), a, b) for a in range(n)
                          for b in range(a + 1, n) if h[a, b] <= t):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.append((keys[a], keys[b], w))
    return out


@pytest.fixture(scope="module")
def clonal():
    inp = gen.make_clonal(seed=3, n=60, n_loci=20, n_complexes=3)
    n, ts = 60, [1, 3, 6]
    keys = inp.keys[:n]
    h = oracle.hamming_matrix(inp.profiles[:n])
    pairs = [(keys[a], keys[b], int(h[a, b])) for a in range(n) for b in range(a + 1, n)]
    groups = {t: {k: keys[r] for k, r in zip(keys, oracle.components(h, t))} for t in ts}
    return inp, n, ts, pairs, groups, _kruskal(h, max(ts), keys)


def test_clusters_accept_correct_output(clonal):
    inp, n, ts, pairs, groups, mst = clonal
    assert len({g for g in groups[ts[0]].values()}) > 1
    assert oracle.check_clusters(inp, n, ts, pairs, groups, mst) == []


def test_clusters_reject_two_groups_merged(clonal):
    inp, n, ts, pairs, groups, mst = clonal
    t = ts[0]
    a, b = sorted(set(groups[t].values()))[:2]
    merged = {k: (a if g == b else g) for k, g in groups[t].items()}
    assert oracle.check_clusters(inp, n, ts, pairs, {**groups, t: merged}, mst)


def test_clusters_reject_heavier_tree(clonal):
    inp, n, ts, pairs, groups, mst = clonal
    u, v, w = mst[0]
    assert oracle.check_clusters(inp, n, ts, pairs, groups,
                                 [(u, v, w + 1)] + mst[1:])


# ---------------------------------------------------------- LIN codes

def test_lincodes_reject_one_wrong_component():
    inp = gen.make_clonal(seed=4, n=80, n_loci=30, n_complexes=3)
    ts = [10, 5, 2, 0]
    codes = oracle.lincodes_sequential(inp.profiles, ts)
    got = dict(zip(inp.keys, codes))
    assert oracle.check_lincodes(inp, 80, ts, got) == []
    k = inp.keys[40]
    bad = dict(got)
    bad[k] = bad[k][:-1] + [bad[k][-1] + 1]
    assert oracle.check_lincodes(inp, 80, ts, bad)


def test_lincodes_agree_with_the_repository_oracle():
    """The model for the sequential port is tools/lincode_oracle.py:
    both must give the same codes on full-length profiles."""
    path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "tools",
                        "lincode_oracle.py")
    if not os.path.exists(path):
        pytest.skip("tools/lincode_oracle.py is not in this checkout")
    spec = importlib.util.spec_from_file_location("lincode_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    inp = gen.make_clonal(seed=6, n=70, n_loci=25, n_complexes=4, missing=0.05)
    ts = [8, 4, 1]
    mod.THRESHOLDS = ts
    strs = [(k, [gen.allele_str(c) for c in row])
            for k, row in zip(inp.keys, inp.profiles)]
    assert [c for _, c in mod.assign(strs)] == oracle.lincodes_sequential(inp.profiles, ts)


# ------------------------------------------------------------ requests

@pytest.fixture(scope="module")
def web(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("web"))
    inp = gen.make_web(seed=2, n_isolates=400, n_defs=200, seq_len=30, write_batch=10)
    tables = {"isolates": inp.isolates, "private": inp.private,
              "projects": inp.projects,
              "designations": gen.designation_table(inp.scheme, inp.typed),
              "schemes": gen.scheme_table(inp.scheme)}
    paths = {n: gen.write(t, root, n) for n, t in tables.items()}
    return inp, oracle.RequestOracle(paths, inp, "/db/x")


def test_search_rejects_one_dropped_row(web):
    inp, orc = web
    args = {"sql_where": "year >= 2000", "sql_order": "year, id",
            "page": 1, "page_size": 25}
    rows = orc.expected("search", args, 0)
    assert len(rows) == 25
    assert orc.check("search", args, 0, rows) == []
    assert orc.check("search", args, 0, rows[:3] + rows[4:])


def test_view_hides_private_and_superseded_records(web):
    inp, orc = web
    visible = set(orc.visible_ids())
    nv = inp.isolates.column("new_version").to_pylist()
    ids = inp.isolates.column("id").to_pylist()
    assert not visible & {i for i, v in zip(ids, nv) if v is not None}
    priv = dict(zip(inp.private.column("isolate_id").to_pylist(),
                    inp.private.column("owner_id").to_pylist()))
    hidden = {i for i, o in priv.items() if o != gen.USER_ID} - visible
    assert hidden


def test_cache_check_rejects_a_stale_row(web):
    inp, orc = web
    rows = sorted(orc.cache_after(1).items())
    assert orc.check_cache(rows, 1) == []
    assert orc.check_cache(rows + [rows[0]], 1)
    assert orc.check_cache(sorted(orc.cache_after(0).items()), 1) or \
        orc.cache_after(0) == orc.cache_after(1)
