"""Independent checkers for the benchmark's outputs.

Nothing here imports ``bigsdb_spark`` or compares against a stored copy
of earlier output: expected values are computed from the generator's
arrays with numpy, by sequential re-implementations, or with DuckDB SQL
over the same parquet files the program reads.  Every ``check_*``
returns a list of error strings; an empty list means the output is
correct.
"""

from __future__ import annotations

import numpy as np

from gen import (
    TODAY,
    USER_ID,
    USER_PROJECTS,
    ClonalInputs,
    Isolates,
    Scheme,
    TypingInputs,
    WebInputs,
)

# ------------------------------------------------------------- typing


def _extra_matrix(iso: Isolates) -> np.ndarray:
    """(N, L) second designation per position, -1 where there is none."""
    extra = np.full(iso.alleles.shape, -1, dtype=np.int64)
    row = {int(i): r for r, i in enumerate(iso.ids)}
    for i, p, a in zip(iso.multi_ids, iso.extra_pos, iso.extra_allele):
        extra[row[int(i)], p] = a
    return extra


def set_matches(defs: np.ndarray, alleles: np.ndarray, extra: np.ndarray,
                wildcard: bool) -> list[np.ndarray]:
    """For each isolate row: indices of the definitions whose allele at
    EVERY position is one of the isolate's designations there (or 'N'
    when ``wildcard``) — positional set membership, as the reference's
    per-isolate path does it.  Pairs are seeded on position 0 and
    culled one position at a time."""
    n, L = alleles.shape
    out: list[list[int]] = [[] for _ in range(n)]
    for lo in range(0, n, 256):
        rows = np.arange(lo, min(n, lo + 256))
        d0 = defs[:, 0][None, :]
        ok = (d0 == alleles[rows, 0][:, None]) | (d0 == extra[rows, 0][:, None])
        if wildcard:
            ok |= d0 == 0
        r_idx, d_idx = np.nonzero(ok)
        r_idx = rows[r_idx]
        for j in range(1, L):
            dv = defs[d_idx, j]
            keep = (dv == alleles[r_idx, j]) | (dv == extra[r_idx, j])
            if wildcard:
                keep |= dv == 0
            r_idx, d_idx = r_idx[keep], d_idx[keep]
            if not len(r_idx):
                break
        for r, d in zip(r_idx, d_idx):
            out[r].append(int(d))
    return [np.array(sorted(x), dtype=np.int64) for x in out]


def expected_typing_rows(scheme: Scheme, iso: Isolates,
                         wild: set[int]) -> set[tuple]:
    """Cache rows (isolate_id, st, kind) for these isolates:
    'exact' = identical vector (md5 path, single designations only);
    'wild' = 'N'-wildcard match, for isolates in ``wild`` with single
    designations; 'multi' = wildcard set membership, for isolates with
    a paralogous double designation."""
    extra = _extra_matrix(iso)
    is_multi = (extra >= 0).any(axis=1)
    none = np.full_like(extra, -1)
    exact = set_matches(scheme.defs, iso.alleles, none, wildcard=False)
    wildm = set_matches(scheme.defs, iso.alleles, extra, wildcard=True)
    rows = set()
    for r, i in enumerate(iso.ids):
        i = int(i)
        if is_multi[r]:
            rows |= {(i, scheme.st[d], "multi") for d in wildm[r]}
            continue
        rows |= {(i, scheme.st[d], "exact") for d in exact[r]}
        if i in wild:
            rows |= {(i, scheme.st[d], "wild") for d in wildm[r]}
    return rows


def _subset(iso: Isolates, ids: np.ndarray) -> Isolates:
    keep = np.isin(iso.ids, ids)
    mk = np.isin(iso.multi_ids, ids)
    return Isolates(iso.ids[keep], iso.alleles[keep], iso.multi_ids[mk],
                    iso.extra_pos[mk], iso.extra_allele[mk])


def check_typing(inp: TypingInputs, cache_rows: list[tuple],
                 sample: np.ndarray) -> list[str]:
    """``cache_rows``: every (isolate_id, st, kind) row of the rebuilt
    scheme cache.  ``sample``: isolate ids whose rows are recomputed
    here and must match exactly."""
    errors: list[str] = []
    got = set(cache_rows)
    if len(got) != len(cache_rows):
        errors.append(f"cache holds {len(cache_rows) - len(got)} duplicate rows")
    want = expected_typing_rows(inp.scheme, _subset(inp.isolates, sample),
                                set(map(int, inp.wild_ids)))
    idset = set(map(int, sample))
    have = {r for r in got if r[0] in idset}
    for r in sorted(want - have)[:5]:
        errors.append(f"missing cache row {r}")
    for r in sorted(have - want)[:5]:
        errors.append(f"unexpected cache row {r}")
    known = set(map(int, inp.isolates.ids))
    stray = {r[0] for r in got if r[0] not in known}
    if stray:
        errors.append(f"rows for unknown isolates {sorted(stray)[:5]}")
    # property: an exact match is also a wildcard match
    by_iso: dict[int, dict[str, set]] = {}
    for i, st, kind in got:
        by_iso.setdefault(i, {}).setdefault(kind, set()).add(st)
    for i, kinds in by_iso.items():
        if "wild" in kinds and not kinds.get("exact", set()) <= kinds["wild"]:
            errors.append(f"exact STs of isolate {i} are not a subset of its wildcard STs")
            break
    return errors


# ---------------------------------------------------------- clustering


def hamming_matrix(prof: np.ndarray) -> np.ndarray:
    """Pairwise mismatches ignoring 'N' (0) on either side."""
    n, L = prof.shape
    h = np.zeros((n, n), dtype=np.int32)
    for j in range(L):
        c = prof[:, j]
        h += ((c[:, None] != c[None, :]) & (c != 0)[:, None]
              & (c != 0)[None, :])
    return h


def components(h: np.ndarray, t: int) -> np.ndarray:
    """Union-find over pairs within ``t``; label = smallest member row."""
    n = len(h)
    parent = np.arange(n)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(*np.nonzero(np.triu(h <= t, 1))):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(x) for x in range(n)])


def prim_forest_weight(h: np.ndarray, t: int) -> int:
    """Total weight of a minimum spanning forest of the graph whose
    edges are the pairs within ``t`` (Prim's, restarted per component)."""
    n = len(h)
    w = np.where(h <= t, h, np.iinfo(np.int64).max).astype(np.int64)
    np.fill_diagonal(w, np.iinfo(np.int64).max)
    done = np.zeros(n, dtype=bool)
    best = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    total = 0
    for _ in range(n):
        cand = np.where(done, np.iinfo(np.int64).max, best)
        v = int(np.argmin(cand))
        if cand[v] == np.iinfo(np.int64).max:
            v = int(np.flatnonzero(~done)[0])  # new component root
        else:
            total += int(cand[v])
        done[v] = True
        best = np.minimum(best, w[v])
    return total


def check_clusters(inp: ClonalInputs, n: int, thresholds: list[int],
                   pairs: list[tuple], groups: dict[int, dict],
                   mst_edges: list[tuple]) -> list[str]:
    """``pairs``: (id1, id2, hamming) for every pair of the first ``n``
    profiles; ``groups[t]``: id -> group_id; ``mst_edges``: (u, v, w)
    over the pairs within max(thresholds)."""
    errors: list[str] = []
    keys = inp.keys[:n]
    row = {k: r for r, k in enumerate(keys)}
    h = hamming_matrix(inp.profiles[:n])
    if len(pairs) != n * (n - 1) // 2:
        errors.append(f"{len(pairs)} distance pairs, expected {n * (n - 1) // 2}")
    bad = [p for p in pairs if h[row[p[0]], row[p[1]]] != p[2]]
    if bad:
        errors.append(f"{len(bad)} wrong pair distances, e.g. {bad[0]}")
    for t in thresholds:
        lab = components(h, t)
        want = {k: keys[lab[r]] for r, k in enumerate(keys)}
        if groups.get(t) != want:
            got = groups.get(t) or {}
            diff = [k for k in keys if got.get(k) != want[k]]
            errors.append(f"threshold {t}: {len(diff)} profiles in the wrong "
                          f"group, e.g. {diff[:3]}")
    tmax = max(thresholds)
    n_comp = len(set(components(h, tmax)))
    if len(mst_edges) != n - n_comp:
        errors.append(f"MST has {len(mst_edges)} edges, expected {n - n_comp}")
    weight = sum(int(e[2]) for e in mst_edges)
    want_w = prim_forest_weight(h, tmax)
    if weight != want_w:
        errors.append(f"MST weight {weight}, Prim's gives {want_w}")
    if any(h[row[u], row[v]] != w or h[row[u], row[v]] > tmax
           for u, v, w in mst_edges):
        errors.append("MST holds an edge that is not a pair within the threshold")
    return errors


# ---------------------------------------------------------- LIN codes


def lincodes_sequential(prof: np.ndarray, thresholds: list[int]) -> list[list[int]]:
    """Sequential LIN-code assignment in row order, one profile at a
    time: missing ('N' = 0) positions are skipped; the distance is
    100 * diffs / (loci - missing in either), 100.0 when nothing is
    comparable; the nearest earlier profile wins ties; diffs == 0 reuses
    its code; otherwise the number of identity thresholds passed
    (capped at the last component) picks how much prefix is inherited,
    and the next free value at that component is taken."""
    n, L = prof.shape
    n_comp = len(thresholds)
    ident = [100.0 * (L - d) / L for d in thresholds]
    codes: list[list[int]] = []
    miss = prof == 0
    top = 0
    nxt: dict[tuple, int] = {}
    for i in range(n):
        if i == 0:
            code = [0] * n_comp
        else:
            m = miss[:i] | miss[i]
            diffs = ((prof[:i] != prof[i]) & ~m).sum(axis=1)
            denom = L - m.sum(axis=1)
            dist = np.where(denom > 0,
                            100.0 * diffs / np.where(denom > 0, denom, 1),
                            100.0)
            j = int(np.argmin(dist))
            if diffs[j] == 0:
                code = list(codes[j])
            else:
                identity = 100.0 - float(dist[j])
                t_idx = 0
                for t in ident:
                    if identity >= t:
                        t_idx += 1
                    else:
                        break
                t_idx = min(t_idx, n_comp - 1)
                if t_idx == 0:
                    code = [top + 1] + [0] * (n_comp - 1)
                else:
                    prefix = tuple(codes[j][:t_idx])
                    code = list(prefix) + [nxt.get(prefix, 0) + 1]
                    code += [0] * (n_comp - len(code))
        top = max(top, code[0])
        for t in range(1, n_comp):
            key = tuple(code[:t])
            nxt[key] = max(nxt.get(key, 0), code[t])
        codes.append(code)
    return codes


def check_lincodes(inp: ClonalInputs, n: int, thresholds: list[int],
                   got: dict[str, list[int]]) -> list[str]:
    want = lincodes_sequential(inp.profiles[:n], thresholds)
    errors = []
    if len(got) != n:
        errors.append(f"{len(got)} LIN codes, expected {n}")
    diff = [k for k, c in zip(inp.keys[:n], want) if list(got.get(k, [])) != c]
    if diff:
        k = diff[0]
        errors.append(f"{len(diff)} wrong LIN codes, e.g. {k}: "
                      f"{got.get(k)} != {want[inp.keys.index(k)]}")
    return errors


# ------------------------------------------------------------ requests


def exact_sts(scheme: Scheme, iso: Isolates) -> dict[int, str]:
    """isolate id -> ST by identical vector (no paralogous rows here)."""
    lookup = {tuple(v): st for v, st in zip(scheme.defs.tolist(), scheme.st)}
    return {int(i): lookup[t] for i, t in zip(iso.ids, map(tuple, iso.alleles.tolist()))
            if t in lookup}


class RequestOracle:
    """Expected responses from DuckDB SQL over the parquet files the
    program reads, under the same access rules as the non-admin view."""

    def __init__(self, paths: dict[str, str], inp: WebInputs, base: str):
        import duckdb

        self.inp, self.base = inp, base
        self.con = duckdb.connect()
        for name, path in paths.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
        projects = ", ".join(map(str, USER_PROJECTS))
        self.con.execute(f"""
            CREATE VIEW v AS SELECT i.* FROM isolates i
            LEFT JOIN private p ON p.isolate_id = i.id
            WHERE i.new_version IS NULL AND (
                p.isolate_id IS NULL
                OR (p.embargo_date IS NOT NULL AND p.embargo_date <= DATE '{TODAY}')
                OR p.owner_id = {USER_ID}
                OR i.id IN (SELECT isolate_id FROM projects
                            WHERE project_id IN ({projects})))""")
        base_sts = exact_sts(inp.scheme, inp.typed)
        self.cache_states = []
        for state in inp.write_states:
            sts = dict(base_sts)
            for i in state.ids:
                sts.pop(int(i), None)
            sts.update(exact_sts(inp.scheme, state))
            self.cache_states.append(sts)
        self.base_sts = base_sts

    def visible_ids(self) -> list[int]:
        return [r[0] for r in self.con.execute("SELECT id FROM v ORDER BY id").fetchall()]

    def cache_after(self, writes: int) -> dict[int, str]:
        """Cache after ``writes`` curator writes; write k applies state
        k % 2 of the re-typed batch."""
        return self.base_sts if writes == 0 else self.cache_states[(writes - 1) % 2]

    def expected(self, kind: str, args: dict, writes: int):
        q = self.con.execute
        if kind == "search":
            where, order = args["sql_where"], args["sql_order"]
            size, page = args["page_size"], args["page"]
            return [r[0] for r in q(
                f"SELECT id FROM v WHERE {where} ORDER BY {order} "
                f"LIMIT {size} OFFSET {(page - 1) * size}").fetchall()]
        if kind == "st_search":
            cache = self.cache_after(writes)
            ids = sorted(i for i, st in cache.items() if st == args["st"])
            q("CREATE OR REPLACE TEMP TABLE st_ids AS SELECT unnest(?::BIGINT[]) AS id",
              [ids])
            return [r[0] for r in q(
                "SELECT id FROM v WHERE id IN (SELECT id FROM st_ids) "
                f"ORDER BY id LIMIT {args['page_size']}").fetchall()]
        if kind == "breakdown":
            f = args["field"]
            return {r[0]: r[1] for r in q(
                f"SELECT CAST({f} AS VARCHAR), count(*) FROM v "
                f"WHERE {f} IS NOT NULL GROUP BY 1").fetchall()}
        if kind == "allele_designations":
            i = args["isolate_id"]
            loci = [r[0] for r in q(
                "SELECT DISTINCT locus FROM designations WHERE isolate_id = ? "
                "ORDER BY locus", [i]).fetchall()]
            return {"records": len(loci), "allele_designations": [
                f"{self.base}/isolates/{i}/allele_designations/{x}" for x in loci[:100]]}
        if kind == "designations_query":
            vec = ",".join(args["designations"][x] for x in sorted(args["designations"]))
            st = q("SELECT st FROM schemes WHERE array_to_string(profile, ',') = ?",
                   [vec]).fetchall()
            return {"fields": {"ST": st[0][0]}} if len(st) == 1 else {}
        if kind == "sequence_query":
            # the generator's own record of which alleles built the FASTA
            exact = {x: [{"allele_id": a,
                          "href": f"{self.base}/loci/{x}/alleles/{a}"}]
                     for x, a in args["alleles"].items()}
            return {"exact_matches": exact, "fields": {"ST": args["st"]}}
        raise KeyError(kind)

    def check(self, kind: str, args: dict, writes: int, response) -> list[str]:
        if kind == "write":
            return []
        got = response
        if kind == "allele_designations":
            got = {"records": response["records"],
                   "allele_designations": response["allele_designations"]}
        want = self.expected(kind, args, writes)
        if got != want:
            return [f"{kind} {args.get('label', '')}: got {str(got)[:200]} "
                    f"expected {str(want)[:200]}"]
        return []

    def check_cache(self, rows: list[tuple], writes: int) -> list[str]:
        want = self.cache_after(writes)
        got: dict[int, str] = {}
        dup = 0
        for i, st in rows:
            dup += i in got
            got[int(i)] = st
        errors = [f"scheme cache holds {dup} duplicate isolates"] if dup else []
        if got != want:
            bad = sorted(set(got.items()) ^ set(want.items()))[:5]
            errors.append(f"scheme cache differs from the expected state: {bad}")
        return errors
