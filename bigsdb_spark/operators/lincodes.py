"""LIN code assignment (SURVEY §2.5 D5).

Reference: scripts/maintenance/lincodes.pl:177-330. LIN codes are
hierarchical multi-threshold lineage codes. Profiles are processed in a
FIXED order (profile id ascending, lincodes.pl:362-368); each new
profile finds its closest already-coded profile and inherits a code
prefix. Reference semantics reproduced exactly:

- missing alleles ('N') are mapped to 0 (lincodes.pl:186 ``%missing``);
- diffs between two profiles count positions where both sides are
  non-missing and differ: ``sum((p1!=p2)&(p1!=0)&(p2!=0))``
  (lincodes.pl:249);
- the distance is NORMALIZED by the non-missing denominator:
  ``100*diffs/(locus_count - missing_in_either)`` (lincodes.pl:251);
- ties go to the earliest-coded profile (strict ``<`` on distance,
  lincodes.pl:252);
- ``diffs == 0`` reuses the closest profile's code verbatim — identical
  profiles share a LIN code, nothing else does (lincodes.pl:258-260);
- the FIRST profile gets all zeros (lincodes.pl:194);
- identity = 100 - min_distance is binned against the scheme's identity
  thresholds ``100*(L-d)/L`` per diff threshold d (lincodes.pl:499-517);
  threshold_index = number of identity thresholds passed in order;
- threshold_index == 0 -> new top-level lineage (max first component
  + 1); otherwise inherit the closest code's first threshold_index
  components and increment the component AT threshold_index among codes
  sharing that prefix (lincodes.pl increment_lincode:300-330).

The assignment loop is inherently sequential (each result depends on
all previous ones), so codes are resolved in order — but the expensive
part, the distance scan of each new profile against every already-coded
profile, runs in Spark per micro-batch: the (small) batch rides in an
Arrow UDF closure over the coded-profile DataFrame, each partition
computes the vectorized pairwise distances and emits a per-partition
partial argmin (one candidate row per batch member), and the driver
merges n_partitions x batch candidates. The driver never holds the
full profile corpus — only the running code list (ids + small int
arrays) and one batch of profiles at a time.

This operator is driver-orchestrated by design; the gate records a
rows-only check (hand fixtures in tests/test_stats_clustering.py pin
the reference semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

MISSING = ("N", "0")


def lincode_prefix_counts(
    assignments: DataFrame,
    id_col: str = "profile_key",
    code_col: str = "lincode",
) -> DataFrame:
    """LIN-code prefix rollup — the hierarchy the reference's LINvis
    plugin assembles node-by-node on the driver
    (Plugins/LINvis.pm:238-307: prefixes joined with '_', one tree node
    per prefix at every depth, value = isolate count under the prefix).

    Spark shape: each code explodes into its ``depth`` prefixes, then
    ONE groupBy counts members per (depth, prefix) — map-side combined,
    no tree walking. ``parent`` links each node to its depth-1 prefix
    (NULL at the root level), which is all a sunburst/circle-packing
    renderer needs. Returns (depth, prefix, parent, n_members).
    """
    code = F.col(code_col)
    prefixes = F.transform(
        F.sequence(F.lit(1), F.size(code)),
        lambda d: F.array_join(F.slice(code, F.lit(1), d), "_"),
    )
    exploded = assignments.select(
        F.col(id_col), F.posexplode(prefixes).alias("_d0", "prefix")
    ).select(
        F.col(id_col),
        (F.col("_d0") + 1).alias("depth"),
        "prefix",
        F.when(
            F.col("_d0") > 0,
            F.expr("substring_index(prefix, '_', _d0)"),
        ).alias("parent"),
    )
    return exploded.groupBy("depth", "prefix", "parent").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )


def lincode_hierarchy(counts: DataFrame) -> dict:
    """Assemble the LINvis nested-JSON hierarchy (root -> children with
    name/value) from the prefix-count frame. The aggregated node set is
    download-sized (it feeds a browser visualization), so assembly is
    driver-side; the counting above is the distributed part."""
    rows = sorted(
        counts.collect(), key=lambda r: (r["depth"], str(r["prefix"]))
    )
    root: dict = {"name": "root", "children": []}
    by_prefix: dict[str, dict] = {}
    for r in rows:
        node = {"name": r["prefix"], "value": r["n_members"], "children": []}
        by_prefix[r["prefix"]] = node
        parent = by_prefix.get(r["parent"]) if r["parent"] else root
        (parent if parent is not None else root)["children"].append(node)
    return root


def _pad_profiles(profiles: list, width: int, chars: int):
    """Profiles -> a fixed-width numpy string matrix padded with 'N'
    (missing), plus the per-profile true lengths."""
    import numpy as np

    mat = np.full((len(profiles), width), "N", dtype=f"<U{max(chars, 1)}")
    lens = np.zeros(len(profiles), dtype=np.int64)
    for i, p in enumerate(profiles):
        mat[i, : len(p)] = ["N" if a is None else a for a in p]
        lens[i] = len(p)
    return mat, lens


def _encode_codes(mat, vocab: dict):
    """String allele matrix -> int32 code matrix under a SHARED
    growing vocabulary; missing markers ('N'/'0', incl. padding) map
    to -1.  pd.factorize does the string hashing at C speed; only the
    few distinct values take the Python dict path (r12 optimization:
    the unicode-matrix broadcast comparisons this replaces measured
    3.6M pair-distances/s; the int-code bucketed kernel in
    ``_block_dist`` measures 20M/s on the same shape)."""
    import numpy as np
    import pandas as pd

    codes_local, uniq = pd.factorize(mat.ravel())
    lut = np.empty(max(len(uniq), 1), dtype=np.int32)
    for k, v in enumerate(uniq):
        lut[k] = -1 if v in MISSING else vocab.setdefault(v, len(vocab))
    return lut[codes_local].reshape(mat.shape).astype(np.int32, copy=False)


def _pos_groups(col):
    """Non-missing row indices grouped by code for one position column
    (codes are small ints; one argsort + unique, no per-code scans)."""
    import numpy as np

    order = np.argsort(col, kind="stable")
    sc = col[order]
    start = int(np.searchsorted(sc, 0))
    if start == sc.size:
        return {}
    uniq, first = np.unique(sc[start:], return_index=True)
    bounds = np.append(first, sc.size - start)
    return {
        int(c): order[start + bounds[k]: start + bounds[k + 1]]
        for k, c in enumerate(uniq)
    }


def _block_dist(pm, plen, bm, blen, bgroups, bmiss_cnt, w2):
    """Pairwise (diffs, missing_in_either) between int-code matrices —
    the bucketed sparse-matches kernel.

    matches[i,j] accumulates per (position, code) OUTER BLOCKS (a code
    matches only its own posting rows — the same disjointness that
    makes inverted indexes work), so cost is O(matching pairs), not
    O(n*q*w) elementwise unicode comparisons; missing_in_either
    decomposes into rank-1 per-row missing counts minus the (sparse)
    both-missing overlap.  Equivalence with the elementwise form is
    exact (integer counts; pinned by tests)."""
    import numpy as np

    n, q = pm.shape[0], bm.shape[0]
    wb = bm.shape[1]
    matches = np.zeros((n, q), dtype=np.int32)
    both_miss = np.zeros((n, q), dtype=np.int32)
    pmiss_cnt = (pm == -1).sum(axis=1, dtype=np.int32)
    bmiss = bmiss_cnt
    if w2 > wb:
        # chunk is wider: batch rows are all-missing past wb
        bmiss = bmiss + np.int32(w2 - wb)
    for p in range(w2):
        cp = pm[:, p]
        mi = np.flatnonzero(cp == -1)
        if p >= wb:
            if mi.size:
                both_miss[mi, :] += 1
            continue
        gb = bgroups[p]
        if gb:
            gp = _pos_groups(cp)
            small, large = (gp, gb) if len(gp) <= len(gb) else (gb, gp)
            for c in small:
                other = large.get(c)
                if other is not None:
                    if small is gp:
                        matches[np.ix_(small[c], other)] += 1
                    else:
                        matches[np.ix_(other, small[c])] += 1
        mj = np.flatnonzero(bm[:, p] == -1)
        if mi.size and mj.size:
            both_miss[np.ix_(mi, mj)] += 1
    miss_or = pmiss_cnt[:, None] + bmiss[None, :] - both_miss
    d = w2 - miss_or - matches
    mie = miss_or - (w2 - np.maximum(plen[:, None], blen[None, :]))
    return d, mie


def _stream_dist(pm, plen, bm, blen, bmiss_cnt, w2):
    """Pairwise (diffs, missing_in_either) between int-code matrices —
    the sequential-streaming elementwise kernel.

    Same contract as ``_block_dist``; chosen for the DISTRIBUTED scan
    because it streams (n, q) int8 accumulators position by position
    with no random access.  Measured under the real concurrency shape
    (32 worker processes on the 2048x1024 task chunk): the bucketed
    scatter kernel is 2.7x faster SINGLE-process (29M pairs/s) but
    DRAM-latency-bound in aggregate (43M pairs/s at x32, per-process
    degradation up to 16x); this kernel streams sequentially and
    reaches 71M pairs/s aggregate — 1.65x — with a 3.5x per-process
    spread instead of 16x (r12; guide §2.6 stragglers/idle capacity:
    the contended resource is memory bandwidth, not cores)."""
    import numpy as np

    n, q = pm.shape[0], bm.shape[0]
    wb = bm.shape[1]
    # int8 accumulators halve the streamed bytes; widths beyond 127
    # positions (cgMLST-sized schemes) fall back to int16
    acc = np.int8 if w2 <= 127 else np.int16
    matches = np.zeros((n, q), dtype=acc)
    both = np.zeros((n, q), dtype=acc)
    eq = np.empty((n, q), dtype=bool)
    pm_missmat = pm == -1
    bm_missmat = bm == -1
    for p in range(wb):
        np.equal(pm[:, p][:, None], bm[None, :, p], out=eq)
        eq &= ~pm_missmat[:, p][:, None]
        matches += eq
        np.logical_and(
            pm_missmat[:, p][:, None], bm_missmat[None, :, p], out=eq
        )
        both += eq
    for p in range(wb, w2):
        # batch rows are all-missing past wb (padding): both-missing
        # wherever the chunk row is missing at p
        mi = pm_missmat[:, p]
        if mi.any():
            both[mi, :] += 1
    pmiss = pm_missmat.sum(axis=1, dtype=np.int32)
    bmiss = bmiss_cnt if w2 <= wb else bmiss_cnt + np.int32(w2 - wb)
    miss_or = pmiss[:, None] + bmiss[None, :] - both.astype(np.int32)
    d = w2 - miss_or - matches.astype(np.int32)
    mie = miss_or - (w2 - np.maximum(plen[:, None], blen[None, :]))
    return d, mie


def nearest_coded(
    batch_rows: dict,
    coded: DataFrame,
    locus_count: int,
) -> list:
    """One Spark job: for every batch profile, the nearest profile in
    ``coded`` by normalized distance (ties -> earliest insertion order).

    ``batch_rows``: {profile_key: profile} — small; rides to every task
    as padded numpy matrices in the UDF closure.
    ``coded``: (profile_key, profile) DataFrame — all previously coded,
    scanned distributed.  Because ``assign_lincodes`` streams ids in
    GLOBAL SORTED ORDER, insertion order IS ascending key order, so the
    tie-break "earliest coded" is "smallest key" and the coded set
    needs no ins_idx column at all — the r12 optimization round
    removed the per-batch ``createDataFrame(enumerate(coded_ids))`` +
    broadcast join that shipped the ENTIRE O(coded) id list from the
    driver every batch (that driver/broadcast term, not the distance
    math, dominated the quadratic cost at the 1e5 tier).

    Each partition computes vectorized pairwise diff / missing counts
    against the whole batch with the int-code bucketed kernel
    (``_block_dist``; coded side in <=2048-row chunks to bound the
    temporaries) and emits ONE candidate row per batch profile — a
    per-partition partial argmin — so the driver merge sees only
    n_partitions x |batch| rows.  An expression-level
    zip_with/aggregate fold here stays INTERPRETED (higher-order
    functions don't enter whole-stage codegen) and measured ~2e5
    pairs/s; the unicode-matrix broadcast form it replaced measured
    3.6M pair-distances/s/core, the bucketed kernel 20M/s.

    Distance semantics (reference lincodes.pl:249-252): diffs count
    slots where both sides are non-missing ('N'/'0') and differ;
    missing_in_either counts missing slots over max(len(p1), len(p2))
    zip slots (a shorter profile's tail is missing);
    distance = 100*diffs/(locus_count - missing_in_either), or 100.0
    when the denominator is zero (the reference's inf can never win
    its strict '<' argmin — 100.0 is the same "never the closest",
    without the division).

    Returns dict rows (profile_key, nearest_key, diffs, distance).
    """
    import numpy as np

    keys = list(batch_rows)
    bprofiles = [batch_rows[k] for k in keys]
    bchars = max(
        (len(a) for p in bprofiles for a in p if a is not None), default=1
    )
    width = max(locus_count, max((len(p) for p in bprofiles), default=0))
    bmat_str, blen = _pad_profiles(bprofiles, width, bchars)
    q = len(keys)

    def _scan(batches):
        # mapInArrow, not mapInPandas: the pandas conversion of a
        # list<string> column materializes a Python str PER ALLELE
        # (measured ~12.5k rows/s/task at 32 loci — it would dominate
        # every batch at the 1e6 tier).  Arrow-side dictionary_encode
        # turns the flat allele values into int32 indices in C; only
        # the ~V DISTINCT strings ever reach Python, where they map
        # through the task's growing vocab (guide §4 — keep the
        # boundary columnar, hand whole batches to native code).
        import pyarrow as pa
        import pyarrow.compute as pc

        best_dist = np.full(q, np.inf)
        best_key = np.full(q, None, dtype=object)
        best_diffs = np.zeros(q, dtype=np.int64)
        seen = False
        key_arrow = None
        # batch side encoded + grouped ONCE per task; each chunk only
        # encodes its distinct values under the shared growing vocab
        vocab: dict = {}
        bmat = _encode_codes(bmat_str, vocab)
        bmiss_cnt = (bmat == -1).sum(axis=1, dtype=np.int32)
        cols = np.arange(q)
        for rb in batches:
            ki = rb.schema.get_field_index("profile_key")
            pi = rb.schema.get_field_index("profile")
            if key_arrow is None:
                key_arrow = rb.schema.field(ki).type
            for lo in range(0, rb.num_rows, 2048):
                chunk = rb.slice(lo, 2048)
                n = chunk.num_rows
                if n == 0:
                    continue
                seen = True
                plist = chunk.column(pi)
                lens = (
                    pc.list_value_length(plist)
                    .fill_null(0)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                flat = pc.list_flatten(plist)
                denc = pc.dictionary_encode(flat)
                dvals = denc.dictionary.to_pylist()
                lut = np.empty(max(len(dvals), 1), dtype=np.int32)
                for k2, v in enumerate(dvals):
                    lut[k2] = (
                        -1
                        if v in MISSING
                        else vocab.setdefault(v, len(vocab))
                    )
                idx = denc.indices
                if idx.null_count:
                    idx_np = idx.fill_null(0).to_numpy(
                        zero_copy_only=False
                    )
                    codes_flat = lut[idx_np]
                    codes_flat[
                        pc.is_null(idx).to_numpy(zero_copy_only=False)
                    ] = -1
                else:
                    codes_flat = lut[
                        idx.to_numpy(zero_copy_only=False)
                    ]
                w2 = int(max(width, lens.max() if n else 0))
                pmat = np.full((n, w2), -1, dtype=np.int32)
                starts = np.cumsum(lens) - lens
                row_idx = np.repeat(np.arange(n), lens)
                col_idx = np.arange(int(lens.sum())) - np.repeat(
                    starts, lens
                )
                pmat[row_idx, col_idx] = codes_flat
                plen = lens
                d, mie = _stream_dist(
                    pmat, plen, bmat, blen, bmiss_cnt, w2
                )
                denom = locus_count - mie
                dist = np.where(
                    denom > 0, 100.0 * d / np.where(denom > 0, denom, 1), 100.0
                )
                kk = chunk.column(ki)
                # chunk argmin per batch column, ties -> smallest key
                # (= earliest coded; chunk row order is arbitrary).
                # Rank the chunk's keys (arrow-side sort — no Python
                # key objects) so the masked argmin works for ANY
                # orderable key dtype (string ids included).
                order = pc.sort_indices(kk).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                rank = np.empty(n, dtype=np.int64)
                rank[order] = np.arange(n)
                colmin = dist.min(axis=0)
                rank_masked = np.where(
                    dist == colmin, rank[:, None], np.iinfo(np.int64).max
                )
                jrow = rank_masked.argmin(axis=0)
                # only the q winners' keys materialize in Python
                c_key = np.array(
                    kk.take(pa.array(jrow)).to_pylist(), dtype=object
                )
                c_d = d[jrow, cols]
                better = colmin < best_dist
                eq = colmin == best_dist
                if eq.any():
                    key_lt = np.zeros(q, dtype=bool)
                    # best_key is non-None wherever best_dist < inf
                    key_lt[eq] = c_key[eq] < best_key[eq]
                    better |= eq & key_lt
                best_dist = np.where(better, colmin, best_dist)
                best_key = np.where(better, c_key, best_key)
                best_diffs = np.where(better, c_d, best_diffs)
        if seen:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.arange(q, dtype=np.int32), type=pa.int32()),
                    pa.array(best_key.tolist(), type=key_arrow),
                    pa.array(best_diffs, type=pa.int64()),
                    pa.array(best_dist, type=pa.float64()),
                ],
                names=["qi", "nearest_key", "diffs", "distance"],
            )

    key_type = coded.schema["profile_key"].dataType
    out_schema = StructType(
        [
            StructField("qi", IntegerType()),
            StructField("nearest_key", key_type),
            StructField("diffs", LongType()),
            StructField("distance", DoubleType()),
        ]
    )
    partial = coded.mapInArrow(_scan, schema=out_schema).collect()
    best: dict[int, tuple] = {}
    for r in partial:
        cand = (r["distance"], r["nearest_key"], r["diffs"])
        cur = best.get(r["qi"])
        if cur is None or (cand[0], cand[1]) < (cur[0], cur[1]):
            best[r["qi"]] = cand
    return [
        {
            "profile_key": keys[qi],
            "nearest_key": b[1],
            "diffs": int(b[2]),
            "distance": float(b[0]),
        }
        for qi, b in best.items()
    ]


def assign_lincodes(
    spark: SparkSession,
    profiles: DataFrame,
    thresholds: list[int],
    id_col: str = "profile_key",
    profile_col: str = "profile",
    locus_count: int | None = None,
    batch_size: int = 256,
) -> DataFrame:
    """Returns (profile_key, lincode array<int>) per the reference
    algorithm above. ``thresholds`` are the scheme's diff thresholds in
    scheme order (largest first, e.g. [4, 2, 1, 0])."""
    n_comp = len(thresholds)

    if profiles.isEmpty():
        return spark.createDataFrame(
            [], schema=f"{id_col} string, lincode array<int>"
        )
    if locus_count is None:
        # the scheme's locus count: with ragged profile vectors the max
        # length is the deterministic analog (head() on an unordered
        # frame would make the normalized distances — and therefore the
        # codes — depend on partition order)
        locus_count = profiles.agg(
            F.max(F.size(profile_col))
        ).head()[0]
    identity_thresholds = [
        100.0 * (locus_count - d) / locus_count for d in thresholds
    ]
    prof = profiles.select(
        F.col(id_col).alias("profile_key"), F.col(profile_col).alias("profile")
    ).cache()
    n_rows = prof.count()
    # the per-batch scan reads the whole cached frame: spread it over
    # the session's cores (a small-file parquet read often arrives in
    # ~8 partitions, leaving 3/4 of local[32] idle in every scan —
    # measured 4x scan parallelism at the 100k ladder tier).  Scale-
    # adaptive: never more partitions than ~2048-row slices, never
    # fewer than the source had (r12 optimization round).
    target_parts = min(
        spark.sparkContext.defaultParallelism, max(1, n_rows // 2048)
    )
    if target_parts > prof.rdd.getNumPartitions():
        repart = prof.repartition(target_parts).cache()
        repart.count()
        prof.unpersist()
        prof = repart

    # stream ordered (key, profile) BATCHES through toLocalIterator —
    # ONE sort job for the whole run; the driver holds one partition
    # of rows at a time, never the full corpus (sorted output arrives
    # in partition order = global order).  The r11 form ran a
    # filter+collect Spark job per batch to fetch the same rows, at
    # ~0.9 s/batch of planning + job latency (r12: measured with
    # tools/d5_floor_probe.py, removed).
    def _row_batches():
        batch: list = []
        for r in prof.orderBy("profile_key").toLocalIterator():
            batch.append((r[0], r[1]))
            if len(batch) == batch_size:
                yield batch
                batch = []
        if batch:
            yield batch

    codes: list[list[int]] = []
    coded_ids: list = []
    # incremental allocation counters — the naive forms ("max first
    # component over all codes", "max component t among codes sharing
    # my prefix": lincodes.pl:300-330 runs SQL max() queries for these)
    # would be an O(total codes) driver scan PER profile, i.e. O(n^2)
    # interpreter time that measured 30+ s/batch at 1e4 profiles.
    # top_max tracks the first component; next_at[prefix] tracks the
    # max used component right after that prefix.
    top_max = 0
    next_at: dict[tuple, int] = {}

    def note_code(code: list[int]) -> list[int]:
        nonlocal top_max
        top_max = max(top_max, code[0])
        for t in range(1, n_comp):
            key = tuple(code[:t])
            if code[t] > next_at.get(key, 0):
                next_at[key] = code[t]
        return code

    def new_code(nearest_idx: int | None, diffs: int, distance: float):
        if nearest_idx is not None and diffs == 0:
            return list(codes[nearest_idx])  # identical -> same code
        identity = 100.0 - distance
        t_idx = 0
        for t_ident in identity_thresholds:
            if identity >= t_ident:
                t_idx += 1
            else:
                break
        # identity can pass EVERY threshold with diffs > 0 (d <= the
        # tightest diff threshold). The reference's unchecked array
        # indexing appends an extra component there (lincodes.pl:304
        # reads one slot past the scheme's length); we cap at the last
        # component so codes keep the scheme's declared length.
        t_idx = min(t_idx, n_comp - 1) if n_comp > 0 else 0
        if t_idx == 0 or nearest_idx is None:
            return [top_max + 1] + [0] * (n_comp - 1)
        prefix = codes[nearest_idx][:t_idx]
        nxt = next_at.get(tuple(prefix), 0) + 1
        code = prefix + [nxt]
        while len(code) < n_comp:
            code.append(0)
        return code

    import numpy as np

    key_to_idx: dict = {}
    for rows_batch in _row_batches():
        # rows stream in global sorted order, so everything coded so
        # far is exactly key < batch_ids[0]: the scan side is a RANGE
        # FILTER on the cached profile frame.  The r11 form uploaded
        # the batch ids AND the full O(coded) id enumeration from the
        # driver every batch (createDataFrame + broadcast join) — that
        # per-batch driver/broadcast term, not the distance math,
        # dominated the quadratic cost at the 1e5 tier (r12).
        batch_ids = [k for k, _ in rows_batch]
        batch_rows = dict(rows_batch)
        # Spark-side scan vs all profiles coded BEFORE this batch
        pre_nearest: dict = {}
        if codes:
            coded_src = prof.filter(
                F.col("profile_key") < F.lit(batch_ids[0])
            )
            for r in nearest_coded(batch_rows, coded_src, locus_count):
                pre_nearest[r["profile_key"]] = (
                    key_to_idx[r["nearest_key"]],
                    int(r["diffs"]),
                    float(r["distance"]),
                )
        # sequential resolution inside the (bounded) batch, vectorized:
        # each profile compares against the batch members coded before
        # it in ONE numpy pass (the old per-pair python loop was
        # O(batch^2 * loci) of interpreter time — at batch 1024 it cost
        # more than the Spark scan it complements). Profiles are padded
        # to a common width with 'N'; the zip_longest semantics (slots
        # beyond the longer profile don't count as missing) are
        # restored by subtracting the per-pair padding from mie.
        width = max(
            locus_count,
            max((len(v) for v in batch_rows.values()), default=0),
        )
        # int codes under a per-batch vocabulary: the elementwise
        # unicode comparisons were the in-batch cost at large batch
        # sizes (r12 — same kernel reasoning as nearest_coded)
        _vocab: dict = {}
        bmat = np.full((len(batch_ids), width), -1, dtype=np.int32)
        blen = np.zeros(len(batch_ids), dtype=np.int64)
        base_idx = len(codes)
        k = 0  # batch members coded so far
        for key in batch_ids:
            cur = batch_rows[key]
            arr = np.full(width, -1, dtype=np.int32)
            for _i, a in enumerate(cur):
                if a is not None and a not in MISSING:
                    arr[_i] = _vocab.setdefault(a, len(_vocab))
            amiss = arr == -1
            if not codes:
                codes.append(note_code([0] * n_comp))
                key_to_idx[key] = len(coded_ids)
                coded_ids.append(key)
                bmat[k], blen[k] = arr, len(cur)
                k += 1
                continue
            best = pre_nearest.get(key)  # (ins_idx, diffs, distance)
            if k:
                sub, sublen = bmat[:k], blen[:k]
                miss = (sub == -1) | amiss
                d = ((sub != arr) & ~miss).sum(axis=1)
                mie = miss.sum(axis=1) - (
                    width - np.maximum(sublen, len(cur))
                )
                denom = locus_count - mie
                dist = np.where(
                    denom > 0, 100.0 * d / np.where(denom > 0, denom, 1), 100.0
                )
                j = int(np.argmin(dist))  # ties -> earliest batch member
                cand = (base_idx + j, int(d[j]), float(dist[j]))
                if (
                    best is None
                    or cand[2] < best[2]
                    or (cand[2] == best[2] and cand[0] < best[0])
                ):
                    best = cand
            nearest_idx, diffs, distance = best
            codes.append(note_code(new_code(nearest_idx, diffs, distance)))
            key_to_idx[key] = len(coded_ids)
            coded_ids.append(key)
            bmat[k], blen[k] = arr, len(cur)
            k += 1

    out = [(coded_ids[i], codes[i]) for i in range(len(coded_ids))]
    prof.unpersist()
    return spark.createDataFrame(out, schema=f"{id_col} string, lincode array<int>")
