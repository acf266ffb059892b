"""The scheme warehouse: profile pivot, md5 identity, wildcard matching,
Hamming-distance joins (SURVEY §2.4 A5, §2.3 J3/J4, §2.5 D1-D3).

Reference semantics being reproduced:

- ``initiate_scheme_warehouse`` (sql/seqdef.sql:1199-1253) pivots the
  long (profile_id, locus, allele_id) EAV into one row per profile with
  an ordered allele vector: ``array_agg(allele_id ORDER BY locus)``.
  Spark: groupBy + sort_array(collect_list(struct(locus, allele))).
- Profile identity is md5 of the comma-joined vector
  (sql/seqdef.sql:1151-1153, unique index :1192) → F.md5(concat_ws).
- ``profile_diff`` (sql/seqdef.sql:1380-1384): Hamming distance ignoring
  the ``'N'`` wildcard on either side.
- ``matching_profiles(scheme, p, k)`` (sql/seqdef.sql:1386-1392): all
  profiles within <= k mismatches, computed as a self-join of the long
  form grouped per pair with HAVING count(matches) >= total - k. The
  relative-threshold variant (:1393-1410) scales the cutoff by the
  number of loci shared (non-N on both sides).

Scale strategy: the exact-match path is an equi-join on the md5 column
(hash-partitionable, broadcastable). The fuzzy paths join the LONG form
on (locus, allele_id) so only genuinely-matching designation pairs meet
— the classic inverted-index trick; no O(n²) vector crossJoin. Skewed
(locus, allele) buckets are handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from bigsdb_spark.materialize import materialize

WILDCARD = "N"
ABSENT = "0"


def build_profiles(
    long_df: DataFrame,
    id_col: str,
    locus_col: str,
    allele_col: str,
) -> DataFrame:
    """Pivot long (id, locus, allele) into (id, profile array, md5).

    The vector is ordered by (locus, allele) — deterministic even with
    paralogous double designations. One shuffle on id.
    """
    pairs = F.sort_array(
        F.collect_list(F.struct(F.col(locus_col), F.col(allele_col)))
    )
    return (
        long_df.groupBy(F.col(id_col).alias("profile_key"))
        .agg(pairs.alias("_pairs"))
        .select(
            "profile_key",
            F.transform(F.col("_pairs"), lambda s: s[allele_col]).alias("profile"),
            F.md5(
                F.array_join(
                    F.transform(F.col("_pairs"), lambda s: s[allele_col]), ","
                )
            ).alias("profile_md5"),
        )
    )


def profile_pair_distances(
    long_df: DataFrame,
    id_col: str,
    locus_col: str,
    allele_col: str,
    wildcard: bool = False,
    exclude_wildcard: bool = False,
    restrict_pairs: DataFrame | None = None,
) -> DataFrame:
    """J4/D1/D6: per-pair (shared, matched, hamming) over the long form.

    Self-join on the locus key so each pair is compared only at loci both
    sides possess (reference sql/seqdef.sql:1386-1392 joins
    profile_members to itself the same way). Returns one row per
    unordered pair (id1 < id2) that shares >= 1 locus.

    ``exclude_wildcard`` drops rows where EITHER side is 'N' before
    aggregating — the relative-threshold variant
    (matching_profiles_with_relative_threshold, sql/seqdef.sql:1393-1410)
    computes loci-in-common and matched over non-N loci only
    (p1.allele_id!='N' AND p2.allele_id!='N').
    """
    a = long_df.select(
        F.col(id_col).alias("id1"),
        F.col(locus_col).alias("locus"),
        F.col(allele_col).alias("a1"),
    )
    b = long_df.select(
        F.col(id_col).alias("id2"),
        F.col(locus_col).alias("locus"),
        F.col(allele_col).alias("a2"),
    )
    joined = a.join(b, on="locus").filter(F.col("id1") < F.col("id2"))
    if restrict_pairs is not None:
        # bound the self-join to a candidate pair set (id1, id2) — the
        # anchor for LSH-style pruning; semi-join keeps the plan a hash
        # join on the pair key
        joined = joined.join(
            restrict_pairs.select("id1", "id2"), on=["id1", "id2"], how="left_semi"
        )
    if exclude_wildcard:
        joined = joined.filter(
            (F.col("a1") != WILDCARD) & (F.col("a2") != WILDCARD)
        )
    if wildcard:
        match = (F.col("a1") == F.col("a2")) | (F.col("a1") == WILDCARD) | (
            F.col("a2") == WILDCARD
        )
    else:
        match = F.col("a1") == F.col("a2")
    return joined.groupBy("id1", "id2").agg(
        F.count(F.lit(1)).cast("long").alias("shared"),
        F.sum(match.cast("long")).cast("long").alias("matched"),
        (F.count(F.lit(1)) - F.sum(match.cast("long"))).cast("long").alias("hamming"),
    )


def matching_profiles(
    pair_dist: DataFrame,
    total_loci: int,
    k: int,
    relative: bool = False,
) -> DataFrame:
    """D2/D3 threshold filter over pair distances.

    Absolute (sql/seqdef.sql:1386): matched >= total - k.
    Relative (:1393-1410):          matched >= round(shared*(total-k)/total)
    — the cutoff scales with how many loci the pair actually shares.
    """
    if relative:
        # bround = HALF_EVEN: PostgreSQL's round() on float8 banker-rounds,
        # so exact .5 cutoffs (even total_loci) must round to even here too
        cutoff = F.bround(F.col("shared") * (total_loci - k) / total_loci, 0)
    else:
        cutoff = F.lit(total_loci - k)
    return pair_dist.filter(F.col("matched") >= cutoff)


def hamming_zipwith(a, b):
    """D1 on two aligned ArrayType columns: positional Hamming distance
    ignoring 'N' on either side (sql/seqdef.sql:1380-1384) — stays in
    codegen via zip_with + aggregate, no UDF."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (
            (x != y) & (x != F.lit(WILDCARD)) & (y != F.lit(WILDCARD))
        ).cast("int"),
    )
    return F.aggregate(diffs, F.lit(0), lambda acc, v: acc + v)


# auto knob rule for _assign_wildcard_pruned (r11, VERDICT r10 #2):
# use the 3-position intersection when the wildcard floor alone makes
# single-position pruning ship too much array payload to the verify
# join.  min-per-position wildcard-definition count is a LOWER bound on
# k=1 candidates per isolate (every definition with 'N' at the selected
# position survives, whatever allele the isolate carries), and each
# survivor ships an L-element allele array — so the decision weighs
# min_wild * L, the zip_with verify cells per isolate from that floor.
# Measured regimes (BASELINE.md r10 ladder): MLST-shape (L=7, ~2% 'N',
# P=1e4 -> floor 200*7 = 1.4e3 cells) ran FASTER at k=1 (36.6 s vs
# 60.5-82.2 s — two extra probe joins cost more than the narrow
# verify); cgMLST-shape (L=1000 -> floor 200*1000 = 2e5 cells, ~20 KB
# of array per candidate) filled a 69 GB disk at k=1 and needs k=3.
# The threshold sits between the two measured shapes.
AUTO_PRUNE_VERIFY_CELLS = 10_000


# definition-long-form row count at or below which the definition-side
# frames (frequency tables, exploded rows, profile arrays) broadcast in
# the multi path: 2e6 narrow rows is ~60 MB serialized — comfortably a
# dimension broadcast on any executor sizing, while cgMLST-scale defs
# (2.5e8 long rows) stay on the shuffle path.
BROADCAST_DEFS_MAX_ROWS = 2_000_000

# memo for the auto-knob probe, keyed on (definition plan semanticHash,
# total_loci) — the probe is an EAGER driver-side aggregate (ADVICE
# r11: it used to re-run on every call, once per round in an iterative
# loop).  semanticHash covers the full logical plan including source
# paths, so same-plan-same-result holds for batch reads within a
# process (same caveat class as inventory.typing._pairs_memo); a
# source whose FILES changed under an identical plan should pass the
# knobs explicitly.
_PROBE_MEMO: dict = {}


def _probe_defs(sch_long: DataFrame, total_loci: int) -> tuple[int, int]:
    """One tiny aggregate over the definition long form -> (auto
    prune_positions, definition long-form row count).  Memoized per
    (plan, total_loci); pass both knobs explicitly to skip the probe
    job entirely."""
    try:
        key = (sch_long.semanticHash(), total_loci)
    except Exception:
        key = None
    if key is not None and key in _PROBE_MEMO:
        return _PROBE_MEMO[key]
    row = (
        sch_long.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(
                F.when(F.col("def_allele") == WILDCARD, F.lit(1))
            ).alias("n_wild"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum("n_rows").alias("n_rows"),
            F.coalesce(F.min("n_wild"), F.lit(0)).alias("min_wild"),
        )
        .collect()[0]
    )
    # a position with NO wildcard definitions caps the floor at 0 (a
    # position absent from the table entirely does too, via n_pos)
    min_wild = row.min_wild if row.n_pos == total_loci else 0
    out = (
        3 if min_wild * total_loci > AUTO_PRUNE_VERIFY_CELLS else 1,
        int(row.n_rows or 0),
    )
    if key is not None:
        if len(_PROBE_MEMO) > 256:
            _PROBE_MEMO.clear()
        _PROBE_MEMO[key] = out
    return out


def _auto_prune_positions(sch_long: DataFrame, total_loci: int) -> int:
    """Pick prune_positions (1 or 3) from the definition side — one
    tiny aggregate over the same long form stage 1 re-derives (L rows
    after the groupBy), MEMOIZED per plan (see ``_probe_defs``).  Pass
    ``prune_positions`` explicitly to skip the probe job."""
    return _probe_defs(sch_long, total_loci)[0]


# compressed isolate-side bytes per partition that the candidate/cost
# machinery tolerates before GC pressure turns growth superlinear:
# the r11 cg ladder (BASELINE.md) ran 279 s at cg_1e6 (1.2 GB source,
# 256 partitions ~ 5 MB each) but 1376 s at cg_4e6 (4.6 GB source,
# same 256 partitions ~ 18 MB each, 23.6/24 GiB heap peak) — 4.9x per
# 4x.  8 MB/partition keeps cg_1e6 at its measured-good 256 and lifts
# cg_4e6 to 1024 (r12, VERDICT r11 #2: apply the stated law in code,
# not just in the ladder's env knob).
VERIFY_PARTITION_SOURCE_BYTES = 8 << 20

# stats-based partition counts above this are either junk estimates
# (post-join size products) or a scale where the session should be
# configured explicitly; the law caps out rather than exploding the
# shuffle
VERIFY_PARTITIONS_CAP = 65536


# definition-side source-bytes cap for DIMENSION-BROADCAST mode in the
# wildcard path: below it the freq tables / exploded definition rows /
# definition arrays all broadcast (a cgMLST defs table is ~P*L cells:
# 1e4 profiles x 1e3 loci ~ 40-100 MB parquet), so the N*L isolate
# long form NEVER shuffles on (pos, allele) — the one exchange class
# that filled the disk at cg_4e6 (r12, VERDICT r11 #2 follow-through).
DIM_BROADCAST_MAX_BYTES = 512 << 20

# isolate-side floor below which dimension-broadcast mode stays OFF:
# at small scale the default shuffle plans are already right (and
# pinned by tests/test_plan_quality.py); the mode targets the regime
# where the long-form exchanges dominate.
DIM_MODE_MIN_DENSE_BYTES = 1 << 30

# isolate-side cap for the k-pass broadcast-argmin: each pass
# broadcasts one N-row minima frame (~40 B/row hashed), so past ~32 GB
# of source (N in the high 1e7s at cgMLST width) fall back to the
# window sort + partition law.
ARGMIN_PASS_MAX_DENSE_BYTES = 32 << 30

# cost packing for the k-pass argmin: pack = cost * 2^POS_PACK_BITS
# + pos keeps (cost, pos) ordering in one long — requires
# total_loci < 2^POS_PACK_BITS (any real scheme: cgMLST is ~2e3 loci)
POS_PACK_BITS = 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst size-only stats for a frame — one py4j read, NO job.
    Returns None when unusable (non-positive or >1 PiB: size-only
    join estimates multiply and go astronomically junk)."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    if size <= 0 or size > (1 << 50):
        return None
    return size


def _candidate_scaled_partitions(dense: DataFrame) -> int | None:
    """Partition count for the wildcard path's heavy exchanges (the
    k>1 cost window sort over N*L rows and the verify joins), scaled
    with the isolate side — the partition LAW from the r11 cg ladder:
    task heap/GC grows with N at a pinned partition count, so size
    partitions for the candidate count, not the array volume.

    Uses Catalyst's size-only plan stats (file bytes for parquet
    sources — one py4j read, NO job, stays lazy).  Returns None (leave
    the plan's default exchanges untouched) when the estimate is
    unusable (non-positive, or >1 PiB: size-only join estimates
    multiply and go astronomically junk) or when the computed count
    does not exceed the session's pre-coalesce partition floor — AQE
    can coalesce DOWN but never split UP, so the law only ever RAISES
    the count."""
    size = _plan_size_bytes(dense)
    if size is None:
        return None
    sess = dense.sparkSession
    floor = 0
    for key in (
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "spark.sql.shuffle.partitions",
    ):
        try:
            floor = max(floor, int(sess.conf.get(key)))
        except (TypeError, ValueError):
            pass
    need = -(-size // VERIFY_PARTITION_SOURCE_BYTES)
    if need <= max(floor, 1):
        return None
    return min(1 << (need - 1).bit_length(), VERIFY_PARTITIONS_CAP)


def assign_scheme_fields(
    isolate_profiles: DataFrame,
    scheme_profiles: DataFrame,
    allow_missing_loci: bool = False,
    total_loci: int | None = None,
    prune_candidates: bool = True,
    prune_positions: int | None = None,
) -> DataFrame:
    """A5/J3: assign scheme fields (e.g. ST) to isolates by matching their
    allele vector against the profile warehouse.

    Reproduces ``create_isolate_scheme_cache`` (sql/isolatedb.sql:1439-1588)
    with its two main code paths:

    (a) complete & exact  → equi-join on md5(profile) — O(1) per row,
        hash-shuffle or broadcast; this is the fast path the reference
        gets from its ``md5(profile)`` unique index.
    (b) allow_missing_loci → wildcard join where 'N' in the *definition*
        matches any isolate allele: long-form join on
        (locus, allele OR 'N') then HAVING count = total_loci.

    ``isolate_profiles``: (profile_key, profile, profile_md5) from
    ``build_profiles``. ``scheme_profiles``: (st, profile, profile_md5).
    Returns (profile_key, st).

    ``prune_candidates`` (r10, VERDICT r9 task 1 — wildcard path only;
    DEFAULT since r11, VERDICT r10 #2 — the reference never runs its
    cache build unindexed: Datastore.pm:2160-2165 always intersects
    the profile[1..3] candidate indexes, so the unpruned inverted-index
    join is the opt-OUT comparison path here, kept for the equality
    pins and for schemes whose definitions defeat pruning entirely):
    the inverted-index join's intermediate is every (isolate, ST) pair
    sharing ANY (pos, allele) — sum over (pos, a) of
    iso_cnt(pos,a) * prof_cnt(pos,a), which under realistic allele
    popularity skew grows ~ L * N * P * sum(share^2) and is the one
    §2 core operator whose 100x behaviour was asserted rather than
    measured (VERDICT r9).  The reference bounds this with first-k
    -position candidate indexes (Datastore.pm:2160-2165 intersects
    profile[1..3] lookups; sql/seqdef.sql:1193 indexes the first three
    profile positions).  This path is the Spark-first generalization —
    RAREST-K-POSITION candidate intersection (prefix filtering from
    the set-similarity-join literature, with the reference's
    intersection step): per isolate keep the ``prune_positions``
    positions minimizing (profile-side frequency of its allele at that
    pos + wildcard-definition count at that pos), generate narrow
    (isolate, st) candidates from those positions, keep only pairs
    matching at ALL of them (complete: any fully-matching definition
    either equals the isolate's allele or holds 'N' at every selected
    position), then verify survivors with ONE vectorized full-vector
    zip_with comparison.  Every stage is linear in N*L or
    |candidates|; the per-(pos,allele) pair product never
    materializes, and no array column is shipped per candidate until
    after the intersection cull.  Output equality with the unpruned
    path is pinned in tests/test_profiles.py (prune_positions 1 and
    3); the 1e5-4e6 ladder lives in BASELINE.md (tools/a5_scale.py).

    ``prune_positions=None`` (the default) picks 1 or 3 from the
    definition side's measured wildcard floor (one tiny aggregate,
    ``_auto_prune_positions``); pass an int to skip the probe job and
    force a width.
    """
    if not allow_missing_loci:
        return isolate_profiles.join(
            scheme_profiles.select("st", "profile_md5"), on="profile_md5"
        ).select("profile_key", "st")

    if total_loci is None:
        raise ValueError("total_loci required for the wildcard path")
    # Long-form inverted-index join, split so the BIG join is a clean
    # equi-join: an OR condition (def==allele OR def=='N') would force a
    # hash join on `pos` alone — with ~total_loci distinct positions
    # that is a near-cross-join per position. Instead:
    #   exact rows    -> equi-join on (pos, allele)   [the big path]
    #   wildcard rows -> join on pos only             [few rows by design]
    #
    # Positional matching REQUIRES dense warehouse-ordered vectors: one
    # entry per scheme locus ('N' filled in for missing). A shorter
    # vector (undesignated loci) can never reach n_match == total_loci,
    # and a LONGER one (paralogous double designation) shifts every
    # later position and could match spuriously — both are excluded
    # here; multi-designation isolates are the reference's per-isolate
    # path (b) (sql/isolatedb.sql:1541-1566), which is positional SET
    # MEMBERSHIP — use ``assign_scheme_fields_multi`` on the long
    # form (r11; no combination pre-expansion exists or is needed).
    dense = isolate_profiles.filter(F.size("profile") == total_loci)
    # the SAME length contract on the definition side (r11, ADVICE
    # r10): an over-length definition shifts nothing here (positional
    # explode), but the unpruned count==total_loci test would accept
    # one whose first total_loci positions match while the pruned
    # zip_with verify (null-padded) rejects it — out-of-contract input
    # either way, so both paths now uniformly IGNORE definitions whose
    # vector is not exactly total_loci long
    defs = scheme_profiles.filter(F.size("profile") == total_loci)
    if prune_candidates:
        return _assign_wildcard_pruned(
            dense, defs, total_loci, n_positions=prune_positions
        )
    iso = dense.select(
        "profile_key", F.posexplode("profile").alias("pos", "allele")
    )
    sch = defs.select(
        "st", F.posexplode("profile").alias("pos", "def_allele")
    )
    exact = iso.join(
        sch.filter(F.col("def_allele") != WILDCARD),
        (iso["pos"] == sch["pos"]) & (iso["allele"] == sch["def_allele"]),
    ).select("profile_key", "st")
    wild = iso.join(
        sch.filter(F.col("def_allele") == WILDCARD), on=iso["pos"] == sch["pos"]
    ).select("profile_key", "st")
    hits = (
        exact.unionByName(wild)
        .groupBy("profile_key", "st")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .filter(F.col("n_match") == total_loci)
    )
    return hits.select("profile_key", "st")


def _assign_wildcard_pruned(
    dense: DataFrame,
    scheme_profiles: DataFrame,
    total_loci: int,
    n_positions: int | None = 3,
) -> DataFrame:
    """Rarest-k-position candidate pruning for the wildcard
    scheme-field join (see
    ``assign_scheme_fields(prune_candidates=True)``) — the Spark form
    of the reference's first-three-position candidate INTERSECTION
    (Datastore.pm:2160-2165 intersects profile[1..3] index lookups;
    sql/seqdef.sql:1193 maintains those indexes).

    Stages, all linear (no per-(pos, allele) pair product):

    1. frequency tables over the DEFINITION side: exact (pos, allele)
       -> n_prof and pos -> n_wild ('N' rows).  P*L rows max, grouped.
    2. per isolate position cost = n_prof(pos, allele_here) +
       n_wild(pos) (0 when the allele appears in no definition, exact
       or wild); keep each isolate's ``n_positions`` CHEAPEST positions
       (row_number window over (cost, pos)) — its most selective
       probe set.
    3. candidates: each selected position equi-joins (pos, allele)
       against exact definition rows plus (pos) against wild rows —
       NARROW (profile_key, st) rows only — then a groupBy counts per
       pair and keeps count == n_positions: a definition survives only
       if it matches (allele or 'N') at EVERY selected position.
       COMPLETE: a fully-matching definition matches at all positions,
       selected ones included.  A zero-cost selected position (the
       isolate's allele appears in no definition there) contributes no
       rows, so such isolates are rejected for free by the count.
       The intersection is what makes cgMLST-wide schemes feasible: at
       L=1000 with ~2% definition 'N' rate EVERY position carries
       ~0.02*P wildcard candidates, so single-position pruning still
       yields ~200 candidates/isolate and the array-carrying verify
       join would ship ~20 KB per candidate (measured: filled a 69 GB
       disk at N=2.5e5, P=1e4, L=1000); three-position intersection
       culls to ~P*(0.02 + share_rare)^3 + true matches ≈ O(1) per
       isolate BEFORE any array is shipped.
    4. verify: one shuffle-hash join back to both array-carrying
       frames and a vectorized zip_with full-vector comparison
       (def == allele OR def == 'N' at every position) — stays in
       codegen, O(L) per surviving candidate.

    Worst case degrades gracefully: if every definition is identical,
    candidates = N*P and stage 4 still beats the unpruned path's
    L-times-larger intermediate by a factor of total_loci.

    AT-SCALE PLAN SHAPE (r12, VERDICT r11 #2) — two stats-only gates,
    no jobs, small-scale plans unchanged:

    - DIMENSION-BROADCAST mode (isolate side >= 1 GB of source AND
      definition side <= 512 MB — every real scheme; a cgMLST defs
      table is ~P*L cells ~ 40-100 MB): the freq tables, exploded
      definition rows and definition arrays broadcast, so the N*L
      isolate long form NEVER exchanges on (pos, allele) and the
      verify never exchanges on st; with k>1 the cost window sort is
      replaced by a k-PASS BROADCAST-ARGMIN (per-pass partial-
      aggregated min over packed (cost, pos) longs — N rows per pass
      cross the wire instead of the N*L sort; the r11 window form's
      two long-form exchanges wrote ~80 GB of shuffle at cg_4e6 and
      filled the disk).
    - PARTITION LAW (``_candidate_scaled_partitions``): whatever
      exchanges remain scale their partition count with the isolate
      side's source bytes instead of a pinned session constant (the
      r11 ladder's GC superlinearity: 4.9x per 4x isolates at 256).

    ``n_positions=None`` (r11 default via ``assign_scheme_fields``)
    auto-selects 1 or 3 from the definition side's wildcard floor —
    see ``_auto_prune_positions``."""
    iso = dense.select(
        "profile_key", F.posexplode("profile").alias("pos", "allele")
    )
    sch = scheme_profiles.select(
        "st", F.posexplode("profile").alias("pos", "def_allele")
    )
    if n_positions is None:
        n_positions = _auto_prune_positions(sch, total_loci)
    k_sel = max(1, min(n_positions, total_loci))
    # r12 scale gates (VERDICT r11 #2) — two stats reads, no job:
    # - partition LAW: None = session defaults already satisfy it;
    # - DIMENSION-BROADCAST mode: at-scale isolate side + broadcastable
    #   definition side -> the freq tables, exploded definition rows
    #   and definition arrays all broadcast, so the N*L long form
    #   never shuffles on (pos, allele) and the verify never exchanges
    #   on st (the two exchange classes that filled a 63 GB disk at
    #   cg_4e6).  Small scale keeps the pinned default plans.
    n_ver = _candidate_scaled_partitions(dense)
    dense_bytes = _plan_size_bytes(dense)
    defs_bytes = _plan_size_bytes(scheme_profiles)
    dim_mode = (
        dense_bytes is not None
        and defs_bytes is not None
        and dense_bytes >= DIM_MODE_MIN_DENSE_BYTES
        and defs_bytes <= DIM_BROADCAST_MAX_BYTES
    )
    fb = F.broadcast if dim_mode else (lambda df: df)
    sch_exact = sch.filter(F.col("def_allele") != WILDCARD)
    sch_wild = sch.filter(F.col("def_allele") == WILDCARD)
    exact_freq = sch_exact.groupBy(
        "pos", F.col("def_allele").alias("allele")
    ).agg(F.count(F.lit(1)).alias("n_prof"))
    wild_freq = sch_wild.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n_wild")
    )
    cost = (
        iso.join(fb(exact_freq), on=["pos", "allele"], how="left")
        .join(F.broadcast(wild_freq), on="pos", how="left")
        .select(
            "profile_key",
            "pos",
            "allele",
            (
                F.coalesce(F.col("n_prof"), F.lit(0))
                + F.coalesce(F.col("n_wild"), F.lit(0))
            ).alias("cost"),
        )
    )
    if k_sel == 1:
        # argmin via hash aggregation — no per-partition sort (the
        # window form below costs ~2x at the 4e6 MLST tier: 143 s
        # min_by vs 294 s row_number, tools/a5_scale.py)
        best = (
            cost.groupBy("profile_key")
            .agg(
                F.min_by(
                    F.struct("pos", "allele"), F.struct("cost", "pos")
                ).alias("b")
            )
            .select(
                "profile_key",
                F.col("b.pos").alias("pos"),
                F.col("b.allele").alias("allele"),
            )
        )
    elif (
        dim_mode
        and dense_bytes <= ARGMIN_PASS_MAX_DENSE_BYTES
        and total_loci < (1 << POS_PACK_BITS)
    ):
        # k-PASS BROADCAST-ARGMIN (r12): the window form sorts the
        # FULL N*L cost frame through one exchange (cg_4e6: ~40 GB of
        # shuffle spill on top of the freq join's).  With the freq
        # join map-side (dim_mode), each pass is instead a
        # partial-aggregated min over the in-stage cost rows — only N
        # rows ever cross the wire per pass — and passes 2..k keep
        # "rows strictly above the previous minimum" via a broadcast
        # of the previous pass's per-isolate minima.  (cost, pos)
        # packs into one long (pos is unique per isolate, so packs
        # are distinct and ties can't occur); min_by carries the
        # allele so nothing joins back to the long form.
        pack = (
            F.col("cost").cast("long") * F.lit(1 << POS_PACK_BITS)
            + F.col("pos")
        )
        # each pass re-derives the in-stage explode+freq-probe (k
        # scans total) — that is the cheap part; what must NOT happen
        # is (a) caching the N*L packed rows (a MEMORY_AND_DISK local
        # checkpoint of 1e9 deserialized rows OOM'd a 24 GB heap) or
        # (b) letting the pass lineage NEST (the un-checkpointed form
        # re-ran pass i inside pass i+1's broadcast — O(k^2) scans,
        # 796 s at cg_1e6).  Only the N-ROW minima are materialized.
        packed = cost.select(
            "profile_key", "pos", "allele", pack.alias("_pk")
        )
        legs = []
        prev = None
        for _ in range(k_sel):
            stage = packed
            if prev is not None:
                stage = stage.join(
                    F.broadcast(prev), on="profile_key"
                ).filter(F.col("_pk") > F.col("_prev"))
            m = materialize(
                stage.groupBy("profile_key").agg(
                    F.min("_pk").alias("_prev"),
                    F.min_by(F.struct("pos", "allele"), F.col("_pk")).alias(
                        "_b"
                    ),
                )
            )
            legs.append(
                m.select(
                    "profile_key",
                    F.col("_b.pos").alias("pos"),
                    F.col("_b.allele").alias("allele"),
                )
            )
            prev = m.select("profile_key", "_prev")
        best = legs[0]
        for leg in legs[1:]:
            best = best.unionByName(leg)
    else:
        # the window sorts the FULL N*L cost frame per isolate — the
        # biggest exchange in the whole path; scale its partition
        # count with the isolate side (r12 partition law, VERDICT r11
        # #2) instead of sorting 4x the rows through the same pinned
        # count (cg_1e6 -> cg_4e6 measured 4.9x per 4x at 256)
        if n_ver is not None:
            cost = cost.repartition(n_ver, "profile_key")
        w = Window.partitionBy("profile_key").orderBy("cost", "pos")
        best = (
            cost.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k_sel)
            .select("profile_key", "pos", "allele")
        )
    cand = (
        best.join(
            fb(
                sch_exact.select(
                    "st", "pos", F.col("def_allele").alias("allele")
                )
            ),
            on=["pos", "allele"],
        )
        .select("profile_key", "st")
        .unionByName(
            best.join(fb(sch_wild.select("st", "pos")), on="pos").select(
                "profile_key", "st"
            )
        )
        # at most one row per (isolate, st, selected position): the
        # exact and wild legs are disjoint per (st, pos), so the count
        # equals the number of selected positions the definition
        # matches — == k_sel iff it matches at all of them
        .groupBy("profile_key", "st")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == k_sel)
        .select("profile_key", "st")
    )
    full_match = F.aggregate(
        F.zip_with(
            F.col("profile"),
            F.col("def_profile"),
            lambda a, d: ((d == a) | (d == F.lit(WILDCARD))).cast("int"),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    # shuffle hash join (never broadcast, never sort-merge) for the
    # verify: a cgMLST definition row is ~L*20 B (1000-element allele
    # arrays), so the row-count-based broadcast estimate understates
    # bytes by ~3 orders of magnitude (measured: the unhinted cg tier
    # OOM'd the broadcast build at P=1e4, L=1000), and sort-merge
    # would sort the wide arrays for nothing.  BUILD-SIDE CHOICE is
    # the memory law (r11, VERDICT r10 #6): r10 hinted the
    # array-carrying sides, so each task's LongToUnsafeRowMap held
    # ~N*L*20B/partitions — the cg_4e6 tier OOM'd a 24 GB heap in
    # exactly that stack (HashedRelation.grow).  Hinting the NARROW
    # side instead (cand: two longs/row) makes the isolate-side build
    # ~N*24B/partitions and streams the wide arrays, so task heap is
    # essentially flat in N; the definition-side join builds on the
    # defs (P*L*20B total — the genuinely small side).  PARTITION
    # COUNT follows the same law (r12, VERDICT r11 #2): the streamed
    # array bytes per task are ~N*L*20B/partitions, so the verify
    # exchanges scale with the isolate side too (matching repartitions
    # on both inputs keep it to one exchange per side, same as the
    # ENSURE_REQUIREMENTS exchanges they replace).
    iso_side = dense.select("profile_key", "profile")
    def_side = scheme_profiles.select(
        "st", F.col("profile").alias("def_profile")
    )
    ver = cand
    if n_ver is not None:
        ver = ver.repartition(n_ver, "profile_key")
        iso_side = iso_side.repartition(n_ver, "profile_key")
    joined = ver.hint("shuffle_hash").join(iso_side, on="profile_key")
    if dim_mode:
        # the definition arrays are the broadcastable dimension
        # (P*L cells under DIM_BROADCAST_MAX_BYTES), so the
        # array-carrying candidate rows never exchange on st at all —
        # the isolate arrays ship exactly once (the profile_key
        # exchange above)
        return (
            joined.join(F.broadcast(def_side), on="st")
            .filter(full_match == total_loci)
            .select("profile_key", "st")
        )
    if n_ver is not None:
        joined = joined.repartition(n_ver, "st")
        def_side = def_side.repartition(n_ver, "st")
    return (
        joined.join(def_side.hint("shuffle_hash"), on="st")
        .filter(full_match == total_loci)
        .select("profile_key", "st")
    )


def assign_scheme_fields_multi(
    designations: DataFrame,
    scheme_profiles: DataFrame,
    total_loci: int,
    allow_missing_loci: bool = False,
    prune_candidates: bool = True,
    prune_positions: int | None = None,
    broadcast_defs: bool | None = None,
) -> DataFrame:
    """A5 path (b): scheme-field assignment for isolates with
    MULTIPLE designations at some loci (paralogous double
    designations) — and the r11 answer to VERDICT r10 #5.

    The reference does NOT expand designation combinations.  Its
    per-isolate path-(b) loop builds one test per position,
    ``profile[i] = ANY(ARRAY(SELECT allele_id FROM ad WHERE locus=...
    AND isolate_id=...))`` (sql/isolatedb.sql:1555-1566), and its
    allow-missing query is the same membership test with 'N' appended
    to the isolate's set (sql/isolatedb.sql:1526-1540): a definition
    matches iff AT EVERY POSITION its allele is one of the isolate's
    designations there (or, allow-missing only, the definition holds
    'N').  Positional SET MEMBERSHIP, no cross-product — so the
    feared pre-expansion fan-out of Π(designations per locus)
    candidate vectors never exists in the reference and never needs
    to exist here.

    'N' semantics (r12, ADVICE r11): ``allow_missing_loci=False`` is
    the reference's plain ELSE branch — ``profile[i] =
    ANY(designations)`` with NOTHING appended, so a definition 'N' is
    an ordinary allele value that matches only a literal 'N'
    designation (out-of-domain for real schemes: non-allow-missing
    schemes carry no 'N' profiles, but the letter of the branch is
    reproduced).  Only ``allow_missing_loci=True`` (the IF branch,
    :1534-1535, which appends 'N' to the isolate's per-position set)
    gives 'N' its match-anything meaning.

    ``designations``: long form (profile_key, pos, allele), ANY number
    of rows per (profile_key, pos); pos is the 0-based warehouse index
    (scheme_warehouse_indices order).  ``allow_missing_loci=False``
    additionally restricts to isolates designated at ALL total_loci
    positions (HAVING COUNT(DISTINCT locus) = L, :1546-1547); True
    makes every designated isolate eligible, with a missing position
    matched only by a definition 'N'.

    Scale shape: everything is linear in |designations| (sum, not
    product, of per-locus designation counts).  The whole pipeline
    hangs off ONE shuffle of the designations on profile_key (a
    per-isolate ``collect_set`` — bounded by the isolate's designation
    count, never a combination product).  With ``broadcast_defs`` (and
    ``total_loci <= INTERSECT_UNROLL_MAX_LOCI``) the plan is
    ``_multi_intersect``: the definition side collapses to broadcast
    per-(pos, allele) ST posting lists and the membership test is a
    positional array intersection computed in-stage — no candidate
    row set, no verify join, no further non-broadcast exchange (r12,
    VERDICT r11 #1 — the r11 form paid ~15 sequential tiny-stage
    shuffles at gate scale, and a candidate-join form materialized
    35M rows at sf0.1 to keep 12k).  Otherwise
    ``_multi_pruned_shuffle`` stages the rarest-k candidate join in
    long form — linear in |designations| + |candidates|, the shape
    the 2.6e8-designation cgMLST ladder proved out.

    ``broadcast_defs``: True broadcasts the definition-side frames
    (posting lists or frequency tables and exploded rows) — right
    when the scheme definition table is driver-small (every real
    scheme: even cgMLST definition tables are ~P*L rows where P is
    thousands, but their EXPLODED long form can reach 1e8+ — hence
    the knob).  False shuffles them.  None (default) decides from the
    definition long-form row count measured by the auto-knob probe
    (``<= BROADCAST_DEFS_MAX_ROWS``).

    EAGER-PROBE NOTE (r12, ADVICE r11): with the defaults
    (``prune_candidates=True`` and ``prune_positions`` or
    ``broadcast_defs`` unset) this function may run one small Spark
    aggregate over the definition long form AT CALL TIME to pick the
    knobs — construction is not fully lazy.  The probe result is
    memoized per (definition plan, total_loci) for the process
    (``_PROBE_MEMO``), so iterative callers pay it once; pass BOTH
    knobs explicitly to skip the probe entirely (``prune_positions``
    only matters on the shuffle path).

    Returns (profile_key, st)."""
    iso_long = designations.select(
        "profile_key",
        F.col("pos").cast("int").alias("pos"),
        F.col("allele").cast("string").alias("allele"),
    )
    defs = scheme_profiles.select(
        "st", F.col("profile").cast("array<string>").alias("profile")
    ).filter(F.size("profile") == total_loci)
    sch = defs.select(
        "st", F.posexplode("profile").alias("pos", "def_allele")
    )
    if allow_missing_loci:
        sch_exact = sch.filter(F.col("def_allele") != WILDCARD)
        sch_wild = sch.filter(F.col("def_allele") == WILDCARD)
    else:
        # plain ELSE branch: 'N' is an ordinary allele value
        sch_exact = sch
        sch_wild = None
    if prune_candidates:
        return _assign_multi_pruned(
            iso_long, defs, sch, sch_exact, sch_wild, total_loci,
            allow_missing_loci, prune_positions, broadcast_defs,
        )
    # the one designation-side shuffle: per-isolate distinct
    # (pos, allele) set.  Replaces the r11 chain distinct ->
    # groupBy(count_distinct) -> semi-join (4 exchanges) with ONE
    # exchange; the set is bounded by the isolate's designation count.
    grp = _multi_grp(iso_long, total_loci, allow_missing_loci)
    iso = grp.select("profile_key", F.explode("_ds").alias("_d")).select(
        "profile_key",
        F.col("_d.pos").alias("pos"),
        F.col("_d.allele").alias("allele"),
    )  # narrow: stays partitioned on profile_key
    exact = iso.join(
        sch_exact,
        (iso["pos"] == sch_exact["pos"])
        & (iso["allele"] == sch_exact["def_allele"]),
    ).select("profile_key", "st", iso["pos"])
    legs = exact
    if sch_wild is not None:
        # the reference appends 'N' to the isolate's set at EVERY
        # position, designated or not (:1534-1535), so a wildcard
        # definition row matches every eligible isolate: a
        # broadcast-dimension grid (wildcard rows are few by design —
        # same assumption as the dense path's wild leg)
        wild = grp.select("profile_key").crossJoin(
            F.broadcast(sch_wild.select("st", "pos"))
        )
        legs = exact.unionByName(wild.select("profile_key", "st", "pos"))
    # rows are unique per (profile_key, st, pos): a definition holds
    # ONE allele at a position (>= matches at most one of the
    # isolate's distinct designations) and the exact/wild legs are
    # disjoint per (st, pos) — so count(1) counts matched positions
    return (
        legs.groupBy("profile_key", "st")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == total_loci)
        .select("profile_key", "st")
    )


# loci cap for the fused positional-intersection multi plan: the
# bitmap scan does O(L) numpy ops of n_defs/64 words per isolate —
# the fastest shape by far for MLST-class schemes, but at cgMLST
# widths (L ~ 1e3, P ~ 1e4 defs) the per-isolate loop and the posting
# table both grow past what the one-pass scan should carry; those
# take the long-form staging.
INTERSECT_UNROLL_MAX_LOCI = 64

# byte cap for the driver-built posting bitmap (r13, VERDICT r12 #3):
# the matrix is (distinct (pos, allele) pairs + 1) x n_defs/8 bytes,
# so a row-guarded input (<= BROADCAST_DEFS_MAX_ROWS definitions) can
# still blow it up via allele diversity (2M defs x high-cardinality
# alleles is multi-GB on the driver before the broadcast even
# starts).  The build loop aborts the moment its running estimate
# crosses the cap and the dispatcher takes the laddered shuffle plan
# instead.  Size SPARK_GRAFT_INTERSECT_BITMAP_MAX_BYTES (read per
# call) to roughly 1/4 of driver memory: np.stack transiently doubles
# the matrix and the broadcast pickles one more copy.
INTERSECT_BITMAP_DEFAULT_MAX_BYTES = 512 * 1024 * 1024


def _multi_grp(
    iso_long: DataFrame, total_loci: int, allow_missing_loci: bool
) -> DataFrame:
    """Per-isolate distinct designation set (struct form) + the
    completeness eligibility filter (HAVING COUNT(DISTINCT locus) = L,
    sql/isolatedb.sql:1546-1547) — ONE exchange."""
    grp = iso_long.groupBy("profile_key").agg(
        F.collect_set(F.struct("pos", "allele")).alias("_ds")
    )
    if not allow_missing_loci:
        grp = grp.filter(
            F.size(
                F.array_distinct(F.transform("_ds", lambda s: s["pos"]))
            )
            == total_loci
        )
    return grp


def _assign_multi_pruned(
    iso_long: DataFrame,
    defs: DataFrame,
    sch: DataFrame,
    sch_exact: DataFrame,
    sch_wild: DataFrame | None,
    total_loci: int,
    allow_missing_loci: bool,
    n_positions: int | None,
    broadcast_defs: bool | None,
) -> DataFrame:
    """Plan dispatcher for the multi-designation membership join
    (``assign_scheme_fields_multi``) — the two r12 shapes (VERDICT
    r11 #1):

    - ``_multi_intersect``: broadcast-defs AND total_loci <=
      INTERSECT_UNROLL_MAX_LOCI.  ONE designation shuffle total; the
      per-(pos, allele) ST posting lists broadcast and the whole
      membership test collapses to a positional array intersection —
      no candidate row set is ever materialized, so rarest-k pruning
      has nothing left to prune (``n_positions`` is irrelevant here).
    - ``_multi_pruned_shuffle``: everything else — the rarest-k
      candidate staging that the 2.6e8-designation cgMLST ladder
      proved out, upgraded with the r12 allele-carry (no probe-side
      re-join) and the per-definition verify arrays.
    """
    if broadcast_defs is None or (
        n_positions is None
        and not (broadcast_defs and total_loci <= INTERSECT_UNROLL_MAX_LOCI)
    ):
        auto_k, n_sch_rows = _probe_defs(sch, total_loci)
        if n_positions is None:
            n_positions = auto_k
        if broadcast_defs is None:
            broadcast_defs = n_sch_rows <= BROADCAST_DEFS_MAX_ROWS
    if broadcast_defs and total_loci <= INTERSECT_UNROLL_MAX_LOCI:
        out = _multi_intersect(
            iso_long, defs, total_loci, allow_missing_loci,
            wild_is_literal=sch_wild is None,
        )
        if out is not None:
            return out
        # posting bitmap over the byte budget (allele diversity, not
        # row count) — take the laddered plan; probe for k if the
        # intersect-eligible branch skipped it above
        if n_positions is None:
            n_positions, _ = _probe_defs(sch, total_loci)
    k_sel = max(1, min(n_positions, total_loci))
    return _multi_pruned_shuffle(
        iso_long, defs, sch_exact, sch_wild, total_loci,
        allow_missing_loci, k_sel, broadcast_defs,
    )


def _multi_intersect(
    iso_long: DataFrame,
    defs: DataFrame,
    total_loci: int,
    allow_missing_loci: bool,
    wild_is_literal: bool,
) -> DataFrame | None:
    """The single-shuffle positional-intersection multi plan (r12,
    VERDICT r11 #1: the r11 leg spent ~5 s at sf0.1 on ~15 sequential
    tiny-data exchanges; a candidate-join form materialized 35M rows
    at sf0.1).  Requires driver-small definitions (broadcast mode) and
    total_loci <= INTERSECT_UNROLL_MAX_LOCI.

    Key fact: a definition holds exactly ONE allele per position, so
    the per-(pos, allele) ST posting lists at a position are DISJOINT
    across alleles, and the membership test (matches at EVERY
    position) is exactly

        st  in  INTERSECT over p of ( UNION over the isolate's
        alleles a at p of postings[p][a]  ∪  wild_sts[p] )

    — the intersection IS the full verify.  No candidate row set, no
    membership re-check, no rarest-k pruning needed.

    Implementation (r12 optimization round): the definition table
    collects to the driver ONCE (it is dimension-small by this mode's
    contract — same data Spark itself would collect to build a
    broadcast relation) and becomes per-(pos, allele) ST posting
    BITMAPS (n_defs bits each) in a SparkContext broadcast.  The
    isolate long form takes its one hash exchange on profile_key
    (pinned to the session shuffle-partition count — AQE's byte-based
    coalesce starved the CPU-bound scan onto 4 of 32 cores) and a
    single ``mapInPandas`` pass per partition ORs each position's
    posting bitmaps and ANDs across positions at numpy speed.

    Why not pure SQL expressions: the first r12 form computed the
    intersection with unrolled higher-order-function terms
    (filter/transform/flatten + array_intersect).  HOFs never enter
    whole-stage codegen, and the interpreted expression tree's cost
    proved JIT-state-dependent — the same sf0.1 stage measured 60 to
    1035 CPU-seconds run to run (Spark REST stage metrics, r12
    session), dragging the whole bench battery with it (code-cache
    pollution).  The bitmap scan is ~3 CPU-s at the same shape and
    does not degrade (guide §4.2: batch-vectorized native code over
    interpreted row-at-a-time expression evaluation).

    'N' handling: ``wild_is_literal=False`` (the allow-missing IF
    branch) keeps definition-'N' rows OUT of the posting table and ORs
    their STs into every position's bitmap (sql/isolatedb.sql:
    1534-1535 appends 'N' to the isolate's set at every position);
    ``wild_is_literal=True`` (the plain ELSE branch) makes 'N' an
    ordinary posting entry that matches only a literal 'N'
    designation.  ``allow_missing_loci=False`` additionally keeps the
    completeness gate: distinct designated-position count ==
    total_loci (sql/isolatedb.sql:1546-1547), counted over ALL
    designation rows exactly as ``_multi_grp`` did."""
    import os

    import numpy as np

    spark = iso_long.sparkSession
    st_type = defs.schema["st"].dataType
    key_type = iso_long.schema["profile_key"].dataType
    max_bytes = int(
        os.environ.get(
            "SPARK_GRAFT_INTERSECT_BITMAP_MAX_BYTES",
            INTERSECT_BITMAP_DEFAULT_MAX_BYTES,
        )
    )
    # dimension-small by contract (the same rows a broadcast build
    # would collect); one job at construction time — the eager-probe
    # note on the public API covers this path too
    def_rows = (
        defs.select("st", "profile")
        .filter(F.size("profile") == total_loci)
        .collect()
    )
    n_defs = len(def_rows)
    n_words = max(1, (n_defs + 63) // 64)
    st_vals = [r["st"] for r in def_rows]
    post_rows: list = [np.zeros(n_words, dtype=np.uint64)]  # [0] = empty
    post_idx: dict = {}
    wild_mat = np.zeros((max(total_loci, 1), n_words), dtype=np.uint64)
    for i, r in enumerate(def_rows):
        word, bit = divmod(i, 64)
        for p, a in enumerate(r["profile"]):
            if not wild_is_literal and a == WILDCARD:
                wild_mat[p, word] |= np.uint64(1 << bit)
                continue
            j = post_idx.get((p, a))
            if j is None:
                # byte guard (VERDICT r12 #3): abort the build the
                # moment the posting matrix would cross the cap — the
                # dispatcher falls back to _multi_pruned_shuffle.
                # Checked only when a NEW (pos, allele) row appears,
                # so the good case pays one comparison per distinct
                # pair and the bad case stops at the cap, not after
                # allocating a multi-GB driver matrix.
                if (len(post_rows) + 1) * n_words * 8 + wild_mat.nbytes \
                        > max_bytes:
                    return None
                j = post_idx[(p, a)] = len(post_rows)
                post_rows.append(np.zeros(n_words, dtype=np.uint64))
            post_rows[j][word] |= np.uint64(1 << bit)
    bc = spark.sparkContext.broadcast(
        (
            np.stack(post_rows),
            post_idx,
            wild_mat,
            st_vals,
            total_loci,
            allow_missing_loci,
        )
    )

    def _scan(pdfs):
        import numpy as np
        import pandas as pd

        post_mat, lookup, wild, sts, loci, allow_missing = bc.value
        st_np = np.asarray(sts, dtype=object)
        # batches can split an isolate's rows: fold the partition into
        # one frame first (bounded by rows-per-partition, which the
        # pinned exchange keeps at ~|designations| / shuffle partitions)
        parts = list(pdfs)
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts)
        if pdf.empty:
            return
        pdf = pdf.reset_index(drop=True)
        # posting-row index per designation (0 = no posting -> empty)
        pdf["_ridx"] = np.fromiter(
            (
                lookup.get((p, a), 0)
                for p, a in zip(pdf["pos"].tolist(), pdf["allele"].tolist())
            ),
            dtype=np.int64,
            count=len(pdf),
        )
        keys_out: list = []
        sts_out: list = []
        for key, g in pdf.groupby("profile_key", sort=False):
            gpos = g["pos"].to_numpy()
            gridx = g["_ridx"].to_numpy()
            if not allow_missing and np.unique(gpos).size != loci:
                continue  # completeness gate (ELSE branch)
            acc = None
            for p in range(loci):
                rows = gridx[gpos == p]
                rows = rows[rows > 0]
                if rows.size:
                    bits = np.bitwise_or(
                        np.bitwise_or.reduce(post_mat[rows], axis=0),
                        wild[p],
                    )
                else:
                    bits = wild[p]
                if acc is None:
                    acc = bits.copy()
                else:
                    np.bitwise_and(acc, bits, out=acc)
                if not acc.any():
                    break
            else:
                if acc is None:
                    continue  # degenerate loci == 0
                hit = np.flatnonzero(
                    np.unpackbits(
                        acc.view(np.uint8), bitorder="little"
                    )[: len(sts)]
                )
                if hit.size:
                    # distinct by st VALUE (duplicate-ST definition
                    # rows collapse, same as array_intersect /
                    # array_distinct in the expression form)
                    vals = pd.unique(st_np[hit])
                    keys_out.extend([key] * len(vals))
                    sts_out.extend(vals.tolist())
        yield pd.DataFrame({"profile_key": keys_out, "st": sts_out})

    try:
        n_shuffle = int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        iso_long = iso_long.repartition(n_shuffle, "profile_key")
    except (TypeError, ValueError):
        pass  # e.g. "auto" under some AQE configs: let AQE size it
    out_schema = StructType(
        [StructField("profile_key", key_type), StructField("st", st_type)]
    )
    return iso_long.select("profile_key", "pos", "allele").mapInPandas(
        _scan, schema=out_schema
    )


def _multi_pruned_shuffle(
    iso_long: DataFrame,
    defs: DataFrame,
    sch_exact: DataFrame,
    sch_wild: DataFrame | None,
    total_loci: int,
    allow_missing_loci: bool,
    k_sel: int,
    broadcast_defs: bool,
) -> DataFrame:
    """The linear long-form staging for big definition tables or wide
    schemes — the shape the 2.6e8-designation cgMLST ladder proved
    out (BASELINE.md r11/r12), with two r12 upgrades:

    1. ALLELE CARRY: the per-(isolate, position) cost aggregate also
       collects the distinct alleles there, so candidate generation
       explodes them straight out of the argmin result instead of
       re-joining the long form (one fewer co-partitioned join+sort).
    2. ARRAY VERIFY: survivors join the per-definition REQUIRED-pair
       array (precomputed on the P-row defs side) and the per-isolate
       designation set, then one ``array_intersect`` size check —
       O(L + designations-per-isolate) per candidate.  The r11
       long-row verify shuffled |cand|*L rows twice (cand x sch
       explode, then the designation left-join); this ships each
       side's array once.  Build sides follow the r11 memory law:
       narrow candidate keys and the bounded per-isolate sets build,
       the array-carrying definition rows stream.

    Stage chain: grp exchange (designations on profile_key) ->
    freq join on (pos, allele) -> ONE re-cluster back to profile_key
    (replaces three downstream exchanges) -> cost/argmin/probe all
    shuffle-free -> candidate (pos, allele) equi-join -> verify.
    """
    maybe_b = F.broadcast if broadcast_defs else (lambda df: df)
    grp = _multi_grp(iso_long, total_loci, allow_missing_loci)
    iso = grp.select("profile_key", F.explode("_ds").alias("_d")).select(
        "profile_key",
        F.col("_d.pos").alias("pos"),
        F.col("_d.allele").alias("allele"),
    )  # narrow: stays partitioned on profile_key
    exact_freq = sch_exact.groupBy(
        "pos", F.col("def_allele").alias("allele")
    ).agg(F.count(F.lit(1)).alias("n_prof"))
    joined = iso.join(maybe_b(exact_freq), on=["pos", "allele"], how="left")
    if not broadcast_defs:
        # re-cluster ONCE on profile_key: the (pos, allele) join key
        # destroyed grp's partitioning, and both following aggregates
        # plus the grid join all cluster on profile_key
        joined = joined.repartition("profile_key")
    desig_cost = joined.groupBy("profile_key", "pos").agg(
        F.sum(F.coalesce(F.col("n_prof"), F.lit(0))).alias("_ce"),
        F.collect_set("allele").alias("_as"),
    )
    if allow_missing_loci:
        # positions the isolate LACKS must still be selectable; the
        # grid is a narrow explode over the pk-partitioned grp
        base_cost = grp.select(
            "profile_key",
            F.explode(
                F.sequence(F.lit(0), F.lit(total_loci - 1))
            ).alias("pos"),
        ).join(desig_cost, on=["profile_key", "pos"], how="left")
    else:
        # complete isolates carry every position in desig_cost already
        base_cost = desig_cost
    if sch_wild is not None:
        wild_freq = sch_wild.groupBy("pos").agg(
            F.count(F.lit(1)).alias("n_wild")
        )
        cost = base_cost.join(
            F.broadcast(wild_freq), on="pos", how="left"
        ).select(
            "profile_key", "pos", "_as",
            (
                F.coalesce(F.col("_ce"), F.lit(0))
                + F.coalesce(F.col("n_wild"), F.lit(0))
            ).alias("cost"),
        )
    else:
        cost = base_cost.select(
            "profile_key", "pos", "_as",
            F.coalesce(F.col("_ce"), F.lit(0)).alias("cost"),
        )
    if k_sel == 1:
        best = (
            cost.groupBy("profile_key")
            .agg(
                F.min_by(
                    F.struct("pos", "_as"), F.struct("cost", "pos")
                ).alias("b")
            )
            .select(
                "profile_key",
                F.col("b.pos").alias("pos"),
                F.col("b._as").alias("_as"),
            )
        )
    else:
        w = Window.partitionBy("profile_key").orderBy("cost", "pos")
        best = (
            cost.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k_sel)
            .select("profile_key", "pos", "_as")
        )
    cand = (
        best.select("profile_key", "pos", F.explode("_as").alias("allele"))
        .join(
            maybe_b(
                sch_exact.select(
                    "st", "pos", F.col("def_allele").alias("allele")
                )
            ),
            on=["pos", "allele"],
        )
        .select("profile_key", "st", "pos")
    )
    if sch_wild is not None:
        cand = cand.unionByName(
            best.join(
                F.broadcast(sch_wild.select("st", "pos")), on="pos"
            ).select("profile_key", "st", "pos")
        )
    if k_sel == 1:
        # unique per (profile_key, st) already — see the fused path
        cand_keys = cand.select("profile_key", "st")
    else:
        cand_keys = (
            cand.groupBy("profile_key", "st")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") == k_sel)
            .select("profile_key", "st")
        )
    # per-definition REQUIRED pairs, computed once on the P-row defs
    # side (not per candidate): all L pairs under the literal-'N'
    # ELSE semantics; the non-'N' ones under allow_missing
    def_pairs = F.transform(
        F.sequence(F.lit(0), F.lit(total_loci - 1)),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.element_at("profile", i.cast("int") + 1).alias("allele"),
        ),
    )
    if allow_missing_loci:
        def_pairs = F.filter(
            def_pairs, lambda s: s["allele"] != F.lit(WILDCARD)
        )
    defs_arr = defs.select(
        "st", def_pairs.alias("_dp"), F.size(def_pairs).alias("_req")
    )
    matched = F.size(F.array_intersect(F.col("_ds"), F.col("_dp")))
    if broadcast_defs:
        verified = cand_keys.join(F.broadcast(defs_arr), on="st").join(
            grp, on="profile_key"
        )
    else:
        # shuffle form: build sides per the r11 memory law — the
        # narrow/bounded sides build, the array-carrying defs stream
        verified = (
            cand_keys.hint("shuffle_hash")
            .join(defs_arr, on="st")
            .join(grp.hint("shuffle_hash"), on="profile_key")
        )
    return verified.filter(matched == F.col("_req")).select(
        "profile_key", "st"
    )


def define_new_profiles(
    isolate_profiles: DataFrame,
    scheme_profiles: DataFrame,
    max_missing: int = 0,
    start_pk: int | None = None,
    total_loci: int | None = None,
) -> DataFrame:
    """Auto-define new scheme profiles from isolate designations —
    scripts/automation/define_profiles.pl:111-330: isolates whose
    profile has at most ``max_missing`` missing loci ('N'/'0',
    :333-373 get_profile) and matches NO existing profile get a new
    sequential primary key (get_next_pk :306, the W5 max+1 semantics);
    identical isolates processed later reuse the newly-defined profile
    (the script's in-run cache) — here: one distinct profile -> one new
    ST, assigned in first-isolate order for determinism.

    ``isolate_profiles``/``scheme_profiles`` are build_profiles frames
    (profile_key, profile, profile_md5). ``start_pk`` overrides the
    max-existing-ST scan (pass it when scheme STs are not numeric).
    Pass ``total_loci`` (strongly recommended): the reference's
    get_profile always emits a FULL-LENGTH vector ('N' in every
    undesignated slot), so a short vector here means undesignated loci
    (not counted by ``max_missing``, which only sees explicit 'N'/'0')
    and a long one means unresolved paralogous designations — both
    would be defined as corrupt warehouse rows without the guard.
    Returns (st, profile, profile_md5, n_isolates, isolate_keys).

    The new-ST window is a global rank (single-partition exchange):
    fine because only the NEW profiles of one run rank here — a bounded
    set by construction, never the whole warehouse.
    """
    missing_ct = F.aggregate(
        F.col("profile"),
        F.lit(0),
        lambda acc, v: acc + v.isin("N", "0").cast("int"),
    )
    eligible = isolate_profiles.filter(missing_ct <= max_missing)
    if total_loci is not None:
        eligible = eligible.filter(F.size("profile") == total_loci)
    unmatched = eligible.join(
        scheme_profiles.select("profile_md5"), on="profile_md5", how="left_anti"
    )
    if start_pk is None:
        start_pk = (
            scheme_profiles.agg(
                F.max(F.col("profile_key").try_cast("long")).alias("m")
            ).head()["m"]
            or 0
        )
    w = Window.orderBy("_first", "profile_md5")
    return (
        unmatched.groupBy("profile_md5")
        .agg(
            F.first("profile").alias("profile"),
            F.min("profile_key").alias("_first"),
            F.count(F.lit(1)).cast("long").alias("n_isolates"),
            F.array_sort(F.collect_list("profile_key")).alias("isolate_keys"),
        )
        .withColumn(
            "st",
            (F.lit(start_pk) + F.row_number().over(w)).cast("string"),
        )
        .select(
            "st", "profile", "profile_md5", "n_isolates", "isolate_keys"
        )
    )


def scheme_completeness(
    designations: DataFrame,
    scheme_loci: DataFrame,
    id_col: str,
    locus_col: str,
    total_loci: int,
) -> DataFrame:
    """A6: per-isolate COUNT(DISTINCT locus) of designated scheme loci
    (create_isolate_scheme_status_table, sql/isolatedb.sql:1590-1660).
    DISTINCT because paralogous double designations must count once."""
    return (
        designations.join(F.broadcast(scheme_loci), on=locus_col, how="left_semi")
        .groupBy(id_col)
        .agg(F.countDistinct(locus_col).alias("n_loci"))
        .select(
            id_col,
            "n_loci",
            F.round(F.col("n_loci") / F.lit(total_loci), 4).alias("completeness"),
        )
    )
