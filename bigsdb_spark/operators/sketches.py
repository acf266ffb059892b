"""Mergeable distinct-count sketches for incremental dashboards.

Beyond-reference extension of the dashboard aggregates (SURVEY A4 —
the reference recounts ``COUNT(DISTINCT ...)`` per page render,
Dashboard.pm; fine at registry scale, a full-corpus rescan at 100 TB).
Here each partition of data is summarized ONCE into an Apache
DataSketches HLL sketch (Spark's built-in ``hll_sketch_agg`` family —
JVM-side, codegen, no UDFs), and any rollup — other grouping sets,
new-data-only refreshes, cross-table unions — is a SKETCH MERGE, which
is associative, commutative and idempotent-friendly: merging loses
nothing beyond the sketch's own resolution — the merged estimate
tracks sketching the raw union within the sketch's standard error,
but not to a fixed ±1: once past coupon mode the two integers depend
on merge order and partitioning (570 distinct values: merged 572 vs
direct 575 under one 4-way hash repartitioning) — so a
dashboard can answer "distinct users this quarter" by merging 90 daily
sketches instead of rescanning 90 days of events.

The sketch column is an opaque ``binary`` — persist it in a parquet
rollup table (committed via snaplog.Materialization like every other
derived cache) keyed by the finest grouping you will ever need, and
serve every coarser grouping by ``merge_sketches`` over it.

Estimates are exact only while a sketch is in coupon (list/set) mode,
which ends at 3/4 · 2^(lgk-3) coupons — 384 at the lgConfigK=12
default, so a few hundred distinct values.  Past that they are
approximate (HLL standard error ~1.04/sqrt(2^lgk); lgConfigK=12
default ≈ 1.6%): use ``approx=True`` dashboards, never joins/filters
that need exact semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_sketch_rollup(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Finest-grain sketch table: one row per group with an HLL sketch
    of ``value_col``'s distinct values (binary ``sketch`` column) plus
    the exact per-group row count (cheap at agg time, useful beside the
    estimate).  This is the table you persist and refresh per
    partition of new data."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def merge_sketches(
    rollup: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Re-aggregate a sketch table to a coarser grouping by MERGING
    sketches (no raw-data rescan).  Pass ``group_cols=[]`` for the
    grand total."""
    agg = [
        F.hll_union_agg(F.col("sketch")).alias("sketch"),
        F.sum("n_rows").alias("n_rows"),
    ]
    if group_cols:
        return rollup.groupBy(*group_cols).agg(*agg)
    return rollup.agg(*agg)


def with_estimate(rollup: DataFrame, out_col: str = "distinct_est") -> DataFrame:
    """Materialize the integer distinct-count estimate next to each
    sketch (the sketch column is kept so the row stays mergeable)."""
    return rollup.withColumn(
        out_col, F.hll_sketch_estimate(F.col("sketch"))
    )


def upsert_sketch_rollup(
    mat,
    batch: DataFrame,
    group_col: str,
    value_col: str,
    lgk: int = 12,
) -> str:
    """Incremental dashboard refresh: sketch ONLY the new batch, merge
    with the stored sketches of the touched groups, and commit through
    a snaplog-backed ``cache.Materialization`` (reader isolation,
    optimistic concurrency, time travel — the same governance as every
    derived cache here).  Cost is O(batch + touched groups); raw
    history is never rescanned.

    Single writer per rollup assumed (the repo's streaming-refresh
    convention): the merge reads the current snapshot once, so two
    concurrent upserts touching the same group would need this
    read-merge-commit cycle retried at THIS level — the inner
    ``refresh_incremental`` retry only protects against writers
    touching OTHER keys."""
    delta = distinct_sketch_rollup(batch, [group_col], value_col, lgk)
    if not mat.exists():
        return mat.refresh_full(delta)
    changed = delta.select(group_col).distinct()
    current_touched = mat.read().join(
        changed, on=group_col, how="left_semi"
    )
    merged = merge_sketches(
        current_touched.unionByName(delta), [group_col]
    )
    return mat.refresh_incremental(merged, changed, key=group_col)


def union_sketch_columns(a: Column, b: Column) -> Column:
    """Row-wise sketch union (e.g. combining two metric columns or the
    current batch's sketch with the stored one in an incremental
    upsert)."""
    return F.hll_union(a, b)


# ---------------------------------------------------------------------------
# Quantiles: mergeable KLL sketches (r8 — the A9 seqbin-stats / A4
# dashboard-histogram family, DashboardPage.pm:1524 + SeqbinBreakdown.pm,
# served merge-not-rescan).  Spark 4's built-in Datasketches
# KllDoublesSketch aggregates (kll_sketch_agg_double family) — JVM-side,
# no UDFs.  KLL is EXACT while a sketch has seen <= k items (no
# compaction has happened), so tests can pin equality against
# percentile() in that regime and bounded rank error (~1.65% at k=200)
# past it.
# ---------------------------------------------------------------------------


def quantile_sketch_rollup(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 200,
) -> DataFrame:
    """Finest-grain quantile-sketch table: one row per group with a KLL
    doubles sketch of ``value_col`` (binary ``kll`` column) plus the
    exact per-group non-null value count.  Persist at the finest
    grouping (e.g. per day) and serve every coarser grouping / longer
    horizon by ``merge_quantile_sketches`` — never rescanning raw
    history, the same contract as ``distinct_sketch_rollup``."""
    v = F.col(value_col).cast("double")
    agg = [
        F.kll_sketch_agg_double(v, F.lit(k)).alias("kll"),
        F.count(v).alias("n_values"),
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*agg)
    return df.agg(*agg)


def merge_quantile_sketches(
    rollup: DataFrame,
    group_cols: list[str],
    k: int = 200,
) -> DataFrame:
    """Re-aggregate a KLL rollup to a coarser grouping by MERGING
    sketches.  ``group_cols=[]`` -> grand total."""
    agg = [
        F.kll_merge_agg_double(F.col("kll"), F.lit(k)).alias("kll"),
        F.sum("n_values").alias("n_values"),
    ]
    if group_cols:
        return rollup.groupBy(*group_cols).agg(*agg)
    return rollup.agg(*agg)


def with_quantiles(
    rollup: DataFrame,
    probs: list[float],
    prefix: str = "q",
) -> DataFrame:
    """Materialize quantile estimates next to each sketch, one column
    per requested rank fraction (``q50`` for 0.5 etc.); the sketch
    column is kept so the row stays mergeable."""
    out = rollup
    for p in probs:
        name = f"{prefix}{int(round(p * 100))}"
        out = out.withColumn(
            name, F.kll_sketch_get_quantile_double(F.col("kll"), F.lit(float(p)))
        )
    return out


def histogram_from_quantile_sketch(
    rollup: DataFrame,
    bin_width: float,
    lo: float | None = None,
    hi: float | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Approximate fixed-width histogram served from a KLL sketch row:
    per-bin count ~= n * (rank(hi) - rank(lo)).  Datasketches rank is
    INCLUSIVE (fraction of items <= value), so the served bin is
    (lo, hi] — values exactly ON a lower bin edge land one bin below
    the floor-bucketing histogram's (A4 ``histogram()``) bin; for
    continuous-valued columns the two agree within sketch rank error.

    Spark's ``kll_sketch_get_rank_double`` takes only FOLDABLE query
    values, so the bin edges are baked into the plan as literals —
    ``lo``/``hi`` bound the domain; when omitted they are fetched from
    the merged rollup's min/max quantiles in one tiny driver action
    (the rollup is a bounded sketch table, never raw rows).  Dashboard
    histograms have tens of bins, so the per-edge column fan-out is
    plan-time bounded.  Output: group cols + (bin, bin_start, n_est).
    """
    import math

    gcols = list(group_cols or [])
    if lo is None or hi is None:
        rows = (
            merge_quantile_sketches(rollup, [])
            # an empty/all-null rollup merges to an EMPTY sketch buffer
            # (n_values 0/NULL) and kll_sketch_get_quantile_double
            # THROWS on empty sketches, so gate on the exact count and
            # detect emptiness from the row count
            .filter(F.col("n_values") > 0)
            .select(
                F.kll_sketch_get_quantile_double("kll", F.lit(0.0)).alias("lo"),
                F.kll_sketch_get_quantile_double("kll", F.lit(1.0)).alias("hi"),
            )
            .collect()
        )
        if not rows or rows[0].lo is None or rows[0].hi is None:
            # No domain to bin — fail with the real reason instead of
            # math.floor(None)'s opaque TypeError.
            raise ValueError(
                "histogram_from_quantile_sketch: rollup is empty or "
                "all-null (no KLL sketch to derive bounds from); pass "
                "explicit lo/hi or supply a non-empty rollup"
            )
        lo = rows[0].lo if lo is None else lo
        hi = rows[0].hi if hi is None else hi
    lo_bin = int(math.floor(lo / bin_width))
    hi_bin = int(math.floor(hi / bin_width))
    if hi_bin - lo_bin > 10_000:
        raise ValueError(
            f"histogram_from_quantile_sketch: {hi_bin - lo_bin + 1} bins "
            "would be baked into the plan; widen bin_width or narrow "
            "[lo, hi] (this serves dashboard-scale histograms)"
        )

    def edge_rank(b: int):
        return F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0),
                F.kll_sketch_get_rank_double(
                    "kll", F.lit(float(b * bin_width))
                ),
            ),
        )

    pairs = F.array(*[
        F.struct(
            F.lit(b).cast("long").alias("bin"),
            (edge_rank(b + 1) - edge_rank(b)).alias("frac"),
        )
        for b in range(lo_bin, hi_bin + 1)
    ])
    bins = rollup.select(
        *gcols, "n_values", F.explode(pairs).alias("_p")
    )
    return bins.select(
        *gcols,
        F.col("_p.bin").alias("bin"),
        (F.col("_p.bin") * F.lit(bin_width)).alias("bin_start"),
        F.round(F.col("n_values") * F.col("_p.frac")).cast("long").alias(
            "n_est"
        ),
    ).filter(F.col("n_est") > 0)


# ---------------------------------------------------------------------------
# Exact mergeable histograms: fixed-width bin-count rollups.  A bin
# count is itself a mergeable "sketch" (merge = sum), so the A4
# dashboard histogram (DashboardPage.pm:1524 floor-bucketing) can be
# served EXACTLY from a persisted finest-grain rollup — the KLL form
# above is for when the bin width is not known at rollup time.
# ---------------------------------------------------------------------------


def histogram_rollup(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    bin_width: float,
) -> DataFrame:
    """Finest-grain histogram table: one row per (group, bin) with the
    exact count — floor bucketing identical to ``breakdown.histogram``.
    Merging to any coarser grouping is a SUM, lossless."""
    b = F.floor(F.col(value_col) / F.lit(bin_width)).cast("long").alias("bin")
    return (
        df.select(*group_cols, b)
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *group_cols,
            "bin",
            (F.col("bin") * F.lit(bin_width)).alias("bin_start"),
            "n",
        )
    )


def merge_histogram_rollup(
    rollup: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Serve a coarser grouping from a stored histogram rollup by
    summing bin counts (exact; never rescans raw rows).  ``group_cols``
    excludes ``bin`` — it is always kept."""
    return (
        rollup.groupBy(*group_cols, "bin")
        .agg(F.first("bin_start").alias("bin_start"), F.sum("n").alias("n"))
        .select(*group_cols, "bin", "bin_start", "n")
    )


def upsert_quantile_rollup(
    mat,
    batch: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 200,
) -> str:
    """Incremental quantile-dashboard refresh — the KLL twin of
    ``upsert_sketch_rollup``: sketch ONLY the new batch, merge with the
    stored sketches of the touched groups, commit through the
    snaplog-backed ``cache.Materialization``.  Cost O(batch + touched
    groups); raw history never rescanned.  Same single-writer contract
    as ``upsert_sketch_rollup``."""
    delta = quantile_sketch_rollup(batch, [group_col], value_col, k)
    if not mat.exists():
        return mat.refresh_full(delta)
    changed = delta.select(group_col).distinct()
    current_touched = mat.read().join(changed, on=group_col, how="left_semi")
    merged = merge_quantile_sketches(
        current_touched.unionByName(delta), [group_col], k
    )
    return mat.refresh_incremental(merged, changed, key=group_col)
