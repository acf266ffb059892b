"""As-of join (nearest-earlier / nearest-later match per key).

Beyond-reference extension for the event-stream side of the corpus
(TESTDATA ``events``): join each left row to the single right row with
the largest ``right_ts <= left_ts`` (backward, the default) or the
smallest ``right_ts >= left_ts`` (forward) within the same key — the
time-series primitive Spark has no built-in operator for (DuckDB/kdb/
pandas ``merge_asof`` semantics; generalizes the reference's
interval-containment join, SURVEY J10, from stabbing an interval table
to stabbing the most recent state row).

Scale shape — ONE shuffle, NO join: a range/theta join (``l.key = r.key
AND r.ts <= l.ts`` + argmax) would shuffle both sides into a join whose
within-key cost is O(|L|·|R|) before the argmax window prunes it.
Instead both sides are unioned and sorted once per key, and the match
is a running ``last(..., ignorenulls=True)`` carry-forward window — the
classic sort-merge formulation: cost O((|L|+|R|) log) in the per-key
sort, memory O(1) per row (the running frame is
``rowsBetween(unboundedPreceding, currentRow)``, which Spark evaluates
incrementally, never materializing the frame).  Skewed keys are the
caveat at 100 TB: one key = one task for the window sort — use
``asof_join_salted`` (below, r9) when a single key's history exceeds a
task: it range-buckets each HOT key's timeline and injects per-bucket
carry-in rows, so the hot key's sort spreads over ``n_buckets`` tasks
with identical output (equality pinned in tests).

Tie rule: a right row AT the left row's timestamp matches in both
directions (DuckDB ASOF ``>=`` / pandas ``allow_exact_matches=True``);
among right rows tied on ``right_ts`` the greatest payload struct
(field-wise order) wins deterministically.  ``tolerance`` bounds the
match distance —
a matched row farther than ``tolerance`` (in the ts column's own
units) yields the unmatched (NULL) result instead, exactly pandas
``merge_asof(tolerance=...)``.

NULL timestamps never participate (DuckDB ASOF / pandas ``merge_asof``
semantics): NULL-ts right rows are filtered before the union, and
NULL-ts left rows come back unmatched — without the guard the sort
default (nulls-first asc / nulls-last desc) would hand them spurious
matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigsdb_spark.materialize import materialize, release


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
    tolerance=None,
    suffix: str = "_r",
) -> DataFrame:
    """Left as-of join: every left row comes back exactly once, with
    the matched right row's payload columns (suffixed on collision) or
    NULLs when no right row qualifies.

    ``on``: equi-key column(s) present on both sides.  ``tolerance``:
    max allowed ``|left_ts - right_ts|`` in the ts column's units
    (e.g. an interval literal for timestamps, a number for numerics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)
    payload = [c for c in right.columns if c not in keys and c != right_ts]
    out_names = {
        c: (c + suffix if c in left.columns else c) for c in payload
    }
    matched_ts = (
        right_ts + suffix if right_ts in left.columns else right_ts
    )

    # union frame: left rows carry a marker struct NULL, right rows pack
    # (ts, payload...) into it.  Sorting right-before-left on ts ties
    # makes an equal-ts right row visible to the left row in BACKWARD
    # mode (and left-before-right in forward mode, via the reversed
    # ordering below).
    r_struct = F.struct(
        F.col(right_ts).alias("__ts"),
        *[F.col(c).alias(c) for c in payload],
    )
    r_rows = right.filter(F.col(right_ts).isNotNull()).select(
        *keys,
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        r_struct.alias("__r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
          for c in left.columns],
    )
    l_rows = left.select(
        *keys,
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(r_rows.schema["__r"].dataType).alias("__r"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    both = r_rows.unionByName(l_rows)

    # the trailing __r sort makes the winner among right rows TIED on
    # ts deterministic (greatest payload struct, field-wise order);
    # left rows sort after every tied right row via __is_left either way
    if direction == "backward":
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.asc("__t"), F.asc("__is_left"), F.asc_nulls_last("__r"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.desc("__t"), F.asc("__is_left"), F.asc_nulls_last("__r"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    carried = F.when(
        F.col("__t").isNotNull(), F.last("__r", ignorenulls=True).over(w)
    )
    out = both.withColumn("__m", carried).filter(F.col("__is_left") == 1)
    if tolerance is not None:
        gap = (
            F.col("__t") - F.col("__m.__ts")
            if direction == "backward"
            else F.col("__m.__ts") - F.col("__t")
        )
        out = out.withColumn(
            "__m", F.when(gap <= tolerance, F.col("__m"))
        )
    return out.select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        F.col("__m.__ts").alias(matched_ts),
        *[F.col(f"__m.{c}").alias(out_names[c]) for c in payload],
    )


def asof_join_salted(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
    tolerance=None,
    suffix: str = "_r",
    hot_threshold: int = 1_000_000,
    n_buckets: int = 32,
) -> DataFrame:
    """``asof_join`` with hot-key TIMELINE salting (r9 — the runnable
    form of the skew guidance in the module docstring): keys whose
    combined row count exceeds ``hot_threshold`` have their time range
    split into ``n_buckets`` equal-width buckets, and the as-of match
    runs per (key, bucket) instead of per key, so one pathological
    key's window sort spreads over ``n_buckets`` tasks.  Output is
    IDENTICAL to ``asof_join`` (pinned in tests).

    Why output is unchanged: a backward match for a left row in bucket
    i is either a right row in bucket i at-or-before it, or the LAST
    right row of the nearest earlier non-empty bucket — buckets are
    value ranges on ts, so every right row of an earlier bucket
    precedes every row of bucket i.  That nearest-earlier winner (the
    per-bucket best under the join's own tie rule: greatest
    ``(ts, payload)`` struct) is injected into bucket i as one
    synthetic "carry-in" right row with its ORIGINAL timestamp, which
    also keeps ``tolerance`` exact.  Forward mode mirrors this with
    the nearest later bucket's (smallest-ts, greatest-payload) row.

    Cost: one count per key (hot detection), one bounds agg over the
    hot slice, two broadcast joins (hot-key grids are tiny), and the
    cold mass takes the plain one-shuffle path untouched.  Choose
    ``hot_threshold`` around the row count a single task sorts
    comfortably (1e6 default ~ tens of MB of narrow rows), and
    ``n_buckets`` >= the skew factor you need to flatten.  Equal-width
    ranges assume the hot key's events are not themselves pathological
    in TIME (e.g. all at one instant); such a key degenerates back to
    few buckets — the same caveat as every range-partitioning scheme.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)

    def _ts_double(df: DataFrame, col: str):
        # monotone numeric image of the ts column, used ONLY for range
        # bucketing and tie ordering (the carry-in rows keep their
        # ORIGINAL ts, so the join semantics never see this image):
        # numerics cast directly; timestamp/timestamp_ntz/date cannot
        # cast to double and go through the unix epoch instead
        t = dict(df.dtypes)[col]
        c = F.col(col)
        if t.startswith("timestamp"):
            return F.unix_micros(c.cast("timestamp")).cast("double")
        if t == "date":
            return F.unix_date(c).cast("double")
        return c.cast("double")

    # -- hot-key detection: one cheap count per key on each side -------
    # lc counts ALL left rows, null-ts included: hot_threshold is a
    # task-sizing heuristic (output is identical for any hot set), and
    # counting every left key makes left keys a SUBSET of totals keys,
    # which lets an empty cold totals slice prove the cold anti-join
    # side empty (skipped outright below).
    lc = left.groupBy(*keys).count()
    rc = right.filter(F.col(right_ts).isNotNull()).groupBy(*keys).count()
    # one row per key — the smallest frame in the operator.  Materialize
    # it ONCE (r13): hot is re-derived per broadcast reference (three
    # joins + the carry grid), and the dispatch / cold-existence probes
    # become take(1)s over checkpoint blocks instead of re-running both
    # per-key counts and their full-outer join per reference.
    totals = materialize(
        lc.withColumnRenamed("count", "__cl")
        .join(rc.withColumnRenamed("count", "__cr"), keys, "full_outer")
        .select(
            *keys,
            (
                F.coalesce(F.col("__cl"), F.lit(0))
                + F.coalesce(F.col("__cr"), F.lit(0))
            ).alias("__tot"),
        )
    )
    # a key with a NULL column never equi-joins, so it can never take
    # the hot path: it stays cold, and the one predicate below keeps
    # the hot filter and the cold-existence probe complementary
    is_hot = F.col("__tot") > hot_threshold
    for k in keys:
        is_hot = is_hot & F.col(k).isNotNull()
    hot = totals.filter(is_hot).select(*keys)
    if not hot.take(1):
        release(totals)  # the plain path never reads it
        return asof_join(
            left, right, on, left_ts, right_ts, direction, tolerance, suffix
        )
    hot_b = F.broadcast(hot)

    # left keys ⊆ totals keys (lc counts null-ts rows too), so an empty
    # cold totals slice proves the cold side contributes NO output rows
    # (cold_out is a left join; cold right-only keys emit nothing) —
    # skip its whole subtree (two anti-joins + union + window sort)
    # instead of running it to produce zero rows.  The hot_threshold=0
    # "everything hot" configuration paid for a full cold plan before.
    cold_out = None
    if totals.filter(~is_hot).take(1):
        cold_out = asof_join(
            left.join(hot_b, keys, "left_anti"),
            right.join(hot_b, keys, "left_anti"),
            on, left_ts, right_ts, direction, tolerance, suffix,
        )

    # -- hot slice: range-bucket each key's timeline -------------------
    l_hot = left.join(hot_b, keys, "left_semi")
    r_hot = right.join(hot_b, keys, "left_semi")
    # one row per hot key; read twice (both bucket taggers) — same
    # materialize-once rationale as the hot set above
    bounds = materialize(
        l_hot.select(*keys, _ts_double(l_hot, left_ts).alias("__tv"))
        .unionByName(
            r_hot.select(
                *keys, _ts_double(r_hot, right_ts).alias("__tv")
            )
        )
        .groupBy(*keys)
        .agg(F.min("__tv").alias("__lo"), F.max("__tv").alias("__hi"))
    )
    bounds_b = F.broadcast(bounds)

    def bucket_of(ts_val):
        width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
        raw = F.floor(
            (ts_val - F.col("__lo"))
            / F.when(width > 0, width)  # single-instant key -> NULL -> 0
        )
        return F.least(
            F.lit(n_buckets - 1),
            F.greatest(F.lit(0), F.coalesce(raw, F.lit(0))),
        ).cast("int")

    l_bkt = l_hot.join(bounds_b, keys).withColumn(
        "__bkt", bucket_of(_ts_double(l_hot, left_ts))
    ).drop("__lo", "__hi")
    r_bkt = r_hot.filter(F.col(right_ts).isNotNull()).join(
        bounds_b, keys
    ).withColumn("__bkt", bucket_of(_ts_double(r_hot, right_ts))).drop(
        "__lo", "__hi"
    )

    # -- per-bucket best right row under the join's own tie rule -------
    best_struct = F.struct(
        _ts_double(r_hot, right_ts).alias("__ts"),
        *[F.col(c) for c in right.columns if c not in keys],
    )
    if direction == "backward":
        wb = Window.partitionBy(*keys, "__bkt").orderBy(F.desc(best_struct))
    else:
        wb = Window.partitionBy(*keys, "__bkt").orderBy(
            F.asc(_ts_double(r_hot, right_ts)), F.desc(best_struct)
        )
    bucket_best = (
        r_bkt.withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # -- carry-in: nearest earlier (backward) / later (forward) bucket's
    # best, computed on the tiny (hot keys x n_buckets) grid ------------
    grid = hot.select(
        *keys,
        F.explode(
            F.sequence(F.lit(0), F.lit(n_buckets - 1))
        ).alias("__bkt"),
    )
    filled = grid.join(bucket_best, [*keys, "__bkt"], "left")
    if direction == "backward":
        wg = (
            Window.partitionBy(*keys)
            .orderBy(F.asc("__bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
    else:
        wg = (
            Window.partitionBy(*keys)
            .orderBy(F.asc("__bkt"))
            .rowsBetween(1, Window.unboundedFollowing)
        )
    carry_cols = [c for c in right.columns if c not in keys]
    pick = F.last if direction == "backward" else F.first
    # one nullable struct per grid row (NULL iff the bucket is empty —
    # bucket_best rows always carry a non-null right_ts), picked as a
    # UNIT so the carry-in is one real row, never a column-wise mix
    best_row = F.when(
        F.col(right_ts).isNotNull(),
        F.struct(*[F.col(c).alias(c) for c in carry_cols]),
    )
    carry = filled.select(
        *keys,
        "__bkt",
        pick(best_row, ignorenulls=True).over(wg).alias("__ci"),
    ).filter(F.col("__ci").isNotNull())
    synthetic = carry.select(
        *keys,
        "__bkt",
        *[F.col(f"__ci.{c}").alias(c) for c in carry_cols],
    )

    hot_out = asof_join(
        l_bkt,
        r_bkt.select(*keys, "__bkt", *carry_cols).unionByName(synthetic),
        [*keys, "__bkt"],
        left_ts, right_ts, direction, tolerance, suffix,
    ).drop("__bkt")
    if cold_out is None:
        return hot_out
    return cold_out.unionByName(hot_out)
