"""As-of join (operators/asof.py) and HLL sketch rollups
(operators/sketches.py).

The as-of backward direction is value-checked against DuckDB's native
ASOF JOIN on the same data (engine-independent oracle); forward and
tolerance against a pure-Python reference.  Sketch tests pin the
merge property the incremental-dashboard design rests on: merged
partial sketches track sketching the raw union within estimator-mode
rounding, and are exact in the sparse regime.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from bigsdb_spark.operators.asof import asof_join
from bigsdb_spark.operators.sketches import (
    distinct_sketch_rollup,
    merge_sketches,
    union_sketch_columns,
    with_estimate,
)


@pytest.fixture(scope="module")
def asof_frames(spark):
    rng = random.Random(7)
    # unique right ts per key -> deterministic oracle (tie winner among
    # equal right ts is engine-defined)
    left = [
        (k, rng.randrange(0, 1000), i)
        for i, k in enumerate(rng.choices("abcde", k=200))
    ]
    right_ts = {k: rng.sample(range(0, 1000), 40) for k in "abcd"}  # 'e' unmatched
    right = [
        (k, t, f"{k}{t}", t * 10) for k, ts in right_ts.items() for t in ts
    ]
    l_df = spark.createDataFrame(left, "k string, ts long, lid long")
    r_df = spark.createDataFrame(right, "k string, ts long, tag string, v long")
    return left, right, l_df, r_df


def test_asof_backward_matches_duckdb(asof_frames):
    left, right, l_df, r_df = asof_frames
    got = {
        (r.k, r.ts, r.lid): (r.ts_r, r.tag, r.v)
        for r in asof_join(l_df, r_df, on="k").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE l (k VARCHAR, ts BIGINT, lid BIGINT)")
    con.execute("CREATE TABLE r (k VARCHAR, ts BIGINT, tag VARCHAR, v BIGINT)")
    con.executemany("INSERT INTO l VALUES (?,?,?)", left)
    con.executemany("INSERT INTO r VALUES (?,?,?,?)", right)
    want = {
        (k, ts, lid): (rts, tag, v)
        for k, ts, lid, rts, tag, v in con.execute(
            "SELECT l.k, l.ts, l.lid, r.ts, r.tag, r.v "
            "FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts >= r.ts"
        ).fetchall()
    }
    assert len(got) == len(left)
    assert got == want
    # 'e' rows never match (no right rows for that key)
    assert all(
        got[(k, ts, lid)] == (None, None, None)
        for k, ts, lid in left
        if k == "e"
    )


def test_asof_forward_tolerance_and_exact_ts(spark, asof_frames):
    left, right, l_df, r_df = asof_frames

    def py_asof(direction, tolerance=None):
        out = {}
        for k, ts, lid in left:
            if direction == "backward":
                cand = [r for r in right if r[0] == k and r[1] <= ts]
                best = max(cand, key=lambda r: r[1], default=None)
                gap = ts - best[1] if best else None
            else:
                cand = [r for r in right if r[0] == k and r[1] >= ts]
                best = min(cand, key=lambda r: r[1], default=None)
                gap = best[1] - ts if best else None
            if best is None or (tolerance is not None and gap > tolerance):
                out[(k, ts, lid)] = (None, None, None)
            else:
                out[(k, ts, lid)] = (best[1], best[2], best[3])
        return out

    fwd = {
        (r.k, r.ts, r.lid): (r.ts_r, r.tag, r.v)
        for r in asof_join(l_df, r_df, on="k", direction="forward").collect()
    }
    assert fwd == py_asof("forward")
    tol = {
        (r.k, r.ts, r.lid): (r.ts_r, r.tag, r.v)
        for r in asof_join(l_df, r_df, on="k", tolerance=25).collect()
    }
    assert tol == py_asof("backward", tolerance=25)
    # exact-ts right row matches in BOTH directions
    l2 = spark.createDataFrame([("a", 100, 0)], "k string, ts long, lid long")
    r2 = spark.createDataFrame(
        [("a", 100, "hit", 1)], "k string, ts long, tag string, v long"
    )
    for d in ("backward", "forward"):
        row = asof_join(l2, r2, on="k", direction=d).collect()[0]
        assert (row.ts_r, row.tag) == (100, "hit")
    with pytest.raises(ValueError, match="backward|forward"):
        asof_join(l2, r2, on="k", direction="nearest")
    # duplicate LEFT rows at one (key, ts): each comes back once with
    # the same match (the join is per-left-row, not per-key)
    l3 = spark.createDataFrame(
        [("a", 100, 1), ("a", 100, 2)], "k string, ts long, lid long"
    )
    rows3 = asof_join(l3, r2, on="k").collect()
    assert sorted((r.lid, r.ts_r) for r in rows3) == [(1, 100), (2, 100)]
    # right rows TIED on ts: the documented deterministic winner is the
    # greatest payload struct (field-wise order)
    r4 = spark.createDataFrame(
        [("a", 90, "aa", 1), ("a", 90, "zz", 2)],
        "k string, ts long, tag string, v long",
    )
    l4 = spark.createDataFrame([("a", 95, 0)], "k string, ts long, lid long")
    row4 = asof_join(l4, r4, on="k").collect()[0]
    assert (row4.tag, row4.v) == ("zz", 2)
    # empty right side: all left rows preserved, all NULL matches
    r5 = r2.filter("ts < 0")
    assert [
        (r.lid, r.ts_r) for r in asof_join(l3, r5, on="k").collect()
    ] in ([(1, None), (2, None)], [(2, None), (1, None)])


def test_asof_null_timestamps_never_match(spark):
    """DuckDB ASOF / pandas merge_asof semantics: a NULL-ts right row is
    never a match (even when it is the only right row), and a NULL-ts
    left row comes back unmatched in both directions."""
    l_df = spark.createDataFrame(
        [("a", 50, 1), ("a", None, 2), ("b", 10, 3)],
        "k string, ts long, lid long",
    )
    r_df = spark.createDataFrame(
        [("a", None, "ghost", 9), ("a", 40, "real", 1), ("b", None, "g2", 8)],
        "k string, ts long, tag string, v long",
    )
    for d in ("backward", "forward"):
        got = {
            r.lid: (r.ts_r, r.tag)
            for r in asof_join(l_df, r_df, on="k", direction=d).collect()
        }
        assert len(got) == 3
        # lid=2 (NULL-ts left) unmatched; lid=3's only right row is
        # NULL-ts -> unmatched
        assert got[2] == (None, None)
        assert got[3] == (None, None)
    # the non-null pair still matches normally
    back = {
        r.lid: (r.ts_r, r.tag)
        for r in asof_join(l_df, r_df, on="k").collect()
    }
    assert back[1] == (40, "real")
    fwd = {
        r.lid: (r.ts_r, r.tag)
        for r in asof_join(l_df, r_df, on="k", direction="forward").collect()
    }
    assert fwd[1] == (None, None)  # no right ts >= 50


def test_asof_name_collisions_and_plan_shape(spark, asof_frames):
    """Right payload columns colliding with left names get the suffix;
    the plan contains a single Exchange family for the window (no join
    operator at all)."""
    _, _, l_df, r_df = asof_frames
    out = asof_join(
        l_df, r_df.withColumnRenamed("tag", "lid"), on="k"
    )
    assert "lid_r" in out.columns and "ts_r" in out.columns
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # union + window, never a join


@pytest.fixture(scope="module")
def skewed_asof_frames(spark):
    """One pathological key ('hot') holding most rows of both sides,
    plus cold keys, duplicate right timestamps (tie rule exercised),
    an unmatched key, and a single-instant hot key (range-bucket
    degenerate case)."""
    rng = random.Random(23)
    left = [("hot", rng.randrange(0, 10_000), i) for i in range(400)]
    left += [
        (k, rng.randrange(0, 10_000), 1000 + i)
        for i, k in enumerate(rng.choices(["c1", "c2", "e"], k=60))
    ]
    # 'flat': every row at the same instant -> bucket width 0
    left += [("flat", 500, 2000 + i) for i in range(150)]
    right = [
        ("hot", rng.randrange(0, 10_000), f"h{i}", i) for i in range(300)
    ]
    # duplicate right ts on the hot key: tie winner = greatest payload
    right += [("hot", 5000, "tieA", 1), ("hot", 5000, "tieB", 2)]
    right += [
        (k, rng.randrange(0, 10_000), f"{k}{i}", i)
        for k in ("c1", "c2")
        for i in range(10)
    ]
    right += [("flat", 500, "f", 7), ("flat", 400, "f0", 3)]
    l_df = spark.createDataFrame(left, "k string, ts long, lid long")
    r_df = spark.createDataFrame(right, "k string, ts long, tag string, v long")
    return l_df, r_df


@pytest.mark.slow
def test_asof_salted_equals_plain(spark, skewed_asof_frames):
    """r9: asof_join_salted returns EXACTLY asof_join's rows on a
    skewed input — both directions, with and without tolerance, hot
    threshold low enough that the hot and flat keys take the salted
    path while cold keys take the plain path."""
    from bigsdb_spark.operators.asof import asof_join_salted

    l_df, r_df = skewed_asof_frames
    for d in ("backward", "forward"):
        for tol in (None, 800):
            plain = sorted(
                map(tuple, asof_join(l_df, r_df, on="k", direction=d,
                                     tolerance=tol).collect())
            )
            salted = sorted(
                map(tuple, asof_join_salted(
                    l_df, r_df, on="k", direction=d, tolerance=tol,
                    hot_threshold=200, n_buckets=8,
                ).collect())
            )
            assert salted == plain, (d, tol)


@pytest.mark.slow
def test_asof_salted_timestamp_keys(spark):
    """r9: timestamp ts columns cannot cast to double, so the salted
    path's range bucketing goes through the epoch image (_ts_double);
    output must equal asof_join with every key forced hot
    (hot_threshold=0, the a11 gate-leg configuration)."""
    from datetime import datetime

    from bigsdb_spark.operators.asof import asof_join_salted

    l_rows = [
        (k, datetime(2024, 1, 1 + i), f"l{k}-{i}")
        for k in (1, 2) for i in range(6)
    ]
    r_rows = [
        (k, datetime(2024, 1, 1 + 2 * i, 12), i * 10)
        for k in (1, 2) for i in range(3)
    ] + [(3, None, 99)]
    l_df = spark.createDataFrame(l_rows, "k int, ts timestamp, tag string")
    r_df = spark.createDataFrame(r_rows, "k int, ts timestamp, v int")
    for d in ("backward", "forward"):
        plain = sorted(
            map(tuple, asof_join(l_df, r_df, on="k", direction=d).collect())
        )
        salted = sorted(
            map(tuple, asof_join_salted(
                l_df, r_df, on="k", direction=d,
                hot_threshold=0, n_buckets=4,
            ).collect())
        )
        assert salted == plain, d


def test_asof_salted_all_cold_short_circuits(spark, skewed_asof_frames):
    """With no key over the threshold the salted entry returns the
    plain path's result (and plan: no bucket machinery)."""
    from bigsdb_spark.operators.asof import asof_join_salted

    l_df, r_df = skewed_asof_frames
    plain = sorted(map(tuple, asof_join(l_df, r_df, on="k").collect()))
    salted = sorted(
        map(
            tuple,
            asof_join_salted(
                l_df, r_df, on="k", hot_threshold=10_000_000
            ).collect(),
        )
    )
    assert salted == plain


def test_asof_salted_keeps_null_key_rows(spark):
    """A NULL-key group is never hot (it cannot equi-join), so with
    every other key hot its left rows still come back, through the
    cold path: salted and plain return the same 3 rows."""
    from bigsdb_spark.operators.asof import asof_join_salted

    l_df = spark.createDataFrame(
        [("a", 10, 1), ("a", 20, 2), (None, 15, 3)], "k string, ts long, lid long"
    )
    r_df = spark.createDataFrame(
        [("a", 5, 50), ("a", 18, 180), (None, 12, 120)], "k string, ts long, v long"
    )
    plain = sorted(map(tuple, asof_join(l_df, r_df, on="k").collect()), key=str)
    salted = sorted(
        map(tuple, asof_join_salted(
            l_df, r_df, on="k", hot_threshold=0, n_buckets=4
        ).collect()),
        key=str,
    )
    assert len(plain) == 3
    assert salted == plain


def test_sketch_merge_identity_and_rollup(spark):
    """Merging per-group sketches is as good as sketching the raw
    union: the merged grand-total estimate must land within the
    sketch's error of BOTH the exact cardinality and the direct-agg
    estimate.  The 570 distinct users are past the 384-coupon
    promotion of lgk=12, so the grand total is in HLL mode and neither
    estimate is guaranteed exact (570-575 observed, varying with core
    count, merge order and partitioning); the per-day cardinalities of
    120 are below it and stay exact (coupon mode)."""
    rows = [
        (f"d{day}", f"u{uid}")
        for day in range(10)
        for uid in range(day * 50, day * 50 + 120)  # 70 overlap w/ next day
    ]
    df = spark.createDataFrame(rows, "day string, user string")
    exact_total = df.select("user").distinct().count()
    daily = distinct_sketch_rollup(df, ["day"], "user")
    assert daily.count() == 10
    est_daily = {
        r.day: r.distinct_est for r in with_estimate(daily).collect()
    }
    assert all(v == 120 for v in est_daily.values())  # sparse mode: exact
    merged = with_estimate(merge_sketches(daily, [])).collect()[0]
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user")).alias("e")
    ).collect()[0].e
    # past coupon mode the merge order moves the estimate: bound the
    # gap by the HLL standard error, not a fixed +-1
    assert abs(merged.distinct_est - direct) <= 1.04 / 64 * exact_total
    assert merged.n_rows == len(rows)
    # past lgk=12's 384-coupon promotion: 1.04/sqrt(2**12) standard error
    assert abs(merged.distinct_est - exact_total) <= 1.04 / 64 * exact_total
    assert abs(direct - exact_total) <= max(1, 0.02 * exact_total)
    # row-wise union column
    two = (
        distinct_sketch_rollup(df, [], "user")
        .crossJoin(
            distinct_sketch_rollup(
                spark.createDataFrame(
                    [("x", "u9999")], "day string, user string"
                ),
                [], "user",
            ).select(F.col("sketch").alias("sketch2"))
        )
        .select(
            F.hll_sketch_estimate(
                union_sketch_columns(F.col("sketch"), F.col("sketch2"))
            ).alias("e")
        )
        .collect()[0]
        .e
    )
    assert abs(two - (exact_total + 1)) <= 1.04 / 64 * (exact_total + 1)


def test_sketch_rollup_on_events_table(spark):
    """Integration on the driver's events table: per-event_type sketch
    estimates match exact COUNT(DISTINCT user_id), and the coarser
    rollup (grand total) comes from merging WITHOUT rescanning."""
    from bigsdb_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    rollup = distinct_sketch_rollup(ev, ["event_type"], "user_id")
    est = {
        r.event_type: r.distinct_est
        for r in with_estimate(rollup).collect()
    }
    exact = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, v in exact.items():
        assert abs(est[k] - v) <= max(1, 0.02 * v)  # ~1.6% @ lgk 12
    total = with_estimate(merge_sketches(rollup, [])).collect()[0]
    exact_total = ev.select("user_id").distinct().count()
    assert abs(total.distinct_est - exact_total) <= max(1, 0.02 * exact_total)

@pytest.mark.slow
def test_streaming_distinct_sketches_stream_equals_batch(spark, tmp_path):
    """r7: the streaming sketch rollup emits the same mergeable rows as
    the batch twin — per-(window, key) estimates equal the exact
    distinct counts (sparse regime), and merging the emitted window
    sketches answers the cross-window total without reprocessing."""
    from bigsdb_spark.streaming.events import (
        read_event_stream,
        run_available_now_memory,
        streaming_distinct_sketches,
    )

    rows = []
    eid = 0
    for h, n_users in ((0, 5), (1, 8)):
        for u in range(n_users):
            for _ in (0, 1):  # every user appears twice in its hour
                rows.append(
                    (eid, f"2024-01-01 0{h}:{10 + u:02d}:00", "click", u, 1.0)
                )
                eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, "
        "user_id long, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type", "user_id", "value",
    )
    src = str(tmp_path / "sketch_src")
    df.coalesce(1).write.parquet(src)
    stream = read_event_stream(spark, src, max_files=16)
    sk = streaming_distinct_sketches(stream)
    got = run_available_now_memory(
        sk, "sketch_rollup", final_by=["window_start", "event_type"]
    )
    out = got.select(
        "window_start",
        F.hll_sketch_estimate("sketch").alias("d"),
        "n_rows",
    ).collect()
    by_window = {r.window_start: (r.d, r.n_rows) for r in out}
    ws = sorted(by_window)
    assert len(ws) == 2
    assert by_window[ws[0]] == (5, 10)
    assert by_window[ws[1]] == (8, 16)
    # cross-window total via MERGE of the emitted sketches (users 0-4
    # overlap between the two hours -> 8 distinct, not 13)
    total = (
        got.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("d")
        ).collect()[0].d
    )
    assert total == 8


def test_upsert_sketch_rollup_through_materialization(spark, tmp_path):
    """r7: the incremental dashboard loop end to end — batch 1 seeds
    the snaplog-backed rollup, batch 2 (overlapping users in one group,
    a brand-new group) merges without rescanning batch 1; estimates
    equal exact distinct over BOTH batches, history shows two commits,
    and the pre-upsert version stays time-travel readable."""
    from bigsdb_spark.cache import Materialization
    from bigsdb_spark.operators.sketches import upsert_sketch_rollup

    mat = Materialization(spark, str(tmp_path), "daily_users")
    b1 = spark.createDataFrame(
        [("d1", f"u{i}") for i in range(100)]
        + [("d2", f"u{i}") for i in range(50)],
        "day string, user string",
    )
    v1 = upsert_sketch_rollup(mat, b1, "day", "user")
    b2 = spark.createDataFrame(
        # d1: 40 repeat users + 20 new; d3: brand new group
        [("d1", f"u{i}") for i in range(60, 120)]
        + [("d3", f"u{i}") for i in range(7)],
        "day string, user string",
    )
    v2 = upsert_sketch_rollup(mat, b2, "day", "user")
    assert v1 != v2
    est = {
        r.day: r.distinct_est for r in with_estimate(mat.read()).collect()
    }
    assert est == {"d1": 120, "d2": 50, "d3": 7}  # sparse regime: exact
    # untouched group d2 kept its row; history carries both commits
    assert len(mat.history()) == 2
    # the pre-upsert version is still readable (keep_versions=2)
    old = {
        r.day: r.distinct_est
        for r in with_estimate(mat.read(version=v1)).collect()
    }
    assert old == {"d1": 100, "d2": 50}


# ---------------------------------------------------------------------------
# r8: KLL quantile sketches + exact mergeable histograms
# ---------------------------------------------------------------------------


def test_kll_rollup_exact_regime_and_merge(spark):
    """KLL is exact while a sketch has seen <= k items (no compaction):
    per-group quantiles from the rollup AND the merged grand-total
    quantiles equal the true order statistics, and merge-vs-direct are
    identical in this regime."""
    from bigsdb_spark.operators.sketches import (
        merge_quantile_sketches,
        quantile_sketch_rollup,
        with_quantiles,
    )

    rows = [(f"g{i % 4}", float(i)) for i in range(160)]  # 40/group < k
    df = spark.createDataFrame(rows, "g string, v double")
    rollup = quantile_sketch_rollup(df, ["g"], "v")
    per = {
        r.g: (r.q50, r.n_values)
        for r in with_quantiles(rollup, [0.5]).collect()
    }
    import statistics

    for g in "g0 g1 g2 g3".split():
        vals = sorted(v for k, v in rows if k == g)
        assert per[g][1] == 40
        # inclusive-rank median: smallest v with rank >= 0.5
        assert per[g][0] == vals[19]
    merged = with_quantiles(
        merge_quantile_sketches(rollup, []), [0.0, 0.5, 1.0]
    ).collect()[0]
    allv = sorted(v for _, v in rows)
    assert merged.n_values == 160
    assert merged.q0 == allv[0] and merged.q100 == allv[-1]
    assert merged.q50 == allv[79]
    direct = with_quantiles(
        quantile_sketch_rollup(df, [], "v"), [0.5]
    ).collect()[0]
    assert direct.q50 == merged.q50


def test_kll_bounded_error_past_exact_regime(spark):
    """Past the exact regime (n >> k), merged-rollup quantile estimates
    stay within KLL's rank-error envelope (~1.65% at k=200; assert 3%
    with margin) of the true rank."""
    from bigsdb_spark.operators.sketches import (
        merge_quantile_sketches,
        quantile_sketch_rollup,
        with_quantiles,
    )
    from pyspark.sql import functions as F

    n = 40_000
    df = spark.range(n).select(
        (F.col("id") % 16).alias("g"),
        (F.pmod(F.xxhash64("id"), F.lit(100_000)) / 10.0).alias("v"),
    )
    merged = with_quantiles(
        merge_quantile_sketches(quantile_sketch_rollup(df, ["g"], "v"), []),
        [0.5, 0.95],
    ).collect()[0]
    assert merged.n_values == n
    for est, p in ((merged.q50, 0.5), (merged.q95, 0.95)):
        true_rank = df.filter(F.col("v") <= est).count() / n
        assert abs(true_rank - p) <= 0.03


def test_histogram_rollup_merge_exact(spark):
    """The per-day histogram rollup merged over all days is
    row-identical to the raw-recount histogram (breakdown.histogram) —
    the merge is a lossless sum."""
    from bigsdb_spark.operators.breakdown import histogram
    from bigsdb_spark.operators.sketches import (
        histogram_rollup,
        merge_histogram_rollup,
    )
    from bigsdb_spark.sources.tables import load_table

    o = load_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "day", F.to_date("o_orderdate")
    )
    served = {
        (r.bin, r.bin_start): r.n
        for r in merge_histogram_rollup(
            histogram_rollup(o, ["day"], "o_totalprice", 25000.0), []
        ).collect()
    }
    raw = {
        (r.bin, r.bin_start): r.n
        for r in histogram(o, "o_totalprice", 25000.0).collect()
    }
    assert served == raw


def test_histogram_from_quantile_sketch(spark):
    """The KLL-served histogram matches the exact histogram bin-for-bin
    in the exact regime when no value sits on a bin edge (the served
    bin is (lo, hi] vs floor's [lo, hi) — agreement requires edge-free
    data, documented in the operator)."""
    import random

    from bigsdb_spark.operators.breakdown import histogram
    from bigsdb_spark.operators.sketches import (
        histogram_from_quantile_sketch,
        quantile_sketch_rollup,
    )

    rng = random.Random(11)
    rows = [(rng.uniform(0.01, 9.99) + rng.randrange(10),) for _ in range(150)]
    df = spark.createDataFrame(rows, "v double")
    served = {
        r.bin: r.n_est
        for r in histogram_from_quantile_sketch(
            quantile_sketch_rollup(df, [], "v"), 2.0
        ).collect()
    }
    raw = {r.bin: r.n for r in histogram(df, "v", 2.0).collect()}
    assert served == raw


def test_histogram_from_quantile_sketch_empty_rollup_raises(spark):
    """r9 guard: an empty (or all-null) rollup has no derivable bounds
    — the operator raises a descriptive ValueError instead of
    math.floor(None)'s opaque TypeError."""
    from bigsdb_spark.operators.sketches import (
        histogram_from_quantile_sketch,
        quantile_sketch_rollup,
    )

    empty = spark.createDataFrame([], "v double")
    rollup = quantile_sketch_rollup(empty, [], "v")
    with pytest.raises(ValueError, match="empty or all-null"):
        histogram_from_quantile_sketch(rollup, 2.0)


def test_dashboard_sketch_rollups_keeps_null_event_type(spark, tmp_path):
    """r9 fix: a NULL event_type is coalesced to 'No value' (like the
    a4 top-N leg) BEFORE the HLL/KLL legs' inner join, so the NULL
    group is served rather than silently dropped by NULL != NULL."""
    from bigsdb_spark.inventory.analytics import dashboard_sketch_rollups
    from bigsdb_spark.sources.tables import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "events")
    nulled = src.withColumn(
        "event_type",
        F.when(F.col("event_type") == "click", F.lit(None)).otherwise(
            F.col("event_type")
        ),
    )
    sf = str(tmp_path / "sf_null")
    import os

    nulled.write.parquet(os.path.join(sf, "events.parquet"))
    got = {r.event_type: r for r in dashboard_sketch_rollups(spark, sf).collect()}
    assert "No value" in got
    exact = nulled.filter(F.col("event_type").isNull()).agg(
        F.countDistinct("user_id").alias("d"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert got["No value"].distinct_users == exact.d
    assert got["No value"].n_rows == exact.n


def test_a4_sketch_served_twin_matches(spark):
    """a4_dashboard_sketch_served (merge-not-rescan) is row-identical
    to a4_dashboard's raw recount at sf0.001."""
    from bigsdb_spark.inventory.analytics import (
        a4_dashboard,
        a4_dashboard_sketch_served,
    )

    sf = "/root/testdata/sf0.001"
    raw = sorted(map(tuple, a4_dashboard(spark, sf).collect()))
    served = sorted(map(tuple, a4_dashboard_sketch_served(spark, sf).collect()))
    assert served == raw


def test_dashboard_sketch_rollups_accuracy(spark):
    """The approximate dashboard legs: HLL distinct-users exact in the
    sparse regime (15 users at sf0.001), KLL quantiles within rank
    error of the true per-type order statistics."""
    from bigsdb_spark.inventory.analytics import dashboard_sketch_rollups
    from bigsdb_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {r.event_type: r for r in dashboard_sketch_rollups(spark, sf).collect()}
    ev = load_table(spark, sf, "events")
    exact_d = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(got) == set(exact_d)
    vals = {
        r.event_type: sorted(x for x in r.vs if x is not None)
        for r in ev.groupBy("event_type")
        .agg(F.collect_list("value").alias("vs"))
        .collect()
    }
    for et, row in got.items():
        assert row.distinct_users == exact_d[et]  # sparse regime
        vs = vals[et]
        assert row.n_values == len(vs)
        for est, p in ((row.q50, 0.5), (row.q95, 0.95)):
            true_rank = sum(1 for v in vs if v <= est) / len(vs)
            assert abs(true_rank - p) <= 0.04


@pytest.mark.slow
def test_streaming_quantile_sketches_stream_equals_batch(spark, tmp_path):
    """r8: the streaming KLL rollup emits the same mergeable rows as
    the batch twin — per-window quantiles are exact (n <= k per
    window), and merging the emitted window sketches answers the
    cross-window median without reprocessing."""
    from bigsdb_spark.operators.sketches import (
        merge_quantile_sketches,
        with_quantiles,
    )
    from bigsdb_spark.streaming.events import (
        read_event_stream,
        run_available_now_memory,
        streaming_quantile_sketches,
    )

    rows = []
    eid = 0
    for h, vals in ((0, range(10)), (1, range(100, 140))):
        for i, v in enumerate(vals):
            rows.append(
                (eid, f"2024-01-01 0{h}:{10 + i % 40:02d}:00", "click", 1,
                 float(v))
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, event_type string, "
        "user_id long, value double"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type", "user_id", "value",
    )
    src = str(tmp_path / "kll_src")
    df.coalesce(1).write.parquet(src)
    stream = read_event_stream(spark, src, max_files=16)
    sk = streaming_quantile_sketches(stream)
    got = run_available_now_memory(
        sk, "kll_rollup", final_by=["window_start", "event_type"]
    )
    per = {
        r.window_start: (r.q50, r.n_values)
        for r in with_quantiles(got, [0.5]).collect()
    }
    ws = sorted(per)
    assert len(ws) == 2
    # inclusive-rank median: smallest v with rank(v) >= 0.5
    assert per[ws[0]] == (4.0, 10)    # 0..9: rank(4) = 5/10
    assert per[ws[1]] == (119.0, 40)  # 100..139: rank(119) = 20/40
    merged = with_quantiles(
        merge_quantile_sketches(got.select("kll", "n_values"), []), [0.5]
    ).collect()[0]
    allv = sorted(float(v) for *_, v in rows)
    assert merged.n_values == 50
    assert merged.q50 == allv[24]


def test_upsert_quantile_rollup_through_materialization(spark, tmp_path):
    """r8: incremental KLL dashboard loop — batch 2 merges into the
    stored sketches of the touched group only; quantiles equal exact
    order statistics over BOTH batches (exact regime), untouched
    groups keep their rows, history carries both commits."""
    from bigsdb_spark.cache import Materialization
    from bigsdb_spark.operators.sketches import (
        upsert_quantile_rollup,
        with_quantiles,
    )

    mat = Materialization(spark, str(tmp_path), "daily_values")
    b1 = spark.createDataFrame(
        [("d1", float(i)) for i in range(50)]
        + [("d2", float(i)) for i in range(20)],
        "day string, v double",
    )
    v1 = upsert_quantile_rollup(mat, b1, "day", "v")
    b2 = spark.createDataFrame(
        [("d1", float(i)) for i in range(50, 100)]
        + [("d3", float(i)) for i in range(7)],
        "day string, v double",
    )
    v2 = upsert_quantile_rollup(mat, b2, "day", "v")
    assert v1 != v2
    got = {
        r.day: (r.q50, r.n_values)
        for r in with_quantiles(mat.read(), [0.5]).collect()
    }
    # inclusive-rank median of 0..99 is 49; of 0..19 is 9; of 0..6 is 3
    assert got == {"d1": (49.0, 100), "d2": (9.0, 20), "d3": (3.0, 7)}
    assert len(mat.history()) == 2
