"""Inventory: temporal bucketing, sessionization and the batch twins of
the Structured Streaming operators (SURVEY §2.4 A11, §2.9) on events.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigsdb_spark.inventory.registry import register, tbl
from bigsdb_spark.materialize import materialize
from bigsdb_spark.operators.asof import asof_join, asof_join_salted
from bigsdb_spark.operators.sessions import epoch_seconds, sessionize, tumbling_counts


@register(
    "a11_temporal_buckets",
    oracle="""
    SELECT 'daily' AS kind, strftime(ts, '%Y-%m-%d') AS day, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT CASE WHEN m.rts IS NULL
                THEN 'asof' || s.tag || '_unmatched'
                ELSE 'asof' || s.tag || '_matched' END AS kind,
           CAST(NULL AS VARCHAR) AS day, m.event_type,
           count(*) AS n, round(sum(m.state_value), 2) AS total_value
    FROM (
        SELECT l.event_type, r.ts AS rts, r.state_value
        FROM (SELECT user_id, ts, event_type FROM events
              WHERE event_type IN ('click', 'view')) l
        ASOF LEFT JOIN (
            SELECT user_id, ts, max(value) AS state_value
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r
        ON l.user_id = r.user_id AND l.ts >= r.ts) m
    CROSS JOIN (SELECT '' AS tag UNION ALL SELECT '_salted') s
    GROUP BY 1, 3
    """,
)
def a11_daily(spark, sf_dir):
    """A11: date_trunc-style temporal stats
    (OfflineJobManager.pm:648 get_job_temporal_data), plus a backward
    as-of leg (operators/asof.py) hash-checked against DuckDB's NATIVE
    ASOF JOIN: each click/view event is stabbed against the latest
    prior purchase state of its user (right side pre-aggregated to one
    row per (user, ts) so the tie winner is engine-independent), then
    rolled up to matched/unmatched counts + matched state-value sums
    per event type — the r7 consolidation pattern: the distributed
    operator's output feeds the SAME entry, layout stays 50.

    r9: a third leg runs the IDENTICAL join through asof_join_salted
    with hot_threshold=0 (every key hot), so the full skew machinery —
    per-key timeline range-bucketing, per-bucket best, carry-in
    injection — is exercised against the same DuckDB native-ASOF
    oracle (labels 'asof_salted_*'); its rows must hash-match the
    plain leg's values exactly."""
    e = tbl(spark, sf_dir, "events")
    day = F.from_unixtime(epoch_seconds(e, "ts"), "yyyy-MM-dd")
    daily = (
        e.groupBy(day.alias("day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.lit("daily").alias("kind"), "day", "event_type", "n",
                "total_value")
    )
    # r13 (VERDICT r12 #4): the probe/state subtrees are consumed by
    # BOTH as-of legs, and the salted leg alone references each THREE
    # more times (hot-key counts, the semi/anti splits, the bounds
    # union) — re-deriving them per reference re-ran the scan + the
    # state groupBy exchange once per occurrence (54 shuffle exchanges
    # in the r12 plan).  Materialize each ONCE (purchase-state is one
    # row per (user, ts); probes are three narrow columns) and let
    # every leg read the checkpoint blocks.  Values are unchanged —
    # same expressions, computed once.
    state = materialize(
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("state_value"))
    )
    probes = materialize(
        e.filter(F.col("event_type").isin("click", "view")).select(
            "user_id", "ts", "event_type"
        )
    )
    def asof_leg(matched, tag):
        return (
            matched.groupBy(
                F.when(
                    F.col("ts_r").isNull(), F.lit(f"asof{tag}_unmatched")
                )
                .otherwise(F.lit(f"asof{tag}_matched"))
                .alias("kind"),
                F.col("event_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("state_value"), 2).alias("total_value"),
            )
            .select("kind", F.lit(None).cast("string").alias("day"),
                    "event_type", "n", "total_value")
        )

    plain = asof_leg(asof_join(probes, state, on="user_id"), "")
    salted = asof_leg(
        asof_join_salted(
            probes, state, on="user_id", hot_threshold=0, n_buckets=4
        ),
        "_salted",
    )
    return daily.unionByName(plain).unionByName(salted)


@register(
    "stream_twins",
    oracle="""
    WITH e AS (SELECT user_id, event_type, event_id, value,
                      epoch_ns(ts) AS tns FROM events),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY tns, event_id) AS rn
        FROM e),
    firsts AS (SELECT user_id, event_type, event_id, value,
                      tns // 1000000000 AS sec
               FROM ranked WHERE rn = 1)
    SELECT CAST(sec - (sec % 3600) AS BIGINT) AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM firsts GROUP BY 1, 2
    """,
)
def stream_twins(spark, sf_dir):
    """The canonical streaming pipeline as a batch twin: stateful dedup
    (first event per (user, type) key wins — deterministic argmin window
    with id tiebreak; streaming/events.py::streaming_dedup) feeding
    tumbling-window counts (streaming_tumbling_counts — same windows,
    same aggregates). tests/test_streaming_extensions.py asserts
    stream==batch for each operator individually with
    trigger=availableNow."""
    from pyspark.sql import Window

    e = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    firsts = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return tumbling_counts(firsts, "ts", "event_type", 3600)


@register(
    "stream_sessionize",
    oracle="""
    WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t FROM events),
    l AS (
        SELECT user_id, t,
               CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                         IS NULL
                      OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                         > 1800
                    THEN 1 ELSE 0 END AS b
        FROM e),
    s AS (
        SELECT user_id, t,
               sum(b) OVER (PARTITION BY user_id ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS sid
        FROM l),
    per AS (
        SELECT user_id, sid, count(*) AS n_events,
               max(t) - min(t) AS dur
        FROM s GROUP BY 1, 2)
    SELECT user_id, count(*) AS n_sessions,
           CAST(max(n_events) AS BIGINT) AS max_session_events,
           CAST(max(dur) AS BIGINT) AS max_session_sec
    FROM per GROUP BY user_id
    """,
)
def stream_sessions(spark, sf_dir):
    """Gap-based sessionization (30 min) — lag + running-sum session ids;
    the batch twin of a stateful streaming session window."""
    return sessionize(tbl(spark, sf_dir, "events"), "ts", "user_id", 1800)
