"""Isolate version chains (SURVEY §1.2 #2: ``isolates.new_version``
self-FK).

Reference behavior: CurateNewVersionPage.pm creates a successor record
and points the old row's ``new_version`` at it; queries default to
latest-only (``new_version IS NULL``, REST/Routes/Isolates.pm:491);
IsolateInfoPage renders the full version history by walking the chain
row-by-row.

Spark-first: chain walking is pointer DOUBLING over the successor
mapping — log(longest chain) self-joins instead of a per-record loop,
the same iteration shape as the clustering label propagation.  Chains
are functional graphs (each record has at most one successor), so the
resolved map is exact.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bigsdb_spark.materialize import materialize, release

__all__ = ["create_new_versions", "latest_versions", "version_history"]


def create_new_versions(
    isolates: DataFrame,
    id_pairs: DataFrame,
    today: str,
    id_col: str = "id",
    date_col: str = "date_entered",
) -> DataFrame:
    """CurateNewVersionPage semantics: for each (old_id, new_id) pair,
    clone the old record under the new id (fresh ``date_entered``,
    NULL ``new_version``) and point the old row's ``new_version`` at
    it.  Returns the replacement isolates frame; callers overwrite.
    Both passes are broadcast joins against the (bounded) pair list.

    Only chain HEADS may be versioned (the reference disables the
    action for superseded records) — a pair whose old record already
    has a successor would silently orphan that successor's chain, so
    it raises instead.  Symmetrically, every ``new_id`` must be UNUSED
    and distinct within the pair list — a collision with an existing
    record id (or two pairs sharing a new_id) would silently yield
    duplicate ids in the returned frame.
    """
    pairs = F.broadcast(
        id_pairs.select(
            F.col("old_id").alias("_old"), F.col("new_id").alias("_new")
        )
    )
    clash = (
        isolates.filter(F.col("new_version").isNotNull())
        .join(pairs, isolates[id_col] == F.col("_old"), "inner")
        .select(id_col)
        .limit(5)
        .collect()
    )
    if clash:
        ids = ", ".join(str(r[0]) for r in clash)
        raise ValueError(
            f"records already superseded cannot be versioned: {ids}"
        )
    dup_new = (
        id_pairs.groupBy("new_id")
        .count()
        .filter(F.col("count") > 1)
        .limit(5)
        .collect()
    )
    if dup_new:
        ids = ", ".join(str(r[0]) for r in dup_new)
        raise ValueError(f"duplicate new_id values in pairs: {ids}")
    used = (
        isolates.join(pairs, isolates[id_col] == F.col("_new"), "left_semi")
        .select(id_col)
        .limit(5)
        .collect()
    )
    if used:
        ids = ", ".join(str(r[0]) for r in used)
        raise ValueError(f"new_id values already in use: {ids}")
    updated_old = (
        isolates.join(pairs, isolates[id_col] == F.col("_old"), "left")
        .withColumn(
            "new_version", F.coalesce(F.col("_new"), F.col("new_version"))
        )
        .drop("_old", "_new")
    )
    clones = (
        isolates.join(pairs, isolates[id_col] == F.col("_old"), "inner")
        .withColumn(id_col, F.col("_new"))
        .withColumn(date_col, F.lit(today).cast("date"))
        .withColumn("new_version", F.lit(None).cast(dict(isolates.dtypes)["new_version"]))
        .drop("_old", "_new")
        .select(*isolates.columns)
    )
    return updated_old.unionByName(clones)


def latest_versions(
    isolates: DataFrame, id_col: str = "id", max_iter: int = 20
) -> DataFrame:
    """(id, latest_id, hops): every record resolved to the head of its
    version chain (the reachable row with ``new_version IS NULL``) and
    its distance from that head in chain links.  Pointer doubling with
    accumulated distance: each round rewrites ``next`` to
    ``next(next)`` adding the hop counts, so a chain of length L
    resolves in ceil(log2 L) rounds — 20 rounds covers chains of a
    million versions."""
    ckpt = materialize(
        isolates.select(
            F.col(id_col).alias("id"),
            F.coalesce("new_version", F.col(id_col)).alias("nxt"),
            F.when(F.col("new_version").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("hops"),
        )
    )
    nxt = ckpt
    for _ in range(max_iter):
        hop = nxt.select(
            F.col("id").alias("_j_id"),
            F.col("nxt").alias("_j_nxt"),
            F.col("hops").alias("_j_hops"),
        )
        new_nxt = F.coalesce("_j_nxt", "nxt")
        doubled = materialize(
            nxt.join(hop, nxt["nxt"] == hop["_j_id"], "left").select(
                "id",
                new_nxt.alias("nxt"),
                (F.col("hops") + F.coalesce("_j_hops", F.lit(0))).alias("hops"),
                (new_nxt != F.col("nxt")).alias("_changed"),
            )
        )
        # the previous round is superseded: only one round is held
        release(ckpt)
        ckpt = doubled
        nxt = doubled.select("id", "nxt", "hops")
        if doubled.filter(F.col("_changed")).limit(1).count() == 0:
            break
    return nxt.withColumnRenamed("nxt", "latest_id")


def version_history(
    isolates: DataFrame, id_col: str = "id", max_iter: int = 20
) -> DataFrame:
    """(latest_id, version, id): every chain unrolled oldest-first —
    the IsolateInfoPage version listing for ALL records in one plan.
    Version numbers rank by DISTANCE FROM THE HEAD (hops desc): the
    oldest record is the farthest from the current head, regardless of
    the numeric ids curators assigned along the way."""
    from pyspark.sql import Window

    latest = latest_versions(isolates, id_col, max_iter)
    w = Window.partitionBy("latest_id").orderBy(F.desc("hops"), F.asc("id"))
    return latest.select(
        "latest_id", F.row_number().over(w).alias("version"), "id"
    )
