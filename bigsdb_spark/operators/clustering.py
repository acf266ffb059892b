"""Single-linkage classification groups + BURST aggregates
(SURVEY §2.5 D4/D7).

D4 — the reference's classification-group clustering
(scripts/automation/cluster.pl:107-171) is greedy single-linkage: each
profile joins the group of any profile within the distance threshold,
and a profile linking several groups MERGES them, keeping the smallest
group id. The fixed point of that process is exactly the connected
components of the threshold graph with each component labelled by its
smallest member id — which is what the iterative min-label propagation
below converges to, without the reference's sequential scan.

Scale: label propagation is a few join+groupBy rounds (diameter of the
largest cluster, typically < 10 for epidemiological data); each round is
one shuffle on profile id. For 100 TB-scale graphs swap in GraphFrames'
connectedComponents — same contract.

D7 — BURST (Plugins/BURST.pm:238) needs per-profile counts of
single/double-locus variants and the founder (max SLV, ties by DLV):
plain aggregations over the pair-distance DataFrame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigsdb_spark.materialize import materialize, release


def _rdd_count(df: DataFrame) -> int:
    """Row count of an already-materialized (checkpointed) frame as ONE
    driver job: a plain .count() plans a two-stage partial/final
    aggregate that AQE runs as two jobs; counting the physical plan's
    RDD is a single job over the cached checkpoint blocks with no
    Python-side row traffic (the count returns as a py4j scalar).  In
    a loop whose cost is the per-job scheduling floor, every
    convergence/empty check pays this twice per round otherwise.
    (Moved here from mst.py in r13 so clustering's own loop can use it;
    mst.py re-imports it.)  Genuine job failures (Py4JJavaError)
    propagate — only interface drift falls back to the 2-job count
    (ADVICE r12)."""
    from py4j.protocol import Py4JError, Py4JJavaError

    try:
        return int(df._jdf.queryExecution().toRdd().count())
    except Py4JJavaError:
        raise  # a real job failure, not interface drift — surface it
    except (AttributeError, TypeError, Py4JError):
        return df.count()


# symmetric-edge row count at or below which connected components run
# as ONE single-task vectorized union-find pass (numpy min-label
# hooking + pointer doubling inside one mapInArrow task) instead of
# the iterative join loop.  2e6 rows of two longs is ~32 MB in the
# task — trivially within any executor — while the loop it replaces
# costs ~2 driver jobs per propagation round (measured r13: the d4
# gate query spent 56 driver jobs, mostly here).  Above the threshold
# the loop runs unchanged (the at-scale path; its ladder was measured
# at 4e6 nodes in r6).  Env-tunable per deployment.
CC_LOCAL_EDGE_ROWS = int(
    os.environ.get("SPARK_GRAFT_CC_LOCAL_ROWS", "2000000")
)


def _cc_single_task(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Connected components of a SMALL symmetric edge frame in one
    vectorized task: min-label hooking + full pointer compression per
    pass (Shiloach–Vishkin shape), numpy throughout.  Labels equal the
    component's smallest member id — the same fixed point as the
    iterative loop, so output is identical by construction (pinned in
    tests over random graphs and chains).  Caller guarantees the edge
    frame fits one task (see CC_LOCAL_EDGE_ROWS).

    The node ids ride into the task beside the edges as flagged rows
    (one shuffle, no join, so no extra job), and edges with an
    endpoint outside ``nodes`` are dropped there — the distributed
    loop's label joins drop them the same way."""
    from typing import Iterator

    import pyarrow as pa

    col = nodes.columns[0]
    rows = edges.select("id1", "id2", F.lit(False).alias("_node")).unionByName(
        nodes.filter(F.col(col).isNotNull()).select(
            F.col(col).alias("id1"), F.col(col).alias("id2"), F.lit(True).alias("_node")
        )
    )
    id_type = dict(rows.dtypes)["id1"]

    def _uf(batches):
        import numpy as np

        a_parts, b_parts, n_parts = [], [], []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            node = rb.column(2).to_numpy(zero_copy_only=False)
            a = rb.column(0).to_numpy(zero_copy_only=False)
            n_parts.append(a[node])
            a_parts.append(a[~node])
            b_parts.append(rb.column(1).to_numpy(zero_copy_only=False)[~node])
        if not a_parts:
            return
        node_ids = np.unique(np.concatenate(n_parts))
        a = np.concatenate(a_parts)
        b = np.concatenate(b_parts)
        keep = np.isin(a, node_ids) & np.isin(b, node_ids)
        a, b = a[keep], b[keep]
        ids = np.unique(np.concatenate([a, b]))
        ia = np.searchsorted(ids, a)
        ib = np.searchsorted(ids, b)
        # labels are INDICES into the sorted id array, so min index ==
        # min id and the final map ids[lab] is the min-member label
        lab = np.arange(len(ids))
        while True:
            before = lab.copy()
            m = np.minimum(lab[ia], lab[ib])
            # hook each endpoint's current label down to the edge min
            np.minimum.at(lab, ia, m)
            np.minimum.at(lab, ib, m)
            # full path compression: lab converges to per-pass roots
            while True:
                nl = lab[lab]
                if np.array_equal(nl, lab):
                    break
                lab = nl
            if np.array_equal(lab, before):
                break
        block = 1 << 18
        roots = ids[lab]
        for s in range(0, len(ids), block):
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[s : s + block]),
                 pa.array(roots[s : s + block])],
                names=["id", "group_id"],
            )

    _uf.__annotations__ = {
        "batches": Iterator[pa.RecordBatch],
        "return": Iterator[pa.RecordBatch],
    }
    lab = rows.repartition(1).mapInArrow(
        _uf, schema=f"id {id_type}, group_id {id_type}"
    )
    all_nodes = nodes.select(F.col(col).alias("id"))
    return all_nodes.join(lab, on="id", how="left").select(
        "id", F.coalesce("group_id", F.col("id")).alias("group_id")
    )


def single_linkage(
    pairs: DataFrame,
    nodes: DataFrame,
    max_iter: int = 50,
    round_stats: list | None = None,
    local_edge_rows: int | None = None,
) -> DataFrame:
    """Connected components by iterative smallest-id label propagation.

    ``pairs``: (id1, id2) edges within threshold. ``nodes``: (id) all
    profiles to cluster (singletons form their own group).
    Returns (id, group_id) with group_id = smallest member id, matching
    cluster.pl's merge-into-smallest-group semantics.

    ``round_stats`` (r9, tools/d4_probe.py): pass a list to receive one
    ``{"round", "sec", "changed"}`` dict per propagation round — the
    per-round wall clock and how many labels moved.  The changed count
    costs one extra scan of the already-checkpointed round result (the
    convergence check otherwise short-circuits at the first hit), so
    leave it None outside probes.
    """
    import time as _time
    # joined every round: materialized so the upstream pair-distance
    # self-join runs once
    edges = materialize(
        pairs.select("id1", "id2")
        .union(pairs.select(F.col("id2").alias("id1"), F.col("id1").alias("id2")))
        .distinct()
    )
    # ONE single-job count decides both dispatches below (r13; the
    # .count() form cost two jobs under AQE)
    n_edges = _rdd_count(edges)
    # r13 (the d7/a5 job-floor recipe applied to the CC loop itself):
    # a small edge set pays ~2 driver jobs per propagation round in
    # the loop below — the d4 gate query measured 56 driver jobs /
    # 2.6 s at sf0.1 with the data term near zero.  Run it instead as
    # ONE vectorized union-find task; identical output (min-member
    # labels) pinned in tests.  The probe path (round_stats) and
    # anything above the threshold keep the distributed loop.
    limit = CC_LOCAL_EDGE_ROWS if local_edge_rows is None else local_edge_rows
    if round_stats is None and n_edges <= limit:
        return _cc_single_task(edges, nodes)
    # right-size the iteration: a small graph on 32 shuffle partitions
    # pays ~32x task overhead per round for nothing
    if n_edges < 1_000_000:
        small = materialize(edges.repartition(8, "id2"))
        release(edges)
        edges = small
    labels = nodes.select(F.col(nodes.columns[0]).alias("id")).withColumn(
        "group_id", F.col("id")
    )
    prev_ckpt: DataFrame | None = None
    # stats-read CADENCE REVERTED (r12 optimization round): the
    # interim r12 form predicted bit growth from one reading (assumed
    # >= 2x/round) and skipped the py4j stats read on predicted-safe
    # rounds.  Measured same-host A/B at sf0.1: the prediction
    # undershoots badly (the labels x edges x parent product grows
    # much faster than 2x/round), junk BigInt estimates survive
    # between checks, and d4 regressed 2.82 s -> 7.3-23.7 s — the
    # per-round read it was saving costs ~0.18 s TOTAL (the r11
    # 1.08x-over-floor residual).  Read every round; VERDICT r11 #6
    # is closed as measured-not-worth-it.
    for _round in range(max_iter):
        _t0 = _time.perf_counter()
        neighbor_min = (
            edges.join(labels, edges["id2"] == labels["id"])
            .groupBy("id1")
            .agg(F.min("group_id").alias("nbr_min"))
            .withColumnRenamed("id1", "id")
        )
        # pointer-halving: also chase one hop through the label table
        # (label(label(id))) so convergence is ~log(diameter) rounds —
        # each Spark round costs a fixed scheduling overhead, so fewer,
        # fatter rounds win at any scale
        parent = labels.select(
            F.col("id").alias("group_id"), F.col("group_id").alias("grandparent")
        )
        new_label = F.least(
            F.col("group_id"),
            F.coalesce(F.col("nbr_min"), F.col("group_id")),
            F.coalesce(F.col("grandparent"), F.col("group_id")),
        )
        # carry the changed flag IN the same frame — the convergence
        # check then reads the checkpointed result instead of running a
        # second join job per round (VERDICT r1 fix: one pass/iteration)
        updated = (
            labels.join(neighbor_min, on="id", how="left")
            .join(parent, on="group_id", how="left")
            .select(
                "id",
                new_label.alias("new_group_id"),
                (new_label != F.col("group_id")).alias("_changed"),
            )
            .withColumnRenamed("new_group_id", "group_id")
        )
        # one job/round; stats reset past the threshold — the labels x
        # edges x parent join product would otherwise double the
        # sizeInBytes BigInt's bit-length every round (see materialize)
        materialized = materialize(updated)
        # the previous round's checkpoint is dead the moment this one
        # exists — free its blocks so rounds don't stack up in the heap
        if prev_ckpt is not None:
            release(prev_ckpt)
        prev_ckpt = materialized
        labels = materialized.select("id", "group_id")
        if round_stats is not None:
            changed = materialized.filter(F.col("_changed")).count()
            round_stats.append(
                {
                    "round": _round,
                    "sec": round(_time.perf_counter() - _t0, 2),
                    "changed": changed,
                }
            )
            if changed == 0:
                break
            continue
        # cheap scan of the checkpointed partitions — no recompute
        if materialized.filter(F.col("_changed")).limit(1).count() == 0:
            break
    release(edges)  # the labels checkpoint no longer reads the edges
    return labels


def burst_slv_dlv(pair_dist: DataFrame) -> DataFrame:
    """D7: per-profile SLV/DLV/TLV counts from pair Hamming distances
    (BURST.pm:336 builds the same dismat procedurally). Founder score =
    most SLVs, tiebreak most DLVs then smallest id (BURST.pm:637-646).

    The founder_rank window is a GLOBAL rank — one partition for the
    final ordering. That is the semantics (a total founder order), and
    it is safe because BURST inputs are a selected dataset / one
    cg-scheme group (the reference runs it on the user's result set),
    never the whole warehouse; the heavy per-pair work is already
    aggregated before the window sees it."""
    both = pair_dist.select("id1", "id2", "hamming").union(
        pair_dist.select(
            F.col("id2").alias("id1"), F.col("id1").alias("id2"), "hamming"
        )
    )
    counts = both.groupBy(F.col("id1").alias("id")).agg(
        F.sum((F.col("hamming") == 1).cast("long")).alias("slv"),
        F.sum((F.col("hamming") == 2).cast("long")).alias("dlv"),
        F.sum((F.col("hamming") == 3).cast("long")).alias("tlv"),
    )
    w = Window.orderBy(F.desc("slv"), F.desc("dlv"), F.asc("id"))
    return counts.withColumn("founder_rank", F.row_number().over(w))
