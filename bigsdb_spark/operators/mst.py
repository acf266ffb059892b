"""Distributed minimum spanning tree (Borůvka) over profile-distance
edges — the computational core of the GrapeTree / PhyloViz minimum
spanning tree the reference delegates to external binaries
(Plugins/GrapeTree.pm:324-388 exports a profile file and shells out;
Plugins/PhyloViz.pm posts to a web service).  Here the MST itself is
a DataFrame algorithm, so a tree over millions of profiles never
leaves the cluster.

Algorithm (public knowledge — Borůvka 1926): every component picks
its lightest outgoing edge, the picked edges merge components, repeat
— O(log V) rounds.  Each round is (a) two hash joins to tag edge
endpoints with their component, (b) one map-side-partial groupBy-min
per component, (c) a pointer-doubling contraction of the pick
pseudoforest (below).  Edge picks follow the total order (w, u, v) —
with a strict total order on edges, Borůvka provably never creates a
cycle even with repeated weights, and the resulting MST edge SET is
unique, which is what the tests pin against an independent Kruskal
oracle.

Merge step (r12 optimization round): the per-round component merge
used to delegate to ``clustering.single_linkage`` — a general
connected-components loop with its own per-round checkpoints and
convergence jobs, nested inside the Borůvka loop.  Measured at the d7
gate shape (~150 nodes / 11k edges, sf0.01): **313 driver jobs,
12.5–19.5 s** — pure sequential tiny-job scheduling floor, the same
pathology class as the round's a5-multi headline fix.  But the picked
graph is not a general graph: every live component has OUT-DEGREE
EXACTLY 1 (its own minimum outgoing edge), i.e. the pick map
``p(c) = partner component of c's chosen edge`` is a functional
graph, and under a strict edge total order every weak component of it
contains exactly ONE cycle, of length 2: on any functional-graph
cycle, let e* be the cycle's minimum pick; e*'s far endpoint also has
e* incident and live, so ITS minimum pick weighs <= w(e*), and the
strict total order forces it to BE e* — a mutual pair.  Re-rooting
each mutual pair at its smaller component id turns p into a forest,
and pointer doubling (p := p∘p) reaches every root in O(log depth)
rounds of one self-join each.  The merge labels are internal
(only the MST edge set leaves this function), so the root convention
does not need single_linkage's min-member-id semantics.
"""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bigsdb_spark.materialize import materialize, release
from bigsdb_spark.operators.clustering import _rdd_count

__all__ = ["boruvka_mst", "kruskal_mst_py"]


# merge-frame broadcast threshold (rows).  The merge self-joins and
# the relabel join run over C-row frames (C = live components, known
# EXACTLY from the empty-check count) whose checkpoints deliberately
# carry no stats — so Catalyst can never pick the broadcast strategy
# itself and always plans a shuffle join, which under AQE costs extra
# per-round driver jobs (one per shuffle stage) on top of the shuffle.
# Two long columns ≈ 16 bytes/row, but the DRIVER-side build of the
# hinted broadcast is a LongHashedRelation with several-x overhead
# (ADVICE r12): budget ~10x the raw bytes.  The 1e6 default (~160 MB
# built) fits a 2 GB driver; raise the env knob only alongside
# spark.driver.memory (a 4e6-row hint wants >= 4 GB driver).  Above
# the threshold the joins stay shuffle-based (correct at any scale,
# C only shrinks round to round).
BROADCAST_COMPONENT_ROWS = int(
    os.environ.get("SPARK_GRAFT_MST_BROADCAST_ROWS", "1000000")
)

# canonical-edge count at or below which the whole MST runs as ONE
# task (r13, VERDICT r12 #5 — the d7/d4 job-floor recipe): the
# distributed loop costs ~2 driver jobs per materialization across
# O(log V) Borůvka rounds x O(log C) doubling passes (~90 jobs at the
# 150-node d7 gate shape) while the data term is near zero.  A sorted
# union-find over 2e5 edges is tens of milliseconds of single-task
# CPU; above the knob the loop runs unchanged (correct at any scale).
MST_LOCAL_EDGE_ROWS = int(
    os.environ.get("SPARK_GRAFT_MST_LOCAL_ROWS", "200000")
)


def _mst_single_task(canon: DataFrame) -> DataFrame:
    """Kruskal over a SMALL canonical edge frame in one task — the
    same strict (w, u, v) total order as the Borůvka loop, whose MST
    edge set is provably identical (strict total order -> the MST is
    unique; tests pin both against kruskal_mst_py).  Caller guarantees
    the frame fits one task (see MST_LOCAL_EDGE_ROWS)."""
    from typing import Iterator

    import pyarrow as pa

    out_schema = ", ".join(f"{c} {t}" for c, t in canon.dtypes)

    def _kruskal(batches):
        types = None
        rows = []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            types = [rb.schema.field(i).type for i in range(3)]
            rows.extend(
                zip(
                    rb.column(2).to_pylist(),
                    rb.column(0).to_pylist(),
                    rb.column(1).to_pylist(),
                )
            )
        if not rows:
            return
        rows.sort()  # (w, u, v) — the loop's strict total order
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        us, vs, ws = [], [], []
        for w, u, v in rows:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
                us.append(u)
                vs.append(v)
                ws.append(w)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(us, type=types[0]),
                pa.array(vs, type=types[1]),
                pa.array(ws, type=types[2]),
            ],
            names=["u", "v", "w"],
        )

    _kruskal.__annotations__ = {
        "batches": Iterator[pa.RecordBatch],
        "return": Iterator[pa.RecordBatch],
    }
    return canon.repartition(1).mapInArrow(_kruskal, schema=out_schema)


def boruvka_mst(
    edges: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 40,
    local_edge_rows: int | None = None,
) -> DataFrame:
    """MST edge set of an undirected weighted graph.

    ``edges``: (u, v, w) — one row per undirected edge (orientation
    irrelevant, duplicates tolerated); ``nodes``: single-column frame
    of every vertex (isolated vertices simply never contribute edges).
    Returns (u, v, w) with u < v — |components' spanning forest| rows
    (V - C edges for C connected components).

    ``local_edge_rows`` overrides MST_LOCAL_EDGE_ROWS (tests force the
    distributed loop with 0).
    """
    canon = (
        edges.select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
            F.col("w"),
        )
        .filter(F.col("u") != F.col("v"))
        # the same undirected edge may arrive in both orientations or
        # repeatedly: keep its minimum weight (total order -> unique)
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    # materialize resets the inherited size estimate, which an
    # iterative loop of checkpointed joins would otherwise grow
    # exponentially in rounds (the r10 d7 gate fold: an 18-minute
    # single-core BigInteger.multiply grind on a 150-node graph)
    canon = materialize(canon)
    limit = MST_LOCAL_EDGE_ROWS if local_edge_rows is None else local_edge_rows
    if _rdd_count(canon) <= limit:
        return _mst_single_task(canon)
    comp = nodes.select(F.col(nodes.columns[0]).alias("id")).withColumn(
        "comp", F.col("id")
    )
    comp_is_ours = False  # don't unpersist the caller's nodes frame
    # V is loop-invariant: one up-front count decides the edge-tagging
    # join strategy for every round (comp's checkpoints carry no stats,
    # so Catalyst would otherwise shuffle the edge set by u AND by v
    # every round even on a 150-node graph)
    n_nodes = comp.count()
    bcast_tag = (
        F.broadcast
        if n_nodes <= BROADCAST_COMPONENT_ROWS
        else (lambda df: df)
    )
    mst = None
    for _ in range(max_rounds):
        cu = comp.select(F.col("id").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("id").alias("v"), F.col("comp").alias("cv"))
        live = (
            canon.join(bcast_tag(cu), "u")
            .join(bcast_tag(cv), "v")
            .filter(F.col("cu") != F.col("cv"))
        )
        # each live component's lightest outgoing edge under the strict
        # (w, u, v) total order, in ONE pass: explode each edge into
        # both directed views and take a map-side-partial min per
        # component.  The struct's trailing cu/cv fields cannot change
        # the argmin — (w, u, v) is already unique per canon edge — and
        # carrying them here is what lets the merge below skip the old
        # live⋈chosen join that re-derived the component pair.  live is
        # consumed exactly once, so it no longer needs its own
        # checkpoint (the old form read it twice via unionAll).
        pick = F.struct("w", "u", "v", "cu", "cv").alias("e")
        pmap = materialize(
            live.select(F.explode(F.array("cu", "cv")).alias("c"), pick)
            .groupBy("c")
            .agg(F.min("e").alias("e"))
        )
        # one full-scan count of the materialized checkpoint: a single
        # job, unlike limit(1).count()'s incremental executeTake jobs
        # or .count()'s two-stage aggregate
        n_live = _rdd_count(pmap)
        if n_live == 0:
            release(pmap)
            break
        # C is known exactly: hint the C-row merge joins to broadcast
        # when they fit (see BROADCAST_COMPONENT_ROWS)
        bcast = (
            F.broadcast
            if n_live <= BROADCAST_COMPONENT_ROWS
            else (lambda df: df)
        )
        # the picked edges themselves.  Lazy — each round's chosen
        # recomputes from its own pmap checkpoint when the final mst is
        # consumed, so no per-round materialization; the duplicates
        # (both endpoints of a mutual pair picked the same (w, u, v))
        # are collapsed by the single distinct at the END — a picked
        # edge's endpoints merge this round, so it can never be live
        # (or picked) again, and one final exchange dedups everything
        # instead of one per round.
        chosen = pmap.select("e.u", "e.v", "e.w")
        mst = chosen if mst is None else mst.unionAll(chosen)
        # ---- merge: contract the pick pseudoforest (see module doc).
        # p(c) = partner component; re-root the unique mutual pair of
        # each weak component at its smaller id, then pointer-double.
        pm = pmap.select(
            "c",
            F.when(F.col("e.cu") == F.col("c"), F.col("e.cv"))
            .otherwise(F.col("e.cu"))
            .alias("p"),
        )
        a, b = pm.alias("a"), pm.alias("b")
        rooted = a.join(bcast(b), F.col("a.p") == F.col("b.c")).select(
            F.col("a.c").alias("c"),
            F.when(
                (F.col("b.p") == F.col("a.c"))
                & (F.col("a.c") < F.col("a.p")),
                F.col("a.c"),
            )
            .otherwise(F.col("a.p"))
            .alias("p"),
        )
        p = materialize(rooted)
        # the re-rooted forest's depth is < n_live and doubling halves
        # the remaining depth every pass, so ceil(log2(n_live)) + 1
        # passes ALWAYS suffice — bound the inner loop independently
        # of the caller-facing max_rounds (ADVICE r12: a small
        # max_rounds silently exited here with a non-converged,
        # inconsistent relabeling, which can emit non-MST edges in
        # later rounds) and fail loudly on early exit rather than
        # proceed with inconsistent labels.
        inner_rounds = max(1, math.ceil(math.log2(max(2, n_live)))) + 1
        moved = 0
        for _ in range(inner_rounds):
            a, b = p.alias("a"), p.alias("b")
            nxt = materialize(
                a.join(bcast(b), F.col("a.p") == F.col("b.c")).select(
                    F.col("a.c").alias("c"),
                    F.col("b.p").alias("p"),
                    (F.col("b.p") != F.col("a.p")).alias("_moved"),
                )
            )
            moved = _rdd_count(nxt.filter(F.col("_moved")))
            release(p)
            p = nxt
            if moved == 0:
                break
        if moved != 0:
            raise RuntimeError(
                "boruvka_mst: pointer doubling did not converge in "
                f"{inner_rounds} rounds over {n_live} live components "
                "— the pick re-root invariant is broken"
            )
        relabel = p.select(
            F.col("c").alias("comp"), F.col("p").alias("_new")
        )
        new_comp = materialize(
            comp.join(bcast(relabel), "comp", "left").select(
                "id", F.coalesce("_new", "comp").alias("comp")
            )
        )
        release(p)
        if comp_is_ours:
            release(comp)
        comp = new_comp
        comp_is_ours = True
    if comp_is_ours:
        release(comp)
    if mst is None:
        return canon.limit(0)
    # the picked edges read only their own pmap checkpoints
    release(canon)
    return mst.select("u", "v", "w").distinct()


def kruskal_mst_py(edges: list[tuple], n_nodes_hint: int = 0) -> set[tuple]:
    """Independent driver-side Kruskal oracle for tests: same (w, u, v)
    total order, classic union-find.  Returns the MST edge set as
    {(u, v, w)} with u < v."""
    canon = {}
    for u, v, w in edges:
        if u == v:
            continue
        a, b = (u, v) if u < v else (v, u)
        if (a, b) not in canon or w < canon[(a, b)]:
            canon[(a, b)] = w
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = set()
    for (a, b), w in sorted(canon.items(), key=lambda kv: (kv[1], kv[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.add((a, b, w))
    return out
