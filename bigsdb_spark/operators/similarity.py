"""Embedding similarity search (training-data pipeline family).

Beyond-reference extension generalizing the profile-distance operators
(SURVEY D2): cosine similarity over an ``array<float>`` column.

- ``cosine_topk_pairs``  : brute-force all-pairs top-k — the baseline.
- ``nearest_neighbor``   : per-query argmin/argmax via a window.
- ``bucketed_ann``       : IVF/LSH-flavoured scale path — vectors are
  assigned to sign-buckets (hyperplane = coordinate signs), and search
  runs only inside the bucket: the crossJoin is pruned by the bucket
  equi-key, so Catalyst plans a hash join on the bucket id instead of a
  cartesian product.

All arithmetic stays JVM-side (zip_with + aggregate fold in index order,
cast to double first) so results are bit-reproducible against a DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigsdb_spark.materialize import materialize


def _dot(a, b) -> Column:
    prods = F.zip_with(
        a, b, lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _norm(a) -> Column:
    return F.sqrt(_dot(a, a))


def with_cosine(pairs: DataFrame, a: str = "e1", b: str = "e2") -> DataFrame:
    """Cosine over a pair frame. If precomputed 'n1'/'n2' norm columns
    are present (see _with_norm), the per-pair work is ONE fold instead
    of three — same expression values bit-for-bit."""
    cols = set(pairs.columns)
    if "n1" in cols and "n2" in cols:
        denom = F.col("n1") * F.col("n2")
    else:
        denom = _norm(F.col(a)) * _norm(F.col(b))
    return pairs.withColumn(
        "cosine", F.round(_dot(F.col(a), F.col(b)) / denom, 6)
    )


def np_round_half_up(c, decimals: int = 6):
    """numpy counterpart of ``F.round``'s HALF_UP tie rule (round half
    away from zero) — ``np.round`` rounds half to EVEN, so GEMM-scored
    cosines would round ties the other way.  Still only empirically
    equal to Spark's value: ``F.round`` on doubles goes through the
    decimal shortest representation (BigDecimal.valueOf), while this
    rounds the binary double directly, so a value whose shortest decimal
    form ends exactly in '…5' can differ in the last printed digit.
    NaN propagates (floor/copysign of NaN is NaN)."""
    import numpy as np

    scale = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(c) * scale + 0.5), c) / scale


def _arrow_mat(arr, n_rows: int):
    """(n_rows, d) float64 matrix from an Arrow list<float> array —
    the flat values buffer is taken in ONE vectorized pass (zero-copy
    where the buffer allows, a single astype otherwise) instead of the
    pandas route's per-row ndarray objects.  r10 (VERDICT r9 task 6):
    the per-cell Arrow round trip was 47% of the 1.6e7 IVF pipeline,
    and most of it was exactly this conversion — Arrow ListArray ->
    pandas object column -> np.array(list(...)) allocates one Python
    object + one tiny ndarray PER ROW; this does none of that.
    Requires equal-length, null-free lists (the vector-column
    contract everywhere in this module) — and GUARDS it (r11, ADVICE
    r10): ``ListArray.flatten`` skips null rows, so a contract
    violation whose shrunken element count happens to divide n_rows
    would otherwise reshape into a silently garbled matrix (the old
    ``np.array(list(...))`` path raised loudly on ragged input)."""
    import numpy as np

    if arr.null_count:
        raise ValueError(
            f"_arrow_mat: {arr.null_count} null vector rows — the "
            "vector-column contract requires null-free lists"
        )
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    if n_rows:
        if len(flat) % n_rows:
            raise ValueError(
                f"_arrow_mat: ragged vector lengths ({len(flat)} "
                f"elements across {n_rows} rows) — the vector-column "
                "contract requires equal-length lists"
            )
        # divisibility alone misses ragged lists whose TOTAL happens
        # to divide n_rows (e.g. lengths [1, 3] over 2 rows) — check
        # true uniformity on the length vector itself (r12, ADVICE
        # r11).  value_lengths is offset arithmetic, O(n) ints.
        vl = arr.value_lengths().to_numpy(zero_copy_only=False)
        if len(vl) and vl.min() != vl.max():
            raise ValueError(
                f"_arrow_mat: ragged vector lengths (min {int(vl.min())}"
                f", max {int(vl.max())}) — the vector-column contract "
                "requires equal-length lists"
            )
    return flat.astype(np.float64, copy=False).reshape(n_rows, -1)


def _arrow_int_lists(mat):
    """Arrow list<int32> array from an (n, k) int32 matrix — one
    offsets vector + the flat values, no per-row Python lists."""
    import numpy as np
    import pyarrow as pa

    n, k = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * k, k, dtype=np.int32)),
        pa.array(mat.ravel()),
    )


def _with_norm(emb: DataFrame, id_col: str, vec_col: str, ids: str, e: str, n: str):
    """Project (id, vector, norm) once — O(corpus) instead of O(pairs)."""
    return emb.select(
        F.col(id_col).alias(ids),
        F.col(vec_col).alias(e),
        _norm(F.col(vec_col)).alias(n),
    )


def _dot_unrolled(a: Column, b: Column, dims: int) -> Column:
    """Same value as _dot (left-to-right summation from 0.0) but as a
    flat arithmetic expression over pre-cast double arrays — stays in
    whole-stage codegen, where the higher-order fold is interpreted."""
    out: Column = F.lit(0.0)
    for i in range(1, dims + 1):
        out = out + F.element_at(a, i) * F.element_at(b, i)
    return out


def cosine_topk_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 20,
    dims: int | None = None,
) -> DataFrame:
    """Global top-k most-similar pairs, brute force (id1 < id2).
    Deterministic: ties broken by (id1, id2). ORACLE BASELINE ONLY —
    O(n²) pairs by definition; serve from cosine_topk_pairs_np /
    bucketed_ann_pairs / ivf_kmeans_ann.

    With ``dims`` the dot product unrolls into flat codegen arithmetic
    over pre-cast double arrays (same summation order, identical
    values) and the streamed side is repartitioned so the nested-loop
    pair join parallelizes instead of running as one task."""
    if dims is None:
        a = _with_norm(emb, id_col, vec_col, "id1", "e1", "n1")
        b = _with_norm(emb, id_col, vec_col, "id2", "e2", "n2")
        pairs = a.join(b, F.col("id1") < F.col("id2"))
        scored = with_cosine(pairs).select("id1", "id2", "cosine")
        return scored.orderBy(F.desc("cosine"), "id1", "id2").limit(k)
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    base = base.select(
        "id", "e", F.sqrt(_dot_unrolled(F.col("e"), F.col("e"), dims)).alias("n")
    )
    try:
        npart = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" under some AQE setups
        npart = emb.sparkSession.sparkContext.defaultParallelism
    a = base.select(
        F.col("id").alias("id1"), F.col("e").alias("e1"), F.col("n").alias("n1")
    ).repartition(npart)
    b = base.select(
        F.col("id").alias("id2"), F.col("e").alias("e2"), F.col("n").alias("n2")
    )
    scored = a.join(b, F.col("id1") < F.col("id2")).select(
        "id1",
        "id2",
        F.round(
            _dot_unrolled(F.col("e1"), F.col("e2"), dims)
            / (F.col("n1") * F.col("n2")),
            6,
        ).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), "id1", "id2").limit(k)


def nearest_neighbor(
    queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-query 1-NN by cosine (argmax window, ties -> smallest id) —
    the same argmin-window shape as the LIN-code closest-profile search
    (SURVEY W3)."""
    q = _with_norm(queries, id_col, vec_col, "qid", "e1", "n1")
    c = _with_norm(corpus, id_col, vec_col, "cid", "e2", "n2")
    scored = with_cosine(q.join(c)).select("qid", "cid", "cosine")
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("cid").alias("nn_id"), "cosine")
    )


def sign_bucket(vec_col, dims: int = 3) -> Column:
    """IVF-ish partition key: sign bits of the first ``dims`` coordinates.
    Deterministic and engine-independent (no random hyperplanes)."""
    bucket = F.lit(0)
    for i in range(dims):
        bit = (F.element_at(vec_col, i + 1) >= 0).cast("int")
        bucket = bucket * 2 + bit
    return bucket


def cosine_topk_pairs_np(
    emb: DataFrame, id_col: str, vec_col: str, k: int = 20,
    block_size: int = 2048,
) -> DataFrame:
    """Brute-force top-k pairs via distributed block-nested numpy matmul
    — the vectorized fast path (~10-100x the expression fold, same
    result; equality asserted in tests/test_ivf.py).

    Fully distributed — NO driver-side collect and no task-closure
    matrix: vectors are hashed into blocks, the tiny (b1 <= b2)
    block-pair list is built on the driver and BROADCAST, and two
    equi-joins on the block id fan each block's (ids, vectors) row out
    to its pairs; an Arrow-batched mapInPandas computes the
    block1 × block2ᵀ BLAS matmul per pair row. (A naive
    ``blocks.join(blocks, b1 <= b2)`` non-equi join would broadcast a
    side of the *blocks* frame — i.e. the whole corpus — or fall back
    to a cartesian; the pair-list shape keeps the only broadcast
    O(n_blocks²) ints.) Every global top-k pair lives in exactly one
    block-pair task and ranks within that task's local top-k, so
    emitting k candidates per task and a final global sort+limit is
    exact.

    Cost model at scale: each block is replicated n_blocks times (the
    O(n²/B) replication inherent to exact all-pairs search) — this is
    the exact-answer baseline; the IVF/bucketed paths are the
    sub-quadratic serving paths. ``n_blocks`` is raised above
    n/block_size when that would leave cores idle (small corpora), at
    the price of proportionally more replication.
    """
    import numpy as np
    import pandas as pd

    n = emb.count()
    par = emb.sparkSession.sparkContext.defaultParallelism
    # enough blocks that the ~n_blocks²/2 pair tasks cover the cluster,
    # but never blocks smaller than 64 vectors (BLAS loses to overhead)
    n_blocks = max(
        max(1, -(-n // block_size)),
        min(max(1, n // 64), int((2 * par) ** 0.5) + 1),
    )
    blocks = (
        emb.select(
            # pmod, not abs(hash) % n: abs(Integer.MIN_VALUE) is negative
            # in Java, which would give that id a block outside the pair
            # list and silently drop its vector from the search
            F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("b"),
            F.col(id_col).alias("vid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        .groupBy("b")
        .agg(
            F.collect_list("vid").alias("ids"),
            F.collect_list("v").alias("vecs"),
        )
    )
    # materialize once: the b1 and b2 join subtrees both reference
    # this aggregation, and without a barrier the whole-corpus
    # groupBy/collect_list would execute twice (exchange reuse is not
    # guaranteed across differently-aliased subtrees)
    blocks = materialize(blocks)
    pair_list = F.broadcast(
        emb.sparkSession.createDataFrame(
            [(b1, b2) for b1 in range(n_blocks) for b2 in range(b1, n_blocks)],
            "b1 int, b2 int",
        )
    )
    tasks = (
        pair_list.join(
            blocks.select(
                F.col("b").alias("b1"), F.col("ids").alias("ids1"),
                F.col("vecs").alias("vecs1"),
            ),
            on="b1",
        )
        .join(
            blocks.select(
                F.col("b").alias("b2"), F.col("ids").alias("ids2"),
                F.col("vecs").alias("vecs2"),
            ),
            on="b2",
        )
        .repartition(min(2 * par, n_blocks * (n_blocks + 1) // 2))
    )

    from pyspark.sql.types import LongType, IntegerType

    id_is_int = isinstance(
        emb.schema[id_col].dataType, (LongType, IntegerType)
    )
    id_np = np.int64 if id_is_int else object
    out_id_type = "long" if id_is_int else "string"

    def block_pairs(batches):
        for pdf in batches:
            out1, out2, outs = [], [], []
            for _, row in pdf.iterrows():
                ids1 = np.asarray(row["ids1"], dtype=id_np)
                ids2 = np.asarray(row["ids2"], dtype=id_np)
                m1 = np.array(list(row["vecs1"]), dtype=np.float64)
                m2 = np.array(list(row["vecs2"]), dtype=np.float64)
                sims = (m1 @ m2.T) / (
                    np.linalg.norm(m1, axis=1)[:, None]
                    * np.linalg.norm(m2, axis=1)[None, :]
                )
                same = row["b1"] == row["b2"]
                ii, jj = np.meshgrid(
                    np.arange(len(ids1)), np.arange(len(ids2)), indexing="ij"
                )
                keep = (
                    ids1[ii] < ids2[jj] if same
                    else ids1[ii] != ids2[jj]
                )
                flat_i, flat_j = ii[keep], jj[keep]
                # round BEFORE ranking so per-task selection ties agree
                # with the oracle's ordering over rounded cosines, and
                # keep every boundary tie: argpartition alone would pick
                # an arbitrary k among equal scores, and a dropped tie
                # could be the globally smallest-(id1,id2) winner
                vals = np.round(sims[flat_i, flat_j], 6)
                # zero-norm vectors yield NaN cosines; NaN in the top
                # partition would make vk NaN and `vals >= vk` all-False,
                # silently emitting nothing for the task — mask them out
                valid = ~np.isnan(vals)
                if not valid.all():
                    flat_i, flat_j = flat_i[valid], flat_j[valid]
                    vals = vals[valid]
                take = min(k, len(vals))
                if take == 0:
                    continue
                part = np.argpartition(-vals, take - 1)[:take]
                vk = vals[part].min()
                cand = []
                for t in np.nonzero(vals >= vk)[0]:
                    x, y = ids1[flat_i[t]], ids2[flat_j[t]]
                    x, y = (int(x), int(y)) if id_is_int else (str(x), str(y))
                    if x > y:
                        x, y = y, x
                    cand.append((-vals[t], x, y))
                cand.sort()
                for negv, x, y in cand[:k]:
                    out1.append(x)
                    out2.append(y)
                    outs.append(float(-negv))
            yield pd.DataFrame({"id1": out1, "id2": out2, "cosine": outs})

    cand = tasks.mapInPandas(
        block_pairs, f"id1 {out_id_type}, id2 {out_id_type}, cosine double"
    )
    return (
        cand.dropDuplicates(["id1", "id2"])
        .orderBy(F.desc("cosine"), "id1", "id2")
        .limit(k)
    )


# The QUALITY serving configuration (r8 production-n recall study,
# tools/ivf_recall.py --hier at n=1e6, occupancy-256 two-level codebook):
# recall@10 = 0.217 / 0.367 / 0.578 / 0.818 at n_probe 1/2/4/8.  An
# occupancy-256 codebook at production n SUBDIVIDES natural clusters, so
# single-probe recall collapses — n_probe=1 is a TIMING/throughput
# configuration only.  Both IVF entry points below default to this
# constant; pass n_probe=1 explicitly when benchmarking raw throughput
# or when the codebook occupancy is raised enough that cells hold whole
# clusters (re-measure recall first: tools/ivf_recall.py).
IVF_QUALITY_N_PROBE = 8


def ivf_kmeans_ann(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    top_k: int = 5,
    seed: int = 42,
    n_probe: int = IVF_QUALITY_N_PROBE,
    centroids=None,
    hierarchy=None,
) -> DataFrame:
    """True IVF: k-means|| coarse centroids (Spark MLlib) partition the
    corpus into inverted lists; each query searches its ``n_probe``
    closest cells (standard multi-probe IVF — ``n_probe=1`` is the
    classic own-cell search, ``n_probe=n_centroids`` degrades to exact
    brute force over every list).

    Returns per-vector top-k neighbours within the probed cells:
    (qid, nn_id, cosine, centroid). Recall/cost trades with BOTH knobs:
    more centroids = smaller lists (cheaper, lower recall); more probes
    = more lists per query (costlier, higher recall). The corpus side
    keeps its single k-means assignment (the inverted lists); the probe
    list is computed per query as a pure expression — squared-L2 to
    each broadcast centroid literal, array_sort, slice — so probing
    adds no Python and no extra shuffle beyond the (exploded) query
    rows. The search stays a self-equi-join on the centroid id (hash
    join), never a cross join; the query side is repartitioned so the
    per-cell expansion does not serialize when the build side is
    broadcast and the corpus arrives as one parquet split (same lesson
    as bucketed_ann_pairs).

    Cost note (measured at sf0.1): per-call wall clock is dominated by
    ``KMeans.fit`` — the index BUILD. Real deployments fit once and
    serve many queries against the saved model/centroids; per-query
    search cost is the probed-lists join only.

    Zero-norm vectors are dropped on both sides (r7): their cosine is
    NaN, and Spark's NaN-is-greatest ordering would rank a zero-norm
    corpus vector as EVERY query's top neighbour.  Same semantics in
    the GEMM variant below.
    """
    a, b = _ivf_probe_sides(
        emb, id_col, vec_col, n_centroids, seed, n_probe, centroids,
        hierarchy,
    )
    pairs = a.join(b, on="centroid").filter(F.col("qid") != F.col("nn_id"))
    scored = with_cosine(pairs).select("qid", "nn_id", "cosine", "centroid")
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= top_k
    ).drop("rn")


def _ivf_probe_sides(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    seed: int,
    n_probe: int,
    centroids=None,
    hierarchy=None,
    repartition_queries: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Shared IVF front half: k-means|| fit + inverted-list assignment.
    Returns (query_side, corpus_side) — the query side exploded to its
    ``n_probe`` closest cells, both sides carrying precomputed norms,
    zero-norm rows dropped (cosine undefined).

    ``centroids`` (list of vectors) skips the MLlib fit and assigns
    with one broadcast numpy pass per Arrow batch — the serve-from-a-
    saved-index path, and the only workable one when ``n_centroids``
    scales with the corpus (the expression-literal probe list below is
    fine at 16 cells, unusable at 16384: 2**20 literal nodes)."""
    if hierarchy is not None and centroids is not None:
        raise ValueError("pass centroids OR hierarchy, not both")
    if centroids is not None or hierarchy is not None:
        return _ivf_probe_sides_np(
            emb, id_col, vec_col, centroids, n_probe, hierarchy,
            repartition_queries,
        )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("e"),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features"),
    )
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(feat)
    assigned = model.transform(feat).select(
        "id", "e", F.col("prediction").alias("centroid"), _norm(F.col("e")).alias("n")
    ).filter(F.col("n") > 0)
    n_probe = max(1, min(n_probe, n_centroids))
    # (squared-L2-to-centroid, cid) structs; array_sort orders by the
    # first struct field, so slicing gives the n_probe closest cells
    probe_structs = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("e"),
                        F.array(*[F.lit(float(x)) for x in center]),
                        lambda x, y: (x.cast("double") - y)
                        * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("dist"),
                F.lit(ci).alias("cid"),
            )
            for ci, center in enumerate(model.clusterCenters())
        ]
    )
    probes = F.transform(
        F.slice(F.array_sort(probe_structs), 1, n_probe), lambda s: s["cid"]
    )
    a = assigned.select(
        F.col("id").alias("qid"), F.col("e").alias("e1"),
        F.col("n").alias("n1"), F.explode(probes).alias("centroid"),
    )
    if repartition_queries:
        a = a.repartition(emb.sparkSession.sparkContext.defaultParallelism)
    b = assigned.select(
        F.col("id").alias("nn_id"), F.col("e").alias("e2"),
        F.col("n").alias("n2"), "centroid",
    )
    return a, b


def _ivf_probe_sides_np(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    n_probe: int,
    hierarchy=None,
    repartition_queries: bool = True,
    explode_probes: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Injected-codebook assignment: one Arrow pass computes each
    vector's cell (closest centroid by L2) and its ``n_probe`` probe
    list via a BLAS distance matrix + row-wise argpartition — no MLlib
    fit, no per-centroid expression literals, so the cell count can
    scale with the corpus.  Cell = first probe by construction, so
    assignment and probing can never disagree.

    ``hierarchy`` (dedup.train_hierarchical_cells output) assigns in
    O(n·sqrt(k)·d) — nearest coarse branch, then nearest fine cells
    WITHIN it (inverted-multi-index style: with n_probe > 1 the probes
    are the branch's best fine cells, a standard approximation of the
    global n_probe-closest set) — the only feasible shape once
    k ∝ corpus makes the flat O(n·k·d) assignment a petaflop."""
    from typing import Iterator

    import numpy as np

    if hierarchy is not None:
        coarse = np.array(hierarchy["coarse"], dtype=np.float64)
        fine = np.array(hierarchy["fine"], dtype=np.float64)
        n_cells = coarse.shape[0] * fine.shape[1]
        cents = None
        half_coarse2 = 0.5 * (coarse**2).sum(axis=1)
        half_fine2 = 0.5 * (fine**2).sum(axis=2)  # (branches, fine)
    else:
        cents = np.array(centroids, dtype=np.float64)
        n_cells = len(cents)
        half_c2 = 0.5 * (cents**2).sum(axis=1)
    n_probe = max(1, min(n_probe, n_cells))
    id_type = dict(emb.dtypes)[id_col]
    vec_type = dict(emb.dtypes)[vec_col]
    out_schema = (
        f"id {id_type}, e {vec_type}, n double, "
        f"centroid int, probes array<int>"
    )

    def _top_probes(score: "np.ndarray") -> "np.ndarray":
        k = min(n_probe, score.shape[1])
        if k == 1:
            return score.argmax(axis=1)[:, None]
        part = np.argpartition(-score, k - 1, axis=1)[:, :k]
        # order the probe list best-first so probes[0] is the cell
        order = np.take_along_axis(score, part, axis=1).argsort(axis=1)[
            :, ::-1
        ]
        return np.take_along_axis(part, order, axis=1)

    def _assign(batches):
        # Arrow-native (r10, VERDICT r9 task 6): the vector column is
        # read as ONE flat buffer (_arrow_mat) and passed through to
        # the output array UNTOUCHED (same Arrow buffer, no per-row
        # object churn); probes ship as offsets+flat values.  The
        # pandas form allocated per-row ndarrays on input AND per-row
        # Python lists on output for every corpus row.
        import pyarrow as pa

        for rb in batches:
            nrows = rb.num_rows
            if nrows == 0:
                continue
            vec = rb.column(1)
            x = _arrow_mat(vec, nrows)
            nrm = np.sqrt((x * x).sum(axis=1))
            if cents is not None:
                # argmin ||x-c||^2 == argmax x.c - 0.5||c||^2 (x^2 const)
                probes = _top_probes(x @ cents.T - half_c2)
            else:
                ci = (x @ coarse.T - half_coarse2).argmax(axis=1)
                # score each coarse branch's rows against ONLY that
                # branch's fine row with a real GEMM.  The r7 form
                # gathered fine[ci] — a (batch, sqrt(k), d) float64
                # materialization (~2.5 TB of memory traffic over a
                # 1.6e7 corpus at k = n/256) fed to a non-BLAS einsum;
                # the r8 ivf_gemm_probe decomposition showed that
                # gather+einsum to be the superlinear assignment term
                # behind the 5.0x-per-4x top-tier step.
                kf = min(n_probe, fine.shape[1])
                probes = np.empty((len(x), kf), dtype=np.int64)
                order = np.argsort(ci, kind="stable")
                bounds = np.searchsorted(ci[order], np.arange(coarse.shape[0] + 1))
                for bi in range(coarse.shape[0]):
                    rows = order[bounds[bi] : bounds[bi + 1]]
                    if rows.size == 0:
                        continue
                    fscore = x[rows] @ fine[bi].T - half_fine2[bi]
                    probes[rows] = bi * fine.shape[1] + _top_probes(fscore)
            p32 = probes.astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    vec,
                    pa.array(nrm),
                    pa.array(p32[:, 0]),
                    _arrow_int_lists(p32),
                ],
                names=["id", "e", "n", "centroid", "probes"],
            )

    assigned = (
        emb.select(id_col, vec_col)
        .mapInArrow(_assign, schema=out_schema)
        .filter(F.col("n") > 0)
    )
    if not explode_probes:
        # branch-grouped multi-probe (hierarchy only): the query side
        # keeps its probe LIST and ships ONCE to its coarse branch —
        # all of a query's probed cells live inside that one branch by
        # construction (IMI), so no per-probe replication ever crosses
        # the shuffle (union bytes identical to n_probe=1)
        if hierarchy is None:
            raise ValueError("explode_probes=False requires a hierarchy")
        n_fine = fine.shape[1]
        br = F.floor(F.col("centroid") / F.lit(n_fine)).cast("int")
        aq = assigned.select(
            F.col("id").alias("qid"), F.col("e").alias("e1"),
            "probes", br.alias("branch"),
        )
        bq = assigned.select(
            F.col("id").alias("nn_id"), F.col("e").alias("e2"),
            "centroid", br.alias("branch"),
        )
        return aq, bq
    a = assigned.select(
        F.col("id").alias("qid"), F.col("e").alias("e1"),
        F.col("n").alias("n1"), F.explode("probes").alias("centroid"),
    )
    if repartition_queries:
        a = a.repartition(emb.sparkSession.sparkContext.defaultParallelism)
    b = assigned.select(
        F.col("id").alias("nn_id"), F.col("e").alias("e2"),
        F.col("n").alias("n2"), "centroid",
    )
    return a, b


def ivf_kmeans_ann_gemm(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    top_k: int = 5,
    seed: int = 42,
    n_probe: int = IVF_QUALITY_N_PROBE,
    centroids=None,
    hierarchy=None,
    max_branch_rows: int | None = None,
) -> DataFrame:
    """``ivf_kmeans_ann`` with the probed-list scoring done as a
    per-cell BLAS matrix product — the r6 GEMM-scorer rewrite
    (bucketed_ann_pairs_gemm / dedup.semantic_dedup) applied to the
    query-vs-corpus top-k shape.  Same (qid, nn_id, cosine, centroid)
    output as the join form (equality empirical up to last-ulp BLAS
    summation order and 6dp tie rounding — see np_round_half_up).

    Plan shape: instead of shuffling the exploded query side AND the
    corpus side into a join and folding an interpreted cosine per
    joined row, both sides shuffle ONCE into their cell
    (groupBy(centroid).applyInArrow over a union frame — Arrow-native
    since r10: vectors cross the Python boundary as flat buffers, no
    per-row pandas objects) and each cell
    scores queries x corpus in one tiled GEMM.  Per (query, cell) the
    task emits every candidate tied-or-above its k-th rounded cosine —
    a SUPERSET of the cell's true top-k under the (cosine desc, nn_id
    asc) order — and the final per-query top-k is merged by
    ``_merge_topk_by_qid`` (r9: a sort-free hash repartition + one
    vectorized numpy rank pass per partition; the row_number window it
    replaces externally sorted all n*n_probe*top_k candidate rows and
    its spill filled the disk at 1.6e7 x n_probe=8), so tie semantics
    are identical to the join form by construction.
    ``n_centroids`` must scale with the corpus (one cell materializes
    in one Python worker — the same occupancy contract as
    semantic_dedup's n_cells / bucketed_ann_pairs_gemm's dims).

    Deployment guidance (r8, measured in BASELINE.md): (a) train the
    codebook with >= ~16 sample points per cell — a fixed-size sample
    at growing k degenerates into empty cells + giant-occupancy
    stragglers (sum(occ^2) 10.6x uniform at k=62500 from a 131072
    sample); (b) at production n an occupancy-256 codebook subdivides
    natural clusters, so ``n_probe=1`` is a throughput configuration —
    recall@10 at n=1e6 clustered was 0.22/0.37/0.58/0.82 for n_probe
    1/2/4/8; serve quality with n_probe >= 8 or larger occupancy.  r9:
    the default is now IVF_QUALITY_N_PROBE (=8) — n_probe=1 must be
    requested explicitly; each cell emits its exact per-query top-k
    (not the tied superset), and the n_probe>1 merge is the sort-free
    ``_merge_topk_by_qid`` pass (at most n_probe*top_k rows per query
    through one hash shuffle, no window sort).

    Id contract (r10, ADVICE r9): ids must be UNIQUE and of an atomic,
    numpy-orderable type (int/float/string).  With DUPLICATE ids the
    physical paths diverge — the hierarchy+n_probe>1 branch path and
    the n_probe=1 exact-rank path keep top_k per replica ROW, while
    the flat merge path keeps top_k per id VALUE; dedupe upstream if
    ids can repeat.  Array/struct ids fail inside the numpy rank
    passes — hash them to a string/long key first.

    ``max_branch_rows`` (opt-in, hierarchy+n_probe>1 only): fail-fast
    occupancy bound for the branch task — a coarse branch materializes
    ~n/n_coarse corpus rows in ONE Python worker, so a mis-sized
    codebook should error with the knob named instead of grinding into
    an OOM (same contract as bucketed_ann_pairs_gemm's
    ``max_bucket_rows``); size it to worker memory / (vector bytes)."""
    # repartition_queries=False: the join form repartitions the query
    # side so the probed join parallelizes, but here BOTH sides shuffle
    # into their cell via groupBy(centroid) anyway — the extra exchange
    # would be pure waste at corpus scale
    if hierarchy is not None and n_probe > 1:
        if centroids is not None:
            raise ValueError("pass centroids OR hierarchy, not both")
        # branch-grouped multi-probe (r9): every probed cell lives in
        # the query's coarse branch, so the query ships ONCE (no
        # per-probe vector replication through the shuffle) and the
        # per-query top-k finishes inside the branch task — no global
        # merge stage at all
        aq, bq = _ivf_probe_sides_np(
            emb, id_col, vec_col, None, n_probe, hierarchy,
            repartition_queries=False, explode_probes=False,
        )
        return _ivf_gemm_branch_topk(
            aq, bq, top_k, max_branch_rows=max_branch_rows
        )
    a, b = _ivf_probe_sides(
        emb, id_col, vec_col, n_centroids, seed, n_probe, centroids,
        hierarchy, repartition_queries=False,
    )
    if n_probe == 1:
        # every query is scored in exactly one cell, so the cell task
        # can finish the (cosine desc, nn_id asc) ranking itself and
        # the global row_number window — the largest term of the
        # n_probe=1 serving path in the r8 decomposition (211.6 s of
        # 329.0 s at 4e6: a full shuffle + sort of all candidate
        # rows) — is skipped entirely.  Output rows are identical by
        # construction; the ladder re-diffs the persisted results.
        return _ivf_gemm_candidates(a, b, top_k, exact_rank=True)
    cand = _ivf_gemm_candidates(a, b, top_k)
    return _merge_topk_by_qid(cand, top_k)


def _merge_topk_by_qid(cand: DataFrame, top_k: int) -> DataFrame:
    """Global per-query top-k over the per-(query, cell) exact top-k
    rows WITHOUT a row_number window (r9).  The window form externally
    SORTS all n*n_probe*top_k candidate rows (at 1.6e7 x n_probe=8
    that is 1.28e9 rows — its sort spill filled the disk and killed
    the r9 quality-config ladder run); but the candidate rows arriving
    here are already exactly ranked per (query, cell) under the global
    (cosine desc, nn_id asc) order, so the merge only needs GROUPING,
    never a partition-wide JVM sort: hash-repartition by qid (shuffle
    without sort), then ONE vectorized numpy lexsort+rank pass per
    partition (no per-group call overhead — same shape as exact_rank),
    chunk-emitted.

    Identical output to the window by construction: (qid, nn_id) pairs
    are unique (each corpus row lives in exactly one cell), so the
    (cosine desc, nn_id asc) order is total per qid and rank selection
    is deterministic regardless of batch arrival order.  Duplicate
    qids in the input merge per qid VALUE — the window's semantics.

    Id-type contract (r10, ADVICE r9): the numpy lexsort ranks the raw
    qid/nn_id arrays, so ids must be ATOMIC numpy-comparable values —
    ints, floats, strings (object dtype) all work; arrays/structs (and
    other types only a SQL window could order) raise inside the rank
    pass.  Hash exotic keys to a string/long before calling.

    Partition sizing: rows per task = n*n_probe*top_k / n_parts at
    ~28 B/row; the repartition honors the session's pre-coalesce knob
    (SPARK_GRAFT_INITIAL_PARTITIONS) so the Python pass stays at
    tens-to-hundreds of MB per task at ladder scale."""
    from typing import Iterator

    import numpy as np

    spark = cand.sparkSession
    initial = int(
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            "0",
        )
        or 0
    )
    n_parts = max(spark.sparkContext.defaultParallelism, initial)

    def _rank(batches):
        # Arrow-native (r10): scalar columns convert with one
        # to_numpy per batch (zero-copy for the doubles); output
        # ships as RecordBatch chunks
        import pyarrow as pa

        qs, ns, cs, cents = [], [], [], []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            qs.append(rb.column(0).to_numpy(zero_copy_only=False))
            ns.append(rb.column(1).to_numpy(zero_copy_only=False))
            cs.append(rb.column(2).to_numpy(zero_copy_only=False))
            cents.append(rb.column(3).to_numpy(zero_copy_only=False))
        if not qs:
            return
        q = np.concatenate(qs)
        nn = np.concatenate(ns)
        sc = np.concatenate(cs)
        ce = np.concatenate(cents)
        order = np.lexsort((nn, -sc, q))
        q, nn, sc, ce = q[order], nn[order], sc[order], ce[order]
        first = np.searchsorted(q, q, side="left")
        keep = (np.arange(len(q)) - first) < top_k
        q, nn, sc, ce = q[keep], nn[keep], sc[keep], ce[keep]
        ce = ce.astype(np.int32, copy=False)
        block = 1 << 18
        for s in range(0, len(q), block):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(q[s : s + block]),
                    pa.array(nn[s : s + block]),
                    pa.array(sc[s : s + block]),
                    pa.array(ce[s : s + block]),
                ],
                names=["qid", "nn_id", "cosine", "centroid"],
            )

    return cand.repartition(n_parts, "qid").mapInArrow(
        _rank, schema=cand.schema
    )


def _ivf_gemm_branch_topk(
    a: DataFrame,
    b: DataFrame,
    top_k: int,
    max_branch_rows: int | None = None,
) -> DataFrame:
    """Multi-probe IVF scoring grouped by COARSE BRANCH (r9).  With a
    two-level codebook every probed fine cell of a query lies inside
    the query's nearest coarse branch (IMI — ``_ivf_probe_sides_np``
    probes only within the winning branch), so the branch is a closed
    scoring unit: the query ships to its branch ONCE carrying its probe
    list (union shuffle bytes identical to n_probe=1 — the exploded
    form replicated each 256-B query vector n_probe times, ~35 GB at
    1.6e7 x n_probe=8), and the per-query top-k across all probed
    cells is finished INSIDE the branch task, so no global merge
    shuffle exists at all.  The pipeline is: assign (mapInPandas) ->
    one groupBy(branch) exchange -> final rows.

    In-task shape per branch (~n/sqrt(k) rows): corpus rows are sorted
    by fine cell once; each (probing-query x cell) pair is scored with
    the same tiled BLAS product + exact per-(query, cell) top-k as
    ``_cell_topk``; then one vectorized lexsort/rank pass picks each
    query's global top-k (valid because ALL its candidates are local).
    Output rows are identical to the exploded+merged form by
    construction — same rounding, same (cosine desc, nn_id asc) total
    order, (qid, nn_id) unique.  Caveat shared with ``exact_rank``:
    duplicate ids with DIFFERENT vectors may rank per-replica rather
    than per qid value; dedupe ids upstream if they can repeat (also
    surfaced in ``ivf_kmeans_ann_gemm``'s public docstring).

    ``max_branch_rows`` (opt-in): fail-fast bound on rows
    materialized per branch task, enforced while Arrow batches stream
    in (before any vstack) — the branch analogue of
    ``bucketed_ann_pairs_gemm.max_bucket_rows``.  Sizing rule: a
    branch holds ~n/n_coarse corpus rows at ~8*d bytes each (float64
    in-task), so bound = worker_mem_budget / (8*d) and train the
    hierarchy with n_coarse >= n / bound."""
    from typing import Iterator

    import numpy as np

    id_type = dict(b.dtypes)["nn_id"]
    union = a.select(
        F.lit(True).alias("is_q"), F.col("qid").alias("id"),
        F.col("e1").alias("e"), F.lit(None).cast("int").alias("centroid"),
        "probes", "branch",
    ).unionByName(
        b.select(
            F.lit(False).alias("is_q"), F.col("nn_id").alias("id"),
            F.col("e2").alias("e"), "centroid",
            F.lit(None).cast("array<int>").alias("probes"), "branch",
        )
    )

    def _branch_topk(batches):
        # Arrow-native (r10, VERDICT r9 task 6): per-batch extraction
        # is three flat-buffer reads (vectors via _arrow_mat, probes
        # via ListArray.flatten — null rows, i.e. the corpus side, are
        # skipped by flatten, so the reshape covers exactly the query
        # rows in batch order) instead of per-row ndarray/list objects.
        import pyarrow as pa

        q_ids, q_vecs, q_probes = [], [], []
        c_ids, c_vecs, c_cells = [], [], []
        n_rows = 0
        for rb in batches:
            nb = rb.num_rows
            if nb == 0:
                continue
            isq = rb.column("is_q").to_numpy(zero_copy_only=False)
            # fail-fast occupancy contract (r10, same as
            # bucketed_ann_pairs_gemm.max_bucket_rows): checked as
            # batches STREAM in, before any vstack, so a mis-sized
            # codebook errors with the knob named instead of OOMing
            # the worker mid-materialization.  Counts CORPUS rows only
            # (r11, ADVICE r10): the union stream also carries the
            # branch's query rows (~2x corpus in the self-join serving
            # shape), and the documented sizing rule — bound =
            # worker_mem_budget / (8*d) over ~n/n_coarse corpus rows —
            # describes the corpus side
            n_rows += nb - int(isq.sum())
            if max_branch_rows is not None and n_rows > max_branch_rows:
                raise ValueError(
                    f"coarse branch {rb.column('branch')[0].as_py()} "
                    f"holds > max_branch_rows={max_branch_rows} corpus "
                    "rows: a branch materializes ~n/n_coarse corpus "
                    "rows in ONE Python task, so the two-level "
                    "codebook's coarse arity must scale with the "
                    "corpus (train with n_coarse ~ n / "
                    "target_branch_rows, e.g. occupancy-256 fine "
                    "cells under sqrt(k) coarse branches) — retrain "
                    "with more branches or raise max_branch_rows to "
                    "match worker memory"
                )
            ids = rb.column("id").to_numpy(zero_copy_only=False)
            vecs = _arrow_mat(rb.column("e"), nb)
            if isq.any():
                nq_b = int(isq.sum())
                q_ids.append(ids[isq])
                q_vecs.append(vecs[isq])
                # corpus probes are NULL lists — flatten skips them,
                # leaving exactly the query rows' values in order
                q_probes.append(
                    rb.column("probes")
                    .flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                    .reshape(nq_b, -1)
                )
            if not isq.all():
                c_ids.append(ids[~isq])
                c_vecs.append(vecs[~isq])
                # query centroids are NULL -> to_numpy gives float64
                # with NaN; the corpus mask selects only non-nulls
                c_cells.append(
                    rb.column("centroid")
                    .to_numpy(zero_copy_only=False)[~isq]
                    .astype(np.int64)
                )
        if not q_ids or not c_ids:
            return
        qids = np.concatenate(q_ids)
        xq = np.vstack(q_vecs)
        probes = np.vstack(q_probes)
        cids = np.concatenate(c_ids)
        xc = np.vstack(c_vecs)
        cells = np.concatenate(c_cells)
        nq_norm = np.sqrt((xq * xq).sum(axis=1))
        nc_norm = np.sqrt((xc * xc).sum(axis=1))
        corder = np.argsort(cells, kind="stable")
        cells_s = cells[corder]
        ucells, cstart = np.unique(cells_s, return_index=True)
        cend = np.append(cstart[1:], len(cells_s))
        nq = len(qids)
        kf = probes.shape[1]
        pq = np.repeat(np.arange(nq), kf)
        pc = probes.ravel()
        porder = np.argsort(pc, kind="stable")
        pq, pc = pq[porder], pc[porder]
        lo = np.searchsorted(pc, ucells, side="left")
        hi = np.searchsorted(pc, ucells, side="right")
        out_q, out_n, out_s, out_c = [], [], [], []
        block = 4096
        for ci in range(len(ucells)):
            qrows = pq[lo[ci] : hi[ci]]
            if qrows.size == 0:
                continue
            crows = corder[cstart[ci] : cend[ci]]
            cid_vals = cids[crows]
            xcc = xc[crows]
            ncc = nc_norm[crows]
            take = min(top_k, len(crows))
            for s in range(0, len(qrows), block):
                qr = qrows[s : s + block]
                cb = np_round_half_up(
                    (xq[qr] @ xcc.T) / np.outer(nq_norm[qr], ncc)
                )
                cb[qids[qr][:, None] == cid_vals[None, :]] = -np.inf
                part = np.argpartition(-cb, take - 1, axis=1)[:, :take]
                vk = np.take_along_axis(cb, part, axis=1).min(axis=1)
                keep = (cb >= vk[:, None]) & np.isfinite(cb)
                ii, jj = np.nonzero(keep)
                sc = cb[ii, jj]
                nn = cid_vals[jj]
                order = np.lexsort((nn, -sc, ii))
                ii, sc, nn = ii[order], sc[order], nn[order]
                first = np.searchsorted(ii, ii, side="left")
                in_k = (np.arange(len(ii)) - first) < top_k
                ii, sc, nn = ii[in_k], sc[in_k], nn[in_k]
                out_q.append(qr[ii])
                out_n.append(nn)
                out_s.append(sc)
                out_c.append(
                    np.full(len(ii), ucells[ci], dtype=np.int32)
                )
        if not out_q:
            return
        gq = np.concatenate(out_q)
        if len(gq) == 0:
            return
        gn = np.concatenate(out_n)
        gs = np.concatenate(out_s)
        gc = np.concatenate(out_c)
        order = np.lexsort((gn, -gs, gq))
        gq, gn, gs, gc = gq[order], gn[order], gs[order], gc[order]
        first = np.searchsorted(gq, gq, side="left")
        keep = (np.arange(len(gq)) - first) < top_k
        gq, gn, gs, gc = gq[keep], gn[keep], gs[keep], gc[keep]
        out_block = 1 << 18
        for s in range(0, len(gq), out_block):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[gq[s : s + out_block]]),
                    pa.array(gn[s : s + out_block]),
                    pa.array(gs[s : s + out_block]),
                    pa.array(gc[s : s + out_block]),
                ],
                names=["qid", "nn_id", "cosine", "centroid"],
            )

    # applyInArrow picks the iterator variant from RESOLVED type hints;
    # this module's `from __future__ import annotations` stringifies the
    # def-site ones, so set real type objects explicitly.
    import pyarrow as pa

    _branch_topk.__annotations__ = {
        "batches": Iterator[pa.RecordBatch],
        "return": Iterator[pa.RecordBatch],
    }
    return union.groupBy("branch").applyInArrow(
        _branch_topk,
        schema=(
            f"qid {id_type}, nn_id {id_type}, cosine double, centroid int"
        ),
    )


def _ivf_gemm_candidates(
    a: DataFrame, b: DataFrame, top_k: int, exact_rank: bool = False
) -> DataFrame:
    """The GEMM scorer's candidate stage: union both probe sides into
    their cell (ONE shuffle), score queries x corpus per cell with a
    tiled BLAS product, and emit each query's tied-or-above-k-th
    superset.  Split out of ivf_kmeans_ann_gemm so
    tools/ivf_gemm_probe.py can time assignment / exchange+Arrow /
    GEMM / window as separate stages (r8 decomposition of the 1.6e7
    growth step).

    Every emitted row is EXACTLY ranked per (query, cell): within each
    candidate-matrix row the (cosine desc, nn_id asc) order is finished
    in numpy and exactly ``top_k`` rows kept (r9 — previously only the
    ``exact_rank`` path trimmed; the n_probe>1 path emitted the
    tied-or-above-k-th SUPERSET).  The global top-k over the union of
    probed cells only needs each cell's own top-k under the same total
    order, so the final windowed result is identical while the window
    input shrinks from n*(k+ties) to at-most n*n_probe*k rows.  The r8
    probe measured that window (a full shuffle + sort of the candidate
    rows) as the LARGEST term of the n_probe=1 serving path at 4e6:
    211.6 s of the 329.0 s total, vs 51.6 assign / 54.5 exchange+Arrow
    / 11.3 GEMM.

    ``exact_rank=True`` (valid ONLY when every query is scored in a
    single cell, i.e. n_probe=1, AND query ids are unique): the output
    IS the final result and the caller skips the global row_number
    window entirely.  With DUPLICATE ids in the input the two branches
    diverge: this path keeps top_k per candidate-matrix ROW (so up to
    top_k rows per duplicate), while the window path keeps top_k per
    qid VALUE; dedupe ids upstream if they can repeat.

    Memory shape (r9, VERDICT r8 task 3; Arrow-native r10): the cell
    function is the ITERATOR form of applyInArrow — input RecordBatches
    are split into query/corpus numpy blocks as they arrive (never
    materialized as one whole-cell frame; vectors extracted as flat
    buffers via ``_arrow_mat``, no per-row objects), and output is
    YIELDED one fixed-size query-block chunk at a time (<= block*top_k
    rows per chunk), so a giant cell's candidate output never exists as
    a single reduce-side Python object.  The r8 probe measured the
    single-frame pandas form's ``+cand`` stage at the 32-partition
    floor as 816.9 s of reduce-side materialization at 1.6e7."""
    from typing import Iterator

    import numpy as np

    del exact_rank  # ranking is always exact per row now (see above)
    id_type = dict(b.dtypes)["nn_id"]
    union = a.select(
        F.lit(True).alias("is_q"), F.col("qid").alias("id"),
        F.col("e1").alias("e"), "centroid",
    ).unionByName(
        b.select(
            F.lit(False).alias("is_q"), F.col("nn_id").alias("id"),
            F.col("e2").alias("e"), "centroid",
        )
    )

    def _cell_topk(batches):
        # Arrow-native (r10, VERDICT r9 task 6): flat-buffer vector
        # extraction via _arrow_mat — the pandas route's per-row
        # ndarray allocation was the bulk of the measured 47%
        # exchange+Arrow term at 1.6e7
        import pyarrow as pa

        q_ids, q_vecs, c_ids, c_vecs = [], [], [], []
        cid = None
        for rb in batches:
            nb = rb.num_rows
            if nb == 0:
                continue
            cid = rb.column("centroid")[0].as_py()
            isq = rb.column("is_q").to_numpy(zero_copy_only=False)
            ids = rb.column("id").to_numpy(zero_copy_only=False)
            vecs = _arrow_mat(rb.column("e"), nb)
            if isq.any():
                q_ids.append(ids[isq])
                q_vecs.append(vecs[isq])
            if not isq.all():
                c_ids.append(ids[~isq])
                c_vecs.append(vecs[~isq])
        if not q_ids or not c_ids:
            return
        qids = np.concatenate(q_ids)
        xq = np.vstack(q_vecs)
        cids_ = np.concatenate(c_ids)
        xc = np.vstack(c_vecs)
        nq = np.sqrt((xq * xq).sum(axis=1))
        nc = np.sqrt((xc * xc).sum(axis=1))
        m = len(cids_)
        block = 4096
        for s in range(0, len(qids), block):
            cb = np_round_half_up(
                (xq[s : s + block] @ xc.T)
                / np.outer(nq[s : s + block], nc)
            )
            # self matches out of the ranking (join form: qid != nn_id)
            cb[qids[s : s + block, None] == cids_[None, :]] = -np.inf
            take = min(top_k, m)
            part = np.argpartition(-cb, take - 1, axis=1)[:, :take]
            vk = np.take_along_axis(cb, part, axis=1).min(axis=1)
            keep = (cb >= vk[:, None]) & np.isfinite(cb)
            ii, jj = np.nonzero(keep)
            sc = cb[ii, jj]
            nn = cids_[jj]
            # finish the (cosine desc, nn_id asc) ranking: within each
            # query's tied superset keep exactly the first top_k under
            # the operator's global order — the same rows the global
            # row_number window would keep from this cell
            order = np.lexsort((nn, -sc, ii))
            ii, sc, nn = ii[order], sc[order], nn[order]
            first = np.searchsorted(ii, ii, side="left")
            in_k = (np.arange(len(ii)) - first) < top_k
            ii, sc, nn = ii[in_k], sc[in_k], nn[in_k]
            if len(ii) == 0:
                # empty object-dtype id arrays infer a null Arrow type
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[ii + s]),
                    pa.array(nn),
                    pa.array(sc),
                    pa.array(np.full(len(ii), cid, dtype=np.int32)),
                ],
                names=["qid", "nn_id", "cosine", "centroid"],
            )

    # applyInArrow picks the iterator variant from RESOLVED type hints;
    # this module's `from __future__ import annotations` stringifies the
    # def-site ones and the local imports make them unresolvable, so set
    # real type objects explicitly.
    import pyarrow as pa

    _cell_topk.__annotations__ = {
        "batches": Iterator[pa.RecordBatch],
        "return": Iterator[pa.RecordBatch],
    }
    return union.groupBy("centroid").applyInArrow(
        _cell_topk,
        schema=(
            f"qid {id_type}, nn_id {id_type}, cosine double, centroid int"
        ),
    )


def bucketed_ann_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int = 3,
    min_cosine: float = 0.0,
) -> DataFrame:
    """Scale path: all pairs above a similarity floor, searched only
    within sign-buckets. The bucket id is an equi-join key -> hash join,
    not a cartesian product; recall trades off against ``dims``.

    Parallelism comes from the STREAM side, which is repartitioned to
    the cluster's core count before the join: a small corpus arrives as
    one parquet split, and with the build side broadcast the whole
    quadratic-within-bucket pair expansion (plus the cosine filter,
    which Catalyst pushes into the join condition) would otherwise run
    in a SINGLE task (measured at sf0.1: one-task stage, 3.1 s min,
    5.8x run-to-run spread — the serial task is GC-bait). Salting the
    key instead was measured WORSE here: the build side replicates by
    the salt factor, which bloats the broadcast 32x while the one-split
    stream side still serializes. At cluster scale the knob is
    ``dims`` — 2**dims buckets >> cores makes the key well-distributed
    for the shuffle-join regime, and AQE skew-join splits residual hot
    buckets.

    The cosine stays the interpreted ``zip_with``+``aggregate`` fold ON
    PURPOSE: the similarity filter is pushed into the hash-join
    condition, where a ``_dot_unrolled``-style flat expression (130+
    nodes) overflows whole-stage-codegen method limits and evaluates
    ~3x slower than the fold's single tight-loop expression node
    (measured at sf0.1: fold 3.9 s vs unrolled 10.5 s). Filters still
    reach the scan — repartition is not a pushdown barrier.

    Zero-norm vectors are dropped before pairing: their cosine is
    0/0 = NaN, and Spark SQL orders NaN above every double, so without
    the filter ``NaN >= min_cosine`` would silently admit every pair
    touching a zero vector. Dropping them makes the three serving
    forms (plain / _gemm / _sq) agree on degenerate input — in the
    GEMM form numpy's ``NaN >= x`` is False, which excludes exactly
    the same pairs (equality pinned in tests).

    r13 (VERDICT r12 #1 — the a5/sq interpreted-HOF recipe applied to
    the cosine fold): the within-bucket scoring is now ONE Arrow pass
    per bucket with a BIT-IDENTICAL column-accumulation kernel instead
    of a self-join evaluating the interpreted ``zip_with``+``aggregate``
    fold per joined row.  Bit identity, term by term: the pairwise dot
    accumulates ``acc += x[:, c] * y[:, c]`` column-by-column (each
    scalar sees the same multiply-then-add sequence as the left-to-
    right fold from 0.0; no FMA fusion, no reordering — numpy GEMM
    would reorder), norms accumulate the same way before one IEEE
    ``sqrt``, and the division is one IEEE op — so the RAW cosine
    double is bit-equal to the expression form's.  The 6-dp rounding
    and the threshold filter stay in the JVM (``F.round`` on the raw
    double), so the emitted values and the pair set are identical by
    construction; the kernel only pre-screens at
    ``min_cosine - 1e-6`` (sound: round(x, 6) moves x by < 5.1e-7).
    Plan: the two shuffles + interpreted per-pair fold become one
    groupBy(bucket) exchange + MapInArrow (same occupancy contract as
    the _gemm form: one bucket materializes in one task, ``dims``
    scales with the corpus)."""
    import numpy as np

    withb = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("e"),
        sign_bucket(F.col(vec_col), dims).alias("bucket"),
    )
    types = dict(withb.dtypes)
    id_type, bucket_type = types["id"], types["bucket"]
    screen = min_cosine - 1e-6

    def _bucket_pairs_exact(batches):
        import pyarrow as pa

        b_ids, b_vecs = [], []
        m = 0
        bkt = None
        for rb in batches:
            nb = rb.num_rows
            if nb == 0:
                continue
            m += nb
            bkt = rb.column("bucket")[0]  # Arrow scalar keeps its type
            b_ids.append(rb.column("id").to_numpy(zero_copy_only=False))
            b_vecs.append(_arrow_mat(rb.column("e"), nb))
        if m < 2:
            return
        ids = np.concatenate(b_ids)
        x = np.vstack(b_vecs)
        d = x.shape[1]
        # norm via the SAME left-to-right fold as _norm: column-wise
        # accumulation then one IEEE sqrt per row
        acc_n = np.zeros(m)
        for c in range(d):
            acc_n += x[:, c] * x[:, c]
        n = np.sqrt(acc_n)
        live = n > 0  # the join form's norm > 0 pre-filter
        ids, x, n = ids[live], x[live], n[live]
        m = len(ids)
        if m < 2:
            return
        # sort rows by id so row order == id order: the upper-triangle
        # block walk below then enumerates every unordered pair exactly
        # once and the gi < gj check is exact (unsorted rows would lose
        # pairs whose larger id lives in an earlier block)
        order = np.argsort(ids, kind="stable")
        ids, x, n = ids[order], x[order], n[order]
        o1, o2, oc = [], [], []
        block = 1024
        for s in range(0, m, block):
            xs, ns_, is_ = x[s : s + block], n[s : s + block], ids[s : s + block]
            for t in range(s, m, block):
                xt, nt, it = x[t : t + block], n[t : t + block], ids[t : t + block]
                # bit-identical pairwise dot: one outer product per
                # column, accumulated in column order
                acc = np.zeros((len(xs), len(xt)))
                for c in range(d):
                    acc += np.outer(xs[:, c], xt[:, c])
                cb = acc / np.outer(ns_, nt)
                ib, jb = np.nonzero(cb >= screen)
                gi, gj = is_[ib], it[jb]
                keep = gi < gj
                o1.append(gi[keep])
                o2.append(gj[keep])
                oc.append(cb[ib, jb][keep])
        if not o1:
            return
        id1 = np.concatenate(o1)
        if len(id1) == 0:
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.repeat(bkt, len(id1)),
                pa.array(id1),
                pa.array(np.concatenate(o2)),
                pa.array(np.concatenate(oc)),
            ],
            names=["bucket", "id1", "id2", "cosine"],
        )

    from typing import Iterator

    import pyarrow as pa

    _bucket_pairs_exact.__annotations__ = {
        "batches": Iterator[pa.RecordBatch],
        "return": Iterator[pa.RecordBatch],
    }
    cand = withb.groupBy("bucket").applyInArrow(
        _bucket_pairs_exact,
        schema=(
            f"bucket {bucket_type}, id1 {id_type}, "
            f"id2 {id_type}, cosine double"
        ),
    )
    # rounding + threshold in the JVM over the bit-identical raw value:
    # exactly the expression form's F.round / filter
    return cand.select(
        "bucket", "id1", "id2", F.round("cosine", 6).alias("cosine")
    ).filter(F.col("cosine") >= min_cosine)


def bucketed_ann_pairs_gemm(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int = 3,
    min_cosine: float = 0.0,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """``bucketed_ann_pairs`` with the within-bucket scoring done as a
    per-bucket BLAS matrix product instead of a self-join + per-row
    cosine fold: same (bucket, id1, id2, cosine) output. Equality with
    the join form is EMPIRICAL, not guaranteed bit-for-bit: the cosine
    is rounded to 6dp with the same half-away-from-zero tie rule as
    ``F.round`` (see ``np_round_half_up``), but BLAS sums the dot in a
    different order than the left-to-right ``zip_with`` fold and
    Spark's round goes through the decimal shortest representation, so
    a cosine within ~1 ulp of the ``min_cosine`` boundary or of a 6dp
    tie can land on the other side.  Measured symmetric difference is 0
    at 1e6/4e6/1.6e7 (BASELINE.md r6) and near-threshold plants are
    pinned in tests.  Zero-norm vectors never pair: numpy's
    ``NaN >= x`` is False, matching the plain form's explicit
    ``norm > 0`` pre-filter.

    Why it wins (r6, proven first on SemDeDup's identical shape —
    dedup.semantic_dedup): the join form shuffles BOTH projected sides
    and evaluates an interpreted ``zip_with``+``aggregate`` dot per
    joined row; grouping by bucket shuffles the corpus ONCE and turns
    each occupancy-bounded bucket into one numpy GEMM, which the
    measured SemDeDup swap made ~5x faster end-to-end at 1e6-4e6 rows.

    ``dims`` sizes the buckets and MUST scale with the corpus:
    ``groupBy(bucket).applyInPandas`` materializes one whole bucket
    (~n / 2**dims rows) in a single Python worker, so hold occupancy
    roughly constant (dims ~ log2(n / target_occupancy), the same knob
    as semantic_dedup's ``n_cells`` ∝ n — the r6 ladder used
    13/15/17 at 1e6/4e6/1.6e7).  The GEMM itself is tiled to
    O(block²) memory, so only the Arrow group materialization grows
    with occupancy.  Set ``max_bucket_rows`` to make a mis-sized
    ``dims`` fail FAST with the knob named in the error instead of
    grinding a worker through a multi-GiB group (opt-in: the right
    bound is deployment memory divided by row width).  Trade: ids + vectors cross the Python/Arrow
    boundary, so the JVM-only join form can still win when buckets are
    tiny and the corpus is cold-cached; measure per deployment
    (tools/scale_bench.py covers both)."""
    import numpy as np
    import pandas as pd

    withb = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("e"),
        sign_bucket(F.col(vec_col), dims).alias("bucket"),
    )
    types = dict(withb.dtypes)
    id_type, bucket_type = types["id"], types["bucket"]

    def _bucket_pairs(batches):
        # Arrow-native (r10): bucket rows accumulate as flat numpy
        # blocks while RecordBatches STREAM in — the occupancy guard
        # fires before any big materialization, and vectors never
        # become per-row pandas objects
        import pyarrow as pa

        b_ids, b_vecs = [], []
        m = 0
        bkt = None
        for rb in batches:
            nb = rb.num_rows
            if nb == 0:
                continue
            m += nb
            if max_bucket_rows is not None and m > max_bucket_rows:
                raise ValueError(
                    f"sign bucket {rb.column('bucket')[0].as_py()} "
                    f"holds {m}+ rows "
                    f"> max_bucket_rows={max_bucket_rows}: 2**dims must "
                    f"scale with the corpus (dims={dims} gives {2**dims} "
                    "buckets) — raise dims to hold occupancy bounded"
                )
            bkt = rb.column("bucket")[0]  # Arrow scalar: keeps its type
            b_ids.append(rb.column("id").to_numpy(zero_copy_only=False))
            b_vecs.append(_arrow_mat(rb.column("e"), nb))
        if m < 2:
            return
        ids = np.concatenate(b_ids)
        x = np.vstack(b_vecs)
        n = np.sqrt((x * x).sum(axis=1))
        o1, o2, oc = [], [], []
        block = 4096
        with np.errstate(divide="ignore", invalid="ignore"):
            for s in range(0, m, block):
                xb, nb_ = x[s : s + block], n[s : s + block]
                for t in range(0, m, block):
                    cb = np_round_half_up(
                        (xb @ x[t : t + block].T)
                        / np.outer(nb_, n[t : t + block])
                    )
                    ib, jb = np.nonzero(cb >= min_cosine)
                    gi, gj = ids[ib + s], ids[jb + t]
                    keep = gi < gj
                    o1.append(gi[keep])
                    o2.append(gj[keep])
                    oc.append(cb[ib, jb][keep])
        id1 = np.concatenate(o1)
        if len(id1) == 0:
            # empty object-dtype arrays infer a null Arrow type
            return
        yield pa.RecordBatch.from_arrays(
            [
                # repeat the captured Arrow scalar so the column keeps
                # the INPUT's exact type (int32 'int' buckets would
                # otherwise come back int64 and fail the schema check)
                pa.repeat(bkt, len(id1)),
                pa.array(id1),
                pa.array(np.concatenate(o2)),
                pa.array(np.concatenate(oc)),
            ],
            names=["bucket", "id1", "id2", "cosine"],
        )

    import pyarrow as pa
    from typing import Iterator

    _bucket_pairs.__annotations__ = {
        "batches": Iterator[pa.RecordBatch],
        "return": Iterator[pa.RecordBatch],
    }
    return withb.groupBy("bucket").applyInArrow(
        _bucket_pairs,
        schema=(
            f"bucket {bucket_type}, id1 {id_type}, "
            f"id2 {id_type}, cosine double"
        ),
    )


def bucketed_ann_pairs_sq(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int = 3,
    min_cosine: float = 0.0,
) -> DataFrame:
    """``bucketed_ann_pairs`` with an int8 pre-screen: IDENTICAL pair
    output (equality-pinned in tests), but the quadratic within-bucket
    pair expansion shuffles and folds 1-byte codes instead of 8-byte
    doubles, and full vectors are re-joined only for the survivors.

    Scale rationale — REFUTED by measurement (r6, BASELINE.md): the
    design bet was that the within-bucket join's growth term is vector
    BYTES through the shuffle (512 B per 64-dim double vector vs ~64 B
    of ``array<tinyint>`` codes, ~8x).  The r6 shuffle-bytes probe
    (tools/shuffle_probe.py, AppStatusStore counters, 4e6 tier,
    identical 405089-pair output) measured only a 1.25x write
    reduction and a 0.89x read INCREASE — the survivor re-join
    re-shuffles the full vectors the screen deferred, and ids + bucket
    keys dominate the join traffic.  Wall clock is also worse at every
    measured tier (1e6/4e6/1.6e7).  Prefer ``bucketed_ann_pairs``;
    this variant is retained because its output is pinned identical
    and the sound-screen construction below is reusable.

    The screen is SOUND, not heuristic, so no pair is lost:

    * ``sq_encode`` reconstruction x_hat = scale * codes has
      per-element error <= scale/2, i.e. ||x - x_hat|| <= scale*sqrt(d)/2.
    * For unit directions, ||u - u_hat|| <= 2||x - x_hat|| / ||x||
      (swap-roles form of the classical normalization perturbation
      bound), so with  eps = scale * sqrt(d) / ||x||  per vector:
      |cos(x, y) - cos(codes_x, codes_y)| <= eps_x + eps_y
      (cosine is scale-invariant: cos(x_hat, y_hat) = cos of the raw
      int codes — the screen needs no dequantization).
    * Keep a pair iff code-cosine >= min_cosine - eps1 - eps2 - 1e-6;
      the 1e-6 absorbs the exact path's 6-dp rounding (with_cosine)
      plus float evaluation noise.  Zero-norm vectors are dropped by
      the same ``norm > 0`` pre-filter as the plain form (their cosine
      is 0/0 = NaN, which Spark's NaN ordering would otherwise admit
      through the final ``>= min_cosine`` filter) — all three serving
      forms agree on degenerate input.

    At 64 dims the worst-case slack (norm at the quantization floor,
    ||x|| = 127*scale) is eps <= 8/127 ~ 0.063 per side — tight enough
    that a 0.8 threshold screens out the overwhelmingly-dominant
    dissimilar mass of random pairs."""
    par = emb.sparkSession.sparkContext.defaultParallelism
    d = F.size(F.col(vec_col))
    absmax = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    # same quantizer as pq.sq_encode (per-vector symmetric max-abs),
    # with the scale bound to a lambda variable via the one-element
    # transform so the O(d) aggregate is not re-evaluated per element
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))
    codes = F.element_at(
        F.transform(
            F.array(scale),
            lambda s: F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") / s).cast("tinyint"),
            ),
        ),
        1,
    )
    enc = emb.filter(_norm(F.col(vec_col)) > 0).select(
        F.col(id_col).alias("id"),
        sign_bucket(F.col(vec_col), dims).alias("bucket"),
        codes.alias("c"),
        # code norm (int self-dot) and the soundness slack eps
        (scale * F.sqrt(d.cast("double")) / _norm(F.col(vec_col))).alias("eps"),
    ).withColumn(
        "cn",
        F.sqrt(
            F.aggregate(
                F.col("c"),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x.cast("int") * x.cast("int"),
            ).cast("double")
        ),
    )
    a = enc.select(
        F.col("id").alias("id1"), F.col("c").alias("c1"),
        F.col("cn").alias("cn1"), F.col("eps").alias("eps1"), "bucket",
    ).repartition(par)
    b = enc.select(
        F.col("id").alias("id2"), F.col("c").alias("c2"),
        F.col("cn").alias("cn2"), F.col("eps").alias("eps2"), "bucket",
    )
    int_dot = F.aggregate(
        F.zip_with(
            F.col("c1"), F.col("c2"),
            lambda x, y: x.cast("int") * y.cast("int"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    survivors = (
        a.join(b, on="bucket")
        .filter(F.col("id1") < F.col("id2"))
        .filter(
            # NaN/inf margins (zero vectors) compare false -> use the
            # complement so they are screened IN, never silently lost
            ~(
                int_dot.cast("double") / (F.col("cn1") * F.col("cn2"))
                < F.lit(min_cosine) - F.col("eps1") - F.col("eps2") - F.lit(1e-6)
            )
        )
        .select("bucket", "id1", "id2")
    )
    v = _with_norm(emb, id_col, vec_col, "id1", "e1", "n1")
    w = _with_norm(emb, id_col, vec_col, "id2", "e2", "n2")
    exact = survivors.join(v, on="id1").join(w, on="id2")
    return (
        with_cosine(exact)
        .filter(F.col("cosine") >= min_cosine)
        .select("bucket", "id1", "id2", "cosine")
    )
