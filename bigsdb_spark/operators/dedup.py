"""Document deduplication operators (training-data pipeline family).

Beyond-reference extension (SURVEY §7 M8): the reference's closest
analogue is GenomeComparator's "unique strains" grouping of identical
allele vectors (Plugins/GenomeComparator.pm:1229) — generalized here to
the standard large-corpus dedup toolbox:

- exact dedup          : md5 of a normalized text (hash groupBy)
- n-gram Jaccard       : pairwise shingle-set overlap
- MinHash + LSH        : shingle -> md5-minhash signature -> banded
                         bucket join; candidate pairs meet only inside a
                         bucket, never via an O(n²) crossJoin
- SimHash              : sign-aggregated token hash bits -> Hamming buckets

Everything is expression-only (no Python UDFs): md5 is the shared,
engine-independent hash so every step has a DuckDB-checkable oracle.

Scale notes: shingle explode multiplies rows by ~doc length — keep
shingles DISTINCT per doc before the minhash groupBy (map-side combine
shrinks it back). The LSH band join shuffles on the band key; hot bands
(boilerplate docs) are exactly the skew AQE's skew-join splitting
handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigsdb_spark.materialize import materialize
from bigsdb_spark.operators.spread import spread_scan

_WS = r"\s+"


def normalized_text(col):
    """Lowercase, strip punctuation, collapse whitespace. The keep-set
    is Unicode letters+digits (\\p{L}\\p{N}) — an [a-z0-9] set would
    normalize every non-Latin document to the empty string, making all
    of them mutual 'exact duplicates' and invisible to shingling. For
    ASCII text this is byte-identical to the previous [a-z0-9 ] form
    (and to the DuckDB oracle spelling, which RE2 shares)."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{N} ]", " ")
    c = F.trim(F.regexp_replace(c, _WS, " "))
    return c


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprint = md5 of the normalized text.

    The input is spread first (guide §2.5): normalize+md5 is the CPU
    term, and a single-row-group corpus file would otherwise run it
    all in one task (see operators/spread.py; no-op on parallel scans).
    """
    return spread_scan(df).select(
        F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("fp")
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: fingerprint groups with > 1 member. Returns
    (fp, n_docs, min_id) — min_id is the canonical survivor."""
    return (
        fingerprint(df, id_col, text_col)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_id"))
        .filter(F.col("n_docs") > 1)
    )


def exact_duplicate_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup as star-shaped (keeper, duplicate) pairs: one row per
    non-canonical member, keeper = min id of the fingerprint group.
    Window-min over the fingerprint partition — linear in corpus size
    (no self-join), so a group of a million identical documents costs a
    million rows, not 10¹² pairs."""
    from pyspark.sql import Window

    fp = fingerprint(df, id_col, text_col)
    w = Window.partitionBy("fp")
    return (
        fp.withColumn("keeper", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("keeper"))
        .select(F.col("keeper").alias("id1"), F.col(id_col).alias("id2"))
    )


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int = 3,
    min_cosine: float = 0.98,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-bucket LSH candidates
    (hash join on the bucket id — never O(n²)), verified by exact
    cosine >= ``min_cosine``. Same recall trade-off as any LSH: a pair
    straddling a hyperplane lands in different buckets and is missed;
    raise recall with more probe permutations or the IVF path
    (similarity.ivf_kmeans_ann), or verify candidates from
    dedup_minhash on the text side. Returns (id1, id2, cosine)."""
    from bigsdb_spark.operators.similarity import bucketed_ann_pairs

    return bucketed_ann_pairs(
        emb, id_col, vec_col, dims=dims, min_cosine=min_cosine
    ).select("id1", "id2", "cosine")


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """k-word shingles per document (UDTF-shaped: one doc -> many
    rows), DISTINCT per (doc, shingle) by default.

    The token array is bound to a lambda VARIABLE via a one-element
    wrapper transform: a lambda closing over the raw split+regex
    expression would re-tokenize the document per shingle after
    projection collapse (quadratic per document), while a lambda
    variable is evaluated once per row by contract.  This replaced an
    eager localCheckpoint barrier — same plan-shape guarantee with no
    materialization job, no storage, and no lineage break (measured
    identical warm cost and ~4x cheaper cold at sf0.1).
    The sequence is guarded: F.sequence(1, 0) would DESCEND to [1, 0].

    ``distinct=False`` removes the dedup SHUFFLE of every shingle row
    — the only full-data exchange of the LSH pipeline.  Use it for
    MINHASH-ONLY consumers: a min over a multiset equals the min over
    its set, so signatures (and therefore bands, buckets, and
    candidate pairs) are bit-identical, and the min aggregation's
    map-side partial combine shuffles ~n_docs x n_hashes rows instead
    of every shingle occurrence.  Locally the win is modest (118 ->
    109 s at 4e6 docs, tools/scale_bench.py — the path is md5-CPU-
    bound and local shuffle is memory-speed); on a cluster the
    eliminated exchange is the NETWORK term, which is the point.
    Jaccard counting (``ngram_jaccard``) and band-bucket indexes that
    JOIN on shingle rows still need the distinct form.
    """
    per_doc = F.transform(
        F.array(F.split(normalized_text(F.col(text_col)), " ")),
        lambda t: F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    # spread an unsplittable single-split scan before the tokenize +
    # shingle explode — the pipeline's CPU term (guide §2.5; no-op on
    # already-parallel scans, see operators/spread.py)
    out = spread_scan(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.element_at(per_doc, 1)).alias("shingle"),
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = 8, hash_family: str = "md5"
) -> DataFrame:
    """MinHash signature per doc: component s = min(hash_s(shingle)).

    Two hash families, identical semantics (the signature feeds
    banding/bucketing downstream regardless of value type):

    - ``md5`` (default): component s = min(md5(s || ':' || shingle)) —
      reproducible in ANY engine (the DuckDB oracle recomputes it in
      SQL), lexicographic min over hex digests is a valid uniform
      minhash.  Cost: one md5 per (shingle, component).
    - ``xxhash64``: component s = min(xxhash64(s, shingle)) —
      JVM-native seeded hashing (measured ~109 -> 64 s at 4e6 docs,
      tools/scale_bench.py); same collision behavior (uniform
      family), but values are engine-specific longs, so use it for
      serving paths that don't need a SQL oracle to replay the
      signature (the gate queries keep md5).  For the full scale
      path see ``minhash_signatures_fused`` — no explode at all.

    Single groupBy with map-side partial min aggregation either way.
    """
    if hash_family == "md5":
        aggs = [
            F.min(
                F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))
            ).alias(f"h{s}")
            for s in range(n_hashes)
        ]
    elif hash_family == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.lit(s), F.col("shingle"))).alias(f"h{s}")
            for s in range(n_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return shingles.groupBy("doc").agg(*aggs)


def minhash_signatures_fused(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 8,
) -> DataFrame:
    """ZERO-SHUFFLE minhash: the whole signature computed inside one
    projection — per component s, ``array_min`` over a transform that
    hashes each k-word window's words DIRECTLY (``xxhash64(s, w_i,
    ..., w_{i+k-1})``), so there is no shingle explode, no shingle
    string construction, and no aggregation exchange at all; the plan
    is a pure whole-stage-codegen scan emitting (doc, h0..h{n-1}).

    This is the 100 TB shape for signature generation: the exploded
    pipeline (``word_shingles`` -> ``minhash_signatures``) materializes
    ~words-per-doc rows per document and pays string allocation per
    shingle, which dominates past ~1e6 docs (measured: candidate
    generation 109-135 s exploded-md5, 64 s exploded-xxhash, 37 s
    fused at 4e6 docs — tools/scale_bench.py; the residual 37 s is
    the band self-join, not the signatures).  Keep the exploded md5
    pipeline where a SQL oracle must replay signatures, and
    ``word_shingles`` where shingle ROWS are genuinely needed
    (Jaccard intersection, band-bucket indexes keyed by shingle).

    Docs with fewer than k words are DROPPED, matching the exploded
    pipeline (no shingles -> no signature row).  Keeping them as NULL
    signatures would be a footgun: concat_ws-based banding skips
    nulls, so every short doc would share one empty-string bucket and
    pair with every other short doc.

    The token array is bound to a lambda VARIABLE (wrapper-transform
    idiom) so the split runs once per row, not once per window."""
    sig_struct = F.element_at(
        F.transform(
            F.array(F.split(normalized_text(F.col(text_col)), " ")),
            lambda t: F.struct(
                *[
                    F.when(
                        F.size(t) >= k,
                        F.array_min(
                            F.transform(
                                F.sequence(F.lit(1), F.size(t) - (k - 1)),
                                lambda i: F.xxhash64(
                                    F.lit(s),
                                    *[F.element_at(t, i + j) for j in range(k)],
                                ),
                            )
                        ),
                    ).alias(f"h{s}")
                    for s in range(n_hashes)
                ]
            ),
        ),
        1,
    )
    # same §2.5 guard as word_shingles: the fused signature is ALL
    # map-side CPU, so a one-split scan serializes the whole stage
    return (
        spread_scan(df)
        .select(F.col(id_col).alias("doc"), sig_struct.alias("_sig"))
        .select("doc", "_sig.*")
        .filter(F.col("h0").isNotNull())
    )


def lsh_candidate_pairs(
    signatures: DataFrame, n_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """Band the signature and join docs sharing any band bucket.

    bands of ``band_size`` rows: bucket key = md5(h_i || h_i+1 ...).
    Returns distinct candidate (doc1, doc2) with doc1 < doc2.
    """
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"h{b * band_size + j}") for j in range(band_size)]
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    # self-joined below: materialized once, before the self-join, so
    # both join subtrees read the same blocks instead of recomputing
    # (a .cache() here leaked one storage entry per call — the caller
    # had no handle to unpersist)
    banded = materialize(
        signatures.select(F.col("doc"), F.explode(bands).alias("bb"))
        .select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .distinct()
    )


def lsh_candidate_pairs_grouped(
    signatures: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """``lsh_candidate_pairs`` as ONE exchange instead of a self-join:
    group the banded rows by (band, bucket), collect each bucket's doc
    list, and explode the within-bucket pairs — the banded frame is
    shuffled once (groupBy) instead of twice (both self-join sides)
    with no checkpoint materialization (measured 43 -> 36 s at 4e6
    docs).  Identical pair set to the self-join form (pinned by test).

    ``max_bucket`` adds the standard production guard for web-corpus
    boilerplate: buckets holding more than ``max_bucket`` docs are
    SKIPPED entirely (their within-bucket expansion is quadratic and
    their members are near-certainly templated text, not near-dups
    worth pairing — the same policy Spark MLlib's LSH and the dedup
    literature apply).  Sizes are counted BEFORE collect_list, so a
    pathological bucket never materializes as a task-local array.
    Skipping trades recall on templated clusters for a hard
    ``max_bucket**2`` bound per bucket; the salted variant
    (``lsh_candidate_pairs_salted``) keeps full recall instead by
    spreading the expansion."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{b * band_size + j}") for j in range(band_size)]
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    banded = signatures.select(
        F.col("doc"), F.explode(bands).alias("bb")
    ).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    if max_bucket is not None:
        ok = (
            banded.groupBy("band", "bucket")
            .count()
            .filter((F.col("count") >= 2) & (F.col("count") <= max_bucket))
            .select("band", "bucket")
        )
        banded = banded.join(ok, ["band", "bucket"], "left_semi")
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "ds",
                lambda a: F.transform(
                    "ds",
                    lambda b: F.struct(a.alias("doc1"), b.alias("doc2")),
                ),
            )
        ),
        lambda s: s["doc1"] < s["doc2"],
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.doc1", "p.doc2")
        .distinct()
    )


def lsh_candidate_pairs_salted(
    signatures: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    salt_buckets: int = 8,
    hot_threshold: int = 1024,
) -> DataFrame:
    """``lsh_candidate_pairs`` with SELECTIVE hot-bucket salting — the
    explicit skew fix for a band bucket holding a pathological share
    of the corpus (boilerplate docs all hashing to one bucket put that
    whole bucket's quadratic expansion in ONE task; AQE's skew split
    helps for shuffle sizes but cannot split a single join key).

    Self-join salting: side A gets ``salt = hash(doc) % R``; side B
    replicates each row R times with ``rep = 0..R-1``; the join adds
    ``a.salt == b.rep`` to the bucket equality, so every (d1, d2) pair
    still matches EXACTLY once (d2's replicas meet d1 only at
    rep == salt(d1)) while a hot bucket's expansion spreads over R
    tasks.

    Salting is applied ONLY to buckets holding more than
    ``hot_threshold`` docs (size counted with one small agg; the hot
    key set broadcasts); everything else takes the plain band join.
    The r6 skew probe showed why: the original
    everything-salted form replicated the ENTIRE banded frame R times
    — 4e6 docs x 4 bands x R=8 = 1.3e8 join-side rows — and OOM'd a
    16g heap on a corpus whose skew was one 10k-doc bucket.  Cold
    buckets are the overwhelming mass and need no spreading; hot
    buckets are few and small in ROW count (their cost is the
    quadratic expansion, which is exactly what the salt spreads).
    ``hot_threshold=0`` recovers the salt-everything form.  Same
    (doc1, doc2) contract as ``lsh_candidate_pairs`` (equality pinned
    in tests, incl. across the hot/cold boundary)."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"h{b * band_size + j}") for j in range(band_size)]
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    banded = materialize(
        signatures.select(F.col("doc"), F.explode(bands).alias("bb")).select(
            "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
    )
    hot_keys = (
        banded.groupBy("band", "bucket")
        .count()
        .filter(F.col("count") > F.lit(max(hot_threshold, 1)))
        .select("band", "bucket")
    )
    hot = banded.join(F.broadcast(hot_keys), ["band", "bucket"], "left_semi")
    cold = banded.join(F.broadcast(hot_keys), ["band", "bucket"], "left_anti")

    ca, cb = cold.alias("a"), cold.alias("b")
    cold_pairs = ca.join(
        cb,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc") < F.col("b.doc")),
    ).select(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))

    a = hot.withColumn(
        "salt", F.pmod(F.xxhash64("doc"), F.lit(salt_buckets)).cast("int")
    ).alias("a")
    b = hot.withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).alias("b")
    hot_pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.salt") == F.col("b.rep"))
        & (F.col("a.doc") < F.col("b.doc")),
    ).select(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))

    return cold_pairs.union(hot_pairs).distinct()


def ngram_jaccard(
    shingles: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Pairwise Jaccard over shingle sets.

    With ``pairs`` (e.g. LSH candidates) the plan is CANDIDATE-DRIVEN:
    pairs join their two shingle sets and count matches — work is linear
    in (candidates × shingles/doc), independent of corpus size. This is
    the 100 TB path: LSH prunes, Jaccard verifies.

    Without ``pairs``, docs meet through shared shingles (inverted
    index) — fine for modest corpora, but hot shingles make it
    quadratic; prefer the candidate path at scale.
    Returns (doc1, doc2, n_common, n1, n2, jaccard).
    """
    sizes = shingles.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = shingles.select(F.col("doc").alias("doc1"), "shingle")
    b = shingles.select(F.col("doc").alias("doc2"), "shingle")
    if pairs is not None:
        counted = (
            pairs.select("doc1", "doc2")
            .join(a, on="doc1")
            .join(b, on=["doc2", "shingle"])
            .groupBy("doc1", "doc2")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        # zero-overlap candidates must come back as jaccard=0, not
        # silently vanish (callers pass arbitrary pair frames to verify,
        # e.g. embedding near-dup pairs cross-checked on the text side)
        common = (
            pairs.select("doc1", "doc2")
            .distinct()
            .join(counted, on=["doc1", "doc2"], how="left")
            .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)))
        )
    else:
        common = (
            a.join(b, on="shingle")
            .filter(F.col("doc1") < F.col("doc2"))
            .groupBy("doc1", "doc2")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    # size joins are LEFT joins with a 0 default: a candidate doc whose
    # text yields no shingles at all (shorter than the shingle width)
    # is absent from `sizes`, and an inner join here would silently drop
    # the pair that the candidate-path left join just preserved
    out = (
        common.join(
            sizes.withColumnRenamed("doc", "doc1").withColumnRenamed("sz", "n1"),
            on="doc1", how="left",
        )
        .join(
            sizes.withColumnRenamed("doc", "doc2").withColumnRenamed("sz", "n2"),
            on="doc2", how="left",
        )
        .withColumn("n1", F.coalesce(F.col("n1"), F.lit(0)))
        .withColumn("n2", F.coalesce(F.col("n2"), F.lit(0)))
        .select(
            "doc1",
            "doc2",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.when(
                F.col("n1") + F.col("n2") - F.col("n_common") > 0,
                F.round(
                    F.col("n_common")
                    / (F.col("n1") + F.col("n2") - F.col("n_common")),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("jaccard"),
        )
    )
    return out


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash: per-token md5 bits, summed as +/-1 votes per bit position,
    sign -> fingerprint bit. Expression-only via explode + conv().

    Returns (doc, simhash long). Near-dup candidates = equal values on
    rotated bit windows (not materialized here).
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    exploded = df.select(
        F.col(id_col).alias("doc"), F.explode(toks).alias("tok")
    ).filter(F.col("tok") != "")
    # first `bits` bits of md5(tok): conv hex->dec of the first 4 hex chars
    hashed = exploded.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, bits // 4), 16, 10).cast("long")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("doc").agg(*votes)
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sim = bit if sim is None else (sim + bit)
    return agg.select("doc", sim.cast("long").alias("simhash"))


def _lloyd_np(x, k: int, iters: int, seed: int):
    """Lloyd's k-means via the expanded-identity matmul form:
    argmin ||x-c||^2 == argmax x.c - 0.5||c||^2, so the working set is
    the n*k score matrix (not pq._kmeans_np's n*k*d difference tensor,
    which at corpus-training sample sizes would be tens of GiB).
    Deterministic: seeded init, ties to the lowest center index."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = x[
        rng.choice(len(x), size=min(k, len(x)), replace=False)
    ].astype(np.float64)
    if len(centers) < k:  # degenerate tiny input: pad by repetition
        centers = np.vstack([centers] * (k // len(centers) + 1))[:k]
    for _ in range(iters):
        assign = (x @ centers.T - 0.5 * (centers**2).sum(axis=1)).argmax(
            axis=1
        )
        for c in range(k):
            mask = assign == c
            if mask.any():
                centers[c] = x[mask].mean(axis=0)
    return centers


def train_hierarchical_cells(
    emb: DataFrame,
    vec_col: str,
    n_cells: int,
    branch: int | None = None,
    sample: int = 131072,
    iters: int = 10,
    seed: int = 42,
) -> dict:
    """Two-level k-means codebook for corpus-scale SemDeDup cells —
    the coarse-quantizer-tree design of faiss's IMI / IVF-on-IVF
    (public: Babenko & Lempitsky, "The Inverted Multi-Index", CVPR
    2012; faiss wiki "Guidelines to choose an index").

    SemDeDup at occupancy ~256 needs k = n/256 cells; a FLAT codebook
    costs O(n*k*d) assignment flops — at 4e6 vectors (k=15625, d=64)
    that is ~4e15 flops, and at 100 TB it is simply not runnable.  A
    two-level codebook (sqrt(k) coarse centers, ``branch`` fine centers
    under each) assigns in O(n*(sqrt(k)+branch)*d) — ~125x fewer flops
    at 4e6, growing as sqrt(k) rather than k.  The broadcast stays
    O(k*d) either way (same as the flat centroid list).

    Training is sample-bounded exactly like faiss (max_points_per_
    centroid): coarse Lloyd on the hash-ranked sample, then an
    independent Lloyd per coarse cell over its sample members.  Cells
    are a heuristic partition in SemDeDup (the paper accepts missing
    cross-cell pairs by construction), so a two-level partition is the
    same semantics with a feasible assignment cost.

    Returns ``{"coarse": (n_coarse, d) list, "fine": (n_coarse, branch,
    d) list}`` for :func:`semantic_dedup`'s ``hierarchy`` parameter;
    global cell id = coarse_idx * branch + fine_idx.
    """
    import math

    import numpy as np

    from bigsdb_spark.operators.pq import _sample_np

    if branch is None:
        branch = max(2, int(math.ceil(math.sqrt(n_cells))))
    n_coarse = max(1, int(math.ceil(n_cells / branch)))
    x = _sample_np(emb, vec_col, sample)
    coarse = _lloyd_np(x, n_coarse, iters, seed)
    assign = (x @ coarse.T - 0.5 * (coarse**2).sum(axis=1)).argmax(axis=1)
    fine = np.empty((n_coarse, branch, x.shape[1]), dtype=np.float64)
    for c in range(n_coarse):
        members = x[assign == c]
        if len(members) == 0:  # empty coarse cell: inherit its center
            fine[c, :] = coarse[c]
        else:
            fine[c] = _lloyd_np(members, branch, iters, seed + 1 + c)
    return {"coarse": coarse.tolist(), "fine": fine.tolist()}


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 64,
    min_cosine: float = 0.95,
    sample: int = 4096,
    iters: int = 10,
    seed: int = 42,
    centroids: list | None = None,
    hierarchy: dict | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public design: Abbas et
    al., "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", arXiv:2303.09540): k-means-cluster the
    embeddings, mark within-cluster pairs above a cosine threshold as
    semantic duplicates, and keep ONE representative per connected
    duplicate group.

    Returns (id, group_id, keep): ``group_id`` is the smallest member
    id of the duplicate group (singletons are their own group),
    ``keep`` marks the canonical survivor.  The paper keeps the member
    farthest from the centroid; smallest-id is used here so the result
    is a deterministic function of the input alone — re-rank within
    ``group_id`` for any other survivor policy.

    Scale shape: the coarse quantizer trains on an order-independent
    hash-ranked sample (pq._sample_np); cell assignment is one Arrow
    pass; candidate pairs are a self-equi-join ON THE CELL ID (hash
    join, never O(n^2) — per-cell expansion is bounded by occupancy,
    so scale ``n_cells`` with corpus size exactly as the IVF serving
    paths do); grouping is the same log-round label propagation as
    D4.  Within-cluster-only candidacy is the SemDeDup trade: a dup
    pair split across cells is missed, which the paper accepts by
    construction.

    The numpy trainer caps at the sample size, so for corpus-scale
    cell counts (occupancy-constant ``n_cells ~ n/64``) pass
    ``centroids`` trained by MLlib k-means|| (the
    ``similarity.ivf_kmeans_ann`` build path), or — past ~1e4 cells,
    where even assignment against a flat codebook is O(n*k*d) —
    a two-level codebook from :func:`train_hierarchical_cells` via
    ``hierarchy`` (assignment O(n*sqrt(k)*d); everything downstream of
    the cell id is identical on all three paths).
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from bigsdb_spark.operators.clustering import single_linkage
    from bigsdb_spark.operators.pq import _kmeans_np, _sample_np

    if hierarchy is not None and centroids is not None:
        raise ValueError("pass centroids OR hierarchy, not both")
    if hierarchy is not None:
        coarse = np.array(hierarchy["coarse"], dtype=np.float64)
        fine = np.array(hierarchy["fine"], dtype=np.float64)
        cells = None
    elif centroids is not None:
        cells = np.array(centroids, dtype=np.float64)
    else:
        cells = _kmeans_np(
            _sample_np(emb, vec_col, sample), n_cells, iters, seed
        )
    id_type = dict(emb.dtypes)[id_col]
    vec_type = dict(emb.dtypes)[vec_col]
    out_schema = f"{id_col} {id_type}, cell int, {vec_col} {vec_type}"

    def _assign(batches):
        # Arrow-native (r10, same rewrite as similarity's IVF family):
        # vectors arrive and leave as flat buffers — id and vector
        # columns pass through UNTOUCHED, only the cell column is new
        import pyarrow as pa

        from bigsdb_spark.operators.similarity import _arrow_mat

        for rb in batches:
            nrows = rb.num_rows
            if nrows == 0:
                continue
            x = _arrow_mat(rb.column(1), nrows)
            if cells is not None:
                cell = (
                    x @ cells.T - 0.5 * (cells**2).sum(axis=1)
                ).argmax(axis=1)
            else:
                # two-level: nearest coarse center, then nearest fine
                # center within it — einsum over the gathered (batch,
                # branch, d) fine slab keeps it one BLAS-ish pass
                ci = (
                    x @ coarse.T - 0.5 * (coarse**2).sum(axis=1)
                ).argmax(axis=1)
                fc = fine[ci]  # (batch, branch, d)
                fi = (
                    np.einsum("bd,bkd->bk", x, fc)
                    - 0.5 * (fc**2).sum(axis=2)
                ).argmax(axis=1)
                cell = ci * fine.shape[1] + fi
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    pa.array(cell.astype(np.int32)),
                    rb.column(1),
                ],
                names=[id_col, "cell", vec_col],
            )

    assigned = emb.select(id_col, vec_col).mapInArrow(
        _assign, schema=out_schema
    )

    # Within-cell pair scoring: ONE Arrow pass per cell with a BLAS
    # GEMM, not a cell-equi self-join + per-row expression-fold cosine.
    # The join form shuffles BOTH sides and evaluates an interpreted
    # zip_with/aggregate dot per joined row — at 1.6e7 docs that is
    # ~4e9 interpreted 64-dim folds, measured tracking toward hours
    # (same pathology the LIN-code scan hit, COVERAGE.md D5).  Here
    # each cell's occupancy-bounded block (~256 rows) becomes one
    # 256x256 matrix product; ids stream back through Arrow.  Cosine
    # is rounded to 6dp with F.round's half-away-from-zero tie rule
    # (similarity.np_round_half_up), so the pair set matches the join
    # form (pinned in tests; empirical up to last-ulp BLAS summation
    # order and decimal-repr rounding — see bucketed_ann_pairs_gemm).
    # Zero-norm vectors never pair (NaN cosine compares False) and so
    # come out as singleton groups — cosine is undefined for them, and
    # a join-form scorer must pre-filter norm > 0 to agree (Spark
    # orders NaN above every double).  Oversized cells (degenerate
    # codebooks) are GEMM-tiled so task memory stays O(block^2); only
    # the Arrow group materialization grows with occupancy, which is
    # why n_cells must scale with n.
    def _cell_pairs(batches):
        # Arrow-native iterator form (r10): batches accumulate as flat
        # numpy blocks, no per-row pandas objects
        import pyarrow as pa

        from bigsdb_spark.operators.similarity import (
            _arrow_mat,
            np_round_half_up,
        )

        b_ids, b_vecs = [], []
        m = 0
        for rb in batches:
            nb_rows = rb.num_rows
            if nb_rows == 0:
                continue
            m += nb_rows
            b_ids.append(rb.column(0).to_numpy(zero_copy_only=False))
            b_vecs.append(_arrow_mat(rb.column(2), nb_rows))
        if m < 2:
            return
        ids = np.concatenate(b_ids)
        x = np.vstack(b_vecs)
        n = np.sqrt((x * x).sum(axis=1))
        o1, o2 = [], []
        block = 4096
        with np.errstate(divide="ignore", invalid="ignore"):
            for s in range(0, m, block):
                xb, nb = x[s : s + block], n[s : s + block]
                for t in range(0, m, block):
                    cb = np_round_half_up(
                        (xb @ x[t : t + block].T)
                        / np.outer(nb, n[t : t + block])
                    )
                    ib, jb = np.nonzero(cb >= min_cosine)
                    gi = ids[ib + s]
                    gj = ids[jb + t]
                    keep = gi < gj  # the id1 < id2 pair contract
                    o1.append(gi[keep])
                    o2.append(gj[keep])
        id1 = np.concatenate(o1)
        if len(id1) == 0:
            # empty object-dtype arrays infer a null Arrow type that
            # fails the schema check — yield nothing instead
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array(id1), pa.array(np.concatenate(o2))],
            names=["id1", "id2"],
        )

    import pyarrow as pa

    _cell_pairs.__annotations__ = {
        "batches": Iterator[pa.RecordBatch],
        "return": Iterator[pa.RecordBatch],
    }
    pairs = assigned.groupBy("cell").applyInArrow(
        _cell_pairs, schema=f"id1 {id_type}, id2 {id_type}"
    )
    nodes = emb.select(F.col(id_col).alias("id"))
    groups = single_linkage(pairs, nodes)
    return groups.select(
        F.col("id").alias(id_col),
        "group_id",
        (F.col("id") == F.col("group_id")).alias("keep"),
    )
