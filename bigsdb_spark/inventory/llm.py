"""Inventory: training-data pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) over the documents /
embeddings tables — the beyond-reference extension family (SURVEY §7 M8).

The md5-based minhash/LSH keeps every step oracle-checkable in DuckDB;
the normalized-text expression is character-identical on both engines.
SimHash, the DSIR fit/score/Gumbel-sample (md5 bucket hash + md5-seeded
noise), and the multimodal decode stub are likewise hash-derived
(md5 / sha256), so even those have full value oracles — only the
k-means IVF quantizer and the numpy block-matmul top-k stay
pytest-verified (MLlib seeds and per-task top-k pruning are not
SQL-reproducible; both are bit-equality/recall-tested against the
oracle-checked baselines in tests/test_ivf.py and
tests/test_dedup_similarity.py, and both run in bench.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigsdb_spark.inventory.registry import register, tbl
from bigsdb_spark.materialize import materialize
from bigsdb_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_duplicate_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash,
    word_shingles,
)
from bigsdb_spark.operators.similarity import (
    bucketed_ann_pairs,
    cosine_topk_pairs,
    nearest_neighbor,
)

# normalized text, shingles and tokens — DuckDB spellings of the exact
# expressions in operators/dedup.py::normalized_text / word_shingles
_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{N} ]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_TOKS_CTE = f"toks AS (SELECT doc_id AS doc, string_split({_NORM}, ' ') AS t FROM documents)"
_SHINGLES_CTE = f"""
    {_TOKS_CTE},
    sh AS (
        SELECT DISTINCT doc,
               t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
        FROM toks, UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i))
"""

# SimHash (bits=16) in SQL: value of the first 4 hex chars of md5(tok),
# per-bit +/-1 votes, sign -> fingerprint bit — the exact expression in
# operators/dedup.py::simhash (Spark side uses conv(hex, 16, 10)).
_HEXD = "strpos('0123456789abcdef', substr(md5(tok), {pos}, 1)) - 1"
_SIMHASH_H = (
    f"(({_HEXD.format(pos=1)}) * 4096 + ({_HEXD.format(pos=2)}) * 256"
    f" + ({_HEXD.format(pos=3)}) * 16 + ({_HEXD.format(pos=4)}))"
)
_SIMHASH_VOTES = ",\n               ".join(
    f"sum(CASE WHEN (h // {2 ** i}) % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(16)
)
_SIMHASH_SUM = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {2 ** i} ELSE 0 END)" for i in range(16)
)
_SIMHASH_CTE = f"""
    tokrows AS (
        SELECT doc, tok FROM toks, UNNEST(t) AS u(tok) WHERE tok != ''),
    tokh AS (SELECT doc, {_SIMHASH_H} AS h FROM tokrows),
    votes AS (
        SELECT doc,
               {_SIMHASH_VOTES}
        FROM tokh GROUP BY doc),
    sh16 AS (SELECT doc, CAST({_SIMHASH_SUM} AS BIGINT) AS simhash FROM votes)
"""


@register(
    "t_text_suite",
    oracle=f"""
    WITH {_TOKS_CTE},
    {_SIMHASH_CTE.lstrip()},
    d AS (SELECT doc_id, text FROM documents),
    feats AS (
        SELECT d.doc_id, d.text, t,
               md5({_NORM}) AS fp,
               len(t) AS n_tokens,
               round(len(list_filter(t, x -> x IN ('the','a','of','to','and',
                   'in','is','for','on','it'))) / len(t), 4) AS stop_ratio,
               round(len(list_distinct(t)) / len(t), 4) AS unique_ratio,
               CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1 ELSE 0 END
                   AS len_ok
        FROM d JOIN toks ON toks.doc = d.doc_id)
    SELECT f.doc_id, f.fp,
           CAST(f.n_tokens AS BIGINT) AS n_tokens,
           CAST(length(f.text) AS BIGINT) AS n_chars,
           round(length(regexp_replace(f.text, '\\s', '', 'g')) / f.n_tokens, 4)
               AS mean_token_len,
           CAST(len(list_distinct(f.t)) AS BIGINT) AS n_unique_tokens,
           f.stop_ratio, f.unique_ratio, f.len_ok,
           round(f.stop_ratio * 0.4 + f.unique_ratio * 0.4
                 + CASE WHEN f.len_ok = 1 THEN 0.2 ELSE 0.0 END, 4) AS quality,
           CASE WHEN f.stop_ratio >= 0.08 THEN 'en' ELSE 'other' END AS pred_lang,
           sh16.simhash
    FROM feats f JOIN sh16 ON sh16.doc = f.doc_id
    """,
)
def t_text_suite(spark, sf_dir):
    """The per-document text-analysis suite: fingerprint (md5 of
    normalized text), token counting, quality scoring (stopword /
    vocabulary / length-band filters), language-ID heuristic, and the
    16-bit SimHash — one row per document, every column oracle-checked.

    Scale shape: every scalar column is computed in ONE projection over
    one scan of the corpus (the shared Column helpers from
    operators/textstats.py / operators/dedup.py — joining the
    row-wise operators' outputs instead would rescan the corpus once
    per family); only SimHash needs its explode + groupBy pass, joined
    back on doc_id. The individual operators keep their own pytest
    coverage."""
    from bigsdb_spark.operators.dedup import normalized_text
    from bigsdb_spark.operators.textstats import (
        _tokens,
        composite_quality,
        length_band_ok,
        mean_token_length,
        stopword_ratio,
        unique_token_ratio,
    )

    docs = tbl(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    sw = stopword_ratio(F.col("text"))
    scalar = docs.select(
        "doc_id",
        F.md5(normalized_text(F.col("text"))).alias("fp"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        mean_token_length(F.col("text")).alias("mean_token_len"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        sw.alias("stop_ratio"),
        unique_token_ratio(F.col("text")).alias("unique_ratio"),
        length_band_ok(F.col("text")).cast("int").alias("len_ok"),
        composite_quality(F.col("text")).alias("quality"),
        F.when(sw >= 0.08, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
    )
    sh = simhash(docs, "doc_id", "text", bits=16).withColumnRenamed("doc", "doc_id")
    return scalar.join(sh, on="doc_id")


_COS = (
    "round(list_dot_product(e1, e2) / "
    "(sqrt(list_dot_product(e1, e1)) * sqrt(list_dot_product(e2, e2))), 6)"
)


# SemDeDup with INJECTED literal centroids: the coarse quantizer is a
# fixed set of Rademacher (+/-1) patterns, so cell assignment, the
# within-cell cosine pairs, and the connected-group labels are all
# ANSI-SQL-expressible (the grouping via a recursive CTE) — giving the
# semantic-dedup tier a full DuckDB value oracle as the third method
# of the dedup_exact gate entry (the gate holds the 50-entry layout).
# Production trains centroids with MLlib k-means|| (the
# similarity.ivf_kmeans_ann build path); assignment and everything
# downstream are identical.
_SEM_DIM = 64
_SEM_CENTROIDS = [
    [1.0 if (j >> i) & 1 else -1.0 for j in range(_SEM_DIM)] for i in range(6)
]
_SEM_CENTS_SQL = ",\n        ".join(
    "({}, [{}]::DOUBLE[])".format(i, ", ".join(str(x) for x in c))
    for i, c in enumerate(_SEM_CENTROIDS)
)
_SEM_COS = (
    "list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e))"
    " * sqrt(list_dot_product(b.e, b.e)))"
)
_SEM_CTES = f"""
    sv AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        UNION ALL
        SELECT vec_id + 2000000, embedding::DOUBLE[] FROM embeddings
        WHERE vec_id % 17 = 0),
    cents(cid, c) AS (VALUES
        {_SEM_CENTS_SQL}),
    sscored AS (
        SELECT vec_id, cid,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY list_dot_product(e, c) DESC, cid ASC
               ) AS rn
        FROM sv CROSS JOIN cents),
    sassign AS (SELECT vec_id, cid FROM sscored WHERE rn = 1),
    spairs AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2
        FROM sv a
        JOIN sassign aa ON aa.vec_id = a.vec_id
        JOIN sassign bb ON bb.cid = aa.cid AND bb.vec_id > aa.vec_id
        JOIN sv b ON b.vec_id = bb.vec_id
        WHERE {_SEM_COS} >= 0.95),
    sedges AS (
        SELECT id1, id2 FROM spairs UNION SELECT id2, id1 FROM spairs),
    reach(id, lbl) AS (
        SELECT vec_id, vec_id FROM sv
        UNION
        SELECT r.id, e.id2 FROM reach r JOIN sedges e ON e.id1 = r.lbl),
    sgroups AS (SELECT id AS vec_id, min(lbl) AS group_id FROM reach GROUP BY id)
"""


@register(
    "dedup_exact",
    oracle=f"""
    WITH RECURSIVE docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
        WHERE doc_id % 17 = 0),
    fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM docs),
    ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM fp),
    emb AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 0.5)
        FROM embeddings WHERE vec_id % 17 = 0),
    v AS (
        SELECT vec_id, e,
               (CASE WHEN e[1] >= 0 THEN 1 ELSE 0 END) * 4
             + (CASE WHEN e[2] >= 0 THEN 1 ELSE 0 END) * 2
             + (CASE WHEN e[3] >= 0 THEN 1 ELSE 0 END) AS bucket
        FROM emb),
    s AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2, a.e AS e1, b.e AS e2
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    {_SEM_CTES}
    SELECT 'exact' AS method, keeper AS id1, doc_id AS id2,
           CAST(1.0 AS DOUBLE) AS score
    FROM ex WHERE doc_id <> keeper
    UNION ALL
    SELECT 'embedding_cosine' AS method, id1, id2, {_COS} AS score
    FROM s WHERE {_COS} >= 0.98
    UNION ALL
    SELECT 'semantic' AS method, group_id AS id1, vec_id AS id2,
           CAST(1.0 AS DOUBLE) AS score
    FROM sgroups WHERE vec_id <> group_id
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact + embedding-cosine + SemDeDup semantic dedup in one
    checked frame, exercised against PLANTED duplicates (every 17th
    document re-appended under a shifted id; every 17th embedding
    re-appended halved for the cosine tier and verbatim for the
    semantic tier — cosine 1.0 either way):

    The three tiers are built by :func:`dedup_exact_tiers` (so
    ``bench.py`` can time each independently) and unioned here —
    the gate entry's plan is exactly the union of the tier plans.

    - method='exact': star-shaped (keeper, dup) pairs from the
      fingerprint window — linear in corpus size, no self-join
      (dedup.exact_duplicate_pairs; generalizes GenomeComparator
      unique strains).
    - method='embedding_cosine': sign-bucket LSH candidates verified by
      exact cosine >= 0.98 (dedup.embedding_near_duplicates) — the
      semantic-dedup tier of a training-data pipeline; candidate
      generation is a hash join on the bucket id.
    - method='semantic': SemDeDup (dedup.semantic_dedup, public design
      arXiv:2303.09540) with injected literal Rademacher centroids —
      cell assignment, within-cell cosine pairs >= 0.95, connected
      duplicate groups keyed by smallest member; emitted as the same
      star shape (group keeper, member).  The DuckDB oracle replays
      the full pipeline including the transitive grouping (recursive
      CTE), so the k-means-cells tier is value-checked end to end.
    """
    t = dedup_exact_tiers(spark, sf_dir)
    return t["exact"].unionByName(t["embedding_cosine"]).unionByName(
        t["semantic"]
    )


def dedup_exact_tiers(spark, sf_dir) -> dict:
    """Per-tier frames behind ``dedup_exact`` (bench sub-timings)."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 17 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    ex = exact_duplicate_pairs(corpus, "doc_id", "text").select(
        F.lit("exact").alias("method"),
        F.col("id1").cast("long").alias("id1"),
        F.col("id2").cast("long").alias("id2"),
        F.lit(1.0).alias("score"),
    )
    emb = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    emb_corpus = emb.unionByName(
        emb.filter(F.col("vec_id") % 17 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 0.5).alias("embedding"),
        )
    )
    nd = embedding_near_duplicates(
        emb_corpus, "vec_id", "embedding", dims=3, min_cosine=0.98
    ).select(
        F.lit("embedding_cosine").alias("method"),
        F.col("id1").cast("long").alias("id1"),
        F.col("id2").cast("long").alias("id2"),
        F.col("cosine").alias("score"),
    )
    from bigsdb_spark.operators.dedup import semantic_dedup

    sem_corpus = emb.unionByName(
        emb.filter(F.col("vec_id") % 17 == 0).select(
            (F.col("vec_id") + 2000000).alias("vec_id"), "embedding"
        )
    )
    sem = (
        semantic_dedup(
            sem_corpus, "vec_id", "embedding",
            min_cosine=0.95, centroids=_SEM_CENTROIDS,
        )
        .filter(F.col("vec_id") != F.col("group_id"))
        .select(
            F.lit("semantic").alias("method"),
            F.col("group_id").cast("long").alias("id1"),
            F.col("vec_id").cast("long").alias("id2"),
            F.lit(1.0).alias("score"),
        )
    )
    return {"exact": ex, "embedding_cosine": nd, "semantic": sem}


_LSH_CTE = f"""
    {_SHINGLES_CTE},
    sig AS (
        SELECT doc,
               min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
               min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
               min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5,
               min(md5('6:' || shingle)) AS h6, min(md5('7:' || shingle)) AS h7
        FROM sh GROUP BY doc),
    bands AS (
        SELECT doc, 0 AS band, md5(h0 || '|' || h1) AS bucket FROM sig
        UNION ALL SELECT doc, 1, md5(h2 || '|' || h3) FROM sig
        UNION ALL SELECT doc, 2, md5(h4 || '|' || h5) FROM sig
        UNION ALL SELECT doc, 3, md5(h6 || '|' || h7) FROM sig),
    cand AS (
        SELECT DISTINCT a.doc AS doc1, b.doc AS doc2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc)
"""


def dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup candidates: shingle -> md5-minhash signature
    (8 hashes) -> 4 bands of 2 -> bucket equi-join. The join key is the
    band bucket, so candidate generation is a hash join, never O(n²).

    Benched (bench.py EXTRA, name dedup_minhash_lsh) but no longer a
    separate gate entry: its output is exactly the (doc1, doc2) pair
    set of dedup_ngram_jaccard, whose oracle recomputes the SAME
    candidate CTE — the value check is subsumed row-for-row, and the
    freed slot funds t_policy_suite."""
    sh = word_shingles(
        tbl(spark, sf_dir, "documents"), "doc_id", "text", k=3, distinct=False
    )  # minhash-only: min over a multiset == min over its set, and
    # skipping the distinct removes the full-shingle shuffle
    sig = minhash_signatures(sh, n_hashes=8)
    return lsh_candidate_pairs(sig, n_hashes=8, band_size=2)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_LSH_CTE},
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
    common AS (
        SELECT c.doc1, c.doc2, count(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc = c.doc1
        JOIN sh b ON b.doc = c.doc2 AND b.shingle = a.shingle
        GROUP BY 1, 2)
    SELECT doc1, doc2, n_common, s1.sz AS n1, s2.sz AS n2,
           round(n_common / (s1.sz + s2.sz - n_common), 6) AS jaccard
    FROM common
    JOIN sizes s1 ON s1.doc = doc1
    JOIN sizes s2 ON s2.doc = doc2
    """,
)
def dedup_jaccard(spark, sf_dir):
    """N-gram Jaccard verification of the LSH candidates — the two-stage
    scale path: LSH prunes the pair space, candidate-driven intersection
    joins verify. Work is linear in candidates, not corpus²."""
    # materialize the shingle set once: it feeds the signature pipeline
    # AND both sides of the candidate intersection join (not .cache():
    # the caller gets no handle to unpersist, so a cache would leak one
    # storage entry per invocation)
    sh = materialize(
        word_shingles(tbl(spark, sf_dir, "documents"), "doc_id", "text", k=3)
    )
    sig = minhash_signatures(sh, n_hashes=8)
    cand = lsh_candidate_pairs(sig, n_hashes=8, band_size=2)
    return ngram_jaccard(sh, pairs=cand)


# ------------------------------------------------------------ similarity



@register(
    "sim_brute_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    s AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2, a.e AS e1, b.e AS e2
        FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT id1, id2, {_COS} AS cosine FROM s
    ORDER BY cosine DESC, id1, id2 LIMIT 20
    """,
)
def sim_topk(spark, sf_dir):
    """Brute-force cosine top-k pairs — the ORACLE BASELINE ONLY, never
    the serving path: the id1 < id2 theta-join is a nested-loop O(n²)
    pair scan by construction. It anchors the DuckDB value check and the
    bit-equality tests of the fast paths; serve from
    ``cosine_topk_pairs_np`` (distributed block matmul),
    ``bucketed_ann_pairs`` or ``ivf_kmeans_ann`` instead. The dims are
    peeked from one row so the dot product unrolls into codegen
    arithmetic (same values; ~2× over the interpreted fold)."""
    emb = tbl(spark, sf_dir, "embeddings")
    first = emb.select("embedding").head()
    dims = len(first[0]) if first and first[0] is not None else None
    return cosine_topk_pairs(emb, "vec_id", "embedding", k=20, dims=dims)


@register(
    "sim_nn_argmin",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS e1 FROM embeddings
               WHERE vec_id < 50),
    c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS e2 FROM embeddings
          WHERE vec_id >= 50),
    s AS (SELECT qid, cid, {_COS} AS cosine FROM q CROSS JOIN c)
    SELECT qid, cid AS nn_id, cosine FROM (
        SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY cosine DESC, cid) AS rn FROM s) t
    WHERE rn = 1
    """,
)
def sim_nn(spark, sf_dir):
    """Per-query 1-NN by cosine — argmax window with id tiebreak; the
    same shape as the LIN-code closest-profile search (SURVEY W3)."""
    emb = tbl(spark, sf_dir, "embeddings")
    return nearest_neighbor(
        emb.filter(F.col("vec_id") < 50), emb.filter(F.col("vec_id") >= 50),
        "vec_id", "embedding",
    )


@register(
    "sim_bucketed_ann",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) * 4
             + (CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END) * 2
             + (CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings),
    s AS (
        SELECT a.bucket, a.vec_id AS id1, b.vec_id AS id2, a.e AS e1, b.e AS e2
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT bucket, id1, id2, {_COS} AS cosine FROM s
    WHERE {_COS} >= 0.2
    """,
)
def sim_bucketed(spark, sf_dir):
    """IVF/LSH-bucketed ANN scale path: sign-bucket partition key turns
    the pair search into a hash join on the bucket id."""
    return bucketed_ann_pairs(
        tbl(spark, sf_dir, "embeddings"), "vec_id", "embedding", dims=3, min_cosine=0.2
    )


# ------------------------------------------------------------ multimodal

_SHA_D = "strpos('0123456789abcdef', substr(sha, {pos}, 1)) - 1"


def _sha_byte(i: int) -> str:
    return (
        f"(({_SHA_D.format(pos=2 * i + 1)}) * 16 + ({_SHA_D.format(pos=2 * i + 2)}))"
    )


_MM_FEATS = ",\n           ".join(
    f"round({_sha_byte(i)} / 255.0, 4) AS f{i}" for i in range(8)
)


@register(
    "mm_suite",
    oracle=f"""
    WITH s AS (SELECT doc_id, text, sha256(text) AS sha FROM documents)
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           1 + {_sha_byte(0)} AS width,
           1 + {_sha_byte(1)} AS height,
           {_MM_FEATS}
    FROM s
    """,
)
def mm_suite(spark, sf_dir):
    """Multimodal plumbing, end to end: the opaque binary payload column
    with JVM-side metadata (byte length + content hash — exact media
    dedup needs no decode), joined with the Arrow-batched
    decode/feature-extract path (mapInPandas over partitions — the
    sanctioned pattern for per-payload Python work at scale).

    The codec is a clearly-marked deterministic STUB
    (operators/multimodal.py::_decode_stub — sha256-derived dims +
    4dp-quantized features; the real libraries are not in this
    container), which makes even the 'decode' output value-checkable
    against a DuckDB sha256 oracle. Array-typed features are projected
    to scalar f0..f7 columns for the gate (driver canonicalizer cannot
    hash array cells)."""
    from bigsdb_spark.operators.multimodal import binary_metadata, extract_features

    docs = tbl(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )
    meta = binary_metadata(payloads, "doc_id", "payload")
    feats = extract_features(payloads, "doc_id", "payload").select(
        "doc_id",
        "width",
        "height",
        *[
            F.round(F.element_at("features", i + 1).cast("double"), 4).alias(f"f{i}")
            for i in range(8)
        ],
    )
    return meta.join(feats, on="doc_id")


# ---------------------------------------------------------------------------
# corpus-policy suite fixtures — the PII plant is single-sourced SQL
# (documents carry no natural PII, so deterministic addresses/IPs/phones
# are appended to every 10th doc; both engines evaluate this exact
# spelling, implicit bigint->string casts included).
_PII_PLANT_SQL = (
    "concat(text, ' email a', doc_id, '@ex.com ip 10.1.', doc_id % 250, '.9',"
    " CASE WHEN doc_id % 20 = 0"
    " THEN concat(' second b', doc_id, '@ex.org phone 555-123-4567')"
    " ELSE '' END)"
)


# DSIR (Xie et al. 2023) fixtures: hashed uni-/bi-gram buckets via the
# first 4 hex chars of md5(gram) mod 256 — digit-by-digit in DuckDB so
# the bucket ids (and therefore the fitted models) are engine-identical.
_DSIR_BUCKETS = 256
_DSIR_TARGET_SQL = "d.source IN ('src0', 'src1')"


def _hexd(src: str, pos: int) -> str:
    return f"(strpos('0123456789abcdef', substr({src}, {pos}, 1)) - 1)"


_DSIR_BUCKET_SQL = (
    "("
    + " + ".join(f"{_hexd('md5(gram)', i + 1)} * {16 ** (3 - i)}" for i in range(4))
    + f") % {_DSIR_BUCKETS}"
)
_GUMBEL_V_SQL = " + ".join(
    _hexd("md5('dsir' || doc_id)", i + 1) + f" * {16 ** (7 - i)}" for i in range(8)
)
_DSIR_CTES = f"""
    uni AS (SELECT doc_id, tok AS gram FROM toks, UNNEST(t) AS u(tok)),
    dsg AS (SELECT doc_id, gram FROM uni
            UNION ALL SELECT doc_id, gram FROM g2),
    dsf AS (SELECT doc_id, CAST({_DSIR_BUCKET_SQL} AS INT) AS bucket FROM dsg),
    dsb AS (SELECT bucket, count(*) AS craw,
                   sum(CASE WHEN {_DSIR_TARGET_SQL} THEN 1 ELSE 0 END) AS ctgt
            FROM dsf JOIN documents d USING (doc_id) GROUP BY 1),
    dst AS (SELECT sum(craw) AS nraw, sum(ctgt) AS ntgt FROM dsb),
    dsr AS (SELECT bucket,
                   ln((ctgt + 1) / (ntgt + {_DSIR_BUCKETS}))
                 - ln((craw + 1) / (nraw + {_DSIR_BUCKETS})) AS log_ratio
            FROM dsb CROSS JOIN dst),
    dsw AS (SELECT doc_id, sum(log_ratio) AS logw
            FROM dsf JOIN dsr USING (bucket) GROUP BY 1),
    dsk AS (SELECT doc_id, logw,
                   logw - ln(-ln((({_GUMBEL_V_SQL}) + 0.5) / 4294967296.0))
                       AS gkey
            FROM dsw),
    dssel AS (SELECT doc_id, logw, gkey,
                     row_number() OVER (ORDER BY gkey DESC, doc_id) AS rn
              FROM dsk)
"""
_DSIR_UNION_SQL = f"""
    UNION ALL
    SELECT 'dsir_w', CAST(doc_id AS BIGINT), NULL, NULL, NULL,
           round(logw, 4), NULL, NULL
    FROM dsw
    UNION ALL
    SELECT 'dsir_sel', CAST(doc_id AS BIGINT), CAST(rn AS BIGINT), NULL, NULL,
           round(logw, 4), round(gkey, 4), NULL
    FROM dssel WHERE rn <= (SELECT count(*) // 5 FROM documents)
"""


def _policy_oracle() -> str:
    from bigsdb_spark.operators.corpus import EMAIL_RE, IPV4_RE, PHONE_RE

    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               length(replace(text, ' ', '')) AS chars
        FROM documents),
    g2 AS (
        SELECT doc_id, chars,
               array_to_string(list_slice(t, CAST(u.i AS INT),
                                          CAST(u.i + 1 AS INT)), ' ') AS gram
        FROM toks, UNNEST(range(1, len(t))) AS u(i)),
    c2 AS (SELECT doc_id, chars, gram, count(*) AS c,
                  length(replace(gram, ' ', '')) AS gc
           FROM g2 GROUP BY 1, 2, 3),
    t2 AS (SELECT doc_id, max(c * gc) AS topw FROM c2 GROUP BY 1),
    g5 AS (
        SELECT doc_id, chars,
               array_to_string(list_slice(t, CAST(u.i AS INT),
                                          CAST(u.i + 4 AS INT)), ' ') AS gram
        FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)),
    c5 AS (SELECT doc_id, chars, gram, count(*) AS c,
                  length(replace(gram, ' ', '')) AS gc
           FROM g5 GROUP BY 1, 2, 3),
    d5 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c * gc ELSE 0 END) AS dupw
           FROM c5 GROUP BY 1),
    rep AS (
        SELECT tk.doc_id,
               CASE WHEN chars > 0
                    THEN least(1.0, round(coalesce(topw, 0) / chars, 6))
                    ELSE 0.0 END AS f_top2,
               CASE WHEN chars > 0
                    THEN least(1.0, round(coalesce(dupw, 0) / chars, 6))
                    ELSE 0.0 END AS f_dup5
        FROM toks tk
        LEFT JOIN t2 ON t2.doc_id = tk.doc_id
        LEFT JOIN d5 ON d5.doc_id = tk.doc_id),
    dg AS (SELECT DISTINCT doc_id,
                  array_to_string(list_slice(t, CAST(u.i AS INT),
                                             CAST(u.i + 4 AS INT)), ' ') AS gram
           FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)),
    bg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 40 = 0),
    contam AS (
        SELECT dg.doc_id, count(*) AS n_hits
        FROM dg JOIN bg ON bg.gram = dg.gram GROUP BY 1),
    pii AS (
        SELECT doc_id, {_PII_PLANT_SQL} AS ptext FROM documents
        WHERE doc_id % 10 = 0),
    {_DSIR_CTES.strip()}
    SELECT 'rep' AS kind, CAST(doc_id AS BIGINT) AS doc_id,
           CASE WHEN f_top2 <= 0.20 AND f_dup5 <= 0.15
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS n_a,
           CAST(NULL AS BIGINT) AS n_b, CAST(NULL AS BIGINT) AS n_c,
           f_top2 AS f_a, f_dup5 AS f_b, CAST(NULL AS VARCHAR) AS s
    FROM rep
    UNION ALL
    SELECT 'contam', CAST(doc_id AS BIGINT), CAST(n_hits AS BIGINT),
           NULL, NULL, NULL, NULL, NULL
    FROM contam
    UNION ALL
    SELECT 'pii', CAST(doc_id AS BIGINT),
           CAST(len(regexp_extract_all(ptext, '{EMAIL_RE}')) AS BIGINT),
           CAST(len(regexp_extract_all(ptext, '{IPV4_RE}')) AS BIGINT),
           CAST(len(regexp_extract_all(ptext, '{PHONE_RE}')) AS BIGINT),
           NULL, NULL,
           md5(regexp_replace(regexp_replace(regexp_replace(ptext,
               '{EMAIL_RE}', '[EMAIL]', 'g'),
               '{PHONE_RE}', '[PHONE]', 'g'),
               '{IPV4_RE}', '[IP]', 'g'))
    FROM pii
    {_DSIR_UNION_SQL}
    """


@register("t_policy_suite", oracle=_policy_oracle())
def t_policy_suite(spark, sf_dir):
    """Corpus-policy suite (operators/corpus.py): Gopher-style
    repetition fractions + keep/drop flag (top-2-gram and duplicated-
    5-gram character fractions; Rae et al. 2021 §A1.1 re-expressed as
    explode + combinable groupBy), benchmark decontamination (distinct
    5-gram equi-join against a planted benchmark subset — the broadcast
    train/test overlap scrub), and PII count + redaction (regexp
    expressions over deterministically planted addresses; the redacted
    text is value-checked via md5 against an independent DuckDB regex
    engine), plus DSIR importance resampling (Xie et al. 2023,
    arXiv:2302.03169: hashed-ngram target/raw models fitted in two
    bucket-sized aggs, per-doc log-importance scores via broadcast
    join, and a deterministic Gumbel top-k sample — kinds dsir_w /
    dsir_sel, fit included in the value check).

    The four tiers are built by :func:`policy_suite_tiers` (bench
    sub-timings) and unioned here — same plans either way."""
    t = policy_suite_tiers(spark, sf_dir)
    return (
        t["rep"]
        .unionByName(t["contam"])
        .unionByName(t["pii"])
        .unionByName(t["dsir_w"])
        .unionByName(t["dsir_sel"])
    )


def policy_suite_tiers(spark, sf_dir, only: set | None = None) -> dict:
    """Per-tier frames behind ``t_policy_suite`` (bench sub-timings).

    Building the ``dsir_*`` tiers is eager (the shared gram frame is
    materialized so the explode runs once for fit AND score);
    pass ``only`` (a set of tier names) to skip that eager work when
    timing just the lazy rep/contam/pii tiers."""
    from bigsdb_spark.operators.corpus import (
        benchmark_ngram_hits,
        dsir_log_ratios,
        dsir_scores,
        gopher_repetition_flags,
        gumbel_topk,
        hashed_gram_buckets,
        pii_counts,
        redact_pii,
    )

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    nul_l = F.lit(None).cast("long")
    nul_d = F.lit(None).cast("double")
    nul_s = F.lit(None).cast("string")

    rep = gopher_repetition_flags(docs, "doc_id", "text").select(
        F.lit("rep").alias("kind"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rep_ok").cast("long").alias("n_a"),
        nul_l.alias("n_b"),
        nul_l.alias("n_c"),
        F.col("top2_frac").alias("f_a"),
        F.col("dup5_frac").alias("f_b"),
        nul_s.alias("s"),
    )
    bench = docs.filter(F.col("doc_id") % 40 == 0)
    contam = benchmark_ngram_hits(docs, bench, "doc_id", "text", n=5).select(
        F.lit("contam").alias("kind"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_hits").alias("n_a"),
        nul_l.alias("n_b"),
        nul_l.alias("n_c"),
        nul_d.alias("f_a"),
        nul_d.alias("f_b"),
        nul_s.alias("s"),
    )
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.expr(_PII_PLANT_SQL).alias("text")
    )
    pii = pii_counts(planted, "doc_id", "text").join(
        planted.select(
            "doc_id", F.md5(redact_pii(F.col("text"))).alias("red_md5")
        ),
        on="doc_id",
    ).select(
        F.lit("pii").alias("kind"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_email").alias("n_a"),
        F.col("n_ipv4").alias("n_b"),
        F.col("n_phone").alias("n_c"),
        nul_d.alias("f_a"),
        nul_d.alias("f_b"),
        F.col("red_md5").alias("s"),
    )

    out = {"rep": rep, "contam": contam, "pii": pii}
    if only is not None and not {"dsir_w", "dsir_sel"} & only:
        return {k: v for k, v in out.items() if k in only}

    # DSIR importance resampling (Xie et al. 2023): fit the hashed-ngram
    # target/raw models on source in (src0, src1) as the target domain,
    # score every doc, and Gumbel-top-k sample 20% — both the full
    # weight column and the selected sample are value-checked.
    docs_src = tbl(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # grams feed BOTH the fit and the score; materialize so the explode
    # runs once (not cache — no unpersist handle here)
    grams = materialize(
        hashed_gram_buckets(docs_src, "doc_id", "text", buckets=_DSIR_BUCKETS)
    )
    target = docs_src.filter(F.col("source").isin("src0", "src1")).select("doc_id")
    ratios = dsir_log_ratios(grams, target, "doc_id", buckets=_DSIR_BUCKETS)
    scored = dsir_scores(grams, ratios, "doc_id")
    k = docs_src.count() // 5
    sel = gumbel_topk(scored, "doc_id", "dsir_logw", k, seed="dsir")
    dsir_w = scored.select(
        F.lit("dsir_w").alias("kind"),
        F.col("doc_id").cast("long").alias("doc_id"),
        nul_l.alias("n_a"),
        nul_l.alias("n_b"),
        nul_l.alias("n_c"),
        F.round("dsir_logw", 4).alias("f_a"),
        nul_d.alias("f_b"),
        nul_s.alias("s"),
    )
    dsir_sel = sel.select(
        F.lit("dsir_sel").alias("kind"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("sel_rank").cast("long").alias("n_a"),
        nul_l.alias("n_b"),
        nul_l.alias("n_c"),
        F.round("dsir_logw", 4).alias("f_a"),
        F.round("gumbel_key", 4).alias("f_b"),
        nul_s.alias("s"),
    )
    out["dsir_w"] = dsir_w
    out["dsir_sel"] = dsir_sel
    if only is not None:
        return {k: v for k, v in out.items() if k in only}
    return out
