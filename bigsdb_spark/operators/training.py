"""Training-corpus assembly operators: sequence packing, deterministic
shard writing, and incremental dedup against an existing corpus index.

These extend the reference's warehouse with the operations a
large-scale LLM training-data pipeline needs downstream of the
cleaning/dedup/policy family (operators/dedup.py, operators/corpus.py,
operators/textstats.py).  No reference counterpart — design follows
standard public practice (pack-to-max-length batching, hash-sharded
corpus output, incremental MinHash dedup as in the public
deduplicate-text-datasets / datatrove lineages).

Scale design:
- packing is one shuffle (repartition on a key hash) + an Arrow
  partition-local pass; no global coordination — examples are packed
  within a partition, which is how production packers work (global
  optimal bin packing is NP-hard and unnecessary: fill loss at
  per-partition scope is < 1/docs-per-partition).
- shard assignment is a pure column expression (xxhash64 + pmod), so
  the writer is shuffle-once partitionBy output with deterministic
  within-shard order — re-running the job byte-reproduces the corpus.
- incremental dedup anti-joins the new slice against the bounded
  index tables (md5 set + LSH band buckets) instead of re-pairing the
  whole corpus: cost scales with the DELTA, not the corpus.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bigsdb_spark.materialize import materialize
from bigsdb_spark.operators.dedup import (
    lsh_candidate_pairs_grouped,
    minhash_signatures_fused,
    normalized_text,
)

__all__ = [
    "split_oversized",
    "pack_documents",
    "shard_assignments",
    "write_training_shards",
    "build_corpus_index",
    "dedup_against_index",
    "INDEX_FORMAT",
]

# Identity of the dedup-index hash pipeline.  Persisted index snapshots
# record this marker; the probe side refuses a snapshot written by a
# different family (e.g. the pre-round-5 md5-exploded pipeline): bucket
# values are NOT comparable across families, so probing a mismatched
# snapshot would silently never match the historical corpus.  Bump on
# any change to the shingle/minhash/banding hash functions.
INDEX_FORMAT = "minhash-fused-xxhash64/v1"


def split_oversized(
    df: DataFrame, id_col: str, ntok_col: str, max_len: int
) -> DataFrame:
    """Split docs longer than ``max_len`` tokens into ``part`` chunks
    (0-based) so every packable unit fits one example.  Emits
    (id, part, n_tokens); the final chunk carries the remainder.
    Pure expressions — explode over a sequence, no Python."""
    # greatest(1, ...): a zero-token doc must yield ONE empty chunk —
    # ceil(0/max_len)=0 would make sequence(0, -1) DESCEND to [0, -1]
    # and fabricate a phantom full-length part (the corpus.py trap)
    n_parts = F.greatest(
        F.lit(1), F.ceil(F.col(ntok_col) / F.lit(max_len)).cast("int")
    )
    part = F.explode(F.sequence(F.lit(0), n_parts - 1))
    return df.select(
        F.col(id_col), F.col(ntok_col).alias("_total"), part.alias("part")
    ).select(
        id_col,
        "part",
        F.least(
            F.lit(max_len), F.col("_total") - F.col("part") * F.lit(max_len)
        ).alias("n_tokens"),
    )


def pack_documents(
    df: DataFrame,
    id_col: str,
    ntok_col: str,
    max_len: int,
    partitions: int | None = None,
) -> DataFrame:
    """Greedy next-fit packing of (chunked) documents into fixed-length
    training examples.

    Returns one row per packed chunk: (example_id, id, part, n_tokens,
    offset) where ``offset`` is the chunk's token start inside its
    example and ``example_id`` is globally unique and deterministic
    (partition ordinal + running example counter; partition assignment
    and within-partition order are both hash-of-id, so a re-run packs
    identically).  Invariants (pinned by tests): every chunk appears
    exactly once; per-example token sums never exceed ``max_len``;
    consecutive offsets tile each example.
    """
    chunks = split_oversized(df, id_col, ntok_col, max_len)
    n_parts = partitions or chunks.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    routed = (
        chunks.withColumn("_route", F.pmod(F.xxhash64(id_col), F.lit(int(n_parts))))
        .repartition(int(n_parts), "_route")
        .withColumn("_ord", F.xxhash64(id_col, F.lit(1)))
    )
    out_schema = (
        "example_id string, "
        + f"{id_col} {dict(routed.dtypes)[id_col]}, "
        + "part int, n_tokens long, offset long"
    )

    def _pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pdf = pdf.sort_values(["_ord", id_col, "part"], kind="mergesort")
        route = int(pdf["_route"].iloc[0])
        ex_no, used = 0, 0
        ex_ids, offsets = [], []
        for n in pdf["n_tokens"]:
            n = int(n)
            if used + n > max_len and used > 0:
                ex_no += 1
                used = 0
            ex_ids.append(f"{route}-{ex_no}")
            offsets.append(used)
            used += n
        out = pdf[[id_col, "part", "n_tokens"]].copy()
        out.insert(0, "example_id", ex_ids)
        out["offset"] = offsets
        yield out

    return routed.mapInPandas(_pack, schema=out_schema)


def shard_assignments(
    df: DataFrame, id_col: str, n_shards: int, seed: int = 0
) -> DataFrame:
    """Deterministic shard + within-shard order columns.

    ``shard`` = pmod(xxhash64(id, seed), n_shards) — uniform and
    stable across runs and engines running the same xxhash64;
    ``shard_order`` is a keyed hash, giving a reproducible pseudorandom
    shuffle WITHIN each shard (training-data order must be shuffled
    but re-derivable).  Pure projection — zero shuffle until written.
    """
    return df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(n_shards)).cast("int")
    ).withColumn("shard_order", F.xxhash64(F.col(id_col), F.lit(seed + 1)))


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    seed: int = 0,
) -> None:
    """Write the corpus as ``shard=N`` parquet partitions with a
    deterministic within-shard shuffle: one repartition on the shard
    key, rows sorted by the order hash inside each task, one file per
    shard.  Byte-reproducible given the same input and seed."""
    (
        shard_assignments(df, id_col, n_shards, seed)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shard_order", id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def build_corpus_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 8,
    band_size: int = 2,
) -> dict[str, DataFrame]:
    """The dedup index of an existing corpus: the exact tier's
    normalized-md5 set and the near-dup tier's LSH band buckets
    (same shingle/minhash/banding parameters as operators/dedup.py so
    index and query agree).  Both tables are keyed for equi-join:
    (content_md5) and (band, bucket)."""
    md5s = df.select(
        F.md5(normalized_text(F.col(text_col))).alias("content_md5")
    ).distinct()
    # fused zero-shuffle signatures: the index consumes only the h
    # columns (banding), never shingle rows, so the exploded pipeline
    # buys nothing here (~3x cheaper at 4e6 docs; dedup.py).  Index
    # bucket values are internal state, but they PERSIST (the streaming
    # ingest snapshots them), so cross-version compatibility is
    # enforced by INDEX_FORMAT: every persisted snapshot records the
    # hash-family marker and the probe side fails fast on mismatch
    # instead of silently never matching the historical corpus.
    sigs = minhash_signatures_fused(df, id_col, text_col, k, n_hashes)
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"h{b * band_size + j}") for j in range(band_size)],
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    buckets = (
        sigs.select(F.explode(bands).alias("bb"))
        .select(F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .distinct()
    )
    return {"md5": md5s, "bands": buckets}


def dedup_against_index(
    new_docs: DataFrame,
    index: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> dict[str, DataFrame]:
    """Incremental dedup: drop new docs that exactly or nearly match
    the indexed corpus, then dedup the survivors among themselves.

    Tiers:
    1. exact — anti-join on normalized md5 against ``index['md5']``;
    2. near — a new doc sharing ANY LSH band bucket with the corpus is
       dropped (semi-join per banded row, aggregated to the doc);
    3. intra-batch — exact + LSH dedup among the remaining new docs
       (keep the smallest id of each group, matching dedup.py).

    Returns ``kept`` (surviving new docs) and the two updated index
    tables.  Every join is equi-keyed on a hash — at 100 TB the index
    sides are large but uniformly keyed, and the anti-joins shuffle
    only the delta.

    The intra-batch candidate step runs the grouped band join; by
    default WITHOUT a hot-bucket cap, because capping silently
    UNDER-dedups (every doc in a skipped bucket is kept) — the wrong
    default for an ingest gate.  The grouped form materializes each
    bucket's O(n^2) pair structs as one task-local array before the
    explode, so a boilerplate-heavy batch with a pathological hot
    bucket can OOM an executor where the old streaming self-join only
    slowed down.  ``max_bucket`` is the explicit, documented trade for
    such batches: buckets above the cap contribute no intra-batch
    pairs (recall loss bounded to those buckets; docs there are KEPT,
    never dropped).  Alternatively pre-filter with the corpus-policy
    repetition filters before ingest.
    """
    docs = new_docs.withColumn(
        "_md5", F.md5(normalized_text(F.col(text_col)))
    )
    # intra-batch exact: keep min id per content hash, then anti-join corpus
    from pyspark.sql import Window

    w = Window.partitionBy("_md5")
    exact_kept = (
        docs.withColumn("_keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_keep")
        .join(index["md5"], F.col("_md5") == F.col("content_md5"), "left_anti")
    )
    sigs = minhash_signatures_fused(
        exact_kept, id_col, text_col, k, n_hashes
    )  # fused zero-shuffle signatures, as in build_corpus_index
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"h{b * band_size + j}") for j in range(band_size)],
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    # three consumers below (corpus hit, intra pairs, fresh index) —
    # materialize once instead of re-shingling the delta each time
    banded = materialize(
        sigs.select(F.col("doc"), F.explode(bands).alias("bb")).select(
            "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
    )
    hit_corpus = (
        banded.join(index["bands"], ["band", "bucket"], "left_semi")
        .select("doc")
        .distinct()
    )
    survivors = exact_kept.join(
        hit_corpus, exact_kept[id_col] == hit_corpus["doc"], "left_anti"
    )
    # intra-batch near-dup among survivors: filter the SAME signature
    # frame down to survivors (no second shingle/minhash pass), then
    # pair docs sharing a band bucket, keeping the min id of each pair
    surv_sigs = sigs.join(
        survivors.select(F.col(id_col).alias("doc")), "doc", "left_semi"
    )
    # grouped form: one exchange per micro-batch instead of a
    # checkpointed self-join; identical pair set (dedup.py)
    intra = lsh_candidate_pairs_grouped(
        surv_sigs, n_hashes, band_size, max_bucket=max_bucket
    )
    losers = intra.select(F.col("doc2").alias("_loser")).distinct()
    # three consumers (kept rows, fresh md5 slice, fresh band slice)
    # would otherwise re-run the whole shingle/minhash/anti-join
    # lineage once each
    kept_md5 = materialize(
        survivors.join(losers, survivors[id_col] == losers["_loser"], "left_anti")
    )
    kept = kept_md5.drop("_md5")
    # fresh index slices come from frames already computed: the kept
    # docs' md5 column and their rows of the banded frame
    fresh_md5 = kept_md5.select(F.col("_md5").alias("content_md5")).distinct()
    fresh_bands = (
        banded.join(
            kept_md5.select(F.col(id_col).alias("doc")), "doc", "left_semi"
        )
        .select("band", "bucket")
        .distinct()
    )
    return {
        "kept": kept,
        "md5": index["md5"].unionByName(fresh_md5).distinct(),
        "bands": index["bands"].unionByName(fresh_bands).distinct(),
    }
