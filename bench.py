"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set covers every operator family at its scale path: scan +
predicate pushdown, snowflake broadcast joins, groupBy/window aggs, the
profile pivot + pairwise distance family, minhash/LSH dedup, cosine ANN,
sessionization. Each query is forced with a count()/collect() so the
full plan executes.
"""

from __future__ import annotations

import json
import os
import sys
import time

from bigsdb_spark.inventory import QUERIES
from bigsdb_spark.inventory.registry import tbl
from bigsdb_spark.inventory.typing import _pairs_memo
from bigsdb_spark.materialize import scope
from bigsdb_spark.session import get_spark


def _sim_topk_np(spark, sf_dir):
    # distributed block-matmul top-k: gate-dropped (per-task top-k
    # pruning isn't SQL-reproducible; bit-equality test in test_ivf.py)
    # but benched — it is the serving path for brute-force similarity
    from bigsdb_spark.operators.similarity import cosine_topk_pairs_np

    return cosine_topk_pairs_np(
        tbl(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=20
    )


def _sim_ivf(spark, sf_dir):
    from bigsdb_spark.operators.similarity import ivf_kmeans_ann

    return ivf_kmeans_ann(
        tbl(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_centroids=8, top_k=5,
    )


def _asof_events(spark, sf_dir):
    # r7 as-of join on the real event stream: every purchase matched to
    # the user's most recent prior click — one union+window shuffle, no
    # join operator (plan-pinned in tests; DuckDB ASOF-equality there)
    from pyspark.sql import functions as F

    from bigsdb_spark.operators.asof import asof_join

    ev = tbl(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    return asof_join(purchases, clicks, on="user_id")


def _sim_ivf_gemm(spark, sf_dir):
    # r7 serving variant: same IVF search served from an injected
    # codebook (no MLlib fit in the serve path) with the per-cell BLAS
    # scorer; join-form equality pinned in test_ivf, scorer-swap ladder
    # in BASELINE.md (round-7)
    from bigsdb_spark.operators.pq import _kmeans_np, _sample_np
    from bigsdb_spark.operators.similarity import ivf_kmeans_ann_gemm

    emb = tbl(spark, sf_dir, "embeddings")
    cents = _kmeans_np(_sample_np(emb, "embedding", 2048), 8, 10, 7).tolist()
    return ivf_kmeans_ann_gemm(
        emb, "vec_id", "embedding", top_k=5, n_probe=1, centroids=cents
    )


def _sim_ivf_gemm_q8(spark, sf_dir):
    # r9: the QUALITY serving config (n_probe=8 — recall 0.818 at
    # production n vs 0.217 for n_probe=1, tools/ivf_recall.py).  At
    # sf0.1's 8 cells this clamps to full probe (exact search), so the
    # row tracks the multi-probe plan floor; the data-regime ladder is
    # ivf_topk_gemm_q8 in tools/scale_bench.py (BASELINE.md r9).
    from bigsdb_spark.operators.pq import _kmeans_np, _sample_np
    from bigsdb_spark.operators.similarity import ivf_kmeans_ann_gemm

    emb = tbl(spark, sf_dir, "embeddings")
    cents = _kmeans_np(_sample_np(emb, "embedding", 2048), 8, 10, 7).tolist()
    return ivf_kmeans_ann_gemm(
        emb, "vec_id", "embedding", top_k=5, n_probe=8, centroids=cents
    )


def _dedup_minhash(spark, sf_dir):
    # un-gated in r3 (its pair set is exactly dedup_ngram_jaccard's
    # oracle-checked row set) but still benched: candidate generation
    # without the verify join is the cost that matters at corpus scale
    from bigsdb_spark.inventory.llm import dedup_minhash

    return dedup_minhash(spark, sf_dir)


def _dedup_minhash_fused(spark, sf_dir):
    # the scale path: zero-shuffle fused signatures + one-exchange
    # grouped band join (operators/dedup.py) — same candidate contract
    # as dedup_minhash_lsh, measured 3x cheaper at 4e6 docs
    from bigsdb_spark.operators.dedup import (
        lsh_candidate_pairs_grouped,
        minhash_signatures_fused,
    )

    docs = tbl(spark, sf_dir, "documents")
    return lsh_candidate_pairs_grouped(
        minhash_signatures_fused(docs, "doc_id", "text"), 8
    )


def _corpus_assembly(spark, sf_dir):
    # pack documents into fixed-length examples and assign output
    # shards — the Arrow packing pass plus the pure-expression shard
    # hash (operators/training.py); measures the corpus-assembly tail
    # of the training pipeline at scale
    from bigsdb_spark.operators.textstats import token_stats
    from bigsdb_spark.operators.training import pack_documents, shard_assignments

    docs = tbl(spark, sf_dir, "documents")
    toks = token_stats(docs, "doc_id", "text").select("doc_id", "n_tokens")
    packed = pack_documents(toks, "doc_id", "n_tokens", max_len=2048)
    return shard_assignments(packed, "example_id", n_shards=64)


_PQ_QUERY = [((h * 37 + 11) % 2001 - 1000) / 1000.0 for h in range(64)]


def _bucketed_ann_sq(spark, sf_dir):
    # the int8-screened variant of sim_bucketed_ann: identical pair
    # output, codes instead of vectors through the quadratic join —
    # the shuffle-bytes term that dominates at 1.6e7 rows (BASELINE.md)
    from bigsdb_spark.operators.similarity import bucketed_ann_pairs_sq

    return bucketed_ann_pairs_sq(
        tbl(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        dims=3, min_cosine=0.2,  # same params as the sim_bucketed_ann gate
    )


def _bucketed_ann_gemm(spark, sf_dir):
    # the r6 serving default: per-bucket BLAS scorer, identical pair
    # set to the join form — 6-14x faster at 1e6-1.6e7 (BASELINE.md)
    from bigsdb_spark.operators.similarity import bucketed_ann_pairs_gemm

    return bucketed_ann_pairs_gemm(
        tbl(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        dims=3, min_cosine=0.2,  # same params as the sim_bucketed_ann gate
    )


def _sq_topk(spark, sf_dir):
    # int8 scalar-quantized top-k: quantize + integer-dot + top-k as a
    # single joinless codegen scan (operators/pq.py)
    from bigsdb_spark.operators.pq import sq_encode, sq_topk

    emb = tbl(spark, sf_dir, "embeddings")
    return sq_topk(sq_encode(emb), _PQ_QUERY, top_k=10)


def _ivf_pq(spark, sf_dir):
    # train + encode + multi-probe ADC top-k — the full IVF-PQ serving
    # path; at sf0.1 this is plan-floor-bound, the data term is benched
    # at 1e6-1.6e7 rows by tools/scale_bench.py (BASELINE.md)
    from bigsdb_spark.operators.pq import (
        ivf_pq_encode,
        ivf_pq_topk,
        train_ivf_pq,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    model = train_ivf_pq(emb, n_cells=16, m=8, k=16, sample=2048)
    return ivf_pq_topk(
        ivf_pq_encode(emb, model), model, _PQ_QUERY, top_k=10, n_probe=4
    )


_R32_MODELS: dict = {}


def _ivf_pq_r32_refine(spark, sf_dir):
    # r11 (VERDICT r10 #7): the NAMED memory-tier quality config —
    # m=32/k=256 residual codes + 10x exact refine at n_probe>=2
    # (recall@10 0.938-0.946 at n=1e6, BASELINE.md r10; pinned in
    # tests/test_pq.py) — tracked as a serving-path plan floor like
    # sim_ivf_gemm_q8.  The LUT volume (2*32*256) exceeds
    # RESIDUAL_ADC_MAX_LITERALS, so this also exercises the
    # broadcast-LUT dispatch every round.  The model is trained ONCE
    # per process (memoized): m32k256 k-means is ~10 s of driver
    # numpy, and PQ codebooks train offline in any real deployment —
    # the entry tracks the SERVING cost (encode + ADC + exact refine).
    from bigsdb_spark.operators.pq import (
        ivf_pq_encode,
        ivf_pq_topk,
        train_ivf_pq,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    model = _R32_MODELS.get(sf_dir)
    if model is None:
        model = _R32_MODELS[sf_dir] = train_ivf_pq(
            emb, n_cells=16, m=32, k=256, sample=2048, residual=True
        )
    return ivf_pq_topk(
        ivf_pq_encode(emb, model, keep_vec=True), model, _PQ_QUERY,
        top_k=10, n_probe=2, refine_factor=10,
    )


def _bpe_count(spark, sf_dir):
    # full tokenizer lifecycle: distributed word counting -> driver
    # merge loop (vocab-sized) -> Arrow-batched memoized application
    from bigsdb_spark.operators.bpe import bpe_token_count, bpe_train

    docs = tbl(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=200, max_words=50_000)
    return bpe_token_count(docs, "doc_id", "text", merges)


def _kll_dashboard(spark, sf_dir):
    # r8: the sketch-served dashboard — HLL distinct-users + KLL value
    # quantiles from per-day mergeable rollups (operators/sketches.py),
    # the merge-not-rescan serving shape for A1/A12/A9 legs
    from bigsdb_spark.inventory.analytics import dashboard_sketch_rollups

    return dashboard_sketch_rollups(spark, sf_dir)


EXTRA = {
    "sim_brute_topk_np": _sim_topk_np,
    "bpe_token_count": _bpe_count,
    "sim_ivf_kmeans": _sim_ivf,
    "sim_ivf_gemm": _sim_ivf_gemm,
    "sim_ivf_gemm_q8": _sim_ivf_gemm_q8,
    "asof_events": _asof_events,
    "kll_dashboard": _kll_dashboard,
    "dedup_minhash_lsh": _dedup_minhash,
    "dedup_minhash_fused": _dedup_minhash_fused,
    "corpus_assembly": _corpus_assembly,
    "sq_topk": _sq_topk,
    "sim_ivf_pq_topk": _ivf_pq,
    "sim_ivf_pq_r32_refine": _ivf_pq_r32_refine,
    "sim_bucketed_ann_sq": _bucketed_ann_sq,
    "sim_bucketed_ann_gemm": _bucketed_ann_gemm,
}

HEADLINE = [
    "s1_view_scan",
    "p1_p2_null_semantics",
    "j2_derived_cache_join",
    "j8_multihop_rollup",
    "j10_interval_containment",
    "a2_crosstab_pct",
    "a5_profile_pivot_md5",
    "a9_group_stats_n50",
    "d1_profile_distance_pairs",
    "d2_matching_profiles",
    "d4_single_linkage_groups",
    "j6_tag_join",
    "f10_partial_match",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_fused",
    "dedup_ngram_jaccard",
    "sim_brute_topk",  # oracle baseline: timed + reported, NOT in the total
    "sim_brute_topk_np",
    "sim_bucketed_ann",
    "sim_bucketed_ann_sq",
    "sim_bucketed_ann_gemm",
    "sq_topk",
    "sim_ivf_pq_topk",
    "sim_ivf_pq_r32_refine",
    "sim_ivf_gemm",
    "sim_ivf_gemm_q8",
    "asof_events",
    "kll_dashboard",
    "t_text_suite",
    "t_policy_suite",
    "corpus_assembly",
    "bpe_token_count",
    "stream_sessionize",
]

# Documented O(n^2) oracle fixtures, not serving paths: still timed and
# reported per-query, but EXCLUDED from the headline total so the
# serving-path trend stays readable round-over-round (sim_brute_topk was
# 23% of the r8 total while carrying +/-50% cross-JVM drift on unchanged
# code — VERDICT r8 #2). The serving paths that answer the same query
# (sim_brute_topk_np, sim_bucketed_ann*, sq/ivf/pq) remain in the total.
ORACLE_BASELINES = {"sim_brute_topk"}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bigsdb_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    # 1/5/15-min load at run start: a contaminated run (ambient load
    # from a co-scheduled process) identifies itself in the artifact
    load_start = [round(x, 2) for x in os.getloadavg()]

    timings: dict[str, float] = {}
    # warm the JVM, parquet footers, broadcast machinery and the python
    # UDF workers once so timings measure the queries, not cold-start
    QUERIES["s1_view_scan"](spark, sf_dir).count()
    QUERIES["j8_multihop_rollup"](spark, sf_dir).count()
    spark.range(1000).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()
    def reset():
        # drop caches the previous run pinned and force a JVM GC —
        # pending broadcast/shuffle cleanup otherwise thrashes
        # allocation-heavy later queries (measured 5x on the
        # nested-loop cosine join)
        spark.catalog.clearCache()
        _pairs_memo.clear()
        spark.sparkContext._jvm.System.gc()

    # best of N runs (default 3, env-overridable): single-JVM shuffle
    # stages show large run-to-run variance (GC / straggler noise —
    # r2 saw ~1.8x drift on sub-2s queries at n=2); the minimum over
    # n>=3 is the reproducible cost of the plan.  Noise defense
    # (VERDICT r10 #3 — two consecutive driver artifacts were
    # contaminated by ambient load): sub-3s entries, where a single
    # co-scheduled process can double the reading, automatically get
    # extra reps (up to SPARK_GRAFT_BENCH_N_FAST, default 5), and the
    # per-query max/min spread plus the host load average at run
    # start/end are emitted INTO the JSON so a contaminated artifact
    # is self-identifying, not just visible on stderr.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_N", "3"))
    fast_repeats = max(
        repeats, int(os.environ.get("SPARK_GRAFT_BENCH_N_FAST", "5"))
    )
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        # one UNTIMED warm-up execution per entry (r12, VERDICT r11
        # #3): entries with first-rep initialization (PQ codebook
        # training memoized per-process, first-entry session warm-up)
        # showed 4-6x spreads that measured initialization, not
        # variance; the warm-up absorbs it so `spread` means variance.
        # Best-of-n semantics unchanged (the min was never the first
        # rep for these entries anyway).
        # each rep in a scope: its checkpoints are released before the
        # next rep, outside the timed region
        with scope():
            (QUERIES.get(name) or EXTRA[name])(spark, sf_dir).count()
        reset()
        runs = []
        while len(runs) < repeats or (
            min(runs) < 3.0 and len(runs) < fast_repeats
        ):
            t0 = time.time()
            with scope():
                df = (QUERIES.get(name) or EXTRA[name])(spark, sf_dir)
                n = df.count()
                runs.append(time.time() - t0)
            reset()
        timings[name] = round(min(runs), 3)
        spreads[name] = round(max(runs) / min(runs), 2)
        print(
            f"  {name}: {timings[name]}s ({n} rows, n={len(runs)}, "
            f"spread {spreads[name]:.2f}x)",
            file=sys.stderr,
        )
    # per-tier sub-timings for the two composite gate entries, so
    # round-over-round deltas stay attributable to the tier that moved
    # (VERDICT r5 #2) — same best-of-N protocol, NOT added to the total
    # (the composite entries above already pay for the unioned plan)
    from pyspark.sql import functions as _F

    from bigsdb_spark.inventory.llm import dedup_exact_tiers, policy_suite_tiers

    subtimings: dict[str, dict[str, float]] = {}
    for comp, tiers_of in (
        ("dedup_exact", lambda t: dedup_exact_tiers(spark, sf_dir)[t]),
        (
            "t_policy_suite",
            lambda t: policy_suite_tiers(spark, sf_dir, only={t})[t],
        ),
        (
            # r11 fold-in attribution: filtering the union on the
            # literal kind column lets Catalyst prune the other leg
            # (PropagateEmptyRelation), so each tier times ONE leg
            "a5_profile_pivot_md5",
            lambda t: QUERIES["a5_profile_pivot_md5"](spark, sf_dir).filter(
                _F.col("kind") == t
            ),
        ),
    ):
        names = {
            "dedup_exact": ["exact", "embedding_cosine", "semantic"],
            "t_policy_suite": ["rep", "contam", "pii", "dsir_w", "dsir_sel"],
            "a5_profile_pivot_md5": ["pivot", "multi"],
        }[comp]
        subtimings[comp] = {}
        for tier in names:
            runs = []
            while len(runs) < repeats or (
                min(runs) < 3.0 and len(runs) < fast_repeats
            ):
                t0 = time.time()
                with scope():
                    tiers_of(tier).count()
                    runs.append(time.time() - t0)
                reset()
            subtimings[comp][tier] = round(min(runs), 3)
            print(
                f"    {comp}/{tier}: {subtimings[comp][tier]}s",
                file=sys.stderr,
            )

    total = round(
        sum(v for k, v in timings.items() if k not in ORACLE_BASELINES), 3
    )
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # r12 (VERDICT r11 #7): the spreads/subtimings/loadavg fields
    # pushed the single stdout JSON line past the driver's 2000-char
    # tail capture (BENCH_r11.json parsed: null).  The LAST stdout
    # line is now a COMPACT summary (metric/value/queries/sf only —
    # what the driver parses); the full detail object goes to a
    # PRECEDING stdout line and to bench_detail.json next to this
    # script, so nothing is lost and the artifact parses again.
    detail = {
        "metric": "headline_queries_wall_clock_detail",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spreads": spreads,
        "loadavg_start": load_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "subtimings": subtimings,
        "oracle_baselines_excluded_from_total": sorted(ORACLE_BASELINES),
        "sf": sf_val,
    }
    print(json.dumps(detail))
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_detail.json"),
            "w",
        ) as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    # r13 (VERDICT r12 #7): a tiny loadavg line directly ABOVE the
    # final compact line, so window contamination is visible in the
    # last ~100 chars of any truncated artifact tail (the full detail
    # line above can be arbitrarily long and gets cut first)
    print(
        json.dumps(
            {"loadavg_start": load_start,
             "loadavg_end": [round(x, 2) for x in os.getloadavg()]}
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
