"""Structured Streaming extensions (SURVEY §2.9, §7 M8).

The reference is batch-only; these are the streaming counterparts of the
batch event operators in ``operators/sessions.py`` — identical
aggregation logic, so the batch result is the oracle for the stream run
(tested with trigger=availableNow over the same parquet).

Watermarking: 1 hour of allowed lateness on event time; the tumbling agg
emits append-mode finalized windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigsdb_spark.materialize import materialize, scope


def read_event_stream(
    spark: SparkSession, path: str, schema=None, max_files: int = 1
) -> DataFrame:
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_tumbling_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    width: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window counts per key."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), width).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            key_col,
            "n",
            "total_value",
        )
    )


def streaming_sliding_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    width: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked SLIDING-window counts per key: each event lands in
    width/slide overlapping windows (F.window with a slideDuration).
    Same output shape as the tumbling agg so the two are drop-in
    alternatives; the batch twin (identical expression on a static
    frame) is the oracle in tests."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), width, slide).alias("w"), F.col(key_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            key_col,
            "n",
            "total_value",
        )
    )


def streaming_distinct_sketches(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "user_id",
    width: str = "1 hour",
    watermark: str = "1 hour",
    lgk: int = 12,
) -> DataFrame:
    """Watermarked per-window HLL sketch of ``value_col``'s distinct
    values per key — the streaming twin of
    operators/sketches.distinct_sketch_rollup (r7).  A streaming
    COUNT(DISTINCT) would need unbounded per-window value state; the
    sketch agg keeps O(2^lgk) bytes per (window, key) and the emitted
    rows stay MERGEABLE: append them to the stored finest-grain rollup
    table and serve any coarser grouping or longer horizon via
    sketches.merge_sketches, never reprocessing the stream.  Output:
    (window_start, key, sketch, n_rows)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), width).alias("w"), F.col(key_col))
        .agg(
            F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("sketch"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias(
                "window_start"
            ),
            key_col,
            "sketch",
            "n_rows",
        )
    )


def streaming_quantile_sketches(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    width: str = "1 hour",
    watermark: str = "1 hour",
    k: int = 200,
) -> DataFrame:
    """Watermarked per-window KLL quantile sketch of ``value_col`` per
    key — the streaming twin of operators/sketches.
    quantile_sketch_rollup (r8).  A streaming percentile would need
    every value per window in state; the KLL agg keeps O(k log(n/k))
    doubles per (window, key) and the emitted rows stay MERGEABLE:
    append them to the stored finest-grain rollup and serve any
    horizon's quantiles/histograms via merge_quantile_sketches.
    Output: (window_start, key, kll, n_values)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), width).alias("w"), F.col(key_col))
        .agg(
            F.kll_sketch_agg_double(
                F.col(value_col).cast("double"), F.lit(k)
            ).alias("kll"),
            F.count(F.col(value_col)).alias("n_values"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias(
                "window_start"
            ),
            key_col,
            "kll",
            "n_values",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful exact dedup on a stream: first occurrence of each key
    wins, with WATERMARK-BOUNDED state — dropDuplicatesWithinWatermark
    evicts a key's state once the watermark passes it, so state stays
    bounded even when the dedup keys don't include the event-time column
    (plain dropDuplicates only expires state when the ts column is part
    of the key subset). The streaming twin of the batch hash-dedup
    (operators/dedup.py::exact_duplicates)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_running_counts(
    stream: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator shape: per-key running aggregates kept in
    GroupState via applyInPandasWithState — the pattern for incremental
    scheme-cache maintenance on a designation stream (SURVEY §2.9).
    Emits (key, n, total_value) updates per batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} string, n long, total_value double, update_seq long"
    state_schema = "n long, total_value double, seq long"

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            stored = tuple(state.get)
            # checkpoints written before the update_seq column carry a
            # 2-field state; widen in place instead of crashing the
            # stream on restart
            n, total = stored[0], stored[1]
            seq = stored[2] if len(stored) > 2 else 0
        else:
            n, total, seq = 0, 0.0, 0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        # persist the RAW total — rounding belongs on the emitted row
        # only; storing the rounded value would re-truncate every batch
        # and accumulate drift against the batch twin
        seq += 1  # per-key update counter: lets sinks pick the final
        # emit without relying on batch append order
        state.update((n, total, seq))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n": [n],
                "total_value": [round(total, 2)],
                "update_seq": [seq],
            }
        )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_profile_cache(
    stream: DataFrame,
    loci: list[str],
    ts_col: str = "ts",
    id_col: str = "isolate_id",
    locus_col: str = "locus",
    allele_col: str = "allele_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental scheme-cache maintenance on a designation stream —
    the streaming twin of the A5 profile pivot (the reference maintains
    its scheme caches with triggers/update_scheme_caches.pl; here the
    cache updates continuously as designation events arrive).

    Per-isolate state (one slot per scheme locus, with the slot's event
    time) lives in GroupState; each batch upserts that isolate's
    designations and emits the current (isolate, profile, profile_md5,
    complete) row in update mode. Last-write-wins means the designation
    with the LATEST event time — enforced across batches by the stored
    per-slot timestamp, so a late event arriving in a later micro-batch
    cannot overwrite a newer designation. The md5 matches
    operators/profiles.build_profiles (md5 over the locus-sorted
    ','-joined vector) so the streamed cache can be verified against —
    and swapped for — the batch pivot for single-designation-per-locus
    streams. Paralogous MULTI-designations per locus (which
    build_profiles keeps side by side) are out of scope here: one slot
    per locus means corrections overwrite; use the batch A5 pivot for
    paralog-bearing schemes.
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    loci = sorted(loci)
    # the id column keeps its incoming type (string isolate keys are
    # legal — build_profiles, the batch twin, accepts any key type);
    # hardcoding `long` here would kill the stream on the first emit
    id_type = stream.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, profile array<string>, profile_md5 string, "
        "complete boolean, update_seq long"
    )
    state_schema = "alleles array<string>, tss array<long>, seq long"

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            stored = tuple(state.get)
            slots, tss = list(stored[0]), list(stored[1])
            # pre-update_seq checkpoints carry 2-field state; widen
            # instead of crashing the restarted stream
            seq = stored[2] if len(stored) > 2 else 0
        else:
            slots, tss = [None] * len(loci), [None] * len(loci)
            seq = 0
        idx = {l: i for i, l in enumerate(loci)}
        # within-batch rows arrive in partition/chunk order, not event
        # order — concatenate the key's chunks and apply in ts order so
        # equal-timestamp ties resolve consistently; ACROSS batches the
        # stored per-slot timestamp does the ordering (a late event in a
        # later micro-batch must not overwrite a newer designation)
        chunks = list(pdfs)
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values(
                ts_col, kind="stable"
            )
            for locus, allele, ts in zip(
                batch[locus_col], batch[allele_col], batch[ts_col]
            ):
                if locus not in idx:
                    continue
                i = idx[locus]
                tv = int(getattr(ts, "value", ts))  # Timestamp.value = ns
                if tss[i] is None or tv >= tss[i]:
                    slots[i] = allele
                    tss[i] = tv
        seq += 1
        state.update((slots, tss, seq))
        present = [s for s in slots if s is not None]
        md5 = hashlib.md5(",".join(present).encode()).hexdigest()
        yield pd.DataFrame(
            {
                id_col: [key[0]],
                "profile": [present],
                "profile_md5": [md5],
                "complete": [len(present) == len(loci)],
                "update_seq": [seq],
            }
        )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(id_col)
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_available_now(stream_df: DataFrame, checkpoint: str, out_path: str) -> None:
    """Drain the stream with trigger=availableNow into parquet — the
    batch-equivalence harness used by the tests."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now_memory(
    stream_df: DataFrame,
    name: str,
    mode: str = "update",
    final_by: list[str] | None = None,
):
    """Drain into an in-memory table (update-mode sinks — e.g.
    applyInPandasWithState — can't write parquet). Returns the result
    DataFrame registered under ``name``.

    Update-mode stateful queries emit one row per key PER MICRO-BATCH,
    so the raw table holds stale intermediate rows (n=1, n=2, ... for
    one key). Pass ``final_by=[key cols]`` to reduce to the final state.
    When the operator emits an ``update_seq`` column (a per-key counter
    kept in GroupState — both stateful operators here do), the reduction
    keeps the max-seq row per key, which is order-independent; otherwise
    it falls back to keep='last' over the sink's append order (an
    implementation detail — emit update_seq for a guaranteed result)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = stream_df.sparkSession.table(name)
    if final_by:
        pdf = out.toPandas()
        if "update_seq" in pdf.columns:
            pdf = (
                pdf.sort_values("update_seq", kind="stable")
                .drop_duplicates(subset=final_by, keep="last")
                .drop(columns=["update_seq"])
            )
            from pyspark.sql.types import StructType

            schema = StructType(
                [f for f in out.schema.fields if f.name != "update_seq"]
            )
            return stream_df.sparkSession.createDataFrame(pdf, schema=schema)
        pdf = pdf.drop_duplicates(subset=final_by, keep="last")
        return stream_df.sparkSession.createDataFrame(pdf, schema=out.schema)
    return out


def checkpoint_identity(checkpoint: str) -> str:
    """The streaming query id persisted in ``<checkpoint>/metadata`` —
    stable across restarts of the SAME checkpoint, different for a
    recreated one.  Persisted sinks record it so a deleted/relocated
    checkpoint (which restarts batch ids at 0) is DETECTED instead of
    silently interacting with replay guards keyed on batch id.  Falls
    back to the absolute path when the metadata file is not readable
    (e.g. called before the stream's first start)."""
    import json
    import os

    try:
        with open(os.path.join(checkpoint, "metadata")) as fh:
            return str(json.load(fh)["id"])
    except (OSError, ValueError, KeyError):
        return os.path.abspath(checkpoint)


def read_analysis_cache(spark: SparkSession, cache_path: str) -> DataFrame:
    """The current committed analysis cache (SnapshotLog-governed)."""
    from bigsdb_spark.snaplog import SnapshotLog

    snap = SnapshotLog(cache_path).latest()
    if snap is None:
        raise FileNotFoundError(f"no committed analysis cache at {cache_path}")
    return spark.read.parquet(snap.path("data"))


def run_analysis_cache_stream(
    results_stream: DataFrame,
    analysis_fields: DataFrame,
    cache_path: str,
    checkpoint: str,
    seq_col: str = "seq",
) -> None:
    """Incremental ``analysis_results_cache`` maintenance on a stream
    of analysis-result upserts — the streaming counterpart of the
    reference's per-row trigger (sql/isolatedb.sql:2217-2232
    trigger_normalize_analysis_jsonb: DELETE the (isolate, analysis)
    slice, re-normalize, INSERT).

    Each micro-batch (a) normalizes its JSON rows with the same batch
    operator the gate exercises (operators/analysis.py), and (b)
    replaces the touched (isolate_id, analysis_name) slices via an
    anti-join rewrite — last-writer-wins per key, exactly the
    trigger's DELETE+INSERT. foreachBatch is the right tool: the
    transformation is a join-free flatten, but the sink needs per-key
    replace semantics parquet append can't express.

    The cache is a ``SnapshotLog`` table (bigsdb_spark/snaplog.py):
    each batch reads the latest committed snapshot, stages the merged
    table, and commits atomically — a crash at any step leaves the
    previous snapshot current and complete (crash-injection proven in
    tests/test_snaplog.py), readers mid-query keep intact files, and
    the old move-aside/_recover_swap dance is gone.  Read it back with
    ``read_analysis_cache``.  Replaying a batch after a
    crash-before-checkpoint-commit is idempotent: the merge recomputes
    the same touched slices against the already-merged snapshot.
    """
    from bigsdb_spark.operators.analysis import normalize_analysis_json
    from bigsdb_spark.snaplog import SnapshotLog

    spark = results_stream.sparkSession
    if seq_col not in results_stream.columns:
        # without an ordering column, "last write per key in a batch"
        # is whatever partition order the aggregate happens to see —
        # a stale result could silently beat a newer one. Refuse.
        raise ValueError(
            f"results stream needs a monotonic '{seq_col}' column to "
            "order same-key upserts within a micro-batch"
        )
    log = SnapshotLog(cache_path)
    # this stream is the cache's sole writer and has not started yet:
    # sweeping scratch left by a crashed earlier run is race-free here
    log.gc(sweep_orphans=True)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # last event per (isolate, name) within the batch wins,
        # ordered by the explicit upsert sequence
        latest = batch_df.groupBy("isolate_id", "name").agg(
            F.max_by("results", seq_col).alias("results")
        )
        fresh = normalize_analysis_json(latest, analysis_fields)
        snap = log.latest()
        if snap is not None:
            # any OTHER failure reading/merging the existing cache must
            # propagate: falling back to fresh-only would silently
            # discard every previously normalized slice
            old = spark.read.parquet(snap.path("data"))
            touched = latest.select(
                F.col("isolate_id").alias("_t_iso"),
                F.col("name").alias("_t_name"),
            ).distinct()
            keep = old.join(
                touched,
                (old["isolate_id"] == touched["_t_iso"])
                & (old["analysis_name"] == touched["_t_name"]),
                "left_anti",
            )
            out = keep.unionByName(fresh)
        else:
            out = fresh  # genuinely the first batch
        txn = log.begin()
        try:
            out.write.mode("overwrite").parquet(txn.path("data"))
            txn.commit(
                meta={
                    "batch_id": batch_id,
                    "checkpoint_id": checkpoint_identity(checkpoint),
                },
                expected_version=snap.version if snap is not None else -1,
            )
        except BaseException:
            txn.abort()
            raise
        log.gc(keep=2)

    q = (
        results_stream.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_corpus_ingest_stream(
    docs_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> None:
    """Streaming training-corpus ingest with incremental dedup: each
    micro-batch is deduplicated against the persisted corpus index
    (exact md5 set + LSH band buckets), surviving documents append to
    the corpus and the index tables advance — so a document that ever
    entered the corpus (or nearly matches one that did) can never
    enter again, across batches and restarts.

    The per-batch work is ``training.dedup_against_index`` — cost
    scales with the DELTA, not the corpus (the index sides are
    hash-keyed equi-joins); ``max_bucket`` passes through as the
    intra-batch hot-bucket guard for boilerplate-heavy batches.

    Crash-safety: the corpus write is a per-batch OVERWRITE under
    ``batch=<id>`` (replays are idempotent), and the index advances as
    ``SnapshotLog`` commits (bigsdb_spark/snaplog.py) — immutable
    snapshot dirs published by an atomic log-record link, so a crash
    at any point leaves the previous snapshot committed and complete,
    and an admitted document can never re-enter even across restarts.

    Each commit records (a) ``format`` — the hash-family marker
    ``training.INDEX_FORMAT``; probing a snapshot written by a
    different pipeline raises instead of silently never matching the
    historical corpus — and (b) ``batch_id`` + ``checkpoint_id`` for
    replay handling.  Replays SELF-EXCLUDE: the index commit is the
    last step of a batch, so a committed ``batch_id >= `` this batch
    from the SAME checkpoint means a crash landed between the commit
    and the streaming checkpoint's own commit — re-deduping the batch
    against an index containing its own contributions would empty it,
    so it is skipped (with a loud log line).  A ``batch_id`` AHEAD of
    this batch under a DIFFERENT checkpoint id means the checkpoint
    was deleted or relocated while the index survived (batch ids
    restarted at 0): every new batch would be silently skipped
    forever, so this raises instead.
    """
    from bigsdb_spark.operators.training import (
        INDEX_FORMAT,
        build_corpus_index,
        dedup_against_index,
    )
    from bigsdb_spark.snaplog import SnapshotLog

    spark = docs_stream.sparkSession
    _legacy_guard(index_path)
    log = SnapshotLog(index_path)
    # sole writer of this index, not yet started: sweep crashed-commit
    # scratch (staging dirs, published-but-unlinked snapshots)
    log.gc(sweep_orphans=True)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        snap = log.latest()
        cid = checkpoint_identity(checkpoint)
        if snap is not None:
            fmt = snap.meta.get("format")
            if fmt != INDEX_FORMAT:
                raise RuntimeError(
                    f"corpus index at {index_path} was written by hash "
                    f"pipeline {fmt!r}, this engine runs {INDEX_FORMAT!r}: "
                    "bucket values are not comparable across families — "
                    "rebuild the index (re-ingest the corpus) rather than "
                    "silently never matching the historical corpus"
                )
            committed = snap.meta.get("batch_id", -1)
            if committed >= batch_id:
                if snap.meta.get("checkpoint_id") == cid:
                    # replay self-exclusion: this batch's corpus write
                    # and index commit both completed; re-deduping it
                    # against an index containing its own md5s/bands
                    # would drop every document and overwrite
                    # batch=<id> with an empty frame
                    print(
                        f"corpus ingest: skipping replayed batch "
                        f"{batch_id} (index already at batch "
                        f"{committed} for this checkpoint)"
                    )
                    return
                raise RuntimeError(
                    f"corpus index at {index_path} is at batch "
                    f"{committed} from checkpoint "
                    f"{snap.meta.get('checkpoint_id')!r} but this stream "
                    f"(checkpoint {cid!r}) delivered batch {batch_id}: "
                    "the streaming checkpoint was reset while the index "
                    "survived — every new batch would be silently "
                    "skipped. Restore the original checkpoint or rebuild "
                    "the index."
                )
            index = {
                "md5": spark.read.parquet(snap.path("md5")),
                "bands": spark.read.parquet(snap.path("bands")),
            }
        else:
            empty = batch_df.limit(0)
            index = build_corpus_index(
                empty, id_col, text_col, k, n_hashes, band_size
            )
        out = dedup_against_index(
            batch_df, index, id_col, text_col, k, n_hashes, band_size,
            max_bucket=max_bucket,
        )
        # per-batch overwrite: re-running the same batch after a crash
        # replaces its own output instead of appending duplicates
        out["kept"].write.mode("overwrite").parquet(
            f"{corpus_path}/batch={batch_id}"
        )
        txn = log.begin()
        try:
            out["md5"].write.mode("overwrite").parquet(txn.path("md5"))
            out["bands"].write.mode("overwrite").parquet(txn.path("bands"))
            txn.commit(
                meta={
                    "format": INDEX_FORMAT,
                    "batch_id": batch_id,
                    "checkpoint_id": cid,
                    "params": {
                        "k": k,
                        "n_hashes": n_hashes,
                        "band_size": band_size,
                    },
                },
                expected_version=snap.version if snap is not None else -1,
            )
        except BaseException:
            txn.abort()
            raise
        log.gc(keep=2)

    q = (
        docs_stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _legacy_guard(index_path: str) -> None:
    """Fail fast on a pre-SnapshotLog index (round-4 pointer-file
    layout: ``LATEST`` + ``v<N>/{md5,bands}``).  Those snapshots carry
    no format marker and were written by the md5-exploded hash family,
    so probing them with the current pipeline would silently never
    match the historical corpus."""
    import os

    if os.path.exists(os.path.join(index_path, "LATEST")):
        raise RuntimeError(
            f"corpus index at {index_path} uses the legacy pointer-file "
            "layout (no format marker; pre-INDEX_FORMAT hash family). "
            "Rebuild the index by re-ingesting the corpus."
        )


def run_autotag_stream(
    contig_stream: DataFrame,
    alleles: DataFrame | None,
    tags_path: str,
    checkpoint: str,
    contig_id: str = "id",
    contig_seq: str = "sequence",
    alleles_path: str | None = None,
) -> None:
    """Streaming autotag: scan each micro-batch of newly ingested
    contigs for exact allele occurrences and append the tags — the
    continuous counterpart of the nightly ``autotag.pl`` sweep (the
    batch operator ``seqmatch.scan_contigs_exact`` IS the per-batch
    transformation, so stream and batch provably tag identically).

    The scan is stateless per contig — no cross-batch state, no
    watermark.  Pass ``alleles_path`` (instead of a static frame) for
    newly defined alleles to apply from the next batch on: the path is
    re-READ per batch, which re-lists files — a DataFrame captured
    before the stream starts pins its file listing and would silently
    never see new definitions.  Output is a parquet append of the
    allele_sequences tag shape, partitioned per batch for idempotent
    replay (overwrite of ``batch=<id>``)."""
    from bigsdb_spark.operators.seqmatch import scan_contigs_exact

    if alleles is None and alleles_path is None:
        raise ValueError("pass alleles or alleles_path")
    spark = contig_stream.sparkSession

    def _tag(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        defs = (
            spark.read.parquet(alleles_path) if alleles_path is not None else alleles
        )
        tags = scan_contigs_exact(
            batch_df, defs, contig_id=contig_id, contig_seq=contig_seq
        )
        tags.write.mode("overwrite").parquet(f"{tags_path}/batch={batch_id}")

    q = (
        contig_stream.writeStream.foreachBatch(_tag)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_discovery_stream(
    contig_stream: DataFrame,
    alleles_path: str,
    discovered_path: str,
    checkpoint: str,
    k: int = 15,
    min_identity: float = 99.0,
    contig_id: str = "id",
    contig_seq: str = "sequence",
) -> None:
    """Continuous new-allele discovery — the streaming twin of the
    nightly ``scannew.pl`` sweep, reusing the batch operator
    (``seqmatch.discover_new_alleles``) per micro-batch.

    Cross-batch consistency comes from the storage, not from stream
    state: each batch re-reads the definitions at ``alleles_path``
    UNIONED with everything previously discovered (so a sequence
    discovered in batch 2 is an existing allele by batch 3, and the
    max+1 provisional ids keep advancing across batches); per-batch
    output is an overwrite of ``batch=<id>`` for idempotent replay.
    availableNow/foreachBatch runs batches strictly in sequence, so
    the read-union-discover-write cycle is race-free.
    """
    from pyspark.errors import AnalysisException

    from bigsdb_spark.operators.seqmatch import discover_new_alleles

    spark = contig_stream.sparkSession

    def _discover(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the prior-discoveries checkpoint lives for this batch only
        with scope():
            defs = spark.read.parquet(alleles_path).select(
                "locus", "allele_id", "sequence"
            )
            try:
                # Spark-side existence: os.path.exists would be always-False
                # on hdfs/s3 paths and silently skip the prior union
                prior_all = spark.read.parquet(discovered_path)
            except AnalysisException:
                prior_all = None  # first batch: nothing discovered yet
            if prior_all is not None:
                # exclude THIS batch's own partition and materialize before
                # the overwrite below deletes it — a crash-replay of batch N
                # would otherwise read files its own write is about to remove
                prior = materialize(
                    prior_all.filter(F.col("batch") != batch_id).select(
                        "locus",
                        F.col("new_allele_id").alias("allele_id"),
                        "sequence",
                    )
                )
                defs = defs.unionByName(prior)
            new = discover_new_alleles(
                batch_df, defs, k=k, min_identity=min_identity,
                contig_id=contig_id, contig_seq=contig_seq,
            )
            new.write.mode("overwrite").parquet(f"{discovered_path}/batch={batch_id}")

    q = (
        contig_stream.writeStream.foreachBatch(_discover)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
