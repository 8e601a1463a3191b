"""Streaming operators over the events / embeddings fixtures.

Scale notes (the 100 TB posture):
- file-source streams list and chunk input files per micro-batch
  (``maxFilesPerTrigger``), so ingest parallelism = file count, not 1;
- all aggregations below are keyed streaming aggs — state is hash
  partitioned by (window, key) across executors, and watermarks bound the
  state size (old windows are evicted once the watermark passes);
- ``applyInPandasWithState`` state lives per key-partition on executors —
  no driver state, no collect;
- the stateless vector-scoring stream is a pure projection: it pipelines at
  source speed with zero state and zero shuffle.

Store-backed streams (crawl, WARC, curate, audio, image, video and
image-text) mutate a fingerprint store through ``foreachBatch`` and are
effectively-once under replay. ``foreachBatch`` writes get no exactly-once
help from the checkpoint, so :func:`_store_batch` runs each micro-batch
``bid`` the same way:

1. If snapshot ``{prefix}-{bid:06d}`` is already committed, skip the batch:
   its sink and store rows are complete. Recomputing would be wrong, not
   just wasteful — the batch's docs would match their own committed
   fingerprints, every kept row would flip to a store dup, and the
   overwrite would replace the correct sink with that.
2. Flag the batch with the recipe (flag, don't drop).
3. Write the flagged rows to ``out_path/batch={bid:06d}`` with
   ``overwrite``, so a replay that does recompute (crash before the
   commit; the store holds no trace of the batch, so the flags come out
   the same) replaces rather than duplicates. Readers see ``batch`` as an
   ordinary partition column of ``spark.read.parquet(out_path)``.
4. Commit the kept rows, read back from that sink, as the snapshot. The
   sink write precedes the commit, so a committed snapshot implies a
   complete sink; the read-back commits what the sink holds without
   running the recipe a second time.

The stream owns snapshot naming and the store: the curate streams reject
either in their pass-through kwargs (:func:`_check_owned_kwargs`).
"""

from __future__ import annotations

import time
from contextlib import contextmanager, nullcontext
from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

__all__ = [
    "events_schema",
    "read_events_stream",
    "windowed_counts",
    "stream_dedup_counts",
    "sessionize",
    "running_totals_stateful",
    "score_vector_stream",
    "stream_interval_join",
    "stream_knn_join",
    "stream_index_insert",
    "stream_crawl_ingest",
    "stream_warc_ingest",
    "stream_curate",
    "stream_audio_curate",
    "stream_image_curate",
    "stream_image_text_curate",
    "stream_video_curate",
    "run_to_memory",
]


def events_schema(ts_unit: str = "us") -> str:
    """Explicit schema for the events file stream. Fixture generations store
    ``ts`` as either TIMESTAMP(NANOS) (``ts_unit='ns'``: read as int64 via
    ``nanosAsLong``, then floor-converted to micros like duckdb does) or
    TIMESTAMP(MICROS) (``ts_unit='us'``: read as TIMESTAMP_NTZ directly)."""
    ts_type = "bigint" if ts_unit == "ns" else "timestamp_ntz"
    return f"event_id bigint, ts {ts_type}, user_id bigint, event_type string, value double, props string"


def read_events_stream(
    spark: SparkSession,
    directory: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of event rows from a directory of parquet files.

    Streaming reads require an explicit schema (no inference at run time —
    schema drift is an error, matching the fixed-schema model of the
    reference engine, SURVEY §1.1). The ``ts`` physical unit is sniffed from
    the first staged file's footer so the declared schema matches the data.
    """
    import glob
    import os

    from ..sources import events_ts_unit

    files = sorted(glob.glob(os.path.join(directory, "*.parquet")))
    unit = events_ts_unit(files[0]) if files else "us"
    if unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(events_schema(unit))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(directory)
    if unit == "ns":
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type: the streaming twin
    of the batch ``GROUP BY date_trunc('hour', ts), event_type``.

    Output: (hour TIMESTAMP, event_type, n BIGINT, sum_value DOUBLE).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("hour"), "event_type", "n", "sum_value")
    )


def stream_dedup_counts(
    events: DataFrame,
    watermark: str = "24 hours",
) -> DataFrame:
    """Exactly-once event counting under at-least-once delivery: drop
    duplicate event_ids (state bounded by the watermark), then count per
    event_type. The streaming analog of the batch exact-dedup operator."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user: events within ``gap`` of each other merge
    into one session (Spark's native session_window keyed state).

    Output: (user_id, session_start, session_end, n_events, sum_value).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    width: str = "4 hours",
    watermark: str = "24 hours",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream inner join on ``key`` with a time-range condition:
    right rows in the ``width`` window strictly before each left row.

    This is Spark's double-sided stateful join: BOTH inputs buffer state,
    watermarks + the range condition bound how long each side is retained
    (without them state grows forever — the #1 stream-join footgun). The
    batch twin is :func:`~duckdb_vss_spark.operators.temporal.
    range_join_banded`; with availableNow both must agree (oracle-checked).

    Columns are prefixed (default ``l_`` / ``r_``) since both sides share a
    schema in the events use case.
    """
    lcols = [F.col(c).alias(left_prefix + c) for c in left.columns]
    rcols = [F.col(c).alias(right_prefix + c) for c in right.columns]
    lw = left.select(*lcols).withWatermark(left_prefix + left_ts, watermark)
    rw = right.select(*rcols).withWatermark(right_prefix + right_ts, watermark)
    lt, rt = left_prefix + left_ts, right_prefix + right_ts
    cond = (
        (F.col(left_prefix + key) == F.col(right_prefix + key))
        & (F.col(rt) >= F.col(lt) - F.expr(f"INTERVAL {width}"))
        & (F.col(rt) < F.col(lt))
    )
    return lw.join(rw, cond)


_RUNNING_SCHEMA = "event_type string, n bigint, sum_value double"
_RUNNING_STATE = "n bigint, sum_value double"


def _running_totals_fn(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (etype,) = key
    if state.exists:
        n, sv = state.get
    else:
        n, sv = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        sv += float(pdf["value"].sum())
    state.update((n, sv))
    yield pd.DataFrame({"event_type": [etype], "n": [n], "sum_value": [sv]})


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per
    event_type, a running (count, sum(value)) that survives across
    micro-batches. Each trigger emits the updated totals for the types seen
    in that batch — the building block for streaming monitors/quotas that
    plain windowed aggs can't express."""
    return (
        events.groupBy("event_type")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_RUNNING_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def score_vector_stream(
    vectors: DataFrame,
    vec_col: str,
    query: list,
    metric: str = "l2sq",
    threshold: float | None = None,
) -> DataFrame:
    """Stateless streaming vector scoring: distance of each arriving vector
    to a constant query, optionally filtered to ``score <= threshold``
    (l2sq) / ``>= threshold`` (similarity metrics). Pure projection — the
    same JVM distance expression as the batch path, zero state."""
    from ..functions.distance import METRIC_IS_DESCENDING, canonical_metric, distance_expr

    m = canonical_metric(metric)
    out = vectors.withColumn("score", distance_expr(vec_col, query, m))
    if threshold is not None:
        cond = F.col("score") >= threshold if METRIC_IS_DESCENDING[m] else F.col("score") <= threshold
        out = out.filter(cond)
    return out


def _drain(q, timeout_sec: float, name: str) -> None:
    """Wait for a one-shot (``availableNow``) streaming query to finish.
    A query that DIED must not look like a successful drain: after the
    poll loop, ``awaitTermination`` re-raises the query's own failure
    (a fetch_fn error, a sink write failure) instead of swallowing it;
    a query still running at the deadline is stopped and surfaces as
    ``TimeoutError``."""
    deadline = time.monotonic() + timeout_sec
    while q.isActive and time.monotonic() < deadline:
        time.sleep(0.2)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"{name} did not drain before timeout")
    q.awaitTermination()


def _run_batches(stream: DataFrame, batch_fn, checkpoint: str, timeout_sec: float, name: str) -> None:
    """Run ``batch_fn(batch_df, batch_id)`` over every micro-batch of the
    currently-staged input (``availableNow``) and block until the stream
    drains; a failed batch re-raises here (:func:`_drain`)."""
    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    _drain(q, timeout_sec, name)


def _check_owned_kwargs(name: str, curate_kwargs: dict) -> None:
    """A store-backed stream owns snapshot naming and the store. A
    caller-fixed ``snapshot`` would commit a second, identically-named
    snapshot every micro-batch that the ``{prefix}-{batch_id}`` skip
    cannot see, so a restarted batch would re-dedup against its own
    fingerprints."""
    forbidden = {"snapshot", "store"} & curate_kwargs.keys()
    if forbidden:
        raise ValueError(
            f"{name} owns snapshot naming and the store; "
            f"pass {sorted(forbidden)} as direct arguments, not via curate_kwargs"
        )


def _store_batch(
    bdf: DataFrame,
    bid: int,
    store,
    out_path: str,
    snapshot_prefix: str,
    recipe,
    keep_col: str,
    keep_cols: tuple,
    commit,
) -> None:
    """One micro-batch of a store-backed stream, under the protocol in the
    module docstring. ``recipe(bdf)`` is a context manager yielding the
    flagged frame (it releases what it cached on exit);
    ``commit(kept, name)`` appends the ``keep_cols`` of the sink's
    ``keep_col`` rows to ``store`` as snapshot ``name``."""
    name = f"{snapshot_prefix}-{bid:06d}"
    if store.has_snapshot(name):
        return  # replayed after full commit: sink + store already hold the batch
    sink = f"{out_path}/batch={bid:06d}"
    with recipe(bdf) as out:
        out.write.mode("overwrite").parquet(sink)
        # the flagged frame's schema is the sink's: no footer-reading job
        kept = bdf.sparkSession.read.schema(out.schema).parquet(sink)
        commit(kept.filter(keep_col).select(*keep_cols), name)


def stream_knn_join(
    probes: DataFrame,
    index,
    vec_col: str,
    id_col: str,
    k: int,
    out_path: str,
    ef_search: int | None = None,
    timeout_sec: float = 120.0,
) -> DataFrame:
    """Streaming ANN: each micro-batch of arriving query vectors is joined
    against an :class:`~duckdb_vss_spark.index.ivf.IVFIndex` (the
    HNSW_INDEX_JOIN path — partition-pruned lists, probe-mask GEMM) and the
    (qid, rid, rnk, score) matches append to a parquet sink. State-free:
    the index artifact is the lookup side, each batch is independent, and
    both the join and the sink write run distributed — nothing accumulates
    on the driver, so the stream runs at any probe rate the cluster's
    batch-join throughput covers.

    Runs with ``availableNow`` over the currently-staged input and returns
    the result DataFrame read back from the sink (the harness contract:
    one pass over all data must equal the batch twin).
    """
    from ..operators.knn import knn_join_flat_indexed

    def _batch(bdf: DataFrame, _bid: int) -> None:
        out = knn_join_flat_indexed(bdf, index, vec_col, k, id_col, ef_search)
        out.write.mode("append").parquet(out_path)

    _run_batches(probes, _batch, out_path + ".ckpt", timeout_sec, "stream_knn_join")
    return probes.sparkSession.read.parquet(out_path)


def run_to_memory(
    stream: DataFrame,
    name: str,
    output_mode: str = "update",
    timeout_sec: float = 120.0,
) -> DataFrame:
    """Run a streaming DataFrame to completion over all currently-available
    input (``availableNow`` trigger) into an in-memory sink and return the
    resulting batch DataFrame. This is the test/driver harness path: one
    pass sees all data, so the result must equal the batch twin."""
    spark = stream.sparkSession
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, timeout_sec, f"streaming query {name}")
    return spark.table(name)


def stream_index_insert(
    vectors: DataFrame,
    index,
    vec_col: str,
    id_col: str,
    checkpoint: str,
    timeout_sec: float = 120.0,
    compact_tail_rows: int | None = None,
) -> None:
    """Streaming index maintenance (M1 as a stream): each micro-batch of
    arriving vectors appends to the index's unindexed tail, exactly as a
    batch INSERT would (reference contract: src/hnsw/hnsw_index.cpp:514-530
    — new rows searchable immediately; fold in at the next compact).

    Delivery: the checkpoint makes each micro-batch's insert happen once
    per committed batch; a retry of a batch whose insert committed but
    whose stream checkpoint did not commits a second tail segment, which
    matches at-least-once file-sink semantics — dedup-sensitive callers
    keep ids unique upstream.

    ``compact_tail_rows``: auto-compaction inside the sink — after a
    micro-batch pushes the unindexed tail past this row count, the
    O(|tail|) incremental fold (:meth:`IVFIndex.compact_incremental`) runs
    INSIDE ``foreachBatch``, committing the tail as a list-partitioned
    delta before the next batch arrives. This bounds the brute-force tail
    scan every concurrent search pays at streaming ingest rates, without
    ever taking the index offline (the fold is one manifest commit, which
    every handle sees at its next call). Equivalent to creating the index
    with ``tail_max_rows`` + ``tail_policy='compact'`` — this knob puts the
    policy at the sink for indexes created without one.

    Runs with ``availableNow`` over the currently-staged input and blocks
    until the stream drains (the harness contract: one pass over all data
    must equal the batch INSERT twin).
    """

    def _batch(bdf: DataFrame, _bid: int) -> None:
        index.insert(bdf, vec_col, id_col)
        # the tail's row count is in the manifest the insert committed
        if compact_tail_rows is not None and index._tail_rows() > int(compact_tail_rows):
            index.compact_incremental(bdf.sparkSession)

    _run_batches(vectors, _batch, checkpoint, timeout_sec, "stream_index_insert")


def _crawl_ingest_batch(
    bdf: DataFrame,
    bid: int,
    store,
    out_path: str,
    url_col: str,
    text_col: str,
    id_col: str,
    snapshot_prefix: str,
    **ingest_kwargs,
) -> None:
    """One micro-batch of :func:`stream_crawl_ingest` and
    :func:`stream_warc_ingest`: the crawl recipe under
    :func:`_store_batch`."""
    from ..pipelines import crawl_ingest

    _store_batch(
        bdf, bid, store, out_path, snapshot_prefix,
        lambda b: nullcontext(crawl_ingest(
            b, store, url_col=url_col, text_col=text_col, id_col=id_col,
            append_snapshot=None, **ingest_kwargs,
        )),
        "ingest_keep", (id_col, text_col),
        lambda kept, name: store.append_snapshot(kept, text_col, id_col, name),
    )


def stream_crawl_ingest(
    docs: DataFrame,
    store,
    out_path: str,
    checkpoint: str,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    snapshot_prefix: str = "batch",
    timeout_sec: float = 180.0,
    **ingest_kwargs,
) -> None:
    """Streaming twin of :func:`~duckdb_vss_spark.pipelines.crawl_ingest`:
    documents arriving on a stream are curated per micro-batch against the
    accumulated MinHashStore history — URL normalize/flags, per-domain cap
    (within the micro-batch), near-dup match against every PRIOR batch —
    then the flagged rows land in the sink and the kept rows'
    fingerprints commit as snapshot ``{prefix}-{batch_id}`` so the NEXT
    micro-batch dedups against this one. This is the same
    artifact-maintenance shape as :func:`stream_index_insert`: the stream
    mutates a persisted store through its batch API, one committed
    snapshot per micro-batch. Delivery is effectively-once (module
    docstring).
    """
    def _batch(bdf: DataFrame, bid: int) -> None:
        _crawl_ingest_batch(
            bdf, bid, store, out_path,
            url_col=url_col, text_col=text_col, id_col=id_col,
            snapshot_prefix=snapshot_prefix, **ingest_kwargs,
        )

    _run_batches(docs, _batch, checkpoint, timeout_sec, "stream_crawl_ingest")


def stream_curate(
    docs: DataFrame,
    store,
    out_path: str,
    checkpoint: str,
    bench: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    snapshot_prefix: str = "curate",
    timeout_sec: float = 180.0,
    **curate_kwargs,
) -> None:
    """Streaming twin of :func:`~duckdb_vss_spark.pipelines.curate_corpus`
    — the steady-state pretraining-data loop: each arriving micro-batch
    runs the full recipe (quality gate → near-dup match against EVERY
    prior batch's committed fingerprints → benchmark decontamination →
    mixing → packing, all flags materialized), lands batch-keyed in the
    parquet sink, and commits its kept rows' fingerprints as snapshot
    ``{prefix}-{batch_id}`` so the NEXT micro-batch dedups against it.

    Mixing and packing run WITHIN each micro-batch (the batch is the
    mixing race's population — the same per-dump semantics the batch
    recipe has when invoked per crawl snapshot); cross-batch state is
    exactly the MinHashStore's fingerprints, O(kept docs), never text.
    Delivery is effectively-once (module docstring). ``curate_kwargs``
    pass through to the recipe (``strata_col``, ``alpha``,
    ``pack_budget``, thresholds...) — except ``snapshot`` and ``store``,
    which the stream owns. The recipe's persisted narrow flag frame and
    store-match hit set are released after each batch, so a long-running
    stream does not accumulate one cached frame per micro-batch.
    """
    from ..broadcasts import untrack_persist
    from ..operators.dedup import _fan_out
    from ..pipelines import curate_corpus

    _check_owned_kwargs("stream_curate", curate_kwargs)
    # the benchmark gram set is stream-invariant: build + persist it ONCE
    # and hand it to every micro-batch, instead of re-running the
    # benchmark explode+distinct per batch (round 9 overhead cut).
    # Persisted DIRECTLY, not via the tracked LRU ring — curate_corpus
    # adds one ring entry per micro-batch, so a ring-held gram frame
    # would be silently evicted after ~MAX_LIVE_PERSISTS batches and the
    # per-batch recompute would quietly return. Released in the finally
    # below ONLY when this function created it (a caller-provided
    # bench_grams stays the caller's to manage).
    owned_grams = None
    if bench is not None and "bench_grams" not in curate_kwargs:
        from ..functions import text as _T

        n = curate_kwargs.get("decontam_n", 3)
        # curate_corpus's bench_text_col defaults to 'text' independent of
        # text_col — mirror that, or a stream with text_col='content'
        # would probe the wrong benchmark column
        bt = curate_kwargs.get("bench_text_col", "text")
        owned_grams = (
            bench.select(F.explode(_T.word_ngrams(bt, n)).alias("gram"))
            .distinct()
            .persist()
        )
        curate_kwargs["bench_grams"] = owned_grams

    @contextmanager
    def recipe(bdf: DataFrame):
        # a micro-batch inherits the arrival files' partition count — a
        # narrow drop (1-4 files) would run the recipe's map-only stages at
        # file width while the cluster idles (measured: the MinHash stage
        # re-fans itself, the classifier/decontam stages do not); doc-level
        # rows are cheap to shuffle relative to anything derived from them
        out = curate_corpus(
            _fan_out(bdf), store=store, bench=bench, text_col=text_col,
            id_col=id_col, **curate_kwargs,
        )
        try:
            yield out
        finally:
            # unpersist AND vacate the tracked-ring slot, so a long stream's
            # per-batch frames don't evict ring entries still in use
            for attr in ("_curate_narrow", "_curate_hits"):
                cached = getattr(out, attr, None)
                if cached is not None:
                    untrack_persist(cached)

    def _batch(bdf: DataFrame, bid: int) -> None:
        _store_batch(
            bdf, bid, store, out_path, snapshot_prefix, recipe,
            "curate_keep", (id_col, text_col),
            lambda kept, name: store.append_snapshot(kept, text_col, id_col, name),
        )

    try:
        _run_batches(docs, _batch, checkpoint, timeout_sec, "stream_curate")
    finally:
        if owned_grams is not None:
            owned_grams.unpersist()


def stream_audio_curate(
    clips: DataFrame,
    store,
    out_path: str,
    checkpoint: str,
    content_col: str = "content",
    id_col: str = "clip_id",
    snapshot_prefix: str = "audio",
    timeout_sec: float = 180.0,
    **curate_kwargs,
) -> None:
    """Streaming twin of :func:`~duckdb_vss_spark.pipelines.audio_curate`
    — the steady-state audio-ingest loop: each arriving micro-batch of
    clips runs the full recipe (quality gates → within-batch fingerprint
    dedup → match against EVERY prior batch's committed fingerprints),
    lands batch-keyed in the parquet sink, and commits its kept clips'
    fingerprints as snapshot ``{prefix}-{batch_id}`` so the NEXT
    micro-batch dedups against it. Cross-batch state is the
    :class:`~duckdb_vss_spark.index.audio_store.AudioFingerprintStore`'s
    key rows — O(kept clips' frames), never audio bytes. Delivery is
    effectively-once (module docstring); the commit re-fingerprints the
    kept clips' bytes read back from the sink."""
    from ..operators.dedup import _fan_out
    from ..pipelines import audio_curate

    _check_owned_kwargs("stream_audio_curate", curate_kwargs)

    def _batch(bdf: DataFrame, bid: int) -> None:
        _store_batch(
            bdf, bid, store, out_path, snapshot_prefix,
            lambda b: nullcontext(audio_curate(
                _fan_out(b), content_col=content_col, id_col=id_col,
                store=store, snapshot=None, **curate_kwargs,
            )),
            "audio_keep", (id_col, content_col),
            lambda kept, name: store.append_snapshot(kept, content_col, id_col, name),
        )

    _run_batches(clips, _batch, checkpoint, timeout_sec, "stream_audio_curate")


def stream_image_curate(
    images: DataFrame,
    store,
    out_path: str,
    checkpoint: str,
    content_col: str = "content",
    id_col: str = "image_id",
    snapshot_prefix: str = "image",
    timeout_sec: float = 180.0,
    **curate_kwargs,
) -> None:
    """Streaming twin of :func:`~duckdb_vss_spark.pipelines.image_curate`
    — the steady-state image-ingest loop: each arriving micro-batch runs
    the full recipe (decode gate → within-batch pHash dedup → match
    against EVERY prior batch's committed hashes → thumbnail transcode),
    lands batch-keyed in the parquet sink, and commits its kept images'
    pHashes as snapshot ``{prefix}-{batch_id}`` so the NEXT micro-batch
    dedups against it. Cross-batch state is the
    :class:`~duckdb_vss_spark.index.image_store.ImageHashStore`'s banded
    hash rows — a few longs per kept image, never pixels. Delivery is
    effectively-once (module docstring); the commit takes the ``phash``
    the recipe materialized in the sink, so it re-decodes no image."""
    from ..operators.dedup import _fan_out
    from ..pipelines import image_curate

    _check_owned_kwargs("stream_image_curate", curate_kwargs)

    def _batch(bdf: DataFrame, bid: int) -> None:
        _store_batch(
            bdf, bid, store, out_path, snapshot_prefix,
            lambda b: nullcontext(image_curate(
                _fan_out(b), content_col=content_col, id_col=id_col,
                store=store, snapshot=None, **curate_kwargs,
            )),
            "image_keep", (id_col, "phash"),
            lambda kept, name: store.append_snapshot(kept, id_col, name, hash_col="phash"),
        )

    _run_batches(images, _batch, checkpoint, timeout_sec, "stream_image_curate")


def stream_video_curate(
    clips: DataFrame,
    store,
    out_path: str,
    checkpoint: str,
    content_col: str = "content",
    id_col: str = "clip_id",
    snapshot_prefix: str = "video",
    timeout_sec: float = 180.0,
    **curate_kwargs,
) -> None:
    """Streaming twin of :func:`~duckdb_vss_spark.pipelines.video_curate`
    — the steady-state video-ingest loop: each arriving micro-batch runs
    the full recipe (decode gates → within-batch offset-vote dedup →
    match against EVERY prior batch's committed frame hashes), lands
    batch-keyed in the parquet sink, and commits its kept clips' frame
    hashes as snapshot ``{prefix}-{batch_id}`` so the NEXT micro-batch
    dedups against it. Cross-batch state is the
    :class:`~duckdb_vss_spark.index.video_store.VideoFingerprintStore`'s
    ``(id, t, h)`` rows — three longs per kept frame, never pixels.
    Delivery is effectively-once (module docstring); the commit
    re-fingerprints the kept clips' bytes read back from the sink (the
    frame-hash table is per-frame rows, too wide to ride every clip row
    like the image store's single hash does)."""
    from ..operators.dedup import _fan_out
    from ..pipelines import video_curate

    _check_owned_kwargs("stream_video_curate", curate_kwargs)

    def _batch(bdf: DataFrame, bid: int) -> None:
        _store_batch(
            bdf, bid, store, out_path, snapshot_prefix,
            lambda b: nullcontext(video_curate(
                _fan_out(b), content_col=content_col, id_col=id_col,
                store=store, snapshot=None, **curate_kwargs,
            )),
            "video_keep", (id_col, content_col),
            lambda kept, name: store.append_snapshot(kept, id_col, name, content_col=content_col),
        )

    _run_batches(clips, _batch, checkpoint, timeout_sec, "stream_video_curate")


def stream_image_text_curate(
    pages: DataFrame,
    store,
    out_path: str,
    checkpoint: str,
    fetch_fn=None,
    html_col: str = "html",
    id_col: str = "doc_id",
    snapshot_prefix: str = "imgtext",
    timeout_sec: float = 180.0,
    prefetch_kwargs: dict | None = None,
    **curate_kwargs,
) -> None:
    """Streaming twin of the LAION-style image-text recipe — the
    steady-state pair-ingest loop: each arriving micro-batch of crawled
    HTML pages runs :func:`~duckdb_vss_spark.pipelines.image_text_pairs`
    (pre-fetch ledger), hands the kept pairs' deduped URL queue to
    ``fetch_fn``, completes the chain with
    :func:`~duckdb_vss_spark.pipelines.image_text_curate` (decode gate →
    within-batch pHash dedup → match against EVERY prior batch's
    committed hashes), lands the pair ledger batch-keyed in the parquet
    sink, and commits the kept images' pHashes as snapshot
    ``{prefix}-{batch_id}`` so the NEXT micro-batch dedups against them
    — the cross-batch net that catches a batch-1 image re-fetched under
    a brand-new URL in batch 2, which URL dedup cannot see.

    ``fetch_fn(queue_df) -> DataFrame`` is the caller's downloader: it
    receives a one-column ``url`` frame (the deduped fetch queue) and
    returns ``(url, content binary)`` rows; failures may be missing rows
    or NULL content — both flag as ``fetched_ok=false``, never drop. The
    actual HTTP transfer is outside the engine (and stubbed
    deterministically in tests); everything Spark-side — queue dedup,
    byte-side recipe, narrow flag join, store commit — is real.

    Cross-batch state is the
    :class:`~duckdb_vss_spark.index.image_store.ImageHashStore`'s banded
    hash rows — a few longs per kept image, never pixels or captions.
    Delivery is effectively-once (module docstring): a replay never
    re-fetches a byte, and the commit takes the ``img_phash`` the pair
    ledger materialized in the sink, so it re-decodes no image. The pair
    ledger is persisted for the batch's lifetime — it is evaluated twice
    (the fetch queue inside ``fetch_fn``, then the flag-join side of the
    recipe), and without the persist the HTML parse and the url_canonical
    window would run twice per micro-batch — and released before the
    batch returns. ``prefetch_kwargs`` feed :func:`image_text_pairs`
    (declared-dims and caption gates); ``curate_kwargs`` feed
    :func:`image_text_curate` (real post-fetch gates) — the two stages
    intentionally keep separate ``min_width``/``min_height`` namespaces."""
    from ..broadcasts import untrack_persist
    from ..operators.dedup import _fan_out, _shared
    from ..pipelines import image_text_curate, image_text_pairs

    if fetch_fn is None:
        raise ValueError(
            "stream_image_text_curate requires fetch_fn: the engine owns the "
            "fetch queue and the post-fetch recipe, the caller owns the bytes"
        )
    _check_owned_kwargs("stream_image_text_curate", curate_kwargs)
    prefetch_kwargs = dict(prefetch_kwargs or {})

    @contextmanager
    def recipe(bdf: DataFrame):
        pairs = _shared(image_text_pairs(
            _fan_out(bdf), html_col=html_col, id_col=id_col, **prefetch_kwargs
        ))
        try:
            # the fetch queue is the PRE-fetch verdict: one URL per kept pair
            queue = (
                pairs.filter("pair_keep")
                .select(F.col("img_url_norm").alias("url"))
                .distinct()
            )
            yield image_text_curate(
                pairs, fetch_fn(queue), store=store, snapshot=None, **curate_kwargs
            )
        finally:
            untrack_persist(pairs)

    def _batch(bdf: DataFrame, bid: int) -> None:
        _store_batch(
            bdf, bid, store, out_path, snapshot_prefix, recipe,
            "img_keep", ("img_url_norm", "img_phash"),
            lambda kept, name: store.append_snapshot(
                kept.dropDuplicates(["img_url_norm"]), "img_url_norm", name,
                hash_col="img_phash",
            ),
        )

    _run_batches(pages, _batch, checkpoint, timeout_sec, "stream_image_text_curate")


def stream_warc_ingest(
    spark,
    warc_dir: str,
    store,
    out_path: str,
    checkpoint: str,
    timeout_sec: float = 300.0,
    min_status: int = 200,
    max_status: int = 299,
    html_only: bool = True,
    main_content: bool = False,
    encoding: str = "auto",
    snapshot_prefix: str = "warcseg",
    **ingest_kwargs,
) -> None:
    """Streaming twin of :func:`~duckdb_vss_spark.pipelines.warc_ingest`:
    WARC segments LANDING IN A DIRECTORY are the stream (the crawl
    steady state — each dump drop is a micro-batch). A ``binaryFile``
    file-source stream picks up new segments exactly once via the
    checkpoint; each micro-batch parses its segments, extracts HTML text,
    and runs the incremental crawl curation against the MinHashStore —
    so segment N+1 near-dedups against everything segment N kept. Sink
    and store writes follow :func:`stream_crawl_ingest`'s effectively-once
    protocol (module docstring).

    Parallelism note: one segment file = one task (the same unit as the
    batch path); a micro-batch of S segments fans out S-wide.

    ``encoding``/``main_content`` mirror the batch twin's defaults
    (per-doc charset sniffing; keep-everything extraction) — the twins
    MUST extract identical text, or a page kept by a batch run would not
    near-dup against a later streaming run's fingerprints.
    """
    from ..operators.web import extract_html_text, extract_main_content
    from ..functions.text import hash64
    from ..sources.warc import parse_warc_bytes

    files = (
        spark.readStream.format("binaryFile")
        # streaming file sources need the schema declared; binaryFile's is
        # fixed by the format
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", "*.warc*")
        .load(warc_dir)
        .select("path", "content")
    )

    def _parse(batches):
        cols = ["record_id", "url", "http_status", "http_content_type", "body"]
        for pdf in batches:
            for p, blob in zip(pdf["path"], pdf["content"]):
                recs = parse_warc_bytes(bytes(blob), warc_file=str(p))
                rows = [
                    {c: r[c] for c in cols}
                    for r in recs
                    if r["warc_type"] == "response"
                ]
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    def _batch(bdf: DataFrame, bid: int) -> None:
        recs = bdf.mapInPandas(
            _parse,
            schema="record_id string, url string, http_status int, "
            "http_content_type string, body binary",
        )
        ok = recs.filter(
            (F.col("http_status") >= min_status) & (F.col("http_status") <= max_status)
        )
        if html_only:
            ok = ok.filter(
                F.lower(F.coalesce("http_content_type", F.lit(""))).contains("html")
            )
        ok = ok.withColumn(
            "doc_id", hash64(F.concat(F.lit("warc:"), F.col("record_id")))
        )
        extractor = extract_main_content if main_content else extract_html_text
        docs = extractor(
            ok.select("doc_id", "url", "body"), "body", "doc_id",
            encoding=encoding, carry_cols=("url",),
        )
        _crawl_ingest_batch(
            docs, bid, store, out_path,
            url_col="url", text_col="text", id_col="doc_id",
            snapshot_prefix=snapshot_prefix, **ingest_kwargs,
        )

    _run_batches(files, _batch, checkpoint, timeout_sec, "stream_warc_ingest")
