"""Structured Streaming ops vs their batch twins: with availableNow a
single pass sees all data, so the streaming result must EQUAL the batch
result (the same equivalence discipline as the ANN-vs-exact labeled tests,
SURVEY §5 technique 3)."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest

from pyspark.sql import functions as F

from duckdb_vss_spark.streaming import (
    read_events_stream,
    run_to_memory,
    running_totals_stateful,
    score_vector_stream,
    sessionize,
    stream_dedup_counts,
    windowed_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


@pytest.fixture(scope="module")
def events_dir_dup(tmp_path_factory):
    """The same events delivered twice (at-least-once replay)."""
    d = tmp_path_factory.mktemp("events_stream_dup")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-001.parquet")
    return str(d)


@pytest.fixture()
def events_batch(spark):
    from duckdb_vss_spark.sources import load_table

    return load_table(spark, SF_DIR, "events")


def _name() -> str:
    return "m" + uuid.uuid4().hex[:12]


def test_windowed_counts_equals_batch(spark, events_dir, events_batch):
    stream = windowed_counts(read_events_stream(spark, events_dir))
    got = run_to_memory(stream, _name(), output_mode="complete")
    exp = (
        events_batch.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    g = {(r["hour"], r["event_type"]): (r["n"], round(r["sum_value"], 6)) for r in got.collect()}
    e = {(r["hour"], r["event_type"]): (r["n"], round(r["sum_value"], 6)) for r in exp.collect()}
    assert g == e


def test_stream_dedup_under_replay(spark, events_dir_dup, events_batch):
    """Every event delivered twice; dedup state must restore exactly-once
    counts == batch counts over the single copy."""
    stream = stream_dedup_counts(read_events_stream(spark, events_dir_dup))
    got = run_to_memory(stream, _name(), output_mode="complete")
    exp = events_batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )
    g = {r["event_type"]: (r["n"], round(r["sum_value"], 6)) for r in got.collect()}
    e = {r["event_type"]: (r["n"], round(r["sum_value"], 6)) for r in exp.collect()}
    assert g == e


def test_sessionize_total_events_preserved(spark, events_dir, events_batch):
    got = run_to_memory(sessionize(read_events_stream(spark, events_dir), gap="30 minutes"), _name(), output_mode="complete")
    # every event lands in exactly one session
    assert got.agg(F.sum("n_events")).collect()[0][0] == events_batch.count()
    bad = got.filter(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0
    # sessions of the same user do not overlap
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("session_start")
    overlaps = (
        got.withColumn("prev_end", F.lag("session_end").over(w))
        .filter(F.col("prev_end").isNotNull() & (F.col("session_start") < F.col("prev_end")))
        .count()
    )
    assert overlaps == 0


def test_running_totals_stateful_equals_batch(spark, events_dir, events_batch):
    stream = running_totals_stateful(read_events_stream(spark, events_dir, max_files_per_trigger=1))
    got = run_to_memory(stream, _name(), output_mode="update")
    # update-mode memory sink appends one row per key per batch: the final
    # (largest-n) row per key is the ending state
    final = (
        got.groupBy("event_type")
        .agg(F.max(F.struct("n", "sum_value")).alias("s"))
        .select("event_type", F.col("s.n").alias("n"), F.col("s.sum_value").alias("sum_value"))
    )
    exp = events_batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )
    g = {r["event_type"]: (r["n"], round(r["sum_value"], 6)) for r in final.collect()}
    e = {r["event_type"]: (r["n"], round(r["sum_value"], 6)) for r in exp.collect()}
    assert g == e


def test_score_vector_stream(spark, tmp_path, emb):
    d = tmp_path / "vec_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/embeddings.parquet", d / "part-000.parquet")
    q = [((i * 7) % 16) / 16.0 for i in range(64)]
    vs = spark.readStream.schema("vec_id bigint, embedding array<float>, label int").parquet(str(d))
    got = run_to_memory(
        score_vector_stream(vs, "embedding", q, "l2sq"), _name(), output_mode="append"
    )
    assert got.count() == emb.count()
    # spot-check one score against the batch expression
    from duckdb_vss_spark import array_distance

    exp = {r["vec_id"]: r["s"] for r in emb.select("vec_id", array_distance("embedding", q).alias("s")).collect()}
    g = {r["vec_id"]: r["score"] for r in got.collect()}
    assert g == pytest.approx(exp)


def test_stream_interval_join_equals_batch_range_join(spark, events_dir, events_batch):
    """Stream-stream time-range join (availableNow) == the batch banded
    range join: same pairs, both watermark-stateful sides drained."""
    from duckdb_vss_spark.operators.temporal import range_join_banded
    from duckdb_vss_spark.streaming import stream_interval_join

    errors_s = read_events_stream(spark, events_dir).filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks_s = read_events_stream(spark, events_dir).filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    got = run_to_memory(
        stream_interval_join(errors_s, clicks_s, "user_id", width="4 hours").select(
            "l_event_id", "r_event_id"
        ),
        _name(),
        output_mode="append",
    )
    errors_b = events_batch.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks_b = events_batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    want = range_join_banded(
        errors_b, clicks_b, "user_id", left_ts="ts", right_ts="cts", width_sec=4 * 3600.0
    ).select("l_event_id", "r_click_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_knn_join_equals_batch(spark, emb, tmp_path):
    """Streaming ANN (availableNow, full probe) must equal the exact batch
    k-NN join over the same probes."""
    import shutil

    from duckdb_vss_spark import VSSEngine, knn_join_flat
    from duckdb_vss_spark.streaming import stream_knn_join
    from pyspark.sql import functions as F

    eng = VSSEngine(spark, index_root=str(tmp_path / "idx"))
    eng.register_table("emb_sk", emb)
    idx = eng.create_index("sk_idx", "emb_sk", "embedding", "vec_id")
    staged = tmp_path / "in"
    staged.mkdir()
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet", staged / "part-000.parquet")
    probes = (
        spark.readStream.schema("vec_id bigint, embedding array<float>, label int")
        .parquet(str(staged))
        .filter(F.col("vec_id") < 5)
    )
    got = stream_knn_join(
        probes, idx, "embedding", "vec_id", 3, str(tmp_path / "out"), ef_search=10**6
    ).collect()
    want = knn_join_flat(
        emb.filter(F.col("vec_id") < 5), emb, "embedding", "embedding", 3, "l2sq",
        left_id="vec_id", right_id="vec_id",
    ).collect()
    key = lambda rows: sorted((r["qid"], r["rnk"], r["rid"]) for r in rows)
    assert key(got) == key(want)


def test_stream_index_insert_equals_batch_insert(spark, tmp_path):
    """M1 as a stream: vectors arriving on a file stream append to the
    index tail per micro-batch; after one availableNow pass a full-probe
    search equals brute force over the WHOLE table (same contract as the
    batch insert entry), and compact folds the streamed tail in."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from duckdb_vss_spark import VSSEngine, topk
    from duckdb_vss_spark.streaming import stream_index_insert

    SF = "/root/testdata/sf0.001"
    Q = [((i * 7) % 16) / 16.0 for i in range(64)]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng = VSSEngine(spark, index_root=str(tmp_path / "idx"))
    eng.register_table("emb_si", emb.filter(F.col("vec_id") >= 100))
    eng.create_index("si_idx", "emb_si", "embedding", "vec_id", replace=True)
    eng.register_table("emb_si", emb)

    staged = str(tmp_path / "arrivals")
    os.makedirs(staged)
    emb.filter(F.col("vec_id") < 100).write.mode("overwrite").parquet(staged)
    arrivals = (
        spark.readStream.schema("vec_id bigint, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 2)  # several micro-batches
        .parquet(staged)
        .select("vec_id", "embedding")
    )
    stream_index_insert(
        arrivals, eng.catalog.get("si_idx"), "embedding", "vec_id",
        checkpoint=str(tmp_path / "ckpt"),
    )
    eng.set_ef_search(10**6)
    want = [
        r["vec_id"]
        for r in topk(emb, "embedding", Q, 10, "l2sq", tiebreak="vec_id").select("vec_id").collect()
    ]
    got = [r["vec_id"] for r in eng.topk("emb_si", "embedding", Q, 10, tiebreak="vec_id").collect()]
    assert got == want
    # the streamed rows live in the tail until compact folds them in
    idx = eng.catalog.get("si_idx")
    assert idx.counts(spark)["tail"] == 100
    eng.compact_index("si_idx")
    idx = eng.catalog.get("si_idx")
    assert idx.counts(spark)["tail"] == 0
    got2 = [r["vec_id"] for r in eng.topk("emb_si", "embedding", Q, 10, tiebreak="vec_id").collect()]
    assert got2 == want


def test_quality_projections_run_on_streams(spark, tmp_path):
    """classifier_score, pii_stats, clean_lines and hash_split are pure
    projections (no shuffle), so they must compose with readStream
    unchanged and equal their batch twins under availableNow."""
    import shutil as _sh

    from duckdb_vss_spark import classifier_score, hash_split, pii_stats
    from duckdb_vss_spark.operators.quality import clean_lines
    from duckdb_vss_spark.streaming import run_to_memory

    d = tmp_path / "docs_stream"
    d.mkdir()
    _sh.copy(f"{SF_DIR}/documents.parquet", d / "part-000.parquet")
    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    schema = batch.schema.simpleString()[7:-1].replace(":", " ")

    def pipe(df):
        out = classifier_score(df, "text")
        out = pii_stats(out, "text")
        out = clean_lines(out, "text", require_terminal_punct=False, out_col="clean")
        out = hash_split(out, "doc_id")
        return out.select("doc_id", "clf_score", "has_pii", "n_kept_lines", "split")

    stream = pipe(spark.readStream.schema(schema).parquet(str(d)))
    got = sorted(map(tuple, run_to_memory(stream, _name(), output_mode="append").collect()))
    want = sorted(map(tuple, pipe(batch).collect()))
    assert got == want


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
def test_stream_crawl_ingest_incremental(spark, tmp_path):
    """Streaming crawl ingest: micro-batches curate against the accumulated
    MinHashStore — a doc that duplicates an EARLIER micro-batch is flagged
    dup_of_store, each batch commits one snapshot, and the sink holds every
    row flagged (flag-don't-drop)."""
    import os

    from duckdb_vss_spark.index.dedup_store import MinHashStore
    from duckdb_vss_spark.streaming import stream_crawl_ingest

    body1 = "the quick brown fox jumps over the lazy dog near the river bank"
    body2 = "spark shuffles data between executors when wide dependencies appear"
    staged = str(tmp_path / "arrivals")
    os.makedirs(staged)
    # file 1 = batch A (fresh), file 2 = batch B (dup of A + fresh)
    spark.createDataFrame(
        [(1, "https://a.com/x", body1)], "doc_id long, url string, text string"
    ).coalesce(1).write.mode("overwrite").parquet(staged + "/f1")
    spark.createDataFrame(
        [(2, "https://b.com/y", body1), (3, "https://b.com/z", body2)],
        "doc_id long, url string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(staged + "/f2")

    st = MinHashStore.create(spark, str(tmp_path / "store"))
    stream = (
        spark.readStream.schema("doc_id long, url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged + "/f*")
    )
    out_path = str(tmp_path / "out")
    stream_crawl_ingest(
        stream, st, out_path, str(tmp_path / "ckpt"),
        store_threshold=0.8, domain_cap=10,
    )
    out = spark.read.parquet(out_path)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    # doc 2 repeats doc 1's body from the earlier micro-batch
    assert rows[2]["dup_of_store"] and not rows[2]["ingest_keep"]
    assert not rows[3]["dup_of_store"] and rows[3]["ingest_keep"]
    info = st.info()
    assert len(info["snapshots"]) == 2
    assert info["n_docs"] == 2  # doc 1 and doc 3 only


def test_crawl_ingest_batch_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch (foreachBatch gets no exactly-once help from
    the checkpoint) must not duplicate the batch's rows in the sink: each
    batch overwrites its own batch=NNNNNN subdirectory (ADVICE r5)."""
    from duckdb_vss_spark.index.dedup_store import MinHashStore
    from duckdb_vss_spark.streaming.ops import _crawl_ingest_batch

    st = MinHashStore.create(spark, str(tmp_path / "store"))
    bdf = spark.createDataFrame(
        [(1, "https://a.com/x", "some body text for the replayed batch here")],
        "doc_id long, url string, text string",
    )
    out_path = str(tmp_path / "out")
    kw = dict(url_col="url", text_col="text", id_col="doc_id", snapshot_prefix="b")
    _crawl_ingest_batch(bdf, 0, st, out_path, **kw)
    first = spark.read.parquet(out_path).collect()
    assert len(first) == 1 and first[0]["ingest_keep"]
    _crawl_ingest_batch(bdf, 0, st, out_path, **kw)  # replay after full commit
    after = spark.read.parquet(out_path).collect()
    # no duplicate rows AND no flag poisoning: a replayed batch must not
    # re-match its docs against their own committed snapshot (which would
    # flip ingest_keep to False and overwrite the correct sink output)
    assert len(after) == 1 and after[0]["ingest_keep"]
    assert len(st.info()["snapshots"]) == 1


def test_crawl_ingest_batch_commits_the_rows_it_wrote(spark, tmp_path, monkeypatch):
    """The crawl sink commits the kept rows it wrote, read back from the
    batch's sink directory, not a re-evaluation of the recipe: the
    committed frame reads only the sink's files, and the snapshot's doc
    count is the sink's kept count."""
    from duckdb_vss_spark.index.dedup_store import MinHashStore
    from duckdb_vss_spark.streaming.ops import _crawl_ingest_batch

    st = MinHashStore.create(spark, str(tmp_path / "store"))
    committed = []
    append = st.append_snapshot

    def spy(df, *args, **kwargs):
        committed.append(df)
        return append(df, *args, **kwargs)

    monkeypatch.setattr(st, "append_snapshot", spy)
    bdf = spark.createDataFrame(
        [
            (1, "https://a.com/x", "the first body of text about rivers and banks"),
            (2, "https://a.com/x", "a recrawl of the same url with another body"),
            (3, "https://b.com/y", "spark shuffles rows between executors at wide stages"),
            (4, "https://c.com/z", "parquet files hold columns in row groups with stats"),
        ],
        "doc_id long, url string, text string",
    )
    out_path = str(tmp_path / "out")
    _crawl_ingest_batch(
        bdf, 0, st, out_path,
        url_col="url", text_col="text", id_col="doc_id", snapshot_prefix="b",
    )
    assert len(committed) == 1
    sink = os.path.join(out_path, "batch=000000")
    files = committed[0].inputFiles()
    assert files and all(sink + os.sep in f for f in files), files
    kept = spark.read.parquet(sink).filter("ingest_keep").count()
    assert kept == 3  # the url recrawl is flagged, not committed
    assert st.info()["snapshots"][0]["n_docs"] == kept


def test_stream_warc_ingest_segments_as_microbatches(spark, tmp_path):
    """WARC segments landing in a directory are the stream: two segments
    processed as separate micro-batches; the second's recrawl of a page
    kept by the first is flagged dup_of_store (incremental curation), and
    each segment commits one snapshot."""
    from duckdb_vss_spark.index.dedup_store import MinHashStore
    from duckdb_vss_spark.streaming import stream_warc_ingest
    from tests.test_sources import _http, _mk_warc

    body1 = "<html><title>A</title><body><p>the quick brown fox jumps over the lazy dog near the river bank</p></body></html>"
    body2 = "<html><body><p>fresh words about spark executors shuffles and exchanges today</p></body></html>"
    land = tmp_path / "landing"; land.mkdir()
    (land / "seg-0.warc").write_bytes(_mk_warc(
        [("response", "https://a.example.com/1", _http(body1.encode()))]
    ))
    st = MinHashStore.create(spark, str(tmp_path / "store"))
    out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream_warc_ingest(spark, str(land), st, out_path, ckpt, store_threshold=0.8)
    assert spark.read.parquet(out_path).count() == 1
    assert len(st.info()["snapshots"]) == 1

    # second segment arrives later: one recrawl of seg-0's page + one new
    (land / "seg-1.warc").write_bytes(_mk_warc([
        ("response", "https://b.example.com/recrawl", _http(body1.encode())),
        ("response", "https://b.example.com/new", _http(body2.encode())),
    ]))
    stream_warc_ingest(spark, str(land), st, out_path, ckpt, store_threshold=0.8)
    rows = {r["url"]: r for r in spark.read.parquet(out_path).collect()}
    assert len(rows) == 3
    assert rows["https://b.example.com/recrawl"]["dup_of_store"]
    assert rows["https://b.example.com/new"]["ingest_keep"]
    assert len(st.info()["snapshots"]) == 2


def test_stream_index_insert_auto_compacts_midstream(spark, tmp_path):
    """r7 verdict task 5: with compact_tail_rows set, the incremental fold
    fires INSIDE foreachBatch when the tail crosses the threshold
    mid-stream — a delta directory appears, the folded tail is gone, and
    post-stream search returns exact k across base+delta+residual-tail."""
    import os

    from pyspark.sql import functions as F

    from duckdb_vss_spark import VSSEngine, topk
    from duckdb_vss_spark.streaming import stream_index_insert

    SF = "/root/testdata/sf0.001"
    Q = [((i * 7) % 16) / 16.0 for i in range(64)]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng = VSSEngine(spark, index_root=str(tmp_path / "idx"))
    eng.register_table("emb_ac", emb.filter(F.col("vec_id") >= 100))
    eng.create_index("ac_idx", "emb_ac", "embedding", "vec_id", replace=True)
    eng.register_table("emb_ac", emb)

    staged = str(tmp_path / "arrivals")
    os.makedirs(staged)
    # 100 arriving rows in ~7 files -> several micro-batches of ~30 rows
    arriving = emb.filter(F.col("vec_id") < 100).repartition(7)
    arriving.write.mode("overwrite").parquet(staged)
    arrivals = (
        spark.readStream.schema("vec_id bigint, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 2)
        .parquet(staged)
        .select("vec_id", "embedding")
    )
    idx = eng.catalog.get("ac_idx")
    stream_index_insert(
        arrivals, idx, "embedding", "vec_id",
        checkpoint=str(tmp_path / "ckpt"),
        compact_tail_rows=25,  # crossed by the 2nd micro-batch at latest
    )
    # at least one delta committed mid-stream...
    assert len(idx.manifest.get("deltas", [])) >= 1
    delta_dir = os.path.join(idx.vpath, idx.manifest["deltas"][0])
    assert os.path.isdir(delta_dir)
    # ...and the residual tail is below the threshold (folded, not grown)
    counts = idx.counts(spark)
    assert counts["tail"] <= 25
    # all 100 streamed rows are searchable: full-probe equals brute force
    eng.set_ef_search(10**6)
    want = [
        r["vec_id"]
        for r in topk(emb, "embedding", Q, 10, "l2sq", tiebreak="vec_id").select("vec_id").collect()
    ]
    got = [r["vec_id"] for r in eng.topk("emb_ac", "embedding", Q, 10, tiebreak="vec_id").collect()]
    assert got == want


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
def test_stream_curate_incremental(spark, tmp_path):
    """Streaming curate_corpus: each micro-batch runs the full recipe
    against the accumulated fingerprint history — a doc near-dupping an
    EARLIER batch flags dup_of_store, a doc quoting the benchmark flags
    contaminated, every row lands flagged (flag-don't-drop), kept rows
    pack, and each batch commits one snapshot."""
    import os

    from duckdb_vss_spark.index.dedup_store import MinHashStore
    from duckdb_vss_spark.streaming import stream_curate

    body1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    body2 = "spark shuffles data between executors when wide dependencies appear in plans"
    leak = "benchmark question alpha beta gamma delta epsilon zeta eta theta"
    staged = str(tmp_path / "arrivals")
    os.makedirs(staged)
    spark.createDataFrame(
        [(1, "en", body1)], "doc_id long, lang string, text string"
    ).coalesce(1).write.mode("overwrite").parquet(staged + "/f1")
    spark.createDataFrame(
        [(2, "en", body1), (3, "en", body2), (4, "en", leak + " padded out")],
        "doc_id long, lang string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(staged + "/f2")
    bench = spark.createDataFrame([(99, leak)], "doc_id long, text string")

    def _persisted_ids():
        m = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it, ids = m.iterator(), set()
        while it.hasNext():
            ids.add(it.next()._1())
        return ids

    before = _persisted_ids()
    st = MinHashStore.create(spark, str(tmp_path / "store"))
    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged + "/f*")
    )
    out_path = str(tmp_path / "out")
    stream_curate(
        stream, st, out_path, str(tmp_path / "ckpt"),
        bench=bench, quality_threshold=0.0, store_threshold=0.5,
        strata_col="lang", pack_budget=512,
    )
    out = spark.read.parquet(out_path)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}  # flag-don't-drop: all rows present
    # doc 2 repeats doc 1's body from the earlier micro-batch
    assert rows[2]["dup_of_store"] and not rows[2]["curate_keep"]
    # doc 4 quotes the benchmark
    assert rows[4]["contaminated"] and not rows[4]["curate_keep"]
    assert rows[1]["curate_keep"] and rows[3]["curate_keep"]
    # kept rows packed, dropped rows not
    assert rows[1]["pack_id"] is not None and rows[3]["pack_id"] is not None
    assert rows[2]["pack_id"] is None and rows[4]["pack_id"] is None
    info = st.info()
    assert len(info["snapshots"]) == 2
    assert info["n_docs"] == 2  # docs 1 and 3 only
    # no cached frames LEAKED by the drained stream (other tests sharing
    # this session may hold their own caches — compare against the
    # pre-stream snapshot, not zero)
    leaked = _persisted_ids() - before
    assert not leaked, leaked


def test_stream_curate_rejects_owned_kwargs(spark, tmp_path):
    """stream_curate owns snapshot naming and the store: forwarding a
    caller-fixed snapshot= into every micro-batch would commit a second,
    fixed-name snapshot the '{prefix}-{bid}' replay guard cannot see,
    breaking effectively-once on restart (round-9 ADVICE) — reject it
    up front."""
    import pytest

    from duckdb_vss_spark import MinHashStore
    from duckdb_vss_spark.streaming.ops import stream_curate

    store = MinHashStore.create(spark, str(tmp_path / "store"), 3, 16, 4)
    docs = spark.readStream.format("rate").load().selectExpr(
        "value AS doc_id", "CAST(value AS STRING) AS text"
    )
    with pytest.raises(ValueError, match="snapshot"):
        stream_curate(
            docs, store, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            snapshot="fixed-name",
        )


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
def test_stream_audio_curate_incremental(spark, tmp_path):
    """Streaming audio_curate: micro-batch 2's copy of a batch-1 clip
    flags dup_of_store via the committed fingerprint history; silence
    fails the quality gate; every clip lands flagged; one snapshot per
    batch with only kept clips' fingerprints."""
    import os

    import numpy as np
    import pandas as pd

    from duckdb_vss_spark.index.audio_store import AudioFingerprintStore
    from duckdb_vss_spark.operators import multimodal as M
    from duckdb_vss_spark.streaming import stream_audio_curate

    def clip(i, n=4096):
        rng = np.random.default_rng(500 + i)
        t = np.arange(n)
        x = 0.4 * np.sin(2 * np.pi * (0.012 + 0.002 * i) * t) + 0.05 * rng.standard_normal(n)
        return np.clip(np.round(x * 32768), -32768, 32767).astype(np.int16)

    staged = str(tmp_path / "aclips")
    os.makedirs(staged)
    spark.createDataFrame(pd.DataFrame({
        "clip_id": [1, 2],
        "content": [M.encode_wav(clip(1), 8000), M.encode_wav(clip(2), 8000)],
    })).coalesce(1).write.mode("overwrite").parquet(staged + "/f1")
    spark.createDataFrame(pd.DataFrame({
        "clip_id": [10, 11, 12],
        "content": [
            M.encode_wav(clip(1), 8000),                      # dup of batch-1 clip
            M.encode_wav(clip(7), 8000),                      # fresh
            M.encode_wav(np.zeros(4096, np.int16), 8000),     # silence
        ],
    })).coalesce(1).write.mode("overwrite").parquet(staged + "/f2")

    st = AudioFingerprintStore.create(spark, str(tmp_path / "astore"))
    stream = (
        spark.readStream.schema("clip_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged + "/f*")
    )
    out_path = str(tmp_path / "aout")
    stream_audio_curate(
        stream, st, out_path, str(tmp_path / "ackpt"), min_matches=5,
    )
    rows = {r["clip_id"]: r for r in spark.read.parquet(out_path).collect()}
    assert set(rows) == {1, 2, 10, 11, 12}  # flag-don't-drop
    assert rows[10]["dup_of_store"] and not rows[10]["audio_keep"]
    assert not rows[11]["dup_of_store"] and rows[11]["audio_keep"]
    assert not rows[12]["quality_keep"] and not rows[12]["audio_keep"]
    info = st.info()
    assert len(info["snapshots"]) == 2
    assert [s["n_clips"] for s in info["snapshots"]] == [2, 1]
    # replay no-op: re-running the drained stream must not double-commit
    stream_audio_curate(
        (spark.readStream.schema("clip_id long, content binary")
         .option("maxFilesPerTrigger", 1).parquet(staged + "/f*")),
        st, out_path, str(tmp_path / "ackpt"), min_matches=5,
    )
    assert len(st.info()["snapshots"]) == 2


def test_stream_audio_curate_rejects_owned_kwargs(spark, tmp_path):
    from duckdb_vss_spark.index.audio_store import AudioFingerprintStore
    from duckdb_vss_spark.streaming import stream_audio_curate

    st = AudioFingerprintStore.create(spark, str(tmp_path / "astore_k"))
    import os

    src = str(tmp_path / "empty_src")
    os.makedirs(src)
    stream = spark.readStream.schema("clip_id long, content binary").parquet(src)
    with pytest.raises(ValueError, match="owns snapshot naming"):
        stream_audio_curate(
            stream, st, str(tmp_path / "o"), str(tmp_path / "c"), snapshot="x",
        )


def test_stream_image_curate_incremental(spark, tmp_path):
    """Streaming image_curate: micro-batch 2's re-encode of a batch-1
    image flags dup_of_store via the committed pHash history; a corrupt
    blob fails the decode gate; every image lands flagged; one snapshot
    per batch with only kept images' hashes; replay is a no-op."""
    import os

    import numpy as np
    import pandas as pd

    from duckdb_vss_spark.index.image_store import ImageHashStore
    from duckdb_vss_spark.operators import multimodal as M
    from duckdb_vss_spark.operators.jpeg import encode_jpeg
    from duckdb_vss_spark.streaming import stream_image_curate

    def photo(seed):
        rng = np.random.default_rng(900 + seed)
        low = rng.uniform(30, 225, size=(8, 8, 3))
        return np.clip(
            np.round(M._resize_kernel(low, 64, 64, "bilinear")), 0, 255
        ).astype(np.uint8)

    staged = str(tmp_path / "imgs")
    os.makedirs(staged)
    spark.createDataFrame(pd.DataFrame({
        "image_id": [1, 2],
        "content": [M.encode_bmp(photo(1)), M.encode_bmp(photo(2))],
    })).coalesce(1).write.mode("overwrite").parquet(staged + "/f1")
    spark.createDataFrame(pd.DataFrame({
        "image_id": [10, 11, 12],
        "content": [
            encode_jpeg(photo(1), quality=75),   # re-encode of batch-1 image
            M.encode_bmp(photo(7)),              # fresh
            b"corrupt bytes",                    # decode failure
        ],
    })).coalesce(1).write.mode("overwrite").parquet(staged + "/f2")

    st = ImageHashStore.create(spark, str(tmp_path / "istore_s"))
    stream = (
        spark.readStream.schema("image_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged + "/f*")
    )
    out_path = str(tmp_path / "iout")
    stream_image_curate(stream, st, out_path, str(tmp_path / "ickpt"))
    rows = {r["image_id"]: r for r in spark.read.parquet(out_path).collect()}
    assert set(rows) == {1, 2, 10, 11, 12}       # flag-don't-drop
    assert rows[10]["dup_of_store"] and not rows[10]["image_keep"]
    assert not rows[11]["dup_of_store"] and rows[11]["image_keep"]
    assert not rows[12]["ok"] and not rows[12]["image_keep"]
    info = st.info()
    assert len(info["snapshots"]) == 2
    assert [s["n_images"] for s in info["snapshots"]] == [2, 1]
    # replay no-op: re-running the drained stream must not double-commit
    stream_image_curate(
        (spark.readStream.schema("image_id long, content binary")
         .option("maxFilesPerTrigger", 1).parquet(staged + "/f*")),
        st, out_path, str(tmp_path / "ickpt"),
    )
    assert len(st.info()["snapshots"]) == 2


def test_stream_image_curate_rejects_owned_kwargs(spark, tmp_path):
    import os

    from duckdb_vss_spark.index.image_store import ImageHashStore
    from duckdb_vss_spark.streaming import stream_image_curate

    st = ImageHashStore.create(spark, str(tmp_path / "istore_k"))
    src = str(tmp_path / "empty_isrc")
    os.makedirs(src)
    stream = spark.readStream.schema("image_id long, content binary").parquet(src)
    with pytest.raises(ValueError, match="owns snapshot naming"):
        stream_image_curate(
            stream, st, str(tmp_path / "o"), str(tmp_path / "c"), snapshot="x",
        )


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
def test_stream_image_text_curate_incremental(spark, tmp_path):
    """Streaming image-text loop (round 12): micro-batch 2's re-fetch of
    a batch-1 image under a BRAND-NEW URL flags dup_of_store via the
    committed pHash history; the fetch queue only ever carries pre-fetch
    pair_keep URLs (the 1-token-caption icon is never requested); a
    queued URL the fetcher misses flags fetched_ok=false; one snapshot
    per batch with only kept images' hashes; replay is a no-op that
    re-fetches nothing."""
    import os

    import numpy as np
    import pandas as pd

    from duckdb_vss_spark.index.image_store import ImageHashStore
    from duckdb_vss_spark.operators import multimodal as M
    from duckdb_vss_spark.operators.jpeg import encode_jpeg
    from duckdb_vss_spark.streaming import stream_image_text_curate

    def photo(seed):
        rng = np.random.default_rng(700 + seed)
        low = rng.uniform(30, 225, size=(8, 8, 3))
        return np.clip(
            np.round(M._resize_kernel(low, 48, 40, "bilinear")), 0, 255
        ).astype(np.uint8)

    blobs = {
        "http://cdn.io/a.bmp": bytes(M.encode_bmp(photo(1))),
        # batch 2: same pixels as a.bmp re-encoded under a fresh URL
        "http://cdn.io/y.jpg": bytes(encode_jpeg(photo(1), quality=85)),
        "http://cdn.io/z.bmp": bytes(M.encode_bmp(photo(9))),
        # http://cdn.io/miss.bmp is queued but the fetcher never delivers
    }
    requested: list[str] = []

    def fetch(queue):
        urls = sorted(r["url"] for r in queue.collect())
        requested.extend(urls)
        hits = [(u, bytearray(blobs[u])) for u in urls if u in blobs]
        return queue.sparkSession.createDataFrame(
            hits or [("http://none/", None)], "url string, content binary"
        )

    staged = str(tmp_path / "itpages")
    os.makedirs(staged)
    spark.createDataFrame(
        [(1, "<body><img src='http://cdn.io/a.bmp' alt='a red fox jumping'>"
             "<img src='http://cdn.io/icon.png' alt='x'></body>")],
        "doc_id long, html string",
    ).coalesce(1).write.mode("overwrite").parquet(staged + "/f1")
    spark.createDataFrame(
        [(2, "<body><img src='http://cdn.io/y.jpg' alt='same fox new url'>"
             "<img src='http://cdn.io/z.bmp' alt='genuinely new image'>"
             "<img src='http://cdn.io/miss.bmp' alt='download always fails'>"
             "</body>")],
        "doc_id long, html string",
    ).coalesce(1).write.mode("overwrite").parquet(staged + "/f2")

    st = ImageHashStore.create(spark, str(tmp_path / "itstore_s"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, html string")
            .option("maxFilesPerTrigger", 1)
            .parquet(staged + "/f*")
        )

    out_path = str(tmp_path / "itout")
    stream_image_text_curate(
        stream(), st, out_path, str(tmp_path / "itckpt"), fetch_fn=fetch,
        min_width=16, min_height=16,
    )
    rows = {r["img_url_norm"]: r for r in spark.read.parquet(out_path).collect()}
    assert set(rows) == {"http://cdn.io/a.bmp", "http://cdn.io/icon.png",
                         "http://cdn.io/y.jpg", "http://cdn.io/z.bmp",
                         "http://cdn.io/miss.bmp"}      # flag-don't-drop
    a = rows["http://cdn.io/a.bmp"]
    assert a["pair_keep"] and not a["dup_of_store"]
    icon = rows["http://cdn.io/icon.png"]
    assert not icon["caption_ok"] and not icon["fetched_ok"]
    y = rows["http://cdn.io/y.jpg"]
    assert y["fetched_ok"] and y["dup_of_store"] and not y["pair_keep"]
    z = rows["http://cdn.io/z.bmp"]
    assert z["pair_keep"] and not z["dup_of_store"]
    m = rows["http://cdn.io/miss.bmp"]
    assert not m["fetched_ok"] and m["img_decode_ok"] is None and not m["pair_keep"]
    # the queue carried ONLY pre-fetch pair_keep URLs, each exactly once
    assert requested == ["http://cdn.io/a.bmp", "http://cdn.io/miss.bmp",
                         "http://cdn.io/y.jpg", "http://cdn.io/z.bmp"]
    info = st.info()
    assert len(info["snapshots"]) == 2
    assert [s["n_images"] for s in info["snapshots"]] == [1, 1]  # kept only
    # replay no-op: no new snapshots AND not a single new fetch
    stream_image_text_curate(
        stream(), st, out_path, str(tmp_path / "itckpt"), fetch_fn=fetch,
        min_width=16, min_height=16,
    )
    assert len(st.info()["snapshots"]) == 2
    assert len(requested) == 4


def test_stream_image_text_curate_guards(spark, tmp_path):
    import os

    from duckdb_vss_spark.index.image_store import ImageHashStore
    from duckdb_vss_spark.streaming import stream_image_text_curate

    st = ImageHashStore.create(spark, str(tmp_path / "itstore_g"))
    src = str(tmp_path / "empty_itsrc")
    os.makedirs(src)
    stream = spark.readStream.schema("doc_id long, html string").parquet(src)
    with pytest.raises(ValueError, match="requires fetch_fn"):
        stream_image_text_curate(stream, st, str(tmp_path / "o"), str(tmp_path / "c"))
    with pytest.raises(ValueError, match="owns snapshot naming"):
        stream_image_text_curate(
            stream, st, str(tmp_path / "o"), str(tmp_path / "c"),
            fetch_fn=lambda q: q, snapshot="x",
        )


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
def test_stream_video_curate_incremental(spark, tmp_path):
    """Streaming video_curate: micro-batch 2's re-encode of a batch-1
    clip flags dup_of_store via the committed frame-hash history; a
    corrupt blob fails the decode gate; one snapshot per batch with only
    kept clips' hashes; replay is a no-op."""
    import os

    import numpy as np
    import pandas as pd

    from duckdb_vss_spark.index.video_store import VideoFingerprintStore
    from duckdb_vss_spark.operators import multimodal as M
    from duckdb_vss_spark.operators.video import encode_avi_mjpeg
    from duckdb_vss_spark.streaming import stream_video_curate

    def clip(seed, q=85):
        frames = []
        for k in range(8):
            rng = np.random.default_rng(7000 + seed * 100 + k)
            low = rng.uniform(30, 225, size=(8, 8, 3))
            frames.append(np.clip(
                np.round(M._resize_kernel(low, 48, 48, "bilinear")), 0, 255
            ).astype(np.uint8))
        return encode_avi_mjpeg(frames, quality=q)

    staged = str(tmp_path / "vclips")
    os.makedirs(staged)
    spark.createDataFrame(pd.DataFrame({
        "clip_id": [1, 2], "content": [clip(1), clip(2)],
    })).coalesce(1).write.mode("overwrite").parquet(staged + "/f1")
    spark.createDataFrame(pd.DataFrame({
        "clip_id": [10, 11, 12],
        "content": [clip(1, q=60), clip(7), b"corrupt"],
    })).coalesce(1).write.mode("overwrite").parquet(staged + "/f2")

    st = VideoFingerprintStore.create(spark, str(tmp_path / "vstore_s"))
    stream = (
        spark.readStream.schema("clip_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged + "/f*")
    )
    out_path = str(tmp_path / "vout")
    stream_video_curate(stream, st, out_path, str(tmp_path / "vckpt"))
    rows = {r["clip_id"]: r for r in spark.read.parquet(out_path).collect()}
    assert set(rows) == {1, 2, 10, 11, 12}
    assert rows[10]["dup_of_store"] and not rows[10]["video_keep"]
    assert not rows[11]["dup_of_store"] and rows[11]["video_keep"]
    assert not rows[12]["decode_ok"] and not rows[12]["video_keep"]
    info = st.info()
    assert len(info["snapshots"]) == 2
    assert [s["n_clips"] for s in info["snapshots"]] == [2, 1]
    stream_video_curate(
        (spark.readStream.schema("clip_id long, content binary")
         .option("maxFilesPerTrigger", 1).parquet(staged + "/f*")),
        st, out_path, str(tmp_path / "vckpt"),
    )
    assert len(st.info()["snapshots"]) == 2
    with pytest.raises(ValueError, match="owns snapshot naming"):
        stream_video_curate(stream, st, out_path, str(tmp_path / "c2"), snapshot="x")


def test_stream_image_text_curate_surfaces_batch_failure(spark, tmp_path):
    """Round-12 self-review: a micro-batch that DIES (the fetcher
    raised) must surface as an error, not return as a successful drain —
    the drain helper re-raises the query's own failure for every
    streaming twin."""
    import os

    from duckdb_vss_spark.index.image_store import ImageHashStore
    from duckdb_vss_spark.streaming import stream_image_text_curate

    staged = str(tmp_path / "failpages")
    os.makedirs(staged)
    spark.createDataFrame(
        [(1, "<img src='http://cdn.io/a.bmp' alt='a perfectly fine page'>")],
        "doc_id long, html string",
    ).coalesce(1).write.mode("overwrite").parquet(staged + "/f1")
    st = ImageHashStore.create(spark, str(tmp_path / "failstore"))

    def broken_fetch(queue):
        raise RuntimeError("fetcher exploded mid-batch")

    with pytest.raises(Exception) as ei:
        stream_image_text_curate(
            (spark.readStream.schema("doc_id long, html string")
             .parquet(staged + "/f*")),
            st, str(tmp_path / "failout"), str(tmp_path / "failckpt"),
            fetch_fn=broken_fetch,
        )
    assert not isinstance(ei.value, TimeoutError)
    assert "fetcher exploded" in str(ei.value)
    assert st.info()["snapshots"] == []  # nothing half-committed
