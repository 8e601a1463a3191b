"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is run three times and the best time is reported: the first run
pays JVM/codegen warm-up that a long-lived cluster session never sees
per-query.

Self-diagnosis: the JSON carries ``calibration`` probes taken at start /
mid / end — the empty-job Spark scheduling floor, a fixed single-thread
numpy multiply-sum (CPU + memory-bandwidth contention probe), and the OS
load average — plus an ``interleaved`` block where the noise-sensitive
queries alternate spark/duckdb runs in the same process and record the
per-round ratio. A host-noise-inflated run is therefore machine-detectable
from the artifact alone: inflated floors / loadavg / both-engines-slow
ratios ≈ 1 mean noise; a spark-only inflation with clean probes means a
real regression.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


_BENCH_TMP_ROOT = None


def _bench_tmp(prefix: str) -> str:
    """mkdtemp under ONE per-run root removed at exit. The bench stages
    ~3 GB of fixture/index dirs per run; round 11 found 45 GB of them
    accumulated across rounds (750 orphan dirs — a full disk mid-bench),
    so every temp dir now lives under a root with an atexit rmtree."""
    global _BENCH_TMP_ROOT
    import atexit
    import shutil
    import tempfile as _tempfile

    if _BENCH_TMP_ROOT is None:
        _BENCH_TMP_ROOT = _tempfile.mkdtemp(prefix="bench_run_")
        atexit.register(shutil.rmtree, _BENCH_TMP_ROOT, True)
    return _tempfile.mkdtemp(prefix=prefix, dir=_BENCH_TMP_ROOT)


def _calibration(spark) -> dict:
    """Fixed-cost probes: if these inflate between rounds, the host (not
    the engine) changed. Each is best-of-3 of an O(fixed) operation."""
    import numpy as np

    floor = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(32).count()
        floor = min(floor, time.perf_counter() - t0)
    a = np.arange(1 << 23, dtype=np.float64)  # 64 MB, elementwise: no BLAS threading
    gemm = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        float((a * a).sum())
        gemm = min(gemm, time.perf_counter() - t0)
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:
        load1 = load5 = -1.0
    return {
        "spark_job_floor_sec": round(floor, 4),
        "numpy_probe_sec": round(gemm, 4),
        "loadavg_1m": round(load1, 2),
        "loadavg_5m": round(load5, 2),
    }


def main() -> None:
    from duckdb_vss_spark import get_spark, knn_join_flat, min_by_k, topk, array_distance
    import __spark_entry__ as entrymod

    # quiet-host pre-roll (round 10): the committed artifact must be able
    # to adjudicate its own regressions, which needs loadavg_start < ~2.
    # Builder/test processes that just exited keep the 1-minute loadavg
    # inflated for a while, so wait (bounded, default 240 s; 0 disables)
    # for the host to drain before the START probe. The wait itself is
    # recorded in the noise block.
    quiet_wait = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "240"))
    quiet_target = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "2.0"))
    waited = 0.0
    while waited < quiet_wait and os.getloadavg()[0] >= quiet_target:
        time.sleep(5.0)
        waited += 5.0

    spark = get_spark("vss-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + codegen before the START probe: without this the
    # first probe measures one-time JVM warm-up (~0.2 s vs the ~0.08 s
    # steady-state scheduling floor), which inflated floor_spread to
    # ~2.8 on a GENUINELY QUIET host (round-9 finding) and made the
    # noise verdict unreadable. The warm-up must run the SAME operation
    # the probe times (range().count()) — a different plan shape leaves
    # the probe's codegen path cold and the start floor still ~2-3x high
    # (second round-9 finding).
    for _ in range(5):
        spark.range(32).count()
    calib = {"start": _calibration(spark)}
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).cache()
    emb.count()
    lineitem = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    Q = entrymod.Q64

    def run(fn):
        best = float("inf")
        for _ in range(N_REPS):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return best

    timings = {}

    timings["topk_l2_k10"] = run(
        lambda: topk(emb, "embedding", Q, 10, "l2sq", tiebreak="vec_id").collect()
    )
    timings["topk_cosine_k10"] = run(
        lambda: topk(emb, "embedding", Q, 10, "cosine", tiebreak="vec_id").collect()
    )
    timings["minby_topk_k5"] = run(
        lambda: min_by_k(emb, "vec_id", array_distance("embedding", Q), 5, tiebreak="vec_id").collect()
    )

    probes = emb.filter(F.col("vec_id") < 100)
    timings["knn_join_100xN_k10"] = run(
        lambda: knn_join_flat(
            probes, emb, "embedding", "embedding", 10, "l2sq", left_id="vec_id", right_id="vec_id"
        ).collect()
    )
    # full self-join: the scale-representative workload (duckdb sf0.1 best-of-2: 6.4s)
    timings["knn_join_NxN_k10"] = run(
        lambda: knn_join_flat(
            emb, emb, "embedding", "embedding", 10, "l2sq", left_id="vec_id", right_id="vec_id"
        ).count()
    )

    timings["tpch_q1ish_agg"] = run(
        lambda: lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .collect()
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).cache()
    docs.count()
    from duckdb_vss_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs

    timings["exact_dedup"] = run(lambda: exact_dedup(docs, "text", "doc_id").count())
    timings["minhash_lsh_dedup"] = run(lambda: minhash_lsh_pairs(docs, "text", "doc_id", 3, 16, 4, 0.5).count())

    # incremental cross-snapshot dedup: fingerprint half the corpus into a
    # persisted MinHashStore once (build), then match the other half against
    # it (the per-batch steady-state cost). duckdb's equivalent work is a
    # full two-sided recompute — that delta is the point of the artifact.
    import tempfile as _tf

    from duckdb_vss_spark.index.dedup_store import MinHashStore

    _old = docs.filter("doc_id % 2 = 0")
    _new = docs.filter("doc_id % 2 = 1")
    t0 = time.perf_counter()
    _st = MinHashStore.create(spark, _bench_tmp("bench_mh_") + "/store", 3, 16, 4)
    _st.append_snapshot(_old, "text", "doc_id", "old")
    timings["minhash_store_build"] = time.perf_counter() - t0
    timings["minhash_store_match"] = run(
        lambda: _st.match_against(_new, "text", "doc_id", 0.5).count()
    )
    timings["ngram_jaccard_dedup"] = run(lambda: ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.5).count())

    from duckdb_vss_spark.operators.dedup import simhash_pairs, winnow_fingerprint_rows
    from duckdb_vss_spark.functions import text as T

    timings["winnow_fingerprints"] = run(lambda: winnow_fingerprint_rows(docs, "text", "doc_id", 5, 8).count())

    timings["simhash_dedup"] = run(lambda: simhash_pairs(docs, "text", "doc_id", 3, 4).count())

    from duckdb_vss_spark.operators.dedup import duplicated_spans

    timings["dup_span_detect"] = run(
        lambda: duplicated_spans(docs, "text", "doc_id", 20, 2).count()
    )
    timings["text_stats"] = run(
        lambda: docs.select(
            "doc_id",
            T.token_count("text").alias("nt"),
            T.lang_id("text").alias("lang"),
            T.quality_score("text").alias("q"),
        ).count()
    )

    from duckdb_vss_spark import decontaminate, repetition_stats

    timings["repetition_stats"] = run(
        lambda: repetition_stats(docs, "text", "doc_id").count()
    )
    from duckdb_vss_spark import classifier_score, dsir_resample, semdedup

    timings["semdedup"] = run(
        lambda: semdedup(
            emb, "embedding", "vec_id", centroids=entrymod.SEM_CENTS, eps=0.4
        ).count()
    )
    timings["dsir_select"] = run(
        lambda: dsir_resample(
            docs, "text", "doc_id", docs.filter("doc_id % 7 = 0"), k=500
        ).count()
    )
    timings["classifier_score"] = run(
        lambda: classifier_score(docs, "text").select("doc_id", "clf_score").count()
    )
    from duckdb_vss_spark import stupid_backoff_score

    def _backoff_lm():
        return (
            stupid_backoff_score(docs, "text", "doc_id", n=3)
            .agg(F.sum("n_tokens"), F.sum("avg_logscore"))
            .collect()
        )

    timings["stupid_backoff_lm"] = run(_backoff_lm)
    # real BPE: corpus-trained merge table, Arrow-batched application (no
    # duckdb twin — the merge loop is not SQL-expressible; one-sided number)
    from duckdb_vss_spark.functions.bpe import train_bpe

    t0 = time.perf_counter()
    _bpe = train_bpe(docs, "text", num_merges=1000)
    timings["bpe_train"] = time.perf_counter() - t0
    timings["bpe_tokenize"] = run(
        lambda: _bpe.add_token_count(docs, "text").agg(F.sum("n_bpe")).collect()
    )

    bench_slice = docs.filter(F.col("doc_id") % 97 == 0)
    train_slice = docs.filter(F.col("doc_id") % 97 != 0)
    timings["decontaminate"] = run(
        lambda: decontaminate(train_slice, "text", "doc_id", bench_slice, "text", 3).count()
    )

    # composed pretraining recipe (pipelines.curate_corpus): quality gate ->
    # MinHashStore history dedup -> decontaminate -> temperature mixing ->
    # packing, one call — the end-to-end number a pipeline user ships
    from duckdb_vss_spark.pipelines import curate_corpus

    _cst = MinHashStore.create(spark, _bench_tmp("bench_cc_") + "/store", 3, 16, 4)
    t0 = time.perf_counter()
    _cst.append_snapshot(docs.filter("doc_id % 4 = 0"), "text", "doc_id", "history")
    timings["curate_store_build"] = time.perf_counter() - t0
    timings["curate_corpus"] = run(
        lambda: curate_corpus(
            docs.filter("doc_id % 4 <> 0"),
            store=_cst,
            bench=bench_slice,
            quality_threshold=0.5,
            strata_col="lang",
            pack_budget=512,
        ).count()
    )

    import tempfile

    from duckdb_vss_spark import VSSEngine

    eng = VSSEngine(spark, index_root=_bench_tmp("bench_idx_"))
    eng.register_table("emb_bench", emb)
    t0 = time.perf_counter()
    eng.create_index("bench_idx", "emb_bench", "embedding", "vec_id", replace=True)
    timings["ivf_index_build"] = time.perf_counter() - t0
    timings["ivf_indexed_topk_k10"] = run(
        lambda: eng.topk("emb_bench", "embedding", Q, 10, tiebreak="vec_id").collect()
    )
    timings["ivf_indexed_knn_join_100xN_k10"] = run(
        lambda: eng.knn_join(probes, "emb_bench", "embedding", "embedding", 10, left_id="vec_id", right_id="vec_id").collect()
    )

    # IVF-PQ: 8-byte codes in the hot scan instead of 256-byte vectors
    # (own engine root so the planner can't route to the flat index above)
    peng = VSSEngine(spark, index_root=_bench_tmp("bench_pq_"))
    peng.register_table("emb_bench", emb)
    t0 = time.perf_counter()
    peng.create_index("bench_pq", "emb_bench", "embedding", "vec_id", options={"pq_m": 8}, replace=True)
    timings["ivf_pq_index_build"] = time.perf_counter() - t0
    timings["ivf_pq_topk_k10"] = run(
        lambda: peng.topk("emb_bench", "embedding", Q, 10, tiebreak="vec_id").collect()
    )
    timings["ivf_pq_knn_join_100xN_k10"] = run(
        lambda: peng.knn_join(probes, "emb_bench", "embedding", "embedding", 10, left_id="vec_id", right_id="vec_id").collect()
    )

    # SQ8 (`quantization: 'i8'`): int8 codes in the hot scan (dim bytes/row),
    # exact re-rank — the engine analog of usearch's i8 scalar kind
    seng = VSSEngine(spark, index_root=_bench_tmp("bench_sq_"))
    seng.register_table("emb_bench", emb)
    t0 = time.perf_counter()
    seng.create_index("bench_sq", "emb_bench", "embedding", "vec_id", options={"quantization": "i8"}, replace=True)
    timings["ivf_sq_index_build"] = time.perf_counter() - t0
    timings["ivf_sq_topk_k10"] = run(
        lambda: seng.topk("emb_bench", "embedding", Q, 10, tiebreak="vec_id").collect()
    )
    timings["ivf_sq_knn_join_100xN_k10"] = run(
        lambda: seng.knn_join(probes, "emb_bench", "embedding", "embedding", 10, left_id="vec_id", right_id="vec_id").collect()
    )

    # graph backend (index_type='hnsw'): per-shard neighbor graphs + beam search
    geng = VSSEngine(spark, index_root=_bench_tmp("bench_graph_"))
    geng.register_table("emb_bench", emb)
    t0 = time.perf_counter()
    geng.create_index(
        "bench_graph", "emb_bench", "embedding", "vec_id",
        options={"index_type": "hnsw"}, replace=True,
    )
    timings["hnsw_index_build"] = time.perf_counter() - t0
    timings["hnsw_topk_k10"] = run(
        lambda: geng.topk("emb_bench", "embedding", Q, 10, tiebreak="vec_id").collect()
    )
    timings["hnsw_knn_join_100xN_k10"] = run(
        lambda: geng.knn_join(probes, "emb_bench", "embedding", "embedding", 10, left_id="vec_id", right_id="vec_id").collect()
    )

    # retrieval composition + graph + layout (round-6 surfaces)
    from duckdb_vss_spark.operators.graph import pagerank
    from duckdb_vss_spark.operators.ranking import mmr_rerank, rrf_fuse
    from duckdb_vss_spark.sources import write_zordered

    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    pr_edges = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("src"), (F.col("event_id") % 4096).alias("dst")
    )
    timings["pagerank_3it"] = run(lambda: pagerank(pr_edges, iters=3).count())

    bm = entrymod._q_bm25(spark, SF_DIR)
    vec_short = topk(emb, "embedding", Q, 50, "cosine", tiebreak="vec_id").select(
        F.col("vec_id").alias("doc_id"), F.col("score").cast("float").alias("score")
    )
    timings["rrf_fuse"] = run(
        lambda: rrf_fuse({"bm25": bm, "vec": vec_short}, "doc_id", limit=30).collect()
    )
    timings["mmr_rerank_k10"] = run(
        lambda: mmr_rerank(emb, "embedding", "vec_id", Q, k=10, lam=0.7, pool=128).collect()
    )
    zdir = _bench_tmp("bench_zorder_") + "/d"
    timings["zorder_write"] = run(
        lambda: write_zordered(
            docs, [F.col("n_chars"), F.col("doc_id") % 4096], zdir, n_files=32
        )
    )

    # multimodal thumbnailing throughput (round 9): per-doc 24x18 BMP ->
    # decode -> bilinear 16x12 -> baseline-JPEG re-encode, one map-only
    # pass; no duckdb twin (codec work, not relational work) — tracked as
    # an absolute docs/s datapoint
    import numpy as _np

    from duckdb_vss_spark.operators.multimodal import encode_bmp, transcode_images

    def _synth_bmps(batches):
        import pandas as _pd

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                y, x = _np.mgrid[0:18, 0:24]
                img = _np.stack(
                    [(x * 7 + y * 13 + i) % 256, (x * 3 + y * 5 + i) % 256, (x + y * 11) % 256],
                    axis=-1,
                ).astype(_np.uint8)
                ids.append(i)
                blobs.append(encode_bmp(img))
            yield _pd.DataFrame({"doc_id": ids, "content": blobs})

    # Fixture synthesis fans to cluster width first: `docs` is one cached
    # single-file partition, so every per-doc synthesis kernel below was
    # serializing onto ONE core (measured round 12: the 10k-clip AVI
    # synthesis alone ran 20 s single-core inside the setup). For the
    # cached fixtures this is untimed setup; for this row (bmps is
    # re-synthesized per rep by design) it is a measurement fix — the
    # row times the transcode operator, not a 1-core fixture generator.
    _par = spark.sparkContext.defaultParallelism
    bmps = docs.select("doc_id").repartition(_par).mapInPandas(
        _synth_bmps, schema="doc_id long, content binary"
    )
    timings["transcode_images"] = run(
        lambda: transcode_images(bmps, "doc_id", 16, 12, quality=75)
        .filter("ok").count()
    )

    # perceptual image dedup throughput (round 9): phash every synthetic
    # BMP (decode -> 32x32 bilinear -> 2-D DCT -> 64-bit hash) and run the
    # exact banded-Hamming self-join. doc_id % 97 keys the pixel content,
    # planting duplicate groups at any sf for the join to find.
    from duckdb_vss_spark.operators.image import image_neardup_pairs, phash
    from duckdb_vss_spark.operators.multimodal import _resize_kernel as _resize_k

    def _synth_bmps_dup(batches):
        import pandas as _pd

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                g = i % 97
                rng = _np.random.default_rng(g)
                low = rng.uniform(30, 225, size=(8, 8, 3))
                img = _np.clip(
                    _np.round(_resize_k(low, 24, 18, "bilinear")), 0, 255
                ).astype(_np.uint8)
                ids.append(i)
                blobs.append(encode_bmp(img))
            yield _pd.DataFrame({"doc_id": ids, "content": blobs})

    bmps_dup = docs.select("doc_id").repartition(_par).mapInPandas(
        _synth_bmps_dup, schema="doc_id long, content binary"
    ).cache()
    bmps_dup.count()

    def _phash_dedup():
        return image_neardup_pairs(
            phash(bmps_dup, "doc_id"), "doc_id", max_hamming=4
        ).count()

    timings["image_phash_dedup"] = run(_phash_dedup)

    # composed image recipe (round 10): ONE fused decode pass (pHash +
    # thumbnail) -> dims gate -> banded-Hamming clustering -> flags; the
    # dedup and transcode stages above are its parts, so this row prices
    # the composition (the fused decode should make it cost ~one decode,
    # not two)
    from duckdb_vss_spark.pipelines import image_curate

    timings["image_curate"] = run(
        lambda: image_curate(
            bmps_dup, id_col="doc_id", min_width=16, min_height=16,
            thumb_width=16, thumb_height=12, max_hamming=4,
        ).filter("image_keep").count()
    )

    # full image-text chain (round 11): synthetic HTML pages (2 <img> per
    # doc, one URL shared across docs via doc_id % 31 so URL dedup bites)
    # -> image_text_pairs -> fetched bytes for every unique URL (the
    # dup-group BMPs above, so pHash dedup bites too) -> image_text_curate
    # pair ledger. Prices the composed LAION loop end-to-end.
    from duckdb_vss_spark.pipelines import image_text_curate, image_text_pairs

    def _synth_pages(batches):
        import pandas as _pd

        for pdf in batches:
            ids, htmls = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                htmls.append(
                    f"<body><img src='http://img.io/u{i % 31}.bmp' "
                    f"alt='shared asset caption {i}'>"
                    f"<img src='http://img.io/p{i}.bmp' "
                    f"alt='unique asset caption {i}'></body>"
                )
                ids.append(i)
            yield _pd.DataFrame({"doc_id": ids, "html": htmls})

    pages = docs.select("doc_id").repartition(_par).mapInPandas(
        _synth_pages, schema="doc_id long, html string"
    )
    fetched = bmps_dup.selectExpr(
        "concat('http://img.io/p', doc_id, '.bmp') AS url", "content"
    ).unionByName(
        bmps_dup.filter("doc_id < 31").selectExpr(
            "concat('http://img.io/u', doc_id, '.bmp') AS url", "content"
        )
    )

    def _image_text_chain():
        pairs = image_text_pairs(pages, min_width=8, min_height=8)
        return image_text_curate(
            pairs, fetched, min_width=16, min_height=16, max_hamming=4
        ).filter("pair_keep").count()

    timings["image_text_curate"] = run(_image_text_chain)

    # composed video recipe (round 10): real MJPEG-AVI clips (4 frames of
    # 24x18, doc_id % 97 keys the content so duplicate groups exist) ->
    # container decode -> frame pHash -> offset-vote clustering -> flags;
    # one decode per clip by construction
    from duckdb_vss_spark.operators.video import encode_avi_mjpeg
    from duckdb_vss_spark.pipelines import video_curate

    def _synth_avis(batches):
        import pandas as _pd

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                g = i % 97
                frames = []
                for k in range(4):
                    rng = _np.random.default_rng(g * 50 + k)
                    low = rng.uniform(30, 225, size=(8, 8, 3))
                    frames.append(_np.clip(
                        _np.round(_resize_k(low, 24, 18, "bilinear")), 0, 255
                    ).astype(_np.uint8))
                ids.append(i)
                blobs.append(encode_avi_mjpeg(frames, quality=75))
            yield _pd.DataFrame({"doc_id": ids, "content": blobs})

    avis = docs.select("doc_id").repartition(_par).mapInPandas(
        _synth_avis, schema="doc_id long, content binary"
    ).cache()
    avis.count()
    timings["video_curate"] = run(
        lambda: video_curate(
            avis, id_col="doc_id", min_width=16, min_height=16,
            min_matches=3,
        ).filter("video_keep").count()
    )

    # audio fingerprint dedup throughput (round 9): per-doc 2048-sample
    # WAV -> decode -> block fingerprint -> keyed match join with offset
    # votes; clips derived from doc_id % 1000 plant ~5x duplicate groups
    # so the join finds real pairs. Codec+DSP work plus one bucketed
    # self-join; the fingerprint math itself is oracle-gated on q21.
    from duckdb_vss_spark.operators.audio import (
        audio_neardup_pairs,
        block_fingerprint,
        fingerprint_keys,
    )
    from duckdb_vss_spark.operators.multimodal import decode_audio, encode_wav

    def _synth_wavs(batches):
        import pandas as _pd

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                g = i % 1000
                j = _np.arange(2048, dtype=_np.int64)
                pcm = (((j * (4093 + g * 2) + g * 12289) % 65536) - 32768).astype(_np.int16)
                ids.append(i)
                blobs.append(encode_wav(pcm, 8000))
            yield _pd.DataFrame({"doc_id": ids, "content": blobs})

    # cache the synthesized fixture so reps time decode->fingerprint->join,
    # not the Python-side WAV synthesis (the other rows likewise read
    # cached/parquet inputs; duckdb's twin generates PCM in SQL)
    wavs = docs.select("doc_id").repartition(_par).mapInPandas(
        _synth_wavs, schema="doc_id long, content binary"
    ).cache()
    wavs.count()

    def _audio_dedup():
        keys = fingerprint_keys(
            block_fingerprint(decode_audio(wavs, "doc_id"), "doc_id", frame=128, blocks=8),
            "doc_id",
        )
        return audio_neardup_pairs(keys, "doc_id", min_matches=8).count()

    timings["audio_fingerprint_dedup"] = run(_audio_dedup)

    # operator-equal variant (round 10): the duckdb twin computes its
    # fingerprint from closed-form PCM (SQL cannot parse RIFF), so the
    # full-row ratio is confounded by the WAV byte decode only Spark pays.
    # This row feeds Spark PRE-DECODED samples (cached, like duckdb's
    # effective input) so the interleaved ratio prices exactly the
    # fingerprint math + match join both engines run; full-row minus this
    # row isolates the decode cost.
    dec_wavs = decode_audio(wavs, "doc_id").cache()
    dec_wavs.count()

    def _audio_dedup_decoded():
        keys = fingerprint_keys(
            block_fingerprint(dec_wavs, "doc_id", frame=128, blocks=8), "doc_id"
        )
        return audio_neardup_pairs(keys, "doc_id", min_matches=8).count()

    timings["audio_fp_dedup_decoded"] = run(_audio_dedup_decoded)

    calib["mid"] = _calibration(spark)

    # -- interleaved spark<->duckdb twins, same process, alternating runs:
    # host noise hits both engines equally, so the per-round RATIO is the
    # noise-immune signal. A round where both inflate but the ratio holds
    # is host noise; a spark-only inflation is a real regression.
    import duckdb as _duck

    icon = _duck.connect()
    icon.execute(f"CREATE VIEW emb AS SELECT * FROM '{SF_DIR}/embeddings.parquet'")
    icon.execute(f"CREATE VIEW li AS SELECT * FROM '{SF_DIR}/lineitem.parquet'")
    icon.execute(f"CREATE VIEW docs AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    qsql01 = "[" + ",".join(str(x) for x in Q) + "]::DOUBLE[]"
    # duckdb twin of the audio fingerprint dedup (pair counts pinned equal
    # at sf0.01: 53 = 53). Honest asymmetry, noted: duckdb computes the
    # fingerprint from the closed-form PCM directly (no WAV byte decode —
    # SQL cannot parse RIFF), so the ratio slightly FAVORS duckdb; the
    # fingerprint math and the match join are identical work.
    _afp_e = (
        "SELECT doc_id, (j // 128) AS f, ((j % 128) // 16) AS b, sum(p*p) AS e FROM "
        "(SELECT d.doc_id, j, ((j*(4093 + (d.doc_id % 1000)*2) + (d.doc_id % 1000)*12289) "
        "% 65536) - 32768 AS p FROM docs d, range(0,2048) rj(j)) GROUP BY 1,2,3"
    )
    _afp_w = (
        "SELECT doc_id, f, sum(CASE WHEN dd > 0 THEN 1<<b ELSE 0 END) AS w FROM ("
        f"SELECT a.doc_id, a.f, a.b, (a.e - a2.e) - (p.e - p2.e) AS dd FROM ({_afp_e}) a "
        f"JOIN ({_afp_e}) a2 ON a2.doc_id=a.doc_id AND a2.f=a.f AND a2.b=a.b+1 "
        f"JOIN ({_afp_e}) p ON p.doc_id=a.doc_id AND p.f=a.f-1 AND p.b=a.b "
        f"JOIN ({_afp_e}) p2 ON p2.doc_id=a.doc_id AND p2.f=a.f-1 AND p2.b=a.b+1"
        ") GROUP BY doc_id, f"
    )
    _afp_k = (
        "SELECT doc_id, f - 1 AS t, w + (lead(w,1) OVER win)*128 + "
        "(lead(w,2) OVER win)*16384 + (lead(w,3) OVER win)*2097152 AS key "
        f"FROM ({_afp_w}) WINDOW win AS (PARTITION BY doc_id ORDER BY f) "
        "QUALIFY lead(w,3) OVER win IS NOT NULL"
    )
    # round 11: the twin runs the SAME algorithm as the Spark matcher —
    # exact-duplicate clips collapse to one representative (order-free
    # xor-fold digest) before the key join, within-group pairs emit
    # directly, cross pairs expand from representative matches. Pair
    # counts stay pinned equal (12550 at sf0.1).
    _afp_sql = (
        f"WITH keys AS MATERIALIZED ({_afp_k}), "
        # digest: md5 of the ordered (t, key) list — duckdb's multi-arg
        # hash() xor-folds cancel systematically on this structured
        # fixture (974 groups instead of 1000 measured), so the twin uses
        # an order-pinned digest instead
        "dig AS MATERIALIZED (SELECT doc_id, "
        "  md5(string_agg(t::VARCHAR || ':' || key::VARCHAR, ',' ORDER BY t, key)) AS d1, "
        "  count(*) AS nk FROM keys GROUP BY doc_id), "
        "grp AS MATERIALIZED (SELECT d1, nk, min(doc_id) AS rep, count(*) AS n "
        "  FROM dig GROUP BY 1, 2), "
        "krep AS MATERIALIZED (SELECT k.* FROM keys k "
        "  JOIN (SELECT rep AS doc_id FROM grp) r USING (doc_id)), "
        "ok AS (SELECT key FROM krep GROUP BY key HAVING count(*) <= 1000), "
        "kk AS MATERIALIZED (SELECT k.* FROM krep k JOIN ok USING (key)), "
        "votes AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.t - b.t AS off, count(*) AS n "
        "  FROM kk a JOIN kk b ON a.key = b.key AND a.doc_id < b.doc_id GROUP BY 1,2,3), "
        "reppairs AS MATERIALIZED (SELECT ia, ib, max(n) AS m FROM votes "
        "  GROUP BY 1, 2 HAVING max(n) >= 8), "
        "mem AS MATERIALIZED (SELECT d.doc_id, d.d1, d.nk, g.n "
        "  FROM dig d JOIN grp g USING (d1, nk)), "
        "within AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM mem a JOIN mem b "
        "  ON a.d1 = b.d1 AND a.nk = b.nk AND a.doc_id < b.doc_id "
        "  WHERE a.n > 1 AND a.nk >= 8), "
        "crossx AS (SELECT least(ma.doc_id, mb.doc_id) AS ia, "
        "  greatest(ma.doc_id, mb.doc_id) AS ib "
        "  FROM reppairs rp "
        "  JOIN dig da ON da.doc_id = rp.ia JOIN dig db ON db.doc_id = rp.ib "
        "  JOIN mem ma ON ma.d1 = da.d1 AND ma.nk = da.nk "
        "  JOIN mem mb ON mb.d1 = db.d1 AND mb.nk = db.nk) "
        "SELECT count(*) FROM (SELECT ia, ib FROM within "
        "UNION ALL SELECT ia, ib FROM crossx)"
    )
    from duckdb_vss_spark.oracle import sql_stupid_backoff_score as _sbs

    _sb_sql = (
        "SELECT sum(n_tokens), sum(avg_logscore) FROM ("
        + _sbs("docs", "text", "doc_id", 3)
        + ")"
    )
    inter_pairs = {
        "audio_fingerprint_dedup": (
            _audio_dedup,
            lambda: icon.execute(_afp_sql).fetchall(),
        ),
        # operator-equal pair: Spark from cached decoded samples, duckdb
        # from closed-form PCM — neither side parses WAV bytes, so this
        # ratio prices the fingerprint + join alone (VERDICT r9 #4)
        "audio_fp_dedup_decoded": (
            _audio_dedup_decoded,
            lambda: icon.execute(_afp_sql).fetchall(),
        ),
        "stupid_backoff_lm": (
            _backoff_lm,
            lambda: icon.execute(_sb_sql).fetchall(),
        ),
        "topk_l2_k10": (
            lambda: topk(emb, "embedding", Q, 10, "l2sq", tiebreak="vec_id").collect(),
            lambda: icon.execute(
                f"SELECT vec_id, list_distance(embedding::DOUBLE[], {qsql01}) AS s "
                "FROM emb ORDER BY s, vec_id LIMIT 10"
            ).fetchall(),
        ),
        "knn_join_NxN_k10": (
            lambda: knn_join_flat(
                emb, emb, "embedding", "embedding", 10, "l2sq", left_id="vec_id", right_id="vec_id"
            ).count(),
            lambda: icon.execute(
                "SELECT count(*) FROM ("
                "SELECT a.vec_id AS qid, b.vec_id AS rid, row_number() OVER ("
                "PARTITION BY a.vec_id ORDER BY "
                "list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) AS rnk "
                "FROM emb a, emb b) WHERE rnk <= 10"
            ).fetchall(),
        ),
        "tpch_q1ish_agg": (
            lambda: lineitem.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum("l_extendedprice").alias("sum_base_price"),
                F.avg("l_discount").alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
            .collect(),
            lambda: icon.execute(
                "SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), "
                "avg(l_discount), count(*) FROM li GROUP BY 1, 2"
            ).fetchall(),
        ),
    }
    interleaved = {}
    for name, (sp_fn, dk_fn) in inter_pairs.items():
        rounds = []
        for _ in range(2):
            t0 = time.perf_counter()
            sp_fn()
            s_t = time.perf_counter() - t0
            t0 = time.perf_counter()
            dk_fn()
            d_t = time.perf_counter() - t0
            rounds.append(
                {
                    "spark": round(s_t, 4),
                    "duckdb": round(d_t, 4),
                    "ratio": round(s_t / d_t, 3) if d_t > 0 else -1.0,
                }
            )
        interleaved[name] = rounds
    icon.close()

    sf = 0.1 if "0.1" in SF_DIR else (0.01 if "0.01" in SF_DIR else 0.001)
    out = {
        "metric": "headline_query_wall_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": {k: round(v, 4) for k, v in timings.items()},
        "sf": sf,
        "reps": N_REPS,
        "interleaved": interleaved,
    }

    # -- second scale point: the 4 sub-second-in-duckdb queries are pure
    # scheduling-floor measurements at sf0.1 (embeddings is only ~2k rows
    # there); replicate the data (both engines read the SAME staged
    # parquet) until per-row throughput dominates the floor. Disable with
    # SPARK_GRAFT_SCALE2_MULT=1.
    # duckdb maxsim twin fragments, shared by the scale2 and scale3 blocks
    ms_q = ["[" + ",".join(str(x) for x in q) + "]::DOUBLE[]" for q in entrymod.MAXSIM_Q]
    ms_maxes = ", ".join(
        f"max(list_inner_product(embedding::DOUBLE[], {q})) AS m{i}" for i, q in enumerate(ms_q)
    )
    ms_score = " + ".join(f"m{i}" for i in range(len(ms_q)))
    mult = int(os.environ.get("SPARK_GRAFT_SCALE2_MULT", "500"))
    li_mult = max(1, mult // 25)  # lineitem is already ~600k rows at sf0.1
    if mult > 1:
        import duckdb

        stage = _bench_tmp("bench_scale2_")
        n_emb = emb.count()
        emb_big = (
            emb.crossJoin(spark.range(mult).withColumnRenamed("id", "__rep"))
            .withColumn("vec_id", (F.col("vec_id") + F.col("__rep") * F.lit(n_emb)).cast("long"))
            .drop("__rep")
        )
        emb_big.repartition(32).write.mode("overwrite").parquet(f"{stage}/embeddings")
        li_big = lineitem.crossJoin(spark.range(li_mult).withColumnRenamed("id", "__rep")).drop("__rep")
        li_big.repartition(32).write.mode("overwrite").parquet(f"{stage}/lineitem")
        emb_b = spark.read.parquet(f"{stage}/embeddings").cache()
        emb_b.count()
        li_b = spark.read.parquet(f"{stage}/lineitem")

        s2_spark = {}
        s2_spark["topk_l2_k10"] = run(
            lambda: topk(emb_b, "embedding", Q, 10, "l2sq", tiebreak="vec_id").collect()
        )
        s2_spark["topk_cosine_k10"] = run(
            lambda: topk(emb_b, "embedding", Q, 10, "cosine", tiebreak="vec_id").collect()
        )
        s2_spark["minby_topk_k5"] = run(
            lambda: min_by_k(emb_b, "vec_id", array_distance("embedding", Q), 5, tiebreak="vec_id").collect()
        )
        s2_spark["tpch_q1ish_agg"] = run(
            lambda: li_b.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum("l_extendedprice").alias("sum_base_price"),
                F.avg("l_discount").alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
            .collect()
        )
        # maxsim late interaction at 1M token rows (200k 5-token docs):
        # the codegen-projection expr path vs the Arrow GEMM kernel path —
        # both shuffle only (doc, |Q| doubles) partial maxes
        from duckdb_vss_spark.operators.ranking import maxsim_topk

        ms_tok = emb_b.select(
            F.expr("CAST(vec_id DIV 5 AS BIGINT)").alias("doc"), "embedding"
        )
        s2_spark["maxsim_expr_k10"] = run(
            lambda: maxsim_topk(ms_tok, "embedding", "doc", entrymod.MAXSIM_Q, 10, method="expr").collect()
        )
        s2_spark["maxsim_kernel_k10"] = run(
            lambda: maxsim_topk(ms_tok, "embedding", "doc", entrymod.MAXSIM_Q, 10, method="kernel").collect()
        )

        con = duckdb.connect()  # all cores, same as the BASELINE.md runs
        con.execute(f"CREATE VIEW emb_b AS SELECT * FROM '{stage}/embeddings/*.parquet'")
        con.execute(f"CREATE VIEW li_b AS SELECT * FROM '{stage}/lineitem/*.parquet'")
        qsql = "[" + ",".join(str(x) for x in Q) + "]::DOUBLE[]"
        s2_duck = {}
        s2_duck["topk_l2_k10"] = run(
            lambda: con.execute(
                f"SELECT vec_id, list_distance(embedding::DOUBLE[], {qsql}) AS s "
                "FROM emb_b ORDER BY s, vec_id LIMIT 10"
            ).fetchall()
        )
        s2_duck["topk_cosine_k10"] = run(
            lambda: con.execute(
                f"SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], {qsql}) AS s "
                "FROM emb_b ORDER BY s DESC, vec_id LIMIT 10"
            ).fetchall()
        )
        s2_duck["minby_topk_k5"] = run(
            lambda: con.execute(
                f"SELECT (list(vec_id ORDER BY list_distance(embedding::DOUBLE[], {qsql}), vec_id))[1:5] FROM emb_b"
            ).fetchall()
        )
        s2_duck["tpch_q1ish_agg"] = run(
            lambda: con.execute(
                "SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), "
                "avg(l_discount), count(*) FROM li_b GROUP BY 1, 2"
            ).fetchall()
        )
        s2_duck["maxsim_expr_k10"] = run(
            lambda: con.execute(
                f"SELECT doc, ({ms_score}) AS s FROM ("
                f"SELECT vec_id // 5 AS doc, {ms_maxes} FROM emb_b GROUP BY vec_id // 5"
                f") ORDER BY s DESC, doc LIMIT 10"
            ).fetchall()
        )
        # index-vs-brute crossover at 1M rows, in the per-round record:
        # the ANN path is the engine's answer to the brute-scan latency gap
        s2eng = VSSEngine(spark, index_root=_bench_tmp("bench_s2idx_"))
        s2eng.register_table("emb_b", emb_b)
        t0 = time.perf_counter()
        s2eng.create_index("s2_idx", "emb_b", "embedding", "vec_id", replace=True)
        s2_spark["ivf_build"] = time.perf_counter() - t0
        s2eng.set_ef_search(8)
        s2_spark["ivf_topk_ef8"] = run(
            lambda: s2eng.topk("emb_b", "embedding", Q, 10, tiebreak="vec_id").collect()
        )
        s2eng.set_ef_search(None)
        # apples-to-apples twin: the index path reads parquet, so compare
        # against a parquet-reading brute scan too (emb_b above is cached)
        emb_b_cold = spark.read.parquet(f"{stage}/embeddings")
        s2_spark["topk_l2_parquet"] = run(
            lambda: topk(emb_b_cold, "embedding", Q, 10, "l2sq", tiebreak="vec_id").collect()
        )
        out["scale2"] = {
            "mult": mult,
            "li_mult": li_mult,
            "rows_embeddings": n_emb * mult,
            "spark": {k: round(v, 4) for k, v in s2_spark.items()},
            "duckdb": {k: round(v, 4) for k, v in s2_duck.items()},
        }

    # -- third scale point: 10M rows — where the local job floor amortizes
    # and brute-scan THROUGHPUT (the 100 TB question) is what's measured.
    # Disable with SPARK_GRAFT_SCALE3_MULT=1.
    mult3 = int(os.environ.get("SPARK_GRAFT_SCALE3_MULT", "5000"))
    if mult3 > 1:
        import duckdb

        stage3 = _bench_tmp("bench_scale3_")
        n_emb = emb.count()
        emb3 = (
            emb.crossJoin(spark.range(mult3).withColumnRenamed("id", "__rep"))
            .withColumn("vec_id", (F.col("vec_id") + F.col("__rep") * F.lit(n_emb)).cast("long"))
            .drop("__rep")
        )
        emb3.repartition(32).write.mode("overwrite").parquet(f"{stage3}/embeddings")
        emb_3 = spark.read.parquet(f"{stage3}/embeddings").cache()
        emb_3.count()
        from duckdb_vss_spark.operators.ranking import maxsim_topk as _ms3

        tok3 = emb_3.select(F.expr("CAST(vec_id DIV 5 AS BIGINT)").alias("doc"), "embedding")
        s3_spark = {
            "topk_l2_k10": run(lambda: topk(emb_3, "embedding", Q, 10, "l2sq", tiebreak="vec_id").collect()),
            "topk_cosine_k10": run(lambda: topk(emb_3, "embedding", Q, 10, "cosine", tiebreak="vec_id").collect()),
            "maxsim_expr_k10": run(
                lambda: _ms3(tok3, "embedding", "doc", entrymod.MAXSIM_Q, 10, method="expr").collect()
            ),
        }
        con3 = duckdb.connect()
        con3.execute(f"CREATE VIEW emb3 AS SELECT * FROM '{stage3}/embeddings/*.parquet'")
        qsql = "[" + ",".join(str(x) for x in Q) + "]::DOUBLE[]"
        s3_duck = {
            "topk_l2_k10": run(
                lambda: con3.execute(
                    f"SELECT vec_id, list_distance(embedding::DOUBLE[], {qsql}) AS s "
                    "FROM emb3 ORDER BY s, vec_id LIMIT 10"
                ).fetchall()
            ),
            "topk_cosine_k10": run(
                lambda: con3.execute(
                    f"SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], {qsql}) AS s "
                    "FROM emb3 ORDER BY s DESC, vec_id LIMIT 10"
                ).fetchall()
            ),
            "maxsim_expr_k10": run(
                lambda: con3.execute(
                    f"SELECT doc, ({ms_score}) AS s FROM ("
                    f"SELECT vec_id // 5 AS doc, {ms_maxes} FROM emb3 GROUP BY vec_id // 5"
                    f") ORDER BY s DESC, doc LIMIT 10"
                ).fetchall()
            ),
        }
        emb_3.unpersist()
        out["scale3"] = {
            "mult": mult3,
            "rows_embeddings": n_emb * mult3,
            "spark": {k: round(v, 4) for k, v in s3_spark.items()},
            "duckdb": {k: round(v, 4) for k, v in s3_duck.items()},
        }

    # -- recall@10 vs ef_search curve at a staged 1M-row point, for every
    # index backend (r7 verdict task 4: q13 pins one operating point; this
    # rides the whole curve in the artifact so recall drift from any index
    # change is machine-visible). The scale2/scale3 stages replicate rows
    # VERBATIM, which makes recall@10 meaningless (an index returning a
    # different equal-distance copy of the true neighbor would count as a
    # miss), so this stage adds a deterministic per-replica jitter
    # (xxhash64(vec_id, dim) -> [0, 0.1009)) to make every vector unique
    # while preserving cluster structure. Disable with
    # SPARK_GRAFT_RECALL_MULT=1.
    rmult = int(os.environ.get("SPARK_GRAFT_RECALL_MULT", "500"))
    if rmult > 1:
        from duckdb_vss_spark.operators.knn import knn_join_flat_indexed

        rstage = _bench_tmp("bench_recall_")
        n_emb = emb.count()
        jit = (
            emb.crossJoin(spark.range(rmult).withColumnRenamed("id", "__rep"))
            .withColumn(
                "vec_id", (F.col("vec_id") + F.col("__rep") * F.lit(n_emb)).cast("long")
            )
            .withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, i: (
                        x
                        + (
                            F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(1009))
                            / F.lit(10000.0)
                        ).cast("float")
                    ).cast("float"),
                ),
            )
            .drop("__rep")
        )
        jit.repartition(32).write.mode("overwrite").parquet(f"{rstage}/emb")
        emb_r = spark.read.parquet(f"{rstage}/emb").cache()
        emb_r.count()
        probes_r = emb_r.filter(F.col("vec_id") < 20)
        exact_nn = (
            knn_join_flat(
                probes_r, emb_r, "embedding", "embedding", 10, "l2sq",
                left_id="vec_id", right_id="vec_id",
            )
            .select("qid", "rid")
            .cache()
        )
        n_exact = exact_nn.count()
        recall_block = {"rows": n_emb * rmult, "probes": 20}
        for bname, opts in (
            ("flat", {}),
            ("sq8", {"quantization": "i8"}),
            ("pq8", {"pq_m": 8}),
            # the near-tie mitigation point: shortlist k*64 covers the
            # fixture's ~500-tie sets (README deployment manual; measured
            # r10 0.28 -> 1.00 at identical build cost)
            ("pq8_rr64", {"pq_m": 8, "pq_rerank": 64}),
            # 1-bit sign codes (round 8): 32x hot-scan compression at
            # dim=64; default shortlist k*16, plus the raised point for
            # the near-tie fixture (same mitigation lever as pq_rerank)
            ("b1", {"quantization": "b1"}),
            ("b1_rr64", {"quantization": "b1", "b1_rerank": 64}),
            # round 9: the NO-KNOB points — target_recall auto-sizes the
            # re-rank shortlist at build time from a sampled tie-width
            # probe (the executable form of the rr64 rule of thumb)
            ("pq8_auto", {"pq_m": 8, "target_recall": 0.95}),
            ("b1_auto", {"quantization": "b1", "target_recall": 0.95}),
            ("graph", {"index_type": "hnsw"}),
        ):
            reng = VSSEngine(spark, index_root=_bench_tmp(f"bench_rc_{bname}_"))
            reng.register_table("emb_r", emb_r)
            t0 = time.perf_counter()
            reng.create_index(f"rc_{bname}", "emb_r", "embedding", "vec_id", options=opts, replace=True)
            bsec = time.perf_counter() - t0
            idx = reng.catalog.get(f"rc_{bname}")
            curve = {}
            for ef in (8, 32, 64, 128):
                approx = knn_join_flat_indexed(
                    probes_r, idx, "embedding", 10, "vec_id", ef_search=ef
                ).select("qid", "rid")
                hits = exact_nn.join(approx, ["qid", "rid"]).count()
                curve[str(ef)] = round(hits / n_exact, 3)
            recall_block[bname] = {"build_sec": round(bsec, 1), "r10": curve}
        exact_nn.unpersist()
        emb_r.unpersist()
        out["recall"] = recall_block

    calib["end"] = _calibration(spark)
    out["calibration"] = calib

    # Full self-diagnosis artifact (calibration probes, interleaved rounds,
    # scale2/scale3 blocks) goes to a file committed alongside; the FINAL
    # stdout line is a compact JSON that stays under the driver's 2000-char
    # tail capture so BENCH_r{N}.json parses (round-7 regression: the full
    # blob overflowed the capture and `"parsed"` came back null).
    self_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SELF.json"
    )
    with open(self_path, "w") as fh:
        json.dump(out, fh, indent=1)

    # one-field noise verdict distilled from the probes: floor/loadavg
    # inflation with stable interleaved spark<->duckdb ratios = host noise;
    # a spark-only inflation against clean probes = real regression.
    # floor_spread compares the MID and END probes only: the start probe
    # always reads ~2x the steady floor because HotSpot's C2 compilation
    # of the scheduler/codegen stack is triggered by the heavy workload
    # itself and cannot be front-loaded by repeating the tiny probe
    # (measured round 9: 0.10 s plateau after 260 warm-up reps vs 0.05 s
    # after the real workload) — folding start in made quiet hosts read
    # as noisy. The start floor is still reported for cross-round drift.
    floors = [
        calib[k]["spark_job_floor_sec"] for k in ("mid", "end") if k in calib
    ] or [c["spark_job_floor_sec"] for c in calib.values()]
    loads = [c["loadavg_1m"] for c in calib.values() if c["loadavg_1m"] >= 0]
    # per-query ratio stability (NOT across queries — each query has its
    # own spark/duckdb ratio; the noise signal is whether a given query's
    # ratio holds across interleaved rounds)
    spreads = []
    for rounds in interleaved.values():
        # a pair whose duckdb side runs at the measurement floor (< 50 ms
        # at sf0.1 — e.g. topk over 2k rows in single-digit ms) has a
        # ratio that is pure timer jitter; folding it into the spread
        # made genuinely quiet runs read as noisy (round 10). The raw
        # rounds stay in the artifact for inspection.
        rs = [r["ratio"] for r in rounds if r["ratio"] > 0 and r["duckdb"] >= 0.05]
        if len(rs) >= 2:
            spreads.append(max(rs) / max(min(rs), 1e-9))
    noise = {
        "floor_spread": round(max(floors) / max(min(floors), 1e-9), 2),
        "floor_start": calib["start"]["spark_job_floor_sec"],
        "loadavg_max": round(max(loads), 1) if loads else -1.0,
        "loadavg_start": calib["start"]["loadavg_1m"],
        "ratio_spread": round(max(spreads), 2) if spreads else -1.0,
        "quiet_wait_sec": round(waited, 1),
    }
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        # ms precision on the capture-bounded line (full values in
        # BENCH_SELF.json) — keeps all rows under the 1900-byte bound
        "queries": {k: round(v, 3) for k, v in out["queries"].items()},
        "sf": sf,
        "noise": noise,
        "self": "BENCH_SELF.json",
    }
    if "recall" in out:
        # slim projection for the capture-bounded line; full block (build
        # times, row counts) lives in BENCH_SELF.json
        compact["recall"] = {
            b: out["recall"][b]["r10"]
            for b in ("flat", "sq8", "pq8", "pq8_rr64", "pq8_auto", "b1", "b1_rr64", "b1_auto", "graph")
            if b in out["recall"]
        }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        # never truncate mid-JSON: drop to the 15 slowest queries instead
        compact["queries"] = dict(
            sorted(
                ((k, round(v, 3)) for k, v in out["queries"].items()),
                key=lambda kv: -kv[1],
            )[:15]
        )
        compact["queries_top15_by_time"] = True
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
