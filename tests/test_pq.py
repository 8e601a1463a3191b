"""IVF-PQ (duckdb_vss_spark.index.pq): codebook kernels, build + search
recall, the exact-re-rank score contract, the column-pruned ADC scan plan,
lifecycle (insert / delete / compact), and option validation.

Beyond-reference scale extension — the reference keeps full f32 vectors in
RAM (reference: src/hnsw/hnsw_index.cpp:700-724); the PQ artifact reads
``pq_m`` bytes per row in the hot scan instead of ``4*dim``."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark import VSSEngine, topk
from duckdb_vss_spark.index import pq as pqmod
from duckdb_vss_spark.index.catalog import BinderException, validate_options

SF = "/root/testdata/sf0.001"
Q = [((i * 7) % 16) / 16.0 for i in range(64)]


# -- pure-numpy kernel contracts ------------------------------------------

def _quantized_corpus(rng, m, dsub, ks, n):
    """Vectors drawn from a small per-subspace vocabulary — PQ can encode
    these losslessly, so ADC must equal the exact distance."""
    vocab = rng.normal(size=(m, ks, dsub))
    picks = rng.integers(0, ks, size=(n, m))
    return np.concatenate([vocab[j][picks[:, j]] for j in range(m)], axis=1)


def _scores(codec, data, qmat, metric):
    """The codec's batch scorer over ``data`` encoded, for every query."""
    pdf = pd.DataFrame(codec.encode_columns(data))
    return codec.scorer(np.asarray(qmat, dtype=np.float64), metric)(pdf)(0, len(qmat))


def test_adc_exact_on_quantized_data_l2():
    rng = np.random.default_rng(0)
    data = _quantized_corpus(rng, m=4, dsub=3, ks=16, n=500)
    codec = pqmod.PQ.train(data, 4, seed=1)
    for q in (rng.normal(size=(1, 12)), rng.normal(size=(3, 12))):  # nq = 1 and 3
        approx = _scores(codec, data, q, "l2sq")
        exact = ((data[:, None, :] - q[None, :, :]) ** 2).sum(axis=2)
        np.testing.assert_allclose(approx, exact, rtol=1e-9, atol=1e-9)


def test_adc_exact_on_quantized_data_ip():
    rng = np.random.default_rng(1)
    data = _quantized_corpus(rng, m=2, dsub=4, ks=8, n=200)
    codec = pqmod.PQ.train(data, 2, seed=2)
    for q in (rng.normal(size=(1, 8)), rng.normal(size=(3, 8))):  # nq = 1 and 3
        approx = _scores(codec, data, q, "ip")
        np.testing.assert_allclose(approx, data @ q.T, rtol=1e-9, atol=1e-9)


def test_train_codebooks_rejects_bad_m():
    with pytest.raises(ValueError, match="must divide"):
        pqmod.PQ.train(np.zeros((10, 10)), 3)


# -- DDL option surface ----------------------------------------------------

@pytest.mark.parametrize("opts", [{"pq_m": 0}, {"pq_m": "x"}, {"pq_m": True}, {"pq_rerank": 0}])
def test_pq_option_validation(opts):
    with pytest.raises(BinderException, match="must be a positive integer"):
        validate_options(opts)


def test_pq_options_normalized():
    o = validate_options({"pq_m": 8, "pq_rerank": 6})
    assert (o["pq_m"], o["pq_rerank"]) == (8, 6)
    assert "pq_m" not in validate_options({})  # off unless asked for


# -- build + search on the seeded corpus -----------------------------------

@pytest.fixture(scope="module")
def pq_engine(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pq_indexes"))
    eng = VSSEngine(spark, index_root=root)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng.register_table("emb", emb)
    eng.create_index("emb_pq", "emb", "embedding", "vec_id", options={"metric": "l2sq", "pq_m": 8})
    return eng


def test_pq_artifact_shape(spark, pq_engine):
    idx = pq_engine.catalog.get("emb_pq")
    assert idx.manifest["pq_m"] == 8 and idx.manifest["pq_rerank"] == 4
    assert isinstance(idx.codec, pqmod.PQ) and idx.codec.array.shape == (8, 256, 8)
    row = spark.read.parquet(idx.data_path()).select("codes", "vnorm").first()
    assert len(row["codes"]) == 8  # one byte per subspace
    assert row["vnorm"] > 0


def test_pq_full_probe_matches_exact(spark, pq_engine):
    """At full probe the ADC shortlist + exact re-rank should recover the
    true top-k on the seeded corpus (labeled ANN==exact equivalence, the
    reference's own technique — test/sql/hnsw/hnsw_rewrite.test)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact_ids = [r["vec_id"] for r in topk(emb, "embedding", Q, 10, "l2sq", tiebreak="vec_id").collect()]
    pq_engine.set_ef_search(128)  # full probe
    try:
        got = pq_engine.topk("emb", "embedding", Q, 10, tiebreak="vec_id").collect()
    finally:
        pq_engine.set_ef_search(None)
    got_ids = [r["vec_id"] for r in got]
    recall = len(set(exact_ids) & set(got_ids)) / 10.0
    assert recall >= 0.9, (exact_ids, got_ids)


def test_pq_scores_are_exact(spark, pq_engine):
    """Reported scores come from the exact re-rank, not the quantized ADC."""
    idx = pq_engine.catalog.get("emb_pq")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    hits = {r["id"]: r["score"] for r in idx.search(spark, Q, 5, ef_search=128).collect()}
    lit = F.array(*[F.lit(float(x)) for x in Q])
    truth = {
        r["vec_id"]: r["d"]
        for r in emb.filter(F.col("vec_id").isin(list(hits)))
        .select("vec_id", F.sqrt(F.aggregate(
            F.zip_with("embedding", lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)).alias("d"))
        .collect()
    }
    for i, s in hits.items():
        assert abs(s - truth[i]) < 1e-4, (i, s, truth[i])


def test_pq_adc_scan_prunes_vec_column(spark, pq_engine):
    """The ADC scan must read (id, codes, vnorm) only — the heavy ``vec``
    column stays out of the hot scan (parquet column pruning). The re-rank
    fetch is the only scan allowed to touch ``vec``."""
    idx = pq_engine.catalog.get("emb_pq")
    plan = idx.search(spark, Q, 10)._jdf.queryExecution().executedPlan().toString()
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    adc = [ln for ln in schemas if "codes" in ln]
    assert adc, plan
    assert all("vec:" not in ln for ln in adc), adc


def test_pq_cosine_full_probe_matches_exact(spark, tmp_path):
    """Cosine PQ: the ADC numerator is quantized but the denominator uses the
    stored true vector norm — full probe + re-rank recovers the exact top-k
    neighbours on the seeded corpus."""
    eng = VSSEngine(spark, index_root=str(tmp_path))
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng.register_table("embc", emb)
    eng.create_index("embc_pq", "embc", "embedding", "vec_id", options={"metric": "cosine", "pq_m": 8})
    exact_ids = [r["vec_id"] for r in topk(emb, "embedding", Q, 10, "cosine", tiebreak="vec_id").collect()]
    idx = eng.catalog.get("embc_pq")
    got_ids = [r["id"] for r in idx.search(spark, Q, 10, ef_search=128).collect()]
    recall = len(set(exact_ids) & set(got_ids)) / 10.0
    assert recall >= 0.9, (exact_ids, got_ids)


def test_pq_adc_scan_partition_prunes(spark, pq_engine):
    """Below full probe the ADC scan must read only the probed list_id
    partitions (Catalyst partition pruning), same contract as the flat scan."""
    idx = pq_engine.catalog.get("emb_pq")
    plan = idx.search(spark, Q, 10, ef_search=32)._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "list_id" in ln]
    assert scans, plan


@pytest.fixture(scope="module")
def pq_join_engine(spark, tmp_path_factory):
    """Separate artifact from pq_engine: the lifecycle test mutates that one."""
    root = str(tmp_path_factory.mktemp("pq_join_idx"))
    eng = VSSEngine(spark, index_root=root)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng.register_table("embj", emb)
    eng.create_index("embj_pq", "embj", "embedding", "vec_id", options={"metric": "l2sq", "pq_m": 8})
    return eng


def test_pq_indexed_knn_join_recall_and_scores(spark, pq_join_engine):
    """Full-probe PQ join: >=0.9 mean recall vs the exact flat join, and the
    scores it reports are exact (re-ranked), not quantized."""
    from duckdb_vss_spark import knn_join_flat

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 30)
    exact = {}
    for r in knn_join_flat(
        probes, emb, "embedding", "embedding", 10, "l2sq", left_id="vec_id", right_id="vec_id"
    ).collect():
        exact.setdefault(r["qid"], {})[r["rid"]] = r["score"]
    pq_join_engine.set_ef_search(128)
    try:
        got = {}
        for r in pq_join_engine.knn_join(
            probes, "embj", "embedding", "embedding", 10, left_id="vec_id", right_id="vec_id"
        ).collect():
            got.setdefault(r["qid"], {})[r["rid"]] = r["score"]
    finally:
        pq_join_engine.set_ef_search(None)
    recalls = []
    for q, want in exact.items():
        have = got.get(q, {})
        recalls.append(len(set(want) & set(have)) / 10.0)
        for rid in set(want) & set(have):
            assert abs(want[rid] - have[rid]) < 1e-4, (q, rid)
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_pq_indexed_join_plan_shape(spark, pq_join_engine):
    """The ADC kernel scan reads codes (vec pruned); exactly one shuffle
    Exchange (the final per-qid window) — broadcasts don't shuffle."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    plan = (
        pq_join_engine.knn_join(probes, "embj", "embedding", "embedding", 3, left_id="vec_id", right_id="vec_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "codes" in ln]
    assert schemas and all("vec:" not in ln for ln in schemas), plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pq_indexed_join_respects_delete(spark, pq_join_engine):
    """Deleted ids are filtered inside the ADC kernel BEFORE the shortlist
    cut — the tombstone contract the flat join kernel honors."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probe = emb.filter(F.col("vec_id") == 0)
    pq_join_engine.set_ef_search(128)
    try:
        first = pq_join_engine.knn_join(
            probe, "embj", "embedding", "embedding", 5, left_id="vec_id", right_id="vec_id"
        ).collect()
        victim = first[0]["rid"]
        pq_join_engine.delete("embj_pq", [victim])
        after = pq_join_engine.knn_join(
            probe, "embj", "embedding", "embedding", 5, left_id="vec_id", right_id="vec_id"
        ).collect()
        assert victim not in {r["rid"] for r in after}
        assert len(after) == 5  # live rows keep all k slots
    finally:
        pq_join_engine.set_ef_search(None)


def test_pq_explain_marker(spark, pq_engine, tmp_path):
    txt = pq_engine.explain_topk("emb", "embedding", Q, 10)
    assert "HNSW_INDEX_SCAN" in txt and "pq_m=8 (ADC+rerank)" in txt
    # every codec names itself on the index scan
    eng = VSSEngine(spark, index_root=str(tmp_path))
    eng.register_table("e", spark.read.parquet(f"{SF}/embeddings.parquet"))
    for qz, marker in (("i8", "quantization=i8 (SQ8+rerank)"), ("b1", "quantization=b1 (Hamming+rerank)")):
        eng.create_index("q", "e", "embedding", "vec_id", options={"quantization": qz}, replace=True)
        txt = eng.explain_topk("e", "embedding", Q, 10)
        assert "HNSW_INDEX_SCAN" in txt and marker in txt, txt


def test_pq_lifecycle_insert_delete_compact(spark, pq_engine):
    eng = pq_engine
    new = spark.createDataFrame([(100001, Q), (100002, Q)], "vec_id bigint, embedding array<float>")
    eng.insert("emb_pq", new)
    idx = eng.catalog.get("emb_pq")
    ids = [r["id"] for r in idx.search(spark, Q, 2, ef_search=128).collect()]
    assert set(ids) == {100001, 100002}  # exact-zero-distance tail rows win
    eng.delete("emb_pq", [100002])
    ids = [r["id"] for r in idx.search(spark, Q, 2, ef_search=128).collect()]
    assert 100002 not in ids and 100001 in ids
    eng.compact_index("emb_pq")
    idx = eng.catalog.get("emb_pq")
    assert idx.manifest["pq_m"] == 8  # PQ config survives the rebuild
    assert idx.tail_df(spark) is None and idx.deleted_df(spark) is None
    ids = [r["id"] for r in idx.search(spark, Q, 2, ef_search=128).collect()]
    assert 100001 in ids and 100002 not in ids


# ---- SQ8 (`quantization: 'i8'`) ------------------------------------------


def test_sq_kernels_roundtrip_bound():
    import numpy as np

    from duckdb_vss_spark.functions.kernels import pairwise_scores
    from duckdb_vss_spark.index import pq

    rng = np.random.default_rng(3)
    m = rng.normal(size=(200, 32))
    codec = pq.SQ8.train(m)
    s = codec.array
    d = codec.decode(pd.DataFrame(codec.encode_columns(m)))
    assert np.abs(d - m).max() <= (1.0 / (2.0 * s)).max() + 1e-12
    # the scorer is one GEMM over the dequantized rows, at nq = 1 and 3
    for q in (m[:1], m[5:8]):
        np.testing.assert_array_equal(_scores(codec, m, q, "l2sq"), pairwise_scores(d, q, "l2sq"))
    # out-of-sample values saturate, never wrap
    big = codec.encode(np.array([[10.0] * 32]))
    assert big.max() == 127


def test_sq_index_full_probe_exact(spark, tmp_path):
    from duckdb_vss_spark import VSSEngine, topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Q = [((i * 7) % 16) / 16.0 for i in range(64)]
    eng = VSSEngine(spark, index_root=str(tmp_path / "sq"))
    eng.register_table("e", emb)
    eng.create_index("sq", "e", "embedding", "vec_id", options={"quantization": "i8"}, replace=True)
    eng.set_ef_search(10**6)
    for metric in ("l2sq", "cosine"):
        eng2 = VSSEngine(spark, index_root=str(tmp_path / f"sq_{metric}"))
        eng2.register_table("e", emb)
        eng2.create_index(
            "sqm", "e", "embedding", "vec_id",
            options={"quantization": "i8", "metric": metric}, replace=True,
        )
        eng2.set_ef_search(10**6)
        got = [(r["vec_id"], round(r["score"], 5)) for r in
               eng2.topk("e", "embedding", Q, 10, metric=metric, tiebreak="vec_id").collect()]
        want = [(r["vec_id"], round(r["score"], 5)) for r in
                topk(emb, "embedding", Q, 10, metric, tiebreak="vec_id").collect()]
        assert got == want, metric


def test_sq_maintenance_lifecycle(spark, tmp_path):
    from duckdb_vss_spark import VSSEngine
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Q = [0.25] * 64
    eng = VSSEngine(spark, index_root=str(tmp_path / "m"))
    eng.register_table("e", emb)
    eng.create_index("sq", "e", "embedding", "vec_id", options={"quantization": "i8"}, replace=True)
    idx = eng.catalog.get("sq")
    idx.insert(
        emb.limit(5).select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding"),
        "embedding", "vec_id",
    )
    before = idx.search(spark, Q, 10, ef_search=10**6).collect()
    gone = before[0]["id"]
    idx.delete(spark, [gone])
    after = idx.search(spark, Q, 10, ef_search=10**6).collect()
    assert all(r["id"] != gone for r in after) and len(after) == 10
    # incremental fold keeps the sq column consistent (delta rows encoded)
    idx2 = idx.compact_incremental(spark)
    folded = idx2.search(spark, Q, 10, ef_search=10**6).collect()
    assert sorted((r["id"], round(r["score"], 5)) for r in folded) == sorted(
        (r["id"], round(r["score"], 5)) for r in after
    )
    # full compact rebuilds with the option intact
    idx3 = idx2.compact(spark)
    assert idx3.manifest.get("quantization") == "i8" and isinstance(idx3.codec, pqmod.SQ8)


def test_sq_option_guards(spark):
    from duckdb_vss_spark.index.catalog import BinderException, validate_options

    with pytest.raises(BinderException, match="quantization"):
        validate_options({"quantization": "f16"})
    with pytest.raises(BinderException, match="sq_rerank"):
        validate_options({"sq_rerank": 0})
    assert validate_options({"quantization": "i8", "sq_rerank": 8})["quantization"] == "i8"


def test_pq_and_sq_mutually_exclusive(spark, tmp_path):
    from duckdb_vss_spark.index.ivf import build_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="mutually exclusive"):
        build_ivf(
            emb, "embedding", "vec_id", str(tmp_path / "x"),
            options={"pq_m": 8, "quantization": "i8"},
        )


def test_key_column_scalar_kinds(spark, tmp_path):
    """Implements the reference's TODO'd scalar-kind surface (the map at
    src/hnsw/hnsw_index.cpp:277-290 ships FLOAT-only with the rest
    commented "add later"): every signed numeric element type indexes;
    storage casts to f32."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark import VSSEngine
    from duckdb_vss_spark.index.catalog import BinderException

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    for i, t in enumerate(["double", "int", "bigint"]):
        cast = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: (x * 8).cast(t)).alias("v"),
        )
        eng = VSSEngine(spark, index_root=str(tmp_path / f"k{i}"))
        eng.register_table("t", cast)
        eng.create_index("ki", "t", "v", "vec_id", replace=True)
        eng.set_ef_search(10**6)
        assert eng.topk("t", "v", [1.0] * 64, 5).count() == 5, t
    bad = spark.createDataFrame([(1, ["a"])], "id long, v array<string>")
    eng = VSSEngine(spark, index_root=str(tmp_path / "bad"))
    eng.register_table("b", bad)
    with pytest.raises(BinderException, match="key type must be one of"):
        eng.create_index("bi", "b", "v", "id")


def test_sq_indexed_knn_join_full_probe_exact(spark, tmp_path):
    """The SQ8 join kernel (int8 dequantized GEMM + exact re-rank) at full
    probe must reproduce the exact flat join, including under tail rows
    and tombstones."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark import VSSEngine, knn_join_flat

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter("vec_id < 10")
    eng = VSSEngine(spark, index_root=str(tmp_path / "sqj"))
    eng.register_table("e", emb)
    eng.create_index("sj", "e", "embedding", "vec_id", options={"quantization": "i8"}, replace=True)
    eng.set_ef_search(10**6)
    got = sorted(
        (r["qid"], r["rid"], r["rnk"], round(r["score"], 5))
        for r in eng.knn_join(probes, "e", "embedding", "embedding", 3,
                              left_id="vec_id", right_id="vec_id").collect()
    )
    want = sorted(
        (r["qid"], r["rid"], r["rnk"], round(r["score"], 5))
        for r in knn_join_flat(probes, emb, "embedding", "embedding", 3, "l2sq",
                               left_id="vec_id", right_id="vec_id").collect()
    )
    assert got == want
    idx = eng.catalog.get("sj")
    idx.insert(
        emb.limit(3).select((F.col("vec_id") + 50_000).alias("vec_id"), "embedding"),
        "embedding", "vec_id",
    )
    gone = want[0][1]
    idx.delete(spark, [gone])
    r = eng.knn_join(probes, "e", "embedding", "embedding", 3,
                     left_id="vec_id", right_id="vec_id").collect()
    assert len(r) == 30 and all(x["rid"] != gone for x in r)


@pytest.mark.parametrize(
    "opts", [{"quantization": "i8"}, {"pq_m": 8}, {"quantization": "b1"}], ids=["i8", "pq", "b1"]
)
def test_sq_distributed_join_full_probe_exact(spark, tmp_path, opts):
    """The large-probe distributed cogroup join over a quantized artifact:
    SQ8 ships int8 codes through the cell Exchange (4x less data-side
    shuffle) with the quantized-shortlist contract, PQ and b1 ship their
    vectors and fold them exactly — at full probe each must equal the
    exact flat join, incl. under tail rows and tombstones."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark import VSSEngine, knn_join_flat
    from duckdb_vss_spark.operators.knn import knn_join_flat_indexed_distributed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter("vec_id < 50")
    eng = VSSEngine(spark, index_root=str(tmp_path / "sqd"))
    eng.register_table("e", emb)
    eng.create_index("i", "e", "embedding", "vec_id", options=opts, replace=True)
    idx = eng.catalog.get("i")
    got = sorted(
        (r["qid"], r["rid"], r["rnk"], round(r["score"], 5))
        for r in knn_join_flat_indexed_distributed(
            probes, idx, "embedding", 3, "vec_id", ef_search=10**6
        ).collect()
    )
    want = sorted(
        (r["qid"], r["rid"], r["rnk"], round(r["score"], 5))
        for r in knn_join_flat(probes, emb, "embedding", "embedding", 3, "l2sq",
                               left_id="vec_id", right_id="vec_id").collect()
    )
    assert got == want
    idx.insert(
        emb.limit(3).select((F.col("vec_id") + 70_000).alias("vec_id"), "embedding"),
        "embedding", "vec_id",
    )
    gone = want[0][1]
    idx.delete(spark, [gone])
    r = knn_join_flat_indexed_distributed(
        probes, idx, "embedding", 3, "vec_id", ef_search=10**6
    ).collect()
    assert len(r) == 150 and all(x["rid"] != gone for x in r)


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
def test_pq_rerank_recovers_near_tie_recall(spark, tmp_path):
    """The near-tie regime (round-8 README/BASELINE measurement, small
    twin; 512 base clusters (beyond the 256-entry-per-subspace codebook capacity, so codes cannot separate the jitter) keep the probed-cell coverage below the
    exact-flat-join reroute threshold): with many ADC-indistinguishable neighbors per query, the
    default k*4 shortlist samples the tie set and recall craters; sizing
    the shortlist past the tie-set size via pq_rerank recovers exact
    recall. 512 base vectors x 64 jittered copies whose jitter is far below the
    quantization cell, so copies encode to identical codes -> tie sets of
    ~64 ADC-indistinguishable ties."""
    from duckdb_vss_spark import knn_join_flat
    from duckdb_vss_spark.operators.knn import knn_join_flat_indexed

    rows = []
    for b in range(512):
        base = [(((b * 7 + j * 5) % 509) / 509.0) for j in range(64)]
        for r in range(64):
            vid = b * 64 + r
            v = [x + (((vid * 31 + j * 13) % 101) / 40000.0) for j, x in enumerate(base)]
            rows.append((vid, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.filter(F.col("vec_id") % 64 == 0).limit(8)
    exact = knn_join_flat(
        probes, df, "embedding", "embedding", 10, "l2sq", left_id="vec_id", right_id="vec_id"
    ).select("qid", "rid").cache()
    n_exact = exact.count()

    def recall(rerank):
        eng = VSSEngine(spark, index_root=str(tmp_path / f"rr{rerank}"))
        eng.register_table("tie", df)
        eng.create_index(
            "tie_pq", "tie", "embedding", "vec_id",
            options={"pq_m": 8, "pq_rerank": rerank}, replace=True,
        )
        idx = eng.catalog.get("tie_pq")
        approx = knn_join_flat_indexed(probes, idx, "embedding", 10, "vec_id", ef_search=8).select("qid", "rid")
        return exact.join(approx, ["qid", "rid"]).count() / n_exact

    low = recall(4)    # shortlist 40 < tie set 64
    high = recall(32)  # shortlist 320 >= tie set
    # high recovers to ~1.0 (the residual miss is probing loss at ef=8,
    # identical in both runs, not shortlist loss); low demonstrably
    # samples the tie sets
    assert high >= 0.95, (low, high)
    assert low <= high - 0.3, (low, high)


# ---- B1 (`quantization: 'b1'`) ---------------------------------------------


def test_b1_kernels_match_bruteforce():
    import numpy as np

    from duckdb_vss_spark.index import pq

    rng = np.random.default_rng(7)
    for dim in (3, 64, 65, 128, 100):
        m = rng.normal(size=(60, dim))
        codec = pq.B1.train(m)
        thr = codec.array
        codes = codec.encode(m)
        assert codes.shape == (60, pq.b1_words(dim))
        bits = m > thr[None, :]
        for qi in ([11], [11, 3, 40]):  # nq = 1 and 3
            h = _scores(codec, m, m[qi], "l2sq")  # ascending: the distance itself
            for j, q in enumerate(m[qi]):
                brute = (bits != (q > thr)[None, :]).sum(axis=1)
                assert (h[:, j] == brute).all()
            assert h[11, 0] == 0
            # descending metrics negate it
            np.testing.assert_array_equal(_scores(codec, m, m[qi], "cosine"), -h)


def test_b1_index_full_probe_covering_rerank_exact(spark, tmp_path):
    """With every list probed AND a re-rank shortlist covering the whole
    table, the b1 index must equal brute force exactly — the same gate
    shape as SQ8's, with the coverage coming from b1_rerank (Hamming
    order alone guarantees nothing)."""
    from duckdb_vss_spark import VSSEngine, topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Q = [((i * 7) % 16) / 16.0 for i in range(64)]
    for metric in ("l2sq", "cosine"):
        eng = VSSEngine(spark, index_root=str(tmp_path / f"b1_{metric}"))
        eng.register_table("e", emb)
        eng.create_index(
            "b1", "e", "embedding", "vec_id",
            options={"quantization": "b1", "metric": metric, "b1_rerank": 1000},
            replace=True,
        )
        eng.set_ef_search(10**6)
        got = [(r["vec_id"], round(r["score"], 5)) for r in
               eng.topk("e", "embedding", Q, 10, metric=metric, tiebreak="vec_id").collect()]
        want = [(r["vec_id"], round(r["score"], 5)) for r in
                topk(emb, "embedding", Q, 10, metric, tiebreak="vec_id").collect()]
        assert got == want, metric


def test_b1_default_rerank_scores_are_exact(spark, tmp_path):
    """At the DEFAULT shortlist the membership is approximate but every
    reported (id, score) must carry the exact metric value — the engine's
    only-membership-is-approximate contract."""
    from duckdb_vss_spark import VSSEngine
    from duckdb_vss_spark.functions.distance import distance_expr
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Q = [0.25] * 64
    eng = VSSEngine(spark, index_root=str(tmp_path / "b1d"))
    eng.register_table("e", emb)
    eng.create_index("b1", "e", "embedding", "vec_id", options={"quantization": "b1"}, replace=True)
    eng.set_ef_search(10**6)
    got = {r["vec_id"]: r["score"] for r in eng.topk("e", "embedding", Q, 10, tiebreak="vec_id").collect()}
    assert len(got) == 10
    exact = {
        r["vec_id"]: r["s"]
        for r in emb.filter(F.col("vec_id").isin(*got)).select(
            "vec_id", distance_expr("embedding", Q, "l2sq").alias("s")).collect()
    }
    for vid, s in got.items():
        assert abs(s - exact[vid]) < 1e-5


def test_b1_maintenance_lifecycle(spark, tmp_path):
    from duckdb_vss_spark import VSSEngine
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Q = [0.25] * 64
    eng = VSSEngine(spark, index_root=str(tmp_path / "b1m"))
    eng.register_table("e", emb)
    eng.create_index(
        "b1", "e", "embedding", "vec_id",
        options={"quantization": "b1", "b1_rerank": 1000}, replace=True,
    )
    idx = eng.catalog.get("b1")
    idx.insert(
        emb.limit(5).select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding"),
        "embedding", "vec_id",
    )
    before = idx.search(spark, Q, 10, ef_search=10**6).collect()
    gone = before[0]["id"]
    idx.delete(spark, [gone])
    after = idx.search(spark, Q, 10, ef_search=10**6).collect()
    assert all(r["id"] != gone for r in after) and len(after) == 10
    # incremental fold keeps the b1 column consistent (delta rows encoded)
    idx2 = idx.compact_incremental(spark)
    folded = idx2.search(spark, Q, 10, ef_search=10**6).collect()
    assert sorted((r["id"], round(r["score"], 5)) for r in folded) == sorted(
        (r["id"], round(r["score"], 5)) for r in after
    )
    # full compact rebuilds with the option intact
    idx3 = idx2.compact(spark)
    assert idx3.manifest.get("quantization") == "b1" and isinstance(idx3.codec, pqmod.B1)


def test_b1_option_guards(spark):
    from duckdb_vss_spark.index.catalog import BinderException, validate_options

    with pytest.raises(BinderException, match="b1_rerank"):
        validate_options({"b1_rerank": 0})
    assert validate_options({"quantization": "b1", "b1_rerank": 64})["quantization"] == "b1"
    with pytest.raises(BinderException, match="quantization"):
        validate_options({"quantization": "b2"})


def test_b1_indexed_join_full_probe_covering_rerank_exact(spark, tmp_path):
    """The indexed kNN join over a b1 artifact runs the Hamming codes-only
    kernel (fold over (rid, b1), no vectors in the scan); with every list
    probed and a covering b1_rerank it must equal the exact flat join,
    including under tail inserts and tombstones."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark import VSSEngine, knn_join_flat

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter("vec_id < 10")
    eng = VSSEngine(spark, index_root=str(tmp_path / "b1j"))
    eng.register_table("e", emb)
    eng.create_index(
        "bj", "e", "embedding", "vec_id",
        options={"quantization": "b1", "b1_rerank": 1000}, replace=True,
    )
    eng.set_ef_search(10**6)
    got = sorted(
        (r["qid"], r["rid"], r["rnk"], round(r["score"], 5))
        for r in eng.knn_join(probes, "e", "embedding", "embedding", 3,
                              left_id="vec_id", right_id="vec_id").collect()
    )
    want = sorted(
        (r["qid"], r["rid"], r["rnk"], round(r["score"], 5))
        for r in knn_join_flat(probes, emb, "embedding", "embedding", 3, "l2sq",
                               left_id="vec_id", right_id="vec_id").collect()
    )
    assert got == want
    idx = eng.catalog.get("bj")
    idx.insert(
        emb.limit(3).select((F.col("vec_id") + 50_000).alias("vec_id"), "embedding"),
        "embedding", "vec_id",
    )
    gone = want[0][1]
    idx.delete(spark, [gone])
    r = eng.knn_join(probes, "e", "embedding", "embedding", 3,
                     left_id="vec_id", right_id="vec_id").collect()
    assert len(r) == 30 and all(x["rid"] != gone for x in r)


def test_b1_wrong_dimension_query_clean_error(spark, tmp_path):
    """A wrong-dimension query against a b1 index must raise the same
    clean ValueError the flat/PQ/SQ paths produce, not an opaque numpy
    broadcast error from the encode step (round-9 ADVICE)."""
    import pytest

    from duckdb_vss_spark import VSSEngine

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eng = VSSEngine(spark, index_root=str(tmp_path / "b1dim"))
    eng.register_table("e", emb)
    eng.create_index("b1", "e", "embedding", "vec_id", options={"quantization": "b1"}, replace=True)
    with pytest.raises(ValueError, match="dimension"):
        eng.topk("e", "embedding", [0.5] * 16, 5)


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
def test_target_recall_auto_sizes_shortlist_on_near_ties(spark, tmp_path):
    """Round-9 gate: with ``target_recall`` set and NO manual rerank knob,
    the build-time probe must detect the near-tie structure (the round-8
    fixture where the default shortlist craters recall) and auto-size the
    shortlist so recall@10 reaches the target. Covers PQ8 and b1; also
    pins the manifest diagnostics and the DDL validation pairing rules."""
    import pytest

    from duckdb_vss_spark import BinderException, knn_join_flat
    from duckdb_vss_spark.operators.knn import knn_join_flat_indexed

    rows = []
    for b in range(512):
        base = [(((b * 7 + j * 5) % 509) / 509.0) for j in range(64)]
        for r in range(64):
            vid = b * 64 + r
            v = [x + (((vid * 31 + j * 13) % 101) / 40000.0) for j, x in enumerate(base)]
            rows.append((vid, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.filter(F.col("vec_id") % 64 == 0).limit(8)
    exact = knn_join_flat(
        probes, df, "embedding", "embedding", 10, "l2sq", left_id="vec_id", right_id="vec_id"
    ).select("qid", "rid").cache()
    n_exact = exact.count()

    for name, opts, default_rerank in (
        ("pq", {"pq_m": 8, "target_recall": 0.95}, 4),
        ("b1", {"quantization": "b1", "target_recall": 0.95}, 16),
    ):
        eng = VSSEngine(spark, index_root=str(tmp_path / f"auto_{name}"))
        eng.register_table("tie", df)
        eng.create_index("tie_idx", "tie", "embedding", "vec_id", options=opts, replace=True)
        idx = eng.catalog.get("tie_idx")
        auto = idx.manifest["rerank_auto"]
        key = "pq_rerank" if name == "pq" else "b1_rerank"
        chosen = idx.manifest[key]
        # the probe must have SEEN the ~64-wide tie sets and raised the
        # shortlist well past the default
        assert chosen > default_rerank, (name, chosen, auto)
        approx = knn_join_flat_indexed(
            probes, idx, "embedding", 10, "vec_id", ef_search=8
        ).select("qid", "rid")
        rec = exact.join(approx, ["qid", "rid"]).count() / n_exact
        assert rec >= 0.95, (name, chosen, rec, auto)
        assert auto["target_recall"] == 0.95 and auto["probes"] >= 1

    # validation pairing: target_recall needs a quantized layout, and is
    # mutually exclusive with an explicit rerank knob
    eng = VSSEngine(spark, index_root=str(tmp_path / "auto_bad"))
    eng.register_table("tie", df)
    with pytest.raises(BinderException, match="quantized"):
        eng.create_index("bad1", "tie", "embedding", "vec_id",
                         options={"target_recall": 0.95}, replace=True)
    with pytest.raises(BinderException, match="auto-sizes"):
        eng.create_index("bad2", "tie", "embedding", "vec_id",
                         options={"pq_m": 8, "pq_rerank": 8, "target_recall": 0.95},
                         replace=True)
    with pytest.raises(BinderException, match="target_recall"):
        eng.create_index("bad3", "tie", "embedding", "vec_id",
                         options={"pq_m": 8, "target_recall": 1.5}, replace=True)
    exact.unpersist()
