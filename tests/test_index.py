"""Index lifecycle: build, search recall, DDL validation (reference error
strings), info schema, insert/delete/compact, restart durability, planner
dispatch + explain markers.

Mirrors the reference's test strategy (SURVEY §5): plan-shape assertions,
ANN==exact labeled equivalence on seeded data, DDL error contract,
lifecycle/durability."""

from __future__ import annotations

import functools
import os
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark import VSSEngine, knn_join_flat, topk
from duckdb_vss_spark.index.catalog import BinderException, validate_options
from duckdb_vss_spark.operators import knn as knn_mod
from duckdb_vss_spark.operators.knn import knn_join_flat_indexed

Q = [((i * 7) % 16) / 16.0 for i in range(64)]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("vss_indexes"))
    eng = VSSEngine(spark, index_root=root)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eng.register_table("emb", emb)
    eng.create_index("emb_idx", "emb", "embedding", "vec_id", options={"metric": "l2sq"})
    return eng


# -- DDL validation contract (reference: test/sql/hnsw/hnsw_options.test) --

@pytest.mark.parametrize(
    "opts,msg",
    [
        ({"ef_construction": "foo"}, "HNSW index 'ef_construction' must be an integer"),
        ({"ef_construction": 0}, "HNSW index 'ef_construction' must be at least 1"),
        ({"ef_search": "foo"}, "HNSW index 'ef_search' must be an integer"),
        ({"ef_search": 0}, "HNSW index 'ef_search' must be at least 1"),
        ({"M": "foo"}, "HNSW index 'M' must be an integer"),
        ({"M": 0}, "HNSW index 'M' must be at least 2"),
        ({"M0": "foo"}, "HNSW index 'M0' must be an integer"),
        ({"M0": 0}, "HNSW index 'M0' must be at least 2"),
        ({"metric": 42}, "HNSW index 'metric' must be a string"),
        ({"metric": "manhattan"}, "HNSW index 'metric' must be one of: 'l2sq', 'cosine', 'ip'"),
        ({"bogus": 1}, "Unknown option for HNSW index: 'bogus'"),
    ],
)
def test_option_validation_messages(opts, msg):
    with pytest.raises(BinderException) as ei:
        validate_options(opts)
    assert str(ei.value) == msg


def test_option_defaults():
    o = validate_options({})
    assert (o["M"], o["M0"], o["ef_construction"], o["ef_search"]) == (16, 32, 128, 64)
    assert validate_options({"M": 5})["M0"] == 10  # m0 = 2*m


def test_key_type_validation(spark, engine):
    bad = spark.createDataFrame([(1, "x")], "id int, vec string")
    with pytest.raises(BinderException, match=r"HNSW index keys must be of type FLOAT\[N\]"):
        engine.catalog.create_index("bad", bad, "vec", "id")
    # BIGINT[N] is accepted here (the reference's scalar-kind map TODOs it,
    # src/hnsw/hnsw_index.cpp:277-290 — this engine implements the TODO);
    # non-numeric elements are not
    bad2 = spark.createDataFrame([(1, ["a", "b"])], "id int, vec array<string>")
    with pytest.raises(BinderException, match="key type must be one of"):
        engine.catalog.create_index("bad2", bad2, "vec", "id")
    good = spark.createDataFrame([(1, [1.0, 2.0])], "id int, a array<float>")
    with pytest.raises(BinderException, match="single column of keys"):
        engine.catalog.create_index("bad3", good, ["a", "a"], "id")


# -- search correctness ----------------------------------------------------

def test_index_search_full_probe_equals_exact(engine, spark, emb):
    """With ef_search=256 (=> nprobe=nlist) the index search IS exact —
    the labeled-equivalence technique of the reference tests (SURVEY §5.3)."""
    idx = engine.catalog.get("emb_idx")
    got = idx.search(spark, Q, 10, ef_search=256).collect()
    exact = topk(emb_df(spark), "embedding", Q, 10, "l2sq", tiebreak="vec_id").collect()
    assert [r["id"] for r in got] == [r["vec_id"] for r in exact]
    for g, e in zip(got, exact):
        assert abs(g["score"] - e["score"]) < 1e-9


def test_index_search_default_recall(engine, spark):
    idx = engine.catalog.get("emb_idx")
    got = {r["id"] for r in idx.search(spark, Q, 10).collect()}
    exact = {r["vec_id"] for r in topk(emb_df(spark), "embedding", Q, 10, "l2sq").collect()}
    assert len(got & exact) >= 5  # default ef_search=64 probes half the lists


def emb_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


# -- planner dispatch + explain -------------------------------------------

def test_explain_shows_index_scan(engine):
    plan = engine.explain_topk("emb", "embedding", Q, 5)
    assert "HNSW_INDEX_SCAN" in plan and "emb_idx" in plan


def test_explain_exact_fallback_wrong_metric(engine):
    plan = engine.explain_topk("emb", "embedding", Q, 5, metric="cosine")
    assert "HNSW_INDEX_SCAN" not in plan and "SEQ_SCAN" in plan


def test_explain_exact_fallback_k_too_large(engine):
    plan = engine.explain_topk("emb", "embedding", Q, 5000)
    assert "HNSW_INDEX_SCAN" not in plan  # k >= 2048 -> silent exact fallback


def test_engine_topk_index_path_matches_exact(engine, spark):
    engine.set_ef_search(256)
    try:
        got = engine.topk("emb", "embedding", Q, 5, tiebreak="vec_id").select("vec_id", "score").collect()
    finally:
        engine.set_ef_search(None)
    exact = topk(emb_df(spark), "embedding", Q, 5, "l2sq", tiebreak="vec_id").select("vec_id", "score").collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in got] == [
        (r["vec_id"], round(r["score"], 9)) for r in exact
    ]


def test_post_filter_semantics(engine):
    """Residual WHERE applies AFTER the k index candidates -> can return < k
    rows (reference: test/sql/hnsw/where_clause_segfault.test:24-35)."""
    engine.set_ef_search(256)
    try:
        rows = engine.topk("emb", "embedding", Q, 10, where="vec_id % 2 = 0").collect()
    finally:
        engine.set_ef_search(None)
    assert 0 < len(rows) < 10
    assert all(r["vec_id"] % 2 == 0 for r in rows)


def test_engine_knn_join_index_path(engine, spark):
    probes = emb_df(spark).filter(F.col("vec_id") < 5)
    engine.set_ef_search(256)
    try:
        got = engine.knn_join(probes, "emb", "embedding", "embedding", 3, left_id="vec_id", right_id="vec_id")
        rows = got.collect()
    finally:
        engine.set_ef_search(None)
    assert len(rows) == 15
    by_q = {r["qid"]: r for r in rows if r["rnk"] == 1}
    assert all(by_q[q]["rid"] == q and by_q[q]["score"] == 0.0 for q in by_q)
    plan = engine.explain_knn_join(probes, "emb", "embedding", "embedding", 3, left_id="vec_id", right_id="vec_id")
    assert "HNSW_INDEX_JOIN" in plan


# -- info / lifecycle ------------------------------------------------------

@pytest.mark.parametrize(
    "cols",
    [
        ["vec_id", "embedding", "label"],
        ["label", "vec_id", "embedding"],
        ["embedding", "label", "vec_id"],
        ["vec_id", "label"],
        ["label", "embedding", "vec_id"],
    ],
)
def test_topk_projection_permutations(engine, spark, cols):
    """Every projection ordering around the index scan returns the same
    rows (reference: test/sql/hnsw/hnsw_projection.test:20-37). Projections
    that drop the vector column still work — the scan, not the caller's
    projection, feeds the distance."""
    engine.set_ef_search(10**6)
    try:
        out = engine.topk("emb", "embedding", Q, 5, tiebreak="vec_id").select(*cols, "score")
        rows = out.collect()
    finally:
        engine.set_ef_search(None)
    assert [r["vec_id"] for r in rows] == [
        r["vec_id"]
        for r in topk(
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
            "embedding", Q, 5, "l2sq", tiebreak="vec_id",
        ).collect()
    ]
    assert out.columns == [*cols, "score"]


def test_distributed_kmeans_build_full_probe_exact(spark, tmp_path, emb):
    """The distributed-Lloyd build path (centroids refined over the full
    dataset, only nlist x dim numbers reaching the driver) must stay
    search-correct: full probe == brute force, and the refinement must not
    increase inertia vs the sample-only seed."""
    import numpy as np

    eng = VSSEngine(spark, index_root=str(tmp_path / "dk"))
    eng.register_table("emb_dk", emb)
    idx = eng.create_index(
        "dk_idx", "emb_dk", "embedding", "vec_id",
        options={"distributed_kmeans": True}, replace=True,
    )
    eng.set_ef_search(10**6)
    got = [r["vec_id"] for r in eng.topk("emb_dk", "embedding", Q, 10, tiebreak="vec_id").collect()]
    want = [r["vec_id"] for r in topk(emb, "embedding", Q, 10, "l2sq", tiebreak="vec_id").collect()]
    assert got == want
    # refined centroids fit the data at least as well as the seed
    from duckdb_vss_spark.index.ivf import kmeans

    mat = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    seed_cents = kmeans(mat, idx.nlist, iters=12, seed=42)

    def inertia(c):
        d2 = (mat * mat).sum(1)[:, None] + (c * c).sum(1)[None, :] - 2.0 * (mat @ c.T)
        return d2.min(axis=1).sum()

    assert inertia(idx.centroids) <= inertia(seed_cents) * 1.001


def test_index_info_schema(engine):
    info = engine.index_info()
    assert [f.name for f in info.schema.fields] == [
        "catalog_name", "schema_name", "index_name", "table_name", "metric",
        "dimensions", "count", "capacity", "approx_memory_usage", "levels", "levels_stats",
    ]
    row = [r for r in info.collect() if r["index_name"] == "emb_idx"][0]
    assert row["metric"] == "l2sq" and row["dimensions"] == 64 and row["count"] == 500
    assert row["capacity"] >= row["count"]


def test_insert_delete_compact_lifecycle(spark, tmp_path):
    eng = VSSEngine(spark, index_root=str(tmp_path))
    emb = emb_df(spark).filter(F.col("vec_id") < 100)
    eng.register_table("t", emb)
    eng.create_index("t_idx", "t", "embedding", "vec_id")
    # insert: new rows visible via tail
    extra = emb_df(spark).filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    eng.insert("t_idx", extra, "embedding", "vec_id")
    idx = eng.catalog.get("t_idx")
    c = idx.counts(spark)
    assert (c["base"], c["tail"]) == (100, 10)
    target = extra.collect()[0]
    hits = idx.search(spark, [float(x) for x in target["embedding"]], 1, ef_search=256).collect()
    assert hits[0]["id"] == target["vec_id"]  # tail row found at distance 0
    # delete: immediately invisible (reference: src/hnsw/hnsw_index.cpp:496-512)
    eng.delete("t_idx", [target["vec_id"]])
    hits = idx.search(spark, [float(x) for x in target["embedding"]], 5, ef_search=256).collect()
    assert target["vec_id"] not in [h["id"] for h in hits]
    assert len(hits) == 5  # over-fetch still returns k
    # compact: folds tail, drops deleted (PRAGMA hnsw_compact_index)
    idx2 = eng.compact_index("t_idx")
    c2 = idx2.counts(spark)
    assert (c2["base"], c2["tail"], c2["deleted"]) == (109, 0, 0)
    # restart durability: fresh handle from disk only
    from duckdb_vss_spark import IVFIndex

    idx3 = IVFIndex(idx2.path)
    assert idx3.manifest["count"] == 109
    # drop
    eng.drop_index("t_idx")
    assert not eng.catalog.exists("t_idx")


def test_indexed_join_respects_delete(spark, tmp_path):
    """Deleted ids must be filtered BEFORE the per-partition top-k cut in the
    indexed join: full-probe indexed join after deleting each probe's nearest
    neighbor (itself) must equal the exact join over live rows — k full rows,
    no deleted id, no missing true neighbor."""
    from duckdb_vss_spark import knn_join_flat

    eng = VSSEngine(spark, index_root=str(tmp_path))
    emb = emb_df(spark)
    eng.register_table("tj", emb)
    eng.create_index("tj_idx", "tj", "embedding", "vec_id")
    deleted_ids = [0, 1, 2]
    eng.delete("tj_idx", deleted_ids)
    probes = emb.filter(F.col("vec_id") < 3)
    eng.set_ef_search(10**6)
    try:
        got = eng.knn_join(probes, "tj", "embedding", "embedding", 4, left_id="vec_id", right_id="vec_id").collect()
    finally:
        eng.set_ef_search(None)
    live = emb.filter(~F.col("vec_id").isin(deleted_ids))
    want = knn_join_flat(probes, live, "embedding", "embedding", 4, "l2sq", left_id="vec_id", right_id="vec_id").collect()
    key = lambda rows: sorted((r["qid"], r["rnk"], r["rid"]) for r in rows)
    assert len(got) == 12  # 3 probes x k=4, live rows fill every slot
    assert key(got) == key(want)


def test_file_uri_lifecycle(spark, tmp_path):
    """The whole artifact lifecycle must work with a scheme-qualified URI
    root (here file://, the local stand-in for s3a:///abfss://): control
    plane goes through the Hadoop FileSystem API, not os.*."""
    eng = VSSEngine(spark, index_root="file://" + str(tmp_path / "idx"))
    emb = emb_df(spark).filter(F.col("vec_id") < 120)
    eng.register_table("tu", emb)
    eng.create_index("tu_idx", "tu", "embedding", "vec_id")
    idx = eng.catalog.get("tu_idx")
    got = [r["id"] for r in idx.search(spark, Q, 5, ef_search=10**6).collect()]
    exact = [r["vec_id"] for r in topk(emb, "embedding", Q, 5, "l2sq", tiebreak="vec_id").collect()]
    assert got == exact
    eng.insert("tu_idx", emb_df(spark).filter(F.col("vec_id") == 200), "embedding", "vec_id")
    eng.delete("tu_idx", [0])
    idx2 = eng.compact_index("tu_idx")
    c = idx2.counts(spark)
    assert (c["base"], c["tail"], c["deleted"]) == (120, 0, 0)
    eng.drop_index("tu_idx")
    assert not eng.catalog.exists("tu_idx")


def test_compact_keeps_index_routable(spark, tmp_path):
    """Compact rebuilds into a new version but must keep the catalog identity
    (table/column/metric) in the manifest — otherwise the planner silently
    stops routing queries to the index after every compact."""
    eng = VSSEngine(spark, index_root=str(tmp_path))
    eng.register_table("tc", emb_df(spark))
    eng.create_index("tc_idx", "tc", "embedding", "vec_id")
    eng.insert("tc_idx", emb_df(spark).limit(0), "embedding", "vec_id")
    eng.compact_index("tc_idx")
    plan = eng.explain_topk("tc", "embedding", Q, 5)
    assert "HNSW_INDEX_SCAN" in plan and "tc_idx" in plan


def test_index_options_are_honored(spark, tmp_path):
    """ef_construction / M / M0 must change build behavior through the
    documented IVF mapping (not be validated-then-ignored): M0 scales the
    default nlist, ef_construction scales the k-means effort and therefore
    the centroids themselves."""
    eng = VSSEngine(spark, index_root=str(tmp_path))
    emb = emb_df(spark)
    eng.register_table("to", emb)
    # default M0=32 -> nlist = sqrt(500) ~ 22; M=8 (M0=16) -> twice as many
    i_default = eng.create_index("o_def", "to", "embedding", "vec_id")
    i_m8 = eng.create_index("o_m8", "to", "embedding", "vec_id", options={"M": 8})
    assert i_m8.nlist == min(4096, 2 * i_default.nlist)
    # ef_construction scales Lloyd iterations (recorded + different centroids)
    i_fast = eng.create_index("o_efc", "to", "embedding", "vec_id", options={"ef_construction": 24})
    assert i_fast.manifest["kmeans_iters"] < i_default.manifest["kmeans_iters"]
    assert i_fast.manifest["kmeans_iters"] == max(2, round(12 * 24 / 128))
    import numpy as np

    assert i_fast.centroids.shape == i_default.centroids.shape
    assert not np.allclose(i_fast.centroids, i_default.centroids)
    # per-index ef_search option drives nprobe when no session override is set
    eng2 = VSSEngine(spark, index_root=str(tmp_path / "ef"))
    eng2.register_table("to2", emb)
    eng2.create_index("o_ef", "to2", "embedding", "vec_id", options={"ef_search": 128})
    plan = eng2.explain_topk("to2", "embedding", Q, 5)
    assert "ef_search=128" in plan  # full probe: nprobe == nlist
    assert f"nprobe={eng2.catalog.get('o_ef').nlist}/" in plan


@pytest.mark.parametrize("shape", ["topk", "min_by", "knn_join"])
def test_optimizer_on_off_differential(spark, tmp_path_factory, shape):
    """The reference's strongest equivalence technique (reference:
    test/sql/hnsw/hnsw_rewrite.test:19-34): run the identical query with the
    optimizer enabled (index routing, full probe => exact) and disabled
    (pure DataFrame plan); results must be identical."""
    root = str(tmp_path_factory.mktemp("diff_idx"))
    eng = VSSEngine(spark, index_root=root)
    emb = emb_df(spark)
    eng.register_table("td", emb)
    eng.create_index("td_idx", "td", "embedding", "vec_id")
    eng.set_ef_search(10**6)  # full probe: the index path is exact

    def run():
        if shape == "topk":
            df = eng.topk("td", "embedding", Q, 7, tiebreak="vec_id").select("vec_id", "score")
            return [(r["vec_id"], round(r["score"], 9)) for r in df.collect()]
        if shape == "min_by":
            df = eng.min_by_k("td", "vec_id", "embedding", Q, 7)
            return [tuple(r["values"]) for r in df.collect()]
        df = eng.knn_join(
            emb.filter(F.col("vec_id") < 5), "td", "embedding", "embedding", 3,
            left_id="vec_id", right_id="vec_id",
        )
        return sorted((r["qid"], r["rnk"], r["rid"], round(r["score"], 9)) for r in df.collect())

    try:
        on = run()
        assert "EXACT" not in (eng.explain_topk("td", "embedding", Q, 7) if shape == "topk" else "")
        eng.set_optimizer_enabled(False)
        off = run()
        plan = eng.explain_topk("td", "embedding", Q, 7)
        assert "HNSW_INDEX_SCAN" not in plan and "optimizer disabled" in plan
    finally:
        eng.set_optimizer_enabled(True)
        eng.set_ef_search(None)
    assert on == off


def test_vss_match_routes_through_index(engine, spark):
    """vss_match's flat core must take the HNSW_INDEX_JOIN path when an
    index matches, and at full probe equal the exact macro output."""
    from duckdb_vss_spark.operators.knn import knn_match

    probes = emb_df(spark).filter(F.col("vec_id") < 4)
    engine.set_ef_search(10**6)
    try:
        got = engine.vss_match(probes, "emb", "embedding", "embedding", 3,
                               left_id="vec_id", right_id="vec_id").collect()
    finally:
        engine.set_ef_search(None)
    want = knn_match(probes, emb_df(spark), "embedding", "embedding", 3, "l2sq",
                     left_id="vec_id", right_id="vec_id").collect()
    canon = lambda rows: sorted(
        (r["vec_id"], tuple(m["row"]["vec_id"] for m in r["matches"])) for r in rows
    )
    assert canon(got) == canon(want)
    plan = engine.explain_knn_join(probes, "emb", "embedding", "embedding", 3,
                                   left_id="vec_id", right_id="vec_id")
    assert "HNSW_INDEX_JOIN" in plan


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
def test_broadcast_lifetime_bounded(engine, spark):
    """Round-4 verdict "What's wrong" #1: per-query search broadcasts must
    not accumulate unboundedly in a long-lived session. 100+ searches keep
    the tracked-live ring at MAX_LIVE_BROADCASTS, evicted entries are
    unpersisted, and results stay correct afterwards (unpersist != destroy:
    re-execution re-fetches from the driver copy)."""
    from duckdb_vss_spark.broadcasts import MAX_LIVE_BROADCASTS, live_broadcast_count

    idx = engine.catalog.get("emb_idx")
    ref = [r["id"] for r in idx.search(spark, Q, 5, ef_search=256).collect()]
    probes = spark.createDataFrame([(0, Q)], "pid long, v array<float>")
    for i in range(110):
        if i % 2:
            idx.search(spark, Q, 5).collect()
        else:
            knn_join_flat(probes, emb_df(spark), "v", "embedding", 3,
                          left_id="pid", right_id="vec_id").collect()
    assert live_broadcast_count(spark.sparkContext) <= MAX_LIVE_BROADCASTS
    got = [r["id"] for r in idx.search(spark, Q, 5, ef_search=256).collect()]
    assert got == ref


def test_tail_max_rows_warn_and_autocompact(spark, tmp_path):
    """tail_max_rows bound (round-4 verdict item 8): policy 'warn' fires a
    RuntimeWarning past the bound; policy 'compact' folds the tail in place
    and existing handles stay live and exact."""
    import warnings

    emb = emb_df(spark).limit(60)
    head, tail1, tail2 = emb.filter("vec_id < 40"), emb.filter(
        "vec_id >= 40 and vec_id < 50"
    ), emb.filter("vec_id >= 50")

    eng = VSSEngine(spark, index_root=str(tmp_path / "warn"))
    eng.register_table("t", head)
    eng.create_index("w_idx", "t", "embedding", "vec_id", options={"tail_max_rows": 12})
    idx = eng.catalog.get("w_idx")
    idx.insert(tail1, "embedding", "vec_id")  # 10 rows: under the bound
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        idx.insert(tail2, "embedding", "vec_id")  # 20 total: over
    assert any("tail_max_rows" in str(w.message) for w in rec)

    eng2 = VSSEngine(spark, index_root=str(tmp_path / "auto"))
    eng2.register_table("t2", head)
    eng2.create_index(
        "a_idx", "t2", "embedding", "vec_id",
        options={"tail_max_rows": 12, "tail_policy": "compact"},
    )
    idx2 = eng2.catalog.get("a_idx")
    idx2.insert(tail1, "embedding", "vec_id")
    idx2.insert(tail2, "embedding", "vec_id")  # crosses the bound -> auto-fold
    assert idx2.tail_df(spark) is None  # folded
    assert idx2.counts(spark)["live"] == 60
    # the same (in-place rebuilt) handle searches exactly at full probe
    got = [r["id"] for r in idx2.search(spark, Q, 5, ef_search=256).collect()]
    exact = topk(emb, "embedding", Q, 5, "l2sq", tiebreak="vec_id").collect()
    assert got == [r["vec_id"] for r in exact]


def test_compact_incremental(spark, tmp_path):
    """Incremental compact (round 5): the tail folds into a committed delta
    in O(tail) — searches then read base+delta with identical results to a
    full-probe brute scan; a second fold stacks a second delta; a full
    compact absorbs everything back into one version."""
    emb = emb_df(spark)
    eng = VSSEngine(spark, index_root=str(tmp_path / "inc"))
    eng.register_table("t", emb.filter("vec_id >= 100"))
    eng.create_index("inc_idx", "t", "embedding", "vec_id", replace=True)
    idx = eng.catalog.get("inc_idx")
    idx.insert(emb.filter("vec_id < 50"), "embedding", "vec_id")
    idx = eng.compact_index("inc_idx", incremental=True)
    assert idx.tail_df(spark) is None
    assert idx.manifest["deltas"] == ["delta-000001"]
    assert idx.counts(spark)["live"] == 450

    def full_probe_ids(k):
        return [r["id"] for r in idx.search(spark, Q, k, ef_search=10**6).collect()]

    exact = topk(emb.filter("vec_id >= 100 or vec_id < 50"), "embedding", Q, 8, "l2sq", tiebreak="vec_id")
    assert full_probe_ids(8) == [r["vec_id"] for r in exact.collect()]

    # second fold stacks delta-000002; partial probe exercises the
    # explicit-subdir multi-dir read
    idx.insert(emb.filter("vec_id >= 50 and vec_id < 100"), "embedding", "vec_id")
    idx = eng.compact_index("inc_idx", incremental=True)
    assert idx.manifest["deltas"] == ["delta-000001", "delta-000002"]
    assert idx.counts(spark)["live"] == 500
    assert len([r["id"] for r in idx.search(spark, Q, 5).collect()]) == 5
    exact_all = topk(emb, "embedding", Q, 8, "l2sq", tiebreak="vec_id")
    assert full_probe_ids(8) == [r["vec_id"] for r in exact_all.collect()]

    # full compact absorbs base + deltas + tombstones into a new version
    idx.delete(spark, [7])
    idx = eng.compact_index("inc_idx")
    assert not idx.manifest.get("deltas")
    assert idx.counts(spark)["live"] == 499
    got = full_probe_ids(8)
    assert 7 not in got


def test_compact_incremental_pq(spark, tmp_path):
    """PQ artifacts fold incrementally too: delta rows carry codes encoded
    against the EXISTING codebooks, so the ADC scan covers them."""
    emb = emb_df(spark)
    eng = VSSEngine(spark, index_root=str(tmp_path / "incpq"))
    eng.register_table("t", emb.filter("vec_id >= 100"))
    eng.create_index("pq_idx", "t", "embedding", "vec_id", options={"pq_m": 8}, replace=True)
    idx = eng.catalog.get("pq_idx")
    idx.insert(emb.filter("vec_id < 100"), "embedding", "vec_id")
    idx = eng.compact_index("pq_idx", incremental=True)
    assert idx.tail_df(spark) is None
    got = [r["id"] for r in idx.search(spark, Q, 8, ef_search=10**6).collect()]
    exact = topk(emb, "embedding", Q, 8, "l2sq", tiebreak="vec_id").collect()
    assert got == [r["vec_id"] for r in exact]


def test_indexed_join_drops_tombstones_before_every_kernel(spark, tmp_path, monkeypatch):
    """Every index-join shape returns the exact join over the live rows it
    searches (its probes' lists and the tail) after the two nearest rows of
    each probe are deleted, one in the data and one in the tail: the masked
    kernel (ef 8), the coverage reroute (full probe), the cell-cogroup path
    (ef 8), the PQ codes-only kernel and the graph backend (full probe)."""
    from duckdb_vss_spark.index.hnsw import build_graph
    from duckdb_vss_spark.index.ivf import build_ivf

    pdf = emb_df(spark).toPandas()
    base_ids, vecs = pdf["vec_id"].to_numpy(), np.stack(pdf["embedding"]).astype(np.float32)
    frame = lambda ids, v: spark.createDataFrame(
        [(int(i), x.tolist()) for i, x in zip(ids, v)], "id long, vec array<float>"
    )
    # a near copy of each probe in the tail: with the probe's own row, its
    # two nearest rows
    probe_ids = np.array([0, 1, 2])
    tail_ids, tail_vecs = probe_ids + 1000, vecs[probe_ids] + np.float32(1e-3)
    gone = [*probe_ids.tolist(), *tail_ids.tolist()]
    probes = frame(probe_ids, vecs[probe_ids]).withColumnRenamed("id", "qid")

    def index(build, name, **kw):
        idx = build(frame(base_ids, vecs), "vec", "id", str(tmp_path / name), **kw)
        idx.insert(frame(tail_ids, tail_vecs), "vec", "id")
        idx.delete(spark, gone)
        return idx

    def want(ef=None):
        """Per probe, the exact top-k ids over the live rows; with ``ef``,
        over the live tail and those of its lists ``flat`` probes."""
        lists = flat.data_df(spark).select("id", "list_id").toPandas()
        list_of = dict(zip(lists["id"], lists["list_id"]))
        out = []
        for q in vecs[probe_ids].astype(np.float64):
            probed = set(flat.probe_lists(q.tolist(), flat.nprobe_for(ef))) if ef else set(list_of.values())
            ids = np.array(
                [i for i in base_ids if i not in gone and list_of[i] in probed] + [i for i in tail_ids if i not in gone]
            )
            v = np.concatenate([vecs, tail_vecs])[np.where(ids >= 1000, ids - 1000 + len(vecs), ids)]
            d = ((v.astype(np.float64) - q) ** 2).sum(1)
            out.append(ids[np.lexsort((ids, d))[:K]].tolist())
        return out

    def got(idx, ef):
        rows = knn_join_flat_indexed(probes, idx, "vec", K, "qid", ef_search=ef).collect()
        rows = sorted(rows, key=lambda r: (r["qid"], r["rnk"]))
        return [[r["rid"] for r in rows if r["qid"] == q] for q in probe_ids]

    flat = index(build_ivf, "flat")
    masked_lists = {l for q in vecs[probe_ids] for l in flat.probe_lists(q.tolist(), flat.nprobe_for(8))}
    assert len(masked_lists) < 0.5 * flat.nlist  # ef 8 takes the masked kernel, not the reroute
    assert want(8) != want()  # the probed lists matter at ef 8
    assert got(flat, 8) == want(8)
    assert got(flat, FULL) == want()
    monkeypatch.setattr(knn_mod, "DISTRIBUTED_MIN_PROBES", 1)
    assert got(flat, 8) == want(8)
    monkeypatch.undo()
    # a shortlist of k * 200 rows holds every row: the codes pick, the
    # exact re-rank decides
    pq = index(build_ivf, "pq", options={"pq_m": 8, "pq_rerank": 200})
    assert got(pq, FULL) == want()
    graph = index(build_graph, "graph")
    assert got(graph, FULL) == want()
    # an id deleted twice joins the tombstones twice; the graph kernels drop
    # the repeated shard row, so the walk is the once-deleted twin's
    twice = index(build_graph, "graph_twice")
    twice.delete(spark, gone[:1] + gone[-1:])
    assert got(twice, FULL) == want()
    assert got(twice, 8) == got(graph, 8)
    assert [r["id"] for r in twice.search(spark, vecs[0].tolist(), K, 8).collect()] == [
        r["id"] for r in graph.search(spark, vecs[0].tolist(), K, 8).collect()
    ]


# -- the write protocol: one manifest commit per write ----------------------
#
# Inserts and deletes commit segments the manifest names, compacts commit in
# one manifest write, and every handle re-reads the manifest before a write
# or a public read. The model tests below check search and index-join rows
# against a numpy model of the live rows at full probe (random float32
# vectors, so no scores tie), on a handle that ran every write and on one
# opened apart from it.

DIM, K, FULL = 8, 5, 10**6


class _Model:
    """An index beside a numpy model of its live rows (id -> f32 vector).
    ``writer`` runs every write and is never replaced, even by a full
    compact; ``reader`` is a second handle that :meth:`reopen` replaces.
    Row ids are never reused, as reference row ids are not."""

    def __init__(self, spark, path, backend="ivf", seed=0, n=120):
        from duckdb_vss_spark.index.hnsw import build_graph
        from duckdb_vss_spark.index.ivf import build_ivf

        self.spark, self.path, self.backend = spark, path, backend
        self.rng = np.random.default_rng(seed)
        self.live, self.next_id = {}, 0
        build = build_graph if backend == "hnsw" else build_ivf
        self.writer = build(self.fresh(n), "vec", "id", path)
        self.reopen()

    def fresh(self, n):
        """``n`` new rows (id long, vec array<float>), added to the model."""
        ids = range(self.next_id, self.next_id + n)
        self.next_id += n
        vec = self.rng.standard_normal((n, DIM)).astype(np.float32)
        self.live.update(zip(ids, vec))
        return self.spark.createDataFrame([(i, v.tolist()) for i, v in zip(ids, vec)], "id long, vec array<float>")

    def reopen(self):
        from duckdb_vss_spark.index.hnsw import GraphIndex
        from duckdb_vss_spark.index.ivf import IVFIndex

        self.reader = (GraphIndex if self.backend == "hnsw" else IVFIndex)(self.path, self.spark)

    def insert(self, n):
        self.writer.insert(self.fresh(n), "vec", "id")

    def delete(self, n):
        gone = [int(i) for i in self.rng.choice(sorted(self.live), n, replace=False)]
        self.writer.delete(self.spark, gone)
        for i in gone:
            del self.live[i]

    def delete_nearest(self, n=3):
        """Delete the ``n`` nearest live rows of the next query and return
        that query: every index read must still return k live rows."""
        q = self.queries(1)[0]
        gone = self.exact(q, n)
        self.writer.delete(self.spark, gone)
        for i in gone:
            del self.live[i]
        return q

    def compact(self, incremental):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # the graph backend folds in full
            if incremental:
                self.writer.compact_incremental(self.spark)
            else:
                self.writer.compact(self.spark)

    def exact(self, q, k=K):
        ids = np.array(sorted(self.live))
        d = ((np.stack([self.live[i] for i in ids]).astype(np.float64) - q) ** 2).sum(1)
        return ids[np.lexsort((ids, d))[:k]].tolist()

    def queries(self, n=3):
        return self.rng.standard_normal((n, DIM)).astype(np.float32)

    def search(self, q=None):
        q = self.queries(1)[0] if q is None else q
        for idx in (self.writer, self.reader):
            got = [r["id"] for r in idx.search(self.spark, q.tolist(), K, FULL).collect()]
            assert got == self.exact(q), idx.last_source

    def join(self, qs=None):
        qs = self.queries() if qs is None else qs
        probes = self.spark.createDataFrame([(j, q.tolist()) for j, q in enumerate(qs)], "qid long, v array<float>")
        for idx in (self.writer, self.reader):
            rows = sorted(knn_join_flat_indexed(probes, idx, "v", K, "qid", ef_search=FULL).collect(), key=lambda r: (r["qid"], r["rnk"]))
            got = [[r["rid"] for r in rows if r["qid"] == j] for j in range(len(qs))]
            assert got == [self.exact(q) for q in qs], idx.last_source

    def answers(self, idx):
        """Full-probe search and join rows and counts of ``idx``, at fixed
        queries."""
        qs = np.random.default_rng(99).standard_normal((2, DIM)).astype(np.float32)
        probes = self.spark.createDataFrame([(j, q.tolist()) for j, q in enumerate(qs)], "qid long, v array<float>")
        search = [tuple(r) for r in idx.search(self.spark, qs[0].tolist(), K, FULL).collect()]
        join = sorted(tuple(r) for r in knn_join_flat_indexed(probes, idx, "v", K, "qid", ef_search=FULL).collect())
        return search, join, idx.counts(self.spark)


@pytest.mark.parametrize("backend,budget", [("ivf", None), ("ivf", 0), ("hnsw", None)])
def test_index_writes_match_numpy_model(spark, tmp_path, monkeypatch, backend, budget):
    """A fixed sequence of every write, each followed by full-probe searches
    and joins on the writing handle and on a second handle, equal to the
    model's exact top-k: IVF served resident and from parquet (budget 0),
    and the graph backend. One step deletes the next query's nearest rows,
    so a read that drops tombstones after its top-k cut returns fewer than
    k rows."""
    if budget is not None:
        monkeypatch.setattr(knn_mod, "RESIDENT_BYTES_BUDGET", budget)
    m = _Model(spark, str(tmp_path / "idx"), backend)
    m.search()
    m.insert(20)
    m.join()
    m.delete(7)
    m.search()
    m.compact(incremental=True)
    m.join()
    m.insert(15)
    m.delete(5)
    m.reopen()
    m.search()
    q = m.delete_nearest(3)
    m.search(q)
    m.join(q[None, :])
    m.compact(incremental=False)
    m.search()
    m.join()
    assert m.reader.counts(spark)["live"] == len(m.live)


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
@pytest.mark.parametrize("budget", [None, 0])
def test_index_writes_match_numpy_model_stateful(spark, tmp_path_factory, monkeypatch, budget):
    """Random sequences of create, insert, delete (of random rows and of a
    query's nearest rows), full and incremental compact, search, join and
    reopen, on IVF and graph indexes, checked
    against the numpy model; resident serving on and off (budget 0)."""
    from hypothesis import HealthCheck, settings
    from hypothesis import strategies as st
    from hypothesis.stateful import RuleBasedStateMachine, initialize, precondition, rule, run_state_machine_as_test

    if budget is not None:
        monkeypatch.setattr(knn_mod, "RESIDENT_BYTES_BUDGET", budget)

    class Ops(RuleBasedStateMachine):
        @initialize(backend=st.sampled_from(["ivf", "hnsw"]), seed=st.integers(0, 2**16), n=st.integers(K + 20, 150))
        def create(self, backend, seed, n):
            self.m = _Model(spark, str(tmp_path_factory.mktemp("model")), backend, seed, n)

        @rule(n=st.integers(1, 30))
        def insert(self, n):
            self.m.insert(n)

        @precondition(lambda self: len(self.m.live) > K + 10)
        @rule(n=st.integers(1, 10))
        def delete(self, n):
            self.m.delete(n)

        @precondition(lambda self: len(self.m.live) > K + 10)
        @rule()
        def delete_nearest(self):
            q = self.m.delete_nearest(3)
            self.m.search(q)
            self.m.join(q[None, :])

        @rule(incremental=st.booleans())
        def compact(self, incremental):
            self.m.compact(incremental)

        @rule()
        def reopen(self):
            self.m.reopen()

        @rule()
        def search(self):
            self.m.search()

        @rule()
        def join(self):
            self.m.join()

    run_state_machine_as_test(
        Ops,
        settings=settings(
            max_examples=6, stateful_step_count=10, deadline=None, database=None,
            suppress_health_check=list(HealthCheck),
        ),
    )


def _dirs(root):
    """Every directory under ``root``, relative to it."""
    return sorted(os.path.relpath(os.path.join(r, d), root) for r, ds, _ in os.walk(root) for d in ds)


def test_write_crash_before_commit_changes_nothing(spark, tmp_path, monkeypatch):
    """A commit that raises leaves the index as it was: a fresh handle and
    the handle that crashed answer exactly as before, for insert, delete,
    incremental and full compact, and ``vacuum()`` then leaves exactly the
    dirs of the crash-free state. Run for real afterwards, each of the four
    writes commits the manifest exactly once."""
    from duckdb_vss_spark.index import fs
    from duckdb_vss_spark.index.ivf import IVFIndex

    m = _Model(spark, str(tmp_path / "idx"))
    m.insert(10)
    m.delete(3)
    idx = m.writer
    before = m.answers(IVFIndex(m.path, spark))
    dirs = _dirs(m.path)
    ops = {
        "insert": lambda: idx.insert(m.fresh(4), "vec", "id"),
        "delete": lambda: idx.delete(spark, [int(i) for i in sorted(m.live)[:2]]),
        "compact_incremental": lambda: idx.compact_incremental(spark),
        "compact": lambda: idx.compact(spark),
    }
    write_json, commits = fs.write_json, []

    def failing_commit(s, path, obj):
        if path.endswith("manifest.json"):
            raise OSError("commit lost")
        write_json(s, path, obj)

    for name, op in ops.items():
        with monkeypatch.context() as p:
            p.setattr(fs, "write_json", failing_commit)
            with pytest.raises(OSError, match="commit lost"):
                op()
        assert m.answers(IVFIndex(m.path, spark)) == before, name
        assert m.answers(idx) == before, name
    assert _dirs(m.path) != dirs
    assert idx.vacuum()
    assert _dirs(m.path) == dirs
    assert m.answers(IVFIndex(m.path, spark)) == before

    monkeypatch.setattr(fs, "write_json", lambda s, path, obj: commits.append(path) or write_json(s, path, obj))
    for name, op in ops.items():
        commits.clear()
        op()
        assert [c for c in commits if c.endswith("manifest.json")] == [fs.join(m.path, "manifest.json")], name


@pytest.mark.parametrize("first_write", ["empty insert", "insert crash", "delete crash"])
def test_first_write_after_build_leaves_index_openable(spark, tmp_path, monkeypatch, first_write):
    """The first write on a fresh build (whose manifest has no segment
    counter yet) that commits nothing, an empty insert or a commit that
    raises, leaves only an orphan segment dir: a new handle opens the index
    and answers as before."""
    from duckdb_vss_spark.index import fs
    from duckdb_vss_spark.index.ivf import IVFIndex

    m = _Model(spark, str(tmp_path / "idx"), n=40)
    before = m.answers(m.reader)

    def failing_commit(s, path, obj):
        raise OSError("commit lost")

    if first_write == "empty insert":
        m.writer.insert(m.fresh(0), "vec", "id")
    else:
        monkeypatch.setattr(fs, "write_json", failing_commit)
        with pytest.raises(OSError, match="commit lost"):
            if first_write == "insert crash":
                m.writer.insert(m.fresh(3), "vec", "id")
            else:
                m.writer.delete(spark, [0, 1])
        monkeypatch.undo()
    assert m.answers(IVFIndex(m.path, spark)) == before


def test_incremental_compact_crash_after_commit_keeps_rows(spark, tmp_path, monkeypatch):
    """A crash between the fold's commit and the removal of the folded tail
    segments: a fresh handle shows the fold (no tail, the rows counted in
    the base) and every live row exactly once, and ``vacuum()`` leaves
    exactly the dirs of a crash-free run."""
    from duckdb_vss_spark.index import fs
    from duckdb_vss_spark.index.ivf import IVFIndex

    def lost_cleanup(*_):
        raise OSError("cleanup lost")

    m = _Model(spark, str(tmp_path / "idx"), n=60)
    m.insert(25)
    with monkeypatch.context() as p:
        p.setattr(fs, "delete", lost_cleanup)
        with pytest.raises(OSError, match="cleanup lost"):
            m.writer.compact_incremental(spark)
    fresh = IVFIndex(m.path, spark)
    assert fresh.counts(spark) == {"base": 85, "tail": 0, "deleted": 0, "live": 85}
    q = m.queries(1)[0]
    got = [r["id"] for r in fresh.search(spark, q.tolist(), 85, FULL).collect()]
    assert got == m.exact(q, 85)
    m.search(q)

    clean = _Model(spark, str(tmp_path / "clean"), n=60)
    clean.insert(25)
    clean.writer.compact_incremental(spark)
    assert _dirs(m.path) != _dirs(clean.path)
    assert fresh.vacuum() == [f"{fresh.version}/tail/snap-000000"]
    assert _dirs(m.path) == _dirs(clean.path)
    assert [r["id"] for r in fresh.search(spark, q.tolist(), 85, FULL).collect()] == got


def test_full_compact_crash_after_commit_keeps_rows(spark, tmp_path, monkeypatch):
    """A crash between a full compact's commit and the removal of the old
    version dir: a fresh handle serves the new version with every live row
    exactly once, and ``vacuum()`` removes the old version, leaving exactly
    the dirs of a crash-free run."""
    from duckdb_vss_spark.index import fs
    from duckdb_vss_spark.index.ivf import IVFIndex

    def lost_cleanup(*_):
        raise OSError("cleanup lost")

    def run(path, crash):
        m = _Model(spark, path, n=60)
        m.insert(10)
        m.delete(4)
        with monkeypatch.context() as p:
            if crash:
                p.setattr(fs, "delete", lost_cleanup)
                with pytest.raises(OSError, match="cleanup lost"):
                    m.writer.compact(spark)
            else:
                m.writer.compact(spark)
        return m

    m, clean = run(str(tmp_path / "idx"), True), run(str(tmp_path / "clean"), False)
    fresh = IVFIndex(m.path, spark)
    assert fresh.version == "v000002" and fresh.counts(spark) == {"base": 66, "tail": 0, "deleted": 0, "live": 66}
    q = m.queries(1)[0]
    got = [r["id"] for r in fresh.search(spark, q.tolist(), 66, FULL).collect()]
    assert got == m.exact(q, 66)
    assert "v000001" in _dirs(m.path)
    assert fresh.vacuum() == ["v000001"]
    assert _dirs(m.path) == _dirs(clean.path)
    assert [r["id"] for r in fresh.search(spark, q.tolist(), 66, FULL).collect()] == got
    m.search(q)


@pytest.mark.parametrize("backend", ["ivf", "hnsw"])
def test_rebuild_is_the_same_under_any_root(spark, tmp_path, backend):
    """The same write sequence (insert, incremental compact, insert,
    delete, full compact) under three index roots gives equal centroids,
    manifests and ef-16 search rows: the full compact's k-means takes its
    rows in id order, not in the file-scan order that follows the paths."""
    from duckdb_vss_spark.index.hnsw import build_graph
    from duckdb_vss_spark.index.ivf import build_ivf

    build = build_graph if backend == "hnsw" else functools.partial(build_ivf, nlist=24)
    rng = np.random.default_rng(3)
    vec = rng.standard_normal((600, DIM)).astype(np.float32)
    rows = lambda lo, hi: spark.createDataFrame(
        [(i, vec[i].tolist()) for i in range(lo, hi)], "id long, vec array<float>"
    )
    qs = rng.standard_normal((4, DIM)).tolist()
    out = []
    for root in ("a", "index-b", "c/deeper/root"):
        idx = build(rows(0, 400), "vec", "id", str(tmp_path / root))
        idx.insert(rows(400, 500), "vec", "id")
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # the graph backend folds in full
            idx = idx.compact_incremental(spark)
        idx.insert(rows(500, 600), "vec", "id")
        idx.delete(spark, list(range(0, 600, 7)))
        new = idx.compact(spark)
        out.append((
            new.centroids.tobytes(),
            new.manifest,
            [[tuple(r) for r in new.search(spark, q, K, 16).collect()] for q in qs],
        ))
    assert out[0] == out[1] == out[2]


def test_second_handle_sees_other_handles_writes(spark, tmp_path):
    """Handle B queries first; handle A then inserts and deletes. B's next
    search and join return the new row and none of the deleted ids."""
    m = _Model(spark, str(tmp_path / "idx"))
    b = m.reader
    qs = m.queries(2)
    gone = m.exact(qs[1])[:3]
    probes = spark.createDataFrame([(j, q.tolist()) for j, q in enumerate(qs)], "qid long, v array<float>")
    assert [r["id"] for r in b.search(spark, qs[1].tolist(), K, FULL).collect()][:3] == gone
    knn_join_flat_indexed(probes, b, "v", K, "qid", ef_search=FULL).collect()

    new_id = m.next_id
    m.writer.insert(spark.createDataFrame([(new_id, qs[0].tolist())], "id long, vec array<float>"), "vec", "id")
    m.live[new_id], m.next_id = qs[0], new_id + 1
    m.writer.delete(spark, gone)
    for i in gone:
        del m.live[i]

    got = [r["id"] for r in b.search(spark, qs[0].tolist(), K, FULL).collect()]
    assert got[0] == new_id and got == m.exact(qs[0])
    rows = knn_join_flat_indexed(probes, b, "v", K, "qid", ef_search=FULL).collect()
    assert not set(gone) & {r["rid"] for r in rows}
    assert sorted(r["rid"] for r in rows if r["qid"] == 0) == sorted(m.exact(qs[0]))
    assert sorted(r["rid"] for r in rows if r["qid"] == 1) == sorted(m.exact(qs[1]))


@pytest.mark.parametrize("kind", ["tail", "deleted"])
def test_loose_tail_or_tombstone_files_are_refused(spark, tmp_path, kind):
    """An artifact whose tail or tombstones are loose parquet files that no
    manifest entry names (the layout before manifest-committed segments)
    is refused with an error that says how to fold them, rather than opened
    without those rows."""
    from duckdb_vss_spark.index import fs
    from duckdb_vss_spark.index.ivf import IVFIndex

    m = _Model(spark, str(tmp_path / "idx"), n=40)
    loose = fs.join(m.writer.vpath, kind)
    spark.createDataFrame([(999, [0.0] * DIM)], "id long, vec array<float>").write.parquet(loose)
    with pytest.raises(ValueError, match=r"compact\(\)"):
        IVFIndex(m.path, spark)
    fs.delete(spark, loose)
    assert IVFIndex(m.path, spark).counts(spark)["live"] == 40


@pytest.mark.parametrize("id_t", ["int", "string"])
def test_delete_runs_no_spark_job(spark, tmp_path, id_t):
    """A delete's tombstone segment is written by the driver: no Spark job
    runs, the segment reads back with the index's id type, and a fresh
    handle counts the ids as deleted and never returns them."""
    from duckdb_vss_spark.index.ivf import IVFIndex, build_ivf

    vec = np.random.default_rng(3).standard_normal((40, DIM)).astype(np.float32)
    rows = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(vec)], "id long, vec array<float>")
    idx = build_ivf(rows.select(F.col("id").cast(id_t).alias("id"), "vec"), "vec", "id", str(tmp_path / "idx"), nlist=4)
    gone = [i if id_t == "int" else str(i) for i in (0, 7)]
    sc = spark.sparkContext
    try:
        sc.setJobGroup("driver-delete", "driver-delete")
        idx.delete(spark, gone)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("driver-delete")) == 0
    (seg,) = idx._segment_paths("deleted")
    tomb = spark.read.parquet(seg)
    assert tomb.dtypes == [("id", id_t)] and sorted(r.id for r in tomb.collect()) == sorted(gone)
    fresh = IVFIndex(idx.path, spark)
    assert fresh.counts(spark)["deleted"] == 2
    hits = [r["id"] for r in fresh.search(spark, vec[0].tolist(), K, FULL).collect()]
    assert len(hits) == K and not set(hits) & set(gone)


def test_inserted_doubles_score_as_stored_f32(spark, emb, tmp_path):
    """Inserted rows are cast to the data layout as the build casts them:
    rows inserted from an array<double> column (vectors + 1e-9) score the
    same in the point search as in the index join, bit for bit."""
    from duckdb_vss_spark.index.ivf import build_ivf

    idx = build_ivf(emb.filter("vec_id >= 100"), "embedding", "vec_id", str(tmp_path / "idx"))
    doubles = F.transform(F.col("embedding").cast("array<double>"), lambda x: x + F.lit(1e-9))
    idx.insert(emb.filter("vec_id < 100").select("vec_id", doubles.alias("embedding")), "embedding", "vec_id")
    probes = emb.filter(F.col("vec_id").isin(3, 42, 150)).select("vec_id", "embedding")
    join = knn_join_flat_indexed(probes, idx, "embedding", K, "vec_id", ef_search=FULL).collect()
    bits = lambda pairs: [(i, np.float64(s).view(np.int64)) for i, s in pairs]
    for p in probes.collect():
        got = idx.search(spark, [float(x) for x in p["embedding"]], K, FULL).collect()
        want = sorted((r for r in join if r["qid"] == p["vec_id"]), key=lambda r: r["rnk"])
        assert got[0]["id"] == p["vec_id"]
        assert bits((r["id"], r["score"]) for r in got) == bits((r["rid"], r["score"]) for r in want)
