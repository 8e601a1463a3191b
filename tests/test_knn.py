"""knn_join / knn_match vs duckdb oracle and the reference macro contracts
(reference: test/sql/hnsw/hnsw_join_macro.test)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark import knn_join, knn_join_flat, knn_match

ORACLE_FLAT = """
WITH j AS (
  SELECT q.vec_id AS qid, i.vec_id AS rid,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_distance(q.embedding::DOUBLE[], i.embedding::DOUBLE[]) {dirn}, i.vec_id
         ) AS rnk,
         list_distance(q.embedding::DOUBLE[], i.embedding::DOUBLE[])::FLOAT AS score
  FROM embeddings q, embeddings i WHERE q.vec_id < 10
)
SELECT qid, rid, rnk, score FROM j WHERE rnk <= 3 ORDER BY qid, rnk
"""


@pytest.mark.parametrize("method", ["kernel", "crossjoin"])
def test_knn_join_flat_matches_duckdb(spark, ddb, emb, method):
    probes = emb.filter(F.col("vec_id") < 10)
    ours = sorted(
        (r["qid"], r["rid"], r["rnk"], float(F_cast(r["score"])))
        for r in knn_join_flat(
            probes, emb, "embedding", "embedding", 3, "l2sq",
            left_id="vec_id", right_id="vec_id", method=method,
        ).collect()
    )
    oracle = sorted(
        (qid, rid, rnk, score)
        for qid, rid, rnk, score in ddb.execute(ORACLE_FLAT.format(dirn="ASC")).fetchall()
    )
    assert [(a, b, c) for a, b, c, _ in ours] == [(a, b, c) for a, b, c, _ in oracle]
    for (_, _, _, s1), (_, _, _, s2) in zip(ours, oracle):
        assert abs(s1 - s2) < 1e-5


def F_cast(x):
    import numpy as np

    return np.float32(x)


def test_knn_join_structs_shape(spark, emb):
    """vss_join output shape: (score FLOAT, left_tbl STRUCT, right_tbl STRUCT)
    (reference: src/hnsw/hnsw_index_macros.cpp:9-16)."""
    probes = emb.filter(F.col("vec_id") < 3)
    out = knn_join(probes, emb, "embedding", "embedding", 3, "l2sq", left_id="vec_id", right_id="vec_id")
    assert [f.name for f in out.schema.fields] == ["score", "left_tbl", "right_tbl"]
    rows = out.collect()
    assert len(rows) == 9  # 3 probes x k=3
    # self-join: best match of each probe is itself at distance 0
    best = {r["left_tbl"]["vec_id"]: r for r in rows if r["score"] == 0.0}
    assert set(best) == {0, 1, 2}


def test_knn_match_shape(spark, emb):
    """vss_match: one row per probe, matches = LIST<STRUCT{score,row}> best-first
    with len(matches) = k (reference: test/sql/hnsw/hnsw_join_macro.test:30-33)."""
    probes = emb.filter(F.col("vec_id") < 5)
    out = knn_match(probes, emb, "embedding", "embedding", 3, "l2sq", left_id="vec_id", right_id="vec_id")
    rows = out.collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r["matches"]) == 3
        assert r["matches"][0]["row"]["vec_id"] == r["vec_id"]  # self is nearest
        scores = [m["score"] for m in r["matches"]]
        assert scores == sorted(scores)


def test_knn_join_cosine_polarity(spark, emb):
    probes = emb.filter(F.col("vec_id") < 3)
    out = knn_join_flat(
        probes, emb, "embedding", "embedding", 2, "cosine", left_id="vec_id", right_id="vec_id"
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append((r["rnk"], r["score"]))
    for q, lst in by_q.items():
        lst.sort()
        assert lst[0][1] >= lst[1][1]  # similarity descending
        assert abs(lst[0][1] - 1.0) < 1e-9  # self-similarity


def test_knn_join_string_ids(spark, emb):
    """A string-typed right id column must flow through the GEMM kernel
    (object-dtype rid buffer) instead of crashing on the int64 sentinel."""
    from duckdb_vss_spark import knn_join_flat
    from pyspark.sql import functions as F

    items = emb.select(F.concat(F.lit("doc-"), F.col("vec_id")).alias("sid"), "embedding")
    probes = emb.filter(F.col("vec_id") < 3)
    out = knn_join_flat(
        probes, items, "embedding", "embedding", 2, "l2sq", left_id="vec_id", right_id="sid"
    ).collect()
    assert len(out) == 6
    best = {r["qid"]: r["rid"] for r in out if r["rnk"] == 1}
    assert best == {0: "doc-0", 1: "doc-1", 2: "doc-2"}  # self-match at distance 0


def test_indexed_join_probe_limit_fallback(spark, emb, tmp_path):
    """A probe side above the broadcast limit must take the distributed
    exact plan over live index rows (no unbounded driver collect) and still
    return correct results."""
    from duckdb_vss_spark import VSSEngine, knn_join_flat
    from duckdb_vss_spark.operators.knn import knn_join_flat_indexed
    from pyspark.sql import functions as F

    eng = VSSEngine(spark, index_root=str(tmp_path))
    eng.register_table("fb", emb)
    eng.create_index("fb_idx", "fb", "embedding", "vec_id")
    idx = eng.catalog.get("fb_idx")
    probes = emb.filter(F.col("vec_id") < 20)
    got = knn_join_flat_indexed(
        probes, idx, "embedding", 3, "vec_id", ef_search=10**6, broadcast_probe_limit=5
    ).collect()
    want = knn_join_flat(
        probes, emb, "embedding", "embedding", 3, "l2sq", left_id="vec_id", right_id="vec_id"
    ).collect()
    key = lambda rows: sorted((r["qid"], r["rnk"], r["rid"]) for r in rows)
    assert key(got) == key(want)


def test_indexed_join_distributed_matches_broadcast(spark, tmp_path):
    """The fully distributed cell-cogroup indexed join (probe side too big
    to broadcast) must return byte-for-byte what the broadcast-kernel path
    returns at the same ef — same probe sets (shared nearest_cells rule),
    bit-identical exact scores (the JVM rescore there, the kernel's
    paired_exact_scores here), same rid tiebreak. Exercised with a tail insert
    and a deletion so every side channel is covered."""
    from duckdb_vss_spark import VSSEngine
    from duckdb_vss_spark.operators.knn import knn_join_flat_indexed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eng = VSSEngine(spark, index_root=str(tmp_path / "dj"))
    eng.register_table("emb_dj", emb.filter("vec_id >= 30"))
    eng.create_index("dj_idx", "emb_dj", "embedding", "vec_id", replace=True)
    idx = eng.catalog.get("dj_idx")
    idx.insert(emb.filter("vec_id < 30"), "embedding", "vec_id")  # tail
    idx.delete(spark, [35, 40, 3])  # base + tail deletions

    probes = emb.filter("vec_id < 5")
    key = lambda r: (r["qid"], r["rnk"])
    for ef in (8, 256):
        a = knn_join_flat_indexed(probes, idx, "embedding", 4, "vec_id", ef_search=ef).collect()
        b = knn_join_flat_indexed(
            probes, idx, "embedding", 4, "vec_id", ef_search=ef, broadcast_probe_limit=2
        ).collect()
        assert sorted(a, key=key) == sorted(b, key=key), ef
        assert not {35, 40, 3} & {r["rid"] for r in b}

    # zero-norm cosine leg: a zero row has no cosine score (NaN in the
    # kernels, NULL or an ANSI error in the JVM), so no path may return it.
    # k reaches every live row, so the zero row survives its cell's cut and
    # every per-probe window after it.
    zero = spark.createDataFrame([(999_999, [0.0] * 64)], "vec_id bigint, embedding array<float>")
    eng.register_table("emb_z", emb.filter("vec_id >= 30").select("vec_id", "embedding").unionByName(zero))
    eng.create_index("z_idx", "emb_z", "embedding", "vec_id", options={"metric": "cosine"}, replace=True)
    zidx = eng.catalog.get("z_idx")
    zidx.insert(emb.filter("vec_id < 30"), "embedding", "vec_id")
    zidx.delete(spark, [35, 40, 3])
    k = zidx.counts(spark)["live"]
    for ef in (8, 256):
        a = knn_join_flat_indexed(probes, zidx, "embedding", k, "vec_id", ef_search=ef).collect()
        b = knn_join_flat_indexed(
            probes, zidx, "embedding", k, "vec_id", ef_search=ef, broadcast_probe_limit=2
        ).collect()
        assert sorted(a, key=key) == sorted(b, key=key), ef
        assert not {999_999, 35, 40, 3} & {r["rid"] for r in b}, ef
    assert len(b) == 5 * (k - 1)  # full probe: every live row but the zero one

    # the graph backend's join follows the same rule at full ef, against the
    # exact join over the same rows. Its navigation score clamps the zero
    # row's norm to a finite 1.0 (an orthogonal row's cosine distance), so
    # at 3/4 of the rows the zero row sits inside the one shard's cut and
    # must not take a scorable row's slot there either
    allz = emb.select("vec_id", "embedding").unionByName(zero)
    eng.register_table("emb_zg", allz)
    eng.create_index(
        "zg_idx", "emb_zg", "embedding", "vec_id",
        options={"metric": "cosine", "index_type": "hnsw"}, replace=True,
    )
    gidx = eng.catalog.get("zg_idx")
    n = gidx.counts(spark)["live"]
    flat = lambda rows: sorted((r["qid"], r["rnk"], r["rid"], r["score"]) for r in rows)  # noqa: E731
    for kk in (n, 3 * n // 4):
        got = knn_join_flat_indexed(probes, gidx, "embedding", kk, "vec_id", ef_search=10**6).collect()
        want = knn_join_flat(
            probes, allz, "embedding", "embedding", kk, "cosine", left_id="vec_id", right_id="vec_id"
        ).collect()
        assert flat(got) == flat(want), kk
        assert len(got) == 5 * min(kk, n - 1), kk
