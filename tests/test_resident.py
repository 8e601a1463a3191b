"""Resident serving: a small unquantized IVF index answers point queries and
index joins from a copy of its rows held on the handle. These tests pin that
the copy returns exactly what the parquet / Spark-kernel paths return (the
budget forced to 0 selects those paths), and the handle contract: a tail or
tombstones send every call to parquet, a committed delta is read alone, a
new handle sees earlier commits, and drop / compact release the copy."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from duckdb_vss_spark import VSSEngine
from duckdb_vss_spark.operators import knn
from duckdb_vss_spark.operators.knn import knn_join_flat_indexed

METRICS = ("l2sq", "cosine", "ip")
FULL_PROBE = 10**6


def _bits(rows, *cols):
    """Rows as tuples with every float replaced by its IEEE bit pattern, so
    equality is bitwise."""
    out = []
    for r in rows:
        out.append(tuple(np.float64(r[c]).view(np.int64) if isinstance(r[c], float) else r[c] for c in cols))
    return sorted(out)


def _parquet(monkeypatch, fn):
    """``fn()`` with resident serving off."""
    with monkeypatch.context() as m:
        m.setattr(knn, "RESIDENT_BYTES_BUDGET", 0)
        return fn()


@pytest.fixture(scope="module")
def metric_indexes(spark, emb, tmp_path_factory):
    emb = emb.select("vec_id", "embedding")
    eng = VSSEngine(spark, index_root=str(tmp_path_factory.mktemp("resident")))
    out = {}
    for m in METRICS:
        eng.register_table(f"emb_res_{m}", emb)
        eng.create_index(f"res_{m}", f"emb_res_{m}", "embedding", "vec_id", options={"metric": m})
        out[m] = eng.catalog.get(f"res_{m}")
    return emb, out


def _queries():
    rng = np.random.default_rng(11)
    return [rng.normal(size=64).tolist() for _ in range(3)] + [[(-1.0) ** j * (j % 5) / 4.0 for j in range(64)]]


@pytest.mark.parametrize("metric", METRICS)
def test_resident_search_bitwise_equals_parquet(spark, metric_indexes, monkeypatch, metric):
    """Resident and parquet ``IVFIndex.search`` give bitwise equal
    ``(id, score)`` at ef 16 and at full probe, and full probe equals the
    exact plan."""
    from duckdb_vss_spark import topk

    emb, idx = metric_indexes[0], metric_indexes[1][metric]
    for q in _queries():
        for ef in (16, FULL_PROBE):
            got = _bits(idx.search(spark, q, 10, ef).collect(), "id", "score")
            assert idx.last_source == f"resident ({idx.manifest['count']} rows)"
            want = _bits(_parquet(monkeypatch, lambda: idx.search(spark, q, 10, ef).collect()), "id", "score")
            assert idx.last_source == "parquet"
            assert got == want, (metric, ef)
        exact = topk(emb, "embedding", q, 10, metric, tiebreak="vec_id").collect()
        assert got == _bits(exact, "vec_id", "score"), metric


@pytest.mark.parametrize("metric", METRICS)
def test_resident_join_bitwise_equals_spark_kernel(spark, metric_indexes, monkeypatch, metric):
    """The driver fold over the resident rows gives the Spark kernel's
    ``(qid, rnk, rid, score)`` bit for bit, on the masked path (ef 8) and
    on the coverage reroute (full probe)."""
    emb, idx = metric_indexes[0], metric_indexes[1][metric]
    probes = emb.filter(F.col("vec_id") % 125 == 3)
    qmat = np.array([r["embedding"] for r in probes.collect()])
    lists = {int(l) for s in idx.probe_lists_batch(qmat, idx.nprobe_for(8)) for l in s}
    assert len(lists) < 0.5 * idx.nlist  # ef 8 takes the masked path
    cols = ("qid", "rnk", "rid", "score")
    for ef in (8, FULL_PROBE):
        got = knn_join_flat_indexed(probes, idx, "embedding", 5, "vec_id", ef_search=ef).collect()
        assert idx.last_source.startswith("resident")
        want = _parquet(
            monkeypatch, lambda: knn_join_flat_indexed(probes, idx, "embedding", 5, "vec_id", ef_search=ef).collect()
        )
        assert len(got) == 5 * len(qmat) and _bits(got, *cols) == _bits(want, *cols), (metric, ef)


def test_resident_zero_norm_cosine_follows_jvm(spark, emb, tmp_path, monkeypatch):
    """A zero-norm row under cosine behaves as on the JVM path: the query
    raises under ANSI; without ANSI its score is NULL and sorts last."""
    emb = emb.select("vec_id", "embedding")
    zero = spark.createDataFrame([(10_000, [0.0] * 64)], "vec_id long, embedding array<float>")
    eng = VSSEngine(spark, index_root=str(tmp_path))
    eng.register_table("emb_zero", emb.unionByName(zero))
    eng.create_index("zero_idx", "emb_zero", "embedding", "vec_id", options={"metric": "cosine"})
    idx = eng.catalog.get("zero_idx")
    q = _queries()[0]
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            idx.search(spark, q, 600, FULL_PROBE).collect()
        spark.conf.set("spark.sql.ansi.enabled", "false")
        got = idx.search(spark, q, 600, FULL_PROBE).collect()
        want = _parquet(monkeypatch, lambda: idx.search(spark, q, 600, FULL_PROBE).collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert len(got) == idx.manifest["count"] and (got[-1]["id"], got[-1]["score"]) == (10_000, None)
    assert all(r["score"] is not None for r in got[:-1])
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_resident_handle_contract(spark, emb, tmp_path, monkeypatch):
    """Writes through the handle are never hidden by its copy: an insert
    sends queries to the tail path, which finds the fresh row at rank 1;
    an incremental compact loads only the new delta into the copy, whose
    results then equal the parquet path; a handle opened after the commit
    serves it; deleted ids never return; compact and drop free the copy.
    The engine's plan names the source."""
    from duckdb_vss_spark.index.ivf import IVFIndex

    eng = VSSEngine(spark, index_root=str(tmp_path))
    eng.register_table("emb_hc", emb.select("vec_id", "embedding"))
    eng.create_index("hc_idx", "emb_hc", "embedding", "vec_id")
    idx = eng.catalog.get("hc_idx")
    n = idx.manifest["count"]

    def top(handle, q, k=10):
        return [(r["id"], r["score"]) for r in handle.search(spark, q, k).collect()]

    def plan(q):
        eng.topk("emb_hc", "embedding", q, 10, columns=["vec_id", "score"]).collect()
        return eng.last_plan

    fresh = [3.0 if j % 2 else -3.0 for j in range(64)]
    assert f"source: resident ({n} rows)" in plan(fresh)
    eng.insert("hc_idx", spark.createDataFrame([(7_000, fresh)], "vec_id long, embedding array<float>"))
    assert top(idx, fresh)[0] == (7_000, 0.0) and idx.last_source == "parquet"
    assert "source: parquet" in plan(fresh)

    reads = []
    read_data = idx._read_data
    monkeypatch.setattr(idx, "_read_data", lambda s, *paths, **kw: reads.append(paths) or read_data(s, *paths, **kw))
    idx = eng.compact_index("hc_idx", incremental=True)
    reads.clear()
    got = top(idx, fresh)
    assert idx.last_source == f"resident ({n + 1} rows)" and got[0] == (7_000, 0.0)
    assert reads == [(idx._delta_dirs()[0],)], reads
    assert got == _parquet(monkeypatch, lambda: top(idx, fresh))

    other = IVFIndex(idx.path, spark)
    assert top(other, fresh)[0] == (7_000, 0.0) and other.last_source == f"resident ({n + 1} rows)"

    gone = [7_000] + [r[0] for r in got[1:4]]
    eng.delete("hc_idx", gone)
    got = top(idx, fresh, 50)
    assert idx.last_source == "parquet" and not set(gone) & {r[0] for r in got}
    new = eng.compact_index("hc_idx")
    assert not idx._copy.parts
    got = top(new, fresh, 50)
    assert new.last_source == f"resident ({n - 3} rows)" and not set(gone) & {r[0] for r in got}
    eng.drop_index("hc_idx")
    assert not new._copy.parts


def test_resident_ties_at_rank_k_resolve_by_id(spark, emb, tmp_path, monkeypatch):
    """Copies of one vector that tie across rank k: resident search and
    join keep the lowest ids among them, as the exact plan does (the
    resident fold keeps a margin of survivors before the exact rank)."""
    from duckdb_vss_spark.operators.knn import knn_join_flat

    base = emb.select("vec_id", "embedding")
    p = base.filter(F.col("vec_id") == 250).first()["embedding"]
    dups = spark.createDataFrame([(i, p) for i in (1_002, -2, 1_001, -1)], "vec_id long, embedding array<float>")
    table = base.unionByName(dups)
    eng = VSSEngine(spark, index_root=str(tmp_path))
    eng.register_table("emb_tie", table)
    eng.create_index("tie_idx", "emb_tie", "embedding", "vec_id")
    idx = eng.catalog.get("tie_idx")
    want_ids = [-2, -1, 250]  # five rows at score 0, k = 3

    got = idx.search(spark, p, 3).collect()
    assert idx.last_source.startswith("resident") and [r["id"] for r in got] == want_ids
    assert _bits(got, "id", "score") == _bits(_parquet(monkeypatch, lambda: idx.search(spark, p, 3).collect()), "id", "score")

    probes = base.filter(F.col("vec_id").isin(250, 3, 77))
    cols = ("qid", "rnk", "rid", "score")
    exact = _bits(knn_join_flat(probes, table, "embedding", "embedding", 3, "l2sq", "vec_id", "vec_id", method="crossjoin").collect(), *cols)
    assert [r[2] for r in exact if r[0] == 250] == want_ids
    for ef in (8, FULL_PROBE):
        got = knn_join_flat_indexed(probes, idx, "embedding", 3, "vec_id", ef_search=ef).collect()
        assert idx.last_source.startswith("resident")
        assert sorted(r["rid"] for r in got if r["qid"] == 250) == want_ids, ef
        if ef == FULL_PROBE:
            assert _bits(got, *cols) == exact


def test_resident_string_ids_order_as_spark(spark, emb, tmp_path, monkeypatch):
    """String ids rank as Spark sorts strings ('10' < '9'): with ids '9'
    and '10' on one vector, resident and parquet search and join rows are
    equal bit for bit, and '10' ranks first."""
    sid = F.col("vec_id").cast("string")
    p = emb.filter(F.col("vec_id") == 10).first()["embedding"]
    vec = F.when(F.col("vec_id") == 9, F.array(*[F.lit(float(x)).cast("float") for x in p])).otherwise(F.col("embedding"))
    table = emb.select(sid.alias("vec_id"), vec.alias("embedding"))
    eng = VSSEngine(spark, index_root=str(tmp_path))
    eng.register_table("emb_str", table)
    eng.create_index("str_idx", "emb_str", "embedding", "vec_id")
    idx = eng.catalog.get("str_idx")

    for ef in (16, FULL_PROBE):
        got = idx.search(spark, p, 10, ef).collect()
        assert idx.last_source.startswith("resident") and [r["id"] for r in got[:2]] == ["10", "9"]
        want = _parquet(monkeypatch, lambda: idx.search(spark, p, 10, ef).collect())
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    probes = table.filter(F.col("vec_id").isin("9", "10", "100", "11", "2"))
    cols = ("qid", "rnk", "rid", "score")
    for ef in (8, FULL_PROBE):
        got = knn_join_flat_indexed(probes, idx, "embedding", 5, "vec_id", ef_search=ef).collect()
        assert idx.last_source.startswith("resident")
        assert [r["rid"] for r in sorted(got, key=lambda r: r["rnk"]) if r["qid"] == "9"][:2] == ["10", "9"]
        want = _parquet(
            monkeypatch, lambda: knn_join_flat_indexed(probes, idx, "embedding", 5, "vec_id", ef_search=ef).collect()
        )
        assert len(got) == 25 and _bits(got, *cols) == _bits(want, *cols), ef


@pytest.mark.parametrize("metric", METRICS)
def test_built_copy_equals_loaded_copy(spark, emb, tmp_path, metric):
    """The build hands its rows to the handle it returns, and that copy
    holds bit for bit the ids, vectors and list ids a handle loads from
    the written parquet (row order within a list aside)."""
    from duckdb_vss_spark.index.ivf import IVFIndex, build_ivf, resident_rows

    built = build_ivf(emb, "embedding", "vec_id", str(tmp_path / "idx"), metric=metric)
    handed = built._copy
    loaded = IVFIndex(built.path, spark)._resident(spark)
    assert handed.parts and loaded is not None and handed is not loaded

    def rows(res):
        ids, vec, lists = resident_rows(res)
        order = np.lexsort((ids, lists))
        (part,) = res.parts.values()
        return ids[order], vec[order].view(np.int32), lists[order], part.offsets

    for got, want in zip(rows(handed), rows(loaded)):
        assert got.dtype == want.dtype and np.array_equal(got, want)
    assert handed.nbytes == loaded.nbytes and tuple(handed.parts) == tuple(loaded.parts)


def test_resident_budget_bounds_all_copies(spark, emb, tmp_path, monkeypatch):
    """The budget bounds the sum of every resident copy in the process: an
    index whose copy would go over it reads parquet until another copy is
    released, which a delete and a drop both do. The budget is set before
    the builds, which hand their rows to the built handle while they fit."""
    import gc

    from duckdb_vss_spark.index import segments

    gc.collect()  # copies of handles other tests left behind
    one = emb.count() * (8 + 4 * 64)
    monkeypatch.setattr(knn, "RESIDENT_BYTES_BUDGET", segments.resident_bytes() + one * 3 // 2)
    eng = VSSEngine(spark, index_root=str(tmp_path))
    eng.register_table("emb_bud", emb.select("vec_id", "embedding"))
    for name in ("bud_a", "bud_b"):
        eng.create_index(name, "emb_bud", "embedding", "vec_id")
    a, b = eng.catalog.get("bud_a"), eng.catalog.get("bud_b")
    q = _queries()[0]
    assert one == a.manifest["count"] * (8 + 4 * a.dim)

    a.search(spark, q, 10).collect()
    assert a.last_source.startswith("resident") and a._copy.parts
    b.search(spark, q, 10).collect()
    assert b.last_source == "parquet" and not b._copy.parts
    eng.delete("bud_a", [1])
    assert not a._copy.parts
    b.search(spark, q, 10).collect()
    assert b.last_source.startswith("resident")
    a.search(spark, q, 10).collect()
    assert a.last_source == "parquet" and not a._copy.parts
    before = segments.resident_bytes()
    eng.drop_index("bud_b")
    assert segments.resident_bytes() == before - one - 8 * (b.nlist + 1)
