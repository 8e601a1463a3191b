"""Exact top-k and min_by_k semantics vs the duckdb oracle, plus the
plan-shape assertion that Catalyst chose TakeOrderedAndProject (the partial
per-partition top-k that is the scale-correct plan)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from duckdb_vss_spark import array_distance, min_by_k, topk

Q = [((i * 7) % 16) / 16.0 for i in range(64)]
QSQL = "[" + ",".join(str(x) for x in Q) + "]"


def test_topk_matches_duckdb(spark, ddb, emb):
    ours = [
        (r["vec_id"], r["score"])
        for r in topk(emb, "embedding", Q, 10, "l2sq", tiebreak="vec_id")
        .select("vec_id", F.col("score").cast("float").alias("score"))
        .collect()
    ]
    oracle = ddb.execute(
        f"""SELECT vec_id, list_distance(embedding::DOUBLE[], {QSQL}::DOUBLE[])::FLOAT AS score
            FROM embeddings ORDER BY score, vec_id LIMIT 10"""
    ).fetchall()
    assert ours == oracle


def test_topk_grid_exact_distances(spark, grid):
    """Reference contract: probing [1,2,3] on the grid returns distances
    0.0, 1.0, 1.0 (reference: test/sql/hnsw/hnsw_result.test:24-31)."""
    rows = topk(grid, "vec", [1.0, 2.0, 3.0], 3, "l2sq").select("score").collect()
    assert [r["score"] for r in rows] == [0.0, 1.0, 1.0]


def test_topk_cosine_polarity(spark, grid):
    rows = topk(grid, "vec", [5.0, 5.0, 5.0], 3, "cosine").collect()
    # cosine: similarity, descending; best match is any scalar multiple
    assert abs(rows[0]["score"] - 1.0) < 1e-9


def test_topk_methods_nulls_and_ties(spark):
    """Null vectors are excluded; exact-duplicate vectors (score ties)
    resolve by the tiebreak — the shape that broke a naive overfetch
    (500-way replicated vectors at the cut boundary)."""
    base = [([float(i % 5), float((i * 3) % 7)], i) for i in range(50)]
    rows = base + [(None, 1000 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "vec: array<float>, id: long")
    got = topk(df, "vec", [1.0, 3.0], 12, "l2sq", tiebreak="id").collect()
    want = sorted((math.sqrt((v[0] - 1.0) ** 2 + (v[1] - 3.0) ** 2), i) for v, i in base)[:12]
    assert [(r["score"], r["id"]) for r in got] == want
    assert all(r["score"] is not None for r in got)


def test_topk_kernel_all_null_partition(spark):
    """A partition holding only NULL vectors yields no rows, not NULL scores."""
    df = spark.createDataFrame([(None, 1), (None, 2)], "vec: array<float>, id: long")
    assert topk(df, "vec", [1.0, 2.0], 3, "l2sq").collect() == []


def test_topk_plan_is_take_ordered(spark, emb):
    plan = topk(emb, "embedding", Q, 10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_min_by_k_matches_duckdb(spark, ddb, emb):
    ours = min_by_k(
        emb, "vec_id", array_distance("embedding", Q), 5, tiebreak="vec_id"
    ).collect()[0]["values"]
    oracle = ddb.execute(
        f"""SELECT (list(vec_id ORDER BY list_distance(embedding::DOUBLE[], {QSQL}::DOUBLE[]), vec_id))[1:5]
            FROM embeddings"""
    ).fetchone()[0]
    assert ours == oracle


def test_min_by_k_reference_grid_contract(spark, grid):
    """Exact min_by(vec, array_distance(vec, [5,5,5]), 3) on the 9x9x9 grid.

    The three nearest points are (5,5,5) itself at distance 0 (coordinate
    sum 15) and two of its six axis neighbours at distance 1 (sum 15 +/- 1
    each). The six neighbours tie, and without a tiebreak min_by_k promises
    the k smallest scores, not which tied rows are kept, so the flattened
    sum is 15 + 30 + (+/-1 +/-1): 43, 45 or 47, and nothing else.

    The reference asserts a sum in [45, 50] (test/sql/hnsw/hnsw_topk.test:24-31)
    only after CREATE INDEX ... USING HNSW, as a tolerance for approximate
    results (SURVEY.md section 3.2, step 3). It is not a contract of the
    exact operator: DuckDB's own exact plan returns a sum of 43."""
    q = [5.0, 5.0, 5.0]
    vals = min_by_k(grid, "vec", array_distance("vec", q), 3).collect()[0]["values"]
    assert [sum((a - b) ** 2 for a, b in zip(v, q)) for v in vals] == [0.0, 1.0, 1.0]
    assert list(vals[0]) == q
    others = {tuple(v) for v in vals[1:]}
    assert len(others) == 2
    assert others <= {tuple(r["vec"]) for r in grid.collect()}
    assert sum(sum(v) for v in vals) in {43.0, 45.0, 47.0}
