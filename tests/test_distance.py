"""Distance function parity with DuckDB's core functions (the numeric
contract the reference extension builds on, SURVEY §1.3)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from duckdb_vss_spark import functions as vf

from .conftest import assert_close

A = [1.0, 2.0, 3.0]
B = [4.0, 6.0, 8.0]


def _one(spark, col):
    return spark.range(1).select(col.alias("x")).collect()[0]["x"]


def test_array_distance(spark):
    # DuckDB array_distance is Euclidean (sqrt included)
    assert_close(_one(spark, vf.array_distance(F.array(*map(F.lit, A)), B)), math.sqrt(50.0))


def test_array_distance_sq_order_equivalent(spark):
    assert_close(_one(spark, vf.array_distance_sq(F.array(*map(F.lit, A)), B)), 50.0)


def test_inner_product(spark):
    assert_close(_one(spark, vf.array_inner_product(F.array(*map(F.lit, A)), B)), 40.0)
    assert_close(_one(spark, vf.array_negative_inner_product(F.array(*map(F.lit, A)), B)), -40.0)


def test_cosine(spark):
    dot = 40.0
    sim = dot / (math.sqrt(14.0) * math.sqrt(116.0))
    assert_close(_one(spark, vf.array_cosine_similarity(F.array(*map(F.lit, A)), B)), sim)
    assert_close(_one(spark, vf.array_cosine_distance(F.array(*map(F.lit, A)), B)), 1.0 - sim)


def test_matches_duckdb_on_real_vectors(spark, ddb, emb):
    """f32-rounded values must agree exactly with duckdb's DOUBLE[] path."""
    q = [((i * 7) % 16) / 16.0 for i in range(64)]
    ours = {
        r["vec_id"]: r["d"]
        for r in emb.select(
            "vec_id", vf.array_distance("embedding", q).cast("float").alias("d")
        ).collect()
    }
    qsql = "[" + ",".join(str(x) for x in q) + "]"
    theirs = dict(
        ddb.execute(
            f"SELECT vec_id, list_distance(embedding::DOUBLE[], {qsql}::DOUBLE[])::FLOAT FROM embeddings"
        ).fetchall()
    )
    assert ours == theirs


def test_metric_aliases():
    assert vf.canonical_metric("l2") == "l2sq"
    assert vf.canonical_metric("cos") == "cosine"
    assert vf.canonical_metric("ip") == "ip"


def test_column_vs_column_distance_not_broken_by_const_fast_path(spark):
    """Regression: the constant-vector unroll fast path must not fire when
    BOTH sides are columns (a symmetric-swap bug once made dist(a,b)
    compute dist(b,b) = 0)."""
    from duckdb_vss_spark.functions.distance import (
        array_cosine_similarity,
        array_distance,
        array_inner_product,
    )

    df = spark.createDataFrame([([3.0, 4.0], [0.0, 0.0])], "a array<float>, b array<float>")
    r = df.select(
        array_distance("a", "b").alias("d"),
        array_inner_product("a", F.col("b")).alias("ip"),
        array_cosine_similarity(F.col("a"), "a").alias("cs"),
    ).collect()[0]
    assert r["d"] == 5.0
    assert r["ip"] == 0.0
    assert abs(r["cs"] - 1.0) < 1e-12


def test_unroll_operand_shapes(spark):
    """The single-expr()-string unroll fires only for plain (optionally
    qualified) column operands; everything else keeps the HOF fallback —
    and both forms agree bit-for-bit."""
    from duckdb_vss_spark.functions.distance import _sql_operand, _unroll_operand

    assert _sql_operand("embedding") == "`embedding`"
    assert _sql_operand(F.col("t.vec")) == "`t`.`vec`"
    assert _sql_operand("order") == "`order`"  # reserved words stay safe
    assert _sql_operand(F.col("vec").cast("array<double>")) is None
    name, cv = _unroll_operand(F.col("v"), [1.0, 2.0])
    assert name == "`v`" and cv == [1.0, 2.0]
    assert _unroll_operand([1.0], [2.0]) == (None, None)


def test_unrolled_matches_hof_bitwise(spark):
    """Same doubles from the unrolled expr() string and the HOF fold —
    the oracle hash depends on this."""
    import duckdb_vss_spark.functions.distance as D

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [0.1 * i - 3.0 for i in range(64)]
    cols = lambda: [
        D.array_distance("embedding", q).alias("d"),
        D.array_cosine_similarity("embedding", q).alias("c"),
        D.array_inner_product("embedding", q).alias("ip"),
    ]
    fast = df.select("vec_id", *cols()).collect()
    old = D._UNROLL_MAX_DIM
    D._UNROLL_MAX_DIM = 0
    try:
        slow = df.select("vec_id", *cols()).collect()
    finally:
        D._UNROLL_MAX_DIM = old
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_paired_exact_scores_match_distance_expr_bitwise(spark, emb):
    """The join kernels emit ``paired_exact_scores`` as the final score, so
    its doubles must equal the JVM ``distance_expr`` (probe first) bit for
    bit — over real embeddings, probes with negative components, and an
    all-zero probe, whose cosine is NaN here and NULL in the JVM (ANSI
    off; with ANSI on the JVM divide raises)."""
    import numpy as np

    from duckdb_vss_spark.functions.distance import distance_expr
    from duckdb_vss_spark.functions.kernels import paired_exact_scores

    probes = [
        [0.1 * i - 3.0 for i in range(64)],
        [(-1.0) ** i * (i % 7) / 3.0 for i in range(64)],
        [0.0] * 64,
    ]
    pairs = spark.createDataFrame([(p,) for p in probes], "qv array<float>").crossJoin(
        emb.select("embedding")
    )
    metrics = ("l2sq", "cosine", "ip")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        rows = pairs.select(
            "qv", "embedding", *[distance_expr("qv", "embedding", m).alias(m) for m in metrics]
        ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    q = np.array([r["qv"] for r in rows], dtype=np.float32).astype(np.float64)
    v = np.array([r["embedding"] for r in rows], dtype=np.float32).astype(np.float64)
    for m in metrics:
        jvm = np.array([np.nan if r[m] is None else r[m] for r in rows], dtype=np.float64)
        with np.errstate(all="raise"):  # the scorer owns its 0/0
            ours = paired_exact_scores(q, v, m)
        nan = np.isnan(jvm)
        assert np.array_equal(nan, np.isnan(ours)), m
        assert (m == "cosine") == bool(nan.any()), m  # only the zero probe's cosine
        assert np.array_equal(ours[~nan].view(np.int64), jvm[~nan].view(np.int64)), m


def test_high_dim_no_codegen_crash(spark):
    """512-dim constant-vector queries must not crash Catalyst: beyond
    _UNROLL_MAX_DIM (=256, the largest dim whose unrolled sequential chain
    both plans and Janino-compiles cleanly) the builders fall back to the
    HOF form. Round-5 regression: at 512 dims the unroll's one-Add-per-dim
    chain overflowed genCode's recursion (hard StackOverflowError)."""
    from duckdb_vss_spark import topk

    dim = 512
    rows = [(i, [float((i * j) % 7 + 1) for j in range(dim)]) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    q = [float(j % 5 + 1) for j in range(dim)]
    for metric in ("l2sq", "cosine", "ip"):
        assert len(topk(df, "v", q, 3, metric, tiebreak="id").collect()) == 3
