"""SQL frontend: the reference's SQL surface (DDL, pragmas, settings,
index-eligible query shapes, macros) against the duckdb oracle."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from duckdb_vss_spark import VSSEngine
from duckdb_vss_spark.sql import SQLFrontend

SF = "/root/testdata/sf0.001"
Q = [((i * 7) % 16) / 16.0 for i in range(64)]
Q_SQL = "[" + ",".join(str(x) for x in Q) + "]"


@pytest.fixture(scope="module")
def fe(spark, tmp_path_factory):
    eng = VSSEngine(spark, index_root=str(tmp_path_factory.mktemp("sql_idx")))
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng.register_table("embeddings", emb)
    eng.register_table("queries", emb.filter(F.col("vec_id") < 5))
    return SQLFrontend(eng)


def test_create_index_and_info(fe):
    assert fe.sql("CREATE INDEX sql_idx ON embeddings USING HNSW (embedding) WITH (metric = 'l2sq')") is None
    info = fe.sql("SELECT * FROM pragma_hnsw_index_info()")
    rows = {r["index_name"] for r in info.collect()}
    assert "sql_idx" in rows


def test_topk_sql_routes_to_index_and_matches_oracle(fe, ddb):
    fe.sql("SET hnsw_ef_search = 1000000")  # full probe -> exact
    df = fe.sql(f"SELECT vec_id, score FROM embeddings ORDER BY array_distance(embedding, {Q_SQL}) LIMIT 5")
    plan = fe.engine.explain_topk("embeddings", "embedding", Q, 5)
    assert "HNSW_INDEX_SCAN" in plan
    got = sorted((r["vec_id"], round(r["score"], 4)) for r in df.collect())
    q64 = "[" + ",".join(str(x) for x in Q) + "]::DOUBLE[]"
    exp = sorted(
        (i, round(s, 4))
        for i, s in ddb.execute(
            f"SELECT vec_id, list_distance(embedding::DOUBLE[], {q64}) FROM embeddings ORDER BY 2, 1 LIMIT 5"
        ).fetchall()
    )
    assert got == exp
    fe.sql("SET hnsw_ef_search = 0")


def test_one_minus_cosine_canonicalizes(fe):
    df = fe.sql(
        f"SELECT vec_id FROM embeddings ORDER BY 1 - array_cosine_similarity(embedding, {Q_SQL}) LIMIT 3"
    )
    assert df.count() == 3


def test_min_by_sql(fe, ddb):
    fe.sql("SET hnsw_ef_search = 1000000")  # full probe -> exact via index path
    df = fe.sql(f"SELECT min_by(vec_id, array_distance(embedding, {Q_SQL}), 3) FROM embeddings")
    got = df.collect()[0]["values"]
    q64 = "[" + ",".join(str(x) for x in Q) + "]::DOUBLE[]"
    exp = ddb.execute(
        f"SELECT (list(vec_id ORDER BY list_distance(embedding::DOUBLE[], {q64}), vec_id))[1:3] FROM embeddings"
    ).fetchall()[0][0]
    assert list(got) == list(exp)


def test_vss_join_macro_sql(fe):
    df = fe.sql("SELECT * FROM vss_join(queries, embeddings, embedding, embedding, 2)")
    rows = df.collect()
    assert len(rows) == 10  # 5 probes x k=2
    assert set(df.columns) == {"score", "left_tbl", "right_tbl"}
    # self-match at distance 0 exists for every probe
    zero = [r for r in rows if abs(r["score"]) < 1e-9]
    assert len(zero) == 5


def test_vss_match_macro_sql(fe):
    df = fe.sql("SELECT * FROM queries, vss_match(embeddings, embedding, embedding, 3)")
    rows = df.collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r["matches"]) == 3
        assert r["matches"][0]["row"]["vec_id"] == r["vec_id"]  # best match = self


def test_fallback_plain_sql(fe):
    out = fe.sql("SELECT count(*) AS n FROM embeddings")
    assert out.collect()[0]["n"] == 500


def test_fallback_sql_with_registered_udf(fe, ddb):
    """Arbitrary SQL using the duckdb distance names runs via inlined SQL
    UDFs: bit-identical to duckdb's list_* over DOUBLE[] and no Python in
    the executed plan."""
    df = fe.sql(
        "SELECT vec_id, array_inner_product(embedding, embedding) AS ip FROM embeddings ORDER BY vec_id LIMIT 5"
    )
    got = df.collect()
    exp = dict(
        ddb.execute(
            "SELECT vec_id, list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) FROM embeddings ORDER BY vec_id LIMIT 5"
        ).fetchall()
    )
    for r in got:
        assert r["ip"] == exp[r["vec_id"]]
    assert "Python" not in df._jdf.queryExecution().executedPlan().toString()


def test_fallback_multitable_join_sql(fe, ddb):
    """A multi-table self-join with a distance predicate — a shape none of
    the recognizers match — still evaluates JVM-side via the inlined SQL
    UDFs and matches duckdb exactly."""
    q = (
        "SELECT a.vec_id AS ia, b.vec_id AS ib, array_distance(a.embedding, b.embedding) AS d "
        "FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id "
        "WHERE a.vec_id < 20 ORDER BY ia"
    )
    df = fe.sql(q)
    got = [(r["ia"], r["ib"], r["d"]) for r in df.collect()]
    want = ddb.execute(
        "SELECT a.vec_id AS ia, b.vec_id AS ib, list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS d "
        "FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id "
        "WHERE a.vec_id < 20 ORDER BY ia"
    ).fetchall()
    assert got == [tuple(r) for r in want]
    assert "Python" not in df._jdf.queryExecution().executedPlan().toString()


def test_drop_index_sql(fe):
    fe.sql("DROP INDEX sql_idx")
    info = fe.sql("SELECT * FROM pragma_hnsw_index_info()")
    assert "sql_idx" not in {r["index_name"] for r in info.collect()}


# -- operator aliases (reference: src/hnsw/hnsw_index.cpp:663-669) ----------

def test_operator_alias_l2(fe):
    """`vec <-> [..]` must parse exactly like array_distance."""
    a = fe.sql(f"SELECT vec_id FROM embeddings ORDER BY embedding <-> {Q_SQL} LIMIT 5").collect()
    b = fe.sql(f"SELECT vec_id FROM embeddings ORDER BY array_distance(embedding, {Q_SQL}) LIMIT 5").collect()
    assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]


def test_operator_alias_cosine_and_ip(fe, ddb):
    got_cos = {r["vec_id"] for r in fe.sql(
        f"SELECT vec_id FROM embeddings ORDER BY embedding <=> {Q_SQL} LIMIT 5").collect()}
    q64 = Q_SQL + "::DOUBLE[]"
    exp_cos = {r[0] for r in ddb.execute(
        f"SELECT vec_id FROM embeddings ORDER BY 1 - list_cosine_similarity(embedding::DOUBLE[], {q64}), vec_id LIMIT 5"
    ).fetchall()}
    assert got_cos == exp_cos
    got_ip = {r["vec_id"] for r in fe.sql(
        f"SELECT vec_id FROM embeddings ORDER BY embedding <#> {Q_SQL} LIMIT 5").collect()}
    exp_ip = {r[0] for r in ddb.execute(
        f"SELECT vec_id FROM embeddings ORDER BY -list_inner_product(embedding::DOUBLE[], {q64}), vec_id LIMIT 5"
    ).fetchall()}
    assert got_ip == exp_ip


# -- ORDER BY polarity (farthest-first must NOT be silently rewritten) ------

def test_similarity_desc_is_accelerated(fe, ddb):
    got = {r["vec_id"] for r in fe.sql(
        f"SELECT vec_id FROM embeddings ORDER BY array_cosine_similarity(embedding, {Q_SQL}) DESC LIMIT 5"
    ).collect()}
    q64 = Q_SQL + "::DOUBLE[]"
    exp = {r[0] for r in ddb.execute(
        f"SELECT vec_id FROM embeddings ORDER BY list_cosine_similarity(embedding::DOUBLE[], {q64}) DESC, vec_id LIMIT 5"
    ).fetchall()}
    assert got == exp


def test_farthest_first_falls_through(fe):
    """ORDER BY array_inner_product(...) ASC is smallest-dot-first; the
    pattern path must NOT rewrite it to nearest-first. It falls through to
    spark.sql, where the duckdb array literal is a parse error — an error
    beats silently wrong rows."""
    import py4j.protocol
    from pyspark.errors.exceptions.captured import CapturedException

    with pytest.raises((CapturedException, py4j.protocol.Py4JJavaError, Exception)):
        fe.sql(
            f"SELECT vec_id FROM embeddings ORDER BY array_inner_product(embedding, {Q_SQL}) ASC LIMIT 5"
        ).collect()


def test_one_minus_non_cosine_falls_through(fe):
    """'1 - array_distance(...)' is farthest-first, not a canonicalizable
    cosine distance — it must not be accepted by the top-k pattern."""
    with pytest.raises(Exception):
        fe.sql(
            f"SELECT vec_id FROM embeddings ORDER BY 1 - array_distance(embedding, {Q_SQL}) LIMIT 5"
        ).collect()


# -- min_by/max_by true polarity + FILTER -----------------------------------

def test_min_by_similarity_is_true_min(fe, ddb):
    """min_by(col, similarity, k) = the k LEAST similar (DuckDB semantics),
    never silently the most similar."""
    got = fe.sql(
        f"SELECT min_by(vec_id, array_cosine_similarity(embedding, {Q_SQL}), 3) FROM embeddings"
    ).collect()[0]["values"]
    q64 = Q_SQL + "::DOUBLE[]"
    exp = ddb.execute(
        f"SELECT (list(vec_id ORDER BY list_cosine_similarity(embedding::DOUBLE[], {q64}), vec_id))[1:3] FROM embeddings"
    ).fetchall()[0][0]
    assert list(got) == list(exp)


def test_max_by_sql(fe, ddb):
    got = fe.sql(
        f"SELECT max_by(vec_id, array_inner_product(embedding, {Q_SQL}), 3) FROM embeddings"
    ).collect()[0]["values"]
    q64 = Q_SQL + "::DOUBLE[]"
    exp = ddb.execute(
        f"SELECT (list(vec_id ORDER BY list_inner_product(embedding::DOUBLE[], {q64}) DESC, vec_id))[1:3] FROM embeddings"
    ).fetchall()[0][0]
    assert list(got) == list(exp)


def test_min_by_filter_sql(fe, ddb):
    fe.sql("PRAGMA disable_optimizer")  # exact path: FILTER applies to all rows
    try:
        got = fe.sql(
            f"SELECT min_by(vec_id, array_distance(embedding, {Q_SQL}), 3) FILTER (WHERE label = 1) FROM embeddings"
        ).collect()[0]["values"]
    finally:
        fe.sql("PRAGMA enable_optimizer")
    q64 = Q_SQL + "::DOUBLE[]"
    exp = ddb.execute(
        f"SELECT (list(vec_id ORDER BY list_distance(embedding::DOUBLE[], {q64}), vec_id) FILTER (WHERE label = 1))[1:3] FROM embeddings"
    ).fetchall()[0][0]
    assert list(got) == list(exp)


# -- lateral SQL shape (reference: src/hnsw/hnsw_optimize_join.cpp:352-363) --

def test_lateral_topk_sql(fe, ddb):
    df = fe.sql(
        "SELECT q.vec_id, i.vec_id, score FROM queries q, LATERAL ("
        f"SELECT * FROM embeddings ORDER BY array_distance(embeddings.embedding, q.embedding) LIMIT 2) i"
    )
    got = sorted((r[0], r[1], round(r[2], 6)) for r in df.collect())
    exp = sorted(
        (a, b, round(d, 6))
        for a, b, d in ddb.execute(
            "SELECT q.vec_id, i.vec_id, i.d FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, "
            "LATERAL (SELECT vec_id, list_distance(embedding::DOUBLE[], q.embedding::DOUBLE[]) AS d "
            "FROM embeddings ORDER BY d, vec_id LIMIT 2) i"
        ).fetchall()
    )
    assert got == exp


def test_experimental_persistence_guard(fe):
    """SET hnsw_enable_experimental_persistence = false restores the
    reference's DDL guard with its exact error string (reference:
    test/sql/hnsw/hnsw_experimental_persistence.test:18-21)."""
    from duckdb_vss_spark.index.catalog import BinderException

    fe.sql("SET hnsw_enable_experimental_persistence = false")
    try:
        with pytest.raises(BinderException) as ei:
            fe.sql("CREATE INDEX never_idx ON embeddings USING HNSW (embedding)")
        assert str(ei.value) == (
            "HNSW indexes can only be created in in-memory databases, or when the configuration "
            "option 'hnsw_enable_experimental_persistence' is set to true."
        )
    finally:
        fe.sql("SET hnsw_enable_experimental_persistence = true")
    fe.sql("CREATE INDEX ok_idx ON embeddings USING HNSW (embedding)")
    fe.sql("DROP INDEX ok_idx")


def test_vss_join_where_and_projection(fe):
    """WHERE + expression projection over the macro output (reference macro
    output relation: score, left_tbl, right_tbl structs)."""
    df = fe.sql(
        "SELECT left_tbl.vec_id AS qid, right_tbl.vec_id AS rid, score "
        "FROM vss_join(queries, embeddings, embedding, embedding, 2) "
        "WHERE score > 0"
    )
    rows = df.collect()
    assert len(rows) == 5  # self-match (score 0) filtered per probe
    assert all(r["score"] > 0 and r["qid"] != r["rid"] for r in rows)


def test_vss_match_where(fe):
    df = fe.sql(
        "SELECT vec_id, matches FROM queries, vss_match(embeddings, embedding, embedding, 3) "
        "WHERE vec_id < 2"
    )
    rows = df.collect()
    assert {r["vec_id"] for r in rows} == {0, 1}
    assert all(len(r["matches"]) == 3 for r in rows)


def test_grouped_lateral_sql(fe, ddb):
    """The grouped lateral shape (reference:
    test/sql/hnsw/hnsw_lateral_join_group.test) with standard aggregates."""
    df = fe.sql(
        "SELECT q.vec_id, count(*) AS n, min(score) AS best FROM queries q, LATERAL ("
        "SELECT * FROM embeddings ORDER BY array_distance(embeddings.embedding, q.embedding) LIMIT 3) i "
        "GROUP BY q.vec_id"
    )
    got = sorted((r["vec_id"], r["n"], round(r["best"], 6)) for r in df.collect())
    exp = sorted(
        (a, b, round(c, 6))
        for a, b, c in ddb.execute(
            "SELECT q.vec_id, count(*), min(i.d) FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, "
            "LATERAL (SELECT vec_id, list_distance(embedding::DOUBLE[], q.embedding::DOUBLE[]) AS d "
            "FROM embeddings ORDER BY d, vec_id LIMIT 3) i GROUP BY q.vec_id"
        ).fetchall()
    )
    assert got == exp


def test_topk_sql_where_residual_post_filter_on_index_path(fe, ddb):
    """WHERE-bearing topk over an indexed table: the predicate is residual —
    applied AFTER the k candidates (reference contract:
    test/sql/hnsw/where_clause_segfault.test:24-41), so it equals duckdb's
    filter-over-top-k, not top-k-over-filter."""
    fe.sql("CREATE INDEX sql_where_idx ON embeddings USING HNSW (embedding) WITH (metric = 'l2sq')")
    fe.sql("SET hnsw_ef_search = 1000000")
    df = fe.sql(
        f"SELECT vec_id, score FROM embeddings WHERE label = 1 "
        f"ORDER BY array_distance(embedding, {Q_SQL}) LIMIT 5"
    )
    got = sorted((r["vec_id"], round(r["score"], 4)) for r in df.collect())
    q64 = "[" + ",".join(str(x) for x in Q) + "]::DOUBLE[]"
    want = sorted(
        (i, round(s, 4))
        for i, s in ddb.execute(
            f"SELECT vec_id, score FROM (SELECT vec_id, label, "
            f"list_distance(embedding::DOUBLE[], {q64}) AS score FROM embeddings "
            f"ORDER BY score, vec_id LIMIT 5) WHERE label = 1"
        ).fetchall()
    )
    assert got == want


def test_topk_sql_where_prefilter_on_exact_path(fe, ddb):
    """WHERE-bearing topk with NO matching index: the exact path filters
    BEFORE the cut, so k rows still come back (q29 semantics in SQL)."""
    fe.engine.register_table("embeddings_nw", fe.engine.table("embeddings"))
    df = fe.sql(
        f"SELECT vec_id, score FROM embeddings_nw WHERE label = 1 "
        f"ORDER BY array_distance(embedding, {Q_SQL}) LIMIT 5"
    )
    got = sorted((r["vec_id"], round(r["score"], 4)) for r in df.collect())
    q64 = "[" + ",".join(str(x) for x in Q) + "]::DOUBLE[]"
    want = sorted(
        (i, round(s, 4))
        for i, s in ddb.execute(
            f"SELECT vec_id, list_distance(embedding::DOUBLE[], {q64}) AS score "
            f"FROM embeddings WHERE label = 1 ORDER BY score, vec_id LIMIT 5"
        ).fetchall()
    )
    assert got == want


def test_with_clause_ctes_reach_accelerated_topk(fe, ddb):
    """WITH ... AS (...) queries route the main query through the frontend's
    vss handlers over the materialized CTEs (VERDICT r3 missing #4 slice)."""
    df = fe.sql(
        f"WITH sub AS (SELECT * FROM embeddings WHERE label = 1) "
        f"SELECT vec_id, score FROM sub ORDER BY array_distance(embedding, {Q_SQL}) LIMIT 5"
    )
    got = sorted((r["vec_id"], round(r["score"], 4)) for r in df.collect())
    q64 = "[" + ",".join(str(x) for x in Q) + "]::DOUBLE[]"
    want = sorted(
        (i, round(s, 4))
        for i, s in ddb.execute(
            f"SELECT vec_id, list_distance(embedding::DOUBLE[], {q64}) AS score "
            f"FROM embeddings WHERE label = 1 ORDER BY score, vec_id LIMIT 5"
        ).fetchall()
    )
    assert got == want


def test_with_clause_chained_ctes_and_lateral(fe):
    """A CTE may reference an earlier CTE; the lateral handler still fires
    over both (index-eligible when the inner table has one)."""
    out = fe.sql(
        "WITH probes AS (SELECT * FROM embeddings WHERE vec_id < 3), "
        "items AS (SELECT * FROM embeddings WHERE vec_id >= 3) "
        "SELECT q.vec_id AS qid, i.vec_id AS rid, score FROM probes q, LATERAL ("
        "SELECT * FROM items ORDER BY array_distance(items.embedding, q.embedding) LIMIT 2) i"
    )
    rows = out.collect()
    assert len(rows) == 6  # 3 probes x k=2
    assert all(r["rid"] >= 3 for r in rows)


def test_with_clause_does_not_leak_or_clobber_registrations(fe):
    before = set(fe.engine.tables)
    fe.sql(
        f"WITH tmp_cte_xyz AS (SELECT * FROM embeddings WHERE vec_id < 3) "
        f"SELECT vec_id, score FROM tmp_cte_xyz ORDER BY array_distance(embedding, {Q_SQL}) LIMIT 2"
    )
    assert set(fe.engine.tables) == before
    # shadowing an existing name restores the original afterwards
    orig = fe.engine.table("queries")
    fe.sql(
        f"WITH queries AS (SELECT * FROM embeddings WHERE vec_id >= 490) "
        f"SELECT vec_id, score FROM queries ORDER BY array_distance(embedding, {Q_SQL}) LIMIT 2"
    )
    assert fe.engine.table("queries") is orig


def test_with_recursive_falls_through_to_spark(fe):
    # RECURSIVE is not a frontend CTE shape; it must fall through untouched
    # to spark.sql (Spark 4 executes recursive CTEs natively)
    rows = fe.sql(
        "WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 3) SELECT * FROM r"
    ).collect()
    assert sorted(x["n"] for x in rows) == [1, 2, 3]


def test_negative_inner_product_canonicalization(fe, ddb):
    """`ORDER BY -array_inner_product(v, C) ASC LIMIT k` canonicalizes to
    array_negative_inner_product and takes the nearest-first path — the
    rewrite the reference documents but leaves unimplemented
    (hnsw_optimize_expr.cpp:13-15)."""
    df = fe.sql(
        f"SELECT vec_id, score FROM embeddings ORDER BY -array_inner_product(embedding, {Q_SQL}) LIMIT 5"
    )
    got = sorted(r["vec_id"] for r in df.collect())
    q64 = "[" + ",".join(str(x) for x in Q) + "]::DOUBLE[]"
    want = sorted(
        i for (i,) in ddb.execute(
            f"SELECT vec_id FROM embeddings "
            f"ORDER BY list_inner_product(embedding::DOUBLE[], {q64}) DESC, vec_id LIMIT 5"
        ).fetchall()
    )
    assert got == want


def test_subquery_topk_fragment_routes_to_index(fe, ddb):
    """Round-4 verdict Missing #1: a top-k fragment embedded as a derived
    table in an otherwise-arbitrary join is routed through the planner
    (HNSW_INDEX_SCAN, plan-asserted via engine.last_plan) while the outer
    join runs through spark.sql — and at full probe the whole statement is
    oracle-exact."""
    fe.sql("SET hnsw_ef_search = 1000000")
    fe.engine.last_plan = None
    df = fe.sql(
        "SELECT t.vec_id AS vec_id, t.score + e2.label AS score FROM "
        f"(SELECT vec_id, score FROM embeddings ORDER BY array_distance(embedding, {Q_SQL}) LIMIT 5) t "
        "JOIN embeddings e2 ON t.vec_id = e2.vec_id"
    )
    assert fe.engine.last_plan is not None and "HNSW_INDEX_SCAN" in fe.engine.last_plan
    got = sorted((r["vec_id"], round(r["score"], 4)) for r in df.collect())
    q64 = "[" + ",".join(str(x) for x in Q) + "]::DOUBLE[]"
    exp = sorted(
        ddb.execute(
            "SELECT t.vec_id, round(t.score + e2.label, 4) FROM "
            f"(SELECT vec_id, list_distance(embedding::DOUBLE[], {q64}) AS score "
            "FROM embeddings ORDER BY score LIMIT 5) t "
            "JOIN embeddings e2 ON t.vec_id = e2.vec_id"
        ).fetchall()
    )
    assert got == exp


def test_subquery_topk_in_position(fe):
    """The fragment replacement stays valid SQL in IN-subquery position."""
    fe.engine.last_plan = None
    n = fe.sql(
        "SELECT count(*) AS n FROM embeddings WHERE vec_id IN "
        f"(SELECT vec_id FROM embeddings ORDER BY array_distance(embedding, {Q_SQL}) LIMIT 7)"
    ).collect()[0]["n"]
    assert n == 7
    assert fe.engine.last_plan is not None  # fragment went through the planner


def test_subquery_nonmatching_fragments_untouched(fe):
    """Arbitrary subqueries that are not the top-k shape keep the plain
    spark.sql path (no planner involvement, correct result)."""
    fe.engine.last_plan = None
    n = fe.sql(
        "SELECT count(*) AS n FROM (SELECT vec_id FROM embeddings WHERE label >= 0) x"
    ).collect()[0]["n"]
    assert n == 500
    assert fe.engine.last_plan is None


def test_sql_create_index_string_and_bool_options(spark, tmp_path):
    from duckdb_vss_spark import SQLFrontend, VSSEngine

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eng = VSSEngine(spark, index_root=str(tmp_path / "sqlsq"))
    eng.register_table("embeddings", emb)
    fe = SQLFrontend(eng)
    fe.sql("CREATE INDEX sq_idx ON embeddings USING HNSW (embedding) "
           "WITH (metric = 'l2sq', quantization = 'i8', sq_rerank = 8)")
    idx = eng.catalog.get("sq_idx")
    assert idx.manifest.get("quantization") == "i8"
    assert idx.manifest.get("sq_rerank") == 8
    fe.sql("SET hnsw_ef_search = 1000000")
    rows = fe.sql(
        "SELECT vec_id, score FROM embeddings ORDER BY "
        f"array_distance(embedding, [{', '.join(str((i * 7 % 16) / 16.0) for i in range(64))}]) LIMIT 5"
    ).collect()
    assert len(rows) == 5
    # binary quantization through the same DDL surface (round 8): the
    # full-probe covering-rerank query must serve from the b1 index
    fe.sql("DROP INDEX sq_idx")
    fe.sql("CREATE INDEX b1_idx ON embeddings USING HNSW (embedding) "
           "WITH (metric = 'l2sq', quantization = 'b1', b1_rerank = 1000)")
    idx2 = eng.catalog.get("b1_idx")
    assert idx2.manifest.get("quantization") == "b1"
    assert idx2.manifest.get("b1_rerank") == 1000
    rows2 = fe.sql(
        "SELECT vec_id, score FROM embeddings ORDER BY "
        f"array_distance(embedding, [{', '.join(str((i * 7 % 16) / 16.0) for i in range(64))}]) LIMIT 5"
    ).collect()
    assert [(r["vec_id"], round(r["score"], 5)) for r in rows2] == [
        (r["vec_id"], round(r["score"], 5)) for r in rows
    ]
    # round 9: target_recall rides the DDL as a float option and lands the
    # auto-sized shortlist + diagnostics in the manifest
    fe.sql("DROP INDEX b1_idx")
    fe.sql("CREATE INDEX tr_idx ON embeddings USING HNSW (embedding) "
           "WITH (metric = 'l2sq', quantization = 'b1', target_recall = 0.95)")
    idx3 = eng.catalog.get("tr_idx")
    assert idx3.manifest["rerank_auto"]["target_recall"] == 0.95
    assert idx3.manifest["b1_rerank"] >= 16


def test_macro_fragments_in_arbitrary_sql(spark, tmp_path):
    """vss_join / vss_match embedded in aggregates, joins, and subqueries —
    the fragment pass must evaluate each macro through the engine and hand
    the remainder to spark.sql (previously a hard parse error)."""
    from duckdb_vss_spark import SQLFrontend, VSSEngine

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eng = VSSEngine(spark, index_root=str(tmp_path / "mf"))
    eng.register_table("mfq", emb.filter("vec_id < 5"))
    eng.register_table("mfi", emb)
    fe = SQLFrontend(eng)
    agg = fe.sql(
        "SELECT left_tbl.vec_id AS qid, count(*) AS n, min(score) AS best "
        "FROM vss_join(mfq, mfi, embedding, embedding, 3) GROUP BY left_tbl.vec_id"
    ).collect()
    assert len(agg) == 5 and all(r["n"] == 3 and r["best"] == 0.0 for r in agg)
    joined = fe.sql(
        "SELECT count(*) AS c FROM vss_join(mfq, mfi, embedding, embedding, 3) v "
        "JOIN mfi i ON i.vec_id = v.right_tbl.vec_id"
    ).first()["c"]
    assert joined == 15
    m = fe.sql(
        "SELECT count(*) AS c FROM (SELECT * FROM mfq, vss_match(mfi, embedding, embedding, 2))"
    ).first()["c"]
    assert m == 5
    # statement-scoped registrations are cleaned up
    assert not [t for t in eng.tables if t.startswith("__vss_macro")]
    # and the simple whole-statement forms still take the dedicated handlers
    assert fe.sql("SELECT * FROM vss_join(mfq, mfi, embedding, embedding, 2)").count() == 10


# -- covered projections: answered from the index alone -------------------
_COV_DIM = 8
_COV_FN = {"l2sq": "array_distance", "cosine": "array_cosine_distance", "ip": "array_negative_inner_product"}


def _cov_rows(spark, lo, hi):
    import numpy as np

    rng = np.random.default_rng(lo)
    vecs = rng.standard_normal((hi - lo, _COV_DIM)).astype(np.float32)
    return spark.createDataFrame(
        [(lo + i, [float(x) for x in v]) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )


def _cov_sql(metric, proj, q, k=10):
    lit = "[" + ", ".join(repr(x) for x in q) + f"]::FLOAT[{len(q)}]"
    return f"SELECT {proj} FROM cov ORDER BY {_COV_FN[metric]}(embedding, {lit}) LIMIT {k}"


def _id_score(df):
    return sorted(((r["vec_id"], r["score"]) for r in df.collect()), key=lambda t: (t[1], t[0]))


@pytest.mark.parametrize("metric", ["l2sq", "cosine", "ip"])
def test_covered_projection_equals_fetched_rows(spark, tmp_path, metric):
    """On consistent data a covered projection (id and score only: no fetch)
    returns the same ids and scores as the non-covered one (broadcast
    id-join + exact recompute), also over tail rows and tombstones; at full
    probe both equal the exact plan."""
    eng = VSSEngine(spark, index_root=str(tmp_path / metric))
    fe = SQLFrontend(eng)
    table = _cov_rows(spark, 0, 600)
    eng.register_table("cov", table)
    fe.sql(f"CREATE INDEX cov_{metric} ON cov USING HNSW (embedding) WITH (metric = '{metric}')")
    q = [((i * 5) % 7) / 7.0 - 0.4 for i in range(_COV_DIM)]
    covered, fetched = _cov_sql(metric, "vec_id, score", q), _cov_sql(metric, "vec_id, score, embedding", q)

    def check():
        got = _id_score(fe.sql(covered))
        assert "fetch: none (covered)" in eng.last_plan
        assert got == _id_score(fe.sql(fetched))
        assert "fetch: broadcast id-join" in eng.last_plan
        return got

    fe.sql("SET hnsw_ef_search = 16")
    check()
    # insert (tail rows) and delete (tombstones) on table and index alike
    new = _cov_rows(spark, 600, 640)
    eng.register_table("cov", table.unionByName(new))
    eng.insert(f"cov_{metric}", new)
    gone = [i for i, _ in check()[:3]]
    eng.delete(f"cov_{metric}", gone)
    eng.register_table("cov", table.unionByName(new).filter(~F.col("vec_id").isin(gone)))
    got = check()
    assert not set(gone) & {i for i, _ in got}
    fe.sql("SET hnsw_ef_search = 1000000")  # full probe
    full = check()
    fe.sql("PRAGMA disable_optimizer")
    try:
        assert _id_score(fe.sql(covered)) == full
        assert "EXACT" in eng.last_plan
    finally:
        fe.sql("PRAGMA enable_optimizer")


def test_covered_projection_when_table_and_index_disagree(spark, tmp_path):
    """The contract when the table lost a row the index still holds: a
    covered projection answers from the index alone and still returns that
    id; a projection that needs table columns fetches by id and drops it."""
    eng = VSSEngine(spark, index_root=str(tmp_path / "dis"))
    fe = SQLFrontend(eng)
    table = _cov_rows(spark, 0, 600)
    eng.register_table("cov", table)
    fe.sql("CREATE INDEX cov_dis ON cov USING HNSW (embedding)")
    fe.sql("SET hnsw_ef_search = 1000000")
    q = [0.25] * _COV_DIM
    before = [i for i, _ in _id_score(fe.sql(_cov_sql("l2sq", "vec_id, score", q, k=5)))]
    lost = before[0]
    eng.register_table("cov", table.filter(F.col("vec_id") != lost))  # index not told
    covered = [r["vec_id"] for r in fe.sql(_cov_sql("l2sq", "vec_id", q, k=5)).collect()]
    assert "fetch: none (covered)" in eng.last_plan
    assert covered == before
    fetched = fe.sql(_cov_sql("l2sq", "vec_id, embedding", q, k=5)).collect()
    assert lost not in {r["vec_id"] for r in fetched}
    assert {r["vec_id"] for r in fetched} == set(before[1:])
