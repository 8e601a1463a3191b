"""Text-analysis function parity vs the duckdb oracle twins, and dedup
operator semantics (north-star LLM-pipeline surface)."""

from __future__ import annotations

import pytest

from duckdb_vss_spark import oracle as O
from duckdb_vss_spark.functions import text as T
from duckdb_vss_spark.operators import dedup as D

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _cmp(docs, ddb, spark_col, sql_expr):
    ours = {r["doc_id"]: r["v"] for r in docs.select("doc_id", spark_col.alias("v")).collect()}
    theirs = dict(ddb.execute(f"SELECT doc_id, {sql_expr} FROM documents").fetchall())
    assert ours == theirs


def test_token_count_parity(docs, ddb):
    _cmp(docs, ddb, T.token_count("text"), O.sql_token_count("text"))
    _cmp(docs, ddb, T.token_count_regex("text"), O.sql_token_count_regex("text"))


def test_fingerprint_parity(docs, ddb):
    _cmp(docs, ddb, T.fingerprint_md5("text"), O.sql_fingerprint("text"))


def test_hash64_parity(docs, ddb):
    _cmp(docs, ddb, T.hash64("text", "x:"), O.sql_hash64("'x:' || text"))


def test_shingles_parity(docs, ddb):
    _cmp(docs, ddb, T.word_ngrams("text", 3), O.sql_word_ngrams("text", 3))


def test_minhash_parity(docs, ddb):
    # CTE form on the duckdb side: the inline expression form re-evaluates the
    # whole shingle pipeline per list element (quadratic) in duckdb
    h1s, h2s = O.sql_shingle_hash_halves("text", 3)
    ours = {
        r["doc_id"]: r["v"]
        for r in docs.select("doc_id", T.minhash_signature("text", 3, 4).alias("v")).collect()
    }
    theirs = dict(
        ddb.execute(
            f"WITH h AS MATERIALIZED (SELECT doc_id, {h1s} AS h1s, {h2s} AS h2s FROM documents) "
            f"SELECT doc_id, {O.sql_minhash_from_halves('h1s', 'h2s', 4)} FROM h"
        ).fetchall()
    )
    assert {k: list(v) for k, v in ours.items()} == {k: list(v) for k, v in theirs.items()}


def test_simhash_parity(docs, ddb, spark):
    ours = {r["doc_id"]: r["v"] for r in docs.select("doc_id", T.simhash64("text").alias("v")).collect()}
    theirs = dict(
        ddb.execute(
            f"WITH h AS (SELECT doc_id, {O.sql_feature_hashes('text')} AS hs FROM documents) "
            f"SELECT doc_id, {O.sql_simhash_from_hashes('hs')} FROM h"
        ).fetchall()
    )
    assert ours == theirs


def test_langid_quality_parity(docs, ddb):
    _cmp(docs, ddb, T.lang_id("text"), O.sql_lang_id("text"))
    _cmp(docs, ddb, T.quality_score("text").cast("float"), f"({O.sql_quality_score('text')})::FLOAT")


# -- dedup operators -------------------------------------------------------


def test_exact_dedup_self_canonical(docs):
    out = D.exact_dedup(docs, "text", "doc_id").collect()
    assert len(out) == docs.count()
    # no exact dups in fixture: every doc is its own canonical
    assert all(r["doc_id"] == r["canonical_id"] for r in out)
    # planted exact dup: duplicate one text
    dup = docs.limit(1).union(docs.limit(1)).union(docs)  # doc 0 thrice
    out2 = D.exact_dedup(dup.withColumn("doc_id", F_mono()), "text", "doc_id")
    gs = out2.filter(out2["group_size"] >= 3).count()
    assert gs >= 3


def F_mono():
    from pyspark.sql import functions as F

    return F.monotonically_increasing_id()


def test_ngram_jaccard_symmetric_canonical(docs):
    pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.3).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    assert all(0.3 <= r["jaccard"] <= 1.0 for r in pairs)


def test_simhash_banding_is_exact(docs, spark):
    """banded candidate generation finds ALL pairs with hamming <= 3
    (pigeonhole) — verify against brute force."""
    from pyspark.sql import functions as F

    sub = docs.limit(60)
    banded = {(r["id_a"], r["id_b"]) for r in D.simhash_pairs(sub, "text", "doc_id", 3, 4).collect()}
    sh = sub.select("doc_id", T.simhash64("text").alias("s"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        .collect()
    }
    assert banded == brute


def test_minhash_lsh_verifies_jaccard(docs):
    pairs = D.minhash_lsh_pairs(docs, "text", "doc_id", 3, 16, 4, 0.5).collect()
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_epsilon_join_prunes_on_clustered_data(spark):
    """The cell-pair bound must actually prune when the data has cluster
    structure (the regime near-dup corpora live in): 20 tight clusters on
    the unit sphere => only near-identical cluster pairs stay admissible,
    and the operator still finds exactly the within-cluster pairs."""
    import math

    import numpy as np

    from duckdb_vss_spark.operators.dedup import _admissible_cell_pairs, embedding_neardup_pairs

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(20, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts, ids = [], []
    for ci, c in enumerate(centers):
        for j in range(25):
            p = c + 0.02 * rng.normal(size=32)
            pts.append((p / np.linalg.norm(p)).astype(np.float32))
            ids.append(ci * 100 + j)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in p]) for i, p in zip(ids, pts)], "vec_id bigint, v array<float>"
    )
    # direct bound check: tight clusters => rmax ~ 0.02, r(0.9) ~ 0.45 --
    # admissible pairs collapse to near-diagonal
    from duckdb_vss_spark.index.ivf import kmeans

    mat = np.vstack(pts).astype(np.float64)
    cents = kmeans(mat, 20, seed=1)
    d2 = (mat * mat).sum(1)[:, None] + (cents * cents).sum(1)[None, :] - 2.0 * (mat @ cents.T)
    li = d2.argmin(1)
    resid = np.sqrt(np.maximum(d2[np.arange(len(li)), li], 0))
    rmax = np.zeros(20)
    for l, rr in zip(li, resid):
        rmax[l] = max(rmax[l], rr)
    r = math.sqrt(2 * (1 - 0.9))
    la, _lb = _admissible_cell_pairs(cents, rmax, r)
    assert len(la) < 0.5 * 20 * 20  # pruning is real on clustered data
    # and the operator output is exactly the within-cluster pairs
    out = embedding_neardup_pairs(df, "v", "vec_id", 0.9, nlist=20).collect()
    assert len(out) > 0
    assert all(r_["id_a"] // 100 == r_["id_b"] // 100 for r_ in out)


# ---------------------------------------------------------- duplicated spans


def test_duplicated_spans_hand_computed(spark):
    from duckdb_vss_spark import duplicated_span_profile, duplicated_spans

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "prefix words then the quick brown fox jumps over the lazy dog inside"),
        (3, "nothing shared here at all friends"),
        (5, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    spans = duplicated_spans(df, "text", "doc_id", k=5, min_docs=2)
    got = {(r["doc_id"], r["pos"]): r["n_docs"] for r in spans.collect()}
    # docs 1 and 5 are identical: every window duplicated (12 tokens -> 8 windows)
    for pos in range(8):
        assert got[(1, pos)] >= 2 and got[(5, pos)] >= 2
    # doc 2 embeds the 9-token sentence starting at token 3 -> windows 3..7
    # match doc 1's windows 0..4 ("the quick brown fox jumps" ... "jumps over the lazy dog")
    assert {p for (d, p) in got if d == 2} == {3, 4, 5, 6, 7}
    assert not any(d == 3 for (d, _) in got)

    prof = {r["doc_id"]: r for r in duplicated_span_profile(df, "text", "doc_id", k=5, min_docs=2).collect()}
    assert prof[1]["dup_window_frac"] == 1.0 and prof[5]["dup_window_frac"] == 1.0
    assert prof[3]["n_dup_windows"] == 0 and prof[3]["dup_window_frac"] == 0.0
    assert prof[2]["n_dup_windows"] == 5


def test_duplicated_spans_matches_duckdb(spark, ddb):
    from duckdb_vss_spark import duplicated_span_profile, duplicated_spans
    from duckdb_vss_spark.oracle import sql_duplicated_span_profile, sql_duplicated_spans

    got = sorted(tuple(r) for r in duplicated_spans(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text", "doc_id", k=8, min_docs=2
    ).collect())
    want = sorted(tuple(r) for r in ddb.execute(
        sql_duplicated_spans("documents", "text", "doc_id", 8, 2)
    ).fetchall())
    assert got == want

    gprof = sorted(tuple(r) for r in duplicated_span_profile(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text", "doc_id", k=8, min_docs=2
    ).collect())
    wprof = sorted(tuple(r) for r in ddb.execute(
        sql_duplicated_span_profile("documents", "text", "doc_id", 8, 2)
    ).fetchall())
    assert gprof == wprof


def test_duplicated_spans_single_agg_shuffle(spark):
    """The gram table is aggregated and back-joined on the SAME key: the
    plan must not contain more than the aggregation exchanges plus the
    persisted gram scan — no re-tokenization of the corpus per branch."""
    from duckdb_vss_spark import duplicated_spans

    rows = [(i, f"tok{i} shared common words here tok{i+1} more filler text") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    plan = duplicated_spans(df, "text", "doc_id", k=3)._jdf.queryExecution().executedPlan().toString()
    # the persisted intermediate feeds both branches
    assert "InMemoryTableScan" in plan


# -- corpus-level exact line dedup ------------------------------------------


def _line_rows():
    return [
        (0, "Hello world today.\nshort stuff\nA fine long sentence!\n  \nboiler plate line"),
        (1, "A fine long sentence!\nboiler plate line\nunique one here"),
        (2, "boiler plate line\nA fine long sentence!\nanother unique line"),
        (3, ""),
    ]


def test_line_dedup_keep_first(spark):
    from duckdb_vss_spark import line_dedup

    df = spark.createDataFrame(_line_rows(), "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_lines"], r["n_removed_lines"], r["dd"])
        for r in line_dedup(df, "text", "doc_id", out_col="dd").collect()
    }
    # "A fine long sentence!" occurs at (0,2),(1,0),(2,1) — keeper (0,2);
    # "boiler plate line" at (0,4),(1,1),(2,0) — keeper (0,4)
    assert out[0] == (5, 0, _line_rows()[0][1])  # doc 0 holds both keepers
    assert out[1] == (3, 2, "unique one here")
    assert out[2] == (3, 2, "another unique line")
    assert out[3] == (1, 0, "")  # empty doc untouched


def test_line_dedup_remove_all(spark):
    from duckdb_vss_spark import line_dedup

    df = spark.createDataFrame(_line_rows(), "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in line_dedup(df, "text", "doc_id", keep_first=False).collect()
    }
    assert "A fine long sentence!" not in out[0] and "boiler plate line" not in out[0]
    # whitespace-only line survives (structure, never a dedup candidate)
    assert out[0] == "Hello world today.\nshort stuff\n  "


def test_line_dedup_matches_duckdb(spark):
    import duckdb

    from duckdb_vss_spark import line_dedup
    from duckdb_vss_spark.oracle import sql_line_dedup

    rows = _line_rows()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ",".join(
            "(%d, %s)" % (i, "'" + t.replace("'", "''").replace("\n", "' || chr(10) || '") + "'")
            for i, t in rows
        )
        + ") v(doc_id, text)"
    )
    for kf in (True, False):
        got = {
            r["doc_id"]: (r["n_lines"], r["n_removed_lines"], r["dd"])
            for r in line_dedup(df, "text", "doc_id", keep_first=kf, out_col="dd").collect()
        }
        want = {
            r[0]: (r[1], r[2], r[3])
            for r in con.execute(
                f"SELECT doc_id, n_lines, n_removed_lines, text_dedup FROM "
                f"({sql_line_dedup('d', 'text', 'doc_id', keep_first=kf)})"
            ).fetchall()
        }
        assert got == want, f"keep_first={kf}"


def test_line_dedup_text_never_shuffles(spark):
    """The heavy string column must stay out of every Exchange: only the
    (id, pos, hash) occurrence tuples and the per-doc removal sets shuffle."""
    from duckdb_vss_spark import line_dedup

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = line_dedup(df, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


# ---------------------------------------------------------------- semdedup


def _semdedup_expected(ids, mat, cents, eps):
    """Brute-force twin of the semdedup keep rule (farthest-from-centroid
    wins, ties to smaller id)."""
    import numpy as np

    d2 = (mat * mat).sum(1)[:, None] + (cents * cents).sum(1)[None, :] - 2.0 * (mat @ cents.T)
    cl = d2.argmin(1)
    cd = d2[np.arange(len(cl)), cl]
    nrm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = nrm @ nrm.T
    keep = {}
    for i, xid in enumerate(ids):
        removed = False
        for j, yid in enumerate(ids):
            if i == j or cl[i] != cl[j] or cos[i, j] < eps:
                continue
            if cd[j] > cd[i] or (cd[j] == cd[i] and yid < xid):
                removed = True
                break
        keep[xid] = (int(cl[i]), not removed)
    return keep


def test_semdedup_matches_bruteforce(spark):
    import numpy as np

    from duckdb_vss_spark import semdedup

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts, ids = [], []
    for ci, c in enumerate(centers):
        for j in range(12):
            p = c + 0.05 * rng.normal(size=16)
            pts.append(p / np.linalg.norm(p))
            ids.append(ci * 100 + j)
    mat = np.vstack(pts)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in p]) for i, p in zip(ids, pts)],
        "vec_id bigint, v array<float>",
    )
    cents = [(k, [float(x) for x in centers[k]]) for k in range(4)]
    # float32 storage: mirror the engine's input precision in the twin
    got = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semdedup(df, "v", "vec_id", centroids=cents, eps=0.97).collect()
    }
    exp = _semdedup_expected(ids, mat.astype(np.float32).astype(np.float64), centers, 0.97)
    assert got == exp
    # tight clusters + high eps: some rows must actually be removed
    assert any(not k for _, k in got.values())
    assert any(k for _, k in got.values())


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
def test_semdedup_fitted_k_is_partitioning_invariant(spark):
    import numpy as np

    from duckdb_vss_spark import semdedup

    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(x) for x in v])
        for i, v in enumerate(rng.normal(size=(60, 8)))
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<float>")
    a = sorted(semdedup(df.repartition(7), "v", "vec_id", k=5, eps=0.2).collect())
    b = sorted(semdedup(df.coalesce(1), "v", "vec_id", k=5, eps=0.2).collect())
    assert a == b


def test_semdedup_plan_no_cartesian(spark):
    import numpy as np

    from duckdb_vss_spark import semdedup

    rng = np.random.default_rng(5)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(20, 8)))]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<float>")
    cents = [(0, [0.0] * 8), (1, [1.0] * 8)]
    # relational variant: left-semi equi-join, never a cartesian
    plan = (
        semdedup(df, "v", "vec_id", centroids=cents, eps=0.9, method="join")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    # default kernel variant: one grouped Arrow kernel, still no cartesian
    plan2 = (
        semdedup(df, "v", "vec_id", centroids=cents, eps=0.9)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan2
    assert "FlatMapGroupsInPandas" in plan2


def test_semdedup_kernel_equals_join_path(spark):
    """The GEMM kernel with its JVM band recheck must return byte-identical
    verdicts to the pure-relational plan — including at a threshold chosen
    to sit ON a pair's cosine so the band logic actually fires."""
    import numpy as np

    from duckdb_vss_spark import semdedup

    rng = np.random.default_rng(19)
    centers = rng.normal(size=(3, 12))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts, ids = [], []
    for ci, c in enumerate(centers):
        for j in range(15):
            p = c + 0.08 * rng.normal(size=12)
            pts.append(p / np.linalg.norm(p))
            ids.append(ci * 100 + j)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in p]) for i, p in zip(ids, pts)],
        "vec_id bigint, v array<float>",
    )
    cents = [(k, [float(x) for x in centers[k]]) for k in range(3)]
    for eps in (0.97, 0.9607997):  # second value lands inside real pair sims
        a = sorted(semdedup(df, "v", "vec_id", centroids=cents, eps=eps).collect())
        b = sorted(
            semdedup(df, "v", "vec_id", centroids=cents, eps=eps, method="join").collect()
        )
        assert a == b, eps


# ---------------------------------------------------- hashed embedding


def test_hashed_embedding_matches_oracle_bitwise(spark, ddb):
    """±1 votes and integer-square norms are exactly representable, so the
    two engines must agree on every component BITWISE (no rounding slack)."""
    from duckdb_vss_spark.functions.text import hashed_embedding
    from duckdb_vss_spark.oracle import sql_hashed_embedding

    pdocs = spark.read.parquet(f"{SF}/documents.parquet")
    ours = {
        r["doc_id"]: tuple(r["v"])
        for r in pdocs.select("doc_id", hashed_embedding("text").alias("v")).collect()
    }
    theirs = {
        r[0]: tuple(r[1])
        for r in ddb.execute(sql_hashed_embedding("documents", "text", "doc_id")).fetchall()
    }
    assert ours == theirs


def test_hashed_embedding_unit_norm(spark):
    from pyspark.sql import functions as F

    from duckdb_vss_spark.functions.text import hashed_embedding

    df = spark.createDataFrame(
        [(1, "some words here repeated words"), (2, ""), (3, "solo")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["v"] for r in df.select("doc_id", hashed_embedding("text", dim=16).alias("v")).collect()}
    for d in (1, 3):
        assert abs(sum(x * x for x in rows[d]) - 1.0) < 1e-12
    assert len(rows[1]) == 16


def test_semdedup_large_k_kernel_assignment_matches_expression(spark, monkeypatch):
    """k above the expression ceiling routes assignment through the
    broadcast-GEMM kernel; verdicts must match the expression path."""
    import numpy as np

    from duckdb_vss_spark import semdedup
    from duckdb_vss_spark.operators import dedup as DD

    rng = np.random.default_rng(23)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(300, 8)))]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<float>")
    cents = [(k, [float(x) for x in v]) for k, v in enumerate(rng.normal(size=(100, 8)))]
    a = sorted(map(tuple, semdedup(df, "v", "vec_id", centroids=cents, eps=0.6).collect()))
    monkeypatch.setattr(DD, "_SEMDEDUP_EXPR_MAX_K", 10_000)
    b = sorted(map(tuple, semdedup(df, "v", "vec_id", centroids=cents, eps=0.6).collect()))
    assert a == b


def test_remove_duplicated_spans(spark):
    from duckdb_vss_spark.operators.dedup import remove_duplicated_spans

    span = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"start one {span} tail one"),
        (2, f"other head {span} closing words here"),
        (3, "totally unrelated body of text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, "text", "doc_id", k=5, min_docs=2).collect()}
    assert out[1]["text_despanned"] == "start one tail one"
    assert out[2]["text_despanned"] == "other head closing words here"
    assert out[3]["text_despanned"] == rows[2][1] and out[3]["n_removed_tokens"] == 0
    assert out[1]["n_removed_tokens"] == 5 == out[2]["n_removed_tokens"]
    # overlapping windows: a doc that is ENTIRELY a shared span empties out
    dup = spark.createDataFrame(
        [(1, span), (2, span), (3, f"x {span} y")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["text_despanned"] for r in
           remove_duplicated_spans(dup, "text", "doc_id", k=5, min_docs=2).collect()}
    assert got[1] == "" and got[2] == ""
    assert got[3] == "x y"


def test_exact_dedup_agg_equals_window_form(spark):
    """exact_dedup must be row-identical to the min/count-over-fingerprint
    window form, on a fixture with a HOT fingerprint (half the corpus one
    duplicated page)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from duckdb_vss_spark import exact_dedup
    from duckdb_vss_spark.functions.text import fingerprint_md5

    rows = [(i, "the same boilerplate page" if i % 2 == 0 else f"unique text {i}")
            for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["canonical_id"], r["group_size"])
           for r in exact_dedup(df, "text", "doc_id").collect()}
    fp = df.select("doc_id", fingerprint_md5("text").alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    want = {r["doc_id"]: (r["c"], r["g"]) for r in fp.select(
        "doc_id", F.min("doc_id").over(w).alias("c"),
        F.count(F.lit(1)).over(w).alias("g")).collect()}
    assert got == want


def test_simhash_non_divisor_bands_still_exact(docs, spark):
    """Round-12 ADVICE fix: bands that do not divide 60 (e.g. 8) band at
    the historical floor width 60 // bands — uncovered high bits corrupt
    no chunk, so the pair set stays pigeonhole-complete and must equal
    the divisor banding's exact output."""
    sub = docs.limit(60)
    ragged = {(r["id_a"], r["id_b"], r["hamming"])
              for r in D.simhash_pairs(sub, "text", "doc_id", 3, 8).collect()}
    exact = {(r["id_a"], r["id_b"], r["hamming"])
             for r in D.simhash_pairs(sub, "text", "doc_id", 3, 4).collect()}
    assert ragged == exact
    with pytest.raises(ValueError, match="60-bit"):
        D.simhash_pairs(sub, "text", "doc_id", 3, 61)
