"""Top-k-by-distance operators (exact paths).

Covers the query surface of the reference's Q1/Q2 rewrites in their exact
(non-index) form:

- ``topk``: ``SELECT ... ORDER BY distance(vec, CONST) LIMIT k``
  (reference rewrite trigger: src/hnsw/hnsw_optimize_scan.cpp:30-99).
- ``min_by_k`` / ``max_by_k``: DuckDB's 3-arg ``min_by(col, score, k)``
  top-k aggregate (reference rewrite: src/hnsw/hnsw_optimize_topk.cpp:54-124),
  which Spark lacks natively.

Scale notes:
- ``topk`` deliberately stays ``orderBy().limit()`` so Catalyst plans a
  ``TakeOrderedAndProject``: each partition computes a partial top-k and only
  k rows per partition travel to the driver — no full sort, no shuffle. This
  is the right plan at 100 TB and it is what we assert in tests.
- ``min_by_k`` reduces to a ``topk`` (k rows) followed by a single tiny
  aggregation, instead of a ``collect_list`` over the whole table (which
  would move every row to one reducer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import METRIC_IS_DESCENDING, canonical_metric, distance_expr

__all__ = ["topk", "min_by_k", "max_by_k", "grouped_topk"]


def topk(
    df: DataFrame,
    vec_col,
    query,
    k: int,
    metric: str = "l2sq",
    score_col: str = "score",
    tiebreak=None,
) -> DataFrame:
    """k nearest rows of ``df`` to the constant ``query`` vector.

    Returns ``df``'s columns plus ``score_col``. ``tiebreak`` (a column name)
    makes results deterministic under score ties — recommended for any
    correctness harness; the reference's own tests sidestep ties with seeded
    data (reference: test/sql/hnsw/hnsw_lateral_join_group.test:8).

    One plan: a single-phase exact TakeOrderedAndProject, with the bit-exact
    sequential-fold score expression (unrolled against the constant query,
    see :func:`~duckdb_vss_spark.functions.distance.distance_expr`) in the
    scan itself. Measured at duckdb-brute parity once the data amortizes
    the local job floor (10M x 64-dim cached: 0.59 s vs duckdb 0.61 s l2,
    0.55 s vs 0.43 s cosine); at 1M the residual vs duckdb is the fixed
    ~0.15-0.25 s local-mode scheduling + row-materialization floor, not
    per-row throughput. Candidate phases measured no faster at 1M x 64-dim:
    an f32 balanced-tree score overfetch with an exact re-rank 0.39 s vs
    0.37 s, an Arrow-batch GEMM scan 0.91 s (2.4 s vs 0.59 s at 10M — the
    Python worker boundary alone costs more than the JVM scan).

    Rows whose vector is NULL are excluded (the reference's index build
    plan filters IS NOT NULL, reference: src/hnsw/hnsw_index_plan.cpp:118-133).

    Null exclusion is deliberately NOT a pre-scan ``Filter``: a per-row
    Filter in front of ``TakeOrderedAndProject`` forces an extra
    row-materialization stage that measured ~20x slower on a 1M-row cached
    scan (1.3 s -> 0.065 s without it). A NULL vector produces a NULL score,
    so ordering NULLS LAST and filtering the <=k surviving rows after the
    limit is equivalent — and keeps the scan -> partial-top-k pipeline
    filter-free, the shape that matters at 100 TB.
    """
    m = canonical_metric(metric)
    if isinstance(vec_col, str):
        vec_col = F.col(vec_col)
    scored = df.withColumn(score_col, distance_expr(vec_col, query, m).alias(score_col))
    desc = METRIC_IS_DESCENDING[m]
    order = [F.col(score_col).desc_nulls_last() if desc else F.col(score_col).asc_nulls_last()]
    if tiebreak is not None:
        order.append(F.col(tiebreak) if isinstance(tiebreak, str) else tiebreak)
    return scored.orderBy(*order).limit(k).filter(F.col(score_col).isNotNull())


def _by_k(df, value_col, score: Column, k: int, descending: bool, tiebreak, filter=None) -> DataFrame:
    """Shared engine of min_by_k/max_by_k: exact top-k then ordered list agg.

    ``filter`` is the aggregate FILTER clause: only rows satisfying it feed
    the aggregate (reference carries it through the index rewrite,
    src/hnsw/hnsw_optimize_topk.cpp:191-193)."""
    if filter is not None:
        df = df.filter(filter)
    value_col = F.col(value_col) if isinstance(value_col, str) else value_col
    # min_by skips NULL order values — but a per-row `__s IS NOT NULL`
    # Filter would inline the whole score expression tree into a second
    # operator and force a row-materialization stage (measured 3.6 s vs
    # 0.05 s on a 1M-row cached scan). NULLS-LAST ordering + a post-limit
    # trim is equivalent and keeps the scan filter-free.
    order = [F.col("__s").desc_nulls_last() if descending else F.col("__s").asc_nulls_last()]
    if tiebreak is not None:
        scored = df.select(
            value_col.alias("__v"),
            score.alias("__s"),
            (F.col(tiebreak) if isinstance(tiebreak, str) else tiebreak).alias("__t"),
        )
        order.append(F.col("__t"))
    else:
        scored = df.select(value_col.alias("__v"), score.alias("__s"))
    head = scored.orderBy(*order).limit(k).filter(F.col("__s").isNotNull())
    # k rows left: sort-in-aggregate is O(k log k) on a single tiny group.
    sort_key = F.struct(
        (-F.col("__s") if descending else F.col("__s")).alias("s"),
        *([F.col("__t").alias("t")] if tiebreak is not None else []),
        F.col("__v").alias("v"),
    )
    arr = F.array_sort(F.collect_list(F.struct(sort_key.alias("k"), F.col("__v").alias("v"))))
    return head.agg(F.transform(arr, lambda e: e["v"]).alias("values"))


def grouped_topk(df: DataFrame, group_cols: list, order_cols: list, k: int) -> DataFrame:
    """Exact top-k rows PER GROUP, ordered ascending by ``order_cols``:
    ``row_number()`` window + filter ``<= k`` — one shuffle, sort per group
    inside each reducer task, all JVM. Measured at 10M rows with an
    8M-row hot group: **1.2 s** — a single-task 8M-row sort is cheap, and
    Spark's sort spills to disk rather than failing, so this plan is right
    far beyond where intuition says it breaks. A map-side per-partition
    partial top-k (``mapInPandas``) in front of the same window measured
    4.0 s on that fixture: the whole table crossing the Arrow boundary
    costs more than the skew it removes.

    ``group_cols`` are column names; ``order_cols`` may be names or Column
    expressions (aliased helper columns are projected and dropped on
    return). Ordering is ascending; include a unique tiebreak as the last
    order column for deterministic results.
    """
    proj = df
    names: list[str] = []
    for i, oc in enumerate(order_cols):
        nm = f"__gtk_o{i}"
        proj = proj.withColumn(nm, F.col(oc) if isinstance(oc, str) else oc)
        names.append(nm)
    w = Window.partitionBy(*group_cols).orderBy(*[F.col(n).asc() for n in names])
    out = proj.withColumn("__gtk_rn", F.row_number().over(w)).filter(F.col("__gtk_rn") <= k)
    return out.drop("__gtk_rn", *names)


def min_by_k(df, value_col, score: Column, k: int, tiebreak=None, filter=None) -> DataFrame:
    """DuckDB ``min_by(value, score, k) [FILTER (WHERE ...)]``: single-row
    DataFrame with column ``values`` = the k values with the smallest scores,
    ascending; ``filter`` restricts the aggregate's input rows.

    When rows tie at rank k, which of the tied rows are kept depends on the
    input's partitioning unless ``tiebreak`` (a column or column name,
    ascending) is given; only the k scores are fixed."""
    return _by_k(df, value_col, score, k, descending=False, tiebreak=tiebreak, filter=filter)


def max_by_k(df, value_col, score: Column, k: int, tiebreak=None, filter=None) -> DataFrame:
    """DuckDB ``max_by(value, score, k) [FILTER (WHERE ...)]`` (descending).
    Ties at rank k resolve as in :func:`min_by_k`: by ``tiebreak`` if given,
    else by the input's partitioning."""
    return _by_k(df, value_col, score, k, descending=True, tiebreak=tiebreak, filter=filter)
