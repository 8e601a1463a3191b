"""VSSEngine — the user-facing facade tying tables, indexes, planner
dispatch, and operators together.

This is the analog of "DuckDB with the vss extension loaded": you register
tables, create HNSW-style indexes on vector columns, and issue top-k /
min_by-k / knn-join queries; the engine's planner transparently routes each
query to the index (HNSW_INDEX_SCAN / HNSW_INDEX_JOIN strategies) when the
reference's trigger conditions hold, and falls back to the exact DataFrame
plan otherwise (SURVEY §2.2, §4.1).
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import distance as D
from .functions.distance import METRIC_IS_DESCENDING, bound_vec, canonical_metric, distance_expr
from .index.catalog import IndexCatalog
from .operators.knn import join_from_flat, knn_join_flat, knn_join_flat_indexed, knn_match, match_from_flat
from .operators.topk import _by_k
from .operators.topk import topk as exact_topk
from .plans import Decision, KnnJoinSpec, TopKAggSpec, TopKSpec, decide, explain_text

__all__ = ["VSSEngine"]


class VSSEngine:
    def __init__(self, spark: SparkSession, index_root: str = ".vss_indexes"):
        from .deploy import ensure_shipped

        ensure_shipped(spark)
        self.spark = spark
        self.catalog = IndexCatalog(spark, index_root)
        self.tables: dict[str, DataFrame] = {}
        # SET hnsw_ef_search session override; > 0 wins over the per-index
        # value (reference: src/hnsw/hnsw_index.cpp:318-329)
        self.ef_search_override: Optional[int] = None
        # pragma disable_optimizer analog: when False every query takes the
        # exact plan even if a matching index exists — the reference's
        # strongest equivalence-test lever (reference:
        # test/sql/hnsw/hnsw_rewrite.test:19-34)
        self.optimizer_enabled: bool = True
        # hnsw_enable_experimental_persistence analog (reference:
        # src/hnsw/hnsw_index_plan.cpp:21-30). The reference defaults OFF
        # because its persistence is an experimental in-RAM-blob
        # serialization; ours is plain partitioned parquet + manifest, so
        # the default is ON. Setting it to false restores the reference's
        # DDL-time guard (byte-identical error) for drop-in test parity.
        self.enable_experimental_persistence: bool = True
        # explain text of the most recent planner decision (topk / by_k /
        # knn_join) — the assertion surface for callers that reach the
        # planner indirectly (the SQL frontend's embedded-fragment pass)
        self.last_plan: Optional[str] = None

    # -- tables -----------------------------------------------------------
    def register_table(self, name: str, df: DataFrame) -> None:
        self.tables[name] = df
        df.createOrReplaceTempView(name)

    def table(self, t: Union[str, DataFrame]) -> DataFrame:
        if isinstance(t, DataFrame):
            return t
        if t in self.tables:
            return self.tables[t]
        return self.spark.table(t)

    def _table_name(self, t: Union[str, DataFrame]) -> str:
        return t if isinstance(t, str) else ""

    # -- settings ---------------------------------------------------------
    def set_ef_search(self, n: Optional[int]) -> None:
        self.ef_search_override = n

    def set_optimizer_enabled(self, enabled: bool) -> None:
        """``pragma enable_optimizer`` / ``pragma disable_optimizer``:
        toggles index routing so identical queries can be differentially
        tested with and without the rewrites."""
        self.optimizer_enabled = bool(enabled)

    def set_enable_experimental_persistence(self, enabled: bool) -> None:
        """``SET hnsw_enable_experimental_persistence = <bool>``; see the
        constructor note for why our default inverts the reference's."""
        self.enable_experimental_persistence = bool(enabled)

    # -- index DDL --------------------------------------------------------
    def create_index(
        self,
        name: str,
        table: Union[str, DataFrame],
        column: str,
        id_column: str,
        options: dict | None = None,
        nlist: int | None = None,
        replace: bool = False,
    ):
        if not self.enable_experimental_persistence:
            from .index.catalog import BinderException

            # byte-identical DDL guard (reference:
            # test/sql/hnsw/hnsw_experimental_persistence.test:18-21)
            raise BinderException(
                "HNSW indexes can only be created in in-memory databases, or when the configuration "
                "option 'hnsw_enable_experimental_persistence' is set to true."
            )
        return self.catalog.create_index(
            name,
            self.table(table),
            column,
            id_column,
            table_name=self._table_name(table),
            options=options,
            nlist=nlist,
            replace=replace,
        )

    def drop_index(self, name: str) -> None:
        self.catalog.drop_index(name)

    def compact_index(self, name: str, incremental: bool = False):
        return self.catalog.compact_index(name, incremental=incremental)

    def index_info(self) -> DataFrame:
        return self.catalog.index_info()

    def insert(self, index_name: str, df: DataFrame, vec_col: str | None = None, id_col: str | None = None) -> None:
        idx = self.catalog.get(index_name)
        idx.insert(df, vec_col or idx.manifest.get("column", "vec"), id_col or idx.manifest.get("id_column", "id"))

    def delete(self, index_name: str, ids: list) -> None:
        self.catalog.get(index_name).delete(self.spark, ids)

    # -- index matching (the optimizer's TryBindIndexExpression analog,
    #    reference: src/hnsw/hnsw_index.cpp:610-689) ----------------------
    def _find_index(self, table_name: str, column: str, metric: str):
        if not table_name:
            return None
        for name in self.catalog.list_indexes():
            idx = self.catalog.get(name)
            m = idx.manifest
            if m.get("table_name") == table_name and m.get("column") == column and m.get("metric") == metric:
                return idx
        return None

    def _decide(self, spec, idx) -> Decision:
        if not self.optimizer_enabled:
            return Decision("EXACT", reason="optimizer disabled")
        return decide(spec, idx.manifest if idx is not None else None, self.ef_search_override)

    # -- Q1: top-k by distance -------------------------------------------
    def topk(
        self,
        table: Union[str, DataFrame],
        vec_col: str,
        query: list,
        k: int,
        metric: str = "l2sq",
        where: str | None = None,
        score_col: str = "score",
        tiebreak: str | None = None,
        columns: list | None = None,
    ) -> DataFrame:
        """Top-``k`` rows of ``table`` by ``metric`` distance to ``query``,
        with the score in ``score_col``. ``columns`` names the only columns
        the caller will read; when they are all the index's id column or
        ``score_col`` (and there is no ``where``), an index-routed query
        answers from the index alone and returns just those two columns —
        ids the index holds but the table lacks then still come back."""
        df, plan = self._plan_topk(table, vec_col, query, k, metric, where, score_col, tiebreak, columns)
        return df

    def explain_topk(self, table, vec_col, query, k, metric="l2sq", where=None) -> str:
        _, plan = self._plan_topk(table, vec_col, query, k, metric, where, "score", None)
        return plan

    def _plan_topk(self, table, vec_col, query, k, metric, where, score_col, tiebreak, columns=None):
        m = canonical_metric(metric)
        df = self.table(table)
        spec = TopKSpec(self._table_name(table) or "<df>", vec_col, list(query), k, m, where)
        idx = self._find_index(self._table_name(table), vec_col, m)
        decision = self._decide(spec, idx)
        extra = {}
        if decision.strategy == "HNSW_INDEX_SCAN":
            id_col = idx.manifest.get("id_column", "id")
            # the index's own (id, score) order is (score, id): it serves an
            # id tiebreak, and any order when none is asked for
            covered = (
                columns is not None
                and not where
                and tiebreak in (None, id_col)
                and {c.lower() for c in columns} <= {id_col.lower(), score_col.lower()}
            )
            extra = {"nprobe": idx.nprobe_for(decision.ef_search), "nlist": idx.nlist,
                     "codec": idx.codec.label if idx.codec is not None else None,
                     "backend": "graph" if getattr(idx, "is_graph", False) else "ivf",
                     "fetch": "none (covered)" if covered else "broadcast id-join"}
            hits = idx.search(self.spark, list(query), k, decision.ef_search)
            extra["source"] = idx.last_source
            if covered:
                out = hits.select(F.col("id").alias(id_col), F.col("score").alias(score_col))
            else:
                # fetch full rows by id (rowid-fetch becomes a broadcast
                # semi-join, SURVEY §1.1) and score them exactly again
                fetched = df.join(F.broadcast(hits.select(F.col("id").alias(id_col))), id_col)
                out = fetched.withColumn(score_col, distance_expr(vec_col, bound_vec(query), m))
                if where:
                    # post-filter: applied AFTER the k candidates -> may yield < k
                    # rows (reference: test/sql/hnsw/where_clause_segfault.test:24-35)
                    out = out.filter(where)
                desc = METRIC_IS_DESCENDING[m]
                order = [F.col(score_col).desc() if desc else F.col(score_col).asc()]
                if tiebreak:
                    order.append(F.col(tiebreak))
                out = out.orderBy(*order).limit(k)
        else:
            src = df.filter(where) if where else df
            out = exact_topk(src, vec_col, list(query), k, m, score_col=score_col, tiebreak=tiebreak)
        plan = explain_text(spec, decision, extra)
        self.last_plan = plan
        return out, plan

    # -- Q2: min_by / max_by top-k aggregates ----------------------------
    # DuckDB's 3-arg min_by returns the k SMALLEST score values no matter
    # which function produced the score, and max_by the k largest. The index
    # can serve the aggregate only when that ordering coincides with the
    # index's nearest-first ordering (reference matcher:
    # src/hnsw/hnsw_optimize_topk.cpp:83-94 + hnsw_index.cpp:659-689):
    #   min_by + array_distance / array_cosine_distance /
    #            array_negative_inner_product  -> nearest-first, routable
    #   max_by + array_cosine_similarity / array_inner_product -> routable
    # Every other combination is a farthest-first query: exact path only.
    _SCORE_FNS = {
        "array_distance": (D.array_distance, "l2sq"),
        "array_cosine_distance": (D.array_cosine_distance, "cosine"),
        "array_cosine_similarity": (D.array_cosine_similarity, "cosine"),
        "array_inner_product": (D.array_inner_product, "ip"),
        "array_negative_inner_product": (D.array_negative_inner_product, "ip"),
    }
    _MINBY_ROUTABLE = {"array_distance", "array_cosine_distance", "array_negative_inner_product"}
    _MAXBY_ROUTABLE = {"array_cosine_similarity", "array_inner_product"}
    # legacy metric spellings: the metric's distance form, so "the k nearest"
    # stays the result while the polarity follows true min_by semantics
    _LEGACY_FN = {"l2sq": "array_distance", "l2": "array_distance", "cosine": "array_cosine_distance",
                  "cos": "array_cosine_distance", "ip": "array_negative_inner_product"}

    def min_by_k(
        self,
        table: Union[str, DataFrame],
        value_col: str,
        vec_col: str,
        query: list,
        k: int,
        metric: str = "l2sq",
        filter: str | None = None,
    ) -> DataFrame:
        """``min_by(value_col, metric(vec_col, query), k)`` through the index
        when one applies, else exact. Both paths pass ``tiebreak=None`` to
        :func:`~duckdb_vss_spark.operators.topk.min_by_k`, so when rows tie at
        rank k, which tied rows are kept depends on the partitioning (and, on
        the index path, on which hits the index returns)."""
        df, _ = self._plan_by_k(table, value_col, vec_col, query, k, metric, filter, descending=False)
        return df

    def max_by_k(
        self,
        table: Union[str, DataFrame],
        value_col: str,
        vec_col: str,
        query: list,
        k: int,
        metric: str = "array_cosine_similarity",
        filter: str | None = None,
    ) -> DataFrame:
        """``max_by(value_col, metric(vec_col, query), k)``; ties at rank k
        resolve as in :meth:`min_by_k` (``tiebreak=None`` on both paths)."""
        df, _ = self._plan_by_k(table, value_col, vec_col, query, k, metric, filter, descending=True)
        return df

    def explain_min_by_k(self, table, value_col, vec_col, query, k, metric="l2sq", filter=None) -> str:
        _, plan = self._plan_by_k(table, value_col, vec_col, query, k, metric, filter, descending=False)
        return plan

    def _plan_by_k(self, table, value_col, vec_col, query, k, metric, where, descending):
        fn_name = self._LEGACY_FN.get(metric.lower(), metric.lower())
        if fn_name not in self._SCORE_FNS:
            raise ValueError("Unknown metric")
        score_fn, idx_metric = self._SCORE_FNS[fn_name]
        routable = fn_name in (self._MAXBY_ROUTABLE if descending else self._MINBY_ROUTABLE)
        df = self.table(table)
        spec = TopKAggSpec(self._table_name(table) or "<df>", value_col, vec_col, list(query), k, idx_metric)
        idx = self._find_index(self._table_name(table), vec_col, idx_metric) if routable else None
        decision = self._decide(spec, idx)
        extra = None
        if decision.strategy == "HNSW_INDEX_SCAN":
            hits = idx.search(self.spark, list(query), k, decision.ef_search)
            id_col = idx.manifest.get("id_column", "id")
            fetched = df.join(F.broadcast(hits.select(F.col("id").alias(id_col))), id_col)
            # agg FILTER applies to the k scanned candidates (may yield < k
            # values — reference carries the clause through the rewrite,
            # src/hnsw/hnsw_optimize_topk.cpp:191-193)
            score = score_fn(vec_col, bound_vec(query))
            out = _by_k(fetched, value_col, score, k, descending=descending, tiebreak=None, filter=where)
            extra = {"source": idx.last_source}
        else:
            out = _by_k(df, value_col, score_fn(vec_col, list(query)), k, descending=descending, tiebreak=None,
                        filter=where)
        plan = explain_text(spec, decision, extra)
        self.last_plan = plan
        return out, plan

    # -- Q3/Q4/Q5: knn join ----------------------------------------------
    def knn_join(
        self,
        left: Union[str, DataFrame],
        right: Union[str, DataFrame],
        left_col: str,
        right_col: str,
        k: int,
        metric: str = "l2sq",
        left_id: str = None,
        right_id: str = None,
        flat: bool = True,
    ) -> DataFrame:
        df, _ = self._plan_knn_join(left, right, left_col, right_col, k, metric, left_id, right_id, flat)
        return df

    def explain_knn_join(self, left, right, left_col, right_col, k, metric="l2sq", left_id=None, right_id=None) -> str:
        _, plan = self._plan_knn_join(left, right, left_col, right_col, k, metric, left_id, right_id, True)
        return plan

    def _plan_knn_join(self, left, right, left_col, right_col, k, metric, left_id, right_id, flat):
        m = canonical_metric(metric)
        ldf, rdf = self.table(left), self.table(right)
        spec = KnnJoinSpec(
            self._table_name(left) or "<df>", self._table_name(right) or "<df>", left_col, right_col, k, m
        )
        idx = self._find_index(self._table_name(right), right_col, m)
        decision = self._decide(spec, idx)
        extra = None
        if decision.strategy == "HNSW_INDEX_JOIN":
            out = knn_join_flat_indexed(ldf, idx, left_col, k, left_id, decision.ef_search)
            extra = {"source": idx.last_source}
        else:
            out = knn_join_flat(ldf, rdf, left_col, right_col, k, m, left_id, right_id)
        if not flat:
            out = join_from_flat(out, ldf, rdf, left_id, right_id)
        plan = explain_text(spec, decision, extra)
        self.last_plan = plan
        return out, plan

    def vss_join(self, left, right, left_col, right_col, k, metric="l2sq", left_id=None, right_id=None) -> DataFrame:
        """vss_join macro parity (struct output)."""
        return self.knn_join(left, right, left_col, right_col, k, metric, left_id, right_id, flat=False)

    def vss_match(self, left, right, left_col, right_col, k, metric="l2sq", left_id=None, right_id=None) -> DataFrame:
        """vss_match macro parity (matches list output). The flat k-NN core
        routes through the index (HNSW_INDEX_JOIN) when one matches; the
        list-of-struct assembly is shared with the exact path."""
        flat, _ = self._plan_knn_join(left, right, left_col, right_col, k, metric, left_id, right_id, True)
        return match_from_flat(flat, self.table(left), self.table(right), left_id, right_id)

    def hybrid_topk(
        self,
        table: Union[str, DataFrame],
        vec_col: str,
        id_col: str,
        query_vec: list,
        query_terms: list,
        text_col: str = "text",
        k: int = 10,
        pool: int = 50,
        metric: str = "cosine",
        rrf_k: int = 60,
        mmr_lambda: float | None = None,
    ) -> DataFrame:
        """Hybrid lexical+vector retrieval in one call: the vector
        shortlist comes from :meth:`topk` (HNSW_INDEX_SCAN when an index
        matches, exact TakeOrderedAndProject otherwise), the lexical
        shortlist from BM25 over ``text_col``, fused by Reciprocal Rank
        Fusion; pass ``mmr_lambda`` to finish with an MMR diversification
        pass over the fused top-``k``'s vectors. Returns
        ``(id_col, rrf_score, n_lists)`` best-first (or MMR's selection
        frame when diversifying). Both shortlists are ``pool``-bounded, so
        every post-shortlist step is O(pool) regardless of table size.
        """
        from pyspark.sql import functions as F

        from .operators.ranking import bm25_rank, mmr_rerank, rrf_fuse

        from .functions.distance import METRIC_IS_DESCENDING, canonical_metric

        df = self.table(table)
        # polarity by the metric table (NOT a raw-string check: 'cos' is a
        # valid alias and must not fall into the negate branch); validate
        # first so a bad name raises the macro's error, not a KeyError
        higher_is_better = METRIC_IS_DESCENDING[canonical_metric(metric)]
        vec = self.topk(
            table, vec_col, query_vec, pool, metric, tiebreak=id_col, columns=[id_col, "score"]
        ).select(
            F.col(id_col),
            (F.col("score") if higher_is_better else -F.col("score"))
            .cast("float")
            .alias("score"),
        )
        lex = bm25_rank(df, text_col, id_col, query_terms, limit=pool).select(
            id_col, F.col("score").cast("float").alias("score")
        )
        fused = rrf_fuse({"lex": lex, "vec": vec}, id_col, k=rrf_k, limit=k)
        if mmr_lambda is None:
            return fused
        cand = df.join(fused.select(id_col), id_col, "left_semi")
        return mmr_rerank(
            cand, vec_col, id_col, query_vec, k=k, lam=mmr_lambda, pool=k
        )
