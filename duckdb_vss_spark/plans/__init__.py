"""Logical query specs + the optimizer dispatch ("the rewrites").

The reference implements four optimizer rules that pattern-match relational
plans and substitute index operators (SURVEY §2.2 Q1/Q2/Q3/Q6). PySpark
cannot register Catalyst rules natively, so our planner sits *above*
Catalyst (SURVEY §4.1): the engine's API calls build one of these specs, the
planner decides index-vs-exact, and emits plain DataFrame ops — Catalyst
then does pushdown/pruning/AQE on the result.

The dispatch contract mirrors the reference:
- index metric must match the query metric
  (reference: src/hnsw/hnsw_index.cpp:659-689);
- ``k < 2048`` or silent exact fallback
  (reference: src/hnsw/hnsw_optimize_topk.cpp:171-174,
  src/hnsw/hnsw_optimize_join.cpp:457-461);
- residual table filters are applied AFTER the index candidates
  (post-filter => may return fewer than k rows, reference:
  src/hnsw/hnsw_optimize_scan.cpp:168-194 and
  test/sql/hnsw/where_clause_segfault.test:24-35);
- ``1 - cosine_similarity`` canonicalizes to the cosine metric
  (reference: src/hnsw/hnsw_optimize_expr.cpp:17-70) — in our API the
  ``metric="cosine"`` spelling already is the canonical form, and
  ``cosine_distance``/``1-sim`` spellings route through the same spec.

``explain()`` surfaces the chosen strategy with the reference's operator
names (HNSW_INDEX_SCAN / HNSW_INDEX_JOIN) because the reference's tests
assert on them (reference: test/sql/hnsw/hnsw_basic.test:22-25).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

__all__ = ["TopKSpec", "TopKAggSpec", "KnnJoinSpec", "Decision", "decide", "K_CEILING"]

# STANDARD_VECTOR_SIZE guard (reference: src/hnsw/hnsw_optimize_topk.cpp:172)
K_CEILING = 2048


@dataclass
class TopKSpec:
    """SELECT ... ORDER BY distance(vec, CONST) LIMIT k (Q1)."""

    table: str
    vec_col: str
    query: list
    k: int
    metric: str = "l2sq"
    residual_filter: Optional[str] = None


@dataclass
class TopKAggSpec:
    """SELECT min_by(col, distance(vec, CONST), k) FROM t (Q2)."""

    table: str
    value_col: str
    vec_col: str
    query: list
    k: int
    metric: str = "l2sq"


@dataclass
class KnnJoinSpec:
    """Lateral per-probe top-k / vss_join (Q3/Q4/Q5)."""

    left_table: str
    right_table: str
    left_col: str
    right_col: str
    k: int
    metric: str = "l2sq"


@dataclass
class Decision:
    strategy: str  # "HNSW_INDEX_SCAN" | "HNSW_INDEX_JOIN" | "EXACT"
    index_name: Optional[str] = None
    reason: str = ""
    ef_search: Optional[int] = None
    notes: list = field(default_factory=list)


def decide(spec, index_meta: Optional[dict], ef_search_override: Optional[int]) -> Decision:
    """The rewrite decision. ``index_meta`` is the matched index's manifest
    (or None if no index exists on (table, column))."""
    is_join = isinstance(spec, KnnJoinSpec)
    if index_meta is None:
        return Decision("EXACT", reason="no usable index on column")
    if index_meta.get("metric") != spec.metric:
        # the matcher requires the distance function to correspond to the
        # index metric (reference: src/hnsw/hnsw_index.cpp:659-689)
        return Decision("EXACT", reason=f"index metric {index_meta.get('metric')} != query metric {spec.metric}")
    if not (0 < spec.k < K_CEILING):
        return Decision("EXACT", reason=f"k={spec.k} outside (0, {K_CEILING}) index window")
    ef = ef_search_override if (ef_search_override or 0) > 0 else index_meta.get("options", {}).get("ef_search")
    return Decision(
        "HNSW_INDEX_JOIN" if is_join else "HNSW_INDEX_SCAN",
        index_name=index_meta.get("index_name"),
        reason="matched index",
        ef_search=ef,
    )


def explain_text(spec, decision: Decision, extra: dict | None = None) -> str:
    """Plan description string; operator-name markers are contract
    (reference: test/sql/hnsw/hnsw_basic.test:22-25,
    src/hnsw/hnsw_index_scan.cpp:158-165)."""
    lines = []
    ex = extra or {}
    # where the index operator read its rows (see IVFIndex.last_source)
    source = f", source: {ex['source']}" if ex.get("source") else ""
    if isinstance(spec, TopKSpec):
        if decision.strategy == "HNSW_INDEX_SCAN":
            if spec.residual_filter:
                lines.append(f"FILTER [{spec.residual_filter}]  (post-filter: may return < k rows)")
            if ex.get("fetch") == "none (covered)":
                lines.append("PROJECTION [id, score := index score]  (fetch: none (covered))")
            else:
                lines.append(
                    f"PROJECTION [score := {spec.metric}(vec, <const>)]  (fetch: broadcast id-join, exact recompute)"
                )
            codec = f", {ex['codec']}" if ex.get("codec") else ""
            backend = f", backend={ex['backend']}" if ex.get("backend") else ""
            lines.append(
                f"HNSW_INDEX_SCAN (index={decision.index_name}, k={spec.k}, "
                f"ef_search={decision.ef_search}, nprobe={ex.get('nprobe', '?')}/{ex.get('nlist', '?')}{codec}{backend}"
                f"{source})"
            )
        else:
            lines.append(f"TOP_N (k={spec.k}, metric={spec.metric})  [TakeOrderedAndProject]")
            if spec.residual_filter:
                lines.append(f"FILTER [{spec.residual_filter}] (pushed down)")
            lines.append(f"PROJECTION [score := {spec.metric}(vec, <const>)]")
            lines.append(f"SEQ_SCAN ({spec.table})")
    elif isinstance(spec, TopKAggSpec):
        if decision.strategy == "HNSW_INDEX_SCAN":
            lines.append(f"AGGREGATE [list({spec.value_col} ORDER BY score ASC)]")
            lines.append(
                f"HNSW_INDEX_SCAN (index={decision.index_name}, k={spec.k}, ef_search={decision.ef_search}{source})"
            )
        else:
            lines.append(f"AGGREGATE [min_by({spec.value_col}, score, {spec.k})]")
            lines.append(f"PROJECTION [score := {spec.metric}(vec, <const>)]")
            lines.append(f"SEQ_SCAN ({spec.table})")
    elif isinstance(spec, KnnJoinSpec):
        if decision.strategy == "HNSW_INDEX_JOIN":
            lines.append(
                f"HNSW_INDEX_JOIN (index={decision.index_name}, k={spec.k}, "
                f"ef_search={decision.ef_search}{source}) [parallel over index partitions]"
            )
            lines.append(f"SEQ_SCAN ({spec.left_table}) [probe side, broadcast]")
        else:
            lines.append(f"WINDOW [row_number() PARTITION BY probe ORDER BY score] <= {spec.k}")
            lines.append(f"KNN_CANDIDATES [broadcast-kernel exact] ({spec.left_table} x {spec.right_table})")
    out = []
    for i, l in enumerate(lines):
        out.append(("    " * i) + ("└── " if i else "") + l)
    out.append(f"-- strategy: {decision.strategy} ({decision.reason})")
    return "\n".join(out)
