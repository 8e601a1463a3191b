"""k-NN join operators: ``knn_join`` (vss_join parity), ``knn_match``
(vss_match parity), and the flat candidate engine both build on.

Reference surface:
- ``vss_join(left, right, lcol, rcol, k, metric)`` -> rows of
  ``(score, left_tbl STRUCT, right_tbl STRUCT)``
  (reference macro: src/hnsw/hnsw_index_macros.cpp:9-46).
- ``vss_match(right, lcol, rcol, k, metric)`` (lateral) -> per left row a
  ``matches`` LIST of ``{'score', 'row'}``
  (reference macro: src/hnsw/hnsw_index_macros.cpp:48-74).
- The HNSW_INDEX_JOIN physical operator emits a 1-indexed match-rank
  (reference: src/hnsw/hnsw_optimize_join.cpp:146).

Execution strategy (Spark-first, designed for the 100 TB side being the
*items* side):

``broadcast-kernel`` (default when the probe side fits in a driver/executor
broadcast, like the reference's probe-batched join which holds one batch of
probes at a time, reference: src/hnsw/hnsw_optimize_join.cpp:135):
  1. collect probe (id, vector) pairs once, broadcast as a numpy matrix;
  2. ``mapInPandas`` over the items side: each partition folds its Arrow
     batches into a running per-probe top-k with one GEMM per batch —
     items never shuffle, partitions never exchange data;
  3. at the end of each partition the kernel scores its surviving
     (probe, item) pairs with ``kernels.paired_exact_scores`` — the same
     left-to-right float64 fold as the JVM ``distance_expr``, so the doubles
     are bit-identical — and emits ``(qid, rid, score)``. That score is the
     authoritative one: nothing re-reads the probe side to re-score, so the
     probes are read exactly once (step 1), as the reference's operator
     scores each probe in the same search that finds its matches;
  4. a window on probe id ranks the ``num_partitions * Q * k`` candidates
     (tiny relative to the input) and cuts to k; full rows are joined back
     by id only if struct output is requested.
  Unlike the reference's operator, which is declared non-parallel
  (reference: src/hnsw/hnsw_optimize_join.cpp:65-67), every stage here
  parallelizes across item partitions. An index join against an index
  resident on its handle (``RESIDENT_BYTES_BUDGET``) runs steps 2-4 on the
  driver instead: the same fold (:func:`fold_topk`) over the resident rows,
  then the rank in numpy, so the probe collect (a bounded collect: two
  small jobs and no shuffle) is its only Spark work.

``cell-cogroup`` (index joins with a probe side too big to broadcast, or
of at least ``DISTRIBUTED_MIN_PROBES`` probes —
:func:`knn_join_flat_indexed_distributed`): probes assign to their probed
cells map-side, both sides shuffle by cell, and each cell runs the same fold
(:func:`fold_topk`) over its rows for its probes, emitting exact ``(qid,
rid, score)`` rows; the tail's rows come from the same fold per probe
batch, and the per-probe window cuts to k. No driver collect anywhere.

Tombstones: every index join takes its item rows from
``IVFIndex.live_rows``, the data rows of the probed lists and the whole tail
minus the tombstones (an anti-join the planner broadcasts while the
tombstones fit), so deleted rows leave before any kernel and each probe
keeps k live slots. A graph shard cannot drop rows (its adjacency is by row
position): its kernel walks tombstoned rows and never returns one.

Quantized artifacts (:mod:`..index.pq`) run the same fold with their
codec's scorer over the code columns instead of the vectors, and re-rank
the shortlist exactly.

``crossjoin``: pure DataFrame fallback (cross join + window top-k) when the
probe side is itself huge; correct at any size but O(|L|*|R|) compute —
the same asymptotics the reference macro has.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import METRIC_IS_DESCENDING, canonical_metric, distance_expr
from ..functions.kernels import as_matrix, local_topk, paired_exact_scores, pairwise_scores, sort_key
from ..broadcasts import tracked_broadcast
from ..session import collect_at_most

__all__ = ["knn_join_flat", "knn_join", "knn_match"]

# Above this probe-row count we refuse to broadcast and fall back to the
# cross-join plan (a 1M x 64-dim f64 probe matrix is ~512 MB of broadcast).
DEFAULT_BROADCAST_PROBE_LIMIT = 1_000_000
_PROBE_CHUNK = 1024  # bounds the (batch x probe-chunk) GEMM output size
# Indexed joins with at least this many probes take the distributed
# cell-cogroup path even though the probe side would still broadcast: the
# broadcast masked kernel's compute is O(N x nq) (full GEMM, then mask)
# while the cell path is O(N x nq x nprobe/nlist) — measured at 10M rows x
# 2k probes x ef=8: 14.5 s distributed vs 147 s for the coverage-rerouted
# flat join. Below it, the broadcast kernel's single-pass zero-shuffle shape
# wins on fixed costs (100 probes: ~0.8 s).
DISTRIBUTED_MIN_PROBES = 1024
# An unquantized IVF index with no tail or tombstones is served from a copy
# of its base and delta rows (8-byte id + f32 vector per row) resident on
# its handle while every such copy in the process fits this many bytes
# together: point queries run no Spark job and joins only the probe
# collect (the reference keeps its whole index in process memory,
# src/hnsw/hnsw_index.cpp:223-239). Any other index reads parquet. Set from
# /proc CPU on a 4-core VM, resident vs parquet: point queries cost 6-22x
# less at every size tried; a 256-probe join costs 1.9x less at 5 MB,
# 1.3x less at 63 MB (250k x 64) and 1.7x less at 62 MB (21k x 768), and
# breaks even at 126 MB (500k x 64), where one driver process folding the
# whole index no longer beats four executor cores.
RESIDENT_BYTES_BUDGET = 64 << 20
# rows per batch the driver feeds the fold from a resident copy, as an
# Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch``) does
_RESIDENT_BATCH_ROWS = 10_000


def fold_topk(items, qids, qmat, k: int, metric: str, mask=None, scorer=None) -> "pd.DataFrame | None":
    """The running per-probe top-k fold (module docstring, steps 2-3) over
    ``items``, an iterable of ``(rids, batch, lists)`` batches: per batch
    and probe chunk, one scoring call picks each probe's running top-k.

    Without ``scorer`` each ``batch`` is the rows' (n, d) vectors: a GEMM
    (``pairwise_scores``) picks the survivors, which are then scored with
    ``paired_exact_scores``. With ``scorer`` (a codec's, see
    :mod:`..index.pq`) each ``batch`` is the pandas batch its ``prep``
    reads, and the survivors keep the codec's approximate score, for the
    caller's exact re-rank. ``mask`` (nlist, nq) bool lets a row compete
    only for the probes whose probe set holds its inverted list (``lists``,
    one id per row; None without a mask). Returns the ``(qid, rid, score)``
    survivors, or None when no row arrived; a NaN or masked-out score never
    survives. The Spark kernels run it once per partition or cell, an
    index's resident copy once on the driver, so every path scores alike."""
    import numpy as np

    desc = METRIC_IS_DESCENDING[metric]
    fill = -np.inf if desc else np.inf
    nq = len(qids)
    # best_scores/best_rids are (k, nq); best_vecs (k, nq, d) f32 keeps the
    # candidate vectors for the exact score at the end
    best_scores = best_rids = best_vecs = None
    for rids, batch, lists in items:
        if scorer is None:
            vecs32 = batch.astype(np.float32, copy=False)
            imat = np.ascontiguousarray(vecs32, dtype=np.float64)
            score = lambda q0, q1: pairwise_scores(imat, qmat[q0:q1], metric)  # noqa: E731
        else:
            score = scorer(batch)
        if best_scores is None:
            best_scores = np.full((k, nq), fill)
            # object dtype + None sentinel: rid columns may be strings,
            # where an int64 fill would crash the vstack with a cast error
            rid_numeric = np.issubdtype(rids.dtype, np.number)
            best_rids = (
                np.full((k, nq), -1, dtype=np.int64) if rid_numeric else np.full((k, nq), None, dtype=object)
            )
            if scorer is None:
                best_vecs = np.zeros((k, nq, imat.shape[1]), dtype=np.float32)
        for q0 in range(0, nq, _PROBE_CHUNK):
            q1 = min(q0 + _PROBE_CHUNK, nq)
            scores = score(q0, q1)  # (n_items, chunk)
            if mask is not None:
                scores = np.where(mask[lists][:, q0:q1], scores, fill)
            idx = local_topk(scores, k, desc)  # (k', chunk)
            cols = np.arange(q1 - q0)[None, :]
            merged_s = np.vstack([best_scores[:, q0:q1], scores[idx, cols]])
            merged_r = np.vstack([best_rids[:, q0:q1], rids[idx]])
            keep = local_topk(merged_s, k, desc)
            best_scores[: keep.shape[0], q0:q1] = merged_s[keep, cols]
            best_rids[: keep.shape[0], q0:q1] = merged_r[keep, cols]
            if best_vecs is not None:
                merged_v = np.concatenate([best_vecs[:, q0:q1, :], vecs32[idx]], axis=0)
                best_vecs[: keep.shape[0], q0:q1, :] = merged_v[keep, cols, :]
    if best_scores is None:
        return None
    # fill slots, masked-out entries and NaN scores dropped; every kept
    # vector slot is scored exactly against its own probe
    valid = np.isfinite(best_scores.ravel(order="F"))
    if best_vecs is not None:
        best_scores = paired_exact_scores(qmat, best_vecs, metric)  # (k, nq)
    return pd.DataFrame(
        {
            "qid": np.repeat(qids, k)[valid],
            "rid": best_rids.ravel(order="F")[valid],
            "score": best_scores.ravel(order="F")[valid],
        }
    )


def _candidates_broadcast(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_id: str,
    right_id: str,
    k: int,
    metric: str,
    probe_mask: "np.ndarray | None" = None,
    right_list_col: str | None = None,
    probes_pdf: "pd.DataFrame | None" = None,
    codec=None,
) -> DataFrame:
    """Per-partition top-k candidate generation (see module docstring):
    ``(qid, rid, score)`` rows from :func:`fold_topk`.

    ``probe_mask`` (nlist, nq) bool + ``right_list_col``: IVF index-join mode —
    item rows only compete for probes whose probe-set contains the item's
    inverted list (the per-probe approximate search of the reference's
    HNSW_INDEX_JOIN, reference: src/hnsw/hnsw_optimize_join.cpp:111-168).

    ``codec``: a quantized artifact's codec (:mod:`..index.pq`). The kernel
    then reads its code columns of ``right`` instead of ``right_on`` (never
    the f32 vectors; fold memory is O(k * nq) scalars) and the score is the
    codec's approximate one, for the caller's exact re-rank.
    """
    spark = left.sparkSession
    if probes_pdf is None:
        probes_pdf = (
            left.select(F.col(left_id).alias("qid"), F.col(left_on).alias("v"))
            .filter(F.col(left_on).isNotNull())
            .toPandas()
        )
    qids = probes_pdf["qid"].to_numpy()
    qmat = as_matrix(probes_pdf["v"]) if len(probes_pdf) else None
    bc = tracked_broadcast(spark.sparkContext, (qids, qmat, probe_mask, codec))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        qids_l, qmat_l, mask_l, codec_l = bc.value
        if qmat_l is None:
            return

        def items():
            for pdf in batches:
                if len(pdf):
                    lists = pdf["__lst"].to_numpy() if mask_l is not None else None
                    batch = pdf if codec_l is not None else np.vstack(pdf["v"].to_numpy())
                    yield pdf["rid"].to_numpy(), batch, lists

        scorer = codec_l.scorer(qmat_l, metric) if codec_l is not None else None
        out = fold_topk(items(), qids_l, qmat_l, k, metric, mask_l, scorer)
        if out is not None:
            yield out

    payload = [F.col(c) for c in codec.scan_cols] if codec is not None else [F.col(right_on).alias("v")]
    item_cols = [F.col(right_id).alias("rid"), *payload]
    if right_list_col is not None:
        item_cols.append(F.col(right_list_col).alias("__lst"))
    items = right.select(*item_cols)
    if codec is None:
        items = items.filter(F.col(right_on).isNotNull())
    qid_t = dict(left.dtypes)[left_id]
    rid_t = dict(right.dtypes)[right_id]
    # The GEMM picks candidates; their authoritative score comes from
    # ``paired_exact_scores`` in the same task, bit-identical to the JVM
    # ``distance_expr`` (which matches DuckDB's DOUBLE[] computation after
    # an f32 round-trip), so the probe side is read once, by the collect.
    return items.mapInPandas(gen, schema=f"qid {qid_t}, rid {rid_t}, score double")


def _candidates_crossjoin(
    left: DataFrame, right: DataFrame, left_on: str, right_on: str, left_id: str, right_id: str, metric: str
) -> DataFrame:
    l = left.select(F.col(left_id).alias("qid"), F.col(left_on).alias("__lv")).filter(F.col(left_on).isNotNull())
    r = right.select(F.col(right_id).alias("rid"), F.col(right_on).alias("__rv")).filter(F.col(right_on).isNotNull())
    return l.crossJoin(r).select("qid", "rid", distance_expr("__lv", "__rv", metric).alias("score"))


def knn_join_flat(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    k: int,
    metric: str = "l2sq",
    left_id: str = None,
    right_id: str = None,
    method: str = "auto",
    broadcast_probe_limit: int = DEFAULT_BROADCAST_PROBE_LIMIT,
    *,
    _probes_pdf: "pd.DataFrame | None" = None,
) -> DataFrame:
    """Flat k-NN join: ``(qid, rid, rnk, score)`` — for each left row the k
    best right rows by ``metric``, ``rnk`` 1-indexed like the reference's
    match-rank column (reference: src/hnsw/hnsw_optimize_join.cpp:146).

    Ties broken by ``rid`` so results are deterministic. ``_probes_pdf``:
    probes a caller already collected with :func:`_collect_probes`, so the
    probe side is not read a second time.
    """
    m = canonical_metric(metric)
    if left_id is None or right_id is None:
        raise ValueError("knn_join requires explicit left_id/right_id columns")
    probes_pdf = _probes_pdf
    if method == "auto" and probes_pdf is None:
        # guard folded into the probe collection itself: limit(n+1) rows come
        # back in one collect and double as the broadcast probe matrix — no
        # separate count() pre-pass
        probes_pdf = _collect_probes(left, left_on, left_id, broadcast_probe_limit)
    use_kernel = method == "kernel" or (method == "auto" and probes_pdf is not None)
    if use_kernel:
        cand = _candidates_broadcast(
            left, right, left_on, right_on, left_id, right_id, k, m, probes_pdf=probes_pdf
        )
    else:
        cand = _candidates_crossjoin(left, right, left_on, right_on, left_id, right_id, m)
    return _rank_topk(cand, k, m)


def _rank_topk(cand: DataFrame, k: int, metric: str) -> DataFrame:
    """The final per-probe cut over ``(qid, rid, score)`` candidates:
    ``rnk`` 1-indexed by score polarity, ties broken by ``rid``."""
    desc = METRIC_IS_DESCENDING[metric]
    order = [F.col("score").desc() if desc else F.col("score").asc(), F.col("rid").asc()]
    w = Window.partitionBy("qid").orderBy(*order)
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rid", "rnk", "score")
    )


def _rank_local(cand: pd.DataFrame, k: int, metric: str) -> pd.DataFrame:
    """:func:`_rank_topk` in numpy, for candidates already on the driver:
    per ``qid`` by score polarity, then ``rid``, ``rnk`` 1-indexed."""
    import numpy as np

    score = cand["score"].to_numpy()
    qid = sort_key(cand["qid"].to_numpy())
    order = np.lexsort(
        (sort_key(cand["rid"].to_numpy()), -score if METRIC_IS_DESCENDING[metric] else score, qid)
    )
    out = cand.iloc[order].reset_index(drop=True)
    q, pos = qid[order], np.arange(len(out))
    group_start = np.maximum.accumulate(np.where(np.r_[True, q[1:] != q[:-1]], pos, 0))
    out["rnk"] = (pos - group_start + 1).astype(np.int32)
    return out[out["rnk"] <= k][["qid", "rid", "rnk", "score"]]


def _resident_join(spark, res, probes_pdf, qmat, k: int, metric: str, schema: str, mask=None, lists=None) -> DataFrame:
    """The broadcast kernel's join answered on the driver from an index's
    resident copy ``res``: :func:`fold_topk` over the rows of ``lists``
    (every row when None) with ``mask``, ranked by :func:`_rank_local`, as
    a local relation of ``(qid, rid, rnk, score)``.

    The fold keeps ``2 * k`` survivors per probe, chosen by GEMM score with
    ties broken arbitrarily, and the exact rank then keeps ``k``. Rows that
    tie at rank ``k``, or that the GEMM and exact scores order differently
    there, therefore resolve by exact score and then ``rid``, as in the
    exact plan, as long as at most ``k`` extra rows crowd the boundary."""
    from ..index.ivf import resident_rows

    ids, vec, row_lists = resident_rows(res, lists)

    def items():
        for lo in range(0, len(ids), _RESIDENT_BATCH_ROWS):
            sel = slice(lo, lo + _RESIDENT_BATCH_ROWS)
            yield ids[sel], vec[sel], None if mask is None else row_lists[sel]

    cand = fold_topk(items(), probes_pdf["qid"].to_numpy(), qmat, 2 * k, metric, mask)
    if cand is None:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(_rank_local(cand, k, metric), schema)


def _with_tail(
    cand: DataFrame, tail, left: DataFrame, left_on: str, left_id: str, k: int, metric: str, probes_pdf
) -> DataFrame:
    """``cand`` plus the candidates of an index's live ``tail`` (None: no
    tail), whose rows compete for every probe brute-force. The collected
    probe table is reused, so the tail costs no extra driver job."""
    if tail is None:
        return cand
    return cand.unionByName(
        _candidates_broadcast(left, tail, left_on, "vec", left_id, "id", k, metric, probes_pdf=probes_pdf)
    )


def _collect_probes(left: DataFrame, left_on: str, left_id: str, limit: int):
    """Collect the probe (id, vector) pairs, at most ``limit`` of them, as
    pandas ``(qid, v)``. Returns None when the probe side exceeds the limit
    (caller falls back to a distributed plan); see
    :func:`~duckdb_vss_spark.session.collect_at_most`."""
    rows = collect_at_most(
        left.select(F.col(left_id).alias("qid"), F.col(left_on).alias("v")).filter(
            F.col(left_on).isNotNull()
        ),
        limit,
    )
    if rows is None:
        return None
    return pd.DataFrame({"qid": [r[0] for r in rows], "v": [r[1] for r in rows]})


def knn_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    k: int,
    metric: str = "l2sq",
    left_id: str = None,
    right_id: str = None,
    method: str = "auto",
) -> DataFrame:
    """vss_join parity: ``(score, left_tbl STRUCT, right_tbl STRUCT)`` rows,
    k matches per left row (reference: src/hnsw/hnsw_index_macros.cpp:9-46).
    ``score`` polarity follows the metric (distance for l2sq, similarity for
    cosine, inner product for ip)."""
    flat = knn_join_flat(left, right, left_on, right_on, k, metric, left_id, right_id, method)
    return join_from_flat(flat, left, right, left_id, right_id)


def knn_join_flat_indexed(
    left: DataFrame,
    index,
    left_on: str,
    k: int,
    left_id: str,
    ef_search: int | None = None,
    broadcast_probe_limit: int = DEFAULT_BROADCAST_PROBE_LIMIT,
) -> DataFrame:
    """HNSW_INDEX_JOIN analog: per-probe approximate top-k against an
    :class:`~duckdb_vss_spark.index.ivf.IVFIndex` (reference operator:
    src/hnsw/hnsw_optimize_join.cpp:30-179). Unlike the reference's
    non-parallel operator, probes and index partitions both parallelize.

    Only the ``nprobe`` nearest inverted lists per probe are searched and
    the tail is searched brute-force. Every path takes its rows from
    ``index.live_rows``, so deleted ids leave before any kernel and its
    per-partition top-k cut, and each probe keeps k live slots. Scores are
    exact.

    A probe side above ``broadcast_probe_limit`` rows cannot be broadcast —
    fall back to the exact cross-join plan over the live index rows instead
    of collecting an unbounded probe table to the driver.
    """
    import numpy as np

    spark = left.sparkSession
    index._refresh()  # the handle contract: see another handle's commits
    metric = index.metric
    index.last_source = "parquet"
    probes_pdf = _collect_probes(left, left_on, left_id, broadcast_probe_limit)
    if probes_pdf is not None and len(probes_pdf) > 0 and getattr(index, "is_graph", False):
        # graph backend: probes ride a broadcast into every shard's beam-
        # search kernel (index/hnsw.py), which walks tombstoned rows and
        # never returns one; the live tail competes brute-force, as in the
        # IVF kernel path below. The shard hits arrive with their exact
        # scores.
        cand, tail = index.search_join(spark, probes_pdf, k, ef_search, qid_type=dict(left.dtypes)[left_id])
        cand = _with_tail(cand.withColumnRenamed("id", "rid"), tail, left, left_on, left_id, k, metric, probes_pdf)
        return _rank_topk(cand, k, metric)
    if (
        probes_pdf is not None
        and len(probes_pdf) >= DISTRIBUTED_MIN_PROBES
        and not getattr(index, "is_graph", False)
    ):
        # probe side large enough that the cell-cogroup path's
        # O(N x nq x nprobe/nlist) compute beats the broadcast kernel's
        # O(N x nq) (see DISTRIBUTED_MIN_PROBES)
        return knn_join_flat_indexed_distributed(left, index, left_on, k, left_id, ef_search)
    if probes_pdf is None:
        # probe side too big to broadcast. IVF backends take the fully
        # distributed cell-cogroup join (same probe sets, no driver
        # collect); the graph backend has no cell-local
        # exact kernel, so it keeps the exact cross-join fallback over live
        # rows (and its module docs route performance users to IVF anyway).
        if not getattr(index, "is_graph", False):
            return knn_join_flat_indexed_distributed(left, index, left_on, k, left_id, ef_search)
        return knn_join_flat(left, index.live_df(spark), left_on, "vec", k, metric, left_id, "id", method="crossjoin")
    schema = f"qid {dict(left.dtypes)[left_id]}, rid {index.id_type}, rnk int, score double"
    if len(probes_pdf) == 0:
        return spark.createDataFrame([], schema)
    qmat = as_matrix(probes_pdf["v"])
    nprobe = index.nprobe_for(ef_search)
    # (nq, nlist) centroid scores -> per-probe probe sets -> (nlist, nq) mask
    probe_sets = index.probe_lists_batch(qmat, nprobe)
    mask = np.zeros((index.nlist, len(probes_pdf)), dtype=bool)
    for qi, lists in enumerate(probe_sets):
        mask[lists, qi] = True
    needed = sorted({int(l) for lists in probe_sets for l in lists})
    codec = index.codec
    covered = len(needed) >= 0.5 * index.nlist
    res = index._resident(spark)
    if res is not None:
        # a resident copy (no tail, no tombstones) runs the same fold on the
        # driver: the masked path, or over every row for the reroute below
        index.last_source = res.label
        if covered:
            return _resident_join(spark, res, probes_pdf, qmat, k, metric, schema)
        return _resident_join(spark, res, probes_pdf, qmat, k, metric, schema, mask=mask, lists=needed)
    if covered and codec is None:
        # the probes' combined lists cover most of the index: the masked
        # kernel would scan nearly everything AND pay per-row mask checks.
        # The exact flat GEMM join over the live rows is then both faster
        # and a strict recall superset — route there (measured at 10M rows:
        # masked path 2x slower than brute once coverage passes ~1/2)
        return knn_join_flat(
            left, index.live_df(spark), left_on, "vec", k, metric, left_id, "id", _probes_pdf=probes_pdf
        )
    data, tail = index.live_rows(spark, needed)
    # shortlist broadcast bound: <= |probed lists| * nq * k_sel (qid, rid)
    # pairs; beyond ~8M pairs the flat vector kernel is the safer plan
    k_sel = max(k, k * codec.rerank(index.manifest)) if codec is not None else k
    if codec is not None and len(needed) * len(probes_pdf) * k_sel <= 8_000_000:
        # codes-only kernel (the codec's scorer); exact scores recomputed on
        # a vec fetch driven by a broadcast of the (qid, rid) shortlist — the
        # expensive codes scan runs once (inside the broadcast job), and the
        # vec scan streams against it with no shuffle of the data side.
        cand_ids = _candidates_broadcast(
            left, data, left_on, None, left_id, "id", k_sel, metric, probe_mask=mask,
            right_list_col="list_id", probes_pdf=probes_pdf, codec=codec,
        ).select("qid", "rid")
        rvec = data.select(F.col("id").alias("rid"), F.col("vec").alias("__rv")).join(
            F.broadcast(cand_ids), "rid"
        )
        # the collected probes as an Arrow local relation: the exact re-score
        # reads no part of ``left`` again and starts no Python worker
        ltypes = dict(left.dtypes)
        probes_local = spark.createDataFrame(
            probes_pdf.rename(columns={"v": "__qv"}),
            f"qid {ltypes[left_id]}, __qv {ltypes[left_on]}",
        )
        cand = rvec.join(F.broadcast(probes_local), "qid").select(
            "qid", "rid", distance_expr("__qv", "__rv", metric).alias("score")
        )
    else:
        cand = _candidates_broadcast(
            left, data, left_on, "vec", left_id, "id", k, metric,
            probe_mask=mask, right_list_col="list_id", probes_pdf=probes_pdf,
        )
    return _rank_topk(_with_tail(cand, tail, left, left_on, left_id, k, metric, probes_pdf), k, metric)


def knn_join_flat_indexed_distributed(
    left: DataFrame,
    index,
    left_on: str,
    k: int,
    left_id: str,
    ef_search: int | None = None,
) -> DataFrame:
    """HNSW_INDEX_JOIN for probe sides too large to broadcast — the fully
    distributed shape (no driver collect anywhere):

    1. map-side cell assignment: probes carry their vector into
       ``nearest_cells`` against the broadcast centroid matrix and explode
       to one ``(qid, qv, list_id)`` row per probed cell — the same probe
       sets as the broadcast path (shared rule in ``kernels.nearest_cells``);
    2. one Exchange of each side keyed by ``list_id``, then a
       ``cogroup().applyInPandas`` per cell running :func:`fold_topk` over
       the cell's live rows (``index.live_rows``) for the cell's probes: ``k`` exact ``(qid, rid,
       score)`` rows per probe per cell — vectors never leave the cell task;
    3. the bounded live tail (``tail_max_rows``) broadcasts INTO a probe-side
       pass (the probe side is the big one here, so the usual
       probes-broadcast kernel is inverted), the same fold per probe batch,
       and its rows union in;
    4. the per-probe rank on the exact score, ties broken by ``rid``
       (:func:`_rank_topk`) — the broadcast path's cut, so both return the
       same rows except under >k-way EXACT score ties at the boundary,
       where every kernel path (this one, the broadcast fold, the
       single-probe search) returns an arbitrary valid subset of the tied
       group — the reference has the same property and its tests sidestep
       ties with seeded data (reference:
       test/sql/hnsw/hnsw_lateral_join_group.test:8).

    An SQ8 artifact ships its int8 codes through the cell Exchange instead
    of f32 vectors (4x less data-side shuffle, the cost this large-probe
    path exists to manage), so its cells keep ``k * sq_rerank`` rows per
    probe by the codec's approximate score; the per-probe shortlist of the
    best ``k * sq_rerank + 8`` then joins back to its vectors and the
    probes for the exact JVM score before the cut. PQ and b1 artifacts ship
    their vectors, as a flat index does.

    Replaces the previous behavior for this regime — an exact cross join,
    which is O(|probes| x |index|) and a scale cliff at 1M+ probes. Pair
    volume here is ``nq x nprobe x k`` candidate rows plus one
    ``nq x nprobe`` probe fan-out Exchange: linear in the probe count at
    fixed probe budget, executor-parallel end to end.
    """
    import numpy as np

    from ..functions.kernels import nearest_cells
    from ..index import pq as pqmod

    spark = left.sparkSession
    metric = index.metric
    nprobe = min(index.nprobe_for(ef_search), index.nlist)
    ltypes = dict(left.dtypes)
    cand_schema = f"qid {ltypes[left_id]}, rid {index.id_type}, score double"
    probes = left.select(F.col(left_id).alias("qid"), F.col(left_on).alias("qv")).filter(
        F.col(left_on).isNotNull()
    )
    bc_assign = tracked_broadcast(spark.sparkContext, (index.centroids, metric, nprobe))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cents_l, metric_l, np_l = bc_assign.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = nearest_cells(as_matrix(pdf["qv"]), cents_l, metric_l, np_l)
            n, w = cells.shape
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf["qid"].to_numpy(), w),
                    "qv": np.repeat(pdf["qv"].to_numpy(), w),
                    "list_id": cells.astype(np.int64).ravel(),
                }
            )

    # the probe vectors keep their type, so the exact scores use the values
    # the broadcast path's collect sees
    probe_cells = probes.mapInPandas(assign, schema=f"qid {ltypes[left_id]}, qv {ltypes[left_on]}, list_id long")

    codec = index.codec if isinstance(index.codec, pqmod.SQ8) else None
    k_cell = k if codec is None else max(k, k * codec.rerank(index.manifest))
    bc_codec = tracked_broadcast(spark.sparkContext, codec)

    def fold_cell(probes_pdf: pd.DataFrame, rids, batch, k_fold: int, codec_l) -> pd.DataFrame:
        """:func:`fold_topk` of one cell's rows for the probes of
        ``probes_pdf``."""
        qmat = as_matrix(probes_pdf["qv"])
        scorer = codec_l.scorer(qmat, metric) if codec_l is not None else None
        return fold_topk([(rids, batch, None)], probes_pdf["qid"].to_numpy(), qmat, k_fold, metric, scorer=scorer)

    def cell_topk(probes_pdf: pd.DataFrame, items_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        codec_l = bc_codec.value
        if len(probes_pdf) == 0 or len(items_pdf) == 0:
            return pd.DataFrame({"qid": [], "rid": [], "score": []}).astype({"score": "float64"})
        batch = items_pdf if codec_l is not None else np.vstack(items_pdf["vec"].to_numpy())
        return fold_cell(probes_pdf, items_pdf["id"].to_numpy(), batch, k_cell, codec_l)

    live, tail = index.live_rows(spark)
    data_cols = codec.scan_cols if codec is not None else ("vec",)
    data = live.select("id", *data_cols, F.col("list_id").cast("long").alias("list_id"))
    cand = (
        probe_cells.groupBy("list_id")
        .cogroup(data.groupBy("list_id"))
        .applyInPandas(cell_topk, schema=cand_schema)
    )

    if tail is not None:
        tail_pdf = tail.toPandas()  # bounded by the compact cadence / tail_max_rows
        if len(tail_pdf):
            bc_tail = tracked_broadcast(
                spark.sparkContext, (tail_pdf["id"].to_numpy(), np.vstack(tail_pdf["vec"].to_numpy()))
            )
            # every probe batch folds the whole tail, as one more cell
            cand = cand.unionByName(
                probes.mapInPandas(
                    lambda batches: (fold_cell(pdf, *bc_tail.value, k, None) for pdf in batches if len(pdf)),
                    schema=cand_schema,
                )
            )
    if codec is None:
        return _rank_topk(cand, k, metric)

    # SQ8: the per-probe shortlist by approximate score (the band of 8 rides
    # over the k_cell rerank budget), then the authoritative JVM score
    desc = METRIC_IS_DESCENDING[metric]
    w = Window.partitionBy("qid").orderBy(F.col("score").desc() if desc else F.col("score").asc(), F.col("rid").asc())
    short = cand.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") <= k_cell + 8).select("qid", "rid")
    vec_src = live.select(F.col("id").alias("rid"), F.col("vec").alias("__rv"))
    if tail is not None:
        vec_src = vec_src.unionByName(tail.select(F.col("id").alias("rid"), F.col("vec").alias("__rv")))
    rescored = (
        short.join(vec_src, "rid")
        .join(probes.withColumnRenamed("qv", "__qv"), "qid")
        .select("qid", "rid", distance_expr("__qv", "__rv", metric).alias("score"))
    )
    return _rank_topk(rescored, k, metric)


def knn_match(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    k: int,
    metric: str = "l2sq",
    left_id: str = None,
    right_id: str = None,
    method: str = "auto",
) -> DataFrame:
    """vss_match parity: left rows + ``matches`` = LIST<STRUCT{score, row}>
    of the k best right rows (reference: src/hnsw/hnsw_index_macros.cpp:48-74).
    List is best-first, like min_by/max_by output order."""
    m = canonical_metric(metric)
    flat = knn_join_flat(left, right, left_on, right_on, k, m, left_id, right_id, method)
    return match_from_flat(flat, left, right, left_id, right_id)


def join_from_flat(flat: DataFrame, left: DataFrame, right: DataFrame, left_id: str, right_id: str) -> DataFrame:
    """Assemble the vss_join output shape ``(score FLOAT, left_tbl STRUCT,
    right_tbl STRUCT)`` from any flat (qid, rid, rnk, score) k-NN result —
    shared by the exact and indexed paths."""
    lstruct = left.select(F.col(left_id).alias("__qid"), F.struct(*left.columns).alias("left_tbl"))
    rstruct = right.select(F.col(right_id).alias("__rid"), F.struct(*right.columns).alias("right_tbl"))
    return (
        flat.join(rstruct, flat["rid"] == rstruct["__rid"])
        .join(lstruct, flat["qid"] == lstruct["__qid"])
        .select(F.col("score").cast("float").alias("score"), "left_tbl", "right_tbl")
    )


def match_from_flat(flat: DataFrame, left: DataFrame, right: DataFrame, left_id: str, right_id: str) -> DataFrame:
    """Assemble the vss_match output shape from any flat (qid, rid, rnk,
    score) k-NN result — shared by the exact and indexed paths."""
    rstruct = right.select(F.col(right_id).alias("__rid"), F.struct(*right.columns).alias("row"))
    matched = flat.join(rstruct, flat["rid"] == rstruct["__rid"]).select(
        "qid", "rnk", F.struct(F.col("score").cast("float").alias("score"), F.col("row").alias("row")).alias("m")
    )
    per_q = matched.groupBy("qid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("rnk").alias("k"), F.col("m").alias("m")))),
            lambda e: e["m"],
        ).alias("matches")
    )
    return left.join(per_q, left[left_id] == per_q["qid"], "left").drop("qid")
