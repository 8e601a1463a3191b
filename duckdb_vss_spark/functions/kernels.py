"""numpy batch kernels for the Python-side (index / pandas-UDF) paths.

These mirror the Column builders in :mod:`.distance` but operate on
``(n, d)`` float64 matrices — used only where we have already crossed the
JVM->Python boundary (per-partition index build/search), matching the
reference's use of SIMD kernels inside its operators
(reference: simsimd/spatial.h:42-146). One matrix-matrix call per Arrow
batch, never per row.
"""

from __future__ import annotations

import numpy as np

__all__ = ["pairwise_scores", "paired_exact_scores", "as_matrix", "local_topk", "nearest_cells", "sort_key"]


def as_matrix(series) -> np.ndarray:
    """pandas Series of list/np.ndarray -> (n, d) float64 C-contiguous matrix."""
    return np.ascontiguousarray(np.vstack(series.to_numpy()), dtype=np.float64)


def pairwise_scores(items: np.ndarray, probes: np.ndarray, metric: str) -> np.ndarray:
    """(n_items, n_probes) score matrix; polarity per vss_join macro
    (l2sq: Euclidean distance asc; cosine: similarity desc; ip: dot desc)."""
    if metric in ("l2sq", "l2"):
        # |a-b|^2 = |a|^2 + |b|^2 - 2ab, one GEMM per batch
        sq = items @ probes.T
        d2 = (items * items).sum(axis=1)[:, None] + (probes * probes).sum(axis=1)[None, :] - 2.0 * sq
        np.maximum(d2, 0.0, out=d2)
        return np.sqrt(d2)
    if metric in ("cosine", "cos"):
        ni = np.linalg.norm(items, axis=1)
        npr = np.linalg.norm(probes, axis=1)
        return (items @ probes.T) / np.outer(ni, npr)
    if metric == "ip":
        return items @ probes.T
    raise ValueError("Unknown metric")


def paired_exact_scores(probes: np.ndarray, items: np.ndarray, metric: str) -> np.ndarray:
    """Authoritative scores of paired ``(probe, item)`` vectors, folding the
    last axis; the leading axes broadcast, so ``(n, d)`` with ``(n, d)``
    gives ``(n,)`` and ``(nq, d)`` with ``(k, nq, d)`` gives ``(k, nq)``
    without gathering copies. Bit-identical to
    :func:`..distance.distance_expr` with the probe as its first operand:
    the same left-to-right float64 fold from 0.0, one IEEE multiply and one
    add per dimension (numpy never fuses them), so the doubles equal the
    JVM's. ``pairwise_scores``' GEMM reassociates the sums (and expands
    l2), so its low bits differ: fine for choosing candidates, never
    emitted. l2sq: ``sqrt(sum((q_j - v_j)^2))``; cosine:
    ``dot / (sqrt(sum q^2) * sqrt(sum v^2))``; ip: ``sum(q_j * v_j)``.
    A zero vector makes cosine NaN here; the JVM's divide gives NULL with
    ANSI mode off and raises with it on. The join kernels never get that
    far: a NaN kernel score drops the pair before the exact scoring."""
    shape = np.broadcast_shapes(probes.shape[:-1], items.shape[:-1])
    acc = np.zeros(shape)
    # one dimension at a time, widened exactly (f32 -> f64)
    cols = (
        (probes[..., j].astype(np.float64), items[..., j].astype(np.float64))
        for j in range(probes.shape[-1])
    )
    if metric in ("l2sq", "l2"):
        for qj, vj in cols:
            diff = qj - vj
            acc += diff * diff
        return np.sqrt(acc)
    if metric == "ip":
        for qj, vj in cols:
            acc += qj * vj
        return acc
    if metric in ("cosine", "cos"):
        qn, vn = np.zeros(shape), np.zeros(shape)
        for qj, vj in cols:
            acc += qj * vj
            qn += qj * qj
            vn += vj * vj
        with np.errstate(divide="ignore", invalid="ignore"):
            return acc / (np.sqrt(qn) * np.sqrt(vn))
    raise ValueError("Unknown metric")


def nearest_cells(qmat: np.ndarray, centroids: np.ndarray, metric: str, nprobe: int) -> np.ndarray:
    """(nq, nprobe) ids of each query's ``nprobe`` nearest k-means cells —
    the IVF probe-set rule, shared by the driver-side handle
    (``IVFIndex.probe_lists_batch``) and the distributed join's map-side
    assignment so both paths probe identical cells."""
    if metric == "cosine":
        cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-30)
        qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)
        s = -(qn @ cn.T)
    elif metric == "ip":
        s = -(qmat @ centroids.T)
    else:
        s = (qmat * qmat).sum(1)[:, None] + (centroids * centroids).sum(1)[None, :] - 2.0 * (qmat @ centroids.T)
    nprobe = min(nprobe, centroids.shape[0])
    if nprobe >= centroids.shape[0]:
        return np.argsort(s, axis=1)
    return np.argpartition(s, nprobe - 1, axis=1)[:, :nprobe]


def local_topk(scores: np.ndarray, k: int, descending: bool) -> np.ndarray:
    """Row indices (into axis 0) of the k best items per probe column.

    Returns an (k', n_probes) index array, k' = min(k, n_items), unordered —
    callers finish with an exact global sort so local order is irrelevant.
    """
    n = scores.shape[0]
    kk = min(k, n)
    s = -scores if descending else scores
    if kk >= n:
        return np.argsort(s, axis=0)[:kk, :]
    return np.argpartition(s, kk - 1, axis=0)[:kk, :]


def sort_key(a: np.ndarray) -> np.ndarray:
    """``a`` as a ``np.lexsort`` key ordered like a Spark sort of the
    column: numbers as they are, anything else (string ids) by the rank of
    its value (code point order, which is UTF-8 byte order)."""
    if np.issubdtype(a.dtype, np.number):
        return a
    return np.unique(a, return_inverse=True)[1]
