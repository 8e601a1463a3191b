"""Graph ANN index backend (``index_type='hnsw'``): per-partition
neighbor-graph sub-indexes with beam search, as parquet.

Role parity with the reference's usearch-backed HNSW graph (reference:
src/hnsw/hnsw_index.cpp:700-724, build: hnsw_index_physical_create.cpp:
138-217), re-designed for Spark's execution model (SURVEY §7.1 sketch):

- The reference builds ONE shared concurrent in-RAM graph. A 100 TB corpus
  can't live in one graph, so rows shard into bounded sub-indexes. Rows
  are first assigned a K-MEANS CELL with the IVF backend's own ``nlist``
  heuristic and sampled k-means — so search prunes cells at exactly IVF's
  granularity instead of fanning out to every shard — and cells are then
  greedy-packed into shards of ~``graph_part_rows`` rows (oversized cells
  split into hash sub-shards). Pruning granularity (many small cells) is
  deliberately decoupled from graph size (bounded shards): the per-shard
  build cost is quadratic, so boundedness is load-bearing. Each shard's
  independent neighbor graph builds inside one ``applyInPandas`` pass
  (embarrassingly parallel, no shared mutable state) and is stored as rows
  of a parquet dataset partitioned by ``part_id`` (the shard index; the
  manifest maps cell -> shard run) — the graph IS columns:
  ``(id, vec, li, nbrs)`` where ``nbrs`` holds the fixed-degree adjacency
  as local row indices.
- **Build** computes each shard's EXACT ``M0``-nearest-neighbor graph with
  chunked BLAS (numpy GEMM) rather than usearch's sequential insert loop:
  per-shard cost is bounded by the shard size, total work is linear in
  corpus size, and the kernel is vectorized end-to-end — the Spark-first
  substitute for lock-striped concurrent inserts (reference:
  hnsw_index_physical_create.cpp:235-246). ``ef_construction`` is honored
  in the strongest sense: the exact graph is what an infinite
  ``ef_construction`` converges to (each node's candidate pool is the whole
  shard). Navigability across the shard comes from ``max(4, M0/4)``
  deterministic long-range edges per node (NSW-style), replacing the
  hierarchy's express lanes.
- **Search** probes the ``nprobe`` nearest cells (the inherited IVF
  ``ef_search -> nprobe`` mapping; Catalyst partition pruning keeps
  unprobed shards off disk), then runs best-first beam search per probed
  shard (one ``applyInPandas`` group each — shard parallelism replaces the
  reference's single-graph traversal) with the usearch ``ef_search``
  contract (beam width = max(ef_search, k); reference:
  src/hnsw/hnsw_index.cpp:318-329), and merges shard-local top-k globally.
  Full ``ef_search`` probes every cell AND ``ef >= shard rows`` degrades
  each shard to an exact scan, so full-probe searches are exact — the same
  "recall is tunable, exactness at the limit" contract as the IVF backend
  and the reference.
- **Maintenance** reuses the IVF artifact's manifest-committed tail and
  tombstone segments (:mod:`.segments`), its versioned compact and its
  vacuum unchanged (:class:`~.ivf.IVFIndex`): those layers never look
  inside the indexed payload. A tombstoned row stays in its shard until a
  compact, since the adjacency is by row position: ``live_rows`` tags it
  dead, and the search walks it and never returns it. An incremental
  compact is a full one here (see :meth:`GraphIndex.compact_incremental`).

Artifact layout::

    <root>/<name>/
      manifest.json              # format hnsw-graph-parquet/v1, VERSION,
                                 # tail and deleted segment lists
      <version>/
        centroids.npy            # (ncells, dim) cell centroids
        data/part_id=*/...       # parquet (id, vec, li, nbrs) shards
        tail/snap-NNNNNN/        # one inserted batch (id, vec) per segment
        deleted/snap-NNNNNN/     # one batch of deleted ids per segment

**When to choose this backend: for reference-contract parity, not for
speed.** Measured twice against the IVF default on the same staged data
(BASELINE.md): at 10M x 64-d it builds 6.7x slower and searches 2x
slower; at 500k x 512-d (the hypothesized high-dim win regime) it builds
4.3x slower and its best point (ef=128, recall 0.96, 1.63 s) is still
behind IVF's cheapest (ef=8, recall 1.0, 1.01 s). Structurally: in a
shard-at-a-time engine a probed shard's vectors are loaded either way, so
beam search only saves per-row scoring — which the IVF kernel already
does as a memory-bandwidth GEMM; raising dimensionality scales both
costs together. A graph wins with RAM-resident per-vector random access
across queries (the reference's single-process usearch) — an
architecture a distributed shard-scan engine intentionally does not
have. Keep IVF (optionally +PQ) for performance; use this backend when
usearch-contract behavior (beam semantics, ef tunability, exact-at-full-
ef) is the requirement.
"""

from __future__ import annotations

import heapq
import math
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs, segments
from .ivf import FIRST_VERSION, IVFIndex
from ..broadcasts import tracked_broadcast
from ..functions.distance import METRIC_IS_DESCENDING, bound_vec, canonical_metric, distance_expr
from ..functions.kernels import paired_exact_scores

__all__ = ["GraphIndex", "build_graph", "GRAPH_FORMAT"]

GRAPH_FORMAT = "hnsw-graph-parquet/v2"
DEFAULT_PART_ROWS = 16384
_EXACT_GRAPH_CHUNK = 1024  # GEMM chunk rows for the exact-graph build


def _nav_scores(qmat: np.ndarray, mat: np.ndarray, metric: str) -> np.ndarray:
    """(nq, n) minimization scores for graph navigation: squared L2,
    cosine distance, or negative inner product — all smaller-is-better."""
    if metric == "cosine":
        qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)
        mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        return 1.0 - qn @ mn.T
    if metric == "ip":
        return -(qmat @ mat.T)
    return (
        (qmat * qmat).sum(1)[:, None]
        + (mat * mat).sum(1)[None, :]
        - 2.0 * (qmat @ mat.T)
    )


def _build_shard_graph(mat: np.ndarray, m0: int, part_seed: int) -> np.ndarray:
    """Exact M0-NN adjacency (+ deterministic long-range edges) for one
    shard: (n, deg) int32 of local row indices, self-padded (a node's own
    index marks an empty slot — the search kernel's visited set skips it)."""
    n = mat.shape[0]
    m0 = min(m0, max(1, n - 1))
    n_long = max(4, m0 // 4) if n > m0 + 1 else 0
    deg = m0 + n_long
    nbrs = np.empty((n, deg), dtype=np.int32)
    sq = (mat * mat).sum(1)
    # chunk buffers reused across the loop (same values, same association
    # as the one-expression d2 — just ``out=`` targets): fresh (chunk x n)
    # float64 temporaries are ~128 MB at the default shard size and were
    # re-faulted per chunk (see ivf._nearest_centroid, round 13)
    crows = min(n, _EXACT_GRAPH_CHUNK)
    d2_buf = np.empty((crows, n))
    g_buf = np.empty((crows, n))
    for lo in range(0, n, _EXACT_GRAPH_CHUNK):
        hi = min(n, lo + _EXACT_GRAPH_CHUNK)
        d2 = d2_buf[: hi - lo]
        g = g_buf[: hi - lo]
        np.add(sq[lo:hi, None], sq[None, :], out=d2)
        np.matmul(mat[lo:hi], mat.T, out=g)
        np.multiply(g, 2.0, out=g)
        np.subtract(d2, g, out=d2)
        rows = np.arange(lo, hi)
        d2[np.arange(hi - lo), rows] = np.inf  # no self edge
        take = min(m0, n - 1)
        part = np.argpartition(d2, take - 1, axis=1)[:, :take]
        nbrs[lo:hi, :take] = part
        nbrs[lo:hi, take:m0] = rows[:, None]  # pad when n-1 < m0
    if n_long:
        # deterministic long-range edges (seeded by shard) restore cross-
        # cluster navigability that the hierarchy provides in true HNSW
        rng = np.random.default_rng(part_seed)
        nbrs[:, m0:] = rng.integers(0, n, size=(n, n_long), dtype=np.int32)
    return nbrs


def _beam_search(
    mat: np.ndarray, nbrs: np.ndarray, qv: np.ndarray, k: int, ef: int, metric: str, live=None
) -> tuple[np.ndarray, np.ndarray]:
    """Best-first beam search over one shard graph (usearch search_ loop
    shape, reference: usearch/index.hpp): returns (local indices, nav
    scores) of the top-k rows that ``live`` (n,) bool marks (every row when
    None), ascending nav score. Dead rows (tombstones) are walked like any
    other and never returned, as usearch walks its deleted nodes.
    ``ef >= n`` short-circuits to the exact scan, so full-probe searches
    are exact."""
    n = mat.shape[0]
    ef = max(ef, k)
    if live is None:
        live = np.ones(n, dtype=bool)
    if ef >= n:
        nav = _nav_scores(qv[None, :], mat, metric)[0]
        order = np.argsort(nav, kind="stable")
        order = order[live[order]][:k]
        return order, nav[order]
    # deterministic spread entry points (hierarchy substitute)
    entries = np.unique(np.linspace(0, n - 1, num=min(8, n), dtype=np.int64))
    nav_e = _nav_scores(qv[None, :], mat[entries], metric)[0]
    visited = np.zeros(n, dtype=bool)
    visited[entries] = True
    cand: list = [(float(d), int(i)) for d, i in zip(nav_e, entries)]
    heapq.heapify(cand)
    result: list = [(-float(d), int(i)) for d, i in zip(nav_e, entries) if live[i]]
    heapq.heapify(result)
    while len(result) > ef:
        heapq.heappop(result)
    while cand:
        d, i = heapq.heappop(cand)
        if len(result) >= ef and d > -result[0][0]:
            break
        nb = nbrs[i]
        nb = nb[~visited[nb]]
        if nb.size == 0:
            continue
        visited[nb] = True
        dn = _nav_scores(qv[None, :], mat[nb], metric)[0]
        bound = -result[0][0] if result else np.inf
        for dd, jj in zip(dn, nb):
            dd = float(dd)
            if len(result) < ef or dd < bound:
                heapq.heappush(cand, (dd, int(jj)))
                if live[jj]:
                    heapq.heappush(result, (-dd, int(jj)))
                    if len(result) > ef:
                        heapq.heappop(result)
                        bound = -result[0][0]
    top = sorted((-d, i) for d, i in result)[:k]
    idx = np.asarray([i for _, i in top], dtype=np.int64)
    nav = np.asarray([d for d, _ in top], dtype=np.float64)
    return idx, nav


def build_graph(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    metric: str = "l2sq",
    options: dict | None = None,
    seed: int = 42,
    version: str = FIRST_VERSION,
    extra_manifest: dict | None = None,
) -> "GraphIndex":
    """Build one graph-index version under ``path``; the manifest write is
    the atomic commit point (same discipline as :func:`~.ivf.build_ivf`).
    NULL vectors are excluded (reference: src/hnsw/hnsw_index_plan.cpp:
    118-133)."""
    metric = canonical_metric(metric)
    opts = dict(options or {})
    m0 = opts.get("M0") or 2 * opts.get("M", 16)
    part_rows = int(opts.get("graph_part_rows", DEFAULT_PART_ROWS))
    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).filter(
        F.col(vec_col).isNotNull()
    )
    stats = src.agg(
        F.count(F.lit(1)).alias("n"), F.min(F.size("vec")).alias("dmin"), F.max(F.size("vec")).alias("dmax")
    ).collect()[0]
    n = stats["n"]
    if n == 0:
        raise ValueError("Cannot build an index over an empty vector column")
    if stats["dmin"] != stats["dmax"]:
        raise ValueError(
            f"HNSW index keys must be fixed-size arrays; found lengths {sorted((stats['dmin'], stats['dmax']))}"
        )
    dim = stats["dmin"]
    id_t = dict(df.dtypes)[id_col]

    # -- cell centroids: the IVF backend's nlist heuristic and sampled
    # k-means, so the search side gets the SAME pruning granularity as IVF;
    # shards are then PACKS of cells (or hash splits of oversized cells),
    # decoupling pruning granularity from the bounded graph size
    from .ivf import KMEANS_ITERS, KMEANS_SAMPLE, _nearest_centroid, kmeans, kmeans_rows

    ncells = max(1, min(4096, int(math.sqrt(n) * 32.0 / m0)))
    smat = np.vstack(kmeans_rows(src, n, KMEANS_SAMPLE, seed)["vec"].to_numpy()).astype(np.float64)
    centroids = kmeans(smat, ncells, iters=KMEANS_ITERS, seed=seed)
    ncells = centroids.shape[0]
    bc_cent = tracked_broadcast(spark.sparkContext, centroids)

    def assign_cell(batches):
        c = bc_cent.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            yield pdf.assign(cell=_nearest_centroid(mat, c).astype(np.int32))

    assigned = src.mapInPandas(assign_cell, schema=f"id {id_t}, vec array<float>, cell int")
    # The assignment pass (a GEMM over EVERY vector) feeds two consumers:
    # the per-cell counts collect below and the shard build/write job.
    # Unpersisted it ran TWICE — the second full nearest-centroid pass was
    # the single largest avoidable cost of the build (round 13; guide §5
    # persist-when-reused). MEMORY_AND_DISK spills rather than evicts, so
    # at corpus scale the second read is a disk scan, not a re-GEMM.
    assigned = assigned.persist()
    counts = {r["cell"]: r["n"] for r in assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    starts, nsubs = [], []
    next_pid, acc_rows, cur_pid = 0, 0, -1
    for c in range(ncells):
        cn = counts.get(c, 0)
        if cn > part_rows:
            k_ = math.ceil(cn / part_rows)
            starts.append(next_pid)
            nsubs.append(k_)
            next_pid += k_
            acc_rows = 0
            cur_pid = -1
        else:
            if cur_pid < 0 or acc_rows + cn > part_rows:
                cur_pid = next_pid
                next_pid += 1
                acc_rows = 0
            starts.append(cur_pid)
            nsubs.append(1)
            acc_rows += cn
    nparts = next_pid
    # per-cell (start, nsubs) as literal-array lookups (pure JVM expression;
    # at extreme cell counts this would become a broadcast join instead)
    start_arr = F.array(*[F.lit(int(s)) for s in starts])
    nsub_arr = F.array(*[F.lit(int(s)) for s in nsubs])
    sharded = assigned.withColumn(
        "part_id",
        (
            F.element_at(start_arr, F.col("cell") + 1).cast("long")
            + F.pmod(F.xxhash64("id"), F.element_at(nsub_arr, F.col("cell") + 1).cast("long"))
        ),
    )

    def build_part(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"id": [], "vec": [], "li": [], "nbrs": [], "part_id": []})
        pdf = pdf.sort_values("id").reset_index(drop=True)
        mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
        pid = int(pdf["part_id"].iloc[0])
        nbrs = _build_shard_graph(mat, m0, part_seed=seed * 100003 + pid)
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "vec": pdf["vec"],
                "li": np.arange(len(pdf), dtype=np.int32),
                "nbrs": [row for row in nbrs],
                "part_id": pdf["part_id"],
            }
        )

    out_schema = f"id {id_t}, vec array<float>, li int, nbrs array<int>, part_id long"
    built = sharded.drop("cell").groupBy("part_id").applyInPandas(build_part, schema=out_schema)
    vdir = fs.join(path, version)
    built.write.mode("overwrite").partitionBy("part_id").parquet(fs.join(vdir, "data"))
    # build artifacts are on disk; the assignment cache has no third reader
    assigned.unpersist(blocking=False)
    fs.write_npy(spark, fs.join(vdir, "centroids.npy"), centroids)
    manifest = {
        "format": GRAPH_FORMAT,
        "version": version,
        "metric": metric,
        "dim": int(dim),
        "nlist": int(ncells),  # cell count plays nlist's role: probed like IVF lists
        "ncells": int(ncells),
        "part_starts": [int(s) for s in starts],
        "part_nsubs": [int(s) for s in nsubs],
        "nparts": int(nparts),
        "count": int(n),
        "id_type": id_t,
        "seed": seed,
        "options": opts,
        "M0": int(m0),
        "graph_part_rows": part_rows,
    }
    manifest.update(extra_manifest or {})
    segments.SegmentLog(spark, path, manifest).commit()
    return GraphIndex(path, spark)


class GraphIndex(IVFIndex):
    """Handle to an on-disk graph artifact. Tail/deletion/versioning
    behavior is inherited from :class:`~.ivf.IVFIndex` (those layers are
    payload-agnostic); build and search are graph-native."""

    is_graph = True
    _PART_COL = "part_id"
    _build = staticmethod(build_graph)

    def compact_incremental(self, spark: SparkSession) -> "GraphIndex":
        """The graph backend cannot fold a tail in O(|tail|): new rows must
        enter a shard's neighbor graph, which is a per-shard rebuild.
        Falls back to the full versioned rebuild with a warning (and the
        module docs route performance-sensitive deployments to IVF, where
        incremental compact is real)."""
        import warnings

        warnings.warn(
            "index_type='hnsw' has no O(tail) incremental compact (tail rows must enter "
            "per-shard neighbor graphs); performing a full compact instead",
            RuntimeWarning,
            stacklevel=2,
        )
        return self.compact(spark)

    @property
    def nparts(self) -> int:
        return self.manifest["nparts"]

    @property
    def ncells(self) -> int:
        return self.manifest["ncells"]

    def _cell_parts(self, cells) -> list[int]:
        """Expand probed cell ids to parquet part_id values: a packed cell
        maps to its shared shard, a split cell to its run of hash
        sub-shards. (A shared shard may also hold unprobed cells — a
        candidate superset, which only helps recall.)"""
        starts = self.manifest["part_starts"]
        nsubs = self.manifest["part_nsubs"]
        return sorted({starts[int(c)] + s for c in cells for s in range(nsubs[int(c)])})

    # -- search -----------------------------------------------------------
    def _ef(self, ef_search: int | None, k: int) -> int:
        from .ivf import DEFAULT_EF_SEARCH

        ef = DEFAULT_EF_SEARCH if ef_search is None else int(ef_search)
        return max(ef, k)

    def search(self, spark: SparkSession, query: list[float], k: int, ef_search: int | None = None) -> DataFrame:
        """Top-k (id, score) for one query: cell pruning exactly like the
        IVF backend (only the ``nprobe`` nearest cells' shards are read —
        Catalyst partition pruning on ``part_id``), then per-shard beam
        search fanned out as one applyInPandas group per shard, merged
        globally. Scores follow the metric's polarity and are exact (full
        vectors are in hand); full ef probes every cell AND scans each
        shard exactly."""
        self._refresh()
        if len(query) != self.dim:
            raise ValueError(f"query dimension {len(query)} != index dimension {self.dim}")
        metric = self.metric
        ef = self._ef(ef_search, k)
        cells = self.probe_lists(query, self.nprobe_for(ef_search))
        parts = self._cell_parts(cells)
        qv = np.asarray(query, dtype=np.float64)
        bc = tracked_broadcast(spark.sparkContext, qv)

        def shard_topk(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame({"id": [], "vec": []})
            # an id deleted twice joins its tombstones twice (live_rows)
            pdf = pdf.drop_duplicates("li").sort_values("li").reset_index(drop=True)
            mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            nbrs = np.vstack(pdf["nbrs"].to_numpy()).astype(np.int32)
            idx, _ = _beam_search(mat, nbrs, bc.value, k, ef, metric, pdf["live"].to_numpy(bool))
            return pd.DataFrame(
                {"id": pdf["id"].iloc[idx].to_numpy(), "vec": pdf["vec"].iloc[idx].to_numpy()}
            )

        # the kernel selects candidates (the shards' live hits, plus the live
        # tail); the authoritative score is the JVM double-precision
        # expression (same discipline as the IVF paths)
        data, tail = self.live_rows(spark, parts, tag=True)
        hits = data.groupBy("part_id").applyInPandas(shard_topk, schema=f"id {self.id_type}, vec array<float>")
        if tail is not None:
            hits = hits.unionByName(tail)
        local = hits.select("id", distance_expr("vec", bound_vec(query), metric).alias("score"))
        desc = METRIC_IS_DESCENDING[metric]
        order = [F.col("score").desc() if desc else F.col("score").asc(), F.col("id").asc()]
        return local.orderBy(*order).limit(k)

    def search_join(
        self,
        spark: SparkSession,
        probes_pdf: pd.DataFrame,
        k: int,
        ef_search: int | None = None,
        qid_type: str = "bigint",
    ) -> tuple[DataFrame, "DataFrame | None"]:
        """Batched per-probe search (HNSW_INDEX_JOIN payload): per-probe
        cell sets come from the inherited IVF probing; only shards of cells
        probed by AT LEAST one probe are read, and inside each shard's
        kernel only the probes that probed that shard's cell run (mask
        broadcast, same shape as the IVF join's probe mask). Emits k
        live candidate rows ``(qid, id, score)`` per (probe, shard). The
        float64-GEMM score only navigates; the emitted score is the
        authoritative one, from ``paired_exact_scores`` on the hits in hand
        (bit-identical to the JVM ``distance_expr``). Returns them with the
        live tail (:meth:`live_rows`), which the caller folds brute-force
        before its rank window."""
        metric = self.metric
        ef = self._ef(ef_search, k)
        qmat = np.vstack(probes_pdf["v"].to_numpy()).astype(np.float64)
        qids = probes_pdf["qid"].to_numpy()
        probe_sets = self.probe_lists_batch(qmat, self.nprobe_for(ef_search))
        mask = np.zeros((self.nparts, len(qids)), dtype=bool)
        for qi, cells in enumerate(probe_sets):
            mask[self._cell_parts(cells), qi] = True
        needed_cells = sorted({int(c) for cells in probe_sets for c in cells})
        parts = self._cell_parts(needed_cells)
        bc = tracked_broadcast(spark.sparkContext, (qids, qmat, mask))

        empty = pd.DataFrame({"qid": [], "id": [], "score": []})

        def shard_join(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return empty
            ids_q, qm, mask_l = bc.value
            sel_q = np.nonzero(mask_l[int(pdf["part_id"].iloc[0])])[0]
            if sel_q.size == 0:
                return empty
            # an id deleted twice joins its tombstones twice (live_rows)
            pdf = pdf.drop_duplicates("li").sort_values("li").reset_index(drop=True)
            mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            nbrs = np.vstack(pdf["nbrs"].to_numpy()).astype(np.int32)
            live = pdf["live"].to_numpy(bool)
            if metric == "cosine":
                # a zero row has no cosine score (NaN in the exact fold), but
                # its clamped navigation score is a finite 1.0: walk it like
                # a dead row so it never takes a scorable row's slot
                live = live & mat.any(axis=1)
            out_q, out_sel = [], []
            if ef >= mat.shape[0]:
                # exact scan of the shard's live rows for this shard's probe
                # subset in one GEMM
                rows = np.flatnonzero(live)
                nav = _nav_scores(qm[sel_q], mat[rows], metric)
                take = min(k, rows.size)
                part = np.argpartition(nav, take - 1, axis=1)[:, :take] if take < rows.size else (
                    np.argsort(nav, axis=1)
                )
                for row, qi in enumerate(sel_q):
                    sel = rows[part[row][:take]]
                    out_q.extend([qi] * len(sel))
                    out_sel.extend(sel.tolist())
            else:
                for qi in sel_q:
                    idx, _ = _beam_search(mat, nbrs, qm[qi], k, ef, metric, live)
                    out_q.extend([qi] * len(idx))
                    out_sel.extend(idx.tolist())
            score = paired_exact_scores(qm[out_q], mat[out_sel], metric)
            ok = np.isfinite(score)  # a NaN score never survives, as in knn.fold_topk
            return pd.DataFrame(
                {
                    "qid": ids_q[out_q][ok],
                    "id": pdf["id"].iloc[out_sel].to_numpy()[ok],
                    "score": score[ok],
                }
            )

        data, tail = self.live_rows(spark, parts, tag=True)
        schema = f"qid {qid_type}, id {self.id_type}, score double"
        return data.groupBy("part_id").applyInPandas(shard_join, schema=schema), tail
