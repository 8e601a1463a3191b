"""Vector index artifact: partitioned IVF-flat over parquet.

Role parity with the reference's HNSW index (create / search / insert /
delete / compact / info — reference: src/hnsw/hnsw_index.cpp), re-designed
for Spark's execution model (SURVEY §7.1):

- The reference builds ONE shared concurrent in-RAM graph with lock-striped
  resize (reference: src/hnsw/hnsw_index_physical_create.cpp:235-246). We
  instead cluster vectors into ``nlist`` inverted lists (seeded k-means) and
  write them as a parquet dataset partitioned by list id — embarrassingly
  parallel build, no shared mutable state, no locks, and the artifact is
  object-store-friendly. At 100 TB the build is a single shuffle-by-list
  write; search prunes partitions by list id (Catalyst partition pruning).
- Approximate search contract matches the reference: the index *selects*
  candidate rows (here: scanning only ``nprobe`` of ``nlist`` lists); any
  reported score is recomputed by the normal projection expression
  (reference keeps the projection and drops only the TopN,
  src/hnsw/hnsw_optimize_scan.cpp:164), so scores are always exact — only
  membership of far-away neighbors is approximate.
- ``ef_search`` tunes recall at query time like the reference's setting
  (reference: src/hnsw/hnsw_index.cpp:318-329); we map it to the number of
  probed lists: ``nprobe = clamp(ceil(nlist * ef_search / 128), 1, nlist)``
  (so the usearch default ef_search=64 probes half the lists; ef_search>=128
  degenerates to an exact full scan — recall is tunable, not guaranteed,
  like the reference).
- Maintenance is immutable-artifact style (SURVEY §2.3 M1-M3) with one
  commit protocol for every write, the segment log the fingerprint stores
  use too (:mod:`.segments`): re-read the manifest, write the new rows to a
  fresh directory whose name is never reused, then commit with one
  manifest overwrite. Readers read only the directories the manifest
  names. INSERT adds a *tail* segment, searched brute-force and unioned in;
  DELETE adds a tombstone segment of ids, which every read takes out
  before its top-k cut (:meth:`IVFIndex.live_rows`; deleted rows are
  invisible at every handle's next call, like the reference's tombstones,
  reference: src/hnsw/hnsw_index.cpp:496-512);
  incremental COMPACT folds the tail into a list-partitioned *delta*; full
  COMPACT builds a NEW version directory. A crash before a commit leaves an
  orphan directory that no reader sees; a crash after it leaves at most
  folded directories that no reader sees (unlike delete-then-rename, there
  is no window with no index on disk); :meth:`IVFIndex.vacuum` deletes
  both kinds.
- A small unquantized index is served from a resident copy on the handle
  (:meth:`IVFIndex._resident`, a :class:`.segments.Resident` with one part
  per data dir).

All control-plane I/O (manifest, centroids, existence checks) goes through
the Hadoop FileSystem API (:mod:`.fs`), so the artifact root may be a local
path or any ``file://`` / ``s3a://`` / ``abfss://`` / ``hdfs://`` URI — the
same reach as the parquet data plane.

Artifact layout::

    <root>/<name>/
      manifest.json          # metric, dim, nlist, counts, params, VERSION,
                             # deltas, tail and deleted segment lists
      <version>/             # e.g. v000001; manifest names the live one
        centroids.npy        # (nlist, dim) float64
        data/list_id=*/...   # parquet (id, vec) inverted lists
        delta-NNNNNN/list_id=*/...  # folded tails, same layout (optional)
        tail/snap-NNNNNN/    # one inserted batch (id, vec) per segment
        deleted/snap-NNNNNN/ # one batch of deleted ids per segment
"""

from __future__ import annotations

import math
import sys
import warnings
from typing import Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs, segments
from . import pq as pqmod
from ..broadcasts import tracked_broadcast
from ..functions.distance import METRIC_IS_DESCENDING, bound_vec, canonical_metric, distance_expr

__all__ = ["IVFIndex", "build_ivf", "kmeans", "kmeans_distributed"]

DEFAULT_EF_SEARCH = 64  # usearch default (reference: usearch/index.hpp:1282-1298)
KMEANS_SAMPLE = 65536
KMEANS_ITERS = 12
FIRST_VERSION = "v000001"


def kmeans(x: np.ndarray, nlist: int, iters: int = KMEANS_ITERS, seed: int = 42) -> np.ndarray:
    """Deterministic mini k-means (k-means++ init) on a driver-side sample.
    x: (n, d) float64. Returns (nlist, d) centroids.

    Written to be memory-traffic-bound-friendly at large nlist (the 10M-row
    build profile showed this driver step at 76 s of a 220 s build): the
    seeding loop uses the |x|²+|c|²−2x·c matvec form (one pass over x per
    step instead of materializing (x − c) three times), the Lloyd update
    accumulates cluster sums with per-dimension bincounts instead of nlist
    boolean-mask scans, and assignment chunks the (n × nlist) distance
    matrix. Deterministic per run as before (seeded RNG, no data races)."""
    rng = np.random.default_rng(seed)
    n, d = x.shape
    nlist = min(nlist, n)
    xsq = (x * x).sum(1)
    # k-means++ seeding
    centroids = np.empty((nlist, d), dtype=np.float64)
    centroids[0] = x[rng.integers(n)]
    c = centroids[0]
    d2 = np.maximum(xsq + (c * c).sum() - 2.0 * (x @ c), 0.0)
    for i in range(1, nlist):
        s = d2.sum()
        probs = d2 / s if s > 0 else None
        centroids[i] = x[rng.choice(n, p=probs)]
        c = centroids[i]
        d2 = np.minimum(d2, np.maximum(xsq + (c * c).sum() - 2.0 * (x @ c), 0.0))
    # shared assignment scratch across Lloyd iterations: without it every
    # iteration re-faulted two fresh (n x nlist) buffers (see
    # _nearest_centroid) — this loop dominated the PQ codebook training
    scratch = (
        np.empty((min(n, _NC_CHUNK), nlist)),
        np.empty((min(n, _NC_CHUNK), nlist)),
    )
    for _ in range(iters):
        assign = _nearest_centroid(x, centroids, scratch=scratch)
        counts = np.bincount(assign, minlength=nlist)
        sums = np.empty((nlist, d), dtype=np.float64)
        for j in range(d):
            sums[:, j] = np.bincount(assign, weights=x[:, j], minlength=nlist)
        nz = counts > 0
        centroids[nz] = sums[nz] / counts[nz, None]
    return centroids


_NC_CHUNK = 4096  # rows per assignment chunk: bounds the (chunk × nlist)
# distance matrix to ~100 MB at nlist=4096 (also bounds transient executor
# memory in the build's mapInPandas assign stage)


def _nearest_centroid(
    x: np.ndarray, centroids: np.ndarray, dtype=None, scratch=None
) -> np.ndarray:
    """Index of the nearest centroid per row. ``dtype=np.float32`` halves
    GEMM time and memory — used by the BUILD's assignment stage only,
    where list membership is a partitioning heuristic (search reads whole
    probed lists and rescores in float64 exactly, so a boundary row
    landing in its second-nearest list costs a little recall at partial
    probe and nothing at full probe). Driver k-means and all scoring
    paths stay float64.

    The (chunk x nlist) distance and GEMM buffers are allocated ONCE and
    reused across chunks (and, via ``scratch``, across a caller's
    repeated calls — the k-means Lloyd loop): freshly allocating
    multi-MB temporaries per evaluation hands them back to the OS on
    free, so every iteration re-faulted and re-zeroed the pages —
    measured 14.6 ms vs 2.1 ms per 2000x256 evaluation (7x), values
    bit-identical (same ops, same association, just ``out=`` targets;
    round 13)."""
    if dtype is not None:
        x = x.astype(dtype, copy=False)
        centroids = centroids.astype(dtype, copy=False)
    n = x.shape[0]
    k = centroids.shape[0]
    csq = (centroids * centroids).sum(1)
    if scratch is None:
        rows = min(n, _NC_CHUNK)
        dt = np.result_type(x, centroids)
        scratch = (np.empty((rows, k), dtype=dt), np.empty((rows, k), dtype=dt))
    d2_buf, g_buf = scratch

    def _chunk_argmin(xc):
        # d2 = (|x|^2 + |c|^2) - 2 x.c with the SAME association as the
        # spelled-out expression (values bit-identical, so near-tie
        # assignments cannot flip)
        m = xc.shape[0]
        d2 = d2_buf[:m]
        g = g_buf[:m]
        np.add((xc * xc).sum(1)[:, None], csq[None, :], out=d2)
        np.matmul(xc, centroids.T, out=g)
        np.multiply(g, 2.0, out=g)
        np.subtract(d2, g, out=d2)
        return d2.argmin(axis=1)

    if n <= _NC_CHUNK:
        return _chunk_argmin(x)
    out = np.empty(n, dtype=np.int64)
    for lo in range(0, n, _NC_CHUNK):
        hi = min(n, lo + _NC_CHUNK)
        out[lo:hi] = _chunk_argmin(x[lo:hi])
    return out


def kmeans_distributed(
    src: DataFrame,
    init: np.ndarray,
    iters: int,
) -> np.ndarray:
    """Distributed Lloyd iterations over the FULL vector set (``src`` must
    have an array column named ``vec``): each round broadcasts the current
    centroids, computes per-partition (sum, count) partials with one GEMM
    per Arrow batch, reduces them with a single tiny shuffle (nlist rows x
    partition count, element-wise array fold in the JVM), and updates on
    the driver — only ``nlist x dim`` numbers ever leave the cluster.

    This is the build path for corpora whose character exceeds any driver
    sample: the default build trains on a bounded sample (fast, one pass),
    ``options={"distributed_kmeans": True}`` trades ``iters`` extra jobs
    for centroids fitted on every row. Empty clusters keep their previous
    centroid."""
    spark = src.sparkSession
    cents = np.ascontiguousarray(init, dtype=np.float64)
    k, d = cents.shape
    for _ in range(iters):
        bc = tracked_broadcast(spark.sparkContext, cents)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            sums = np.zeros((k, d))
            cnt = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
                a = _nearest_centroid(mat, c)
                np.add.at(sums, a, mat)
                cnt += np.bincount(a, minlength=k)
            nz = np.nonzero(cnt)[0]
            if nz.size:
                yield pd.DataFrame(
                    {"cid": nz, "cnt": cnt[nz], "s": [sums[i] for i in nz]}
                )

        reduced = (
            src.select("vec")
            .mapInPandas(partials, schema="cid int, cnt long, s array<double>")
            .groupBy("cid")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.aggregate(
                    F.collect_list("s"),
                    F.array_repeat(F.lit(0.0), d),
                    lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                ).alias("s"),
            )
            .collect()
        )
        bc.unpersist()
        new = cents.copy()
        for r in reduced:
            if r["cnt"] > 0:
                new[r["cid"]] = np.asarray(r["s"]) / r["cnt"]
        cents = new
    return cents


def kmeans_rows(src: DataFrame, n: int, sample: int, seed: int) -> pd.DataFrame:
    """The k-means training rows of ``src`` (``n`` rows of id, vec) on the
    driver: a seeded sample of about ``sample`` rows (its vectors only), or,
    when that would be every row, the whole source ordered by id, so the
    centroids do not follow the file-scan order (which follows the hash of
    the artifact's paths when a compact reads its own parquet back)."""
    if sample < n:
        return src.select("vec").sample(fraction=sample / n, seed=seed).toPandas()
    return src.toPandas().sort_values("id", kind="stable", ignore_index=True)


PROBE_SAMPLES = 16  # build-time recall probes for target_recall auto-sizing
PROBE_K = 10        # the recall@k the auto-sizer targets


def _auto_rerank(spark: SparkSession, data: DataFrame, metric: str, target: float, codec) -> tuple[int, dict]:
    """Build-time re-rank shortlist sizing for ``target_recall`` (round 9):
    the executable form of the README's "size k*rerank to the tie-set"
    rule. Takes ``PROBE_SAMPLES`` deterministic probe vectors from the
    freshly written data, measures — under the SAME approximate scorer the
    search path uses (``codec.scorer``, polarity included) — the worst-case
    approximate rank of each probe's true top-``PROBE_K`` neighbors (ties
    counted against us, matching the shortlist's (score, id) cut), and
    picks the shortlist size whose pooled rank quantile reaches ``target``,
    with a 2x sampling margin and the codec's default as the floor.

    Cost: two extra distributed passes over the index data (exact top-k
    probe + rank counting), paid once at build. The chosen value and the
    probe diagnostics land in the manifest as ``rerank_auto``.
    """
    from ..functions.kernels import pairwise_scores

    desc = METRIC_IS_DESCENDING[metric]
    floor = codec.rerank_default
    probe_rows = data.select("id", "vec").orderBy("id").limit(PROBE_SAMPLES).collect()
    Q = np.vstack([np.asarray(r["vec"], dtype=np.float64) for r in probe_rows])
    S = Q.shape[0]
    bc = tracked_broadcast(spark.sparkContext, (Q, codec))

    id_t = dict(data.dtypes)["id"]
    out_schema = f"probe int, id {id_t}, exact double, approx double"

    def part_top(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulate the running top-K per probe ACROSS the partition's
        # batches and emit once: the driver collect is then
        # O(partitions * S * K), independent of row count
        Qv, codec_l = bc.value
        approx = codec_l.scorer(Qv, metric)
        best: list[pd.DataFrame | None] = [None] * len(Qv)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            ex = pairwise_scores(mat, Qv, metric)
            ap = approx(pdf)(0, len(Qv))
            ids = pdf["id"].to_numpy()
            for s in range(len(Qv)):
                # (score, id) tiebreak, matching the engine's shortlist cut
                # — score-only truncation could keep an arbitrary tie
                # subset and diverge from the real exact top-K on the
                # tie-heavy corpora this estimator exists for
                key = -ex[:, s] if desc else ex[:, s]
                top = np.lexsort((ids, key))[:PROBE_K]
                batch_best = pd.DataFrame(
                    {"probe": s, "id": ids[top], "exact": ex[top, s], "approx": ap[top, s]}
                )
                if best[s] is not None:
                    batch_best = pd.concat([best[s], batch_best], ignore_index=True)
                    bk = batch_best["exact"].to_numpy()
                    keep = np.lexsort(
                        (batch_best["id"].to_numpy(), -bk if desc else bk)
                    )[:PROBE_K]
                    batch_best = batch_best.iloc[keep].reset_index(drop=True)
                best[s] = batch_best
        live = [b for b in best if b is not None]
        if live:
            yield pd.concat(live, ignore_index=True)

    cand = data.mapInPandas(part_top, schema=out_schema).collect()
    # driver merge: global true top-PROBE_K per probe, engine tiebreak (score, id)
    members: dict[int, list] = {}
    for r in cand:
        members.setdefault(r["probe"], []).append((r["exact"], r["id"], r["approx"]))
    member_scores = np.full((S, PROBE_K), np.nan)
    for s, rows in members.items():
        rows.sort(key=lambda t: ((-t[0] if desc else t[0]), t[1]))
        for m, (_, _, ap_s) in enumerate(rows[:PROBE_K]):
            member_scores[s, m] = ap_s
    bc_m = tracked_broadcast(spark.sparkContext, member_scores)

    def count_ranks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition partial counts, one emit per partition
        ms = bc_m.value
        Qv, codec_l = bc.value
        approx = codec_l.scorer(Qv, metric)
        acc = np.zeros(ms.shape, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ap = approx(pdf)(0, len(Qv))
            for s in range(ms.shape[0]):
                # worst-case member position: strictly-better rows PLUS all
                # ties (the shortlist cut breaks ties by id, so a member can
                # sit last in its tie set)
                cmp = ap[:, s][:, None] >= ms[s][None, :] if desc else ap[:, s][:, None] <= ms[s][None, :]
                acc[s] += np.where(np.isnan(ms[s]), 0, cmp.sum(axis=0))
        recs = [
            (s, m, int(acc[s, m]))
            for s in range(ms.shape[0])
            for m in np.flatnonzero(~np.isnan(ms[s]))
        ]
        if recs:
            yield pd.DataFrame(recs, columns=["probe", "member", "cnt"])

    totals = (
        data.mapInPandas(count_ranks, schema="probe int, member int, cnt long")
        .groupBy("probe", "member")
        .agg(F.sum("cnt").alias("rank"))
        .collect()
    )
    ranks = sorted(int(r["rank"]) for r in totals)
    if not ranks:
        return floor, {"ranks": [], "chosen_rank": 0}
    idx = min(len(ranks) - 1, max(0, math.ceil(target * len(ranks)) - 1))
    need = ranks[idx]
    rerank = max(floor, math.ceil(need * 2.0 / PROBE_K))
    diag = {
        "probes": S,
        "probe_k": PROBE_K,
        "rank_median": ranks[len(ranks) // 2],
        "rank_q_target": need,
        "rank_max": ranks[-1],
        "margin": 2.0,
    }
    return int(rerank), diag


def build_ivf(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    metric: str = "l2sq",
    nlist: int | None = None,
    options: dict | None = None,
    seed: int = 42,
    version: str = FIRST_VERSION,
    extra_manifest: dict | None = None,
) -> "IVFIndex":
    """Build one index version under ``path`` and commit it by writing the
    manifest LAST — the manifest overwrite is the single atomic commit point
    (object-store PUT / posix rename semantics), so a crash mid-build never
    leaves a half-index as the live version. NULL vectors are excluded,
    mirroring the reference's IS NOT NULL build filter
    (reference: src/hnsw/hnsw_index_plan.cpp:118-133).

    HNSW options map onto IVF build knobs (documented contract — the options
    are honored, not silently ignored; reference accepts them at DDL time,
    src/hnsw/hnsw_index_plan.cpp:49-76, defaults usearch/index.hpp:1282-1298):

    - ``ef_construction`` (default 128) scales build effort exactly as it
      does for HNSW graph construction: k-means Lloyd iterations
      ``round(12 * efc / 128)`` (clamped to [2, 40]) and training-sample cap
      ``65536 * efc / 128`` (clamped to [4096, 1M]). More construction effort
      => better-shaped lists => better recall at a fixed nprobe.
    - ``M``/``M0`` (graph connectivity, defaults 16/32, M0 = 2*M) scale the
      default list count: ``nlist = clamp(sqrt(n) * 32 / M0, 1, 4096)``.
      Higher connectivity in HNSW means each hop reaches more of the graph;
      here it means coarser cells, so a fixed probed-fraction covers more
      candidates — same recall-vs-work trade, same direction. An explicit
      ``nlist`` argument overrides the heuristic.

    The derived values are recorded in the manifest so ``index_info()`` and
    tests can observe the options' effect.

    Extension options ``pq_m`` and ``quantization`` (``'i8'``/``'b1'``)
    train a codec (see :mod:`.pq`) and store its code columns next to each
    row; the scan path then reads codes instead of vectors and re-ranks a
    shortlist exactly (``k * <codec>_rerank`` candidates).
    """
    metric = canonical_metric(metric)
    opts = dict(options or {})
    efc = opts.get("ef_construction", 128)
    m0 = opts.get("M0") or 2 * opts.get("M", 16)
    kmeans_iters = max(2, min(40, round(KMEANS_ITERS * efc / 128)))
    kmeans_sample = max(4096, min(1 << 20, int(KMEANS_SAMPLE * efc / 128)))
    spark = df.sparkSession
    # storage is always f32 (the reference's only SHIPPED scalar kind) —
    # the cast is a no-op for FLOAT[N] columns and converts the other
    # accepted element types (DOUBLE/TINYINT/... — catalog validation
    # implements the reference map's TODO'd kinds, hnsw_index.cpp:277-290)
    src = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<float>").alias("vec")
    ).filter(F.col(vec_col).isNotNull())
    # one job for count + dimension check (instead of count() + distinct())
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
    if nlist is None:
        nlist = max(1, min(4096, int(math.sqrt(n) * 32.0 / m0)))
    from ..operators import knn

    spdf = kmeans_rows(src, n, kmeans_sample, seed)
    # when the index will be served from a resident copy, hand the rows (the
    # whole source) to the built handle, so its first query loads nothing
    hand_off = (
        kmeans_sample >= n and not (opts.get("pq_m") or opts.get("quantization"))
        and n * (8 + 4 * dim) <= knn.RESIDENT_BYTES_BUDGET
    )
    svec = np.vstack(spdf["vec"].to_numpy())
    smat = svec.astype(np.float64)
    centroids = kmeans(smat, nlist, iters=kmeans_iters, seed=seed)
    nlist = centroids.shape[0]
    if opts.get("distributed_kmeans"):
        # refine the sample-seeded centroids over the FULL dataset — the
        # build path for corpora whose character a bounded driver sample
        # cannot capture (see kmeans_distributed)
        centroids = kmeans_distributed(src, centroids, kmeans_iters)

    codec = pqmod.from_options(opts, smat, seed)
    id_t = dict(df.dtypes)[id_col]
    assigned, schema = _assigned(src, centroids, codec, id_t)
    vdir = fs.join(path, version)
    # one file per inverted list; lists are the unit of search-time pruning
    (
        assigned.repartition(F.col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(fs.join(vdir, "data"))
    )
    fs.write_npy(spark, fs.join(vdir, "centroids.npy"), centroids)
    if codec is not None:
        fs.write_npy(spark, fs.join(vdir, codec.artifact), codec.array)
    tr = opts.get("target_recall")
    auto_rerank = auto_diag = None
    if tr is not None and codec is not None:
        auto_rerank, auto_diag = _auto_rerank(
            spark, spark.read.parquet(fs.join(vdir, "data")), metric, float(tr), codec
        )
    manifest = {
        "format": "ivf-flat-parquet/v2",
        "version": version,
        "metric": metric,
        "dim": int(dim),
        "nlist": int(nlist),
        "count": int(n),
        "id_type": id_t,
        "seed": seed,
        "options": opts,
        # observable effect of the honored HNSW options (see docstring)
        "kmeans_iters": kmeans_iters,
        "kmeans_sample": kmeans_sample,
    }
    if codec is not None:
        manifest.update(codec.manifest_fields(opts))
    if auto_rerank is not None:
        manifest[codec.rerank_key] = auto_rerank
        manifest["rerank_auto"] = {"target_recall": float(tr), **auto_diag}
    manifest.update(extra_manifest or {})
    segments.SegmentLog(spark, path, manifest).commit()
    idx = IVFIndex(path, spark)
    if hand_off:
        # the executors' assignment rule, row for row; the handle knows the
        # schema it would otherwise infer at its first parquet read
        idx._data_schema = schema
        lists = _nearest_centroid(svec, centroids, dtype=np.float32)
        idx._copy.adopt(idx.data_path(), _Lists(spdf["id"].to_numpy(), svec, lists, nlist))
    return idx


def _assigned(src: DataFrame, centroids: np.ndarray, codec, id_t: str) -> tuple[DataFrame, str]:
    """``src`` (id, vec) in the data layout that build and incremental
    compact write: each row's inverted list by the build's float32
    assignment rule, and a quantized index's codec columns. Returns the
    frame and its schema."""
    bc = tracked_broadcast(src.sparkSession.sparkContext, (centroids, codec))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents, codec_l = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            pdf = pdf.assign(list_id=_nearest_centroid(mat, cents, dtype=np.float32).astype(np.int32))
            if codec_l is not None:
                pdf = pdf.assign(**codec_l.encode_columns(mat))
            yield pdf

    schema = f"id {id_t}, vec array<float>, list_id int{codec.schema if codec is not None else ''}"
    return src.mapInPandas(assign, schema=schema), schema


class _Lists:
    """One data dir's rows (base or delta) in an index's resident copy:
    ``ids`` and f32 ``vec`` sorted by inverted list, so
    ``offsets[l]:offsets[l + 1]`` are the rows of list ``l``. ``nbytes``
    counts the arrays, and the strings of string ids."""

    def __init__(self, ids: np.ndarray, vec: np.ndarray, list_ids: np.ndarray, nlist: int):
        order = np.argsort(list_ids, kind="stable")
        self.ids, self.vec = ids[order], vec[order]
        self.offsets = np.r_[0, np.cumsum(np.bincount(list_ids, minlength=nlist))]
        self.n = len(ids)
        self.nbytes = self.ids.nbytes + self.vec.nbytes + self.offsets.nbytes
        if self.ids.dtype == object:
            self.nbytes += sum(map(sys.getsizeof, self.ids))


def resident_rows(res: segments.Resident, lists=None) -> tuple:
    """``(ids, vec, list_ids)`` of the rows of ``lists`` (every list when
    None) in the resident copy ``res``: list by list, and within a list
    base rows first, then each delta's in commit order."""
    parts = list(res.parts.values())
    if lists is None:
        lists = range(len(parts[0].offsets) - 1)
    spans = [(p, p.offsets[l], p.offsets[l + 1], l) for l in lists for p in parts]
    spans = [s for s in spans if s[2] > s[1]] or [(parts[0], 0, 0, 0)]
    return (
        np.concatenate([p.ids[a:b] for p, a, b, _ in spans]),
        np.concatenate([p.vec[a:b] for p, a, b, _ in spans]),
        np.repeat(np.array([l for *_, l in spans], dtype=np.int64), [b - a for _, a, b, _ in spans]),
    )


class IVFIndex:
    """Handle to an on-disk IVF artifact. Search methods return DataFrames
    that compose with further relational ops: lazy parquet plans, or local
    relations when the handle serves a small index from its resident copy
    (:meth:`_resident`).

    Handle contract (the segment log's, :mod:`.segments`): every write
    (:meth:`insert`, :meth:`delete`, :meth:`compact_incremental`,
    :meth:`compact`) re-reads ``manifest.json`` first and commits with one
    overwrite of it, and every public read (:meth:`search`, the index join
    ``knn.knn_join_flat_indexed``, :meth:`counts`) re-reads it once, so a
    handle sees every commit made through another handle at its next call.
    A new version reloads the centroids, codec and caches."""

    # where the last search or index join read its rows: "parquet", or the
    # resident copy's label
    last_source = "parquet"
    # the quantization codec (index/pq.py) of a PQ/SQ8/b1 artifact; None
    # for flat and graph indexes
    codec = None
    # the build a full compact runs (GraphIndex: build_graph)
    _build = staticmethod(build_ivf)

    def __init__(self, path: str, spark: Optional[SparkSession] = None):
        self.path = path
        self.spark = spark or SparkSession.getActiveSession()
        self._log = segments.SegmentLog(self.spark, path)
        self._load()

    @property
    def manifest(self) -> dict:
        return self._log.manifest

    def _load(self) -> None:
        """Take the version the manifest names: its centroids, its codec and
        empty read caches. An artifact whose tail or tombstones were
        written as loose files directly under ``tail/`` or ``deleted/`` (the
        layout before segment entries; such manifests have no
        ``next_snap_id``) is refused rather than opened without those rows.
        ``snap-*`` dirs there are segments no commit named (a crash, an
        empty insert) and are ignored."""
        manifest = self.manifest
        # v1 artifacts stored everything at the root; v2 adds version dirs
        self.version = manifest.get("version", "")
        self.vpath = fs.join(self.path, self.version) if self.version else self.path
        if "next_snap_id" not in manifest and any(
            not name.startswith("snap-")
            for kind in ("tail", "deleted")
            for name in fs.listdir(self.spark, fs.join(self.vpath, kind))
        ):
            raise ValueError(
                f"index at {self.path} has tail or tombstone files that no manifest entry "
                "names (written by a release before manifest-committed segments); fold "
                "them in with that release's compact() and open the index again"
            )
        self.centroids = fs.read_npy(self.spark, fs.join(self.vpath, "centroids.npy"))
        self.codec = pqmod.load(manifest, lambda name: fs.read_npy(self.spark, fs.join(self.vpath, name)))
        # list ids with a partition dir, per data dir (committed dirs never
        # change): listed once per handle
        self._lists_on_disk: dict = {}
        # the data layout's read schema, bound once per version: a parquet
        # read without one runs a footer-inference Spark job, which would
        # otherwise be one extra job per probed-list read on every query.
        # Base and delta dirs share one layout.
        self._data_schema = None
        # the resident copy, one part per data dir (base, then deltas); a
        # row is an id and an f32 vector until a load measures it
        self._copy = segments.Resident("rows", 8 + 4 * self.dim)

    def _refresh(self) -> None:
        """Re-read the manifest (the handle contract). A new version is
        loaded whole; within a version the caches follow the dirs the
        manifest names by themselves."""
        if self._log.refresh().get("version", "") != self.version:
            self._load()

    def _read(self, spark: SparkSession, schema, *paths, **options) -> DataFrame:
        """``spark.read.parquet`` with ``schema`` bound when known (no
        inference job)."""
        reader = spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def _read_data(self, spark: SparkSession, *paths, **options) -> DataFrame:
        """Read data-layout parquet (base or delta), inferring the schema
        on this handle's first read only."""
        df = self._read(spark, self._data_schema, *paths, **options)
        if self._data_schema is None:
            self._data_schema = df.schema
        return df

    # -- properties -------------------------------------------------------
    @property
    def metric(self) -> str:
        return self.manifest["metric"]

    @property
    def dim(self) -> int:
        return self.manifest["dim"]

    @property
    def nlist(self) -> int:
        return self.manifest["nlist"]

    def data_path(self) -> str:
        return fs.join(self.vpath, "data")

    # fraction of partition dirs below which a probe reads explicit
    # subdirectories instead of filtering the full partitioned relation:
    # listing cost then scales with nprobe, not nlist (the object-store-
    # friendly shape)
    _SUBDIR_READ_FRACTION = 0.25
    _PART_COL = "list_id"  # GraphIndex overrides with "part_id"

    def _delta_dirs(self) -> list[str]:
        """Committed incremental-compact delta directories (oldest first),
        each partitioned by ``_PART_COL`` exactly like the base data dir."""
        return [fs.join(self.vpath, d) for d in self.manifest.get("deltas", [])]

    def _existing_ids_per_dir(self) -> dict:
        """The list ids with a partition dir, per data dir the manifest
        names (base first, then deltas). A committed dir never changes, so
        each is listed once per handle."""
        prefix = self._PART_COL + "="
        dirs = [self.data_path(), *self._delta_dirs()]
        for d in dirs:
            if d not in self._lists_on_disk:
                names = fs.listdir(self.spark, d)
                self._lists_on_disk[d] = {int(n.split("=", 1)[1]) for n in names if n.startswith(prefix)}
        return {d: self._lists_on_disk[d] for d in dirs}

    def _existing_list_ids(self) -> set:
        out: set = set()
        for s in self._existing_ids_per_dir().values():
            out |= s
        return out

    def data_df(self, spark: SparkSession, lists: Optional[list[int]] = None) -> DataFrame:
        """The base data relation, restricted to partitions ``lists`` when
        given.

        Small probe sets (< ``_SUBDIR_READ_FRACTION`` of the on-disk
        partition dirs) load the probed ``list_id=N`` directories as
        explicit paths — file listing touches only nprobe prefixes, O(nprobe)
        control-plane calls at any nlist. Larger probe sets filter one
        cached full relation, so the all-partitions listing happens once per
        handle, not once per query (Spark's InMemoryFileIndex otherwise
        re-lists every partition dir per ``spark.read.parquet``, a
        per-query distributed listing job at nlist>32). K-means-empty lists
        have no directory and are skipped; the partition column is
        recovered via ``basePath``.
        """
        if lists is not None:
            per_dir = self._existing_ids_per_dir()
            want = {int(l) for l in lists}
            n_dirs = sum(len(s) for s in per_dir.values())
            n_sel = sum(len(want & s) for s in per_dir.values())
            if n_sel < self._SUBDIR_READ_FRACTION * max(n_dirs, 1):
                parts = []
                for d, ids in per_dir.items():  # base dir first, then deltas
                    sel = sorted(want & ids)
                    if sel:
                        paths = [fs.join(d, f"{self._PART_COL}={l}") for l in sel]
                        parts.append(self._read_data(spark, *paths, basePath=d))
                if not parts:
                    return self.data_df(spark).filter(F.lit(False))
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p)
                return out
        # one relation per data dir set, memoized by the log: Spark's
        # InMemoryFileIndex re-lists every partition directory on each
        # spark.read.parquet(root), at nlist=4096 thousands of LIST calls
        # (a distributed listing job, even) per query
        out = self._log.union((self.data_path(), *self._delta_dirs()), lambda d: self._read_data(spark, d))
        if lists is not None:
            out = out.filter(F.col(self._PART_COL).isin([int(l) for l in lists]))
        return out

    @property
    def id_type(self) -> str:
        return self.manifest.get("id_type", "bigint")

    def _segment_paths(self, kind: str) -> list[str]:
        """The committed segment dirs of ``kind`` ("tail" or "deleted")."""
        return [fs.join(self.vpath, kind, s["dir"]) for s in self.manifest.get(kind, [])]

    def _tail_rows(self) -> int:
        """Committed tail rows, from the manifest's segment entries."""
        return sum(s["rows"] for s in self.manifest.get("tail", []))

    def tail_df(self, spark: SparkSession) -> Optional[DataFrame]:
        """The committed tail rows (id, vec), or None."""
        paths = self._segment_paths("tail")
        return self._read(spark, f"id {self.id_type}, vec array<float>", *paths) if paths else None

    def deleted_df(self, spark: SparkSession) -> Optional[DataFrame]:
        """The committed tombstone ids, or None. An id deleted twice is
        listed twice. Reads take them out through :meth:`live_rows`."""
        paths = self._segment_paths("deleted")
        return self._read(spark, f"id {self.id_type}", *paths) if paths else None

    def counts(self, spark: SparkSession) -> dict:
        """Base, tail, distinct deleted and live row counts. Only the
        deleted count runs a Spark job."""
        self._refresh()
        base, tail = int(self.manifest["count"]), self._tail_rows()
        deleted_df = self.deleted_df(spark)
        deleted = deleted_df.distinct().count() if deleted_df is not None else 0
        return {"base": base, "tail": tail, "deleted": deleted, "live": base + tail - deleted}

    def live_rows(
        self, spark: SparkSession, lists: Optional[list[int]] = None, tag: bool = False
    ) -> tuple[DataFrame, Optional[DataFrame]]:
        """The rows every read of this index scores: the data rows of
        ``lists`` (every list when None) with all their columns, and the
        whole tail ``(id, vec)`` (None without one), minus the tombstones.

        Deleted rows are invisible at once and k rows still come back
        (reference: src/hnsw/hnsw_index.cpp:496-512), so the tombstones leave
        here, before any kernel or top-k cut. Each frame takes one anti-join
        with no broadcast hint: Spark's planner broadcasts the tombstones
        while they fit and shuffles them when not, so no read collects them
        to the driver. ``tag=True`` keeps every data row and marks it with a
        boolean ``live`` column instead, by a left join to the tombstones
        (an id deleted twice joins twice; the graph kernels drop the
        repeated row): a graph shard's adjacency is by row position, so
        its search walks dead rows and never returns one."""
        data, tail = self.data_df(spark, lists), self.tail_df(spark)
        deleted = self.deleted_df(spark)
        if deleted is None:
            return (data.withColumn("live", F.lit(True)) if tag else data), tail
        if tag:
            dead = deleted.withColumn("live", F.lit(False))
            data = data.join(dead, "id", "left").withColumn("live", F.coalesce("live", F.lit(True)))
        else:
            data = data.join(deleted, "id", "left_anti")
        return data, None if tail is None else tail.join(deleted, "id", "left_anti")

    def live_df(self, spark: SparkSession, lists: Optional[list[int]] = None) -> DataFrame:
        """The live rows (id, vec) of :meth:`live_rows`, data and tail in one
        frame."""
        data, tail = self.live_rows(spark, lists)
        data = data.select("id", "vec")
        return data if tail is None else data.unionByName(tail)

    # -- search -----------------------------------------------------------
    def nprobe_for(self, ef_search: int | None) -> int:
        ef = DEFAULT_EF_SEARCH if ef_search is None else ef_search
        return max(1, min(self.nlist, math.ceil(self.nlist * ef / 128.0)))

    def probe_lists(self, query: list[float], nprobe: int) -> list[int]:
        q = np.asarray(query, dtype=np.float64)[None, :]
        if self.metric == "cosine":
            # normalized centroids ordering == cosine ordering
            c = self.centroids / np.maximum(np.linalg.norm(self.centroids, axis=1, keepdims=True), 1e-30)
            qn = q / max(np.linalg.norm(q), 1e-30)
            order = np.argsort(-(c @ qn.T).ravel())
        elif self.metric == "ip":
            order = np.argsort(-(self.centroids @ q.T).ravel())
        else:
            d2 = ((self.centroids - q) ** 2).sum(axis=1)
            order = np.argsort(d2)
        return [int(i) for i in order[:nprobe]]

    def probe_lists_batch(self, qmat: np.ndarray, nprobe: int) -> list[np.ndarray]:
        """Vectorized probe_lists for a (nq, d) query matrix: per query the
        ids of the ``nprobe`` nearest inverted lists (shared rule:
        :func:`~duckdb_vss_spark.functions.kernels.nearest_cells`)."""
        from ..functions.kernels import nearest_cells

        idx = nearest_cells(qmat, self.centroids, self.metric, nprobe)
        return [row for row in idx]

    def candidates(self, spark: SparkSession, query: list[float], ef_search: int | None = None) -> DataFrame:
        """Rows (id, vec) from the probed inverted lists + the whole tail,
        minus deleted ids. This is the index's analog of the reference's
        eager search + rowid paging (reference: src/hnsw/hnsw_index.cpp:315-356)."""
        if len(query) != self.dim:
            raise ValueError(f"query dimension {len(query)} != index dimension {self.dim}")
        return self.live_df(spark, self.probe_lists(query, self.nprobe_for(ef_search)))

    def _resident(self, spark: SparkSession) -> Optional[segments.Resident]:
        """The handle's resident copy of the base and delta rows, or None
        when this index reads parquet: quantized and graph artifacts, a
        copy that would take the process's copies past
        ``knn.RESIDENT_BYTES_BUDGET``, or a manifest listing tail or
        tombstone segments (so the copy never serves data the parquet path
        would not). A data dir the copy lacks is read once, all of them in
        one Spark collect. Tombstones release the copy; a tail does not,
        since ``compact_incremental`` folds it into a delta the copy can
        read alone."""
        if getattr(self, "is_graph", False) or self.codec is not None:
            return None
        if self.manifest.get("deleted"):
            self._copy.release()
            return None
        if self.manifest.get("tail"):
            return None

        def build(_, pdf):
            vec = np.vstack([np.empty((0, self.dim), np.float32), *pdf["vec"]]).astype(np.float32, copy=False)
            return _Lists(pdf["id"].to_numpy(), vec, pdf[self._PART_COL].to_numpy(np.int64), self.nlist)

        key = (self.data_path(), *self._delta_dirs())
        read = lambda d: self._read_data(spark, d).select("id", "vec", self._PART_COL)
        return self._copy if self._copy.sync(key, int(self.manifest["count"]), read, build) else None

    def _resident_search(self, spark: SparkSession, res: segments.Resident, query, k: int, lists) -> Optional[DataFrame]:
        """:meth:`search` over the resident rows of ``lists``, as a local
        relation with the parquet path's exact doubles and (score, id)
        order. None when a score is NaN — a zero-norm cosine row, NULL in
        the JVM (an error under ANSI), or a NaN component — so the caller
        takes the parquet path and keeps Spark's semantics."""
        from ..functions.kernels import paired_exact_scores, sort_key

        ids, vec, _ = resident_rows(res, lists)
        scores = paired_exact_scores(np.asarray(query, dtype=np.float64), vec, self.metric)
        if np.isnan(scores).any():
            return None
        top = np.lexsort((sort_key(ids), -scores if METRIC_IS_DESCENDING[self.metric] else scores))[:k]
        return spark.createDataFrame(
            pd.DataFrame({"id": ids[top], "score": scores[top]}),
            f"id {self.id_type}, score double",
        )

    def search(self, spark: SparkSession, query: list[float], k: int, ef_search: int | None = None) -> DataFrame:
        """Top-k (id, score) for one query vector; score polarity follows the
        metric. Exact within the probed lists (quantized artifacts re-rank a
        code-selected shortlist with the exact expression, so reported scores
        stay exact there too — only membership is approximate). A resident copy
        answers without a Spark job, with the same rows and doubles."""
        self._refresh()
        self.last_source = "parquet"
        if self.codec is not None:
            return self._quantized_search(spark, query, k, ef_search)
        res = self._resident(spark)
        if res is not None:
            if len(query) != self.dim:
                raise ValueError(f"query dimension {len(query)} != index dimension {self.dim}")
            hits = self._resident_search(spark, res, query, k, self.probe_lists(query, self.nprobe_for(ef_search)))
            if hits is not None:
                self.last_source = res.label
                return hits
        cand = self.candidates(spark, query, ef_search)
        desc = METRIC_IS_DESCENDING[self.metric]
        scored = cand.select("id", distance_expr("vec", bound_vec(query), self.metric).alias("score"))
        order = [F.col("score").desc() if desc else F.col("score").asc(), F.col("id").asc()]
        return scored.orderBy(*order).limit(k)

    def _quantized_search(self, spark: SparkSession, query, k: int, ef_search) -> DataFrame:
        """The quantized scan (PQ, SQ8 or b1): the probed lists' codes scan
        reads ONLY ``(id, <codec columns>)`` of the live rows — parquet
        column pruning keeps the heavy ``vec`` column out of the hot scan —
        and scores them with the codec's batch scorer for this one query;
        then an approximate shortlist of ``k * rerank``, an exact re-rank of
        its vectors (fetched by broadcast id-join from the same pruned
        partitions), the brute-exact tail union and the final top-k cut."""
        if len(query) != self.dim:
            raise ValueError(f"query dimension {len(query)} != index dimension {self.dim}")
        metric, codec = self.metric, self.codec
        bc = tracked_broadcast(spark.sparkContext, (codec, np.asarray(query, dtype=np.float64)[None, :]))

        def approx(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            codec_l, q = bc.value
            prep = codec_l.scorer(q, metric)
            for pdf in batches:
                if len(pdf):
                    yield pd.DataFrame({"id": pdf["id"], "score": prep(pdf)(0, 1)[:, 0]})

        desc = METRIC_IS_DESCENDING[metric]
        data, tail = self.live_rows(spark, self.probe_lists(query, self.nprobe_for(ef_search)))
        scores = data.select("id", *codec.scan_cols).mapInPandas(approx, schema=f"id {self.id_type}, score double")
        order = [F.col("score").desc() if desc else F.col("score").asc(), F.col("id").asc()]
        shortlist = scores.orderBy(*order).limit(max(k, k * codec.rerank(self.manifest))).select("id")
        fetched = data.select("id", "vec").join(F.broadcast(shortlist), "id")
        if tail is not None:
            fetched = fetched.unionByName(tail)
        scored = fetched.select("id", distance_expr("vec", bound_vec(query), metric).alias("score"))
        return scored.orderBy(*order).limit(k)

    # -- maintenance ------------------------------------------------------
    def insert(self, df: DataFrame, vec_col: str, id_col: str) -> None:
        """Append rows as one committed tail segment, searched brute-force
        until the next compact (matches the reference's 'create index after
        load' guidance, reference README.md:66-68). The rows are cast to
        the data layout as the build casts them: f32 vectors, the
        manifest's id type.

        If the index was created with ``tail_max_rows``, the committed tail
        row count (the manifest's segment entries) is checked after the
        commit: past the bound, ``tail_policy='compact'`` folds the tail
        (every handle sees the fold at its next call), the default
        ``'warn'`` policy emits a warning so the unbounded-tail drift at
        streaming ingest rates is at least visible (round-4 verdict item
        8)."""
        self._refresh()
        rows = df.select(
            F.col(id_col).cast(self.id_type).alias("id"), F.col(vec_col).cast("array<float>").alias("vec")
        ).filter(F.col(vec_col).isNotNull())
        self._log.append("tail", fs.join(self.vpath, "tail"), rows)
        opts = self.manifest.get("options") or {}
        limit = opts.get("tail_max_rows")
        if limit and self._tail_rows() > int(limit):
            if opts.get("tail_policy", "warn") == "compact":
                # incremental: the auto-fold fires at ingest cadence, so it
                # must be O(tail), not O(index) (graph backends fall back to
                # the full rebuild)
                self.compact_incremental(df.sparkSession)
            else:
                warnings.warn(
                    f"index tail has {self._tail_rows()} rows (> tail_max_rows={limit}); "
                    "searches brute-force the whole tail — run compact(), or create "
                    "the index with tail_policy='compact' to fold automatically",
                    RuntimeWarning,
                    stacklevel=2,
                )

    def delete(self, spark: SparkSession, ids: list) -> None:
        """Record deleted ids as one committed tombstone segment, written
        by the driver (no Spark job); no handle returns them from its next
        call on."""
        ids = list(ids)
        if not ids:
            return
        self._refresh()
        self._log.append("deleted", fs.join(self.vpath, "deleted"), pd.DataFrame({"id": ids}), f"id {self.id_type}")
        self._copy.release()  # only a full compact's new handle serves again

    def compact_incremental(self, spark: SparkSession) -> "IVFIndex":
        """Fold the tail into the live version as a committed DELTA —
        O(|tail|) work instead of the full rebuild's O(|index|), the form
        that matters when the index is 100 TB and the tail is 0.1% of it.

        Tail rows are assigned to the EXISTING centroids with the same
        float32 assignment rule as the build (``_assigned``; quantized
        artifacts also encode with the existing codec), and
        written to ``<version>/delta-NNNNNN/`` partitioned by list id —
        search-time partition pruning treats base and deltas identically
        (``data_df``). Centroids are NOT refit: like growing an IVF index
        by insertion anywhere, assignment quality degrades only as far as
        the data drifts from the centroids' fit; a full :meth:`compact`
        refits. Deleted-id tombstones likewise remain until a full compact.

        One commit lists the delta, adds the tail rows to ``count`` and
        empties the tail list; a :meth:`vacuum` after it removes the folded
        segment dirs. A crash before the commit leaves an orphan delta dir
        (invisible, overwritten by the next attempt); a crash after it
        leaves folded segment dirs that no manifest names, which the next
        :meth:`vacuum` removes. Single-writer, like every maintenance op
        here."""
        self._refresh()
        if not self.manifest.get("tail"):
            return self
        dname = f"delta-{len(self.manifest.get('deltas', [])) + 1:06d}"
        assigned, _ = _assigned(self.tail_df(spark), self.centroids, self.codec, self.id_type)
        (
            assigned.repartition(F.col("list_id"))
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(fs.join(self.vpath, dname))
        )
        self.manifest["deltas"] = [*self.manifest.get("deltas", []), dname]
        self.manifest["count"] = int(self.manifest["count"]) + self._tail_rows()
        self.manifest["tail"] = []
        self._log.commit()
        self.vacuum()
        return self

    def compact(self, spark: SparkSession) -> "IVFIndex":
        """Full rebuild folding in the tail and dropping deleted ids —
        semantics of PRAGMA hnsw_compact_index
        (reference: src/hnsw/hnsw_index.cpp:481-494). Crash-safe: the rebuild
        lands in a NEW version directory and only becomes live when the
        build's manifest write commits it; a :meth:`vacuum` after the commit
        removes the old version. Committed incremental deltas fold in with
        the base. Returns the new version's handle; this one loads the new
        version at its next call."""
        self._refresh()
        cur = int(self.version[1:]) if self.version else 0
        # carry catalog identity through the rebuild
        keep = {k: v for k, v in self.manifest.items() if k in ("index_name", "table_name", "column", "id_column")}
        data = self.live_df(spark).cache()
        try:
            new = self._build(
                data, "vec", "id", self.path,
                metric=self.metric,
                options=self.manifest.get("options"),
                seed=self.manifest.get("seed", 42),
                version=f"v{cur + 1:06d}",
                extra_manifest=keep,
            )
        finally:
            data.unpersist()
        self._copy.release()  # the new version's handle holds its own
        new.vacuum()
        return new

    def vacuum(self) -> list:
        """Delete every dir under the index that its manifest does not
        name: ``tail/`` and ``deleted/`` segments and ``delta-*`` dirs that
        no commit named (a crash before it) or that one folded, and version
        dirs (and the root files of the unversioned layout) that a full
        compact replaced. Returns their paths relative to the index root.
        Run when no reader still holds an older manifest."""
        self._refresh()
        m = self.manifest
        named = [
            (fs.join(self.vpath, kind), {s["dir"] for s in m.get(kind, [])}, "snap-") for kind in ("tail", "deleted")
        ] + [(self.vpath, set(m.get("deltas", [])), "delta-")]
        if self.version:
            named.append((self.path, {self.version}, ""))
        root = len(fs.join(self.path, ""))
        return [
            fs.join(parent, name)[root:] for parent, live, prefix in named for name in self._log.vacuum(parent, live, prefix)
        ]

    def drop(self) -> None:
        """DROP INDEX: free the artifact (reference: src/hnsw/hnsw_index.cpp:410-419)
        and the handle's resident copy."""
        fs.delete(self.spark, self.path)
        self._copy.release()
