"""The benchmark's workloads. Each drives the public API from outside as a
closed loop with one client (every call blocks until its result returns),
checks every result against ground truth computed here with numpy, and
returns its end-to-end metrics, printable report lines and, when traced,
its per-layer metrics."""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen
import tracing as tr
from stats import f1, median, percentile, recall_at_k, samples_beyond

INDEX = "items_idx"

# per-layer metrics a workload reports itself when traced; the other
# workload reports them as 0
WORKLOAD_LAYER_METRICS = ["plans.index_route_ratio", "index.rows_scanned", "index.mixed_rows_scanned",
                          "index.tail_rows", "index.deleted_rows", "index.delta_dirs", "trace.query_p50_ms",
                          "dedup_store.files"]


@dataclass
class VectorSizes:
    n_base: int = 20_000
    dim: int = 64
    clusters: int = 256
    k: int = 10
    ef_search: int = 16
    insert_rows: int = 500
    delete_rows: int = 50
    join_probes: int = 256  # one batch of related queries: probes around join_clusters centres
    join_clusters: int = 2
    # op counts scale with --seconds, never with how fast ops finish, so a
    # seed and a length fix every input a run hands the program
    reads_per_s: float = 0.33  # read-phase point queries per second of --seconds
    min_recall: float = 0.8


# input index offsets, so the mixed-phase and warm-up query vectors never
# coincide with read-phase ones
MIXED_QUERY, WARMUP_QUERY = 100_000, 1_000_000


@dataclass
class DedupSizes:
    batch_docs: int = 1_000
    batches_per_s: float = 0.2  # measured batches per second of --seconds
    threshold: float = 0.5
    shingle_n: int = 3
    num_perm: int = 16
    bands: int = 4
    min_f1: float = 0.8


TOY_VECTOR = VectorSizes(n_base=2_000, clusters=32, insert_rows=50, delete_rows=10,
                         join_probes=32, join_clusters=2, min_recall=0.5)
TOY_DEDUP = DedupSizes(batch_docs=200, min_f1=0.5)


@dataclass
class Outcome:
    """What a workload reports. ``e2e`` holds the end-to-end metrics,
    ``lines`` the human-readable report, ``layers`` the traced metrics."""

    e2e: dict
    lines: list
    attempted: int
    failed: int
    correct: bool
    layers: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)


class Ctx:
    """One run: the Spark session, the optional tracer and the op clock."""

    def __init__(self, spark, seed: int, seconds: float, run_root: str, tracer):
        self.spark, self.seed, self.seconds, self.run_root = spark, seed, seconds, run_root
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.codegen_probe = tr.CodegenProbe(self.sc) if tracer else None
        self.codegen: dict = {}  # op id -> (compiles, compile ms)
        self.cpu_ms: dict = {}  # op kind -> CPU ms of the process tree per op that returned
        self.attempted = 0
        self.failed = 0  # ops that raised or failed at least one check
        self._op_failed = False
        self._errors_shown = 0

    def collect(self, df):
        if self.tracer is None:
            return df.collect()
        with self.tracer.span("spark.exec"):
            return df.collect()

    def timed(self, kind: str, fn):
        """Run ``fn`` as one op of ``kind``; returns ``(result, seconds)``,
        result None when it raised (counted as failed). Checks made after
        it returns count against this op."""
        self.attempted += 1
        self._op_failed = False
        cpu0 = tr.tree_cpu_s(os.getpid())
        out, dt = self._timed(kind, fn)
        if dt is not None:
            self.cpu_ms.setdefault(kind, []).append(1000 * (tr.tree_cpu_s(os.getpid()) - cpu0))
        return out, dt

    def _timed(self, kind: str, fn):
        t = self.tracer
        try:
            if t is None:
                s = time.perf_counter()
                out = fn()
                return out, time.perf_counter() - s
            op_id = len(t.op_kind)
            self.sc.setJobGroup(f"op-{op_id}", kind)
            c0 = self.codegen_probe.read()
            try:
                with t.op(kind):
                    s = time.perf_counter()
                    out = fn()
                    dt = time.perf_counter() - s
            finally:
                c1 = self.codegen_probe.read()
                self.codegen[op_id] = (c1[0] - c0[0], c1[1] - c0[1])
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            return out, dt
        except Exception:
            self.fail(f"{kind} raised:\n{traceback.format_exc()}")
            return None, None

    def fail(self, why: str) -> None:
        if not self._op_failed:
            self._op_failed = True
            self.failed += 1
        if self._errors_shown < 5:
            self._errors_shown += 1
            print(f"perfbench: check failed: {why}", file=sys.stderr)

    def check(self, ok: bool, why: str) -> bool:
        if not ok:
            self.fail(why)
        return ok


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def line(name: str, value: float, unit: str, n: int) -> str:
    return f"metric {name} = {value:.6g} {unit} (n={n})"


def _p90_line(name: str, ms: list) -> str:
    if not ms:
        return line(name, 0.0, "ms", 0)
    beyond = samples_beyond(len(ms), 90)
    note = "" if beyond >= 10 else f" [only {beyond} samples beyond p90; indicative]"
    return line(name, percentile(ms, 90), "ms", len(ms)) + note


# -- vector: point top-k, batch k-NN join, insert/delete/compact ----------------
class VectorTruth:
    """The benchmark's own copy of every vector and which ids are live."""

    def __init__(self, base: np.ndarray):
        self.vecs = base.astype(np.float32)
        self.live = np.ones(len(base), dtype=bool)

    def add(self, vecs: np.ndarray) -> None:
        self.vecs = np.vstack([self.vecs, vecs.astype(np.float32)])
        self.live = np.concatenate([self.live, np.ones(len(vecs), dtype=bool)])

    def exact_topk(self, q: np.ndarray, k: int) -> np.ndarray:
        """Exact top-k ids of each row of ``q`` (2-d) over the live rows."""
        ids = np.flatnonzero(self.live)
        x = self.vecs[ids].astype(np.float64)
        xx = (x * x).sum(1)
        out = []
        for lo in range(0, len(q), 256):
            qc = q[lo:lo + 256].astype(np.float64)
            d = xx[None, :] - 2.0 * qc @ x.T + (qc * qc).sum(1)[:, None]
            part = np.argpartition(d, k - 1, axis=1)[:, :k]
            order = np.take_along_axis(d, part, 1).argsort(1)
            out.append(ids[np.take_along_axis(part, order, 1)])
        return np.vstack(out)


def _write_vectors(path: str, vecs: np.ndarray, ids: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, d = vecs.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel(), pa.float32()))
    pq.write_table(pa.table({"vec_id": pa.array(ids), "embedding": emb}), path)


def _sql_topk(q: np.ndarray, k: int) -> str:
    lit = ", ".join(repr(float(v)) for v in q)
    return f"SELECT vec_id FROM items ORDER BY array_distance(embedding, [{lit}]::FLOAT[{len(q)}]) LIMIT {k}"


def _index_layout(idx) -> dict:
    """Rows per inverted list (base + deltas), tail and tombstone rows, and
    the delta-directory count, read from parquet footers."""
    import pyarrow.parquet as pq

    def rows(path):
        n = 0
        for root, _, files in os.walk(path):
            n += sum(pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                     for f in files if f.endswith(".parquet"))
        return n

    vpath = idx.vpath.replace("file://", "").replace("file:", "")
    lists: dict = {}
    for d in [os.path.join(vpath, "data")] + [os.path.join(vpath, x) for x in idx.manifest.get("deltas", [])]:
        for name in os.listdir(d) if os.path.isdir(d) else []:
            if name.startswith("list_id="):
                lid = int(name.split("=", 1)[1])
                lists[lid] = lists.get(lid, 0) + rows(os.path.join(d, name))
    return {
        "lists": lists,
        "tail_rows": rows(os.path.join(vpath, "tail")),
        "deleted_rows": rows(os.path.join(vpath, "deleted")),
        "delta_dirs": len(idx.manifest.get("deltas", [])),
    }


def mixed_ingest(ctx: Ctx, session_s: float, sz: VectorSizes) -> Outcome:
    from duckdb_vss_spark import VSSEngine
    from duckdb_vss_spark.sql import SQLFrontend

    spark, seed, k = ctx.spark, ctx.seed, sz.k
    s = time.perf_counter()
    vg = gen.VectorGen(seed, sz.dim, sz.clusters)
    base = vg.base(sz.n_base)
    truth = VectorTruth(base)
    items_path = os.path.join(ctx.run_root, "items")  # a table directory; inserts add files
    os.makedirs(items_path)
    _write_vectors(os.path.join(items_path, "base.parquet"), base, np.arange(sz.n_base, dtype=np.int64))
    gen_s = time.perf_counter() - s
    used = [base]  # every input array the run hands the program, for input_digest

    engine = VSSEngine(spark, index_root=os.path.join(ctx.run_root, "indexes"))
    engine.register_table("items", spark.read.parquet(items_path))
    fe = SQLFrontend(engine)
    # built once, cold JIT included: a second build would add 5-9 s to a
    # run of about a minute
    s = time.perf_counter()
    fe.sql(f"CREATE INDEX {INDEX} ON items USING HNSW (embedding)")
    build_s = time.perf_counter() - s
    fe.sql(f"SET hnsw_ef_search = {sz.ef_search}")

    def probe_df(p: np.ndarray):
        return spark.createDataFrame([(q, p[q].tolist()) for q in range(len(p))], "qid bigint, qv array<float>")

    def run_join(df):
        return engine.knn_join(df, "items", "qv", "embedding", k, left_id="qid", right_id="vec_id")

    # warm-up: one query, and one join because a cold first join takes 2-4x
    # a warm one
    s = time.perf_counter()
    q, p = vg.query(WARMUP_QUERY), vg.probes(WARMUP_QUERY, sz.join_probes, sz.join_clusters)
    used += [q, p]
    fe.sql(_sql_topk(q, k)).collect()
    run_join(probe_df(p)).collect()
    warm_s = time.perf_counter() - s
    setup_s = session_s + gen_s + build_s + warm_s

    lat = {"query": [], "mixed_query": [], "insert": [], "delete": [], "compact": [], "join": []}
    recalls, join_recalls, routed, vector_reads = [], [], 0, 0
    join_probes = 0
    fresh = None  # (id, vector) of a row inserted since the last query
    layout_samples = []
    layout = _index_layout(engine.catalog.get(INDEX)) if ctx.tracer else None
    rows_scanned = {"query": [], "mixed_query": []}
    # A fixed schedule: the counts follow --seconds, the seed varies the data
    # and every op's inputs, and each op draws its inputs by its own index.
    # Read phase: point queries and two joins against the index as built. One
    # write round. Mixed phase: one point query, for a row just inserted, that
    # sees a delta dir, a tail and tombstones. A join after the writes would
    # run cold plan shapes, 3-4x a warm join, and swamp the join rate, so
    # both joins come before them.
    n_read = max(1, round(sz.reads_per_s * ctx.seconds))
    schedule = ([("query", i) for i in range(n_read)] + [("join", 0), ("join", 1)]
                + [("insert", 0), ("compact", 0), ("insert", 1), ("delete", 0)]
                + [("mixed_query", 0)])

    def sample_layout():
        nonlocal layout
        layout = _index_layout(engine.catalog.get(INDEX))
        layout_samples.append(layout)

    def query(kind: str, i: int):
        nonlocal fresh, routed, vector_reads
        want = fresh
        q = want[1] if want else vg.query(i if kind == "query" else MIXED_QUERY + i)
        used.append(q)
        sql = _sql_topk(q, k)
        rows, dt = ctx.timed(kind, lambda: ctx.collect(fe.sql(sql)))
        fresh = None
        vector_reads += 1
        if rows is None:
            return
        lat[kind].append(dt * 1000)
        routed += "HNSW_INDEX_SCAN" in (engine.last_plan or "")
        ids = [r["vec_id"] for r in rows]
        exact = truth.exact_topk(q[None, :], k)[0]
        recalls.append(recall_at_k(ids, exact))
        name = f"{kind} {i}"
        ok = ctx.check(len(ids) == k and len(set(ids)) == k, f"{name}: {len(ids)} rows, {len(set(ids))} distinct")
        ok &= ctx.check(all(0 <= x < len(truth.live) and truth.live[x] for x in ids), f"{name}: returned a deleted or unknown id")
        if want:
            ok &= ctx.check(ids[:1] == [want[0]], f"{name}: fresh row {want[0]} not at rank 1 (got {ids[:1]})")
        if ctx.tracer and ok:
            op_id = len(ctx.tracer.op_kind) - 1
            rows_scanned[kind].append(sum(layout["lists"].get(l, 0) for l in ctx.tracer.probed[op_id]) + layout["tail_rows"])

    def insert(_kind: str, i: int):
        nonlocal fresh
        vecs = vg.insert(i, sz.insert_rows)
        used.append(vecs)
        ids = np.arange(len(truth.vecs), len(truth.vecs) + len(vecs), dtype=np.int64)
        df = spark.createDataFrame([(int(x), v.tolist()) for x, v in zip(ids, vecs)], "vec_id bigint, embedding array<float>")
        def insert_rows():
            # INSERT INTO items: the table gains the rows (a fresh relation
            # re-lists its files), then the index does
            df.write.mode("append").parquet(items_path)
            engine.register_table("items", spark.read.parquet(items_path))
            engine.insert(INDEX, df, "embedding", "vec_id")

        _, dt = ctx.timed("insert", insert_rows)
        if dt is None:
            return
        lat["insert"].append(dt * 1000)
        truth.add(vecs)
        j = i % len(vecs)
        fresh = (int(ids[j]), vecs[j])
        if ctx.tracer:
            sample_layout()

    def compact(_kind: str, _i: int):
        _, dt = ctx.timed("compact", lambda: engine.compact_index(INDEX, incremental=True))
        if dt is None:
            return
        lat["compact"].append(dt * 1000)
        if ctx.tracer:
            sample_layout()

    def delete(_kind: str, i: int):
        base_live = np.flatnonzero(truth.live[: sz.n_base])
        ids = vg.delete_ids(i, base_live, sz.delete_rows)
        used.append(ids)
        _, dt = ctx.timed("delete", lambda: engine.delete(INDEX, [int(x) for x in ids]))
        if dt is None:
            return
        lat["delete"].append(dt * 1000)
        truth.live[ids] = False
        if ctx.tracer:
            sample_layout()

    def join(_kind: str, i: int):
        nonlocal routed, vector_reads, join_probes
        n = sz.join_probes
        p = vg.probes(i, n, sz.join_clusters)
        used.append(p)
        df = probe_df(p)
        rows, dt = ctx.timed("join", lambda: ctx.collect(run_join(df)))
        vector_reads += 1
        if rows is None:
            return
        lat["join"].append(dt * 1000)
        join_probes += n
        routed += "HNSW_INDEX_JOIN" in (engine.last_plan or "")
        exact = truth.exact_topk(p, k)
        got: dict = {}
        for r in rows:
            got.setdefault(r["qid"], []).append((r["rnk"], r["rid"], r["score"]))
        ctx.check(sorted(got) == list(range(n)), f"join {i}: {len(got)} of {n} probes answered")
        for qid, hits in got.items():
            hits.sort()
            rids = [h[1] for h in hits]
            if not ctx.check([h[0] for h in hits] == list(range(1, k + 1)) and len(set(rids)) == k,
                             f"join {i}: probe {qid} ranks {[h[0] for h in hits]}"):
                continue
            if not ctx.check(all(0 <= x < len(truth.live) and truth.live[x] for x in rids),
                             f"join {i}: probe {qid} returned a deleted or unknown id"):
                continue
            d = np.sqrt(((truth.vecs[rids].astype(np.float64) - p[qid].astype(np.float64)) ** 2).sum(1))
            scores = np.array([h[2] for h in hits])
            if ctx.check(np.allclose(scores, d, rtol=1e-4, atol=1e-4) and np.all(np.diff(scores) >= -1e-9),
                         f"join {i}: probe {qid} scores differ from exact recomputation"):
                join_recalls.append(recall_at_k(rids, exact[qid]))

    ops = {"query": query, "mixed_query": query, "insert": insert, "compact": compact, "delete": delete, "join": join}
    for kind, i in schedule:
        ops[kind](kind, i)
    input_digest = gen.digest(*used)

    idx = engine.catalog.get(INDEX)
    live_rows = int(truth.live.sum())
    index_bytes = dir_bytes(idx.path.replace("file://", "").replace("file:", ""))
    bytes_ratio = index_bytes / (live_rows * sz.dim * 4)
    recall = float(np.mean(recalls)) if recalls else 0.0
    join_recall = float(np.mean(join_recalls)) if join_recalls else 0.0
    join_s = sum(lat["join"]) / 1000
    join_cpu_s = sum(ctx.cpu_ms.get("join", [])) / 1000
    route_ratio = routed / vector_reads if vector_reads else 0.0
    q_ms, mq_ms, q_cpu = lat["query"], lat["mixed_query"], ctx.cpu_ms.get("query", [])
    e2e = {
        "setup_s": setup_s,
        "query_cpu_ms": median(q_cpu) if q_cpu else 0.0,
        "batch_items_per_cpu_s": join_probes / join_cpu_s if join_cpu_s else 0.0,
        "quality": recall,
        "bytes_per_input_byte": bytes_ratio,
    }
    samples = {"query_cpu_ms": len(q_cpu), "batch_items_per_cpu_s": join_probes, "quality": len(recalls)}
    lines = [
        line("setup_s", setup_s, "s", 1),
        line("index_build_s", build_s, "s", 1),
        line("query_p50_ms", median(q_ms) if q_ms else 0.0, "ms", len(q_ms)),
        _p90_line("query_p90_ms", q_ms),
        line("query_cpu_ms", e2e["query_cpu_ms"], "ms", len(q_cpu)),
        line("mixed_query_p50_ms", median(mq_ms) if mq_ms else 0.0, "ms", len(mq_ms)),
        line("recall_at_10", recall, "ratio", len(recalls)),
        line("join_probes_per_s", join_probes / join_s if join_s else 0.0, "probes/s", join_probes),
        line("join_probes_per_cpu_s", e2e["batch_items_per_cpu_s"], "probes/s", join_probes),
        line("join_recall_at_10", join_recall, "ratio", len(join_recalls)),
        line("insert_p50_ms", median(lat["insert"]) if lat["insert"] else 0.0, "ms", len(lat["insert"])),
        line("delete_p50_ms", median(lat["delete"]) if lat["delete"] else 0.0, "ms", len(lat["delete"])),
        line("compact_s", median(lat["compact"]) / 1000 if lat["compact"] else 0.0, "s", len(lat["compact"])),
        line("index_bytes_per_vec_byte", bytes_ratio, "ratio", 1),
        line("plans.index_route_ratio", route_ratio, "ratio", vector_reads),
    ]
    correct = ctx.failed == 0 and recall >= sz.min_recall and route_ratio == 1.0
    layers = {}
    if ctx.tracer:
        layers["plans.index_route_ratio"] = route_ratio
        layers["index.rows_scanned"] = float(np.mean(rows_scanned["query"])) if rows_scanned["query"] else 0.0
        layers["index.mixed_rows_scanned"] = (
            float(np.mean(rows_scanned["mixed_query"])) if rows_scanned["mixed_query"] else 0.0
        )
        for key in ("tail_rows", "deleted_rows", "delta_dirs"):
            layers[f"index.{key}"] = float(np.mean([s[key] for s in layout_samples])) if layout_samples else 0.0
        layers["trace.query_p50_ms"] = median(q_ms) if q_ms else 0.0
    record = {"n_base": sz.n_base, "dim": sz.dim, "clusters": sz.clusters, "ef_search": sz.ef_search,
              "nlist": idx.nlist, "insert_rows": sz.insert_rows, "delete_rows": sz.delete_rows,
              "join_probes": sz.join_probes, "join_clusters": sz.join_clusters, "input_digest": input_digest,
              "ops": len(schedule), "samples": samples,
              "latencies_ms": {kind: [round(x, 1) for x in v] for kind, v in lat.items()},
              "cpu_ms": {kind: [round(x) for x in v] for kind, v in ctx.cpu_ms.items()}}
    return Outcome(e2e, lines, ctx.attempted, ctx.failed, correct, layers, record)


# -- crawl dedup: MinHash store flag + append ------------------------------------
def crawl_dedup(ctx: Ctx, session_s: float, sz: DedupSizes) -> Outcome:
    import pandas as pd

    from duckdb_vss_spark import MinHashStore

    spark, seed = ctx.spark, ctx.seed
    dg = gen.DocGen(seed)

    def frame(ids, texts):
        return spark.createDataFrame(pd.DataFrame({"doc_id": ids, "text": texts}))

    s = time.perf_counter()
    ids0, texts0, _ = dg.batch(0, sz.batch_docs)
    gen_s = time.perf_counter() - s
    used = [texts0]  # every batch the run hands the program, for input_digest
    df0 = frame(ids0, texts0)
    s = time.perf_counter()
    store = MinHashStore.create(spark, os.path.join(ctx.run_root, "store"), shingle_n=sz.shingle_n,
                                num_perm=sz.num_perm, bands=sz.bands)
    store.append_snapshot(df0, "text", "doc_id", "b0")
    build_s = time.perf_counter() - s

    def inputs(b: int):
        ids, texts, planted = dg.batch(b, sz.batch_docs)
        used.append(texts)
        return ids, texts, planted, frame(ids, texts)

    def flag_append(b: int, ids, texts, df):
        """Flag batch ``b`` against the store and append its unflagged rows."""
        c0 = tr.tree_cpu_s(os.getpid())
        s0 = time.perf_counter()
        rows = ctx.collect(store.flag_batch(df, "text", "doc_id", threshold=sz.threshold).select("doc_id", "dup_of_store"))
        s1 = time.perf_counter()
        flag_cpu_ms.append(1000 * (tr.tree_cpu_s(os.getpid()) - c0))
        flagged = {r["doc_id"]: r["dup_of_store"] for r in rows}
        keep = [i for i in range(len(ids)) if not flagged.get(int(ids[i]), True)]
        kept = frame(ids[keep], [texts[i] for i in keep])
        s2 = time.perf_counter()
        entry = store.append_snapshot(kept, "text", "doc_id", f"b{b}")
        s3 = time.perf_counter()
        return len(rows), flagged, keep, entry, (s1 - s0, s3 - s2)

    # one whole batch as warm-up: a warm-up on a few documents left the first
    # measured batch 1.3-1.5x slower than the next ones
    flag_cpu_ms = []
    s = time.perf_counter()
    ids1, texts1, _, df1 = inputs(1)
    keep1 = flag_append(1, ids1, texts1, df1)[2]
    flag_cpu_ms.clear()
    warm_s = time.perf_counter() - s
    setup_s = session_s + gen_s + build_s + warm_s
    text_bytes = sum(len(t.encode()) for t in texts0) + sum(len(texts1[i].encode()) for i in keep1)

    flag_ms, append_ms, docs = [], [], 0
    tp = fp = fn = 0
    # a fixed count that follows --seconds, so every run flags against the
    # same store sizes
    n_batches = max(2, round(sz.batches_per_s * ctx.seconds))
    for b in range(2, 2 + n_batches):
        ids, texts, planted, df = inputs(b)
        out, _ = ctx.timed("batch", lambda: flag_append(b, ids, texts, df))
        if out is None:
            del flag_cpu_ms[len(flag_ms):]
            continue
        n_rows, flagged, keep, entry, (t_flag, t_append) = out
        flag_ms.append(t_flag * 1000)
        append_ms.append(t_append * 1000)
        docs += len(ids)
        ctx.check(n_rows == len(ids) and set(flagged) == set(int(i) for i in ids),
                  f"batch {b}: {n_rows} flagged rows for {len(ids)} docs")
        ctx.check(entry["n_docs"] == len(keep), f"batch {b}: store committed {entry['n_docs']} of {len(keep)} kept docs")
        flags = np.array([bool(flagged.get(int(i), False)) for i in ids])
        tp += int((flags & planted).sum())
        fp += int((flags & ~planted).sum())
        fn += int((~flags & planted).sum())
        text_bytes += sum(len(texts[i].encode()) for i in keep)

    input_digest = gen.digest(*(np.array(t).astype("U") for t in used))
    work_s = (sum(flag_ms) + sum(append_ms)) / 1000
    work_cpu_s = sum(ctx.cpu_ms.get("batch", [])) / 1000
    store_path = store.root.replace("file://", "").replace("file:", "")
    dup_f1 = f1(tp, fp, fn)
    e2e = {
        "setup_s": setup_s,
        "query_cpu_ms": median(flag_cpu_ms) if flag_cpu_ms else 0.0,
        "batch_items_per_cpu_s": docs / work_cpu_s if work_cpu_s else 0.0,
        "quality": dup_f1,
        "bytes_per_input_byte": dir_bytes(store_path) / text_bytes,
    }
    lines = [
        line("setup_s", setup_s, "s", 1),
        line("store_build_s", build_s, "s", 1),
        line("docs_per_s", docs / work_s if work_s else 0.0, "docs/s", docs),
        line("docs_per_cpu_s", e2e["batch_items_per_cpu_s"], "docs/s", docs),
        line("flag_p50_ms", median(flag_ms) if flag_ms else 0.0, "ms", len(flag_ms)),
        line("flag_cpu_ms", e2e["query_cpu_ms"], "ms", len(flag_cpu_ms)),
        line("append_p50_ms", median(append_ms) if append_ms else 0.0, "ms", len(append_ms)),
        line("dup_f1", dup_f1, "ratio", tp + fp + fn),
        line("dup_precision", tp / (tp + fp) if tp + fp else 1.0, "ratio", tp + fp),
        line("dup_recall", tp / (tp + fn) if tp + fn else 1.0, "ratio", tp + fn),
        line("store_bytes_per_text_byte", e2e["bytes_per_input_byte"], "ratio", 1),
    ]
    layers = {}
    if ctx.tracer:
        layers["dedup_store.files"] = float(sum(len(f) for _, _, f in os.walk(store_path)))
    record = {"batch_docs": sz.batch_docs, "num_perm": sz.num_perm, "bands": sz.bands, "threshold": sz.threshold,
              "input_digest": input_digest, "batches": n_batches,
              "samples": {"query_cpu_ms": len(flag_cpu_ms), "batch_items_per_cpu_s": docs},
              "latencies_ms": {"flag": [round(x, 1) for x in flag_ms], "append": [round(x, 1) for x in append_ms]},
              "cpu_ms": {kind: [round(x) for x in v] for kind, v in ctx.cpu_ms.items()}}
    correct = ctx.failed == 0 and dup_f1 >= sz.min_f1
    return Outcome(e2e, lines, ctx.attempted, ctx.failed, correct, layers, record)
