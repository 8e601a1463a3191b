"""Tracing from outside the program: span wrappers around each layer's
public functions, Spark counters per operation, and process-tree memory.

Spans live in memory (``Tracer.spans``) and are reduced to per-layer
metrics at the end of a run. Nothing here changes what the wrapped
functions compute; ``Tracer.uninstall`` restores every original."""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Optional

from stats import self_times

# (span name, defining module, attribute path). Module-level functions are
# also patched in every package module that imported them by name.
TARGETS = [
    ("sql.sql", "duckdb_vss_spark.sql", "SQLFrontend.sql"),
    ("engine.topk", "duckdb_vss_spark.engine", "VSSEngine.topk"),
    ("engine.knn_join", "duckdb_vss_spark.engine", "VSSEngine.knn_join"),
    ("engine.insert", "duckdb_vss_spark.engine", "VSSEngine.insert"),
    ("engine.delete", "duckdb_vss_spark.engine", "VSSEngine.delete"),
    ("engine.compact_index", "duckdb_vss_spark.engine", "VSSEngine.compact_index"),
    ("plans.decide", "duckdb_vss_spark.plans", "decide"),
    ("plans.explain_text", "duckdb_vss_spark.plans", "explain_text"),
    ("catalog.get", "duckdb_vss_spark.index.catalog", "IndexCatalog.get"),
    ("index.search", "duckdb_vss_spark.index.ivf", "IVFIndex.search"),
    ("index.candidates", "duckdb_vss_spark.index.ivf", "IVFIndex.candidates"),
    ("index.data_df", "duckdb_vss_spark.index.ivf", "IVFIndex.data_df"),
    ("index.probe_lists", "duckdb_vss_spark.index.ivf", "IVFIndex.probe_lists"),
    ("index.probe_lists_batch", "duckdb_vss_spark.index.ivf", "IVFIndex.probe_lists_batch"),
    ("index.tail_df", "duckdb_vss_spark.index.ivf", "IVFIndex.tail_df"),
    ("index.deleted_df", "duckdb_vss_spark.index.ivf", "IVFIndex.deleted_df"),
    ("index.insert", "duckdb_vss_spark.index.ivf", "IVFIndex.insert"),
    ("index.delete", "duckdb_vss_spark.index.ivf", "IVFIndex.delete"),
    ("index.compact_incremental", "duckdb_vss_spark.index.ivf", "IVFIndex.compact_incremental"),
    ("knn.flat_indexed", "duckdb_vss_spark.operators.knn", "knn_join_flat_indexed"),
    ("knn.flat_indexed_distributed", "duckdb_vss_spark.operators.knn", "knn_join_flat_indexed_distributed"),
    ("knn.flat", "duckdb_vss_spark.operators.knn", "knn_join_flat"),
    ("topk.exact", "duckdb_vss_spark.operators.topk", "topk"),
    ("functions.distance_expr", "duckdb_vss_spark.functions.distance", "distance_expr"),
    ("functions.word_ngrams", "duckdb_vss_spark.functions.text", "word_ngrams"),
    ("dedup.minhash_per_doc", "duckdb_vss_spark.operators.dedup", "minhash_per_doc"),
    ("dedup.band_buckets_expr", "duckdb_vss_spark.operators.dedup", "band_buckets_expr"),
    ("dedup_store.band_rows", "duckdb_vss_spark.index.dedup_store", "MinHashStore.band_rows"),
    ("dedup_store.match_against", "duckdb_vss_spark.index.dedup_store", "MinHashStore.match_against"),
    ("dedup_store.flag_batch", "duckdb_vss_spark.index.dedup_store", "MinHashStore.flag_batch"),
    ("dedup_store.append_snapshot", "duckdb_vss_spark.index.dedup_store", "MinHashStore.append_snapshot"),
    ("broadcasts.tracked_broadcast", "duckdb_vss_spark.broadcasts", "tracked_broadcast"),
    ("broadcasts.tracked_persist", "duckdb_vss_spark.broadcasts", "tracked_persist"),
]

# per-layer time metrics: name -> (span names whose self time is summed,
# op kind it is averaged over)
TIME_METRICS = {
    "sql.plan_ms": (["sql.sql"], "query"),
    "engine.plan_ms": (["engine.topk"], "query"),
    "plans.decide_ms": (["plans.decide", "plans.explain_text"], "query"),
    "catalog.get_ms": (["catalog.get"], "query"),
    "index.search_ms": (["index.search", "index.candidates"], "query"),
    "index.data_df_ms": (["index.data_df"], "query"),
    "index.probe_lists_ms": (["index.probe_lists"], "query"),
    "index.tail_tombstone_ms": (["index.tail_df", "index.deleted_df"], "query"),
    "functions.distance_expr_ms": (["functions.distance_expr"], "query"),
    "spark.exec_ms": (["spark.exec"], "query"),
    "index.mixed_search_ms": (["index.search", "index.candidates"], "mixed_query"),
    "index.mixed_data_df_ms": (["index.data_df"], "mixed_query"),
    "index.mixed_tail_tombstone_ms": (["index.tail_df", "index.deleted_df"], "mixed_query"),
    "spark.mixed_exec_ms": (["spark.exec"], "mixed_query"),
    "engine.join_plan_ms": (["engine.knn_join"], "join"),
    "knn.plan_ms": (["knn.flat_indexed"], "join"),
    "index.probe_lists_batch_ms": (["index.probe_lists_batch"], "join"),
    "spark.join_exec_ms": (["spark.exec"], "join"),
    "engine.insert_ms": (["engine.insert"], "insert"),
    "index.insert_ms": (["index.insert"], "insert"),
    "engine.delete_ms": (["engine.delete"], "delete"),
    "index.delete_ms": (["index.delete"], "delete"),
    "index.compact_ms": (["index.compact_incremental", "engine.compact_index"], "compact"),
    "dedup_store.flag_ms": (["dedup_store.flag_batch", "dedup_store.match_against"], "batch"),
    "dedup_store.band_rows_ms": (
        ["dedup_store.band_rows", "dedup.minhash_per_doc", "dedup.band_buckets_expr", "functions.word_ngrams"],
        "batch",
    ),
    "dedup_store.append_ms": (["dedup_store.append_snapshot"], "batch"),
    "spark.batch_exec_ms": (["spark.exec"], "batch"),
}

# call-count metrics: name -> (span name, op kind)
CALL_METRICS = {
    "knn.distributed_calls": ("knn.flat_indexed_distributed", "join"),
    "knn.flat_calls": ("knn.flat", "join"),
    "broadcasts.per_query": ("broadcasts.tracked_broadcast", "query"),
    "broadcasts.per_join": ("broadcasts.tracked_broadcast", "join"),
}

# Spark counters reported per op of these kinds
SPARK_COUNTERS = [
    "jobs", "stages", "tasks", "executor_run_ms", "scheduler_delay_ms", "input_records",
    "input_bytes", "shuffle_write_bytes", "codegen_compiles", "codegen_compile_ms",
]
SPARK_KINDS = ["query", "mixed_query", "join", "batch"]


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    op: Optional[int]
    start: float
    end: float = 0.0


class Tracer:
    """Records nested spans per operation. ``op(kind)`` opens the root span
    of one operation; wrapped layer functions open child spans."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.op_kind: dict[int, str] = {}
        self.probed: dict[int, list] = defaultdict(list)  # op id -> inverted lists probed
        self._stack: list[Span] = []
        self._op: Optional[int] = None
        self._patched: list = []

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None, self._op, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str):
        op_id = len(self.op_kind)
        self.op_kind[op_id] = kind
        self._op = op_id
        try:
            with self.span("op"):
                yield op_id
        finally:
            self._op = None

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == "index.probe_lists" and tracer._op is not None:
                tracer.probed[tracer._op].extend(out)
            return out

        wrapper.__wrapped_by_perfbench__ = fn
        return wrapper

    # -- patching --------------------------------------------------------
    def install(self) -> None:
        import importlib

        for name, modname, attr in TARGETS:
            mod = importlib.import_module(modname)
            owner_name, _, fn_name = attr.rpartition(".")
            if owner_name:
                owner = getattr(mod, owner_name)
                orig = owner.__dict__[fn_name]
                self._set(owner, fn_name, orig, self.wrap(name, orig))
                continue
            orig = getattr(mod, fn_name)
            wrapped = self.wrap(name, orig)
            # every binding of the function in the package, aliases included
            # (the engine imports operators.topk.topk as exact_topk)
            for modname_, m in list(sys.modules.items()):
                if modname_.startswith("duckdb_vss_spark") and m is not None:
                    for alias, val in list(vars(m).items()):
                        if val is orig:
                            self._set(m, alias, orig, wrapped)

    def _set(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reduction --------------------------------------------------------
    def layer_metrics(self) -> dict:
        selft = self_times(self.spans)
        per = defaultdict(float)  # (kind, span name) -> self seconds
        calls = Counter()  # (kind, span name) -> calls
        for s in self.spans:
            if s.op is None:
                continue
            kind = self.op_kind[s.op]
            per[(kind, s.name)] += selft[s.id]
            calls[(kind, s.name)] += 1
        n = Counter(self.op_kind.values())
        out = {}
        for metric, (names, kind) in TIME_METRICS.items():
            out[metric] = 1000.0 * sum(per[(kind, nm)] for nm in names) / n[kind] if n[kind] else 0.0
        for metric, (name, kind) in CALL_METRICS.items():
            out[metric] = calls[(kind, name)] / n[kind] if n[kind] else 0.0
        # read-phase queries: do the layer self times account for the wall?
        nq = n["query"] or 1
        wall = sum(s.end - s.start for s in self.spans if s.name == "op" and self.op_kind[s.op] == "query")
        layers = sum(v for (k, nm), v in per.items() if k == "query" and nm != "op")
        out["trace.query_wall_ms"] = 1000.0 * wall / nq
        out["trace.query_accounted_ratio"] = layers / wall if wall else 0.0
        out["trace.query_unattributed_ms"] = 1000.0 * per[("query", "op")] / nq
        out["trace.spans_per_query"] = sum(c for (k, _), c in calls.items() if k == "query") / nq
        out["index.lists_probed"] = sum(len(v) for o, v in self.probed.items() if self.op_kind[o] == "query") / nq
        return out


# -- Spark counters -----------------------------------------------------------
class CodegenProbe:
    """Cumulative whole-stage codegen compile count and time, read from the
    Spark JVM (local mode: the executors run in it)."""

    def __init__(self, sc):
        jvm = sc._jvm
        self._gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, float]:
        return int(self._hist.getCount()), self._gen.compileTime() / 1e6


def read_event_log(log_dir: str) -> dict:
    """Per job group: ``{group: Counter}`` of jobs, stages, tasks, failed
    tasks, executor run ms, scheduler delay ms (task launch minus stage
    submission), input records/bytes and shuffle bytes written."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f))
    stage_group, submitted = {}, {}
    out: dict = defaultdict(Counter)
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    out[g]["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif ev == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    submitted[info["Stage ID"]] = info.get("Submission Time")
                    g = stage_group.get(info["Stage ID"])
                    if g is not None:
                        out[g]["stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    if g is None:
                        continue
                    c = out[g]
                    c["tasks"] += 1
                    info = e.get("Task Info", {})
                    if info.get("Failed") or (e.get("Task End Reason") or {}).get("Reason") != "Success":
                        c["failed_tasks"] += 1
                    sub = submitted.get(e["Stage ID"])
                    if sub is not None and info.get("Launch Time") is not None:
                        c["scheduler_delay_ms"] += max(0, info["Launch Time"] - sub)
                    m = e.get("Task Metrics") or {}
                    c["executor_run_ms"] += m.get("Executor Run Time", 0)
                    c["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return out


def spark_metrics(op_kind: dict, groups: dict, codegen: dict) -> dict:
    """``spark.<counter>_per_<kind>`` means over the ops of each kind, plus
    ``spark.failed_tasks`` over the whole run. ``groups`` maps the job
    group ``op-<id>`` to event-log counters, ``codegen`` maps op id to
    (compiles, compile ms)."""
    out = {}
    for kind in SPARK_KINDS:
        ops = [o for o, k in op_kind.items() if k == kind]
        for counter in SPARK_COUNTERS:
            total = 0.0
            for o in ops:
                if counter == "codegen_compiles":
                    total += codegen.get(o, (0, 0.0))[0]
                elif counter == "codegen_compile_ms":
                    total += codegen.get(o, (0, 0.0))[1]
                else:
                    total += groups.get(f"op-{o}", {}).get(counter, 0)
            out[f"spark.{counter}_per_{kind}"] = total / len(ops) if ops else 0.0
    out["spark.failed_tasks"] = float(sum(c.get("failed_tasks", 0) for c in groups.values()))
    return out


# -- memory -------------------------------------------------------------------
def descendants(pid: int) -> list[int]:
    """Every process started by ``pid``, directly or not (Linux /proc)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
                out += kids
                todo += kids
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and all its descendants."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return total


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and all its descendants so far.
    Time the hypervisor gave to other guests (steal) is not in it."""
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12])
        except (FileNotFoundError, ProcessLookupError, PermissionError, IndexError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak_mb`` is the
    largest sum seen. Use as a context manager."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

