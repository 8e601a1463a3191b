"""Index catalog: CREATE/DROP/COMPACT INDEX + pragma_hnsw_index_info parity.

The reference registers indexes in DuckDB's catalog with DDL-time option
validation whose exact error strings are part of the tested contract
(reference: src/hnsw/hnsw_index_plan.cpp:32-99, test/sql/hnsw/hnsw_options.test).
We keep the same option names, bounds, and messages; the physical structure
behind them is the partitioned IVF artifact (:mod:`.ivf`).

The catalog itself is a JSON manifest directory — the Spark-native analog of
"persisted with the database": immutable artifacts + a small registry,
reloadable by any new SparkSession (restart durability, reference:
test/sql/hnsw/hnsw_basic.test:36-55).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from . import fs, segments
from .hnsw import GRAPH_FORMAT, GraphIndex, build_graph
from .ivf import DEFAULT_EF_SEARCH, IVFIndex, build_ivf

__all__ = ["IndexCatalog", "BinderException", "validate_options"]

_ALLOWED_METRICS = ("l2sq", "cosine", "ip")


class BinderException(ValueError):
    """Same role as DuckDB's BinderException for DDL validation errors."""


def validate_options(options: dict) -> dict:
    """Validate CREATE INDEX options with the reference's messages
    (reference: src/hnsw/hnsw_index_plan.cpp:32-84). Returns normalized
    options with usearch defaults filled in
    (reference: usearch/index.hpp:1282-1298, hnsw_index.cpp:208-217)."""
    out = {"metric": "l2sq", "ef_construction": 128, "ef_search": DEFAULT_EF_SEARCH, "M": 16, "M0": None}
    for key, v in (options or {}).items():
        k = key.lower()
        if k == "metric":
            if not isinstance(v, str):
                raise BinderException("HNSW index 'metric' must be a string")
            if v not in _ALLOWED_METRICS:
                allowed = ", ".join(f"'{m}'" for m in _ALLOWED_METRICS)
                raise BinderException(f"HNSW index 'metric' must be one of: {allowed}")
            out["metric"] = v
        elif k in ("ef_construction", "ef_search", "m", "m0"):
            name = {"ef_construction": "ef_construction", "ef_search": "ef_search", "m": "M", "m0": "M0"}[k]
            if isinstance(v, bool) or not isinstance(v, int):
                raise BinderException(f"HNSW index '{name}' must be an integer")
            lo = 1 if name.startswith("ef") else 2
            if v < lo:
                raise BinderException(f"HNSW index '{name}' must be at least {lo}")
            out[name] = v
        elif k in ("pq_m", "pq_rerank"):
            # IVF-PQ extension options (beyond the reference surface; :mod:`.pq`)
            if isinstance(v, bool) or not isinstance(v, int) or v < 1:
                raise BinderException(f"IVF-PQ option '{k}' must be a positive integer")
            out[k] = v
        elif k == "quantization":
            # quantized storage (the 100 TB analog of usearch's i8 and
            # b1x8 scalar kinds, reference: src/hnsw/hnsw_index.cpp:277-289
            # and usearch/index_plugins.hpp:125): i8 = int8 codes (dim
            # bytes/row), b1 = packed sign bits (ceil(dim/64)*8 bytes/row,
            # Hamming shortlist); both exact-re-rank (:mod:`.pq`)
            if not isinstance(v, str) or v.lower() not in ("i8", "b1"):
                raise BinderException("index option 'quantization' must be one of: 'i8', 'b1'")
            out[k] = v.lower()
        elif k == "sq_rerank":
            if isinstance(v, bool) or not isinstance(v, int) or v < 1:
                raise BinderException("SQ option 'sq_rerank' must be a positive integer")
            out[k] = v
        elif k == "b1_rerank":
            if isinstance(v, bool) or not isinstance(v, int) or v < 1:
                raise BinderException("B1 option 'b1_rerank' must be a positive integer")
            out[k] = v
        elif k == "distributed_kmeans":
            # full-dataset Lloyd refinement (beyond the reference surface;
            # ivf.kmeans_distributed) for corpora a driver sample can't capture
            if not isinstance(v, bool):
                raise BinderException("IVF option 'distributed_kmeans' must be a boolean")
            out[k] = v
        elif k == "index_type":
            # physical backend selection: 'ivf' (default, partitioned
            # inverted lists) or 'hnsw' (per-shard neighbor graphs, :mod:`.hnsw`)
            if not isinstance(v, str) or v.lower() not in ("ivf", "hnsw"):
                raise BinderException("HNSW index 'index_type' must be one of: 'ivf', 'hnsw'")
            out[k] = v.lower()
        elif k == "graph_part_rows":
            if isinstance(v, bool) or not isinstance(v, int) or v < 64:
                raise BinderException("graph option 'graph_part_rows' must be an integer >= 64")
            out[k] = v
        elif k == "tail_max_rows":
            # bound on the brute-searched unindexed tail: insert() (and the
            # streaming sink, which rides through it) checks the tail row
            # count after each append and, past the bound, warns toward —
            # or with tail_policy='compact' performs — a compact. Without a
            # bound, streaming ingest grows the tail (and every search's
            # brute-force share) without limit between manual compacts.
            if isinstance(v, bool) or not isinstance(v, int) or v < 1:
                raise BinderException("index option 'tail_max_rows' must be a positive integer")
            out[k] = v
        elif k == "tail_policy":
            if not isinstance(v, str) or v.lower() not in ("warn", "compact"):
                raise BinderException("index option 'tail_policy' must be one of: 'warn', 'compact'")
            out[k] = v.lower()
        elif k == "target_recall":
            # auto-size the quantized re-rank shortlist at build time
            # (round 9): a sampled probe measures the approx-rank of true
            # neighbors and picks pq_rerank/sq_rerank/b1_rerank to reach
            # this recall@10 — the executable form of the README's
            # "size k*rerank to the tie-set" rule of thumb
            if isinstance(v, bool) or not isinstance(v, (int, float)) or not (0.0 < float(v) <= 1.0):
                raise BinderException("index option 'target_recall' must be a number in (0, 1]")
            out[k] = float(v)
        else:
            raise BinderException(f"Unknown option for HNSW index: '{key}'")
    if out["M0"] is None:
        out["M0"] = 2 * out["M"]  # m0 defaults to 2*m (reference: hnsw_index.cpp:208-217)
    if "target_recall" in out:
        if not (out.get("pq_m") or out.get("quantization")):
            raise BinderException(
                "index option 'target_recall' requires a quantized layout "
                "('pq_m' or quantization: 'i8'/'b1') — the flat scan is already exact"
            )
        explicit = {"pq_rerank", "sq_rerank", "b1_rerank"} & out.keys()
        if explicit:
            raise BinderException(
                f"index option 'target_recall' auto-sizes the re-rank shortlist; "
                f"drop the explicit {sorted(explicit)[0]!r} or the target"
            )
    return out


# Accepted vector element types. The reference ships with ONLY FLOAT
# enabled in its usearch scalar-kind map — the other kinds sit in a
# "TODO: Add the rest of these later" comment block (reference:
# src/hnsw/hnsw_index.cpp:277-290) — so accepting the signed numeric
# kinds here IMPLEMENTS that TODO'd surface (minus the unsigned kinds
# Spark lacks) rather than mirroring shipped behavior. usearch itself
# SCORES in the declared scalar kind; this engine always scores in f64
# and stores f32 (strictly more accurate) — the declared kind is an
# accepted input type, not a scoring mode; the i8 STORAGE analog is the
# `quantization: 'i8'` option. The rejection message is generated from
# this map exactly the way the reference generates its own
# (hnsw_index_plan.cpp:93-98), so the strings track the accepted set.
_ALLOWED_KEY_ELEMENTS = (FloatType, DoubleType, ByteType, ShortType, IntegerType, LongType)


def _validate_key_column(df: DataFrame, columns) -> str:
    if isinstance(columns, str):
        columns = [columns]
    if len(columns) != 1:
        raise BinderException("HNSW indexes can only be created over a single column of keys.")
    col = columns[0]
    field = df.schema[col]
    t = field.dataType
    if not isinstance(t, ArrayType):
        raise BinderException("HNSW index keys must be of type FLOAT[N]")
    if not isinstance(t.elementType, _ALLOWED_KEY_ELEMENTS):
        allowed = ", ".join(
            f"'{e().simpleString().upper()}[N]'" for e in _ALLOWED_KEY_ELEMENTS
        )
        raise BinderException(f"HNSW index key type must be one of: {allowed}")
    return col


INFO_SCHEMA = StructType(
    [
        StructField("catalog_name", StringType()),
        StructField("schema_name", StringType()),
        StructField("index_name", StringType()),
        StructField("table_name", StringType()),
        StructField("metric", StringType()),
        StructField("dimensions", LongType()),
        StructField("count", LongType()),
        StructField("capacity", LongType()),
        StructField("approx_memory_usage", LongType()),
        StructField("levels", LongType()),
        StructField(
            "levels_stats",
            ArrayType(
                StructType(
                    [
                        StructField("nodes", LongType()),
                        StructField("edges", LongType()),
                        StructField("max_edges", LongType()),
                        StructField("allocated_bytes", LongType()),
                    ]
                )
            ),
        ),
    ]
)


class IndexCatalog:
    """Named-index registry rooted at a directory (one artifact dir per
    index). The root may be a local path or any Hadoop-FS URI. Index handles
    and the name listing are cached per catalog instance: a handle re-reads
    its manifest before every write and public read, so it sees the inserts,
    deletes and compacts other handles commit at its next call.
    ``refresh()`` drops the caches when another session creates or drops
    indexes under the root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        fs.mkdirs(spark, root)
        self._handles: dict[str, IVFIndex] = {}
        self._names: list[str] | None = None

    def refresh(self) -> None:
        self._handles.clear()
        self._names = None

    def _entry_path(self, name: str) -> str:
        return fs.join(self.root, name)

    def list_indexes(self) -> list[str]:
        if self._names is None:
            self._names = sorted(
                d for d in fs.listdir(self.spark, self.root)
                if segments.exists(self.spark, fs.join(self.root, d))
            )
        return self._names

    def exists(self, name: str) -> bool:
        if name in self._handles:
            return True
        return segments.exists(self.spark, self._entry_path(name))

    def get(self, name: str) -> IVFIndex:
        if name in self._handles:
            return self._handles[name]
        if not self.exists(name):
            raise KeyError(f"No HNSW index named '{name}'")
        path = self._entry_path(name)
        if segments.read_manifest(self.spark, path).get("format", "").startswith("hnsw-graph-parquet"):
            idx: IVFIndex = GraphIndex(path, self.spark)
        else:
            idx = IVFIndex(path, self.spark)
        self._handles[name] = idx
        return idx

    def create_index(
        self,
        name: str,
        df: DataFrame,
        column,
        id_column: str,
        table_name: str = "",
        options: dict | None = None,
        nlist: int | None = None,
        replace: bool = False,
    ) -> IVFIndex:
        """CREATE INDEX name ON table USING HNSW (column) WITH (options).

        Validation contract per the reference (§2.3 M5); the UNIQUE/PK guard
        (reference: src/hnsw/hnsw_index.cpp:157-159) is moot — there is no
        constraint system to attach to.
        """
        opts = validate_options(options or {})
        col = _validate_key_column(df, column)
        if self.exists(name) and not replace:
            raise BinderException(f"Index with name '{name}' already exists!")
        path = self._entry_path(name)
        if fs.exists(self.spark, path):
            fs.delete(self.spark, path)
        # catalog metadata rides in the same manifest write as the build
        # commit, so the artifact is never visible without its identity
        identity = {"index_name": name, "table_name": table_name, "column": col, "id_column": id_column}
        if opts.get("index_type") == "hnsw":
            idx: IVFIndex = build_graph(
                df, col, id_column, path,
                metric=opts["metric"],
                options=opts,
                extra_manifest=identity,
            )
        else:
            idx = build_ivf(
                df, col, id_column, path,
                metric=opts["metric"],
                nlist=nlist,
                options=opts,
                extra_manifest=identity,
            )
        self._handles[name] = idx
        if self._names is not None and name not in self._names:
            self._names = sorted([*self._names, name])
        return idx

    def drop_index(self, name: str) -> None:
        self.get(name).drop()
        self._handles.pop(name, None)
        if self._names is not None:
            self._names = [n for n in self._names if n != name]

    def compact_index(self, name: str, incremental: bool = False) -> IVFIndex:
        """PRAGMA hnsw_compact_index('name')
        (reference: src/hnsw/hnsw_index_pragmas.cpp:179-220).
        ``incremental=True`` folds only the tail as a committed delta
        (O(tail); IVF backends) instead of the full rebuild — the form for
        indexes too large to rebuild on every fold."""
        h = self.get(name)
        idx = h.compact_incremental(self.spark) if incremental else h.compact(self.spark)
        self._handles[name] = idx
        return idx

    def index_info(self) -> DataFrame:
        """One row per index, same 11-column schema as pragma_hnsw_index_info
        (reference: src/hnsw/hnsw_index_pragmas.cpp:41-80). For the IVF
        artifact: levels=2 (centroid level + list level); edges model the
        centroid->member containment; capacity is the next power of two like
        usearch's reserve growth (reference: src/hnsw/hnsw_index.cpp:440-478)."""
        rows = []
        for name in self.list_indexes():
            idx = self.get(name)
            c = idx.counts(self.spark)
            live = c["live"]
            cap = 1 << max(0, math.ceil(math.log2(max(1, live))))
            # PQ artifacts keep m code bytes + a f32 norm per row in the hot
            # scan; flat artifacts read the full f32 vector
            pq_m = idx.manifest.get("pq_m")
            if pq_m:
                vec_bytes = live * (pq_m + 4)  # codes + vnorm in the hot scan
            elif idx.manifest.get("quantization") == "b1":
                vec_bytes = live * (((idx.dim + 63) // 64) * 8)  # packed sign bits
            elif idx.manifest.get("quantization"):
                vec_bytes = live * idx.dim  # i8: one byte per dimension
            else:
                vec_bytes = live * idx.dim * 4
            cent_bytes = idx.nlist * idx.dim * 8
            rows.append(
                (
                    "memory",
                    "main",
                    name,
                    idx.manifest.get("table_name", ""),
                    idx.metric,
                    idx.dim,
                    live,
                    cap,
                    vec_bytes + cent_bytes,
                    2,
                    [
                        (idx.nlist, live, live, cent_bytes),
                        (live, 0, 0, vec_bytes),
                    ],
                )
            )
        return self.spark.createDataFrame(rows, INFO_SCHEMA)
