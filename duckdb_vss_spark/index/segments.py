"""The segment protocol under every index and fingerprint store.

An artifact (an IVF or graph index, a fingerprint store) is a root
directory holding a JSON ``manifest.json`` and immutable segment dirs: an
index's base data, ``delta-NNNNNN`` folds, ``tail/snap-NNNNNN`` inserts and
``deleted/snap-NNNNNN`` tombstones; a store's ``snap-NNNNNN`` snapshots.
This module is the one place that knows the protocol, in two parts.

:class:`SegmentLog` is the manifest and the dirs it names. A write
re-reads the manifest (:meth:`~SegmentLog.refresh`), writes its rows to a
fresh dir whose name is never reused (:meth:`~SegmentLog.alloc`), and
commits with one overwrite of the manifest (:meth:`~SegmentLog.commit`).
Readers read only the dirs the manifest names, so a crash before a commit
leaves an orphan dir that no reader sees, a crash after it leaves at most
dirs the manifest no longer names, and :meth:`~SegmentLog.vacuum` deletes
both. The log makes the segment writes, of two kinds: rows a Spark plan
computes go out in one counted Spark write
(:meth:`~SegmentLog.write_counted`); rows already on the driver (a small
crawl batch's fingerprints, an index's tombstone ids) are written by the
driver itself, with no Spark job (:meth:`~SegmentLog.write_local`). Both
leave the same parquet layout. The log also keeps the lazy union of
segment reads (:meth:`~SegmentLog.union`). Concurrent writers are
unsupported: two commits racing between the re-read and the manifest
write can lose one.

:class:`Resident` is a handle's resident copy of committed dirs: one part
per dir, in the owner's in-memory form. Committed dirs never change, so a
part never goes stale: a commit through the handle hands its driver-built
rows to the copy (:meth:`~Resident.adopt`), the dirs the copy lacks are read
in one Spark job, and parts of dirs no longer live are let go
(:meth:`~Resident.sync`). Every copy counts against one process-wide budget,
``knn.RESIDENT_BYTES_BUDGET`` (:func:`resident_bytes`).

All control-plane I/O goes through :mod:`.fs` (the Hadoop FileSystem API),
so a root may be a local path or any ``file:// s3a:// abfss:// hdfs://``
URI.
"""

from __future__ import annotations

import re
import threading
import weakref
from functools import reduce
from typing import Callable, Optional, Union

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, _parse_datatype_string

from . import fs

__all__ = ["SegmentLog", "Resident", "exists", "read_manifest", "resident_bytes"]

_MANIFEST = "manifest.json"
_SNAP = re.compile(r"snap-(\d+)")


def exists(spark: SparkSession, root: str) -> bool:
    """Whether an artifact is committed at ``root``."""
    return fs.exists(spark, fs.join(root, _MANIFEST))


def read_manifest(spark: SparkSession, root: str) -> dict:
    return fs.read_json(spark, fs.join(root, _MANIFEST))


class SegmentLog:
    """The manifest at ``root`` (``manifest``, as last read or as about to
    be committed) and the segment dirs it names."""

    def __init__(self, spark: SparkSession, root: str, manifest: Optional[dict] = None):
        self.spark = spark
        self.root = root
        self.manifest = read_manifest(spark, root) if manifest is None else manifest
        self._union: Optional[tuple] = None  # (key, lazy union of its reads)

    def refresh(self) -> dict:
        """Re-read the manifest: every write and public read starts here, so
        a handle sees every commit made through another handle."""
        self.manifest = read_manifest(self.spark, self.root)
        return self.manifest

    def commit(self) -> None:
        """Overwrite the manifest: the atomic commit point of every write."""
        fs.write_json(self.spark, fs.join(self.root, _MANIFEST), self.manifest)

    def alloc(self) -> str:
        """The next ``snap-NNNNNN`` dir name; bumps the manifest's
        ``next_snap_id`` (persisted by the next commit).

        Names are never reused: one derived from the number of live
        segments would, after a drop, name a live dir again, and the write's
        overwrite would destroy it. A manifest without the counter (written
        before it existed) starts past every ``snap-*`` dir under the root,
        orphans included, so no dir a reader may still hold is overwritten."""
        nid = self.manifest.get("next_snap_id")
        if nid is None:
            taken = [int(m.group(1)) for m in map(_SNAP.fullmatch, fs.listdir(self.spark, self.root)) if m]
            nid = max(taken, default=-1) + 1
        self.manifest["next_snap_id"] = nid + 1
        return f"snap-{nid:06d}"

    def write_counted(self, rows: DataFrame, out: str, part_col: Optional[str] = None, **aggs) -> dict:
        """Write ``rows`` to ``out`` (partitioned by ``part_col`` when given)
        and return their row count as ``rows``, with the aggregates
        ``aggs`` (name -> Column), as the write job itself observes them:
        no read-back, no second job, and no window where a failed read
        after a good write could commit a wrong count."""
        obs, cols = Observation(), [F.count(F.lit(1)).alias("rows"), *(c.alias(k) for k, c in aggs.items())]
        rows = rows.observe(obs, *cols)
        if part_col is None:
            rows.write.parquet(out, mode="overwrite")
        else:
            # cluster by the partition column before the write, or every
            # task writes one file per value it holds. The key is COMPOSITE
            # (part, pmod(xxhash64(id), defaultParallelism)): the partition
            # column alone capped write parallelism at its distinct-value
            # count (~16 tasks for a 100 TB initial build); the id sub-key
            # spreads a corpus-scale write to cluster width, while AQE's
            # coalescing still folds a batch-scale one into a few files
            par = max(1, int(self.spark.sparkContext.defaultParallelism))
            rows = rows.repartition(F.col(part_col), F.pmod(F.xxhash64(F.col("id")), F.lit(par)))
            rows.write.partitionBy(part_col).parquet(out, mode="overwrite")
        try:
            return obs.get
        except Exception:
            # an EMPTY batch: AQE's empty-relation propagation can eliminate
            # the CollectMetrics node with the rest of the plan, so no
            # metrics row exists. Prove emptiness (or not) from the listing.
            if not any(
                nm.startswith(f"{part_col}=") or (nm.startswith("part-") and not nm.endswith(".crc"))
                for nm in fs.listdir(self.spark, out)
            ):
                return dict.fromkeys(["rows", *aggs], 0)
            return self.spark.read.parquet(out).agg(*cols).first().asDict()

    def write_local(self, pdf: pd.DataFrame, schema: str, out: str, part_col: Optional[str] = None) -> None:
        """Write the driver-held rows ``pdf`` (pandas, with the columns of
        ``schema``, a Spark DDL string) to ``out`` from this process: no
        Spark job. Partitioned by ``part_col`` when given, one
        file per value under ``<part_col>=<v>/``, else one file.

        Each file is one snappy parquet file serialized in memory and
        written through :func:`.fs.write_bytes`, so ``out`` may be any
        Hadoop URI. Spark reads it as it reads its own files: the arrow
        types come from ``schema``, only string columns are
        dictionary-encoded (pyarrow's default also dictionary-encodes the
        int64 columns, ~20 % larger on fingerprint rows) and no arrow
        schema is embedded. An empty frame still leaves the dir."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        if pdf.empty:
            # as Spark's empty partitioned write: the dir and no part file
            fs.mkdirs(self.spark, out)
            return
        schema = _parse_datatype_string(schema)
        table = pa.Table.from_pandas(
            pdf[schema.names], schema=to_arrow_schema(schema), preserve_index=False
        ).replace_schema_metadata()
        strings = [f.name for f in schema.fields if isinstance(f.dataType, StringType) and f.name != part_col]

        def put(part: "pa.Table", path: str) -> None:
            buf = pa.BufferOutputStream()
            pq.write_table(part, buf, compression="snappy", use_dictionary=strings, store_schema=False)
            fs.write_bytes(self.spark, fs.join(path, "part-00000.snappy.parquet"), buf.getvalue().to_pybytes())

        if part_col is None:
            put(table, out)
            return
        keys = pdf[part_col]
        body = table.drop_columns([part_col])
        for v, at in keys.groupby(keys, sort=True).indices.items():
            put(body.take(at), fs.join(out, f"{part_col}={v}"))

    def append(
        self, kind: str, parent: str, rows: Union[DataFrame, pd.DataFrame], schema: Optional[str] = None
    ) -> None:
        """Write ``rows`` as a new segment dir under ``parent`` and commit
        it as an entry ``{"dir", "rows"}`` of the manifest's ``kind`` list.
        ``rows`` is a DataFrame (one counted Spark write) or driver-held
        pandas rows of the Spark DDL ``schema`` (:meth:`write_local`: no
        Spark job, and their count is ``len(rows)``). An empty batch commits
        nothing."""
        name = self.alloc()
        out = fs.join(parent, name)
        if isinstance(rows, DataFrame):
            n = int(self.write_counted(rows, out)["rows"])
        else:
            n = len(rows)
            self.write_local(rows, schema, out)
        if not n:
            fs.delete(self.spark, out)
            return
        self.manifest[kind] = [*self.manifest.get(kind, []), {"dir": name, "rows": n}]
        self.commit()

    def union(self, key: tuple, read: Callable[[object], DataFrame]) -> Optional[DataFrame]:
        """The lazy union of ``read(k)`` over ``key`` (segment keys, oldest
        first), or None when ``key`` is empty. Memoized on ``key``: committed
        dirs never change, so a steady-state loop reuses the analyzed plan
        and its file index instead of re-listing every dir per call, and a
        key that extends the memoized one (append-only growth) reads only
        its new dirs. Data is not persisted; only the plan is reused."""
        if not key:
            return None
        memo = self._union
        if memo is not None and memo[0] == key:
            return memo[1]
        out, todo = None, key
        if memo is not None and key[: len(memo[0])] == memo[0]:
            out, todo = memo[1], key[len(memo[0]):]
        for k in todo:
            df = read(k)
            out = df if out is None else out.unionByName(df)
        self._union = (key, out)
        return out

    def vacuum(self, parent: str, live, prefix: str = "") -> list:
        """Delete the entries of ``parent`` whose name starts with
        ``prefix`` and is not in ``live`` (dirs no commit named, or that no
        commit names any more). The manifest and hidden names (``.``, ``_``)
        stay. Returns the deleted names. Run when no reader still holds an
        older manifest."""
        gone = []
        for name in fs.listdir(self.spark, parent):
            if name.startswith(prefix) and name not in live and name != _MANIFEST and name[:1] not in "._":
                fs.delete(self.spark, fs.join(parent, name))
                gone.append(name)
        return gone


# Every resident copy alive in this process, indexes' and stores' alike:
# knn.RESIDENT_BYTES_BUDGET bounds the sum of their nbytes, not each one. A
# copy stops counting when its handle releases it or is garbage collected.
_RESIDENT_LIVE: "weakref.WeakSet[Resident]" = weakref.WeakSet()
# one load at a time, so the budget check and the load that follows it are
# not interleaved with another handle's
_RESIDENT_LOAD_LOCK = threading.Lock()


def resident_bytes() -> int:
    """Bytes held by every resident copy in this process (indexes and
    stores)."""
    return sum(r.nbytes for r in list(_RESIDENT_LIVE))


class Resident:
    """A handle's resident copy of committed segment dirs: ``parts`` maps
    each dir's key (oldest first) to its rows in the owner's form, an object
    with ``n`` (its rows or items, named by ``unit``) and ``nbytes``.
    ``unit_bytes`` is the estimated size of one row or item, raised to what
    each load measures."""

    def __init__(self, unit: str, unit_bytes: float):
        self.parts: dict = {}
        self.unit, self.unit_bytes = unit, unit_bytes
        _RESIDENT_LIVE.add(self)

    @property
    def nbytes(self) -> int:
        return sum(p.nbytes for p in self.parts.values())

    @property
    def label(self) -> str:
        return f"resident ({sum(p.n for p in self.parts.values())} {self.unit})"

    def release(self) -> None:
        self.parts = {}

    def _measure(self) -> bool:
        """Raise ``unit_bytes`` to the held parts' and keep them only while
        every copy in the process fits the budget."""
        from ..operators import knn

        n = sum(p.n for p in self.parts.values())
        self.unit_bytes = max(self.unit_bytes, self.nbytes / max(n, 1))
        if resident_bytes() > knn.RESIDENT_BYTES_BUDGET:
            self.release()  # heavier than estimated
            return False
        return True

    def adopt(self, key, part) -> None:
        """Add ``part``, the driver-built rows of dir ``key`` just committed,
        so they are never read back; release the copy when it no longer
        fits the budget."""
        with _RESIDENT_LOAD_LOCK:
            self.parts[key] = part
            self._measure()

    def sync(self, key: tuple, count: int, read: Callable, build: Callable) -> bool:
        """Make the copy hold exactly the dirs of ``key`` (oldest first),
        whose rows or items number ``count``; return whether it does.

        Parts of dirs not in ``key`` are let go. The dirs the copy lacks
        are read in one Spark job: ``read(k)`` gives dir ``k``'s lazy frame
        (None refuses the load) and ``build(k, pdf)`` its part from the
        collected pandas rows (None: the copy cannot hold them). A copy that
        would take the process's copies past the budget is released."""
        from ..operators import knn

        budget = knn.RESIDENT_BYTES_BUDGET
        need = int(count * self.unit_bytes)
        if need > budget:
            self.release()
            return False
        if tuple(self.parts) == key:
            return True
        with _RESIDENT_LOAD_LOCK:
            held = {k: p for k, p in self.parts.items() if k in key}
            self.release()  # the copy below replaces it
            if resident_bytes() + need > budget:
                return False
            frames = {}
            for k in key:
                if k not in held:
                    frames[k] = read(k)
                    if frames[k] is None:
                        return False
            if frames:
                both = reduce(DataFrame.unionByName, [df.withColumn("_seg", F.lit(i)) for i, df in enumerate(frames.values())])
                pdfs = dict(iter(both.toPandas().groupby("_seg", sort=False)))
                for i, k in enumerate(frames):
                    part = build(k, pdfs.pop(i).drop(columns="_seg")) if i in pdfs else None
                    if part is None:
                        return False
                    held[k] = part
            self.parts = {k: held[k] for k in key}
            return self._measure()
