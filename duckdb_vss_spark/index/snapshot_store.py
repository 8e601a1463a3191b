"""The snapshot lifecycle shared by the four fingerprint stores.

:class:`~.dedup_store.MinHashStore` (text), :class:`~.audio_store.
AudioFingerprintStore`, :class:`~.image_store.ImageHashStore` and
:class:`~.video_store.VideoFingerprintStore` persist per-modality
fingerprint rows under one artifact discipline, the dedup analog of the
vector index (``ivf.py``):

- an append-only directory of ``snap-NNNNNN`` parquet snapshots, each
  partitioned by the store's partition column (``band=`` or ``kb=``);
- a JSON ``manifest.json`` as the atomic commit point: the data dir is
  written first, the manifest overwrite commits it, and readers only
  touch the dirs the manifest lists, so a crash leaves an orphan dir
  that no read sees and :meth:`SnapshotStore.vacuum` reclaims;
- dir names from the manifest's monotonic ``next_snap_id``
  (:func:`.fs.alloc_snap_dir`), never reused after a drop;
- any Hadoop filesystem (``file:// s3a:// abfss:// hdfs://``) through
  :mod:`.fs`.

A subclass states five values (:attr:`SnapshotStore.FORMAT`,
``COUNT_KEY``, ``PART_COL``, ``COLUMNS``, ``COUNT_T0``) and keeps its
modality code: the parameter checks of ``create``, the row builder, and
``match_against``. Its ``append_snapshot`` and ``flag_batch`` are thin
wrappers over :meth:`SnapshotStore._commit` and
:meth:`SnapshotStore._flag`, since their signatures differ per modality.

Each manifest snapshot entry records the ``id_type`` of its rows, so a
store that states ``READ_SCHEMA`` reads a snapshot dir with its schema
bound (no footer-inference job). Entries written before the field infer
the schema.

A store whose batches can be matched on the driver (``MinHashStore``)
also keeps a resident copy of the live snapshots' rows on the handle
(:meth:`SnapshotStore._resident`): one part per snapshot dir, keyed by
the manifest's tuple of live snapshots (dir, name, count). Committed dirs
are immutable, so a part never goes stale; a commit through the handle hands its
driver-built rows to the copy, a dir committed by another handle is read
once, and a dropped dir just leaves the key. The copy counts against the
process-wide budget of resident copies (``knn.RESIDENT_BYTES_BUDGET``,
shared with IVF indexes through ``ivf.resident_bytes()``); a store that
does not fit is matched by a scan of its parquet snapshots.
"""

from __future__ import annotations

import copy
from functools import reduce
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import fs, ivf

__all__ = ["SnapshotStore"]

_MANIFEST = "manifest.json"


class _StoreCopy:
    """A store's resident copy: ``parts`` maps each snapshot it holds
    (``(dir, name, count)``, oldest first) to that snapshot's rows in the
    store's in-memory form (see :meth:`SnapshotStore._copy_part`).
    Registered with the IVF copies, so ``ivf.resident_bytes()`` counts
    it."""

    def __init__(self, parts: dict):
        self.parts = parts
        self.nbytes = sum(p.nbytes for p in parts.values())
        ivf._RESIDENT_LIVE.add(self)

    def add(self, key: tuple, part) -> None:
        self.parts[key] = part
        self.nbytes += part.nbytes

    @property
    def id_type(self) -> Optional[str]:
        """The Spark type of the ids (one for every part), or None when
        the copy holds nothing."""
        return next((p.id_type for p in self.parts.values()), None)

    @property
    def label(self) -> str:
        return f"resident ({sum(p.n for p in self.parts.values())} docs)"


class SnapshotStore:
    """Handle on a persisted fingerprint store. Use ``create`` /
    :meth:`open`, not the constructor.

    Handle contract: :meth:`_commit` (``append_snapshot``),
    :meth:`drop_snapshot`, :meth:`vacuum` and every ``match_against``
    re-read ``manifest.json`` first (one small JSON read), so a handle
    never overwrites, drops or vacuums against a manifest older than the
    last commit made through another handle, and matches see every
    committed snapshot. Concurrent writers are still unsupported: two
    commits racing between the re-read and the manifest write can lose
    one of them.
    """

    FORMAT: str  # manifest "format"
    COUNT_KEY: str  # per-store item count key: n_docs / n_clips / n_images
    PART_COL: str  # snapshot partition column: band / kb
    COLUMNS: tuple  # stored row columns ("snapshot" is added on commit)
    # False: every item emits manifest["bands"] rows, so rows / bands is
    # the item count. True: every item emits exactly one t == 0 row, so
    # count_if(t = 0) is the item count.
    COUNT_T0: bool = False
    # DDL of a snapshot dir's rows, "{id_type}" standing for the entry's
    # recorded id type; None: infer it from the parquet footers
    READ_SCHEMA: Optional[str] = None

    def __init__(self, spark: SparkSession, root: str, manifest: dict):
        self.spark = spark
        self.root = root
        self.manifest = manifest
        self._copy: Optional[_StoreCopy] = None
        # snapshots whose rows the copy cannot hold exactly (see _copy_part)
        self._unfit: set = set()
        # bytes per item of the last copy built: string ids weigh more
        # than the estimate
        self._item_bytes_seen = 0.0

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def _create(cls, spark: SparkSession, root: str, overwrite: bool, **params):
        """Write a fresh manifest with ``params`` (the store's
        configuration, in manifest order) at ``root``."""
        if fs.exists(spark, fs.join(root, _MANIFEST)):
            if not overwrite:
                raise ValueError(f"{cls.__name__} already exists at {root}")
            fs.delete(spark, root)
        fs.mkdirs(spark, root)
        manifest = {
            "format": cls.FORMAT,
            "version": 1,
            **params,
            "snapshots": [],
            cls.COUNT_KEY: 0,
            "next_snap_id": 0,
        }
        fs.write_json(spark, fs.join(root, _MANIFEST), manifest)
        store = cls(spark, root, manifest)
        if store._copy_item_bytes() is not None:
            store._copy = _StoreCopy({})  # a fresh store holds nothing
        return store

    @classmethod
    def open(cls, spark: SparkSession, root: str):
        manifest = fs.read_json(spark, fs.join(root, _MANIFEST))
        if manifest.get("format") != cls.FORMAT:
            article = "an" if cls.__name__[0] in "AEIOU" else "a"
            raise ValueError(f"not {article} {cls.__name__}: {root}")
        return cls(spark, root, manifest)

    def _refresh(self) -> None:
        self.manifest = fs.read_json(self.spark, fs.join(self.root, _MANIFEST))

    def _write_manifest(self) -> None:
        # the manifest overwrite is the atomic commit point
        fs.write_json(self.spark, fs.join(self.root, _MANIFEST), self.manifest)

    def has_snapshot(self, name: str) -> bool:
        """Whether this handle's manifest lists snapshot ``name``."""
        return any(s["name"] == name for s in self.manifest["snapshots"])

    def _live_snapshots(self) -> tuple:
        """``(dir, name, count)`` of the non-empty committed snapshots,
        oldest first. The name and count are part of a snapshot's identity:
        a dir name comes back when the store is recreated with
        ``overwrite``."""
        return tuple(
            (s["dir"], s["name"], s.get(self.COUNT_KEY))
            for s in self.manifest["snapshots"] if s.get(self.COUNT_KEY) != 0
        )

    def _read_snapshot(self, entry: dict) -> DataFrame:
        """One committed snapshot's rows (``COLUMNS`` and ``snapshot``),
        with ``READ_SCHEMA`` bound when the entry records its id type."""
        reader = self.spark.read
        if self.READ_SCHEMA is not None and "id_type" in entry:
            reader = reader.schema(self.READ_SCHEMA.format(id_type=entry["id_type"]))
        return reader.parquet(fs.join(self.root, entry["dir"])).select(*self.COLUMNS, "snapshot")

    def _store_df(self) -> Optional[DataFrame]:
        """Lazy union of every non-empty committed snapshot, or None.

        One read per snapshot dir, unioned lazily: the snapshot count is
        the manifest list's length (dozens), not a scale dimension. The
        union is memoized on the live snapshot-dir tuple: committed dirs
        are immutable, so a steady-state loop (one ``match_against`` per
        micro-batch) reuses the analyzed DataFrame and its file index
        instead of re-listing and re-reading footers of every snapshot
        dir per batch. Data is NOT persisted (a store can be TBs); only
        the lazy plan is reused."""
        self._refresh()
        key = self._live_snapshots()
        if not key:
            return None
        cached = getattr(self, "_store_df_memo", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        out, todo = None, key
        if cached is not None and key[: len(cached[0])] == cached[0]:
            # append-only steady state: extend the memo with just the new
            # snapshot dirs instead of re-analyzing every old one
            out, todo = cached[1], key[len(cached[0]):]
        entries = {s["dir"]: s for s in self.manifest["snapshots"]}
        for dirname, _, _ in todo:
            df = self._read_snapshot(entries[dirname])
            out = df if out is None else out.unionByName(df)
        self._store_df_memo = (key, out)
        return out

    # -- resident copy -----------------------------------------------------

    def _copy_item_bytes(self) -> Optional[float]:
        """Estimated bytes per item of a resident copy, or None when this
        store keeps none (it matches every batch by a store scan)."""
        return None

    def _copy_part(self, rows: pd.DataFrame, id_type: str):
        """One snapshot's rows (pandas ``COLUMNS`` and ``snapshot``; ids of
        Spark type ``id_type``) in the copy's form: an object with
        ``id_type``, ``n`` (its item count) and ``nbytes``. None when the
        copy cannot hold them exactly."""
        raise NotImplementedError

    def _resident(self) -> Optional[_StoreCopy]:
        """The handle's resident copy of the live snapshots, current with
        the manifest as last read, or None when this store is matched by a
        scan: a store without a copy form, a dir the copy cannot hold, parts
        of differing id types, or a copy that would take the process's
        copies past ``knn.RESIDENT_BYTES_BUDGET``. The dirs the copy lacks
        are read once, in one Spark job, with their schemas bound; parts of
        dropped dirs are let go."""
        from ..operators import knn

        per_item = self._copy_item_bytes()
        key = self._live_snapshots()
        if per_item is None or self._unfit.intersection(key):
            return None
        budget = knn.RESIDENT_BYTES_BUDGET
        need = int(self.manifest[self.COUNT_KEY] * max(per_item, self._item_bytes_seen))
        if need > budget:
            self._copy = None
            return None
        old = self._copy
        if old is not None and tuple(old.parts) == key:
            return old
        with ivf._RESIDENT_LOAD_LOCK:
            self._copy = None  # the copy below replaces it
            held = {} if old is None else old.parts
            if ivf.resident_bytes() - (0 if old is None else old.nbytes) + need > budget:
                return None
            entries = {s["dir"]: s for s in self.manifest["snapshots"]}
            reads = {k[0]: self._read_snapshot(entries[k[0]]) for k in key if k not in held}
            types = {held[k].id_type for k in key if k in held}
            types.update(dict(df.dtypes)["id"] for df in reads.values())
            if len(types) > 1:
                self._unfit.update(key)
                return None
            id_type = next(iter(types), None)
            rows = {}
            if reads:
                # every missing dir in one job
                both = reduce(DataFrame.unionByName, [df.withColumn("_dir", F.lit(d)) for d, df in reads.items()])
                rows = dict(iter(both.toPandas().groupby("_dir", sort=False)))
            parts = {}
            for k in key:
                part = held.get(k)
                if part is None:
                    part = self._copy_part(rows.pop(k[0]).drop(columns="_dir"), id_type) if k[0] in rows else None
                    if part is None:
                        self._unfit.add(k)
                        return None
                parts[k] = part
            del old, held, rows
            new = _StoreCopy(parts)
            n = sum(p.n for p in parts.values())
            self._item_bytes_seen = max(self._item_bytes_seen, new.nbytes / max(n, 1))
            if ivf.resident_bytes() > budget:
                return None  # heavier than estimated: dropped with ``new``
            self._copy = new
        return new

    # -- operations --------------------------------------------------------

    def _commit(
        self, snapshot: str, rows: DataFrame, n: Optional[int] = None,
        local: Optional[pd.DataFrame] = None,
    ) -> dict:
        """Write the fingerprint ``rows`` (the store's ``COLUMNS``) as
        snapshot ``snapshot`` and commit it. Returns the new manifest
        entry, which records the rows' id type.

        ``n`` is the item count when the caller already knows it: rows
        built on the driver (a local relation) go out in one write task,
        with no Observation and no repartition shuffle. Without it the
        write itself counts the items (:meth:`_write_counted`). ``local``
        is the pandas frame ``rows`` was built from; once committed, it
        joins the handle's resident copy, so nothing is read back."""
        self._refresh()
        if self.has_snapshot(snapshot):
            raise ValueError(f"snapshot {snapshot!r} already in store")
        dirname = fs.alloc_snap_dir(self.spark, self.root, self.manifest)
        out = fs.join(self.root, dirname)
        id_type = dict(rows.dtypes)["id"]
        rows = rows.withColumn("snapshot", F.lit(snapshot))
        if n is None:
            n = self._write_counted(rows, out)
        else:
            # one task writes one file per partition value; an empty frame
            # still leaves the dir (and its _SUCCESS) for the manifest entry
            rows.coalesce(1).write.partitionBy(self.PART_COL).parquet(out, mode="overwrite")
        entry = {"name": snapshot, "dir": dirname, self.COUNT_KEY: n, "id_type": id_type}
        self.manifest["snapshots"].append(entry)
        self.manifest[self.COUNT_KEY] += n
        self._write_manifest()
        if local is not None and n and self._copy is not None:
            self._adopt((dirname, snapshot, n), local.assign(snapshot=snapshot), id_type)
        return entry

    def _adopt(self, key: tuple, rows: pd.DataFrame, id_type: str) -> None:
        """Add the just-committed ``rows`` of snapshot ``key`` (its dir,
        name and count) to the handle's copy, or let the copy go when it
        cannot hold them or no longer fits the budget."""
        from ..operators import knn

        with ivf._RESIDENT_LOAD_LOCK:
            part = self._copy_part(rows, id_type)
            if part is None:
                self._unfit.add(key)
            elif self._copy.id_type in (None, id_type):
                self._copy.add(key, part)
                if ivf.resident_bytes() <= knn.RESIDENT_BYTES_BUDGET:
                    return
            self._copy = None

    def _write_counted(self, rows: DataFrame, out: str) -> int:
        """Write distributed ``rows`` to ``out``, partitioned by the
        store's partition column, and return their item count."""
        # This is the path of rows whose count the driver does not know
        # (every audio, image and video commit, and a MinHash batch over
        # its driver limit). The item count folds into the WRITE job via
        # the Observation API (see COUNT_T0), so a commit needs no
        # read-back of the written snapshot: no extra driver action or
        # file listing per commit, and no window where a transient read
        # error after a good write could commit a wrong count.
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("rows")]
        if self.COUNT_T0:
            aggs.append(F.count_if(F.col("t") == 0).alias("clips"))
        rows = rows.observe(obs, *aggs)
        # cluster by the partition column before the write: without it
        # every task writes one file per partition value it holds (tasks x
        # values small files + their commit overhead). The key is
        # COMPOSITE (part, pmod(xxhash64(id), defaultParallelism)):
        # clustering on the partition column alone capped write
        # parallelism at its distinct-value count (~16 tasks for a 100 TB
        # initial build); the id sub-key spreads a corpus-scale commit to
        # cluster width, while AQE's coalescing (REPARTITION_BY_COL origin)
        # still folds a batch-scale commit into a few files per value.
        par = max(1, int(self.spark.sparkContext.defaultParallelism))
        rows = rows.repartition(
            F.col(self.PART_COL), F.pmod(F.xxhash64(F.col("id")), F.lit(par))
        )
        rows.write.partitionBy(self.PART_COL).parquet(out, mode="overwrite")
        try:
            got = obs.get
            if self.COUNT_T0:
                n = int(got["clips"])
                if n == 0 and int(got["rows"]) > 0:
                    # rows without the t == 0 marker (a caller-shaped key
                    # table): prove the count from the written snapshot
                    n = self.spark.read.parquet(out).select("id").distinct().count()
                return n
            return int(got["rows"]) // int(self.manifest["bands"])
        except Exception:
            # an EMPTY batch: AQE's empty-relation propagation can
            # eliminate the CollectMetrics node with the rest of the plan,
            # so no metrics row exists — prove emptiness (or not) from the
            # directory listing
            has_data = any(
                nm.startswith(f"{self.PART_COL}=")
                or (nm.startswith("part-") and not nm.endswith(".crc"))
                for nm in fs.listdir(self.spark, out)
            )
            return (
                self.spark.read.parquet(out).select("id").distinct().count()
                if has_data
                else 0
            )

    def _flag(
        self, df: DataFrame, id_col: str, matches: DataFrame, flag_col: str
    ) -> DataFrame:
        """``df`` plus a boolean ``flag_col``: True when the row's id is in
        ``matches.id`` (flag-don't-drop, like the pipeline recipes)."""
        hits = matches.select(F.col("id").alias("__mid")).distinct()
        return (
            df.join(hits, F.col(id_col) == F.col("__mid"), "left")
            .withColumn(flag_col, F.col("__mid").isNotNull())
            .drop("__mid")
        )

    def drop_snapshot(self, snapshot: str) -> None:
        """Retire a snapshot (retention policy, GDPR-style source
        removal): remove it from the manifest so no future match sees it.
        The manifest overwrite is the atomic commit; the data dir becomes
        an orphan that :meth:`vacuum` reclaims (its name is never
        reallocated), so a reader holding the old manifest can finish its
        scan."""
        self._refresh()
        snaps = self.manifest["snapshots"]
        entry = next((s for s in snaps if s["name"] == snapshot), None)
        if entry is None:
            raise ValueError(f"snapshot {snapshot!r} not in store")
        self.manifest["snapshots"] = [s for s in snaps if s["name"] != snapshot]
        self.manifest[self.COUNT_KEY] -= entry[self.COUNT_KEY]
        self._write_manifest()

    def vacuum(self) -> list:
        """Delete data dirs the manifest no longer references (dropped
        snapshots, crash orphans). Returns the deleted dir names. Run when
        no reader still holds a pre-drop manifest."""
        self._refresh()
        live = {s["dir"] for s in self.manifest["snapshots"]}
        deleted = []
        for name in fs.listdir(self.spark, self.root):
            base = name.rstrip("/").split("/")[-1]
            if base.startswith("snap-") and base not in live:
                fs.delete(self.spark, fs.join(self.root, base))
                deleted.append(base)
        return deleted

    def info(self) -> dict:
        """A deep copy of the manifest, for pragma-style introspection."""
        return copy.deepcopy(self.manifest)
