"""The snapshot lifecycle shared by the four fingerprint stores.

:class:`~.dedup_store.MinHashStore` (text), :class:`~.audio_store.
AudioFingerprintStore`, :class:`~.image_store.ImageHashStore` and
:class:`~.video_store.VideoFingerprintStore` persist per-modality
fingerprint rows as ``snap-NNNNNN`` parquet snapshots, each partitioned by
the store's partition column (``band=`` or ``kb=``), named by a JSON
``manifest.json``. The commit protocol (fresh never-reused dir names, the
counted write, one manifest overwrite as the commit, the memoized union of
snapshot reads, vacuum of unnamed dirs) and the resident copy are the
segment module's (:mod:`.segments`), shared with the vector indexes.

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
(:meth:`SnapshotStore._resident`): one part per snapshot, keyed by its
manifest entry (dir, name, count). A commit through the handle hands its
driver-built rows to the copy, a snapshot committed by another handle is
read once, and a dropped one is let go. The copy counts against the
process-wide budget of resident copies (``knn.RESIDENT_BYTES_BUDGET``,
shared with IVF indexes, :func:`.segments.resident_bytes`); a store that
does not fit is matched by a scan of its parquet snapshots.
"""

from __future__ import annotations

import copy
from typing import Optional, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs, segments

__all__ = ["SnapshotStore"]


class SnapshotStore:
    """Handle on a persisted fingerprint store. Use ``create`` /
    :meth:`open`, not the constructor.

    Handle contract: :meth:`_commit` (``append_snapshot``),
    :meth:`drop_snapshot`, :meth:`vacuum` and every ``match_against``
    re-read ``manifest.json`` first (one small JSON read), so a handle
    never overwrites, drops or vacuums against a manifest older than the
    last commit made through another handle, and matches see every
    committed snapshot.
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
        self._log = segments.SegmentLog(spark, root, manifest)
        per_item = self._copy_item_bytes()
        # the resident copy, keyed by (dir, name, count) of each live
        # snapshot; None for a store matched by a scan only
        self._copy = None if per_item is None else segments.Resident("docs", per_item)
        # snapshots whose rows the copy cannot hold exactly (see _copy_part)
        self._unfit: set = set()

    @property
    def manifest(self) -> dict:
        return self._log.manifest

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def _create(cls, spark: SparkSession, root: str, overwrite: bool, **params):
        """Write a fresh manifest with ``params`` (the store's
        configuration, in manifest order) at ``root``."""
        if segments.exists(spark, root):
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
        store = cls(spark, root, manifest)
        store._log.commit()
        return store

    @classmethod
    def open(cls, spark: SparkSession, root: str):
        manifest = segments.read_manifest(spark, root)
        if manifest.get("format") != cls.FORMAT:
            article = "an" if cls.__name__[0] in "AEIOU" else "a"
            raise ValueError(f"not {article} {cls.__name__}: {root}")
        return cls(spark, root, manifest)

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

    def _read_snapshot(self, key: tuple) -> DataFrame:
        """One committed snapshot's rows (``COLUMNS`` and ``snapshot``),
        with ``READ_SCHEMA`` bound when its entry records its id type."""
        entry = next(s for s in self.manifest["snapshots"] if s["dir"] == key[0])
        reader = self.spark.read
        if self.READ_SCHEMA is not None and "id_type" in entry:
            reader = reader.schema(self.READ_SCHEMA.format(id_type=entry["id_type"]))
        return reader.parquet(fs.join(self.root, entry["dir"])).select(*self.COLUMNS, "snapshot")

    def _store_df(self) -> Optional[DataFrame]:
        """Lazy union of every non-empty committed snapshot, or None: one
        read per snapshot dir, memoized on the live snapshots
        (:meth:`.segments.SegmentLog.union`). Data is NOT persisted (a
        store can be TBs); only the lazy plan is reused."""
        self._log.refresh()
        return self._log.union(self._live_snapshots(), self._read_snapshot)

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

    def _resident(self) -> Optional[segments.Resident]:
        """The handle's resident copy of the live snapshots, current with
        the manifest as last read, or None when this store is matched by a
        scan: a store without a copy form, a snapshot the copy cannot hold,
        snapshots of differing id types, or a copy that would take the
        process's copies past ``knn.RESIDENT_BYTES_BUDGET``."""
        key = self._live_snapshots()
        if self._copy is None or self._unfit.intersection(key):
            return None
        types = {k: p.id_type for k, p in self._copy.parts.items() if k in key}

        def read(k):
            df = self._read_snapshot(k)
            types[k] = dict(df.dtypes)["id"]
            if len(set(types.values())) > 1:
                self._unfit.update(key)
                return None
            return df

        def build(k, rows):
            part = self._copy_part(rows, types[k])
            if part is None:
                self._unfit.add(k)
            return part

        return self._copy if self._copy.sync(key, self.manifest[self.COUNT_KEY], read, build) else None

    # -- operations --------------------------------------------------------

    def _commit(
        self, snapshot: str, rows: Union[DataFrame, pd.DataFrame],
        id_type: Optional[str] = None, n: Optional[int] = None,
    ) -> dict:
        """Write the fingerprint ``rows`` (the store's ``COLUMNS``) as
        snapshot ``snapshot`` and commit it. Returns the new manifest
        entry, which records the rows' id type.

        One of two writes (:mod:`.segments`) lands the snapshot:

        - ``rows`` a DataFrame: one counted Spark write, whose job also
          counts the items (:meth:`.segments.SegmentLog.write_counted`):
          every audio, image and video commit, and a MinHash batch over
          its driver limit.
        - ``rows`` a pandas frame built on the driver (a MinHash batch of
          at most ``DRIVER_BATCH_DOCS`` docs), with ids of Spark type
          ``id_type`` and ``n`` items: the driver writes it, one file per
          partition value and no Spark job
          (:meth:`.segments.SegmentLog.write_local`, under
          ``READ_SCHEMA``). Once committed, the rows join the handle's
          resident copy, so nothing is read back."""
        log = self._log
        log.refresh()
        if self.has_snapshot(snapshot):
            raise ValueError(f"snapshot {snapshot!r} already in store")
        dirname = log.alloc()
        out = fs.join(self.root, dirname)
        if isinstance(rows, DataFrame):
            id_type = dict(rows.dtypes)["id"]
            rows = rows.withColumn("snapshot", F.lit(snapshot))
            got = log.write_counted(rows, out, self.PART_COL, **({"clips": F.count_if(F.col("t") == 0)} if self.COUNT_T0 else {}))
            n = int(got["clips"]) if self.COUNT_T0 else int(got["rows"]) // int(self.manifest["bands"])
            if self.COUNT_T0 and n == 0 and got["rows"]:
                # rows without the t == 0 marker (a caller-shaped key
                # table): prove the count from the written snapshot
                n = self.spark.read.parquet(out).select("id").distinct().count()
        else:
            rows = rows.assign(snapshot=snapshot)
            log.write_local(rows, self.READ_SCHEMA.format(id_type=id_type), out, self.PART_COL)
        entry = {"name": snapshot, "dir": dirname, self.COUNT_KEY: n, "id_type": id_type}
        self.manifest["snapshots"].append(entry)
        self.manifest[self.COUNT_KEY] += n
        log.commit()
        if isinstance(rows, pd.DataFrame) and n and self._copy is not None:
            self._adopt((dirname, snapshot, n), rows, id_type)
        return entry

    def _adopt(self, key: tuple, rows: pd.DataFrame, id_type: str) -> None:
        """Add the just-committed ``rows`` of snapshot ``key`` (its dir,
        name and count) to the handle's copy, or let the copy go when it
        cannot hold them."""
        part = self._copy_part(rows, id_type)
        if part is None:
            self._unfit.add(key)
        if part is None or any(p.id_type != id_type for p in self._copy.parts.values()):
            self._copy.release()
        else:
            self._copy.adopt(key, part)

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
        self._log.refresh()
        snaps = self.manifest["snapshots"]
        entry = next((s for s in snaps if s["name"] == snapshot), None)
        if entry is None:
            raise ValueError(f"snapshot {snapshot!r} not in store")
        self.manifest["snapshots"] = [s for s in snaps if s["name"] != snapshot]
        self.manifest[self.COUNT_KEY] -= entry[self.COUNT_KEY]
        self._log.commit()

    def vacuum(self) -> list:
        """Delete data dirs the manifest no longer references (dropped
        snapshots, crash orphans). Returns the deleted dir names. Run when
        no reader still holds a pre-drop manifest."""
        self._log.refresh()
        return self._log.vacuum(self.root, {s["dir"] for s in self.manifest["snapshots"]}, "snap-")

    def info(self) -> dict:
        """A deep copy of the manifest, for pragma-style introspection."""
        return copy.deepcopy(self.manifest)
