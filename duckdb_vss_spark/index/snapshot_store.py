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
"""

from __future__ import annotations

import copy
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import fs

__all__ = ["SnapshotStore"]

_MANIFEST = "manifest.json"


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

    def __init__(self, spark: SparkSession, root: str, manifest: dict):
        self.spark = spark
        self.root = root
        self.manifest = manifest

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
        return cls(spark, root, manifest)

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
        snaps = self.manifest["snapshots"]
        key = tuple(s["dir"] for s in snaps if s.get(self.COUNT_KEY) != 0)
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
        for dirname in todo:
            df = self.spark.read.parquet(fs.join(self.root, dirname)).select(
                *self.COLUMNS, "snapshot"
            )
            out = df if out is None else out.unionByName(df)
        self._store_df_memo = (key, out)
        return out

    # -- operations --------------------------------------------------------

    def _commit(self, snapshot: str, rows: DataFrame, n: Optional[int] = None) -> dict:
        """Write the fingerprint ``rows`` (the store's ``COLUMNS``) as
        snapshot ``snapshot`` and commit it. Returns the new manifest
        entry.

        ``n`` is the item count when the caller already knows it: rows
        built on the driver (a local relation) go out in one write task,
        with no Observation and no repartition shuffle. Without it the
        write itself counts the items (:meth:`_write_counted`)."""
        self._refresh()
        if self.has_snapshot(snapshot):
            raise ValueError(f"snapshot {snapshot!r} already in store")
        dirname = fs.alloc_snap_dir(self.spark, self.root, self.manifest)
        out = fs.join(self.root, dirname)
        rows = rows.withColumn("snapshot", F.lit(snapshot))
        if n is None:
            n = self._write_counted(rows, out)
        else:
            # one task writes one file per partition value; an empty frame
            # still leaves the dir (and its _SUCCESS) for the manifest entry
            rows.coalesce(1).write.partitionBy(self.PART_COL).parquet(out, mode="overwrite")
        entry = {"name": snapshot, "dir": dirname, self.COUNT_KEY: n}
        self.manifest["snapshots"].append(entry)
        self.manifest[self.COUNT_KEY] += n
        self._write_manifest()
        return entry

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
