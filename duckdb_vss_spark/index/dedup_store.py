"""Persisted MinHash LSH artifact — incremental cross-snapshot dedup.

The 100 TB crawl-pipeline shape: each new snapshot (a CommonCrawl dump, a
day of ingest) must dedup against EVERYTHING already accepted, but
re-shingling the historical corpus per batch is O(history) text processing.
This store persists only the dedup *fingerprints* — per-doc MinHash
signatures and their LSH band buckets, regardless of document size — so
matching a new batch costs one join of the batch's band rows against the
stored band rows: the historical TEXT is never re-read. At 16 perms x 4
bands a doc takes ~475 bytes of snappy parquet, since each band row carries
the whole signature (``crawl_dedup``'s 100-140-word docs: ~0.95 store
bytes per text byte).

The artifact lifecycle (versioned ``snap-*`` parquet dirs, the JSON
manifest as the atomic commit point, drop, vacuum, the handle contract)
is :class:`~.snapshot_store.SnapshotStore`, shared with the audio, image
and video stores; this module keeps the MinHash band rows and matcher.

Matching verifies candidates with the signature-agreement estimate
(matching components / num_perm — the unbiased MinHash estimator of
Jaccard; Broder 1997), NOT exact shingle Jaccard: storing shingle sets
would make the artifact O(corpus) and exact verification would need the
old text. The estimator is what production crawl dedup uses (RefinedWeb
§3.2 / Gopher dedup keep signature-only state); callers holding the old
text can always re-verify the returned pairs exactly with
:func:`~duckdb_vss_spark.operators.dedup.minhash_lsh_pairs` on the union.

Scale posture: a crawl batch is the small side of the match, and the
store the large one. A batch of at most :data:`DRIVER_BATCH_DOCS` rows is
collected once (a bounded collect) and signed on the driver with the
Spark pipeline's exact hashing (:func:`~duckdb_vss_spark.operators.dedup.
minhash_bands_local`); the append of its kept rows reuses those
signatures. While the store fits the process's resident budget
(``knn.RESIDENT_BYTES_BUDGET``, shared with IVF index copies), its
fingerprints are held on the handle (~190 B/doc at 16 perms x 4 bands:
id, snapshot, signature, and per band a sorted bucket array), and the
batch's candidates come from a per-band ``np.searchsorted``: a flag runs
no Spark job. The copy takes in every commit made through the handle and
reads another handle's snapshot once. Over the budget, the candidates
come from one scan of the store, left-semi-joined to the batch's
broadcast ``(band, bucket)`` keys. Either way they are verified in numpy.
The driver writes the commit's rows itself, one parquet file per band
(:meth:`.segments.SegmentLog.write_local`): an append runs no Spark job.
:attr:`MinHashStore.last_source` names the source. A larger batch runs the Spark
signature pipeline, whose join shuffles the batch's band rows and the
store's band rows — (band, bucket, id, sig) ≈ 150-byte tuples, 1-2% of
corpus bytes — never the corpus text. AQE handles hot buckets
(boilerplate shingle sets). Band rows are written partitioned by ``band``
so a probe that only needs band-b candidates prunes 1/bands of the scan.
"""

from __future__ import annotations

import sys
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import band_buckets_expr, minhash_bands_local, minhash_per_doc
from ..session import collect_at_most
from .snapshot_store import SnapshotStore

__all__ = ["MinHashStore"]

# A batch of at most this many documents is signed, matched and committed
# on the driver (against the resident copy or one store scan, then the
# driver's own write); a larger one runs the Spark signature pipeline. A
# sweep of one crawl step (flag + append of the kept rows, 100-140-word
# docs, local[4], store scanned) put the driver path at 2.5-3x less
# process CPU at every size from 1k to 32k docs (0.8-1.1 vs 2.1-3.2 ms/doc
# from 4k up). Wall time breaks even near 16k docs, where one driver
# thread signing no longer beats four executor cores (16k: 11-12 s vs
# 12-13 s; 32k: 25 s vs 20-21 s). The limit is half that, as
# knn.RESIDENT_BYTES_BUDGET is half its break-even. The sweep's driver
# path still committed by a one-task Spark write; the driver's own write
# halved a 1,000-doc step's process CPU since. That only widens the driver
# path's lead, so the limit stays where it is until a new sweep moves it.
DRIVER_BATCH_DOCS = 8_000
# id types the driver path keys its signatures by (hashable, and equal
# exactly when Spark's groupBy(id) groups them)
_LOCAL_ID_TYPES = ("tinyint", "smallint", "int", "bigint", "string")


class MinHashStore(SnapshotStore):
    """Handle on a persisted MinHash LSH dedup artifact. Use
    :meth:`create` / :meth:`open`, not the constructor."""

    FORMAT = "minhash-store"
    COUNT_KEY = "n_docs"
    PART_COL = "band"
    COLUMNS = ("band", "bucket", "id", "sig")
    READ_SCHEMA = "band int, bucket bigint, id {id_type}, sig array<bigint>, snapshot string"

    # what the last flag_batch or match_against matched against: the
    # resident copy's label, or "scan" (the store's parquet snapshots)
    last_source = "scan"

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        shingle_n: int = 3,
        num_perm: int = 16,
        bands: int = 4,
        overwrite: bool = False,
    ) -> "MinHashStore":
        for name, v in (("shingle_n", shingle_n), ("num_perm", num_perm), ("bands", bands)):
            if v < 1:
                raise ValueError(f"{name} must be >= 1, got {v}")
        if num_perm % bands != 0:
            raise ValueError("num_perm must divide into equal bands")
        return cls._create(
            spark, root, overwrite,
            shingle_n=int(shingle_n), num_perm=int(num_perm), bands=int(bands),
        )

    # -- signature plumbing ------------------------------------------------

    def band_rows(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        """(band INT, bucket LONG, id, sig ARRAY<LONG>) for every row of
        ``df`` — the batch-side input of :meth:`match_against` and the
        stored layout of :meth:`append_snapshot` (sig is carried per band
        row: num_perm longs x bands ≈ 0.5 KB/doc, the price of making the
        verify step join-free)."""
        m = self.manifest
        per = minhash_per_doc(
            df, text_col, id_col, m["shingle_n"], m["num_perm"],
            with_shingles=False, share=False,
        )
        return per.select(
            F.col(id_col).alias("id"),
            F.col("sig"),
            F.posexplode(
                band_buckets_expr("sig", m["num_perm"], m["bands"])
            ).alias("band", "bucket"),
        ).select("band", "bucket", "id", "sig")

    def _local_batch(self, df: DataFrame, text_col: str, id_col: str, whole: bool = False):
        """The batch's rows on the driver (``whole``: every column of
        ``df``, else just id and text), or None when the batch takes the
        Spark path: more than ``DRIVER_BATCH_DOCS`` rows, a non-string
        text, or an id type outside ``_LOCAL_ID_TYPES``."""
        types = dict(df.dtypes)
        if types[text_col] != "string" or types[id_col] not in _LOCAL_ID_TYPES:
            return None
        return collect_at_most(df if whole else df.select(id_col, text_col), DRIVER_BATCH_DOCS)

    def _sign_local(self, rows, text_col: str, id_col: str):
        """:meth:`band_rows`' signatures of collected ``rows``:
        ``(ids, sig, buckets)`` as from :func:`minhash_bands_local`.

        An id whose text rows are exactly the ones the handle's last
        driver-signed batch had for it keeps that batch's signature (the
        append of a flagged batch's kept rows signs nothing); any other id
        is signed."""
        texts: dict = {}
        for r in rows:
            if r[text_col] is not None:
                texts.setdefault(r[id_col], []).append(r[text_col])
        last = getattr(self, "_signed", {})
        todo = [i for i, t in texts.items() if i not in last or last[i][0] != t]
        m = self.manifest
        fresh = minhash_bands_local(
            [i for i in todo for _ in texts[i]], [t for i in todo for t in texts[i]],
            m["shingle_n"], m["num_perm"], m["bands"],
        )
        signed = {i: (texts[i], s, b) for i, s, b in zip(*fresh)}
        signed.update((i, last[i]) for i in texts.keys() - signed.keys())
        ids = list(texts)
        self._signed = {i: signed[i] for i in ids}
        sig = np.empty((len(ids), m["num_perm"]), dtype=np.int64)
        buckets = np.empty((len(ids), m["bands"]), dtype=np.int64)
        for d, i in enumerate(ids):
            _, sig[d], buckets[d] = signed[i]
        return ids, sig, buckets

    def _match_local(self, source, signed, threshold: float) -> pd.DataFrame:
        """:meth:`match_against` for a batch signed on the driver, against
        the handle's resident copy (``source`` a :class:`.segments.Resident`) or a scan
        of the store (``source`` the store DataFrame). Returns pandas
        ``(id, store_id, snapshot, est_jaccard)``.

        The copy's candidates come from a per-band ``np.searchsorted`` of
        the batch's buckets; the scan's from a left-semi join of the store
        to the broadcast local ``(band, bucket)`` keys (one job for the
        scan, one for the broadcast). Either way a (batch doc, store doc,
        snapshot) pair colliding in several bands is verified once, by
        signature agreement in numpy."""
        ids, sig, buckets = signed
        cand = (
            self._scan_candidates(source, buckets) if isinstance(source, DataFrame)
            else _copy_candidates(source, buckets)
        )
        if cand is None:
            return pd.DataFrame({"id": [], "store_id": [], "snapshot": [], "est_jaccard": []})
        rows, store_id, snapshot, store_sig = cand
        est = (sig[rows] == store_sig).sum(axis=1) / float(self.manifest["num_perm"])
        keep = est >= threshold
        return pd.DataFrame({
            "id": [ids[r] for r in rows[keep]],
            "store_id": store_id[keep],
            "snapshot": snapshot[keep],
            "est_jaccard": est[keep],
        })

    def _scan_candidates(self, store: DataFrame, buckets: np.ndarray):
        """``(batch row, store id, snapshot, store sig)`` of every store row
        sharing a ``(band, bucket)`` with the batch, from one store scan;
        None when there is none."""
        n, bands = buckets.shape
        if n == 0:
            return None
        probe = pd.DataFrame({
            "band": np.tile(np.arange(bands, dtype=np.int32), n),
            "bucket": buckets.ravel(),
            "row": np.repeat(np.arange(n), bands),
        })
        keys = self.spark.createDataFrame(
            probe[["band", "bucket"]].drop_duplicates(), "band int, bucket bigint"
        )
        cand = (
            store.join(F.broadcast(keys), ["band", "bucket"], "left_semi")
            .select("band", "bucket", "id", "snapshot", "sig")
            .toPandas()
        )
        pairs = probe.merge(cand, on=["band", "bucket"]).drop_duplicates(["row", "id", "snapshot"])
        if pairs.empty:
            return None
        return (
            pairs["row"].to_numpy(), pairs["id"].to_numpy(), pairs["snapshot"].to_numpy(),
            np.stack(pairs["sig"].to_numpy()),
        )

    # -- resident copy ------------------------------------------------------

    def _copy_item_bytes(self) -> float:
        # per doc: a bigint id, a snapshot index, the signature, and per
        # band a bucket and a row position
        m = self.manifest
        return 8 + 4 + 8 * m["num_perm"] + 12 * m["bands"]

    def _copy_part(self, rows: pd.DataFrame, id_type: str) -> "Optional[_Part]":
        return _Part.build(rows, id_type, self.manifest["bands"])

    def _source(self):
        """The store as a driver batch is matched against it: the resident
        copy, else the lazy union of its snapshots (None when it has
        none). Sets :attr:`last_source`."""
        self._log.refresh()
        copy = self._resident()
        if copy is not None:
            self.last_source = copy.label
            return copy if copy.parts else None
        self.last_source = "scan"
        return self._store_df()

    # -- operations --------------------------------------------------------

    def append_snapshot(
        self, df: DataFrame, text_col: str, id_col: str, snapshot: str
    ) -> dict:
        """Fingerprint ``df`` and commit it as snapshot ``snapshot``.
        Typically called with the batch's KEPT rows (after
        :meth:`match_against` flagged dupes). A batch of at most
        ``DRIVER_BATCH_DOCS`` rows is signed on the driver (reusing the
        flag pass's signatures of unchanged ids) and written by the driver,
        with no Spark job; its rows also join the handle's resident copy. A
        larger one takes one shuffle (the signature groupBy) before its
        Spark write. Either write is partitioned by band. Returns the
        updated manifest entry."""
        rows = self._local_batch(df, text_col, id_col)
        if rows is None:
            # band_rows emits exactly ``bands`` rows per signed document
            # (minhash_per_doc groups by id), so rows / bands is the
            # committed doc count
            return self._commit(snapshot, self.band_rows(df, text_col, id_col))
        ids, sig, buckets = self._sign_local(rows, text_col, id_col)
        bands = buckets.shape[1]
        local = pd.DataFrame({
            "band": np.repeat(np.arange(bands, dtype=np.int32), len(ids)),
            "bucket": buckets.T.ravel(),
            "id": ids * bands,
            "sig": list(sig) * bands,
        })
        return self._commit(snapshot, local, id_type=dict(df.dtypes)[id_col], n=len(ids))

    def match_against(
        self,
        df: DataFrame,
        text_col: str,
        id_col: str,
        threshold: float = 0.5,
    ) -> DataFrame:
        """Near-duplicate matches of ``df`` against the stored corpus:
        ``(id, store_id, snapshot, est_jaccard DOUBLE)`` with
        ``est_jaccard >= threshold``.

        Candidates = band-bucket equality in ANY band (the LSH contract);
        verification = signature-agreement estimate. A (id, store_id) pair
        colliding in several bands is emitted once. A batch of at most
        ``DRIVER_BATCH_DOCS`` rows is matched on the driver, against the
        resident copy when the store has one (no Spark job), and its
        matches come back as a local relation.
        """
        id_t = dict(df.dtypes)[id_col]
        rows = self._local_batch(df, text_col, id_col)
        if rows is None:
            self.last_source = "scan"
            source = self._store_df()
        else:
            source = self._source()
        if source is None:
            # track the caller's id dtype so empty- and non-empty-store
            # paths return the same schema (string doc ids included)
            schema = f"id {id_t}, store_id {id_t}, snapshot string, est_jaccard double"
            return self.spark.createDataFrame([], schema)
        if rows is None:
            return self._match_spark(source, df, text_col, id_col, threshold)
        hits = self._match_local(source, self._sign_local(rows, text_col, id_col), threshold)
        store_t = dict(source.dtypes)["id"] if isinstance(source, DataFrame) else next(iter(source.parts.values())).id_type
        schema = f"id {id_t}, store_id {store_t}, snapshot string, est_jaccard double"
        return self.spark.createDataFrame(hits, schema)

    def _match_spark(
        self, store: DataFrame, df: DataFrame, text_col: str, id_col: str, threshold: float
    ) -> DataFrame:
        """:meth:`match_against` as one Spark plan, for batches over
        ``DRIVER_BATCH_DOCS``: the batch's band rows join the store's."""
        batch = self.band_rows(df, text_col, id_col)
        num_perm = self.manifest["num_perm"]
        cand = (
            batch.alias("a")
            .join(
                store.alias("s"),
                (F.col("a.band") == F.col("s.band"))
                & (F.col("a.bucket") == F.col("s.bucket")),
            )
            .select(
                F.col("a.id").alias("id"),
                F.col("s.id").alias("store_id"),
                F.col("s.snapshot").alias("snapshot"),
                F.col("a.sig").alias("sig_a"),
                F.col("s.sig").alias("sig_b"),
            )
            .dropDuplicates(["id", "store_id", "snapshot"])
        )
        est = (
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
                )
            ).cast("double")
            / F.lit(float(num_perm))
        )
        return (
            cand.withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= threshold)
            .drop("sig_a", "sig_b")
        )

    def flag_batch(
        self,
        df: DataFrame,
        text_col: str,
        id_col: str,
        threshold: float = 0.5,
        flag_col: str = "dup_of_store",
    ) -> DataFrame:
        """``df`` plus a boolean ``flag_col``: True when the row near-dups
        ANY stored document (flag-don't-drop, like the pipeline recipes).
        The match ids are aggregated away; use :meth:`match_against` when
        the pairs themselves are needed. A batch of at most
        ``DRIVER_BATCH_DOCS`` rows comes back as a local relation of the
        rows it was signed from."""
        rows = self._local_batch(df, text_col, id_col, whole=True)
        if rows is None:
            self.last_source = "scan"
            store = self._store_df()
            hits = (
                self.match_against(df, text_col, id_col, threshold)
                if store is None
                else self._match_spark(store, df, text_col, id_col, threshold)
            )
            return self._flag(df, id_col, hits, flag_col)
        source = self._source()
        hit = set()
        if source is not None:
            signed = self._sign_local(rows, text_col, id_col)
            hit = set(self._match_local(source, signed, threshold)["id"])
        local = pd.DataFrame.from_records(rows, columns=df.columns)
        # a null id never matches, as in the Spark path's equi-join
        local[flag_col] = [r[id_col] is not None and r[id_col] in hit for r in rows]
        schema = df.withColumn(flag_col, F.lit(False)).schema
        return self.spark.createDataFrame(local, schema)


# numpy dtypes of the resident copy's ids, per Spark id type
_ID_DTYPES = {"tinyint": np.int8, "smallint": np.int16, "int": np.int32, "bigint": np.int64, "string": object}


class _Part:
    """One snapshot dir's MinHash docs in a store's resident copy. Per doc
    (one ``(id, snapshot)``): ``ids``, ``snap`` (an index into ``names``)
    and ``sig`` (``[n, num_perm]`` int64). Per band, ``bands[b]`` holds the
    docs' buckets sorted and each bucket's doc position."""

    def __init__(self, id_type: str, ids, snap, names, sig, bands: list):
        self.id_type = id_type
        self.ids, self.snap, self.names, self.sig, self.bands = ids, snap, names, sig, bands
        self.n = len(ids)
        self.nbytes = ids.nbytes + snap.nbytes + sig.nbytes + sum(b.nbytes + p.nbytes for b, p in bands)
        if ids.dtype == object:
            self.nbytes += sum(map(sys.getsizeof, ids))

    @classmethod
    def build(cls, rows: pd.DataFrame, id_type: str, bands: int) -> "Optional[_Part]":
        """The part of a snapshot's band rows (pandas ``band, bucket, id,
        sig, snapshot``), or None when it cannot hold them exactly: an id
        type outside ``_ID_DTYPES``, or a null id, bucket or signature."""
        if id_type not in _ID_DTYPES or rows[["id", "bucket", "sig", "snapshot"]].isna().to_numpy().any():
            return None
        ids = rows["id"].to_numpy(_ID_DTYPES[id_type])
        snap, names = pd.factorize(rows["snapshot"])
        doc, _ = pd.factorize(pd.factorize(ids)[0].astype(np.int64) * len(names) + snap)
        _, first = np.unique(doc, return_index=True)
        band, bucket = rows["band"].to_numpy(), rows["bucket"].to_numpy(np.int64)
        per_band = []
        for b in range(bands):
            sel = band == b
            order = np.argsort(bucket[sel], kind="stable")
            per_band.append((bucket[sel][order], doc[sel][order].astype(np.int32)))
        sig = np.stack(rows["sig"].to_numpy()[first])
        return cls(id_type, ids[first], snap[first].astype(np.int32), np.asarray(names, object), sig, per_band)


def _copy_candidates(copy, buckets: np.ndarray):
    """``(batch row, store id, snapshot, store sig)`` of every resident doc
    sharing a band's bucket with a batch doc, each (row, doc) pair once;
    None when there is none."""
    n = len(buckets)
    out = []
    for part in copy.parts.values():
        rows, docs = [], []
        for b, (keys, pos) in enumerate(part.bands):
            lo = np.searchsorted(keys, buckets[:, b], "left")
            cnt = np.searchsorted(keys, buckets[:, b], "right") - lo
            total = int(cnt.sum())
            if total:
                starts = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
                rows.append(np.repeat(np.arange(n), cnt))
                docs.append(pos[starts + np.arange(total)])
        if rows:
            pair = np.unique(np.concatenate(rows) * part.n + np.concatenate(docs))
            r, d = pair // part.n, pair % part.n
            out.append((r, part.ids[d], part.names[part.snap[d]], part.sig[d]))
    if not out:
        return None
    return tuple(np.concatenate(col) for col in zip(*out))
