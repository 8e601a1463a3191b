"""Persisted perceptual-image-hash artifact — incremental cross-snapshot
image dedup, the image twin of :class:`.dedup_store.MinHashStore` /
:class:`.audio_store.AudioFingerprintStore`.

The 100 TB image-crawl shape: each new batch of images must near-dedup
against EVERYTHING already accepted (the same photo re-encoded, resized,
format-converted), but re-decoding historical images per batch is
O(history) codec work. This store persists only the 64-bit pHashes,
banded for the Hamming join — (band, bucket, id, h) rows, a few longs
per image regardless of pixel count — so matching a new batch costs one
band-bucket join of the batch's hash table against the stored one: the
historical IMAGE BYTES are never re-read.

The artifact lifecycle is :class:`~.snapshot_store.SnapshotStore`,
shared with the sibling stores. The banding parameters live in the
manifest — band buckets are only comparable between identically-banded
hashes, so the store owns the configuration.

Matching is the banded-Hamming contract of
:func:`~duckdb_vss_spark.operators.dedup.hamming_pairs`: candidates
agree on >= 1 band chunk (complete for ``hamming < bands`` by
pigeonhole), verification is ``bit_count(xor)`` computed inside the
join. Round-11 discipline: exact matches bypass banding via an
equi-join on the hash value (cap-immune), the near band join runs over
DISTINCT hashes per side with the banding auto-picked from the call's
bound (:func:`~duckdb_vss_spark.operators.dedup._auto_banding`), and
hot buckets (boilerplate images — logos, spacers, test cards) are still
capped so one viral thumbnail in history cannot turn every future
batch's match quadratic — but any capped drop now emits a
``RuntimeWarning`` with the dropped fraction (no silent caps). Round-12
discipline: before accepting any drop, a hot first pass escalates ONCE
to packed pair keys over the same chunks
(:func:`~duckdb_vss_spark.operators.dedup._escalate_banding` —
loss-monotone, and diverse hot-bucket members spread cold under the
roomier key), so only buckets hot under BOTH keyings are ever dropped.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshot_store import SnapshotStore

__all__ = ["ImageHashStore"]


class ImageHashStore(SnapshotStore):
    """Handle on a persisted perceptual-hash dedup artifact. Use
    :meth:`create` / :meth:`open`, not the constructor."""

    FORMAT = "image-hash-store"
    COUNT_KEY = "n_images"
    PART_COL = "band"
    COLUMNS = ("band", "bucket", "id", "h")

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        bands: int = 16,
        max_hamming: int = 10,
        overwrite: bool = False,
    ) -> "ImageHashStore":
        if max_hamming >= bands:
            raise ValueError("completeness requires max_hamming < bands (pigeonhole)")
        if 64 % bands != 0:
            raise ValueError(f"bands ({bands}) must divide 64")
        return cls._create(
            spark, root, overwrite, bands=int(bands), max_hamming=int(max_hamming)
        )

    # -- hash plumbing -------------------------------------------------------

    def _hashes(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        hash_col: Optional[str] = None,
    ) -> DataFrame:
        """(id, __h LONG) per image. With ``hash_col`` the caller already
        has pHashes (e.g. :func:`~duckdb_vss_spark.pipelines.image_curate`
        computed them in its fused decode pass) and NO decode happens;
        otherwise ``content_col`` bytes run through the real decoder +
        :func:`~duckdb_vss_spark.operators.image.phash_kernel`."""
        if hash_col is not None:
            return df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("__h"))
        from ..operators.image import phash

        return phash(df.select(id_col, content_col), id_col).select(
            F.col(id_col).alias("id"), F.col("phash").alias("__h")
        )

    def band_rows(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        hash_col: Optional[str] = None,
    ) -> DataFrame:
        """(band INT, bucket LONG, id, h LONG) rows for every image — the
        stored layout of :meth:`append_snapshot`."""
        hashes = self._hashes(df, id_col, content_col, hash_col)
        bands = self.manifest["bands"]
        width = 64 // bands
        mask = F.lit((1 << width) - 1)
        return hashes.select(
            F.posexplode(
                F.array(*[
                    F.shiftrightunsigned(F.col("__h"), b * width).bitwiseAND(mask)
                    for b in range(bands)
                ])
            ).alias("band", "bucket"),
            F.col("id"),
            F.col("__h").alias("h"),
        )

    # -- operations --------------------------------------------------------

    def append_snapshot(
        self,
        df: DataFrame,
        id_col: str,
        snapshot: str,
        content_col: Optional[str] = "content",
        hash_col: Optional[str] = None,
    ) -> dict:
        """Hash ``df``'s images (or take ``hash_col`` verbatim) and commit
        them as ``snapshot`` (typically the batch's KEPT rows). Written
        partitioned by band; manifest overwrite is the atomic commit."""
        # band_rows emits exactly ``bands`` rows per input image, so
        # rows / bands is the committed image count. Callers commit one
        # row per image id (the recipes' kept frames, the streaming sink
        # read-back).
        return self._commit(snapshot, self.band_rows(df, id_col, content_col, hash_col))

    def match_against(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        hash_col: Optional[str] = None,
        max_hamming: Optional[int] = None,
        max_bucket: int = 1000,
    ) -> DataFrame:
        """Near-duplicate matches of ``df``'s images against the stored
        corpus: ``(id, store_id, snapshot, hamming INT)`` with
        ``hamming <= max_hamming`` (default: the store's configured bound;
        a smaller per-call bound is allowed — still complete by
        pigeonhole; a larger one is rejected).

        Round-11 shape (same discipline as
        :func:`~duckdb_vss_spark.operators.dedup.hamming_pairs`, which
        round 10's steady-state measurement showed this path needed too —
        at 20k stored hashes every 4-bit bucket went hot and the old
        store+batch cap silently dropped EVERY match):

        - **exact matches bypass banding entirely** — a batch hash equal
          to a stored hash is found by an equi-join on the hash value,
          immune to any cap;
        - the band join runs over DISTINCT hash values per side, with the
          arity auto-escalated to pair-of-chunk keys when the single-chunk
          key space saturates ``max_bucket`` (complete while
          ``max_hamming <= bands - combo``);
        - hot (band, bucket)s of distinct hashes are still capped — viral
          boilerplate stays bounded — but any drop now emits a
          ``RuntimeWarning`` with the dropped fraction (no silent caps).
        """
        bands = self.manifest["bands"]
        bound = self.manifest["max_hamming"] if max_hamming is None else int(max_hamming)
        if bound >= bands:
            raise ValueError(
                f"max_hamming ({bound}) must stay below the store's bands ({bands})"
            )
        store = self._store_df()
        if store is None:
            id_t = dict(df.dtypes)[id_col]
            schema = f"id {id_t}, store_id {id_t}, snapshot string, hamming int"
            return self.spark.createDataFrame([], schema)
        from ..operators.dedup import _near_hash_pairs, _shared

        bh = _shared(self._hashes(df, id_col, content_col, hash_col))
        sh = store.select(
            F.col("id").alias("store_id"), F.col("snapshot"), F.col("h")
        ).dropDuplicates(["store_id", "snapshot", "h"])
        exact = bh.join(sh, bh["__h"] == sh["h"]).select(
            "id", "store_id", "snapshot", F.lit(0).cast("int").alias("hamming")
        )
        if bound == 0:
            return exact
        near_h = _near_hash_pairs(
            bh.select(F.col("__h").alias("h")), sh, bound, max_bucket,
            "ImageHashStore.match_against",
        )
        near = (
            near_h.join(bh.withColumnRenamed("__h", "hb"), "hb")
            .join(sh.withColumnRenamed("h", "hs"), "hs")
            .select("id", "store_id", "snapshot", "hamming")
        )
        return near.unionByName(exact)

    def flag_batch(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        hash_col: Optional[str] = None,
        max_hamming: Optional[int] = None,
        flag_col: str = "dup_of_store",
    ) -> DataFrame:
        """``df`` plus boolean ``flag_col``: True when the image near-dups
        ANY stored image (flag-don't-drop)."""
        hits = self.match_against(df, id_col, content_col, hash_col, max_hamming)
        return self._flag(df, id_col, hits, flag_col)
