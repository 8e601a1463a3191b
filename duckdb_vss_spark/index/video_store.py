"""Persisted video-fingerprint artifact — incremental cross-snapshot
video near-dup, completing the modality set next to
:class:`.dedup_store.MinHashStore` (text), :class:`.audio_store.
AudioFingerprintStore` (audio) and :class:`.image_store.ImageHashStore`
(still images).

State is the per-frame perceptual-hash table ``(id, t, h)`` from
:func:`~duckdb_vss_spark.operators.image.frame_phash` — three longs per
kept frame, regardless of resolution or codec — so matching a new batch
of clips against ALL history costs one banded-Hamming join of frame
hashes plus the offset-consistent vote (two clips match when
``min_matches`` frame pairs within per-frame Hamming ``max_hamming``
align at ONE temporal offset — re-encoded, re-containered, or
time-shifted copies all collide). Historical video bytes are never
re-decoded.

The artifact lifecycle is :class:`~.snapshot_store.SnapshotStore`,
shared with the sibling stores. The matching parameters (bands /
max_hamming / frame ``every_nth``) live in the manifest: hashes are only
comparable between identically sampled frame grids, so the store owns
the configuration. Banding happens at MATCH time (the stored rows are
raw ``(kb, id, t, h)``), so a store can tighten ``max_hamming`` per call
without rewriting state.

Hot-bucket discipline (round 11): exact frame matches bypass banding via
an equi-join on the hash value (cap-immune), the near band join runs over
DISTINCT hashes per side with the banding auto-picked from the call's
bound and a cheap distinct count
(:func:`~duckdb_vss_spark.operators.dedup._auto_banding`), and any capped
drop of near candidates (black frames, test cards, station logos collide
globally) emits a ``RuntimeWarning`` with the dropped fraction — no
silent caps. Round-12: a hot first pass escalates once to same-chunk
packed pair keys (loss-monotone) before any drop is accepted.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshot_store import SnapshotStore

__all__ = ["VideoFingerprintStore"]

_KB = 64  # layout-bucket partitions (symmetry with the audio store)


class VideoFingerprintStore(SnapshotStore):
    """Handle on a persisted video-fingerprint dedup artifact. Use
    :meth:`create` / :meth:`open`, not the constructor."""

    FORMAT = "video-fp-store"
    COUNT_KEY = "n_clips"
    PART_COL = "kb"
    COLUMNS = ("kb", "id", "t", "h")
    # frame grids always sample frame 0 (fi % every_nth == 0 at fi = 0),
    # so every decodable clip emits exactly one t == 0 row; a
    # caller-shaped ``keys_df`` without that row falls back to a read-back
    COUNT_T0 = True

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        bands: int = 8,
        max_hamming: int = 4,
        every_nth: int = 1,
        overwrite: bool = False,
    ) -> "VideoFingerprintStore":
        if max_hamming >= bands:
            raise ValueError("completeness requires max_hamming < bands (pigeonhole)")
        if 64 % bands != 0:
            raise ValueError(f"bands ({bands}) must divide 64")
        return cls._create(
            spark, root, overwrite,
            bands=int(bands), max_hamming=int(max_hamming), every_nth=int(every_nth),
        )

    # -- fingerprint plumbing ------------------------------------------------

    def key_rows(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        keys_df: Optional[DataFrame] = None,
    ) -> DataFrame:
        """(kb INT, id, t LONG, h LONG) frame-hash rows for every clip —
        the batch-side input of :meth:`match_against` and the stored
        layout of :meth:`append_snapshot`. With ``keys_df`` (a
        ``frame_phash``-shaped ``(id, t, key)`` table the caller already
        computed, e.g. inside :func:`~duckdb_vss_spark.pipelines.
        video_curate`) NO decode happens; otherwise ``content_col``
        bytes run through the real container decode + per-frame pHash
        with the manifest's frame sampling."""
        if keys_df is not None:
            kk = keys_df.select(
                F.col(id_col).alias("id"),
                F.col("t").cast("long").alias("t"),
                F.col("key").cast("long").alias("h"),
            )
        else:
            from ..operators.image import frame_phash
            from ..operators.multimodal import video_frames

            frames = video_frames(
                df.select(id_col, content_col),
                id_col,
                content_col,
                every_nth=self.manifest["every_nth"],
            ).filter(F.col("frame_idx") >= 0)
            kk = frame_phash(frames, id_col).select(
                F.col(id_col).alias("id"),
                F.col("t").cast("long").alias("t"),
                F.col("key").cast("long").alias("h"),
            )
        return kk.select(
            F.pmod(F.col("h"), F.lit(_KB)).cast("int").alias("kb"), "id", "t", "h"
        )

    # -- operations --------------------------------------------------------

    def append_snapshot(
        self,
        df: DataFrame,
        id_col: str,
        snapshot: str,
        content_col: Optional[str] = "content",
        keys_df: Optional[DataFrame] = None,
    ) -> dict:
        """Fingerprint ``df``'s clips (or take ``keys_df`` verbatim) and
        commit them as ``snapshot`` (typically the batch's KEPT rows)."""
        return self._commit(snapshot, self.key_rows(df, id_col, content_col, keys_df))

    def match_against(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        keys_df: Optional[DataFrame] = None,
        min_matches: int = 5,
        max_hamming: Optional[int] = None,
        max_bucket: int = 1000,
    ) -> DataFrame:
        """Near-duplicate matches of ``df``'s clips against the stored
        corpus: ``(id, store_id, snapshot, offset, n_matches)`` with the
        best-offset vote count ``>= min_matches`` and per-frame Hamming
        ``<= max_hamming`` (default: the store's bound; smaller per-call
        bounds allowed). Hot (band, bucket)s are capped over store+batch
        together. A (batch clip, stored clip) pair votes once per
        near-colliding frame pair per offset; multi-band collisions of
        the SAME frame pair are deduped before voting."""
        bands = self.manifest["bands"]
        bound = self.manifest["max_hamming"] if max_hamming is None else int(max_hamming)
        if bound >= bands:
            raise ValueError(
                f"max_hamming ({bound}) must stay below the store's bands ({bands})"
            )
        store = self._store_df()
        if store is None:
            id_t = dict(df.dtypes)[id_col] if keys_df is None else dict(keys_df.dtypes)[id_col]
            schema = (
                f"id {id_t}, store_id {id_t}, snapshot string, "
                "offset long, n_matches long"
            )
            return self.spark.createDataFrame([], schema)
        from ..operators.dedup import _near_hash_pairs, _shared

        # Round-11 shape (the image store's steady-state measurement
        # showed the old store+batch frequency cap silently dropping
        # every match once buckets saturate): exact frame matches bypass
        # banding via an equi-join on the hash value (cap-immune); near
        # matches ride a DISTINCT-hash band join with the arity auto-
        # escalated when the single-chunk key space saturates, and any
        # capped drop warns with the fraction.
        batch = _shared(self.key_rows(df, id_col, content_col, keys_df))
        skeys = store.select(
            F.col("id").alias("store_id"), "snapshot", "t", "h"
        )
        exact_pairs = batch.join(skeys, batch["h"] == skeys["h"]).select(
            "id", "store_id", "snapshot",
            batch["t"].alias("ta"), skeys["t"].alias("tb"),
        )
        near_pairs = None
        if bound >= 1:
            near_h = _near_hash_pairs(
                batch, skeys, bound, max_bucket, "VideoFingerprintStore.match_against"
            )
            near_pairs = (
                near_h.join(batch.withColumnRenamed("h", "hb"), "hb")
                .join(
                    skeys.withColumnRenamed("h", "hs")
                    .withColumnRenamed("t", "tb"),
                    "hs",
                )
                .select("id", "store_id", "snapshot", F.col("t").alias("ta"), "tb")
            )
        frame_pairs = (
            exact_pairs if near_pairs is None
            else exact_pairs.unionByName(near_pairs)
        )
        votes = frame_pairs.groupBy(
            "id", "store_id", "snapshot", (F.col("ta") - F.col("tb")).alias("offset")
        ).agg(F.count(F.lit(1)).alias("n_matches"))
        best = votes.groupBy("id", "store_id", "snapshot").agg(
            F.max(F.struct("n_matches", "offset")).alias("__best")
        )
        return best.select(
            "id",
            "store_id",
            "snapshot",
            F.col("__best.offset").alias("offset"),
            F.col("__best.n_matches").alias("n_matches"),
        ).filter(F.col("n_matches") >= min_matches)

    def flag_batch(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        keys_df: Optional[DataFrame] = None,
        min_matches: int = 5,
        flag_col: str = "dup_of_store",
    ) -> DataFrame:
        """``df`` plus boolean ``flag_col``: True when the clip near-dups
        ANY stored clip (flag-don't-drop)."""
        hits = self.match_against(df, id_col, content_col, keys_df, min_matches)
        return self._flag(df, id_col, hits, flag_col)
