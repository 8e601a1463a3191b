"""Persisted audio-fingerprint artifact — incremental cross-snapshot
audio dedup, the audio twin of :class:`.dedup_store.MinHashStore`.

Same 100 TB crawl-pipeline shape: each new batch of clips must dedup
against EVERYTHING already accepted, but re-decoding the historical
audio per batch is O(history) codec work. This store persists only the
fingerprint keys — ``(key, t, id)`` rows from the Haitsma-Kalker-shaped
block fingerprint (:func:`~duckdb_vss_spark.operators.audio.
block_fingerprint` widened by :func:`~duckdb_vss_spark.operators.audio.
fingerprint_keys`) — a few longs per second of audio regardless of
sample rate, so matching a new batch costs one key join of the batch's
fingerprint table against the stored one: the historical AUDIO is never
re-read.

The artifact lifecycle is :class:`~.snapshot_store.SnapshotStore`,
shared with the sibling stores. The fingerprint parameters (frame,
blocks, key_frames) live in the manifest — keys are only comparable
between identically-framed fingerprints, so the store owns the
configuration.

Matching is the offset-consistent vote of
:func:`~duckdb_vss_spark.operators.audio.audio_neardup_pairs`: candidate
pairs share a key, votes accumulate per (batch clip, stored clip,
time offset), a pair matches when its best offset collects
``min_matches`` votes. Hot keys (silence, test tones) are dropped by a
frequency cap computed over store+batch BEFORE the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshot_store import SnapshotStore

__all__ = ["AudioFingerprintStore"]

_KB = 64  # key-bucket partitions (layout symmetry with band partitioning)


class AudioFingerprintStore(SnapshotStore):
    """Handle on a persisted audio-fingerprint dedup artifact. Use
    :meth:`create` / :meth:`open`, not the constructor."""

    FORMAT = "audio-fp-store"
    COUNT_KEY = "n_clips"
    PART_COL = "kb"
    COLUMNS = ("kb", "key", "t", "id")
    # fingerprint_keys posexplodes key positions, so every clip with >= 1
    # key emits exactly one t == 0 row
    COUNT_T0 = True

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        frame: int = 256,
        blocks: int = 8,
        key_frames: int = 4,
        overwrite: bool = False,
    ) -> "AudioFingerprintStore":
        if frame % blocks != 0:
            raise ValueError(f"frame ({frame}) must be a multiple of blocks ({blocks})")
        return cls._create(
            spark, root, overwrite,
            frame=int(frame), blocks=int(blocks), key_frames=int(key_frames),
        )

    # -- fingerprint plumbing ------------------------------------------------

    def key_rows(self, df: DataFrame, content_col: str, id_col: str) -> DataFrame:
        """(kb INT, key LONG, t LONG, id) fingerprint rows for every clip —
        the batch-side input of :meth:`match_against` and the stored
        layout of :meth:`append_snapshot`. Decodes WAV bytes with the real
        codec and fingerprints with the manifest's parameters."""
        m = self.manifest
        from ..operators.audio import block_fingerprint, fingerprint_keys
        from ..operators.multimodal import decode_audio

        dec = decode_audio(df.select(id_col, content_col), id_col)
        words = block_fingerprint(dec, id_col, frame=m["frame"], blocks=m["blocks"])
        keys = fingerprint_keys(
            words, id_col, key_frames=m["key_frames"], bits_per_word=m["blocks"] - 1
        )
        return keys.select(
            (F.pmod(F.col("key"), F.lit(_KB))).cast("int").alias("kb"),
            F.col("key"),
            F.col("t").cast("long").alias("t"),
            F.col(id_col).alias("id"),
        )

    # -- operations --------------------------------------------------------

    def append_snapshot(
        self, df: DataFrame, content_col: str, id_col: str, snapshot: str
    ) -> dict:
        """Fingerprint ``df``'s clips and commit them as ``snapshot``
        (typically the batch's KEPT rows). Write partitioned by key
        bucket; manifest overwrite is the atomic commit point."""
        return self._commit(snapshot, self.key_rows(df, content_col, id_col))

    def match_against(
        self,
        df: DataFrame,
        content_col: str,
        id_col: str,
        min_matches: int = 8,
        max_key_freq: int = 1000,
    ) -> DataFrame:
        """Near-duplicate matches of ``df``'s clips against the stored
        corpus: ``(id, store_id, snapshot, offset, n_matches)`` with the
        best-offset vote count ``>= min_matches``.

        Round-11 discipline (the in-batch matcher's): batch clips whose
        ENTIRE fingerprint table is identical collapse to one
        representative before the key join — a batch of N copies of one
        clip no longer makes every one of its keys hot — and hits expand
        back to all members afterwards. The frequency cap is computed
        over representative-batch + store keys together, so a key that
        went viral across history is still dropped even if rare in this
        batch, but the drop now emits a ``RuntimeWarning`` with the
        dropped fraction (no silent caps)."""
        store = self._store_df()
        if store is None:
            # empty-store schema must track the caller's id dtype (string
            # clip ids would otherwise change schema between the empty and
            # non-empty paths and force implicit casts in flag_batch joins)
            id_t = dict(df.dtypes)[id_col]
            schema = (
                f"id {id_t}, store_id {id_t}, snapshot string, "
                "offset long, n_matches long"
            )
            return self.spark.createDataFrame([], schema)
        from ..operators.dedup import _shared

        # referenced by the digest aggregate and the join probe side
        # behind the WAV decode + fingerprint chain — persist once
        batch = _shared(self.key_rows(df, content_col, id_col))
        # order-free 128-bit-equivalent digest (two independent xxhash64
        # XOR-folds + row count, map-side combinable; (t, key) rows are
        # unique within a clip so XOR cancellation cannot occur)
        digests = _shared(
            batch.groupBy("id").agg(
                F.bit_xor(F.xxhash64(F.col("t"), F.col("key"))).alias("__d1"),
                F.bit_xor(F.xxhash64(F.lit(1), F.col("t"), F.col("key"))).alias("__d2"),
                F.count(F.lit(1)).alias("__nk"),
            )
        )
        _D = ["__d1", "__d2", "__nk"]
        groups = _shared(
            digests.groupBy(*_D).agg(
                F.min("id").alias("__rep"), F.count(F.lit(1)).alias("__n")
            )
        )
        brep = batch.join(groups.select(F.col("__rep").alias("id")), "id")
        freq = _shared(
            brep.select("key")
            .unionByName(store.select("key"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        is_hot = F.col("__c") > max_key_freq
        # ONE driver action for both decisions (expansion gate + warning)
        hot = (
            groups.agg(F.count(F.when(F.col("__n") > 1, 1)).alias("ndup"))
            .crossJoin(
                freq.agg(
                    F.count(F.when(is_hot, 1)).alias("hk"),
                    F.coalesce(F.sum(F.when(is_hot, F.col("__c"))), F.lit(0)).alias("hr"),
                    F.coalesce(F.sum("__c"), F.lit(0)).alias("total"),
                )
            )
            .collect()[0]
        )
        n_dup_groups = hot["ndup"]
        if hot["hk"] > 0:
            import warnings

            warnings.warn(
                f"AudioFingerprintStore.match_against: {hot['hk']} hot keys "
                f"over max_key_freq={max_key_freq} dropped "
                f"{hot['hr']}/{hot['total']} key rows "
                f"({hot['hr'] / hot['total']:.1%}); votes through those keys "
                f"are lost (identical batch clips still collapse to one "
                f"probe). Raise max_key_freq if these are not degenerate "
                f"keys (silence, test tones).",
                RuntimeWarning,
                stacklevel=2,
            )
        ok_keys = freq.filter(~is_hot).select("key")
        b = brep.join(ok_keys, "key")
        s = store.join(ok_keys, "key")
        votes = (
            b.alias("a")
            .join(s.alias("s"), F.col("a.key") == F.col("s.key"))
            .groupBy(
                F.col("a.id").alias("id"),
                F.col("s.id").alias("store_id"),
                F.col("s.snapshot").alias("snapshot"),
                (F.col("a.t") - F.col("s.t")).alias("offset"),
            )
            .agg(F.count(F.lit(1)).alias("n_matches"))
        )
        best = votes.groupBy("id", "store_id", "snapshot").agg(
            F.max(F.struct("n_matches", "offset")).alias("__best")
        )
        rep_hits = best.select(
            "id",
            "store_id",
            "snapshot",
            F.col("__best.offset").alias("offset"),
            F.col("__best.n_matches").alias("n_matches"),
        ).filter(F.col("n_matches") >= min_matches)
        if n_dup_groups == 0:
            return rep_hits
        # expand: every member of a duplicated batch digest inherits its
        # representative's store matches verbatim
        rep_to_d = groups.select(F.col("__rep").alias("id"), F.struct(*_D).alias("__d"))
        members = digests.select(F.col("id").alias("__mid"), F.struct(*_D).alias("__d"))
        return (
            rep_hits.join(rep_to_d, "id")
            .join(members, "__d")
            .select(
                F.col("__mid").alias("id"),
                "store_id",
                "snapshot",
                "offset",
                "n_matches",
            )
        )

    def flag_batch(
        self,
        df: DataFrame,
        content_col: str,
        id_col: str,
        min_matches: int = 8,
        flag_col: str = "dup_of_store",
    ) -> DataFrame:
        """``df`` plus boolean ``flag_col``: True when the clip near-dups
        ANY stored clip (flag-don't-drop)."""
        hits = self.match_against(df, content_col, id_col, min_matches)
        return self._flag(df, id_col, hits, flag_col)
