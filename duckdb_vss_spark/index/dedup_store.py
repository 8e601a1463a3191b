"""Persisted MinHash LSH artifact — incremental cross-snapshot dedup.

The 100 TB crawl-pipeline shape: each new snapshot (a CommonCrawl dump, a
day of ingest) must dedup against EVERYTHING already accepted, but
re-shingling the historical corpus per batch is O(history) text processing.
This store persists only the dedup *fingerprints* — per-doc MinHash
signatures and their LSH band buckets, ~100 bytes/doc regardless of
document size — so matching a new batch costs one join of the batch's band
rows against the stored band rows: the historical TEXT is never re-read.

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

Scale posture: the per-batch join shuffles the batch's band rows (small)
and the store's band rows — (band, bucket, id, sig) ≈ 150-byte tuples,
1-2% of corpus bytes — never the corpus text. AQE handles hot buckets
(boilerplate shingle sets). Band rows are written partitioned by ``band``
so a probe that only needs band-b candidates prunes 1/bands of the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshot_store import SnapshotStore

__all__ = ["MinHashStore"]


class MinHashStore(SnapshotStore):
    """Handle on a persisted MinHash LSH dedup artifact. Use
    :meth:`create` / :meth:`open`, not the constructor."""

    FORMAT = "minhash-store"
    COUNT_KEY = "n_docs"
    PART_COL = "band"
    COLUMNS = ("band", "bucket", "id", "sig")

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
        from ..operators.dedup import band_buckets_expr, minhash_per_doc

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

    # -- operations --------------------------------------------------------

    def append_snapshot(
        self, df: DataFrame, text_col: str, id_col: str, snapshot: str
    ) -> dict:
        """Fingerprint ``df`` and commit it as snapshot ``snapshot``.
        Typically called with the batch's KEPT rows (after
        :meth:`match_against` flagged dupes). One shuffle (the signature
        groupBy); the write is partitioned by band. Returns the updated
        manifest entry."""
        # band_rows emits exactly ``bands`` rows per signed document
        # (minhash_per_doc groups by id), so rows / bands is the committed
        # doc count
        return self._commit(snapshot, self.band_rows(df, text_col, id_col))

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
        colliding in several bands is emitted once.
        """
        store = self._store_df()
        if store is None:
            # track the caller's id dtype so empty- and non-empty-store
            # paths return the same schema (string doc ids included)
            id_t = dict(df.dtypes)[id_col]
            schema = f"id {id_t}, store_id {id_t}, snapshot string, est_jaccard double"
            return self.spark.createDataFrame([], schema)
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
        the pairs themselves are needed."""
        hits = self.match_against(df, text_col, id_col, threshold)
        return self._flag(df, id_col, hits, flag_col)
