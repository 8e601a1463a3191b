"""End-to-end corpus-curation recipes: the published pipeline shapes,
composed from this engine's operators into single lazy Spark plans.

These are recipes, not new operators — each function wires the package's
tested pieces the way the cited paper does, so a user gets the paper's
pipeline in one call and Catalyst sees ONE plan to optimize (filters
pushed into scans, map-only stages fused into the same whole-stage
codegen, shuffles only where an operator genuinely needs one).

- :func:`ccnet_curate` — CCNet (Wenzek et al. 2020, arXiv:1911.00359):
  line dedup → language ID → per-language LM-perplexity terciles
  (head/middle/tail).
- :func:`c4_clean` — C4 §2.2 (Raffel et al. 2020, arXiv:1910.10683):
  line-level cleaning (terminal punctuation, min words, blocklist,
  braces) → language filter → corpus-level duplicate-span flags.
- :func:`refinedweb_curate` — RefinedWeb (Penedo et al. 2023,
  arXiv:2306.01116): line-wise corrections → corpus-level exact line
  dedup → fuzzy MinHash document dedup → exact substring (span) flags.
- :func:`semantic_curate` — SemDeDup (Abbas et al. 2023) + DSIR (Xie et
  al. 2023) + a quality-classifier gate over an embedded corpus.

Every recipe returns the input rows with added flag/score columns and
NEVER drops rows itself (callers filter on the flags) — the DataComp /
Dolma convention: materialized signals, deferred decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import text as T

__all__ = [
    "ccnet_curate",
    "c4_clean",
    "refinedweb_curate",
    "semantic_curate",
    "audio_curate",
    "image_curate",
    "video_curate",
    "image_text_pairs",
    "crawl_ingest",
    "warc_ingest",
    "curate_corpus",
]


def ccnet_curate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_edges: tuple = (1.0 / 3.0, 2.0 / 3.0),
    lm_order: int = 1,
) -> DataFrame:
    """CCNet: dedup lines against the whole corpus, identify language,
    score with a corpus-trained LM, bucket per-language perplexity into
    head/middle/tail terciles. Adds ``lang``, ``ppl``, ``ppl_bucket``,
    ``n_removed_lines``, ``dedup_text``.

    ``lm_order=1`` (default, the driver-gated configuration) scores with
    the add-one unigram LM; ``lm_order>=2`` scores with the stupid-backoff
    n-gram LM (Brants et al. 2007) — closer to the real CCNet's 5-gram
    KenLM, at the cost of ``lm_order`` count tables.

    Scale shape: line_dedup shuffles only (id, pos, hash) tuples; lang-id
    and LM scoring are a broadcast-probe plus one token-level aggregation;
    the tercile split is :func:`~duckdb_vss_spark.operators.sampling.
    rank_split` — exact per-language ``percent_rank`` semantics computed
    via ppl-value-range buckets, so a dominant language ranks across its
    4096 buckets instead of spill-sorting on one reducer (round 8; the
    naive window form is equality-pinned in the rank_split tests)."""
    from .operators.dedup import line_dedup
    from .operators.quality import ngram_lm_score, stupid_backoff_score
    from .operators.sampling import rank_split

    ld = line_dedup(docs, text_col, id_col, out_col="dedup_text").select(
        id_col, "dedup_text", "n_removed_lines"
    )
    base = docs.join(ld, id_col).withColumn("lang", T.lang_id(F.col(text_col)))
    if lm_order <= 1:
        lm = ngram_lm_score(base, "dedup_text", id_col).select(id_col, "ppl")
    else:
        lm = stupid_backoff_score(base, "dedup_text", id_col, n=lm_order).select(
            id_col, "ppl"
        )
    scored = base.join(lm, id_col)
    return rank_split(
        scored, "lang", "ppl", id_col,
        edges=bucket_edges, labels=("head", "middle", "tail"),
        out_col="ppl_bucket",
    )


def c4_clean(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 20,
    min_words: int = 3,
    require_terminal_punct: bool = True,
) -> DataFrame:
    """C4 §2.2: per-line cleaning (terminal punctuation, ≥ min words,
    blocklist, brace heuristic), English-ratio language gate, and the
    corpus-level duplicated-span removal signal. Adds ``clean_text``,
    ``n_kept_lines``, ``lang``, ``lang_ok``, ``dup_window_frac``,
    ``c4_keep``. ``min_words``/``require_terminal_punct`` pass through
    to the line filter (C4's defaults; relax for corpora that don't
    punctuate, e.g. code or log text)."""
    from .operators.dedup import duplicated_span_profile
    from .operators.quality import clean_lines

    cl = clean_lines(
        docs, text_col, min_words=min_words,
        require_terminal_punct=require_terminal_punct, out_col="clean_text",
    ).select(
        id_col, "clean_text", "n_kept_lines"
    )
    base = docs.join(cl, id_col).withColumn("lang", T.lang_id(F.col(text_col)))
    prof = duplicated_span_profile(
        base.filter(F.col("n_kept_lines") > 0), "clean_text", id_col, k=span_tokens
    ).select(id_col, "dup_window_frac")
    out = (
        base.join(prof, id_col, "left")
        .withColumn("dup_window_frac", F.coalesce("dup_window_frac", F.lit(0.0)))
        .withColumn("lang_ok", F.col("lang") == "en")
    )
    return out.withColumn(
        "c4_keep",
        F.col("lang_ok") & (F.col("n_kept_lines") > 0) & (F.col("dup_window_frac") < 0.5),
    )


def refinedweb_curate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard: float = 0.8,
    span_tokens: int = 20,
) -> DataFrame:
    """RefinedWeb: line-wise corrections → corpus-level exact line dedup →
    fuzzy MinHash+LSH document dedup (keep one doc per duplicate cluster)
    → exact duplicated-span signal. Adds ``dedup_text``, ``fuzzy_keep``
    (exactly one survivor per near-dup cluster), ``dup_window_frac``.

    Scale shape: every stage is the operator's own bounded plan — the
    only additions here are the flag joins, all on the id column."""
    from .operators.dedup import duplicated_span_profile, line_dedup, minhash_lsh_pairs
    from .operators.graph import dedup_clusters

    ld = line_dedup(docs, text_col, id_col, out_col="dedup_text").select(
        id_col, "dedup_text", "n_removed_lines"
    )
    base = docs.join(ld, id_col)
    pairs = minhash_lsh_pairs(base, "dedup_text", id_col, threshold=jaccard)
    clustered = dedup_clusters(base, id_col, pairs).withColumnRenamed(
        "is_canonical", "fuzzy_keep"
    )
    prof = duplicated_span_profile(base, "dedup_text", id_col, k=span_tokens).select(
        id_col, "dup_window_frac"
    )
    return clustered.join(prof, id_col, "left").withColumn(
        "dup_window_frac", F.coalesce("dup_window_frac", F.lit(0.0))
    )


def audio_curate(
    clips: DataFrame,
    content_col: str = "content",
    id_col: str = "clip_id",
    min_duration_s: float = 0.5,
    max_duration_s: float = 3600.0,
    min_rms: float = 1e-4,
    max_clip_frac: float = 0.2,
    min_matches: int = 8,
    target_rate: int | None = None,
    store=None,
    snapshot: str | None = None,
) -> DataFrame:
    """The audio analog of :func:`curate_corpus`: decode WAV bytes →
    per-clip quality gates → fingerprint near-dup clustering, one
    flag-don't-drop plan (every input clip survives with its flags — the
    same cohort discipline as the text recipes).

    With ``store`` (an :class:`~duckdb_vss_spark.index.audio_store.
    AudioFingerprintStore`), the batch ALSO matches against all
    previously ingested audio history — ``dup_of_store`` rides along and
    gates ``audio_keep`` — and with ``snapshot`` the kept clips'
    fingerprints commit to the store so the NEXT batch dedups against
    this one: the incremental crawl loop, audio edition (historical
    audio is never re-decoded; only fingerprint keys persist).

    Stages and the flags they add:

    1. **Decode + features** (:func:`~.operators.audio.audio_features`):
       ``duration_s``, ``rms``, ``peak``, ``zcr`` ride along.
    2. **Quality gate** — ``quality_keep``: duration within
       [``min_duration_s``, ``max_duration_s``], RMS above ``min_rms``
       (drops silence/near-silence), peak-clipping fraction below
       ``max_clip_frac`` (fraction of samples at full scale — recorder
       clipping). Cheap signal gates, the audio counterpart of the text
       length/punctuation heuristics.
    3. **Near-dup clustering** — block fingerprints → offset-consistent
       vote pairs (:func:`~.operators.audio.audio_neardup_pairs`, hot-key
       capped) → connected components; ``dedup_keep`` flags exactly one
       canonical survivor per duplicate cluster (min id), ``cluster_id``
       rides along.
    4. ``audio_keep`` = ``quality_keep AND dedup_keep``.

    ``target_rate`` optionally resamples all clips first (mixed-rate
    corpora must be normalized before fingerprints are comparable).

    Scale shape: decode/features/fingerprints are fanned map-only
    kernels; the only shuffles are the capped key join and the id-keyed
    flag joins; connected components is the pointer-jumping loop bounded
    by cluster diameter. Nothing collects clips to the driver.

    .. note:: **Commit-ordering crash window.** With ``snapshot`` set,
       the kept clips' fingerprints commit to the store as a side effect
       of THIS call — before the caller has written ``out`` anywhere. If
       the caller's downstream sink write then fails, the store
       permanently holds fingerprints of clips that never landed, and
       every future batch drops them as ``dup_of_store``. Batch loops
       that write a sink should pass ``snapshot=None`` and commit AFTER
       the sink write succeeds, as
       :func:`~duckdb_vss_spark.streaming.stream_audio_curate` does.
    """
    from .operators.audio import (
        audio_features,
        audio_neardup_pairs,
        block_fingerprint,
        fingerprint_keys,
        resample_audio,
    )
    from .operators.graph import dedup_clusters
    from .operators.multimodal import decode_audio

    from .broadcasts import tracked_persist

    # `dec` (the per-clip WAV decode) is referenced 4-5 times downstream
    # (features, clip_frac, sample_rate join, block_fingerprint, plus the
    # distinct-rates collect) — without a persist the codec kernel re-runs
    # once per reference (~3x wall clock, the repo's measured
    # multiply-referenced-frame cost). Registered in the bounded
    # tracked-persist LRU ring; release_caches() frees it eagerly.
    dec = tracked_persist(decode_audio(clips.select(id_col, content_col), id_col))
    if target_rate is not None:
        # decode emits per-clip rates; the recipe requires ONE rate, so a
        # mixed corpus must state it — resample per the clip's own rate
        rates = [r[0] for r in dec.select("sample_rate").distinct().collect()]
        parts = [
            resample_audio(
                dec.filter(F.col("sample_rate") == r), id_col, int(r), target_rate
            ).select(id_col, "samples", "sample_rate")
            for r in rates
        ]
        frames = parts[0]
        for p in parts[1:]:
            frames = frames.unionByName(p)
        # the resampled union replaces `dec` as the 4x-referenced frame
        dec = tracked_persist(frames)
    feats = audio_features(dec, id_col)
    # clipping fraction needs the samples; compute it JVM-side from the
    # decoded array (|s| >= 32766/32768 counts as clipped)
    clip_frac = (
        F.size(F.filter("samples", lambda s: F.abs(s) >= F.lit(32766.0 / 32768.0)))
        / F.greatest(F.size("samples"), F.lit(1))
    )
    cf = dec.select(id_col, clip_frac.alias("clip_frac"))
    rate_col = F.col("sample_rate").cast("double")
    base = (
        clips.join(feats, id_col)
        .join(cf, id_col)
        .join(dec.select(id_col, "sample_rate"), id_col)
        .withColumn("duration_s", F.col("n_samples") / F.greatest(rate_col, F.lit(1.0)))
        .withColumn(
            "quality_keep",
            (F.col("duration_s") >= min_duration_s)
            & (F.col("duration_s") <= max_duration_s)
            & (F.col("rms") >= min_rms)
            & (F.col("clip_frac") <= max_clip_frac),
        )
    )
    keys = fingerprint_keys(block_fingerprint(dec, id_col), id_col)
    # pairs only feed connected components: the linear star expansion of
    # identical-fingerprint clips is connectivity-equivalent
    pairs = audio_neardup_pairs(
        keys, id_col, min_matches=min_matches, exact_dup_pairs="star"
    )
    out = dedup_clusters(base, id_col, pairs.select("id_a", "id_b")).withColumnRenamed(
        "is_canonical", "dedup_keep"
    )
    keep = F.col("quality_keep") & F.col("dedup_keep")
    if store is not None:
        matches = store.match_against(
            clips.select(id_col, content_col), content_col, id_col, min_matches
        )
        out = store._flag(out, id_col, matches, "dup_of_store")
        keep = keep & ~F.col("dup_of_store")
    out = out.withColumn("audio_keep", keep)
    if store is not None and snapshot is not None:
        # commit the kept clips' fingerprints so the next batch dedups
        # against this one (an action: the commit is the loop's barrier)
        store.append_snapshot(
            out.filter("audio_keep").select(id_col, content_col),
            content_col,
            id_col,
            snapshot,
        )
    return out


def image_curate(
    images: DataFrame,
    content_col: str = "content",
    id_col: str = "image_id",
    min_width: int = 32,
    min_height: int = 32,
    thumb_width: int = 64,
    thumb_height: int = 64,
    quality: int = 75,
    max_hamming: int = 10,
    bands: int = 16,
    max_bucket: int = 1000,
    combo: int | str = "auto",
    min_contrast: float | None = None,
    min_entropy: float | None = None,
    store=None,
    snapshot: str | None = None,
    thumbnail: bool = True,
) -> DataFrame:
    """The image analog of :func:`curate_corpus` / :func:`audio_curate`:
    decode-gate → perceptual near-dup clustering → thumbnail transcode,
    one flag-don't-drop plan (every input image survives with its flags
    and its error text — a corrupt image must not silently vanish from
    the corpus ledger).

    With ``store`` (an :class:`~duckdb_vss_spark.index.image_store.
    ImageHashStore`), the batch ALSO matches against all previously
    ingested image history — ``dup_of_store`` rides along and gates
    ``image_keep`` — and with ``snapshot`` the kept images' pHashes
    commit to the store so the NEXT batch dedups against this one: the
    incremental crawl loop, image edition. Historical image bytes are
    never re-decoded — only 64-bit hashes persist, and the commit
    reuses THIS batch's already-computed hashes (no second decode).

    Stages and the flags/columns they add:

    1. **Fused decode pass** (:func:`~.operators.image.
       hash_transcode_images` — ONE decode per image): ``ok`` +
       ``decode_err``, original ``width``/``height``, ``phash``, and the
       re-encoded ``thumb`` (baseline JPEG at ``thumb_width`` x
       ``thumb_height``).
    2. **Quality gate** — ``quality_keep``: decode succeeded and
       original dims at least ``min_width`` x ``min_height`` (thumbnails
       and tracking pixels are upstream noise, not training data).
       ``min_contrast`` / ``min_entropy`` (off by default) additionally
       gate on the :func:`~.operators.image.image_quality_stats` signals
       — blank pages and synthetic flat fills score ~0 on both — and the
       signal columns ride the output; the stats come from the SAME
       fused decode pass (``with_stats=True``), not a second decode.
    3. **Near-dup clustering** — banded-Hamming pairs over the pHashes
       (:func:`~.operators.image.image_neardup_pairs`, hot buckets
       capped) → connected components; ``dedup_keep`` flags one
       canonical survivor per cluster (min id), ``cluster_id`` rides.
    4. ``image_keep`` = ``quality_keep AND dedup_keep``
       (``AND NOT dup_of_store`` when matching history).

    Scale shape: one fanned map-only decode kernel with passthrough
    (the original bytes never cross a join exchange — round 11); the
    only shuffles are the capped band join, the narrow flag joins, and
    the single cluster-id attach. Connected components is the
    pointer-jumping loop. Nothing collects images to the driver; the
    store moves 64-bit hashes only.

    .. note:: **Commit-ordering crash window.** With ``snapshot`` set,
       the kept images' hashes commit to the store as a side effect of
       THIS call — before the caller has written ``out`` anywhere. If
       the caller's downstream sink write then fails, the store
       permanently holds hashes of images that never landed, and every
       future batch drops them as ``dup_of_store``. Batch loops that
       write a sink should pass ``snapshot=None`` and call
       ``store.append_snapshot`` AFTER the sink write succeeds — the
       pattern :func:`~duckdb_vss_spark.streaming.stream_image_curate`
       uses (sink-write precedes commit).
    """
    from .broadcasts import tracked_persist
    from .operators.graph import dedup_clusters
    from .operators.image import hash_transcode_images, image_neardup_pairs

    # ONE fused pass with passthrough: the kernel already holds the
    # original bytes in its Arrow batch, so every input column (bytes
    # included) rides through map-side and the derived signals attach
    # WITHOUT an id join — round 11 removed the images JOIN ht
    # sort-merge exchange that shipped the full byte column across the
    # cluster (VERDICT r10 #3). Persisted because the pair join's hash
    # table, the store match, and the commit all reference it.
    want_stats = min_contrast is not None or min_entropy is not None
    ht = tracked_persist(
        hash_transcode_images(
            images,
            id_col,
            thumb_width,
            thumb_height,
            content_col=content_col,
            quality=quality,
            with_stats=want_stats,
            passthrough=True,
            out_col="thumb",
            # thumbnail=False callers (the image-text pair ledger) never
            # read the thumb column — skip the resize+JPEG work entirely
            # (the column stays, NULL)
            transcode=thumbnail,
        )
    )
    gate = (
        F.col("ok")
        & (F.col("width") >= min_width)
        & (F.col("height") >= min_height)
    )
    if min_contrast is not None:
        gate = gate & (F.col("contrast") >= min_contrast)
    if min_entropy is not None:
        gate = gate & (F.col("entropy") >= min_entropy)
    base = ht.withColumnRenamed("err", "decode_err").withColumn(
        "quality_keep", gate
    )
    hashes = ht.filter("ok").select(id_col, "phash")
    pairs = image_neardup_pairs(
        hashes, id_col, max_hamming=max_hamming, bands=bands,
        max_bucket=max_bucket, combo=combo,
        # pairs only feed connected components: the linear star expansion
        # of identical-hash groups is connectivity-equivalent to the full
        # quadratic pair set (a 10^6-copy viral image is 10^6 edges, not
        # 5*10^11)
        exact_dup_pairs="star",
    )
    out = dedup_clusters(base, id_col, pairs.select("id_a", "id_b")).withColumnRenamed(
        "is_canonical", "dedup_keep"
    )
    keep = F.col("quality_keep") & F.col("dedup_keep")
    if store is not None:
        # the recipe's threshold governs BOTH the in-batch join and the
        # history match (a smaller per-call bound than the store's
        # configured one is always pigeonhole-complete)
        matches = store.match_against(
            hashes, id_col, hash_col="phash",
            max_hamming=max_hamming, max_bucket=max_bucket,
        )
        out = store._flag(out, id_col, matches, "dup_of_store")
        keep = keep & ~F.col("dup_of_store")
    out = out.withColumn("image_keep", keep)
    if store is not None and snapshot is not None:
        # commit the kept images' ALREADY-COMPUTED hashes (an action —
        # the commit is the loop's barrier; no second decode)
        kept = out.filter("image_keep").select(id_col, "phash")
        store.append_snapshot(kept, id_col, snapshot, hash_col="phash")
    return out


def video_curate(
    clips: DataFrame,
    content_col: str = "content",
    id_col: str = "clip_id",
    min_frames: int = 2,
    min_width: int = 32,
    min_height: int = 32,
    max_hamming: int = 4,
    bands: int = 8,
    min_matches: int = 5,
    max_bucket: int = 1000,
    every_nth: int | None = None,
    store=None,
    snapshot: str | None = None,
) -> DataFrame:
    """The video analog of :func:`audio_curate` / :func:`image_curate`,
    completing the modality set: container decode (GIF + MJPEG-AVI,
    dispatched per blob) → per-clip quality gates → offset-consistent
    perceptual near-dup clustering, one flag-don't-drop plan.

    With ``store`` (a :class:`~duckdb_vss_spark.index.video_store.
    VideoFingerprintStore`), the batch ALSO matches against all
    previously ingested video history — ``dup_of_store`` rides along and
    gates ``video_keep`` — and with ``snapshot`` the kept clips' frame
    hashes commit to the store so the NEXT batch dedups against this
    one. Both the in-batch match AND the commit reuse THIS call's
    already-computed frame-hash table: each clip is container-decoded
    exactly once, ever.

    Stages and the flags they add:

    1. **Fused decode + fingerprint**
       (:func:`~.operators.image.fingerprint_videos`, quarantining):
       ``decode_ok`` + ``decode_err``, ``n_frames``,
       ``width``/``height`` (the decoded frame dims), and the per-frame
       pHash arrays — one container decode per clip, pixels never leave
       the kernel.
    2. **Quality gate** — ``quality_keep``: decode succeeded,
       ``n_frames >= min_frames`` (single-frame stubs and busted
       containers are not video), dims at least ``min_width`` x
       ``min_height``.
    3. **Near-dup clustering** — per-frame pHash → banded-Hamming frame
       join → offset votes (:func:`~.operators.image.
       video_neardup_pairs`, hot buckets capped) → connected
       components; ``dedup_keep`` flags one canonical survivor per
       cluster, ``cluster_id`` rides.
    4. ``video_keep`` = ``quality_keep AND dedup_keep``
       (``AND NOT dup_of_store`` with history).

    Scale shape (round 11): ONE fused map-only pass decodes each clip
    and hashes its frames INSIDE the kernel batch — pixels never enter
    a cache or an exchange (the previous shape persisted a W*H*4
    floats-per-frame pixel table and joined the clip bytes back on id,
    a sort-merge exchange of the corpus). The per-clip signal columns
    and the narrow ``(frame_ts, frame_phashes)`` arrays ride next to
    the original bytes shuffle-free; the only shuffles left are the
    capped band join, the vote aggregations, and the cluster-id attach
    join. Only ``(id, t, hash)`` longs ever move for matching.

    ``every_nth`` (frame-sampling stride) is OWNED BY THE STORE when one
    is passed: hashes are only comparable between identically sampled
    frame grids, so the stride defaults from the store manifest and a
    conflicting explicit value raises (ADVICE r10). Without a store it
    defaults to 1.

    .. note:: **Commit-ordering crash window.** With ``snapshot`` set,
       the kept clips' hashes commit to the store as a side effect of
       THIS call — before the caller has written ``out`` anywhere. If
       the caller's downstream sink write then fails, the store
       permanently holds hashes of clips that never landed, and every
       future batch drops them as ``dup_of_store``. Batch loops that
       write a sink should pass ``snapshot=None`` and call
       ``store.append_snapshot`` AFTER the sink write succeeds — the
       pattern :func:`~duckdb_vss_spark.streaming.stream_video_curate`
       uses (sink-write precedes commit).
    """
    from .broadcasts import tracked_persist
    from .operators.dedup import _shared
    from .operators.graph import dedup_clusters
    from .operators.image import fingerprint_videos, video_neardup_pairs

    if store is not None:
        manifest_nth = int(store.manifest.get("every_nth", 1))
        if every_nth is None:
            every_nth = manifest_nth
        elif int(every_nth) != manifest_nth:
            raise ValueError(
                f"every_nth={every_nth} conflicts with the store's frame "
                f"grid (manifest every_nth={manifest_nth}); hashes are only "
                f"comparable between identically sampled grids — omit "
                f"every_nth to inherit the store's"
            )
    elif every_nth is None:
        every_nth = 1
    # ONE fused decode+hash pass, persisted: referenced by the output,
    # the pair join's key table, the store match, and the commit
    base0 = tracked_persist(
        fingerprint_videos(clips, id_col, content_col, every_nth=every_nth)
    )
    base = base0.withColumn(
        "quality_keep",
        F.col("decode_ok")
        & (F.col("n_frames") >= min_frames)
        & (F.col("width") >= min_width)
        & (F.col("height") >= min_height),
    )
    # narrow (id, t, key) frame-hash table — frame_phash's contract —
    # derived from the persisted fused pass (no second decode)
    keys = _shared(
        base0.filter("decode_ok")
        .select(
            F.col(id_col),
            F.explode(F.arrays_zip("frame_ts", "frame_phashes")).alias("z"),
        )
        .select(
            id_col,
            F.col("z.frame_ts").cast("long").alias("t"),
            F.col("z.frame_phashes").alias("key"),
        )
    )
    pairs = video_neardup_pairs(
        keys, id_col, max_hamming=max_hamming, bands=bands,
        min_matches=min_matches, max_bucket=max_bucket,
        # pairs only feed connected components: the linear star expansion
        # of identical-fingerprint clips is connectivity-equivalent
        exact_dup_pairs="star",
    )
    # the hash arrays live on in the persisted fused pass (keys derives
    # from it); the returned ledger stays at the per-clip signal columns
    out = dedup_clusters(
        base.drop("frame_ts", "frame_phashes"), id_col, pairs.select("id_a", "id_b")
    ).withColumnRenamed("is_canonical", "dedup_keep")
    keep = F.col("quality_keep") & F.col("dedup_keep")
    if store is not None:
        matches = store.match_against(
            None, id_col, keys_df=keys, min_matches=min_matches,
            max_hamming=max_hamming, max_bucket=max_bucket,
        )
        out = store._flag(out, id_col, matches, "dup_of_store")
        keep = keep & ~F.col("dup_of_store")
    out = out.withColumn("video_keep", keep)
    if store is not None and snapshot is not None:
        # commit the kept clips' ALREADY-COMPUTED frame hashes (an
        # action — the commit is the loop's barrier; no second decode)
        kept_ids = out.filter("video_keep").select(id_col)
        store.append_snapshot(
            None, id_col, snapshot, keys_df=keys.join(kept_ids, id_col)
        )
    return out


def image_text_pairs(
    pages: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    base_url_col: str | None = None,
    min_alt_tokens: int = 2,
    max_alt_tokens: int = 128,
    min_width: int = 64,
    min_height: int = 64,
    encoding: str = "utf-8",
) -> DataFrame:
    """The pre-fetch stage of an image-text-pair pipeline (the LAION
    recipe's front half, before any image byte is downloaded): crawled
    HTML pages → one candidate (image URL, caption) pair per ``<img>``,
    with every drop decision materialized as a flag — the fetch queue is
    ``filter("pair_keep")``, and the ledger explains the rest.

    Flags and columns per pair (flag-don't-drop):

    - ``img_url`` (absolute, ``<base href>``-aware) and ``img_url_norm``
      (:func:`~.operators.web.normalize_url_expr` canonical form — the
      fetch-dedup key: the same asset linked from a thousand pages is
      fetched once).
    - ``alt``, ``alt_tokens``; ``caption_ok`` — alt text present with
      ``min_alt_tokens <= tokens <= max_alt_tokens`` (no caption means
      nothing to pair; novels in an alt attribute are markup abuse).
    - ``size_ok`` — DECLARED dims at least ``min_width`` x
      ``min_height``; undeclared dims PASS (the gate only drops what the
      markup already proves is a tracking pixel or icon — real size
      gating happens post-fetch in :func:`image_curate`).
    - ``url_canonical`` — exactly one survivor per ``img_url_norm``
      (smallest (id, img_idx), deterministic at any partitioning).
    - ``pair_keep`` = ``caption_ok AND size_ok AND url_canonical``.

    Scale shape: one fanned map-only parse (HTML never leaves the
    executor), map-only normalization/token flags, and ONE url-keyed
    window for the canonical pick — the only shuffle. Fetch, then feed
    the bytes to :func:`image_curate` (pHash dedup catches what URL
    dedup cannot: the same image under different URLs).
    """
    from pyspark.sql import Window

    from .operators.web import extract_image_links, normalize_url_expr

    links = extract_image_links(
        pages, html_col, id_col, base_url_col=base_url_col, encoding=encoding
    )
    toks = F.size(T.tokens(F.col("alt")))
    out = (
        links.withColumn("img_url_norm", normalize_url_expr(F.col("img_url")))
        .withColumn("alt_tokens", F.when(F.col("alt").isNull(), F.lit(0)).otherwise(toks))
        .withColumn(
            "caption_ok",
            F.col("alt").isNotNull()
            & (F.col("alt_tokens") >= min_alt_tokens)
            & (F.col("alt_tokens") <= max_alt_tokens),
        )
        .withColumn(
            "size_ok",
            (F.col("width").isNull() | (F.col("width") >= min_width))
            & (F.col("height").isNull() | (F.col("height") >= min_height)),
        )
    )
    w = Window.partitionBy("img_url_norm").orderBy(id_col, "img_idx")
    out = out.withColumn(
        "url_canonical", F.row_number().over(w) == 1
    ).withColumn(
        "pair_keep",
        F.col("caption_ok") & F.col("size_ok") & F.col("url_canonical"),
    )
    return out


def image_text_curate(
    pairs: DataFrame,
    fetched: DataFrame,
    url_col: str = "img_url_norm",
    fetched_url_col: str = "url",
    content_col: str = "content",
    min_width: int = 64,
    min_height: int = 64,
    max_hamming: int = 10,
    bands: int = 16,
    max_bucket: int = 1000,
    combo: int | str = "auto",
    min_contrast: float | None = None,
    min_entropy: float | None = None,
    store=None,
    snapshot: str | None = None,
) -> DataFrame:
    """The POST-fetch half of the image-text-pair pipeline (LAION
    recipe's back half), completing the loop :func:`image_text_pairs`
    opens: candidate (URL, caption) pairs ⋈ fetched bytes →
    :func:`image_curate` over the unique images → a pair-level keep
    ledger. Feed it the pre-fetch ledger and whatever your fetcher
    returned (``(url, content)`` rows; failures may be missing rows or
    NULL content — both flag, never drop).

    Stages and the columns they add to the pair ledger:

    1. **Fetch join** — ``fetched_ok``: bytes arrived for the pair's
       ``img_url_norm``. The fetch queue was URL-deduped pre-fetch
       (``url_canonical``), so the bytes land once per unique URL and
       every pair of that URL inherits them.
    2. **Image recipe** (:func:`image_curate`, URL as the image id; one
       decode per unique URL): ``img_decode_ok``, ``img_width``/
       ``img_height`` (REAL post-fetch dims — the pre-fetch ``size_ok``
       only saw declared markup dims), ``img_quality_keep``,
       ``img_dedup_keep`` + ``img_cluster_id`` (pHash near-dup — catches
       the same image under different URLs, which URL dedup cannot),
       ``img_phash``, and ``dup_of_store`` when ``store`` (an
       :class:`~duckdb_vss_spark.index.image_store.ImageHashStore`)
       matches against previously ingested history; ``snapshot`` commits
       the kept images' hashes for the next batch (see the
       commit-ordering note on :func:`image_curate`).
    3. **Verdict** — ``pair_keep`` is OVERWRITTEN with the full-chain
       gate: pre-fetch ``pair_keep`` AND ``fetched_ok`` AND
       ``img_keep``. The pre-fetch verdict stays reconstructable from
       its own flags (``caption_ok AND size_ok AND url_canonical``).

    Scale shape: the pair ledger carries captions, never image bytes, so
    the flag join back to pairs moves narrow rows; the bytes live only
    inside :func:`image_curate`'s fused map-side pass. One url-keyed
    join per side plus the recipe's own capped band join.
    """
    from .operators.dedup import _shared

    img_in = fetched.select(
        F.col(fetched_url_col).alias("__iurl"), F.col(content_col).alias("__bytes")
    ).filter(F.col("__iurl").isNotNull())
    curated = image_curate(
        # one decode per unique URL; duplicate fetcher rows (retries)
        # resolve to one arbitrary non-null-bytes row
        img_in.filter(F.col("__bytes").isNotNull()).dropDuplicates(["__iurl"]),
        content_col="__bytes",
        id_col="__iurl",
        min_width=min_width,
        min_height=min_height,
        max_hamming=max_hamming,
        bands=bands,
        max_bucket=max_bucket,
        combo=combo,
        min_contrast=min_contrast,
        min_entropy=min_entropy,
        store=store,
        snapshot=snapshot,
        # the pair ledger carries flags and hashes, never thumbnails —
        # don't pay the 10k-per-batch JPEG encodes nobody reads
        thumbnail=False,
    )
    flag_cols = [
        F.col("__iurl"),
        F.col("ok").alias("img_decode_ok"),
        F.col("width").alias("img_width"),
        F.col("height").alias("img_height"),
        F.col("phash").alias("img_phash"),
        F.col("quality_keep").alias("img_quality_keep"),
        F.col("dedup_keep").alias("img_dedup_keep"),
        F.col("cluster_id").alias("img_cluster_id"),
        F.col("image_keep").alias("img_keep"),
    ]
    if store is not None:
        flag_cols.append(F.col("dup_of_store"))
    # narrow per-URL flag frame — persisted so the expensive decode chain
    # materializes once; the pair join never touches image bytes
    flags = _shared(curated.select(*flag_cols))
    out = pairs.join(flags, pairs[url_col] == flags["__iurl"], "left").drop("__iurl")
    out = out.withColumn(
        "fetched_ok", F.col("img_decode_ok").isNotNull()
    ).withColumn(
        "pair_keep",
        F.col("pair_keep")
        & F.col("fetched_ok")
        & F.coalesce(F.col("img_keep"), F.lit(False)),
    )
    return out


def crawl_ingest(
    batch: DataFrame,
    store,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_blocklist=(),
    domain_cap: int = 100_000,
    store_threshold: float = 0.8,
    append_snapshot: str | None = None,
    robots_rules=None,
) -> DataFrame:
    """Incremental crawl-snapshot ingest — the steady-state loop of a
    RefinedWeb-style pipeline, where each new dump is curated AGAINST THE
    ACCUMULATED HISTORY, not in isolation:

    1. URL stage: normalize URLs, extract the registered domain, flag
       blocklisted domains (``domain_blocked``), flag exact-URL recrawls
       within the batch (``url_dup`` — keep-first on the normalized URL),
       and — when a ``robots_rules`` frame (from
       :func:`~duckdb_vss_spark.operators.web.robots_disallow_rules`) is
       given — flag robots-disallowed URLs (``robots_disallowed``, the
       compliance gate; always present, all-False without rules).
    2. Per-domain cap: ``domain_capped`` = False for the rows a
       hash-deterministic cap of ``domain_cap`` docs/domain would keep.
       The cap races only rows no other flag drops (blocked, recrawled,
       and history-dup rows do not consume slots), so a domain with many
       blocked/recrawled/dup rows still keeps up to ``domain_cap``
       eligible docs.
    3. History dedup: ``dup_of_store`` from
       :meth:`~duckdb_vss_spark.index.dedup_store.MinHashStore.flag_batch`
       — near-dups of ANY previously ingested snapshot.
    4. ``ingest_keep`` = none of the above flags fired.
    5. Optionally commit the kept rows' fingerprints as
       ``append_snapshot`` so the NEXT batch dedups against this one —
       the append reads only kept rows (flag-don't-drop applies to the
       returned frame; the store must not accumulate rejected rows).

    Returns the batch with all flag columns. Every stage is map-only or
    output-bounded (the cap's grouped partial top-k; the store join moves
    band rows, never text), so the per-batch cost scales with the batch
    plus the store's fingerprint size — never with the history's text.
    """
    from .operators.sampling import _hash_of
    from .operators.web import normalize_url, parse_url_parts, per_domain_cap, registered_domain

    b = normalize_url(batch, url_col, out_col="norm_url")
    b = parse_url_parts(b, "norm_url", prefix="__u_")
    b = registered_domain(b, "__u_host", out_col="domain").drop(
        "__u_scheme", "__u_host", "__u_port", "__u_path", "__u_query", "__u_fragment"
    )
    if domain_blocklist:
        bl = [d for d in domain_blocklist]
        b = b.withColumn("domain_blocked", F.col("domain").isin(*bl))
    else:
        b = b.withColumn("domain_blocked", F.lit(False))
    # exact-URL recrawl flag: keep-first by the deterministic id hash.
    # One window over norm_url — adjudicated round 8: the agg+join
    # alternative (map-side min(struct) + AQE-splittable join) was tried
    # and measured 2x SLOWER at moderate skew and only at parity when one
    # key held all 10M rows (exact_dedup's identical keep-first shape,
    # BASELINE.md) — the window's single shuffle wins until one URL's
    # recrawl count exceeds a reducer's sort budget, far beyond any real
    # per-dump hot URL.
    from pyspark.sql import Window

    w = Window.partitionBy("norm_url").orderBy(_hash_of(id_col, "url:"), F.col(id_col))
    b = b.withColumn("url_dup", F.row_number().over(w) > 1)
    if robots_rules is not None:
        from .operators.web import flag_robots_disallowed

        b = flag_robots_disallowed(b, "norm_url", robots_rules)
    else:
        b = b.withColumn("robots_disallowed", F.lit(False))
    b = store.flag_batch(b, text_col, id_col, threshold=store_threshold)
    # The cap is computed over the rows still ELIGIBLE after every other
    # flag (blocked / url-dup / history-dup rows must not consume cap
    # slots — otherwise a domain with many recrawls could end up keeping
    # far fewer than domain_cap docs); rows that never entered the cap
    # race get domain_capped=False (they are dropped by their own flag,
    # not this one).
    eligible = b.filter(
        ~F.col("domain_blocked") & ~F.col("url_dup") & ~F.col("dup_of_store")
        & ~F.col("robots_disallowed")
    )
    capped = per_domain_cap(
        eligible.select(id_col, "domain"), "domain", id_col, domain_cap, keep_col="__cap_keep"
    ).select(id_col, "__cap_keep")
    b = (
        b.join(capped, id_col, "left")
        .withColumn("domain_capped", ~F.coalesce(F.col("__cap_keep"), F.lit(True)))
        .drop("__cap_keep")
    )
    out = b.withColumn(
        "ingest_keep",
        ~F.col("domain_blocked") & ~F.col("url_dup") & ~F.col("domain_capped")
        & ~F.col("dup_of_store") & ~F.col("robots_disallowed"),
    )
    if append_snapshot is not None:
        store.append_snapshot(
            out.filter("ingest_keep").select(id_col, text_col),
            text_col,
            id_col,
            append_snapshot,
        )
    return out


def semantic_curate(
    docs: DataFrame,
    embeddings: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    k_clusters: int = 64,
    sem_eps: float = 0.95,
    select_k: int = 1000,
    centroids: list[tuple] | None = None,
) -> DataFrame:
    """The embedding-era stack: SemDeDup over the embedding table, DSIR
    target-matching selection over the text, and the hashed quality
    classifier — one flag/score frame joined back onto the docs. Adds
    ``sem_keep``, ``sem_cluster``, ``dsir_keep``, ``log_w``,
    ``clf_score``. ``centroids`` (optional) pins the SemDeDup cluster
    assignment to given (cid, vector) literals instead of running
    k-means — the engine-agnostic form the oracle gate uses."""
    from .operators.dedup import semdedup
    from .operators.quality import classifier_score
    from .operators.sampling import dsir_resample

    sem = semdedup(
        embeddings, vec_col, vec_id_col,
        k=None if centroids is not None else k_clusters,
        eps=sem_eps, centroids=centroids,
    ).select(
        F.col(vec_id_col).alias(id_col),
        F.col("cluster_id").alias("sem_cluster"),
        F.col("keep").alias("sem_keep"),
    )
    ds = dsir_resample(docs, text_col, id_col, target, k=select_k).select(
        id_col, "log_w", F.col("keep").alias("dsir_keep")
    )
    out = classifier_score(docs, text_col)
    return (
        out.join(sem, id_col, "left")
        .join(ds, id_col, "left")
        .withColumn("sem_keep", F.coalesce("sem_keep", F.lit(True)))
        .withColumn("dsir_keep", F.coalesce("dsir_keep", F.lit(False)))
    )


def warc_ingest(
    spark,
    warc_path: str,
    store,
    min_status: int = 200,
    max_status: int = 299,
    html_only: bool = True,
    main_content: bool = False,
    encoding: str = "auto",
    **crawl_kwargs,
) -> DataFrame:
    """The full crawl front in one lazy plan: WARC segments -> HTTP
    response records (:func:`~duckdb_vss_spark.sources.warc.read_warc`) ->
    status/content-type gate -> HTML text extraction
    (:func:`~duckdb_vss_spark.operators.web.extract_html_text`) ->
    :func:`crawl_ingest` (URL normalize/flags, per-domain cap, history
    dedup against ``store``). Returns the flagged document frame with
    ``title``/``text``/``n_text_chars`` plus every crawl_ingest flag;
    ``doc_id`` is ``hash64('warc:' || record_id)`` — deterministic, so
    re-processing a segment yields identical ids.

    Every stage before the crawl_ingest flags is map-only (parse and
    extract never shuffle); segment files are the parallelism unit.

    ``main_content=True`` swaps the keep-everything HTML extraction for
    the jusText-style boilerplate-removing
    :func:`~duckdb_vss_spark.operators.web.extract_main_content`;
    ``encoding`` defaults to per-doc charset sniffing.
    """
    from .functions.text import hash64
    from .operators.web import extract_html_text, extract_main_content
    from .sources.warc import read_warc

    recs = read_warc(spark, warc_path)
    ok = recs.filter(
        (F.col("http_status") >= min_status) & (F.col("http_status") <= max_status)
    )
    if html_only:
        ok = ok.filter(F.lower(F.coalesce("http_content_type", F.lit(""))).contains("html"))
    ok = ok.withColumn("doc_id", hash64(F.concat(F.lit("warc:"), F.col("record_id"))))
    # url rides THROUGH the extraction projection (carry_cols) — a
    # doc_id self-join here would re-run the segment parse on both sides
    # and add an exchange
    extractor = extract_main_content if main_content else extract_html_text
    docs = extractor(
        ok.select("doc_id", "url", "body"), "body", "doc_id",
        encoding=encoding, carry_cols=("url",),
    )
    return crawl_ingest(docs, store, url_col="url", text_col="text", id_col="doc_id", **crawl_kwargs)


def curate_corpus(
    docs: DataFrame,
    store=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench: DataFrame | None = None,
    bench_text_col: str = "text",
    decontam_n: int = 3,
    decontam_broadcast: bool = True,
    quality_threshold: float = 0.5,
    store_threshold: float = 0.5,
    strata_col: str | None = None,
    alpha: float = 0.5,
    mix_weight_col: str | None = None,
    mix_target: float | None = None,
    pack_budget: int | None = None,
    snapshot: str | None = None,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """The composed pretraining-data recipe — the artifact a pipeline user
    actually ships: quality gate → cross-snapshot MinHashStore dedup →
    benchmark decontamination → temperature mixing → sequence packing, in
    ONE call over a document frame, flag-don't-drop throughout.

    This is the back half of the crawl→curate path; feed it raw documents,
    or the output of :func:`warc_ingest` / :func:`crawl_ingest` (when an
    ``ingest_keep`` column is present it gates participation in the mixing
    race and folds into the final verdict — crawl-rejected rows never
    consume mixture slots).

    Stages and the columns they add (every input row survives; callers
    filter on ``curate_keep``):

    1. **Quality** (:func:`~.operators.quality.classifier_score` +
       :func:`~.functions.text.token_count`): ``clf_score``, ``n_tok``,
       ``quality_ok = clf_score >= quality_threshold``. Map-only.
    2. **History dedup** (``store``, a
       :class:`~.index.dedup_store.MinHashStore`): ``dup_of_store`` —
       near-dup of ANY previously committed snapshot at
       ``store_threshold``. O(batch + store fingerprints); the history's
       TEXT is never read. ``store=None`` skips (column all-False).
    3. **Decontamination** (:func:`~.operators.quality.decontaminate` vs
       ``bench``): ``n_hit_grams``, ``contaminated``. Broadcast probe of
       the deduped benchmark gram set. ``bench=None`` skips.
    4. **Temperature mixing** (:func:`~.operators.sampling.temperature_rates`
       + the exact-count :func:`~.operators.sampling.stratified_sample`
       cut, Arivazhagan et al. 2019): ``mix_keep``. The race runs ONLY
       over rows no earlier flag dropped (same convention as
       :func:`crawl_ingest`'s domain cap: a row dropped by its own flag
       neither consumes a mixture slot nor is blamed by this one —
       non-participants get ``mix_keep=True``). ``strata_col=None``
       skips.
    5. **Packing** (:func:`~.operators.sampling.pack_sequences`):
       ``pack_id`` over the FINAL kept rows (budget ``pack_budget``
       ``n_tok`` tokens per pack, sharded by ``strata_col``), NULL for
       dropped rows. ``pack_budget=None`` skips.
    6. ``curate_keep`` = every gate passed (AND ``ingest_keep`` when the
       crawl front supplied one).

    ``snapshot``: commit the kept rows' fingerprints to ``store`` under
    that name, so the NEXT batch dedups against this one — the
    steady-state incremental loop.

    ``bench_grams``: precomputed deduped benchmark ``gram`` frame (see
    :func:`~.operators.quality.decontaminate`) — batch loops running many
    batches against the same benchmark pass a persisted one so the
    benchmark explode+distinct does not rerun per batch.

    100-TB posture: stages 1-3 are map-only or broadcast-probe (no
    all-pairs anywhere — the store join moves band rows, never text); the
    mixing race is one shuffle keyed by the stratum; packing is one window
    per shard over kept rows only. The only driver-side collect is
    ``temperature_rates``'s one-row-per-stratum aggregate (strata are
    vocabulary-scale). Every stage's plan is the underlying operator's
    own oracle-gated plan — this function only wires flag joins, all on
    the id column.
    """
    from .operators.dedup import _fan_out
    from .operators.quality import classifier_score, decontaminate
    from .operators.sampling import pack_sequences, stratified_sample, temperature_rates

    # fan the document frame to cluster width FIRST: a single-file source
    # arrives as one partition, and the recipe's map-only stages
    # (classifier, token counts, decontamination probe) inherit it — the
    # whole quality pass was measured serializing onto one core while 31
    # idled (round 12; the MinHash stage re-fans itself, these do not).
    # Doc rows are cheap to shuffle relative to anything derived from them.
    out = classifier_score(_fan_out(docs), text_col)
    out = out.withColumn("n_tok", T.token_count(F.col(text_col)))
    out = out.withColumn(
        "quality_ok", F.col("clf_score") >= F.lit(float(quality_threshold))
    )
    hits = None
    if store is not None:
        # flag_batch inlined with the matched-id set PERSISTED: the hits
        # probe is the whole signature chain (batch MinHash shuffle +
        # band join against every committed snapshot), and it is
        # re-evaluated by EVERY downstream driver action (the narrow
        # flag-frame materialization AND the caller's final action both
        # reference it as a fresh broadcast side — measured as two
        # ~equal heavy jobs per call, round 12). The set is bounded by
        # the batch's matched ids — a few longs per duplicate.
        from .broadcasts import tracked_persist

        hits = tracked_persist(
            store.match_against(out, text_col, id_col, store_threshold)
            .select(F.col("id").alias("__mid"))
            .distinct()
        )
        out = (
            out.join(hits, F.col(id_col) == F.col("__mid"), "left")
            .withColumn("dup_of_store", F.col("__mid").isNotNull())
            .drop("__mid")
        )
    else:
        out = out.withColumn("dup_of_store", F.lit(False))
    if bench is not None or bench_grams is not None:
        out = decontaminate(
            out, text_col, id_col, bench, bench_text_col, n=decontam_n,
            broadcast=decontam_broadcast, bench_grams=bench_grams,
        )
    else:
        out = out.withColumn("n_hit_grams", F.lit(0).cast("long")).withColumn(
            "contaminated", F.lit(False)
        )
    surv = (
        F.col("quality_ok") & ~F.col("dup_of_store") & ~F.col("contaminated")
    )
    if "ingest_keep" in docs.columns:
        surv = surv & F.col("ingest_keep")
    # The mixing and packing stages each run driver-side aggregates
    # (temperature_rates' one collect; the exact-cut's two; packing's
    # bucket offsets) — without a persisted intermediate, EVERY one of
    # those actions would recompute the quality classifier, the MinHash
    # signatures + store band join, and the decontamination probe from
    # scratch (measured ~6 evaluations of the heavy chain at 1M docs).
    # Persist the NARROW flag projection only — ids, token counts,
    # stratum, booleans; never the text — so the heavy operators run once
    # to materialize it and every stage collect reuses it. The frame is
    # ~tens of bytes/row (memory-then-disk), and the returned DataFrame's
    # joins reference it, so it stays persisted (Spark evicts LRU).
    narrow = None
    if strata_col is not None or pack_budget is not None:
        from .broadcasts import tracked_persist

        cols = [
            id_col, "clf_score", "n_tok", "quality_ok", "dup_of_store",
            "n_hit_grams", "contaminated",
        ]
        if "ingest_keep" in docs.columns:
            cols.append("ingest_keep")
        for extra in (strata_col, mix_weight_col):
            if extra is not None and extra not in cols:
                cols.append(extra)
        narrow = tracked_persist(out.select(*cols))
    if narrow is None:
        # no mixing, no packing: the plan stays PURELY map-only over the
        # documents (plus the bounded broadcast probes) — no shuffle of
        # the text column at all
        out = out.withColumn("mix_keep", F.lit(True))
        out = out.withColumn("curate_keep", surv & F.col("mix_keep"))
        out = out.withColumn("pack_id", F.lit(None).cast("long"))
    else:
        # The mix/pack joins force one id-keyed exchange of the document
        # rows no matter what, so the final frame is assembled as ONE
        # join of the documents against a consolidated per-id decision
        # frame built entirely from the persisted narrow flags. The
        # previous shape joined kept/packed into the RAW heavy chain,
        # and the optimizer duplicated the classifier/token expressions
        # into 7 plan branches (round-12 plan audit) — every final-action
        # row paid the quality chain several times over; now the heavy
        # operators run exactly once, to materialize the narrow frame.
        decisions = narrow
        if strata_col is not None:
            parts = narrow.filter(surv)
            rates = temperature_rates(
                parts, strata_col, alpha, weight_col=mix_weight_col,
                target_total=mix_target,
            )
            kept = stratified_sample(
                # derives from the persisted narrow frame: deterministic,
                # so the operator's own internal persist would only
                # double-cache; the rates dict is one entry per surviving
                # stratum, so it IS the stratum count — skip the
                # operator's sizing action
                parts.select(id_col, strata_col), strata_col, rates, id_col,
                internal_persist=False, n_strata=len(rates),
            ).select(id_col, F.lit(True).alias("__mix"))
            decisions = (
                decisions.join(kept, id_col, "left")
                # participants that lost the race: False; non-participants:
                # True (dropped by their own flag, not this one)
                .withColumn("mix_keep", F.coalesce(F.col("__mix"), ~surv))
                .drop("__mix")
            )
        else:
            decisions = decisions.withColumn("mix_keep", F.lit(True))
        decisions = decisions.withColumn("curate_keep", surv & F.col("mix_keep"))
        if pack_budget is not None:
            shard = strata_col
            # kept rows, reconstructed narrow-side: keep = surv AND
            # won-the-mix (non-participants' mix_keep=True never reaches
            # the pack — their surv is False)
            pack_src = narrow.filter(surv)
            if strata_col is not None:
                pack_src = pack_src.join(kept.select(id_col), id_col)
            packed = pack_sequences(
                pack_src.select(id_col, "n_tok", *([shard] if shard else [])),
                "n_tok",
                pack_budget,
                id_col,
                shard_col=shard,
                internal_persist=False,  # derives from the persisted narrow frame
                # sharded by the mix strata (their count is len(rates)) or
                # packed as one logical shard — either way the count is known
                n_shards=(len(rates) if strata_col is not None else 1),
            ).select(id_col, "pack_id")
            decisions = decisions.join(packed, id_col, "left")
        else:
            decisions = decisions.withColumn("pack_id", F.lit(None).cast("long"))
        new_cols = [
            "clf_score", "n_tok", "quality_ok", "dup_of_store",
            "n_hit_grams", "contaminated", "mix_keep", "curate_keep", "pack_id",
        ]
        # reproduce the incremental-withColumn semantics exactly: a flag
        # column the input ALREADY had (e.g. a crawl front's
        # dup_of_store) is REPLACED in place, the rest append in order
        d = docs.alias("__curate_docs")
        f = decisions.select(id_col, *new_cols).alias("__curate_flags")
        joined = d.join(f, id_col)
        sel = []
        for c in docs.columns:
            if c == id_col:
                sel.append(F.col(id_col))
            elif c in new_cols:
                sel.append(F.col(f"__curate_flags.{c}").alias(c))
            else:
                sel.append(F.col(f"__curate_docs.{c}").alias(c))
        sel += [
            F.col(f"__curate_flags.{c}").alias(c)
            for c in new_cols
            if c not in docs.columns
        ]
        out = joined.select(*sel)
    if snapshot is not None:
        if store is None:
            raise ValueError("snapshot commit requires a store")
        store.append_snapshot(
            out.filter("curate_keep").select(id_col, text_col),
            text_col,
            id_col,
            snapshot,
        )
    # The persisted narrow frame has two release paths: (1) the private
    # _curate_narrow attribute lets a batch loop that holds THIS exact
    # DataFrame (streaming.stream_curate) unpersist eagerly per batch —
    # note any transformation returns a new object without the attribute;
    # (2) the frame is registered in the bounded tracked-persist LRU ring
    # (broadcasts.tracked_persist), so plain batch callers either call
    # duckdb_vss_spark.release_caches() explicitly or let the ring evict
    # the oldest frame — repeated invocations can no longer accumulate
    # caches without bound.
    out._curate_narrow = narrow
    out._curate_hits = hits
    return out
