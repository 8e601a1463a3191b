"""Deduplication operators for LLM training-data pipelines (north-star
surface, BASELINE.json): exact, MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup.

Scale design notes (the part that matters at 100 TB):
- every operator is a pure relational composition (hash/sort shuffles that
  AQE can size) — no driver-side loops, no cross joins except where noted;
- candidate generation always goes through an *inverted* structure
  (fingerprint groups, LSH band buckets, shared shingles, shared SimHash
  bands) so the quadratic all-pairs step only happens inside small buckets;
- pair outputs are canonicalized ``id_a < id_b`` so results are
  deterministic and hash-comparable.
"""

from __future__ import annotations

import hashlib
import re
from collections import OrderedDict

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..broadcasts import tracked_broadcast
from ..functions.distance import array_cosine_similarity
from ..functions.text import (
    DEFAULT_NUM_PERM,
    fingerprint_md5,
    hash64,
    word_ngrams,
    word_ngrams_all,
)

__all__ = [
    "exact_dedup",
    "minhash_per_doc",
    "band_buckets_expr",
    "minhash_bands_local",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "embedding_neardup_pairs",
    "semdedup",
    "winnow_fingerprint_rows",
    "duplicated_spans",
    "duplicated_span_profile",
    "remove_duplicated_spans",
    "line_dedup",
]


def _admissible_cell_pairs(cents, rmax, r):
    """Ordered cell pairs (i, j) that can possibly hold a point pair within
    radius ``r``: triangle inequality ``|c_i - c_j| <= rmax_i + rmax_j + r``.
    Candidates are complete for any point assignment consistent with
    ``rmax`` (per-cell max residual)."""
    import numpy as np

    cc = (cents * cents).sum(1)
    cdist = np.sqrt(np.maximum(cc[:, None] + cc[None, :] - 2.0 * (cents @ cents.T), 0.0))
    return np.nonzero(cdist <= rmax[:, None] + rmax[None, :] + r)


def winnow_fingerprint_rows(df: DataFrame, text_col: str, id_col: str, k: int = 5, w: int = 8) -> DataFrame:
    """Rolling-hash winnowing fingerprints (MOSS algorithm), one row per
    (id, fp) — the corpus-scale form of
    :func:`~duckdb_vss_spark.functions.text.winnow_fingerprints`.

    Each k-gram is hashed exactly once (JVM md5 pipeline, materialized at
    the Arrow boundary); the sliding w-window minima + per-doc dedupe then
    run as a vectorized numpy kernel (``sliding_window_view(...).min``) —
    so the whole operator is map-only: zero shuffles, zero sorts, and only
    fingerprints leave the task. Two rejected forms, both measured at
    sf0.1: the exploded-gram window aggregate pays an Exchange + sort over
    n_docs x n_grams rows (~5.5 s), and a pure-HOF
    ``transform(sequence, i -> array_min(slice(gh, ...)))`` looks
    shuffle-free but CollapseProject inlines the md5 array into the lambda,
    re-evaluating the whole hash pipeline once per window (O(n^2), ~5.6 s);
    the Arrow form does the same work in ~1.5 s and ships nothing.

    A narrow input (single file) is fanned out to cluster width first —
    doc-level rows, orders of magnitude cheaper than the old exploded-gram
    shuffle. Output: (id_col, fp BIGINT) distinct.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    from ..functions.text import char_gram_hashes

    par = df.sparkSession.sparkContext.defaultParallelism
    if _plan_partitions(df) < par:
        df = df.repartition(par)
    base = df.select(F.col(id_col).alias("id"), char_gram_hashes(text_col, k).alias("gh"))
    id_t = dict(base.dtypes)["id"]

    def win_min(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids, fps = [], []
            for i, gh in zip(pdf["id"], pdf["gh"]):
                arr = np.asarray(gh, dtype=np.int64)
                if arr.size == 0:
                    continue
                # full windows only; a doc with fewer than w grams keeps its
                # single all-grams window (mirrors max(1, n-w+1))
                mins = sliding_window_view(arr, min(w, arr.size)).min(axis=1)
                u = np.unique(mins)
                ids.append(np.full(u.size, i))
                fps.append(u)
            if ids:
                yield pd.DataFrame({"id": np.concatenate(ids), "fp": np.concatenate(fps)})

    out = base.mapInPandas(win_min, schema=f"id {id_t}, fp bigint")
    return out.withColumnRenamed("id", id_col)


def _fan_out(df: DataFrame) -> DataFrame:
    """Fan a narrow input out to cluster width BEFORE the heavy per-doc
    hashing projections. A single-file source arrives as one partition; a
    projection inherits that, serializing the md5/shingle work onto one
    task while the rest of the cluster idles. Doc-level rows are orders of
    magnitude cheaper to shuffle than anything derived from them. Inputs
    already at cluster width pass through untouched."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if _plan_partitions(df) < par:
        return df.repartition(par)
    return df


# partition-count memo for _plan_partitions: (session, semanticHash) -> n.
# Bounded LRU — the working set is the handful of operator-input shapes a
# pipeline or bench loop rebuilds per call.
_NP_MEMO: "OrderedDict[tuple, int]" = OrderedDict()
_NP_MEMO_MAX = 256


def _plan_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan, memoized on the ANALYZED
    plan's semantic hash. ``df.rdd.getNumPartitions()`` forces physical
    planning on the driver (~50-100 ms per call, growing with plan size);
    every operator's fan-out guard paid it once per invocation — per bench
    rep, per streaming micro-batch, per recipe stage (round 13). Analysis
    is already done eagerly at DataFrame creation, so ``semanticHash`` is
    near-free, and semantically equal plans have equal partitioning. A
    hash collision can only mis-size the fan-out repartition (an extra or
    a skipped exchange), never change results; a streaming batch's plan
    embeds its own source, so per-batch frames never alias."""
    try:
        key = (df.sparkSession, df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        return df.rdd.getNumPartitions()
    hit = _NP_MEMO.get(key)
    if hit is not None:
        _NP_MEMO.move_to_end(key)
        return hit
    n = df.rdd.getNumPartitions()
    _NP_MEMO[key] = n
    if len(_NP_MEMO) > _NP_MEMO_MAX:
        _NP_MEMO.popitem(last=False)
    return n


def _shared(df: DataFrame) -> DataFrame:
    """Persist a per-document intermediate that downstream bucket self-joins
    reference 3-4 times (both join sides + signature lookups). Spark performs
    no common-subplan deduplication, so without this the entire upstream
    tokenize/hash/aggregate pipeline recomputes once per reference — measured
    3.5x slower on the simhash operator at sf0.1. MEMORY_AND_DISK: one row
    per document (ids + signatures), spills gracefully at scale."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate assignment: every row mapped to the smallest id
    sharing its normalized-text fingerprint.

    Output: (id_col, canonical_id, fingerprint, group_size).

    One shuffle: min/count over the fingerprint window partition. A
    map-side-combinable aggregate joined back to the rows (two shuffles,
    whose skewed join AQE can split) measured slower: 13.1 s vs 4.7 s at
    10M rows with a 50%-hot fingerprint, and about even (7.2 vs 8.0 s)
    when all 10M rows share one fingerprint (local[32]; BASELINE.md).
    """
    fp = df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return fp.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("canonical_id"),
        "fingerprint",
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_count: int = 2,
    keep_first: bool = True,
    line_sep: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """Corpus-level exact line deduplication (the RefinedWeb / C4 stage
    between line cleaning and document dedup): every occurrence of a
    trimmed, non-empty line whose exact text appears in >= ``min_count``
    line occurrences across the WHOLE corpus is removed — except, when
    ``keep_first``, the single globally-first occurrence (smallest
    ``(id, position)``), which survives. Empty/whitespace lines are
    document structure, never counted or removed.

    Appends ``out_col`` (surviving lines re-joined with ``line_sep``;
    defaults to overwriting ``text_col``), ``n_lines`` and
    ``n_removed_lines``.

    Scale shape — the document text never enters an Exchange:

    1. map-only explode to ``(id, pos, hash64(trim(line)))`` — 20 bytes
       per line occurrence, the narrowest possible representation;
    2. one aggregation on the line hash (map-side-combinable count +
       ``min(struct(id, pos))`` keeper) filtered to the heavy set;
    3. a join of occurrences against the heavy set (tiny next to the
       corpus — AQE broadcasts it when it fits; a boilerplate line with
       10^9 occurrences skews a shuffle join's key, the broadcast form is
       skew-immune) and one per-doc ``collect_set`` of removal positions,
       shuffling only docs that lose lines;
    4. a left join back to the full rows and an index-lambda ``filter``
       over the original split array — the rebuild is map-side
       (removal-position sets are per-doc small).

    Matching is by the shared 60-bit md5 hash (collision odds ~n²/2⁶¹;
    join line text instead if byte-certainty is required).

    ``line_sep`` is used as split regex and re-join literal — pass a
    literal separator.
    """
    out_col = out_col or text_col
    lines = F.split(F.col(text_col), line_sep)
    occ = (
        _fan_out(df)
        .select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), line_sep)).alias("__pos", "__line"),
        )
        .filter(F.length(F.trim(F.col("__line"))) > 0)
        .select("__id", "__pos", hash64(F.trim(F.col("__line"))).alias("__h"))
    )
    heavy = (
        occ.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct(F.col("__id"), F.col("__pos"))).alias("__keep"),
        )
        .filter(F.col("__c") >= min_count)
    )
    removals = occ.join(heavy, "__h")
    if keep_first:
        removals = removals.filter(
            ~((F.col("__id") == F.col("__keep.__id")) & (F.col("__pos") == F.col("__keep.__pos")))
        )
    rm = removals.groupBy("__id").agg(F.collect_set("__pos").alias("__rm"))
    joined = df.join(rm, F.col(id_col) == F.col("__id"), "left").drop("__id")
    kept = F.filter(lines, lambda x, i: F.col("__rm").isNull() | ~F.array_contains("__rm", i))
    return (
        joined.withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_removed_lines", F.coalesce(F.size("__rm"), F.lit(0)).cast("long"))
        .withColumn(out_col, F.array_join(kept, line_sep))
        .drop("__rm")
    )


def _pairs_from_groups(grouped: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """(bucket keys, id) -> distinct candidate pairs (id_a < id_b) via
    self-join within buckets."""
    a = grouped.select(*key_cols, F.col(id_col).alias("id_a"))
    b = grouped.select(*key_cols, F.col(id_col).alias("id_b"))
    return (
        a.join(b, key_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_per_doc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_perm: int = DEFAULT_NUM_PERM,
    with_shingles: bool = False,
    share: bool = True,
) -> DataFrame:
    """Per-document MinHash signature: ``(id, sig ARRAY<LONG>[num_perm]
    [, shingles])`` — the shared signature stage of :func:`minhash_lsh_pairs`
    and the persisted :class:`~duckdb_vss_spark.index.dedup_store
    .MinHashStore`.

    Explodes shingles to ROWS and hashes them in whole-stage codegen, then
    collects the hash-half arrays behind a groupBy shuffle. Expression-only
    forms are quadratic here: HOF lambdas re-evaluate their argument
    subtrees per invocation, so a nested shingle->md5->minhash expression
    re-runs the tokenize+md5 pipeline once per permutation per band
    (measured 160 ms/row; this form is ~1 ms/row). The shuffle is the same
    one LSH needs for band-bucketing anyway, so at 100 TB this costs one
    extra narrow stage, not an extra shuffle.
    """
    from ..functions.text import minhash_from_halves

    # KEYED fan-out (round 13): hash-partition the doc rows BY id rather
    # than round-robin. The groupBy(id) below then reuses this exchange
    # (hashpartitioning(id) satisfies the aggregate's distribution), so
    # the exploded shingle->hash rows — 3-4x the doc bytes — never cross
    # a shuffle: the only exchange in the signature chain moves the
    # narrow doc rows once (guide §2.4/§8: shuffle the lightweight rows,
    # compute the heavy derivation after the exchange). Ids are unique,
    # so the hash spread is as even as round-robin. Width is the larger
    # of cluster parallelism and the configured shuffle width — the same
    # width the groupBy(id) below would pick on its own — NOT
    # df.rdd.getNumPartitions(): resolving a frame's partition count
    # forces physical planning on the driver (~50-100 ms measured),
    # paid once per call, i.e. per bench rep and per streaming
    # micro-batch.
    sess = df.sparkSession
    try:
        shuf = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuf = 0  # vendor runtimes allow non-numeric values ("auto")
    par = max(sess.sparkContext.defaultParallelism, shuf)
    keyed = df.repartition(par, F.col(id_col))
    shingled = keyed.select(
        F.col(id_col), F.explode(word_ngrams(text_col, shingle_n)).alias("s")
    )
    # fixed-name Column fragments are session-memoized: the minhash
    # chain's py4j construction (~150 ms/call) is paid once per session
    # instead of per operator call / per streaming micro-batch
    from ..functions.text import memo_column

    h1 = memo_column(
        ("mh_h1",), lambda: F.conv(F.substring(F.md5("s"), 1, 10), 16, 10).cast("long")
    )
    h2 = memo_column(
        ("mh_h2",), lambda: F.conv(F.substring(F.md5("s"), 11, 10), 16, 10).cast("long")
    )
    hashed = shingled.select(
        F.col(id_col),
        F.col("s"),
        h1.alias("h1"),
        h2.alias("h2"),
    )
    aggs = [F.collect_list("h1").alias("h1s"), F.collect_list("h2").alias("h2s")]
    if with_shingles:
        aggs.append(F.collect_list("s").alias("shingles"))
    # share=True persists for consumers that reference the frame several
    # times (minhash_lsh_pairs' bucket self-join); single-reference
    # consumers (the MinHashStore's band_rows: one write or one
    # broadcast-side join) pass share=False — their persist would be pure
    # overhead AND a cache leak in per-micro-batch streaming loops
    per = hashed.groupBy(id_col).agg(*aggs)
    if share:
        per = _shared(per)
    sig = memo_column(
        ("mh_sig", num_perm),
        lambda: minhash_from_halves(F.col("h1s"), F.col("h2s"), num_perm),
    )
    cols = [F.col(id_col), sig.alias("sig")]
    if with_shingles:
        cols.append(F.col("shingles"))
    return per.select(*cols)


def band_buckets_expr(sig, num_perm: int, bands: int):
    """ARRAY<LONG>[bands] of LSH band buckets for a materialized ``sig``
    column: hash64 of the comma-joined band slice. md5-based (not
    ``F.hash``) so the duckdb oracle produces identical buckets.
    String column names get the session Column memo (the bands x md5
    chain is another ~50 ms of py4j construction per call)."""
    assert num_perm % bands == 0, "num_perm must divide into equal bands"
    if isinstance(sig, str):
        from ..functions.text import memo_column

        name = sig
        return memo_column(
            ("band_buckets", name, num_perm, bands),
            lambda: band_buckets_expr(F.col(name), num_perm, bands),
        )
    rows_per_band = num_perm // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.conv(
            F.substring(
                F.md5(
                    F.array_join(
                        F.transform(
                            F.slice(sig, b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )


# Java's ``\s`` (no UNICODE_CHARACTER_CLASS flag): the whitespace class of
# the tokenizer's ``split(trim(text), '\s+')``. U+00A0, U+2003 and the like
# stay inside tokens.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def minhash_bands_local(ids, texts, shingle_n: int, num_perm: int, bands: int):
    """:func:`minhash_per_doc` + :func:`band_buckets_expr` on the driver,
    for a batch already collected: ``(ids, sig, buckets)`` with one entry
    per distinct id that has text, ``sig`` int64 ``[n, num_perm]`` and
    ``buckets`` int64 ``[n, bands]``, bit-identical to the Spark rows.

    The hashing follows the Spark expressions step by step: ``trim`` strips
    only U+0020, the text splits on Java ``\\s+``, shingles are the distinct
    word n-grams (a document shorter than ``shingle_n`` words is one
    partial shingle), each shingle's md5 halves feed the mod-2^40 double
    hashing, and a band's bucket is the md5 of its comma-joined decimal
    slice, first 15 hex digits. Rows sharing an id sign the union of their
    shingles, as the ``groupBy(id)`` does; a null text signs nothing."""
    import numpy as np

    from ..functions.text import MINHASH_MOD

    shingles: dict = {}
    for i, text in zip(ids, texts):
        if text is None:
            continue
        t = _JAVA_WS.split(text.strip(" "))
        shingles.setdefault(i, set()).update(
            " ".join(t[j : j + shingle_n]) for j in range(max(1, len(t) - shingle_n + 1))
        )
    out_ids = list(shingles)
    n = len(out_ids)
    sig = np.empty((n, num_perm), dtype=np.int64)
    buckets = np.empty((n, bands), dtype=np.int64)
    if n == 0:
        return out_ids, sig, buckets
    sets = shingles.values()
    digests = np.frombuffer(
        b"".join(hashlib.md5(s.encode()).digest() for ss in sets for s in ss), dtype=np.uint8
    ).reshape(-1, 16).astype(np.int64)
    # the first 10 and next 10 hex digits: bytes 0-4 and 5-9, big-endian
    weights = np.int64(1) << np.arange(32, -1, -8, dtype=np.int64)
    h1, h2 = digests[:, 0:5] @ weights, digests[:, 5:10] @ weights
    # every signed id has at least one shingle, so the starts strictly rise
    starts = np.cumsum([0] + [len(ss) for ss in sets][:-1])
    for p in range(num_perm):
        sig[:, p] = np.minimum.reduceat((h1 + p * h2) % MINHASH_MOD, starts)
    rows = num_perm // bands
    for d, row in enumerate(sig.tolist()):
        for b in range(bands):
            band = ",".join(map(str, row[b * rows : (b + 1) * rows]))
            buckets[d, b] = int(hashlib.md5(band.encode()).hexdigest()[:15], 16)
    return out_ids, sig, buckets


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    shingle -> minhash(num_perm) -> band buckets (bands x rows_per_band) ->
    bucket self-join -> exact Jaccard verification >= threshold.

    Output: (id_a, id_b, jaccard DOUBLE). The band bucket join is the classic
    LSH candidate generator: only documents agreeing on a full band collide,
    so the self-join stays near-linear on non-adversarial corpora.
    """
    per_doc = minhash_per_doc(df, text_col, id_col, shingle_n, num_perm, with_shingles=True)
    banded = per_doc.select(
        F.col(id_col),
        F.posexplode(band_buckets_expr("sig", num_perm, bands)).alias("b", "bucket"),
    )
    # candidates: equal bucket hash in ANY band -> one self-join on (band, bucket)
    cand = _pairs_from_groups(banded, ["b", "bucket"], id_col)
    sh = per_doc.select(F.col(id_col), "shingles")
    # shingle arrays are DISTINCT sets (word_ngrams array_distincts; the
    # per-doc collect_list re-collects that exploded distinct array), so
    # |union| == |A| + |B| - |intersect| exactly: the same integer, hence
    # the same double quotient — and the array_union hash-build over
    # |A|+|B| elements per candidate drops out of the verify kernel
    # (isolated ABAB probe at the ngram geometry: 1.31x)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    ja = (
        cand.join(sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")
            ).alias("jaccard"),
        )
    )
    return ja.filter(F.col("jaccard") >= threshold)


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairs with Hamming distance <= max_hamming.

    Exact under banding: a 60-bit simhash split into ``bands`` equal chunks —
    any pair within Hamming distance < bands must agree on >= 1 chunk
    (pigeonhole), so the chunk-bucket join finds ALL such pairs; the final
    bit_count filter is then exact. Requires ``max_hamming < bands``.

    Output: (id_a, id_b, hamming INT).
    """
    if max_hamming >= bands:
        raise ValueError("exactness requires max_hamming < bands (pigeonhole)")
    from ..functions.text import SIMHASH_BITS, tokens

    # Per-token hashes stay in the JVM md5 pipeline — hash64 applied inside
    # transform is LINEAR (one evaluation per element; the collapse trap only
    # bites when a whole-array subtree is referenced per element) — and the
    # bit-majority vote runs as a numpy kernel at the Arrow boundary:
    # (n_tokens x 56) bit matrix, one column-sum, one pack. The signature is
    # doc-local, so this stage is map-only — the previous 61-sum hash
    # aggregate paid an explode + a grouping Exchange to compute votes the
    # document's own task already had in hand.
    from typing import Iterator

    import numpy as np
    import pandas as pd

    nbits = SIMHASH_BITS - 4  # top 4 bits of the 60-bit md5-derived hash are 0
    from ..functions.text import memo_column

    if isinstance(text_col, str):
        tc = text_col
        hs = memo_column(
            ("simhash_hs", tc),
            lambda: F.transform(F.array_distinct(tokens(tc)), lambda t: hash64(t)),
        )
    else:
        hs = F.transform(F.array_distinct(tokens(text_col)), lambda t: hash64(t))
    base = _fan_out(df).select(F.col(id_col).alias("id"), hs.alias("hs"))
    id_t = dict(base.dtypes)["id"]

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Fully vectorized across the batch (the round-4 kernel looped per
        # doc, building a (tokens x 56) matrix each iteration — the hottest
        # remaining Python). Bit votes come from one np.unpackbits over the
        # concatenated hash bytes; per-doc vote sums from one
        # np.add.reduceat (integer adds — order-free, so reduceat's pairwise
        # reduction is exact). Token-less docs are dropped BEFORE reduceat:
        # they carry no signal (matches the SQL oracle, whose explode of an
        # empty token array yields no rows) — and an empty reduceat segment
        # would return the neighbor's row instead of zero.
        shifts = np.arange(nbits, dtype=np.int64)
        CHUNK_TOKENS = 1 << 18  # bounds the unpacked bit matrix to ~60 MB
        for pdf in batches:
            hs_arr = pdf["hs"].to_numpy()
            lens = np.fromiter((len(h) for h in hs_arr), dtype=np.int64, count=len(hs_arr))
            keep = lens > 0
            if not keep.any():
                continue
            ids_all = pdf["id"].to_numpy()[keep]
            hs_kept = hs_arr[keep]
            lens_k = lens[keep]
            out_sigs = np.empty(len(ids_all), dtype=np.int64)
            pos = 0
            while pos < len(ids_all):
                end = pos
                tok = 0
                while end < len(ids_all) and (tok == 0 or tok + lens_k[end] <= CHUNK_TOKENS):
                    tok += lens_k[end]
                    end += 1
                flat = np.concatenate(list(hs_kept[pos:end])).astype("<i8", copy=False)
                bits = np.unpackbits(flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
                seg = lens_k[pos:end]
                starts = np.concatenate([[0], np.cumsum(seg)[:-1]])
                votes = np.add.reduceat(bits[:, :nbits].astype(np.int32), starts, axis=0)
                maj = (votes.astype(np.int64) * 2 > seg[:, None]).astype(np.int64)
                out_sigs[pos:end] = (maj << shifts[None, :]).sum(axis=1)
                pos = end
            yield pd.DataFrame({"id": ids_all, "sh": out_sigs})

    sig_df = base.mapInPandas(sig, schema=f"id {id_t}, sh long").withColumnRenamed(
        "id", id_col
    )
    # Identical documents produce identical signatures: route through the
    # generic collapsed banded join (round 11) so exact-duplicate groups
    # skip the band explode entirely — a 10^6-copy boilerplate page is one
    # band-join row, not 10^6 quadratic ones. max_bucket=None preserves
    # simhash's unconditional exactness (no cap, no warning); the pair set
    # is unchanged.
    # Non-divisor ``bands`` (e.g. 8 over the 60-bit hash) band at the
    # historical floor width 60 // bands, covering only the low
    # bands*(60//bands) bits — still pigeonhole-complete: bit errors in
    # the uncovered high bits corrupt ZERO chunks (the pair still agrees
    # on >= bands - max_hamming covered chunks), and the final bit_count
    # filter runs over the FULL signature either way, so the pair set is
    # exact; uncovered bits only cost a little bucket selectivity.
    if bands > 60:
        raise ValueError(f"bands ({bands}) cannot exceed the 60-bit simhash width")
    out = hamming_pairs(
        sig_df, id_col, "sh", max_hamming=max_hamming, bands=bands,
        nbits=(60 // bands) * bands, max_bucket=None, combo=1,
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _auto_banding(
    nbits: int, bound: int, nd: int | None, max_bucket: int | None
) -> tuple[int, int]:
    """Pick ``(bands_eff, combo)`` for a banded Hamming join — the
    cheapest configuration that is (a) COMPLETE for ``bound`` by
    pigeonhole (``bound <= bands_eff - combo``) and (b) whose key space
    does not saturate ``max_bucket`` at ``nd`` distinct hashes
    (``nd <= 2^(width*combo) * max_bucket``). Cost is the explode width
    (number of join keys): re-banding to fewer, wider chunks beats
    combinatorial keys whenever the bound allows — 8 bands of 8 bits is
    exact to hamming 7 with 8 keys and a 256-value key space, where
    C(16,2)=120 packed keys buy the same key space 15x dearer. The
    multi-index-hashing trade (Norouzi et al. 2014) picked from the
    bound and a cheap distinct count, never silently.

    Candidate bandings are EVERY divisor of ``nbits`` >= 2 (the
    completeness / key-space math is divisor-generic), so non-power-of-2
    widths — a 60-bit simhash-style hash — band correctly instead of
    dying on an exhausted power-of-2 list. ``nd=None`` (the caller has
    no cap, so no count was taken) never saturates."""
    from math import comb as _comb

    best = None
    for be in range(2, nbits + 1):
        if nbits % be != 0:
            continue
        w = nbits // be
        for combo in (1, 2):
            if bound > be - combo:
                continue  # not complete
            nkeys = be if combo == 1 else _comb(be, combo)
            if nkeys > 256 or (combo == 2 and 2 * w > 62):
                continue  # fan-out guard / packed key must fit a long
            kspace = 2 ** (w * combo)
            saturated = (
                max_bucket is not None and nd is not None and nd > kspace * max_bucket
            )
            # non-saturated: cheapest (fewest keys) wins. ALL saturated:
            # the ROOMIEST key space wins — it minimizes what the cap
            # drops (fewest-keys here would pick the config that loses
            # the most candidates), then fewest keys breaks ties.
            cand = (
                1 if saturated else 0,
                -kspace if saturated else nkeys,
                nkeys,
                be,
                combo,
            )
            if best is None or cand < best:
                best = cand
    if best is None:
        # only reachable when bound >= nbits - 1 exceeds even the 1-bit
        # banding (be=nbits, combo=1): no complete configuration exists
        raise ValueError(
            f"no complete banding for nbits={nbits}, max_hamming={bound}; "
            "pass bands/combo explicitly"
        )
    return best[3], best[4]


def _escalate_banding(
    nbits: int, bound: int, bands: int, combo: int
) -> tuple[int, int] | None:
    """The loss-MONOTONE skew escalation: packed pair keys over the SAME
    chunks, or nothing. When OBSERVED skew makes buckets hot under a
    combo=1 banding that average load said would stay cold, re-keying on
    chunk PAIRS spreads diverse hot-bucket members ~key-space-times
    thinner — and because a pair-key bucket's membership is a subset of
    each member chunk's bucket, every pair the capped combo=1 join kept
    stays kept (cold chunk ⇒ cold pair key). A re-band onto a DIFFERENT
    chunk partition has no such guarantee: for non-nested widths (e.g.
    60-bit, 20-bit chunks → packed 15-bit pairs) it can LOSE pairs the
    initial banding found, a strictly worse trade. So: escalate iff the
    current banding is combo=1, the pair keys stay complete
    (``bound <= bands - 2``), fit a long, and respect the fan-out guard;
    otherwise ``None`` — accept the honest warned drop."""
    from math import comb as _comb

    w = nbits // bands
    if (
        combo == 1
        and bound <= bands - 2
        and _comb(bands, 2) <= 256
        and 2 * w <= 62
    ):
        return bands, 2
    return None


def _banded_hot_stats(banded_union: DataFrame, max_bucket: int):
    """Per-(band, bucket) sizes over a banded frame plus the hot-bucket
    scalar stats in one action: ``(sizes_df, row)`` with ``row['hb']``
    the count of buckets over ``max_bucket`` and ``row['hr']`` the
    banded rows they hold. The cap pass of :func:`_near_hash_pairs`
    (its two banded sides union into one frame first)."""
    sizes = _shared(
        banded_union.groupBy("b", "bucket").agg(F.count(F.lit(1)).alias("__n"))
    )
    row = sizes.filter(F.col("__n") > max_bucket).agg(
        F.count(F.lit(1)).alias("hb"),
        F.coalesce(F.sum("__n"), F.lit(0)).alias("hr"),
    ).collect()[0]
    return sizes, row


def _chunk_keys(hcol, bands: int, width: int, combo: int) -> list:
    """Banded join-key expressions for a hash column split into ``bands``
    chunks of ``width`` bits: ``combo=1`` → the chunk values themselves;
    ``combo>=2`` → every combo-subset of chunks packed into one long
    (each chunk < 2^width, so the packed key fits for any combination the
    fan-out guards admit). Shared by :func:`hamming_pairs` and
    :func:`_near_hash_pairs` (the ImageHashStore / VideoFingerprintStore
    match paths), which must band identically to stay
    pigeonhole-complete. String column names get the session Column
    memo (combo=2 builds C(bands, combo) packed keys — hundreds of py4j
    roundtrips per call otherwise)."""
    if isinstance(hcol, str):
        from ..functions.text import memo_column

        name = hcol
        return memo_column(
            ("chunk_keys", name, bands, width, combo),
            lambda: _chunk_keys(F.col(name), bands, width, combo),
        )
    mask = F.lit((1 << width) - 1)

    def chunk(b):
        return F.shiftrightunsigned(hcol, b * width).bitwiseAND(mask)

    if combo == 1:
        return [chunk(b) for b in range(bands)]
    from itertools import combinations

    keys = []
    for idx in combinations(range(bands), combo):
        k = F.lit(0).cast("long")
        for b in idx:
            k = F.shiftleft(k, width) + chunk(b).cast("long")
        keys.append(k)
    return keys


def _near_hash_pairs(
    batch: DataFrame, store: DataFrame, bound: int, max_bucket: int, who: str
) -> DataFrame:
    """Near pairs ``(hb, hs, hamming INT)`` with ``1 <= hamming <= bound``
    between the DISTINCT 64-bit hashes of ``batch`` and ``store`` (each
    has an ``h`` column) — the banded-Hamming block of the store matchers
    (ImageHashStore / VideoFingerprintStore), whose exact (hamming-0)
    matches bypass banding with an equi-join on the hash value.

    The banding is the cheapest complete one for ``bound`` at the
    distinct count (:func:`_auto_banding`; it may re-band to wider chunks
    — the stored layout is irrelevant because ``h`` rides every row).
    When the count can fill a bucket, a hot pass runs; if it finds hot
    buckets, the banding escalates ONCE to packed pair keys over the same
    chunks (:func:`_escalate_banding`, loss-monotone: diverse hot-bucket
    members spread cold under the pair key) before any drop is accepted.
    Buckets still over ``max_bucket`` are dropped with a
    ``RuntimeWarning`` naming ``who`` and the dropped fraction (no silent
    caps)."""
    bd = _shared(batch.select("h").distinct())
    sd = _shared(store.select("h").distinct())
    nd = bd.count() + sd.count()
    bands, combo = _auto_banding(64, bound, nd, max_bucket)

    def band(dfh, keys):
        return dfh.select("h", F.posexplode(F.array(*keys)).alias("b", "bucket"))

    keys = _chunk_keys("h", bands, 64 // bands, combo)
    bb, sb = band(bd, keys), band(sd, keys)
    if nd > max_bucket:
        sizes, hot = _banded_hot_stats(bb.unionByName(sb), max_bucket)
        if hot["hb"] > 0:
            esc = _escalate_banding(64, bound, bands, combo)
            if esc is not None:
                bands, combo = esc
                keys = _chunk_keys("h", bands, 64 // bands, combo)
                bb, sb = band(bd, keys), band(sd, keys)
                sizes, hot = _banded_hot_stats(bb.unionByName(sb), max_bucket)
        if hot["hb"] > 0:
            import warnings

            total = nd * len(keys)
            warnings.warn(
                f"{who}: {hot['hb']} hot (band, bucket) groups over "
                f"max_bucket={max_bucket} dropped {hot['hr']}/{total} banded "
                f"rows ({hot['hr'] / total:.1%}) at the final banding "
                f"({bands} bands, combo={combo}); near matches (hamming >= 1) "
                f"whose every agreeing chunk is hot are lost — exact matches "
                f"are unaffected. Raise max_bucket.",
                RuntimeWarning,
                stacklevel=3,
            )
            ok = sizes.filter(F.col("__n") <= max_bucket).select("b", "bucket")
            bb, sb = bb.join(ok, ["b", "bucket"]), sb.join(ok, ["b", "bucket"])
    return (
        bb.join(sb.withColumnRenamed("h", "hs"), ["b", "bucket"])
        .select(F.col("h").alias("hb"), "hs")
        .withColumn("hamming", F.bit_count(F.col("hb").bitwiseXOR(F.col("hs"))).cast("int"))
        .filter((F.col("hamming") >= 1) & (F.col("hamming") <= bound))
        .dropDuplicates(["hb", "hs"])
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 10,
    bands: int = 16,
    nbits: int = 64,
    max_bucket: int | None = 1000,
    combo: int | str = "auto",
    exact_dup_pairs: str = "all",
) -> DataFrame:
    """Generic Hamming-distance pair join over any integer hash column
    (perceptual image hashes, audio hashes, simhash-like text
    signatures): all pairs with ``bit_count(a XOR b) <= max_hamming``.

    Completeness by pigeonhole, as in :func:`simhash_pairs`: an ``nbits``
    hash split into ``bands`` equal chunks — ``max_hamming`` bit errors
    corrupt at most that many chunks, so any qualifying pair agrees on
    >= ``bands - max_hamming`` chunks, and joining on every
    ``combo``-subset of chunks finds ALL pairs whenever
    ``max_hamming <= bands - combo``. The final bit_count filter is
    exact. The signature rides through the band explode, so hamming
    computes inside the join — no verify join afterwards.

    **Identical hashes are collapsed first** (round 11): the band
    self-join runs over DISTINCT hash values only (one representative —
    the min id — per value), then expands back to id pairs. Exact
    duplicates therefore NEVER hit the bucket cap: a boilerplate image
    with 10^6 identical copies contributes ONE row per band, not 10^6,
    and its hamming-0 pairs are emitted directly from the group table.
    This closes the round-10 failure mode where the most-duplicated
    content — exactly what dedup exists to catch — silently escaped the
    capped join.

    ``exact_dup_pairs`` controls the within-group (hamming-0) expansion:

    - ``"all"`` (default): every pair inside an identical-hash group —
      the full exact contract, output-size bounded but quadratic in the
      group (a 10^6-copy group IS 5*10^11 pairs).
    - ``"star"``: one ``(min_id, member)`` edge per non-representative
      member, and cross-hash pairs at representative level only — linear,
      connectivity-equivalent (same connected components / clusters).
      The right choice when the pairs feed
      :func:`~duckdb_vss_spark.operators.graph.dedup_clusters`, as
      :func:`~duckdb_vss_spark.pipelines.image_curate` does.

    ``combo="auto"`` (default) picks the banding from a cheap count of
    DISTINCT hashes: the cheapest configuration (fewest join keys) that
    is complete for ``max_hamming`` and whose key space does not
    saturate ``max_bucket`` — it may RE-BAND to fewer, wider chunks
    (``max_hamming <= 7`` at scale → 8 bands of 8 bits: 8 keys, 256
    buckets — the multi-index-hashing trade) and/or escalate to packed
    ``combo=2`` subset keys (``max_hamming <= bands - 2``); when no
    complete configuration avoids saturation it keeps the roomiest one
    and the drop warning below reports what the cap cost. Pass an
    explicit int ``combo`` to pin the arity to the ``bands`` given.

    ``max_bucket`` caps the per-(band, bucket) DISTINCT-HASH population
    BEFORE the self-join — the stop-key discipline of
    :func:`~.image.video_neardup_pairs` / the audio ``max_key_freq``:
    a crawl corpus is full of near-identical boilerplate whose distinct
    hashes flood one bucket and turn the band join quadratic.
    EXACT-BELOW-CAP contract: the result equals brute force whenever no
    (band, bucket) holds more than ``max_bucket`` DISTINCT hashes; when
    a bucket IS hot, a pair of DISTINCT hashes is dropped if and ONLY if
    EVERY chunk the two hashes agree on lands in a hot bucket (the
    capped join dedups candidate pairs with ``dropDuplicates``, so any
    single surviving agreeing band keeps the pair — round 12, closing
    the round-11 first-agree loss) — and the call emits a
    ``RuntimeWarning`` with the dropped banded-row fraction (no silent
    caps: the builder must see what the cap ate). Identical-hash pairs
    are never dropped.

    Driver actions in the build: ZERO when ``max_bucket=None``; ONE for
    a pinned ``combo`` with a cap (distinct/dup counts and hot-bucket
    stats fold into one crossJoined scalar aggregate, the
    :func:`~.image.video_neardup_pairs` discipline); for
    ``combo="auto"`` with a cap, one action for the banding choice plus
    a second hot-bucket action only when the distinct count exceeds
    ``max_bucket`` (below it no bucket can be hot and the pass is
    skipped) — and when that pass finds hot buckets, ONE escalated hot
    pass with same-chunk packed pair keys before any drop is accepted
    (observed skew can heat buckets the average-load banding choice
    called cold; the escalation is loss-monotone — see
    :func:`_escalate_banding` — and the store matchers share it).
    Pass ``max_bucket=None`` for unconditional exactness (accepting the
    quadratic worst case).

    Output: ``(id_a, id_b, hamming INT)`` with ``id_a < id_b``.
    """
    if exact_dup_pairs not in ("all", "star"):
        raise ValueError("exact_dup_pairs must be 'all' or 'star'")
    auto_combo = combo == "auto"
    min_combo = 1 if auto_combo else combo
    if not auto_combo and combo < 1:
        raise ValueError("combo must be >= 1")
    if max_hamming > bands - min_combo:
        raise ValueError(
            f"exactness requires max_hamming <= bands - combo "
            f"({bands} - {min_combo} = {bands - min_combo}) by pigeonhole"
        )
    if nbits % bands != 0:
        raise ValueError(f"nbits ({nbits}) must divide into {bands} equal bands")
    from math import comb as _comb

    if not auto_combo and _comb(bands, combo) > 256:
        raise ValueError(
            f"C(bands, combo) = {_comb(bands, combo)} explode rows per item "
            "is past the supported fan-out (256); use fewer bands or a "
            "smaller combo"
        )
    width = nbits // bands
    mask = F.lit((1 << width) - 1)
    # member table feeds the hamming-0 expansion; group table (one row
    # per DISTINCT hash, rep = min id) feeds BOTH band-join sides. The
    # upstream of the hash column is often an expensive per-item kernel
    # (pHash decodes every image) — persist it once.
    hashes = _shared(df.select(F.col(id_col).alias("__id"), F.col(hash_col).alias("__h")))
    groups = _shared(
        hashes.groupBy("__h").agg(F.min("__id").alias("__rep"), F.count(F.lit(1)).alias("__n"))
    )
    if max_bucket is None:
        # no cap: nothing needs a driver-side count — auto-banding never
        # saturates (nd=None), no bucket can be hot, and the duplicate
        # expansion is built unconditionally (its joins are ~free when no
        # groups repeat). ZERO driver actions in the build.
        n_distinct, n_dup_groups = None, None
    elif auto_combo:
        # the banding choice depends on the distinct count, so it must
        # land before the plan is built: one bounded action here; the
        # hot-bucket stats below cost a second only in the maybe-hot
        # regime (n_distinct > max_bucket)
        stats = groups.agg(
            F.count(F.lit(1)).alias("nd"),
            F.count(F.when(F.col("__n") > 1, 1)).alias("ndup"),
        ).collect()[0]
        n_distinct, n_dup_groups = stats["nd"], stats["ndup"]
    else:
        # pinned banding + cap: the counts fold into the hot-bucket
        # action below — ONE driver action total, the
        # video_neardup_pairs crossJoin fold of scalar aggregates
        n_distinct, n_dup_groups = None, None
    if auto_combo:
        # pick the cheapest complete, non-saturating configuration — may
        # RE-BAND to fewer, wider chunks (e.g. bound<=7 at scale: 8 bands
        # of 8 bits, 8 keys) as well as escalate to packed combo keys
        bands, combo = _auto_banding(nbits, max_hamming, n_distinct, max_bucket)
        width = nbits // bands
        mask = F.lit((1 << width) - 1)

    def _chunk_of(col, b):
        return F.shiftrightunsigned(col, b * width).bitwiseAND(mask)

    keys = _chunk_keys("__h", bands, width, combo)
    banded = groups.select(
        F.col("__rep"), F.col("__h"), F.posexplode(F.array(*keys)).alias("b", "bucket")
    )
    cap_filtered = False
    if max_bucket is not None and (n_distinct is None or n_distinct > max_bucket):
        sizes = _shared(banded.groupBy("b", "bucket").agg(F.count(F.lit(1)).alias("__n")))
        is_hot = F.col("__n") > max_bucket
        hot_agg = sizes.agg(
            F.count(F.when(is_hot, 1)).alias("hb"),
            F.coalesce(F.sum(F.when(is_hot, F.col("__n"))), F.lit(0)).alias("hr"),
        )
        if n_distinct is None:
            # pinned banding: ONE action carries all three decisions —
            # the distinct/dup-group counts (fast-path + expansion gates)
            # and the hot-bucket stats (warning + cap)
            row = (
                groups.agg(
                    F.count(F.lit(1)).alias("nd"),
                    F.count(F.when(F.col("__n") > 1, 1)).alias("ndup"),
                )
                .crossJoin(hot_agg)
                .collect()[0]
            )
            n_distinct, n_dup_groups = row["nd"], row["ndup"]
        else:
            row = hot_agg.collect()[0]
        if row["hb"] > 0 and auto_combo:
            # observed skew beat the average-load banding choice (the
            # store matchers share this discipline): escalate ONCE to
            # packed pair keys over the same chunks before accepting any
            # drop — loss-monotone by the subset argument in
            # :func:`_escalate_banding`. Only for combo='auto'; a
            # caller-pinned banding is honored as asked.
            esc = _escalate_banding(nbits, max_hamming, bands, combo)
            if esc is not None:
                bands, combo = esc
                width = nbits // bands
                mask = F.lit((1 << width) - 1)
                keys = _chunk_keys("__h", bands, width, combo)
                banded = groups.select(
                    F.col("__rep"), F.col("__h"),
                    F.posexplode(F.array(*keys)).alias("b", "bucket"),
                )
                sizes = _shared(
                    banded.groupBy("b", "bucket").agg(F.count(F.lit(1)).alias("__n"))
                )
                row = sizes.agg(
                    F.count(F.when(is_hot, 1)).alias("hb"),
                    F.coalesce(F.sum(F.when(is_hot, F.col("__n"))), F.lit(0)).alias("hr"),
                ).collect()[0]
        if row["hb"] > 0:
            import warnings

            total = n_distinct * len(keys)
            frac = row["hr"] / total if total else 0.0
            warnings.warn(
                f"hamming_pairs: {row['hb']} hot (band, bucket) groups over "
                f"max_bucket={max_bucket} dropped {row['hr']}/{total} banded "
                f"rows ({frac:.1%}); pairs of DISTINCT hashes whose every "
                f"agreeing chunk is hot are lost (identical-hash duplicates "
                f"are unaffected). Raise max_bucket, pass max_bucket=None, "
                f"or use combo=2 banding (auto escalates when "
                f"max_hamming <= bands - 2; here combo={combo}).",
                RuntimeWarning,
                stacklevel=2,
            )
            banded = banded.join(
                sizes.filter(~is_hot).select("b", "bucket"), ["b", "bucket"]
            )
            cap_filtered = True
    a2 = banded.select("b", "bucket", F.col("__rep").alias("__ra"), F.col("__h").alias("h_a"))
    b3 = banded.select("b", "bucket", F.col("__rep").alias("__rb"), F.col("__h").alias("h_b"))
    joined = a2.join(b3, ["b", "bucket"]).filter(F.col("__ra") < F.col("__rb"))
    if combo > 1 or cap_filtered:
        # packed combo keys — or a combo=1 join the cap has filtered.
        # Under the cap the codegen first-agree dedup below is WRONG: a
        # pair whose FIRST agreeing chunk sits in a hot bucket can only
        # surface on a later agreeing band, where b != first_agree drops
        # it (the round-11 verdict repro — strictly more loss than the
        # documented contract). The capped path instead pays one bounded
        # Exchange over candidate pairs; a pair is then lost only when
        # EVERY agreeing chunk is hot, which is exactly what the warning
        # above promises.
        rep_pairs = (
            joined.select(
                "__ra",
                "__rb",
                "h_a",
                "h_b",
                F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
                .cast("int")
                .alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["__ra", "__rb"])
        )
    else:
        # uncapped combo=1: a pair agreeing on multiple chunks surfaces
        # once per agreeing band; keep only the FIRST agreeing band per
        # pair, decided in codegen from the two hashes riding through the
        # join — no global distinct, one less Exchange. (Correct ONLY
        # when no band row was cap-filtered — every agreeing band is
        # present, so exactly the first_agree row exists.)
        first_agree = F.when(_chunk_of(F.col("h_a"), 0) == _chunk_of(F.col("h_b"), 0), F.lit(0))
        for bb in range(1, bands):
            first_agree = first_agree.when(
                _chunk_of(F.col("h_a"), bb) == _chunk_of(F.col("h_b"), bb), F.lit(bb)
            )
        rep_pairs = (
            joined.filter(F.col("b") == first_agree)
            .select(
                "__ra",
                "__rb",
                "h_a",
                "h_b",
                F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int").alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )
    if n_dup_groups == 0:
        # every hash is unique: reps ARE the ids, nothing to expand —
        # the plan is exactly the classic banded self-join
        return rep_pairs.select(
            F.col("__ra").alias("id_a"), F.col("__rb").alias("id_b"), "hamming"
        )
    dup_groups = groups.filter(F.col("__n") > 1)
    if exact_dup_pairs == "star":
        # connectivity-equivalent: rep-level cross pairs + a star edge
        # from each group representative to each other member (hamming 0)
        cross = rep_pairs.select(
            F.col("__ra").alias("id_a"), F.col("__rb").alias("id_b"), "hamming"
        )
        star = (
            hashes.join(dup_groups.select("__h", "__rep"), "__h")
            .filter(F.col("__id") != F.col("__rep"))
            .select(
                F.col("__rep").alias("id_a"),
                F.col("__id").alias("id_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
        )
        return cross.unionByName(star)
    # full expansion: every member pair across the two hash groups of a
    # rep pair (hamming is a constant of the hash pair), plus every
    # member pair within each duplicated hash group (hamming 0). All
    # joins move (id, hash) longs only; output is the exact answer set.
    ma = hashes.select(F.col("__id").alias("__ida"), F.col("__h").alias("h_a"))
    mb = hashes.select(F.col("__id").alias("__idb"), F.col("__h").alias("h_b"))
    cross = (
        rep_pairs.select("h_a", "h_b", "hamming")
        .join(ma, "h_a")
        .join(mb, "h_b")
        .select(
            F.least(F.col("__ida"), F.col("__idb")).alias("id_a"),
            F.greatest(F.col("__ida"), F.col("__idb")).alias("id_b"),
            "hamming",
        )
    )
    dmem = hashes.join(dup_groups.select("__h"), "__h")
    within = (
        dmem.select(F.col("__h"), F.col("__id").alias("id_a"))
        .join(dmem.select(F.col("__h"), F.col("__id").alias("id_b")), "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(within)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs >= threshold, computed without a
    cross join: explode shingles to an inverted (shingle -> doc) table,
    self-join on shingle to count shared shingles per pair, then
    ``jaccard = shared / (|A| + |B| - shared)``.

    Only pairs sharing >= 1 shingle are ever materialized, which is also the
    complete candidate set for any threshold > 0.
    Output: (id_a, id_b, jaccard DOUBLE).
    """
    sh = _shared(_fan_out(df).select(F.col(id_col), word_ngrams(text_col, shingle_n).alias("shingles")))
    # The candidate pipeline runs on xxhash64(shingle) LONGS, not strings:
    # the dfreq aggregate, the ranked sort and the prefix self-join then
    # hash/compare/shuffle 8-byte keys instead of ~25-byte strings (§2.3
    # narrower shuffle keys; measured 10% operator CPU, 14% executor run
    # time at sf0.1). EXACTNESS: a 64-bit collision merges two shingles
    # into one candidate key — the prefix order stays a consistent total
    # order (colliding shingles tie, and ties share the join key, so a
    # prefix element displaced by its tie is still matched by that tie),
    # candidates remain COMPLETE, and the verify below recomputes exact
    # Jaccard on the true string sets, filtering any false candidate.
    inv = sh.select(
        F.col(id_col), F.explode(F.transform("shingles", lambda x: F.xxhash64(x))).alias("s")
    )
    # Rarest-first prefix filtering (AllPairs/PPJoin candidate generation):
    # order every document's shingles by ascending document frequency (global
    # total order), and index only the first |X| - ceil(t*|X|) + 1 shingles.
    # Any pair with Jaccard >= t has overlap >= ceil(t*max(|A|,|B|)), so the
    # two prefixes must intersect — candidates are complete (exact), and hot
    # shingles (the quadratic-bucket risk in a naive inverted join) sort to
    # the ends of the lists where prefixes rarely reach.
    dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        inv.join(dfreq, "s")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("ordered"))
    )
    n = F.size("ordered")
    plen = n - F.ceil(n * F.lit(float(threshold))).cast("int") + 1
    prefix = ranked.select(
        F.col(id_col), n.alias("nsz"), F.explode(F.slice(F.col("ordered"), F.lit(1), plen)).alias("e")
    ).select(F.col(id_col), "nsz", F.col("e.s").alias("s"))
    # PPJoin length filter: jaccard = I/U with I <= min(|A|,|B|) and
    # U >= max(|A|,|B|), so any qualifying pair has min >= t * max — prune
    # size-incompatible pairs BEFORE the distinct, where the prefix-bucket
    # stream is at its widest (1e-12 slack covers the double boundary)
    pa = prefix.select(F.col("s"), F.col(id_col).alias("id_a"), F.col("nsz").alias("n_a"))
    pb = prefix.select(F.col("s"), F.col(id_col).alias("id_b"), F.col("nsz").alias("n_b"))
    # the pair-key repartition carries an EXPLICIT partition count so AQE
    # does not coalesce it away: the verify stage downstream is
    # compute-heavy (array_intersect/union over full shingle sets) but
    # byte-light, and AQE's size-based coalescing was squeezing it onto
    # 6 of 32 cores (measured round 12 — 2.5 s with 26 cores idle). The
    # count is the cluster's default parallelism, not a constant. The
    # dropDuplicates then reuses this exchange's hash partitioning.
    par = df.sparkSession.sparkContext.defaultParallelism
    cand = (
        pa.join(pb, "s")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("n_a", "n_b").cast("double")
                >= F.greatest("n_a", "n_b").cast("double") * F.lit(float(threshold)) - F.lit(1e-12)
            )
        )
        .select("id_a", "id_b")
        .repartition(par, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verification on the full (distinct, sorted) shingle sets.
    # |union| == |A| + |B| - |intersect| on distinct sets — the identical
    # integer, hence a bit-identical jaccard double — and dropping the
    # array_union removes a second per-candidate hash build over |A|+|B|
    # elements (isolated ABAB probe on the 310k-candidate sf0.1 verify
    # stage: 1.31x; full-pipeline pairs bit-identical)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    method: str = "auto",
    nlist: int | None = None,
    seed: int = 42,
    prune_stats: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: cosine_similarity >= threshold,
    id_a < id_b. Output: (id_a, id_b, cos_sim DOUBLE).

    Default path is an EXACT bucketed epsilon-join (no cross join): on unit
    vectors ``cos(a,b) >= t  <=>  |a_hat - b_hat| <= r = sqrt(2(1-t))``, so
    near-dup search is a radius self-join. We k-means the normalized vectors
    into ``nlist`` cells, record each cell's max residual radius, and by the
    triangle inequality a qualifying pair can only span cells (i, j) with
    ``|c_i - c_j| <= rmax_i + rmax_j + r`` — the candidate join runs on that
    (small, driver-computed) cell-pair table instead of all pairs. Candidates
    are complete for any threshold; the final JVM cosine filter makes the
    result exact. At 100 TB the quadratic work is confined to nearby cell
    pairs; the tighter the threshold, the stronger the pruning. For loose
    thresholds where r rivals the data diameter, pruning degrades toward
    all-pairs — prefer ``knn_join`` + score filter there.

    ``method="exact"`` opts into the plain all-pairs cross join (reference
    lateral-join equivalence family:
    test/sql/hnsw/hnsw_lateral_join_group.test:21-71).
    """
    if method == "exact":
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
        return (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", array_cosine_similarity("v_a", "v_b").alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
        )
    import math

    import numpy as np

    from ..index.ivf import KMEANS_SAMPLE, kmeans

    spark = df.sparkSession
    src = _fan_out(df).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).filter(F.col(vec_col).isNotNull())
    n = src.count()
    if n == 0:
        return spark.createDataFrame([], f"id_a {dict(df.dtypes)[id_col]}, id_b {dict(df.dtypes)[id_col]}, cos_sim double")
    if nlist is None:
        nlist = max(1, min(4096, int(math.sqrt(n))))
    frac = min(1.0, KMEANS_SAMPLE / n)
    sample = src.select("v") if frac >= 1.0 else src.select("v").sample(fraction=frac, seed=seed)
    smat = np.vstack(sample.toPandas()["v"].to_numpy()).astype(np.float64)
    smat /= np.maximum(np.linalg.norm(smat, axis=1, keepdims=True), 1e-30)
    cents = kmeans(smat, nlist, seed=seed)
    nlist = cents.shape[0]
    bc = tracked_broadcast(spark.sparkContext, cents)

    def assign(batches):
        import numpy as np

        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
            d2 = (mat * mat).sum(1)[:, None] + (c * c).sum(1)[None, :] - 2.0 * (mat @ c.T)
            np.maximum(d2, 0.0, out=d2)
            li = d2.argmin(axis=1)
            resid = np.sqrt(d2[np.arange(len(li)), li])
            yield pdf.assign(list_id=li.astype(np.int32), resid=resid)

    id_t = dict(df.dtypes)[id_col]
    assigned = _shared(src.mapInPandas(assign, schema=f"id {id_t}, v array<float>, list_id int, resid double"))
    rmax = np.zeros(nlist)
    for row in assigned.groupBy("list_id").agg(F.max("resid").alias("rmax")).collect():
        rmax[row["list_id"]] = row["rmax"]
    # 1e-9 slack absorbs f32->f64 rounding at the radius boundary
    r = math.sqrt(max(0.0, 2.0 * (1.0 - threshold))) + 1e-9
    la, lb = _admissible_cell_pairs(cents, rmax, r)
    frac = len(la) / float(nlist * nlist)
    if prune_stats is not None:
        # observable pruning effectiveness (plan tests / capacity planning):
        # the candidate join's work is proportional to admissible_frac of
        # the all-pairs cell grid
        prune_stats.update(
            nlist=int(nlist), admissible_pairs=int(len(la)), admissible_frac=frac
        )
    if nlist > 1 and frac > 0.8:
        import warnings

        # honesty over silence: exact pruning is geometric — on data with no
        # cluster structure (uniform high-dim vectors: every residual ~ the
        # data diameter) the bound admits every cell pair and the join does
        # all-pairs work, just without a CartesianProduct node. Real near-dup
        # corpora cluster; if this fires, prefer knn_join + score filter or a
        # higher threshold.
        warnings.warn(
            f"embedding_neardup_pairs: {frac:.0%} of cell pairs admissible "
            f"(threshold={threshold}, mean cell residual={rmax.mean():.3f}) — "
            "epsilon-join pruning is ineffective on this data; consider "
            "knn_join with an IVF index + score post-filter",
            stacklevel=2,
        )
    pairs = spark.createDataFrame([(int(x), int(y)) for x, y in zip(la, lb)], "la int, lb int")
    a = assigned.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), F.col("list_id").alias("la"))
    b = assigned.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), F.col("list_id").alias("lb"))
    return (
        a.join(F.broadcast(pairs), "la")
        .join(b, "lb")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", array_cosine_similarity("v_a", "v_b").alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


SEMDEDUP_GEMM_MARGIN = 1e-6  # |float64-GEMM cosine - exact| is ~1e-12; pairs
# within this band of eps are re-decided by the authoritative JVM expression


_SEMDEDUP_EXPR_MAX_K = 64  # same ceiling as kmeans_step's expression path


def _assign_kernel(src, vec_col, id_col, centroids, metric):
    """Broadcast-GEMM cluster assignment for semdedup at large k: returns
    ``src`` plus (cluster_id, __cdist) where __cdist is the marginality
    key (always larger = farther from the assigned centroid, for every
    metric). float64 throughout — ordinally identical to the expression
    path up to GEMM rounding, which only the keep-rank comparison sees."""
    import numpy as np

    spark = src.sparkSession
    ids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)
    cmat = np.asarray([v for _, v in centroids], dtype=np.float64)
    bc = tracked_broadcast(spark.sparkContext, (ids, cmat, metric))
    id_t = dict(src.dtypes)[id_col]
    vec_t = dict(src.dtypes)[vec_col]

    def assign(batches):
        import numpy as np
        import pandas as pd

        cids, c, m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            if m == "cosine":
                cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-30)
                mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
                s = -(mn @ cn.T)  # minimize negative similarity
            elif m == "ip":
                s = -(mat @ c.T)
            else:
                s = (
                    (mat * mat).sum(1)[:, None]
                    + (c * c).sum(1)[None, :]
                    - 2.0 * (mat @ c.T)
                )
            best = s.argmin(axis=1)  # first index on ties = smallest cid slot
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cluster_id": cids[best],
                    # the minimization score IS the marginality key for
                    # every metric: similarity metrics are negated above,
                    # so larger always means farther from the centroid
                    "__cdist": s[np.arange(len(best)), best],
                }
            )

    return src.mapInPandas(
        assign, schema=f"{id_col} {id_t}, {vec_col} {vec_t}, cluster_id int, __cdist double"
    )


def _safe_cosine(a, b) -> Column:
    """Cosine similarity with zero vectors defined as 0 (no match at any
    positive threshold) instead of the ANSI divide-by-zero error the plain
    ``dot/(na*nb)`` spelling raises — semdedup's documented zero-vector
    semantics, matching the GEMM kernel's clamped normalization. For
    nonzero vectors this is bitwise ``array_cosine_similarity`` (same
    folds, the ``greatest`` clamp is a no-op)."""
    from ..functions.distance import _as_col, _dsum, array_inner_product

    a, b = _as_col(a), _as_col(b)
    na = F.sqrt(_dsum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))
    nb = F.sqrt(_dsum(F.transform(b, lambda x: x.cast("double") * x.cast("double"))))
    return array_inner_product(a, b) / F.greatest(na * nb, F.lit(1e-300))


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[tuple] | None = None,
    k: int | None = None,
    eps: float = 0.95,
    metric: str = "l2sq",
    method: str = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering followed by within-cluster cosine
    pruning. Output: ``(id, cluster_id BIGINT, keep BOOLEAN)`` — one row
    per input row with a non-null vector.

    Deterministic, order-free variant of the paper's greedy rule: a row
    ``x`` is removed iff some same-cluster row ``y`` has
    ``cos(x, y) >= eps`` and ``y`` outranks ``x`` under the paper's
    best-performing keep policy — **farthest from the cluster centroid
    wins** (ties by smaller id). Unlike the greedy sequential sweep this
    needs no global ordering pass and gives the same answer on any
    partitioning.

    ``centroids`` is a driver-side ``[(cid, vector), ...]`` list (e.g.
    from :func:`~duckdb_vss_spark.operators.vector.kmeans_fit`); pass
    ``k`` instead to fit deterministically in here. Cluster assignment
    uses ``metric`` (default l2sq; similarity metrics are rank-normalized
    so farthest-wins still holds); the duplicate check itself is always
    cosine, per the paper, with zero vectors defined to match nothing
    (cosine 0) on both execution paths.

    Scale shape: assignment is a single codegen projection (no shuffle,
    no join). The within-cluster pair check (``method="auto"``) is one
    Exchange on ``cluster_id`` into a chunked-GEMM Arrow kernel — memory
    is O(chunk × cluster), never O(cluster²) — with the same
    exactness discipline as the k-NN join kernels: the GEMM decides only
    pairs ≥ ``SEMDEDUP_GEMM_MARGIN`` away from ``eps``; the (virtually
    always empty) threshold band is re-decided by the authoritative JVM
    cosine expression, so results are bit-identical to the relational
    path. ``method="join"`` keeps that pure-relational plan: a left-semi
    equi-join on ``cluster_id`` with the cosine + rank predicate as a
    residual filter — never a cartesian, never a materialized pair list.
    Either way the quadratic work is confined to individual clusters,
    which is exactly the knob the paper turns: at 100 TB pick ``k``
    proportional to corpus size so expected cluster size stays bounded
    (the paper uses ~50k docs/cluster at 233M docs). Unlike
    :func:`embedding_neardup_pairs` (exact epsilon-join), cross-cluster
    near-dups are *intentionally* not considered — that is SemDeDup's
    published approximation, not a shortcut.
    """
    from ..functions.distance import METRIC_IS_DESCENDING, canonical_metric
    from .vector import kmeans_fit, nearest_centroid

    if method not in ("auto", "join"):
        raise ValueError(f"method must be 'auto' or 'join', got {method!r}")
    if centroids is None:
        if k is None:
            raise ValueError("pass either centroids or k")
        centroids = kmeans_fit(df, vec_col, k, id_col=id_col)
    src = _fan_out(df).select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    desc = METRIC_IS_DESCENDING[canonical_metric(metric)]
    if len(centroids) > _SEMDEDUP_EXPR_MAX_K and method != "join":
        # large k: the literal-centroid expression tree is k*dim nodes and
        # falls out of codegen (at the paper's k this would interpret
        # k*dim ops per row) — assign via a broadcast-GEMM Arrow pass
        # whose cost is independent of expression size. Same lexicographic
        # (distance, cid) tie-break as nearest_centroid's array_min.
        a = _assign_kernel(src, vec_col, id_col, centroids, canonical_metric(metric))
    else:
        a = nearest_centroid(
            src, vec_col, centroids, metric=metric, out_col="cluster_id", score_col="__cdist"
        )
        if desc:
            # similarity metrics return higher-is-closer: negate so
            # __cdist is always a "marginality" key where LARGER means
            # farther from the centroid — the farthest-wins keep rule
            # reads it uniformly
            a = a.withColumn("__cdist", -F.col("__cdist"))
    if method == "join":
        x = a.select(
            F.col(id_col).alias("__xid"),
            F.col(vec_col).alias("__xv"),
            F.col("cluster_id").alias("__xc"),
            F.col("__cdist").alias("__xd"),
        )
        y = a.select(
            F.col(id_col).alias("__yid"),
            F.col(vec_col).alias("__yv"),
            F.col("cluster_id").alias("__yc"),
            F.col("__cdist").alias("__yd"),
        )
        outranked = (F.col("__yd") > F.col("__xd")) | (
            (F.col("__yd") == F.col("__xd")) & (F.col("__yid") < F.col("__xid"))
        )
        removed = (
            x.join(
                y,
                (F.col("__xc") == F.col("__yc"))
                & (F.col("__xid") != F.col("__yid"))
                & (_safe_cosine("__xv", "__yv") >= eps)
                & outranked,
                "leftsemi",
            )
            .select(F.col("__xid").alias(id_col))
            .withColumn("__rm", F.lit(True))
        )
        return (
            a.select(id_col, F.col("cluster_id").cast("long").alias("cluster_id"))
            .join(removed, id_col, "left")
            .select(id_col, "cluster_id", F.col("__rm").isNull().alias("keep"))
        )

    id_t = dict(df.dtypes)[id_col]
    lo, hi = eps - SEMDEDUP_GEMM_MARGIN, eps + SEMDEDUP_GEMM_MARGIN

    def kernel(pdf):
        # one cluster: chunked normalized GEMM decides removal outside the
        # threshold band; band pairs ride out WITH their vectors so the
        # JVM exact recheck needs no join back to the corpus
        import numpy as np
        import pandas as pd

        n = len(pdf)
        ids = pdf["__id"].to_numpy()
        cid = pdf["__c"].iloc[0]
        if n <= 1:
            return pd.DataFrame(
                {"xid": ids, "cluster_id": cid, "rm": [False] * n, "pairs": [[]] * n}
            )
        cd = pdf["__d"].to_numpy()
        vecs = pdf["__v"].to_numpy()
        mat = np.vstack(vecs).astype(np.float64)
        # clamped normalization: zero vectors get cos = 0 against everything
        # (the operator's documented zero-vector semantics; _safe_cosine is
        # the join path's identical spelling)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        frames = []
        chunk = max(1, min(1024, (1 << 22) // max(n, 1)))
        for s0 in range(0, n, chunk):
            s1 = min(n, s0 + chunk)
            C = mat[s0:s1] @ mat.T
            better = (cd[None, :] > cd[s0:s1, None]) | (
                (cd[None, :] == cd[s0:s1, None]) & (ids[None, :] < ids[s0:s1, None])
            )
            rows = np.arange(s0, s1)
            better[np.arange(s1 - s0), rows] = False
            rm = ((C >= hi) & better).any(axis=1)
            band = (C >= lo) & (C < hi) & better & ~rm[:, None]
            bx, by = np.nonzero(band)
            pairs: list = [[] for _ in range(s1 - s0)]
            for i, j in zip(bx, by):
                pairs[i].append({"xv": list(vecs[s0 + i]), "yv": list(vecs[j])})
            frames.append(
                pd.DataFrame(
                    {"xid": ids[rows], "cluster_id": cid, "rm": rm, "pairs": pairs}
                )
            )
        return pd.concat(frames, ignore_index=True)

    keyed = a.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.col("cluster_id").cast("long").alias("__c"),
        F.col("__cdist").alias("__d"),
    )
    vec_t = dict(df.dtypes)[vec_col]  # keep the input element type so the
    # JVM band recheck sees the exact vectors, not a float32 downcast
    raw = keyed.groupBy("__c").applyInPandas(
        kernel,
        schema=(
            f"xid {id_t}, cluster_id long, rm boolean, "
            f"pairs array<struct<xv: {vec_t}, yv: {vec_t}>>"
        ),
    )
    # map-only resolution, no second Exchange: GEMM-sure verdicts pass
    # through; the (virtually always empty) threshold band re-decides via
    # the authoritative JVM cosine on the embedded pair vectors
    band_rm = F.exists(
        "pairs", lambda p: _safe_cosine(p["xv"], p["yv"]) >= eps
    )
    return raw.select(
        F.col("xid").alias(id_col),
        "cluster_id",
        (~(F.col("rm") | F.coalesce(band_rm, F.lit(False)))).alias("keep"),
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated k-token substring detection — the fixed-window,
    shuffle-friendly form of suffix-array training-data dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better": any
    duplicated substring of >= k tokens contains a duplicated k-token
    window, so fixed-k windows find exactly the >= k-token duplications a
    suffix array finds, trading their byte-precise boundaries for
    MapReduce-shaped data flow).

    Output: ``(id_col, pos, gram_hash, n_docs)`` — one row per k-token
    window (0-based token position) whose exact text occurs in at least
    ``min_docs`` DISTINCT documents, with the total distinct-doc count.

    Matching is by the shared 60-bit md5 hash (collision odds ~n²/2⁶¹ —
    negligible against corpus-scale n; join gram strings instead of hashes
    if byte-certainty is required).

    Scale shape: map-only window hashing (shifted-zip_with n-grams, one md5
    per window) → a two-stage distinct-count aggregation (map-side partials
    on (gram_hash, id), then gram_hash) → a back-join against the hot set
    (broadcast when it fits under AQE, else a gram_hash shuffle of the
    persisted gram frame). The grams are deliberately NOT pre-partitioned
    by gram_hash: a boilerplate window duplicated across millions of
    documents would land every copy in one partition, and the map-side
    distinct partials are the skew-safe form. Gram rows are (id, pos,
    int64) — ~24 bytes per corpus token, the minimum any exact-substring
    method moves; nothing wider ever enters an Exchange.
    """
    grams = (
        _fan_out(df)
        .select(
            F.col(id_col).alias("__id"),
            F.posexplode(word_ngrams_all(text_col, k)).alias("pos", "__gram"),
        )
        .select("__id", "pos", hash64(F.col("__gram")).alias("gram_hash"))
    )
    g = _shared(grams)
    hot = (
        g.groupBy("gram_hash")
        .agg(F.countDistinct("__id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return g.join(hot, "gram_hash").select(
        F.col("__id").alias(id_col), "pos", "gram_hash", "n_docs"
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_docs: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """The Lee et al. dedup stage as a TRANSFORM, not just a flag: rewrite
    each document dropping every token covered by a duplicated k-token
    window (a window whose hash occurs in >= ``min_docs`` distinct docs —
    :func:`duplicated_spans` is the detector; this is the surgery their
    pipeline performs on the corpus). Tokens are whitespace words; the
    cleaned text is the kept tokens re-joined with single spaces.

    Output: ``df`` + ``out_col`` (default ``<text_col>_despanned``) +
    ``n_tokens`` + ``n_removed_tokens``.

    Scale shape: the detector's one aggregation shuffle moves only
    (id, pos, hash); the rewrite is a higher-order filter (token i
    survives iff no dup window position p satisfies p <= i < p+k) above a
    back-join of the position lists onto the docs. That join carries the
    text through an Exchange UNLESS the dup-position side is small enough
    for AQE to broadcast — which is the common case (only docs WITH
    duplicated spans appear on that side), but on a pathologically
    duplicated corpus the join is a co-partitioned shuffle of the text,
    stated here honestly rather than hidden.
    """
    from ..functions.text import tokens

    out_col = out_col or f"{text_col}_despanned"
    spans = duplicated_spans(df, text_col, id_col, k=k, min_docs=min_docs)
    pos_lists = spans.groupBy(id_col).agg(F.collect_list("pos").alias("__dup_pos"))
    joined = df.join(pos_lists, id_col, "left").withColumn(
        "__dup_pos", F.coalesce("__dup_pos", F.array())
    )
    toks = tokens(text_col)
    idx = F.sequence(F.lit(0), F.size(toks) - 1)
    kept_idx = F.filter(
        idx,
        lambda i: ~F.exists(
            F.col("__dup_pos"), lambda p: (i >= p) & (i < p + F.lit(k))
        ),
    )
    kept = F.transform(kept_idx, lambda i: F.element_at(toks, i + 1))
    return (
        joined.withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn(out_col, F.array_join(kept, " "))
        .withColumn(
            "n_removed_tokens", (F.size(toks) - F.size(kept_idx)).cast("long")
        )
        .drop("__dup_pos")
    )


def duplicated_span_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplication profile over :func:`duplicated_spans`:
    ``(id_col, n_windows, n_dup_windows, dup_window_frac)`` where
    ``dup_window_frac`` is the fraction of the document's k-token windows
    that also occur in >= ``min_docs`` documents (including its own) —
    the per-doc removal signal of the Lee et al. pipeline. Documents with
    fewer than one full window count one partial window (mirroring the
    n-gram builder's short-document degradation).
    """
    spans = duplicated_spans(df, text_col, id_col, k=k, min_docs=min_docs)
    per_doc = spans.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_dup_windows"))
    base = df.select(
        F.col(id_col),
        F.size(word_ngrams_all(text_col, k)).cast("long").alias("n_windows"),
    )
    return (
        base.join(per_doc, id_col, "left")
        .withColumn("n_dup_windows", F.coalesce("n_dup_windows", F.lit(0)).cast("long"))
        .withColumn(
            "dup_window_frac",
            F.when(
                F.col("n_windows") > 0,
                F.col("n_dup_windows").cast("double") / F.col("n_windows").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .cast("float"),
        )
    )
