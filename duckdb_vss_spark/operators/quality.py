"""Corpus-quality operators for LLM training-data pipelines.

Two operators the reference engine has no analog for, but which any
large-scale pretraining pipeline runs next to dedup (SURVEY §2's
training-data surface):

- :func:`repetition_stats` — Gopher-style per-document repetition signals
  (Rae et al. 2021, "Scaling Language Models", table A1): fraction of
  duplicate lines / line characters, character coverage of the most frequent
  word n-gram, character coverage of duplicated word n-grams. Documents with
  high repetition fractions are boilerplate/spam candidates.
- :func:`decontaminate` — benchmark decontamination by shared word n-grams
  (the GPT-3 appendix-C / PaLM approach): a training document is
  contaminated if it shares any word n-gram with a held-out benchmark set.

Scale notes (the part that matters at 100 TB):

- ``repetition_stats`` computes ALL signals in ONE map-only pass: every
  signal is a function of one document, so the token/line/n-gram arrays are
  built by JVM expressions, materialized once at the Arrow boundary, and
  counted per document in a vectorized kernel — zero Exchanges beyond the
  narrow-input fan-out, nothing but final rows leaves the task.
- ``decontaminate`` broadcasts the (small, deduped) benchmark gram set and
  probes it with a broadcast hash join — the training side is never
  shuffled except for the final per-document count. Benchmarks are ~10⁴-10⁶
  grams; if yours exceeds the broadcast ceiling, pre-hash grams to int64
  (functions.text.hash64) and fall back to a shuffle join.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as T

__all__ = [
    "repetition_stats",
    "decontaminate",
    "semantic_decontaminate",
    "pii_stats",
    "redact_pii",
    "PII_PATTERNS",
    "ngram_lm_score",
    "stupid_backoff_score",
    "gopher_quality_flags",
    "GOPHER_STOPWORDS",
    "clean_lines",
    "classifier_score",
    "TERMINAL_PUNCT",
    "LINE_BLOCKLIST",
]

# PII surface patterns, deliberately written in the common subset of Java
# regex (Spark) and RE2 (duckdb oracle): no backreferences, no lookaround.
# Order matters for redaction: the SSN/phone/cc shapes all contain digit
# runs, so more-specific grouping goes first. Conservative by design —
# a pretraining-scrub pass prefers false positives on these shapes.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("card", r"\b\d{13,16}\b", "[CARD]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def pii_stats(df: DataFrame, text_col: str, patterns=PII_PATTERNS) -> DataFrame:
    """Per-row PII hit counts: one ``n_<kind>`` LONG column per pattern plus
    ``has_pii``. Pure JVM ``regexp_extract_all`` projections — map-only,
    zero shuffles, trivially correct at 100 TB (each row is independent).

    Counts are computed per pattern independently (a string can count as
    both a phone and an SSN candidate); redaction order in
    :func:`redact_pii` resolves the overlap instead.
    """
    out = df
    hit_cols = []
    for kind, pat, _ in patterns:
        c = f"n_{kind}"
        out = out.withColumn(
            c, F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))).cast("long")
        )
        hit_cols.append(c)
    total = None
    for c in hit_cols:
        total = F.col(c) if total is None else total + F.col(c)
    return out.withColumn("has_pii", total > 0)


def redact_pii(df: DataFrame, text_col: str, out_col: str | None = None, patterns=PII_PATTERNS) -> DataFrame:
    """Replace every PII match with its kind tag (``[EMAIL]``, ``[SSN]``,
    ...), applying patterns in declaration order so overlapping digit shapes
    resolve deterministically (SSN before phone before card). Map-only
    chained ``regexp_replace`` — the redacted corpus never leaves the JVM.
    """
    expr = F.col(text_col)
    for _, pat, tag in patterns:
        expr = F.regexp_replace(expr, F.lit(pat), F.lit(tag))
    return df.withColumn(out_col or text_col, expr)


# C4's line-level cleaning constants (Raffel et al. 2020, §2.2): a kept
# line must end in terminal punctuation; lines mentioning javascript or
# placeholder text are boilerplate. Both sets are parameters — these are
# the paper's defaults.
TERMINAL_PUNCT: tuple[str, ...] = (".", "!", "?", '"', "'")
LINE_BLOCKLIST: tuple[str, ...] = ("lorem ipsum", "javascript", "cookie policy")


def clean_lines(
    df: DataFrame,
    text_col: str,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    blocklist: tuple[str, ...] = LINE_BLOCKLIST,
    drop_brace_lines: bool = True,
    line_sep: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2; the same
    stage opens the RefinedWeb and Gopher pipelines): split each document
    into lines and keep only lines that

    - contain at least ``min_words`` whitespace words (after trim),
    - end in terminal punctuation (``TERMINAL_PUNCT``) when
      ``require_terminal_punct``,
    - contain no ``blocklist`` phrase (case-insensitive, matched on the
      trimmed line),
    - contain no ``{`` when ``drop_brace_lines`` (C4's code heuristic).

    Appends ``out_col`` (kept lines re-joined with ``line_sep``; defaults
    to overwriting ``text_col``), ``n_lines`` and ``n_kept_lines``.

    Execution: a ``filter`` higher-order function over the split array —
    a pure JVM map-only projection, zero shuffles at any corpus size (each
    document is independent). CollapseProject inlines the kept-array
    subtree into both consumers (size + join), so the predicate runs twice
    per line — a constant factor on per-line string work, not the
    per-element-×-O(d) HOF collapse trap :func:`.vector.normalize_vectors`
    designs around.

    ``line_sep`` is used both as the split regex and the re-join literal,
    so pass a literal separator (the ``"\\n"`` default round-trips).
    """

    def _keep(x: Column) -> Column:
        t = F.trim(x)
        cond = F.size(F.split(t, r"\s+")) >= min_words
        if require_terminal_punct:
            cond = cond & F.substring(t, -1, 1).isin(*TERMINAL_PUNCT)
        for ph in blocklist:
            cond = cond & ~F.lower(t).contains(ph.lower())
        if drop_brace_lines:
            cond = cond & ~x.contains("{")
        return cond

    lines = F.split(F.col(text_col), line_sep)
    kept = F.filter(lines, _keep)
    return (
        df.withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_kept_lines", F.size(kept).cast("long"))
        .withColumn(out_col or text_col, F.array_join(kept, line_sep))
    )


def repetition_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    line_sep: str = "\n",
    top_ns: tuple[int, ...] = (2, 3),
    dup_ns: tuple[int, ...] = (3,),
) -> DataFrame:
    """Per-document repetition profile:

    ``(id, n_chars, total_tokens, dup_token_frac, total_lines,
    dup_line_frac, dup_line_char_frac, top{n}gram_char_frac…,
    dup{n}gram_char_frac…)``

    Definitions (deterministic, order-free — each is a ratio of exact
    integer sums):

    - ``dup_token_frac``: (token occurrences − distinct tokens) / occurrences;
    - ``dup_line_frac``: fraction of line occurrences whose line appears >1
      time; ``dup_line_char_frac``: same, weighted by line length, over total
      line characters;
    - ``top{n}gram_char_frac``: max over word n-grams of
      (count × gram length) / document length — the character coverage of
      the single heaviest n-gram (Gopher's "most frequent n-gram" made
      tie-free by maximizing coverage directly);
    - ``dup{n}gram_char_frac``: Σ over n-grams occurring >1 time of
      (count × gram length) / document length.

    ``line_sep`` is a Java regex. A document shorter than ``n`` tokens
    contributes its single partial gram (same degradation as the shingle
    builders in :mod:`..functions.text`).

    Execution: the token/line/n-gram arrays are built by the SAME JVM
    expressions as before (definitions unchanged, so the duckdb oracle
    still matches bit-for-bit), materialized once at the Arrow boundary;
    the per-document multiset counting then runs in a Python kernel.
    Every signal is document-local, so this is map-only — the previous
    tag-and-explode form shuffled every (doc, kind, item) occurrence
    through two Exchanges to compute counts the document's own task
    already had in hand (measured 2.8x slower at sf0.1). Ratios divide
    exact int64 sums in double, identical either way.
    """
    from collections import Counter
    from typing import Iterator

    import pandas as pd

    ns = sorted(set(top_ns) | set(dup_ns))
    from .dedup import _plan_partitions

    par = df.sparkSession.sparkContext.defaultParallelism
    if _plan_partitions(df) < par:
        df = df.repartition(par)
    base = df.select(
        F.col(id_col).alias("id"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        T.tokens(text_col).alias("toks"),
        F.split(F.col(text_col), line_sep).alias("lines"),
        *[T.word_ngrams_all(text_col, n).alias(f"g{n}") for n in ns],
    )
    id_t = dict(base.dtypes)["id"]
    out_fields = ["total_tokens", "dup_token_frac", "total_lines", "dup_line_frac", "dup_line_char_frac"]
    out_fields += [f"top{n}gram_char_frac" for n in top_ns]
    out_fields += [f"dup{n}gram_char_frac" for n in dup_ns]
    schema = f"id {id_t}, n_chars bigint, total_tokens bigint, dup_token_frac float, " \
             "total_lines bigint, dup_line_frac float, dup_line_char_frac float, " \
             + ", ".join(
                 [f"top{n}gram_char_frac float" for n in top_ns]
                 + [f"dup{n}gram_char_frac float" for n in dup_ns]
             )

    def _fr(num: int, den: int) -> float:
        return float(num) / float(den) if den > 0 else 0.0

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                toks = list(rec.toks)
                lines = list(rec.lines)
                n_chars = int(rec.n_chars)
                total_tokens = len(toks)
                lc = Counter(lines)
                line_chars = sum(len(x) for x in lines)
                dup_line_occ = sum(c for c in lc.values() if c > 1)
                dup_line_chars = sum(len(x) * c for x, c in lc.items() if c > 1)
                row = [
                    rec.id, n_chars, total_tokens,
                    _fr(total_tokens - len(set(toks)), total_tokens),
                    len(lines), _fr(dup_line_occ, len(lines)), _fr(dup_line_chars, line_chars),
                ]
                gcnt = {n: Counter(getattr(rec, f"g{n}")) for n in ns}
                for n in top_ns:
                    top = max((c * len(g) for g, c in gcnt[n].items()), default=0)
                    row.append(_fr(top, n_chars))
                for n in dup_ns:
                    dup = sum(c * len(g) for g, c in gcnt[n].items() if c > 1)
                    row.append(_fr(dup, n_chars))
                rows.append(row)
            if rows:
                yield pd.DataFrame(rows, columns=["id", "n_chars", *out_fields])

    out = base.mapInPandas(stats, schema=schema)
    return out.select(
        F.col("id").alias(id_col), "n_chars", "total_tokens",
        F.col("dup_token_frac").cast("float").alias("dup_token_frac"),
        "total_lines",
        F.col("dup_line_frac").cast("float").alias("dup_line_frac"),
        F.col("dup_line_char_frac").cast("float").alias("dup_line_char_frac"),
        *[F.col(c).cast("float").alias(c) for c in out_fields[5:]],
    )


def decontaminate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bench_df: DataFrame,
    bench_text_col: str,
    n: int = 3,
    mark_only: bool = True,
    broadcast: bool = True,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Flag (or drop) training documents sharing any word ``n``-gram with a
    benchmark corpus.

    ``mark_only=True`` returns ``df`` plus ``(n_hit_grams, contaminated)``
    where ``n_hit_grams`` counts DISTINCT benchmark grams found in the
    document; ``mark_only=False`` returns only clean rows, original schema.

    ``broadcast=True`` (default): the benchmark side is deduped then
    broadcast — the training corpus is probed with a broadcast hash join,
    never shuffled against the benchmark. Right while the deduped gram set
    fits an executor (every published benchmark suite does). For a
    benchmark corpus too large to broadcast (e.g. decontaminating against
    another full training corpus), pass ``broadcast=False``: the probe
    becomes a shuffle hash join on the gram key — the training side's
    (id, gram) pairs exchange once, and AQE still picks broadcast at
    runtime if the built side turns out small.

    ``bench_grams``: a precomputed single-column ``gram`` frame (the
    deduped benchmark n-gram set). Batch loops that decontaminate MANY
    batches against the SAME benchmark (stream_curate) pass a persisted
    one so the explode+distinct does not rerun per batch; must have been
    built with the same ``n``.
    """
    if bench_grams is None:
        bench_grams = bench_df.select(
            F.explode(T.word_ngrams(bench_text_col, n)).alias("gram")
        ).distinct()
    doc_grams = df.select(
        F.col(id_col).alias("__id"), F.explode(T.word_ngrams(text_col, n)).alias("gram")
    )
    probe = F.broadcast(bench_grams) if broadcast else bench_grams
    hits = (
        doc_grams.join(probe, "gram")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    out = (
        df.join(hits, F.col(id_col) == F.col("__id"), "left")
        .drop("__id")
        .withColumn("n_hit_grams", F.coalesce("n_hit_grams", F.lit(0)).cast("long"))
        .withColumn("contaminated", F.col("n_hit_grams") > 0)
    )
    if mark_only:
        return out
    return out.filter(~F.col("contaminated")).drop("n_hit_grams", "contaminated")


def ngram_lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 1,
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Corpus-self-trained n-gram LM quality score (the CCNet / Wenzek et
    al. 2020 filter shape, with the corpus itself as the LM when no
    external ``counts_df`` is given): each document is scored by the average
    log-probability of its word n-grams under an add-one-smoothed unigram
    model over n-gram types.

    Output: ``(id_col, n_grams, n_oov, avg_logprob, ppl)`` where ``n_oov``
    counts grams unseen in the count table (only possible with an external
    ``counts_df``; self-trained scoring has no OOV) and
    ``ppl = exp(-avg_logprob)``.

    Determinism contract (the driver hashes values): the per-document sum
    folds the gram log-probs IN TOKEN ORDER via an ``aggregate`` HOF over a
    position-sorted array — a plain ``groupBy().sum()`` of doubles would
    sum in shuffle arrival order and flap low-order bits between runs.

    Scale shape: one count-table aggregation (map-side combinable), a
    broadcast-or-shuffle join of gram rows against it (vocabulary is tiny
    next to the corpus; Spark picks broadcast under AQE when it fits), and
    one per-document aggregation. The N/V scalars are a single 2-number
    driver aggregate, not a collect of data rows.
    """
    from .dedup import _fan_out

    gram_col = T.tokens(text_col) if n == 1 else T.word_ngrams_all(text_col, n)
    grams = _fan_out(df).select(
        F.col(id_col).alias("__id"),
        F.posexplode(gram_col).alias("__pos", "__gram"),
    )
    if counts_df is None:
        # The count table is referenced three times (the N/V collect below,
        # and the scored join); persist it — it is vocab-scale, tiny next
        # to the corpus. The GRAM frame is deliberately NOT persisted: it
        # is corpus-token-scale, and re-running the map-only tokenize+
        # explode once more (counts build + probe side) is cheaper at scale
        # than spilling a materialized token table to executor disk.
        from .dedup import _shared

        counts = _shared(grams.groupBy("__gram").agg(F.count(F.lit(1)).alias("__c")))
    else:
        counts = counts_df.select(F.col("gram").alias("__gram"), F.col("c").cast("long").alias("__c"))
    tot = counts.agg(
        F.sum("__c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    N, V = int(tot["n"] or 0), int(tot["v"] or 0)
    denom = float(N + V)
    scored = grams.join(counts, "__gram", "left").select(
        "__id",
        "__pos",
        F.col("__c").isNull().cast("int").alias("__oov"),
        F.log((F.coalesce(F.col("__c"), F.lit(0)).cast("double") + 1.0) / F.lit(denom)).alias("__lp"),
    )
    per_doc = scored.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("__oov").cast("long").alias("n_oov"),
        F.array_sort(F.collect_list(F.struct(F.col("__pos"), F.col("__lp")))).alias("__arr"),
    )
    avg = F.aggregate(F.col("__arr"), F.lit(0.0), lambda a, e: a + e["__lp"]) / F.col("n_grams").cast(
        "double"
    )
    return per_doc.select(
        F.col("__id").alias(id_col),
        "n_grams",
        "n_oov",
        avg.alias("avg_logprob"),
        F.exp(-avg).alias("ppl"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_BULLET_PREFIXES = ("•", "‣", "▶", "-", "*")


def gopher_quality_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_wlen: float = 3.0,
    max_mean_wlen: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, "Scaling
    Language Models", appendix A1.1) — the published hard filters most
    pretraining pipelines run verbatim, as per-rule flags plus their AND
    (flag-don't-drop, like every recipe here):

    1. word count in [50, 100 000];
    2. mean word length in [3, 10] characters;
    3. symbol-to-word ratio (``#`` or ``...``) <= 0.1;
    4. <= 90% of lines start with a bullet ('•', '‣', '▶', '-', '*');
    5. <= 30% of lines end with an ellipsis ('...' or '…');
    6. >= 80% of words contain at least one alphabetic character;
    7. at least 2 distinct Gopher stop words
       (the/be/to/of/and/that/have/with) present as tokens.

    Output: ``df`` plus the measured signals (``gq_n_words``,
    ``gq_mean_wlen``, ``gq_symbol_ratio``, ``gq_bullet_frac``,
    ``gq_ellipsis_frac``, ``gq_alpha_frac``, ``gq_stop_hits``), one
    boolean per rule (``gq_r1_ok`` .. ``gq_r7_ok``) and ``gopher_keep``.

    Scale shape: one map-only projection — every signal is a JVM
    higher-order expression over the document's own token/line arrays,
    zero Exchanges, whole-stage codegen end to end. Byte-exact duckdb
    twin in ``oracle.sql_gopher_quality``.
    """
    t = T.tokens(text_col)
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    n_words = F.size(t).cast("long")
    n_lines = F.size(lines)
    mean_wlen = F.aggregate(
        t, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    ).cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    # non-overlapping '...' runs count like regexp_extract_all; '#' per char
    n_hash = F.size(F.split(F.col(text_col), "#", -1)) - 1
    n_ellipsis = F.size(F.split(F.col(text_col), r"\.\.\.", -1)) - 1
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / F.greatest(
        n_words, F.lit(1)
    ).cast("double")
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(l, 1, 1).isin(*_BULLET_PREFIXES),
        )
    ).cast("double") / F.greatest(n_lines, F.lit(1)).cast("double")
    ell = F.size(
        F.filter(
            lines,
            lambda l: l.endswith("...") | l.endswith("…"),
        )
    ).cast("double") / F.greatest(n_lines, F.lit(1)).cast("double")
    alpha = F.size(
        F.filter(t, lambda w: w.rlike("[A-Za-z]"))
    ).cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    # distinct stop words present: one array_intersect — a per-element
    # array_contains over the stopword list would re-evaluate the whole
    # tokenize+lower subtree 8 times (the HOF collapse trap the shingle
    # builders document)
    stop_hits = F.size(
        F.array_intersect(
            F.transform(t, lambda w: F.lower(w)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    out = (
        df.withColumn("gq_n_words", n_words)
        .withColumn("gq_mean_wlen", mean_wlen)
        .withColumn("gq_symbol_ratio", symbol_ratio)
        .withColumn("gq_bullet_frac", bullet)
        .withColumn("gq_ellipsis_frac", ell)
        .withColumn("gq_alpha_frac", alpha)
        .withColumn("gq_stop_hits", stop_hits)
    )
    rules = {
        "gq_r1_ok": (F.col("gq_n_words") >= min_words)
        & (F.col("gq_n_words") <= max_words),
        "gq_r2_ok": (F.col("gq_mean_wlen") >= min_mean_wlen)
        & (F.col("gq_mean_wlen") <= max_mean_wlen),
        "gq_r3_ok": F.col("gq_symbol_ratio") <= max_symbol_ratio,
        "gq_r4_ok": F.col("gq_bullet_frac") <= max_bullet_frac,
        "gq_r5_ok": F.col("gq_ellipsis_frac") <= max_ellipsis_frac,
        "gq_r6_ok": F.col("gq_alpha_frac") >= min_alpha_frac,
        "gq_r7_ok": F.col("gq_stop_hits") >= min_stop_hits,
    }
    keep = F.lit(True)
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
        keep = keep & F.col(name)
    return out.withColumn("gopher_keep", keep)


def stupid_backoff_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    alpha: float = 0.4,
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document stupid-backoff LM score (Brants et al. 2007, "Large
    Language Models in Machine Translation" §4 — the backoff scheme
    designed precisely for distributed MapReduce-style count tables,
    which is why it is the right LM for a Spark pipeline).

    Token ``w`` at position ``i`` is scored with the LONGEST available
    context ``k0 = min(i+1, n)`` and backs off with penalty ``alpha`` per
    shortened order::

        S(w | ctx_k) = count(gram_k) / count(ctx_k)        if seen
                     = alpha * S(w | ctx_{k-1})            otherwise
        S(w)         = count(w) / N                        (base case)

    Self-trained (no ``counts_df``): every gram of every order came from
    the corpus itself, so the top order always hits and no backoff or OOV
    occurs — the interesting regimes need an external ``counts_df``
    (columns ``gram``, ``c``; orders mixed, distinguished by space count)
    trained on a held-out corpus, where unseen grams back off for real and
    a token absent from the table scores the floor ``1/(N+V)`` and counts
    in ``n_oov``.

    Output: ``(id_col, n_tokens, n_oov, avg_logscore, ppl)`` with
    ``avg_logscore`` the per-token mean of ``ln S`` and
    ``ppl = exp(-avg_logscore)``.

    Determinism contract (driver value hashes): per-document sums fold in
    token order via an ``aggregate`` HOF over a position-sorted array,
    and each term is ``ln(double/double) + integer * ln(alpha)`` so the
    only cross-engine drift is the 1-ulp JVM-vs-libm ``ln`` difference —
    expose at float32 when hash-gating, like :func:`ngram_lm_score`.

    Scale shape: ``n`` count aggregations (map-side combinable; the
    order-``n`` table is the big one — gram-keyed shuffle joins, never a
    driver collect), ``2n-1`` probe joins of the exploded token frame
    against the count tables (AQE broadcasts the small low orders), one
    per-document aggregation. N/V ride as a crossJoined one-row broadcast
    (zero driver actions in the build).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    from .dedup import _fan_out, _shared

    ln_a = math.log(alpha)
    base = _fan_out(df).select(F.col(id_col).alias("__id"), T.tokens(text_col).alias("__t"))
    t = F.col("__t")
    size = F.size(t)

    # per-order gram arrays aligned so arr_k[i] = the order-k gram ENDING
    # at token position i (null for i < k-1); ctx_k[i] = arr_{k-1}[i-1]
    null_s = F.lit(None).cast("string")
    end_grams: list[Column] = [t]
    for k in range(2, n + 1):
        grams = t
        for i in range(1, k):
            shifted = F.slice(t, i + 1, F.greatest(F.lit(0), size - i))
            grams = F.zip_with(grams, shifted, lambda x, y: F.concat_ws(" ", x, y))
        full = F.slice(grams, 1, F.greatest(F.lit(0), size - (k - 1)))
        end_grams.append(F.concat(F.array_repeat(null_s, k - 1), full))
    named = {f"g{k}": end_grams[k - 1] for k in range(1, n + 1)}
    for k in range(2, n + 1):
        # shift right by one and trim to token length (arrays_zip pads the
        # LONGEST array, so an untrimmed shift would emit a phantom row)
        named[f"x{k}"] = F.slice(
            F.concat(F.array(null_s), end_grams[k - 2]), 1, size
        )
    zipped = F.arrays_zip(*[named[c].alias(c) for c in named])
    rows = base.select("__id", F.posexplode(zipped).alias("__pos", "__z")).select(
        "__id", "__pos", *[F.col(f"__z.{c}").alias(c) for c in named]
    )

    if counts_df is None:
        rows = _shared(rows)
        counts = {
            k: _shared(
                rows.filter(F.col(f"g{k}").isNotNull())
                .groupBy(F.col(f"g{k}").alias("gram"))
                .agg(F.count(F.lit(1)).alias("c"))
            )
            for k in range(1, n + 1)
        }
    else:
        ext = counts_df.select(
            F.col("gram").cast("string").alias("gram"), F.col("c").cast("long").alias("c")
        )
        order = F.size(F.split(F.col("gram"), " "))
        counts = {k: _shared(ext.filter(order == k)) for k in range(1, n + 1)}
    # N (token total) and V (vocab size) ride as columns from a one-row
    # crossJoined aggregate instead of a driver collect: the collect was
    # one extra action (~0.5 s at sf0.1) whose only purpose was turning
    # the two scalars into literals — the arithmetic below is identical
    # double math either way
    tot = counts[1].agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("double").alias("__N"),
        F.count(F.lit(1)).cast("double").alias("__V"),
    )

    # probe joins: order-k gram count as ck, order-k context count as xk_c
    # (context of order k is an order-(k-1) gram, so it probes counts[k-1])
    for k in range(1, n + 1):
        rows = rows.join(
            counts[k].select(F.col("gram").alias(f"g{k}"), F.col("c").alias(f"c{k}")),
            f"g{k}",
            "left",
        )
    for k in range(2, n + 1):
        rows = rows.join(
            counts[k - 1].select(F.col("gram").alias(f"x{k}"), F.col("c").alias(f"xc{k}")),
            f"x{k}",
            "left",
        )
    rows = rows.crossJoin(F.broadcast(tot))

    k0 = F.least(F.col("__pos") + 1, F.lit(n))
    lp = None
    for k in range(n, 1, -1):
        hit = F.col(f"c{k}").isNotNull() & F.col(f"xc{k}").isNotNull()
        term = (
            F.log(F.col(f"c{k}").cast("double") / F.col(f"xc{k}").cast("double"))
            + (k0 - k).cast("double") * F.lit(ln_a)
        )
        lp = F.when(hit, term) if lp is None else lp.when(hit, term)
    # __N is the exact double of the integer token total and __N + __V an
    # exact double sum (both < 2^53), so these match the old
    # float(N) / float(N + V) literals bit-for-bit
    uni = (
        F.log(F.col("c1").cast("double") / F.col("__N"))
        + (k0 - 1).cast("double") * F.lit(ln_a)
    )
    floor = (
        F.log(F.lit(1.0) / (F.col("__N") + F.col("__V")))
        + (k0 - 1).cast("double") * F.lit(ln_a)
    )
    hit1 = F.col("c1").isNotNull()
    lp = (F.when(hit1, uni) if lp is None else lp.when(hit1, uni)).otherwise(floor)
    scored = rows.select(
        "__id",
        "__pos",
        F.col("c1").isNull().cast("int").alias("__oov"),
        lp.alias("__lp"),
    )
    per_doc = scored.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("__oov").cast("long").alias("n_oov"),
        F.array_sort(F.collect_list(F.struct(F.col("__pos"), F.col("__lp")))).alias("__arr"),
    )
    avg = F.aggregate(F.col("__arr"), F.lit(0.0), lambda a, e: a + e["__lp"]) / F.col(
        "n_tokens"
    ).cast("double")
    return per_doc.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        "n_oov",
        avg.alias("avg_logscore"),
        F.exp(-avg).alias("ppl"),
    )


CLF_BUCKETS = 1 << 18  # fastText's default hashing-trick bucket space


def _hash_weight(b: Column) -> Column:
    """Deterministic pseudo-weight in [-1, 1] for bucket ``b`` — the
    documented stand-in for trained classifier weights (the container has
    no trained fastText model; the multimodal codec stub sets the
    precedent). Shared bit-for-bit with the duckdb twin via hash64."""
    return ((T.hash64(b.cast("string"), seed="w:") % 2001) - 1000).cast("double") / 1000.0


def classifier_score(
    df: DataFrame,
    text_col: str,
    id_col: str | None = None,
    weights_df: DataFrame | None = None,
    buckets: int = CLF_BUCKETS,
    bias: float = 0.0,
    out_col: str = "clf_score",
) -> DataFrame:
    """FastText-shape linear quality classifier (Joulin et al. 2016,
    arXiv:1607.01759 — the architecture behind the GPT-3/LLaMA-pipeline
    quality filters): hashed unigram+bigram bag features mean-pooled into
    a logit, ``score = sigmoid(bias + mean_f w[f])``. Docs with no tokens
    score ``sigmoid(bias)``.

    ``weights_df`` is an optional trained model as ``(bucket, w)`` rows
    (absent buckets weigh 0). Without it, deterministic hash-derived
    pseudo-weights stand in — the Spark-side plumbing (feature hashing,
    pooling, calibration) is real and tested; only the weights are fake,
    and they are fake *identically* in the duckdb oracle.

    Scale shape: the default path is a single map-only projection — the
    feature array never explodes, nothing shuffles, whole rows stream
    through codegen. The ``weights_df`` path broadcast-joins the (tiny)
    model against exploded features and folds back in position order
    (same determinism contract as :func:`ngram_lm_score`).
    """
    from .sampling import _hashed_features

    feats = _hashed_features(text_col, buckets)
    if weights_df is None:
        from ..functions.text import _let

        # let-bind the feature array (round 13): `size` and the weight
        # fold both referenced `feats`, so the tokenize+hash pipeline ran
        # twice per row; a bound lambda variable evaluates it once. Same
        # arithmetic, bit-identical scores.
        def _score(fs):
            n = F.size(fs)
            s = F.aggregate(fs, F.lit(0.0), lambda a, b: a + _hash_weight(b))
            logit = F.lit(bias) + F.when(n > 0, s / n.cast("double")).otherwise(F.lit(0.0))
            return F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))

        return df.withColumn(out_col, _let(feats, _score))
    if id_col is None:
        raise ValueError("weights_df scoring needs id_col to fold per document")
    from .dedup import _fan_out

    w = weights_df.select(F.col("bucket").alias("__b"), F.col("w").cast("double").alias("__w"))
    g = _fan_out(df).select(
        F.col(id_col).alias("__id"), F.posexplode(feats).alias("__pos", "__b")
    )
    sc = g.join(F.broadcast(w), "__b", "left").select(
        "__id", "__pos", F.coalesce("__w", F.lit(0.0)).alias("__w")
    )
    per_doc = sc.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.array_sort(F.collect_list(F.struct(F.col("__pos"), F.col("__w")))).alias("__arr"),
    )
    logit = F.lit(bias) + F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda a, e: a + e["__w"]
    ) / F.col("__n").cast("double")
    scored = per_doc.select(
        F.col("__id").alias(id_col),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias(out_col),
    )
    # same shape contract as the default path: every input column survives,
    # out_col is appended; docs with zero features get sigmoid(bias)
    empty_score = 1.0 / (1.0 + math.exp(-bias))
    return (
        df.join(scored, id_col, "left")
        .withColumn(out_col, F.coalesce(out_col, F.lit(empty_score)))
    )


def semantic_decontaminate(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    bench_df: DataFrame,
    bench_vec_col: str | None = None,
    threshold: float = 0.95,
    metric: str = "cosine",
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag training docs whose
    embedding is too similar to ANY benchmark doc — the semantic
    complement of :func:`decontaminate`'s n-gram overlap (paraphrased or
    translated eval leakage has no shared grams; modern eval-contamination
    checks run both). Output: ``(id_col, best_score, contaminated)`` —
    ``best_score`` is the max similarity (cosine/ip) or min distance
    (l2sq) against the benchmark; docs with NULL vectors produce no row
    (mirrors the relational twin's NULL-scoring semantics).

    Scale shape: the benchmark is eval-sized by definition, so it
    broadcasts as one numpy matrix; the corpus streams through a map-only
    ``mapInPandas`` GEMM that emits, per doc, the best bench vector plus
    any within the kernel's eps band — the authoritative score is then the
    JVM double expression over the carried pair (bit-identical to the
    duckdb oracle after the f32 round-trip; same two-phase discipline as
    every kernel path here), and the final per-doc max/min is one
    map-side-combinable aggregation of (id, double) rows. The corpus never
    shuffles its text or vectors.
    """
    from typing import Iterator

    import pandas as pd

    from ..broadcasts import tracked_broadcast
    from ..functions.distance import METRIC_IS_DESCENDING, canonical_metric, distance_expr
    from ..functions.kernels import as_matrix, pairwise_scores

    m = canonical_metric(metric)
    desc = METRIC_IS_DESCENDING[m]
    bcol = bench_vec_col or vec_col
    bench_pdf = (
        bench_df.select(F.col(bcol).alias("v")).filter(F.col(bcol).isNotNull()).toPandas()
    )
    spark = df.sparkSession
    id_t = dict(df.dtypes)[id_col]
    if len(bench_pdf) == 0:
        return spark.createDataFrame([], f"{id_col} {id_t}, best_score double, contaminated boolean")
    import numpy as np

    bmat32 = np.vstack(bench_pdf["v"].to_numpy()).astype(np.float32)
    bc = tracked_broadcast(spark.sparkContext, bmat32)
    src = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__tv")).filter(
        F.col(vec_col).isNotNull()
    )

    def best(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        b32 = bc.value
        bmat = b32.astype(np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tmat = np.ascontiguousarray(np.vstack(pdf["__tv"].to_numpy()), dtype=np.float64)
            scores = pairwise_scores(bmat, tmat, m)  # (n_bench, n_docs)
            o = -scores if desc else scores
            best_v = o.min(axis=0)
            tol = 1e-9 * np.maximum(1.0, np.abs(best_v))
            ids, tvs, bvs = [], [], []
            # eps band: every bench vector within kernel error of the best
            # survives to the exact JVM re-score (ties/near-ties included)
            for j in range(o.shape[1]):
                cand = np.flatnonzero(o[:, j] <= best_v[j] + tol[j])
                ids.extend([pdf["__id"].iloc[j]] * len(cand))
                tvs.extend([pdf["__tv"].iloc[j]] * len(cand))
                bvs.extend(b32[cand])
            yield pd.DataFrame({"__id": ids, "__tv": tvs, "__bv": list(bvs)})

    cand = src.mapInPandas(best, schema=f"__id {id_t}, __tv array<float>, __bv array<float>")
    exact = cand.select("__id", distance_expr("__tv", "__bv", m).alias("__s"))
    agg = F.max("__s") if desc else F.min("__s")
    flag = (F.col("best_score") >= threshold) if desc else (F.col("best_score") <= threshold)
    return (
        exact.groupBy("__id")
        .agg(agg.alias("best_score"))
        .select(F.col("__id").alias(id_col), "best_score", flag.alias("contaminated"))
    )
