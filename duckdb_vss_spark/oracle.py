"""duckdb-SQL twins of the engine's text/dedup functions.

Each function returns a SQL snippet computing EXACTLY what the matching
Column builder in :mod:`duckdb_vss_spark.functions.text` computes, generated
from the same constants (stopword lists, seeds, token regex), so the
driver's oracle comparison is bit-stable. Targets duckdb 1.0 SQL (no
3-arg min_by, no array_cosine_distance — emulated).
"""

from __future__ import annotations

from .functions.text import LANGS, SIMHASH_BITS, STOPWORDS, TOKEN_REGEX


def sql_tokens(col: str) -> str:
    return f"string_split_regex(trim({col}), '\\s+')"


def sql_token_count(col: str) -> str:
    return f"len({sql_tokens(col)})"


def sql_token_count_regex(col: str) -> str:
    return f"len(regexp_extract_all({col}, '{TOKEN_REGEX}'))"


def sql_normalize(col: str) -> str:
    return f"trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))"


def sql_fingerprint(col: str) -> str:
    return f"md5({sql_normalize(col)})"


def sql_hash64(expr: str) -> str:
    """('0x' || md5(expr)[1:15])::BIGINT — same 60-bit hash as hash64()."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def sql_id_hash(id_col: str, seed: str) -> str:
    """Twin of operators.sampling._hash_of: ``hash64(seed || CAST(id AS
    VARCHAR))`` — the ordering/bucketing key of every sampling operator."""
    return sql_hash64(f"'{seed}' || CAST({id_col} AS VARCHAR)")


def sql_word_ngrams(col: str, n: int) -> str:
    t = sql_tokens(col)
    if n == 1:
        return f"list_sort(list_distinct({t}))"
    return (
        f"list_sort(list_distinct(list_transform(range(1, greatest(1, len({t}) - {n - 1}) + 1), "
        f"i -> array_to_string({t}[i:i+{n - 1}], ' '))))"
    )


def sql_word_ngrams_all(col: str, n: int) -> str:
    """Twin of functions.text.word_ngrams_all — every occurrence, in order."""
    t = sql_tokens(col)
    if n == 1:
        return t
    return (
        f"list_transform(range(1, greatest(1, len({t}) - {n - 1}) + 1), "
        f"i -> array_to_string({t}[i:i+{n - 1}], ' '))"
    )


MINHASH_MOD = 1 << 40


def sql_shingle_hash_halves(col: str, n: int) -> tuple[str, str]:
    """(h1s, h2s) SQL — twins of functions.text.shingle_hash_halves."""
    sh = sql_word_ngrams(col, n)
    hexes = f"list_transform({sh}, s -> md5(s))"
    h1s = f"list_transform({hexes}, h -> ('0x' || substr(h, 1, 10))::BIGINT)"
    h2s = f"list_transform({hexes}, h -> ('0x' || substr(h, 11, 10))::BIGINT)"
    return h1s, h2s


def sql_minhash_from_halves(h1s_col: str, h2s_col: str, num_perm: int) -> str:
    """Signature from hash-half list columns (use in a CTE). Positional
    zip via range-indexing, matching Spark's zip_with."""
    elems = ", ".join(
        f"list_min(list_transform(range(1, len({h1s_col}) + 1), "
        f"j -> ({h1s_col}[j] + {i} * {h2s_col}[j]) % {MINHASH_MOD}))"
        for i in range(num_perm)
    )
    return f"[{elems}]"


def sql_stopword_ratio(col: str, lang: str) -> str:
    t = f"list_distinct({sql_tokens(col)})"
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"(len(list_intersect({t}, [{words}]))::DOUBLE / len({t})::DOUBLE)"


def sql_lang_id(col: str, threshold: float = 0.02) -> str:
    ratios = {lang: sql_stopword_ratio(col, lang) for lang in LANGS}
    expr = "'und'"
    for lang in reversed(LANGS):
        others = " AND ".join(f"({ratios[lang]}) >= ({ratios[o]})" for o in LANGS if o != lang)
        expr = f"CASE WHEN ({ratios[lang]}) >= {threshold} AND {others} THEN '{lang}' ELSE {expr} END"
    return expr


def sql_quality_score(col: str) -> str:
    ntok = f"len({sql_tokens(col)})::DOUBLE"
    nospace = f"length(regexp_replace({col}, '\\s+', '', 'g'))::DOUBLE"
    return (
        f"(0.4 * least(1.0, {ntok} / 64.0)"
        f" + 0.3 * least(1.0, {sql_stopword_ratio(col, 'en')} * 5.0)"
        f" + 0.3 * least(1.0, ({nospace} / {ntok}) / 6.0))"
    )


def sql_winnow_grams(col: str, k: int) -> str:
    """int64 hashes of the k-char grams of normalized text (winnowing
    input; twin of the gram stage of functions.text.winnow_fingerprints).
    Use in a CTE so the window stage references it by name."""
    s = sql_normalize(col)
    return (
        f"list_transform(range(1, greatest(1, length({s}) - {k - 1}) + 1), "
        f"i -> {sql_hash64(f'substr({s}, i, {k})')})"
    )


def sql_winnow_from_grams(gh_col: str, w: int) -> str:
    """Winnowed fingerprint set from a gram-hash list column: min per
    w-window, deduped (twin of the window stage of winnow_fingerprints)."""
    return (
        f"list_distinct(list_transform(range(1, greatest(1, len({gh_col}) - {w - 1}) + 1), "
        f"j -> list_min({gh_col}[j:j+{w - 1}])))"
    )


def sql_feature_hashes(col: str, n: int = 1) -> str:
    """int64 hash list of the distinct word-ngram features (simhash input).
    Use in a CTE so the per-bit sums below reference it by name."""
    feats = sql_word_ngrams(col, n)
    return f"list_transform({feats}, s -> {sql_hash64('s')})"


def sql_simhash_from_hashes(hcol: str) -> str:
    """SimHash bit-vote sum over a precomputed hash-list column (see
    functions.text.simhash64 for the Spark twin)."""
    terms = []
    for j in range(SIMHASH_BITS - 4):
        votes = f"list_sum(list_transform({hcol}, h -> ((h >> {j}) & 1)::INT))"
        terms.append(f"(CASE WHEN {votes} * 2 > len({hcol}) THEN {2**j}::BIGINT ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def sql_pii_counts(col: str) -> list[tuple[str, str]]:
    """(colname, SQL) pairs mirroring operators.quality.pii_stats: duckdb's
    regexp_extract_all over the same RE2-compatible patterns."""
    from .operators.quality import PII_PATTERNS

    out = []
    for kind, pat, _ in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        out.append((f"n_{kind}", f"len(regexp_extract_all({col}, '{sql_pat}'))::BIGINT"))
    return out


def sql_redact_pii(col: str) -> str:
    """Chained regexp_replace mirroring operators.quality.redact_pii
    (duckdb needs the explicit 'g' flag; Spark replaces all by default)."""
    from .operators.quality import PII_PATTERNS

    expr = col
    for _, pat, tag in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{tag}', 'g')"
    return expr


def sql_duplicated_spans(table: str, text_col: str, id_col: str, k: int, min_docs: int) -> str:
    """Twin of operators.dedup.duplicated_spans: k-token window hashes with
    0-based positions, restricted to hashes in >= min_docs distinct docs."""
    grams = sql_word_ngrams_all(text_col, k)
    return f"""
        WITH g AS MATERIALIZED (
          SELECT {id_col} AS id,
                 unnest(range(0, len({grams}))) AS pos,
                 unnest(list_transform({grams}, s -> {sql_hash64('s')})) AS gram_hash
          FROM {table}
        ),
        hot AS (
          SELECT gram_hash, count(DISTINCT id) AS n_docs
          FROM g GROUP BY gram_hash HAVING count(DISTINCT id) >= {min_docs}
        )
        SELECT g.id AS {id_col}, g.pos::INT AS pos, g.gram_hash, hot.n_docs
        FROM g JOIN hot USING (gram_hash)
    """


def sql_duplicated_span_profile(table: str, text_col: str, id_col: str, k: int, min_docs: int) -> str:
    """Twin of operators.dedup.duplicated_span_profile."""
    grams = sql_word_ngrams_all(text_col, k)
    spans = sql_duplicated_spans(table, text_col, id_col, k, min_docs)
    return f"""
        WITH spans AS MATERIALIZED ({spans}),
        per_doc AS (
          SELECT {id_col}, count(*) AS n_dup_windows FROM spans GROUP BY {id_col}
        )
        SELECT t.{id_col},
               len({grams})::BIGINT AS n_windows,
               coalesce(per_doc.n_dup_windows, 0)::BIGINT AS n_dup_windows,
               (CASE WHEN len({grams}) > 0
                     THEN coalesce(per_doc.n_dup_windows, 0)::DOUBLE / len({grams})::DOUBLE
                     ELSE 0.0 END)::FLOAT AS dup_window_frac
        FROM {table} t LEFT JOIN per_doc USING ({id_col})
    """


def _sql_quote_char(c: str) -> str:
    return "chr(39)" if c == "'" else f"'{c}'"


def sql_clean_lines(
    col: str,
    min_words: int = 3,
    require_terminal_punct: bool = True,
    blocklist: tuple[str, ...] | None = None,
    drop_brace_lines: bool = True,
) -> str:
    """Twin of operators.quality.clean_lines: the kept-lines LIST
    expression (callers wrap with array_to_string(..., chr(10)) / len)."""
    from .operators.quality import LINE_BLOCKLIST, TERMINAL_PUNCT

    preds = [f"len(string_split_regex(trim(x), '\\s+')) >= {min_words}"]
    if require_terminal_punct:
        punct = ", ".join(_sql_quote_char(c) for c in TERMINAL_PUNCT)
        preds.append(f"right(trim(x), 1) IN ({punct})")
    for ph in LINE_BLOCKLIST if blocklist is None else blocklist:
        preds.append(f"NOT contains(lower(trim(x)), '{ph.lower()}')")
    if drop_brace_lines:
        preds.append("NOT contains(x, chr(123))")
    return f"list_filter(string_split({col}, chr(10)), x -> {' AND '.join(preds)})"


def sql_line_dedup(table: str, text_col: str, id_col: str, min_count: int = 2, keep_first: bool = True) -> str:
    """Twin of operators.dedup.line_dedup: (id_col, n_lines,
    n_removed_lines, text_dedup) per input row."""
    first = "AND rn > 1" if keep_first else ""
    return f"""
        WITH lx AS MATERIALIZED (
          SELECT {id_col} AS id, string_split({text_col}, chr(10)) AS ls FROM {table}
        ),
        occ AS MATERIALIZED (
          SELECT id, unnest(range(0, len(ls))) AS pos, unnest(ls) AS line FROM lx
        ),
        ranked AS (
          SELECT id, pos,
                 count(*) OVER (PARTITION BY {sql_hash64("trim(line)")}) AS c,
                 row_number() OVER (
                   PARTITION BY {sql_hash64("trim(line)")} ORDER BY id, pos) AS rn
          FROM occ WHERE len(trim(line)) > 0
        ),
        rem AS (
          SELECT id, pos FROM ranked WHERE c >= {min_count} {first}
        ),
        kept AS (
          SELECT occ.id, occ.pos, occ.line
          FROM occ LEFT JOIN rem ON occ.id = rem.id AND occ.pos = rem.pos
          WHERE rem.id IS NULL
        ),
        agg AS (
          SELECT id, string_agg(line, chr(10) ORDER BY pos) AS text_dedup
          FROM kept GROUP BY id
        ),
        remc AS (SELECT id, count(*) AS n_removed FROM rem GROUP BY id)
        SELECT lx.id AS {id_col},
               len(lx.ls)::BIGINT AS n_lines,
               coalesce(remc.n_removed, 0)::BIGINT AS n_removed_lines,
               coalesce(agg.text_dedup, '') AS text_dedup
        FROM lx LEFT JOIN agg ON lx.id = agg.id LEFT JOIN remc ON lx.id = remc.id
    """


def sql_temperature_sample(
    table: str, strata_col: str, id_col: str, alpha: float = 0.5, seed: str = "strata"
) -> str:
    """Twin of operators.sampling.temperature_sample: (id_col, strata_col)
    of the kept rows. Z folds n^alpha in stratum ASCENDING order via
    list_sum(list(... ORDER BY s)) — the same deterministic fold the Spark
    side does in Python, so the rate doubles agree bit-for-bit (alpha=0.5
    stays on IEEE sqrt)."""
    pw = "sqrt(n)" if alpha == 0.5 else f"pow(n, {alpha!r})"
    return f"""
        WITH cnt AS (
          SELECT {strata_col} AS s, count(*)::DOUBLE AS n FROM {table} GROUP BY {strata_col}
        ),
        tot AS (
          SELECT list_sum(list({pw} ORDER BY s)) AS z,
                 list_sum(list(n ORDER BY s)) AS t
          FROM cnt
        ),
        rate AS (
          SELECT s, least(1.0, tot.t * {pw} / tot.z / n) AS r FROM cnt, tot
        ),
        ranked AS (
          SELECT {id_col}, {strata_col},
                 row_number() OVER (PARTITION BY {strata_col}
                     ORDER BY {sql_id_hash(id_col, seed)}, {id_col}) AS rnk,
                 count(*) OVER (PARTITION BY {strata_col}) AS cnt_s
          FROM {table}
        )
        SELECT ranked.{id_col}, ranked.{strata_col}
        FROM ranked JOIN rate ON ranked.{strata_col} = rate.s
        WHERE rnk <= ceil(rate.r * cnt_s)
    """


def sql_ngram_lm_score(table: str, text_col: str, id_col: str, n: int = 1) -> str:
    """Twin of operators.quality.ngram_lm_score (self-trained, no OOV):
    add-one-smoothed unigram LM over n-gram types, per-doc log-probs
    summed in token order (list(... ORDER BY pos) -> list_sum) to match
    the Spark side's position-sorted fold exactly."""
    grams = sql_tokens(text_col) if n == 1 else sql_word_ngrams_all(text_col, n)
    return f"""
        WITH g AS MATERIALIZED (
          SELECT {id_col} AS id,
                 unnest(range(0, len({grams}))) AS pos,
                 unnest({grams}) AS gram
          FROM {table}
        ),
        counts AS MATERIALIZED (SELECT gram, count(*) AS c FROM g GROUP BY gram),
        tot AS (SELECT sum(c) AS nn, count(*) AS vv FROM counts),
        lp AS (
          SELECT id, pos, ln((counts.c + 1)::DOUBLE / (tot.nn + tot.vv)::DOUBLE) AS lp
          FROM g JOIN counts USING (gram), tot
        ),
        arr AS (
          SELECT id, count(*) AS n_grams, list(lp ORDER BY pos) AS lps
          FROM lp GROUP BY id
        )
        SELECT id AS {id_col}, n_grams, 0::BIGINT AS n_oov,
               list_sum(lps) / n_grams::DOUBLE AS avg_logprob,
               exp(-(list_sum(lps) / n_grams::DOUBLE)) AS ppl
        FROM arr
    """


def sql_stupid_backoff_score(
    table: str,
    text_col: str,
    id_col: str,
    n: int = 3,
    alpha: float = 0.4,
    train_filter: str | None = None,
    score_filter: str | None = None,
) -> str:
    """Twin of operators.quality.stupid_backoff_score: per-token score
    with the longest available context k0 = min(pos+1, n). Self-trained
    (no filters) the top order always hits — no backoff, no OOV. With
    ``train_filter``/``score_filter`` (SQL predicates over ``table``),
    counts come from the training slice and scoring covers the score
    slice, so unseen grams genuinely BACK OFF (alpha penalty per
    shortened order) and unseen tokens floor at 1/(N+V) with n_oov
    counted — the twin of passing an external ``counts_df``. Grams are
    built with lag() windows (|| with NULL -> NULL gives the same
    null-for-early-positions alignment as the Spark side's padded
    arrays); per-doc log-scores fold in token order."""
    toks = sql_tokens(text_col)
    lag_cat = {1: "tok"}
    for k in range(2, n + 1):
        parts = [f"lag(tok, {k - 1 - j}) OVER w" for j in range(k - 1)] + ["tok"]
        lag_cat[k] = " || ' ' || ".join(parts)
    gram_cols = ",\n                 ".join(f"{lag_cat[k]} AS g{k}" for k in range(1, n + 1))
    # ctx_k (the order-(k-1) gram ending at pos-1) is the gram_k expression
    # minus its last term -- no nested window functions
    ctx_cols = ",\n                 ".join(
        " || ' ' || ".join(f"lag(tok, {k - 1 - j}) OVER w" for j in range(k - 1))
        + f" AS x{k}"
        for k in range(2, n + 1)
    )
    joins = "\n          ".join(
        f"LEFT JOIN c{k} jc{k} ON jc{k}.gram = g.g{k}" for k in range(1, n + 1)
    ) + "\n          " + "\n          ".join(
        f"LEFT JOIN c{k - 1} jx{k} ON jx{k}.gram = g.x{k}" for k in range(2, n + 1)
    )
    k0 = f"least(g.pos + 1, {n})"
    cases = "\n                   ".join(
        f"WHEN jc{k}.c IS NOT NULL AND jx{k}.c IS NOT NULL THEN "
        f"ln(jc{k}.c::DOUBLE / jx{k}.c::DOUBLE) + ({k0} - {k})::DOUBLE * ln({alpha})"
        for k in range(n, 1, -1)
    )
    uni = (
        f"WHEN jc1.c IS NOT NULL THEN ln(jc1.c::DOUBLE / tot.nn::DOUBLE) "
        f"+ ({k0} - 1)::DOUBLE * ln({alpha})"
    )
    floor = (
        f"ELSE ln(1.0 / (tot.nn + tot.vv)::DOUBLE) + ({k0} - 1)::DOUBLE * ln({alpha})"
    )
    train_where = f"WHERE {train_filter}" if train_filter else ""
    score_where = f"WHERE {score_filter}" if score_filter else ""
    grams_of = lambda where: f"""
          SELECT id, pos, tok,
                 {gram_cols},
                 {ctx_cols}
          FROM (
            SELECT {id_col} AS id,
                   unnest(range(0, len({toks}))) AS pos,
                   unnest({toks}) AS tok
            FROM {table} {where}
          )
          WINDOW w AS (PARTITION BY id ORDER BY pos)
    """
    train_cte = (
        f"gt AS MATERIALIZED ({grams_of(train_where)}),"
        if (train_filter or score_filter)
        else ""
    )
    count_src = "gt" if (train_filter or score_filter) else "g"
    count_ctes = ",\n        ".join(
        f"c{k} AS MATERIALIZED (SELECT g{k} AS gram, count(*) AS c FROM {count_src} "
        f"WHERE g{k} IS NOT NULL GROUP BY g{k})"
        for k in range(1, n + 1)
    )
    return f"""
        WITH g AS MATERIALIZED ({grams_of(score_where)}),
        {train_cte}
        {count_ctes},
        tot AS (SELECT sum(c) AS nn, count(*) AS vv FROM c1),
        lp AS (
          SELECT g.id, g.pos,
                 CASE WHEN jc1.c IS NULL THEN 1 ELSE 0 END AS oov,
                 CASE {cases}
                   {uni}
                   {floor} END AS lp
          FROM g
          {joins}, tot
        ),
        arr AS (
          SELECT id, count(*) AS n_tokens, sum(oov) AS n_oov,
                 list(lp ORDER BY pos) AS lps
          FROM lp GROUP BY id
        )
        SELECT id AS {id_col}, n_tokens, n_oov::BIGINT AS n_oov,
               list_sum(lps) / n_tokens::DOUBLE AS avg_logscore,
               exp(-(list_sum(lps) / n_tokens::DOUBLE)) AS ppl
        FROM arr
    """


def sql_tfidf_top_terms(table: str, text_col: str, id_col: str, top_k: int, min_df: int = 1) -> str:
    """Twin of operators.ranking.tfidf_top_terms (idf = ln(N/df), raw tf,
    rank ties broken by term ascending)."""
    toks = sql_tokens(text_col)
    return f"""
        WITH tf AS MATERIALIZED (
          SELECT {id_col} AS id, unnest({toks}) AS term
          FROM {table}
        ),
        tfc AS MATERIALIZED (
          SELECT id, term, count(*) AS tf FROM tf GROUP BY id, term
        ),
        dfreq AS (
          SELECT term, count(*) AS df FROM tfc GROUP BY term HAVING count(*) >= {min_df}
        ),
        scored AS (
          SELECT tfc.id, tfc.term, tfc.tf, dfreq.df,
                 tfc.tf::DOUBLE * ln((SELECT count(*) FROM {table})::DOUBLE / dfreq.df::DOUBLE) AS tfidf,
                 row_number() OVER (PARTITION BY tfc.id ORDER BY tfc.tf::DOUBLE * ln((SELECT count(*) FROM {table})::DOUBLE / dfreq.df::DOUBLE) DESC, tfc.term ASC) AS rank
          FROM tfc JOIN dfreq USING (term)
        )
        SELECT id AS {id_col}, term, rank::INT AS rank, tf, df, tfidf
        FROM scored WHERE rank <= {top_k}
    """


def sql_chunk_documents(table: str, text_col: str, id_col: str, chunk_tokens: int, overlap: int) -> str:
    """Twin of operators.sampling.chunk_documents: fixed-token windows with
    overlap, chunk i = tokens [i*stride+1 : i*stride+chunk] (1-based
    inclusive list slice), count = greatest(1, ceil((n-overlap)/stride))."""
    stride = chunk_tokens - overlap
    return f"""
        WITH d AS MATERIALIZED (
          SELECT id, toks, len(toks) AS n
          FROM (SELECT {id_col} AS id, {sql_tokens(text_col)} AS toks FROM {table})
        ),
        c AS (
          SELECT id,
                 unnest(range(0, greatest(1, (n - {overlap} + {stride - 1}) // {stride}))) AS chunk_id,
                 toks
          FROM d
        )
        SELECT id AS {id_col}, chunk_id,
               len(toks[chunk_id*{stride}+1 : chunk_id*{stride}+{chunk_tokens}])::BIGINT AS n_tokens,
               array_to_string(toks[chunk_id*{stride}+1 : chunk_id*{stride}+{chunk_tokens}], ' ') AS chunk_text
        FROM c
    """


def sql_dsir(
    table: str,
    text_col: str,
    id_col: str,
    target_where: str,
    k: int,
    buckets: int = 10_000,
    smoothing: float = 1.0,
) -> str:
    """Twin of operators.sampling.dsir_resample with ``target_df = <table>
    WHERE target_where``: hashed unigram+bigram bucket features, two
    add-smoothed bucket models, per-doc log-ratio sums folded in feature
    position order (list(... ORDER BY pos) -> list_sum), deterministic
    hash-Gumbel top-k selection."""
    s, B, M = float(smoothing), buckets, 1 << 20
    feats = f"list_concat({sql_tokens(text_col)}, {sql_word_ngrams_all(text_col, 2)})"
    bucket = sql_hash64("gram") + f" % {B}"
    return f"""
        WITH f AS MATERIALIZED (
          SELECT {id_col} AS id, pos, {bucket} AS b FROM (
            SELECT {id_col},
                   unnest(range(0, len({feats}))) AS pos,
                   unnest({feats}) AS gram
            FROM {table}
          )
        ),
        tgt AS MATERIALIZED (
          SELECT b, count(*) AS ct FROM f
          WHERE id IN (SELECT {id_col} FROM {table} WHERE {target_where})
          GROUP BY b
        ),
        raw AS MATERIALIZED (SELECT b, count(*) AS cr FROM f GROUP BY b),
        tot AS (
          SELECT (SELECT coalesce(sum(ct), 0) FROM tgt) AS nt,
                 (SELECT coalesce(sum(cr), 0) FROM raw) AS nr
        ),
        ratio AS MATERIALIZED (
          SELECT raw.b,
                 ln((coalesce(tgt.ct, 0)::DOUBLE + {s}) / (tot.nt::DOUBLE + {s * B}))
                 - ln((raw.cr::DOUBLE + {s}) / (tot.nr::DOUBLE + {s * B})) AS lr
          FROM raw LEFT JOIN tgt USING (b), tot
        ),
        per_doc AS MATERIALIZED (
          SELECT f.id, count(*) AS n_feats,
                 list_sum(list(ratio.lr ORDER BY f.pos)) AS log_w
          FROM f JOIN ratio ON f.b = ratio.b
          GROUP BY f.id
        ),
        keyed AS MATERIALIZED (
          SELECT id, n_feats, log_w,
                 log_w - ln(-ln((({sql_id_hash('id', 'dsir')} % {M})::DOUBLE + 0.5) / {float(M)})) AS key
          FROM per_doc
        )
        SELECT id AS {id_col}, n_feats, log_w, key,
               (id IN (SELECT id FROM keyed ORDER BY key DESC, id LIMIT {k})) AS keep
        FROM keyed
    """


def sql_classifier_score(text_col: str, buckets: int = 1 << 18, bias: float = 0.0) -> str:
    """Twin of operators.quality.classifier_score (default hash-weight
    path): hashed unigram+bigram buckets, mean-pooled pseudo-weights,
    sigmoid. list_transform preserves order and list_sum folds the
    resulting DOUBLE list in that order, matching Spark's aggregate HOF."""
    feats = (
        f"list_transform(list_concat({sql_tokens(text_col)}, "
        f"{sql_word_ngrams_all(text_col, 2)}), g -> {sql_hash64('g')} % {buckets})"
    )
    wsum = (
        f"list_sum(list_transform({feats}, "
        f"f -> (({sql_hash64(chr(39) + 'w:' + chr(39) + ' || f::VARCHAR')} % 2001) - 1000)::DOUBLE / 1000.0))"
    )
    n = f"len({feats})"
    logit = f"({bias} + CASE WHEN {n} > 0 THEN coalesce({wsum}, 0.0) / {n}::DOUBLE ELSE 0.0 END)"
    return f"(1.0 / (1.0 + exp(-({logit}))))"


def sql_hashed_embedding(table: str, text_col: str, id_col: str, dim: int = 64) -> str:
    """Twin of functions.text.hashed_embedding: per-doc ``(id, v)`` with
    the same ±1 bucket votes and L2 normalization (exact arithmetic, so
    fold order is immaterial)."""
    toks = sql_tokens(text_col)
    # hash each token once into (bucket, sign) structs, THEN vote per dim
    # — the naive per-dim spelling recomputes both md5s dim times
    tokh = (
        f"list_transform({toks}, t -> struct_pack("
        f"b := {sql_hash64('t')} % {dim}, "
        f"s := CASE WHEN {sql_hash64(chr(39) + 'sign:' + chr(39) + ' || t')} % 2 = 0 "
        f"THEN 1.0 ELSE -1.0 END))"
    )
    votes = (
        f"list_transform(range(0, {dim}), j -> coalesce(list_sum(list_transform(th, "
        f"p -> CASE WHEN p.b = j THEN p.s ELSE 0.0 END)), 0.0))"
    )
    return f"""
        WITH th0 AS MATERIALIZED (
          SELECT {id_col} AS id, {tokh} AS th FROM {table}
        ),
        e AS MATERIALIZED (
          SELECT id, {votes} AS raw FROM th0
        ),
        nr AS (
          SELECT id, raw, sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm FROM e
        )
        SELECT id AS {id_col},
               list_transform(raw, x -> CASE WHEN nrm > 0 THEN x / nrm ELSE 0.0 END) AS v
        FROM nr
    """


def _sql_url_parts(u: str) -> dict[str, str]:
    """Shared sub-expressions of the URL twins (anchored regexes identical
    to operators.web — single-match, so duckdb's first-match regexp_replace
    equals Spark's replace-all)."""
    rest = f"regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    authority = f"regexp_extract({rest}, '^([^/?#]*)', 1)"
    host_port = f"regexp_replace({authority}, '^[^@/]*@', '')"
    return {
        "scheme": f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))",
        "host": f"regexp_replace(lower(regexp_replace({host_port}, ':([0-9]+)$', '')), '^www\\.', '')",
        "port": f"regexp_extract({host_port}, ':([0-9]+)$', 1)",
        "path": f"regexp_extract({rest}, '^[^/?#]*([^?#]*)', 1)",
        "query": f"regexp_extract({u}, '\\?([^#]*)', 1)",
    }


def sql_normalize_url(u: str) -> str:
    """Twin of operators.web.normalize_url_expr (byte-exact), including the
    scheme-less fixed-point rule: no fabricated ``://`` prefix, bare
    leading ``://`` stripped before parsing."""
    from .operators.web import TRACKING_PARAM_RE

    u = f"regexp_replace({u}, '^://', '')"
    p = _sql_url_parts(u)
    scheme, host, port, path, query = p["scheme"], p["host"], p["port"], p["path"], p["query"]
    has_scheme = f"regexp_matches({u}, '^[A-Za-z][A-Za-z0-9+.-]*://')"
    port_part = (
        f"CASE WHEN {port} = '' OR ({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443') THEN '' ELSE ':' || {port} END"
    )
    path_n = (
        f"CASE WHEN {path} = '' THEN '/' "
        f"WHEN len({path}) > 1 AND ends_with({path}, '/') THEN substr({path}, 1, len({path}) - 1) "
        f"ELSE {path} END"
    )
    track = TRACKING_PARAM_RE.replace("'", "''")
    qn = (
        f"array_to_string(list_filter(string_split({query}, '&'), "
        f"x -> len(x) > 0 AND NOT regexp_matches(x, '{track}')), '&')"
    )
    q_part = f"CASE WHEN {qn} = '' THEN '' ELSE '?' || {qn} END"
    scheme_part = f"CASE WHEN {has_scheme} THEN {scheme} || '://' ELSE '' END"
    return f"concat({scheme_part}, {host}, {port_part}, {path_n}, {q_part})"


def sql_registered_domain(host: str) -> str:
    """Twin of operators.web.registered_domain_expr."""
    from .operators.web import SECOND_LEVEL_TLDS

    parts = f"string_split({host}, '.')"
    n = f"len({parts})"
    last2 = f"array_to_string(list_slice({parts}, {n} - 1, {n}), '.')"
    last3 = f"array_to_string(list_slice({parts}, {n} - 2, {n}), '.')"
    slds = ", ".join(f"'{t}'" for t in SECOND_LEVEL_TLDS)
    return (
        f"CASE WHEN {n} <= 2 THEN {host} "
        f"WHEN {last2} IN ({slds}) THEN {last3} ELSE {last2} END"
    )


def sql_remove_duplicated_spans(
    table: str, text_col: str, id_col: str, k: int, min_docs: int
) -> str:
    """Twin of operators.dedup.remove_duplicated_spans: drop every token
    covered by a duplicated k-token window, rejoin with single spaces.
    Output: (id_col, clean, n_tokens, n_removed_tokens)."""
    spans = sql_duplicated_spans(table, text_col, id_col, k, min_docs)
    return f"""
        WITH w AS MATERIALIZED (
          SELECT {id_col}, list(pos) AS ps FROM ({spans}) GROUP BY {id_col}
        ),
        base AS (
          SELECT {id_col}, {sql_tokens(text_col)} AS toks FROM {table}
        ),
        j AS (
          SELECT base.{id_col}, toks, coalesce(w.ps, []) AS ps
          FROM base LEFT JOIN w USING ({id_col})
        )
        SELECT {id_col},
               -- duckdb's array_to_string([]) is NULL where Spark's
               -- array_join([]) is '' — coalesce pins the fully-removed case
               coalesce(array_to_string(list_transform(
                 list_filter(range(0, len(toks)),
                             i -> len(list_filter(ps, p -> i >= p AND i < p + {k})) = 0),
                 i -> toks[i + 1]), ' '), '') AS clean,
               len(toks)::BIGINT AS n_tokens,
               (len(toks) - len(list_filter(range(0, len(toks)),
                 i -> len(list_filter(ps, p -> i >= p AND i < p + {k})) = 0)))::BIGINT AS n_removed_tokens
        FROM j
    """


def sql_gopher_quality(table: str, text_col: str, id_col: str) -> str:
    """Twin of operators.quality.gopher_quality_flags (default
    thresholds): the Rae et al. 2021 A1.1 rule signals and flags, built
    from the same tokenizer and line-splitting semantics."""
    from .operators.quality import GOPHER_STOPWORDS as _GS

    toks = sql_tokens(text_col)
    stops = ", ".join(f"'{s}'" for s in _GS)
    return f"""
        SELECT {id_col},
               n_words AS gq_n_words,
               mean_wlen AS gq_mean_wlen,
               symbol_ratio AS gq_symbol_ratio,
               bullet_frac AS gq_bullet_frac,
               ellipsis_frac AS gq_ellipsis_frac,
               alpha_frac AS gq_alpha_frac,
               stop_hits AS gq_stop_hits,
               (n_words BETWEEN 50 AND 100000)
                 AND (mean_wlen BETWEEN 3.0 AND 10.0)
                 AND (symbol_ratio <= 0.1)
                 AND (bullet_frac <= 0.9)
                 AND (ellipsis_frac <= 0.3)
                 AND (alpha_frac >= 0.8)
                 AND (stop_hits >= 2) AS gopher_keep
        FROM (
          SELECT {id_col},
                 len(toks)::BIGINT AS n_words,
                 list_sum(list_transform(toks, w -> strlen(w)))::DOUBLE
                   / greatest(len(toks), 1)::DOUBLE AS mean_wlen,
                 ((len(string_split({text_col}, '#')) - 1)
                  + (len(string_split({text_col}, '...')) - 1))::DOUBLE
                   / greatest(len(toks), 1)::DOUBLE AS symbol_ratio,
                 len(list_filter(lines, l -> substr(l, 1, 1) IN
                     ('•', '‣', '▶', '-', '*')))::DOUBLE
                   / greatest(len(lines), 1)::DOUBLE AS bullet_frac,
                 len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…'))::DOUBLE
                   / greatest(len(lines), 1)::DOUBLE AS ellipsis_frac,
                 len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
                   / greatest(len(toks), 1)::DOUBLE AS alpha_frac,
                 len(list_intersect(list_transform(toks, w -> lower(w)),
                     [{stops}]))::BIGINT AS stop_hits
          FROM (
            SELECT {id_col}, {text_col}, {toks} AS toks,
                   list_filter(list_transform(string_split({text_col}, chr(10)),
                                              l -> trim(l)), x -> x <> '') AS lines
            FROM {table}
          )
        )
    """
