"""URL / web-provenance curation operators.

The web-scale curation pipelines the engine targets (CCNet, C4, RefinedWeb)
all begin with a URL stage before any text is read: URL normalization so the
same page crawled twice dedups exactly, registered-domain extraction so
quality decisions and caps apply per site, domain blocklist filtering, and a
per-domain document cap so no single site dominates the training mix
(RefinedWeb §3.1 keeps per-domain counts bounded; C4 filters by source
blocklists). The reference engine has no web surface at all — this module is
part of the pipeline layer built on top of the parity core.

Design rules shared with :mod:`.quality`:

- Every per-row transform is a pure JVM expression (``regexp_extract`` /
  higher-order array functions) — map-only, zero shuffles, trivially
  correct at 100 TB.
- Patterns live in the common subset of Java regex (Spark) and RE2 (duckdb
  oracle): no backreferences, no lookaround — so the oracle twins in
  :mod:`..oracle` reproduce results byte-for-byte.
- The only shuffling operator here, :func:`per_domain_cap`, uses the
  grouped partial-top-k dataflow (map-side per-partition cap, then an exact
  window over the bounded survivors) so a hot domain with 100M rows never
  sorts 100M rows in one task.

Extraction stability: the HTML extractors' OUTPUT TEXT is a fingerprint
input — a MinHashStore built from extracted text only near-dups future
batches correctly while extraction is byte-stable. Changing the block-tag
set, the charset default, or the whitespace rules changes extracted text
and therefore fingerprints; after such a change, rebuild incremental
stores (or expect recrawls of pre-change pages to miss the near-dup
match). The round-6 history records one such change: nav/aside joined
the block set and the crawl recipes moved to charset sniffing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "TRACKING_PARAM_RE",
    "SECOND_LEVEL_TLDS",
    "parse_url_parts",
    "normalize_url",
    "registered_domain",
    "filter_domain_blocklist",
    "per_domain_cap",
    "per_domain_budget_cap",
    "domain_stats",
    "extract_html_text",
    "extract_main_content",
    "extract_image_links",
    "robots_disallow_rules",
    "flag_robots_disallowed",
]

# Query parameters that identify a click, not a page: their presence makes
# byte-identical pages look distinct to an exact-URL dedup. The list is the
# widely published tracking set (UTM family + the big ad-platform click ids).
# One alternation, anchored at the key position of a `key=value` token.
TRACKING_PARAM_RE = (
    "^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|dclid|igshid|mc_cid|mc_eid|"
    "ref|ref_src|spm|yclid)="
)

# Country-code second-level registries where the registrable domain is three
# labels, not two (the stable core of the public-suffix list; the full PSL is
# a data file — callers with one can pass their own set).
SECOND_LEVEL_TLDS: tuple[str, ...] = (
    "co.uk", "org.uk", "gov.uk", "ac.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "co.in", "net.in", "org.in", "gen.in",
    "co.kr", "or.kr", "ne.kr",
    "com.mx", "org.mx", "com.tr", "com.ar", "com.co", "co.za", "co.nz",
    "com.sg", "com.my", "com.hk", "com.tw", "co.th", "co.id", "com.ph",
    "com.vn", "com.eg", "com.sa", "co.il", "com.pk", "com.ng",
)

# URL part regexes — each anchored so exactly one match exists (duckdb's
# regexp_replace is first-match-only by default; anchoring makes the Spark
# replace-all and duckdb replace-first semantics coincide).
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AFTER_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://"
_USERINFO_RE = r"^[^@/]*@"
_PORT_RE = r":([0-9]+)$"


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def parse_url_parts(df: DataFrame, url_col: str, prefix: str = "") -> DataFrame:
    """Split ``url_col`` into ``scheme host port path query fragment``
    columns (RFC-3986 component grammar, absolute http(s)-style URLs).

    Pure anchored-``regexp_extract`` projections — Spark's builtin
    ``parse_url`` is deliberately NOT used: its Hive semantics differ from
    RE2-expressible rules in edge cases (userinfo, missing authority), and
    the oracle twin must reproduce every byte. Missing parts come back as
    empty string (not NULL) so downstream concatenation needs no NULL
    handling on either engine.
    """
    u = _c(url_col)
    rest = F.regexp_replace(u, _AFTER_SCHEME_RE, "")
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    host_port = F.regexp_replace(authority, _USERINFO_RE, "")
    p = prefix
    return (
        df.withColumn(p + "scheme", F.regexp_extract(u, _SCHEME_RE, 1))
        .withColumn(p + "host", F.regexp_replace(host_port, _PORT_RE, ""))
        .withColumn(p + "port", F.regexp_extract(host_port, _PORT_RE, 1))
        .withColumn(p + "path", F.regexp_extract(rest, r"^[^/?#]*([^?#]*)", 1))
        .withColumn(p + "query", F.regexp_extract(u, r"\?([^#]*)", 1))
        .withColumn(p + "fragment", F.regexp_extract(u, r"#(.*)$", 1))
    )


def normalize_url_expr(url) -> Column:
    """Expression form of :func:`normalize_url` (one Column, composable).

    Scheme-less inputs (no ``://``) normalize WITHOUT a fabricated scheme
    prefix, so canonical forms are fixed points — idempotency is
    fuzz-tested, since a non-idempotent canonicalizer makes exact-URL
    dedup drift across passes. A bare leading ``://`` is stripped before
    parsing for the same reason."""
    u = _c(url)
    # bare '://' (a prior fabricated prefix / malformed input) parses as
    # part of the authority otherwise — strip it first
    u = F.regexp_replace(u, r"^://", "")
    has_scheme = u.rlike(_SCHEME_RE)
    rest = F.regexp_replace(u, _AFTER_SCHEME_RE, "")
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    host_port = F.regexp_replace(authority, _USERINFO_RE, "")
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    host = F.regexp_replace(
        F.lower(F.regexp_replace(host_port, _PORT_RE, "")), r"^www\.", ""
    )
    port = F.regexp_extract(host_port, _PORT_RE, 1)
    path = F.regexp_extract(rest, r"^[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)

    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when((port == "") | default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    scheme_part = F.when(has_scheme, F.concat(scheme, F.lit("://"))).otherwise(F.lit(""))
    # path: empty -> "/", trailing slash dropped except for the bare root
    path_n = F.when(path == "", F.lit("/")).otherwise(
        F.when(
            (F.length(path) > 1) & path.endswith("/"),
            path.substr(F.lit(1), F.length(path) - 1),
        ).otherwise(path)
    )
    kept = F.filter(
        F.split(query, "&"),
        lambda t: (F.length(t) > 0) & ~t.rlike(TRACKING_PARAM_RE),
    )
    query_n = F.array_join(kept, "&")
    query_part = F.when(query_n == "", F.lit("")).otherwise(F.concat(F.lit("?"), query_n))
    return F.concat(scheme_part, host, port_part, path_n, query_part)


def normalize_url(df: DataFrame, url_col: str, out_col: str | None = None) -> DataFrame:
    """Canonical form of a URL so exact-URL dedup catches recrawls:

    - scheme and host lowercased; leading ``www.`` stripped
    - default ports dropped (``http:80``, ``https:443``); others kept
    - empty path becomes ``/``; a trailing slash is dropped otherwise
    - tracking query parameters removed (:data:`TRACKING_PARAM_RE`);
      remaining parameters keep their original order (sorting them changes
      meaning for sites with positional handling — documented choice)
    - fragment dropped (never sent to the server)

    Map-only single-expression projection; oracle twin
    :func:`duckdb_vss_spark.oracle.sql_normalize_url`.
    """
    return df.withColumn(out_col or url_col, normalize_url_expr(url_col))


def registered_domain_expr(host, sld_tlds: tuple[str, ...] = SECOND_LEVEL_TLDS) -> Column:
    """Registrable domain of a (already-lowercased) hostname: the last two
    labels, or the last three when the last two form a second-level registry
    suffix (``example.co.uk`` -> ``example.co.uk``, not ``co.uk``)."""
    h = _c(host)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    last2 = F.array_join(F.slice(parts, n - 1, 2), ".")
    last3 = F.array_join(F.slice(parts, n - 2, 3), ".")
    return F.when(n <= 2, h).otherwise(
        F.when(last2.isin(*sld_tlds), last3).otherwise(last2)
    )


def registered_domain(
    df: DataFrame, host_col: str, out_col: str = "domain",
    sld_tlds: tuple[str, ...] = SECOND_LEVEL_TLDS,
) -> DataFrame:
    """Add ``out_col`` = registrable domain of ``host_col`` (map-only)."""
    return df.withColumn(out_col, registered_domain_expr(host_col, sld_tlds))


def filter_domain_blocklist(
    df: DataFrame, domain_col: str, blocklist, keep_listed: bool = False
) -> DataFrame:
    """Drop (or keep, with ``keep_listed=True``) rows whose domain is in
    ``blocklist``. A list/tuple becomes an ``isin`` literal filter (pushed
    into the scan); a DataFrame blocklist becomes a broadcast (anti-)join so
    a million-domain list never shuffles the corpus."""
    if isinstance(blocklist, DataFrame):
        bl = F.broadcast(blocklist.select(F.col(blocklist.columns[0]).alias(domain_col)).distinct())
        how = "left_semi" if keep_listed else "left_anti"
        return df.join(bl, on=domain_col, how=how)
    cond = _c(domain_col).isin(*list(blocklist))
    return df.filter(cond if keep_listed else ~cond)


def per_domain_budget_cap(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    weight_col: str,
    budget,
    keep_col: str = "in_budget",
) -> DataFrame:
    """Weighted form of :func:`per_domain_cap`: keep, per domain, the
    PREFIX of the deterministic ``hash64('pdc:'||id)`` order whose running
    ``weight_col`` sum stays within ``budget`` — the "at most N TOKENS per
    site" mixing rule (document counts under-weight long documents).

    A row is kept iff the cumulative weight through itself is ≤ budget, so
    the kept set is a pure function of (ids, weights, budget) — rerun-
    stable at any cluster size, like every sampling operator here. One
    running-sum window per domain (same single-shuffle shape as the
    default count cap; a map-side partial is equally applicable at the
    hot-domain extreme since the local hash-order prefix of any global
    prefix is itself bounded by the budget). Adds boolean ``keep_col``
    to every row — flag-don't-drop.
    """
    from ..functions.text import hash64

    h = hash64(F.concat(F.lit("pdc:"), _c(id_col).cast("string")))
    w = (
        Window.partitionBy(domain_col)
        .orderBy(h.asc(), _c(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(_c(weight_col)).over(w)
    return df.withColumn(keep_col, cum <= F.lit(budget))


def domain_stats(df: DataFrame, domain_col: str, token_col: str | None = None) -> DataFrame:
    """Per-domain corpus profile: document count (+ token sum when given).
    One map-side-combinable aggregation — the standard pre-read for choosing
    a per-domain cap."""
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if token_col is not None:
        aggs.append(F.sum(token_col).alias("n_tokens"))
    return df.groupBy(domain_col).agg(*aggs)


def per_domain_cap(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    cap: int,
    keep_col: str | None = None,
) -> DataFrame:
    """Keep at most ``cap`` documents per domain, chosen deterministically
    (the ``cap`` smallest ``hash64('pdc:' || id)`` values, ties broken by
    id — a seedless uniform sample reproducible at any cluster size,
    independent of row order, and computable by the duckdb oracle since
    ``hash64`` is the engine's shared md5-based 60-bit hash).

    ``keep_col=None`` returns only the kept rows; a column name instead
    flags every row (the pipeline-recipes' flag-don't-drop discipline).

    Scale shape: delegates to :func:`~duckdb_vss_spark.operators.topk
    .grouped_topk`, a one-shuffle window plan — right even for
    multi-million-row hot domains, since Spark's sort spills rather than
    fails (see grouped_topk's docstring for the numbers).
    """
    from ..functions.text import hash64
    from .topk import grouped_topk

    order = hash64(F.concat(F.lit("pdc:"), _c(id_col).cast("string")))
    if keep_col is None:
        return grouped_topk(df, [domain_col], [order, _c(id_col)], cap)
    kept = grouped_topk(df, [domain_col], [order, _c(id_col)], cap).select(_c(id_col).alias("__kid"))
    # No forced broadcast: the kept-id set is cap x n_domains rows, and
    # n_domains is unknowable here (web scale = millions of registered
    # domains, so even cap=10 can be a multi-GB set). AQE sizes the built
    # side at runtime and picks broadcast only when it actually fits.
    return df.join(
        kept,
        _c(id_col) == F.col("__kid"),
        "left",
    ).withColumn(keep_col, F.col("__kid").isNotNull()).drop("__kid")


_HTML_META_CHARSET = None


def _decode_html_bytes(b, encoding: str) -> str:
    """Decode crawled HTML bytes (``None``-safe — adversarial or missing
    bytes must not kill a task). ``encoding="auto"`` sniffs the way
    browsers do (headers routinely lie): BOM first, then a ``<meta
    charset>`` / ``http-equiv`` declaration in the first 2 KiB, else
    UTF-8. Per the WHATWG encoding-sniffing rules, a DECLARED utf-16
    family charset is treated as UTF-8 (a document actually in UTF-16
    could never be byte-scanned for an ASCII meta tag, so such
    declarations are always lies on ASCII-superset bytes); a UTF-16 BOM
    decodes through the BOM-consuming ``utf-16`` codec so no stray
    U+FEFF lands in the text. Always ``errors="replace"``."""
    if b is None:
        return ""
    b = bytes(b)
    if encoding != "auto":
        return b.decode(encoding, errors="replace")
    import codecs

    global _HTML_META_CHARSET
    if _HTML_META_CHARSET is None:
        import re as _re

        _HTML_META_CHARSET = _re.compile(
            rb"""<meta[^>]+?(?:charset\s*=\s*["']?|charset=)([A-Za-z0-9_\-]+)""",
            _re.IGNORECASE,
        )
    if b.startswith(codecs.BOM_UTF8):
        return b.decode("utf-8-sig", errors="replace")
    if b.startswith(codecs.BOM_UTF16_LE) or b.startswith(codecs.BOM_UTF16_BE):
        # the generic 'utf-16' codec reads AND consumes the BOM;
        # 'utf-16-le'/'utf-16-be' would leave U+FEFF in the text
        return b.decode("utf-16", errors="replace")
    m = _HTML_META_CHARSET.search(b[:2048])
    if m:
        name = m.group(1).decode("ascii", errors="replace").lower()
        if name.replace("-", "").replace("_", "") in ("utf16", "utf16le", "utf16be"):
            return b.decode("utf-8", errors="replace")  # WHATWG: lie -> utf-8
        try:
            codecs.lookup(name)
            return b.decode(name, errors="replace")
        except (LookupError, UnicodeDecodeError):
            pass
    return b.decode("utf-8", errors="replace")


def _run_html_extractor(
    df: DataFrame,
    html_col: str,
    id_col: str,
    encoding: str,
    carry_cols: tuple,
    one_fn,
    out_fields: "list[tuple[str, str]]",
) -> DataFrame:
    """Shared mapInPandas skeleton for the HTML extractors: binary/string
    + charset handling, NULL-safe decode, carry-column pass-through, and
    schema assembly live ONCE here. ``one_fn(html_str) -> tuple`` aligned
    with ``out_fields`` [(name, spark_type), ...]."""
    from typing import Iterator

    import pandas as pd

    dtypes = dict(df.dtypes)
    id_t = dtypes[id_col]
    src_is_bin = dtypes[html_col] == "binary"
    names = [n for n, _ in out_fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cols: dict = {id_col: list(pdf[id_col])}
            for c in carry_cols:
                cols[c] = list(pdf[c])
            acc: list[list] = [[] for _ in names]
            for raw in pdf[html_col]:
                h = _decode_html_bytes(raw, encoding) if src_is_bin else (raw or "")
                for slot, v in zip(acc, one_fn(h)):
                    slot.append(v)
            cols.update(dict(zip(names, acc)))
            yield pd.DataFrame(cols)

    carry_schema = "".join(f", {c} {dtypes[c]}" for c in carry_cols)
    out_schema = ", ".join(f"{n} {t}" for n, t in out_fields)
    return df.select(id_col, *carry_cols, html_col).mapInPandas(
        gen, schema=f"{id_col} {id_t}{carry_schema}, {out_schema}"
    )


def extract_html_text(
    df: DataFrame,
    html_col: str,
    id_col: str,
    encoding: str = "utf-8",
    carry_cols: tuple = (),
) -> DataFrame:
    """HTML -> text extraction (the step between a WARC response body and
    the document table): strips markup with the stdlib ``html.parser``
    state machine — NOT a regex, so CDATA/comments/attribute edge cases
    parse correctly — drops ``script``/``style``/``noscript``/``template``
    subtrees entirely, decodes entities, inserts newlines at block-level
    boundaries and collapses other whitespace runs.

    Input ``html_col`` may be BINARY (decoded with ``encoding``,
    errors=replace) or STRING. ``encoding="auto"`` sniffs per document
    (see :func:`_decode_html_bytes`). Output:
    ``(id_col, *carry_cols, title, text, n_text_chars)`` — ``carry_cols``
    ride through the projection unchanged, so callers needing extraction
    output joined with other record fields (e.g. the URL) avoid a self-
    join that would re-run the upstream parse and add an exchange.

    Scale shape: one Arrow-batched ``mapInPandas`` projection — map-only,
    no shuffle, bytes never leave the executor (shared skeleton
    :func:`_run_html_extractor`); Python is unavoidable here — an HTML
    tokenizer is not expressible as a JVM regex, and a regex stripper is
    wrong on comments/CDATA."""
    from html.parser import HTMLParser

    _SKIP = {"script", "style", "noscript", "template"}
    _BLOCK = _BLOCK_TAGS

    class _Extract(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.parts: list[str] = []
            self.title_parts: list[str] = []
            self._skip = 0
            self._in_title = False

        def handle_starttag(self, tag, attrs):
            if tag in _SKIP:
                self._skip += 1
            elif tag == "title":
                self._in_title = True
            if tag in _BLOCK:
                self.parts.append("\n")

        def handle_endtag(self, tag):
            if tag in _SKIP and self._skip:
                self._skip -= 1
            elif tag == "title":
                self._in_title = False
            if tag in _BLOCK:
                self.parts.append("\n")

        def handle_data(self, data):
            if self._skip:
                return
            if self._in_title:
                self.title_parts.append(data)
            else:
                self.parts.append(data)

    def _one(h: str) -> tuple:
        p = _Extract()
        try:
            p.feed(h)
            p.close()
        except Exception:
            pass  # salvage what parsed; crawled HTML is adversarial
        title = " ".join("".join(p.title_parts).split())
        lines = ("".join(p.parts)).split("\n")
        text = "\n".join(x for x in (" ".join(ln.split()) for ln in lines) if x)
        return title, text, len(text)

    return _run_html_extractor(
        df, html_col, id_col, encoding, carry_cols, _one,
        [("title", "string"), ("text", "string"), ("n_text_chars", "long")],
    )


def extract_image_links(
    df: DataFrame,
    html_col: str,
    id_col: str,
    base_url_col: str | None = None,
    encoding: str = "utf-8",
    carry_cols: tuple = (),
) -> DataFrame:
    """``<img>`` extraction — the first stage of an image-text-pair
    pipeline (LAION-style: crawl pages, pair every image URL with its
    alt text, then fetch/filter/dedup the images): one output row per
    ``<img>`` tag, in document order, with its textual context.

    Output: ``(id_col, *carry_cols, img_idx INT, img_url STRING,
    alt STRING, title STRING, width INT, height INT)`` —

    - ``img_url``: the ``src`` attribute, resolved to absolute via
      stdlib ``urljoin`` against the document's ``<base href>`` if
      present, else ``base_url_col`` (when given); data: URIs and
      src-less tags are skipped (no fetchable image).
    - ``alt`` / ``title``: the caption-bearing attributes, entity-
      decoded by the parser, whitespace-collapsed; NULL when absent.
    - ``width`` / ``height``: the integer attribute values when they
      parse (``"300"``/``"300px"``), NULL otherwise — the pre-fetch
      size gate (tracking pixels are declared 1x1 in markup, so they
      drop BEFORE any bytes are fetched).

    Parsing is the stdlib ``html.parser`` state machine (not a regex —
    the same reasoning as :func:`extract_html_text`), so self-closing
    tags, attribute quoting styles, and entities in alt text all
    handle correctly. Map-only Arrow pass; HTML never leaves the
    executor. Compose downstream with
    :func:`~duckdb_vss_spark.pipelines.image_curate` once the images
    are fetched, and :func:`normalize_url` + exact dedup on
    ``img_url`` to avoid fetching the same asset twice.
    """
    from html.parser import HTMLParser
    from typing import Iterator
    from urllib.parse import urljoin

    import pandas as pd

    dtypes = dict(df.dtypes)
    id_t = dtypes[id_col]
    src_is_bin = dtypes[html_col] == "binary"

    class _Imgs(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.base: str | None = None
            self.imgs: list[tuple] = []

        def handle_starttag(self, tag, attrs):
            if tag == "base" and self.base is None:
                for k, v in attrs:
                    if k == "href" and v:
                        self.base = v
            elif tag == "img":
                a = {k: v for k, v in attrs if v is not None}
                self.imgs.append(
                    (a.get("src"), a.get("alt"), a.get("title"),
                     a.get("width"), a.get("height"))
                )

    def _dim(v):
        if v is None:
            return None
        v = v.strip().removesuffix("px").strip()
        return int(v) if v.isdigit() else None

    def _clean(v):
        return " ".join(v.split()) if v is not None else None

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cols: dict = {id_col: []}
            for c in carry_cols:
                cols[c] = []
            out = {k: [] for k in ("img_idx", "img_url", "alt", "title", "width", "height")}
            bases = pdf[base_url_col] if base_url_col else [None] * len(pdf)
            carries = [pdf[c] for c in carry_cols]
            for ri, (raw, doc_base) in enumerate(zip(pdf[html_col], bases)):
                h = _decode_html_bytes(raw, encoding) if src_is_bin else (raw or "")
                p = _Imgs()
                try:
                    p.feed(h)
                    p.close()
                except Exception:
                    pass  # salvage what parsed; crawled HTML is adversarial
                # browsers resolve a RELATIVE <base href> against the page
                # URL; taking it verbatim would shadow base_url_col with a
                # relative path and mis-resolve every img src (ADVICE r10)
                base = urljoin(doc_base, p.base) if (p.base and doc_base) else (p.base or doc_base)
                k = 0
                for src, alt, title, w, hh in p.imgs:
                    if not src or src.startswith("data:"):
                        continue
                    cols[id_col].append(pdf[id_col].iloc[ri])
                    for c, series in zip(carry_cols, carries):
                        cols[c].append(series.iloc[ri])
                    out["img_idx"].append(k)
                    out["img_url"].append(urljoin(base, src) if base else src)
                    out["alt"].append(_clean(alt))
                    out["title"].append(_clean(title))
                    out["width"].append(_dim(w))
                    out["height"].append(_dim(hh))
                    k += 1
            cols.update(
                {
                    "img_idx": pd.array(out["img_idx"], dtype="Int32"),
                    "img_url": out["img_url"],
                    "alt": out["alt"],
                    "title": out["title"],
                    "width": pd.array(out["width"], dtype="Int32"),
                    "height": pd.array(out["height"], dtype="Int32"),
                }
            )
            yield pd.DataFrame(cols)

    carry_schema = "".join(f", {c} {dtypes[c]}" for c in carry_cols)
    cols_in = [id_col, *carry_cols, html_col] + ([base_url_col] if base_url_col else [])
    from .dedup import _fan_out

    return _fan_out(df.select(*cols_in)).mapInPandas(
        gen,
        schema=(
            f"{id_col} {id_t}{carry_schema}, img_idx int, img_url string, "
            "alt string, title string, width int, height int"
        ),
    )


# block-level boundaries shared by both extractors (extract_main_content
# additionally SKIPS head/nav/aside content via its classifier, not here)
_BLOCK_TAGS = {
    "p", "div", "br", "li", "ul", "ol", "table", "tr", "h1", "h2", "h3",
    "h4", "h5", "h6", "section", "article", "header", "footer",
    "blockquote", "pre", "hr", "td", "th", "nav", "aside",
}


def extract_main_content(
    df: DataFrame,
    html_col: str,
    id_col: str,
    encoding: str = "utf-8",
    lang: str = "en",
    min_len: int = 60,
    max_link_density: float = 0.35,
    min_stopword_density: float = 0.2,
    carry_cols: tuple = (),
) -> DataFrame:
    """Main-content extraction (simplified jusText, Pomikalek 2011 — the
    boilerplate-removal step RefinedWeb runs trafilatura for): the page is
    segmented into text blocks at block-level tag boundaries, each block
    classified by three features, and only content blocks survive:

    - **link density** (anchor chars / block chars, BOTH measured on the
      whitespace-collapsed text so source indentation cannot inflate the
      ratio): navigation, footers and tag clouds are link-dense; content
      is not.
    - **stopword density** (function-word tokens / tokens): real prose in
      ``lang`` is stopword-heavy; menus, titles and code are not.
    - **length**: blocks under ``min_len`` chars are only kept when
      ADJACENT to a good block (the jusText context rule — short
      paragraphs inside an article are content, isolated short strings
      are chrome).

    Output: ``(id_col, *carry_cols, text, n_blocks, n_good_blocks)`` with
    ``text`` = the surviving blocks joined by newlines. Same map-only
    plumbing (shared skeleton :func:`_run_html_extractor`) as
    :func:`extract_html_text`, which remains the keep-everything twin.
    """
    from html.parser import HTMLParser

    from ..functions.text import STOPWORDS

    stop = set(STOPWORDS.get(lang, STOPWORDS["en"]))
    _SKIP = {"script", "style", "noscript", "template", "head"}
    _BLOCK = _BLOCK_TAGS

    class _Blocks(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.blocks: list[list] = []  # [(text, is_link) parts]
            self._cur: list = []
            self._skip = 0
            self._link = 0

        def _flush(self):
            if any(t.strip() for t, _ in self._cur):
                self.blocks.append(self._cur)
            self._cur = []
            # an anchor spanning a block boundary is chrome; resetting
            # here contains an UNCLOSED <a> (html.parser never auto-
            # closes) to its own block instead of marking the whole rest
            # of the document link text and emptying the extraction
            self._link = 0

        def handle_starttag(self, tag, attrs):
            if tag in _SKIP:
                self._skip += 1
            elif tag == "a":
                self._link += 1
            if tag in _BLOCK:
                self._flush()

        def handle_endtag(self, tag):
            if tag in _SKIP and self._skip:
                self._skip -= 1
            elif tag == "a" and self._link:
                self._link -= 1
            if tag in _BLOCK:
                self._flush()

        def handle_data(self, data):
            if self._skip:
                return
            self._cur.append((data, self._link > 0))

    def _classify(btext: str, link_chars: int) -> str:
        n = len(btext)
        toks = btext.lower().split()
        ld = link_chars / n if n else 1.0
        sd = (sum(1 for t in toks if t in stop) / len(toks)) if toks else 0.0
        if ld > max_link_density:
            return "bad"
        if n < min_len:
            return "short"
        return "good" if sd >= min_stopword_density else "bad"

    def _one(h: str) -> tuple:
        p = _Blocks()
        try:
            p.feed(h)
            p.close()
        except Exception:
            pass
        p._flush()
        blocks = []
        for parts in p.blocks:
            text = " ".join("".join(t for t, _ in parts).split())
            # numerator measured on the SAME collapsed form as the
            # denominator — raw anchor bytes would count indentation
            link_chars = len(" ".join("".join(t for t, il in parts if il).split()))
            if text:
                blocks.append((text, link_chars))
        labels = [_classify(t, lc) for t, lc in blocks]
        # context rule: a 'short' block next to a good one is content
        final = list(labels)
        for i, lb in enumerate(labels):
            if lb == "short":
                prev_good = i > 0 and labels[i - 1] == "good"
                next_good = i + 1 < len(labels) and labels[i + 1] == "good"
                final[i] = "good" if (prev_good or next_good) else "bad"
        kept = [t for (t, _), lb in zip(blocks, final) if lb == "good"]
        return "\n".join(kept), len(blocks), sum(1 for lb in final if lb == "good")

    return _run_html_extractor(
        df, html_col, id_col, encoding, carry_cols, _one,
        [("text", "string"), ("n_blocks", "long"), ("n_good_blocks", "long")],
    )


def robots_disallow_rules(
    robots: DataFrame,
    domain_col: str,
    body_col: str,
    user_agent: str = "*",
) -> DataFrame:
    """Parse per-domain ``robots.txt`` bodies into disallow match patterns:
    ``(domain, disallow ARRAY<STRING>)`` — the compliance input of
    :func:`flag_robots_disallowed`. Robots Exclusion Protocol (RFC 9309)
    group semantics: the group(s) whose ``User-agent`` matches
    ``user_agent`` (or ``*`` when no specific group matches) contribute
    their ``Disallow`` rules; empty ``Disallow:`` lines mean allow-all and
    contribute nothing. The RFC's special characters ARE modeled — ``*``
    matches any characters and a trailing ``$`` anchors the end — by
    emitting each rule as an anchored-prefix regex (all other characters
    regex-escaped; wildcard count and rule length are capped, truncating
    toward MORE matching, so adversarial robots.txt cannot compile a
    catastrophically backtracking pattern), which is what the flag side
    evaluates. ``Allow``
    precedence is deliberately NOT modeled (a curation pipeline wants the
    conservative read: flag anything a disallow rule covers);
    byte-unparseable lines are skipped, matching crawler practice.

    Map-only Arrow projection, one output row per input row (the flag
    side aggregates per domain, so recrawled robots.txt rows are safe).
    """
    import re as _re
    from typing import Iterator

    import pandas as pd

    ua = user_agent.lower()

    def _rule_regex(rule: str) -> str:
        # RFC 9309 §2.2.3: '*' = any chars, trailing '$' = end anchor;
        # everything else is literal -> escape it for the Java regex the
        # JVM-side regexp_like evaluates. Two adversarial-input caps (any
        # crawled site controls its own robots.txt): at most 3 wildcard
        # segments and 512 literal chars per rule — excess is TRUNCATED
        # with the end anchor dropped, which only ever matches MORE (the
        # conservative direction), and keeps the compiled pattern's
        # backtracking polynomial of bounded degree instead of letting
        # 'Disallow: /a*a*a*a*...' hang an executor (ReDoS).
        anchored = rule.endswith("$")
        if anchored:
            rule = rule[:-1]
        if len(rule) > 512:
            rule, anchored = rule[:512], False
        parts = rule.split("*")
        if len(parts) > 4:  # > 3 wildcards
            parts, anchored = parts[:4], False
        # a directory rule must also flag the directory URL itself, whose
        # normalized path lost the trailing slash: fold '(/|$)' into the
        # pattern instead of matching twice on the flag side
        dir_rule = anchored is False and parts[-1].endswith("/") and rule != "/"
        if dir_rule:
            parts[-1] = parts[-1][:-1]
        body = ".*".join(_re.escape(part) for part in parts)
        if rule == "/":
            return "^/"
        return "^" + body + ("(/|$)" if dir_rule else ("$" if anchored else ""))

    def _parse(body) -> list:
        if body is None:
            return []
        if isinstance(body, (bytes, bytearray)):
            body = bytes(body).decode("utf-8", errors="replace")
        star, specific = [], []
        cur_agents: list[str] = []
        cur_rules: list[str] | None = None
        in_group_rules = False

        def _commit():
            if cur_rules is None:
                return
            if any(a == ua for a in cur_agents):
                specific.extend(cur_rules)
            if "*" in cur_agents:
                star.extend(cur_rules)

        for raw in body.splitlines():
            line = raw.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            k, _, v = line.partition(":")
            k, v = k.strip().lower(), v.strip()
            if k == "user-agent":
                if in_group_rules:
                    _commit()
                    cur_agents, cur_rules, in_group_rules = [], None, False
                cur_agents.append(v.lower())
                cur_rules = cur_rules or []
            elif k == "disallow" and cur_rules is not None:
                in_group_rules = True
                if v:
                    cur_rules.append(_rule_regex(v))
            elif k in ("allow", "crawl-delay", "sitemap") and cur_rules is not None:
                in_group_rules = True
        _commit()
        return specific if specific else star

    dom_t = dict(robots.dtypes)[domain_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "domain": list(pdf[domain_col]),
                    "disallow": [_parse(b) for b in pdf[body_col]],
                }
            )

    return robots.select(domain_col, body_col).mapInPandas(
        gen, schema=f"domain {dom_t}, disallow array<string>"
    )


def flag_robots_disallowed(
    df: DataFrame,
    url_col: str,
    rules: DataFrame,
    out_col: str = "robots_disallowed",
) -> DataFrame:
    """Flag rows whose URL path a domain's robots.txt disallow rule covers
    (``rules`` = :func:`robots_disallow_rules` output). The URL's
    registered domain keys the join (rules fetched per registrable site);
    the match is a JVM ``exists`` of ``regexp_like`` over the rule array —
    rows from domains with no rules (or no matching rule) flag False.

    Correctness guards: rules are aggregated to ONE row per domain before
    the join (recrawled robots.txt rows would otherwise multiply URL
    rows); the match target is the normalized ``path?query`` — RFC 9309
    matches path AND query, so ``Disallow: /*?sort=`` must flag faceted
    URLs (tracking params are already normalized away, a documented
    difference) — truncated to 512 chars so an adversarial kilometer-long
    URL cannot feed the bounded-degree patterns a huge backtracking
    subject; the directory-slash case is folded into the rule regex at
    build time, so it is ONE regexp_like per rule per row.

    One join on the domain key (the aggregated rule table is one small
    row per domain, so AQE broadcasts when it fits); everything else
    map-only.
    """
    agg = rules.groupBy("domain").agg(
        F.array_distinct(F.flatten(F.collect_list("disallow"))).alias("disallow")
    )
    u = parse_url_parts(
        df.withColumn("__rb_norm", normalize_url_expr(url_col)), "__rb_norm", prefix="__rb_"
    )
    u = registered_domain(u, "__rb_host", out_col="__rb_dom")
    joined = u.join(
        agg.select(F.col("domain").alias("__rb_dom"), F.col("disallow").alias("__rb_rules")),
        "__rb_dom",
        "left",
    )
    path = F.when(F.col("__rb_path") == "", F.lit("/")).otherwise(F.col("__rb_path"))
    target = F.substring(
        F.when(
            F.col("__rb_query") == "", path
        ).otherwise(F.concat(path, F.lit("?"), F.col("__rb_query"))),
        1,
        512,
    )
    hit = F.exists("__rb_rules", lambda p: F.regexp_like(target, p))
    flag = F.when(F.col("__rb_rules").isNull(), F.lit(False)).otherwise(hit)
    return joined.withColumn(out_col, flag).drop(
        "__rb_norm", "__rb_scheme", "__rb_host", "__rb_port", "__rb_path",
        "__rb_query", "__rb_fragment", "__rb_dom", "__rb_rules",
    )
