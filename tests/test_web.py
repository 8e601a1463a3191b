"""URL / web-curation operators: duckdb byte-parity + scale-shape checks."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_vss_spark import oracle as O
from duckdb_vss_spark.operators.topk import grouped_topk
from duckdb_vss_spark.operators.web import (
    filter_domain_blocklist,
    normalize_url,
    parse_url_parts,
    per_domain_cap,
    registered_domain,
)

URLS = [
    "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&id=7#frag",
    "http://user:pw@News.example.CO.UK:80/story/",
    "https://cdn.site.net?fbclid=abc&x=1&y=2",
    "http://blog.example.org:8080/c/index.html?gclid=1",
    "https://example.com",
    "https://www.sub.deep.example.com.au/path///x/",
    "http://plain.io/p?a=1&utm_campaign=z&b=2&ref=feed",
    "https://xn--bcher-kva.example/page?spm=1.2.3",
    "HTTP://ONLY.HOST.PATHLESS.COM#justfrag",
    "https://a.b/?",
]


def test_normalize_url_matches_duckdb(spark, ddb):
    df = spark.createDataFrame([(u,) for u in URLS], "url: string")
    got = {
        r["url"]: r["norm"]
        for r in normalize_url(df, "url", out_col="norm").collect()
    }
    sql = f"SELECT url, {O.sql_normalize_url('url')} AS norm FROM urls"
    ddb.execute("CREATE OR REPLACE TEMP TABLE urls AS SELECT unnest(?) AS url", [URLS])
    want = dict(ddb.execute(sql).fetchall())
    assert got == want
    # spot-check semantics, not just parity
    assert got[URLS[0]] == "https://example.com:443/a/b?id=7" or got[URLS[0]] == "https://example.com/a/b?id=7"
    assert got[URLS[0]].startswith("https://example.com")
    assert "utm_source" not in got[URLS[0]] and "#" not in got[URLS[0]]
    assert got["https://example.com"] == "https://example.com/"
    assert got["http://user:pw@News.example.CO.UK:80/story/"] == "http://news.example.co.uk/story"


def test_registered_domain_matches_duckdb(spark, ddb):
    hosts = [
        "news.example.co.uk", "example.com", "a.b.c.example.com.au",
        "localhost", "deep.sub.blog.example.org", "co.uk", "x.co.uk",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host: string")
    got = {r["host"]: r["domain"] for r in registered_domain(df, "host").collect()}
    ddb.execute("CREATE OR REPLACE TEMP TABLE hosts AS SELECT unnest(?) AS host", [hosts])
    want = dict(
        ddb.execute(
            f"SELECT host, {O.sql_registered_domain('host')} AS d FROM hosts"
        ).fetchall()
    )
    assert got == want
    assert got["news.example.co.uk"] == "example.co.uk"
    assert got["example.com"] == "example.com"
    assert got["a.b.c.example.com.au"] == "example.com.au"
    assert got["localhost"] == "localhost"
    assert got["deep.sub.blog.example.org"] == "example.org"


def test_parse_url_parts(spark):
    df = spark.createDataFrame([(URLS[0],)], "url: string")
    r = parse_url_parts(df, "url").collect()[0]
    assert r["scheme"] == "HTTPS"
    assert r["host"] == "WWW.Example.COM"
    assert r["port"] == "443"
    assert r["path"] == "/a/b/"
    assert r["query"] == "utm_source=x&id=7"
    assert r["fragment"] == "frag"


def test_blocklist_filter(spark):
    df = spark.createDataFrame(
        [(1, "bad.com"), (2, "good.com"), (3, "bad.com")], "id: long, domain: string"
    )
    kept = filter_domain_blocklist(df, "domain", ["bad.com"]).collect()
    assert sorted(r["id"] for r in kept) == [2]
    bl = spark.createDataFrame([("bad.com",)], "d: string")
    kept2 = filter_domain_blocklist(df, "domain", bl).collect()
    assert sorted(r["id"] for r in kept2) == [2]
    only = filter_domain_blocklist(df, "domain", bl, keep_listed=True).collect()
    assert sorted(r["id"] for r in only) == [1, 3]


def test_grouped_topk_matches_reference_window(spark):
    import random

    rng = random.Random(7)
    rows = [(i, f"g{rng.randrange(5)}", rng.random()) for i in range(2000)]
    df = spark.createDataFrame(rows, "id: long, g: string, v: double").repartition(8)
    got = grouped_topk(df, ["g"], [F.col("v"), F.col("id")], 7)
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    want = (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 7).drop("rn")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 35


def test_per_domain_cap(spark, ddb):
    rows = [(i, f"d{i % 3}.com") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id: long, domain: string").repartition(6)
    kept = per_domain_cap(df, "domain", "doc_id", cap=4)
    out = kept.groupBy("domain").count().collect()
    assert all(r["count"] == 4 for r in out) and len(out) == 3
    # deterministic across runs / partitionings
    again = per_domain_cap(df.repartition(2), "domain", "doc_id", cap=4)
    assert sorted(map(tuple, kept.collect())) == sorted(map(tuple, again.collect()))
    # matches the duckdb spelling of the same rule
    ddb.execute(
        "CREATE OR REPLACE TEMP TABLE pd AS "
        "SELECT unnest(?) AS doc_id, unnest(?) AS domain",
        [[r[0] for r in rows], [r[1] for r in rows]],
    )
    h = O.sql_id_hash("doc_id", "pdc:")
    want = ddb.execute(
        f"SELECT doc_id, domain FROM (SELECT doc_id, domain, "
        f"row_number() OVER (PARTITION BY domain ORDER BY {h}, doc_id) AS rn FROM pd) "
        f"WHERE rn <= 4"
    ).fetchall()
    assert sorted(map(tuple, kept.collect())) == sorted(map(tuple, want))
    # flag mode keeps every row
    flagged = per_domain_cap(df, "domain", "doc_id", cap=4, keep_col="kept")
    assert flagged.count() == 60
    assert flagged.filter("kept").count() == 12


def test_normalize_url_null_and_relative(spark):
    df = spark.createDataFrame([(None,), ("not a url",)], "url: string")
    out = normalize_url(df, "url", out_col="n").collect()
    vals = {r["url"]: r["n"] for r in out}
    assert vals[None] is None
    # no scheme/authority: components are empty -> '://' + '/' skeleton
    assert vals["not a url"] == "not a url/"


def test_per_domain_budget_cap(spark, ddb):
    rows = [(i, f"d{i % 2}.com", 10 + (i % 5)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id: long, domain: string, n_tok: long")
    from duckdb_vss_spark.operators.web import per_domain_budget_cap

    out = per_domain_budget_cap(df, "domain", "doc_id", "n_tok", budget=60)
    assert out.count() == 40  # flag, don't drop
    kept = out.filter("in_budget")
    # each domain's kept weight is within budget and maximal for the prefix
    per = {r["domain"]: r["s"] for r in kept.groupBy("domain").agg(F.sum("n_tok").alias("s")).collect()}
    assert all(s <= 60 for s in per.values()) and len(per) == 2
    # oracle twin: duckdb running-sum over the same hash order
    ddb.execute(
        "CREATE OR REPLACE TEMP TABLE bc AS SELECT unnest(?) AS doc_id, unnest(?) AS domain, unnest(?) AS n_tok",
        [[r[0] for r in rows], [r[1] for r in rows], [r[2] for r in rows]],
    )
    from duckdb_vss_spark import oracle as O

    h = O.sql_id_hash("doc_id", "pdc:")
    want = dict(
        ddb.execute(
            f"SELECT doc_id, sum(n_tok) OVER (PARTITION BY domain ORDER BY {h}, doc_id "
            f"ROWS UNBOUNDED PRECEDING) <= 60 FROM bc"
        ).fetchall()
    )
    got = {r["doc_id"]: r["in_budget"] for r in out.collect()}
    assert got == want
    # determinism under repartitioning
    again = per_domain_budget_cap(df.repartition(5), "domain", "doc_id", "n_tok", 60)
    assert {r["doc_id"]: r["in_budget"] for r in again.collect()} == got


def test_normalize_url_idempotent_fuzz(spark):
    """normalize(normalize(x)) == normalize(x) over a seeded fuzz corpus —
    canonical forms must be fixed points or exact-URL dedup drifts."""
    import random

    rng = random.Random(42)
    schemes = ["http", "HTTPS", "ftp", ""]
    hosts = ["WWW.A.com", "a.b.co.uk", "x", "1.2.3.4", "WWW.example.ORG"]
    paths = ["", "/", "/p", "/p/", "/a/b/", "//x"]
    queries = ["", "?a=1", "?utm_source=z", "?a=1&utm_x=2&b=3", "?&&", "?a=1&"]
    frags = ["", "#f", "#"]
    urls = []
    for _ in range(300):
        s = rng.choice(schemes)
        u = (f"{s}://" if s else "") + rng.choice(hosts) + (
            f":{rng.choice(['80', '443', '8080'])}" if rng.random() < 0.5 else ""
        ) + rng.choice(paths) + rng.choice(queries) + rng.choice(frags)
        urls.append(u)
    df = spark.createDataFrame([(u,) for u in urls], "url: string")
    once = normalize_url(df, "url", out_col="n1")
    twice = normalize_url(once, "n1", out_col="n2")
    bad = twice.filter("n1 <> n2").collect()
    assert bad == [], [(r["url"], r["n1"], r["n2"]) for r in bad[:5]]


def test_extract_main_content_boilerplate_removal(spark):
    """Simplified jusText: link-dense nav/footer blocks drop, prose
    survives, and a short block adjacent to a good one is kept by the
    context rule while an isolated short string is not."""
    from duckdb_vss_spark.operators.web import extract_main_content

    prose1 = ("the model is trained on a large corpus of text and it is "
              "evaluated on a held out set of documents that the pipeline kept")
    prose2 = ("in practice the results depend on the quality of the data and "
              "the filters that were applied to it before training")
    html = (
        "<html><body>"
        "<div><a href='/'>Home</a> <a href='/a'>About</a> <a href='/c'>Contact</a></div>"
        f"<p>{prose1}</p>"
        "<p>short but next to content</p>"
        f"<p>{prose2}</p>"
        "<div><a href='/p'>Privacy</a> | <a href='/t'>Terms</a> | copyright</div>"
        "<div>isolated stub</div>"
        "</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    r = extract_main_content(df, "html", "doc_id").collect()[0]
    assert prose1 in r["text"] and prose2 in r["text"]
    assert "Home" not in r["text"] and "Privacy" not in r["text"]
    assert "short but next to content" in r["text"]  # context rule
    assert "isolated stub" not in r["text"]
    assert r["n_blocks"] >= 5 and r["n_good_blocks"] == 3


def test_extract_main_content_carry_and_binary(spark):
    from duckdb_vss_spark.operators.web import extract_main_content

    prose = ("this is a long enough paragraph of ordinary prose that the "
             "classifier will keep because it is full of the usual words")
    df = spark.createDataFrame(
        [(7, "https://x/1", bytearray(f"<p>{prose}</p>".encode()))],
        "doc_id long, url string, html binary",
    )
    r = extract_main_content(df, "html", "doc_id", carry_cols=("url",)).collect()[0]
    assert r["url"] == "https://x/1" and r["text"] == prose


def test_robots_rules_and_flagging(spark):
    """RFC 9309 group semantics: specific UA groups override *, empty
    Disallow contributes nothing, flags join per registered domain."""
    from duckdb_vss_spark.operators.web import (
        flag_robots_disallowed,
        robots_disallow_rules,
    )

    robots = spark.createDataFrame(
        [
            ("a.com", "User-agent: *\nDisallow: /private\nDisallow: /tmp/\n\n"
                      "User-agent: trainbot\nDisallow: /no-train"),
            ("b.com", "User-agent: *\nDisallow:"),       # allow-all
            ("c.com", "User-agent: *\r\nDisallow: /x # comment\r\n"),
        ],
        "domain string, body string",
    )
    rules = {r["domain"]: r["disallow"] for r in
             robots_disallow_rules(robots, "domain", "body").collect()}
    assert rules["a.com"] == ["^/private", "^/tmp(/|$)"]
    assert rules["b.com"] == []
    assert rules["c.com"] == ["^/x"]
    # specific-UA group wins over *
    tb = {r["domain"]: r["disallow"] for r in
          robots_disallow_rules(robots, "domain", "body", user_agent="trainbot").collect()}
    assert tb["a.com"] == ["^/no\\-train"]  # re.escape escapes '-'

    urls = spark.createDataFrame(
        [
            (1, "https://www.a.com/private/page"),
            (2, "https://a.com/public"),
            (3, "https://b.com/anything"),
            (4, "https://sub.c.com/x/y"),
            (5, "https://unknown.org/whatever"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r["robots_disallowed"] for r in
           flag_robots_disallowed(urls, "url", robots_disallow_rules(robots, "domain", "body")).collect()}
    assert out == {1: True, 2: False, 3: False, 4: True, 5: False}


def test_robots_wildcards_dirslash_and_recrawled_rules(spark):
    """Review follow-ups: RFC 9309 '*' and '$' specials actually match;
    'Disallow: /dir/' flags the directory URL itself even though
    normalization strips the trailing slash; duplicate per-domain rule
    rows (recrawled robots.txt) do not multiply URL rows."""
    from duckdb_vss_spark.operators.web import (
        flag_robots_disallowed,
        robots_disallow_rules,
    )

    body = "User-agent: *\nDisallow: /*?sort=\nDisallow: /print$\nDisallow: /dir/"
    robots = spark.createDataFrame(
        [("a.com", body), ("a.com", body)],  # recrawl: same domain twice
        "domain string, body string",
    )
    rules = robots_disallow_rules(robots, "domain", "body")
    urls = spark.createDataFrame(
        [
            (1, "https://a.com/items?sort=asc"),   # wildcard rule... path-only match
            (2, "https://a.com/print"),             # $-anchored: exact
            (3, "https://a.com/printable"),         # $-anchored: must NOT match
            (4, "https://a.com/dir/"),              # dir rule vs stripped slash
            (5, "https://a.com/dir/page"),
            (6, "https://a.com/dirty"),             # prefix must not leak past '/'
        ],
        "doc_id long, url string",
    )
    out = flag_robots_disallowed(urls, "url", rules)
    assert out.count() == 6  # recrawled rules rows did not multiply URLs
    got = {r["doc_id"]: r["robots_disallowed"] for r in out.collect()}
    assert got[1] is True   # query-targeting rule matches path?query (RFC 9309)
    assert got[2] is True and got[3] is False
    assert got[4] is True and got[5] is True
    assert got[6] is False
    # wildcard mechanics on a pure path rule:
    body2 = "User-agent: *\nDisallow: /a/*/c"
    r2 = robots_disallow_rules(
        spark.createDataFrame([("b.com", body2)], "domain string, body string"),
        "domain", "body",
    )
    u2 = spark.createDataFrame(
        [(1, "https://b.com/a/x/c/d"), (2, "https://b.com/a/c")],
        "doc_id long, url string",
    )
    g2 = {r["doc_id"]: r["robots_disallowed"] for r in
          flag_robots_disallowed(u2, "url", r2).collect()}
    assert g2 == {1: True, 2: False}


def test_robots_adversarial_rules_bounded(spark):
    """ReDoS guard: a rule with many wildcards truncates (toward MORE
    matching) instead of compiling a catastrophically backtracking
    pattern, and flagging long-path URLs completes promptly."""
    import time

    from duckdb_vss_spark.operators.web import (
        flag_robots_disallowed,
        robots_disallow_rules,
    )

    evil = "User-agent: *\nDisallow: /" + "a*" * 25 + "b"
    robots = spark.createDataFrame([("a.com", evil)], "domain string, body string")
    rules = robots_disallow_rules(robots, "domain", "body")
    pats = rules.collect()[0]["disallow"]
    assert len(pats) == 1 and pats[0].count(".*") <= 3 and not pats[0].endswith("$")
    urls = spark.createDataFrame(
        [(1, "https://a.com/" + "a" * 3000), (2, "https://a.com/zzz")],
        "doc_id long, url string",
    )
    t0 = time.perf_counter()
    got = {r["doc_id"]: r["robots_disallowed"] for r in
           flag_robots_disallowed(urls, "url", rules).collect()}
    assert time.perf_counter() - t0 < 30  # job time, not regex hang
    # truncated rule '^/a.*a.*a' over-matches the all-a path: conservative
    assert got[1] is True and got[2] is False


def test_main_content_unclosed_anchor_contained(spark):
    """An unclosed <a> must not mark the whole rest of the document as
    link text (link depth resets at block boundaries), or one stray tag
    would classify every later block link-dense and empty the page."""
    from duckdb_vss_spark.operators.web import extract_main_content

    prose = ("a long paragraph of perfectly ordinary prose that should be "
             "kept because it is full of the usual words and it is long")
    html = f"<div><a href='/x'>Home</div><p>{prose}</p>"
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    r = extract_main_content(df, "html", "doc_id").collect()[0]
    assert prose in r["text"]


def test_extract_image_links(spark):
    """<img> extraction for image-text pairing: document order, base-href
    resolution, entity-decoded alt, px-suffixed dims, data:/src-less tags
    skipped, carry columns ride through."""
    from duckdb_vss_spark.operators.web import extract_image_links

    html = (
        "<html><head><base href='http://ex.com/a/'><title>t</title></head>"
        "<body>"
        "<img src='pic1.jpg' alt='a &amp; b' width='300px' height='200'>"
        "<p><img src='/abs.png' title='  big   cat '/></p>"
        "<img src='data:image/gif;base64,R0lGOD'>"   # not fetchable
        "<img alt='no src'>"                          # not fetchable
        "<img src='http://cdn.io/x.webp' width='banner'>"
        "</body></html>"
    )
    no_base = "<p><img src='rel.gif' alt='r'></p>"
    df = spark.createDataFrame(
        [(1, html, "http://doc.page/dir/index.html", "k1"),
         (2, no_base, "http://doc.page/dir/index.html", "k2"),
         (3, "<p>no images</p>", None, "k3"),
         (4, "<img src='broken.jpg' alt='x", None, "k4")],  # truncated tag
        "doc_id long, html string, url string, tag string",
    )
    rows = extract_image_links(
        df, "html", "doc_id", base_url_col="url", carry_cols=("tag",)
    ).collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append(r)
    d1 = sorted(by[1], key=lambda r: r["img_idx"])
    assert [r["img_url"] for r in d1] == [
        "http://ex.com/a/pic1.jpg",      # <base> wins over base_url_col
        "http://ex.com/abs.png",
        "http://cdn.io/x.webp",
    ]
    assert d1[0]["alt"] == "a & b" and d1[0]["width"] == 300 and d1[0]["height"] == 200
    assert d1[1]["title"] == "big cat" and d1[1]["alt"] is None
    assert d1[2]["width"] is None                     # 'banner' isn't a dim
    assert all(r["tag"] == "k1" for r in d1)
    # no <base>: the document URL column resolves relatives
    assert by[2][0]["img_url"] == "http://doc.page/dir/rel.gif"
    assert 3 not in by                                # no imgs -> no rows
    # truncated markup salvages nothing but doesn't raise
    assert 4 not in by or by[4] == []
    # binary HTML input decodes
    bdf = spark.createDataFrame(
        [(9, no_base.encode("utf-8"), "http://b.io/p/")],
        "doc_id long, html binary, url string",
    )
    r9 = extract_image_links(bdf, "html", "doc_id", base_url_col="url").collect()
    assert [r["img_url"] for r in r9] == ["http://b.io/p/rel.gif"]
    # RELATIVE <base href> resolves against the document URL first, as
    # browsers do — it must not shadow base_url_col verbatim (ADVICE r10)
    rel_base = ("<head><base href='sub/'></head>"
                "<body><img src='pic.png' alt='p'></body>")
    rdf = spark.createDataFrame(
        [(10, rel_base, "http://doc.page/dir/index.html"),
         (11, rel_base, None)],   # no doc URL: relative base stays relative
        "doc_id long, html string, url string",
    )
    r10 = {r["doc_id"]: r["img_url"]
           for r in extract_image_links(rdf, "html", "doc_id",
                                        base_url_col="url").collect()}
    assert r10[10] == "http://doc.page/dir/sub/pic.png"
    assert r10[11] == "sub/pic.png"
