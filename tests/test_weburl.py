"""URL curation kernels: canonicalization, URL-keyed dedup, domain caps.

The value-exactness of the three oracled queries (url_canonicalize,
url_dedup_hosts, domain_cap_kept) is covered by test_entry/test_dtype_gate;
this module pins the per-case semantics and the plan shape (pure Catalyst,
no Python workers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extract_spark.operators import weburl


def _canon_one(spark, url: str) -> str | None:
    row = (
        spark.range(1)
        .select(weburl.canonicalize_url(F.lit(url)).alias("c"))
        .collect()[0]
    )
    return row["c"]


CASES = [
    # the four crawl-variant spellings of one resource collapse
    ("https://Site3.Example/p/12", "https://site3.example/p/12"),
    ("HTTPS://www.Site3.Example:443/p/12/", "https://site3.example/p/12"),
    ("http://Site3.Example:80/p/12#frag", "http://site3.example/p/12"),
    # tracking params drop, survivors sort
    (
        "https://a.example/x?utm_source=f&id=7&utm_campaign=c&b=1",
        "https://a.example/x?b=1&id=7",
    ),
    ("https://a.example/x?utm_source=f", "https://a.example/x"),
    ("https://a.example/x?ref", "https://a.example/x"),  # bare tracking key
    # non-default port survives; root path normalizes
    ("http://a.example:8080", "http://a.example:8080/"),
    ("https://a.example", "https://a.example/"),
    ("https://a.example///", "https://a.example/"),
    # https keeps :80 (only the scheme's own default drops)
    ("https://a.example:80/x", "https://a.example:80/x"),
    # non-http(s) has no canonical key
    ("mailto:ops@example.org", None),
    ("#fragment-only", None),
    ("/relative/path", None),
]


@pytest.mark.parametrize("url,want", CASES)
def test_canonicalize_cases(spark, url, want):
    assert _canon_one(spark, url) == want


def test_canonicalize_is_idempotent(spark):
    for url, want in CASES:
        if want is not None:
            assert _canon_one(spark, want) == want


def test_dedup_url_keeps_min_id_and_passes_unkeyed_rows(spark):
    rows = [
        (5, "https://Site.Example/a"),
        (2, "HTTPS://www.site.example:443/a/"),  # same resource, earlier id
        (9, "https://site.example/a?utm_source=x"),  # same again
        (7, "https://site.example/b"),
        (3, "mailto:x@example.org"),  # unkeyed: always kept
        (8, "mailto:y@example.org"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = {r["doc_id"] for r in weburl.dedup_url(df).collect()}
    assert kept == {2, 7, 3, 8}


def test_domain_cap_keeps_lowest_ids_per_domain(spark):
    rows = [(i, f"https://d{i % 2}.example/p/{i}") for i in range(10)]
    rows.append((99, "mailto:x@example.org"))  # no domain -> dropped
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = {r["doc_id"] for r in weburl.domain_cap(df, 2).collect()}
    assert kept == {0, 2, 1, 3}  # two lowest per domain

    with pytest.raises(ValueError, match="max_per_domain"):
        weburl.domain_cap(df, 0)
    with pytest.raises(ValueError, match="salt_buckets"):
        weburl.domain_cap(df, 2, salt_buckets=0)


def test_domain_cap_salted_equals_unsalted(spark):
    """The two-phase salted cap (the hot-domain-safe plan) must be
    EXACTLY the one-window result for every cap level: capping the N
    lowest per salt slice preserves the global N lowest."""
    rows = [(i, f"https://d{i % 3}.example/p/{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    for cap in (1, 2, 7, 25):  # cap > group size included
        salted = {r["doc_id"] for r in weburl.domain_cap(df, cap, salt_buckets=8).collect()}
        single = {r["doc_id"] for r in weburl.domain_cap(df, cap, salt_buckets=1).collect()}
        want = {i for i in range(60) if sorted(j for j in range(60) if j % 3 == i % 3).index(i) < cap}
        assert salted == single == want, (cap, salted ^ want)


def test_weburl_plans_are_pure_catalyst(spark):
    """No Python workers anywhere in the URL-curation paths: the kernels
    must stay inside whole-stage codegen at 100 TB."""
    df = spark.createDataFrame(
        [(1, "https://a.example/x"), (2, "mailto:b")], "doc_id long, url string"
    )
    for out in (
        df.select(weburl.canonicalize_url(F.col("url"))),
        weburl.dedup_url(df),
        weburl.domain_cap(df, 3),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan


def test_canonicalize_twins_agree_on_newline_bearing_urls(spark):
    """Terminal anchors are spelled \\z, never bare $ (Java matches $
    before a final newline, RE2 does not) — harvested hrefs CAN carry
    newlines ([^\"]+ matches them), so the kernel and the DuckDB twin
    must canonicalize byte-identically even for newline-bearing soup."""
    import duckdb

    urls = [
        "https://a.b/p/?gclid\n",            # param with trailing newline
        "http://h.i:80/a/\n",                # trailing slash before newline
        "https://x.y:443/q?gclid=1\njunk",   # newline inside query
        "http://h.i/a\n:80",                 # newline in path-ish soup
        "https://k.l/#frag\nmore",           # newline after fragment
        "http://p.q/a?\n",                   # empty query, trailing newline
        "https://r.s/p#f\rrest",             # carriage return after fragment
        "https://t.u/p?gclid=1\rkeep=2",     # carriage return inside query
        "http://n.m/?ref=abc&utm_campaign=c&z=1",
        "HTTPS://www.Z.W:443/path//",
        "mailto:user@example.org",
    ]
    sdf = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    )
    got = {
        r["i"]: r["c"]
        for r in sdf.select(
            "i", weburl.canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, url VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(i, u) for i, u in enumerate(urls)]
    )
    want = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT i, {weburl.canonicalize_url_sql('url')} FROM t"
        ).fetchall()
    }
    assert got == want


def test_domain_cap_keep_unkeyed_passthrough(spark):
    """keep_unkeyed=True unions the no-domain rows (mailto:, relative
    paths, NULL urls) back UNCAPPED — the same passthrough contract
    dedup_url applies — so composed pipelines don't silently lose
    non-URL docs at the cap stage (ADVICE r4). Default stays the
    documented drop."""
    rows = [(i, f"https://d{i % 2}.example/p/{i}") for i in range(10)]
    unkeyed = [(99, "mailto:x@example.org"), (98, "/relative/path"), (97, None)]
    df = spark.createDataFrame(rows + unkeyed, "doc_id long, url string")
    dropped = {r["doc_id"] for r in weburl.domain_cap(df, 2).collect()}
    assert dropped == {0, 2, 1, 3}
    kept = {
        r["doc_id"]
        for r in weburl.domain_cap(df, 2, keep_unkeyed=True).collect()
    }
    assert kept == {0, 2, 1, 3, 99, 98, 97}


def test_domain_cap_keep_unkeyed_null_id(spark):
    """A NULL-id unkeyed row cannot ride the sentinel window key (the
    payload rejoin is an equi-join on the id, and NULL never
    equi-joins): it must be unioned back explicitly. A KEYED row with a
    NULL id stays dropped — the id is the cap's window and rejoin key."""
    rows = [(i, f"https://d0.example/p/{i}") for i in range(4)]
    weird = [(None, "mailto:x@example.org"), (None, "https://d0.example/p/x")]
    df = spark.createDataFrame(rows + weird, "doc_id long, url string")
    out = weburl.domain_cap(df, 2, keep_unkeyed=True).collect()
    real_ids = sorted(r["doc_id"] for r in out if r["doc_id"] is not None)
    urls = {r["url"] for r in out}
    # capped keepers 0,1 survive (the NULL-id keyed row must NOT consume
    # a cap slot); the NULL-id mailto row passes through; the NULL-id
    # KEYED row does not
    assert real_ids == [0, 1]
    assert "mailto:x@example.org" in urls
    assert "https://d0.example/p/x" not in urls
    assert len(out) == 3


# ----------------------------------------------------------- host PageRank

def test_host_pagerank_matches_python_model(spark):
    from pdf_extract_spark.operators import weburl as WU

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["host"]: r["rank"] for r in WU.host_pagerank(df, iterations=5).collect()}

    # pure-Python fixed-point model (same trunc-division semantics)
    scale, num, den = 1_000_000_000, 85, 100
    base = (scale * (den - num)) // den
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    hosts = {h for e in edges for h in e}
    r = {h: scale for h in hosts}
    for _ in range(5):
        s = {h: 0 for h in hosts}
        for u, dsts in out.items():
            share = r[u] // len(dsts)
            for v in dsts:
                s[v] += share
        r = {h: base + (num * s[h]) // den for h in hosts}
    assert got == r


def test_host_pagerank_dangling_and_source_ranks(spark):
    from pdf_extract_spark.operators import weburl as WU

    # d -> a only: d receives nothing (rank = base forever); a is the
    # ring hub so it must outrank everything else
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["host"]: r["rank"] for r in WU.host_pagerank(df, iterations=5).collect()}
    assert got["d"] == 150_000_000  # scale*(1-d) exactly, never fed
    assert got["a"] == max(got.values())


def test_host_pagerank_rerun_identical_and_validation(spark):
    import pytest
    from pdf_extract_spark.operators import weburl as WU

    df = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    r1 = sorted(map(tuple, WU.host_pagerank(df, iterations=3).collect()))
    r2 = sorted(map(tuple, WU.host_pagerank(df, iterations=3).collect()))
    assert r1 == r2
    with pytest.raises(ValueError):
        WU.host_pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        WU.host_pagerank(df, damping_num=100, damping_den=100)


def test_url_blocklist_semantics(spark):
    """Exact host, subdomain suffix, case/www/port normalization, and
    no-host passthrough — plus match_subdomains=False narrowing."""
    rows = [
        (0, "https://bad.example/x"),            # exact hit
        (1, "https://cdn.a.bad.example/y"),      # subdomain hit
        (2, "HTTPS://WWW.Bad.Example:443/z"),    # normalizes to bad.example
        (3, "https://good.example/p"),           # kept
        (4, "https://notbad.example/p"),         # NOT a suffix match (label-wise)
        (5, "mailto:a@bad.example"),             # no host -> never dropped
        (6, None),                               # NULL url -> never dropped
        (7, "https://bad.example.com/q"),        # different registrable host, kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    bl = spark.createDataFrame([("bad.example",)], "host string")
    kept = sorted(
        r["doc_id"] for r in weburl.url_blocklist(df, bl).collect()
    )
    assert kept == [3, 4, 5, 6, 7]
    exact_only = sorted(
        r["doc_id"]
        for r in weburl.url_blocklist(df, bl, match_subdomains=False).collect()
    )
    assert exact_only == [1, 3, 4, 5, 6, 7]  # subdomain row survives


def test_url_blocklist_label_bound_and_null_ids(spark):
    """Hosts beyond MAX_HOST_LABELS still match entries within the
    bound; NULL-id rows are never exploded (and never dropped)."""
    deep = "a.b.c.d.e.f.g.h.i.j.bad.example"  # 12 labels
    df = spark.createDataFrame(
        [(0, f"https://{deep}/x"), (None, "https://bad.example/y")],
        "doc_id long, url string",
    )
    bl = spark.createDataFrame([("bad.example",)], "host string")
    out = weburl.url_blocklist(df, bl).collect()
    # the deep host's last-8-label suffixes include bad.example -> blocked;
    # the NULL-id row cannot anti-join away -> kept
    assert [r["doc_id"] for r in out] == [None]


def test_url_blocklist_plan_is_hash_join_no_python(spark):
    """Scale pins: suffix membership is a join (broadcast on a small
    list), the rejoin is a left_anti hash join, and there is no Python
    eval or cartesian product anywhere."""
    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("https://h"), (F.col("id") % 11).cast("string"),
            F.lit(".example/p"),
        ).alias("url"),
    )
    bl = spark.createDataFrame([("h3.example",)], "host string")
    plan = (
        weburl.url_blocklist(df, bl)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "EvalPython" not in plan
    assert "LeftAnti" in plan


def test_canonical_dedup_groups_declared_targets(spark):
    """Pages declaring the same canonical target collapse to the lowest
    doc_id even though their own URLs differ; attribute order and quote
    style both extract; a stylesheet <link> decoy and a canonical-less
    page pass through; the target runs the full canonicalize chain
    (case, www., tracking params)."""
    rows = [
        (1, '<head><link rel="canonical" href="HTTPS://WWW.News.com/a?utm_source=x"></head>'),
        (2, "<head><link href='https://news.com/a' rel='canonical'></head>"),
        (3, '<head><link rel="canonical" href="https://news.com/b"></head>'),
        (4, '<head><link rel="stylesheet" href="https://cdn.com/s.css"></head>'),
        (5, "<head><title>nothing declared</title></head>"),
        (6, '<head><link rel="canonical" href="mailto:x@y.z"></head>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = {r.doc_id: r for r in weburl.canonical_dedup(df).collect()}
    # 1 and 2 share the canonical key https://news.com/a -> keep lowest
    assert out[1].keep and not out[2].keep
    assert out[3].keep                       # singleton family
    assert out[4].keep and out[4].canonical_url is None   # decoy no-match
    assert out[5].keep and out[5].canonical_url is None
    # declared but non-http target: no key, passthrough (dedup_url contract)
    assert out[6].keep and out[6].canonical_url == "mailto:x@y.z"


def test_canonical_dedup_plan_no_payload_shuffle(spark):
    """The keeper aggregate and rejoin must not carry the page payload:
    no Python eval, no cartesian product, and the html column is pruned
    out below the first Exchange."""
    df = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit('<link rel="canonical" href="https://h.example/p'),
            (F.col("id") % 5).cast("string"), F.lit('">'),
        ).alias("html"),
    )
    plan = (
        weburl.canonical_dedup(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan and "CartesianProduct" not in plan


# ---------------------------------------------------- robots_verdicts

def _robots_case(spark, robots_text, urls):
    from pdf_extract_spark.operators import weburl

    r = spark.createDataFrame(
        [("h.example", robots_text)], "host string, robots string"
    )
    u = spark.createDataFrame(
        [(i, f"http://h.example{p}") for i, p in enumerate(urls)],
        "doc_id long, url string",
    )
    out = weburl.robots_verdicts(u, r).collect()
    return {urls[r2["doc_id"]]: (r2["allowed"], r2["rule_type"],
                                 r2["matched_rule"]) for r2 in out}


def test_robots_other_agents_group_ignored(spark):
    v = _robots_case(
        spark,
        "User-agent: otherbot\nDisallow: /\n\nUser-agent: *\nDisallow: /priv",
        ["/page", "/priv/x"],
    )
    assert v["/page"] == (True, "(default)", "(none)")   # otherbot's / ignored
    assert v["/priv/x"] == (False, "disallow", "/priv")


def test_robots_longest_match_wins_and_allow_wins_tie(spark):
    v = _robots_case(
        spark,
        "User-agent: *\nDisallow: /a\nAllow: /a/pub\nDisallow: /t\nAllow: /t",
        ["/a/x", "/a/pub/y", "/t/z"],
    )
    assert v["/a/x"][0] is False          # short disallow
    assert v["/a/pub/y"][0] is True       # longer allow carve-out
    assert v["/t/z"] == (True, "allow", "/t")  # equal length: allow wins


def test_robots_empty_disallow_comments_crlf_and_case(spark):
    # \r\n line endings, comment + blank lines, field-name case, and the
    # spec's empty-Disallow allow-all no-op must all parse cleanly
    v = _robots_case(
        spark,
        "# hi\r\nUSER-AGENT: *\r\n\r\nDisallow:\r\ndisallow: /x # inline\r\n",
        ["/ok", "/x/y"],
    )
    assert v["/ok"][0] is True
    assert v["/x/y"][0] is False


def test_robots_missing_robots_and_hostless_default_allow(spark):
    from pdf_extract_spark.operators import weburl

    r = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /")],
        "host string, robots string",
    )
    u = spark.createDataFrame(
        [(0, "http://h.example/a"), (1, "http://other.example/a"),
         (2, "mailto:x@example.org")],
        "doc_id long, url string",
    )
    out = {r2["doc_id"]: r2 for r2 in weburl.robots_verdicts(u, r).collect()}
    assert out[0]["allowed"] is False                # governed host
    assert out[1]["allowed"] is True                 # no robots published
    assert out[1]["rule_type"] == "(default)"
    assert out[2]["allowed"] is True and out[2]["host"] == ""  # hostless


def test_robots_rules_before_any_group_are_invalid(spark):
    # RFC 9309: rules outside a user-agent group have no effect
    v = _robots_case(
        spark, "Disallow: /\nUser-agent: *\nDisallow: /only",
        ["/free", "/only/x"],
    )
    assert v["/free"][0] is True
    assert v["/only/x"][0] is False


def test_robots_directives_semantics(spark):
    from pdf_extract_spark.operators import weburl

    rows = [
        # two delays in the star group: min wins; sitemap global
        ("a.example",
         "Sitemap: https://a.example/s2.xml\nUser-agent: *\n"
         "Crawl-delay: 2\nCrawl-delay: 0.5\n\n"
         "User-agent: bot\nCrawl-delay: 9\n"
         "Sitemap: https://a.example/s1.xml"),
        # delay only in ANOTHER bot's group: ours is NULL
        ("b.example", "User-agent: bot\nCrawl-delay: 7"),
        # non-numeric delay -> NULL, never an ANSI cast error
        ("c.example", "User-agent: *\nCrawl-delay: soon"),
    ]
    r = spark.createDataFrame(rows, "host string, robots string")
    out = {x["host"]: x for x in weburl.robots_directives(r).collect()}
    a = out["a.example"]
    assert a["crawl_delay_milli"] == 500          # min of 2000/500
    assert a["has_star_group"] is True and a["n_groups"] == 2
    assert a["n_sitemaps"] == 2                   # sitemap lines are GLOBAL
    assert a["first_sitemap"] == "https://a.example/s1.xml"  # lexicographic
    b = out["b.example"]
    assert b["crawl_delay_milli"] is None and b["has_star_group"] is False
    assert out["c.example"]["crawl_delay_milli"] is None


def test_robots_directives_twins_agree_on_colonless_lines(spark):
    """A bare 'Disallow' or 'Sitemap' line (no ':') carries no value in
    either engine: the kernel once took the whole line as the value,
    so a bare Sitemap counted as a sitemap in Spark only."""
    import duckdb

    from pdf_extract_spark.operators import weburl

    rows = [
        ("a.example", "User-agent: *\nDisallow\nSitemap\nCrawl-delay: 1"),
        ("b.example", "Sitemap\nSitemap: https://b.example/s.xml\n"
                      "User-agent: *\nDisallow"),
        ("c.example", "User-agent\nDisallow\nSitemap  # bare"),
    ]
    got = sorted(
        tuple(r) for r in weburl.robots_directives(
            spark.createDataFrame(rows, "host string, robots string")
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (host VARCHAR, robots VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(
        con.execute(weburl.robots_directives_sql("SELECT * FROM t")).fetchall()
    )
    assert got == want
    out = {r[0]: r for r in got}
    assert out["a.example"][4] == 0                 # bare Sitemap: none
    assert out["b.example"][4:] == (1, "https://b.example/s.xml")


def test_frontier_schedule_composes_gate_and_delay(spark):
    from pdf_extract_spark.operators import weburl

    r = spark.createDataFrame(
        [("slow.example", "User-agent: *\nCrawl-delay: 2\nDisallow: /x"),
         ("fast.example", "User-agent: *\nDisallow:")],
        "host string, robots string",
    )
    u = spark.createDataFrame(
        [(1, "http://slow.example/a"), (2, "http://slow.example/b"),
         (3, "http://slow.example/x/blocked"),
         (4, "http://fast.example/a"), (5, "http://nothing.example/a"),
         (6, "mailto:z@example.org")],
        "doc_id long, url string",
    )
    out = {x["doc_id"]: x for x in weburl.frontier_schedule(u, r).collect()}
    assert 3 not in out                      # disallowed: never scheduled
    # slow host serializes at its declared 2000 ms
    assert (out[1]["slot"], out[1]["eta_milli"]) == (0, 0)
    assert (out[2]["slot"], out[2]["eta_milli"]) == (1, 2000)
    assert out[2]["delay_milli"] == 2000
    # no declared delay (or no robots at all) -> the default lane
    assert out[4]["delay_milli"] == 1000 and out[4]["slot"] == 0
    assert out[5]["delay_milli"] == 1000
    # hostless rows serialize in their own '' lane
    assert out[6]["host"] == "" and out[6]["slot"] == 0
