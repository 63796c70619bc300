r"""URL-keyed curation: canonicalization, URL dedup, per-domain caps.

The web-graph leg of the curation surface (sibling of the href harvest in
operators/html.py): once ``harvest_links``/crawl metadata yields a URL per
document, a web-scale pipeline dedups fetches of the same resource
(scheme/host case, default ports, fragments, tracking params and trailing
slashes all vary across crawls of one page) and caps how many pages any
single domain may contribute to the corpus.

Everything here is a pure Catalyst expression tree — whole-stage codegen,
no Python workers — and every regex is written in the portable Java+RE2
subset (``(?i)`` inline flag, explicit classes, no lookbehind, and ``\z``
for terminal anchors — NEVER bare ``$``, which Java matches before a
final newline while RE2 does not, so a newline-bearing harvested href
would canonicalize to different keys in the kernel vs the oracle) so the
DuckDB oracles in queries.py can mirror the exact semantics.

Scale notes (100 TB):
- ``canonicalize_url`` is map-only: zero shuffle, runs inside the scan
  projection.
- ``dedup_url`` is ONE hash aggregate on the canonical key (map-side
  combine applies; the key is a short string, not the document).
- ``domain_cap`` windows on the domain key, which is the textbook skewed
  key (a handful of giant domains). The window only carries
  (domain, order_col, doc_id) — project BEFORE calling it — and AQE's
  skew-join/partition splitting handles stragglers; the capped id set is
  then semi-joined back to the full rows, so document payloads never
  shuffle by domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Query parameters a fetch of the SAME resource varies on: analytics
# trackers. The list is a conservative, widely-published core (utm_*,
# Google/Facebook click ids, bare ref) — extend per deployment.
TRACKING_PARAM_PATTERN = r"^(utm_[^=]*|gclid|fbclid|ref)(=|\z)"

_SCHEME = r"(?i)^(https?)://"
_HOSTPORT = r"(?i)^https?://([^/?#]*)"


def canonicalize_url(url_col):
    """Canonical form of an http(s) URL, as one Catalyst expression.

    Steps (each a documented choice, mirrored verbatim in the DuckDB
    oracle): strip the fragment; lowercase scheme + host; drop a leading
    ``www.``; drop the scheme's default port (:80 / :443); drop tracking
    query params (TRACKING_PARAM_PATTERN) and sort the survivors; strip
    trailing slashes off the path (root stays ``/``). Non-http(s) inputs
    (mailto:, #frag, relative paths) canonicalize to NULL so they drop
    out of URL-keyed dedup instead of colliding on a garbage key.
    """
    u = F.regexp_replace(url_col, r"#[\s\S]*", "")
    scheme = F.lower(F.regexp_extract(u, _SCHEME, 1))
    hostport = F.lower(F.regexp_extract(u, _HOSTPORT, 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, r":80\z", "")).otherwise(
        F.regexp_replace(host, r":443\z", "")
    )
    # everything after the authority: "/path?query" (fragment already gone)
    pq = F.regexp_replace(u, r"(?i)^https?://[^/?#]*", "")
    path = F.regexp_extract(pq, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/+\z", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pq, r"\?([\s\S]*)", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_PATTERN),
    )
    qcanon = F.array_join(F.array_sort(kept), "&")
    full = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(F.lit("")),
    )
    return F.when(scheme != "", full).otherwise(F.lit(None))


def canonicalize_url_sql(url_expr: str) -> str:
    """The DuckDB twin of canonicalize_url, step for step (RE2 regexes;
    list_filter/list_sort/array_to_string mirror filter/array_sort/
    array_join). Kept next to the Spark kernel so a semantic change must
    touch both or the oracle gate fails."""
    u = f"regexp_replace({url_expr}, '#[\\s\\S]*', '')"
    scheme = f"lower(regexp_extract({u}, '(?i)^(https?)://', 1))"
    hostport = f"lower(regexp_extract({u}, '(?i)^https?://([^/?#]*)', 1))"
    host = f"regexp_replace({hostport}, '^www\\.', '')"
    host = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({host}, ':80\\z', '') "
        f"ELSE regexp_replace({host}, ':443\\z', '') END"
    )
    pq = f"regexp_replace({u}, '(?i)^https?://[^/?#]*', '')"
    path = f"regexp_replace(regexp_extract({pq}, '^([^?]*)', 1), '/+\\z', '')"
    path = f"CASE WHEN {path} = '' THEN '/' ELSE {path} END"
    query = f"regexp_extract({pq}, '\\?([\\s\\S]*)', 1)"
    kept = (
        f"list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_PATTERN}'))"
    )
    qcanon = f"array_to_string(list_sort({kept}), '&')"
    full = (
        f"{scheme} || '://' || {host} || {path} || "
        f"CASE WHEN {qcanon} <> '' THEN '?' || {qcanon} ELSE '' END"
    )
    return f"CASE WHEN {scheme} <> '' THEN {full} ELSE NULL END"


# the host-of-canonical-URL pattern: ONE definition shared by domain_cap
# and every URL-curation query twin (queries.py) — six hand-inlined
# copies previously had to stay bit-identical by discipline alone
HOST_PATTERN = r"^https?://([^/]+)"


def url_host(canonical_col):
    """Host part of a CANONICAL http(s) URL column ('' for NULL/other)."""
    return F.regexp_extract(canonical_col, HOST_PATTERN, 1)


def url_host_sql(canonical_expr: str) -> str:
    """DuckDB twin of url_host (NULL propagates, as regexp_extract does)."""
    return f"regexp_extract({canonical_expr}, '{HOST_PATTERN}', 1)"


# scheme+host stripper for the path part; '^' and literal classes only
# (portable Java+RE2 subset)
_SCHEME_HOST_PATTERN = r"^https?://[^/]*"


def url_path(canonical_col):
    """Path part of a CANONICAL http(s) URL column; '/' for a bare host
    (the root), NULL propagates."""
    stripped = F.regexp_replace(canonical_col, _SCHEME_HOST_PATTERN, "")
    return F.when(
        canonical_col.isNull(), F.lit(None).cast("string")
    ).otherwise(F.when(stripped == "", F.lit("/")).otherwise(stripped))


def url_path_sql(canonical_expr: str) -> str:
    """DuckDB twin of url_path."""
    s = f"regexp_replace({canonical_expr}, '{_SCHEME_HOST_PATTERN}', '')"
    return (
        f"CASE WHEN {canonical_expr} IS NULL THEN NULL "
        f"WHEN {s} = '' THEN '/' ELSE {s} END"
    )


def dedup_url(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Keep ONE row per canonical URL: the minimum id (deterministic
    keep-first, same contract as dedup.exact_dedup). One hash aggregate
    on the short canonical key; rows whose URL is not http(s) are kept
    unconditionally (no key to collide on)."""
    canon = canonicalize_url(F.col(url_col))
    keyed = df.withColumn("_canonical_url", canon)
    keepers = (
        keyed.filter(F.col("_canonical_url").isNotNull())
        .groupBy("_canonical_url")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    unkeyed = keyed.filter(F.col("_canonical_url").isNull()).drop("_canonical_url")
    return df.join(keepers, id_col, "left_semi").unionByName(unkeyed)


def domain_cap(
    df: DataFrame,
    max_per_domain: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    salt_buckets: int = 64,
    keep_unkeyed: bool = False,
) -> DataFrame:
    """At most ``max_per_domain`` rows per registrable host, keeping the
    lowest ids (deterministic, exact).

    Rows with NO parseable http(s) host (mailto:, relative paths, NULL
    urls) have no domain to cap on. By default they are DROPPED — the
    cap doubles as an "is a web document" gate. Pass
    ``keep_unkeyed=True`` to keep them uncapped instead (the same
    passthrough contract dedup_url applies to unkeyed rows), which is
    what a composed pipeline wants when non-URL docs must survive the
    curation chain (web_curate does this). Passthrough is implemented
    INSIDE the same window pass — each unkeyed row gets a per-row
    sentinel key in a namespace disjoint from real hosts ("u:<id>" vs
    "d:<host>"), so it trivially survives rn=1 <= cap — because a
    filter-and-union branch would run the whole canonicalize regex
    chain over the corpus a second time (measured ~30% of the composed
    web_curate at sf0.1). Unkeyed rows whose ``id_col`` is ALSO NULL
    can't ride the sentinel (the payload rejoin is an equi-join on the
    id, and NULL never equi-joins): they are unioned back explicitly —
    the id-NULL pre-filter keeps that branch's regex cost proportional
    to the (normally empty) NULL-id slice, not the corpus. A KEYED row
    with a NULL id is dropped — the id is the cap's window key and the
    payload rejoin key — and is excluded from the window input up
    front, so it can't consume a cap slot it will never use (NULL sorts
    first in an ascending window and would otherwise shadow a real id).

    The naive plan — ONE row_number window partitioned by domain — is the
    textbook hot-key straggler at web scale: a giant domain's every row
    lands in one window partition, and AQE cannot split a window
    partition the way it splits a skewed join. So the cap runs in two
    exact phases: (1) cap within (domain, salt) — any single window
    partition holds at most 1/salt_buckets of a domain; (2) cap the
    survivors (<= cap x salt_buckets rows per domain — driver-bounded,
    never corpus-bounded) globally per domain. Keeping the N lowest ids
    per salted slice provably preserves the global N lowest, so the
    result is identical to the one-window plan (pinned in
    tests/test_weburl.py against a 1-bucket run).

    Both windows run over a projection of (domain, salt, id) only —
    document payloads rejoin via left_semi, so the corpus never shuffles
    on the skewed domain key."""
    if max_per_domain < 1:
        raise ValueError(f"max_per_domain must be >= 1, got {max_per_domain}")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    canon = canonicalize_url(F.col(url_col))
    dom = url_host(canon)
    if keep_unkeyed:
        # disjoint namespaces: real hosts under "d:", unkeyed rows each
        # under their own "u:<id>" — one row per window partition, so
        # rn = 1 <= cap always keeps them; the keyed groups are
        # bijective with their hosts, so cap results are unchanged
        key = F.when(
            dom.isNull() | (dom == ""),
            F.concat(F.lit("u:"), F.col(id_col).cast("string")),
        ).otherwise(F.concat(F.lit("d:"), dom))
        slim = df.select(F.col(id_col), key.alias("_domain")).filter(
            F.col(id_col).isNotNull()
        )
    else:
        slim = df.select(F.col(id_col), dom.alias("_domain")).filter(
            F.col(id_col).isNotNull() & (F.col("_domain") != "")
        )
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    w1 = Window.partitionBy("_domain", "_salt").orderBy(F.col(id_col))
    survivors = (
        slim.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= max_per_domain)
        .drop("_rn")
    )
    w2 = Window.partitionBy("_domain").orderBy(F.col(id_col))
    kept = (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= max_per_domain)
        .select(id_col)
    )
    capped = df.join(kept, id_col, "left_semi")
    if not keep_unkeyed:
        return capped
    # NULL-id unkeyed rows can't survive the left_semi (NULL never
    # equi-joins); the id-NULL filter comes FIRST so the canonicalize
    # regex below it only ever runs over that slice
    null_id_unkeyed = df.filter(F.col(id_col).isNull()).filter(
        dom.isNull() | (dom == "")
    )
    return capped.unionByName(null_id_unkeyed)


# ----------------------------------------------------- domain blocklist

# Suffix matching is bounded: only the last MAX_HOST_LABELS labels of a
# host generate candidate suffixes, so an adversarial 500-dot hostname
# amplifies to 8 join rows, not 500. Real blocklist entries (UT1-style
# registrable domains) are 2-4 labels, far inside the bound; an entry
# with MORE labels than the bound can never match, which is the
# documented tradeoff.
MAX_HOST_LABELS = 8

_PORT_SUFFIX = r":[0-9]+\z"


def url_blocklist(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    match_subdomains: bool = True,
) -> DataFrame:
    """Drop rows whose URL's canonical host is on a domain blocklist
    (the UT1/adult-list stage of a web-curation pipeline). A blocklist
    entry matches its exact host and — with ``match_subdomains`` (the
    standard semantics) — every subdomain of it: ``example.com`` blocks
    ``example.com`` AND ``cdn.a.example.com``.

    ``blocklist`` is a DataFrame with a ``host`` column, not a literal
    list: real blocklists are millions of entries, so membership must be
    a JOIN (AQE broadcasts it while it fits, falls back to a
    key-partitioned join when it doesn't — correctness never depends on
    it fitting in one executor). Entries are lowercased defensively;
    they are expected in canonical form (no scheme, no www., no port).

    Rows with NO parseable http(s) host (mailto:, relative paths, NULL)
    are NEVER dropped: a blocklist removes what it names, and it cannot
    name what has no host. Gating non-web rows out is domain_cap's job
    (its default), not this operator's — the two contracts are
    documented where they differ (dedup_url passes unkeyed rows too).

    Scale (100 TB): suffix matching as a HASH join, never a regex/LIKE
    cross-product — each host explodes into its ≤ MAX_HOST_LABELS
    dot-suffixes (a projection of (id, suffix) only), equi-joins the
    blocklist, and the blocked id set anti-joins back, so document
    payloads never shuffle by host and the per-row amplification is a
    small constant."""
    canon = canonicalize_url(F.col(url_col))
    host = F.regexp_replace(url_host(canon), _PORT_SUFFIX, "")
    keyed = df.select(F.col(id_col), host.alias("_h")).filter(
        F.col(id_col).isNotNull() & F.col("_h").isNotNull() & (F.col("_h") != "")
    )
    parts = F.split(F.col("_h"), r"\.")
    n = F.size(parts)
    if match_subdomains:
        starts = F.sequence(F.greatest(F.lit(1), n - F.lit(MAX_HOST_LABELS - 1)), n)
        sfx = F.transform(
            starts, lambda i: F.array_join(F.slice(parts, i, n - i + 1), ".")
        )
    else:
        sfx = F.array(F.col("_h"))
    exploded = keyed.select(id_col, F.explode(sfx).alias("_sfx"))
    bl = blocklist.select(F.lower(F.col("host")).alias("_sfx")).distinct()
    blocked = exploded.join(bl, "_sfx").select(id_col).distinct()
    return df.join(blocked, id_col, "left_anti")


def url_blocklist_sql(
    blocked_hosts: tuple[str, ...],
    table: str = "documents",
    url_expr: str = "url",
    id_col: str = "doc_id",
    match_subdomains: bool = True,
) -> str:
    """DuckDB mirror of url_blocklist over a VALUES blocklist relation
    (step-for-step: same canonicalize/host twins, same label bound,
    same anti-join)."""
    if not blocked_hosts:
        raise ValueError("blocked_hosts must be non-empty")
    vals = ", ".join("('" + h.replace("'", "''") + "')" for h in blocked_hosts)
    host = url_host_sql(canonicalize_url_sql(url_expr))
    if match_subdomains:
        sfx_cte = f"""
sfx AS (SELECT {id_col}, array_to_string(parts[i:len(parts)], '.') AS s
        FROM (SELECT {id_col}, parts,
                     unnest(range(greatest(1, len(parts) - {MAX_HOST_LABELS - 1}),
                                  len(parts) + 1)) AS i
              FROM keyed))"""
    else:
        sfx_cte = f"""
sfx AS (SELECT {id_col}, array_to_string(parts, '.') AS s FROM keyed)"""
    return f"""
WITH bl AS (SELECT DISTINCT lower(h) AS s FROM (VALUES {vals}) t(h)),
hosts AS (SELECT {id_col},
                 regexp_replace({host}, '{_PORT_SUFFIX}', '') AS h
          FROM {table}),
keyed AS (SELECT {id_col}, string_split(h, '.') AS parts
          FROM hosts WHERE {id_col} IS NOT NULL AND h IS NOT NULL AND h <> ''),{sfx_cte},
blocked AS (SELECT DISTINCT {id_col} FROM sfx JOIN bl ON sfx.s = bl.s)
SELECT d.* FROM {table} d ANTI JOIN blocked USING ({id_col})
"""


# ------------------------------------------------------- host PageRank

def host_pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-point integer PageRank over the host link graph — the
    crawl-prioritization / domain-authority signal a web curation
    pipeline derives from ``harvest_links`` output. Returns
    (host, rank) with ranks in ``scale`` units after ``iterations``
    synchronous rounds of r' = scale*(1-d) + d * sum(r_in / outdeg).

    ALL arithmetic is 64-bit integer (ranks in scale units, trunc
    division when splitting rank across out-edges and when damping), so
    results are bit-identical across engines, partitionings and reruns
    — float PageRank is none of those (shuffle-order-dependent
    summation). The caller must keep
    ``damping_num * n_hosts * scale < 2**63`` (defaults are safe to
    ~10^8 hosts). Mass flowing into dangling hosts (no out-edges) is
    retained by them but not redistributed — the documented choice; the
    redistribution variant needs a per-round global sum that buys
    nothing for ranking ORDER at web scale.

    Scale (100 TB crawl): edges are deduplicated then localCheckpointed
    ONCE (the dedup_components lesson — every round joins them and the
    upstream harvest must not re-run per round); each round is one
    key-only join + one partial-combinable aggregate, both shuffling on
    the host key; lineage stays bounded by the explicit iteration
    count."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0 < damping_num < damping_den:
        raise ValueError(
            f"damping must satisfy 0 < num < den, got {damping_num}/{damping_den}"
        )
    e = edges.select(
        F.col(src).cast("string").alias("src"),
        F.col(dst).cast("string").alias("dst"),
    ).distinct()
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    base = (scale * (damping_den - damping_num)) // damping_den
    ranks = nodes.select("host", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["host"])
            .join(outdeg, "src")
            .select("dst", F.expr("rank DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes["host"] == contrib["dst"], "left")
            .select(
                "host",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_num} * coalesce(s, 0L)) DIV {damping_den}"
                    )
                ).cast("long").alias("rank"),
            )
        )
        # bound the iterative lineage (same contract as dedup_components)
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


def host_pagerank_sql(
    edges_sql: str,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000_000,
) -> str:
    """DuckDB mirror of ``host_pagerank``: the synchronous rounds UNROLL
    into chained CTEs (standard SQL forbids aggregates in a recursive
    CTE member; unrolling sidesteps the restriction and keeps the oracle
    pure ANSI). ``edges_sql`` must yield (src, dst). DuckDB's sum()
    widens BIGINT to HUGEINT, so every round casts back ::BIGINT after
    the damping division — values stay in int64 range by the operator's
    overflow contract, so the casts are lossless."""
    base = (scale * (damping_den - damping_num)) // damping_den
    parts = [
        f"e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1)",
        f"r0 AS (SELECT host, {scale}::BIGINT AS rank FROM nodes)",
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        parts.append(
            f"r{i} AS (SELECT n.host, ({base} + ({damping_num} * "
            f"coalesce(s.c, 0)) // {damping_den})::BIGINT AS rank "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS host, sum({prev}.rank // deg.d) AS c "
            f"FROM e JOIN {prev} ON e.src = {prev}.host "
            f"JOIN deg ON e.src = deg.src GROUP BY 1) s USING (host))"
        )
        prev = f"r{i}"
    return "WITH " + ",\n".join(parts) + f"\nSELECT host, rank FROM {prev}"


# ------------------------------------------------------------ anchor terms

def anchor_terms(anchors: DataFrame, top: int = 3) -> DataFrame:
    """Per-target-host top anchor terms — the classic retrieval/quality
    signal (how the REST of the web describes a host) aggregated from
    ``html.harvest_anchors`` output (doc_id, url, anchor).

    URLs canonicalize first so ``http://WWW.X.com`` and ``https://x.com``
    vote for one host; non-http rows ('' host: mailto, relative paths)
    are dropped — there is no target to describe. Terms are the shared
    whitespace tokenization; ranks are a per-host row_number over
    (count DESC, term ASC) so the top-k cut is a total order.

    Returns (host, term, n, rnk), rnk <= top.

    Scale (100 TB): canonicalize/tokenize are map-only; the (host, term)
    count aggregate is map-side combinable and shuffles two short
    strings; the window runs over the AGGREGATED relation, so a hot
    host's partition holds its distinct anchor VOCABULARY, not its raw
    anchor volume — the same project-before-window discipline as
    domain_cap."""
    from pdf_extract_spark.operators.textstats import tokens

    host = url_host(canonicalize_url(F.col("url")))
    ex = (
        anchors.select(host.alias("host"), "anchor")
        .filter(F.col("host") != "")
        .select("host", F.explode(tokens(F.col("anchor"))).alias("term"))
    )
    agg = ex.groupBy("host", "term").agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("term"))
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top)
    )


def anchor_terms_sql(table: str, html_expr: str = "html", top: int = 3) -> str:
    """DuckDB mirror of harvest_anchors -> anchor_terms over an HTML
    column (lockstep multi-unnest zips the two group extractions the
    way zip_with does; patterns are shared with html.py so the engines
    scan identical regexes)."""
    from pdf_extract_spark.operators.html import ANCHOR_PATTERN, ANCHOR_PATTERN_SQ
    from pdf_extract_spark.operators.textstats import tokens_sql

    dq = ANCHOR_PATTERN.replace("'", "''")
    sq = ANCHOR_PATTERN_SQ.replace("'", "''")
    return f"""
WITH ah AS (SELECT doc_id, {html_expr} AS h FROM {table}),
pz AS (
  SELECT unnest(regexp_extract_all(h, '{dq}', 1)) AS url,
         unnest(regexp_extract_all(h, '{dq}', 2)) AS anchor FROM ah
  UNION ALL
  SELECT unnest(regexp_extract_all(h, '{sq}', 1)),
         unnest(regexp_extract_all(h, '{sq}', 2)) FROM ah
),
hx AS (SELECT {url_host_sql(canonicalize_url_sql('url'))} AS host, anchor
       FROM pz),
tx AS (SELECT host, unnest({tokens_sql('anchor')}) AS term
       FROM hx WHERE host <> ''),
ag AS (SELECT host, term, count(*)::BIGINT AS n FROM tx GROUP BY 1, 2),
rk AS (SELECT host, term, n,
              (row_number() OVER (PARTITION BY host
                                  ORDER BY n DESC, term ASC))::BIGINT AS rnk
       FROM ag)
SELECT host, term, n, rnk FROM rk WHERE rnk <= {top}
"""


def canonical_dedup(
    pages: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Collapse pages that DECLARE the same canonical target
    (``<link rel="canonical">``): syndicated and mirrored copies of one
    article all point at the source URL, so grouping by the
    canonicalized target catches duplicates that URL-of-the-page dedup
    (dedup_url) structurally cannot — the copies live at DIFFERENT
    URLs. Returns (id, canonical_url, keep) for EVERY input row
    (drop-don't-lose, auditable like quality_filter): keep=True for the
    lowest id per canonical key and for every page with no parseable
    http(s) target (nothing declared -> nothing to collide on — the
    dedup_url passthrough contract).

    Scale (100 TB): extraction + canonicalization are map-only; the
    keeper table is ONE min-aggregate on the short canonical key
    (partial-combinable, no window); the rejoin shuffles only
    (ckey, keep_id) + the id/url projection — page payloads never
    shuffle."""
    from pdf_extract_spark.operators.html import canonical_targets

    t = canonical_targets(pages, html_col)
    keyed = t.select(
        id_col,
        "canonical_url",
        canonicalize_url(F.col("canonical_url")).alias("_ckey"),
    )
    keepers = (
        keyed.filter(F.col("_ckey").isNotNull())
        .groupBy("_ckey")
        .agg(F.min(id_col).alias("_keep_id"))
    )
    return keyed.join(keepers, "_ckey", "left").select(
        id_col,
        "canonical_url",
        (F.col("_ckey").isNull() | (F.col(id_col) == F.col("_keep_id")))
        .alias("keep"),
    )


def canonical_dedup_sql(table: str, html_expr: str = "html") -> str:
    """DuckDB twin of canonical_dedup over an HTML column."""
    from pdf_extract_spark.operators.html import canonical_targets_sql

    ct = canonical_targets_sql(table, html_expr)
    return f"""
WITH ct AS ({ct}),
ky AS (SELECT doc_id, canonical_url,
              {canonicalize_url_sql('canonical_url')} AS ckey
       FROM ct),
kp AS (SELECT ckey, min(doc_id) AS keep_id
       FROM ky WHERE ckey IS NOT NULL GROUP BY 1)
SELECT ky.doc_id, ky.canonical_url,
       (ky.ckey IS NULL OR ky.doc_id = kp.keep_id) AS keep
FROM ky LEFT JOIN kp ON ky.ckey = kp.ckey
"""


# ------------------------------------------------- site-level quality


def site_quality(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_docs: int = 2,
    milli_threshold: int = 350,
) -> DataFrame:
    """Per-SITE quality gate (the RefinedWeb curation rule: judge the
    host, not just the page — a domain whose pages are uniformly junk
    is dropped wholesale, catching spam farms whose individual pages
    squeak past per-document thresholds). Pages are scored with the
    shared textstats quality formula, floor-milli'd to integers, and
    aggregated per registrable host; a host is kept iff it has at
    least ``min_docs`` pages AND integer mean milli-quality >=
    ``milli_threshold``. Rows with no parseable http(s) host aggregate
    under the explicit '(no-url)' domain (same passthrough contract as
    domain_cap's keep_unkeyed) so non-web docs are visible in the
    verdict table, never silently dropped. NULL-quality pages (zero
    tokens) count as 0 milli — a blank page argues against its site.

    Returns (domain, n_docs, mean_milli_q, site_kept). Integer mean =
    sum DIV count — exact, order-independent, engine-identical (the
    only doubles are inside the 6dp-rounded page score, the already-
    proven quality_score chain).

    Scale (100 TB): ONE aggregate keyed by host with map-side partial
    (sum, count) combine — skewed mega-hosts fold locally before the
    shuffle, so no salting is needed (unlike domain_cap's top-N, a mean
    is associative); the shuffle carries (host, milli, 1) triples,
    never page payloads. Applying the verdict is a broadcast-sized
    semi-join back (hosts number ~10^7 at web scale, the bounded side).

    Reference analog: the per-file status aggregate driving its skip
    lists (SURVEY.md A2/A10) lifted to the web-corpus unit, the host."""
    from pdf_extract_spark.operators.textstats import quality_expr

    host = url_host(canonicalize_url(F.col(url_col)))
    dom = F.when(host.isNull() | (host == ""), F.lit("(no-url)")).otherwise(host)
    # floor == trunc: the score is >= 0 (house pattern, queries.py sig_b)
    milli = F.coalesce(
        (quality_expr(F.col(text_col)) * 1000).cast("long"), F.lit(0)
    )
    agg = (
        df.select(dom.alias("domain"), milli.alias("_mq"))
        .groupBy("domain")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("_mq").alias("_sum"))
    )
    mean = F.expr("_sum DIV n_docs")
    return agg.select(
        "domain", "n_docs",
        mean.cast("long").alias("mean_milli_q"),
        ((F.col("n_docs") >= min_docs)
         & (mean >= milli_threshold)).alias("site_kept"),
    )


def site_quality_sql(
    urls_sql: str,
    docs_table: str = "documents",
    text_expr: str = "text",
    min_docs: int = 2,
    milli_threshold: int = 350,
) -> str:
    """DuckDB twin of site_quality. ``urls_sql`` must yield
    (doc_id, url) for every row of ``docs_table`` (the queries share
    the messy-URL fixture). floor() mirrors Spark's truncating
    double->long cast on the non-negative score; // is trunc division
    on non-negatives."""
    from pdf_extract_spark.operators.textstats import quality_expr_sql

    host = url_host_sql(canonicalize_url_sql("u.url"))
    return f"""
WITH q AS (
  SELECT doc_id,
         coalesce(CAST(floor(({quality_expr_sql(text_expr)}) * 1000)
                       AS BIGINT), 0) AS mq
  FROM {docs_table}),
hosted AS (SELECT u.doc_id, {host} AS host FROM ({urls_sql}) u),
dom AS (
  SELECT CASE WHEN host IS NULL OR host = '' THEN '(no-url)'
              ELSE host END AS domain, doc_id
  FROM hosted),
per AS (
  SELECT domain, count(*)::BIGINT AS n_docs, sum(mq)::BIGINT AS s
  FROM dom JOIN q USING (doc_id) GROUP BY 1)
SELECT domain, n_docs, (s // n_docs)::BIGINT AS mean_milli_q,
       (n_docs >= {min_docs} AND (s // n_docs) >= {milli_threshold})
           AS site_kept
FROM per
"""


# ------------------------------------------------- robots.txt gate


def _robots_grouped(
    robots: DataFrame, host_col: str = "host", robots_col: str = "robots"
) -> DataFrame:
    """Shared robots.txt line parse: (host, _ln, _field, _value, _grp)
    — lines split on \\r?\\n, comments (#) stripped, fields lowercased,
    values trimmed, and the RFC 9309 group id assigned via the
    most-recent-User-agent-run rule. Two window passes over ONE host
    shuffle: a window function may not nest inside another's argument
    (both engines), so the new-group flag (lag) and the running group
    id (sum) are separate projections. Used by robots_verdicts and
    robots_directives; SQL twin: ROBOTS_GROUPED_CTES."""
    w = Window.partitionBy(host_col).orderBy("_ln")
    lines = robots.select(
        host_col,
        F.posexplode(F.split(F.col(robots_col), r"\r?\n")).alias("_ln", "_raw"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("_raw"), "#[\\s\\S]*", ""),
        "^[ \\t]+|[ \\t]+\\z",
        "",
    )
    parsed = lines.select(
        host_col, "_ln", clean.alias("_clean")
    ).select(
        host_col, "_ln", "_clean",
        F.lower(F.trim(F.substring_index(F.col("_clean"), ":", 1))).alias("_field"),
        # a colon-less line has no value (not the whole line), as in the twin
        F.when(
            F.instr("_clean", ":") > 0,
            F.trim(F.expr("substring(_clean, instr(_clean, ':') + 1)")),
        ).otherwise("").alias("_value"),
    )
    is_ua = F.col("_field") == "user-agent"
    flagged = parsed.select(
        host_col, "_ln", "_field", "_value",
        (is_ua & ~F.coalesce(F.lag(is_ua).over(w), F.lit(False)))
        .cast("int").alias("_newg"),
    )
    return flagged.select(
        host_col, "_ln", "_field", "_value",
        F.sum("_newg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_grp"),
    )


def _robots_star_groups(grouped: DataFrame, host_col: str = "host") -> DataFrame:
    """(host, _grp) pairs whose group names the wildcard agent."""
    return (
        grouped.filter(
            (F.col("_field") == "user-agent") & (F.col("_value") == "*")
        )
        .select(host_col, "_grp").distinct()
    )


def robots_grouped_ctes(robots_sql: str) -> str:
    """DuckDB twin of _robots_grouped: the CTE chain text from the raw
    robots relation through `grouped` (host, ln, field, value, grp).
    Compose as ``WITH {robots_grouped_ctes(...)}, <more CTEs> ...``."""
    return f"""r AS ({robots_sql}),
split AS (
  SELECT host, regexp_split_to_array(robots, '\\r?\\n') AS arr FROM r),
idx AS (
  SELECT host, arr, unnest(range(0, len(arr)))::BIGINT AS ln FROM split),
lines AS (SELECT host, ln, arr[ln + 1] AS raw FROM idx),
parsed AS (
  SELECT host, ln,
         regexp_replace(regexp_replace(raw, '#[\\s\\S]*', ''),
                        '^[ \\t]+|[ \\t]+\\z', '', 'g') AS clean
  FROM lines),
fields AS (
  SELECT host, ln,
         lower(trim(split_part(clean, ':', 1))) AS field,
         trim(CASE WHEN strpos(clean, ':') > 0
                   THEN substr(clean, strpos(clean, ':') + 1)
                   ELSE '' END) AS value
  FROM parsed),
flagged AS (
  SELECT host, ln, field, value,
         CASE WHEN field = 'user-agent' AND coalesce(
                lag(field = 'user-agent') OVER (PARTITION BY host ORDER BY ln),
                false) = false THEN 1 ELSE 0 END AS newg
  FROM fields),
grouped AS (
  SELECT host, ln, field, value,
         (sum(newg) OVER (PARTITION BY host ORDER BY ln
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS grp
  FROM flagged),
star_groups AS (
  SELECT DISTINCT host, grp FROM grouped
  WHERE field = 'user-agent' AND value = '*')"""


def robots_verdicts(
    urls: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    host_col: str = "host",
    robots_col: str = "robots",
) -> DataFrame:
    """Crawl-politeness gate: evaluate each URL against its host's
    robots.txt under RFC 9309 semantics for the wildcard agent —
    group selection (rules belong to the most recent User-agent run
    above them; only groups naming ``*`` apply, so another bot's
    ``Disallow: /`` is ignored), LONGEST-path-match wins, Allow wins a
    length tie, and no-match / no-robots / no-host default to allowed.
    Comment (#) and blank lines are skipped; an empty ``Disallow:`` is
    the spec's allow-all no-op and produces no rule. Prefix matching
    uses the canonical fetch path (path + surviving query string).

    Returns one row per input URL: (id_col, host, allowed,
    rule_type in {'allow','disallow','(default)'}, matched_rule —
    the winning rule's path prefix, or '(none)').

    Scale (100 TB corpus, 10^7-10^9 hosts): robots payloads are
    HOST-cardinality metadata, not corpus data — the line explode and
    the per-host group window are bounded by the 500 KiB robots size
    convention, never by the corpus. The verdict join is host-keyed;
    a mega-host is a skewed probe side against a small build side,
    exactly the AQE skew-join case; the per-URL winner window
    partitions by doc id over only that URL's matching rules. URL
    payloads shuffle once (by host) carrying (id, host, path).

    Reference analog: the per-file skip predicates of SURVEY.md F5/F9,
    lifted to the crawl's fetch-permission contract."""
    grouped = _robots_grouped(robots, host_col, robots_col)
    star_groups = _robots_star_groups(grouped, host_col)
    rules = (
        grouped.filter(
            F.col("_field").isin("allow", "disallow") & (F.col("_value") != "")
        )
        .join(star_groups, [host_col, "_grp"], "left_semi")
        .select(
            host_col,
            F.col("_value").alias("_prefix"),
            F.length("_value").alias("_plen"),
            (F.col("_field") == "allow").alias("_is_allow"),
            F.col("_ln").alias("_rule_ln"),
        )
    )
    # NOTE on the 3 s sf0.1 suite reading: overhead-dominated at toy
    # scale (multiple short-key shuffle stages at 32 partitions over
    # 5 k rows — the url_dedup_hosts pattern documented in BENCH.md);
    # an isolated A/B of materializing the canonical URL in its own
    # projection measured no difference (2.6-3.5 s both shapes).
    canon = canonicalize_url(F.col(url_col))
    keyed = urls.select(
        F.col(id_col),
        url_host(canon).alias(host_col),
        url_path(canon).alias("_path"),
    )
    matches = keyed.join(rules, host_col, "inner").filter(
        F.expr("substring(_path, 1, _plen) = _prefix")
    )
    ww = Window.partitionBy(id_col).orderBy(
        F.col("_plen").desc(), F.col("_is_allow").desc(), F.col("_rule_ln").asc()
    )
    winner = (
        matches.withColumn("_rn", F.row_number().over(ww))
        .filter(F.col("_rn") == 1)
        .select(id_col, "_is_allow", "_prefix")
    )
    return keyed.join(winner, id_col, "left").select(
        id_col,
        F.coalesce(F.col(host_col), F.lit("")).alias(host_col),
        F.coalesce(F.col("_is_allow"), F.lit(True)).alias("allowed"),
        F.when(F.col("_is_allow").isNull(), F.lit("(default)"))
        .when(F.col("_is_allow"), F.lit("allow"))
        .otherwise(F.lit("disallow")).alias("rule_type"),
        F.coalesce(F.col("_prefix"), F.lit("(none)")).alias("matched_rule"),
    )


def robots_verdicts_sql(
    urls_sql: str,
    robots_sql: str,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of robots_verdicts (same line split, comment strip,
    group window, star-group semi-join, longest/allow-wins winner
    window; window sum cast ::BIGINT per the cross-engine rule)."""
    canon = canonicalize_url_sql("u.url")
    return f"""
WITH {robots_grouped_ctes(robots_sql)},
u AS ({urls_sql}),
rules AS (
  SELECT g.host, g.value AS prefix, length(g.value)::BIGINT AS plen,
         g.field = 'allow' AS is_allow, g.ln AS rule_ln
  FROM grouped g JOIN star_groups s ON g.host = s.host AND g.grp = s.grp
  WHERE g.field IN ('allow', 'disallow') AND g.value <> ''),
keyed AS (
  SELECT u.{id_col},
         {url_host_sql(canon)} AS host,
         {url_path_sql(canon)} AS path
  FROM u),
matches AS (
  SELECT k.{id_col}, ru.is_allow, ru.prefix,
         row_number() OVER (
           PARTITION BY k.{id_col}
           ORDER BY ru.plen DESC, ru.is_allow DESC, ru.rule_ln ASC) AS rn
  FROM keyed k JOIN rules ru ON k.host = ru.host
  WHERE substr(k.path, 1, ru.plen::INT) = ru.prefix),
winner AS (SELECT {id_col}, is_allow, prefix FROM matches WHERE rn = 1)
SELECT k.{id_col},
       coalesce(k.host, '') AS host,
       coalesce(w.is_allow, true) AS allowed,
       CASE WHEN w.is_allow IS NULL THEN '(default)'
            WHEN w.is_allow THEN 'allow' ELSE 'disallow' END AS rule_type,
       coalesce(w.prefix, '(none)') AS matched_rule
FROM keyed k LEFT JOIN winner w USING ({id_col})
"""


def robots_directives(
    robots: DataFrame, host_col: str = "host", robots_col: str = "robots"
) -> DataFrame:
    """Per-host crawl-control directives — the scheduling half of the
    robots contract (robots_verdicts is the permission half): the
    wildcard group's Crawl-delay (min if repeated, seconds -> milli
    via DECIMAL(18,3), non-numeric values -> NULL through try_cast),
    the group census, whether a wildcard group exists at all, and the
    per-spec GLOBAL Sitemap lines (count + lexicographically first).
    A crawl scheduler joins this against its frontier to rate-limit
    per host and to seed discovery from sitemaps.

    Returns one row per input robots row: (host, n_groups,
    has_star_group, crawl_delay_milli, n_sitemaps, first_sitemap).

    Scale: same discipline as robots_verdicts — everything is
    host-cardinality metadata; four host-keyed aggregates over the
    shared parse, left-joined back onto the host spine."""
    grouped = _robots_grouped(robots, host_col, robots_col)
    star = _robots_star_groups(grouped, host_col)
    delays = (
        grouped.filter(F.col("_field") == "crawl-delay")
        .join(star, [host_col, "_grp"], "left_semi")
        .groupBy(host_col)
        .agg(F.min(F.expr("try_cast(_value AS DECIMAL(18,3))")).alias("_d"))
    )
    sitemaps = (
        grouped.filter((F.col("_field") == "sitemap") & (F.col("_value") != ""))
        .groupBy(host_col)
        .agg(
            F.count("*").cast("long").alias("n_sitemaps"),
            F.min("_value").alias("first_sitemap"),
        )
    )
    ngroups = (
        grouped.filter(F.col("_field") == "user-agent")
        .select(host_col, "_grp").distinct()
        .groupBy(host_col)
        .agg(F.count("*").cast("long").alias("n_groups"))
    )
    star_hosts = star.select(host_col).distinct().withColumn("_has", F.lit(True))
    return (
        robots.select(host_col)
        .join(ngroups, host_col, "left")
        .join(star_hosts, host_col, "left")
        .join(delays, host_col, "left")
        .join(sitemaps, host_col, "left")
        .select(
            host_col,
            F.coalesce("n_groups", F.lit(0)).cast("long").alias("n_groups"),
            F.coalesce("_has", F.lit(False)).alias("has_star_group"),
            (F.col("_d") * 1000).cast("long").alias("crawl_delay_milli"),
            F.coalesce("n_sitemaps", F.lit(0)).cast("long").alias("n_sitemaps"),
            F.coalesce("first_sitemap", F.lit("(none)")).alias("first_sitemap"),
        )
    )


def robots_directives_sql(robots_sql: str) -> str:
    """DuckDB twin of robots_directives (shared robots_grouped_ctes;
    TRY_CAST mirrors try_cast; DECIMAL(18,3) * 1000 -> BIGINT exact)."""
    return f"""
WITH {robots_grouped_ctes(robots_sql)},
rd_delay AS (
  SELECT g.host, min(TRY_CAST(g.value AS DECIMAL(18,3))) AS d
  FROM grouped g JOIN star_groups s ON g.host = s.host AND g.grp = s.grp
  WHERE g.field = 'crawl-delay' GROUP BY 1),
rd_sm AS (
  SELECT host, count(*)::BIGINT AS n_sitemaps, min(value) AS first_sitemap
  FROM grouped WHERE field = 'sitemap' AND value <> '' GROUP BY 1),
rd_ng AS (
  SELECT host, count(DISTINCT grp)::BIGINT AS n_groups
  FROM grouped WHERE field = 'user-agent' GROUP BY 1),
rd_sh AS (SELECT DISTINCT host FROM star_groups)
SELECT r.host AS host,
       coalesce(rd_ng.n_groups, 0)::BIGINT AS n_groups,
       (rd_sh.host IS NOT NULL) AS has_star_group,
       CAST(rd_delay.d * 1000 AS BIGINT) AS crawl_delay_milli,
       coalesce(rd_sm.n_sitemaps, 0)::BIGINT AS n_sitemaps,
       coalesce(rd_sm.first_sitemap, '(none)') AS first_sitemap
FROM r
LEFT JOIN rd_ng ON r.host = rd_ng.host
LEFT JOIN rd_sh ON r.host = rd_sh.host
LEFT JOIN rd_delay ON r.host = rd_delay.host
LEFT JOIN rd_sm ON r.host = rd_sm.host
"""


DEFAULT_CRAWL_DELAY_MILLI = 1000


def frontier_schedule(
    urls: DataFrame,
    robots: DataFrame,
    default_delay_milli: int = DEFAULT_CRAWL_DELAY_MILLI,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """The crawl-frontier scheduler that composes the whole robots leg:
    gate the frontier through robots_verdicts (disallowed URLs never
    schedule), attach each host's Crawl-delay from robots_directives
    (falling back to ``default_delay_milli`` when a host publishes no
    delay — including hostless rows, which serialize in their own ''
    lane), then serialize fetches per host: slot = position in
    deterministic id order, eta_milli = slot * delay. The output IS
    the politeness contract as data — fetch row k of a host no
    earlier than eta_milli after the host's first fetch.

    Returns (id_col, host, slot, delay_milli, eta_milli), one row per
    ALLOWED frontier URL.

    Scale (10^9-URL frontiers): the slot window is per-host and
    carries ONLY (host, id) — the domain_cap discipline; a mega-host
    is a genuinely serial fetch lane, so its single window partition
    is the honest cost of politeness, not a plan defect (the
    scheduler emits it as one long lane either way). Everything else
    is the host-keyed metadata of the two robots operators."""
    verdicts = robots_verdicts(urls, robots, url_col=url_col, id_col=id_col)
    allowed = verdicts.filter(F.col("allowed")).select(id_col, "host")
    delays = robots_directives(robots).select(
        "host", F.col("crawl_delay_milli").alias("_delay"),
    )
    w = Window.partitionBy("host").orderBy(id_col)
    return (
        allowed.join(delays, "host", "left")
        .select(
            id_col, "host",
            (F.row_number().over(w) - 1).cast("long").alias("slot"),
            F.coalesce("_delay", F.lit(default_delay_milli))
            .cast("long").alias("delay_milli"),
        )
        .select(
            id_col, "host", "slot", "delay_milli",
            (F.col("slot") * F.col("delay_milli")).cast("long")
            .alias("eta_milli"),
        )
    )


def frontier_schedule_sql(
    urls_sql: str,
    robots_sql: str,
    default_delay_milli: int = DEFAULT_CRAWL_DELAY_MILLI,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of frontier_schedule (nested-WITH composition of the
    two robots twins; same per-host slot window and id order)."""
    v = robots_verdicts_sql(urls_sql, robots_sql, id_col=id_col)
    d = robots_directives_sql(robots_sql)
    return f"""
WITH fs_v AS ({v}),
fs_d AS ({d}),
fs_a AS (SELECT {id_col}, host FROM fs_v WHERE allowed),
fs_j AS (
  SELECT a.{id_col}, a.host,
         (row_number() OVER (PARTITION BY a.host ORDER BY a.{id_col})
          - 1)::BIGINT AS slot,
         coalesce(d.crawl_delay_milli, {default_delay_milli})::BIGINT
             AS delay_milli
  FROM fs_a a LEFT JOIN fs_d d ON a.host = d.host)
SELECT {id_col}, host, slot, delay_milli,
       (slot * delay_milli)::BIGINT AS eta_milli
FROM fs_j
"""
