"""The HTML path: raw page bytes -> main-content spans -> extracted
spans (the north rule's "HTML boilerplate strip ... DOM heuristics" leg).

What is HTML-specific lives here: the bounded markup gate and the DOM
parser. The gate -> partition -> quarantining parse -> extract -> ledger
plumbing is shared with the PDF leg in operators/bytepath.

Two map-only Arrow stages over the salted/range-partitioned pages:

  1. ``parse_htmls`` — tolerant DOM build + boilerplate strip + span
     emission (sources/htmlparse) per document, batched per Arrow batch;
  2. the shared extraction stage (operators/extract) over the recovered
     input_hint spans — the SAME rule core as the PDF and parquet paths,
     so one golden oracle covers all three input formats.

No shuffle between the stages; the only Exchange is the mandated
repartitionByRange from pipeline.partition_for_extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pdf_extract_spark.operators import bytepath
from pdf_extract_spark.operators.extract import extract_spans
from pdf_extract_spark.schemas import SPANS


def _load_html_parser():
    from pdf_extract_spark.sources.htmlparse import HtmlError, html_to_spans

    return html_to_spans, HtmlError


# null, undecodable or markup-free payloads become (NULL spans,
# parse_error) rows instead of failing the task
parse_html_safe_udf = bytepath.quarantining_udf(
    "parse_html_safe_udf", "spans", SPANS, _load_html_parser
)


HTML_GATE_SCAN_BYTES = 4096


def html_gate():
    """The S2-analog validity predicate: non-empty payload whose FIRST
    ``HTML_GATE_SCAN_BYTES`` contain markup. NULL-safe (coalesces to
    false). The scan is bounded (ADVICE r4): casting the whole payload
    to string copies every page twice before the parser ever runs —
    the PDF gate reads 5 bytes, this one reads at most 4 KiB (any real
    HTML shows '<' in its first handful of bytes via doctype/html/head;
    a page whose first tag sits past 4 KiB of tagless prose is
    quarantined as markup-free, the documented gate semantics)."""
    c = F.col("content")
    head = F.substring(c, 1, HTML_GATE_SCAN_BYTES).cast("string")
    return F.coalesce(
        c.isNotNull() & (F.length(c) > 0) & (F.instr(head, "<") > 0),
        F.lit(False),
    )


def validate_html(df: DataFrame) -> DataFrame:
    """Keep only rows whose payload is non-empty and contains markup (the
    HTML analog of the PDF %PDF- magic gate, layout.validate_pdfs). Pure
    Catalyst expression — junk rows never reach the Python parser."""
    return df.filter(html_gate())


def parse_htmls(df: DataFrame) -> DataFrame:
    """pages(doc_id, content:binary) -> (doc_id, spans, parse_error)."""
    return bytepath.parse_payloads(df, parse_html_safe_udf, "spans")


def html_to_spans_full(df: DataFrame) -> DataFrame:
    """The one-pass HTML path (bytepath.bytes_to_spans_full): healthy
    pages carry EXTRACTED spans, bad payloads carry the error string and
    NULL spans."""
    return bytepath.bytes_to_spans_full(
        df, html_gate(), "null, empty or markup-free payload",
        parse_html_safe_udf, "spans", extract_spans,
    )


# --------------------------------------------------------------------------
# link harvest — the corpus-wide web-graph pass (domain caps, blocklists,
# URL dedup all start from this table)
# --------------------------------------------------------------------------

# (?i): HREF=/Href= is well-formed and ubiquitous in legacy crawl HTML;
# a case-sensitive harvest systematically under-counts exactly the old
# domains the caps/blocklists built on this table should police
HREF_PATTERN = r'(?i)href="([^"]+)"'
HREF_PATTERN_SQ = r"(?i)href='([^']+)'"
DOMAIN_PATTERN = r"^https?://([^/]+)"


def harvest_links(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, url) from quoted href attributes (both quote styles —
    real crawl HTML mixes them). Pure JVM regex (whole-stage codegen, no
    Python): the cheap pass a curation pipeline runs over EVERY page for
    the link graph, where regex recall over well-formed attributes is the
    right cost/recall trade — the DOM path (html_to_spans_full) remains the
    semantics-complete extractor for unquoted/soup markup."""
    h = F.col(html_col)
    urls = F.concat(
        F.regexp_extract_all(h, F.lit(HREF_PATTERN), F.lit(1)),
        F.regexp_extract_all(h, F.lit(HREF_PATTERN_SQ), F.lit(1)),
    )
    return pages.select("doc_id", F.explode(urls).alias("url"))


# anchor PAIRS: href + the link TEXT it wraps. [^<]* keeps the text group
# plain-text only — an anchor wrapping nested tags (<a..><b>x</b></a>) is
# SKIPPED by both engines identically (the DOM path extracts those); the
# same recall trade harvest_links documents, paid for a pattern that
# stays in the portable Java+RE2 subset (no lazy quantifiers needed).
ANCHOR_PATTERN = r'(?i)<a[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'
ANCHOR_PATTERN_SQ = r"(?i)<a[^>]*href='([^']*)'[^>]*>([^<]*)</a>"


def harvest_anchors(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, url, anchor) from plain-text ``<a href=...>text</a>``
    pairs, both quote styles — the link-TEXT harvest behind anchor-term
    aggregation (how the web describes a target). Group-1 and group-2
    extractions of ONE pattern are index-aligned by construction, so
    zip_with pairs them without a second scan. Pure JVM regex, zero
    shuffle, whole-stage codegen."""
    h = F.col(html_col)

    def pairs(pat: str):
        return F.zip_with(
            F.regexp_extract_all(h, F.lit(pat), F.lit(1)),
            F.regexp_extract_all(h, F.lit(pat), F.lit(2)),
            lambda u, t: F.struct(u.alias("url"), t.alias("anchor")),
        )

    both = F.concat(pairs(ANCHOR_PATTERN), pairs(ANCHOR_PATTERN_SQ))
    return pages.select("doc_id", F.explode(both).alias("z")).select(
        "doc_id", F.col("z.url").alias("url"), F.col("z.anchor").alias("anchor")
    )


def url_domain(url_col):
    """Host part of an http(s) URL; '' for other schemes (mailto, #...)."""
    return F.regexp_extract(url_col, DOMAIN_PATTERN, 1)


# robots noindex: pages that ask not to be indexed. Two patterns cover
# both attribute orders (name before content and the reverse) without
# caring about quote style; (?i) covers ROBOTS/NOINDEX casing. Both stay
# in the portable Java+RE2 subset (no lookarounds, no lazy quantifiers)
# so the DuckDB oracle scans the identical regexes.
NOINDEX_PATTERNS = (
    r"(?i)<meta[^>]*robots[^>]*noindex",
    r"(?i)<meta[^>]*noindex[^>]*robots",
)


def noindex_flags(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, noindex) — does the page carry a robots-meta noindex
    directive? A compliant corpus pipeline drops such pages before
    curation (the publisher asked); the flag is returned for EVERY row
    (drop-don't-lose, like quality_filter) so the exclusion is
    auditable. Map-only: two rlike scans inside the projection, zero
    shuffle, no Python."""
    h = F.col(html_col)
    flag = h.rlike(NOINDEX_PATTERNS[0]) | h.rlike(NOINDEX_PATTERNS[1])
    return pages.select("doc_id", flag.alias("noindex"))


def noindex_flags_sql(table: str, html_expr: str = "html") -> str:
    """DuckDB mirror of noindex_flags (same two patterns, OR-ed)."""
    p0, p1 = (p.replace("'", "''") for p in NOINDEX_PATTERNS)
    return f"""
SELECT doc_id,
       (regexp_matches({html_expr}, '{p0}')
        OR regexp_matches({html_expr}, '{p1}')) AS noindex
FROM {table}
"""


# rel=canonical: the page's DECLARED canonical target — how syndicated/
# mirrored copies point at their source. Four patterns cover both
# attribute orders x both quote styles; mixed-quote tags (rel="…"
# href='…') are skipped IDENTICALLY by Java and RE2 — the same bounded
# recall trade harvest_anchors documents, paid to stay in the portable
# regex subset (tag-bounded [^>]*, no lazy quantifiers, no lookaround).
CANONICAL_PATTERNS = (
    r'(?i)<link[^>]*rel="canonical"[^>]*href="([^"]*)"',
    r'(?i)<link[^>]*href="([^"]*)"[^>]*rel="canonical"',
    r"(?i)<link[^>]*rel='canonical'[^>]*href='([^']*)'",
    r"(?i)<link[^>]*href='([^']*)'[^>]*rel='canonical'",
)


def canonical_targets(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, canonical_url): the page's declared canonical href, NULL
    when the page declares none. Each pattern contributes its FIRST
    match and the patterns coalesce in fixed order, so a page with
    multiple canonical links resolves deterministically. Map-only JVM
    regex — zero shuffle, no Python."""
    h = F.col(html_col)
    first = F.coalesce(
        *[
            F.nullif(F.regexp_extract(h, p, 1), F.lit(""))
            for p in CANONICAL_PATTERNS
        ],
    )
    return pages.select("doc_id", first.alias("canonical_url"))


def canonical_targets_sql(table: str, html_expr: str = "html") -> str:
    """DuckDB mirror of canonical_targets (same patterns, same coalesce
    order; both engines' regexp_extract yields '' on no-match)."""
    exts = ", ".join(
        f"nullif(regexp_extract({html_expr}, '{p.replace(chr(39), chr(39) * 2)}', 1), '')"
        for p in CANONICAL_PATTERNS
    )
    return f"SELECT doc_id, coalesce({exts}) AS canonical_url FROM {table}"
