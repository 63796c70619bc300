"""HTML main-content path tests: writer->parser round trip across all
three chrome layouts, boilerplate-strip guarantees, distributed
end-to-end extraction vs the golden oracle and quarantine (north rule:
"HTML boilerplate strip ... DOM heuristics"; the plan shape is pinned in
tests/test_bytepath.py)."""

from __future__ import annotations

import random

import pytest

from pdf_extract_spark import generator, oracle
from pdf_extract_spark.operators import bytepath, html as H
from pdf_extract_spark.sources import htmlgen, htmlparse

N_DOCS = 40
SEED = 33


@pytest.mark.parametrize("variant", htmlgen.VARIANTS)
def test_roundtrip_spans_exact(variant):
    """Semantic landmarks, div-soup chrome, and unclosed-tag soup all
    strip down to the identical structural truth — byte-exact span text
    (fragments keep their significant leading/trailing spaces)."""
    for d in range(N_DOCS):
        got = htmlparse.html_to_spans(htmlgen.build_html(d, seed=SEED, variant=variant))
        assert got == htmlgen.expected_spans(d, seed=SEED), f"doc {d} ({variant})"


def test_boilerplate_never_leaks():
    """No chrome text may survive: nav/footer labels, cookie banner,
    share bar, and the UNMARKED link-dense related block (droppable only
    via anchor density) must all be gone in every variant."""
    forbidden = ("Example Corpus Portal", "We use cookies", "Share", "Terms",
                 "Home", "More")
    for variant in htmlgen.VARIANTS:
        for d in range(10):
            texts = [s["text"] for s in
                     htmlparse.html_to_spans(htmlgen.build_html(d, seed=SEED, variant=variant))]
            for bad in forbidden:
                assert not any(bad in t for t in texts), (variant, d, bad)


def test_class_tokens_never_substring_match():
    """class="post-body" must NOT trip the 'nav'/'header' tokens — token
    matching is on split words; and a genuine token anywhere in a
    multi-token class drops the block."""
    keep = b'<html><body><div class="post-body navigation-free"><p>hello</p></div></body></html>'
    # "navigation-free" splits to {navigation, free}: navigation IS a
    # boiler ROLE but not a TOKEN; the token list has nav/navbar only
    assert [s["text"] for s in htmlparse.html_to_spans(keep)] == ["hello"]
    drop = b'<html><body><div class="main nav"><p>hello</p></div></body></html>'
    assert htmlparse.html_to_spans(drop) == []


def test_link_density_spares_content():
    """A text-dominated div with a couple of inline links stays; a
    link-dominated one goes."""
    page = (b'<html><body>'
            b'<div><p>A long paragraph of real prose that easily outweighs '
            b'the single <a href="/x">link</a> inside it in characters.</p></div>'
            b'<div><a href="/1">one</a> <a href="/2">two</a> <a href="/3">three</a></div>'
            b'</body></html>')
    texts = [s["text"] for s in htmlparse.html_to_spans(page)]
    assert len(texts) == 1 and texts[0].startswith("A long paragraph")


def test_malformed_inputs_raise_htmlerror_only():
    with pytest.raises(htmlparse.HtmlError, match="null"):
        htmlparse.html_to_spans(None)
    with pytest.raises(htmlparse.HtmlError, match="no markup"):
        htmlparse.html_to_spans(b"just words, not a page")
    # a bare '<' that never forms a tag is still markup-free
    with pytest.raises(htmlparse.HtmlError, match="no markup"):
        htmlparse.html_to_spans(b"if a < b then maybe")


def test_charset_sniffing_decodes_legacy_pages():
    """A web corpus is not all UTF-8: meta-charset pages decode per their
    declared encoding, BOMs win, and arbitrary legacy bytes fall back to
    latin-1 instead of quarantining (the crawler trade: mojibake-at-worst
    beats dropping the page)."""
    body = "한국어 본문 텍스트"
    euckr = ('<html><head><meta charset="euc-kr"></head>'
             f"<body><p>{body}</p></body></html>").encode("euc-kr")
    assert [s["text"] for s in htmlparse.html_to_spans(euckr)] == [body]

    utf16 = f"<html><body><p>{body}</p></body></html>".encode("utf-16")  # BOM'd
    assert [s["text"] for s in htmlparse.html_to_spans(utf16)] == [body]

    bom_utf8 = b"\xef\xbb\xbf" + f"<html><body><p>{body}</p></body></html>".encode()
    assert [s["text"] for s in htmlparse.html_to_spans(bom_utf8)] == [body]

    # undeclared cp1252-ish bytes: latin-1 fallback keeps the page alive
    legacy = b"<html><body><p>caf\xe9 au lait</p></body></html>"
    assert [s["text"] for s in htmlparse.html_to_spans(legacy)] == ["caf\xe9 au lait"]


def test_byteflip_fuzz_never_raises_other_errors():
    """Random single-byte corruption of valid pages must either still
    parse (HTML is recoverable) or raise HtmlError — never anything else
    (the quarantine contract of parse_html_safe_udf)."""
    rng = random.Random(909)
    for trial in range(300):
        d = rng.randrange(N_DOCS)
        page = bytearray(htmlgen.build_html(d, seed=SEED,
                                            variant=htmlgen.VARIANTS[trial % 3]))
        pos = rng.randrange(len(page))
        page[pos] = rng.randrange(256)
        try:
            spans = htmlparse.html_to_spans(bytes(page))
            assert isinstance(spans, list)
        except htmlparse.HtmlError:
            pass


def test_spark_html_to_spans_matches_oracle(spark):
    """Distributed end-to-end: mixed chrome layouts in one corpus, junk
    rows dropped by the Catalyst validation gate or quarantined by the
    parser, healthy pages extract to the SAME spans as the shared rule
    core (oracle.expected_corpus) — one golden for all input formats."""
    rows = [
        {"doc_id": f"doc{d:08d}",
         "content": bytearray(htmlgen.build_html(
             d, seed=SEED, variant=htmlgen.VARIANTS[d % 3]))}
        for d in range(N_DOCS)
    ]
    rows.append({"doc_id": "junk_nomarkup", "content": bytearray(b"plain text only")})
    rows.append({"doc_id": "junk_empty", "content": bytearray(b"")})
    rows.append({"doc_id": "junk_bare_lt", "content": bytearray(b"if a < b then maybe")})
    rows.append({"doc_id": "junk_null", "content": None})
    df = spark.createDataFrame(rows, schema="doc_id string, content binary")

    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in H.html_to_spans(df).collect()
    }
    docs = [generator.make_document(d, seed=SEED) for d in range(N_DOCS)]
    assert got == oracle.expected_corpus(docs)

    full = H.html_to_spans_full(df)
    errs = {r["doc_id"]: r["parse_error"]
            for r in bytepath.parse_error_rows(full).collect()}
    # ALL junk rows reconcile in the ledger: the parser-quarantined one
    # with its parse error, the gate-rejected ones with the gate reason
    assert set(errs) == {"junk_bare_lt", "junk_nomarkup", "junk_empty", "junk_null"}
    assert len(got) + len(errs) == len(rows) == full.count()
    assert "no markup" in errs["junk_bare_lt"]
    assert "validation gate" in errs["junk_nomarkup"]
    assert "validation gate" in errs["junk_empty"]
    assert "validation gate" in errs["junk_null"]


def test_corrupt_batch_reuses_parsed_prefix(spark, monkeypatch):
    """A batch with one bad payload quarantines ONLY that row, and the
    clean prefix is not re-parsed (the fast-path contract)."""
    import pdf_extract_spark.sources.htmlparse as hp

    calls = []
    real = hp.html_to_spans

    def counting(data):
        calls.append(1)
        return real(data)

    monkeypatch.setattr(hp, "html_to_spans", counting)

    import pandas as pd

    from pdf_extract_spark.operators.html import parse_html_safe_udf

    good = htmlgen.build_html(0, seed=SEED)
    batch = pd.Series([good, good, b"no markup at all", good])
    out = parse_html_safe_udf.func(batch)
    assert list(out["parse_error"].isna()) == [True, True, False, True]
    assert out["spans"][0] is not None and out["spans"][2] is None
    # fast path parses 0,1 and raises at 2 (3 calls); the quarantine loop
    # resumes AT the failure — re-parses 2 (fails) and 3 — so the clean
    # prefix is parsed exactly once: 5 calls total, not 7
    assert len(calls) == 5


def test_extract_html_folder_end_to_end(spark, tmp_path):
    """The S1-style binaryFile scan over a directory of *.html pages:
    glob filter skips non-pages, the markup gate drops markup-free
    files, healthy pages extract to the golden spans (the HTML analog
    of test_sources_sinks.test_extract_pdf_folder_end_to_end)."""
    from pdf_extract_spark.sources.folder import extract_html_folder

    d = tmp_path / "pages"
    d.mkdir()
    n = 6
    for i in range(n):
        (d / f"page_{i:03d}.html").write_bytes(
            htmlgen.build_html(i, seed=SEED, variant=htmlgen.VARIANTS[i % 3]))
    (d / "notes.txt").write_text("ignored")            # glob filter must skip
    (d / "empty.html").write_bytes(b"no tags here")    # markup gate must drop

    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in extract_html_folder(spark, str(d)).collect()
    }
    assert "empty" not in got and "notes" not in got
    docs = []
    for i in range(n):
        doc = generator.make_document(i, seed=SEED)
        doc["doc_id"] = f"page_{i:03d}"
        docs.append(doc)
    assert got == oracle.expected_corpus(docs)


def test_harvest_links_both_quote_styles(spark):
    """The href harvest sees double- AND single-quoted attributes (real
    crawl HTML mixes them) and stays pure Catalyst; url_domain keys only
    http(s) URLs."""
    from pdf_extract_spark.operators.html import harvest_links, url_domain
    from pyspark.sql import functions as F

    rows = [
        (1, '<a href="https://a.example/x">d</a> <a href=\'http://b.org/y\'>s</a>'),
        (2, "<a href='mailto:x@y'>m</a> no other links"),
        (3, "<a href=broken>unquoted is the DOM path's job</a>"),
        (4, '<A HREF="http://legacy.example/z">legacy uppercase markup</A>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    links = harvest_links(df)
    got = {(r["doc_id"], r["url"]) for r in links.collect()}
    assert got == {(1, "https://a.example/x"), (1, "http://b.org/y"),
                   (2, "mailto:x@y"), (4, "http://legacy.example/z")}
    doms = {r["d"] for r in links.select(url_domain(F.col("url")).alias("d")).collect()}
    assert doms == {"a.example", "b.org", "legacy.example", ""}
    plan = links._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_table_cells_carry_table_kind_end_to_end():
    """Blocks under a <table> ancestor emit the structural 'table' kind
    (the HTML twin of the layout path's grid cells) and the shared rule
    core passes them through the FSM 1:1 like headers."""
    from pdf_extract_spark import rules

    html = (
        b"<html><body><main>"
        b"<p>intro paragraph body text</p>"
        b"<table><tr><td>cell one</td><td>cell two</td></tr>"
        b"<tr><td>another row cell</td></tr></table>"
        b"<p>closing paragraph body text</p>"
        b"</main></body></html>"
    )
    spans = htmlparse.html_to_spans(html)
    assert [s["kind"] for s in spans] == ["text", "table", "table", "table", "text"]
    assert [s["text"] for s in spans if s["kind"] == "table"] == [
        "cell one", "cell two", "another row cell"]

    out = rules.extract_document(spans)
    assert [(s["kind"], s["text"], s["offset"]) for s in out] == [
        ("P", "intro paragraph body text", 0),
        ("table", "cell one", 1),
        ("table", "cell two", 2),
        ("table", "another row cell", 3),
        ("P", "closing paragraph body text", 4),
    ]


def test_table_spans_skip_boilerplate_strip():
    """Boilerplate stripping is repetition-based and applies to 'text'
    spans only: a table cell whose text matches a repeated boilerplate
    line still survives (table-ness is structural, mirroring the layout
    path where the grid test overrides style tagging)."""
    from pdf_extract_spark import rules

    spans = [
        {"kind": "text", "text": "page footer", "media_ref": "", "offset": 0},
        {"kind": "text", "text": "page footer", "media_ref": "", "offset": 1},
        {"kind": "text", "text": "page footer", "media_ref": "", "offset": 2},
        {"kind": "table", "text": "page footer", "media_ref": "", "offset": 3},
        {"kind": "text", "text": "real body sentence text", "media_ref": "", "offset": 4},
    ]
    out = rules.extract_document(spans)
    assert [(s["kind"], s["text"]) for s in out] == [
        ("table", "page footer"),
        ("P", "real body sentence text"),
    ]


def test_vectorized_kernel_matches_rules_on_table_spans():
    """The Arrow kernel (extract_spans.func) runs rules.extract_columns
    over the flat span columns of an Arrow batch — on structural table
    spans (tag passthrough, boilerplate exemption, cleanup + empty drop)
    it must equal the oracle, map a NULL document to NULL and an empty
    one to []."""
    import pyarrow as pa
    from pdf_extract_spark import rules
    from pdf_extract_spark.operators.extract import SPANS_ARROW, extract_spans

    mixed = [
        {"kind": "text", "text": "intro paragraph body text", "media_ref": "", "offset": 0},
        {"kind": "table", "text": "cell one", "media_ref": "", "offset": 1},
        {"kind": "table", "text": "  cell two  ", "media_ref": "", "offset": 2},
        {"kind": "table", "text": "   ", "media_ref": "", "offset": 3},  # empty drop
        {"kind": "media", "text": "", "media_ref": "m0", "offset": 4},
        {"kind": "text", "text": "closing paragraph body text", "media_ref": "", "offset": 5},
    ]
    bp = [
        {"kind": "text", "text": "page footer", "media_ref": "", "offset": 0},
        {"kind": "text", "text": "page footer", "media_ref": "", "offset": 1},
        {"kind": "text", "text": "page footer", "media_ref": "", "offset": 2},
        {"kind": "table", "text": "page footer", "media_ref": "", "offset": 3},
        {"kind": "text", "text": "real body sentence text", "media_ref": "", "offset": 4},
    ]
    docs = [mixed, None, [], bp]
    got = extract_spans.func(pa.array(docs, type=SPANS_ARROW))
    assert got.type == SPANS_ARROW
    got = got.to_pylist()
    want = [rules.extract_document(d) if d is not None else None for d in docs]
    assert got == want
    assert [s["kind"] for s in got[0]] == ["P", "table", "table", "media", "P"]
    assert [s["kind"] for s in got[3]] == ["table", "P"]


def test_deep_nesting_quarantines_not_recursionerror():
    """Adversarially nested soup (unclosed tags) must quarantine through
    the HtmlError-only contract — a RecursionError escaping the builder
    cap would kill the Spark task through every retry."""
    deep = b"<html><body>" + b"<div>" * 5000 + b"hello"
    with pytest.raises(htmlparse.HtmlError, match="nests deeper"):
        htmlparse.html_to_spans(deep)
    # implied-close recovery keeps realistic depth under the cap
    ok = b"<html><body><main>" + b"<p>line</p>" * 300 + b"</main>"
    assert len(htmlparse.html_to_spans(ok)) == 300


def test_bare_container_text_is_not_lost():
    """Text directly inside containers (no block leaf) — the common
    <br>-separated-prose crawl shape — must extract, one span per run
    between block boundaries; pure-inline children join their run."""
    spans = htmlparse.html_to_spans(
        b'<html><body><div class="post-body">Sentence one.<br>'
        b"Sentence two.</div></body></html>"
    )
    assert [(s["kind"], s["text"]) for s in spans] == [
        ("text", "Sentence one."), ("text", "Sentence two.")]

    spans = htmlparse.html_to_spans(
        b'<html><body><main><div>Hello <b>world</b>! <a href="x">link</a>'
        b" tail</div></main></html>"
    )
    assert [s["text"] for s in spans] == ["Hello world! link tail"]

    # bare text flushes around an img, media stays interleaved in place
    spans = htmlparse.html_to_spans(
        b"<html><body><main><div>before<img src=m.png>after</div></main>"
    )
    assert [(s["kind"], s["text"], s["media_ref"]) for s in spans] == [
        ("text", "before", ""), ("media", "", "m.png"), ("text", "after", "")]


def test_bare_text_never_duplicates_block_content():
    """The run buffer must not re-emit text a block leaf already carried
    via _inline_text (strings inside blocks, inline elements inside
    blocks, containers inside blocks)."""
    spans = htmlparse.html_to_spans(
        b"<html><body><main>"
        b"<p>Alpha <em>beta</em> gamma</p>"
        b"<li>item <div>divtext</div></li>"
        b"<span><p>nested</p></span>"
        b"</main></html>"
    )
    assert [s["text"] for s in spans] == [
        "Alpha beta gamma", "item divtext", "nested"]


def test_html_split_parses_once_for_both_consumers(spark):
    """bytepath.split over html_to_spans_full returns the healthy and
    quarantine sides of ONE materialized parse: results identical to the
    two filtered views, and neither side's plan re-runs the Python DOM
    stage (the checkpointed blocks are the source)."""
    rows = [
        {"doc_id": f"doc{d:08d}",
         "content": bytearray(htmlgen.build_html(
             d, seed=SEED, variant=htmlgen.VARIANTS[d % 3]))}
        for d in range(8)
    ]
    rows.append({"doc_id": "junk_bare_lt", "content": bytearray(b"if a < b then maybe")})
    df = spark.createDataFrame(rows, schema="doc_id string, content binary")

    healthy, quarantine = bytepath.split(H.html_to_spans_full(df))
    want_spans = {r["doc_id"]: r["spans"]
                  for r in H.html_to_spans(df).collect()}
    got_spans = {r["doc_id"]: r["spans"] for r in healthy.collect()}
    assert got_spans == want_spans
    errs = {r["doc_id"]: r["parse_error"] for r in quarantine.collect()}
    assert set(errs) == {"junk_bare_lt"} and "no markup" in errs["junk_bare_lt"]

    for side in (healthy, quarantine):
        plan = side._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, plan


def test_lazy_loaded_images_keep_their_media_ref():
    """Crawl pages lazy-load images: src is a placeholder or absent and
    the real URL sits in data-src — the media span must not lose it."""
    spans = htmlparse.html_to_spans(
        b'<html><body><main><p>before</p>'
        b'<img data-src="https://cdn.x/real.jpg">'
        b'<img src="ph.gif" data-src="https://cdn.x/lazy.jpg">'
        b"<p>after</p></main></html>"
    )
    assert [(s["kind"], s["media_ref"]) for s in spans if s["kind"] == "media"] == [
        ("media", "https://cdn.x/real.jpg"),
        ("media", "ph.gif"),  # explicit src wins when both are present
    ]


def test_nested_block_then_text_keeps_document_order():
    """<li><h3>Title</h3> summary</li> (and blockquote/attribution) must
    emit the nested block BEFORE the trailing text — a flatten-the-leaf-
    first emitter inverted the order, corrupting reading order through
    the offset-sorted FSM."""
    spans = htmlparse.html_to_spans(
        b"<html><body><main>"
        b"<li><h3>Title</h3> description text</li>"
        b"<blockquote><p>quote body</p>attribution line</blockquote>"
        b"</main></html>"
    )
    assert [(s["text"], s["offset"]) for s in spans] == [
        ("Title", 0), (" description text", 1),
        ("quote body", 2), ("attribution line", 3),
    ]
