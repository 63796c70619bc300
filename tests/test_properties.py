"""Property-based tests (hypothesis) for the deterministic rule core.

These pin the invariants that make the distributed execution safe:
fragmentation-invariance is why section-boundary splitting of giant
documents is exact (SURVEY.md §7.4.4), and offset-permutation invariance
is why shuffle order can never leak into results.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from pdf_extract_spark import rules

WORD = st.from_regex(r"[a-z]{1,8}", fullmatch=True)


@st.composite
def sentences(draw):
    n = draw(st.integers(2, 12))
    ws = [draw(WORD) for _ in range(n)]
    return " ".join(ws).capitalize() + draw(st.sampled_from(".!?"))


@st.composite
def fragmentations(draw):
    """A paragraph of complete sentences plus a random re-fragmentation of
    it at word boundaries."""
    sents = draw(st.lists(sentences(), min_size=1, max_size=5))
    text = " ".join(sents)
    words = text.split(" ")
    cut_points = draw(
        st.lists(st.integers(1, max(len(words) - 1, 1)), max_size=6, unique=True)
    )
    cuts = sorted(p for p in cut_points if p < len(words))
    frags = []
    prev = 0
    for c in cuts + [len(words)]:
        frags.append(" ".join(words[prev:c]))
        prev = c
    return sents, frags


@given(fragmentations())
@settings(max_examples=200, deadline=None)
def test_composition_invariant_to_fragmentation(case):
    """However a paragraph is split at word boundaries, the FSM must
    recompose the same complete sentences (no brackets case)."""
    sents, frags = case
    composed = rules.compose_sentences(frags)
    expected = [s for full in sents for s in rules.split_sentences(full)]
    assert composed == [rules.tighten_brackets(rules.collapse_ws(s)) for s in expected]


@given(st.lists(st.tuples(st.sampled_from(["text", "media"]), sentences()), min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_extract_document_invariant_to_offset_permutation(items):
    """Input spans sorted by offset: shuffling the LIST order (keeping the
    offset values) must not change the output."""
    spans = [
        {"kind": k, "text": t if k == "text" else "",
         "media_ref": f"m{i}" if k == "media" else "", "offset": i}
        for i, (k, t) in enumerate(items)
    ]
    out_sorted = rules.extract_document(spans)
    out_reversed = rules.extract_document(list(reversed(spans)))
    assert out_sorted == out_reversed


@given(st.lists(sentences(), min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_split_then_join_roundtrip(sents):
    """split_sentences of a joined paragraph finds exactly the sentence
    boundaries (no bracket content)."""
    text = " ".join(sents)
    assert rules.split_sentences(text) == sents


@given(st.text(alphabet=" abc().[]?! \t", max_size=60))
@settings(max_examples=300, deadline=None)
def test_fsm_never_loses_nonspace_characters(t):
    """Composition may re-segment but must never drop non-whitespace
    content (residuals are kept, SURVEY.md §2.8)."""
    out = rules.compose_sentences([t])
    kept = re.sub(r"\s+", "", "".join(out))
    original = re.sub(r"\s+", "", t)
    assert kept == original


@given(st.lists(st.tuples(st.sampled_from(["H1", "H2", "H3", "P", "media"]), WORD), max_size=20))
@settings(max_examples=200, deadline=None)
def test_run_merge_preserves_order_and_nonheaders(frags_in):
    frags = [
        {"kind": k, "text": t, "media_ref": ""} for k, t in frags_in
    ]
    out = rules.merge_consecutive_tags(frags)
    # non-header fragments survive 1:1 in order
    assert [f["text"] for f in out if f["kind"] not in rules.HEADER_KINDS] == [
        f["text"] for f in frags if f["kind"] not in rules.HEADER_KINDS
    ]
    # no two adjacent outputs share a header kind
    for a, b in zip(out, out[1:]):
        assert not (a["kind"] == b["kind"] and a["kind"] in rules.HEADER_KINDS)
    # every input word is present in the output stream
    assert " ".join(f["text"] for f in out).split() == [t for _, t in frags_in]


def test_clean_trigger_fast_path_equivalence():
    """Soundness of the fast paths inside rules.clean_fragment and
    rules.collapse_ws (strip-only when RE_CLEAN_TRIGGER / RE_NEEDS_COLLAPSE
    miss): both must equal the unguarded regex chain on every string, and
    the boilerplate key rules._clean_and_key hands out for free must be
    collapse_ws of the raw text whenever it is not None."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extract_spark import rules

    @settings(max_examples=1500, deadline=None)
    @given(st.text(alphabet=st.characters(), max_size=50))
    def check(t):
        chain = rules.RE_WS.sub(" ", rules.RE_STAR.sub(" ", rules.RE_BULLET.sub(
            "", rules.RE_DOT_LEADER.sub("", t)))).strip()
        assert rules.clean_fragment(t) == chain, repr(t)
        assert rules.collapse_ws(t) == rules.RE_WS.sub(" ", t).strip(), repr(t)
        clean, key = rules._clean_and_key(t)
        assert clean == chain and key in (None, rules.RE_WS.sub(" ", t).strip()), repr(t)

    check()


def test_compose_inline_completion_equals_is_complete():
    """The O(1) completion test inlined in compose_sentences (current
    fragment's rstrip tail) must equal rules.is_complete on the joined
    buffer at depth 0 — keeps the documented spec function load-bearing."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extract_spark import rules

    frag_st = st.text(
        alphabet=st.sampled_from(list("ab .?!()[]\"'")), min_size=1, max_size=10
    ).map(str.strip).filter(bool)

    @settings(max_examples=2000, deadline=None)
    @given(st.lists(frag_st, min_size=1, max_size=6))
    def check(parts):
        frag = parts[-1]
        fs = frag.rstrip("\"')]")
        inline = bool(fs) and fs[-1] in rules.TERMINALS
        assert inline == rules.is_complete(" ".join(parts), 0), parts

    check()


def test_extract_batch_matches_rules_for_arbitrary_kinds():
    """The Arrow kernel (extract_spans.func) runs rules.extract_columns
    over the flat span columns of a batch; its output must equal the
    oracle for UNEXPECTED kind values too (rules sends only
    kind=='media' down the media branch — any other kind takes the text
    path, and only kind=='text' counts toward boilerplate keys), for NULL
    lists, NULL elements, NULL kind, text, media_ref and offset (a NULL
    offset sorts as 0 in both twins), empty lists, for a sliced batch
    whose list offsets do not start at 0, and for the all-nullable struct
    type a parquet-read input arrives with."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extract_spark import rules
    from pdf_extract_spark.operators.extract import SPANS_ARROW, extract_spans

    span_st = st.one_of(st.none(), st.fixed_dictionaries({
        "kind": st.sampled_from(["text", "media", "image", "table", "x", "", None]),
        # alphabet reaches every tag branch: digits + dots (H1/H2
        # numbering), colon (H3), uppercase (ALLCAPS), terminals,
        # bullets/stars/ws (cleanup chain)
        "text": st.one_of(st.none(), st.text(
            alphabet=st.sampled_from(list("aB1. :?!*-\t")), max_size=14)),
        "media_ref": st.sampled_from(["", "m:1", None]),
        "offset": st.one_of(st.none(), st.integers(0, 5)),
    }))
    doc_st = st.one_of(st.none(), st.lists(span_st, max_size=8))

    @settings(max_examples=400, deadline=None)
    @given(st.lists(doc_st, min_size=1, max_size=6), st.data())
    def check(docs, data):
        start = data.draw(st.integers(0, len(docs) - 1))
        stop = data.draw(st.integers(start, len(docs)))
        batch = pa.array(docs, type=SPANS_ARROW).slice(start, stop - start)
        if data.draw(st.booleans()):
            batch = batch.cast(pa.list_(pa.struct(
                [f.with_nullable(True) for f in SPANS_ARROW.value_type])))
        got = extract_spans.func(batch).to_pylist()
        exp = [rules.extract_document(d) if d is not None else None
               for d in docs[start:stop]]
        assert got == exp, docs

    check()


def test_extract_spans_accepts_a_pandas_series_of_span_lists():
    """perfbench's kernel probe calls extract_spans.func on a pandas
    Series of span-dict lists: it converts at entry and gives the same
    output as the Arrow batch, NULL and empty documents included."""
    import pandas as pd
    import pyarrow as pa

    from pdf_extract_spark import generator
    from pdf_extract_spark.operators.extract import SPANS_ARROW, extract_spans

    docs = [generator.make_document(i, seed=3)["spans"] for i in range(6)]
    docs[2:2] = [None, []]
    from_series = extract_spans.func(pd.Series(docs))
    assert from_series.equals(extract_spans.func(pa.array(docs, type=SPANS_ARROW)))
    assert from_series.to_pylist() == [
        rules.extract_document(d) if d is not None else None for d in docs]
    # a batch of only empty documents still has the SPANS type
    assert extract_spans.func(pd.Series([[], []])).to_pylist() == [[], []]


def test_extract_spans_repairs_invalid_utf8():
    """A span string that is not valid UTF-8 does not fail the batch: the
    kernel decodes the batch's strings through rules.repair_utf8 and the
    output equals the oracle over the repaired text."""
    import pyarrow as pa

    from pdf_extract_spark.operators.extract import SPANS_ARROW, extract_spans

    raw = [b"Broken \xff byte.", b"Lone \xed\xa0\x80 surrogate.", b"Cut \xc3", b"Fine."]
    kinds = pa.array(["text"] * 4 + ["media"])
    texts = pa.array(raw + [b""], pa.binary()).view(pa.string())
    refs = pa.array([b""] * 4 + [b"m\xff"], pa.binary()).view(pa.string())
    values = pa.StructArray.from_arrays(
        [kinds, texts, refs, pa.array(range(5), pa.int32())],
        fields=list(SPANS_ARROW.value_type))
    batch = pa.ListArray.from_arrays(pa.array([0, 5], pa.int32()), values, type=SPANS_ARROW)
    repaired = [{"kind": k, "text": rules.repair_utf8(t), "media_ref": rules.repair_utf8(m),
                 "offset": i}
                for i, (k, t, m) in enumerate(zip(kinds.to_pylist(), raw + [b""],
                                                  [b""] * 4 + [b"m\xff"]))]
    assert rules.repair_utf8(b"Cut \xc3") == "Cut \ufffd"
    assert extract_spans.func(batch).to_pylist() == [rules.extract_document(repaired)]


def test_boilerplate_drop_covers_uncounted_spans():
    """rules.tag_fragments drops ANY non-media span whose collapsed text
    is a boilerplate key — including spans that did NOT count toward the
    keys (unknown kind, or raw length over the cap). The Arrow kernel
    (extract_spans.func) must agree."""
    import pyarrow as pa

    from pdf_extract_spark.operators.extract import SPANS_ARROW, extract_spans

    hdr = "hdr line"
    docs = [
        # three counted text repeats + an 'image'-kind span with the same
        # text: the image span is dropped by the bp key too
        [
            {"kind": "text", "text": hdr, "media_ref": "", "offset": 0},
            {"kind": "text", "text": hdr, "media_ref": "", "offset": 1},
            {"kind": "text", "text": hdr, "media_ref": "", "offset": 2},
            {"kind": "image", "text": hdr, "media_ref": "", "offset": 3},
            {"kind": "text", "text": "Real sentence.", "media_ref": "", "offset": 4},
        ],
        # an over-cap raw span (100 tabs) collapsing to the key is
        # dropped even though it never counted
        [
            {"kind": "text", "text": hdr, "media_ref": "", "offset": 0},
            {"kind": "text", "text": hdr, "media_ref": "", "offset": 1},
            {"kind": "text", "text": hdr, "media_ref": "", "offset": 2},
            {"kind": "text", "text": hdr + "\t" * 100, "media_ref": "", "offset": 3},
            {"kind": "text", "text": "Kept sentence.", "media_ref": "", "offset": 4},
        ],
    ]
    got = extract_spans.func(pa.array(docs, type=SPANS_ARROW)).to_pylist()
    exp = [rules.extract_document(spans) for spans in docs]
    assert got == exp
    assert [s["text"] for s in got[0]] == ["Real sentence."]
    assert [s["text"] for s in got[1]] == ["Kept sentence."]
