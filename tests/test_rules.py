"""Unit tests of the deterministic rule core against the reference's
documented behaviors (SURVEY.md §5.2 model)."""

from __future__ import annotations

from pdf_extract_spark import rules


def test_collapse_ws():
    assert rules.collapse_ws("  a\t b\n  c ") == "a b c"


def test_dot_leaders():
    # euaa_사례/pdf_to_json/main.py:33 — 5+ dots removed, fewer kept
    assert rules.strip_dot_leaders("Intro ..... 3") == "Intro  3"
    assert rules.strip_dot_leaders("v1.2.3") == "v1.2.3"
    assert rules.strip_dot_leaders("a.... b") == "a.... b"


def test_bullet_strip():
    assert rules.strip_bullet("- item one") == "item one"
    assert rules.strip_bullet("• item") == "item"
    assert rules.strip_bullet("**bold**") == " bold "
    assert rules.strip_bullet("no bullet") == "no bullet"


def test_quote_normalization():
    assert rules.normalize_quotes("“x” ‘y’ `z") == "\"x\" 'y' 'z"


def test_nfkc():
    assert rules.nfkc("ﬁ") == "fi"
    assert rules.nfkc("①") == "1"


def test_style_tagging_truth_table():
    # layout_analyzer.py:128-143: H1 = big+bold, H3 = bold+color, H2 = bold
    body = 10
    assert rules.tag_by_style(16.0, 16, 0, body) == "H1"
    assert rules.tag_by_style(15.0, 16, 0, body) == "H1"  # exactly 1.5x
    assert rules.tag_by_style(14.9, 16, 0, body) == "H2"
    assert rules.tag_by_style(10.0, 16, 3101846, body) == "H3"
    assert rules.tag_by_style(10.0, 16, 12345, body) == "H2"
    assert rules.tag_by_style(16.0, 0, 3101846, body) == "P"  # not bold
    assert rules.tag_by_style(10.0, 2, 0, body) == "P"  # italic only


def test_body_size_mode_tiebreak():
    assert rules.body_size_mode([10.2, 10.4, 12.1, 12.3]) == 10  # tie -> smaller
    assert rules.body_size_mode([12.0, 12.0, 10.0]) == 12


def test_text_tagging():
    assert rules.tag_by_text("2. Introduction") == "H1"
    assert rules.tag_by_text("EXECUTIVE SUMMARY") == "H1"
    assert rules.tag_by_text("2.1 Methods") == "H2"
    assert rules.tag_by_text("3.4.5 Deep Section") == "H2"
    assert rules.tag_by_text("Scope:") == "H3"
    assert rules.tag_by_text("A normal sentence ends here.") == "P"
    assert rules.tag_by_text("2. This one ends with a period.") == "P"
    assert rules.tag_by_text(" ".join(["w"] * 13)) == "P"  # too long


def test_run_merge():
    # euaa_사례/pdf_to_json/main.py:18-74
    frags = [
        {"kind": "H1", "text": "EXEC", "media_ref": ""},
        {"kind": "H1", "text": "SUMMARY", "media_ref": ""},
        {"kind": "P", "text": "a.", "media_ref": ""},
        {"kind": "H2", "text": "x", "media_ref": ""},
        {"kind": "H2", "text": "y", "media_ref": ""},
        {"kind": "H2", "text": "z", "media_ref": ""},
        {"kind": "media", "text": "", "media_ref": "m:1"},
        {"kind": "H2", "text": "w", "media_ref": ""},
    ]
    merged = rules.merge_consecutive_tags(frags)
    assert [f["text"] for f in merged] == ["EXEC SUMMARY", "a.", "x y z", "", "w"]
    assert [f["kind"] for f in merged] == ["H1", "P", "H2", "media", "H2"]


def test_fsm_merge_until_terminal():
    # sentence_composer.py:364-369 merge rule
    out = rules.compose_sentences(["The quick brown", "fox jumps", "over the dog."])
    assert out == ["The quick brown fox jumps over the dog."]


def test_fsm_bracket_balance():
    # incomplete until bracket closes even after a period
    out = rules.compose_sentences(["Start (see fig.", "3) and end."])
    assert out == ["Start (see fig. 3) and end."]


def test_fsm_split_rule():
    # sentence_composer.py:371-373 split rule
    out = rules.compose_sentences(["One done. Two also done! Three"])
    assert out == ["One done.", "Two also done!", "Three"]


def test_fsm_no_split_inside_brackets_or_decimals():
    assert rules.compose_sentences(["Pi is 3.14 roughly."]) == ["Pi is 3.14 roughly."]
    out = rules.compose_sentences(["A (b. c) d."])
    assert out == ["A (b. c) d."]


def test_fsm_paren_cleanup():
    # sentence_composer.py:375-377: '( text )' -> '(text)'
    out = rules.compose_sentences(["A ( padded", "thing ) ends."])
    assert out == ["A (padded thing) ends."]


def test_fsm_residual_kept():
    out = rules.compose_sentences(["Unfinished fragment without", "terminal"])
    assert out == ["Unfinished fragment without terminal"]


def test_boilerplate_keys():
    texts = ["Header X", "body text one.", "Header X", "other.", "Header X"]
    spans = [{"kind": "text", "text": t, "media_ref": "", "offset": i}
             for i, t in enumerate(texts)]
    assert [f["text"] for f in rules.tag_fragments(spans)] == ["body text one.", "other."]


def test_extract_document_end_to_end():
    spans = [
        {"kind": "text", "text": "Report 7", "media_ref": "", "offset": 0},
        {"kind": "text", "text": "1. INTRO", "media_ref": "", "offset": 1},
        {"kind": "text", "text": "The system", "media_ref": "", "offset": 2},
        {"kind": "text", "text": "works well.", "media_ref": "", "offset": 3},
        {"kind": "media", "text": "", "media_ref": "m:d:1", "offset": 4},
        {"kind": "text", "text": "Report 7", "media_ref": "", "offset": 5},
        {"kind": "text", "text": "Contents ....... 5.", "media_ref": "", "offset": 6},
        {"kind": "text", "text": "Report 7", "media_ref": "", "offset": 7},
    ]
    out = rules.extract_document(spans)
    assert [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in out] == [
        ("H1", "1. INTRO", "", 0),
        ("P", "The system works well.", "", 1),
        ("media", "", "m:d:1", 2),
        ("P", "Contents 5.", "", 3),
    ]


def test_code_ref_strip():
    from pdf_extract_spark.rules import strip_code_refs

    assert strip_code_refs("Cargo tanks (IGC Code 4.2) shall") == "Cargo tanks shall"
    assert strip_code_refs("see (IBC Code 15.13)") == "see"
    assert strip_code_refs("(ABC Code 1.1) stays") == "(ABC Code 1.1) stays"


def test_edge_char_strip():
    from pdf_extract_spark.rules import strip_edge_chars

    assert strip_edge_chars(":; *text*; : ") == "text"
    assert strip_edge_chars("a *mid* b") == "a *mid* b"
    assert strip_edge_chars("plain") == "plain"


def test_md_fence_strip():
    from pdf_extract_spark.rules import strip_md_fences

    fenced = '```json\n{"a": 1}\n```\n'
    assert strip_md_fences(fenced) == '{"a": 1}\n'
    assert strip_md_fences("no fences") == "no fences"


def test_normalize_for_pairing():
    from pdf_extract_spark.rules import normalize_for_pairing

    assert (
        normalize_for_pairing("- “Cargo  tanks” (IGC Code 4.2) -- ﬁnal: ")
        == '"Cargo tanks" final'
    )


def test_remove_numbering_first_match_only():
    """C7 truth table (metadata_generator.py:44-74): ordered scan, first
    match wins and STOPS — a second numbering layer survives; sub(' ') +
    lstrip; table context excludes the text-only patterns."""
    from pdf_extract_spark.rules import remove_numbering

    cases_text = [
        ("(1) 2.3 follows", "2.3 follows"),     # paren matches first; break
        ("1.2.3 title", "title"),               # dotted chain (common)
        ("1.2.3. title", "title"),              # trailing dot variant
        ("IV. heading", "heading"),             # roman (common)
        ("iv. heading", "heading"),             # roman IGNORECASE
        ("B. item", "item"),                    # letter (common)
        ("12. item", "item"),                   # bare number (text-only)
        ("7) item", "item"),                    # paren-less (text-only)
        ("no numbering here", "no numbering here"),
        ("", ""),
        (None, None),
        ("  3. indented", "indented"),          # leading ws consumed by \s*
    ]
    for inp, want in cases_text:
        assert remove_numbering(inp, "text") == want, (inp, want)

    cases_table = [
        ("12. row value", "12. row value"),     # text-only pattern NOT applied
        ("7) row value", "7) row value"),
        ("(1) row value", "row value"),         # common still applies
        ("1.2 row value", "row value"),
        ("B. row value", "row value"),
    ]
    for inp, want in cases_table:
        assert remove_numbering(inp, "table") == want, (inp, want)


def test_normalize_for_pairing_strips_numbering():
    """C7 wired into the pair-normalization chain: a leading '1.2.3 '
    no longer poisons the comparison; table context keeps bare numbers."""
    from pdf_extract_spark.rules import normalize_for_pairing

    assert normalize_for_pairing("1.2.3 Cargo tanks.") == "Cargo tanks."
    assert normalize_for_pairing("12. Cargo tanks.", context="table") == "12. Cargo tanks."
    assert normalize_for_pairing("12. Cargo tanks.", context="text") == "Cargo tanks."
