"""PDF byte path tests: writer->parser round trip, S2 validation,
and distributed byte-stream extraction vs the golden oracle."""

from __future__ import annotations

from pdf_extract_spark import oracle
from pdf_extract_spark.operators import layout
from pdf_extract_spark.sources import pdfgen, pdfparse

N_DOCS = 30
SEED = 21


import pytest


@pytest.mark.parametrize(
    "variant",
    ["classic", "incremental", "multigen", "objstm", "objstm2", "hybrid"],
)
def test_roundtrip_parse_exact(variant):
    """All three file layouts — classic xref table, /Prev-chained
    incremental update, and PDF 1.5+ xref stream + FlateDecode /ObjStm —
    parse to the identical structural truth."""
    for d in range(N_DOCS):
        got = pdfparse.parse_pdf(pdfgen.build_pdf(d, seed=SEED, variant=variant))
        assert got == pdfgen.expected_pages(d, seed=SEED), f"doc {d} ({variant})"


def test_header_validation_rejects_garbage():
    import pytest

    with pytest.raises(pdfparse.PdfError, match="%PDF-"):
        pdfparse.parse_pdf(b"not a pdf at all")


def test_tokenizer_string_escapes():
    lex = pdfparse._Lexer(rb"(a \(nested\) \\ b)")
    tok = lex.next_token()
    assert pdfparse._unescape(tok[1:-1]) == r"a (nested) \ b"


VARIANTS = ("classic", "incremental", "objstm")


def test_spark_pdf_to_spans_matches_oracle(spark):
    # mixed file layouts in one corpus — the parser dispatches per file
    rows = [
        {"doc_id": f"pdf{d:04d}",
         "content": bytearray(pdfgen.build_pdf(d, seed=SEED, variant=VARIANTS[d % 3]))}
        for d in range(N_DOCS)
    ]
    # poison rows the S2 validation filter must drop before the parser
    rows.append({"doc_id": "bad1", "content": bytearray(b"not a pdf")})
    rows.append({"doc_id": "bad2", "content": bytearray(b"")})
    df = spark.createDataFrame(rows, schema="doc_id string, content binary")

    out = layout.pdf_to_spans_full(df).collect()
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in out if r["parse_error"] is None
    }
    assert "bad1" not in got and "bad2" not in got
    assert len(got) == N_DOCS

    for d in range(N_DOCS):
        exp = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in oracle.expected_spans_from_layout(pdfgen.expected_pages(d, seed=SEED))
        ]
        assert got[f"pdf{d:04d}"] == exp, f"doc {d}"


def test_layout_rules_applied(spark):
    """Margin boilerplate must be stripped and media interleaved: no output
    span may carry the running header/footer text; media spans survive."""
    rows = [
        {"doc_id": f"pdf{d:04d}", "content": bytearray(pdfgen.build_pdf(d, seed=SEED))}
        for d in range(6)
    ]
    df = spark.createDataFrame(rows, schema="doc_id string, content binary")
    spans = [
        s for r in layout.pdf_to_spans_full(df).collect() for s in r["spans"]
    ]
    texts = [s["text"] for s in spans]
    assert all("CONFIDENTIAL DRAFT" not in t for t in texts)
    assert any(s["kind"] == "media" and s["media_ref"].startswith("img:") for s in spans)


def test_corrupt_pdf_quarantined_not_fatal(spark):
    """A payload that passes the %PDF- magic but is corrupt mid-stream
    must become a parse_error row — NOT a task failure that kills the
    job — while healthy documents in the same batch extract normally."""
    from pdf_extract_spark.operators import layout as L
    from pdf_extract_spark.sources import pdfgen

    good = bytes(pdfgen.build_pdf(0, seed=21))
    rows = [
        {"doc_id": "ok", "content": bytearray(good)},
        # magic ok, truncated body: xref offset points past EOF
        {"doc_id": "truncated", "content": bytearray(good[: len(good) // 3])},
        # magic ok, garbage after header
        {"doc_id": "garbage", "content": bytearray(b"%PDF-1.4\nnot a pdf at all")},
        # no magic: filtered by validate_pdfs before the parser
        {"doc_id": "notpdf", "content": bytearray(b"PK\x03\x04zipfile")},
        # NULL payload: rejected by the NULL-safe gate
        {"doc_id": "null", "content": None},
    ]
    df = spark.createDataFrame(rows, schema="doc_id string, content binary")

    # the at-scale pattern: ONE parse, one ledgered frame
    full = L.pdf_to_spans_full(df).collect()
    spans = {r["doc_id"] for r in full if r["parse_error"] is None}
    assert spans == {"ok"}
    errs = {r["doc_id"]: r["parse_error"] for r in full if r["parse_error"] is not None}
    # gate-rejected rows reconcile in the ledger too (input row
    # counts must equal spans rows + error rows)
    assert set(errs) == {"truncated", "garbage", "notpdf", "null"}
    assert len(spans) + len(errs) == len(rows) == len(full)
    assert "validation gate" in errs["notpdf"]
    assert "validation gate" in errs["null"]
    assert all(e for e in errs.values())
    assert all(r["spans"] is None for r in full if r["doc_id"] in errs)


def test_quarantine_reuses_parsed_prefix(monkeypatch):
    """A tainted batch must not re-parse its clean prefix: the
    quarantine loop resumes at the failing payload, so each clean doc
    is parsed exactly once and the corrupt one at most twice."""
    import pandas as pd
    from pdf_extract_spark.sources import pdfparse

    calls: list[int] = []
    real = pdfparse.parse_pdf

    def counting(b):
        calls.append(1)
        return real(b)

    monkeypatch.setattr(pdfparse, "parse_pdf", counting)
    clean = [pdfgen.build_pdf(d, seed=SEED) for d in range(4)]
    batch = clean[:2] + [b"%PDF-1.4 garbage", None] + clean[2:]
    out = layout.parse_pdf_safe_udf.func(pd.Series(batch))
    assert list(out["parse_error"].isna()) == [True, True, False, False, True, True]
    # 4 clean parses + 2 attempts on the corrupt payload (fast path +
    # quarantine retry); the null payload never reaches parse_pdf
    assert len(calls) == 6, len(calls)
    for i, d in zip((0, 1, 4, 5), (0, 1, 2, 3)):
        assert out["pages"][i] == pdfgen.expected_pages(d, seed=SEED)


def test_pdf_full_frame_reads_each_file_once(spark, tmp_path):
    """pdf_to_spans_full over a folder scan reads every payload ONCE:
    the gate is a column, so healthy, gate-rejected and parser-corrupt
    files share one FileScan and one range Exchange (no Union of a
    rejected branch re-reading the bytes), and each file comes out as
    exactly one ledger row."""
    from pdf_extract_spark.operators import layout as L
    from pdf_extract_spark.sources.folder import scan_pdf_folder

    d = tmp_path / "pdfs"
    d.mkdir()
    for i in range(4):
        (d / f"doc_{i:03d}.pdf").write_bytes(pdfgen.build_pdf(i, seed=SEED))
    good = pdfgen.build_pdf(0, seed=SEED)
    (d / "zipped.pdf").write_bytes(b"PK\x03\x04zipfile")
    (d / "truncated.pdf").write_bytes(good[: len(good) // 3])

    full = L.pdf_to_spans_full(scan_pdf_folder(spark, str(d)))
    rows = full.collect()
    plan = full._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan binaryFile") == 1, plan
    assert "Union" not in final, plan
    assert final.count("Exchange rangepartitioning") == 1, plan

    ids = sorted(r["doc_id"] for r in rows)
    assert ids == sorted([f"doc_{i:03d}" for i in range(4)] + ["zipped", "truncated"])
    errs = {r["doc_id"]: r["parse_error"] for r in rows if r["parse_error"] is not None}
    assert set(errs) == {"zipped", "truncated"}
    assert errs["zipped"].startswith("failed validation gate: ")
    assert errs["truncated"].startswith("PdfError: ")
    tup = lambda spans: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
    got = {r["doc_id"]: None if r["spans"] is None else tup(r["spans"]) for r in rows}
    assert got == {
        "zipped": None, "truncated": None,
        **{f"doc_{i:03d}": tup(oracle.expected_spans_from_layout(
            pdfgen.expected_pages(i, seed=SEED))) for i in range(4)},
    }


# ---------------------------------------------------------------------------
# real-corpus parser capabilities (r4 review wave): structures pdfgen's
# fixtures never emit but real writers do — each was previously either a
# silent zero-text parse or a wholesale quarantine of a VALID document.
# ---------------------------------------------------------------------------

def _raw(objects: dict[int, bytes]) -> bytes:
    from pdf_extract_spark.sources.pdfgen import _serialize_classic

    return _serialize_classic(objects)


def _texts(pages):
    return [[ln["text"] for ln in p["lines"]] for p in pages]


def test_contents_array_of_streams_concatenates():
    from pdf_extract_spark.sources import pdfparse

    pdf = _raw({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] "
           b"/Resources << /Font << /F1 6 0 R >> >> /Contents [4 0 R 5 0 R] >>",
        4: b"<< /Length 44 >>\nstream\nBT /F1 12 Tf 72 700 Td (part one) Tj ET\nendstream",
        5: b"<< /Length 44 >>\nstream\nBT /F1 12 Tf 72 650 Td (part two) Tj ET\nendstream",
        6: b"<< /Type /Font /BaseFont /Helvetica >>",
    })
    assert _texts(pdfparse.parse_pdf(pdf)) == [["part one", "part two"]]


def test_nested_page_tree_with_inherited_mediabox():
    from pdf_extract_spark.sources import pdfparse

    pdf = _raw({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        # MediaBox + Resources inherited from the ROOT Pages node through
        # an intermediate /Pages node down to two leaf pages
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 2 /MediaBox [0 0 595 842] "
           b"/Resources << /Font << /F1 7 0 R >> >> >>",
        3: b"<< /Type /Pages /Parent 2 0 R /Kids [4 0 R 5 0 R] /Count 2 >>",
        4: b"<< /Type /Page /Parent 3 0 R /Contents 6 0 R >>",
        5: b"<< /Type /Page /Parent 3 0 R >>",  # blank page: /Contents optional
        6: b"<< /Length 40 >>\nstream\nBT /F1 12 Tf 72 700 Td (deep) Tj ET\nendstream",
        7: b"<< /Type /Font /BaseFont /Helvetica >>",
    })
    pages = pdfparse.parse_pdf(pdf)
    assert len(pages) == 2
    assert (pages[0]["page_w"], pages[0]["page_h"]) == (595.0, 842.0)
    assert _texts(pages) == [["deep"], []]


def test_literal_string_escapes_spec_semantics():
    """\\8 and \\9 are NOT octal (unknown escape: drop the backslash,
    keep the char); \\q likewise; backslash-EOL is a line continuation."""
    from pdf_extract_spark.sources import pdfparse

    content = b"BT /F1 12 Tf 72 700 Td (a\\915.b\\q c\\\n d\\101) Tj ET"
    pdf = _raw({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] "
           b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        4: b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
           + content + b"\nendstream",
        5: b"<< /Type /Font /BaseFont /Helvetica >>",
    })
    (page,) = pdfparse.parse_pdf(pdf)
    # \9 -> '9'; \q -> 'q'; \<newline> -> dropped; \101 -> octal 'A'
    assert page["lines"][0]["text"] == "a915.bq c dA"


def test_basefont_indirect_ref_resolves():
    from pdf_extract_spark.sources import pdfparse

    pdf = _raw({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] "
           b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        4: b"<< /Length 40 >>\nstream\nBT /F1 12 Tf 72 700 Td (bold) Tj ET\nendstream",
        5: b"<< /Type /Font /BaseFont 6 0 R >>",   # indirect BaseFont (legal)
        6: b"/Helvetica-Bold",
    })
    (page,) = pdfparse.parse_pdf(pdf)
    ln = page["lines"][0]
    assert ln["font"] == "Helvetica-Bold" and ln["flags"] != 0


def test_nonzero_mediabox_origin_keeps_bboxes_page_relative():
    from pdf_extract_spark.sources import pdfparse

    content = b"BT /F1 12 Tf 82 850 Td (top line) Tj ET"
    pdf = _raw({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [10 20 605 862] "
           b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        4: b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
           + content + b"\nendstream",
        5: b"<< /Type /Font /BaseFont /Helvetica >>",
    })
    (page,) = pdfparse.parse_pdf(pdf)
    assert (page["page_w"], page["page_h"]) == (595.0, 842.0)
    bbox = page["lines"][0]["bbox"]
    # y flip against the MediaBox TOP (862), x shifted by the origin (10)
    assert bbox["y0"] == 862.0 - 850.0 and bbox["x0"] == 82.0 - 10.0


def test_quote_operator_advances_by_leading():
    from pdf_extract_spark.sources import pdfparse

    content = (b"BT /F1 12 Tf 14 TL 72 700 Td (first) Tj "
               b"(second) ' (third) ' ET")
    pdf = _raw({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] "
           b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        4: b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
           + content + b"\nendstream",
        5: b"<< /Type /Font /BaseFont /Helvetica >>",
    })
    (page,) = pdfparse.parse_pdf(pdf)
    ys = [ln["bbox"]["y0"] for ln in page["lines"]]
    assert [ln["text"] for ln in page["lines"]] == ["first", "second", "third"]
    # each ' advances one leading (14pt) down the page (y0 grows top-down)
    assert ys == [142.0, 156.0, 170.0]


def test_encrypted_pdf_raises_not_garbage():
    """/Encrypt in the trailer means strings/streams are ciphertext:
    the parse must refuse (PDF 32000-1 §7.6) — extracting would emit
    noise as sentence text. Byte surgery on the trailer keeps every
    xref offset valid, so ONLY the encryption flag differs."""
    import pytest as _pytest

    from pdf_extract_spark.sources import pdfparse

    pdf = _raw({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] "
           b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        4: b"<< /Length 42 >>\nstream\nBT /F1 12 Tf 72 700 Td (secret) Tj ET\nendstream",
        5: b"<< /Type /Font /BaseFont /Helvetica >>",
    })
    assert _texts(pdfparse.parse_pdf(pdf)) == [["secret"]]  # sane baseline
    enc = pdf.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    with _pytest.raises(pdfparse.PdfError, match="encrypted"):
        pdfparse.parse_pdf(enc)


def test_encrypted_pdf_quarantined_in_batch(spark):
    """The Spark path routes an encrypted file to a parse_error row
    carrying the reason while healthy siblings extract normally."""
    from pdf_extract_spark.operators import layout as L
    from pdf_extract_spark.sources import pdfgen

    good = bytes(pdfgen.build_pdf(0, seed=33))
    enc = good.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    assert enc != good  # the surgery must have landed
    df = spark.createDataFrame(
        [{"doc_id": "ok", "content": bytearray(good)},
         {"doc_id": "enc", "content": bytearray(enc)}],
        schema="doc_id string, content binary",
    )
    full = L.pdf_to_spans_full(df).collect()
    assert {r["doc_id"] for r in full if r["parse_error"] is None} == {"ok"}
    errs = {r["doc_id"]: r["parse_error"] for r in full if r["parse_error"] is not None}
    assert set(errs) == {"enc"}
    assert "encrypted" in errs["enc"]
