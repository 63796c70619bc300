"""Folder (binaryFile) source and sink tests (S1/S2, S10/S12/S13)."""

from __future__ import annotations

import os

import sys

from pdf_extract_spark import generator, oracle, sinks
from pdf_extract_spark.operators.layout import pdf_to_spans_full
from pdf_extract_spark.sources import htmlgen, pdfgen
from pdf_extract_spark.sources.folder import scan_pdf_folder

N = 8
SEED = 44


def _write_pdfs(tmp_path):
    d = tmp_path / "pdfs"
    d.mkdir()
    for i in range(N):
        (d / f"doc_{i:03d}.pdf").write_bytes(pdfgen.build_pdf(i, seed=SEED))
    (d / "notes.txt").write_text("ignored")          # glob filter must skip
    (d / "broken.pdf").write_bytes(b"garbage bytes")  # S2 must drop
    return str(d)


def test_scan_pdf_folder(spark, tmp_path):
    folder = _write_pdfs(tmp_path)
    rows = scan_pdf_folder(spark, folder).collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == sorted([f"doc_{i:03d}" for i in range(N)] + ["broken"])
    by_id = {r["doc_id"]: bytes(r["content"]) for r in rows}
    assert by_id["doc_000"] == pdfgen.build_pdf(0, seed=SEED)


def _tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def test_extract_pdf_folder_end_to_end(spark, tmp_path):
    folder = _write_pdfs(tmp_path)
    full = pdf_to_spans_full(scan_pdf_folder(spark, folder)).collect()
    got = {r["doc_id"]: _tuples(r["spans"]) for r in full if r["parse_error"] is None}
    assert "broken" not in got  # magic-header gate rejected it pre-parse
    assert [r["doc_id"] for r in full if r["parse_error"] is not None] == ["broken"]
    assert len(got) == N
    for i in range(N):
        exp = oracle.expected_spans_from_layout(pdfgen.expected_pages(i, seed=SEED))
        assert got[f"doc_{i:03d}"] == _tuples(exp)


def test_cli_folder_writes_ledger(spark, tmp_path, monkeypatch, capsys):
    """``cli.py folder`` writes the ledgered frame: one row per scanned
    file, healthy files with their spans, a truncated %PDF- file and a
    zip named *.pdf with NULL spans and their quarantine reason, and the
    counts on stdout. Runs in-process on the test session."""
    import cli

    d = tmp_path / "pdfs"
    d.mkdir()
    for i in range(3):
        (d / f"doc_{i:03d}.pdf").write_bytes(pdfgen.build_pdf(i, seed=SEED))
    good = pdfgen.build_pdf(0, seed=SEED)
    (d / "truncated.pdf").write_bytes(good[: len(good) // 3])
    (d / "zipped.pdf").write_bytes(b"PK\x03\x04zipfile")
    html = tmp_path / "pages"
    html.mkdir()
    (html / "page_000.html").write_bytes(htmlgen.build_html(0, seed=SEED))
    (html / "plain.html").write_bytes(b"no markup in this page")

    # build_spark re-applies its SQL confs to the shared session
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = str(tmp_path / "pdf_out")
        monkeypatch.setattr(sys, "argv", ["cli.py", "folder", "--input", str(d), "--output", out])
        cli.main()
        assert "3 extracted, 2 quarantined of 5 files" in capsys.readouterr().out
        rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert len(rows) == 5
        for i in range(3):
            r = rows[f"doc_{i:03d}"]
            exp = oracle.expected_spans_from_layout(pdfgen.expected_pages(i, seed=SEED))
            assert r["parse_error"] is None and _tuples(r["spans"]) == _tuples(exp)
        assert rows["truncated"]["spans"] is None
        assert rows["truncated"]["parse_error"].startswith("PdfError: ")
        assert rows["zipped"]["spans"] is None
        assert rows["zipped"]["parse_error"].startswith("failed validation gate: ")

        out = str(tmp_path / "html_out")
        monkeypatch.setattr(sys, "argv", ["cli.py", "folder", "--input", str(html),
                                          "--output", out, "--format", "html"])
        cli.main()
        assert "1 extracted, 1 quarantined of 2 files" in capsys.readouterr().out
        rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert set(rows) == {"page_000", "plain"}
        page = {**generator.make_document(0, seed=SEED), "doc_id": "page_000"}
        assert rows["page_000"]["parse_error"] is None
        assert _tuples(rows["page_000"]["spans"]) == oracle.expected_corpus([page])["page_000"]
        assert rows["plain"]["spans"] is None
        assert rows["plain"]["parse_error"].startswith("failed validation gate: ")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)


def test_sentence_sink_shape(spark, tmp_path):
    folder = _write_pdfs(tmp_path)
    spans_out = pdf_to_spans_full(scan_pdf_folder(spark, folder))
    path = str(tmp_path / "sentences")
    sinks.write_sentences(spans_out, path, run_id="r42")
    rows = spark.read.parquet(path)
    assert rows.columns == [
        "sentence", "source_type", "sentence_index", "media_ref",
        "original_filename", "batch_id",
    ]
    first = rows.filter("original_filename = 'doc_000'").orderBy("sentence_index").first()
    assert first["sentence_index"] == 1 and first["batch_id"] == "r42"


def test_csv_sink(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    out = str(tmp_path / "csv")
    sinks.write_csv(df, out)
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert files
    back = spark.read.option("header", True).csv(out)
    assert sorted((r["k"], int(r["v"])) for r in back.collect()) == [("a", 1), ("b", 2)]


def test_csv_bom(spark, tmp_path):
    df = spark.createDataFrame([("x", 1)], ["k", "v"])
    out = str(tmp_path / "bomcsv")
    sinks.write_csv(df, out, bom=True)
    parts = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert parts
    for f in parts:
        assert open(os.path.join(out, f), "rb").read(3) == b"\xef\xbb\xbf"
    # the in-place rewrite must not leave a stale Hadoop .crc sidecar
    # for the rewritten part files (._SUCCESS.crc is untouched and still
    # valid): the exported directory has to stay readable by Spark itself
    assert not any(f.endswith(".csv.crc") for f in os.listdir(out))
    back = spark.read.option("header", True).csv(out).collect()
    assert len(back) == 1


def test_csv_bom_rejects_remote_path(spark):
    """bom=True only works on driver-local paths; a remote scheme must
    fail fast, BEFORE the distributed write."""
    import pytest as _pytest

    from pdf_extract_spark import sinks

    df = spark.range(1).selectExpr("id AS a")
    with _pytest.raises(ValueError, match="driver-local"):
        sinks.write_csv(df, "s3a://bucket/export", bom=True)


def test_write_sentences_iceberg_seam(spark, monkeypatch):
    """write_sentences(table_format='iceberg') issues writeTo().create()
    then append() instead of parquet appends."""
    try:  # pyspark 4: the concrete class is classic.dataframe.DataFrame
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover
        from pyspark.sql import DataFrame

    from pdf_extract_spark import sinks
    from tests.test_lineage import _FakeV2Writer

    log, existing = [], set()
    monkeypatch.setattr(DataFrame, "writeTo", lambda self, tbl: _FakeV2Writer(log, tbl))
    monkeypatch.setattr(
        type(spark.catalog), "tableExists", lambda self, name: name in existing
    )
    spans = spark.createDataFrame(
        [("d1", [{"kind": "P", "text": "x.", "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    sinks.write_sentences(spans, "cat.db.sentences", "run1", table_format="iceberg")
    assert log == [("create", "cat.db.sentences")]
    existing.add("cat.db.sentences")
    log.clear()
    sinks.write_sentences(spans, "cat.db.sentences", "run1", table_format="iceberg")
    assert log == [("append", "cat.db.sentences")]


def test_excel_fallback_roundtrip(spark, tmp_path):
    """S11/S13 without an xlsx codec: write_excel_two_sheet falls back to
    the CSV two-directory artifact and read_excel reads it back; the
    .xlsx read path raises with guidance."""
    import pytest as _pytest

    from pdf_extract_spark import sinks

    text_df = spark.createDataFrame([(1, "a."), (2, "b.")], "idx int, sentence string")
    table_df = spark.createDataFrame([(1, "t")], "idx int, cell string")
    target = str(tmp_path / "book.xlsx")
    kind = sinks.write_excel_two_sheet(text_df, table_df, target)
    assert kind == "csv"  # no openpyxl in this container

    back = sinks.read_excel(spark, str(tmp_path / "book_csv"), sheet="Text")
    assert sorted((r["idx"], r["sentence"]) for r in back.collect()) == [("1", "a."), ("2", "b.")]

    with _pytest.raises(ImportError, match="openpyxl"):
        sinks.read_excel(spark, target)
