"""Golden span-sequence equality: Spark pipeline vs pure-Python oracle.

The BASELINE.json invariant: per-document span-sequence equality on
(kind, text, media_ref, order)."""

from __future__ import annotations

import ast
from pathlib import Path

import pdf_extract_spark
from pdf_extract_spark import generator, oracle
from pdf_extract_spark.pipeline import run_extraction
from pdf_extract_spark.schemas import DOCUMENTS

N_DOCS = 80
SEED = 42


def _rows_spans(row) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]


def _collect_spans(df) -> dict[str, list[tuple]]:
    return {r["doc_id"]: _rows_spans(r) for r in df.collect()}


def test_span_sequence_equality(spark):
    docs = generator.make_corpus(N_DOCS, seed=SEED)
    golden = oracle.expected_corpus(docs)

    df = spark.createDataFrame(docs, schema=DOCUMENTS)
    got = _collect_spans(run_extraction(df, num_partitions=8))

    assert set(got) == set(golden)
    for doc_id in golden:
        assert got[doc_id] == golden[doc_id], f"span mismatch in {doc_id}"


def test_giant_document_equality(spark):
    # force-inspect at least one giant (>= 2000 spans) for skew-path parity
    docs = generator.make_corpus(200, seed=7)
    giants = [d for d in docs if len(d["spans"]) >= 2000]
    assert giants, "generator must produce giants at 5% rate"
    subset = giants[:2]
    golden = oracle.expected_corpus(subset)
    df = spark.createDataFrame(subset, schema=DOCUMENTS)
    got = _collect_spans(run_extraction(df, num_partitions=4))
    assert got == golden


def test_empty_and_media_only_documents(spark):
    docs = [
        {"doc_id": "d_empty", "spans": []},
        {"doc_id": "d_media", "spans": [
            {"kind": "media", "text": "", "media_ref": "m:d_media:1", "offset": 0},
            {"kind": "media", "text": "", "media_ref": "m:d_media:2", "offset": 1},
        ]},
        {"doc_id": "d_blank", "spans": [
            {"kind": "text", "text": "   ", "media_ref": "", "offset": 0},
        ]},
        # SPANS allows NULL elements: one between two spans is skipped
        {"doc_id": "d_null_elem", "spans": [
            {"kind": "text", "text": "First sentence.", "media_ref": "", "offset": 0},
            None,
            {"kind": "text", "text": "Second sentence.", "media_ref": "", "offset": 2},
        ]},
        {"doc_id": "d_null_fields", "spans": [
            {"kind": "text", "text": None, "media_ref": None, "offset": 0},
            {"kind": "media", "text": None, "media_ref": None, "offset": 1},
            {"kind": "text", "text": "Kept sentence.", "media_ref": None, "offset": 2},
        ]},
        # every line is a repeated running header: all boilerplate, nothing kept
        {"doc_id": "d_all_boilerplate", "spans": [
            {"kind": "text", "text": "Running header", "media_ref": "", "offset": i}
            for i in range(10)
        ]},
    ]
    # doc_id is not a key: two rows sharing one both come back
    dups = [
        {"doc_id": "d_dup", "spans": [
            {"kind": "text", "text": "Row one.", "media_ref": "", "offset": 0},
        ]},
        {"doc_id": "d_dup", "spans": [
            {"kind": "text", "text": "1. ROW TWO", "media_ref": "", "offset": 0},
            {"kind": "media", "text": "", "media_ref": "m:d_dup:1", "offset": 1},
        ]},
    ]
    golden = oracle.expected_corpus(docs)
    df = spark.createDataFrame(docs + dups, schema=DOCUMENTS)
    rows = run_extraction(df).collect()
    got = {r["doc_id"]: _rows_spans(r) for r in rows if r["doc_id"] != "d_dup"}
    assert got == golden
    assert got["d_media"] == [("media", "", "m:d_media:1", 0), ("media", "", "m:d_media:2", 1)]
    assert got["d_empty"] == []
    assert got["d_blank"] == []
    assert got["d_all_boilerplate"] == []
    assert [t for _, t, _, _ in got["d_null_elem"]] == ["First sentence.", "Second sentence."]

    got_dups = sorted(_rows_spans(r) for r in rows if r["doc_id"] == "d_dup")
    assert got_dups == sorted(oracle.expected_corpus([d])["d_dup"] for d in dups)


def test_extract_document_has_one_caller_path():
    """One extraction path: inside the package only the Arrow kernel
    (operators/extract.py) and the oracle reference
    ``rules.extract_document``. Any other caller is a second extraction
    path that skips the salted range partition; route it through
    pipeline.run_extraction instead."""
    root = Path(pdf_extract_spark.__file__).parent
    allowed = {"operators/extract.py", "oracle.py"}
    found = []
    for path in root.rglob("*.py"):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (isinstance(node, ast.Attribute) and node.attr == "extract_document") or (
                isinstance(node, ast.ImportFrom)
                and any(a.name == "extract_document" for a in node.names)
            ):
                found.append((rel, node.lineno))
    strays = sorted(f"{rel}:{line}" for rel, line in found if rel not in allowed)
    assert not strays, strays
    assert {rel for rel, _ in found} == allowed  # the walk still sees both callers
