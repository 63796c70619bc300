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


def _references(name: str) -> set[tuple[str, str, int]]:
    """(module, enclosing function, line) of every reference to ``name``
    in the package: an ``x.<name>`` attribute, a bare ``<name>``, or a
    ``from .. import <name>``. The enclosing function is the outermost
    ``def`` around it, or "<module>"."""
    root = Path(pdf_extract_spark.__file__).parent
    found = set()

    def walk(node, rel, fn):
        if (isinstance(node, ast.Attribute) and node.attr == name) or (
            isinstance(node, ast.Name) and node.id == name
        ) or (isinstance(node, ast.ImportFrom) and any(a.name == name for a in node.names)):
            found.add((rel, fn, node.lineno))
        if fn == "<module>" and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        for child in ast.iter_child_nodes(node):
            walk(child, rel, fn)

    for path in root.rglob("*.py"):
        walk(ast.parse(path.read_text(), filename=str(path)),
             path.relative_to(root).as_posix(), "<module>")
    return found


def test_extract_document_has_one_caller_path():
    """One extraction path: inside the package only the oracle references
    ``rules.extract_document``, and only the Arrow kernel
    (``operators/extract.py:_extract``) and ``rules.extract_document``
    reference the column entry ``rules.extract_columns`` they both run.
    Any other caller is a second extraction path that skips the salted
    range partition; route it through pipeline.run_extraction instead."""
    for name, allowed in (
        ("extract_document", {("oracle.py", "expected_spans")}),
        ("extract_columns", {("operators/extract.py", "_extract"),
                             ("rules.py", "extract_document")}),
    ):
        found = _references(name)
        strays = sorted(f"{rel}:{line} ({fn})" for rel, fn, line in found
                        if (rel, fn) not in allowed)
        assert not strays, (name, strays)
        assert {(rel, fn) for rel, fn, _ in found} == allowed  # the walk still sees each caller


def test_invalid_utf8_span_text_is_repaired_not_fatal(spark):
    """One invalid UTF-8 sequence in a span string used to fail the whole
    job (pyarrow "Wrapping ... failed"). The kernel now repairs the
    batch's strings through rules.repair_utf8: the output equals the
    oracle over the repaired text, and healthy documents beside it are
    untouched."""
    from pyspark.sql import functions as F

    from pdf_extract_spark import rules

    planted = {"FF": b"A\xffB", "ED": b"a\xed\xa0\x80b", "C3": b"Cut \xc3"}
    bad = {"doc_id": "d_bad_utf8", "spans": [
        {"kind": "text", "text": "HEX:" + planted["FF"].hex(), "media_ref": "", "offset": 0},
        {"kind": "text", "text": "Healthy sentence here.", "media_ref": "", "offset": 1},
        {"kind": "text", "text": "HEX:" + planted["ED"].hex(), "media_ref": "", "offset": 2},
        {"kind": "text", "text": "HEX:" + planted["C3"].hex(), "media_ref": "", "offset": 3},
        {"kind": "media", "text": "", "media_ref": "HEX:" + planted["FF"].hex(), "offset": 4},
    ]}
    docs = generator.make_corpus(6, seed=SEED) + [bad]

    def unhex(c):
        return F.when(c.startswith("HEX:"),
                      F.unhex(F.regexp_replace(c, "^HEX:", "")).cast("string")).otherwise(c)

    df = spark.createDataFrame(docs, schema=DOCUMENTS).select("doc_id", F.transform(
        "spans", lambda s: s.withField("text", unhex(s.text))
                            .withField("media_ref", unhex(s.media_ref))).alias("spans"))
    got = _collect_spans(run_extraction(df, num_partitions=2))

    def repaired(v):
        return rules.repair_utf8(bytes.fromhex(v[4:])) if v.startswith("HEX:") else v

    fixed = dict(bad, spans=[dict(s, text=repaired(s["text"]), media_ref=repaired(s["media_ref"]))
                             for s in bad["spans"]])
    assert got == oracle.expected_corpus(docs[:-1] + [fixed])
    assert "\ufffd" in "".join(t for _, t, _, _ in got["d_bad_utf8"])
