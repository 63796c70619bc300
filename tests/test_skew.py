"""Skew-prone inputs on the one extraction plan (salted range partition +
map-only Arrow stage): NULL-spans rows and boilerplate line-length gating.
Giant-document parity is in tests/test_pipeline_golden.py."""

from __future__ import annotations

from pdf_extract_spark.pipeline import run_extraction


def test_balanced_preserves_null_spans_rows(spark):
    """A row with spans=NULL must not vanish from the salted, range-balanced
    extraction plan: it maps to NULL, and an empty spans array to []."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("kind", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("offset", T.IntegerType(), False),
        ])), True),
    ])
    rows = [
        ("d1", [{"kind": "text", "text": "One sentence here.", "media_ref": "", "offset": 0}]),
        ("d2", None),
        ("d3", []),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    got = {r["doc_id"]: r["spans"] for r in run_extraction(df).collect()}
    assert set(got) == {"d1", "d2", "d3"}
    assert got["d2"] is None
    assert got["d3"] == []


def test_boilerplate_length_gate_uses_raw_text(spark):
    """rules.tag_columns gates boilerplate keys on RAW length (<= 80) before
    collapsing; a line whose raw form exceeds the cap but collapses short
    must NOT be counted as boilerplate — kernel/oracle/SQL-mirror parity."""
    from pyspark.sql import types as T

    from pdf_extract_spark import oracle

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("kind", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("offset", T.IntegerType(), False),
        ])), True),
    ])
    padded = "Running header" + "\t" * 70  # raw len 84 > 80, collapsed 14
    doc = {"doc_id": "d1", "spans": [
        {"kind": "text", "text": padded, "media_ref": "", "offset": i}
        for i in range(4)
    ]}
    df = spark.createDataFrame([("d1", doc["spans"])], schema=schema)
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in run_extraction(df).collect()
    }
    exp = {"d1": [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in oracle.expected_spans(doc)
    ]}
    assert got == exp
    assert got["d1"], "over-cap lines must be KEPT, not stripped as boilerplate"
