"""Explicit StructType schemas — never schema inference (SURVEY.md §1.3).

Shapes mirror the reference's data model (citations into /root/reference):
  * SPAN / DOCUMENTS: the BASELINE.json ``input_hint`` contract; the
    extraction output (spans_out) has the same shape, with kind in
    {H1,H2,H3,P,table,media}.
  * LINE / PARSED_PAGE / RAW_BLOCKS: style-carrying line dicts,
    layout_analyzer.py:79-100, as the PDF byte path parses them.
  * FRAGMENTS_LANG / ALIGNED_PAIR: the KR<->EN alignment fixtures.

The lake's lineage schema lives with its writer (lineage.LINEAGE_WRITE).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- spans
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

SPANS = T.ArrayType(SPAN)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPANS, False),
    ]
)

# ------------------------------------------------------------ layout IR
BBOX = T.StructType(
    [
        T.StructField("x0", T.DoubleType(), False),
        T.StructField("y0", T.DoubleType(), False),
        T.StructField("x1", T.DoubleType(), False),
        T.StructField("y1", T.DoubleType(), False),
    ]
)

LINE = T.StructType(
    [
        T.StructField("text", T.StringType(), True),
        T.StructField("size", T.DoubleType(), False),
        T.StructField("flags", T.IntegerType(), False),  # &16 bold, &2 italic
        T.StructField("font", T.StringType(), True),
        T.StructField("color", T.IntegerType(), False),
        T.StructField("bbox", BBOX, False),
        T.StructField("block_type", T.IntegerType(), False),
        T.StructField("media_ref", T.StringType(), True),
    ]
)

# one row per page, produced by the byte-stream parse UDF
PARSED_PAGE = T.StructType(
    [
        T.StructField("page", T.IntegerType(), False),
        T.StructField("page_w", T.DoubleType(), False),
        T.StructField("page_h", T.DoubleType(), False),
        T.StructField("lines", T.ArrayType(LINE), False),
    ]
)

PARSED_DOC = T.ArrayType(PARSED_PAGE)

RAW_BLOCKS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("page_w", T.DoubleType(), False),
        T.StructField("page_h", T.DoubleType(), False),
        T.StructField("lines", T.ArrayType(LINE), False),
    ]
)

# --------------------------------------------------- alignment fixtures
FRAGMENTS_LANG = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("idx", T.IntegerType(), False),
        T.StructField("id", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("source_type", T.StringType(), False),  # H1/H2/H3/P
    ]
)

ALIGNED_PAIR = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kr_idx", T.IntegerType(), True),
        T.StructField("en_idx", T.IntegerType(), True),
        T.StructField("similarity", T.DoubleType(), True),
        T.StructField("type", T.StringType(), False),
    ]
)
