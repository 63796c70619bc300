"""The layout path: raw PDF bytes -> parsed pages -> styled-layout
extraction -> composed spans (SURVEY.md §2.1 S2/S5/S6, §3.3 stages 1-3).

What is PDF-specific lives here: the %PDF- gate, the byte parser and the
layout UDF. The gate -> partition -> quarantining parse -> extract ->
ledger plumbing is shared with the HTML leg in operators/bytepath.

Two map-only Arrow stages over the salted/range-partitioned documents:

  1. ``parse_pdfs`` — byte-stream parse (sources/pdfparse) per document,
     batched per Arrow batch; the reference's PyMuPDF scan replaced by our
     from-scratch xref/content-stream parser;
  2. ``layout_spans`` — margin strip (F1), two-column reading-order sort
     (W3), body-size mode (A3), style tagging (§2.7), run merge (W4),
     sentence composition (§2.8), media interleaving — all via the shared
     rule core (rules.layout_document + rules.compose_fragments), so the
     golden oracle is the same code path.

No shuffle between the stages: both are per-document projections, fused
into one WholeStage-adjacent pipeline by Catalyst (ArrowEvalPython nodes
back-to-back, one python worker pass each).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from pdf_extract_spark import rules
from pdf_extract_spark.operators import bytepath
from pdf_extract_spark.schemas import PARSED_DOC, SPANS


def _load_pdf_parser():
    from pdf_extract_spark.sources.pdfparse import PdfError, parse_pdf

    return parse_pdf, PdfError


# corrupt-but-magic'd payloads (truncated xref, bad object offsets,
# broken FlateDecode, /Encrypt) become (NULL pages, parse_error) rows
parse_pdf_safe_udf = bytepath.quarantining_udf(
    "parse_pdf_safe_udf", "pages", PARSED_DOC, _load_pdf_parser
)


@pandas_udf(SPANS)
def layout_spans_udf(pages: pd.Series) -> pd.Series:
    def one(pgs):
        if pgs is None:
            return None
        return rules.compose_fragments(rules.layout_document(pgs))

    return pages.map(one)


def pdf_gate():
    """The S2 validity predicate: non-empty payload with the %PDF- magic.
    NULL-safe (coalesces to false)."""
    c = F.col("content")
    return F.coalesce(
        c.isNotNull() & (F.length(c) > 0) & (c.substr(1, 5) == F.lit(b"%PDF-")),
        F.lit(False),
    )


def validate_pdfs(df: DataFrame) -> DataFrame:
    """S2 (reference /root/reference/main.py:1678-1727): keep only rows
    whose payload is non-empty and starts with the %PDF- magic. Pure
    Catalyst expression — evaluated before any Python stage, so invalid
    bytes never reach the parser."""
    return df.filter(pdf_gate())


def parse_pdfs(df: DataFrame) -> DataFrame:
    """documents(doc_id, content:binary) -> (doc_id, pages, parse_error)."""
    return bytepath.parse_payloads(df, parse_pdf_safe_udf, "pages")


def layout_extract(df_parsed: DataFrame) -> DataFrame:
    """(doc_id, pages) -> (doc_id, spans)."""
    return df_parsed.select(
        "doc_id", layout_spans_udf(F.col("pages")).alias("spans")
    )


def pdf_to_spans_full(df: DataFrame) -> DataFrame:
    """The one-pass byte path (bytepath.bytes_to_spans_full): healthy
    docs carry spans, corrupt-but-magic'd and gate-rejected docs carry
    the error string and NULL spans (F5 — the reference's error-class
    handling, main.py:1678-1727)."""
    return bytepath.bytes_to_spans_full(
        df, pdf_gate(), "null, empty or non-%PDF- payload",
        parse_pdf_safe_udf, "pages", layout_spans_udf,
    )

