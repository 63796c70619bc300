"""The shared byte path behind the PDF (operators/layout) and HTML
(operators/html) legs: gate -> salt + range partition -> quarantining
parse -> extraction -> quarantine ledger (SURVEY.md §2.1 S2 and the
reference's error-class handling, main.py:1678-1727).

Each format supplies only what differs — its Catalyst gate predicate,
its parser and its extraction UDF. Everything here exists once:

  * ``quarantining_udf`` — the Arrow parse stage that turns a corrupt
    payload into a ``parse_error`` row instead of a task failure;
  * ``bytes_to_spans_full`` — the one-pass plan (ONE scan, ONE
    Exchange, the mandated repartitionByRange, then two back-to-back
    Arrow stages) whose output ``(doc_id, spans, parse_error)`` is the
    ledger: every input row comes out exactly once, gate-rejected rows
    included.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.functions import pandas_udf

from pdf_extract_spark.pipeline import partition_for_extraction


def quarantining_udf(name: str, field: str, field_type: T.DataType, load):
    """Arrow UDF ``content -> struct(<field>, parse_error)``; exactly one
    side is set per row. ``load()`` returns ``(parse, error_class)`` and
    runs once per batch, so the parser import stays lazy (and a test's
    monkeypatched parser is the one called).

    A payload that passes the gate but is corrupt mid-stream must NOT
    raise inside the task — at 10^12 documents one bad file would
    otherwise fail the whole job through task retries. Clean batches take
    a FAST PATH with no per-document try/except (measured ~10% kernel win
    over an unconditional per-doc try/except). When a payload IS bad or
    null, the quarantine loop resumes AT the failing payload: the parsed
    prefix is reused, so a tainted batch pays at most one extra parse
    attempt, not a re-parse of its clean documents."""
    schema = T.StructType(
        [
            T.StructField(field, field_type, True),
            T.StructField("parse_error", T.StringType(), True),
        ]
    )

    def parse_safe(content: pd.Series) -> pd.DataFrame:
        parse, error = load()
        vals = content.tolist()
        out: list = []
        try:
            for b in vals:
                # bytes(None) raises TypeError, routing null payloads to
                # the quarantine loop along with parser errors
                out.append(parse(bytes(b)))
            errs: list = [None] * len(vals)
        except (error, TypeError):
            errs = [None] * len(out)
            for b in vals[len(out):]:
                if b is None:
                    out.append(None)
                    errs.append("null content")
                    continue
                try:
                    out.append(parse(bytes(b)))
                    errs.append(None)
                except (error, TypeError) as e:
                    out.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
        return pd.DataFrame({field: out, "parse_error": errs})

    parse_safe.__name__ = name
    return pandas_udf(schema)(parse_safe)


def parse_payloads(df: DataFrame, udf, field: str) -> DataFrame:
    """(doc_id, content) -> (doc_id, <field>, parse_error): one
    quarantining Arrow pass."""
    p = df.select("doc_id", udf(F.col("content")).alias("p"))
    return p.select(
        "doc_id", F.col(f"p.{field}").alias(field),
        F.col("p.parse_error").alias("parse_error"),
    )


def bytes_to_spans_full(
    df: DataFrame,
    gate,
    reject_reason: str,
    parse_udf,
    field: str,
    extract_udf,
) -> DataFrame:
    """validate -> salt + repartitionByRange -> quarantining parse ->
    extraction. Returns (doc_id, spans, parse_error): healthy docs carry
    spans; parser-quarantined and gate-rejected docs carry the error
    string and NULL spans, one row per input row.

    The gate is a column, not a second scan: a rejected row rides the
    one Exchange and both Arrow stages as a NULL payload, which the
    parse stage quarantines and ``extract_udf`` must map to NULL; its
    gate reason then overrides the parser's "null content"."""
    gated = df.select(
        "doc_id",
        F.when(gate, F.col("content")).alias("content"),
        F.when(~gate, F.lit(f"failed validation gate: {reject_reason}")).alias("gate_error"),
    )
    parted = partition_for_extraction(gated)
    parsed = parted.select("doc_id", "gate_error", parse_udf(F.col("content")).alias("p"))
    return parsed.select(
        "doc_id",
        extract_udf(F.col(f"p.{field}")).alias("spans"),
        F.coalesce(F.col("gate_error"), F.col("p.parse_error")).alias("parse_error"),
    )
