"""The shared byte path behind the PDF (operators/layout) and HTML
(operators/html) legs: gate -> salt + range partition -> quarantining
parse -> extraction -> quarantine ledger (SURVEY.md §2.1 S2 and the
reference's error-class handling, main.py:1678-1727).

Each format supplies only what differs — its Catalyst gate predicate,
its parser and its extraction UDF. Everything here exists once:

  * ``quarantining_udf`` — the Arrow parse stage that turns a corrupt
    payload into a ``parse_error`` row instead of a task failure;
  * ``bytes_to_spans_full`` — the one-pass plan (ONE Exchange, the
    mandated repartitionByRange, then two back-to-back Arrow stages)
    whose output ``(doc_id, spans, parse_error)`` is the ledger: every
    input row comes out exactly once, gate-rejected rows included;
  * ``healthy_spans`` / ``parse_error_rows`` / ``split`` — the two views
    over one full frame.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.functions import pandas_udf

from pdf_extract_spark.pipeline import partition_for_extraction
from pdf_extract_spark.schemas import SPANS


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
    string and NULL spans, so spans rows + error rows == input rows.
    ``extract_udf`` must map NULL -> NULL (quarantined rows pass
    through). This is the surface to SINK at scale — one table, one
    parse; persist or write it once when you consume both views."""
    rejected = df.filter(~gate).select(
        "doc_id",
        F.lit(None).cast(SPANS).alias("spans"),
        F.lit(f"failed validation gate: {reject_reason}").alias("parse_error"),
    )
    parted = partition_for_extraction(df.filter(gate))
    parsed = parse_payloads(parted, parse_udf, field)
    return parsed.select(
        "doc_id", extract_udf(F.col(field)).alias("spans"), "parse_error"
    ).unionByName(rejected)


def healthy_spans(full: DataFrame) -> DataFrame:
    """(doc_id, spans) rows of a full frame."""
    return full.filter(F.col("parse_error").isNull()).select("doc_id", "spans")


def parse_error_rows(full: DataFrame) -> DataFrame:
    """(doc_id, parse_error) rows of a full frame — the quarantine ledger."""
    return full.filter(F.col("parse_error").isNotNull()).select("doc_id", "parse_error")


def split(full: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Both consumers from ONE parse: (healthy_spans, parse_error_rows)
    over a localCheckpointed full frame, so a pipeline writing spans AND
    the ledger does not pay the Python parse twice (separate actions on
    lazy views rebuild the plan)."""
    full = full.localCheckpoint()
    return healthy_spans(full), parse_error_rows(full)
