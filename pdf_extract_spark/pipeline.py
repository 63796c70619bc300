"""End-to-end extraction pipeline with explicit scale mechanics.

The north rule (BASELINE.json) mandates three things Catalyst cannot do on
its own (SURVEY.md §4.3):

  1. **skew defense** — documents are distributed by a salted hash of
     ``doc_id`` (``bucket_of(doc_id, SALT_BUCKETS)``) so neighbouring /
     lexicographically clustered doc_ids and giant-PDF hot spots spread
     uniformly across tasks (the reference's analog is its fixed 10-page
     batch split, /root/reference/utils.py:40-106);
  2. **explicit repartitionByRange before the extraction stage** — range
     partitioning on ``(salt, doc_id)`` gives deterministic, balanced,
     re-creatable partitions, which is also what the lineage checkpoint
     keys on;
  3. **checkpoint / resume** — per-bucket-group lineage rows appended to
     the lake's ``lineage`` table; a resumed run plans from that table
     alone: ``range(n_buckets)`` minus the completed buckets (see
     lineage.py).

The extraction itself is a single map-only Arrow stage (operators/extract).
Giant documents take the same plan as every other document: one
rules.extract_document call per document, linear in its span count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pdf_extract_spark.operators.extract import extract_spans

SALT_BUCKETS = 4096


def bucket_of(doc_id_col: F.Column, n_buckets: int) -> F.Column:
    """``pmod(xxhash64(doc_id), n_buckets)`` — the one doc_id hash on the
    extraction path: the partitioning salt and the lineage bucket."""
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def partition_for_extraction(
    df: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Salt + repartitionByRange ahead of the extraction stage."""
    df = df.withColumn("salt", bucket_of(F.col("doc_id"), SALT_BUCKETS))
    if num_partitions is not None:
        # explicit None check: a computed 0 must raise (repartitionByRange
        # would), not silently fall into the AQE-coalesced default path
        if num_partitions < 1:
            raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
        return df.repartitionByRange(num_partitions, "salt", "doc_id")
    return df.repartitionByRange("salt", "doc_id")


def run_extraction(
    documents: DataFrame,
    num_partitions: int | None = None,
) -> DataFrame:
    """documents(doc_id, spans) -> spans_out(doc_id, spans).

    One shuffle (the mandated range repartition), then one map-only
    Arrow stage; nothing else. At 1000 executors this scales linearly —
    there is no agg/join in the hot path to bottleneck on. The one place
    that composes partition and kernel: batch, lineage groups and the
    streaming drain's micro-batches all call it.
    """
    parted = partition_for_extraction(documents, num_partitions)
    return parted.select("doc_id", extract_spans(F.col("spans")).alias("spans"))
