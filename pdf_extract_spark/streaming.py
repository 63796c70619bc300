"""Structured Streaming packaging of the incremental extraction
(SURVEY.md §2.9).

The reference's incremental semantics are a batch status machine
(/root/reference/database.py:76-93: resume = select batches with status
NOT IN ('completed'), main.py:996-1017). lineage.py implements that
contract directly; this module offers the alternative packaging the
survey names: ``readStream`` over the documents table with
``trigger(availableNow=True)`` — Spark's checkpoint/offset log plays the
role of the lineage table (exactly-once per input file), and each
invocation drains whatever arrived since the last run, then stops.

The drain adds no plan of its own: each micro-batch is a static
DataFrame inside ``foreachBatch`` and goes through
pipeline.run_extraction — the same salted range partition and Arrow
kernel as the batch and lineage paths. Only the source/sink bindings
differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from pdf_extract_spark.pipeline import run_extraction
from pdf_extract_spark.schemas import DOCUMENTS


def batch_sink(output_dir: str):
    """The drain's ``foreachBatch`` commit: run_extraction over one
    micro-batch (a static DataFrame, so the salted repartitionByRange a
    stream cannot take is legal here), landed under its ``batch_id``
    partition by dynamic overwrite. A batch replayed after a crash
    between the write and the checkpoint commit overwrites its OWN
    partition instead of duplicating rows."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        out = run_extraction(batch_df).withColumn("batch_id", F.lit(int(batch_id)))
        (
            out.write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(output_dir)
        )

    return commit


def incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Drain all unprocessed document files from ``input_dir`` into
    ``output_dir`` parquet, (doc_id, spans) partitioned by ``batch_id``,
    exactly once. With availableNow the returned query stops by itself
    when caught up; call ``.awaitTermination()``."""
    docs = spark.readStream.schema(DOCUMENTS).parquet(input_dir)
    return (
        docs.writeStream.foreachBatch(batch_sink(output_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
