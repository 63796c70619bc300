"""Folder scan source (SURVEY.md §2.1 S1/S2).

The reference iterates ``folder.glob("*.pdf")`` sequentially
(/root/reference/main.py:1729-1893); the Spark-native form is the
``binaryFile`` datasource — a distributed, splittable-by-file scan with
pushed path filters — whose rows feed the byte path
(operators/bytepath: the S2 gate, the parse and the extraction)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def scan_pdf_folder(spark: SparkSession, folder: str) -> DataFrame:
    """(doc_id, content) for every *.pdf under ``folder``; doc_id is the
    file stem (the reference's original_filename, main.py:204-226)."""
    return _scan_folder(spark, folder, "pdf")


def _scan_folder(spark: SparkSession, folder: str, ext: str):
    """The shared binaryFile scan: pushed path-glob filter, doc_id = file
    stem. ONE definition so a stem-regex or scan-option fix can never
    apply to one format and silently miss the other."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*.{ext}")
        .load(folder)
    )
    stem = F.regexp_extract(F.col("path"), rf"([^/]+)\.{ext}$", 1)
    return raw.select(stem.alias("doc_id"), F.col("content"))


def scan_html_folder(spark: SparkSession, folder: str) -> DataFrame:
    """(doc_id, content) for every *.html under ``folder`` (same
    binaryFile scan as the PDF side, pushed path filter)."""
    return _scan_folder(spark, folder, "html")

