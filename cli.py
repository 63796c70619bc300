#!/usr/bin/env python
"""CLI parity layer — the reference's entry points re-expressed
(/root/reference/cli.py: single file, --folder, --batch-processing,
--retry-*, --status), driving the Spark engine.

  extract   one parquet documents table (input-hint shape) -> spans_out
            with bucket-granular lineage (resume = rerun same lake+input)
  folder    a directory of *.pdf (or --format html: *.html) files ->
            one ledger row per file, (doc_id, spans, parse_error): spans
            for a healthy file, the quarantine reason for a bad one
  stream    incremental availableNow pass over an arriving documents dir
  curate    documents parquet -> curated packed corpus (line dedup, PII
            scrub, capped near-dedup, quality gate, optional eval-set
            decontamination + per-lang sampling, packing)
  status    lineage/metrics summary for a lake (the reference's --status)

Examples:
  python cli.py extract --input /data/documents.parquet --lake /data/lake
  python cli.py folder  --input /data/pdfs --output /data/spans
  python cli.py status  --lake /data/lake
"""

from __future__ import annotations

import argparse
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _parse_rates(s: str) -> dict[str, float] | None:
    """argparse type for --sample: 'en=0.3,de=1.0' -> {'en': 0.3,
    'de': 1.0}. Validated at parse time — BEFORE a SparkSession is
    built — so a malformed entry fails fast with usage, not as a
    ValueError mid-job. Empty tokens (trailing commas) are ignored."""
    rates: dict[str, float] = {}
    for kv in s.split(","):
        kv = kv.strip()
        if not kv:
            continue
        if "=" not in kv:
            raise argparse.ArgumentTypeError(
                f"--sample entry {kv!r} must be lang=rate (e.g. en=0.3)"
            )
        k, v = kv.split("=", 1)
        try:
            rates[k.strip()] = float(v)
        except ValueError:
            raise argparse.ArgumentTypeError(
                f"--sample rate {v!r} for {k.strip()!r} is not a number"
            )
    return rates or None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("extract", help="documents parquet -> spans_out with lineage")
    p.add_argument("--input", required=True)
    p.add_argument("--lake", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--group-size", type=int, default=8)

    p = sub.add_parser(
        "folder", help="directory of *.pdf/*.html -> ledgered spans parquet"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--format", choices=("pdf", "html"), default="pdf")

    p = sub.add_parser("stream", help="incremental availableNow extraction")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)

    p = sub.add_parser(
        "curate",
        help="documents parquet -> curated packed corpus parquet "
        "(line dedup, PII scrub, capped near-dedup, quality gate, "
        "optional decontamination + per-lang sampling, packing)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument(
        "--eval-input", default=None,
        help="eval-set parquet (doc_id, text) for benchmark decontamination",
    )
    p.add_argument("--max-bucket", type=int, default=None)
    p.add_argument(
        "--sample", default=None, type=_parse_rates,
        help="per-lang keep rates, e.g. en=0.3,de=1.0 (unlisted langs keep all)",
    )

    p = sub.add_parser("status", help="lineage/metrics summary for a lake")
    p.add_argument("--lake", required=True)

    p = sub.add_parser(
        "count", help="lake totals (docs/spans/bucket statuses/runs)"
    )
    p.add_argument("--lake", required=True)

    p = sub.add_parser(
        "retry", help="unconditionally re-extract one bucket into the lake"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--lake", required=True)
    p.add_argument("--bucket", type=int, required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--buckets", type=int, default=64)

    args = ap.parse_args()

    from pdf_extract_spark.session import build_spark

    spark = build_spark(app_name=f"pdf_extract_cli_{args.cmd}")

    if args.cmd == "extract":
        import time

        from pdf_extract_spark.lineage import Lake, run_extraction_with_lineage
        from pdf_extract_spark.reporting import format_duration

        lake = Lake(spark, args.lake)
        docs = spark.read.parquet(args.input)
        run_id = args.run_id or uuid.uuid4().hex[:12]
        t0 = time.time()
        rep = run_extraction_with_lineage(
            lake, docs, run_id=run_id,
            n_buckets=args.buckets, group_size=args.group_size,
        )
        print(
            f"run {rep.run_id}: {len(rep.buckets_processed)} buckets processed, "
            f"{len(rep.buckets_skipped)} resumed-as-done, "
            f"{rep.doc_count} docs, {rep.span_count} spans -> {lake.spans_out} "
            f"({format_duration(time.time() - t0)})"
        )
    elif args.cmd == "folder":
        from pyspark.sql import functions as F

        from pdf_extract_spark.operators.html import html_to_spans_full
        from pdf_extract_spark.operators.layout import pdf_to_spans_full
        from pdf_extract_spark.sources.folder import scan_html_folder, scan_pdf_folder

        scan, full = (
            (scan_pdf_folder, pdf_to_spans_full) if args.format == "pdf"
            else (scan_html_folder, html_to_spans_full)
        )
        full(scan(spark, args.input)).write.mode("overwrite").parquet(args.output)
        c = spark.read.parquet(args.output).agg(
            F.count("*").alias("files"), F.count("parse_error").alias("quarantined")
        ).first()
        print(
            f"{c.files - c.quarantined} extracted, {c.quarantined} quarantined "
            f"of {c.files} files -> {args.output}"
        )
    elif args.cmd == "stream":
        from pdf_extract_spark.streaming import incremental_extraction

        q = incremental_extraction(spark, args.input, args.output, args.checkpoint)
        q.awaitTermination()
        print(f"drained new files -> {args.output}")
    elif args.cmd == "curate":
        from pdf_extract_spark.curation import DEFAULT_MAX_BUCKET, curate_documents

        docs = spark.read.parquet(args.input)
        ev = spark.read.parquet(args.eval_input) if args.eval_input else None
        cap = args.max_bucket if args.max_bucket is not None else DEFAULT_MAX_BUCKET
        out = curate_documents(
            docs, eval_docs=ev, max_bucket=cap, sample_rates=args.sample
        )
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"curated {n} documents -> {args.output}")
    elif args.cmd == "count":
        from pdf_extract_spark.lineage import Lake, count_summary

        c = count_summary(Lake(spark, args.lake))
        buckets = ", ".join(f"{k}={v}" for k, v in sorted(c["buckets"].items())) or "none"
        print(
            f"{c['docs']} docs, {c['spans']} spans in spans_out; "
            f"buckets: {buckets}; {c['runs']} runs"
        )
    elif args.cmd == "retry":
        import time

        from pdf_extract_spark.lineage import Lake, retry_bucket
        from pdf_extract_spark.reporting import format_duration

        lake = Lake(spark, args.lake)
        docs = spark.read.parquet(args.input)
        run_id = args.run_id or uuid.uuid4().hex[:12]
        t0 = time.time()
        rep = retry_bucket(
            lake, docs, run_id=run_id, bucket=args.bucket, n_buckets=args.buckets
        )
        print(
            f"retry {rep.run_id}: bucket {args.bucket} re-extracted, "
            f"{rep.doc_count} docs, {rep.span_count} spans -> {lake.spans_out} "
            f"({format_duration(time.time() - t0)})"
        )
    elif args.cmd == "status":
        from pdf_extract_spark.lineage import Lake

        lake = Lake(spark, args.lake)
        lin = lake.read_lineage()
        if lin is None:
            print("no lineage yet")
        else:
            lin.groupBy("run_id", "status").count().orderBy("run_id", "status").show(50, False)
        # metrics are a view over the completed lineage rows; a metrics/
        # directory left by an older lake is ignored
        met = lake.read_metrics()
        if met is None or met.isEmpty():
            print("no metrics yet")
        else:
            met.orderBy("run_id").show(50, False)


if __name__ == "__main__":
    main()
