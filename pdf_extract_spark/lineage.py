"""Checkpoint / resume lineage — the north rule's third mandate.

The reference tracks progress in a SQLite status machine
(/root/reference/database.py:76-93: batch rows ``pending -> ready ->
in_progress -> completed/failed``) and resumes by selecting batches with
``status NOT IN ('completed')`` (/root/reference/database.py:411-428,
main.py:996-1017).  Our distributed equivalent:

  * the **checkpoint unit** is a *doc_id hash bucket* —
    ``pmod(xxhash64(doc_id), n_buckets)`` — the distributed analog of the
    reference's fixed page-batch (utils.py:40-106): deterministic,
    content-addressed, independent of row order or partition count;
  * extraction runs bucket-group by bucket-group; each group is ONE job
    that commits its output partition **atomically** (dynamic partition
    overwrite — the parquet-lake stand-in for Iceberg's ``MERGE INTO`` /
    ``overwritePartitions``; on an Iceberg catalog the same code takes
    ``.writeTo(tbl).overwritePartitions()``) and counts docs/spans per
    bucket on the way (``Observation``), then ONE small write appends
    the ``completed`` lineage rows carrying those counts;
  * **resume** plans from the lineage table alone: the buckets to run
    are ``range(n_buckets)`` minus the completed ones (the reference's
    ``status NOT IN ('completed')``), so a killed job re-extracts only
    unfinished buckets without a pass over the input, and re-running a
    half-written bucket simply overwrites that bucket's partition —
    idempotent end state. A bucket no document hashes to commits
    nothing and records a 0/0 ``completed`` row;
  * metrics (per-group docs/sec + span counts) are a view over the
    completed lineage rows, ``Lake.read_metrics`` — no table (reference
    analog: ``extraction_stats`` / ``batch_summary_stats``,
    database.py:96-125).

At 10^12 documents the lineage table stays tiny (n_buckets rows per run);
the expensive state lives in the partitioned output table. Bucket count
trades checkpoint granularity against commit overhead — thousands on a
real cluster, 8-64 in tests.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from pdf_extract_spark.pipeline import bucket_of, run_extraction
from pdf_extract_spark.schemas import DOCUMENTS

COMPLETED = "completed"
FAILED = "failed"
# stored rows _validate_lake_scheme reads to detect a bucket-count mismatch
SCHEME_SAMPLE_ROWS = 256

LINEAGE_WRITE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("doc_count", T.LongType(), True),
        T.StructField("span_count", T.LongType(), True),
        T.StructField("started_at", T.DoubleType(), True),
        T.StructField("completed_at", T.DoubleType(), True),
        T.StructField("error_message", T.StringType(), True),
    ]
)

# spans_out as committed: the extraction output plus its partition column
SPANS_OUT = T.StructType(DOCUMENTS.fields + [T.StructField("bucket", T.IntegerType(), True)])

METRICS_WRITE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("bucket_group", T.StringType(), False),
        T.StructField("docs_per_sec", T.DoubleType(), True),
        T.StructField("doc_count", T.LongType(), True),
        T.StructField("span_count", T.LongType(), True),
        T.StructField("processing_time_s", T.DoubleType(), True),
    ]
)


@dataclass
class RunReport:
    """What one ``run_extraction_with_lineage`` invocation actually did."""

    run_id: str
    buckets_skipped: list[int] = field(default_factory=list)
    buckets_processed: list[int] = field(default_factory=list)
    doc_count: int = 0
    span_count: int = 0


class Lake:
    """The extraction lake: spans_out/lineage, plus the metrics view.

    ``table_format`` selects the storage dispatch:
      * ``"parquet"`` (default) — ``root`` is a directory; the per-group
        commit is a dynamic partition overwrite of parquet bucket
        partitions, appends are parquet appends;
      * ``"iceberg"`` — ``root`` is a catalog namespace (e.g.
        ``ice.db``); the per-group commit is the real Iceberg
        ``writeTo(tbl).overwritePartitions()`` (atomic snapshot replace
        of exactly the written bucket partitions), appends are
        ``writeTo(tbl).append()``, reads are ``spark.table``. The first
        commit creates the table ``PARTITIONED BY (bucket)``.
    Both branches commit the SAME dataframe graph; only the sink verbs
    differ (the seam asserted both ways in tests/test_lineage.py)."""

    def __init__(self, spark: SparkSession, root: str,
                 table_format: str = "parquet") -> None:
        if table_format not in ("parquet", "iceberg"):
            raise ValueError(f"unsupported table_format: {table_format!r}")
        self.spark = spark
        self.table_format = table_format
        sep = "." if table_format == "iceberg" else "/"
        self.root = root.rstrip("/")
        self.spans_out = f"{self.root}{sep}spans_out"
        self.lineage = f"{self.root}{sep}lineage"
        self.metrics = f"{self.root}{sep}metrics"  # older lakes' table; unused

    def _exists(self, target: str) -> bool:
        """Whether ``target`` has been written: the catalog on Iceberg,
        the Hadoop FileSystem of the path on parquet. Asking first, rather
        than catching a failed read, keeps the session's query listeners
        (an ``Observation`` registers one) from logging each miss as an
        ERROR with a stack trace."""
        if self.table_format == "iceberg":
            return self.spark.catalog.tableExists(target)
        sc = self.spark.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(target)
        return path.getFileSystem(sc._jsc.hadoopConfiguration()).exists(path)

    # ------------------------------------------------------------- sinks

    def commit_spans(self, out: DataFrame) -> None:
        """Atomically (re)place the written bucket partitions."""
        if self.table_format == "iceberg":
            if self._exists(self.spans_out):
                out.writeTo(self.spans_out).overwritePartitions()
            else:  # first commit creates the bucket-partitioned table
                out.writeTo(self.spans_out).partitionedBy(F.col("bucket")).create()
        else:
            # dynamic partition overwrite is set PER WRITE (not
            # session-wide): only this group's bucket partitions are
            # replaced, and later static partitioned overwrites in the
            # same session keep their default semantics
            (
                out.write.partitionBy("bucket")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(self.spans_out)
            )

    def _append(self, rows: list, schema: T.StructType, target: str) -> None:
        # a pandas frame takes the Arrow path (enabled by build_spark): a
        # list of tuples would cost a pickled-RDD Python job per append
        rows = pd.DataFrame.from_records(rows, columns=schema.fieldNames())
        df = self.spark.createDataFrame(rows, schema=schema).coalesce(1)
        if self.table_format == "iceberg":
            if self._exists(target):
                df.writeTo(target).append()
            else:
                df.writeTo(target).create()
        else:
            df.write.mode("append").parquet(target)

    # ------------------------------------------------------------- reads

    def _read(self, target: str, schema: T.StructType) -> DataFrame | None:
        """``target`` with the schema it was written with, or None before
        its first write. Only a missing table reads as None: a corrupt one
        fails when read, rather than restarting the corpus as if nothing
        had completed. Parquet is never schema-inferred, so a committed
        but still empty directory reads as zero rows."""
        if not self._exists(target):
            return None
        if self.table_format == "iceberg":
            return self.spark.table(target)
        return self.spark.read.schema(schema).parquet(target)

    def read_lineage(self) -> DataFrame | None:
        return self._read(self.lineage, LINEAGE_WRITE)

    def completed_buckets_df(self) -> DataFrame | None:
        """Buckets whose LATEST lineage row is ``completed`` (a bucket that
        failed after an earlier success stays completed — output is kept)."""
        lin = self.read_lineage()
        if lin is None:
            return None
        latest = lin.groupBy("bucket").agg(_latest_status().alias("status"))
        return latest.filter(F.col("status") == COMPLETED).select("bucket")

    def read_spans_out(self) -> DataFrame | None:
        return self._read(self.spans_out, SPANS_OUT)

    def read_metrics(self) -> DataFrame | None:
        """Per-group metrics (``METRICS_WRITE`` columns) as a view over
        the completed lineage rows: one group's rows share ``run_id`` and
        ``started_at``. None before the first lineage write."""
        lin = self.read_lineage()
        if lin is None:
            return None
        done = lin.filter(F.col("status") == COMPLETED)
        per_group = done.groupBy("run_id", "started_at").agg(
            F.array_join(F.sort_array(F.collect_list("bucket")).cast("array<string>"), ",")
            .alias("bucket_group"),
            F.sum("doc_count").alias("doc_count"),
            F.sum("span_count").alias("span_count"),
            (F.max("completed_at") - F.col("started_at")).alias("secs"),
        )
        rate = F.col("doc_count") / F.greatest("secs", F.lit(1e-9))
        return per_group.select(
            "run_id", F.lit("extract").alias("stage"), "bucket_group",
            F.round(rate, 3).alias("docs_per_sec"), "doc_count", "span_count",
            F.round("secs", 3).alias("processing_time_s"),
        )


def _latest_status() -> F.Column:
    """A bucket's effective status: the row with the greatest
    ``completed_at`` wins, and on an exact timestamp tie ``completed``
    beats ``failed`` — all rows of a commit group share one
    completed_at, and a retry finishing in the same float-second must
    not make the verdict depend on row order (a failure after an
    earlier same-instant success keeps the bucket completed, matching
    completed_buckets_df's documented output-is-kept semantics)."""
    rank = F.when(F.col("status") == COMPLETED, 1).otherwise(0)
    return F.max_by("status", F.struct(F.col("completed_at"), rank))


def run_extraction_with_lineage(
    lake: Lake,
    documents: DataFrame,
    run_id: str,
    n_buckets: int = 16,
    group_size: int = 4,
    fail_after_groups: int | None = None,
) -> RunReport:
    """Extract ``documents`` into the lake, checkpointing per bucket group.

    Every bucket of ``range(n_buckets)`` the lineage table does not list
    as completed runs, in groups of ``group_size``; the plan reads no
    input. An empty bucket is recorded completed with 0 docs, so a
    finished run has exactly ``n_buckets`` completed buckets.

    ``fail_after_groups`` injects a crash after N committed groups (the
    kill/resume test hook — SURVEY.md §5.2 'resume test').
    """
    _validate_lake_scheme(lake, n_buckets)
    docs = _with_bucket(documents, n_buckets)

    done_df = lake.completed_buckets_df()
    done = {r["bucket"] for r in done_df.collect()} if done_df is not None else set()
    skipped = [b for b in range(n_buckets) if b in done]
    todo = [b for b in range(n_buckets) if b not in done]

    report = RunReport(run_id=run_id, buckets_skipped=skipped)

    groups = [todo[i : i + group_size] for i in range(0, len(todo), group_size)]
    for gi, group in enumerate(groups):
        if fail_after_groups is not None and gi >= fail_after_groups:
            raise RuntimeError(f"injected failure before group {gi} (test hook)")
        _process_group(lake, docs, run_id, group, n_buckets, report)
    return report


def _validate_lake_scheme(lake: Lake, n_buckets: int) -> None:
    """Fail loudly when the EXISTING lake was bucketed with a different
    ``n_buckets``: resuming (or retrying) under a new scheme would skip
    never-extracted buckets whose old-scheme ids happen to be completed
    and duplicate docs across old/new partitions — silent data loss.

    The check reads a bounded SAMPLE (SCHEME_SAMPLE_ROWS), not the lake:
    under a wrong scheme each stored row keeps its bucket value only
    with probability ~1/n_buckets, so the false-negative chance is
    ~(1/n_buckets)^SCHEME_SAMPLE_ROWS — astronomically small — while a full
    filter(mismatch).limit(1) scan is O(corpus) on a HEALTHY lake
    (limit can only early-out when a mismatch exists), unacceptable per
    resume at the 10^12-doc design point. An empty lake passes."""
    spans = lake.read_spans_out()
    if spans is None:
        return
    n_bad = spans.select("doc_id", "bucket").limit(SCHEME_SAMPLE_ROWS).filter(
        F.col("bucket").isNull()
        | (F.col("bucket") != bucket_of(F.col("doc_id"), n_buckets))
    ).count()
    if n_bad > 0:
        raise ValueError(
            f"lake at {lake.spans_out} was not bucketed with "
            f"n_buckets={n_buckets}: sampled stored rows' bucket does not "
            "equal bucket_of(doc_id); pass the bucket count the lake was "
            "created with (a mismatched resume/retry would silently "
            "drop/duplicate documents)"
        )


def _with_bucket(documents: DataFrame, n_buckets: int) -> DataFrame:
    if "bucket" in documents.columns:
        # input table already bucket-partitioned at ingest (the parquet
        # analog of an Iceberg bucket(doc_id) partition transform): the
        # per-group filter then PRUNES partitions instead of scanning the
        # whole table once per group. The column MUST equal
        # bucket_of(doc_id, n_buckets) — a mismatched or NULL bucket
        # combined with dynamic partition overwrite would silently drop
        # data, so validate up front (one cheap two-column scan) and fail
        # loudly instead of trusting the caller.
        bad = documents.filter(
            F.col("bucket").isNull()
            | (F.col("bucket") != bucket_of(F.col("doc_id"), n_buckets))
        ).limit(1)
        if bad.count() > 0:
            raise ValueError(
                "documents.bucket does not match bucket_of(doc_id, "
                f"{n_buckets}) for at least one row (or is NULL); "
                "re-ingest with the matching bucket count or drop the column"
            )
        return documents
    return documents.withColumn("bucket", bucket_of(F.col("doc_id"), n_buckets))


def _process_group(
    lake: Lake, docs: DataFrame, run_id: str, group: list[int],
    n_buckets: int, report: RunReport,
) -> None:
    """Extract + commit ONE bucket group, append its lineage rows, fold
    the counts into ``report`` (shared by the resume loop and
    retry_bucket). A failure anywhere in the group (extraction, commit,
    lineage write) best-effort-appends FAILED lineage rows carrying the
    error message — so `cli.py count` can report failed buckets (the
    reference's pending/failed parity, database.py:76-93) — and then
    re-raises; the next resume re-extracts the group (failed is not
    completed)."""
    t0 = time.time()
    group = [int(b) for b in group]
    try:
        sub = docs.filter(F.col("bucket").isin(group))
        # run_extraction projects (doc_id, spans); re-derive the bucket
        # column (deterministic function of doc_id) for partitioned commit.
        out = run_extraction(sub).withColumn(
            "bucket", bucket_of(F.col("doc_id"), n_buckets))
        # count per bucket inside the commit job, so the lineage rows need
        # no second pass over spans_out
        obs, bucket = Observation(), F.col("bucket")
        lake.commit_spans(out.observe(obs, *[
            agg for b in group for agg in (
                F.sum(F.when(bucket == b, 1)).alias(f"docs_{b}"),
                F.sum(F.when(bucket == b, F.size("spans"))).alias(f"spans_{b}"),
            )
        ]))
        counts = obs.get  # blocks until the observed action ran: read only after the commit
        t1 = time.time()
        rows = [(run_id, b, COMPLETED, int(counts[f"docs_{b}"] or 0),
                 int(counts[f"spans_{b}"] or 0), t0, t1, None) for b in group]
        lake._append(rows, LINEAGE_WRITE, lake.lineage)
    except Exception as e:
        try:
            lake._append(
                [(run_id, b, FAILED, None, None, t0, time.time(),
                  f"{type(e).__name__}: {e}"[:500]) for b in group],
                LINEAGE_WRITE, lake.lineage,
            )
        except Exception:
            pass  # the lake itself is down: the original error matters more
        raise
    report.buckets_processed.extend(group)
    report.doc_count += sum(r[3] for r in rows)
    report.span_count += sum(r[4] for r in rows)


def retry_bucket(
    lake: Lake,
    documents: DataFrame,
    run_id: str,
    bucket: int,
    n_buckets: int = 16,
) -> RunReport:
    """Unconditionally re-extract ONE bucket (the reference's
    ``--retry-batch N`` / ``retry_specific_batch``,
    /root/reference/cli.py:128-135, main.py:920-962): unlike the resume
    loop, completed status is IGNORED — the commit's dynamic partition
    overwrite replaces exactly that bucket's spans partition, and a fresh
    ``completed`` lineage row records the retry (the bucket's history
    stays append-only, latest row wins — completed_buckets_df
    semantics).

    Validates ``n_buckets`` against the EXISTING lake before writing: a
    retry with a different bucket count than the lake was built with
    would make the dynamic partition overwrite silently drop every doc
    whose old-scheme bucket is ``bucket`` but new-scheme bucket isn't
    (and duplicate the converse), so a mismatch raises instead
    (_validate_lake_scheme reads a SCHEME_SAMPLE_ROWS sample of the
    stored rows — the same guard run_extraction_with_lineage applies;
    a pre-bucketed input is checked separately by _with_bucket's full
    scan)."""
    if not 0 <= bucket < n_buckets:
        raise ValueError(f"bucket must be in [0, {n_buckets}), got {bucket}")
    _validate_lake_scheme(lake, n_buckets)
    docs = _with_bucket(documents, n_buckets)
    # an input that contains NO documents for this bucket USUALLY means
    # the caller pointed --input at the wrong place: the dynamic
    # overwrite would touch nothing (stale partition survives) while a
    # fresh 'completed' lineage row reported the old rows as a
    # successful re-extraction. But with a small corpus and many buckets
    # a bucket can GENUINELY hash to zero docs (ADVICE r4) — the
    # distinguishing witness is the lake itself: stale spans under this
    # bucket prove the input is missing docs the lake has (raise), no
    # spans either side means an honestly empty bucket (proceed: the
    # overwrite touches nothing and the completed 0-doc lineage row is
    # the truthful record).
    if docs.filter(F.col("bucket") == bucket).limit(1).count() == 0:
        if documents.limit(1).count() == 0:
            raise ValueError(
                f"input is empty — retry of bucket {bucket} "
                f"(n_buckets={n_buckets}) needs the same --input the "
                "lake was extracted from"
            )
        spans = lake.read_spans_out()  # None: nothing stale to protect
        if spans is not None and spans.filter(F.col("bucket") == bucket).limit(1).count():
            raise ValueError(
                f"input contains no documents for bucket {bucket} "
                f"(n_buckets={n_buckets}) but the lake has spans there; "
                "a retry over it would write nothing yet record a fresh "
                "completed lineage row — is --input the corpus the lake "
                "was extracted from?"
            )
    report = RunReport(run_id=run_id)
    _process_group(lake, docs, run_id, [bucket], n_buckets, report)
    return report


def count_summary(lake: Lake) -> dict:
    """Lake totals without an extraction pass (the reference's
    ``--count`` path, /root/reference/cli.py:113-120): documents and
    spans in spans_out, per-status bucket counts from the LATEST lineage
    row per bucket, and the distinct run count."""
    out = {"docs": 0, "spans": 0, "runs": 0, "buckets": {}}
    spans = lake.read_spans_out()
    if spans is not None:
        agg = spans.agg(
            F.count("*").alias("docs"), F.sum(F.size("spans")).alias("spans")
        ).collect()[0]
        out["docs"] = int(agg["docs"])
        out["spans"] = int(agg["spans"] or 0)
    lin = lake.read_lineage()
    if lin is not None:
        latest = lin.groupBy("bucket").agg(_latest_status().alias("status"))
        out["buckets"] = {
            r["status"]: r["n"]
            for r in latest.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        out["runs"] = lin.select("run_id").distinct().count()
    return out
