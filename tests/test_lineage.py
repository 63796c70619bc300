"""Kill/resume lineage tests (SURVEY.md §5.2 'resume test').

Mirrors the reference's status-machine semantics: a killed run leaves
completed batches committed (database.py:76-93); resume re-extracts only
unfinished work (database.py:411-428, main.py:996-1017) and the final
table is identical to an uninterrupted run.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from pdf_extract_spark import generator, oracle
from pdf_extract_spark.lineage import Lake, run_extraction_with_lineage
from pdf_extract_spark.schemas import DOCUMENTS

N_DOCS = 60
N_BUCKETS = 8
GROUP = 2


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(generator.make_corpus(N_DOCS, seed=9), schema=DOCUMENTS)


def _collect_spans(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in df.select("doc_id", "spans").collect()
    }


def test_full_run_matches_oracle(spark, docs_df, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    report = run_extraction_with_lineage(
        lake, docs_df, run_id="r1", n_buckets=N_BUCKETS, group_size=GROUP
    )
    assert sorted(report.buckets_processed) == sorted(
        set(report.buckets_processed)
    )  # each bucket exactly once
    assert report.doc_count == N_DOCS

    golden = oracle.expected_corpus(generator.make_corpus(N_DOCS, seed=9))
    assert _collect_spans(lake.read_spans_out()) == golden

    lin = lake.read_lineage()
    assert lin.filter(lin.status == "completed").select("bucket").distinct().count() == len(
        report.buckets_processed
    )
    from pdf_extract_spark.lineage import METRICS_WRITE

    met = lake.read_metrics()
    assert met.columns == METRICS_WRITE.fieldNames()
    assert met.count() > 0 and met.agg({"doc_count": "sum"}).first()[0] == N_DOCS
    groups = [[int(b) for b in r["bucket_group"].split(",")] for r in met.collect()]
    assert all(g == sorted(g) for g in groups)
    assert sorted(b for g in groups for b in g) == sorted(report.buckets_processed)


@pytest.mark.parametrize("kill_after", [0, 1, 3])
def test_kill_at_any_point_resumes_exactly(spark, docs_df, tmp_path, kill_after):
    """Whatever group the job dies before — including before the first
    commit — resume completes the corpus identically."""
    lake = Lake(spark, str(tmp_path / "lake"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_with_lineage(
            lake, docs_df, run_id="r1", n_buckets=N_BUCKETS,
            group_size=GROUP, fail_after_groups=kill_after,
        )
    done = lake.completed_buckets_df()
    assert (done.count() if done is not None else 0) == kill_after * GROUP
    run_extraction_with_lineage(
        lake, docs_df, run_id="r2", n_buckets=N_BUCKETS, group_size=GROUP
    )
    golden = oracle.expected_corpus(generator.make_corpus(N_DOCS, seed=9))
    assert _collect_spans(lake.read_spans_out()) == golden


def test_kill_and_resume_no_reextraction(spark, docs_df, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))

    # first run dies after 2 committed groups
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_with_lineage(
            lake, docs_df, run_id="r1", n_buckets=N_BUCKETS,
            group_size=GROUP, fail_after_groups=2,
        )
    partial = lake.completed_buckets_df().count()
    assert partial == 2 * GROUP  # exactly the committed groups

    # resume: completed buckets skipped, remainder processed
    report2 = run_extraction_with_lineage(
        lake, docs_df, run_id="r2", n_buckets=N_BUCKETS, group_size=GROUP
    )
    assert len(report2.buckets_skipped) == partial
    assert set(report2.buckets_processed).isdisjoint(report2.buckets_skipped)

    # final table identical to an uninterrupted run
    golden = oracle.expected_corpus(generator.make_corpus(N_DOCS, seed=9))
    assert _collect_spans(lake.read_spans_out()) == golden

    # every document present exactly once (no duplicate extraction)
    out = lake.read_spans_out()
    assert out.count() == N_DOCS
    assert out.select("doc_id").distinct().count() == N_DOCS


def test_prebucketed_input_path(spark, docs_df, tmp_path, monkeypatch):
    """Bucket-partitioned ingest: a correct pre-existing bucket column is
    reused (pruning path): each group's commit plan scans only its own
    bucket partitions (a bucket ``PartitionFilters`` entry, so group IO
    is O(group), not O(corpus)), and the run yields the identical golden
    corpus; a mismatched bucket count fails loudly instead of silently
    dropping data under dynamic partition overwrite."""
    import re

    from pyspark.sql import functions as F

    from pdf_extract_spark.lineage import bucket_of

    src = str(tmp_path / "documents")
    docs_df.withColumn("bucket", bucket_of(F.col("doc_id"), N_BUCKETS)) \
        .write.partitionBy("bucket").parquet(src)
    bucketed = spark.read.parquet(src)

    plans = []
    commit = Lake.commit_spans

    def recording_commit(self, out):
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        commit(self, out)

    monkeypatch.setattr(Lake, "commit_spans", recording_commit)
    lake = Lake(spark, str(tmp_path / "lake"))
    run_extraction_with_lineage(
        lake, bucketed, run_id="r1", n_buckets=N_BUCKETS, group_size=GROUP
    )
    golden = oracle.expected_corpus(generator.make_corpus(N_DOCS, seed=9))
    assert _collect_spans(lake.read_spans_out()) == golden

    pruned = [re.findall(r"PartitionFilters: \[[^\]]*bucket#\d+ IN \(([\d, ]+)\)", p)
              for p in plans]
    groups = [[int(b) for b in m[0].split(",")] for m in pruned if len(m) == 1]
    assert len(groups) == len(plans), plans
    assert sorted(groups) == [list(range(g, g + GROUP)) for g in range(0, N_BUCKETS, GROUP)]

    # wrong bucket count -> validation failure, nothing written
    lake2 = Lake(spark, str(tmp_path / "lake2"))
    with pytest.raises(ValueError, match="bucket_of"):
        run_extraction_with_lineage(
            lake2, bucketed, run_id="rX", n_buckets=N_BUCKETS * 2, group_size=GROUP
        )


class _FakeV2Writer:
    """Records the DataFrameWriterV2 verbs the Iceberg branch issues."""

    def __init__(self, log, table):
        self._log, self._table = log, table

    def partitionedBy(self, *cols):
        self._log.append(("partitionedBy", self._table))
        return self

    def create(self):
        self._log.append(("create", self._table))

    def overwritePartitions(self):
        self._log.append(("overwritePartitions", self._table))

    def append(self):
        self._log.append(("append", self._table))


def test_iceberg_dispatch_seam(spark, monkeypatch):
    """table_format='iceberg' must route through writeTo verbs: first
    commit creates the bucket-partitioned table, subsequent commits use
    overwritePartitions; lineage appends use append(). No Iceberg
    jars in this container, so the verbs are recorded through a fake
    DataFrameWriterV2 — the parquet branch is covered end-to-end by the
    kill/resume tests above."""
    try:  # pyspark 4: the concrete class is classic.dataframe.DataFrame
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover
        from pyspark.sql import DataFrame

    from pdf_extract_spark.lineage import LINEAGE_WRITE, Lake

    log, existing = [], set()
    monkeypatch.setattr(DataFrame, "writeTo", lambda self, tbl: _FakeV2Writer(log, tbl))
    monkeypatch.setattr(
        type(spark.catalog), "tableExists", lambda self, name: name in existing
    )

    lake = Lake(spark, "ice.db", table_format="iceberg")
    assert (lake.spans_out, lake.lineage) == ("ice.db.spans_out", "ice.db.lineage")
    # tableExists says no: both reads are None, without reading anything
    assert lake.read_lineage() is None and lake.read_spans_out() is None

    df = spark.range(3).selectExpr("cast(id AS int) AS bucket")
    lake.commit_spans(df)
    assert log == [("partitionedBy", "ice.db.spans_out"), ("create", "ice.db.spans_out")]
    existing.add("ice.db.spans_out")
    log.clear()
    lake.commit_spans(df)
    assert log == [("overwritePartitions", "ice.db.spans_out")]

    log.clear()
    rows = [("r1", 0, "completed", 1, 2, 0.0, 1.0, None)]
    lake._append(rows, LINEAGE_WRITE, lake.lineage)
    assert log == [("create", "ice.db.lineage")]
    existing.add("ice.db.lineage")
    log.clear()
    lake._append(rows, LINEAGE_WRITE, lake.lineage)
    assert log == [("append", "ice.db.lineage")]

    # once tableExists says yes, reads dispatch to spark.table (which
    # fails here — no real catalog — proving the parquet reader is NOT
    # silently used)
    with pytest.raises(Exception):
        lake.read_spans_out().collect()

    with pytest.raises(ValueError):
        Lake(spark, "x", table_format="delta")


def test_retry_bucket_and_count_summary(spark, docs_df, tmp_path):
    """CLI parity tail (reference cli.py:113-135): retry --bucket N
    re-extracts a COMPLETED bucket unconditionally and idempotently
    (dynamic partition overwrite — no duplicate rows, byte-identical
    table), appends a fresh lineage row, and count_summary reports lake
    totals without an extraction pass."""
    from pdf_extract_spark.lineage import count_summary, retry_bucket

    lake = Lake(spark, str(tmp_path / "lake"))
    run_extraction_with_lineage(
        lake, docs_df, run_id="r1", n_buckets=N_BUCKETS, group_size=GROUP
    )
    before = _collect_spans(lake.read_spans_out())
    target = int(lake.read_spans_out().select("bucket").first()["bucket"])
    n_lineage_rows = lake.read_lineage().count()

    rep = retry_bucket(
        lake, docs_df, run_id="r2", bucket=target, n_buckets=N_BUCKETS
    )
    assert rep.buckets_processed == [target]
    assert rep.doc_count > 0
    # idempotent: the retried bucket replaced its own partition exactly
    assert _collect_spans(lake.read_spans_out()) == before
    # history stays append-only: one extra lineage row, still completed
    lin = lake.read_lineage()
    assert lin.count() == n_lineage_rows + 1
    assert (
        lin.filter((lin.bucket == target) & (lin.run_id == "r2"))
        .first()["status"] == "completed"
    )

    c = count_summary(lake)
    assert c["docs"] == N_DOCS
    assert c["spans"] == sum(len(v) for v in before.values())
    assert c["buckets"] == {"completed": len(set(r["bucket"] for r in
                            lake.read_spans_out().select("bucket").collect()))}
    assert c["runs"] == 2

    with pytest.raises(ValueError):
        retry_bucket(lake, docs_df, run_id="r3", bucket=99, n_buckets=N_BUCKETS)

    # a retry with a DIFFERENT bucket count than the lake was built with
    # would silently drop/duplicate docs through the dynamic partition
    # overwrite — it must refuse up front
    with pytest.raises(ValueError, match="not bucketed with"):
        retry_bucket(lake, docs_df, run_id="r4", bucket=1,
                     n_buckets=N_BUCKETS * 4)
    assert _collect_spans(lake.read_spans_out()) == before  # untouched

    # empty lake: count_summary degrades gracefully
    empty = count_summary(Lake(spark, str(tmp_path / "nolake")))
    assert empty == {"docs": 0, "spans": 0, "runs": 0, "buckets": {}}


def test_same_instant_tie_prefers_completed(spark, tmp_path):
    """All rows of a commit group share one completed_at, and a retry can
    finish in the same float-second: on an exact timestamp tie the bucket
    verdict must be deterministic and prefer 'completed' (output is
    kept), regardless of row order."""
    from pdf_extract_spark.lineage import COMPLETED, FAILED, LINEAGE_WRITE, count_summary

    lake = Lake(spark, str(tmp_path / "lake"))
    t = 1700000000.0
    for status_order in ([COMPLETED, FAILED], [FAILED, COMPLETED]):
        rows = [("r1", 0, s, 5, 50, t, t, None) for s in status_order]
        lake._append(rows, LINEAGE_WRITE, lake.lineage)

    done = {r["bucket"] for r in lake.completed_buckets_df().collect()}
    assert done == {0}
    summary = count_summary(lake)
    assert summary["buckets"] == {COMPLETED: 1}


def test_resume_rejects_mismatched_bucket_count(spark, docs_df, tmp_path):
    """Resuming a lake built with n_buckets=8 under n_buckets=16 would
    skip never-extracted buckets and duplicate docs across old/new
    partitions — the resume loop must validate the lake scheme up front
    (the guard retry_bucket always had)."""
    lake = Lake(spark, str(tmp_path / "lake"))
    run_extraction_with_lineage(
        lake, docs_df, run_id="r1", n_buckets=N_BUCKETS, group_size=GROUP
    )
    with pytest.raises(ValueError, match="was not bucketed with"):
        run_extraction_with_lineage(
            lake, docs_df, run_id="r2", n_buckets=N_BUCKETS * 2, group_size=GROUP
        )


def test_retry_bucket_rejects_input_without_the_bucket(spark, docs_df, tmp_path):
    """A retry whose --input holds no documents for the bucket would
    write nothing (dynamic overwrite keeps the stale partition) yet
    record a fresh completed lineage row — it must raise instead."""
    from pdf_extract_spark.lineage import bucket_of, retry_bucket
    from pyspark.sql import functions as F

    lake = Lake(spark, str(tmp_path / "lake"))
    run_extraction_with_lineage(
        lake, docs_df, run_id="r1", n_buckets=N_BUCKETS, group_size=GROUP
    )
    wrong_input = docs_df.filter(
        bucket_of(F.col("doc_id"), N_BUCKETS) != 3
    )
    with pytest.raises(ValueError, match="no documents for bucket 3"):
        retry_bucket(lake, wrong_input, run_id="r2", bucket=3, n_buckets=N_BUCKETS)


def test_group_failure_records_failed_lineage(spark, docs_df, tmp_path, monkeypatch):
    """A failure inside a bucket group appends FAILED lineage rows with
    the error message (so `count` reports failed buckets), the error
    still propagates, and a subsequent resume re-extracts the failed
    group to the identical corpus."""
    from pdf_extract_spark.lineage import count_summary

    lake = Lake(spark, str(tmp_path / "lake"))
    real_commit = Lake.commit_spans
    calls = {"n": 0}

    def flaky_commit(self, out):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated commit outage")
        return real_commit(self, out)

    monkeypatch.setattr(Lake, "commit_spans", flaky_commit)
    with pytest.raises(RuntimeError, match="simulated commit outage"):
        run_extraction_with_lineage(
            lake, docs_df, run_id="r1", n_buckets=N_BUCKETS, group_size=GROUP
        )
    monkeypatch.setattr(Lake, "commit_spans", real_commit)

    lin = lake.read_lineage()
    failed = lin.filter(lin.status == "failed").collect()
    assert len(failed) == GROUP  # one row per bucket of the failed group
    assert all("simulated commit outage" in r["error_message"] for r in failed)
    assert count_summary(lake)["buckets"].get("failed", 0) > 0

    report = run_extraction_with_lineage(
        lake, docs_df, run_id="r2", n_buckets=N_BUCKETS, group_size=GROUP
    )
    assert report.buckets_processed  # the failed group (and the rest) reran
    golden = oracle.expected_corpus(generator.make_corpus(N_DOCS, seed=9))
    assert _collect_spans(lake.read_spans_out()) == golden


def test_corrupt_lineage_surfaces_not_first_run(spark, docs_df, tmp_path):
    """A corrupt lineage table must raise, not read as 'first run' and
    silently re-extract the whole corpus while `count` reports zero."""
    lake = Lake(spark, str(tmp_path / "lake"))
    run_extraction_with_lineage(
        lake, docs_df, run_id="r1", n_buckets=N_BUCKETS, group_size=GROUP
    )
    # clobber the lineage dir with a garbage 'parquet' file
    import pathlib

    lin_dir = pathlib.Path(lake.lineage)
    for f in lin_dir.glob("*.parquet"):
        f.write_bytes(b"this is not parquet at all")
    # the regression under guard is read_lineage() -> None ("first run").
    # Spark reads parquet footers eagerly at spark.read.parquet(), so the
    # corruption may raise at read_lineage() itself OR at collect() — accept
    # either point; what must NOT happen is a silent None / first-run path.
    with pytest.raises(Exception) as ei:
        lin = lake.read_lineage()
        assert lin is not None  # None would be the "first run" regression
        lin.collect()
    assert not isinstance(ei.value, (ValueError, AttributeError, AssertionError))


def test_retry_bucket_genuinely_empty_is_a_truthful_noop(spark, docs_df, tmp_path):
    """A bucket can legitimately hash to zero docs (small corpus, many
    buckets — ADVICE r4): retrying it with the CORRECT input must not
    raise (the lake agrees the bucket is empty; the overwrite touches
    nothing and the completed 0-doc lineage row is the truthful record).
    An empty INPUT still raises — that is the wrong-path case."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.lineage import bucket_of, retry_bucket

    lake = Lake(spark, str(tmp_path / "lake"))
    thin = docs_df.filter(bucket_of(F.col("doc_id"), N_BUCKETS) != 3)
    run = run_extraction_with_lineage(
        lake, thin, run_id="r1", n_buckets=N_BUCKETS, group_size=GROUP
    )
    # the run plans from lineage alone: the empty bucket ran too (0/0)
    assert run.buckets_processed == list(range(N_BUCKETS))
    assert lake.completed_buckets_df().count() == N_BUCKETS
    rep = retry_bucket(lake, thin, run_id="r2", bucket=3, n_buckets=N_BUCKETS)
    assert rep.buckets_processed
    lin = lake.read_lineage()
    rows = lin.filter((lin.bucket == 3) & (lin.run_id == "r2")).collect()
    assert [r["status"] for r in rows] == ["completed"]
    assert (rows[0]["doc_count"] or 0) == 0
    with pytest.raises(ValueError, match="input is empty"):
        retry_bucket(
            lake, thin.limit(0), run_id="r3", bucket=3, n_buckets=N_BUCKETS
        )


def test_observed_counts_match_readback(spark, docs_df, tmp_path):
    """The per-bucket counts the commit observes equal a read-back of
    spans_out after a crash + resume and retries — including a retry of
    a genuinely empty bucket, which records 0/0."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.lineage import bucket_of, retry_bucket

    thin = docs_df.filter(bucket_of(F.col("doc_id"), N_BUCKETS) != 3)
    lake = Lake(spark, str(tmp_path / "lake"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_with_lineage(
            lake, thin, run_id="r1", n_buckets=N_BUCKETS,
            group_size=GROUP, fail_after_groups=1,
        )
    run_extraction_with_lineage(
        lake, thin, run_id="r2", n_buckets=N_BUCKETS, group_size=GROUP
    )
    target = int(lake.read_spans_out().select("bucket").first()["bucket"])
    retry_bucket(lake, thin, run_id="r3", bucket=target, n_buckets=N_BUCKETS)
    retry_bucket(lake, thin, run_id="r4", bucket=3, n_buckets=N_BUCKETS)

    lin = lake.read_lineage()
    latest = (
        lin.filter(lin.status == "completed")
        .groupBy("bucket")
        .agg(F.max_by(F.struct("doc_count", "span_count"), "completed_at").alias("c"))
    )
    observed = {r["bucket"]: (r["c"]["doc_count"], r["c"]["span_count"])
                for r in latest.collect()}
    readback = {
        r["bucket"]: (r["d"], r["s"])
        for r in lake.read_spans_out().groupBy("bucket").agg(
            F.count("*").alias("d"), F.sum(F.size("spans")).alias("s")).collect()
    }
    assert observed[3] == (0, 0) and 3 not in readback
    assert set(readback) <= set(observed)
    assert observed == {b: readback.get(b, (0, 0)) for b in observed}
    assert sum(d for d, _ in observed.values()) == thin.count()


def test_crash_between_commit_and_lineage_write(spark, docs_df, tmp_path, monkeypatch):
    """The one crash window left inside a group: its spans are committed
    but its completed lineage rows never land. The group must stay
    uncompleted, and resume re-extracts exactly that group, overwriting
    its partitions so every document is present once."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.lineage import COMPLETED, bucket_of

    buckets = sorted(r[0] for r in docs_df.select(
        bucket_of(F.col("doc_id"), N_BUCKETS)).distinct().collect())
    n_groups = -(-len(buckets) // GROUP)
    real_append = Lake._append
    completed_appends = {"n": 0}

    def crash_on_last_group(self, rows, schema, target):
        if rows and rows[0][2] == COMPLETED:
            completed_appends["n"] += 1
            if completed_appends["n"] == n_groups:
                raise RuntimeError("simulated crash before the lineage write")
        return real_append(self, rows, schema, target)

    lake = Lake(spark, str(tmp_path / "lake"))
    monkeypatch.setattr(Lake, "_append", crash_on_last_group)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_extraction_with_lineage(
            lake, docs_df, run_id="r1", n_buckets=N_BUCKETS, group_size=GROUP
        )
    monkeypatch.setattr(Lake, "_append", real_append)

    last_group = buckets[(n_groups - 1) * GROUP:]
    done = {r["bucket"] for r in lake.completed_buckets_df().collect()}
    assert done == set(buckets) - set(last_group)
    # the window is real: the group's spans were committed
    committed = {r["bucket"] for r in lake.read_spans_out().select("bucket").distinct().collect()}
    assert set(last_group) <= committed

    report = run_extraction_with_lineage(
        lake, docs_df, run_id="r2", n_buckets=N_BUCKETS, group_size=GROUP
    )
    assert report.buckets_processed == last_group
    golden = oracle.expected_corpus(generator.make_corpus(N_DOCS, seed=9))
    assert _collect_spans(lake.read_spans_out()) == golden
    out = lake.read_spans_out()
    assert out.count() == out.select("doc_id").distinct().count() == N_DOCS


def test_empty_bucket_commit_on_fresh_lake(spark, docs_df, tmp_path):
    """The first write to a lake can be an empty commit: a retry of a
    bucket no document hashes to. The committed but empty spans_out
    reads as zero rows, count_summary reports the one 0-doc completed
    bucket, and a later run validates the lake, skips that bucket and
    completes every bucket."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.lineage import bucket_of, count_summary, retry_bucket

    thin = docs_df.filter(bucket_of(F.col("doc_id"), N_BUCKETS) != 3)
    lake = Lake(spark, str(tmp_path / "lake"))
    rep = retry_bucket(lake, thin, run_id="r0", bucket=3, n_buckets=N_BUCKETS)
    assert rep.buckets_processed == [3] and rep.doc_count == 0
    assert lake.read_spans_out().count() == 0
    assert count_summary(lake) == {
        "docs": 0, "spans": 0, "runs": 1, "buckets": {"completed": 1}}

    rep = run_extraction_with_lineage(
        lake, thin, run_id="r1", n_buckets=N_BUCKETS, group_size=GROUP
    )
    assert rep.buckets_skipped == [3]
    assert rep.buckets_processed == [b for b in range(N_BUCKETS) if b != 3]
    ids = {r["doc_id"] for r in thin.select("doc_id").collect()}
    golden = oracle.expected_corpus(generator.make_corpus(N_DOCS, seed=9))
    assert _collect_spans(lake.read_spans_out()) == {
        k: v for k, v in golden.items() if k in ids}
    c = count_summary(lake)
    assert c["docs"] == rep.doc_count == len(ids)
    assert c["buckets"] == {"completed": N_BUCKETS} and c["runs"] == 2


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NO_ERRORS_JOB = '''
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import Observation, functions as F
from pdf_extract_spark import build_spark, generator
from pdf_extract_spark.lineage import Lake, count_summary, run_extraction_with_lineage
from pdf_extract_spark.schemas import DOCUMENTS

spark = build_spark(master="local[2]", shuffle_partitions=4)
obs = Observation()
spark.range(10).observe(obs, F.count("*").alias("n")).collect()
assert obs.get["n"] == 10
docs = spark.createDataFrame(generator.make_corpus(24, seed=5), schema=DOCUMENTS)
rep = run_extraction_with_lineage(Lake(spark, "lake"), docs, "r1", n_buckets=4, group_size=2)
assert rep.doc_count == 24
assert count_summary(Lake(spark, "missing")) == {"docs": 0, "spans": 0, "runs": 0, "buckets": {}}
spark.stop()
print("NO_ERRORS_OK")
'''


def test_missing_tables_log_no_errors(tmp_path):
    """Once a session has run an Observation, its query listener logs a
    failed analysis as "ERROR ExecutionListenerBus" plus a stack trace.
    A fresh lake and a missing one must be told apart by asking whether
    the table exists, not by catching a failed read, so neither a first
    lineage run nor count_summary on a missing lake logs an ERROR."""
    job = tmp_path / "no_errors.py"
    job.write_text(NO_ERRORS_JOB)
    proc = subprocess.run(
        [sys.executable, str(job), REPO],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "NO_ERRORS_OK" in proc.stdout
    errors = [line for line in proc.stderr.splitlines() if " ERROR " in line]
    assert errors == [], errors
