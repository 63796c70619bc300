"""The three workloads: inputs, correctness check, timed iteration, layers.

Each workload is driven through the package's public entry points only:

  spans-flagship  cached documents -> pipeline.run_extraction -> noop sink
  lake-resume     parquet documents -> lineage.run_extraction_with_lineage,
                  crashed after half the bucket groups, then resumed

plus, in the lake-resume traced run, the byte-path layers (FolderPass).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import harness
import inputs
from harness import median, noop
from pdf_extract_spark.lineage import (
    COMPLETED, Lake, bucket_of, count_summary, run_extraction_with_lineage)
from pdf_extract_spark.operators.html import html_to_spans_full, parse_htmls, validate_html
from pdf_extract_spark.operators.layout import parse_pdfs, pdf_to_spans_full, validate_pdfs
from pdf_extract_spark.pipeline import partition_for_extraction, run_extraction
from pdf_extract_spark.sources.folder import scan_html_folder, scan_pdf_folder


@dataclass
class Tally:
    """Per-document outcome of comparing program output with the oracle."""

    attempted: int = 0
    ok: int = 0
    missing: int = 0
    wrong: int = 0
    duplicated: int = 0
    unexpected_rows: int = 0
    unexpected_quarantine: int = 0
    planted_not_quarantined: int = 0
    problems: list = field(default_factory=list)

    @property
    def failed(self) -> int:
        return self.attempted - self.ok + self.unexpected_rows

    def add(self, expected: dict, rows: list[tuple]) -> None:
        """``rows`` are (doc_id, spans tuples or None, error or None)."""
        got: dict = {}
        for doc_id, spans, err in rows:
            if doc_id in got:
                self.duplicated += 1
                got[doc_id] = ("duplicated", None)
            elif doc_id not in expected:
                self.unexpected_rows += 1
            else:
                got[doc_id] = (spans, err)
        for doc_id, want in expected.items():
            self.attempted += 1
            if doc_id not in got:
                self.missing += 1
                continue
            spans, err = got[doc_id]
            if spans == "duplicated":
                continue
            if want is None:  # planted corrupt: must be quarantined
                if spans is None and err is not None:
                    self.ok += 1
                else:
                    self.planted_not_quarantined += 1
            elif spans == want and err is None:
                self.ok += 1
            elif err is not None:
                self.unexpected_quarantine += 1
            else:
                self.wrong += 1
                if len(self.problems) < 3:
                    self.problems.append(doc_id)


def span_tuples(spans) -> list[tuple] | None:
    if spans is None:
        return None
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def partition_spread(parted, size_col) -> float:
    """Max over mean of input spans per post-exchange partition (an exact
    count; partitions that received no rows are not in the mean)."""
    rows = (parted.select(F.spark_partition_id().alias("p"), size_col.alias("n"))
            .groupBy("p").agg(F.sum("n").alias("n")).collect())
    counts = [r["n"] for r in rows]
    return max(counts) / (sum(counts) / len(counts)) if counts else 0.0


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def plan_layer(queries: list[list], n_iters: int) -> dict:
    m = harness.arrow_udf_metrics(queries, "extract_spans")
    n = max(n_iters, 1)
    return {
        "extract.python_total_ms": m["pythonTotalTime"] / n,
        "extract.python_boot_ms": m["pythonBootTime"] / n,
        "extract.python_init_ms": m["pythonInitTime"] / n,
        "extract.bytes_to_python": m["pythonDataSent"] / n,
        "extract.bytes_from_python": m["pythonDataReceived"] / n,
        "pipeline.shuffle_bytes": harness.range_exchange_bytes(queries) / n,
    }


class Workload:
    """What the measurement loop in run.py needs from a workload."""

    name = ""
    docs_per_iteration = 0

    def __init__(self, spark_ref, work: str, seed: int, tracer) -> None:
        self.spark_ref = spark_ref  # callable -> the current SparkSession
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.tally = Tally()
        self.extra: dict = {}   # workload-only end-to-end figures
        self.counts: dict = {}  # workload-only per-layer counts

    @property
    def spark(self):
        return self.spark_ref()

    def prepare(self, pool) -> None: ...
    def load(self) -> None: ...
    def check(self) -> None: ...
    def iterate(self, k: int, traced: bool) -> int: ...
    def after(self) -> None: ...
    def layers(self, timings: list, queries: list[list], n_traced: int) -> dict: ...


# -------------------------------------------------------------- spans-flagship

class SpansFlagship(Workload):
    name = "spans-flagship"
    docs_per_iteration = inputs.FLAGSHIP_DOCS

    def prepare(self, pool) -> None:
        self.folder = os.path.join(self.work, "documents")
        self.expected = inputs.write_docs_table(
            pool, self.seed, inputs.FLAGSHIP_DOCS, self.folder, parts=4)

    def load(self) -> None:
        self.df = self.spark.read.parquet(self.folder).cache()
        self.df.count()

    def check(self) -> None:
        rows = run_extraction(self.df).collect()
        self.tally.add(self.expected,
                       [(r["doc_id"], span_tuples(r["spans"]), None) for r in rows])

    def iterate(self, k: int, traced: bool) -> int:
        with self.tracer.span("pipeline.run_extraction"):
            out = run_extraction(self.df)
        with self.tracer.span("sink.noop"):
            noop(out)
        return self.docs_per_iteration

    def layers(self, timings, queries, n_traced) -> dict:
        full = median([dt for traced, _, dt in timings if not traced])
        with self.tracer.span("pipeline.partition_for_extraction"):
            part = median([timed(lambda: noop(partition_for_extraction(self.df)))
                           for _ in range(2)])
        out = {
            "pipeline.partition_s": part,
            "extract.stage_s": full - part,
            "pipeline.spans_max_over_mean": partition_spread(
                partition_for_extraction(self.df), F.size("spans")),
        }
        out.update(plan_layer(queries, n_traced))
        return out


# ----------------------------------------------------------------- lake-resume

# Four bucket groups, crashed after the second. (cli.py extract defaults to
# 64 buckets in groups of 8; each group costs seconds of fixed commit and
# append work, so eight groups would make one run take about a minute.)
N_BUCKETS = 16
GROUP_SIZE = 4
CRASH_AFTER_GROUPS = 2


class TimedLake(Lake):
    """Times the lake operations the lineage loop calls; each call is
    delegated unchanged to ``Lake``."""

    def __init__(self, spark, root: str) -> None:
        super().__init__(spark, root)
        self.events: list[tuple[str, float, float]] = []

    def _timed(self, kind, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.events.append((kind, t0, time.perf_counter()))

    def commit_spans(self, out) -> None:
        self._timed("commit", super().commit_spans, out)

    def read_spans_out(self):
        return self._timed("read", super().read_spans_out)

    def completed_buckets_df(self):
        return self._timed("plan", super().completed_buckets_df)


@dataclass
class Cycle:
    lake: object
    crash_run: str
    resume_run: str
    report: object = None
    crash_start: float = 0.0
    resume_start: float = 0.0
    end: float = 0.0


class LakeResume(Workload):
    name = "lake-resume"
    docs_per_iteration = inputs.LAKE_DOCS

    def prepare(self, pool) -> None:
        self.folder = os.path.join(self.work, "documents")
        self.expected = inputs.write_docs_table(
            pool, self.seed, inputs.LAKE_DOCS, self.folder, parts=4)
        self.cycles: list[Cycle] = []

    def check(self) -> None:
        """Only notes which buckets the input fills: correctness is checked
        on the lakes the timed cycles leave, after the timer stops (see
        after()); the set-up's worker warm pass is the warm-up."""
        self.buckets = {r["b"] for r in self.spark.read.parquet(self.folder)
                        .select(bucket_of(F.col("doc_id"), N_BUCKETS).alias("b"))
                        .distinct().collect()}

    def iterate(self, k: int, traced: bool) -> int:
        lake_cls = TimedLake if traced else Lake
        lake = lake_cls(self.spark, os.path.join(self.work, "lakes", f"cycle-{k}"))
        cyc = Cycle(lake, f"crash-{k}", f"resume-{k}")
        cyc.crash_start = time.perf_counter()
        with self.tracer.span("lineage.run_extraction_with_lineage", run="crash"):
            try:
                run_extraction_with_lineage(
                    lake, self.spark.read.parquet(self.folder), cyc.crash_run,
                    n_buckets=N_BUCKETS, group_size=GROUP_SIZE,
                    fail_after_groups=CRASH_AFTER_GROUPS)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                raise RuntimeError("the fail_after_groups hook did not crash the run")
        cyc.resume_start = time.perf_counter()
        with self.tracer.span("lineage.run_extraction_with_lineage", run="resume"):
            cyc.report = run_extraction_with_lineage(
                lake, self.spark.read.parquet(self.folder), cyc.resume_run,
                n_buckets=N_BUCKETS, group_size=GROUP_SIZE)
        cyc.end = time.perf_counter()
        self.cycles.append(cyc)
        return self.docs_per_iteration

    def after(self) -> None:
        """Durability check of every timed cycle's lake: each document once
        with the oracle's spans, every non-empty bucket completed, and no
        document re-extracted on resume (from the RunReport and from the
        lineage table, which must agree)."""
        rework, committed, resume_s, ratios, self.durability = 0, 0, [], [], []
        in_bytes = harness.dir_stats(self.folder)[1]
        for cyc in self.cycles:
            lake = cyc.lake
            rows = lake.read_spans_out().select("doc_id", "spans").collect()
            self.tally.add(self.expected,
                           [(r["doc_id"], span_tuples(r["spans"]), None) for r in rows])
            summary = count_summary(lake)
            lineage = lake.read_lineage().collect()
            crash_done = {r["bucket"]: r["doc_count"] for r in lineage
                          if r["run_id"] == cyc.crash_run and r["status"] == COMPLETED}
            resume_done = {r["bucket"] for r in lineage
                           if r["run_id"] == cyc.resume_run and r["status"] == COMPLETED}
            from_report = sum(crash_done[b] for b in cyc.report.buckets_processed
                              if b in crash_done)
            from_lineage = sum(crash_done[b] for b in resume_done if b in crash_done)
            want_crash = min(CRASH_AFTER_GROUPS * GROUP_SIZE, len(self.buckets))
            problems = []
            if summary["buckets"] != {COMPLETED: len(self.buckets)}:
                problems.append(f"bucket statuses {summary['buckets']}, "
                                f"want {len(self.buckets)} completed")
            if summary["docs"] != len(self.expected):
                problems.append(f"count_summary docs {summary['docs']}")
            if len(crash_done) != want_crash:
                problems.append(f"crash run committed {len(crash_done)} buckets, "
                                f"want {want_crash}")
            if sorted(cyc.report.buckets_skipped) != sorted(crash_done):
                problems.append("resume did not skip exactly the committed buckets")
            if from_report != from_lineage:
                problems.append(f"rework disagrees: report {from_report}, "
                                f"lineage {from_lineage}")
            self.durability.extend(problems)
            rework += max(from_report, from_lineage)
            committed += sum(crash_done.values())
            resume_s.append(cyc.end - cyc.resume_start)
            lake_bytes = sum(harness.dir_stats(p)[1]
                             for p in (lake.spans_out, lake.lineage, lake.metrics))
            ratios.append(lake_bytes / in_bytes)
        self.extra = {
            "resume_s": (median(resume_s), "s"),
            "rework_frac": (rework / committed if committed else 0.0, "fraction"),
            "lake_bytes_per_input_byte": (median(ratios), "ratio"),
        }
        self.counts["lineage.rework_docs"] = rework

    def layers(self, timings, queries, n_traced) -> dict:
        src = self.spark.read.parquet(self.folder)
        with self.tracer.span("pipeline.partition_for_extraction"):
            part = median([timed(lambda: noop(partition_for_extraction(src)))
                           for _ in range(2)])
        with self.tracer.span("pipeline.run_extraction"):
            full = median([timed(lambda: noop(run_extraction(src))) for _ in range(2)])
        out = {
            "pipeline.partition_s": part,
            "extract.stage_s": full - part,
            "pipeline.spans_max_over_mean": partition_spread(
                partition_for_extraction(src), F.size("spans")),
        }
        out.update(plan_layer(queries, n_traced))
        traced = [c for c in self.cycles if hasattr(c.lake, "events")]
        groups = commit = bookkeeping = plan = 0.0
        files = size = 0
        for cyc in traced:
            ev = cyc.lake.events
            for start, end in ((cyc.crash_start, cyc.resume_start),
                               (cyc.resume_start, cyc.end)):
                run_ev = [e for e in ev if start <= e[1] < end]
                commits = [e[1] for e in run_ev if e[0] == "commit"]
                groups += len(commits)
                commit += sum(e[2] - e[1] for e in run_ev)
                if commits:
                    in_groups = sum(e[2] - e[1] for e in run_ev if e[1] >= commits[0])
                    bookkeeping += (end - commits[0]) - in_groups
                if start == cyc.resume_start:
                    plan += (commits[0] if commits else end) - start
            for p in (cyc.lake.spans_out, cyc.lake.lineage, cyc.lake.metrics):
                f, b = harness.dir_stats(p)
                files += f
                size += b
        n = max(len(traced), 1)
        out.update({
            "lineage.groups": groups / n,
            "lineage.commit_s": commit / n,
            "lineage.bookkeeping_s": bookkeeping / n,
            "lineage.resume_plan_s": plan / n,
            "lineage.files_written": files / n,
            "lineage.bytes_written": size / n,
        })
        return out


# ------------------------------------------------------------ byte-path layers

class FolderPass:
    """The byte-path layers, measured in the lake-resume traced run: a seeded
    folder of ``*.pdf`` and ``*.html`` files with planted corrupt payloads
    goes through sources.folder.scan_*_folder -> pdf_to_spans_full /
    html_to_spans_full (the ``cli.py folder`` path), is checked against the
    oracle and the planted ledger, then timed prefix by prefix."""

    def __init__(self, spark_ref, work: str, seed: int, tracer, tally: Tally) -> None:
        self.spark_ref = spark_ref
        self.folder = os.path.join(work, "folder")
        self.pdf_dir = os.path.join(self.folder, "pdf")
        self.html_dir = os.path.join(self.folder, "html")
        self.seed = seed
        self.tracer = tracer
        self.tally = tally
        self.counts: dict = {}

    def prepare(self, pool) -> None:
        self.expected, self.ledger = inputs.write_folder(
            pool, self.seed, inputs.FOLDER_PDFS, inputs.FOLDER_HTMLS, self.folder, parts=4)

    def _stages(self, fmt: str):
        """The successive prefixes of one format's public pipeline:
        scan -> +validate/partition -> +parse -> full."""
        spark = self.spark_ref()
        if fmt == "pdf":
            scan, validate, parse, full = (lambda: scan_pdf_folder(spark, self.pdf_dir),
                                           validate_pdfs, parse_pdfs, pdf_to_spans_full)
        else:
            scan, validate, parse, full = (lambda: scan_html_folder(spark, self.html_dir),
                                           validate_html, parse_htmls, html_to_spans_full)
        return [
            lambda: scan(),
            lambda: partition_for_extraction(validate(scan())),
            lambda: parse(partition_for_extraction(validate(scan()))),
            lambda: full(scan()),
        ]

    def check(self) -> None:
        rows = []
        for fmt, key in (("pdf", "pdfparse.quarantined"), ("html", "htmlparse.quarantined")):
            got = self._stages(fmt)[-1]().collect()
            rows.extend((r["doc_id"], span_tuples(r["spans"]), r["parse_error"]) for r in got)
            self.counts[key] = sum(r["parse_error"] is not None for r in got)
        self.tally.add(self.expected, rows)

    def layers(self, plan) -> dict:
        secs, scans = {}, []
        for fmt in ("pdf", "html"):
            scan, part, parse, full = self._stages(fmt)
            plan.active = True
            with self.tracer.span(f"folder.scan_{fmt}_folder"):
                s_scan = timed(lambda: noop(scan()))
            plan.active = False
            scans.extend(plan.take())
            with self.tracer.span("pipeline.partition_for_extraction", fmt=fmt):
                s_part = timed(lambda: noop(part()))
            with self.tracer.span(f"{fmt}.parse"):
                s_parse = timed(lambda: noop(parse()))
            with self.tracer.span(f"{fmt}_to_spans_full"):
                s_full = timed(lambda: noop(full()))
            secs[fmt] = (s_scan, s_parse - s_part, s_full - s_parse)
        return {
            "folder.scan_s": secs["pdf"][0] + secs["html"][0],
            "folder.bytes_read": harness.scan_bytes(scans, "binaryFile"),
            "pdfparse.stage_s": secs["pdf"][1],
            "layout.stage_s": secs["pdf"][2],
            "htmlparse.stage_s": secs["html"][1],
            "html.extract_stage_s": secs["html"][2],
            **self.counts,
        }


WORKLOADS = {w.name: w for w in (SpansFlagship, LakeResume)}
