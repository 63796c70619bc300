"""Single-process kernel probes and the N->4N scaling diagnostic.

The kernel probes call the program's per-batch functions directly in the
benchmark process over a fixed seeded sample, so their rates exclude Spark
scheduling and the Arrow transfer to the Python workers; set against the
ArrowEvalPython plan metrics they separate kernel time from boundary time.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd

from harness import build_session, median, noop, stop_session
from inputs import SCALING_DOCS, write_docs_only
from pdf_extract_spark import rules
from pdf_extract_spark.operators.extract import extract_spans
from pdf_extract_spark.operators.layout import layout_spans_udf
from pdf_extract_spark.pipeline import run_extraction
from pdf_extract_spark.sources import htmlparse, pdfparse

PROBE_SECONDS = 0.6


def _rate(fn, work: float, min_reps: int = 3) -> float:
    """``work`` units per second of ``fn()``, median over repetitions that
    together take at least PROBE_SECONDS."""
    rates = []
    t_end = time.perf_counter() + PROBE_SECONDS
    while len(rates) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        rates.append(work / (time.perf_counter() - t0))
    return median(rates)


def kernel_rates(sample: dict) -> dict:
    docs = [d["spans"] for d in sample["docs"]]
    n_spans = sum(len(s) for s in docs)
    series = pd.Series(docs)
    tagged = [rules.tag_fragments(s) for s in docs]
    pages = pd.Series([pdfparse.parse_pdf(b) for b in sample["pdfs"]])
    html_mb = sum(len(b) for b in sample["htmls"]) / 1e6

    return {
        "extract.kernel_spans_per_s": _rate(lambda: extract_spans.func(series), n_spans),
        "rules.tag_spans_per_s": _rate(
            lambda: [rules.tag_fragments(s) for s in docs], n_spans),
        "rules.compose_spans_per_s": _rate(
            lambda: [rules.compose_fragments(rules.merge_consecutive_tags(f))
                     for f in tagged], n_spans),
        "pdfparse.kernel_docs_per_s": _rate(
            lambda: [pdfparse.parse_pdf(b) for b in sample["pdfs"]], len(sample["pdfs"])),
        "layout.kernel_docs_per_s": _rate(lambda: layout_spans_udf.func(pages), len(pages)),
        "htmlparse.kernel_mb_per_s": _rate(
            lambda: [htmlparse.html_to_spans(b) for b in sample["htmls"]], html_mb),
    }


# ------------------------------------------------------------------ scaling

SCALING_SECONDS = 4.0


def scaling_child(cores: int, seed: int, work: str) -> dict:
    """Body of one pinned child: the spans-flagship loop at ``local[cores]``
    over the scaling input, untraced. Returns its docs/s."""
    folder = os.path.join(work, "docs")
    write_docs_only(seed, SCALING_DOCS, folder)
    spark = build_session(cores, work)
    try:
        df = spark.read.parquet(folder).cache()
        df.count()
        noop(run_extraction(df))  # warm-up: forks workers, loads classes
        docs, t0 = 0, time.perf_counter()
        while docs == 0 or time.perf_counter() - t0 < SCALING_SECONDS:
            noop(run_extraction(df))
            docs += SCALING_DOCS
        return {"cores": cores, "docs_per_s": docs / (time.perf_counter() - t0)}
    finally:
        stop_session(spark)


def scaling_efficiency(run_py: str, seed: int, work: str, cores: int) -> dict:
    """N->4N efficiency (rate at 4N / (4 x rate at N)) with each level in a
    fresh process pinned by ``taskset`` to exactly that many cores."""
    taskset = shutil.which("taskset")
    cpus = sorted(os.sched_getaffinity(0))
    if taskset is None or len(cpus) < 4 or cores < 4:
        return {"why_unavailable": "needs taskset and at least 4 cores"}
    low = cores // 4
    rates = {}
    for n in (low, 4 * low):
        child_work = os.path.join(work, f"scaling-{n}")
        cmd = [taskset, "-c", ",".join(str(c) for c in cpus[:n]), sys.executable,
               run_py, "--scaling-child", str(n), "--seed", str(seed),
               "--work", child_work]
        try:
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=150)
        except subprocess.TimeoutExpired:
            return {"why_unavailable": f"scaling child at {n} cores timed out"}
        if proc.returncode != 0:
            return {"why_unavailable": f"scaling child at {n} cores exited {proc.returncode}"}
        rates[n] = json.loads(proc.stdout.strip().splitlines()[-1])["docs_per_s"]
        shutil.rmtree(child_work, ignore_errors=True)
    return {"efficiency": rates[4 * low] / (4 * rates[low]),
            "docs_per_s_low": rates[low], "docs_per_s_high": rates[4 * low],
            "cores_low": low, "cores_high": 4 * low}
