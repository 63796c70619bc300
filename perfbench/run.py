#!/usr/bin/env python3
"""Extraction benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload spans-flagship --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads, metrics and bounds are listed
in BENCHMARK.json; perfbench/README.md explains them. With ``--trace 0``
the last stdout line carries the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a traced run. The lines before it are a
human-readable report that also names every metric a workload cannot
produce and why.

Exit codes: 0 done and correct, 1 an output was wrong, 2 the package is
missing or the arguments are bad, 3 another benchmark run holds the lock.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import multiprocessing
import os
import shutil
import sys
import tempfile
import time
import uuid
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 2  # session set-ups per run; setup_s is their median

# per-layer metrics a workload's traced run does not produce, and why
NOT_MEASURED = {
    "lineage.": "lineage runs in lake-resume only",
    "folder.": "the byte-path folder pass runs in the lake-resume traced run",
    "pdfparse.stage_s": "the byte-path folder pass runs in the lake-resume traced run",
    "pdfparse.quarantined": "the byte-path folder pass runs in the lake-resume traced run",
    "layout.stage_s": "the byte-path folder pass runs in the lake-resume traced run",
    "htmlparse.stage_s": "the byte-path folder pass runs in the lake-resume traced run",
    "htmlparse.quarantined": "the byte-path folder pass runs in the lake-resume traced run",
    "html.extract_stage_s": "the byte-path folder pass runs in the lake-resume traced run",
    "scaling.": "the scaling diagnostic runs in the spans-flagship traced run",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling-child", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--work", default=None, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def isolate_temp(run_dir: str) -> None:
    """Point every temp/scratch location of this process and the JVM it
    launches inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = None


def run_workload(args, run_dir: str, run_id: str) -> dict:
    # The input workers fork first, while this process still runs a single
    # thread: importing numpy/pyarrow starts thread pools, and the JVM and
    # py4j come with the session. Unlike spawned workers, forked ones leave
    # no resource-tracker process running after the benchmark exits.
    pool = multiprocessing.get_context("fork").Pool(min(4, len(os.sched_getaffinity(0))))

    import harness
    import inputs
    import probes
    from harness import Tracer, median
    from workloads import WORKLOADS, FolderPass

    from pdf_extract_spark import generator

    cores = harness.cpu_count()
    tracer = Tracer(run_id, enabled=bool(args.trace))
    state: dict = {"spark": None}
    wl = WORKLOADS[args.workload](lambda: state["spark"], run_dir, args.seed, tracer)
    folder = None
    if args.trace and args.workload == "lake-resume":
        folder = FolderPass(lambda: state["spark"], run_dir, args.seed, tracer, wl.tally)

    # inputs and oracle: before set-up, outside every measurement
    with pool:
        wl.prepare(pool)
        if folder is not None:
            folder.prepare(pool)
    warm_docs = [generator.make_document(i, args.seed) for i in range(2 * cores)]
    sample = inputs.kernel_sample(args.seed) if args.trace else None

    res: dict = {"layer": {}, "notes": []}
    try:
        builds, warms = [], []
        for _ in range(SETUPS):
            if state["spark"] is not None:
                state["spark"].stop()
            with tracer.span("session.build_spark"):
                t0 = time.perf_counter()
                state["spark"] = harness.build_session(cores, run_dir)
                t1 = time.perf_counter()
            with tracer.span("session.worker_warm"):
                harness.warm_workers(state["spark"], cores, warm_docs)
                t2 = time.perf_counter()
            builds.append(t1 - t0)
            warms.append(t2 - t1)
        res["setup_s"] = median([b + w for b, w in zip(builds, warms)])

        wl.load()
        with tracer.span("check"):
            wl.check()  # the untimed warm-up pass, checked against the oracle
        plan = harness.PlanMetrics(state["spark"]) if args.trace else None

        # the timed region: a closed loop, one job at a time
        timings, queries = [], []
        t_start = time.perf_counter()
        k = 0
        while True:
            traced = bool(args.trace) and k % 2 == 1
            tracer.enabled = traced
            t0 = time.perf_counter()
            with tracer.span("iteration", k=k) if traced else nullcontext():
                if traced:
                    plan.active = True
                n = wl.iterate(k, traced)
                if traced:
                    plan.active = False
                    queries.extend(plan.take())
            timings.append((traced, n, time.perf_counter() - t0))
            k += 1
            if time.perf_counter() - t_start >= args.seconds and (not args.trace or k >= 2):
                break
        tracer.enabled = bool(args.trace)
        res["peak_rss_mb"] = harness.tree_peak_rss_mb()

        def rate(kind: bool) -> float:
            """Documents per second of the median iteration of one kind
            (every iteration completes the same documents)."""
            return median([n / dt for t, n, dt in timings if t == kind])

        res["docs_per_s"] = rate(False)
        res["iterations"] = len(timings)
        with tracer.span("after"):
            wl.after()

        if args.trace:
            layer = res["layer"]
            layer["session.build_s"] = median(builds)
            layer["session.worker_warm_s"] = median(warms)
            n_traced = sum(1 for t, _, _ in timings if t)
            with tracer.span("layers"):
                layer.update(wl.layers(timings, queries, n_traced))
            if folder is not None:
                with tracer.span("folder_pass"):
                    folder.check()
                    layer.update(folder.layers(plan))
            layer["trace.overhead_frac"] = rate(True) / rate(False) - 1.0
            res["notes"].extend(f"plan listener error: {e}" for e in plan.errors)
            plan.close()
    finally:
        if state["spark"] is not None:
            harness.stop_session(state["spark"])

    if args.trace:
        layer = res["layer"]
        layer.update(wl.counts)
        with tracer.span("kernel_probes"):
            layer.update(probes.kernel_rates(sample))
        if args.workload == "spans-flagship":
            with tracer.span("scaling"):
                sc = probes.scaling_efficiency(os.path.abspath(__file__), args.seed,
                                               run_dir, cores)
            if "efficiency" in sc:
                layer["scaling.efficiency_1_to_4"] = sc["efficiency"]
                res["notes"].append(
                    "scaling (ungated diagnostic): {docs_per_s_low:.1f} docs/s on "
                    "{cores_low} core(s), {docs_per_s_high:.1f} docs/s on "
                    "{cores_high} cores".format(**sc))
            else:
                res["notes"].append(f"scaling.efficiency_1_to_4 unavailable: "
                                    f"{sc['why_unavailable']}")
        tracer.write(os.path.join(WORK, "traces", f"{args.workload}-{run_id}.jsonl"))
    res["workload"] = wl
    return res


def report(args, spec: dict, res: dict) -> tuple[dict, bool]:
    """Print the human-readable report; return (result JSON, correct)."""
    wl = res["workload"]
    t = wl.tally
    attempted = max(t.attempted, 1)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "docs_per_s": (res["docs_per_s"], "docs/s"),
        "span_exact_rate": (t.ok / attempted, "fraction"),
        "failed_frac": (t.failed / attempted, "fraction"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        **wl.extra,
    }
    problems = list(getattr(wl, "durability", []))
    if t.failed:
        problems.append(
            f"{t.failed} of {t.attempted} documents failed: {t.missing} missing, "
            f"{t.wrong} wrong {t.problems}, {t.duplicated} duplicated, "
            f"{t.unexpected_rows} unexpected rows, {t.unexpected_quarantine} quarantined "
            f"unexpectedly, {t.planted_not_quarantined} planted-corrupt not quarantined")
    if e2e.get("rework_frac", (0.0,))[0] > 0:
        problems.append("documents committed before the crash were re-extracted on resume")
    correct = t.attempted > 0 and not problems

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"iterations {res['iterations']}  documents checked {t.attempted}")
    for name in ("setup_s", "docs_per_s", "span_exact_rate", "failed_frac",
                 "resume_s", "rework_frac", "lake_bytes_per_input_byte", "peak_rss_mb"):
        if name in e2e:
            v, unit = e2e[name]
            print(f"  {name:<28} {v:>14.6g} {unit}")
        else:
            print(f"  {name:<28} {'n/a':>14} (lake-resume only)")
    for p in problems:
        print(f"  PROBLEM: {p}")
    for note in res["notes"]:
        print(f"  note: {note}")

    metrics = {}
    if args.trace:
        layer = res["layer"]
        for m in spec["per_layer"]:
            name = m["name"]
            if name in layer:
                value = layer[name]
                print(f"  {name:<28} {value:>14.6g} {m['unit']}")
            else:
                why = next((w for pre, w in NOT_MEASURED.items() if name.startswith(pre)),
                           "not measured")
                value = 0.0
                print(f"  {name:<28} {'n/a':>14} ({why}; reported as 0)")
            metrics[name] = {"value": value, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": e2e[m["name"]][0], "unit": m["unit"]}
    return {"correct": correct, "attempted": t.attempted, "failed": t.failed,
            "metrics": metrics}, correct


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdf_extract_spark")):
        print("perfbench: no pdf_extract_spark/ package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    if args.scaling_child is not None:
        import probes

        isolate_temp(args.work)
        print(json.dumps(probes.scaling_child(args.scaling_child, args.seed, args.work)))
        return 0

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: --workload must be one of {names}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another benchmark run holds the lock; concurrent Spark "
              "sessions corrupt each other's timings", file=sys.stderr)
        return 3

    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, f"run-{run_id}")
    isolate_temp(run_dir)
    try:
        res = run_workload(args, run_dir, run_id)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result, correct = report(args, spec, res)
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
