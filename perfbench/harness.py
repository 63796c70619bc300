"""Measurement plumbing: session lifecycle, spans, plan metrics and RSS.

Nothing here reaches inside ``pdf_extract_spark``: spans are recorded
around calls into its public functions, plan metrics are read from the
physical plans Spark executed (through a ``QueryExecutionListener``), and
memory is read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.java_gateway import ensure_callback_server_started

from pdf_extract_spark.pipeline import run_extraction
from pdf_extract_spark.schemas import DOCUMENTS
from pdf_extract_spark.session import build_spark


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def median(values):
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------------ session

def spark_conf(work: str) -> dict:
    """Keep every file Spark writes inside the benchmark's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def build_session(cores: int, work: str):
    return build_spark(app_name="perfbench", master=f"local[{cores}]",
                       extra_conf=spark_conf(work))


def warm_workers(spark, cores: int, docs: list[dict]) -> None:
    """The first Arrow-UDF pass: one task per core, so every core forks
    its Python worker."""
    df = spark.createDataFrame(docs, schema=DOCUMENTS)
    noop(run_extraction(df, num_partitions=cores))


def noop(df) -> None:
    """Run ``df`` to the noop sink: every row is produced, none is kept."""
    df.write.format("noop").mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -------------------------------------------------------------------- spans

class Tracer:
    """In-memory spans (name, start, end, parent, run id) around calls into
    the program's layers, written out once when the run ends. Disabled
    tracers record nothing and cost one branch per span."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------- plan metrics

def _scala_metrics(plan) -> dict:
    out = {}
    ms = plan.metrics()
    it = ms.keys().iterator()
    while it.hasNext():
        k = it.next()
        out[k] = ms.apply(k).value()
    return out


def _walk(plan, out: list) -> None:
    name = plan.nodeName()
    label = plan.simpleString(200) if name in ("ArrowEvalPython", "Exchange") else ""
    out.append((name, label, _scala_metrics(plan)))
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(plan.executedPlan(), out)
    elif cls.endswith("QueryStageExec"):
        _walk(plan.plan(), out)
    children = plan.children().iterator()
    while children.hasNext():
        _walk(children.next(), out)


class PlanMetrics:
    """A ``QueryExecutionListener`` (implemented over the py4j callback
    server) that keeps, for every query the session completes while
    ``active``, the executed physical plan's nodes with their metrics."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.queries: list[list] = []
        self.errors: list[str] = []
        self._lock = threading.Lock()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        if not self.active:
            return
        try:
            nodes: list = []
            _walk(qe.executedPlan(), nodes)
        except Exception as e:  # a listener must never fail the query
            with self._lock:
                self.errors.append(f"{type(e).__name__}: {e}")
            return
        with self._lock:
            self.queries.append(nodes)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        return

    def take(self) -> list[list]:
        """Wait for pending listener events, then hand over what arrived."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            got, self.queries = self.queries, []
        return got

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def range_exchange_bytes(queries: list[list]) -> int:
    """``dataSize`` of the range-partitioning Exchanges (the pipeline's)."""
    return sum(m.get("dataSize", 0) for q in queries for n, label, m in q
               if n == "Exchange" and "rangepartitioning" in label)


def arrow_udf_metrics(queries: list[list], udf: str) -> dict:
    """Summed ArrowEvalPython metrics of the nodes that call ``udf``."""
    keys = ("pythonTotalTime", "pythonBootTime", "pythonInitTime",
            "pythonDataSent", "pythonDataReceived")
    tot = dict.fromkeys(keys, 0)
    for q in queries:
        for n, label, m in q:
            if n == "ArrowEvalPython" and f"{udf}(" in label:
                for k in keys:
                    tot[k] += m.get(k, 0)
    return tot


def scan_bytes(queries: list[list], fmt: str) -> int:
    return sum(m.get("filesSize", 0) for q in queries for n, _, m in q
               if n.startswith("Scan") and fmt in n)


# ---------------------------------------------------------------------- RSS

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants: the
    benchmark process, the JVM it launched and the JVM's Python workers."""
    kids = _children_map()
    todo = [root or os.getpid()]
    total_kb = 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
