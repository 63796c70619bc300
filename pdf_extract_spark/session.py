"""SparkSession construction with scale-aware defaults.

Local-mode testing uses ``local[N]``; the same config block is what we'd
ship to a real cluster via ``spark-submit --py-files`` (see
``packaging.py`` / README).  AQE is always on: it gives runtime join-
strategy selection, partition coalescing and skew-join splitting — the
three things that matter most at the 100 TB design point.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql.udf import UserDefinedFunction


def build_spark(
    app_name: str = "pdf_extract_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    Parameters are env-overridable so the bench harness can run the
    identical job at two parallelism levels (``SPARK_GRAFT_CPUS``) to
    evidence the N -> 4N scaling criterion (BASELINE.md). Without
    either override the master is ``local[<cores this process may
    use>]``, what ``nproc`` prints.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a real cluster this
        # would be ~2-3x total cores (AQE coalesces the excess).
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            n = 32
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound arrow batches so a giant document row can't blow a worker:
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to python workers (programmatic equivalent of
    # `spark-submit --py-files pdf_extract_spark.zip`)
    from pdf_extract_spark.packaging import ship_package

    ship_package(spark)
    _rebind_udfs()
    return spark


def _rebind_udfs() -> None:
    """Drop the cached JVM function of every module-level UDF loaded so
    far, so each rebuilds against the live context on its next use.
    PySpark builds it once, on first use, bound to that context's Python
    accumulator; after ``stop()`` and a new session the stale binding
    makes every Python task log "Failed to update accumulator ... Broken
    pipe". Names and ``.func`` are untouched."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("pdf_extract_spark"):
            continue
        for v in list(vars(mod).values()):
            udf = getattr(v, "_unwrapped", None) if callable(v) else None
            if isinstance(udf, UserDefinedFunction):
                udf._judf_placeholder = None
