"""Session lifecycle: a second build_spark in the same process must not
inherit UDFs bound to the first, stopped context, and a session built
without overrides gets one task slot per usable core."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = '''
import os
import sys
sys.path.insert(0, sys.argv[1])
from pdf_extract_spark import build_spark, generator
from pdf_extract_spark.pipeline import run_extraction
from pdf_extract_spark.schemas import DOCUMENTS

for _ in range(2):
    spark = build_spark(master="local[2]", shuffle_partitions=4)
    docs = spark.createDataFrame(generator.make_corpus(40, seed=5), schema=DOCUMENTS)
    assert len(run_extraction(docs, 4).collect()) == 40
    spark.stop()
print("TWO_SESSIONS_OK")

# with neither override set, a third session defaults to every usable core
os.environ.pop("SPARK_GRAFT_CPUS", None)
os.environ.pop("SPARK_GRAFT_MASTER", None)
spark = build_spark()
print("DEFAULT_MASTER", spark.sparkContext.master)
spark.stop()
'''


def test_second_session_logs_no_accumulator_errors(tmp_path):
    """Module-level UDFs cache their JVM function on first use, bound to
    that context's Python accumulator; without the rebind in build_spark
    every Python task of the second session logs "Failed to update
    accumulator ... Broken pipe"."""
    job = tmp_path / "two_sessions.py"
    job.write_text(JOB)
    proc = subprocess.run(
        [sys.executable, str(job), REPO],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "TWO_SESSIONS_OK" in proc.stdout
    assert proc.stderr.count("Failed to update accumulator") == 0
    # the default is what nproc prints, not a fixed slot count
    assert f"DEFAULT_MASTER local[{len(os.sched_getaffinity(0))}]" in proc.stdout
