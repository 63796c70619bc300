"""North-rule packaging evidence: the job ships and runs through a REAL
``spark-submit --py-files pdf_extract_spark.zip job.py`` subprocess —
no repo on the driver script's path, imports resolved from the zip."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = '''
import json, sys
from pyspark.sql import SparkSession

spark = (SparkSession.builder.appName("submit_smoke").getOrCreate())
# the package must come from --py-files, not the repo
import pdf_extract_spark
assert "pdf_extract_spark.zip" in pdf_extract_spark.__file__, pdf_extract_spark.__file__

from pdf_extract_spark import generator, oracle
from pdf_extract_spark.pipeline import run_extraction
from pdf_extract_spark.schemas import DOCUMENTS

docs = generator.make_corpus(40, seed=202)
out = run_extraction(spark.createDataFrame(docs, schema=DOCUMENTS), num_partitions=4)
got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
       for r in out.collect()}
assert got == oracle.expected_corpus(docs)
print("SUBMIT_RESULT " + json.dumps({"docs": len(got), "ok": True}))
spark.stop()
'''


def test_pyfiles_zip_is_byte_deterministic(tmp_path):
    """Equal source must zip to equal bytes regardless of mtimes — that
    makes addPyFile's "exists and does not match contents" mean exactly
    one thing (real version skew), which _ensure_shipped then surfaces."""
    sys.path.insert(0, REPO)
    from pdf_extract_spark import packaging

    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    packaging._ZIP_CACHE.clear()
    zip_a = packaging.build_pyfiles_zip(str(a))
    # bump every source mtime: bytes must not change
    pkg_dir = os.path.dirname(os.path.abspath(packaging.__file__))
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                os.utime(os.path.join(root, fn))
    packaging._ZIP_CACHE.clear()
    zip_b = packaging.build_pyfiles_zip(str(b))
    with open(zip_a, "rb") as fa, open(zip_b, "rb") as fb:
        assert fa.read() == fb.read()
    packaging._ZIP_CACHE.clear()


def test_ensure_shipped_surfaces_version_skew(monkeypatch):
    """A contents-mismatch from addPyFile is version skew and must raise,
    not be swallowed; unrelated failures propagate unchanged."""
    import importlib

    sys.path.insert(0, REPO)
    entry_mod = importlib.import_module("__spark_entry__")
    from pdf_extract_spark import packaging

    import pytest

    def raise_mismatch(spark):
        raise Exception(
            "File /tmp/x/pdf_extract_spark.zip exists and does not match "
            "contents of spark://host/files/pdf_extract_spark.zip"
        )

    monkeypatch.setattr(packaging, "ship_package", raise_mismatch)
    with pytest.raises(RuntimeError, match="version skew"):
        entry_mod._ensure_shipped(spark=None)

    def raise_other(spark):
        raise ValueError("disk full")

    monkeypatch.setattr(packaging, "ship_package", raise_other)
    with pytest.raises(ValueError, match="disk full"):
        entry_mod._ensure_shipped(spark=None)

    # Spark Connect: no SparkContext to ship through -> a no-op, not a
    # hard entry failure (the package is importable on the driver and
    # Connect deployments ship artifacts at session creation)
    class PySparkNotImplementedError(Exception):
        pass

    def raise_connect(spark):
        raise PySparkNotImplementedError(
            "sparkContext() is not implemented in Spark Connect")

    monkeypatch.setattr(packaging, "ship_package", raise_connect)
    entry_mod._ensure_shipped(spark=None)  # must not raise


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    # build the zip exactly as a deploy would
    sys.path.insert(0, REPO)
    from pdf_extract_spark.packaging import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path))
    job = tmp_path / "job.py"
    job.write_text(JOB)

    env = dict(os.environ)
    # scrub any path that would let the driver import the repo directly
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path, str(job)],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path), env=env,
    )
    marker = [l for l in proc.stdout.splitlines() if l.startswith("SUBMIT_RESULT ")]
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert marker, proc.stdout[-3000:]
    payload = json.loads(marker[0].split(" ", 1)[1])
    assert payload == {"docs": 40, "ok": True}


def test_pyfiles_zip_cache_keys_on_content_and_dest(tmp_path):
    """Edited package source must REBUILD the zip (a dir-keyed cache
    re-shipped stale bytes — silent version skew); an explicit dest_dir
    is honored even when a tempdir build is already cached."""
    sys.path.insert(0, REPO)
    from pdf_extract_spark import packaging

    packaging._ZIP_CACHE.clear()
    first = packaging.build_pyfiles_zip()          # tempdir build
    explicit = packaging.build_pyfiles_zip(str(tmp_path / "dist"))
    assert explicit.startswith(str(tmp_path / "dist"))
    assert first != explicit

    # same source -> same digest -> cache hit returns the same path
    assert packaging.build_pyfiles_zip() == first

    # content change -> new digest -> rebuild (different cache key)
    probe = tmp_path / "pkg"
    probe.mkdir()
    (probe / "a.py").write_text("x = 1\n")
    entries = packaging._package_entries(str(probe))
    d1 = packaging._source_digest(entries)
    (probe / "a.py").write_text("x = 2\n")
    assert packaging._source_digest(entries) != d1
    packaging._ZIP_CACHE.clear()


def test_build_pdf_rejects_unknown_variant():
    """build_pdf refuses unknown variants instead of silently serializing
    classic."""
    import pytest

    from pdf_extract_spark.sources import pdfgen

    with pytest.raises(ValueError, match="unknown pdf variant"):
        pdfgen.build_pdf(0, variant="obstm")


def test_bench_headline_names_catalogue_queries():
    """bench.py times every HEADLINE name through QUERIES; a catalogue
    rename must fail here, not in the one-JSON-line suite run."""
    sys.path.insert(0, REPO)
    import bench

    from pdf_extract_spark.queries import QUERIES

    assert set(bench.HEADLINE) <= set(QUERIES)
