"""Incremental (availableNow) extraction: exactly-once over arriving
files, outputs equal to the batch oracle, each micro-batch on the batch
extraction plan."""

from __future__ import annotations

from pdf_extract_spark import generator, oracle
from pdf_extract_spark.pipeline import run_extraction
from pdf_extract_spark.schemas import DOCUMENTS
from pdf_extract_spark.streaming import batch_sink, incremental_extraction


def _collect(spark, path):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in spark.read.parquet(path).collect()
    }


def test_incremental_extraction_exactly_once(spark, tmp_path):
    """Two availableNow waves land each doc exactly once, equal to the
    batch oracle after each wave."""
    inp, outp, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")

    batch1 = generator.make_corpus(20, seed=31)
    spark.createDataFrame(batch1, schema=DOCUMENTS).write.mode("append").parquet(inp)
    q = incremental_extraction(spark, inp, outp, ckpt)
    q.awaitTermination(120)
    got1 = _collect(spark, outp)
    assert got1 == oracle.expected_corpus(batch1)

    # second wave of files: only the NEW documents flow through
    batch2 = [generator.make_document(i, seed=31) for i in range(20, 32)]
    spark.createDataFrame(batch2, schema=DOCUMENTS).write.mode("append").parquet(inp)
    q2 = incremental_extraction(spark, inp, outp, ckpt)
    q2.awaitTermination(120)
    got2 = _collect(spark, outp)

    assert len(got2) == 32  # no duplicates from re-reading batch1 files
    assert spark.read.parquet(outp).count() == 32
    assert got2 == oracle.expected_corpus(batch1 + batch2)


def test_foreach_batch_lake_sink_idempotent(spark, tmp_path):
    """Two availableNow passes land each doc exactly once; a simulated
    batch REPLAY (the last batch_id re-committed through the same sink)
    does not duplicate rows — the dynamic overwrite replaces that batch's
    own partition."""
    inp, outp, ckpt = str(tmp_path / "in"), str(tmp_path / "lake"), str(tmp_path / "ck")
    w1 = generator.make_corpus(10, seed=61)
    spark.createDataFrame(w1, schema=DOCUMENTS).write.mode("append").parquet(inp)
    incremental_extraction(spark, inp, outp, ckpt).awaitTermination(180)

    w2 = [generator.make_document(i, seed=61) for i in range(10, 16)]
    spark.createDataFrame(w2, schema=DOCUMENTS).write.mode("append").parquet(inp)
    incremental_extraction(spark, inp, outp, ckpt).awaitTermination(180)

    lake = spark.read.parquet(outp)
    assert lake.count() == 16
    assert lake.select("doc_id").distinct().count() == 16

    # simulate the crash-replay window: re-commit wave 2 under ITS batch id
    replay_id = max(r["batch_id"] for r in lake.select("batch_id").distinct().collect())
    batch_sink(outp)(spark.createDataFrame(w2, schema=DOCUMENTS), replay_id)
    assert spark.read.parquet(outp).count() == 16  # no duplicates from the replay
    assert _collect(spark, outp) == oracle.expected_corpus(w1 + w2)


def test_drain_batch_plan_single_exchange(spark, tmp_path):
    """Each micro-batch of the drain plans exactly like the batch path:
    ONE range Exchange + ONE ArrowEvalPython (the assertions of
    tests/test_plans.py::test_extraction_single_exchange)."""
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    docs = generator.make_corpus(10, seed=2)
    spark.createDataFrame(docs, schema=DOCUMENTS).write.mode("append").parquet(inp)

    plans = []

    def record(batch_df, batch_id):
        out = run_extraction(batch_df)
        plans.append(out._jdf.queryExecution().executedPlan().toString())

    (
        spark.readStream.schema(DOCUMENTS).parquet(inp)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )

    assert plans
    for plan in plans:
        n_exchange = plan.count("+- Exchange") + plan.count("   Exchange")
        assert "rangepartitioning" in plan
        assert n_exchange == 1, plan
        assert plan.count("ArrowEvalPython") == 1, plan
