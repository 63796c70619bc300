"""Incremental (availableNow) extraction: exactly-once over arriving
files, outputs equal to the batch oracle."""

from __future__ import annotations

from pdf_extract_spark import generator, oracle
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


def test_stateful_chunk_assembler(spark, tmp_path):
    """Out-of-order chunk arrival across two availableNow passes; each doc
    emitted exactly once, output equal to the batch oracle."""
    import json

    from pdf_extract_spark.streaming import CHUNK_SCHEMA, assemble_and_extract_stream

    docs = generator.make_corpus(8, seed=47)
    rows = []
    for d in docs:
        spans = d["spans"]
        n = 3
        bounds = [0, len(spans) // 3, 2 * len(spans) // 3, len(spans)]
        for ci in range(n):
            rows.append({
                "doc_id": d["doc_id"], "chunk_idx": ci, "n_chunks": n,
                "payload": json.dumps(spans[bounds[ci]:bounds[ci + 1]]),
            })

    inp = str(tmp_path / "chunks")
    outp, ckpt = str(tmp_path / "assembled"), str(tmp_path / "ck2")

    # wave 1: chunks 2 and 0 (out of order); docs incomplete -> no output
    wave1 = [r for r in rows if r["chunk_idx"] != 1]
    spark.createDataFrame(wave1, schema=CHUNK_SCHEMA).write.mode("append").parquet(inp)
    q = assemble_and_extract_stream(spark, inp, outp, ckpt)
    q.awaitTermination(180)
    import os
    produced = (
        spark.read.parquet(outp).count()
        if any(f.endswith(".parquet") for f in os.listdir(outp))
        else 0
    )
    assert produced == 0

    # wave 2: the missing middle chunks -> every doc completes exactly once
    wave2 = [r for r in rows if r["chunk_idx"] == 1]
    spark.createDataFrame(wave2, schema=CHUNK_SCHEMA).write.mode("append").parquet(inp)
    q2 = assemble_and_extract_stream(spark, inp, outp, ckpt)
    q2.awaitTermination(180)

    got = {
        r["doc_id"]: [tuple(s.values()) for s in json.loads(r["spans_json"])]
        for r in spark.read.parquet(outp).collect()
        if r["status"] == "ok"
    }
    exp = {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in oracle.expected_spans(d)
        ]
        for d in docs
    }
    assert got == exp


def test_stateful_assembler_quarantines_malformed(spark, tmp_path):
    """Malformed chunk streams (inconsistent n_chunks, out-of-range index)
    must quarantine the affected doc as status='malformed' without failing
    the query; well-formed docs in the same batch complete normally."""
    import json

    from pdf_extract_spark.streaming import CHUNK_SCHEMA, assemble_and_extract_stream

    good = generator.make_document(0, seed=47)
    spans = good["spans"]
    rows = [
        {"doc_id": "good", "chunk_idx": 0, "n_chunks": 2,
         "payload": json.dumps(spans[: len(spans) // 2])},
        {"doc_id": "good", "chunk_idx": 1, "n_chunks": 2,
         "payload": json.dumps(spans[len(spans) // 2:])},
        # inconsistent n_chunks across chunks of the same doc
        {"doc_id": "bad_n", "chunk_idx": 0, "n_chunks": 2, "payload": "[]"},
        {"doc_id": "bad_n", "chunk_idx": 1, "n_chunks": 3, "payload": "[]"},
        # chunk_idx outside [0, n_chunks)
        {"doc_id": "bad_idx", "chunk_idx": 5, "n_chunks": 2, "payload": "[]"},
    ]
    inp = str(tmp_path / "chunks")
    outp, ckpt = str(tmp_path / "assembled"), str(tmp_path / "ck")
    spark.createDataFrame(rows, schema=CHUNK_SCHEMA).write.mode("append").parquet(inp)
    q = assemble_and_extract_stream(spark, inp, outp, ckpt)
    q.awaitTermination(180)

    out = {r["doc_id"]: r for r in spark.read.parquet(outp).collect()}
    assert out["good"]["status"] == "ok"
    assert [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in json.loads(out["good"]["spans_json"])
    ] == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in oracle.expected_spans(good)]
    assert out["bad_n"]["status"] == "malformed"
    assert "inconsistent n_chunks" in json.loads(out["bad_n"]["spans_json"])["error"]
    assert out["bad_idx"]["status"] == "malformed"
    assert "out of range" in json.loads(out["bad_idx"]["spans_json"])["error"]


def test_windowed_metrics_watermark_drops_late_rows(spark, tmp_path):
    """Watermarked tumbling-window rollup: a window emits exactly once
    when the watermark passes its end, and an event arriving later than
    the watermark delay is dropped rather than mutating the finalized
    window."""
    from datetime import datetime

    from pdf_extract_spark.streaming import DOC_EVENTS, windowed_doc_metrics

    def ts(minute):
        return datetime(2026, 1, 1, 10, minute)

    inp = str(tmp_path / "events")
    outp, ckpt = str(tmp_path / "metrics"), str(tmp_path / "ck")

    # wave 1: three docs in the 10:00-10:10 window, one at 10:25 that
    # advances the max event time (watermark becomes 10:15 after this run)
    wave1 = [
        ("d1", 10, ts(1)), ("d2", 20, ts(5)), ("d3", 30, ts(9)),
        ("d4", 40, ts(25)),
    ]
    spark.createDataFrame(wave1, schema=DOC_EVENTS).write.mode("append").parquet(inp)
    q = windowed_doc_metrics(spark, inp, outp, ckpt)
    q.awaitTermination(180)

    # wave 2: one fresh event at 10:41 plus a TOO-LATE straggler for the
    # already-finalized 10:00 window (watermark 10:15 > 10:06)
    wave2 = [("d5", 50, ts(41)), ("d_late", 999, ts(6))]
    spark.createDataFrame(wave2, schema=DOC_EVENTS).write.mode("append").parquet(inp)
    q2 = windowed_doc_metrics(spark, inp, outp, ckpt)
    q2.awaitTermination(180)

    rows = {
        r["window_start"].minute: (r["n_docs"], r["n_spans"])
        for r in spark.read.parquet(outp).collect()
    }
    # the 10:00 window emitted once, with wave-1 counts ONLY — the
    # straggler (999 spans) was dropped by the watermark
    assert rows[0] == (3, 60)


def test_quarantined_doc_ignores_redelivered_chunks(spark, tmp_path):
    """Chunks redelivered for an already-quarantined doc must be swallowed
    by the tombstone state — no duplicate rows, no resurrected buffer."""
    import json

    from pdf_extract_spark.streaming import CHUNK_SCHEMA, assemble_and_extract_stream

    inp = str(tmp_path / "chunks")
    outp, ckpt = str(tmp_path / "assembled"), str(tmp_path / "ck")

    wave1 = [
        {"doc_id": "bad", "chunk_idx": 0, "n_chunks": 2, "payload": "[]"},
        {"doc_id": "bad", "chunk_idx": 1, "n_chunks": 3, "payload": "[]"},  # inconsistent
    ]
    spark.createDataFrame(wave1, schema=CHUNK_SCHEMA).write.mode("append").parquet(inp)
    assemble_and_extract_stream(spark, inp, outp, ckpt).awaitTermination(180)

    # redeliver a now-consistent pair: must NOT produce an 'ok' row
    wave2 = [
        {"doc_id": "bad", "chunk_idx": 0, "n_chunks": 2, "payload": "[]"},
        {"doc_id": "bad", "chunk_idx": 1, "n_chunks": 2, "payload": "[]"},
    ]
    spark.createDataFrame(wave2, schema=CHUNK_SCHEMA).write.mode("append").parquet(inp)
    assemble_and_extract_stream(spark, inp, outp, ckpt).awaitTermination(180)

    rows = spark.read.parquet(outp).collect()
    assert len(rows) == 1
    assert rows[0]["status"] == "malformed"
    assert "inconsistent" in json.loads(rows[0]["spans_json"])["error"]


def test_completed_doc_ignores_redelivered_chunks(spark, tmp_path):
    """Chunks redelivered for an already-COMPLETED doc (normal under an
    at-least-once replayable source) must be swallowed by the done
    tombstone — exactly one status='ok' row, never a duplicate."""
    from pdf_extract_spark.streaming import CHUNK_SCHEMA, assemble_and_extract_stream

    inp = str(tmp_path / "chunks")
    outp, ckpt = str(tmp_path / "assembled"), str(tmp_path / "ck")

    wave1 = [
        {"doc_id": "d0", "chunk_idx": 0, "n_chunks": 2, "payload": "[]"},
        {"doc_id": "d0", "chunk_idx": 1, "n_chunks": 2, "payload": "[]"},
    ]
    spark.createDataFrame(wave1, schema=CHUNK_SCHEMA).write.mode("append").parquet(inp)
    assemble_and_extract_stream(spark, inp, outp, ckpt).awaitTermination(180)

    # source replays the SAME chunks: must not assemble + emit again
    spark.createDataFrame(wave1, schema=CHUNK_SCHEMA).write.mode("append").parquet(inp)
    assemble_and_extract_stream(spark, inp, outp, ckpt).awaitTermination(180)

    rows = spark.read.parquet(outp).collect()
    assert len(rows) == 1
    assert rows[0]["status"] == "ok"


def _chunk_sets(seed_a=31, seed_b=77):
    """Two docs, each split into a 2-chunk full set."""
    import json

    sets = []
    for seed in (seed_a, seed_b):
        doc = generator.make_corpus(1, seed=seed)[0]
        spans = doc["spans"]
        mid = len(spans) // 2
        sets.append((doc["doc_id"], [
            {"doc_id": doc["doc_id"], "chunk_idx": 0, "n_chunks": 2,
             "payload": json.dumps(spans[:mid])},
            {"doc_id": doc["doc_id"], "chunk_idx": 1, "n_chunks": 2,
             "payload": json.dumps(spans[mid:])},
        ]))
    return sets


def _ttl_stream_harness(spark, tmp_path, ttl_seconds):
    """Start a TTL'd assembler stream over tmp_path; returns
    (query, feed, ok_count, wait_for)."""
    import time

    from pdf_extract_spark.streaming import CHUNK_SCHEMA, assemble_and_extract_stream

    inp = str(tmp_path / "chunks")
    outp, ckpt = str(tmp_path / "assembled"), str(tmp_path / "ck")

    def feed(rows):
        spark.createDataFrame(rows, schema=CHUNK_SCHEMA).write.mode("append").parquet(inp)

    def ok_count(doc_id):
        try:
            rows = spark.read.parquet(outp).collect()
        except Exception:
            return 0
        return sum(1 for r in rows if r["status"] == "ok" and r["doc_id"] == doc_id)

    def wait_for(doc_id, n, timeout=120):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if ok_count(doc_id) >= n:
                return True
            time.sleep(0.5)
        return False

    feed([])  # the source path must exist before the stream starts
    q = assemble_and_extract_stream(
        spark, inp, outp, ckpt, tombstone_ttl_seconds=ttl_seconds
    )
    return q, feed, ok_count, wait_for


def test_tombstone_ttl_swallows_redelivery_within_ttl(spark, tmp_path):
    """A full redelivery while the tombstone lives is swallowed. The TTL
    here (600 s) cannot expire during the test, so the assertion is
    deterministic on any host; a second sentinel doc fed AFTER the
    redelivery proves the redelivery batch was actually consumed (the
    file source picks up files in arrival order) before we check that
    doc A still has exactly one output row."""
    (a_id, full_a), (b_id, full_b) = _chunk_sets()
    q, feed, ok_count, wait_for = _ttl_stream_harness(spark, tmp_path, 600)
    try:
        feed(full_a)                        # doc A completes
        assert wait_for(a_id, 1)
        feed(full_a)                        # FULL redelivery, tombstone alive
        feed(full_b)                        # sentinel: fed after the redelivery
        assert wait_for(b_id, 1)            # sentinel out => redelivery consumed
        assert ok_count(a_id) == 1          # swallowed by the tombstone
    finally:
        q.stop()


def test_tombstone_ttl_expiry_allows_replay_duplicate(spark, tmp_path):
    """After the TTL passes with no redeliveries, a cleanup batch removes
    the tombstone and a full replay re-emits the doc — the documented
    accepted trade (TTL must exceed the replay horizon; downstream
    lineage keyed on doc_id dedups stragglers). Timing-robust: each
    replay attempt sleeps well past the 1 s TTL first, and a swallowed
    too-early replay merely re-arms the tombstone for the next attempt —
    the loop converges on any host speed instead of racing one sleep
    against the cleanup batch."""
    import time

    (a_id, full_a), _ = _chunk_sets()
    q, feed, ok_count, wait_for = _ttl_stream_harness(spark, tmp_path, 1)
    try:
        feed(full_a)                        # doc A completes, tombstone armed
        assert wait_for(a_id, 1)
        deadline = time.time() + 150
        while ok_count(a_id) < 2 and time.time() < deadline:
            time.sleep(5)                   # >> TTL: tombstone expires between
            feed(full_a)                    # attempts; replay rebuilds + emits
            wait_for(a_id, 2, timeout=10)
        assert ok_count(a_id) >= 2          # duplicate = the documented trade
    finally:
        q.stop()


def test_stateful_assembler_quarantines_unparseable_payload(spark, tmp_path):
    """Payloads are parsed for the first time at ASSEMBLY — invalid JSON
    or a non-span-list payload in a completing doc must quarantine as
    status='malformed' instead of crashing the query (the 'malformed
    inputs never raise inside the stateful kernel' contract); a healthy
    doc in the same batch completes normally."""
    import json

    from pdf_extract_spark.streaming import CHUNK_SCHEMA, assemble_and_extract_stream

    good = generator.make_document(0, seed=48)
    spans = good["spans"]
    rows = [
        {"doc_id": "good", "chunk_idx": 0, "n_chunks": 1,
         "payload": json.dumps(spans)},
        # syntactically invalid JSON, buffers fine, explodes only at assembly
        {"doc_id": "bad_json", "chunk_idx": 0, "n_chunks": 1,
         "payload": "not-json{"},
        # valid JSON but not a span list
        {"doc_id": "bad_shape", "chunk_idx": 0, "n_chunks": 2, "payload": "[]"},
        {"doc_id": "bad_shape", "chunk_idx": 1, "n_chunks": 2, "payload": "123"},
    ]
    inp = str(tmp_path / "chunks")
    outp, ckpt = str(tmp_path / "assembled"), str(tmp_path / "ck")
    spark.createDataFrame(rows, schema=CHUNK_SCHEMA).write.mode("append").parquet(inp)
    q = assemble_and_extract_stream(spark, inp, outp, ckpt)
    q.awaitTermination(180)

    out = {r["doc_id"]: r for r in spark.read.parquet(outp).collect()}
    assert out["good"]["status"] == "ok"
    assert out["bad_json"]["status"] == "malformed"
    assert "unparseable payload" in json.loads(out["bad_json"]["spans_json"])["error"]
    assert out["bad_shape"]["status"] == "malformed"
    assert "not a span list" in json.loads(out["bad_shape"]["spans_json"])["error"]


def test_streaming_dedup_ingest_bounded_window(spark, tmp_path):
    """Ingest-stream exact dedup: duplicates within the watermark window
    are dropped, the state entry is EVICTED once the watermark passes
    ingest_ts + delay (bounded state), and a re-crawl arriving after
    eviction is re-admitted (left to the batch dedup pass by design)."""
    from datetime import datetime

    from pdf_extract_spark.streaming import DOC_ARRIVALS, streaming_dedup_ingest

    def ts(h, m):
        return datetime(2026, 1, 1, h, m)

    X = "alpha beta gamma delta"
    Y = "epsilon zeta eta theta"
    Z = "iota kappa lambda mu"

    inp = str(tmp_path / "arrivals")
    outp, ckpt = str(tmp_path / "kept"), str(tmp_path / "ck")

    # wave 1: a/c share content X within the window (one kept, one
    # dropped — WHICH of the two survives inside a single microbatch is
    # unspecified, so assertions count per-fingerprint survivors);
    # z advances event time to 11:10, so after this run the watermark is
    # 10:40 and both the X and Y entries (expiring 10:3x) are evicted.
    wave1 = [
        ("a", X, ts(10, 0)), ("b", Y, ts(10, 2)),
        ("c", X, ts(10, 4)), ("z", Z, ts(11, 10)),
    ]
    spark.createDataFrame(wave1, schema=DOC_ARRIVALS).write.mode(
        "append"
    ).parquet(inp)
    q = streaming_dedup_ingest(spark, inp, outp, ckpt)
    q.awaitTermination(180)

    # wave 2: X re-arrives AFTER its state was evicted — re-admitted
    # (exactly one of d/e survives; had the state NOT been evicted, BOTH
    # would have been dropped as duplicates of wave 1's keeper).
    wave2 = [("d", X, ts(11, 5)), ("e", X, ts(11, 6))]
    spark.createDataFrame(wave2, schema=DOC_ARRIVALS).write.mode(
        "append"
    ).parquet(inp)
    q2 = streaming_dedup_ingest(spark, inp, outp, ckpt)
    q2.awaitTermination(180)

    kept = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    assert "b" in kept and "z" in kept
    assert len(kept & {"a", "c"}) == 1  # in-window duplicate dropped
    assert len(kept & {"d", "e"}) == 1  # evicted key re-admitted once
    assert len(kept) == 4
