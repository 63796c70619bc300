"""ANN variants: multiprobe recall dominance, IVF determinism and
sim-value consistency with brute force."""

from __future__ import annotations

from pdf_extract_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _by_query(rows):
    out = {}
    for r in rows:
        out.setdefault(r["q_id"], {})[r["cand_id"]] = r["sim"]
    return out


def test_multiprobe_recall_superset(spark):
    """Multiprobe candidates must contain every single-bucket candidate
    (probe set includes the exact bucket), so per-query recall vs brute
    force can only improve."""
    emb = _emb(spark)
    single = _by_query(S.ann_lsh_topk(emb, n_queries=5, k=50).collect())
    multi = _by_query(S.ann_lsh_multiprobe_topk(emb, n_queries=5, k=50).collect())
    brute = _by_query(S.cosine_topk(emb, n_queries=5, k=50).collect())
    for q in brute:
        s_hits = set(single.get(q, {})) & set(brute[q])
        m_hits = set(multi.get(q, {})) & set(brute[q])
        assert m_hits >= s_hits  # superset per query


def test_ivf_deterministic_and_consistent(spark):
    emb = _emb(spark)
    a = sorted(
        (r["q_id"], r["cand_id"], r["sim"], r["rank"])
        for r in S.ann_ivf_topk(emb, n_queries=4, k=5).collect()
    )
    b = sorted(
        (r["q_id"], r["cand_id"], r["sim"], r["rank"])
        for r in S.ann_ivf_topk(emb, n_queries=4, k=5).collect()
    )
    assert a == b and a  # two runs identical, non-empty

    # sim values agree with the brute-force computation for the same pairs
    brute = _by_query(S.cosine_topk(emb, n_queries=4, k=10**6).collect())
    for q_id, cand_id, sim, _ in a:
        assert brute[q_id][cand_id] == sim


def test_ivf_train_shapes(spark):
    emb = _emb(spark)
    cents = S.ivf_train(emb, n_cells=4, iters=2)
    assert len(cents) == 4
    dim = len(cents[0])
    assert all(len(c) == dim for c in cents)
    # training moved at least one centroid away from its seed
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    assert cents != seeds


def test_lsh_bucket_broadcast_path_matches_literal(spark):
    """with_lsh_bucket must produce IDENTICAL bucket ids through the
    literal-weights path and the broadcast-weights path (same md5-derived
    weights, same fold order)."""
    import pyspark.sql.functions as F

    dim = S.LSH_LITERAL_MAX_DIM + 44  # forces the broadcast path
    rows = [
        (i, [((i * 31 + j * 7) % 17 - 8) / 8.0 for j in range(dim)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    lit_df = df.withColumn("bucket", S.lsh_bucket_key(F.col("embedding"), dim))
    bro_df = S.with_lsh_bucket(df, "embedding", dim)
    lit = {r["vec_id"]: r["bucket"] for r in lit_df.collect()}
    bro = {r["vec_id"]: r["bucket"] for r in bro_df.collect()}
    assert lit == bro and len(set(lit.values())) > 1

    # and the plan stays small: no 8 x dim literal arrays inlined
    bro_plan = bro_df._jdf.queryExecution().executedPlan().toString()
    lit_plan = lit_df._jdf.queryExecution().executedPlan().toString()
    assert len(bro_plan) < len(lit_plan) / 2
    assert "BroadcastNestedLoopJoin" in bro_plan or "BroadcastExchange" in bro_plan


def test_ann_hot_bucket_cap(spark):
    """1k identical vectors collapse into one LSH bucket; max_bucket must
    keep the bucket join from going quadratic while normal vectors still
    rank. Queries keep probing — only the candidate side is capped."""
    hot = [(i, [1.0] * 8) for i in range(10, 1010)]
    normal = [
        (i, [1.0 if j == i else 0.1 for j in range(8)]) for i in range(5)
    ] + [(i + 5, [1.0 if j == i else 0.12 for j in range(8)]) for i in range(5)]
    df = spark.createDataFrame(normal + hot, "vec_id int, embedding array<double>")
    out = S.ann_lsh_topk(df, n_queries=5, k=3, dim=8, max_bucket=100).collect()
    assert out  # normal queries still produce ranked neighbours
    # no candidate from the capped hot bucket appears
    hot_ids = set(range(10, 1010))
    assert not (hot_ids & {r["cand_id"] for r in out})
    # the diagnostic surface identifies the hot bucket
    stats = {r["bucket"]: r["n_vecs"] for r in S.lsh_bucket_stats(df, dim=8).collect()}
    assert max(stats.values()) >= 1000


def test_minhash_hot_bucket_cap_and_plan(spark):
    """Degenerate corpus: 1k near-identical short docs share every band
    bucket. With max_bucket the band join must not go quadratic, and the
    candidate set crossing the band-join exchange must carry ONLY id
    pairs (no shingle arrays)."""
    import re

    import pyspark.sql.functions as F

    from pdf_extract_spark.operators import dedup as D

    hot = [(f"h{i:04d}", "running header line") for i in range(1000)]
    real = [
        ("a0", "the quick brown fox jumps over the lazy dog today"),
        ("a1", "the quick brown fox jumps over the lazy dog tonight"),
        ("b0", "completely different content about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(hot + real, "doc_id string, text string")

    capped = D.minhash_lsh_pairs(df, threshold=0.5, max_bucket=50)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rows = capped.collect()
        plan = capped._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert ("a0", "a1") in got          # real near-dups survive the cap
    assert not any(a.startswith("h") for a, _ in got)  # hot bucket dropped

    # candidates leaving the band join are bare id pairs: the projection
    # after the band join and the dedup aggregate hold exactly id_a/id_b
    assert re.search(
        r"HashAggregate\(keys=\[id_a#\d+L?, id_b#\d+L?\], functions=\[\], "
        r"output=\[id_a#\d+L?, id_b#\d+L?\]\)",
        plan,
    ), plan
    assert re.search(r"Project \[doc_id#\d+L? AS id_a#\d+L?, doc_id#\d+L? AS id_b#\d+L?\]", plan), plan

    # the shingle table is computed + shuffled ONCE: the second verify
    # join reads it through a ReusedExchange instead of recomputing
    assert re.search(r"ReusedExchange \[doc_id#\d+L?, sh#\d+\]", plan), plan

    # the diagnostic stats surface the degenerate buckets
    stats = D.lsh_band_stats(df)
    hot_buckets = stats.filter(F.col("n_docs") > 50).count()
    assert hot_buckets >= 1


# --------------------------------------------------------------------------
# recall instrumentation (ADVICE r3: recall figures must be MEASURED at
# report time, never embedded as literals)
# --------------------------------------------------------------------------

def _recall_by_query(rows) -> dict:
    d: dict = {}
    for r in rows:
        d.setdefault(r["q_id"], set()).add(r["cand_id"])
    return d


def _recall_vs_exact(emb, variants: dict, n_queries: int, k: int) -> dict[str, float]:
    """The single home of the recall@k definition (exact cosine_topk as
    ground truth, hits-over-truth-size, round 4): both the flat-sf and
    planted-cluster measurements go through here so tie handling or
    rounding can never diverge between them."""
    truth = _recall_by_query(S.cosine_topk(emb, n_queries=n_queries, k=k).collect())
    total = max(sum(len(truth[q]) for q in truth), 1)
    out = {}
    for name, df in variants.items():
        got = _recall_by_query(df.collect())
        hits = sum(len(got.get(q, set()) & truth[q]) for q in truth)
        out[name] = round(hits / total, 4)
    return out


def measure_ann_recall(spark, sf_dir: str, n_queries: int = 50, k: int = 10,
                       dim: int = 64) -> dict[str, float]:
    """recall@k of every ANN variant vs cosine_topk ground truth on the
    sf_dir embeddings — the accuracy side of the accuracy/cost trade.
    n_queries defaults to 50 (VERDICT r4 item 5): at 5 queries a single
    unlucky query moves recall@10 by 0.2; 50 queries x k=10 = 500
    candidate slots and it still runs in seconds at sf0.1."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    variants = {
        "lsh": S.ann_lsh_topk(emb, n_queries=n_queries, k=k, dim=dim),
        "multiprobe": S.ann_lsh_multiprobe_topk(emb, n_queries=n_queries, k=k, dim=dim),
        "multitable": S.ann_lsh_multitable_topk(emb, n_queries=n_queries, k=k, dim=dim),
        "ivf_fixed": S.ann_ivf_fixed_topk(emb, n_queries=n_queries, k=k),
        "ivf": S.ann_ivf_topk(emb, n_queries=n_queries, k=k),
    }
    return _recall_vs_exact(emb, variants, n_queries=n_queries, k=k)


def make_clustered_embeddings(spark, n: int = 400, k_clusters: int = 8,
                              dim: int = 64, sigma: float = 0.35,
                              seed: int = 113):
    """A GENUINELY clustered embedding corpus (k Gaussian clusters on
    well-separated centers) with a deliberately degenerate seeding
    prefix: the 8 lowest vec_ids — exactly the rows ivf_seed_centroids
    picks — are near-duplicates inside ONE cluster (the shape of a
    corpus whose ingest order groups similar documents). The untrained
    quantizer's cells are then near-random hyperplane slices through
    every other cluster, while Lloyd training walks the centroids out to
    the true clusters — the regime where training pays, complementing
    the weakly-clustered sf embeddings where it doesn't."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k_clusters, dim))
    centers = 4.0 * centers / np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k_clusters, size=n)
    pts = centers[labels] + sigma * rng.normal(size=(n, dim))
    for i in range(8):
        pts[i] = centers[0] + 0.05 * rng.normal(size=dim)
        labels[i] = 0
    rows = [(int(i), [float(x) for x in pts[i]], int(labels[i])) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def measure_clustered_ivf_recall(spark, n_queries: int = 50,
                                 k: int = 10) -> dict[str, float]:
    """recall@k of trained vs untrained IVF on the planted-cluster
    corpus — the evidence that training wins on clustered corpora. At
    n_queries=50 the query set spans every planted cluster (not just
    the degenerate near-dup seeding prefix the first 5 ids are), so the
    gap is the honest cross-cluster one: trained ~0.96 vs untrained
    ~0.71, rather than the prefix-only 0.82 vs 0.18."""
    emb = make_clustered_embeddings(spark)
    emb = emb.cache()
    emb.count()
    try:
        variants = {
            "ivf": S.ann_ivf_topk(emb, n_queries=n_queries, k=k),
            "ivf_fixed": S.ann_ivf_fixed_topk(emb, n_queries=n_queries, k=k),
        }
        return _recall_vs_exact(emb, variants, n_queries=n_queries, k=k)
    finally:
        emb.unpersist()


def test_ann_recall_measured(spark):
    recalls = measure_ann_recall(spark, SF)
    print(f"\nANN recall@10 vs brute force (n=50): {recalls}")
    # multiprobe probes a superset of lsh's buckets
    assert recalls["multiprobe"] >= recalls["lsh"]
    # the accuracy ladder this corpus exhibits (weakly clustered synthetic
    # embeddings), now over 50 queries x k=10 = 500 candidate slots
    # (VERDICT r4 item 5: at n=5 one unlucky query moved recall by 0.2):
    # one fine-grained sign-LSH table has near-zero recall, multi-table
    # recovers over a third of the true neighbours, distance-trained IVF
    # with 2-of-8 probed cells finds over half. Measured n=50 values:
    # sf0.001 {lsh .02, multiprobe .104, multitable .376, ivf_fixed
    # .518, ivf .572}; sf0.1 {.03, .134, .44, .498, .50}.
    assert recalls["multitable"] >= 0.3
    assert recalls["multitable"] > recalls["multiprobe"]
    assert recalls["ivf"] >= 0.5
    # the fixed (untrained-seed) quantizer shares the probe machinery, so
    # its recall lands in the same band — on THIS weakly-clustered
    # synthetic corpus it is competitive with the trained one: Lloyd
    # pulls centroids toward the global mean when clusters are weak,
    # trading probe diversity for within-cell fit. Training pays on
    # genuinely clustered data (test_trained_ivf_wins_on_clustered_corpus);
    # ann_ivf_fixed exists for oracle exactness either way.
    assert recalls["ivf_fixed"] >= 0.45


def test_dedup_components_transitive_chain(spark):
    """a~b and b~c (no direct a~c pair) must land in ONE component with
    the smallest id as keeper; singletons keep themselves."""
    from pdf_extract_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (3, 4)], "id_a long, id_b long"
    )
    universe = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    got = {
        r["doc_id"]: (r["component"], r["is_keeper"])
        for r in D.dedup_components(pairs, universe=universe).collect()
    }
    assert got[1] == (1, True) and got[2] == (1, False)
    assert got[3] == (1, False) and got[4] == (1, False)  # 3-hop chain
    assert got[7] == (7, True) and got[9] == (7, False)
    for s in (5, 6, 8, 10):
        assert got[s] == (s, True)


def test_dedup_components_raises_on_nonconvergence(spark):
    """A component with diameter > max_iter must raise loudly instead of
    returning a silently split cluster."""
    import pytest as _pytest

    from pdf_extract_spark.operators import dedup as D

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.dedup_components(chain, max_iter=2)
    # pointer jumping makes label distance halve per round: a 30-hop
    # chain resolves well within 8 rounds (vs 30 for plain propagation)
    got = {r["doc_id"]: r["component"]
           for r in D.dedup_components(chain, max_iter=8).collect()}
    assert set(got.values()) == {0}


def test_stratified_sample_deterministic_across_partitioning(spark):
    """The keep set must be a pure function of (salt, doc_id, rates) —
    identical under different partition counts, unlike df.sample."""
    from pdf_extract_spark.operators import textstats as TS

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rates = {"en": 0.4, "es": 0.9}
    a = {r["doc_id"] for r in TS.stratified_sample(d, rates).collect()}
    b = {r["doc_id"] for r in TS.stratified_sample(d.repartition(17), rates).collect()}
    assert a == b and a
    # unlisted strata fall to default_rate=0
    langs = {r["lang"] for r in TS.stratified_sample(d, rates).select("lang").distinct().collect()}
    assert langs <= {"en", "es"}
    # empirical rate lands near the requested one for the big stratum
    n_en_all = d.filter("lang = 'en'").count()
    n_en_kept = TS.stratified_sample(d, rates).filter("lang = 'en'").count()
    assert abs(n_en_kept / n_en_all - 0.4) < 0.15


def test_cross_corpus_pairs_sides_disjoint(spark):
    """Every returned pair must have its left id in the left corpus and
    right id in the right corpus (no self-join leakage)."""
    from pdf_extract_spark.operators import dedup as D

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    left = d.filter("doc_id % 2 = 0")
    right = d.filter("doc_id % 2 = 1")
    rows = D.minhash_lsh_pairs_between(left, right).collect()
    for r in rows:
        assert r["id_l"] % 2 == 0 and r["id_r"] % 2 == 1


def test_pack_documents_greedy_semantics(spark):
    """Budget overflow starts a new pack; an oversized doc packs alone;
    packs never exceed the budget unless a single doc does."""
    import pyspark.sql.functions as F

    from pdf_extract_spark.operators.packing import pack_documents

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate([10, 10, 10, 50, 90, 5])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_documents(df, budget=30, n_buckets=1).orderBy("doc_id").collect()
    packs = {}
    for r in out:
        packs.setdefault(r["pack_id"], []).append((r["doc_id"], r["n_tokens"]))
    for pid, members in packs.items():
        total = sum(t for _, t in members)
        assert total <= 30 or len(members) == 1  # only oversize singletons exceed
    # doc 4 (90 tokens > budget) is alone in its pack
    alone = [pid for pid, m in packs.items() if any(d == 4 for d, _ in m)]
    assert len(packs[alone[0]]) == 1
    # every doc packed exactly once
    assert sorted(d for m in packs.values() for d, _ in m) == [0, 1, 2, 3, 4, 5]


def test_trained_ivf_wins_on_clustered_corpus(spark):
    """On the planted-cluster corpus with a degenerate seeding prefix
    (make_clustered_embeddings), Lloyd training must
    decisively beat the untrained seed quantizer — the evidence that
    training pays on clustered corpora (frozen in BENCH.md; the sf
    embeddings show the opposite regime: weak clusters, where untrained
    seeds are competitive).

    n_queries=50 (VERDICT r4 item 5): the query set now spans every
    planted cluster instead of only the degenerate near-dup seeding
    prefix, so the measured gap is the honest cross-cluster one —
    trained 0.96 vs untrained 0.708 (deterministic fixture) — rather
    than the prefix-only 0.82 vs 0.18 r4 reported."""
    recalls = measure_clustered_ivf_recall(spark)
    print(f"\nclustered-corpus IVF recall@10 (n=50): {recalls}")
    assert recalls["ivf"] >= 0.9, recalls
    assert recalls["ivf_fixed"] <= 0.8, recalls
    assert recalls["ivf"] - recalls["ivf_fixed"] >= 0.2, recalls


def _planted_families(spark, n=40):
    """Two planted near-dup families + organic singletons (the query
    decoration's shape, in-memory)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base_a = [0.5] + [(i % 5 + 1) / 10 for i in range(2, 65)]
    base_b = [-0.5] + [
        ((i % 5 + 1) / 10) * (1 if i % 2 == 0 else -1) for i in range(2, 65)
    ]
    rows = []
    for vid in range(n):
        if vid % 7 == 3:
            v = list(base_a)
            v[0] += (vid % 3) / 100
        elif vid % 11 == 5:
            v = list(base_b)
            v[0] -= (vid % 3) / 100
        else:
            v = rng.normal(0, 0.15, 64).tolist()
        rows.append((vid, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_planted_families(spark):
    """Every non-min family member is dropped with the family min as
    witness; organic rows and the family minima keep."""
    out = {r.vec_id: r for r in S.semantic_dedup(_planted_families(spark)).collect()}
    fam_a = [v for v in range(40) if v % 7 == 3]
    fam_b = [v for v in range(40) if v % 11 == 5 and v % 7 != 3]
    for fam in (fam_a, fam_b):
        keeper = min(fam)
        assert out[keeper].keep and out[keeper].dup_of is None
        for m in fam:
            if m == keeper:
                continue
            assert not out[m].keep and out[m].dup_of == keeper
            assert out[m].dup_sim >= 0.95
    organic = [v for v in range(40) if v % 7 != 3 and v % 11 != 5]
    assert all(out[v].keep for v in organic)


def test_semantic_dedup_plan_cell_join_reused_no_cartesian(spark):
    """The pair join must be a cell equi-join (never a cartesian
    product), and its second side must ride a ReusedExchange over the
    one repartition(cell) shuffle instead of recomputing the centroid
    assignment. The input must CONTAIN near-dups: on a pair-free input
    AQE's empty-relation propagation deletes the whole join subtree
    (correct, but nothing left to reuse)."""
    import re

    out = S.semantic_dedup(_planted_families(spark, n=120))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out.collect()  # AQE materializes exchange reuse at runtime
        full = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    i, j = full.find("== Final Plan =="), full.find("== Initial Plan ==")
    final = full[i:j] if 0 <= i < j else full
    assert "CartesianProduct" not in final, final
    assert "BroadcastNestedLoopJoin" not in final, final
    # the pair join's second side rides the one repartition(cell)
    # exchange instead of recomputing the assignment
    assert "ReusedExchange" in final, final
    # exactly two input scans: the full-width pair relation (reused by
    # both join sides) and the column-pruned audit spine (which must
    # keep null-cell rows, so it cannot share the null-filtered pair
    # subtree) — the second side of the pair join never rescans
    assert final.count("Scan ExistingRDD") == 2, final


def test_semantic_dedup_null_and_empty_embeddings_twin_parity(spark):
    """NULL/empty embeddings get cell NULL and keep=true on BOTH
    engines (DuckDB's NULLS-LAST rank and list_reduce-over-empty would
    otherwise fabricate cell 0 — the nn CTE guard)."""
    import duckdb
    import pandas as pd
    from pandas.testing import assert_frame_equal

    base_a = [0.5] + [(i % 5 + 1) / 10 for i in range(2, 65)]
    base_b = [-0.5] + [
        ((i % 5 + 1) / 10) * (1 if i % 2 == 0 else -1) for i in range(2, 65)
    ]
    rows = [
        (0, base_a),                                     # seed centroid 0
        (1, base_b),                                     # seed centroid 1
        (2, [x + (0.01 if n == 0 else 0) for n, x in enumerate(base_a)]),
        (3, None),
        (4, []),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in S.semantic_dedup(df, n_cells=2).collect()}
    assert got[3].cell is None and got[3].keep and got[3].dup_of is None
    assert got[4].cell is None and got[4].keep and got[4].dup_of is None
    assert not got[2].keep and got[2].dup_of == 0
    assert got[0].keep and got[1].keep

    con = duckdb.connect()
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO emb VALUES (?, ?)", rows)
    odf = con.execute(S.semantic_dedup_sql(table="emb", n_cells=2)).df()
    sdf = S.semantic_dedup(df, n_cells=2).toPandas()
    cols = sorted(sdf.columns)
    sdf = sdf[cols].sort_values("vec_id").reset_index(drop=True)
    odf = odf[cols].sort_values("vec_id").reset_index(drop=True)
    assert_frame_equal(sdf, odf, check_dtype=True)
