"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, plus a random-
projection LSH-bucketed variant as the 100 TB scale path (bucket first,
rank within bucket — turns the O(N·Q) cross join into per-bucket joins).

Engine portability: all arithmetic is promoted to double BEFORE any
accumulation and folded strictly left-to-right on both engines
(Spark ``aggregate`` / DuckDB ``list_reduce``), so cosine values are
bit-identical and survive the driver's value-hash comparison after
rounding. Hyperplanes for LSH are derived from the portable md5 hash —
no RNG, no state to ship.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from pdf_extract_spark.operators.hashing import phash_sql

N_PLANES = 8
PLANE_RES = 1000  # hyperplane weights quantized to 1/1000 steps


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


_DOT_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), "
    "(acc, x) -> acc + x)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform({a}, x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x))"
)


def cosine_sql(a: str, b: str) -> str:
    return f"({_DOT_SQL.format(a=a, b=b)} / ({_NORM_SQL.format(a=a)} * {_NORM_SQL.format(a=b)}))"


# -------------------------------------------------------- brute-force topk

def cosine_topk(
    df: DataFrame, n_queries: int = 5, k: int = 10, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbours for the first ``n_queries`` vectors
    (query set = vec_id < n_queries), brute force.

    Returns (q_id, cand_id, sim, rank); ranking on round(sim, 6) with
    cand_id tiebreak so results are engine-deterministic."""
    from pyspark.sql import Window as W

    q = df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = df.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"))
    sims = (
        q.crossJoin(c)
        .filter(F.col("q_id") != F.col("cand_id"))
        .select(
            "q_id",
            "cand_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("sim"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return sims.withColumn("rank", F.row_number().over(w).cast("long")).filter(F.col("rank") <= k)


def cosine_topk_sql(
    table: str = "embeddings", n_queries: int = 5, k: int = 10
) -> str:
    cos = cosine_sql("q.embedding", "c.embedding")
    return f"""
WITH sims AS (
  SELECT q.vec_id AS q_id, c.vec_id AS cand_id, round({cos}, 6) AS sim
  FROM {table} q CROSS JOIN {table} c
  WHERE q.vec_id < {n_queries} AND q.vec_id != c.vec_id),
ranked AS (
  SELECT q_id, cand_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id ASC) AS rank
  FROM sims)
SELECT * FROM ranked WHERE rank <= {k}
"""


# ----------------------------------------------------- embedding near-dup

def embedding_near_dup(
    df: DataFrame, threshold: float = 0.95, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (id_a < id_b). The exactness
    baseline for embedding near-dup dedup; at scale the pair space is
    pre-pruned by lsh_buckets below."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def embedding_near_dup_sql(table: str = "embeddings", threshold: float = 0.95) -> str:
    cos = cosine_sql("a.embedding", "b.embedding")
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS sim
FROM {table} a CROSS JOIN {table} b
WHERE a.vec_id < b.vec_id AND round({cos}, 6) >= {threshold}
"""


# ------------------------------------------------- LSH-bucketed scale path

def _plane_weight_py(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-1, 1]: derived
    from the portable md5 hash of 'pl{plane}:{dim}' — the same value the
    DuckDB oracle computes at query time (hashing.phash semantics)."""
    import hashlib

    h = int(hashlib.md5(f"pl{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h % (2 * PLANE_RES + 1) - PLANE_RES) / float(PLANE_RES)


def _sign_bit_bucket(vec: Column, weight_of, n_planes: int, offset: int = 0) -> Column:
    """Shared sign-of-projection fold: bit p of the bucket id is set iff
    vec . weights(p) > 0. ``weight_of(p)`` returns the per-dimension
    weight array Column for plane p — a literal array, a broadcast-row
    lookup, or a per-table derivation; all LSH bucket variants route
    through this one fold so the projection arithmetic cannot diverge."""
    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec, weight_of(p), lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out + F.lit(offset) if offset else out


def lsh_bucket_key(vec: Column, dim: int) -> Column:
    """Sign bits of N_PLANES random projections -> integer bucket id.

    The hyperplane weights depend only on (plane, dim index), so they are
    folded to LITERAL arrays at plan-build time — the runtime does one
    zip_with multiply-accumulate per plane, no per-row hashing (the DuckDB
    oracle recomputes the same md5-derived weights symbolically)."""
    return _sign_bit_bucket(
        vec,
        lambda p: F.array(*[F.lit(_plane_weight_py(p, i)) for i in range(1, dim + 1)]),
        N_PLANES,
    )


# above this dimensionality the 8 x dim literal weight arrays stop being
# harmless plan constants and start bloating the plan string / codegen;
# switch to a broadcast one-row weights relation instead
LSH_LITERAL_MAX_DIM = 256


def with_lsh_bucket(
    df: DataFrame, vec_col: str, dim: int, out_col: str = "bucket"
) -> DataFrame:
    """Append the LSH bucket id for ``vec_col``.

    dim < LSH_LITERAL_MAX_DIM: the hyperplane weights fold to literal
    arrays in the plan (zero joins, constant-folded).
    dim >= LSH_LITERAL_MAX_DIM: the same weights ship as ONE broadcast
    row (planes array<array<double>>) cross-joined in — the plan stays
    small at dim 768+ and the arithmetic is identical (asserted in
    tests/test_similarity_ann.py)."""
    if dim < LSH_LITERAL_MAX_DIM:
        return df.withColumn(out_col, lsh_bucket_key(F.col(vec_col), dim))
    spark = df.sparkSession
    planes = [
        [_plane_weight_py(p, i) for i in range(1, dim + 1)] for p in range(N_PLANES)
    ]
    w_df = spark.createDataFrame(
        [(planes,)],
        T.StructType([T.StructField(
            "__lsh_planes", T.ArrayType(T.ArrayType(T.DoubleType())), False)]),
    )
    joined = df.crossJoin(F.broadcast(w_df))
    out = _sign_bit_bucket(
        F.col(vec_col), lambda p: F.col("__lsh_planes")[p], N_PLANES
    )
    return joined.withColumn(out_col, out).drop("__lsh_planes")


def _plane_weight_sql(plane: int, dim_expr: str) -> str:
    h = phash_sql(f"'pl{plane}:' || ({dim_expr})::VARCHAR")
    return f"(({h} % {2 * PLANE_RES + 1} - {PLANE_RES}) / {PLANE_RES}.0)"


def lsh_bucket_key_sql(vec: str) -> str:
    bits = []
    for p in range(N_PLANES):
        w = _plane_weight_sql(p, "i")
        proj = (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(1, len({vec}) + 1), i -> {vec}[i]::DOUBLE * {w})), "
            f"(acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _resolve_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Pass ``dim`` explicitly in production — the fallback probes one row
    (a tiny driver action, fine interactively, a needless job per call in
    a pipeline)."""
    if dim is not None:
        return dim
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(first["d"]) if first else 0


def _cap_buckets(with_b: DataFrame, max_bucket: int | None) -> DataFrame:
    """Degenerate-bucket guard (same defense as minhash_lsh_pairs): drop
    candidate rows in buckets holding more than ``max_bucket`` vectors —
    a hot bucket (duplicate/zero embeddings) would otherwise degrade the
    bucket join to all-pairs. Not silent: ``lsh_bucket_stats`` reports
    occupancy."""
    if max_bucket is None:
        return with_b
    sizes = with_b.groupBy("bucket").agg(F.count("*").alias("n_vecs"))
    return with_b.join(
        F.broadcast(sizes.filter(F.col("n_vecs") <= max_bucket).select("bucket")),
        "bucket",
    )


def lsh_bucket_stats(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Bucket occupancy (bucket, n_vecs) — run before choosing a
    ``max_bucket`` cap for the ANN functions."""
    dim = _resolve_dim(df, vec_col, dim)
    with_b = with_lsh_bucket(
        df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")), "vec", dim
    )
    return with_b.groupBy("bucket").agg(F.count("*").alias("n_vecs"))


def _rank_topk(q, c, key: str, k: int, dedup: bool) -> DataFrame:
    """The shared candidate-join -> exact-cosine -> per-query top-k tail
    of every LSH/IVF variant: equi-join on the bucket/cell key, drop
    self-pairs, round(cosine, 6), optional multi-probe pair dedup, then
    row_number over (sim desc, cand_id asc) <= k. ONE definition keeps
    the tie-break and rounding in lockstep across all four variants and
    their SQL mirrors — a change applied to one copy but not the others
    would silently break oracle exactness for just that variant."""
    from pyspark.sql import Window as W

    sims = (
        q.join(c, key)
        .filter(F.col("q_id") != F.col("cand_id"))
        .select("q_id", "cand_id",
                F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("sim"))
    )
    if dedup:
        sims = sims.dropDuplicates(["q_id", "cand_id"])
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ann_lsh_topk(
    df: DataFrame, n_queries: int = 5, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    Returns (q_id, cand_id, sim, rank) — approximate recall, bounded work:
    the join key is the bucket, so shuffle volume is sum of bucket sizes,
    not |Q|x|N|."""

    dim = _resolve_dim(df, vec_col, dim)
    with_b = with_lsh_bucket(
        df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")), "vec", dim
    )
    q = with_b.filter(F.col("vid") < n_queries).select(
        F.col("vid").alias("q_id"), F.col("vec").alias("q_vec"), "bucket"
    )
    # the cap applies to the CANDIDATE side only — queries keep probing
    c = _cap_buckets(with_b, max_bucket).select(
        F.col("vid").alias("cand_id"), F.col("vec").alias("c_vec"), "bucket"
    )
    return _rank_topk(q, c, "bucket", k, dedup=False)


def ann_lsh_multiprobe_topk(
    df: DataFrame, n_queries: int = 5, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Multiprobe LSH: each query also probes the N_PLANES buckets at
    Hamming distance 1 from its own (flip one sign bit) — the standard
    recall-recovery trick, still bounded work: candidate volume is
    (1 + N_PLANES) bucket joins instead of a full cross join."""

    dim = _resolve_dim(df, vec_col, dim)
    with_b = with_lsh_bucket(
        df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")), "vec", dim
    )
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(N_PLANES)]
    )
    q = (
        with_b.filter(F.col("vid") < n_queries)
        .select(F.col("vid").alias("q_id"), F.col("vec").alias("q_vec"),
                F.explode(probes).alias("bucket"))
    )
    # the cap applies to the CANDIDATE side only — queries keep probing
    c = _cap_buckets(with_b, max_bucket).select(
        F.col("vid").alias("cand_id"), F.col("vec").alias("c_vec"), "bucket"
    )
    return _rank_topk(q, c, "bucket", k, dedup=True)


# ------------------------------------------------- multi-table LSH
#
# A single sign-LSH table with 8 planes partitions the space into 256
# buckets — precise but recall-poor on weakly-clustered corpora (the
# query's true neighbours rarely agree on ALL sign bits; measured
# recall@10 on the synthetic embeddings is ~0). The classical remedy is
# L independent tables with fewer planes each: a pair is a candidate if
# it collides in ANY table. Candidate volume stays bounded (L bucket
# joins), recall rises steeply (see tests/test_similarity_ann.py's
# measured numbers in BENCH.md).

MT_TABLES = 4
MT_PLANES = 4


def _mt_plane_weight_py(table: int, plane: int, dim: int) -> float:
    """Per-table hyperplane weight — same md5 derivation as
    _plane_weight_py with the table index in the key."""
    import hashlib

    h = int(hashlib.md5(f"t{table}p{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h % (2 * PLANE_RES + 1) - PLANE_RES) / float(PLANE_RES)


def _mt_bucket_key(vec: Column, table: int, dim: int) -> Column:
    # table id folded into the key so buckets of different tables never join
    return _sign_bit_bucket(
        vec,
        lambda p: F.array(
            *[F.lit(_mt_plane_weight_py(table, p, i)) for i in range(1, dim + 1)]
        ),
        MT_PLANES,
        offset=table * (1 << MT_PLANES),
    )


def ann_lsh_multitable_topk(
    df: DataFrame, n_queries: int = 5, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Multi-table sign-LSH top-k: MT_TABLES independent 4-plane tables;
    each vector lands in one bucket PER TABLE (explode), candidates are
    same-bucket pairs in any table, deduplicated, ranked by exact cosine.
    Shuffle volume is sum of per-table bucket sizes — still no cross
    join — with far better recall than one fine-grained table."""

    dim = _resolve_dim(df, vec_col, dim)
    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    buckets = F.array(*[_mt_bucket_key(F.col("vec"), t, dim) for t in range(MT_TABLES)])
    with_b = base.select("vid", "vec", F.explode(buckets).alias("bucket"))
    q = with_b.filter(F.col("vid") < n_queries).select(
        F.col("vid").alias("q_id"), F.col("vec").alias("q_vec"), "bucket"
    )
    c = _cap_buckets(with_b, max_bucket).select(
        F.col("vid").alias("cand_id"), F.col("vec").alias("c_vec"), "bucket"
    )
    return _rank_topk(q, c, "bucket", k, dedup=True)


def _mt_bucket_key_sql(vec: str, table: int) -> str:
    bits = []
    for p in range(MT_PLANES):
        h = phash_sql(f"'t{table}p{p}:' || (i)::VARCHAR")
        w = f"(({h} % {2 * PLANE_RES + 1} - {PLANE_RES}) / {PLANE_RES}.0)"
        proj = (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(1, len({vec}) + 1), i -> {vec}[i]::DOUBLE * {w})), "
            f"(acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + f" + {table * (1 << MT_PLANES)})"


def ann_lsh_multitable_topk_sql(
    table: str = "embeddings", n_queries: int = 5, k: int = 5
) -> str:
    cos = cosine_sql("q.q_vec", "c.c_vec")
    keys = ", ".join(_mt_bucket_key_sql("embedding", t) for t in range(MT_TABLES))
    return f"""
WITH wb AS (SELECT vec_id AS vid, embedding AS vec,
                   unnest([{keys}]) AS bucket FROM {table}),
q AS (SELECT vid AS q_id, vec AS q_vec, bucket FROM wb WHERE vid < {n_queries}),
c AS (SELECT vid AS cand_id, vec AS c_vec, bucket FROM wb),
sims AS (
  SELECT DISTINCT q_id, cand_id, round({cos}, 6) AS sim
  FROM q JOIN c USING (bucket) WHERE q_id != cand_id),
ranked AS (
  SELECT q_id, cand_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id ASC) AS rank
  FROM sims)
SELECT * FROM ranked WHERE rank <= {k}
"""


def ann_lsh_multiprobe_topk_sql(
    table: str = "embeddings", n_queries: int = 5, k: int = 5
) -> str:
    bkey = lsh_bucket_key_sql("embedding")
    cos = cosine_sql("q.q_vec", "c.c_vec")
    probe_list = ", ".join(["bucket"] + [f"xor(bucket, {1 << p})" for p in range(N_PLANES)])
    return f"""
WITH wb AS (SELECT vec_id AS vid, embedding AS vec, {bkey} AS bucket FROM {table}),
q AS (SELECT vid AS q_id, vec AS q_vec, unnest([{probe_list}]) AS bucket
      FROM wb WHERE vid < {n_queries}),
c AS (SELECT vid AS cand_id, vec AS c_vec, bucket FROM wb),
sims AS (
  SELECT DISTINCT q_id, cand_id, round({cos}, 6) AS sim
  FROM q JOIN c USING (bucket) WHERE q_id != cand_id),
ranked AS (
  SELECT q_id, cand_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id ASC) AS rank
  FROM sims)
SELECT * FROM ranked WHERE rank <= {k}
"""


# ------------------------------------------------------------- IVF variant

IVF_CELLS = 8
IVF_ITERS = 3
IVF_PROBE = 2


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _lit_vec(vals: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vals])


def ivf_train(
    df: DataFrame, n_cells: int = IVF_CELLS, iters: int = IVF_ITERS,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd iterations: seeds = the ``n_cells`` lowest
    vec_ids; each iteration is ONE distributed job (assign via literal
    centroid expressions, update via posexplode + per-dimension avg); only
    the k x dim centroid matrix ever reaches the driver."""
    # loop-invariant input: localCheckpoint ONCE (the CLAUDE.md
    # iterative-operator invariant) — else the seed collect and every
    # Lloyd iteration re-execute the full upstream lineage of df
    df = df.select(id_col, vec_col).localCheckpoint()
    centroids = ivf_seed_centroids(df, n_cells, id_col, vec_col)
    for _ in range(iters):
        dists = F.array(*[_sq_dist(F.col(vec_col), _lit_vec(c)) for c in centroids])
        cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        assigned = df.select(cell.alias("cell"), F.posexplode(vec_col).alias("pos", "x"))
        means = (
            assigned.groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = {(r["cell"], r["pos"]): r["m"] for r in means}
        centroids = [
            [new.get((ci, p), centroids[ci][p]) for p in range(len(centroids[ci]))]
            for ci in range(len(centroids))
        ]
    return centroids


def ivf_seed_centroids(
    df: DataFrame, n_cells: int = IVF_CELLS,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> list[list[float]]:
    """The deterministic pre-training centroids (the ``n_cells`` lowest
    vec_ids' embeddings, in vec_id order) — both Lloyd's seeding and the
    fixed quantizer of ann_ivf_fixed_topk."""
    seeds = df.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    return [[float(x) for x in r[vec_col]] for r in seeds]


def ann_ivf_topk(
    df: DataFrame, n_queries: int = 5, k: int = 5,
    n_cells: int = IVF_CELLS, n_probe: int = IVF_PROBE,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize with the trained centroids,
    queries probe their ``n_probe`` nearest cells, rank within probed
    cells. Iterative training => rows-only correctness check (the driver
    records row/schema stability; determinism is tested in pytest; the
    probe/rank half is value-verified through ann_ivf_fixed_topk, which
    shares _ivf_probe_rank)."""
    centroids = ivf_train(df, n_cells, id_col=id_col, vec_col=vec_col)
    return _ivf_probe_rank(df, centroids, n_queries, k, n_probe, id_col, vec_col)


def ann_ivf_fixed_topk(
    df: DataFrame, n_queries: int = 5, k: int = 5,
    n_cells: int = IVF_CELLS, n_probe: int = IVF_PROBE,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe/rank over DETERMINISTIC untrained centroids (the Lloyd
    seeds). Same physical path as ann_ivf_topk — assignment against
    literal centroids, probe-``n_probe`` cell equi-join, windowed rank —
    but with no float-order-sensitive training, so the whole query is
    value-exact against the DuckDB mirror (ann_ivf_fixed_topk_sql).
    Recall is that of an untrained quantizer; the purpose is verifying
    the probe/rank machinery, while ann_ivf_topk carries the recall."""
    centroids = ivf_seed_centroids(df, n_cells, id_col, vec_col)
    return _ivf_probe_rank(df, centroids, n_queries, k, n_probe, id_col, vec_col)


def _ivf_probe_rank(
    df: DataFrame, centroids: list[list[float]], n_queries: int, k: int,
    n_probe: int, id_col: str, vec_col: str,
) -> DataFrame:
    """Shared IVF query path: assign every vector to its nearest centroid
    (argmin of exact squared distance, FIRST minimum wins ties), have
    each query probe its ``n_probe`` nearest cells, cosine-rank within
    the probed candidates. Centroids travel as plan literals (k x dim
    doubles — bounded), so assignment is one map-only pass and the only
    shuffle is the cell equi-join."""

    dists = F.array(*[_sq_dist(F.col(vec_col), _lit_vec(c)) for c in centroids])
    cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    data = df.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"), cell.alias("cell")
    )
    # queries probe their n_probe closest cells
    qd = df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), dists.alias("dists")
    )
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    ranked_cells = F.slice(
        F.transform(
            F.array_sort(
                F.zip_with(F.col("dists"), idx, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
            ),
            lambda s: s["i"],
        ),
        1,
        n_probe,
    )
    q = qd.select("q_id", "q_vec", F.explode(ranked_cells).alias("cell"))
    return _rank_topk(q, data, "cell", k, dedup=True)


def ann_lsh_topk_sql(table: str = "embeddings", n_queries: int = 5, k: int = 5) -> str:
    bkey = lsh_bucket_key_sql("embedding")
    cos = cosine_sql("q.q_vec", "c.c_vec")
    return f"""
WITH wb AS (SELECT vec_id AS vid, embedding AS vec, {bkey} AS bucket FROM {table}),
q AS (SELECT vid AS q_id, vec AS q_vec, bucket FROM wb WHERE vid < {n_queries}),
c AS (SELECT vid AS cand_id, vec AS c_vec, bucket FROM wb),
sims AS (
  SELECT q_id, cand_id, round({cos}, 6) AS sim
  FROM q JOIN c USING (bucket) WHERE q_id != cand_id),
ranked AS (
  SELECT q_id, cand_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id ASC) AS rank
  FROM sims)
SELECT * FROM ranked WHERE rank <= {k}
"""


_SQDIST_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len({a}) + 1), "
    "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), "
    "(acc, x) -> acc + x)"
)


def ann_ivf_fixed_topk_sql(
    table: str = "embeddings", n_queries: int = 5, k: int = 5,
    n_cells: int = IVF_CELLS, n_probe: int = IVF_PROBE,
) -> str:
    """DuckDB mirror of ann_ivf_fixed_topk. Exactness argument: both
    engines widen the same float32 parquet values to float64 and sum the
    per-dimension terms LEFT-TO-RIGHT (F.aggregate / list_reduce), so
    distances and cosines are bit-identical; argmin and probe ties break
    on the lowest cell index in both (array_position-of-min vs
    row_number ORDER BY dist, cell)."""
    sq_assign = _SQDIST_SQL.format(a="e.embedding", b="c.cvec")
    cos = cosine_sql("q.q_vec", "a.embedding")
    return f"""
WITH cent AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell, embedding AS cvec
  FROM {table}
  WHERE vec_id IN (SELECT vec_id FROM {table} ORDER BY vec_id LIMIT {n_cells})),
d AS (
  SELECT e.vec_id, e.embedding, c.cell, {sq_assign} AS dist
  FROM {table} e CROSS JOIN cent c),
assign AS (
  SELECT vec_id, embedding, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
        FROM d) WHERE rn = 1),
qprobe AS (
  SELECT vec_id AS q_id, embedding AS q_vec, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
        FROM d WHERE vec_id < {n_queries}) WHERE rn <= {n_probe}),
sims AS (
  SELECT DISTINCT q.q_id, a.vec_id AS cand_id, round({cos}, 6) AS sim
  FROM qprobe q JOIN assign a USING (cell) WHERE q.q_id != a.vec_id),
ranked AS (
  SELECT q_id, cand_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id ASC) AS rank
  FROM sims)
SELECT * FROM ranked WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# SemDeDup — semantic (embedding-space) deduplication
# --------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = 0.95


def semantic_dedup(
    df: DataFrame, threshold: float = SEMDEDUP_THRESHOLD,
    n_cells: int = IVF_CELLS,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then call two
    documents semantic duplicates when their cosine similarity WITHIN a
    cluster reaches ``threshold``; keep the lowest-id member of each
    duplicate relation (a doc is dropped iff a lower-id same-cell doc is
    ``threshold``-similar — the keep-first discipline of dedup_keepfirst,
    and the greedy rule of the paper with id standing in for its
    centroid-distance ranking). Returns EVERY input row
    (drop-don't-lose): (vec_id, cell, dup_of, dup_sim, keep) where
    dup_of is the lowest-id witness and dup_sim the (rounded) cosine to
    it.

    Scale shape — this is the SCALE path for embedding near-dup (the
    crossJoin in embedding_near_dup is the documented exactness
    baseline, not this): pairwise comparison happens only WITHIN cells,
    so cost is sum of cluster sizes squared, never corpus². The
    quantizer is the deterministic ivf_seed_centroids set (bounded
    k x dim literals in the plan — map-only assignment, value-exact vs
    DuckDB like ann_ivf_fixed_topk); ``n_cells`` is the scale knob (the
    paper sets it proportional to corpus size, keeping cells bounded).
    The assigned relation is repartition(cell)-ed once so the self-join's
    second side rides a ReusedExchange instead of recomputing the
    assignment (the minhash band-join discipline); the verdict aggregate
    is partial-combinable min/min_by. The audit spine (the outer left
    join's (vec_id, cell) side) recomputes the assignment on PRUNED
    columns rather than reusing the pair exchange — it must keep
    null-cell rows that the join sides' pushed null filters drop, so
    the plan carries exactly two input scans (pinned in
    tests/test_similarity_ann.py). Reference analog: the keep-first
    dedup of SURVEY.md A7, lifted to embedding space."""
    centroids = ivf_seed_centroids(df, n_cells, id_col, vec_col)
    dists = F.array(*[_sq_dist(F.col(vec_col), _lit_vec(c)) for c in centroids])
    cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    assigned = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"),
        cell.alias("cell"),
    ).repartition("cell")
    a = assigned.select(
        F.col("vec_id").alias("i"), F.col("vec").alias("a_vec"), "cell")
    b = assigned.select(
        F.col("vec_id").alias("j"), F.col("vec").alias("b_vec"), "cell")
    pairs = (
        a.join(b, "cell")
        .filter(F.col("i") < F.col("j"))
        .select(
            "j", "i",
            F.round(cosine(F.col("a_vec"), F.col("b_vec")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    verdicts = pairs.groupBy("j").agg(
        F.min("i").alias("dup_of"),
        F.min_by("sim", "i").alias("dup_sim"),
    ).withColumnRenamed("j", "vec_id")
    return (
        assigned.select("vec_id", "cell")
        .join(verdicts, "vec_id", "left")
        .select(
            "vec_id", "cell", "dup_of", "dup_sim",
            F.col("dup_of").isNull().alias("keep"),
        )
    )


def semantic_dedup_sql(
    table: str = "embeddings", threshold: float = SEMDEDUP_THRESHOLD,
    n_cells: int = IVF_CELLS,
) -> str:
    """DuckDB mirror of semantic_dedup. Exactness: same fixed-seed
    quantizer and left-to-right float64 folds as ann_ivf_fixed_topk_sql
    (distances and cosines bit-identical), same rounded-sim threshold,
    and arg_min(sim, i) == min_by(sim, i) because (i, j) pairs are
    unique per j. NULL/empty-embedding parity: the Spark kernel gives
    such rows cell NULL (all-NULL distance array) and keeps them out of
    the pair join; the nn CTE mirrors that (DuckDB would otherwise rank
    all-NULL dists NULLS-LAST into cell 0, and list_reduce over an
    empty gram list would fold the prepended 0.0 into a real zero
    distance), with the audit spine left-joining assignment back so the
    rows surface with cell NULL / keep=true on both engines. (A NULL
    embedding among the n_cells lowest-id SEED rows fails loud on the
    Spark side in ivf_seed_centroids before any twin comparison
    runs.)"""
    sq_assign = _SQDIST_SQL.format(a="e.embedding", b="c.cvec")
    cos = cosine_sql("a.vec", "b.vec")
    return f"""
WITH cent AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell, embedding AS cvec
  FROM {table}
  WHERE vec_id IN (SELECT vec_id FROM {table} ORDER BY vec_id LIMIT {n_cells})),
nn AS (
  SELECT vec_id, embedding FROM {table}
  WHERE embedding IS NOT NULL AND len(embedding) > 0),
d AS (
  SELECT e.vec_id, e.embedding, c.cell, {sq_assign} AS dist
  FROM nn e CROSS JOIN cent c),
assign AS (
  SELECT vec_id, embedding AS vec, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
        FROM d) WHERE rn = 1),
hits AS (
  SELECT b.vec_id AS j, a.vec_id AS i, round({cos}, 6) AS sim
  FROM assign a JOIN assign b USING (cell)
  WHERE a.vec_id < b.vec_id AND round({cos}, 6) >= {threshold}::DOUBLE),
verdicts AS (
  SELECT j AS vec_id, min(i) AS dup_of, arg_min(sim, i) AS dup_sim
  FROM hits GROUP BY j)
SELECT t.vec_id, a.cell, v.dup_of, v.dup_sim, (v.dup_of IS NULL) AS keep
FROM {table} t
LEFT JOIN assign a USING (vec_id)
LEFT JOIN verdicts v USING (vec_id)
"""
