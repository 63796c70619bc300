"""Text-analysis operators for training-data pipelines.

All JVM-side (built-in functions only — no Python in the hot path):
language-ID heuristic, quality scoring, token counting, document
fingerprinting. Each has an exact ANSI-SQL twin used as the DuckDB oracle
(see __spark_entry__.py), so every operator here is verified value-exact
across engines at sf0.01.

At 100 TB these are embarrassingly parallel map stages: no shuffle, full
whole-stage codegen, pushed-down column pruning (only ``doc_id``/``text``
are read from parquet).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from pdf_extract_spark.operators.hashing import MOD, phash

# language -> distinctive-stopword list (deterministic heuristic; the
# reference's analog is filename-suffix language detection, main.py:1454-1470)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "es", "una"),
    "zh": ("的", "是", "了", "在", "和"),
}

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")


# Java's \s is the ASCII class [ \t\n\x0B\f\r]; RE2's \s LACKS \x0B
# (vertical tab), so a bare \s in any kernel/oracle twin pattern
# silently diverges between Spark and DuckDB on such input. WS spells
# the Java class explicitly — the one string parses identically in both
# engines (two-digit \x0B, no braces, so it is format-template safe).
WS_CHARS = r" \t\n\f\r\x0B"
WS = f"[{WS_CHARS}]"


def tokens(col: Column) -> Column:
    """Whitespace tokenization of lowercased text (WS class — identical
    in the Spark kernel and every DuckDB twin). Empty tokens are
    filtered: trim() strips only 0x20, so '\n'-terminated text (nearly
    every real document) otherwise yields a phantom '' edge token that
    inflates every downstream stat — engine-CONSISTENTLY, which is why
    no oracle gate could catch it."""
    return F.filter(F.split(F.lower(col), WS + "+"), lambda x: x != "")


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '{WS}+'), "
        f"x -> x <> '')"
    )


def tokens_cased(col: Column) -> Column:
    """tokens() WITHOUT the lowercasing — for operators whose OUTPUT is
    text (chunk_documents re-emits the tokens): statistics want
    case-folded counts, but a pretraining prep step must not destroy
    the corpus's case. Same WS class, same phantom-empty-token
    filter."""
    return F.filter(F.split(col, WS + "+"), lambda x: x != "")


def tokens_cased_sql(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array({expr}, '{WS}+'), "
        f"x -> x <> '')"
    )


def stop_ratio(toks: Column) -> Column:
    """Stopword fraction of a token array, rounded to 6 dp — the shared
    form used by quality_score and quality_filter (one definition, one
    rounding). Zero tokens -> NULL explicitly: Spark 4's ANSI mode
    RAISES on 0/0 while DuckDB returns NULL, so the guard is both a
    crash fix and the cross-engine agreement."""
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return F.when(n > 0, F.round(hits / n, 6))


def stop_ratio_sql(toks: str) -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"round(len(list_filter({toks}, x -> x IN ({stop_list}))) * 1.0 "
        f"/ len({toks}), 6) END"
    )


# the BPE-ish subword proxy (runs of letters / digits / single
# punctuation): ONE pattern string for the kernel and the SQL twin
SUBWORD_PATTERN = r"[a-z]{1,4}|\d+|[^a-z\d" + WS_CHARS + "]"


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy count (C18
    analog). SQL twin: token_count_sql."""
    return df.select(
        "doc_id",
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(SUBWORD_PATTERN), 0)
        ).cast("long").alias("n_subwords"),
    )


def token_count_sql(table: str = "documents", text_expr: str = "text") -> str:
    return f"""
SELECT doc_id,
       len({tokens_sql(text_expr)}) AS n_tokens,
       len(regexp_extract_all(lower({text_expr}), '{SUBWORD_PATTERN}')) AS n_subwords
FROM {table}
"""


def quality_expr(t):
    """The 6dp-rounded [0,1] quality score of a text COLUMN (NULL when
    zero tokens — ANSI 0/0 raises; DuckDB returns NULL). The single
    source of the formula: quality_score and weburl.site_quality both
    evaluate THIS expression; its SQL twin is quality_expr_sql."""
    toks = tokens(t)
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[.!?,;:]"), 0))
    return F.when(
        n_tok > 0,
        F.round(
            F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
            + (stop_hits / n_tok) * 0.4
            + F.least(n_punct / F.lit(10.0), F.lit(1.0)) * 0.2,
            6,
        ),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + score.

    Mirrors the reference's pair-quality metadata columns
    (add_metadata.py:155-193) as a single-document quality signal.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[.!?,;:]"), 0))
    n_chars = F.length(t)
    score = quality_expr(t)
    return df.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_m"),
        n_tok.cast("long").alias("n_tokens"),
        stop_ratio(toks).alias("stopword_ratio"),
        n_punct.cast("long").alias("n_punct"),
        score.alias("quality"),
    )


def quality_expr_sql(text_expr: str) -> str:
    """DuckDB twin of quality_expr (same formula text, shared by
    quality_score_sql and weburl.site_quality_sql)."""
    toks = tokens_sql(text_expr)
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"round(least(len({toks}) / 100.0, 1.0) * 0.4 "
        f"+ (len(list_filter({toks}, x -> x IN ({stop_list}))) * 1.0 / len({toks})) * 0.4 "
        f"+ least(len(regexp_extract_all({text_expr}, '[.!?,;:]')) / 10.0, 1.0) * 0.2, 6) "
        f"END"
    )


def quality_score_sql(table: str = "documents", text_expr: str = "text") -> str:
    toks = tokens_sql(text_expr)
    return f"""
SELECT doc_id,
       length({text_expr}) AS n_chars_m,
       len({toks}) AS n_tokens,
       {stop_ratio_sql(toks)} AS stopword_ratio,
       len(regexp_extract_all({text_expr}, '[.!?,;:]')) AS n_punct,
       {quality_expr_sql(text_expr)} AS quality
FROM {table}
"""


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword language-ID heuristic: argmax of marker-token hits
    per language, ties broken by language code order."""
    toks = tokens(F.col(text_col))

    def _hit_lambda(words: tuple[str, ...]):
        def fn(x):
            return x.isin(*words)

        return fn

    scores = [
        F.size(F.filter(toks, _hit_lambda(ws))).alias(f"s_{lang}")
        for lang, ws in sorted(LANG_MARKERS.items())
    ]
    scored = df.select("doc_id", "lang", *scores)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{l}") for l in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"s_{l}") == best, F.lit(l)) for l in langs]
    )
    return scored.select(
        "doc_id",
        F.col("lang").alias("label_lang"),
        best.cast("long").alias("best_hits"),
        pred.alias("pred_lang"),
    )


def lang_id_sql(table: str = "documents", text_expr: str = "text") -> str:
    # the inner subquery aliases text_expr to 'text'; everything above it
    # must reference the ALIAS or any non-default text_expr binder-errors
    toks = tokens_sql("text")
    langs = sorted(LANG_MARKERS)
    score_exprs = {
        l: f"len(list_filter({toks}, x -> x IN ({', '.join(repr(w) for w in LANG_MARKERS[l])})))"
        for l in langs
    }
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred = "CASE " + " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs) + " END"
    inner = ", ".join(f"{e} AS s_{l}" for l, e in score_exprs.items())
    return f"""
SELECT doc_id, label_lang, best AS best_hits, {pred} AS pred_lang
FROM (SELECT doc_id, lang AS label_lang, {inner}, {best} AS best
      FROM (SELECT doc_id, lang, {text_expr} AS text FROM {table}))
"""


def fingerprint_col(text_col):
    """The fingerprint as a reusable Column expression (curation's
    snapshot diff keys on it; ``fingerprint`` below is the relational
    packaging the ``fingerprint`` query exposes)."""
    toks = tokens(text_col if not isinstance(text_col, str) else F.col(text_col))
    tok_hashes = F.transform(toks, lambda x: phash(x) % F.lit(MOD))
    return F.aggregate(
        tok_hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(MOD),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling polynomial document fingerprint over tokens (mod 2^31-1),
    token hashes from the portable md5 family — a locality-insensitive
    exact-content fingerprint (C13/C24 analog)."""
    return df.select("doc_id", fingerprint_col(text_col).alias("fingerprint"))


def fingerprint_expr_sql(text_expr: str) -> str:
    """The fingerprint as a DuckDB EXPRESSION (twin of fingerprint_col;
    fingerprint_sql below is the relational packaging). NULL text must
    yield a NULL fingerprint like the Spark kernel's aggregate-over-NULL
    does — DuckDB's list_prepend(0, NULL) is [0], which would silently
    alias NULL-text docs with EMPTY-text docs (fingerprint 0)."""
    toks = tokens_sql(text_expr)
    from pdf_extract_spark.operators.hashing import phash_sql

    tok_h = f"list_transform({toks}, x -> {phash_sql('x')} % {MOD})"
    return (
        f"(CASE WHEN {text_expr} IS NULL THEN NULL ELSE "
        f"list_reduce(list_prepend(0::BIGINT, {tok_h}), "
        f"(acc, x) -> (acc * 31 + x) % {MOD}) END)"
    )


def fingerprint_sql(table: str = "documents", text_expr: str = "text") -> str:
    return f"""
SELECT doc_id,
       {fingerprint_expr_sql(text_expr)} AS fingerprint
FROM {table}
"""


# --------------------------------------------------------- sampling / filter

SAMPLE_MOD = 1_000_000


def _sql_quote(lit: str) -> str:
    """SQL string literal, quotes doubled (the one quoting rule every
    *_sql builder in this module uses)."""
    return "'" + lit.replace("'", "''") + "'"


def _sketch_accuracy(relative_error: float) -> int:
    """approx_percentile accuracy knob from a relative-error target —
    ONE definition (quality_buckets + length_quantiles), with the
    validation both entry points need (0 divides, negatives silently
    produced a sketch the caller never asked for)."""
    if relative_error <= 0:
        raise ValueError(f"relative_error must be > 0, got {relative_error}")
    return max(100, int(round(1.0 / relative_error)))


def _split_weight(w: float) -> tuple[int, int]:
    """(full epochs, fractional-copy hash threshold) decomposition of a
    mixing weight — ONE definition shared by the upsample_mix kernel
    AND its SQL twin, so the rounding can never diverge between
    engines."""
    import math

    full = math.floor(w)
    return full, round((w - full) * SAMPLE_MOD)


def _validate_weights(weights: dict[str, float], default_weight: float) -> None:
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for {s!r} must be >= 0, got {w}")
    if default_weight < 0:
        raise ValueError(f"default_weight must be >= 0, got {default_weight}")


def stratified_sample(
    df: DataFrame, rates: dict[str, float], stratum_col: str = "lang",
    default_rate: float = 0.0, key_col: str = "doc_id", salt: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixing primitive for
    training pipelines ("keep 30% of lang=en, all of lang=de, ...").

    The keep decision hashes (salt, key): stable across runs, partitions
    and engines (portable md5-derived hash), so the sample is
    reproducible and a rerun or resume selects the SAME rows — unlike
    ``df.sample``, whose selection depends on partitioning. No shuffle:
    pure map-side filter, fully pushed into the scan's data filters."""
    h = F.pmod(phash(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))),
               F.lit(SAMPLE_MOD))
    threshold = None
    for stratum, rate in rates.items():
        cond = (F.col(stratum_col) == stratum)
        t = F.lit(round(rate * SAMPLE_MOD))
        threshold = F.when(cond, t) if threshold is None else threshold.when(cond, t)
    threshold = (
        threshold.otherwise(F.lit(round(default_rate * SAMPLE_MOD)))
        if threshold is not None
        else F.lit(round(default_rate * SAMPLE_MOD))
    )
    return df.filter(h < threshold)


def stratified_sample_sql(
    rates: dict[str, float], table: str = "documents", stratum_col: str = "lang",
    default_rate: float = 0.0, key_col: str = "doc_id", salt: str = "strat",
) -> str:
    from pdf_extract_spark.operators.hashing import phash_sql

    def q(lit: str) -> str:  # SQL string literal, quotes doubled
        return "'" + lit.replace("'", "''") + "'"

    key_expr = q(salt + ":") + " || " + key_col + "::VARCHAR"
    h = f"({phash_sql(key_expr)} % {SAMPLE_MOD})"
    whens = " ".join(
        f"WHEN {q(stratum)} THEN {round(rate * SAMPLE_MOD)}"
        for stratum, rate in rates.items()
    )
    thr = f"CASE {stratum_col} {whens} ELSE {round(default_rate * SAMPLE_MOD)} END"
    return f"SELECT * FROM {table} WHERE {h} < {thr}"


SPLIT_MOD = 10_000  # dataset-split buckets in basis points
# Single source for the default train/val/test fractions: split_assign,
# split_assign_sql AND dedup.split_leakage_sql all resolve to THIS tuple,
# so the Spark kernel and any oracle composing the hash CASE can never
# silently disagree on where a bucket falls.
SPLIT_FRACTIONS: tuple[tuple[str, int], ...] = (
    ("train", 9800), ("val", 100), ("test", 100),
)


def split_assign(
    df: DataFrame,
    fractions: tuple[tuple[str, int], ...] = SPLIT_FRACTIONS,
    key_col: str = "doc_id", salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment: bucket =
    portable-hash(salt:key) mod 10000 basis points, split = the first
    name whose cumulative bound exceeds the bucket. Hash-based, never
    random: a document keeps its split across runs, engines,
    partitionings AND corpus growth — newly ingested data can never
    move an existing held-out doc into train (the leakage mode of
    random splits). Fractions are integer basis points and must sum to
    exactly SPLIT_MOD (fail-loud; a silent remainder would leak into
    the last split). Map-only projection, zero Exchange.

    Returns every input row plus (split_bucket, split). Reference
    analog: the status-partitioned row routing of SURVEY.md F9."""
    total = sum(bp for _, bp in fractions)
    if total != SPLIT_MOD:
        raise ValueError(
            f"fractions must sum to {SPLIT_MOD} basis points, got {total}")
    bucket = F.pmod(
        phash(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))),
        F.lit(SPLIT_MOD),
    )
    expr = None
    hi = 0
    for name, bp in fractions[:-1]:
        hi += bp
        expr = (F.when(bucket < hi, name) if expr is None
                else expr.when(bucket < hi, name))
    last = fractions[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.select(
        "*", bucket.cast("long").alias("split_bucket"),
        expr.alias("split"),
    )


def split_assign_sql(
    fractions: tuple[tuple[str, int], ...] = SPLIT_FRACTIONS,
    table: str = "documents", key_col: str = "doc_id", salt: str = "split",
) -> str:
    """DuckDB mirror of split_assign (same phash, same cumulative
    CASE; phash is positive so % == pmod)."""
    from pdf_extract_spark.operators.hashing import phash_sql

    total = sum(bp for _, bp in fractions)
    if total != SPLIT_MOD:
        raise ValueError(
            f"fractions must sum to {SPLIT_MOD} basis points, got {total}")
    key_expr = _sql_quote(salt + ":") + " || " + key_col + "::VARCHAR"
    b = f"({phash_sql(key_expr)} % {SPLIT_MOD})"
    whens, hi = [], 0
    for name, bp in fractions[:-1]:
        hi += bp
        whens.append(f"WHEN {b} < {hi} THEN {_sql_quote(name)}")
    case = " ".join(whens)
    last = _sql_quote(fractions[-1][0])
    return (
        f"SELECT *, ({b})::BIGINT AS split_bucket, "
        f"CASE {case} ELSE {last} END AS split FROM {table}"
    )


def temperature_sample(
    df: DataFrame, alpha: float = 0.5, stratum_col: str = "lang",
    key_col: str = "doc_id", salt: str = "temp",
) -> DataFrame:
    """Multilingual temperature sampling (the XLM-R / mT5 corpus-mixing
    rule): per-stratum keep rate ``r_s = (n_min / n_s) ** (1 - alpha)``,
    so the post-sample stratum shares are proportional to
    ``p_s ** alpha`` — dominant languages are downsampled toward the
    temperature-flattened mix while the smallest stratum keeps every row
    (its rate is exactly 1.0). ``alpha = 1`` keeps everything;
    ``alpha -> 0`` equalizes strata. Unlike ``stratified_sample`` the
    rates are not caller-supplied constants: they are DERIVED from the
    corpus itself, which is what a recurring curation run wants (the mix
    self-adjusts as the crawl grows).

    Rates round to 6 dp before the threshold compare: ``pow`` is the one
    non-exactly-rounded IEEE op in the chain (JVM Math.pow and C libm
    may differ in the last ulp), and the rounding makes the thresholds
    — and therefore the kept set — engine- and platform-identical. The
    per-row keep decision is the same portable salted hash as
    ``stratified_sample``: reproducible across runs, partitionings and
    engines.

    Scale (100 TB): ONE aggregate bounded by the stratum cardinality
    (map-side combine), its global min folded in via a single-row
    broadcast, the rate table broadcast back onto the corpus, then a
    map-side filter — the corpus itself is never shuffled."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("_n"))
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        stratum_col,
        F.round(
            F.pow(F.col("_nmin") / F.col("_n"), F.lit(1.0 - alpha)), 6
        ).alias("_rate"),
    )
    h = F.pmod(phash(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))),
               F.lit(SAMPLE_MOD))
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter(h < F.col("_rate") * SAMPLE_MOD)
        .select(*df.columns)
    )


def temperature_sample_sql(
    alpha: float = 0.5, table: str = "documents", stratum_col: str = "lang",
    key_col: str = "doc_id", salt: str = "temp",
) -> str:
    from pdf_extract_spark.operators.hashing import phash_sql

    key_expr = "'" + (salt + ":").replace("'", "''") + "' || " + key_col + "::VARCHAR"
    h = f"({phash_sql(key_expr)} % {SAMPLE_MOD})"
    return f"""
WITH c AS (SELECT {stratum_col}, count(*)::BIGINT AS n FROM {table} GROUP BY 1),
r AS (SELECT {stratum_col},
             round(pow((SELECT min(n) FROM c) * 1.0 / n, {1.0 - alpha}), 6) AS rate
      FROM c)
SELECT d.* FROM {table} d JOIN r USING ({stratum_col})
WHERE {h} < rate * {SAMPLE_MOD}
"""


def length_quantiles(
    df: DataFrame,
    value_col: str = "n_chars",
    by: str = "lang",
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    relative_error: float | None = None,
) -> DataFrame:
    """Per-stratum length distribution — the corpus profile a curation
    run reads before choosing quality_filter thresholds and pack
    budgets. Returns one row per stratum: qNN per requested percentile
    plus the stratum count.

    Two paths, one signature (the dedup_jaccard-vs-minhash pattern):
    the default EXACT ``percentile`` interpolates over the group's
    sorted values — it materializes each group's values, so it is the
    verifier (and the DuckDB ``quantile_cont`` twin is bit-identical on
    integer inputs: interpolation fractions are exact binary
    fractions). With ``relative_error`` set, ``approx_percentile``
    swaps in the 100 TB path: a mergeable sketch aggregated map-side
    with bounded state per group, no value materialization — at the
    cost of rank error, which is why the oracle pins the exact form."""
    if not probs:
        raise ValueError("probs must be non-empty")
    aggs = []
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile {p} outside [0, 1]")
        name = f"q{int(round(p * 100)):02d}"
        if relative_error is None:
            aggs.append(F.percentile(value_col, F.lit(p)).alias(name))
        else:
            acc = _sketch_accuracy(relative_error)
            aggs.append(
                F.approx_percentile(value_col, F.lit(p), F.lit(acc))
                .cast("double")
                .alias(name)
            )
    aggs.append(F.count("*").alias("n"))
    return df.groupBy(by).agg(*aggs)


def length_quantiles_sql(
    table: str = "documents",
    value_col: str = "n_chars",
    by: str = "lang",
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> str:
    cols = ", ".join(
        f"quantile_cont({value_col}, {p}) AS q{int(round(p * 100)):02d}"
        for p in probs
    )
    return f"SELECT {by}, {cols}, count(*) AS n FROM {table} GROUP BY 1"


def quality_filter(
    df: DataFrame, text_col: str = "text",
    min_tokens: int = 20, max_tokens: int = 100_000,
    min_stopword_ratio: float = 0.0,
) -> DataFrame:
    """Declarative quality gate over the quality_score features: emits
    every doc with its features and a ``keep`` verdict (filter with
    ``.filter("keep")``; the verdict column keeps the drop REASONS
    auditable, which a 100 TB curation run needs more than the filter
    itself)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("long")
    ratio = stop_ratio(toks)
    keep = (
        (n_tok >= min_tokens) & (n_tok <= max_tokens)
        & (ratio >= min_stopword_ratio)
    )
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        ratio.alias("stopword_ratio"),
        keep.alias("keep"),
    )


def quality_filter_sql(
    table: str = "documents", text_expr: str = "text",
    min_tokens: int = 20, max_tokens: int = 100_000,
    min_stopword_ratio: float = 0.0,
) -> str:
    toks = tokens_sql(text_expr)
    ratio = stop_ratio_sql(toks)
    return f"""
SELECT doc_id,
       len({toks})::BIGINT AS n_tokens,
       {ratio} AS stopword_ratio,
       (len({toks}) >= {min_tokens} AND len({toks}) <= {max_tokens}
        AND {ratio} >= {min_stopword_ratio}) AS keep
FROM {table}
"""


# ------------------------------------------------- repetition statistics
#
# The Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", §A1.1.2 — public paper): repeated n-grams mark
# boilerplate/templated documents that poison training data. Two signals,
# both pure Catalyst array expressions (no shuffle, no Python):
#   * type-token ratio — distinct tokens / tokens (low => repetitive);
#   * top-bigram fraction — occurrences of the most frequent bigram over
#     all bigrams (high => a phrase loops).
# The per-row distinct-scan is O(distinct x tokens) INSIDE one row —
# document-bounded, embarrassingly parallel, no cross-row state; at
# 100 TB this stays a map-only pass with column-pruned scans.

def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # zero tokens (whitespace-only text, now that tokens() filters
    # phantom '' entries) -> NULL ttr, matching DuckDB's 0/0 (Spark's
    # ANSI mode would raise instead)
    ttr = F.when(n > 0, F.round(F.size(F.array_distinct(toks)) / n, 6))
    blen = F.greatest(n - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(toks, 1, blen),
        F.slice(toks, 2, blen),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    top = F.array_max(
        F.transform(
            F.array_distinct(bg),
            lambda d: F.size(F.filter(bg, lambda x: x == d)),
        )
    )
    # NULL text -> all three stats NULL (without the isNull guard the
    # when() condition is NULL and falls through to 0.0, disagreeing
    # with the NULL n_tokens/type_token_ratio)
    top_frac = F.when(n.isNull(), F.lit(None).cast("double")).otherwise(
        F.when(F.size(bg) > 0, F.round(top / F.size(bg), 6)).otherwise(0.0)
    )
    return df.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        ttr.alias("type_token_ratio"),
        top_frac.alias("top_bigram_frac"),
    )


def repetition_stats_sql(table: str = "documents", text_expr: str = "text") -> str:
    toks = tokens_sql(text_expr)
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM {table}),
b AS (
  SELECT doc_id, toks,
         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bg
  FROM t)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       CASE WHEN len(toks) > 0 THEN
         round(len(list_distinct(toks)) * 1.0 / len(toks), 6) END AS type_token_ratio,
       CASE WHEN toks IS NULL THEN NULL
            WHEN len(bg) > 0 THEN
         round(list_max(list_transform(list_distinct(bg),
               d -> len(list_filter(bg, x -> x = d)))) * 1.0 / len(bg), 6)
       ELSE 0.0 END AS top_bigram_frac
FROM b
"""


# ------------------------------------------------------------- PII scrub
#
# Training-data redaction: detect-and-replace emails, SSN-style ids and
# phone numbers with typed placeholder tokens, reporting per-document
# counts for audit. The reference extracts documents but never redacts
# (it has no egress concern); this is a first-class training-pipeline
# addition. Stages apply IN ORDER (email -> id -> phone) and each stage
# counts on the PREVIOUS stage's output, so an SSN-style id is never
# double-counted by the looser phone pattern - the order is part of the
# operator's contract and is mirrored verbatim in the SQL twin.
#
# Regex portability (Java on Spark, RE2 on DuckDB): ASCII classes,
# bounded quantifiers and greedy repetition only - no lookaround, no
# anchors (the engines disagree on terminal anchors, see metacompare),
# no \b. Both engines use leftmost-first matching here and the patterns
# are backtracking-free, so matches agree byte-for-byte.
#
# Scale: one map-only projection - no shuffle, no Python, column-pruned.

PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ids", r"\d{3}-\d{2}-\d{4}", "[ID]"),
    ("phones", r"\+?\d[\d -]{6,}\d", "[PHONE]"),
)


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact PII spans, returning
    (doc_id, n_emails, n_ids, n_phones, scrubbed)."""
    cur = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, token)
    return df.select("doc_id", *counts, cur.alias("scrubbed"))


def pii_scrub_sql(
    table: str = "documents", text_expr: str = "text", prelude_ctes: str = ""
) -> str:
    """DuckDB mirror: the same staged count-then-replace chain (RE2
    needs the explicit 'g' flag Spark applies implicitly).
    ``prelude_ctes`` prepends caller CTEs (e.g. a decorated input
    relation) to the single top-level WITH."""
    ctes, prev = [], "s0"
    if prelude_ctes:
        ctes.append(prelude_ctes)
    ctes.append(f"s0 AS (SELECT doc_id, {text_expr} AS t FROM {table})")
    for i, (name, pat, token) in enumerate(PII_PATTERNS, start=1):
        carried = "".join(f", n_{n}" for n, _, _ in PII_PATTERNS[: i - 1])
        ctes.append(
            f"s{i} AS (SELECT doc_id, "
            f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{name}, "
            f"regexp_replace(t, '{pat}', '{token}', 'g') AS t"
            f"{carried} FROM {prev})"
        )
        prev = f"s{i}"
    cols = ", ".join(f"n_{n}" for n, _, _ in PII_PATTERNS)
    return f"WITH {', '.join(ctes)}\nSELECT doc_id, {cols}, t AS scrubbed FROM {prev}"


# ---------------------------------------------------------------------
# Unigram LM surprisal + CCNet-style quality buckets
# ---------------------------------------------------------------------

def _flog2(col: Column) -> Column:
    """floor(log2(n)) for a positive integer column, EXACTLY: the bit
    length of the binary representation minus one. A float log2 is off
    by one at powers of two whenever the libm result lands a hair under
    the integer; string length of the base-2 digits cannot be. DuckDB
    twin: length(bin(n)) - 1."""
    return (F.length(F.conv(col.cast("string"), 10, 2)) - 1).cast("long")


def unigram_surprisal(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-trained unigram LM surprisal per document — the integer
    analog of CCNet's LM-perplexity quality signal (Wenzek et al. 2020):
    train token frequencies on the corpus itself, then score each doc by
    how surprising its tokens are under that model. Typical text scores
    low, gibberish / rare-token soup scores high.

    All arithmetic is INTEGER so the result is bit-identical across
    engines, partitionings and reruns: per-token surprisal is the
    floor-log2 bit count ``flog2(N_total) - flog2(count(token))``
    (exact via binary-digit length, see _flog2), doc totals are integer
    sums (associative — float log-prob sums are shuffle-order
    dependent), and the per-token average is milli-bits via integer
    division (1000 * total DIV n, trunc == floor on non-negatives, ==
    DuckDB ``//``).

    Returns (doc_id, n_tokens, total_bits, milli_bits_per_token);
    zero-token docs keep n_tokens = total_bits = 0 with a NULL average.

    Scale (100 TB): two passes over the corpus, exactly like CCNet —
    a train pass (explode -> vocab-sized count aggregate, map-side
    combine; the shuffle carries only the token string) and a score pass
    (explode -> equi-join to the vocab table -> per-doc sum, both
    partial-combinable; the join carries only (token, doc_id, bits) —
    document text never shuffles). The single-row corpus total folds in
    via one broadcast. The tokenize subtree runs twice rather than
    materializing an exploded 100 TB corpus — the standard train/score
    tradeoff."""
    ex = df.select("doc_id", F.explode(tokens(F.col(text_col))).alias("tok"))
    freq = ex.groupBy("tok").agg(F.count("*").cast("long").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n_total"))
    vocab_bits = freq.crossJoin(F.broadcast(total)).select(
        "tok",
        (_flog2(F.col("n_total")) - _flog2(F.col("cnt"))).alias("bits"),
    )
    per_doc = (
        ex.join(vocab_bits, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("bits").cast("long").alias("total_bits"),
        )
    )
    return (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("total_bits", F.lit(0).cast("long")).alias("total_bits"),
            F.when(
                F.col("n_tokens") > 0,
                F.expr("total_bits * 1000 DIV n_tokens"),
            ).cast("long").alias("milli_bits_per_token"),
        )
    )


def unigram_surprisal_sql(table: str = "documents", text_expr: str = "text") -> str:
    """DuckDB mirror of unigram_surprisal (self-contained WITH — embed
    as a subquery via ``(SELECT * FROM (<this>))``; DuckDB allows a
    nested WITH inside a CTE body)."""
    toks = tokens_sql(text_expr)
    return f"""
WITH ex AS (SELECT doc_id, unnest({toks}) AS tok FROM {table}),
freq AS (SELECT tok, count(*)::BIGINT AS cnt FROM ex GROUP BY tok),
tot AS (SELECT sum(cnt)::BIGINT AS n_total FROM freq),
vb AS (SELECT tok,
              (length(bin((SELECT n_total FROM tot)))
               - length(bin(cnt)))::BIGINT AS bits
       FROM freq),
per AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
               sum(bits)::BIGINT AS total_bits
        FROM ex JOIN vb USING (tok) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(p.total_bits, 0)::BIGINT AS total_bits,
       (CASE WHEN p.n_tokens > 0
             THEN p.total_bits * 1000 // p.n_tokens END)::BIGINT
           AS milli_bits_per_token
FROM {table} d LEFT JOIN per p USING (doc_id)
"""


# Stupid-backoff constants (Brants et al. 2007 use alpha = 0.4, i.e.
# ~1.32 bits; the integer kernel charges a flat 2 bits — conservative,
# ~alpha = 0.25 — so the whole chain stays bit-exact across engines).
BIGRAM_BACKOFF_BITS = 2


def bigram_surprisal(
    train: DataFrame, score: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Bigram LM surprisal with stupid backoff — the two-corpus form of
    the CCNet quality signal (Wenzek et al. 2020 score a crawl with an
    LM trained on trusted text; ``unigram_surprisal`` is the
    degenerate self-trained case): train bigram + unigram counts on
    ``train``, then score every ``score`` document by its adjacent
    token pairs. A bigram seen in training costs its conditional bit
    count ``flog2(c(w1)) - flog2(c(w1,w2))``; an unseen bigram backs
    off to the unigram (``BIGRAM_BACKOFF_BITS + flog2(N) -
    flog2(c(w2))``, the integer Stupid Backoff of Brants et al. 2007);
    an out-of-vocabulary token costs one bit more than the rarest seen
    token (``BIGRAM_BACKOFF_BITS + flog2(N) + 1``). All arithmetic is
    integer (_flog2 bit lengths, integer sums, milli trunc division),
    so scores are bit-identical across engines, partitionings and
    reruns.

    Returns (doc_id, n_bigrams, total_bits, n_backoff,
    milli_bits_per_bigram) for every ``score`` row; docs with fewer
    than two tokens keep zero counts and a NULL average.

    Scale (100 TB): the CCNet deployment shape — a bounded trusted
    train corpus and an unbounded crawl to score. Train passes are
    vocab-/bigram-keyed count aggregates (map-side combine; shuffles
    carry only token strings). The score pass builds bigrams by
    zip_with over two shifted slices (the positional-array invariant —
    never element_at random access), then LEFT-joins the bigram and
    unigram tables ON THEIR KEYS as shuffle joins — a web-scale bigram
    vocabulary is never broadcast; only the single-row corpus total is.
    Document text never shuffles; the join relations carry (w1, w2,
    doc_id) and counts only."""
    def _bigrams(col: Column) -> Column:
        t = tokens(col)
        blen = F.greatest(F.size(t) - 1, F.lit(0))
        return F.zip_with(
            F.slice(t, 1, blen), F.slice(t, 2, blen),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )

    tc = F.col(text_col)
    ex_uni = train.select(F.explode(tokens(tc)).alias("tok"))
    uni = ex_uni.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    total = uni.agg(F.sum("c").alias("n_total"))
    big = (
        train.select(F.explode(_bigrams(tc)).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
    )
    sc = score.select("doc_id", F.explode(_bigrams(tc)).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    j = (
        sc.join(big, ["w1", "w2"], "left")
        .join(u1, "w1", "left")
        .join(u2, "w2", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.when(
                F.col("c12").isNotNull(),
                _flog2(F.col("c1")) - _flog2(F.col("c12")),
            )
            .when(
                F.col("c2").isNotNull(),
                F.lit(BIGRAM_BACKOFF_BITS)
                + _flog2(F.col("n_total")) - _flog2(F.col("c2")),
            )
            .otherwise(
                F.lit(BIGRAM_BACKOFF_BITS) + _flog2(F.col("n_total")) + 1
            )
            .cast("long")
            .alias("bits"),
            F.when(F.col("c12").isNull(), 1).otherwise(0).alias("bo"),
        )
    )
    per_doc = j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("bits").cast("long").alias("total_bits"),
        F.sum("bo").cast("long").alias("n_backoff"),
    )
    return (
        score.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            F.coalesce("total_bits", F.lit(0).cast("long")).alias("total_bits"),
            F.coalesce("n_backoff", F.lit(0).cast("long")).alias("n_backoff"),
            F.when(
                F.col("n_bigrams") > 0,
                F.expr("total_bits * 1000 DIV n_bigrams"),
            ).cast("long").alias("milli_bits_per_bigram"),
        )
    )


def bigram_surprisal_sql(
    train_table: str, score_table: str, text_expr: str = "text"
) -> str:
    """DuckDB mirror of bigram_surprisal (lockstep multi-unnest of the
    two shifted 1-based-inclusive slices zips the bigram pairs; bin
    lengths == _flog2; trunc `//` == DIV on non-negatives)."""
    toks = tokens_sql(text_expr)
    nb = "length(bin((SELECT n_total FROM bs_tot))) - 1"
    return f"""
WITH bs_tru AS (SELECT unnest({toks}) AS tok FROM {train_table}),
bs_uni AS (SELECT tok, count(*)::BIGINT AS c FROM bs_tru GROUP BY tok),
bs_tot AS (SELECT sum(c)::BIGINT AS n_total FROM bs_uni),
bs_trt AS (SELECT {toks} AS t FROM {train_table}),
bs_big AS (SELECT w1, w2, count(*)::BIGINT AS c12
        FROM (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
              FROM bs_trt WHERE len(t) >= 2)
        GROUP BY w1, w2),
bs_sct AS (SELECT doc_id, {toks} AS t FROM {score_table}),
bs_sc AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
       FROM bs_sct WHERE len(t) >= 2),
bs_j AS (SELECT bs_sc.doc_id,
             (CASE WHEN b.c12 IS NOT NULL
                   THEN (length(bin(u1.c)) - 1) - (length(bin(b.c12)) - 1)
                   WHEN u2.c IS NOT NULL
                   THEN {BIGRAM_BACKOFF_BITS} + ({nb}) - (length(bin(u2.c)) - 1)
                   ELSE {BIGRAM_BACKOFF_BITS} + ({nb}) + 1 END)::BIGINT AS bits,
             CASE WHEN b.c12 IS NULL THEN 1 ELSE 0 END AS bo
      FROM bs_sc
      LEFT JOIN bs_big b ON bs_sc.w1 = b.w1 AND bs_sc.w2 = b.w2
      LEFT JOIN bs_uni u1 ON bs_sc.w1 = u1.tok
      LEFT JOIN bs_uni u2 ON bs_sc.w2 = u2.tok),
bs_per AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
               sum(bits)::BIGINT AS total_bits,
               sum(bo)::BIGINT AS n_backoff
        FROM bs_j GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(p.total_bits, 0)::BIGINT AS total_bits,
       coalesce(p.n_backoff, 0)::BIGINT AS n_backoff,
       (CASE WHEN p.n_bigrams > 0
             THEN p.total_bits * 1000 // p.n_bigrams END)::BIGINT
           AS milli_bits_per_bigram
FROM {score_table} d LEFT JOIN bs_per p USING (doc_id)
"""


def quality_buckets(
    df: DataFrame,
    text_col: str = "text",
    by: str = "lang",
    relative_error: float | None = None,
) -> DataFrame:
    """CCNet head/middle/tail quality bucketing: score every document
    with the corpus-trained unigram surprisal, then cut each stratum
    (language) at its own 25th/75th percentile — lowest-surprisal
    (most typical) quarter is ``head``, the top quarter ``tail``, the
    rest ``middle``. Downstream mixing then oversamples head the way
    CCNet's perplexity buckets do. Cut points are quartiles, not
    CCNet's thirds, as a documented choice: 0.25/0.75 interpolation
    positions are exact binary fractions, so the exact-percentile
    thresholds (and hence the bucket assignment) are bit-identical to
    DuckDB's quantile_cont on the integer scores (same argument as
    length_quantiles).

    Zero-token docs have NULL surprisal: they take no part in the
    thresholds (percentile ignores NULLs in both engines) and get a
    NULL bucket.

    Two paths, one signature (the length_quantiles pattern): default
    EXACT percentile is the oracled verifier; ``relative_error`` swaps
    in approx_percentile — the mergeable-sketch 100 TB path with
    bounded state per stratum, at the cost of boundary-rank error.

    Rows whose stratum itself is NULL are kept with a NULL bucket (they
    belong to no stratum, so no thresholds apply) — same contract as
    zero-token docs, and the SQL twin's LEFT JOIN + q25-NULL guard
    mirrors it exactly.

    Scale: unigram_surprisal's two corpus passes + ONE tiny per-stratum
    aggregate (bounded by |langs|) broadcast back onto the scored rows —
    the corpus is never shuffled by stratum."""
    scored = df.select("doc_id", by).join(
        unigram_surprisal(df, text_col=text_col), "doc_id"
    )
    mbpt = F.col("milli_bits_per_token")
    if relative_error is None:
        q25 = F.percentile(mbpt, F.lit(0.25))
        q75 = F.percentile(mbpt, F.lit(0.75))
    else:
        acc = _sketch_accuracy(relative_error)
        q25 = F.approx_percentile(mbpt, F.lit(0.25), F.lit(acc)).cast("double")
        q75 = F.approx_percentile(mbpt, F.lit(0.75), F.lit(acc)).cast("double")
    th = (
        scored.filter(F.col(by).isNotNull())
        .groupBy(by)
        .agg(q25.alias("_q25"), q75.alias("_q75"))
    )
    return (
        scored.join(F.broadcast(th), by, "left")
        .select(
            "doc_id",
            by,
            mbpt,
            F.when(mbpt.isNull(), F.lit(None).cast("string"))
            .when(F.col("_q25").isNull(), F.lit(None).cast("string"))
            .when(mbpt <= F.col("_q25"), F.lit("head"))
            .when(mbpt <= F.col("_q75"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def quality_buckets_sql(
    table: str = "documents", text_expr: str = "text", by: str = "lang"
) -> str:
    inner = unigram_surprisal_sql(table=table, text_expr=text_expr)
    return f"""
WITH s AS (SELECT * FROM ({inner})),
j AS (SELECT d.doc_id, d.{by}, s.milli_bits_per_token
      FROM {table} d JOIN s USING (doc_id)),
th AS (SELECT {by},
              quantile_cont(milli_bits_per_token, 0.25) AS q25,
              quantile_cont(milli_bits_per_token, 0.75) AS q75
       FROM j WHERE {by} IS NOT NULL GROUP BY {by})
SELECT j.doc_id, j.{by}, j.milli_bits_per_token,
       CASE WHEN j.milli_bits_per_token IS NULL THEN NULL
            WHEN th.q25 IS NULL THEN NULL
            WHEN j.milli_bits_per_token <= th.q25 THEN 'head'
            WHEN j.milli_bits_per_token <= th.q75 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM j LEFT JOIN th USING ({by})
"""


def upsample_mix(
    df: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Weighted corpus mixing WITH upsampling — the Dolma/GPT-3 mixing
    table, where a stratum's weight may exceed 1: weight 2.5 emits every
    row twice (epochs 0 and 1) plus a deterministic half of the rows a
    third time (epoch 2); weight 0.4 is plain downsampling; weight 0
    removes the stratum. The complement of ``temperature_sample``
    (derived downsampling only) and ``stratified_sample`` (caller-set
    rates capped at 1): training mixes routinely REPEAT high-quality
    sources, and the repeats must be explicit rows so downstream
    shuffling/packing sees them.

    The ``epoch`` column (0-based copy index) distinguishes repeats —
    dedup keys stay honest and packing can interleave epochs. The
    fractional copy keeps the same portable salted-hash decision as
    stratified_sample: reproducible across runs, partitionings and
    engines; a rerun emits the SAME rows.

    A NULL ``key_col`` gets exactly floor(weight) epochs and never the
    fractional copy — there is no key to hash the decision on — in BOTH
    engines (the fractional term coalesces to 0 on NULL hash, matching
    SQL's CASE WHEN NULL THEN 1 ELSE 0 END = 0).

    Scale (100 TB): map-only — the weight table folds into the plan as
    a CASE over the stratum column (weights are driver-side constants,
    like stratified_sample's rates), the copies come from exploding a
    per-row sequence bounded by ceil(max weight), and there is ZERO
    shuffle; cost is exactly the output volume. All-integer weight
    tables skip the per-row hash entirely (every fractional threshold
    is 0, so the comparison is constant-false)."""
    _validate_weights(weights, default_weight)
    full_c, thr_c = None, None
    for s, w in weights.items():
        full, thr = _split_weight(w)
        cond = F.col(stratum_col) == s
        full_c = (F.when(cond, full) if full_c is None else full_c.when(cond, full))
        thr_c = (F.when(cond, thr) if thr_c is None else thr_c.when(cond, thr))
    dfull, dthr = _split_weight(default_weight)
    full_c = full_c.otherwise(F.lit(dfull)) if full_c is not None else F.lit(dfull)
    thr_c = thr_c.otherwise(F.lit(dthr)) if thr_c is not None else F.lit(dthr)

    all_integral = dthr == 0 and all(
        _split_weight(w)[1] == 0 for w in weights.values()
    )
    if all_integral:
        n_copies = full_c.cast("long")
    else:
        h = F.pmod(
            phash(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))),
            F.lit(SAMPLE_MOD),
        )
        frac = F.coalesce((h < thr_c).cast("int"), F.lit(0))
        n_copies = (full_c + frac).cast("long")
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0).cast("long"), n_copies - 1)
    ).otherwise(F.array().cast("array<long>"))
    return df.select("*", F.explode(copies).alias("epoch"))


def upsample_mix_sql(
    weights: dict[str, float],
    table: str = "documents",
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "mix",
) -> str:
    """DuckDB mirror of upsample_mix (unnest(range(0, n_copies)) drops
    zero-copy rows exactly like exploding an empty array; a NULL key's
    hash comparison is NULL, so CASE adds 0 — the kernel's coalesce
    twin). Shares _split_weight with the kernel so the (full,
    threshold) decomposition can never diverge between twins."""
    from pdf_extract_spark.operators.hashing import phash_sql

    _validate_weights(weights, default_weight)
    q = _sql_quote
    fulls = " ".join(
        f"WHEN {q(s)} THEN {_split_weight(w)[0]}" for s, w in weights.items()
    )
    thrs = " ".join(
        f"WHEN {q(s)} THEN {_split_weight(w)[1]}" for s, w in weights.items()
    )
    dfull, dthr = _split_weight(default_weight)
    full_expr = f"CASE {stratum_col} {fulls} ELSE {dfull} END" if weights else str(dfull)
    thr_expr = f"CASE {stratum_col} {thrs} ELSE {dthr} END" if weights else str(dthr)
    key_expr = q(salt + ":") + " || " + key_col + "::VARCHAR"
    h = f"({phash_sql(key_expr)} % {SAMPLE_MOD})"
    return f"""
SELECT *, unnest(range(0, ({full_expr})
                        + (CASE WHEN {h} < ({thr_expr}) THEN 1 ELSE 0 END)))::BIGINT AS epoch
FROM {table}
"""
# ------------------------------------------------------------ C4 cleaning
#
# The C4 cleaning heuristics (Raffel et al. 2020, "Exploring the Limits
# of Transfer Learning...", section 2.2) — the public line/page rules the
# reference's rule core echoes at span level (empty-fragment and
# numbers-only drops, main.py prompt rules; SURVEY.md F3/F7/F8) lifted to
# the corpus-curation layer: line-level keep tests plus page-level
# poison tests.

C4_TERMINALS = (".", "!", "?", '"', "”")
C4_MIN_WORDS = 5
C4_MIN_LINES = 3


def _c4_line_keep(line: Column, min_words: int) -> Column:
    """Keep predicate for ONE line (the lambda body of the array filter;
    formula mirrored term-for-term by _c4_line_keep_sql): the space-
    rtrimmed line ends in a terminal mark, carries >= min_words
    whitespace-separated words, and does not mention 'javascript'
    (case-insensitive) — C4 drops such lines rather than pages."""
    r = F.rtrim(line)
    ends = r.endswith(C4_TERMINALS[0])
    for mark in C4_TERMINALS[1:]:
        ends = ends | r.endswith(mark)
    n_words = F.size(F.filter(F.split(line, WS + "+"), lambda x: x != ""))
    return ends & (n_words >= min_words) & ~F.lower(line).contains("javascript")


def _c4_line_keep_sql(min_words: int) -> str:
    """DuckDB twin of _c4_line_keep over a lambda variable named ``l``.
    rtrim is space-only in BOTH engines (Spark rtrim and DuckDB rtrim
    strip 0x20 only), so the terminal test agrees on trailing-tab lines
    by both REJECTING them."""
    ends = " OR ".join(
        f"ends_with(rtrim(l), '{m}')" for m in C4_TERMINALS
    )
    return (
        f"(({ends}) AND "
        f"len(list_filter(regexp_split_to_array(l, '{WS}+'), x -> x <> '')) "
        f">= {min_words} AND NOT contains(lower(l), 'javascript'))"
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = C4_MIN_WORDS,
    min_lines: int = C4_MIN_LINES,
    blocklist: tuple[str, ...] = (),
) -> DataFrame:
    """C4's cleaning pass (Raffel et al. 2020 §2.2) as one map-only
    projection. Line rules (drop the LINE): must end in terminal
    punctuation (. ! ? " ”) after space-rtrim, must have >= min_words
    words, must not mention 'javascript'. Page rules (drop the DOC):
    any '{' (code), any 'lorem ipsum' (boilerplate), any blocklist
    phrase (all case-insensitive except the brace), or fewer than
    min_lines surviving lines.

    Returns EVERY input row as (doc_id, n_lines, n_kept, keep,
    cleaned_text) — cleaned_text is the kept lines rejoined with
    newlines for keepers, NULL for dropped docs, so the audit (why did
    coverage fall?) and the curated output come from one pass. NULL
    text coalesces to '' (keep = false), matching dedup_lines.

    Scale (100 TB): ZERO Exchange — split/filter/concat are all
    whole-stage-codegen array expressions evaluated where the document
    already lives; nothing shuffles, nothing broadcasts, no Python.
    Reference parity: the reference applies its empty/numbers-only span
    drops per document inside the extraction loop (SURVEY.md F3/F7) —
    this is the same shape one level up, line-in-doc instead of
    span-in-page."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(txt)
    page_ok = (~txt.contains("{")) & (~low.contains("lorem ipsum"))
    for phrase in blocklist:
        page_ok = page_ok & (~low.contains(phrase.lower()))
    lines = F.split(txt, "\n")
    kept = F.filter(lines, lambda l: _c4_line_keep(l, min_words))
    keep = page_ok & (F.size(kept) >= min_lines)
    return df.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        keep.alias("keep"),
        F.when(keep, F.concat_ws("\n", kept)).alias("cleaned_text"),
    )


def c4_clean_sql(
    table: str = "documents",
    text_expr: str = "text",
    min_words: int = C4_MIN_WORDS,
    min_lines: int = C4_MIN_LINES,
    blocklist: tuple[str, ...] = (),
) -> str:
    """DuckDB mirror of c4_clean (string_split on chr(10) == Spark
    split on '\\n'; both engines yield [''] for '')."""
    page_ok = (
        "NOT contains(txt, '{') AND NOT contains(lower(txt), 'lorem ipsum')"
    )
    for phrase in blocklist:
        page_ok += f" AND NOT contains(lower(txt), {_sql_quote(phrase.lower())})"
    keep = f"({page_ok} AND len(kept) >= {min_lines})"
    return f"""
WITH c4l AS (SELECT doc_id, coalesce({text_expr}, '') AS txt FROM {table}),
c4s AS (SELECT doc_id, txt, string_split(txt, chr(10)) AS lines FROM c4l),
c4k AS (SELECT doc_id, txt, lines,
               list_filter(lines, l -> {_c4_line_keep_sql(min_words)}) AS kept
        FROM c4s)
SELECT doc_id,
       len(lines)::BIGINT AS n_lines,
       len(kept)::BIGINT AS n_kept,
       {keep} AS keep,
       CASE WHEN {keep} THEN array_to_string(kept, chr(10)) END AS cleaned_text
FROM c4k
"""


# ------------------------------------------------------- TF-IDF keywords

def tfidf_topk(df: DataFrame, text_col: str = "text", top: int = 5) -> DataFrame:
    """Per-document top-k keyword extraction by an integer-exact tf-idf:
    idf is the floor-log2 bit length of N_docs/df (same exact-bits trick
    as unigram_surprisal's _flog2 — a float ln() is 1-ulp
    engine-dependent and would break hash-exactness), score =
    tf * floor(log2(N // df)), ranked per doc by (score DESC, term ASC)
    with row_number so the top-k boundary is a total order.

    Returns (doc_id, term, tf, df, score, rnk), rnk <= top. Docs with
    no tokens contribute no rows (both engines explode nothing).

    Scale (100 TB): the document-frequency table is ONE token-keyed
    count aggregate (map-side combinable; the shuffle carries only the
    term string), joined back to per-doc tf on term as a SHUFFLE join —
    a web-scale vocabulary is never broadcast, unlike the single-row
    corpus total which folds in via one broadcast. The final window
    partitions by doc_id (unbounded cardinality, no hot key)."""
    ex = df.select("doc_id", F.explode(tokens(F.col(text_col))).alias("term"))
    tf_tab = ex.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    df_tab = tf_tab.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    total = df.agg(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tf_tab.join(df_tab, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * _flog2(F.expr("n_docs DIV df")))
            .cast("long")
            .alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


def tfidf_topk_sql(
    table: str = "documents", text_expr: str = "text", top: int = 5
) -> str:
    """DuckDB mirror of tfidf_topk (bin-length idf == _flog2)."""
    toks = tokens_sql(text_expr)
    return f"""
WITH tfx AS (SELECT doc_id, unnest({toks}) AS term FROM {table}),
tft AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tfx GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tft GROUP BY 1),
ndt AS (SELECT count(*)::BIGINT AS n_docs FROM {table}),
sct AS (SELECT tft.doc_id, tft.term, tft.tf, dft.df,
               (tft.tf * (length(bin((SELECT n_docs FROM ndt) // dft.df))
                          - 1))::BIGINT AS score
        FROM tft JOIN dft USING (term)),
rkt AS (SELECT doc_id, term, tf, df, score,
               (row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC))::BIGINT
                   AS rnk
        FROM sct)
SELECT doc_id, term, tf, df, score, rnk FROM rkt WHERE rnk <= {top}
"""


# BM25 constants in integer milli units: k1 = 1.2, b = 0.75 (the
# Robertson/Okapi defaults). All-integer arithmetic (trunc division)
# keeps scores bit-identical across engines, partitionings and reruns —
# same rationale as tfidf_topk/unigram_surprisal.
BM25_K1_MILLI = 1200
BM25_B_MILLI = 750


def _bm25_terms(query_terms: list[str]) -> list[str]:
    """Shared query-term normalization for both BM25 twins: case-fold
    (tokens() lowercases the corpus) and fail loud on empty."""
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    return terms


def _bm25_term_score(tf: str, dl: str, n_docs: str, total_dl: str,
                     div: str) -> str:
    """The BM25 term-frequency fraction in milli, as a formula template
    shared by the Spark kernel (div='DIV') and the DuckDB twin
    (div='//') so the two can never diverge. Multiplied by the integer
    idf bits outside."""
    avg = f"({total_dl} * 1000 {div} {n_docs})"
    rel = f"({dl} * 1000000 {div} {avg})"
    norm = f"({1000 - BM25_B_MILLI} + ({BM25_B_MILLI} * {rel}) {div} 1000)"
    denom = f"({tf} * 1000 + ({BM25_K1_MILLI} * {norm}) {div} 1000)"
    return f"({tf} * {1000 + BM25_K1_MILLI} * 1000 {div} {denom})"


def bm25_topk(
    df: DataFrame, query_terms: list[str], k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 retrieval: rank the corpus against a fixed query term
    set and return the global top-``k`` documents. Integer-exact: idf is
    the _flog2 bit length of N_docs/df (a float ln() is 1-ulp
    engine-dependent), the tf/length-normalization fraction is all-milli
    trunc division (k1=1.2, b=0.75), so scores are bit-identical across
    engines and shuffle orders. Returns (doc_id, score_milli, n_terms,
    rank), rank <= k, total-ordered by (score DESC, doc_id ASC).

    Scale (100 TB): the corpus explodes tokens MAP-SIDE and filters to
    the bounded query term set before anything shuffles — only matching
    (doc_id, term) rows move; per-doc length rides the explode (min(dl)
    per group), so the corpus-wide length table is never joined; the
    document-frequency and corpus-stat relations are bounded (|terms|
    rows and one row) and broadcast; the global top-k is
    TakeOrderedAndProject (per-partition heaps), with the rank window
    running AFTER the limit over <= k rows. Reference analog: the
    similarity-ranked candidate pick of SURVEY.md W9, corpus-scale.

    Query terms are case-folded (the tokens() tokenizer lowercases the
    corpus, so a verbatim mixed-case term would silently match
    nothing); an empty term set raises (its SQL twin cannot render
    ``IN ()``, so both twins fail loud rather than one silently
    returning empty)."""
    terms = _bm25_terms(query_terms)
    base = df.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    stats = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("total_dl"),
    )
    ex = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        F.explode("toks").alias("term"),
    ).filter(F.col("term").isin(terms))
    tf_tab = ex.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf"),
        F.min("dl").alias("dl"),
    )
    df_tab = tf_tab.groupBy("term").agg(
        F.count("*").cast("long").alias("df"))
    frac = _bm25_term_score("tf", "dl", "n_docs", "total_dl", "DIV")
    scored = (
        tf_tab.join(F.broadcast(df_tab), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (_flog2(F.expr("n_docs DIV df")) * F.expr(frac))
            .cast("long").alias("term_score"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("term_score").cast("long").alias("score_milli"),
        F.count("*").cast("long").alias("n_terms"),
    )
    top = agg.orderBy(F.desc("score_milli"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score_milli"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "score_milli", "n_terms", "rank")
    )


def bm25_topk_sql(
    query_terms: list[str], k: int = 10,
    table: str = "documents", text_expr: str = "text",
) -> str:
    """DuckDB mirror of bm25_topk (shared _bm25_term_score formula,
    bin-length idf == _flog2, `//` == DIV on nonnegatives; same
    case-fold + non-empty validation as the kernel)."""
    terms = _bm25_terms(query_terms)
    toks = tokens_sql(text_expr)
    in_list = ", ".join(_sql_quote(t) for t in terms)
    frac = _bm25_term_score(
        "tft.tf", "tft.dl",
        "(SELECT n_docs FROM st)", "(SELECT total_dl FROM st)", "//",
    )
    return f"""
WITH base AS (SELECT doc_id, {toks} AS toks FROM {table}),
st AS (SELECT count(*)::BIGINT AS n_docs,
              sum(len(toks))::BIGINT AS total_dl FROM base),
ex AS (SELECT doc_id, len(toks)::BIGINT AS dl, unnest(toks) AS term
       FROM base),
tft AS (SELECT doc_id, term, count(*)::BIGINT AS tf, min(dl) AS dl
        FROM ex WHERE term IN ({in_list}) GROUP BY 1, 2),
dft AS (SELECT term, count(*)::BIGINT AS df FROM tft GROUP BY 1),
sc AS (SELECT tft.doc_id,
              ((length(bin((SELECT n_docs FROM st) // dft.df)) - 1)
               * {frac})::BIGINT AS term_score
       FROM tft JOIN dft USING (term)),
ag AS (SELECT doc_id, sum(term_score)::BIGINT AS score_milli,
              count(*)::BIGINT AS n_terms
       FROM sc GROUP BY 1),
rk AS (SELECT doc_id, score_milli, n_terms,
              (row_number() OVER (ORDER BY score_milli DESC, doc_id ASC)
               )::BIGINT AS rank
       FROM ag)
SELECT doc_id, score_milli, n_terms, rank FROM rk WHERE rank <= {k}
"""


# --------------------------------------------------------- corpus card

def corpus_card(df: DataFrame, strata_col: str = "lang",
                text_col: str = "text") -> DataFrame:
    """The per-stratum summary a dataset ships with (a data card's
    composition table): docs, whitespace tokens, characters, the
    stratum's integer milli-share of corpus tokens, and mean tokens per
    doc in milli-token units. All-integer arithmetic (trunc division,
    == DuckDB ``//`` on non-negatives) so the card is bit-identical
    across engines, partitionings and reruns.

    Returns (stratum, n_docs, n_tokens, n_chars, token_share_milli,
    mean_tokens_milli). NULL strata group as their own row, NULL text
    counts 0 tokens/chars.

    Scale (100 TB): ONE partial-combinable aggregate keyed on the
    low-cardinality stratum (map-side combine collapses each partition
    to |strata| rows before the shuffle) plus a single-row corpus total
    folded in via broadcast — document text never shuffles."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    per = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(tokens(t))).cast("long").alias("n_tokens"),
        F.sum(F.length(t)).cast("long").alias("n_chars"),
    )
    total = per.agg(F.sum("n_tokens").cast("long").alias("tot_tokens"))
    return per.crossJoin(F.broadcast(total)).select(
        "stratum",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.when(
            F.col("tot_tokens") > 0,
            F.expr("n_tokens * 1000 DIV tot_tokens"),
        ).cast("long").alias("token_share_milli"),
        F.expr("n_tokens * 1000 DIV n_docs").cast("long")
        .alias("mean_tokens_milli"),
    )


def corpus_card_sql(table: str = "documents", strata_expr: str = "lang",
                    text_expr: str = "text") -> str:
    """DuckDB mirror of corpus_card."""
    toks = tokens_sql(f"coalesce({text_expr}, '')")
    return f"""
WITH per AS (
  SELECT {strata_expr} AS stratum,
         count(*)::BIGINT AS n_docs,
         sum(len({toks}))::BIGINT AS n_tokens,
         sum(length(coalesce({text_expr}, '')))::BIGINT AS n_chars
  FROM {table} GROUP BY 1
),
tot AS (SELECT sum(n_tokens)::BIGINT AS tot_tokens FROM per)
SELECT stratum, n_docs, n_tokens, n_chars,
       (CASE WHEN tot_tokens > 0
             THEN n_tokens * 1000 // tot_tokens END)::BIGINT
           AS token_share_milli,
       (n_tokens * 1000 // n_docs)::BIGINT AS mean_tokens_milli
FROM per CROSS JOIN tot
"""


# ---------------------------------------------- Gopher repetition signals
#
# The FULL Gopher repetition battery (Rae et al. 2021, §A1.1.2 — public
# paper): duplicate-line fractions plus per-n n-gram repetition for
# n=2..10. repetition_stats() above is the two-signal summary; this is
# the complete filter table a production curation pass thresholds on
# (Gopher drops docs with e.g. dup_line_frac > 0.30 or top2 > 0.20).
# All fractions are integer milli units (trunc division, == DuckDB //
# on non-negatives) so every stat is bit-identical across engines.
#
# Scale (100 TB): the naive plan — explode all n-grams and groupBy
# (doc_id, n, gram) — shuffles ~9x the tokenised corpus. Every signal
# here is within-document, so instead each row sorts its own gram array
# and folds adjacent runs with aggregate(): run length = occurrence
# count, giving max/dup char coverage in one O(g log g) map-only pass —
# ZERO Exchange, embarrassingly parallel (plan-asserted in
# tests/test_gopher.py). Sequential HOF folds are the fast path; only
# per-index random access (element_at inside transform) is the
# interpreted 12x trap (see dedup.winnow_fingerprints).

GOPHER_TOP_NS = (2, 3, 4)
GOPHER_DUP_NS = (5, 6, 7, 8, 9, 10)


def word_grams(toks: Column, n: int) -> Column:
    """Positional word n-grams as space-joined strings, built as a
    chained zip_with over n shifted slices (never element_at random
    access inside transform — same discipline as
    dedup._positional_gram_hashes)."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    g = F.slice(toks, 1, m)
    for i in range(1, n):
        g = F.zip_with(
            g, F.slice(toks, i + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return g


def word_grams_sql(toks: str, n: int) -> str:
    """DuckDB mirror (1-based list indexing is fine oracle-side)."""
    body = " || ' ' || ".join(
        f"{toks}[i + {k}]" if k else f"{toks}[i]" for k in range(n)
    )
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
        f"i -> {body})"
    )


def _run_fold(arr: Column) -> Column:
    """Fold a string array into struct(top, dup): sort it, then scan
    adjacent equal runs — run length == occurrence count of that value.
    top = max over values of count*length (chars covered by the value
    covering the MOST characters — the deterministic variant of
    Gopher's "most frequent n-gram", needs no tie-break); dup = total
    chars covered by values occurring more than once, counting every
    occurrence. Empty array -> (0, 0); NULL array -> NULL struct.
    Values are never NULL/'' here (tokens() filters empties), so a
    NULL prev marks only the initial accumulator."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc, x):
        chars = acc["run"] * F.length(acc["prev"])
        return F.when(
            acc["prev"].eqNullSafe(x),
            F.struct(
                x.alias("prev"),
                (acc["run"] + 1).alias("run"),
                acc["top"].alias("top"),
                acc["dup"].alias("dup"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                F.greatest(acc["top"], F.coalesce(chars, F.lit(0))).alias("top"),
                (
                    acc["dup"]
                    + F.coalesce(F.when(acc["run"] > 1, chars), F.lit(0))
                ).alias("dup"),
            )
        )

    def fin(acc):
        chars = acc["run"] * F.length(acc["prev"])
        return F.struct(
            F.greatest(acc["top"], F.coalesce(chars, F.lit(0))).alias("top"),
            (
                acc["dup"]
                + F.coalesce(F.when(acc["run"] > 1, chars), F.lit(0))
            ).alias("dup"),
        )

    return F.aggregate(F.array_sort(arr), init, step, fin)


def _line_fold(arr: Column) -> Column:
    """Fold a string array of lines into struct(dup, dupc): occurrences
    beyond the first of any repeated line, and the characters of those
    beyond-first occurrences. Same sorted-run scan as _run_fold."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("dupc"),
    )

    def _close(acc):
        extra = acc["run"] - 1
        return (
            acc["dup"] + F.coalesce(F.when(extra > 0, extra), F.lit(0)),
            acc["dupc"]
            + F.coalesce(
                F.when(extra > 0, extra * F.length(acc["prev"])), F.lit(0)
            ),
        )

    def step(acc, x):
        dup, dupc = _close(acc)
        return F.when(
            acc["prev"].eqNullSafe(x),
            F.struct(
                x.alias("prev"),
                (acc["run"] + 1).alias("run"),
                acc["dup"].alias("dup"),
                acc["dupc"].alias("dupc"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                dup.alias("dup"),
                dupc.alias("dupc"),
            )
        )

    def fin(acc):
        dup, dupc = _close(acc)
        return F.struct(dup.alias("dup"), dupc.alias("dupc"))

    return F.aggregate(F.array_sort(arr), init, step, fin)


def gopher_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher repetition signals (Rae et al. 2021 §A1.1.2):
    n_lines / dup_line_milli / dup_line_char_milli over non-empty lines,
    top{2,3,4}_char_milli (chars covered by the n-gram covering the most
    characters / total chars) and dup{5..10}_char_milli (chars covered
    by n-grams occurring more than once, counting every occurrence — so
    a value may exceed 1000; callers threshold, not sum). NULL text ->
    all stats NULL; zero-denominator stats NULL. The reference's analog
    is its per-document span cleanup loop (SURVEY.md F3/F7/C3) — same
    per-document locality, one level up."""
    ns = sorted(set(GOPHER_TOP_NS) | set(GOPHER_DUP_NS))
    t = df.select(
        "doc_id",
        F.col(text_col).alias("text"),
        tokens(F.col(text_col)).alias("toks"),
        F.length(text_col).alias("n_chars"),
    )
    lines = F.filter(F.split("text", "\n"), lambda x: x != "")
    g = t.select(
        "doc_id",
        "text",
        "n_chars",
        F.size(lines).cast("long").alias("lines_n"),
        _line_fold(lines).alias("lf"),
        *[
            _run_fold(word_grams(F.col("toks"), n)).alias(f"g{n}")
            for n in ns
        ],
    )
    nn = F.col("text").isNotNull()
    out = [
        "doc_id",
        F.when(nn, F.col("lines_n")).cast("long").alias("n_lines"),
        F.when(nn & (F.col("lines_n") > 0),
               F.expr("lf.dup * 1000 DIV lines_n"))
        .cast("long").alias("dup_line_milli"),
        F.when(nn & (F.col("n_chars") > 0),
               F.expr("lf.dupc * 1000 DIV n_chars"))
        .cast("long").alias("dup_line_char_milli"),
    ]
    for n in GOPHER_TOP_NS:
        out.append(
            F.when(nn & (F.col("n_chars") > 0),
                   F.expr(f"g{n}.top * 1000 DIV n_chars"))
            .cast("long").alias(f"top{n}_char_milli"))
    for n in GOPHER_DUP_NS:
        out.append(
            F.when(nn & (F.col("n_chars") > 0),
                   F.expr(f"g{n}.dup * 1000 DIV n_chars"))
            .cast("long").alias(f"dup{n}_char_milli"))
    return g.select(*out)


def gopher_repetition_sql(table: str = "documents",
                          text_expr: str = "text") -> str:
    """DuckDB mirror of gopher_repetition. The oracle takes the simple
    set-based route (explode all n-grams, group, count) — value-
    identical to the kernel's sorted-run fold because run length over a
    sorted array IS the occurrence count."""
    toks = tokens_sql("text")
    ns = sorted(set(GOPHER_TOP_NS) | set(GOPHER_DUP_NS))
    gram_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {n} AS n, "
        f"unnest({word_grams_sql('toks', n)}) AS gram FROM t"
        for n in ns
    )
    tops = ",\n".join(
        f"       max(CASE WHEN n = {n} THEN top_chars END) AS top{n}_chars"
        for n in GOPHER_TOP_NS)
    dups = ",\n".join(
        f"       max(CASE WHEN n = {n} THEN dup_chars END) AS dup{n}_chars"
        for n in GOPHER_DUP_NS)
    sel_tops = ",\n".join(
        f"       (CASE WHEN text IS NOT NULL AND n_chars > 0 THEN "
        f"coalesce(top{n}_chars, 0) * 1000 // n_chars END)::BIGINT"
        f" AS top{n}_char_milli"
        for n in GOPHER_TOP_NS)
    sel_dups = ",\n".join(
        f"       (CASE WHEN text IS NOT NULL AND n_chars > 0 THEN "
        f"coalesce(dup{n}_chars, 0) * 1000 // n_chars END)::BIGINT"
        f" AS dup{n}_char_milli"
        for n in GOPHER_DUP_NS)
    return f"""
WITH t AS (SELECT doc_id, {text_expr} AS text, {toks} AS toks,
                  length({text_expr}) AS n_chars
           FROM {table}),
g AS (
{gram_union}
),
gc AS (SELECT doc_id, n, gram, count(*)::BIGINT AS c FROM g GROUP BY 1, 2, 3),
gs AS (SELECT doc_id, n,
              max(c * length(gram)) AS top_chars,
              coalesce(sum(CASE WHEN c > 1 THEN c * length(gram) END), 0)
                  AS dup_chars
       FROM gc GROUP BY 1, 2),
gw AS (SELECT doc_id,
{tops},
{dups}
       FROM gs GROUP BY 1),
lx AS (SELECT doc_id,
              unnest(list_filter(string_split(text, chr(10)), x -> x <> ''))
                  AS line
       FROM t),
lc AS (SELECT doc_id, line, count(*)::BIGINT AS c FROM lx GROUP BY 1, 2),
ls AS (SELECT doc_id, sum(c)::BIGINT AS lines_n,
              coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS dup_lines,
              coalesce(sum(CASE WHEN c > 1 THEN (c - 1) * length(line) END), 0)
                  AS dup_line_chars
       FROM lc GROUP BY 1)
SELECT t.doc_id,
       (CASE WHEN text IS NOT NULL
             THEN coalesce(lines_n, 0) END)::BIGINT AS n_lines,
       (CASE WHEN text IS NOT NULL AND coalesce(lines_n, 0) > 0 THEN
          coalesce(dup_lines, 0) * 1000 // lines_n END)::BIGINT
           AS dup_line_milli,
       (CASE WHEN text IS NOT NULL AND n_chars > 0 THEN
          coalesce(dup_line_chars, 0) * 1000 // n_chars END)::BIGINT
           AS dup_line_char_milli,
{sel_tops},
{sel_dups}
FROM t LEFT JOIN ls USING (doc_id) LEFT JOIN gw USING (doc_id)
"""


# The published Gopher repetition thresholds (Rae et al. 2021, Table A1),
# in the battery's integer milli units (fraction > t becomes milli > t*1000;
# the battery's trunc-division quantization makes the boundary exact and
# engine-identical). The paper's duplicate-paragraph rows collapse onto the
# line rows here: the battery treats newline-separated units as lines.
GOPHER_THRESHOLDS: tuple[tuple[str, int], ...] = (
    ("dup_line_milli", 300),
    ("dup_line_char_milli", 200),
    ("top2_char_milli", 200),
    ("top3_char_milli", 180),
    ("top4_char_milli", 160),
    ("dup5_char_milli", 150),
    ("dup6_char_milli", 140),
    ("dup7_char_milli", 130),
    ("dup8_char_milli", 120),
    ("dup9_char_milli", 110),
    ("dup10_char_milli", 100),
)


def gopher_gate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher repetition FILTER (Rae et al. 2021 Table A1): run the
    battery, then apply the paper's published thresholds — a document
    violating any signal is dropped. Returns every input row
    (drop-don't-lose, like quality_filter) with the battery columns plus
    ``n_violations`` and ``keep``; NULL-text documents carry NULL
    signals, zero violations and keep=true (nothing measurable to drop
    on — the empty-doc gate is quality_filter's job). One extra map-only
    projection over gopher_repetition: still ZERO Exchange. Reference
    analog: the per-document cleanup verdicts of SURVEY.md F3/F7."""
    rep = gopher_repetition(df, text_col)
    viol = None
    for colname, cap in GOPHER_THRESHOLDS:
        v = F.when(F.col(colname) > cap, 1).otherwise(0)
        viol = v if viol is None else viol + v
    return rep.select(
        "*",
        viol.cast("long").alias("n_violations"),
        (viol == 0).alias("keep"),
    )


def gopher_gate_sql(table: str = "documents", text_expr: str = "text") -> str:
    """DuckDB mirror of gopher_gate over the battery's oracle SQL
    (NULL signal > cap is false in both engines, so NULL-text docs
    count zero violations on both sides)."""
    rep = gopher_repetition_sql(table, text_expr)
    viol = " + ".join(
        f"(CASE WHEN {col} > {cap} THEN 1 ELSE 0 END)"
        for col, cap in GOPHER_THRESHOLDS
    )
    return f"""
WITH battery AS ({rep})
SELECT *, ({viol})::BIGINT AS n_violations, (({viol}) = 0) AS keep
FROM battery
"""


# ----------------------------------------------- vocabulary coverage

def vocab_coverage(
    df: DataFrame, vocab_size: int = 500, text_col: str = "text"
) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: derive the top-``vocab_size``
    term vocabulary by document frequency (the deterministic stand-in
    for a real tokenizer's vocab file), then score EVERY document's
    out-of-vocabulary rate against it. High OOV marks mojibake,
    wrong-language and non-linguistic documents that slip past
    length/stopword gates; a training pipeline also runs exactly this
    audit before committing to a tokenizer. Returns (doc_id, n_tokens,
    n_oov, oov_milli) — integer milli (trunc division) so the stats are
    bit-identical across engines. NULL text -> all NULL; empty -> zero
    tokens, oov_milli NULL.

    Scale (100 TB): the document-frequency table is one map-combinable
    aggregate on the term key; the global top-V compiles to
    TakeOrderedAndProject (per-partition bounded heap, never a
    single-partition sort); the bounded vocab broadcasts to the
    occurrence join, so the corpus-sized side never shuffles by term —
    its only Exchange is the per-doc re-aggregation."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    toks = tokens(F.col(text_col))
    base = df.select(
        "doc_id", F.col(text_col).isNotNull().alias("_nn"), toks.alias("toks")
    )
    dfreq = (
        base.select(F.explode(F.array_distinct("toks")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    vocab = (
        dfreq.orderBy(F.desc("df"), F.asc("term"))
        .limit(vocab_size)
        .select("term", F.lit(1).alias("_v"))
    )
    occ = base.select("doc_id", F.explode("toks").alias("term"))
    per = (
        occ.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0))
            .cast("long").alias("n_oov"),
        )
    )
    nn = F.col("_nn")
    return base.select("doc_id", "_nn").join(per, "doc_id", "left").select(
        "doc_id",
        F.when(nn, F.coalesce("n_tokens", F.lit(0))).cast("long").alias("n_tokens"),
        F.when(nn, F.coalesce("n_oov", F.lit(0))).cast("long").alias("n_oov"),
        F.when(
            nn & (F.coalesce("n_tokens", F.lit(0)) > 0),
            F.expr("coalesce(n_oov, 0) * 1000 DIV n_tokens"),
        ).cast("long").alias("oov_milli"),
    )


def vocab_coverage_sql(
    table: str = "documents", text_expr: str = "text", vocab_size: int = 500
) -> str:
    """DuckDB mirror of vocab_coverage. The (df DESC, term ASC) total
    order makes the top-V boundary engine-independent (binary UTF-8
    string comparison in both engines — the ngram_topk discipline)."""
    toks = tokens_sql(text_expr)
    return f"""
WITH t AS (SELECT doc_id, {text_expr} AS text, {toks} AS toks FROM {table}),
dfq AS (SELECT term, count(*)::BIGINT AS df
        FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t)
        GROUP BY 1),
voc AS (SELECT term FROM dfq ORDER BY df DESC, term LIMIT {vocab_size}),
occ AS (SELECT doc_id, unnest(toks) AS term FROM t),
per AS (SELECT occ.doc_id, count(*)::BIGINT AS n_tokens,
               sum(CASE WHEN voc.term IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
        FROM occ LEFT JOIN voc ON occ.term = voc.term GROUP BY 1)
SELECT t.doc_id,
       (CASE WHEN text IS NOT NULL THEN coalesce(n_tokens, 0) END)::BIGINT
           AS n_tokens,
       (CASE WHEN text IS NOT NULL THEN coalesce(n_oov, 0) END)::BIGINT
           AS n_oov,
       (CASE WHEN text IS NOT NULL AND coalesce(n_tokens, 0) > 0
             THEN coalesce(n_oov, 0) * 1000 // n_tokens END)::BIGINT
           AS oov_milli
FROM t LEFT JOIN per ON t.doc_id = per.doc_id
"""


# ----------------------------------------------- BPE pair induction

def bpe_pair_counts(
    df: DataFrame, top: int = 40, text_col: str = "text"
) -> DataFrame:
    """Tokenizer induction support: the frequency-weighted adjacent
    codepoint-pair counts that drive the first BPE merge decision
    (Sennrich et al. 2016 — training repeats exactly this count with
    the winning pair merged into one symbol, so this primitive IS the
    per-iteration workload). Pairs are counted inside cased words
    (``tokens_cased`` — a vocab builder must not destroy case), each
    word's pairs weighted by the word's corpus frequency. Returns the
    ``top`` pairs as (pair, n_pairs, rank) under the total order
    (n_pairs DESC, pair ASC) — binary UTF-8 comparison in both engines,
    so the top-N boundary and ranks are engine-exact.

    Scale (100 TB): the only corpus-sized pass is the word-count
    aggregate — map-side combinable on the word key. Pair extraction
    then runs over the DISTINCT-WORD relation (bounded by vocabulary,
    not corpus size), which is why the per-character ``substring``
    window here is fine while the same random-access pattern was a 12x
    regression in winnow's corpus-sized gram kernel (zip_with shifted
    slices there). The global top-N compiles to TakeOrderedAndProject —
    a per-partition bounded heap, never a full sort; the rank window
    runs after LIMIT, over ``top`` rows."""
    if top < 1:
        raise ValueError(f"top must be >= 1, got {top}")
    wc = (
        df.select(F.explode(tokens_cased(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n"))
    )
    # sequence(1, 0) DESCENDS in Spark, so single-char words must gate
    # to an empty array (DuckDB's exclusive range(1, 1) is [] natively)
    pairs = wc.select(
        "n",
        F.explode(
            F.when(
                F.length("w") >= 2,
                F.expr("transform(sequence(1, length(w) - 1),"
                       " i -> substring(w, i, 2))"),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(
        F.sum("n").cast("long").alias("n_pairs")
    )
    topped = counted.orderBy(F.desc("n_pairs"), F.asc("pair")).limit(top)
    return topped.select(
        "pair",
        "n_pairs",
        F.row_number()
        .over(
            Window.orderBy(F.desc("n_pairs"), F.asc("pair"))
        )
        .cast("long")
        .alias("rank"),
    )


def bpe_pair_counts_sql(
    table: str = "documents", text_expr: str = "text", top: int = 40
) -> str:
    """DuckDB mirror of ``bpe_pair_counts`` (range(1, length) is the
    exclusive pair-start list; substr is codepoint-based in both
    engines; row_number over the same total order)."""
    toks = tokens_cased_sql(text_expr)
    return f"""
WITH words AS (
  SELECT unnest({toks}) AS w FROM {table}),
wc AS (SELECT w, count(*)::BIGINT AS n FROM words GROUP BY w),
pairs AS (
  SELECT n, unnest(list_transform(range(1, length(w)),
                                  i -> substr(w, i, 2))) AS pair
  FROM wc WHERE length(w) >= 2),
topped AS (
  SELECT pair, sum(n)::BIGINT AS n_pairs
  FROM pairs GROUP BY pair
  ORDER BY n_pairs DESC, pair LIMIT {top})
SELECT pair, n_pairs,
       row_number() OVER (ORDER BY n_pairs DESC, pair)::BIGINT AS rank
FROM topped
"""


# ----------------------------------------------- script composition

# Unicode script classes for the per-document composition profile.
# \x{..} range escapes parse identically in Java regex (Spark) and RE2
# (DuckDB) — but NOT inside str.format templates (brace collision), so
# patterns are assembled by concatenation (the metacompare._PY_WS rule).
SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", "A-Za-z"),
    ("digit", "0-9"),
    ("hangul", r"\x{AC00}-\x{D7A3}"),
    ("cjk", r"\x{4E00}-\x{9FFF}"),
    ("cyrillic", r"\x{0400}-\x{04FF}"),
)


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode-script composition: integer milli fraction
    of characters in each script class (latin letters, ASCII digits,
    hangul syllables, CJK unified ideographs, cyrillic) plus the
    remainder (``other_milli`` — whitespace, punctuation, everything
    else). The routing signal a multilingual pipeline uses ahead of
    per-language curation (the reference's Korean/English split,
    SURVEY.md C17, decides per PAIR; this profiles per document), and a
    cheap mojibake detector (high ``other_milli``). NULL text -> all
    NULL; empty -> zero counts with NULL fractions.

    Counting is subtraction — length(text) minus length after deleting
    the class — so each class costs one regexp_replace; BMP-only ranges
    keep both engines' length() (code points) in agreement. Map-only:
    zero Exchange, no Python, column-pruned scan."""
    t = F.col(text_col)
    n = F.length(t)
    names = [name for name, _ in SCRIPT_CLASSES]
    counted = df.select(
        "doc_id",
        n.cast("long").alias("n_chars"),
        *[
            (n - F.length(F.regexp_replace(t, "[" + cls + "]", "")))
            .cast("long").alias(f"_c_{name}")
            for name, cls in SCRIPT_CLASSES
        ],
    )
    covered = " + ".join(f"_c_{name}" for name in names)
    nz = F.col("n_chars") > 0
    return counted.select(
        "doc_id",
        "n_chars",
        *[
            F.when(nz, F.expr(f"_c_{name} * 1000 DIV n_chars"))
            .cast("long").alias(f"{name}_milli")
            for name in names
        ],
        F.when(nz, F.expr(f"(n_chars - ({covered})) * 1000 DIV n_chars"))
        .cast("long").alias("other_milli"),
    )


def script_profile_sql(table: str = "documents", text_expr: str = "text") -> str:
    """DuckDB mirror of script_profile (same class patterns, global
    regexp_replace, trunc division)."""
    n = f"length({text_expr})"
    cnt_exprs = []
    for name, cls in SCRIPT_CLASSES:
        cnt_exprs.append(
            (name,
             f"({n} - length(regexp_replace({text_expr}, '[{cls}]', '', 'g')))")
        )
    covered = " + ".join(c for _, c in cnt_exprs)
    sels = ",\n".join(
        f"       (CASE WHEN {n} > 0 THEN {c} * 1000 // {n} END)::BIGINT"
        f" AS {name}_milli"
        for name, c in cnt_exprs
    )
    return f"""
SELECT doc_id,
       {n}::BIGINT AS n_chars,
{sels},
       (CASE WHEN {n} > 0
             THEN ({n} - ({covered})) * 1000 // {n} END)::BIGINT AS other_milli
FROM {table}
"""


# ------------------------------------------------ token-budget selection

def token_budget_select(
    scored: DataFrame,
    budget: int,
    score_col: str = "milli_bits_per_token",
    tokens_col: str = "n_tokens",
    key_col: str = "doc_id",
) -> DataFrame:
    """Select the best documents that fit an exact token budget: walk
    the corpus in (score ASC, key ASC) priority order and keep the
    greedy prefix whose cumulative token count stays <= ``budget`` —
    how a training run fills "the N highest-quality tokens" from a
    scored corpus (score = unigram_surprisal milli-bits in the
    registered query: lower = more typical = kept first).

    Rows with a NULL score or a non-positive token count are never kept
    (nothing to rank / nothing to contribute) and take no part in the
    cumulative order — both engines agree because the twin's
    eligibility predicate is identical: both test the RAW token value
    before any cast. Token counts are integral by contract (the cast
    to long exists for narrower integer types; fractional counts would
    round differently between engines).

    Scale (100 TB): the naive form — one cumulative-sum window over the
    globally score-sorted corpus — is a single-partition sort of
    everything, the canonical scale-killer. The decision instead
    decomposes through a SCORE HISTOGRAM that is BOUNDED BY
    CONSTRUCTION: integer milli-bits-per-token scores live in
    [0, 64000] (bits per token <= 64), so the per-score token-sum
    aggregate has at most ~64k rows regardless of corpus size. The
    running total over that bounded histogram places every score bucket
    entirely inside the budget (cum <= budget: all kept), entirely
    outside (prev_cum >= budget: all dropped), or on the SINGLE
    straddling boundary — cumulative sums are monotone, so exactly one
    bucket can straddle. Only that bucket's documents take a
    within-bucket cumulative window (one score partition, ordered by
    key; worst case = the whole corpus sharing one score, documented);
    every other row is decided map-side after one bounded broadcast
    join. The corpus is never globally sorted. Exactness:
    cum_all(doc) = prev_cum(score) + within-bucket running sum, so the
    verdict is bit-identical to the oracle's global window.

    Returns (key_col, score_col, tokens_col, kept) for EVERY input row.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    b = F.lit(int(budget)).cast("long")
    elig = scored.filter(
        F.col(score_col).isNotNull() & (F.col(tokens_col) > 0)
    ).select(
        F.col(key_col).alias("_k"),
        F.col(score_col).alias("_s"),
        F.col(tokens_col).cast("long").alias("_t"),
    )
    hist = elig.groupBy("_s").agg(F.sum("_t").alias("_bt"))
    # bounded-histogram running total: the single-partition window runs
    # over <= ~64k rows by construction (see docstring), never the corpus
    cum = F.sum("_bt").over(Window.orderBy("_s")).cast("long")
    hist = hist.select(
        "_s", cum.alias("_cum"), (cum - F.col("_bt")).cast("long").alias("_prev")
    )
    j = elig.join(F.broadcast(hist), "_s")
    decided = j.filter((F.col("_cum") <= b) | (F.col("_prev") >= b)).select(
        "_k", (F.col("_cum") <= b).alias("kept")
    )
    boundary = j.filter((F.col("_prev") < b) & (F.col("_cum") > b))
    run = F.col("_prev") + F.sum("_t").over(
        Window.partitionBy("_s").orderBy("_k")
    ).cast("long")
    bverdict = boundary.select("_k", (run <= b).alias("kept"))
    verdict = decided.unionByName(bverdict)
    return (
        scored.select(key_col, score_col, tokens_col)
        .join(verdict.withColumnRenamed("_k", key_col), key_col, "left")
        .select(
            key_col,
            score_col,
            tokens_col,
            F.coalesce("kept", F.lit(False)).alias("kept"),
        )
    )


def token_budget_select_sql(
    table: str,
    budget: int,
    score_col: str = "milli_bits_per_token",
    tokens_col: str = "n_tokens",
    key_col: str = "doc_id",
) -> str:
    """DuckDB twin of token_budget_select: ONE global cumulative window
    over (score, key) — correct as an oracle, and exactly the plan the
    Spark side must avoid at scale. Window sums need ::BIGINT; keys are
    unique so the default RANGE frame equals ROWS. Arguments are bare
    COLUMN NAMES, same contract as the Spark twin (which resolves them
    via F.col) — wrap expressions in a subquery first."""
    return f"""
WITH e AS (SELECT {key_col} AS k, {score_col} AS s,
                  {tokens_col}::BIGINT AS t
           FROM {table}
           WHERE {score_col} IS NOT NULL AND {tokens_col} > 0),
c AS (SELECT k, (sum(t) OVER (ORDER BY s, k))::BIGINT AS cum FROM e)
SELECT d.{key_col} AS {key_col},
       d.{score_col} AS {score_col},
       d.{tokens_col} AS {tokens_col},
       coalesce(c.cum <= {budget}, FALSE) AS kept
FROM {table} d LEFT JOIN c ON d.{key_col} = c.k
"""


# ------------------------------------------------ shard write manifest

def shard_manifest(
    df: DataFrame,
    n_shards: int = 32,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-addressed manifest of a sharded corpus write: assign
    every document to a shard by the portable hash of its key, and fold
    each shard to (n_docs, n_tokens, content_xor) where content_xor is
    the XOR of per-row phash(key ':' text) digests. XOR is commutative
    and associative, so the checksum is independent of row order,
    partitioning and executor count — re-reading a 100 TB lake under
    ANY plan reproduces it, which is what makes the manifest verifiable
    without a global sort. A flipped byte in any row flips its shard's
    checksum, and binding the key into the digest also catches two rows
    swapping texts (their digest multiset would otherwise be unchanged).

    NULL text hashes as the empty string (documented collision with a
    genuinely empty doc; its token count stays NULL-skipped in the sum
    exactly as token_count's twin does).

    Scale: ONE hash aggregate with map-side combine; output is bounded
    at n_shards rows. Zero windows, zero joins."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key_s = F.col(key_col).cast("string")
    digest = phash(
        F.concat(key_s, F.lit(":"), F.coalesce(F.col(text_col), F.lit("")))
    )
    return (
        df.select(
            (phash(key_s) % n_shards).alias("shard"),
            digest.alias("_d"),
            F.size(tokens(F.col(text_col))).cast("long").alias("_t"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
            F.bit_xor("_d").cast("long").alias("content_xor"),
        )
    )


def shard_manifest_sql(
    table: str = "documents",
    n_shards: int = 32,
    key_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of shard_manifest (phash_sql digests, bit_xor fold;
    len(tokens) is NULL on NULL text in both engines, skipped by sum)."""
    from pdf_extract_spark.operators.hashing import phash_sql

    key_s = f"{key_col}::VARCHAR"
    digest = phash_sql(f"{key_s} || ':' || coalesce({text_expr}, '')")
    toks = tokens_sql(text_expr)
    return f"""
SELECT {phash_sql(key_s)} % {n_shards} AS shard,
       count(*)::BIGINT AS n_docs,
       sum(len({toks}))::BIGINT AS n_tokens,
       bit_xor({digest})::BIGINT AS content_xor
FROM {table}
GROUP BY 1
"""


# -------------------------------------------- linear classifier inference

def linear_classify(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 4096,
    bias: int = 0,
    threshold: int = 0,
    text_col: str = "text",
    bucket_col: str = "bucket",
    weight_col: str = "milli_w",
) -> DataFrame:
    """FastText-style linear classifier INFERENCE over hashed
    bag-of-tokens features — the model-based quality-filter stage of
    CCNet/LLaMA-class pipelines (a trained classifier scores every
    document; training happens offline, applying it is the 100 TB
    problem): per-token feature = portable-hash bucket of the token,
    doc score = bias + sum of the bucket weights, reported per token in
    integer milli (sign-split trunc division, both engines identical).
    ``weights`` is any (bucket, milli_w) table — duplicate bucket rows
    are summed on entry so a caller may feed one row per vocabulary
    word without pre-aggregating collisions.

    Returns (doc_id, n_tokens, total_milli, milli_per_token, label)
    where label = milli_per_token >= threshold; zero-token docs keep
    zero totals, a NULL average and label FALSE (nothing to score is
    not a pass) — the explicit CASE arms match the twin.

    Scale (100 TB): the weight table is bounded at n_buckets rows by
    construction, so it BROADCASTS to the one token pass (explode ->
    bucket projection -> BroadcastHashJoin -> per-doc partial
    aggregate); corpus text never shuffles by feature. Unknown buckets
    weigh 0 via the left join, exactly like the model's hash table."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    w = weights.select(
        F.col(bucket_col).cast("long").alias("_b"),
        F.col(weight_col).cast("long").alias("_w"),
    ).groupBy("_b").agg(F.sum("_w").alias("_w"))
    ex = docs.select(
        "doc_id",
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select("doc_id", (phash(F.col("tok")) % n_buckets).alias("_b"))
    per_doc = (
        ex.join(F.broadcast(w), "_b", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce("_w", F.lit(0))).cast("long").alias("_s"),
        )
    )
    total = (F.lit(int(bias)).cast("long") + F.col("_s")).alias("total_milli")
    # weights are ALREADY milli: the per-token mean is total DIV n, no
    # re-scaling (sign-split so both engines truncate toward zero)
    mean = F.when(
        F.col("n_tokens") > 0,
        F.when(
            F.lit(int(bias)) + F.col("_s") >= 0,
            F.expr(f"({int(bias)} + _s) DIV n_tokens"),
        ).otherwise(-F.expr(f"(-({int(bias)} + _s)) DIV n_tokens")),
    ).cast("long")
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce(total, F.lit(int(bias)).cast("long")).alias("total_milli"),
            mean.alias("milli_per_token"),
            F.coalesce(mean >= F.lit(int(threshold)), F.lit(False)).alias("label"),
        )
    )


def linear_classify_sql(
    table: str,
    weights_sql: str,
    n_buckets: int = 4096,
    bias: int = 0,
    threshold: int = 0,
    text_expr: str = "text",
) -> str:
    """DuckDB twin of linear_classify. ``weights_sql`` is a subquery
    (no alias) yielding (bucket, milli_w); duplicate buckets are summed
    on entry, exactly like the Spark side."""
    from pdf_extract_spark.operators.hashing import phash_sql

    toks = tokens_sql(text_expr)
    return f"""
WITH w AS (SELECT bucket::BIGINT AS b, sum(milli_w)::BIGINT AS w
           FROM {weights_sql} GROUP BY 1),
ex AS (SELECT doc_id, {phash_sql('tok')} % {n_buckets} AS b
       FROM (SELECT doc_id, unnest({toks}) AS tok FROM {table})),
per AS (SELECT ex.doc_id, count(*)::BIGINT AS n_tokens,
               sum(coalesce(w.w, 0))::BIGINT AS s
        FROM ex LEFT JOIN w USING (b) GROUP BY 1),
sc AS (SELECT doc_id, n_tokens, ({bias} + s)::BIGINT AS total_milli,
              (CASE WHEN n_tokens > 0 THEN
                 CASE WHEN {bias} + s >= 0
                      THEN ({bias} + s) // n_tokens
                      ELSE -((-({bias} + s)) // n_tokens) END
               END)::BIGINT AS milli_per_token
       FROM per)
SELECT d.doc_id,
       coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(sc.total_milli, {bias})::BIGINT AS total_milli,
       sc.milli_per_token,
       coalesce(sc.milli_per_token >= {threshold}, FALSE) AS label
FROM {table} d LEFT JOIN sc ON d.doc_id = sc.doc_id
"""


# ---------------------------------------------------------------------
# Spearman rank correlation between quality signals
# ---------------------------------------------------------------------

def rank_correlation(
    df: DataFrame, col_a: str, col_b: str, key_col: str = "doc_id"
) -> DataFrame:
    """Integer-milli Spearman rank correlation between two per-document
    signals — the signal-agreement audit a curation run makes before
    trusting a new quality score (do the model-based classifier and the
    heuristic battery rank documents the same way? is surprisal just
    length in disguise?). Rows where either signal is NULL are excluded
    (both signals must speak). Ties take MIDRANKS — the statistically
    standard choice, and the one that needs no per-row tiebreak window.

    To stay integer-exact, ranks are DOUBLED (midrank2 = 2*cum_before +
    n_ties + 1, always an integer even for .5 midranks), so
    sum(d2x) = 4 * sum(d^2) and

        rho_milli = 1000 - (3000 * sum(d2x)) DIV (2 * n * (n^2 - 1))

    — one trunc division of exact integers, identical in both engines
    (decimal(38,0) / HUGEINT intermediates carry the product exactly to
    ~1e38, i.e. any corpus). Returns ONE row (n_docs, rho_milli); NULL
    rho when n < 2. rho_milli uses the classic difference formula,
    which with midranks is the standard approximation (exact when
    either signal is tie-free).

    Scale (100 TB): NO corpus-wide window. Each signal's rank table is
    built from its VALUE HISTOGRAM — a count aggregate keyed on the
    (bounded-cardinality) signal value, a cumulative window over that
    bounded relation only (the token_budget discipline), and an
    equi-join back on the value key. The d^2 pass joins the two rank
    relations on the document key and feeds one partial-combinable
    global aggregate. Every shuffled relation carries (key, value,
    rank) only."""

    def _rank2(side: DataFrame, val: str) -> DataFrame:
        hist = side.groupBy(val).agg(F.count("*").cast("long").alias("nv"))
        w = Window.orderBy(val).rowsBetween(Window.unboundedPreceding, -1)
        cum = hist.select(
            val,
            (
                F.coalesce(F.sum("nv").over(w), F.lit(0)) * 2
                + F.col("nv") + 1
            ).cast("long").alias("r2"),
        )
        return side.join(cum, val).select(key_col, "r2")

    base = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(key_col, col_a, col_b)
    ra = _rank2(base.select(key_col, col_a), col_a)
    rb = _rank2(base.select(key_col, col_b), col_b).withColumnRenamed(
        "r2", "r2b"
    )
    dd = ra.join(rb, key_col).select(
        (F.col("r2") - F.col("r2b")).alias("d"),
    )
    agg = dd.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(
            F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("s"),
    )
    return agg.select(
        "n_docs",
        F.when(
            F.col("n_docs") >= 2,
            F.expr(
                "1000 - CAST(3000 AS DECIMAL(38,0)) * s DIV "
                "(CAST(2 AS DECIMAL(38,0)) * n_docs"
                " * (CAST(n_docs AS DECIMAL(38,0)) * n_docs - 1))"
            ),
        ).cast("long").alias("rho_milli"),
    )


def rank_correlation_sql(
    table: str, col_a: str, col_b: str, key_col: str = "doc_id"
) -> str:
    """DuckDB mirror of rank_correlation. ``table`` is a table name or
    parenthesized subquery yielding (key_col, col_a, col_b). The naive
    global midrank here (2*rank - 1 + n_ties via window frames) equals
    the Spark side's histogram construction."""
    return f"""
WITH base AS (SELECT {key_col} AS k, {col_a} AS va, {col_b} AS vb
              FROM {table}
              WHERE {col_a} IS NOT NULL AND {col_b} IS NOT NULL),
ha AS (SELECT va, count(*)::BIGINT AS nv FROM base GROUP BY va),
ca AS (SELECT va,
              (2 * coalesce(sum(nv) OVER (ORDER BY va
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + nv + 1)::BIGINT AS r2a
       FROM ha),
hb AS (SELECT vb, count(*)::BIGINT AS nv FROM base GROUP BY vb),
cb AS (SELECT vb,
              (2 * coalesce(sum(nv) OVER (ORDER BY vb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + nv + 1)::BIGINT AS r2b
       FROM hb),
dd AS (SELECT (ca.r2a - cb.r2b)::HUGEINT AS d
       FROM base JOIN ca USING (va) JOIN cb USING (vb)),
agg AS (SELECT count(*)::BIGINT AS n_docs,
               coalesce(sum(d * d), 0)::HUGEINT AS s
        FROM dd)
SELECT n_docs,
       (CASE WHEN n_docs >= 2 THEN
          1000 - (3000::HUGEINT * s) //
                 (2::HUGEINT * n_docs * (n_docs::HUGEINT * n_docs - 1))
        END)::BIGINT AS rho_milli
FROM agg
"""


# --------------------------------------------- gate-agreement kappa

def filter_kappa(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Cohen's kappa between two boolean keep/drop gates — the
    binary-filter sibling of ``rank_correlation`` (continuous
    signals): before swapping a heuristic gate for a model-based one,
    a curation run asks how often they agree BEYOND CHANCE. Raw
    agreement (po) flatters gates that both keep almost everything;
    kappa subtracts the chance agreement (pe) implied by the two
    gates' marginal keep rates.

    Integer-milli, engine-exact:

        S   = r1*c1 + r0*c0          (chance-agreement numerator)
        num = n*(n11 + n00) - S      (can be negative)
        den = n*n - S                (>= 0; 0 iff pe = 1)
        kappa_milli = sign-split( 1000*num DIV den )

    with decimal(38,0)/HUGEINT intermediates (exact to ~1e38) and the
    sign-split trunc division (``-((-x) DIV d)`` for negative x) the
    engines agree on. Rows where either verdict is NULL are excluded
    (both gates must speak). Returns ONE row: (n_docs, n_agree,
    milli_po, milli_pe, kappa_milli); kappa is NULL when n = 0 or
    pe = 1 (two constant, identical gates — agreement is vacuous).

    Scale (100 TB): one map-only projection and ONE global
    partial-combinable aggregate — every executor reduces its
    partition to five counters. Nothing shuffles but the counters."""
    a = F.col(col_a)
    b = F.col(col_b)
    base = df.filter(a.isNotNull() & b.isNotNull())
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(a & b, 1).otherwise(0)).cast("long").alias("n11"),
        F.sum(F.when(~a & ~b, 1).otherwise(0)).cast("long").alias("n00"),
        F.sum(F.when(a, 1).otherwise(0)).cast("long").alias("r1"),
        F.sum(F.when(b, 1).otherwise(0)).cast("long").alias("c1"),
    )
    k = agg.select(
        F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        F.coalesce("n11", F.lit(0).cast("long")).alias("n11"),
        F.coalesce("n00", F.lit(0).cast("long")).alias("n00"),
        F.coalesce("r1", F.lit(0).cast("long")).alias("r1"),
        F.coalesce("c1", F.lit(0).cast("long")).alias("c1"),
    ).select(
        "*",
        F.expr(
            "CAST(r1 AS DECIMAL(38,0)) * c1"
            " + CAST(n - r1 AS DECIMAL(38,0)) * (n - c1)"
        ).alias("s"),
    ).select(
        "*",
        # kappa numerator n*(n11+n00) - s (may be negative) and
        # denominator n*n - s (>= 0; 0 iff pe = 1), hoisted once so the
        # sign-split branches below cannot desync from the guard
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * (n11 + n00) - s"
        ).alias("knum"),
        F.expr("CAST(n AS DECIMAL(38,0)) * n - s").alias("kden"),
    )
    return k.select(
        F.col("n").alias("n_docs"),
        (F.col("n11") + F.col("n00")).cast("long").alias("n_agree"),
        F.when(
            F.col("n") > 0,
            F.expr("CAST(n11 + n00 AS DECIMAL(38,0)) * 1000 DIV n"),
        ).cast("long").alias("milli_po"),
        F.when(
            F.col("n") > 0,
            F.expr("s * 1000 DIV (CAST(n AS DECIMAL(38,0)) * n)"),
        ).cast("long").alias("milli_pe"),
        F.when(
            (F.col("n") > 0) & (F.col("kden") != F.lit(0)),
            F.expr(
                "CASE WHEN knum >= 0 THEN knum * 1000 DIV kden"
                " ELSE -((-knum) * 1000 DIV kden) END"
            ),
        ).cast("long").alias("kappa_milli"),
    )


def filter_kappa_sql(
    table: str, col_a: str, col_b: str
) -> str:
    """DuckDB twin of filter_kappa (HUGEINT intermediates; the same
    sign-split trunc division). ``table`` is a table name or
    parenthesized subquery yielding boolean ``col_a``/``col_b``."""
    return f"""
WITH fk_base AS (SELECT {col_a} AS a, {col_b} AS b FROM {table}
                 WHERE {col_a} IS NOT NULL AND {col_b} IS NOT NULL),
fk_agg AS (SELECT count(*)::BIGINT AS n,
                  coalesce(sum(CASE WHEN a AND b THEN 1 ELSE 0 END), 0)::BIGINT AS n11,
                  coalesce(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END), 0)::BIGINT AS n00,
                  coalesce(sum(CASE WHEN a THEN 1 ELSE 0 END), 0)::BIGINT AS r1,
                  coalesce(sum(CASE WHEN b THEN 1 ELSE 0 END), 0)::BIGINT AS c1
           FROM fk_base),
fk_s AS (SELECT *, (r1::HUGEINT * c1 + (n - r1)::HUGEINT * (n - c1)) AS s
         FROM fk_agg),
fk_nd AS (SELECT *, (n::HUGEINT * (n11 + n00) - s) AS knum,
                 (n::HUGEINT * n - s) AS kden
          FROM fk_s)
SELECT n AS n_docs,
       (n11 + n00)::BIGINT AS n_agree,
       (CASE WHEN n > 0 THEN (n11 + n00)::HUGEINT * 1000 // n END)::BIGINT AS milli_po,
       (CASE WHEN n > 0 THEN s * 1000 // (n::HUGEINT * n) END)::BIGINT AS milli_pe,
       (CASE WHEN n > 0 AND kden <> 0 THEN
          CASE WHEN knum >= 0 THEN knum * 1000 // kden
               ELSE -((-knum) * 1000 // kden) END
        END)::BIGINT AS kappa_milli
FROM fk_nd
"""


# ----------------------------------------------------- encoding audit

# Portable (Java + RE2) patterns. \x{..} escapes work in BOTH engines
# (\uhhhh does NOT exist in RE2; raw C0 literals would not survive SQL
# string transport) — concatenated, never str.format'ed (CLAUDE.md).
# U+FFFD: the replacement char a lossy decode leaves behind.
REPLACEMENT_PATTERN = "\\x{fffd}"
# UTF-8-bytes-decoded-as-Latin-1 signatures: a two-byte sequence's lead
# byte becomes Ã/Â followed by a continuation byte in U+0080-U+00BF
# ('Ã©' for é, 'Â ' for NBSP); three-byte punctuation becomes â€…
# ('â€™' for a right quote) — the literal pair 'â€' only ever appears
# in mojibake.
MOJIBAKE_PATTERN = (
    "[\\x{00c2}\\x{00c3}][\\x{0080}-\\x{00bf}]|\\x{00e2}\\x{20ac}"
)
# C0 controls except \t \n \r — never legitimate in extracted text.
CONTROL_PATTERN = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"


def encoding_audit(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document encoding-health audit (the ftfy-shaped triage a
    crawl pipeline runs before spending tokens on broken text): counts
    of U+FFFD replacement chars (a lossy decode upstream), classic
    UTF-8-as-Latin-1 mojibake pair signatures ('Ã©', 'â€™'), and bare
    C0 control characters, plus the composite ``is_clean`` verdict.
    NULL text propagates NULL counts (same as DuckDB's len(NULL)).

    Map-only projection, zero Exchange (plan-asserted): three JVM regex
    counts per row, no Python, no shuffle — at 100 TB this rides the
    ingest scan for free. Reference analog: the content-validity
    filter family (SURVEY.md F7/F8, metadata_generator.py:430-463),
    extended from 'is the text junk?' to 'was the text decoded
    correctly?'."""
    t = F.col(text_col)

    def _cnt(p: str):
        return F.size(F.regexp_extract_all(t, F.lit(p), 0)).cast("long")

    n_repl = _cnt(REPLACEMENT_PATTERN)
    n_moji = _cnt(MOJIBAKE_PATTERN)
    n_ctrl = _cnt(CONTROL_PATTERN)
    return df.select(
        "doc_id",
        n_repl.alias("n_replacement"),
        n_moji.alias("n_mojibake"),
        n_ctrl.alias("n_ctrl"),
        ((n_repl == 0) & (n_moji == 0) & (n_ctrl == 0)).alias("is_clean"),
    )


def encoding_audit_sql(table: str = "documents", text_expr: str = "text") -> str:
    """DuckDB twin of encoding_audit (identical pattern strings — the
    \\x{..} escape set is the Java∩RE2 portable subset)."""

    def _c(p: str) -> str:
        return f"len(regexp_extract_all({text_expr}, '{p}'))::BIGINT"

    r, m, c = (_c(REPLACEMENT_PATTERN), _c(MOJIBAKE_PATTERN),
               _c(CONTROL_PATTERN))
    return f"""
SELECT doc_id, {r} AS n_replacement, {m} AS n_mojibake, {c} AS n_ctrl,
       ({r} = 0 AND {m} = 0 AND {c} = 0) AS is_clean
FROM {table}
"""


# ------------------------------------------------- PMI collocations


def pmi_collocations(
    df: DataFrame, text_col: str = "text", top: int = 20, min_count: int = 5
) -> DataFrame:
    """Corpus collocation mining by pointwise mutual information: the
    top adjacent token pairs ranked by lift ``N * c(w1,w2) /
    (c(w1) * c(w2))`` — PMI's argument, ranked WITHOUT the log since
    log is monotone. The classic phrase-induction signal (Mikolov et
    al. 2013 build word2vec phrases from exactly this statistic):
    'new york' scores high because its parts rarely appear apart;
    'of the' scores low despite its raw frequency.

    All integer arithmetic: lift is emitted as ``milli_lift`` through
    a DECIMAL(38,0) multiply chain (n_total * c12 can pass int64 at
    web scale) with trunc division — bit-identical across engines,
    partitionings and reruns; ranking ties break on the pair itself.
    ``min_count`` prunes hapax pairs BEFORE any join (PMI's known
    pathology: a pair seen once between two hapax words scores the
    maximum lift N).

    Returns ``top`` rows: (rank, w1, w2, c12, c1, c2, milli_lift).

    Scale (100 TB): the corpus-sized passes are the two count
    aggregates (token- and pair-keyed, map-side combinable); the join
    back to unigram counts is keyed on the word — a web-scale
    vocabulary is never broadcast; only the single-row total is. The
    global top-N is a TakeOrderedAndProject heap, never a full sort;
    the rank window runs AFTER the limit over <= top rows.

    Reference analog: the frequency-ranked symbol/value-count reports
    of SURVEY.md A8/A9 lifted to corpus phrase statistics."""

    def _bigrams(col: Column) -> Column:
        t = tokens(col)
        blen = F.greatest(F.size(t) - 1, F.lit(0))
        return F.zip_with(
            F.slice(t, 1, blen), F.slice(t, 2, blen),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )

    tc = F.col(text_col)
    uni = (
        df.select(F.explode(tokens(tc)).alias("tok"))
        .groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    )
    total = uni.agg(F.sum("c").cast("long").alias("n_total"))
    pairs = (
        df.select(F.explode(_bigrams(tc)).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    scored = (
        pairs.join(u1, "w1").join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "c12", "c1", "c2",
            F.expr(
                "CAST(n_total AS DECIMAL(38,0)) * c12 * 1000"
                " DIV (CAST(c1 AS DECIMAL(38,0)) * c2)"
            ).cast("long").alias("milli_lift"),
        )
    )
    order = [F.col("milli_lift").desc(), F.col("w1").asc(), F.col("w2").asc()]
    return (
        scored.orderBy(*order).limit(top)
        .select(
            F.row_number().over(Window.orderBy(*order)).cast("long").alias("rank"),
            "w1", "w2", "c12", "c1", "c2", "milli_lift",
        )
    )


def pmi_collocations_sql(
    table: str = "documents", text_expr: str = "text",
    top: int = 20, min_count: int = 5,
) -> str:
    """DuckDB twin of pmi_collocations (lockstep shifted-slice unnest
    bigrams; HUGEINT multiply chain == the DECIMAL(38,0) one; trunc
    `//` == DIV on non-negatives)."""
    toks = tokens_sql(text_expr)
    return f"""
WITH pm_tok AS (SELECT unnest({toks}) AS tok FROM {table}),
pm_uni AS (SELECT tok, count(*)::BIGINT AS c FROM pm_tok GROUP BY tok),
pm_tot AS (SELECT sum(c)::BIGINT AS n_total FROM pm_uni),
pm_t AS (SELECT {toks} AS t FROM {table}),
pm_big AS (
  SELECT w1, w2, count(*)::BIGINT AS c12
  FROM (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        FROM pm_t WHERE len(t) >= 2)
  GROUP BY w1, w2 HAVING count(*) >= {min_count}),
pm_s AS (
  SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
         ((SELECT n_total FROM pm_tot)::HUGEINT * b.c12 * 1000
          // (u1.c::HUGEINT * u2.c))::BIGINT AS milli_lift
  FROM pm_big b
  JOIN pm_uni u1 ON b.w1 = u1.tok
  JOIN pm_uni u2 ON b.w2 = u2.tok),
pm_top AS (SELECT * FROM pm_s ORDER BY milli_lift DESC, w1, w2 LIMIT {top})
SELECT (row_number() OVER (ORDER BY milli_lift DESC, w1, w2))::BIGINT AS rank,
       w1, w2, c12, c1, c2, milli_lift
FROM pm_top
"""


# --------------------------------------------------- skew diagnostics


def skew_stats(df: DataFrame, key_col: str = "key") -> DataFrame:
    """Key-skew diagnostic for a relation about to be grouped/joined on
    ``key_col`` — the measurement you run BEFORE deciding whether a
    shuffle needs salting (pipeline.py's salt, weburl.domain_cap's
    two-phase window) or can lean on AQE's skew-join splitting. ONE
    summary row: row/key totals, integer-milli mean keys-per-row, the
    rank-based lower-median key size, the hottest key (ties break to
    the smallest key string) with its share of all rows in milli, and
    the exact Gini coefficient of the key-size distribution in milli —
    0 = perfectly even, ~1000 = one key owns everything.

    Exactness discipline: Gini is computed from the COUNT-OF-COUNTS
    histogram with the sorted-rank identity ``G = (2*S - (n+1)*T) /
    (n*T)``, where ``S = Σ rank_i * c_i`` over keys sorted ascending.
    A block of ``h`` keys sharing count ``c`` after ``r0`` smaller keys
    contributes ``c * h * (2*r0 + h + 1) / 2`` — and ``h*(2*r0+h+1)``
    is always even, so ``2S`` is summed as an exact integer; the final
    ratio runs through a DECIMAL(38,0)/HUGEINT chain with trunc
    division. No floats anywhere: the number is bit-identical across
    engines, partitionings and reruns.

    Scale (100 TB): the only corpus-sized pass is the key-count
    aggregate — exactly the shuffle being diagnosed, with map-side
    combine. Everything downstream operates on the count-of-counts
    HISTOGRAM, bounded by the number of DISTINCT key sizes (heavily
    collapsed under skew — the regime this tool exists for); its
    windows run over that bounded relation (the token_budget
    histogram-decomposition discipline), and the single-row totals
    broadcast back for the median and hot-key probes."""
    counts = df.groupBy(key_col).agg(F.count("*").cast("long").alias("c"))
    hist = counts.groupBy("c").agg(F.count("*").cast("long").alias("h"))
    w = Window.orderBy("c")
    ranked = hist.select(
        "c", "h",
        F.coalesce(
            F.sum("h").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("r0"),
        F.sum("h").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long").alias("cum"),
    )
    stats = ranked.agg(
        F.sum("h").cast("long").alias("n_keys"),
        F.expr("CAST(sum(c * h) AS BIGINT)").alias("n_rows"),
        F.max("c").cast("long").alias("max_count"),
        F.sum(
            F.expr("CAST(c AS DECIMAL(38,0)) * h * (2 * r0 + h + 1)")
        ).alias("_s2"),
    )
    median = (
        ranked.crossJoin(F.broadcast(stats.select("n_keys")))
        .filter(F.expr("cum >= (n_keys + 1) DIV 2"))
        .agg(F.min("c").cast("long").alias("p50_count"))
    )
    hot = (
        counts.crossJoin(F.broadcast(stats.select("max_count")))
        .filter(F.col("c") == F.col("max_count"))
        .agg(F.min(key_col).cast("string").alias("hot_key"))
    )
    return (
        stats.crossJoin(F.broadcast(median))
        .crossJoin(F.broadcast(hot))
        .select(
            "n_rows", "n_keys",
            F.expr("CAST(n_rows AS DECIMAL(38,0)) * 1000 DIV n_keys")
            .cast("long").alias("mean_milli"),
            "p50_count", "max_count", "hot_key",
            F.expr("CAST(max_count AS DECIMAL(38,0)) * 1000 DIV n_rows")
            .cast("long").alias("top1_share_milli"),
            F.when(
                (F.col("n_keys") > 1) & (F.col("n_rows") > 0),
                F.expr(
                    "CAST((_s2 - (CAST(n_keys AS DECIMAL(38,0)) + 1) * n_rows)"
                    " * 1000 DIV (CAST(n_keys AS DECIMAL(38,0)) * n_rows)"
                    " AS BIGINT)"
                ),
            ).alias("milli_gini"),
        )
    )


def skew_stats_sql(keys_sql: str, key_col: str = "key") -> str:
    """DuckDB twin of skew_stats (same histogram, same rank identity;
    HUGEINT == the DECIMAL(38,0) chain; // == DIV on non-negatives;
    lower-median rank (n+1)//2 mirrored)."""
    return f"""
WITH sk_in AS ({keys_sql}),
sk_cnt AS (SELECT {key_col} AS k, count(*)::BIGINT AS c
           FROM sk_in GROUP BY 1),
sk_h AS (SELECT c, count(*)::BIGINT AS h FROM sk_cnt GROUP BY c),
sk_r AS (
  SELECT c, h,
         coalesce(sum(h) OVER (ORDER BY c
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS r0,
         (sum(h) OVER (ORDER BY c
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
  FROM sk_h),
sk_st AS (
  SELECT sum(h)::BIGINT AS n_keys, sum(c * h)::BIGINT AS n_rows,
         max(c)::BIGINT AS max_count,
         sum(c::HUGEINT * h * (2 * r0 + h + 1))::HUGEINT AS s2
  FROM sk_r),
sk_med AS (
  SELECT min(c)::BIGINT AS p50_count
  FROM sk_r, sk_st WHERE cum >= (n_keys + 1) // 2),
sk_hot AS (
  SELECT min(k)::VARCHAR AS hot_key
  FROM sk_cnt, sk_st WHERE c = max_count)
SELECT n_rows, n_keys,
       (n_rows::HUGEINT * 1000 // n_keys)::BIGINT AS mean_milli,
       p50_count, max_count, hot_key,
       (max_count::HUGEINT * 1000 // n_rows)::BIGINT AS top1_share_milli,
       (CASE WHEN n_keys > 1 AND n_rows > 0
             THEN (s2 - (n_keys::HUGEINT + 1) * n_rows) * 1000
                  // (n_keys::HUGEINT * n_rows) END)::BIGINT AS milli_gini
FROM sk_st, sk_med, sk_hot
"""


# --------------------------------------------- language segmentation


def lang_segments(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mixed-language document segmentation: split each document into
    lines, language-ID each line with the shared marker heuristic
    (argmax of LANG_MARKERS hits, ties and zero-hit lines resolving to
    language-code order — the exact lang_id contract), then merge
    CONSECUTIVE same-language lines into segments. The pipeline step
    that lets a curation run keep the English half of a mixed page
    instead of dropping (or keeping) the whole document on its
    majority language.

    Returns one row per segment: (doc_id, seg_no, seg_lang, n_lines,
    n_tokens), seg_no numbered from 0 in reading order.

    Scale (100 TB): the line explode is bounded by document size; the
    per-line scores are map-only JVM array ops; the run merge is the
    robots-parse discipline — TWO window passes (lag flag, then the
    running segment id; a window may not nest inside another's
    argument) over ONE hashpartitioning(doc_id) Exchange, followed by
    a per-(doc, segment) aggregate that rides the same partitioning.
    Nothing corpus-wide: every window partitions by doc_id.

    Reference analog: W4 run-length merge + F4 language detection
    (SURVEY.md), composed per line instead of per filename."""
    w = Window.partitionBy("doc_id").orderBy("_ln")
    lines = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), r"\r?\n")).alias("_ln", "_line"),
    )
    toks = tokens(F.col("_line"))
    langs = sorted(LANG_MARKERS)

    def _hits(ws: tuple[str, ...]):
        return F.size(F.filter(toks, lambda x: x.isin(*ws)))

    scores = [_hits(LANG_MARKERS[lang]).alias(f"_s_{lang}") for lang in langs]
    scored = lines.select(
        "doc_id", "_ln", F.size(toks).cast("long").alias("_ntok"), *scores
    )
    best = F.greatest(*[F.col(f"_s_{l}") for l in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"_s_{l}") == best, F.lit(l)) for l in langs]
    )
    tagged = scored.select(
        "doc_id", "_ln", "_ntok", pred.alias("_lang")
    )
    flagged = tagged.select(
        "doc_id", "_ln", "_ntok", "_lang",
        F.when(
            F.lag("_lang").over(w).eqNullSafe(F.col("_lang")), F.lit(0)
        ).otherwise(F.lit(1)).alias("_newseg"),
    )
    segged = flagged.select(
        "doc_id", "_ntok", "_lang",
        (F.sum("_newseg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ) - 1).cast("long").alias("seg_no"),
    )
    return (
        segged.groupBy("doc_id", "seg_no")
        .agg(
            F.min("_lang").alias("seg_lang"),  # constant within a segment
            F.count("*").cast("long").alias("n_lines"),
            F.sum("_ntok").cast("long").alias("n_tokens"),
        )
    )


def lang_segments_sql(table: str = "documents", text_expr: str = "text") -> str:
    """DuckDB twin of lang_segments (shared marker tuples via
    LANG_MARKERS so both sides rebuild from ONE table; same split /
    per-line argmax / two-window run merge; window sum ::BIGINT)."""
    langs = sorted(LANG_MARKERS)

    def _hits(lang: str) -> str:
        ws = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        return f"len(list_filter(toks, x -> x IN ({ws})))"

    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN s_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    score_cols = ",\n         ".join(f"{_hits(l)} AS s_{l}" for l in langs)
    toks = tokens_sql("line")
    return f"""
WITH ls_split AS (
  SELECT doc_id, regexp_split_to_array({text_expr}, '\\r?\\n') AS arr
  FROM {table}),
ls_idx AS (
  SELECT doc_id, arr, unnest(range(0, len(arr)))::BIGINT AS ln FROM ls_split),
ls_lines AS (SELECT doc_id, ln, arr[ln + 1] AS line FROM ls_idx),
ls_tok AS (SELECT doc_id, ln, {toks} AS toks FROM ls_lines),
ls_scored AS (
  SELECT doc_id, ln, len(toks)::BIGINT AS ntok,
         {score_cols}
  FROM ls_tok),
ls_tagged AS (SELECT doc_id, ln, ntok, {pred} AS lang FROM ls_scored),
ls_flagged AS (
  SELECT doc_id, ln, ntok, lang,
         CASE WHEN lag(lang) OVER (PARTITION BY doc_id ORDER BY ln)
                   IS NOT DISTINCT FROM lang THEN 0 ELSE 1 END AS newseg
  FROM ls_tagged),
ls_segged AS (
  SELECT doc_id, ntok, lang,
         ((sum(newseg) OVER (PARTITION BY doc_id ORDER BY ln
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - 1)::BIGINT
             AS seg_no
  FROM ls_flagged)
SELECT doc_id, seg_no, min(lang) AS seg_lang,
       count(*)::BIGINT AS n_lines, sum(ntok)::BIGINT AS n_tokens
FROM ls_segged GROUP BY doc_id, seg_no
"""


def skew_top_keys(df: DataFrame, key_col: str = "key", top: int = 10) -> DataFrame:
    """The actionable companion of skew_stats: WHICH keys are hot. The
    top-N heaviest keys by row count with their milli share of all
    rows — the list a pipeline feeds into targeted salting (salt only
    the listed keys, leave the long tail alone) or into an AQE
    skew-join expectation check. Ties break on the key string.

    Scale: the same single key-count aggregate as skew_stats; the
    global top-N is a TakeOrderedAndProject heap (never a full sort of
    the key space) with the rank window AFTER the limit over <= top
    rows; the single-row total broadcasts."""
    counts = df.groupBy(key_col).agg(F.count("*").cast("long").alias("c"))
    total = counts.agg(F.sum("c").cast("long").alias("n_rows"))
    order = [F.col("c").desc(), F.col(key_col).asc()]
    return (
        counts.orderBy(*order).limit(top)
        .crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(Window.orderBy(*order)).cast("long").alias("rank"),
            F.col(key_col).cast("string").alias("key"),
            "c",
            F.expr("CAST(c AS DECIMAL(38,0)) * 1000 DIV n_rows")
            .cast("long").alias("share_milli"),
        )
    )


def skew_top_keys_sql(keys_sql: str, key_col: str = "key", top: int = 10) -> str:
    """DuckDB twin of skew_top_keys (same order, HUGEINT == the
    DECIMAL(38,0) chain, rank after the limit)."""
    return f"""
WITH st_in AS ({keys_sql}),
st_cnt AS (SELECT {key_col} AS k, count(*)::BIGINT AS c
           FROM st_in GROUP BY 1),
st_tot AS (SELECT sum(c)::BIGINT AS n_rows FROM st_cnt),
st_top AS (SELECT k, c FROM st_cnt ORDER BY c DESC, k LIMIT {top})
SELECT (row_number() OVER (ORDER BY c DESC, k))::BIGINT AS rank,
       k::VARCHAR AS key, c,
       (c::HUGEINT * 1000 // (SELECT n_rows FROM st_tot))::BIGINT
           AS share_milli
FROM st_top
"""
