"""The flagship extraction operator: documents(spans) -> spans_out.

Replaces the reference's per-document LLM session loop
(/root/reference/main.py:228-503 + euaa_사례/sentence_composer.py:635-744)
with the deterministic rule core, executed as ONE map-only stage:

  * no explode, no shuffle — each document's span array is transformed in
    place by an Arrow-batched pandas UDF that maps rules.extract_document
    over the documents of one Arrow batch (sequential only *within* a
    document, which the sentence-FSM semantics require anyway, cf.
    SURVEY.md §2.8), so kernel and golden oracle run the same code;
  * giant documents are bounded by spark.sql.execution.arrow.maxRecordsPerBatch
    so one Arrow batch never holds more than a few hundred documents.

At cluster scale the input is hash-salted and range-repartitioned by the
pipeline wrapper (pipeline.py) BEFORE this stage, per the north rule.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from pdf_extract_spark import rules
from pdf_extract_spark.schemas import SPANS


@pandas_udf(SPANS)
def extract_spans(spans: pd.Series) -> pd.Series:
    return spans.map(lambda s: rules.extract_document(s) if s is not None else None)


def extract_documents(df):
    """documents(doc_id, spans) -> spans_out(doc_id, spans). Map-only."""
    return df.select("doc_id", extract_spans(F.col("spans")).alias("spans"))


# --------------------------------------------------------------------------
# giant-document skew defense (SURVEY.md §7.4.4)
# --------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402

FRAG = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType(), False),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
        ]
    )
)


@pandas_udf(FRAG)
def _tag_fragments_udf(spans: pd.Series) -> pd.Series:
    return spans.map(lambda s: rules.tag_fragments(s) if s is not None else None)


@pandas_udf(T.ArrayType(FRAG))
def _chunk_fragments_udf(frags: pd.Series, target: pd.Series) -> pd.Series:
    def chunk(f, t):
        pts = rules.safe_split_points(f, int(t))
        bounds = [0] + pts + [len(f)]
        # a giant doc whose fragments ALL dropped during tagging must not
        # vanish: emit one empty chunk so posexplode keeps the doc_id and
        # the reassembled output carries an empty spans array, exactly
        # like the single-pass path
        return [f[a:b] for a, b in zip(bounds, bounds[1:]) if b > a] or [[]]

    return pd.Series([chunk(f, t) if f is not None else None
                      for f, t in zip(frags, target)])


@pandas_udf(SPANS)
def _compose_chunk_udf(chunk: pd.Series) -> pd.Series:
    return chunk.map(
        lambda f: rules.compose_fragments(rules.merge_consecutive_tags(f))
        if f is not None else []
    )


def extract_documents_balanced(df, max_spans: int = 4096):
    """Skew-defused extraction: documents whose span count exceeds
    ``max_spans`` are split at EXACT-safe boundaries (headers/media after
    tagging — rules.safe_split_points), their chunks composed in parallel
    across tasks, then reassembled in chunk order with offsets renumbered.
    Small documents take the ordinary map-only path; only giants pay the
    extra explode + regroup shuffle. Results are byte-identical to
    extract_documents (tests/test_skew.py)."""
    # NULL spans must not vanish: coalesce sends them down the small
    # path, where extract_spans maps None -> None like the plain operator
    sized = df.withColumn("n_spans", F.coalesce(F.size("spans"), F.lit(0)))
    small = sized.filter(F.col("n_spans") <= max_spans)
    giant = sized.filter(F.col("n_spans") > max_spans)

    small_out = small.select("doc_id", extract_spans(F.col("spans")).alias("spans"))

    tagged = giant.select(
        "doc_id",
        _tag_fragments_udf(F.col("spans")).alias("frags"),
    )
    chunked = tagged.select(
        "doc_id",
        F.posexplode(
            _chunk_fragments_udf(F.col("frags"), F.lit(max_spans // 2))
        ).alias("chunk_idx", "chunk"),
    )
    composed = chunked.select(
        "doc_id", "chunk_idx", _compose_chunk_udf(F.col("chunk")).alias("part")
    )
    reassembled = (
        composed.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "part"))),
                    lambda s: s["part"],
                )
            ).alias("flat")
        )
        .select(
            "doc_id",
            F.transform(
                F.col("flat"),
                lambda s, i: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
    return small_out.unionByName(reassembled)
