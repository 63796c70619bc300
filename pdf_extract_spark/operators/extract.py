"""The flagship extraction operator: documents(spans) -> spans_out.

Replaces the reference's per-document LLM session loop
(/root/reference/main.py:228-503 + euaa_사례/sentence_composer.py:635-744)
with the deterministic rule core, executed as ONE map-only stage:

  * no explode, no shuffle — each document's span array is transformed in
    place by an ``arrow_udf`` that works on the Arrow batch's columns: it
    reads the four flat struct children of the span lists (one numpy
    conversion each) plus the list offsets and validity, runs
    rules.extract_columns once per document over its slice of those
    columns (sequential only *within* a document, which the sentence-FSM
    semantics require anyway, cf. SURVEY.md §2.8), and builds the output
    ListArray from flat output columns. No per-span dict is built on
    either side, and kernel and golden oracle still run the same code
    (rules.extract_document wraps rules.extract_columns);
  * span strings that are not valid UTF-8 are repaired by
    rules.repair_utf8 instead of failing the job: each string child is
    validated once per batch, and decoded element by element only when
    that validation fails;
  * giant documents are bounded by spark.sql.execution.arrow.maxRecordsPerBatch
    so one Arrow batch never holds more than a few hundred documents.

Every documents -> spans entry (batch, lineage, the byte paths, the
streaming drain) reaches this UDF only through pipeline.run_extraction or
operators/bytepath, after the salted range repartition the north rule
mandates (pipeline.partition_for_extraction).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from pdf_extract_spark import rules
from pdf_extract_spark.schemas import SPANS

SPANS_ARROW = to_arrow_type(SPANS)


def _strings(child: pa.Array) -> list:
    """A flat string child as Python strings (None for NULL); a child
    holding invalid UTF-8 is decoded through rules.repair_utf8."""
    try:
        child.validate(full=True)
    except pa.ArrowInvalid:
        return [None if b is None else rules.repair_utf8(b)
                for b in child.view(pa.binary()).to_numpy(zero_copy_only=False)]
    return child.to_numpy(zero_copy_only=False).tolist()


def _columns(spans: pa.Array) -> tuple:
    """The batch as flat Python columns: per-document validity and span
    bounds, then the kind, text, media_ref and offset of every non-NULL
    span element."""
    bounds = spans.offsets.to_numpy()
    base = int(bounds[0])
    flat = spans.values.slice(base, int(bounds[-1]) - base)  # honours a sliced batch
    bounds = bounds - base
    kinds = _strings(flat.field("kind"))
    texts = _strings(flat.field("text"))
    refs = _strings(flat.field("media_ref"))
    offsets = flat.field("offset").fill_null(0).to_numpy().tolist()
    if flat.null_count:  # drop NULL span elements; bounds count the kept ones
        keep = np.flatnonzero(flat.is_valid().to_numpy(zero_copy_only=False))
        kinds, texts, refs, offsets = (
            [col[i] for i in keep] for col in (kinds, texts, refs, offsets))
        bounds = np.searchsorted(keep, bounds)
    doc_valid = spans.is_valid().to_numpy(zero_copy_only=False).tolist()
    return doc_valid, bounds.tolist(), kinds, texts, refs, offsets


def _extract(doc_valid, bounds, kinds, texts, refs, offsets) -> tuple:
    """rules.extract_columns over each valid document's slice of the
    columns; returns the flat output columns and their bounds."""
    out_k: list = []
    out_t: list = []
    out_m: list = []
    out_off: list = []
    out_bounds = [0]
    for d, valid in enumerate(doc_valid):
        if valid:
            a, b = bounds[d], bounds[d + 1]
            k, t, m = rules.extract_columns(kinds[a:b], texts[a:b], refs[a:b], offsets[a:b])
            out_k += k
            out_t += t
            out_m += m
            out_off += range(len(k))
        out_bounds.append(len(out_k))
    return doc_valid, out_bounds, out_k, out_t, out_m, out_off


def _to_arrow(doc_valid, bounds, kinds, texts, refs, offsets) -> pa.Array:
    struct = SPANS_ARROW.value_type
    values = pa.StructArray.from_arrays(
        [pa.array(col, f.type) for col, f in zip((kinds, texts, refs, offsets), struct)],
        fields=list(struct))
    return pa.ListArray.from_arrays(
        pa.array(bounds, pa.int32()), values, type=SPANS_ARROW,
        mask=pa.array([not v for v in doc_valid], pa.bool_()))


@arrow_udf(SPANS)
def extract_spans(spans: pa.Array) -> pa.Array:
    if not isinstance(spans, pa.Array):  # a pandas Series of span-dict lists
        spans = pa.array(spans, type=SPANS_ARROW)
    return _to_arrow(*_extract(*_columns(spans)))
