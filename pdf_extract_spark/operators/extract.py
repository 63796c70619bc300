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

Every documents -> spans entry (batch, lineage, the byte paths, the
streaming drain) reaches this UDF only through pipeline.run_extraction or
operators/bytepath, after the salted range repartition the north rule
mandates (pipeline.partition_for_extraction).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.pandas.functions import pandas_udf

from pdf_extract_spark import rules
from pdf_extract_spark.schemas import SPANS


@pandas_udf(SPANS)
def extract_spans(spans: pd.Series) -> pd.Series:
    return spans.map(lambda s: rules.extract_document(s) if s is not None else None)
