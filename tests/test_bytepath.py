"""Plan shape of the shared byte path (operators/bytepath) for both
input formats."""

from __future__ import annotations

import pytest

from pdf_extract_spark.operators import html as H, layout as L
from pdf_extract_spark.sources import htmlgen, pdfgen

FORMATS = {
    "pdf": (L.pdf_to_spans_full, lambda d: pdfgen.build_pdf(d, seed=21)),
    "html": (H.html_to_spans_full, lambda d: htmlgen.build_html(d, seed=33)),
}


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_plan_shape_one_exchange_two_arrow_stages(spark, fmt):
    """Each byte path must stay map-only around the ONE mandated range
    Exchange: parse + extraction as two back-to-back Arrow stages, no
    extra shuffle (CLAUDE.md plan invariants; count BEFORE collect to
    avoid the AQE initial+final double print)."""
    full_fn, build = FORMATS[fmt]
    rows = [{"doc_id": f"doc{d:08d}", "content": bytearray(build(d))} for d in range(8)]
    df = spark.createDataFrame(rows, schema="doc_id string, content binary")
    plan = full_fn(df)._jdf.queryExecution().executedPlan().toString()
    n_ex = plan.count("+- Exchange") + plan.count("   Exchange")
    assert n_ex == 1, plan
    assert plan.count("ArrowEvalPython") == 2, plan
