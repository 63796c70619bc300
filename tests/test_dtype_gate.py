"""Strict mirror of the driver's correctness gate: every oracle query
compared to DuckDB on VALUES AND DTYPES through pandas frames (the
sibling test_entry canon compares values only). A dtype drift — int32
where the oracle yields int64, object vs bool — fails here before the
driver sees it."""

from __future__ import annotations

import pytest

from pdf_extract_spark.queries import ORACLES


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_dtype_and_value_exact(query_result, oracle_table, ddb, name):
    sdf = query_result(name).toPandas()
    odf = ddb.execute(f"SELECT * FROM {oracle_table(name)}").df()
    cols = sorted(sdf.columns)
    assert cols == sorted(odf.columns), f"{name}: column names differ"
    sdf = sdf[cols].sort_values(cols).reset_index(drop=True)
    odf = odf[cols].sort_values(cols).reset_index(drop=True)
    sdt = {c: str(sdf[c].dtype) for c in cols}
    odt = {c: str(odf[c].dtype) for c in cols}
    assert sdt == odt, f"{name}: dtype mismatch {sdt} vs {odt}"
    assert sdf.equals(odf), f"{name}: value mismatch"
