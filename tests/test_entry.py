"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB, compare row count,
column names, and order-insensitive values."""

from __future__ import annotations

import math
import os

import pytest

import __spark_entry__ as entry_mod


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "timestamp"):  # datetime
        return int(v.timestamp())
    if isinstance(v, bytes):
        return v.hex()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:
        pass
    return v


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


ALL = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(query_result, oracle_table, ddb, name):
    oracles = entry_mod.oracle_sql()
    sdf = query_result(name)
    srows = sdf.collect()
    scols = sdf.columns
    if name not in oracles:
        assert srows is not None  # rows-only check (driver's weak mode)
        return
    ores = ddb.execute(f"SELECT * FROM {oracle_table(name)}")
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    sc, sv = _canon(scols, [tuple(r) for r in srows])
    oc, ov = _canon(ocols, orows)
    assert sc == oc, f"{name}: column mismatch {sc} vs {oc}"
    assert len(sv) == len(ov), f"{name}: row count {len(sv)} vs {len(ov)}"
    mism = [i for i, (a, b) in enumerate(zip(sv, ov)) if a != b]
    assert not mism, f"{name}: first value mismatch at {mism[0]}: {sv[mism[0]]} vs {ov[mism[0]]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns == ["doc_id", "kind", "text", "media_ref", "offset"]
    assert len(rows) > 0


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_extract_oracle_corpus_invariants(ddb, sf):
    """The extraction oracle (queries.EXTRACT_CTE) is exact because the
    synthetic documents corpus exercises only the punctuation-free
    composition path. Pin those invariants so a regenerated corpus fails
    HERE with a clear message instead of as a cryptic hash mismatch in
    the driver gate."""
    import duckdb

    con = duckdb.connect()
    bad = con.execute(
        f"""SELECT count(*) FROM '{sf}/documents.parquet'
            WHERE regexp_matches(text, '[.?!:()\\[\\]{{}}0-9]')
               OR regexp_matches(text, '[A-Z]')
               OR text != trim(regexp_replace(text, '\\s+', ' ', 'g'))"""
    ).fetchone()[0]
    assert bad == 0, (
        f"{bad} documents in {sf} contain punctuation/digits/uppercase or "
        "uncollapsed whitespace — the EXTRACT_CTE oracle no longer mirrors "
        "rules.extract_document for this corpus; extend the SQL mirror or "
        "regenerate matching testdata"
    )
