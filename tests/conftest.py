from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_extract_spark.session import build_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = build_spark(app_name="pdf_extract_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def ddb():
    """DuckDB connection with the driver's table views registered — the
    single definition both oracle gates (test_entry, test_dtype_gate)
    share, so the view list cannot drift between them."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def oracle_table(ddb):
    """``oracle_table(name)`` -> the name of a DuckDB temp table holding
    that catalogue query's ``oracle_sql()`` result, built once per
    session. Both oracle gates read it, each through its own fetch path
    (test_entry ``fetchall()``, test_dtype_gate ``.df()``), so each
    oracle runs once instead of once per gate. CREATE TABLE AS keeps the
    query's column types, so the frames carry the query's dtypes."""
    import __spark_entry__

    oracles, memo = __spark_entry__.oracle_sql(), {}

    def get(name):
        if name not in memo:
            table = f"oracle_{len(memo)}"
            ddb.execute(f"CREATE TEMP TABLE {table} AS SELECT * FROM ({oracles[name]})")
            memo[name] = table
        return memo[name]

    return get


@pytest.fixture(scope="session")
def query_result(spark):
    """``query_result(name)`` -> that catalogue query's result on
    ``SF_DIR``, run on Spark once per session and eagerly
    localCheckpointed. Both oracle gates (test_entry's ``collect()`` rows,
    test_dtype_gate's ``toPandas()``) read the same materialized rows, so
    each query's plan runs once instead of once per gate. The queries
    come through the driver entry (``__spark_entry__.queries``)."""
    import __spark_entry__

    queries, memo = __spark_entry__.queries(), {}

    def get(name):
        if name not in memo:
            memo[name] = queries[name](spark, SF_DIR).localCheckpoint(eager=True)
        return memo[name]

    return get
