"""The primary correctness gate, run locally at sf0.001 — mirrors the
driver's t2 check (sf0.01): every registered query's PySpark result must
match its DuckDB oracle exactly after canonicalization."""

from __future__ import annotations

import pytest

from kda_flink_app_timestream_spark.plans import load_all_plans

from .oracle_utils import compare_query, duckdb_connection

REGISTRY = load_all_plans()
ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, oracle_con, name):
    q = REGISTRY[name]
    problems = compare_query(q.fn(spark, sf_dir), oracle_con, q.oracle, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, sf_dir, name):
    q = REGISTRY[name]
    df = q.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_driver_contract_shapes(spark):
    import __spark_entry__ as e

    qs = e.queries()
    sqls = e.oracle_sql()
    # registry (definition) order, the whole catalog, no reordering
    assert list(qs) == list(REGISTRY)
    assert list(sqls) == [n for n, q in REGISTRY.items() if q.oracle is not None]
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and sql for sql in sqls.values())
