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


def test_catalog_gate_contract(sf_dir):
    """``scripts/rehearse_window.py`` is the catalog gate and the scale
    rehearsal: a failing query fails the run, and each green query's
    line reports Spark seconds, DuckDB seconds and the heaviest stage's
    max-task share (or the REST error that hid it)."""
    import re
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    run = subprocess.run(
        [sys.executable, "scripts/rehearse_window.py",
         "q1_pricing_summary,no_such_query", sf_dir],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    out = run.stdout
    assert run.returncode == 1, out + run.stderr[-2000:]
    assert "1/2 green" in out and "FAILURES: ['no_such_query']" in out, out
    assert re.search(
        r"^q1_pricing_summary: OK \(spark \d+\.\ds, duckdb \d+\.\ds, "
        r"max-task share (\d\.\d\d of \d+ tasks|n/a \(REST error .*)\)$",
        out, re.M,
    ), out
