"""Local replica of the driver's DuckDB-oracle comparison (t2): run the
PySpark query and the oracle SQL side-by-side, canonicalize (columns
sorted by name, rows sorted), compare cell values EXACTLY.

Comparison happens on RAW driver-level values — Spark ``collect()`` Rows
vs DuckDB ``fetchall()`` tuples — NOT via pandas, which silently coerces
types (e.g. DuckDB DATE → pandas Timestamp) and can mask schema-type
divergence the driver would flag.
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# An oracle that cannot finish in memory spills under the cwd's .tmp/;
# past this cap its one query fails instead of filling the disk.
MAX_SPILL = "4GB"


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET max_temp_directory_size = '{MAX_SPILL}'")
    for t in TABLE_NAMES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written table = directory of parts
            path = f"{path}/*.parquet"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon_val(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_val(x) for x in v) + "]"
    # exact type repr matters: datetime.date vs datetime.datetime differ
    return repr(v)


def _canon_rows(rows: list[tuple]) -> list[tuple]:
    return sorted(tuple(_canon_val(v) for v in r) for r in rows)


def collect_sorted(spark_df) -> tuple[list[str], list[tuple]]:
    """The Spark side of a compare: column names sorted, rows collected."""
    cols = sorted(spark_df.columns)
    return cols, [tuple(row[c] for c in cols) for row in spark_df.collect()]


def compare_query(spark_df, oracle_con, oracle_sql: str, name: str) -> list[str]:
    """Run both sides, return mismatch descriptions (empty == pass)."""
    return compare_rows(*collect_sorted(spark_df), oracle_con, oracle_sql, name)


def compare_rows(
    spark_cols: list[str], spark_rows: list[tuple], oracle_con, oracle_sql: str, name: str
) -> list[str]:
    """Run the oracle and compare it with ``collect_sorted``'s output."""
    cur = oracle_con.execute(oracle_sql)
    o_cols = [d[0] for d in cur.description]
    if sorted(o_cols) != spark_cols:
        return [f"{name}: columns spark={spark_cols} oracle={sorted(o_cols)}"]
    idx = [o_cols.index(c) for c in spark_cols]
    oracle_rows = [tuple(r[i] for i in idx) for r in cur.fetchall()]

    if len(spark_rows) != len(oracle_rows):
        return [f"{name}: rows spark={len(spark_rows)} oracle={len(oracle_rows)}"]
    s, o = _canon_rows(spark_rows), _canon_rows(oracle_rows)
    problems = []
    for i, (a, b) in enumerate(zip(s, o)):
        if a != b:
            diff_cols = [
                f"{spark_cols[j]}: spark={a[j]} oracle={b[j]}"
                for j in range(len(a))
                if a[j] != b[j]
            ]
            problems.append(f"{name}: sorted-row {i} differs — " + "; ".join(diff_cols))
            if len(problems) >= 3:
                problems.append(f"{name}: (further diffs suppressed)")
                break
    return problems
