"""The catalog gate: every registered query against its DuckDB oracle.

Runs the registered queries, in registry order, through the repo's
canonical driver-twin compare (``tests/oracle_utils.compare_query``:
Spark collect vs DuckDB fetchall, columns sorted by name, rows sorted,
exact value reprs). Prints one line per query and a summary; exits
non-zero on any mismatch so it can gate a commit.

Usage: python scripts/rehearse_window.py [all|NAME,NAME,...] [SF_DIR]
       # defaults: all (the whole registry), the sf0.01 test data dir
       # a comma-separated name list selects queries by name
       # REHEARSE_SESSION=build uses the tuned session (10x+ dirs)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    spec = sys.argv[1] if len(sys.argv) > 1 else "all"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    if os.environ.get("REHEARSE_SESSION") == "build":
        # 10x+ sweeps need the tuned session (driver memory sized for
        # scale); the DEFAULT stays a vanilla session because the
        # driver's harness uses one — that's the contract under test
        from kda_flink_app_timestream_spark.session import build_spark

        spark = build_spark(app_name="rehearse-window")
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()

    import __spark_entry__ as e
    from tests.oracle_utils import compare_query, duckdb_connection

    qs, sqls = e.queries(), e.oracle_sql()
    names = list(qs) if spec == "all" else [n for n in spec.split(",") if n]
    con = duckdb_connection(sf)

    failures = []
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, sf)
            if name not in sqls:
                n_rows = df.count()
                print(f"{name}: rows-only ({n_rows} rows, "
                      f"{time.time() - t0:.1f}s)")
            else:
                problems = compare_query(df, con, sqls[name], name)
                if problems:
                    failures.append(name)
                    for p in problems:
                        print(p[:400])
                else:
                    print(f"{name}: OK ({time.time() - t0:.1f}s)")
        except Exception as exc:  # noqa: BLE001 — rehearsal must not abort
            failures.append(name)
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
        finally:
            spark.catalog.clearCache()

    print(f"\n{len(names) - len(failures)}/{len(names)} green")
    if failures:
        print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
