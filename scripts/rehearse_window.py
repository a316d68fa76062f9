"""The catalog gate and scale rehearsal: registered queries against
their DuckDB oracles, at any scale.

Runs the registered queries, in registry order, through the repo's
canonical driver-twin compare (``tests/oracle_utils.compare_rows``:
Spark collect vs DuckDB fetchall, columns sorted by name, rows sorted,
exact value reprs). Prints one line per query and a summary; exits
non-zero on any mismatch so it can gate a commit.

Each query's line reports Spark seconds (plan build + collect) apart
from DuckDB seconds, and the heaviest stage's max-task share (its
longest task over the stage's summed task time) from the Spark UI REST
API: near 1/num_tasks is balanced, near 1.0 is a one-task bottleneck.

Usage: python scripts/rehearse_window.py [all|NAME,NAME,...] [SF_DIR]
       # defaults: all (the whole registry), the sf0.01 test data dir
       # a comma-separated name list selects queries by name
       # REHEARSE_SESSION=build uses the tuned session (10x+ dirs);
       # SCALE.md holds the per-family name lists and fixtures
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _max_task_share(spark, since_ms: float) -> str:
    """The heaviest stage completed since ``since_ms`` (epoch millis):
    its max-task share, or the REST error; never raises."""
    try:
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"

        def get(path: str):
            return json.loads(urllib.request.urlopen(base + path, timeout=10).read())

        def submitted_ms(stage) -> float:
            t = stage.get("submissionTime")
            if not t:
                return 0
            return dt.datetime.strptime(
                t.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
            ).timestamp() * 1000

        recent = [s for s in get("?status=complete") if submitted_ms(s) >= since_ms]
        if not recent:
            return "max-task share n/a (no stage)"
        top = max(recent, key=lambda s: s.get("executorRunTime", 0))
        summary = get(f"/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=1.0")
        share = summary["executorRunTime"][0] / (top.get("executorRunTime") or 1)
        return f"max-task share {share:.2f} of {top.get('numCompleteTasks')} tasks"
    except Exception as exc:  # noqa: BLE001 — UI off or format drift: report it
        return f"max-task share n/a (REST error {type(exc).__name__}: {str(exc)[:120]})"


def main() -> int:
    spec = sys.argv[1] if len(sys.argv) > 1 else "all"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    if os.environ.get("REHEARSE_SESSION") == "build":
        # 10x+ sweeps need the tuned session (driver memory sized for
        # scale); the DEFAULT stays a vanilla session because the
        # driver's harness uses one — that's the contract under test.
        # The UI stays on for the max-task share (a vanilla session has it).
        from kda_flink_app_timestream_spark.session import build_spark

        spark = build_spark(app_name="rehearse-window", **{"spark.ui.enabled": "true"})
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()

    import __spark_entry__ as e
    from tests.oracle_utils import collect_sorted, compare_rows, duckdb_connection

    qs, sqls = e.queries(), e.oracle_sql()
    names = list(qs) if spec == "all" else [n for n in spec.split(",") if n]
    con = duckdb_connection(sf)

    failures = []
    for name in names:
        since_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf)
            if name in sqls:
                cols, rows = collect_sorted(df)
                spark_s = time.perf_counter() - t0
                problems = compare_rows(cols, rows, con, sqls[name], name)
                status = "OK"
                timing = (f"spark {spark_s:.1f}s, "
                          f"duckdb {time.perf_counter() - t0 - spark_s:.1f}s")
            else:
                status = f"rows-only ({df.count()} rows)"
                timing = f"spark {time.perf_counter() - t0:.1f}s"
                problems = []
            if problems:
                failures.append(name)
                for p in problems:
                    print(p[:400])
            else:
                print(f"{name}: {status} ({timing}, "
                      f"{_max_task_share(spark, since_ms)})", flush=True)
        except Exception as exc:  # noqa: BLE001 — rehearsal must not abort
            failures.append(name)
            print(f"{name}: ERROR {type(exc).__name__}: {exc}", flush=True)
        finally:
            spark.catalog.clearCache()

    print(f"\n{len(names) - len(failures)}/{len(names)} green")
    if failures:
        print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
