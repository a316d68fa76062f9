"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash). Both dicts follow registry
(definition) order.

The real catalog lives in ``kda_flink_app_timestream_spark.plans`` —
every operator registers a (PySpark callable, DuckDB oracle SQL) pair
there; this module just re-exports it in the driver's shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kda_flink_app_timestream_spark.plans import REGISTRY, load_all_plans

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the batch analog of the reference's whole pipeline
    (StreamingJob.java:112-186): events → 10 s tumbling event-time
    window × event_type → count/sum/avg.
    """
    load_all_plans()
    return REGISTRY["events_tumbling_agg"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    load_all_plans()
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each oracle-checkable query; queries
    registered with ``oracle=None`` (non-SQL-expressible semantics) are
    omitted → the driver records the weaker rows-only check."""
    load_all_plans()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
