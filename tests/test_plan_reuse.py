"""A steady catalog pass reuses what earlier passes produced: each
table's parquet schema (``sources.batch.load_table``) and the classes
whole-stage codegen compiled (``session.build_spark`` sizes the codegen
cache). Results are never cached; these tests pin both reuses against
the paths they replace.
"""

from __future__ import annotations

import contextlib
import itertools

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kda_flink_app_timestream_spark.functions.time import normalize_ts_col
from kda_flink_app_timestream_spark.plans.catalog import load_all_plans
from kda_flink_app_timestream_spark.schemas import TABLE_NAMES
from kda_flink_app_timestream_spark.session import CODEGEN_CACHE_ENTRIES
from kda_flink_app_timestream_spark.sources.batch import load_table

_GROUPS = itertools.count()


@contextlib.contextmanager
def _jobs_launched(spark):
    """Collect the ids of the Spark jobs launched inside the block (a
    fresh job group, so the count does not depend on how many older
    jobs the status tracker still retains)."""
    sc = spark.sparkContext
    group = f"plan-reuse-{next(_GROUPS)}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _plain_read(spark, sf_dir, name):
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_ts_col(df, "ts") if name == "events" else df


def test_load_table_matches_plain_read(spark, sf_dir):
    for name in TABLE_NAMES:
        got = load_table(spark, sf_dir, name)
        want = _plain_read(spark, sf_dir, name)
        assert got.schema == want.schema, name
        assert got.count() == want.count() > 0, name
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name


def test_load_table_second_call_launches_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "lineitem")
    with _jobs_launched(spark) as cached:
        load_table(spark, sf_dir, "lineitem")
    # the probe sees the schema-inference job plain reads pay per call
    with _jobs_launched(spark) as plain:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert cached == []
    assert len(plain) >= 1


def test_load_table_sees_a_rewritten_table(spark, tmp_path):
    d = str(tmp_path)
    path = f"{d}/t.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, d, "t").columns == ["a", "b"]
    pq.write_table(pa.table({"a": [3], "c": [0.5], "d": ["z"]}), path)
    df = load_table(spark, d, "t")
    assert df.columns == ["a", "c", "d"]
    assert [tuple(r) for r in df.collect()] == [(3, 0.5, "z")]

    # a directory table (read without the cache), rewritten in place by Spark
    spark.createDataFrame([(1, "x")], "k int, v string").write.parquet(f"{d}/u.parquet")
    assert load_table(spark, d, "u").columns == ["k", "v"]
    spark.createDataFrame([(2, 7.5)], "k int, w double").write.mode("overwrite").parquet(
        f"{d}/u.parquet"
    )
    df = load_table(spark, d, "u")
    assert df.columns == ["k", "w"]
    assert [tuple(r) for r in df.collect()] == [(2, 7.5)]


def test_two_loads_of_one_table_self_join(spark, sf_dir):
    a = load_table(spark, sf_dir, "lineitem")
    b = load_table(spark, sf_dir, "lineitem")
    got = a.join(
        b,
        (a.l_orderkey == b.l_orderkey) & (a.l_linenumber < b.l_linenumber),
    ).count()
    keys = [(r[0], r[1]) for r in a.select("l_orderkey", "l_linenumber").collect()]
    lines: dict = {}
    for order, line in keys:
        lines.setdefault(order, []).append(line)
    want = sum(sum(1 for x in ls for y in ls if x < y) for ls in lines.values())
    assert got == want > 0


def test_codegen_cache_holds_a_catalog_mix(spark, sf_dir):
    """A second run of the same queries compiles nothing, even after
    more distinct classes than Spark's default cache size (100) were
    compiled in between: the session's cache holds the whole mix."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    registry = load_all_plans()
    queries = ("q5_region_revenue", "timeseries_ohlc", "asof_join_purchase_signup")

    def run() -> int:
        before = compiles.getCount()
        for q in queries:
            registry[q].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    run()
    # 120 distinct one-class plans, compiled without running a job
    before = compiles.getCount()
    for i in range(120):
        plan = spark.range(2).select((F.col("id") * (i + 2) + (i + 3)).alias("v"))
        plan._jdf.queryExecution().toRdd()
    assert compiles.getCount() - before >= 120
    assert run() == 0
