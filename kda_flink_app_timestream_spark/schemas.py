"""Schemas: the TimestreamPoint record model and the driver testdata table names.

``TIMESTREAM_POINT_SCHEMA`` is the Spark rendering of the reference's one
data abstraction, the mutable POJO ``TimestreamPoint``
(TimestreamPoint.java:8-15): a single-measure, schema-on-read time-series
point with a dynamic string→string dimension map. Differences are
deliberate (SURVEY §1.4):

- ``time`` is a first-class TimestampType (normalized from epoch
  millis + timeUnit at parse) instead of a raw long + unit-string pair.
- a typed ``measure_value_double`` projection sits next to the
  stringly-typed ``measure_value`` (the reference stores DOUBLE measures
  as strings, TimestreamPoint.java:12 + LogsToTimestreamPayloadFn.java:84).
- at 100 TB the map-typed ``dimensions`` kills Parquet column pruning, so
  hot dimensions (callerservice/operation/awsaccountid — the only three
  the reference ever emits, LogsToTimestreamPayloadFn.java:86-89) are
  also extracted to first-class columns by the parser.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference record model -------------------------------------------------

TIMESTREAM_POINT_SCHEMA = T.StructType(
    [
        T.StructField("time", T.TimestampType(), True),
        T.StructField("measure_name", T.StringType(), True),
        T.StructField("measure_value", T.StringType(), True),
        T.StructField("measure_value_double", T.DoubleType(), True),
        T.StructField("measure_value_type", T.StringType(), True),
        T.StructField("dimensions", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# --- driver testdata tables (TESTDATA.md / FIXTURES.md §B) ------------------

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
