"""Pluggable streaming sources (SURVEY §2 #1, #9).

The reference consumes an Amazon Kinesis stream as UTF-8 strings
(StreamingJob.java:74-110: region, AUTO credentials, adaptive reads or
fixed 1000 ms / 10000-records polling, SimpleStringSchema at :102).
Here the source is a factory keyed by kind:

- ``kinesis``  — the registered ``format("kinesis_py")`` source
  (``streaming/kinesis_pysource.py``): Spark-checkpointed offsets, one
  executor task per shard, and the reference's poll cap
  (SHARD_GETRECORDS_MAX, StreamingJob.java:93-94) as its default.
- ``file``     — parquet/json/text directory stream (tests, replay).
- ``rate``     — synthetic generator reproducing the reference's data
  generator (sources/generator.py).

Decode is explicit and configurable (``none``/``gzip``): the reference
has a latent producer/consumer mismatch — its generator gzips payloads
(timestream_kinesis_data_gen.py:75-77) but SimpleStringSchema never
gunzips (SURVEY §2.3.3). We make the decision visible instead of
inheriting the bug.
"""

from __future__ import annotations

import gzip
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def streaming_source(
    spark: SparkSession,
    kind: str = "file",
    *,
    path: str | None = None,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    stream_name: str | None = None,
    region: str | None = None,
    decode: str = "none",
    options: dict[str, Any] | None = None,
) -> DataFrame:
    """Build a streaming DataFrame with (at least) a ``value`` string
    column for log-style sources, or the file schema for replay sources."""
    options = dict(options or {})
    if kind == "file":
        reader = spark.readStream.format(fmt)
        if schema is not None:
            reader = reader.schema(schema)
        for k, v in options.items():
            reader = reader.option(k, v)
        df = reader.load(path)
    elif kind == "rate":
        from ..sources.generator import service_log_rate_stream

        df = service_log_rate_stream(spark, **options)
    elif kind == "kinesis":
        from .kinesis_pysource import KinesisPythonDataSource

        spark.dataSource.register(KinesisPythonDataSource)
        reader = spark.readStream.format("kinesis_py")
        for k, v in {"streamName": stream_name, "region": region, **options}.items():
            if v is not None:
                reader = reader.option(k, v)
        # the source emits binary `data`: a string CAST replaces
        # SimpleStringSchema (StreamingJob.java:102); gunzip takes the bytes
        data = F.col("data") if decode != "none" else F.col("data").cast("string")
        df = reader.load().select(data.alias("value"))
    else:
        raise ValueError(f"unknown source kind: {kind!r}")

    if decode != "none" and "value" in df.columns:
        df = df.withColumn("value", decode_payload(F.col("value"), codec=decode))
    return df


_GUNZIP_UDF = None


def _gunzip_udf():
    """Arrow-batched gzip→UTF-8 decode. A Python step is unavoidable here
    (no built-in gunzip expression); pandas_udf keeps it vectorized per
    Arrow batch rather than per row. Built lazily — the pandas_udf
    decorator needs an active SparkSession."""
    global _GUNZIP_UDF
    if _GUNZIP_UDF is None:

        def gunzip(s: pd.Series) -> pd.Series:
            def one(v):
                if v is None:
                    return None
                b = v if isinstance(v, (bytes, bytearray)) else str(v).encode("latin-1")
                if len(b) >= 2 and b[0] == 0x1F and b[1] == 0x8B:  # gzip magic
                    return gzip.decompress(b).decode("utf-8")
                return b.decode("utf-8", errors="replace")

            return s.map(one)

        _GUNZIP_UDF = F.pandas_udf(gunzip, T.StringType())
    return _GUNZIP_UDF


def decode_payload(col: F.Column, codec: str = "gzip") -> F.Column:
    if codec == "gzip":
        return _gunzip_udf()(col)
    if codec == "none":
        return col
    raise ValueError(f"unknown codec: {codec!r}")
