"""Pluggable streaming sources (SURVEY §2 #1, #9).

The reference consumes an Amazon Kinesis stream as UTF-8 strings
(StreamingJob.java:74-110: region, AUTO credentials, adaptive reads or
fixed 1000 ms / 10000-records polling, SimpleStringSchema at :102).
Here the source is a factory keyed by kind:

- ``kinesis``  — production path via the Kinesis Structured Streaming
  connector (connector jar not present in this environment; gated).
  The jar-free consumer of the same stream is the registered
  ``format("kinesis_py")`` source (``streaming/kinesis_pysource.py``).
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

# Kinesis consumer tuning mirroring StreamingJob.java:84-95 — translated
# to the spark-sql-kinesis connector's option names.
KINESIS_DEFAULT_OPTIONS = {
    "kinesis.executor.maxFetchTimeInMs": "1000",  # SHARD_GETRECORDS_INTERVAL_MILLIS
    "kinesis.executor.maxFetchRecordsPerShard": "10000",  # SHARD_GETRECORDS_MAX
}


def kinesis_option_map(
    stream_name: str | None,
    region: str | None = None,
    options: dict[str, Any] | None = None,
) -> dict[str, str]:
    """The EXACT option map the connector branch passes to
    ``readStream.format("kinesis")`` — extracted as a pure function so
    the mapping is unit-testable without the connector jar (VERDICT r7
    #7: this branch is the one §2 surface that has never executed in
    this jar-less environment; the semantics it encodes — the
    reference's consumer config at StreamingJob.java:77-95 — are pinned
    here instead). Precedence: caller options > reference-derived
    defaults > built-in fallbacks (region us-east-1 mirroring the
    reference's DEFAULT_REGION_NAME, initialPosition LATEST matching
    its STREAM_INITIAL_POSITION default)."""
    merged = {**KINESIS_DEFAULT_OPTIONS, **(options or {})}
    merged.setdefault("initialPosition", "LATEST")
    # the options dict outranks the convenience args (last-option-wins,
    # matching the old reader.option call order): an explicit
    # options={"region": ...} must not be silently overwritten
    merged.setdefault("streamName", stream_name)
    merged.setdefault("region", region or "us-east-1")

    def to_str(v) -> str:
        # DataStreamReader.option lowercases booleans; str() would send
        # 'True'/'False' to a connector that parses with == "true"
        return "true" if v is True else "false" if v is False else str(v)

    return {k: to_str(v) for k, v in merged.items()}


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
        reader = spark.readStream.format("kinesis")
        for k, v in kinesis_option_map(stream_name, region, options).items():
            reader = reader.option(k, v)
        # connector emits binary `data`; CAST replaces SimpleStringSchema
        # (StreamingJob.java:102)
        df = reader.load().select(F.col("data").cast("string").alias("value"))
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
