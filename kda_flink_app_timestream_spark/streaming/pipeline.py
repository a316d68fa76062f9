"""End-to-end reference pipeline assembly — the StreamingJob.main analog
(StreamingJob.java:112-186): source → parse → event-time/watermark →
batching sink, with the late-data side output.

The reference's window is an identity pass-through (its
ProcessAllWindowFunction aggregates nothing, StreamingJob.java:151-166),
so the pipeline forwards parsed points to the sink per micro-batch,
with the late split replacing the Flink side output. Windowed
aggregates are separate operators (``streaming/windows.py``), not a
pipeline mode.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..functions.parse import parse_service_logs
from .late import LateDataSplitter
from .source import streaming_source


def build_point_stream(
    spark: SparkSession,
    source_kind: str = "rate",
    decode: str = "none",
    watermark: str = "5 seconds",  # allowedLateness analog, StreamingJob.java:149
    **source_options,
) -> DataFrame:
    """source → parse → watermark: a streaming DataFrame of
    TimestreamPoint rows with event time from the record's own EndTime
    (StreamingJob.java:132-134 timestamp assignment)."""
    raw = streaming_source(spark, kind=source_kind, decode=decode, **source_options)
    points = parse_service_logs(raw)
    return points.withWatermark("time", watermark)


def start_reference_pipeline(
    spark: SparkSession,
    *,
    sink: Callable[[DataFrame, int], None],
    source_kind: str = "rate",
    decode: str = "none",
    late_sink: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str,
    allowed_lateness: str = "5 seconds",
    available_now: bool = False,
    **source_options,
):
    """Wire and start the full job. Returns the StreamingQuery.

    - on-time slice → ``sink``, a ``foreachBatch`` callable:
      ``BatchingForeachWriter(timestream_backend_factory(...))`` (the
      TimestreamSink analog), ``BatchingForeachWriter(jsonl_dir=...)``
      or ``jdbc.jdbc_point_sink(url, table)``
    - late slice → ``late_sink`` (console-print analog of
      StreamingJob.java:168 if None)
    - exactly-once-ish via checkpointLocation + a sink whose replayed
      epoch lands idempotently.
    """
    points = build_point_stream(
        spark, source_kind=source_kind, decode=decode,
        watermark=allowed_lateness, **source_options,
    )

    def default_late_sink(late_df: DataFrame, epoch_id: int) -> None:
        n = late_df.count()
        if n:
            print(f"[late-data epoch={epoch_id}] {n} records")  # print() analog

    splitter = LateDataSplitter(
        on_time=sink,
        late=late_sink or default_late_sink,
        ts_col="time",
        allowed_lateness=allowed_lateness,
    )
    stream_writer = (
        points.writeStream.foreachBatch(splitter)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        stream_writer = stream_writer.trigger(availableNow=True)
    query = stream_writer.start()
    splitter.attach(query)
    return query
