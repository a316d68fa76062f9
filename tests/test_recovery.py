"""Checkpoint-recovery and late-routing behavior of the streaming
pipeline — the engine-level guarantees that replace the reference's
hand-rolled ListState buffer persistence (TimestreamSink.java:150-172).
"""

from __future__ import annotations

import glob
import json
import shutil
import time

from pyspark.sql import functions as F

from kda_flink_app_timestream_spark.functions.parse import parse_service_logs
from kda_flink_app_timestream_spark.sources.generator import service_log_batch
from kda_flink_app_timestream_spark.streaming.late import LateDataSplitter
from kda_flink_app_timestream_spark.streaming.pipeline import start_reference_pipeline
from kda_flink_app_timestream_spark.streaming.sink import BatchingForeachWriter


def _write_blob_files(spark, path: str, start: int, n: int) -> None:
    """Write service-log blobs for generator offsets [start, start+n) as
    one json file drop (deterministic per offset)."""
    from kda_flink_app_timestream_spark.sources.generator import _render

    base = spark.range(start, start + n).select(
        F.col("id").alias("value"), F.current_timestamp().alias("timestamp")
    )
    _render(base, 0.0, 0).select("value").coalesce(1).write.mode("append").json(path)


def _run_once(spark, src_dir: str, sink_dir: str, ckpt: str) -> None:
    q = start_reference_pipeline(
        spark,
        source_kind="file",
        path=src_dir,
        fmt="json",
        schema="value string",
        sink=BatchingForeachWriter(jsonl_dir=sink_dir, batch_size=50),
        checkpoint_dir=ckpt,
        available_now=True,
    )
    assert q.awaitTermination(120), 'query did not terminate in 120s'


def _sink_records(sink_dir: str) -> list[dict]:
    return [
        json.loads(line)
        for f in glob.glob(f"{sink_dir}/epoch=*/part=*.jsonl")
        for line in open(f)
    ]


def test_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """Restarting from the checkpoint must process ONLY new files — the
    WAL/offset tracking that replaces the reference's ListState snapshot;
    no record is written twice across the restart."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    _write_blob_files(spark, src, 0, 40)
    _run_once(spark, src, sink, ckpt)
    first = _sink_records(sink)
    assert len(first) == 40

    _write_blob_files(spark, src, 40, 25)
    _run_once(spark, src, sink, ckpt)
    both = _sink_records(sink)
    assert len(both) == 65  # 40 replayed? no — only 25 new ones appended

    # account ids are unique per generator offset → no duplicates at all
    keys = [r["aws_account_id"] for r in both]
    assert len(keys) == len(set(keys))


def test_replayed_epoch_overwrites(spark, tmp_path):
    """Replaying the same input against a FRESH checkpoint but the same
    sink directory overwrites per-(epoch, partition) files instead of
    appending — the idempotence contract for micro-batch retry."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")

    _write_blob_files(spark, src, 0, 30)
    _run_once(spark, src, sink, str(tmp_path / "ckpt1"))
    n1 = len(_sink_records(sink))
    _run_once(spark, src, sink, str(tmp_path / "ckpt2"))  # same epoch ids again
    n2 = len(_sink_records(sink))
    assert n1 == n2 == 30


def test_live_late_routing(spark, tmp_path):
    """Drive the splitter with a watermark-carrying query: a second file
    drop containing records far older than the advanced watermark must
    land in the late sink (the side-output semantics of
    StreamingJob.java:128/150/168, live)."""
    src = str(tmp_path / "src")
    on_time_rows, late_rows = [], []

    def on_time(df, epoch):
        on_time_rows.extend(df.collect())

    def late(df, epoch):
        late_rows.extend(df.collect())

    # batch 1: fresh records (advances the watermark)
    now_ms = int(time.time() * 1000)
    spark.createDataFrame(
        [(f"Time=1.5 ms\nEndTime={now_ms + i}",) for i in range(20)], ["value"]
    ).coalesce(1).write.mode("append").json(src)

    stream = parse_service_logs(
        spark.readStream.schema("value string").json(src)
    ).withWatermark("time", "5 seconds")
    splitter = LateDataSplitter(on_time, late, ts_col="time", allowed_lateness="5 seconds")
    q = (
        stream.writeStream.foreachBatch(splitter)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    splitter.attach(q)
    deadline = time.time() + 60
    while len(on_time_rows) < 20 and time.time() < deadline:
        time.sleep(0.5)

    # batch 2: records 10 minutes older than the watermark → late branch
    spark.createDataFrame(
        [(f"Time=9.9 ms\nEndTime={now_ms - 600_000 + i}",) for i in range(5)], ["value"]
    ).coalesce(1).write.mode("append").json(src)
    while not late_rows and time.time() < deadline:
        time.sleep(0.5)
    q.stop()

    assert len(on_time_rows) >= 20
    assert len(late_rows) == 5
    assert all(r["measure_value"] == "9.9" for r in late_rows)


def test_watermark_drops_are_counted(spark, tmp_path):
    """Append-mode windowed agg with a tight watermark: a second drop of
    stale records must be DROPPED BY THE ENGINE and show up in
    stateOperators[].numRowsDroppedByWatermark (SURVEY §5.3 — the
    observable for Flink's late-data accounting)."""
    import time as _t

    src = str(tmp_path / "src")
    now_ms = int(_t.time() * 1000)
    spark.createDataFrame(
        [(f"Time=1 ms\nEndTime={now_ms + i}",) for i in range(10)], ["value"]
    ).coalesce(1).write.mode("append").json(src)

    agg = (
        parse_service_logs(spark.readStream.schema("value string").json(src))
        .withWatermark("time", "5 seconds")
        .groupBy(F.window("time", "10 seconds"))
        .count()
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_drop_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _t.time() + 60
        # wait until the watermark advanced past the stale range
        while _t.time() < deadline:
            p = q.lastProgress
            wm = (p or {}).get("eventTime", {}).get("watermark", "")
            if wm and not wm.startswith("1970"):
                break
            _t.sleep(0.5)
        # stale drop: one hour older than the watermark
        spark.createDataFrame(
            [(f"Time=1 ms\nEndTime={now_ms - 3_600_000 + i}",) for i in range(7)],
            ["value"],
        ).coalesce(1).write.mode("append").json(src)
        dropped = 0
        while _t.time() < deadline and dropped == 0:
            # per-batch metric — idle batches overwrite lastProgress with
            # zeros, so scan the retained history; the count is POST-
            # partial-aggregation state rows (stale WINDOWS, not inputs):
            # all 7 stale records share one 10 s window → 1 dropped row
            for p in q.recentProgress:
                for op in (p or {}).get("stateOperators", []):
                    dropped = max(dropped, op.get("numRowsDroppedByWatermark", 0))
            _t.sleep(0.5)
        assert dropped >= 1, "stale window was not dropped by the watermark"
        # and the stale window never reaches the sink
        stale = spark.sql(
            "SELECT * FROM wm_drop_test WHERE window.start < current_timestamp() - INTERVAL 30 MINUTES"
        )
        assert stale.count() == 0
    finally:
        q.stop()


def test_throttled_source_yields_multiple_epochs(spark, tmp_path):
    """maxFilesPerTrigger=1 (the poll-throttle analog of the reference's
    SHARD_GETRECORDS tuning, StreamingJob.java:84-95): three file drops
    must process as three separate micro-batches/epochs."""
    src = str(tmp_path / "src")
    for start in (0, 10, 20):
        _write_blob_files(spark, src, start, 10)
    sink_dir = str(tmp_path / "sink")
    q = start_reference_pipeline(
        spark,
        source_kind="file",
        path=src,
        fmt="json",
        schema="value string",
        options={"maxFilesPerTrigger": 1},
        sink=BatchingForeachWriter(jsonl_dir=sink_dir, batch_size=50),
        checkpoint_dir=str(tmp_path / "ck"),
        available_now=True,
    )
    assert q.awaitTermination(120), 'query did not terminate in 120s'
    epochs = {f.split("epoch=")[1].split("/")[0] for f in glob.glob(f"{sink_dir}/epoch=*/part=*.jsonl")}
    assert len(epochs) == 3, f"expected 3 epochs, got {sorted(epochs)}"
    assert len(_sink_records(sink_dir)) == 30
