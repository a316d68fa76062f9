"""Streaming micro-tests (SURVEY §5.3): file/rate sources driven to
completion, sink batching/rejection/idempotence with a fake writer,
late-split routing, gzip decode, end-to-end pipeline."""

from __future__ import annotations

import glob
import gzip
import json
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kda_flink_app_timestream_spark.functions.parse import parse_service_logs
from kda_flink_app_timestream_spark.sources.generator import service_log_batch
from kda_flink_app_timestream_spark.streaming.late import split_on_watermark
from kda_flink_app_timestream_spark.streaming.pipeline import start_reference_pipeline
from kda_flink_app_timestream_spark.streaming.sink import (
    BatchingForeachWriter,
    RejectedRecords,
    write_chunked,
)
from kda_flink_app_timestream_spark.streaming.source import decode_payload


def test_generator_renders_reference_template(spark):
    df = service_log_batch(spark, n_rows=20)
    row = df.first()
    text = row["value"]
    lines = text.split("\n")
    assert lines[0].startswith("---")
    keys = [l.split("=")[0] for l in lines if "=" in l]
    assert keys == [
        "Operation", "AwsAccountId", "HttpStatusCode", "CallerService",
        "Size", "Time", "EndTime", "StartTime", "Program",
    ]
    assert lines[-1] == "EOE"
    assert row["partition_key"] == [l for l in lines if l.startswith("AwsAccountId")][0].split("=")[1]


def test_generator_late_injection(spark):
    df = service_log_batch(spark, n_rows=2000, percent_late=25.0, late_time_seconds=600)
    parsed = parse_service_logs(df)
    now_ms = parsed.agg(F.max("time")).first()[0]
    n_late = parsed.filter(
        F.col("time") < F.lit(now_ms) - F.expr("INTERVAL 300 SECONDS")
    ).count()
    assert 0.15 < n_late / 2000 < 0.35  # ~25% shifted back 600 s


def test_parser_missing_keys_stateless(spark):
    """SURVEY §2.3.1: the reference leaks parser state across records; we
    must parse missing keys as NULL, not inherit the previous record."""
    rows = [
        Row(value="Operation=GetTable\nAwsAccountId=123\nTime=178.5 ms\nEndTime=1700000000000"),
        Row(value="Operation=CreateTable\nAwsAccountId=456"),  # no Time/EndTime
    ]
    out = parse_service_logs(spark.createDataFrame(rows)).collect()
    assert out[0]["measure_value_double"] == 178.5
    assert out[1]["measure_value"] is None
    assert out[1]["measure_value_double"] is None
    assert out[1]["time"] is None
    assert out[1]["dimensions"]["operation"] == "CreateTable"


def test_parser_repeated_key_last_wins(spark):
    """A malformed blob repeating a key with DIFFERENT values must parse
    (no DUPLICATE_MAP_KEY batch failure) with the LAST value winning —
    the reference's per-line HashMap.put semantics
    (LogsToTimestreamPayloadFn.java:25-27)."""
    rows = [
        Row(
            value="Time=1.5 ms\nOperation=GetTable\nTime=99.5 ms\n"
            "EndTime=1700000000000"
        ),
    ]
    out = parse_service_logs(spark.createDataFrame(rows)).collect()[0]
    assert out["measure_value_double"] == 99.5
    assert out["dimensions"]["operation"] == "GetTable"


def test_parser_equals_token_semantics(spark):
    """A '=' inside a value truncates at it — the reference's
    line.split("=")[1] behavior (LogsToTimestreamPayloadFn.java:26-27),
    not a join of the remaining tokens."""
    rows = [Row(value="Operation=Get=Table\nAwsAccountId=12=34\nEndTime=1700000000000")]
    out = parse_service_logs(spark.createDataFrame(rows)).collect()[0]
    assert out["operation"] == "Get"
    assert out["aws_account_id"] == "12"


def test_kinesis_substitute_file_source_equivalent(spark, tmp_path):
    """The file source + explicit gzip decode — the sandbox stand-in for
    Kinesis — must yield byte-identical ``value`` rows to decoding the
    same payloads directly (same consumer semantics as
    SimpleStringSchema + our decode fix, StreamingJob.java:98-106)."""
    blobs = [
        "Operation=GetTable\nTime=17.5 ms\nEndTime=1700000000000",
        "Operation=CreateTable\nTime=3.25 ms\nEndTime=1700000060000",
    ]
    src = str(tmp_path / "src")
    rows = [Row(value=gzip.compress(b.encode()).decode("latin-1")) for b in blobs]
    spark.createDataFrame(rows).coalesce(1).write.mode("append").json(src)

    from kda_flink_app_timestream_spark.streaming.source import streaming_source

    stream = streaming_source(
        spark, kind="file", fmt="json", path=src,
        schema="value string", decode="gzip",
    )
    q = (
        stream.writeStream.format("memory").queryName("filesub")
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(60), 'query did not terminate in 60s'
    got = sorted(r["value"] for r in spark.sql("SELECT * FROM filesub").collect())
    assert got == sorted(blobs)


def test_gzip_decode(spark):
    blob = "Operation=GetTable\nTime=1.5 ms"
    payload = gzip.compress(blob.encode()).decode("latin-1")
    df = spark.createDataFrame([Row(value=payload), Row(value="plain text")])
    out = df.select(decode_payload(F.col("value")).alias("value")).collect()
    assert out[0]["value"] == blob
    assert out[1]["value"] == "plain text"


def test_write_chunked_batching_and_rejection():
    calls: list[list] = []

    def write_batch(batch):
        calls.append(list(batch))
        if any(rec["id"] == 7 for rec in batch):
            raise RejectedRecords([next(i for i, r in enumerate(batch) if r["id"] == 7)])

    rows = [{"id": i} for i in range(12)]
    rejected_log = []
    written, rejected = write_chunked(
        iter(rows), write_batch, batch_size=5,
        on_rejected=lambda bad, rr: rejected_log.extend(bad),
    )
    # 12 rows → chunks of 5,5,2 (partial chunk FLUSHES — the reference's
    # stuck-partial-batch bug is fixed, TimestreamSink.java:136-139)
    assert written == 11 and rejected == 1
    assert rejected_log == [{"id": 7}]
    sizes = [len(c) for c in calls]
    assert sizes[0] == 5 and sizes[-1] == 2


def test_late_split_semantics(spark):
    df = spark.createDataFrame(
        [
            Row(event_time=datetime(2024, 1, 1, 0, 0, 30), v=1),  # on-time
            Row(event_time=datetime(2024, 1, 1, 0, 0, 26), v=2),  # within lateness
            Row(event_time=datetime(2024, 1, 1, 0, 0, 24), v=3),  # late
        ]
    )
    on_time, late = split_on_watermark(
        df, datetime(2024, 1, 1, 0, 0, 30), "event_time", "5 seconds"
    )
    assert sorted(r["v"] for r in on_time.collect()) == [1, 2]
    assert [r["v"] for r in late.collect()] == [3]
    # first batch: no watermark yet → nothing late (Flink −∞ watermark)
    on_time2, late2 = split_on_watermark(df, None, "event_time")
    assert on_time2.count() == 3 and late2.count() == 0


def test_reference_pipeline_end_to_end(spark, tmp_path):
    """rate source → parse → foreachBatch batching sink, availableNow."""
    sink_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = start_reference_pipeline(
        spark,
        source_kind="rate",
        sink=BatchingForeachWriter(jsonl_dir=sink_dir, batch_size=50),
        checkpoint_dir=ckpt,
        options={"rows_per_second": 200},
    )
    # rate source ignores availableNow → run live, poll for output, stop
    import time

    files: list[str] = []
    deadline = time.time() + 60
    while time.time() < deadline:
        files = [
            f
            for f in glob.glob(f"{sink_dir}/epoch=*/part=*.jsonl")
            if len(open(f).read()) > 0
        ]
        if files:
            break
        time.sleep(1)
    q.stop()
    assert files, "sink wrote no files"
    recs = [json.loads(l) for f in files for l in open(f)]
    assert all(r["measure_name"] == "latency" for r in recs)
    assert all(r["measure_value_type"] == "DOUBLE" for r in recs)
    sample = recs[0]
    assert set(sample["dimensions"]) == {"callerservice", "operation", "awsaccountid"}
    assert float(sample["measure_value"]) > 0


def test_corrupt_record_quarantine(spark, tmp_path):
    """Malformed input quarantine: PERMISSIVE json parsing routes broken
    lines to _corrupt_record instead of failing the job — the bad-record
    path every 100 TB ingest needs (one poisoned file must not kill the
    pipeline)."""
    p = tmp_path / "mixed.json"
    p.write_text(
        '{"value": "Operation=GetTable\\nEndTime=1700000000000"}\n'
        "{this is not json at all\n"
        '{"value": "Operation=CreateTable\\nEndTime=1700000000001"}\n'
        '{"value": 12, "unexpected": true\n'
    )
    df = (
        spark.read.schema("value string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()  # Spark requires materialization before querying only
        # the internal corrupt-record column
    )
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 2
    parsed = parse_service_logs(good)
    assert parsed.count() == 2
    assert {r["operation"] for r in parsed.collect()} == {"GetTable", "CreateTable"}


def test_stateful_queries_carry_state_across_microbatches(spark, sf_dir):
    """VERDICT r3 #6: the staged streams are split into
    STREAM_SPLIT_FILES files read with maxFilesPerTrigger=1, so stateful
    operators must demonstrably carry keyed state across >=3 micro-batches
    — not prove incrementality merely by construction — while the final
    result stays equal to the batch computation (the oracle contract)."""
    from kda_flink_app_timestream_spark.plans import streaming_queries as sq
    from kda_flink_app_timestream_spark.sources.batch import load_table
    from kda_flink_app_timestream_spark.streaming.stateful import running_counts

    assert sq.STREAM_SPLIT_FILES >= 3

    out = running_counts(sq._events_stream(spark, sf_dir))
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("mb_state_evidence")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(data_batches) >= 3, (
        f"expected >=3 data micro-batches, got {len(data_batches)}"
    )
    # every data batch must emit state updates — the cross-batch carry
    for p in data_batches[1:]:
        assert sum(op.numRowsUpdated for op in p.stateOperators) > 0

    # final per-key state equals the batch aggregate (unchanged greens)
    result = spark.table("mb_state_evidence")
    latest = (
        result.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select("user_id", "s.n_events", "s.total_value")
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in latest.collect()}
    exact = {
        r["user_id"]: (r["n"], r["total"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    }
    assert got == exact


def test_streaming_dedup_index_is_incremental_across_batches(spark, sf_dir):
    """The streaming MinHash band index must accumulate across >=3
    micro-batches via dropDuplicates keyed state: per-batch appended rows
    sum to the distinct bucket total, proving later batches emitted only
    NEW buckets (cross-batch dedup, not per-batch)."""
    from kda_flink_app_timestream_spark.plans import load_all_plans

    REG = load_all_plans()
    # the registered fn runs the stream to completion internally; we
    # re-run its pipeline here to capture the query's progress evidence
    from kda_flink_app_timestream_spark.plans import streaming_queries as sq
    from kda_flink_app_timestream_spark.functions.text import tokens
    from kda_flink_app_timestream_spark.operators.dedup import (
        NUM_BANDS,
        NUM_MINHASHES,
        minhash_signature,
    )

    rows_per_band = NUM_MINHASHES // NUM_BANDS
    docs = sq._documents_stream(spark, sf_dir).filter(
        F.size(tokens(F.col("text"))) >= 3
    )
    sig = minhash_signature(docs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":",
                    *[
                        F.col("sig")[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(NUM_BANDS)
        ]
    )
    banded = sig.select(F.explode(band_structs).alias("bb")).select(
        F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key")
    )
    dedup = banded.dropDuplicates(["band", "band_key"])
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("mb_minhash_evidence")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(data_batches) >= 3
    emitted = spark.table("mb_minhash_evidence").count()
    distinct_total = (
        REG["stream_dedup_minhash_bands"].fn(spark, sf_dir).count()
    )
    assert emitted == distinct_total


def test_rocksdb_state_store_same_results(spark, sf_dir):
    """The production state backend: RocksDB keeps state off-heap /
    on-disk so streaming state scales past executor memory (the HDFS-
    backed default holds every key in JVM heap — the 100 TB-stream
    failure mode). The keyed-dedup query must produce the identical
    key set under both providers."""
    from kda_flink_app_timestream_spark.plans import load_all_plans

    reg = load_all_plans()
    baseline = {
        (r["user_id"], r["event_type"])
        for r in reg["stream_dedup_keys"].fn(spark, sf_dir).collect()
    }
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = {
            (r["user_id"], r["event_type"])
            for r in reg["stream_dedup_keys"].fn(spark, sf_dir).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert rocks == baseline and len(rocks) > 0


def test_checkpoint_restart_restores_dedup_state(spark, tmp_path):
    """State survives a query RESTART, not just micro-batches: run a
    keyed dedup over the first file with a checkpoint, stop, add a
    second file with overlapping keys, restart from the SAME
    checkpoint — keys already claimed in run 1 must NOT re-emit (the
    state store restored them), while genuinely new keys must. (The
    file source tracks seen files by PATH, and every write creates a
    uniquely-named part file, so no mtime games are needed.) This is
    the recovery contract the reference hand-rolled with ListState
    snapshots (TimestreamSink.java:150-172); Spark's checkpointLocation
    subsumes it."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema("k long, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .dropDuplicates(["k"])
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = {r["k"] for r in spark.read.parquet(out).collect()}
    assert first == {1, 2}

    spark.createDataFrame(
        [(2, "dup"), (3, "c")], "k long, v string"
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    rows = [(r["k"], r["v"]) for r in spark.read.parquet(out).collect()]
    ks = sorted(k for k, _ in rows)
    assert ks == [1, 2, 3], f"restart must dedup against restored state: {rows}"
    # and key 2 kept its FIRST-run value — state, not re-read luck
    assert ("2", "dup") not in {(str(k), v) for k, v in rows}


def test_ignore_corrupt_files_survives_truncated_parquet(spark, tmp_path):
    """A truncated/corrupt parquet file among thousands must not kill a
    100 TB scan: with ``spark.sql.files.ignoreCorruptFiles`` the read
    skips the bad file and returns every healthy row (default behavior
    is fail-fast, the right call for correctness-critical runs — the
    lever makes the trade-off explicit and recoverable)."""
    import os

    import pytest

    out = str(tmp_path / "mixed")
    spark.range(100).coalesce(1).write.parquet(out)
    part = next(f for f in os.listdir(out) if f.endswith(".parquet"))
    # second, truncated copy: valid magic prefix, no footer
    with open(os.path.join(out, part), "rb") as f:
        head = f.read(64)
    with open(os.path.join(out, "zz_truncated.parquet"), "wb") as f:
        f.write(head)

    with pytest.raises(Exception):
        spark.read.parquet(out).count()  # fail-fast default

    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        assert spark.read.parquet(out).count() == 100
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def test_observe_metrics_on_pipeline(spark, sf_dir):
    """Production observability via ``df.observe``: accumulator-style
    metrics computed inline during the normal action (no second scan)
    — the hook a pipeline exports to its metrics system. Asserts the
    observed row count and exact-cents sum equal a direct aggregation."""
    from pyspark.sql import Observation

    from kda_flink_app_timestream_spark.functions.exact import cents
    from kda_flink_app_timestream_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("ingest_stats")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents(F.col("value"))).alias("value_cents"),
    )
    observed.write.format("noop").mode("overwrite").save()
    expected = ev.agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents(F.col("value"))).alias("c")
    ).collect()[0]
    assert obs.get["n_rows"] == expected["n"]
    assert obs.get["value_cents"] == expected["c"]


def _tie_stage(spark, tmp_path, rows_per_file):
    """Write one parquet file per micro-batch (ascending mtimes) for the
    exact-watermark-tie probes below."""
    import os as _os
    import shutil as _shutil

    stage = str(tmp_path / "stage")
    _os.makedirs(stage, exist_ok=True)
    for i, rows in enumerate(rows_per_file):
        df = spark.createDataFrame(rows, "ts timestamp, k string")
        tmp = str(tmp_path / f"tmp_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in _os.listdir(tmp) if f.endswith(".parquet"))
        dest = _os.path.join(stage, f"f{i}.parquet")
        _shutil.move(_os.path.join(tmp, part), dest)
        t = 1700000000 + i * 10
        _os.utime(dest, (t, t))
    return stage


def _run_append(spark, agg, name):
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_append_finalization_tie_tumbling(spark, tmp_path):
    """Pin Spark's append-mode eviction predicate at the exact
    watermark == window.end boundary (ADVICE r4): 1-min windows, 1-min
    delay; an event at exactly 00:02:00 drives the watermark to exactly
    00:01:00 — the end of the first window. Spark EMITS that window
    (predicate is ``window.end <= watermark``, not strict ``<``); the
    append-finalized oracles in plans/streaming_queries.py use the same
    ``<=`` cutoff. A regression in either direction fails here, not by
    data luck at sf0.01."""
    T0 = datetime(2024, 1, 1, 0, 0, 0)
    from datetime import timedelta

    stage = _tie_stage(
        spark,
        tmp_path,
        [
            [(T0 + timedelta(seconds=30), "x")],
            [(T0 + timedelta(minutes=2), "x")],  # wm -> exactly 00:01:00
            [(T0 - timedelta(days=1), "x")],  # late sentinel: extra batch
        ],
    )
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(stage)
    )
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute"))
        .agg(F.count("*").alias("n"))
    )
    got = _run_append(spark, agg, "tie_tumbling")
    starts = {str(r["s"]) for r in got.select(F.col("window.start").alias("s")).collect()}
    assert "2024-01-01 00:00:00" in starts, (
        "window whose end == watermark must finalize (<= predicate)"
    )
    # the [00:02, 00:03) window's end is past the final watermark: open
    assert "2024-01-01 00:02:00" not in starts


def test_append_finalization_tie_session(spark, tmp_path):
    """Session-window twin of the tumbling tie test: session end =
    last event + gap lands exactly ON the final watermark → emitted."""
    T0 = datetime(2024, 1, 1, 0, 0, 0)
    from datetime import timedelta

    stage = _tie_stage(
        spark,
        tmp_path,
        [
            [(T0, "x")],  # session [00:00, 00:01) with 1-min gap
            [(T0 + timedelta(minutes=2), "x")],  # wm -> exactly 00:01:00
            [(T0 - timedelta(days=1), "x")],
        ],
    )
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(stage)
    )
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "1 minute"), "k")
        .agg(F.count("*").alias("n"))
    )
    got = _run_append(spark, agg, "tie_session")
    ends = {
        str(r["e"])
        for r in got.select(F.col("session_window.end").alias("e")).collect()
    }
    assert "2024-01-01 00:01:00" in ends, (
        "session whose end == watermark must finalize (<= predicate)"
    )


def test_typed_measure_projection_full_enum(spark):
    """The full MeasureValueType enum surface (TimestreamPoint.java:27,
    62): per-row CASE WHEN routing into exactly one typed column,
    fromValue-style case-insensitive tag normalization, invalid tags
    flagged (not failed), malformed values degrading to NULL via
    try_cast instead of aborting the batch under ANSI mode."""
    from kda_flink_app_timestream_spark.functions.parse import (
        typed_measure_projection,
    )

    rows = [
        ("1.5", "DOUBLE"),
        ("42", "bigint"),          # lowercased tag normalizes
        ("hello", " Varchar "),    # padding + mixed case
        ("true", "BOOLEAN"),
        ("false", "boolean"),
        ("oops", "DOUBLE"),        # malformed double -> NULL, no abort
        ("12.9", "BIGINT"),        # non-integral bigint -> NULL
        ("1", "MULTI"),            # outside the typed enum -> invalid
        ("x", "garbage"),          # invalid tag
    ]
    df = spark.createDataFrame(rows, "measure_value string, measure_value_type string")
    out = {
        (r["measure_value"], r["measure_value_type"]): r
        for r in typed_measure_projection(df).collect()
    }

    r = out[("1.5", "DOUBLE")]
    assert (r["measure_double"], r["measure_type_valid"]) == (1.5, True)
    assert r["measure_bigint"] is None and r["measure_boolean"] is None

    r = out[("42", "BIGINT")]  # tag column is normalized in place
    assert (r["measure_bigint"], r["measure_type_valid"]) == (42, True)

    r = out[("hello", "VARCHAR")]
    assert (r["measure_varchar"], r["measure_type_valid"]) == ("hello", True)

    assert out[("true", "BOOLEAN")]["measure_boolean"] is True
    assert out[("false", "BOOLEAN")]["measure_boolean"] is False

    r = out[("oops", "DOUBLE")]
    assert r["measure_double"] is None and r["measure_type_valid"] is True

    assert out[("12.9", "BIGINT")]["measure_bigint"] is None

    for key in (("1", "MULTI"), ("x", "GARBAGE")):
        r = out[key]
        assert r["measure_type_valid"] is False
        assert all(
            r[c] is None
            for c in ("measure_double", "measure_bigint", "measure_varchar",
                      "measure_boolean")
        )

    # a NULL tag must read as INVALID (False), never NULL — a NULL flag
    # falls out of BOTH branches of a valid/~valid routing split
    null_tag = spark.createDataFrame(
        [("7", None)], "measure_value string, measure_value_type string"
    )
    r = typed_measure_projection(null_tag).collect()[0]
    assert r["measure_type_valid"] is False
    assert r["measure_double"] is None and r["measure_varchar"] is None


def test_publish_stage_dir_loser_discards_build(tmp_path):
    """The atomic-staging race contract: a COMPLETE existing stage
    (carries the marker) wins and the loser's build is discarded; a
    marker-less leftover (crashed pre-atomic run) is replaced by the
    complete build instead of being silently adopted; a genuinely
    impossible rename propagates."""
    import os

    from kda_flink_app_timestream_spark.plans.streaming_queries import (
        _publish_stage_dir,
    )

    # (a) complete winner already published -> loser discards its build
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    open(os.path.join(stage, "winner.parquet"), "w").write("w")
    open(os.path.join(stage, "_SUCCESS"), "w").close()

    build = str(tmp_path / "stage.build-loser")
    os.makedirs(build)
    open(os.path.join(build, "loser.parquet"), "w").write("l")

    _publish_stage_dir(build, stage, "_SUCCESS")
    assert not os.path.exists(build)
    assert sorted(os.listdir(stage)) == ["_SUCCESS", "winner.parquet"]

    # (b) stale marker-LESS leftover -> replaced by the complete build
    stale = str(tmp_path / "stale_stage")
    os.makedirs(stale)
    open(os.path.join(stale, "partial.parquet"), "w").write("p")

    build2 = str(tmp_path / "stale_stage.build")
    os.makedirs(build2)
    open(os.path.join(build2, "full.parquet"), "w").write("f")
    open(os.path.join(build2, "_SUCCESS"), "w").close()

    _publish_stage_dir(build2, stale, "_SUCCESS")
    assert sorted(os.listdir(stale)) == ["_SUCCESS", "full.parquet"]

    # (c) a genuine failure (no parent dir, rename impossible) propagates
    import pytest as _pytest

    missing_parent = str(tmp_path / "no" / "such" / "stage")
    build3 = str(tmp_path / "stage.build-3")
    os.makedirs(build3)
    with _pytest.raises(OSError):
        _publish_stage_dir(build3, missing_parent, "_SUCCESS")


def test_degenerate_events_tables_return_empty_not_typeerror(spark, tmp_path):
    """The two streaming queries with plan-time collects must degrade
    to an empty (oracle-matching) result on degenerate inputs instead
    of raising: an EMPTY events table NULLs the watermark-span
    aggregate of stream_dedup_within_watermark, and a table missing a
    whole event type NULLs the cutoff LEAST() of
    stream_leftouter_interval_join."""
    import datetime

    from kda_flink_app_timestream_spark.plans import REGISTRY, load_all_plans

    load_all_plans()
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    empty_dir = str(tmp_path / "sf_empty")
    spark.createDataFrame([], schema).coalesce(1).write.parquet(
        f"{empty_dir}/events.parquet"
    )
    out = REGISTRY["stream_dedup_within_watermark"].fn(spark, empty_dir)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["user_id", "event_type"]

    # clicks only — no purchases, so LEAST(max purchase ts, ...) is NULL
    clicks_dir = str(tmp_path / "sf_clicks_only")
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(seconds=i), i % 3, "click", 1.0, None)
        for i in range(10)
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        f"{clicks_dir}/events.parquet"
    )
    out2 = REGISTRY["stream_leftouter_interval_join"].fn(spark, clicks_dir)
    assert out2.count() == 0
    assert [f.name for f in out2.schema.fields] == [
        "purchase_id",
        "click_id",
        "user_id",
    ]

    # empty table through the time-ordered SENTINEL stage: the builder
    # must publish a sentinel-less empty stage (its min-ts aggregate is
    # NULL) and the append-finalized query must return empty
    out3 = REGISTRY["stream_tumbling_append_finalized"].fn(spark, empty_dir)
    assert out3.count() == 0


def test_publish_stage_dir_rescues_raced_complete_stage(tmp_path, monkeypatch):
    """The rename-aside recovery: when a marker-less directory turns
    COMPLETE between the check and the grab (a concurrent publisher
    won the race), the grabbed directory must be reinstalled, never
    deleted."""
    import os

    from kda_flink_app_timestream_spark.plans import streaming_queries as sq

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    open(os.path.join(stage, "winner.parquet"), "w").write("w")
    # no marker YET — simulates reading mid-publish of another process

    build = str(tmp_path / "stage.build")
    os.makedirs(build)
    open(os.path.join(build, "mine.parquet"), "w").write("m")

    real_rename = os.rename

    def racing_rename(src, dst):
        # the concurrent publisher completes (marker lands) just before
        # this process grabs the directory aside
        if src == stage:
            open(os.path.join(stage, "_SUCCESS"), "w").close()
        return real_rename(src, dst)

    monkeypatch.setattr(sq.os, "rename", racing_rename)
    sq._publish_stage_dir(build, stage, "_SUCCESS")
    assert sorted(os.listdir(stage)) == ["_SUCCESS", "winner.parquet"]
    assert not os.path.exists(build)


def test_dynamic_gap_session_merges_same_timestamp_ties(spark):
    """Two events at the SAME (user, ts) with different gaps must land
    in one session whose end is max(ts + gap(event)) — merged intervals
    are order-independent under ties (the property the catalog query's
    oracle relies on). Batch-mode session_window has the identical merge
    semantics as the streaming run."""
    from datetime import datetime

    from pyspark.sql import Row

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        Row(user_id=1, ts=t0, event_type="click"),   # gap 10 min
        Row(user_id=1, ts=t0, event_type="error"),   # gap 45 min
    ]
    df = spark.createDataFrame(rows)
    gap = (
        F.when(F.col("event_type") == "click", F.lit("10 minutes"))
        .when(F.col("event_type") == "view", F.lit("20 minutes"))
        .otherwise(F.lit("45 minutes"))
    )
    got = (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert len(got) == 1
    (r,) = got
    assert r["n"] == 2
    assert r["w"]["start"] == t0
    assert r["w"]["end"] == datetime(2024, 1, 1, 12, 45, 0)  # max gap wins


def test_dynamic_gap_sessions_match_python_interval_merge(spark):
    """Batch-mode session_window with a per-event gap equals a direct
    Python merge of [ts, ts+gap(event)) intervals (merge on STRICT
    overlap; session end = max member end) over randomized fixtures —
    the exact semantics the catalog oracle encodes as gaps-and-islands."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    rng = random.Random(77)
    gaps = {"click": 10, "view": 20, "error": 45}
    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for user in range(4):
        t = base
        for _ in range(25):
            t = t + timedelta(minutes=rng.choice([1, 5, 9, 11, 19, 21, 46, 50]))
            rows.append(
                Row(user_id=user, ts=t, event_type=rng.choice(list(gaps)))
            )
    df = spark.createDataFrame(rows)
    gap = (
        F.when(F.col("event_type") == "click", F.lit("10 minutes"))
        .when(F.col("event_type") == "view", F.lit("20 minutes"))
        .otherwise(F.lit("45 minutes"))
    )
    got = sorted(
        (r["user_id"], r["w"]["start"], r["w"]["end"], r["n"])
        for r in df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )

    expect = []
    for user in range(4):
        evs = sorted(
            (r.ts, r.ts + timedelta(minutes=gaps[r.event_type]))
            for r in rows
            if r.user_id == user
        )
        cur_start, cur_end, cur_n = None, None, 0
        for s, e in evs:
            if cur_start is None or s >= cur_end:
                if cur_start is not None:
                    expect.append((user, cur_start, cur_end, cur_n))
                cur_start, cur_end, cur_n = s, e, 1
            else:
                cur_end = max(cur_end, e)
                cur_n += 1
        expect.append((user, cur_start, cur_end, cur_n))
    assert got == sorted(expect)
