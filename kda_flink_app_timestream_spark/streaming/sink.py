"""Batching record sink — the Spark-first rendition of TimestreamSink
(TimestreamSink.java:28-172).

The reference hand-rolls everything Spark gives structurally:

| Reference mechanism | Spark replacement |
|---|---|
| record buffer flushed at ``batchSize`` (TimestreamSink.java:130-142) | per-partition chunked writes inside ``foreachBatch`` |
| 60 s time-flush **commented out** → stuck partial batches (:31, :136-139) | buffer never outlives a micro-batch — fixed structurally |
| ``ListState`` buffer snapshot/restore (:150-172) | ``checkpointLocation`` WAL + offsets — no custom state |
| per-record rejection repair (RejectedRecordsException → drop by index, reverse iteration, :103-120) | ``RejectedRecords`` protocol on the writer backend, same drop-and-continue contract |
| AWS client tuning maxConnections=5000 / timeout 20 s / retries 10 (:59-62) | backend-config dict passed to the writer factory |

Exactly-once-ish: a replayed micro-batch lands idempotently, by a
different mechanism per backend (SURVEY §7 "what's hard" #2). The JSONL
backend names files by ``(epoch_id, partition_id)``, so a replay
overwrites rather than duplicates. The Timestream backend writes each
partition at least once per attempt; Timestream upserts on
(dimensions, measure name, time), which makes the replay idempotent at
the store — the reference relies on the same.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame, Row

DEFAULT_BATCH_SIZE = 50  # TimestreamIngestBatchSize default, StreamingJob.java:174


class RejectedRecords(Exception):
    """Writer backends raise this to reject a subset of a batch by index
    (the Timestream ``RejectedRecordsException`` contract,
    TimestreamSink.java:103-120). The sink drops the rejected records,
    reports them, and continues with the rest — it never fails the batch."""

    def __init__(self, indices: Sequence[int], reason: str = ""):
        super().__init__(f"{len(indices)} records rejected: {reason}")
        self.indices = list(indices)
        self.reason = reason


def write_chunked(
    rows: Iterable[Row],
    write_batch: Callable[[list[dict[str, Any]]], None],
    batch_size: int = DEFAULT_BATCH_SIZE,
    on_rejected: Callable[[list[dict[str, Any]], RejectedRecords], None] | None = None,
) -> tuple[int, int]:
    """Chunk an iterator of rows into ``batch_size`` writes
    (TimestreamSink.java:130-142's size trigger), with rejection repair.

    Returns (written, rejected). Unlike the reference, a trailing
    partial chunk always flushes (the stuck-partial-batch fix)."""
    written = rejected = 0
    buf: list[dict[str, Any]] = []

    def flush() -> None:
        nonlocal written, rejected
        # re-land keepers until a write succeeds — the reference keeps
        # non-rejected records buffered and re-publishes them, dropping
        # newly-rejected ones each round (TimestreamSink.java:103-120),
        # so a SECOND RejectedRecords must repair again, not escape and
        # fail the micro-batch the class contract says never fails
        pending = buf
        while pending:
            try:
                write_batch(pending)
                written += len(pending)
                break
            except RejectedRecords as rr:
                bad_set = {i for i in rr.indices if 0 <= i < len(pending)}
                bad = [pending[i] for i in sorted(bad_set)]
                keep = [r for i, r in enumerate(pending) if i not in bad_set]
                rejected += len(bad)
                if on_rejected is not None:
                    on_rejected(bad, rr)
                if not bad_set:  # defensive: empty rejection list
                    written += len(keep)
                    break
                pending = keep
        buf.clear()

    for row in rows:
        buf.append(row.asDict(recursive=True) if isinstance(row, Row) else dict(row))
        if len(buf) >= batch_size:
            flush()
    flush()
    return written, rejected


class BatchingForeachWriter:
    """``foreachBatch`` sink: fan writes out per partition, chunked, with
    a pluggable backend factory.

    ``backend_factory() -> write_batch`` is constructed ON THE EXECUTOR
    (per partition) so clients (boto3, JDBC) are never pickled from the
    driver. For the JSONL test backend, files are named
    ``epoch={epoch}/part={pid}.jsonl`` and overwritten on replay —
    idempotence on (epoch, partition).

    ``written`` and ``rejected`` are driver-readable accumulators: every
    partition adds ``write_chunked``'s counts, so a record the backend
    rejects is counted on the engine side (cumulative over the writer's
    batches; a replayed batch counts again). Build the writer once the
    session is up — the accumulators live in its SparkContext.
    """

    def __init__(
        self,
        backend_factory: Callable[[], Callable[[list[dict[str, Any]]], None]] | None = None,
        *,
        jsonl_dir: str | None = None,
        batch_size: int = DEFAULT_BATCH_SIZE,
    ) -> None:
        if (backend_factory is None) == (jsonl_dir is None):
            raise ValueError("exactly one of backend_factory / jsonl_dir required")
        self._factory = backend_factory
        self._jsonl_dir = jsonl_dir
        self._batch_size = batch_size
        sc = SparkContext._active_spark_context
        if sc is None:
            raise RuntimeError("BatchingForeachWriter needs an active SparkContext")
        self.written = sc.accumulator(0)
        self.rejected = sc.accumulator(0)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch_size = self._batch_size
        factory = self._factory
        jsonl_dir = self._jsonl_dir
        written_acc, rejected_acc = self.written, self.rejected

        def handle_partition(pid_rows: Iterator[Row]) -> None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx else 0
            attempt = ctx.taskAttemptId() if ctx else 0
            if factory is not None:
                written, rejected = write_chunked(pid_rows, factory(), batch_size)
            else:
                written, rejected = _write_jsonl_partition(
                    pid_rows, jsonl_dir, epoch_id, pid, batch_size, attempt
                )
            written_acc.add(written)
            rejected_acc.add(rejected)

        batch_df.foreachPartition(handle_partition)


def _write_jsonl_partition(
    rows: Iterator[Row],
    out_dir: str,
    epoch_id: int,
    pid: int,
    batch_size: int,
    attempt: int = 0,
) -> tuple[int, int]:
    """Test/local backend: newline-delimited JSON, one file per
    (epoch, partition), atomic rename → idempotent replay. The tmp name
    carries the task ATTEMPT id: a speculative or zombie attempt running
    beside its retry must not interleave writes into one shared tmp
    file — each attempt builds its own and the last rename wins whole."""
    os.makedirs(os.path.join(out_dir, f"epoch={epoch_id}"), exist_ok=True)
    final = os.path.join(out_dir, f"epoch={epoch_id}", f"part={pid}.jsonl")
    tmp = f"{final}.tmp-{attempt}"
    with open(tmp, "w") as f:
        def write_batch(batch: list[dict[str, Any]]) -> None:
            for rec in batch:
                f.write(json.dumps(rec, default=str) + "\n")

        counts = write_chunked(rows, write_batch, batch_size)
    os.replace(tmp, final)
    return counts


def timestream_backend_factory(
    region: str,
    database: str,
    table: str,
    *,
    max_retries: int = 10,  # maxErrorRetry, TimestreamSink.java:61
    timeout_s: int = 20,  # requestTimeout, TimestreamSink.java:60
    endpoint_url: str | None = None,
    client_kwargs: dict[str, Any] | None = None,
):
    """Production backend: Amazon Timestream ``write_records`` via boto3
    (TimestreamSink.java:90-101), translating per-record rejections into
    the ``RejectedRecords`` protocol (:103-120). ``endpoint_url`` points
    it at a LocalStack / in-process fake endpoint
    (``timestream_fake.FakeTimestream``) — the factory is constructed on
    the EXECUTOR, so the whole path (client build, request signing, wire
    shape, rejection parse) runs for real in tests; gated behind the
    boto3 import for environments without it."""

    def factory():
        try:
            import boto3
            from botocore.config import Config
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "boto3 not available in this environment; use the JSONL or "
                "JDBC backend"
            ) from exc

        client = boto3.client(
            "timestream-write",
            region_name=region,
            endpoint_url=endpoint_url,
            config=Config(
                retries={"max_attempts": max_retries},
                read_timeout=timeout_s,
                max_pool_connections=500,
            ),
            **(client_kwargs or {}),
        )

        def write_batch(batch):
            records = [_to_timestream_record(rec) for rec in batch]
            bad: list[int] = []
            # WriteRecords accepts at most 100 records per call — a sink
            # batch_size above that must sub-chunk or EVERY write fails
            # with ValidationException (not a rejection) and the
            # micro-batch retries forever. Rejection indices from each
            # sub-call are re-based onto the caller's batch.
            for off in range(0, len(records), TIMESTREAM_MAX_RECORDS_PER_WRITE):
                chunk = records[off : off + TIMESTREAM_MAX_RECORDS_PER_WRITE]
                try:
                    client.write_records(
                        DatabaseName=database, TableName=table, Records=chunk
                    )
                except client.exceptions.RejectedRecordsException as exc:
                    bad += [
                        off + r["RecordIndex"]
                        for r in exc.response.get("RejectedRecords", [])
                    ]
            if bad:
                raise RejectedRecords(bad, "timestream rejection")

        return write_batch

    return factory


TIMESTREAM_MAX_RECORDS_PER_WRITE = 100  # WriteRecords API limit


def _to_timestream_record(rec: dict[str, Any]) -> dict[str, Any]:
    """TimestreamPoint row → Timestream Record (TimestreamSink.java:73-86).

    ``Time`` must be the EPOCH count in ``TimeUnit`` — the real service
    rejects a stringified datetime — so a TimestampType ``time`` column
    (what ``parse_service_logs`` emits) is converted to epoch millis
    here; naive datetimes are UTC by the engine's session-timezone
    contract (session.py pins spark.sql.session.timeZone=UTC)."""
    import datetime as _dt

    dims = rec.get("dimensions") or {}
    t = rec["time_millis"] if "time_millis" in rec else rec["time"]
    if isinstance(t, _dt.datetime):
        if t.tzinfo is None:
            t = t.replace(tzinfo=_dt.timezone.utc)
        t = int(t.timestamp() * 1000)
    return {
        "Dimensions": [{"Name": k, "Value": str(v)} for k, v in dims.items()],
        "MeasureName": rec["measure_name"],
        "MeasureValue": str(rec["measure_value"]),
        "MeasureValueType": rec.get("measure_value_type", "DOUBLE"),
        "Time": str(t),
        "TimeUnit": "MILLISECONDS",  # LogsToTimestreamPayloadFn.java:78
    }
