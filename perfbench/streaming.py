"""The ``ingest`` workload: an open loop below saturation through

    fake Kinesis (4 shards) -> kinesis_py (partitioned reader)
    -> decode_payload (gzip) -> parse_service_logs -> watermark
    -> LateDataSplitter -> BatchingForeachWriter(timestream backend)
    -> fake Timestream

with the generator and both fakes in a spawned service process.
"""

from __future__ import annotations

import math
import multiprocessing
import os
from multiprocessing import resource_tracker
import statistics
import time

from . import sut
from .common import metric, quantile
from .service import DATABASE, TABLE, run_service
from .trace import Tracer

CREDS = {"aws_access_key_id": "bench", "aws_secret_access_key": "bench"}
INGEST_RATE = 1000  # rec/s offered: about a quarter of the backlog capacity
# A fixed trigger interval pins the number of triggers per window. With
# the default back-to-back trigger, the source's whole-second boundary
# wait rounds each trigger up to 2 s or 3 s, and runs flipped between
# the two, so latency and CPU per record were bimodal across runs.
TRIGGER_INTERVAL_S = 4
WARM_TRIGGERS = 4  # triggers completed before the window opens


class Service:
    """Handle on the spawned service process."""

    def __init__(self, seed: int):
        ctx = multiprocessing.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self.proc = ctx.Process(target=run_service, args=(child, seed), daemon=True)
        self.proc.start()
        child.close()
        self.endpoints: dict[str, str] = {}

    def call(self, cmd: str, **args):
        if not self.endpoints:
            _, self.endpoints = self._conn.recv()  # the "ready" message
        self._conn.send((cmd, args))
        return self._conn.recv()

    def close(self) -> None:
        try:
            self.call("shutdown")
        except (EOFError, OSError):
            pass
        self.proc.join(timeout=10)
        if self.proc.is_alive():
            self.proc.kill()
            self.proc.join(timeout=5)
        # the spawn context's helper process; it would otherwise outlive
        # the run until interpreter exit
        resource_tracker._resource_tracker._stop()


class LateSink:
    """Late-slice callable: keeps the account ids routed late."""

    def __init__(self):
        self.ids: list[str] = []

    def __call__(self, df, epoch_id: int) -> None:
        self.ids.extend(r[0] for r in df.select("aws_account_id").collect())


def source_frame(spark, svc: Service, stream: str):
    return (
        spark.readStream.format("kinesis_py")
        .option("streamName", stream)
        .option("endpointUrl", svc.endpoints["kinesis"])
        .option("accessKeyId", CREDS["aws_access_key_id"])
        .option("secretAccessKey", CREDS["aws_secret_access_key"])
        .option("reader", "partitioned")
        .option("initialPosition", "TRIM_HORIZON")
        .load()
    )


def start_pipeline(spark, svc: Service, stream: str, ckpt: str, late: LateSink,
                   tracer: Tracer, available_now: bool):
    """Wire the reference pipeline from the program's public pieces."""
    from pyspark.sql import functions as F

    from kda_flink_app_timestream_spark.functions.parse import parse_service_logs
    from kda_flink_app_timestream_spark.streaming.late import LateDataSplitter
    from kda_flink_app_timestream_spark.streaming.sink import (
        BatchingForeachWriter,
        timestream_backend_factory,
    )
    from kda_flink_app_timestream_spark.streaming.source import decode_payload

    raw = source_frame(spark, svc, stream)
    decoded = raw.select(decode_payload(F.col("data"), codec="gzip").alias("value"))
    points = parse_service_logs(decoded).withWatermark("time", "5 seconds")
    writer = BatchingForeachWriter(
        timestream_backend_factory(
            "us-east-1", DATABASE, TABLE,
            endpoint_url=svc.endpoints["timestream"], client_kwargs=CREDS,
        )
    )
    splitter = LateDataSplitter(
        on_time=tracer.wrap("sink.write", writer),
        late=tracer.wrap("late.sink", late),
        ts_col="time",
        allowed_lateness="5 seconds",
    )
    stream_writer = points.writeStream.foreachBatch(
        tracer.wrap("late.split", splitter)
    ).option("checkpointLocation", ckpt)
    if available_now:
        stream_writer = stream_writer.trigger(availableNow=True)
    else:
        stream_writer = stream_writer.trigger(processingTime=f"{TRIGGER_INTERVAL_S} seconds")
    query = stream_writer.start()
    splitter.attach(query)
    return query


def stop_between_triggers(query, timeout_s: float = 60.0) -> None:
    """Stop while the query waits for its next trigger: stopping while a
    trigger is inside a Python callback can throw inside the stream
    execution thread."""
    deadline = time.time() + timeout_s
    while time.time() < deadline and query.status["isTriggerActive"]:
        time.sleep(0.005)
    query.stop()


def wait_batches(query, count: int, timeout_s: float) -> None:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        prog = query.lastProgress
        if prog and prog["batchId"] >= count - 1:
            return
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        time.sleep(0.05)
    raise TimeoutError(f"{count} triggers did not complete in {timeout_s:.0f} s")


def progress_start(p: dict) -> float:
    """Wall-clock start of a progress entry's trigger."""
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def progress_end(p: dict) -> float:
    return progress_start(p) + p["durationMs"]["triggerExecution"] / 1000


def trigger_layers(progs: list[dict]) -> dict[str, float]:
    """Per-trigger engine shares from the progress reports."""

    def share(keys):
        return statistics.median(
            sum(p["durationMs"].get(k, 0) for k in keys)
            / max(p["durationMs"]["triggerExecution"], 1)
            for p in progs
        )

    return {
        "trigger.count": float(len(progs)),
        "trigger.latest_offset_share": share(["latestOffset"]),
        "trigger.planning_share": share(["queryPlanning"]),
        "trigger.commit_share": share(["walCommit", "commitOffsets"]),
        "trigger.add_batch_share": share(["addBatch"]),
    }


def fake_counts(before: dict, after: dict, triggers: float, records: int) -> dict[str, float]:
    def delta(side, op):
        return after[side].get(op, 0) - before[side].get(op, 0)

    return {
        "source.get_records_per_trigger": delta("kinesis_ops", "GetRecords") / triggers,
        "source.get_shard_iterator_per_trigger":
            delta("kinesis_ops", "GetShardIterator") / triggers,
        "source.list_shards_per_trigger": delta("kinesis_ops", "ListShards") / triggers,
        "sink.write_calls_per_krec": delta("timestream_ops", "WriteRecords") / (records / 1000),
    }


def prefix_drains(spark, svc: Service, stream: str, ckpt_dir: str,
                  rounds: int = 2) -> dict[str, float]:
    """Drain the whole stream once per pipeline prefix, each in its own
    single-batch query: the source alone, + gunzip, + parse (all to the
    noop sink), then the full pipeline into the fake store. Self time
    of a stage is the difference between consecutive prefixes; each
    prefix keeps its fastest of ``rounds`` drains."""
    from pyspark.sql import functions as F

    from kda_flink_app_timestream_spark.functions.parse import parse_service_logs
    from kda_flink_app_timestream_spark.streaming.source import decode_payload

    out: dict[str, float] = {}
    for r in range(rounds):
        for stage in ("read", "decode", "parse", "full"):
            ckpt = os.path.join(ckpt_dir, f"{stage}-{r}")
            t0 = time.time()
            if stage == "full":
                q = start_pipeline(spark, svc, stream, ckpt, LateSink(), Tracer(False),
                                   available_now=True)
            else:
                df = source_frame(spark, svc, stream)
                if stage != "read":
                    df = df.select(decode_payload(F.col("data"), codec="gzip").alias("value"))
                if stage == "parse":
                    df = parse_service_logs(df)
                q = (
                    df.writeStream.format("noop").trigger(availableNow=True)
                    .option("checkpointLocation", ckpt).start()
                )
            q.awaitTermination()
            out[stage] = min(out.get(stage, math.inf), time.time() - t0)
    return out


def run_ingest(spark_factory, seed: int, seconds: int, run_dir: str, trace: bool,
               t_start: float) -> dict:
    """Open loop at ``INGEST_RATE`` through the whole pipeline. The
    window opens once ``WARM_TRIGGERS`` triggers have completed and
    lasts ``seconds``; then the generator stops, the pipeline drains,
    and the query stops between triggers."""
    from kda_flink_app_timestream_spark.streaming.bootstrap import (
        initialize_timestream_boto3,
    )
    from kda_flink_app_timestream_spark.streaming.kinesis_pysource import (
        KinesisPythonDataSource,
    )

    tree = sut.ProcessTree()
    tracer = Tracer(trace)
    ckpt = os.path.join(run_dir, "ckpt")
    svc = Service(seed)
    tree.exclude.add(svc.proc.pid)
    late = LateSink()
    try:
        with sut.Sampler(tree) as smp:
            t0 = time.time()
            spark = spark_factory()
            session_build_s = time.time() - t0
            spark.dataSource.register(KinesisPythonDataSource)
            svc.call("create", stream="ingest")
            initialize_timestream_boto3(
                DATABASE, TABLE, endpoint_url=svc.endpoints["timestream"],
                client_kwargs=CREDS,
            )
            query = start_pipeline(spark, svc, "ingest", os.path.join(ckpt, "ingest"),
                                   late, tracer, available_now=False)
            svc.call("start", stream="ingest", rate=INGEST_RATE)
            wait_batches(query, 1, 300)
            first_trigger_end = progress_end(query.lastProgress)
            wait_batches(query, WARM_TRIGGERS, 120)
            setup_s = time.time() - t_start
            tracer.reset()
            tracker = spark.sparkContext.statusTracker()
            group = str(query.runId)  # streaming jobs run in the run id's group
            c0 = svc.call("counts")
            jobs0 = len(tracker.getJobIdsForGroup(group))
            with sut.Window(tree) as win:
                w0 = time.time()
                time.sleep(seconds)
                w1 = time.time()
            c1 = svc.call("counts")
            jobs1 = len(tracker.getJobIdsForGroup(group))
            late_span_s = tracer.self_time("late.split")
            sink_span_s = tracer.total("sink.write")
            # drain: everything produced lands before the query stops
            produced = svc.call("stop", stream="ingest")["produced"]
            deadline = time.time() + 60
            while (svc.call("counts")["stored"] + len(late.ids) < produced
                   and time.time() < deadline):
                time.sleep(0.1)
            drain_s = time.time() - w1
            stop_between_triggers(query)
        t0 = time.time()
        result = svc.call("verify", stream="ingest", late_ids=late.ids,
                          first_trigger_end=first_trigger_end)
        verify_s = time.time() - t0
        drains = (
            prefix_drains(spark, svc, "ingest", os.path.join(ckpt, "prefix")) if trace else {}
        )
    finally:
        svc.close()

    lat = [s - c for c, s in result["samples"] if w0 <= c <= w1]
    if not lat:
        raise RuntimeError("no latency samples in the timed window")
    window_s = w1 - w0
    produced_window = c1["produced"]["ingest"] - c0["produced"]["ingest"]
    # per-trigger figures: triggers starting in the window, CPU from one
    # trigger start to the next
    allp = list(query.recentProgress)
    starts = [progress_start(p) for p in allp]
    trig, progs = [], []
    for p, a, b in zip(allp, starts, starts[1:]):
        if w0 <= a < w1:
            progs.append(p)
            (ja, pa, ca), (jb, pb, cb) = smp.cpu_at(a), smp.cpu_at(b)
            trig.append({"start_s": a - w0, "ms": p["durationMs"]["triggerExecution"],
                         "rows": p["numInputRows"], "rows_per_s": p["processedRowsPerSecond"],
                         "jvm_cpu_s": jb - ja - (cb - ca), "python_cpu_s": pb - pa,
                         "jit_cpu_s": cb - ca, "cpu_s": jb - ja + pb - pa})
    if not trig:
        raise RuntimeError("no complete trigger in the timed window")

    def med(key):
        return statistics.median(t[key] for t in trig)

    periods = window_s / TRIGGER_INTERVAL_S
    errors = result["errors"]
    e2e = {
        "setup_s": metric(setup_s, "s"),
        "latency_p50_s": metric(quantile(lat, 0.5), "s"),
        "latency_p99_s": metric(quantile(lat, 0.99), "s"),
        "throughput_per_s": metric(med("rows_per_s"), "1/s"),
        "mix_s": metric(med("ms") / 1000, "s"),
        "cpu_s_per_krec": metric(med("cpu_s") / (med("rows") / 1000), "s"),
        "cpu_s": metric(med("cpu_s"), "s"),
        "peak_pss_mb": metric(smp.peak_pss_mb(w0, w1), "MB"),
    }
    layers = {
        "session.build_s": session_build_s,
        "sut.jvm_cpu_s": med("jvm_cpu_s"),
        "sut.python_cpu_s": med("python_cpu_s"),
        "sut.jit_cpu_s": med("jit_cpu_s"),
        "engine.jobs_per_unit": (jobs1 - jobs0) / periods,
        "host.steal_share": win.steal_share,
        **trigger_layers(progs),
        **fake_counts(c0, c1, periods, produced_window),
        "late.self_share": late_span_s / window_s,
        "late.routed": float(len(late.ids)),
        "sink.write_share": sink_span_s / window_s,
        "sink.rejected": float(errors["rejected"]),
        "env.service_cpu_share": (c1["cpu_s"] - c0["cpu_s"]) / window_s,
    }
    if drains:
        layers["source.read_share"] = drains["read"] / drains["full"]
        layers["decode.self_share"] = (drains["decode"] - drains["read"]) / drains["full"]
        layers["parse.self_share"] = (drains["parse"] - drains["decode"]) / drains["full"]
    failed = sum(errors.values())
    detail = {
        "offered_rate_per_s": INGEST_RATE,
        "trigger_interval_s": TRIGGER_INTERVAL_S,
        "latency_samples": len(lat),
        "window_s": window_s,
        "records_in_window": produced_window,
        "drain_after_window_s": drain_s,
        "verify_s": verify_s,
        # below saturation: every trigger fits its interval and the
        # records of the window land within two intervals of its end
        "below_saturation": max(t["ms"] for t in trig) < TRIGGER_INTERVAL_S * 1000
        and drain_s < 2 * TRIGGER_INTERVAL_S,
        "gen_lag_p99_s": quantile(result["gen_lags"], 0.99),
        "host_steal_share": win.steal_share,
        "service_cpu_share": (c1["cpu_s"] - c0["cpu_s"]) / window_s,
        "fake_ops_in_window": {
            side: {op: n - c0[side].get(op, 0) for op, n in c1[side].items()}
            for side in ("kinesis_ops", "timestream_ops")
        },
        "errors": errors,
        "error_rate": failed / result["produced"],
        "sampler_cpu_s": smp.own_cpu_s,
        "triggers": trig,
    }
    if drains:
        detail["prefix_drain_s"] = drains
        detail["prefix_drain_records"] = result["produced"]
        detail["backlog_capacity_per_s"] = result["produced"] / drains["full"]
    return {"e2e": e2e, "layers": layers, "tracer": tracer, "units": periods,
            "unit_s": TRIGGER_INTERVAL_S, "attempted": result["produced"],
            "failed": failed, "detail": detail}
