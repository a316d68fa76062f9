"""The benchmark's service process: fake Kinesis, fake Timestream and
the record generator, kept out of the system under test.

``run_service`` is the target of a spawned process. The benchmark
process sends it ``(command, args)`` tuples over a ``multiprocessing``
pipe and gets one reply per command. Records are rendered in the reference
generator's multi-line ``Key=Value`` template, gzip'd, and appended to
the fake stream directly (the generator is the environment, so it
skips the HTTP hop). Every record carries a unique 12-digit account
id, which is also its partition key, so the store can be checked
record by record.
"""

from __future__ import annotations

import base64
import gzip
import random
import threading
import time

from kda_flink_app_timestream_spark.streaming.kinesis_fake import FakeKinesis
from kda_flink_app_timestream_spark.streaming.timestream_fake import FakeTimestream

STREAM = "perfbench-logs"
DATABASE = "perfbench_db"
TABLE = "perfbench_points"
SHARDS = 4
LATE_SHARE = 0.05  # the reference generator's --percent-late, as a share
LATE_SECONDS = 600  # its --late-time

# value domains of the reference generator (timestream_kinesis_data_gen.py)
OPERATIONS = ("GetTable", "CreateTable", "CreateNameSpace", "GetDatabase", "CreateDatabase")
CALLER_SERVICES = ("GLUE", "S3")
LATENCIES = ("178.715432", "123.152632", "562.789562", "125.785214", "252.123568")


def render(operation: str, account: str, latency: str, end_ms: int, caller: str) -> str:
    return "\n".join(
        (
            "-" * 72,
            f"Operation={operation}",
            f"AwsAccountId={account}",
            "HttpStatusCode=200",
            f"CallerService={caller}",
            "Size=2",
            f"Time={latency} ms",
            f"EndTime={end_ms}",
            f"StartTime={end_ms}",
            "Program=AmazonDataCatalog",
            "EOE",
        )
    )


class CountingKinesis(FakeKinesis):
    """Fake Kinesis that counts each API operation it serves."""

    def __init__(self):
        super().__init__()
        self.op_counts: dict[str, int] = {}

    def _dispatch(self, op, body):
        self.op_counts[op] = self.op_counts.get(op, 0) + 1
        return super()._dispatch(op, body)


class StampingTimestream(FakeTimestream):
    """Fake Timestream that stamps the store time of every accepted
    WriteRecords call and counts operations and rejected records."""

    def __init__(self):
        super().__init__()
        self.op_counts: dict[str, int] = {}
        self.rejected = 0
        self.writes: list[tuple[float, list[dict]]] = []

    def _dispatch(self, op, body):
        self.op_counts[op] = self.op_counts.get(op, 0) + 1
        if op != "WriteRecords":
            return super()._dispatch(op, body)
        try:
            out = super()._dispatch(op, body)
        except Exception as ex:
            if getattr(ex, "code", "") == "RejectedRecordsException":
                self.rejected += len(ex.extra.get("RejectedRecords", []))
            raise
        self.writes.append((time.time(), body["Records"]))
        return out


class Generator:
    """Seeded record source. ``expected[account]`` keeps what each
    record must look like once stored."""

    def __init__(self, seed: int, kinesis: CountingKinesis, stream: str):
        self._rng = random.Random(seed)
        self._kinesis = kinesis
        self._stream = stream
        # distinct account-id ranges per seed; the sequence fills the rest
        self._base = (seed % 9000 + 1000) * 10**8
        self.n = 0
        self.expected: dict[str, tuple] = {}
        self.lags: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _make(self, created: float) -> tuple[str, str]:
        rng = self._rng
        account = "%012d" % (self._base + self.n)
        self.n += 1
        op = rng.choice(OPERATIONS)
        caller = rng.choice(CALLER_SERVICES)
        latency = rng.choice(LATENCIES)
        late = rng.random() < LATE_SHARE
        created_ms = int(created * 1000)
        end_ms = created_ms - LATE_SECONDS * 1000 if late else created_ms
        self.expected[account] = (op, caller, latency, end_ms, created_ms / 1000, late)
        text = render(op, account, latency, end_ms, caller)
        return account, base64.b64encode(gzip.compress(text.encode())).decode()

    def _put(self, batch: list[tuple[str, str]]) -> None:
        fk = self._kinesis
        with fk._lock:
            s = fk.streams[self._stream]
            for account, data in batch:
                s.put(data, account)

    def start_open_loop(self, rate: float, tick_s: float = 0.02) -> None:
        """Produce ``rate`` records per second on a fixed schedule. Each
        record's creation stamp is the instant it was due, so a stalled
        generator shows as latency, and its lateness is kept in
        ``lags``."""

        def loop():
            t0 = time.time()
            i = 0
            while not self._stop.is_set():
                now = time.time()
                due = int((now - t0) * rate)
                batch = []
                while i < due:
                    when = t0 + i / rate
                    self.lags.append(now - when)
                    batch.append(self._make(when))
                    i += 1
                if batch:
                    self._put(batch)
                self._stop.wait(tick_s)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)


def _store_index(ts: StampingTimestream) -> dict[str, list[tuple[float, dict]]]:
    out: dict[str, list[tuple[float, dict]]] = {}
    for stamp, records in ts.writes:
        for rec in records:
            dims = {d["Name"]: d["Value"] for d in rec["Dimensions"]}
            out.setdefault(dims.get("awsaccountid", ""), []).append((stamp, rec))
    return out


def verify(gen: Generator, ts: StampingTimestream, late_ids: list[str],
           first_trigger_end: float) -> dict:
    """Check every produced record against the store and the late sink.

    An on-time record must be stored exactly once with its time,
    operation, caller and measure value. A late record created after
    the first trigger ended must reach the late sink and not the store;
    one created earlier may land on either side (the first trigger's
    watermark is minus infinity), but exactly once. Returns error
    counts and the store stamps of on-time records."""
    stored = _store_index(ts)
    late_seen: dict[str, int] = {}
    for a in late_ids:
        late_seen[a] = late_seen.get(a, 0) + 1
    errors = {"lost": 0, "duplicated": 0, "mis_valued": 0, "mis_routed": 0}
    samples: list[tuple[float, float]] = []  # (created, stored)
    for account, (op, caller, latency, end_ms, created, late) in gen.expected.items():
        hits = stored.get(account, [])
        n_late = late_seen.get(account, 0)
        total = len(hits) + n_late
        if total == 0:
            errors["lost"] += 1
            continue
        if total > 1:
            errors["duplicated"] += 1
            continue
        if late and created > first_trigger_end and hits:
            errors["mis_routed"] += 1
            continue
        if not late and n_late:
            errors["mis_routed"] += 1
            continue
        if hits:
            stamp, rec = hits[0]
            dims = {d["Name"]: d["Value"] for d in rec["Dimensions"]}
            if (
                rec["Time"] != str(end_ms)
                or rec["MeasureValue"] != latency
                or rec["MeasureName"] != "latency"
                or dims.get("operation") != op
                or dims.get("callerservice") != caller
            ):
                errors["mis_valued"] += 1
                continue
            if not late:
                samples.append((created, stamp))
    unknown = sum(len(v) for k, v in stored.items() if k not in gen.expected)
    errors["mis_valued"] += unknown
    errors["rejected"] = ts.rejected
    return {"produced": gen.n, "errors": errors, "samples": samples}


def run_service(conn, seed: int) -> None:
    """Serve commands on ``conn`` until ``shutdown``."""
    with CountingKinesis() as fk, StampingTimestream() as ft:
        streams: dict[str, Generator] = {}
        conn.send(("ready", {"kinesis": fk.endpoint_url, "timestream": ft.endpoint_url}))
        while True:
            cmd, args = conn.recv()
            if cmd == "shutdown":
                for g in streams.values():
                    g.stop()
                conn.send(None)
                return
            if cmd == "create":
                name = args["stream"]
                with fk._lock:
                    fk._dispatch("CreateStream", {"StreamName": name, "ShardCount": SHARDS})
                streams[name] = Generator(seed + len(streams), fk, name)
                reply = None
            elif cmd == "start":
                streams[args["stream"]].start_open_loop(args["rate"])
                reply = None
            elif cmd == "stop":
                gen = streams[args["stream"]]
                gen.stop()
                reply = {"produced": gen.n}
            elif cmd == "counts":
                with ft._lock:
                    stored = sum(len(r) for _, r in ft.writes)
                    last = ft.writes[-1][0] if ft.writes else None
                reply = {
                    "kinesis_ops": dict(fk.op_counts),
                    "timestream_ops": dict(ft.op_counts),
                    "stored": stored,
                    "last_store": last,
                    "produced": {k: g.n for k, g in streams.items()},
                    "cpu_s": time.process_time(),
                }
            elif cmd == "verify":
                with ft._lock:
                    reply = verify(
                        streams[args["stream"]], ft, args["late_ids"],
                        args["first_trigger_end"],
                    )
                reply["gen_lags"] = streams[args["stream"]].lags
            else:
                raise ValueError(f"unknown service command {cmd!r}")
            conn.send(reply)
