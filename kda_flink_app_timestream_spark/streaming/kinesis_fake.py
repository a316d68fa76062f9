"""Minimal in-process fake of the Amazon Kinesis Streams HTTP API.

Implements just enough of the public wire protocol
(application/x-amz-json-1.1, ``X-Amz-Target: Kinesis_20131202.<Op>``)
for boto3 to create streams, put records, drain shards, and RESHARD —
so the engine's consumer, the ``kinesis_py`` source
(``kinesis_pysource.py``: batch snapshot and streaming reader), runs
REAL produce→consume round-trips in any sandbox, including shard
split/merge lifecycles (the scaling events the reference's live stream
would undergo; StreamingJob.java:74-110 consumes through the Flink
connector, which handles the same lifecycle via the same public API).

Shard routing follows the real service: md5(partition_key) mapped into
per-shard 128-bit hash ranges, over OPEN shards only. ``SplitShard``
closes the parent (its ``SequenceNumberRange`` gains an
``EndingSequenceNumber``) and creates two children carrying
``ParentShardId``; ``MergeShards`` closes both adjacent parents and
creates one child carrying ``ParentShardId``/``AdjacentParentShardId``.
A closed, fully-drained shard returns ``NextShardIterator: null`` from
``GetRecords`` — the signal consumers use to retire it and start its
children.

Pure stdlib; no auth (signatures are accepted unverified, like
kinesalite). Lives in the package because the jar-free consumer is a
first-class dev/test surface; production traffic uses the connector.
"""

from __future__ import annotations

import base64
import hashlib
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_MAX_HASH = (1 << 128) - 1


class _Stream:
    def __init__(self, name: str, shard_count: int):
        if shard_count < 1:
            raise _ApiError(
                "InvalidArgumentException", f"ShardCount {shard_count} < 1"
            )
        self.name = name
        step = (_MAX_HASH + 1) // shard_count
        self.shards = []
        for i in range(shard_count):
            start = i * step
            end = _MAX_HASH if i == shard_count - 1 else (i + 1) * step - 1
            self.shards.append(self._new_shard(i, start, end))
        self._next_shard = shard_count
        self._seq = 0

    @staticmethod
    def _new_shard(idx: int, start: int, end: int, **extra) -> dict:
        return {
            "ShardId": f"shardId-{idx:012d}",
            "HashKeyRange": {
                "StartingHashKey": str(start),
                "EndingHashKey": str(end),
            },
            "SequenceNumberRange": {"StartingSequenceNumber": "0"},
            "records": [],
            **extra,
        }

    def _shard(self, shard_id: str) -> dict:
        try:
            return next(s for s in self.shards if s["ShardId"] == shard_id)
        except StopIteration:
            raise _ApiError(
                "ResourceNotFoundException", f"Shard {shard_id} not found"
            ) from None

    @staticmethod
    def _is_open(shard: dict) -> bool:
        return "EndingSequenceNumber" not in shard["SequenceNumberRange"]

    def shard_for(self, partition_key: str) -> dict:
        h = int.from_bytes(hashlib.md5(partition_key.encode()).digest(), "big")
        for s in self.shards:
            if self._is_open(s) and int(
                s["HashKeyRange"]["StartingHashKey"]
            ) <= h <= int(s["HashKeyRange"]["EndingHashKey"]):
                return s
        raise AssertionError("hash outside all open shard ranges")

    def put(self, data_b64: str, partition_key: str) -> tuple[str, str]:
        self._seq += 1
        seq = str(self._seq)
        shard = self.shard_for(partition_key)
        shard["records"].append(
            {
                "SequenceNumber": seq,
                "ApproximateArrivalTimestamp": time.time(),
                "Data": data_b64,
                "PartitionKey": partition_key,
            }
        )
        return shard["ShardId"], seq

    def _close(self, shard: dict) -> None:
        self._seq += 1
        shard["SequenceNumberRange"]["EndingSequenceNumber"] = str(self._seq)

    def split(self, shard_id: str, new_start: int) -> None:
        parent = self._shard(shard_id)
        if not self._is_open(parent):
            raise _ApiError("InvalidArgumentException", f"{shard_id} is closed")
        lo = int(parent["HashKeyRange"]["StartingHashKey"])
        hi = int(parent["HashKeyRange"]["EndingHashKey"])
        if not (lo < new_start <= hi):
            raise _ApiError(
                "InvalidArgumentException",
                f"NewStartingHashKey {new_start} outside ({lo}, {hi}]",
            )
        self._close(parent)
        for start, end in ((lo, new_start - 1), (new_start, hi)):
            child = self._new_shard(
                self._next_shard, start, end, ParentShardId=parent["ShardId"]
            )
            self._next_shard += 1
            self.shards.append(child)

    def merge(self, shard_id: str, adjacent_id: str) -> None:
        a, b = self._shard(shard_id), self._shard(adjacent_id)
        if not (self._is_open(a) and self._is_open(b)):
            raise _ApiError("InvalidArgumentException", "shard is closed")
        lo_a, hi_a = (int(a["HashKeyRange"][k]) for k in ("StartingHashKey", "EndingHashKey"))
        lo_b, hi_b = (int(b["HashKeyRange"][k]) for k in ("StartingHashKey", "EndingHashKey"))
        if hi_a + 1 != lo_b and hi_b + 1 != lo_a:
            raise _ApiError("InvalidArgumentException", "shards are not adjacent")
        self._close(a)
        self._close(b)
        child = self._new_shard(
            self._next_shard,
            min(lo_a, lo_b),
            max(hi_a, hi_b),
            ParentShardId=a["ShardId"],
            AdjacentParentShardId=b["ShardId"],
        )
        self._next_shard += 1
        self.shards.append(child)


class FakeKinesis:
    """An HTTP server + stream registry. Use as a context manager:

    >>> with FakeKinesis() as fk:
    ...     client = boto3.client("kinesis", endpoint_url=fk.endpoint_url, ...)
    """

    def __init__(self):
        self.streams: dict[str, _Stream] = {}
        # (shard_id, Limit) per GetRecords request, in arrival order —
        # lets tests observe the Limit each consumer actually sent,
        # including from executor tasks whose clients the test can't
        # wrap (the adaptive-reads carry is asserted server-side)
        self.get_records_log: list[tuple[str, int]] = []
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence request logging
                pass

            def do_POST(self):
                op = (self.headers.get("X-Amz-Target") or "").split(".")[-1]
                with outer._lock:
                    try:
                        ln = int(self.headers.get("Content-Length", 0))
                        body = json.loads(self.rfile.read(ln) or b"{}")
                        out, status = outer._dispatch(op, body), 200
                    except _ApiError as ex:
                        out, status = {"__type": ex.code, "message": ex.msg}, 400
                    except Exception as ex:  # malformed body/key -> 400,
                        # never a killed connection (boto3 would surface
                        # an opaque ConnectionClosedError)
                        out, status = {
                            "__type": "InvalidArgumentException",
                            "message": f"{type(ex).__name__}: {ex}",
                        }, 400
                payload = json.dumps(out).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/x-amz-json-1.1")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.endpoint_url = f"http://127.0.0.1:{self._server.server_address[1]}"
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def __enter__(self) -> "FakeKinesis":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()

    # --- operation dispatch ---------------------------------------------

    def _stream(self, name: str) -> _Stream:
        if name not in self.streams:
            raise _ApiError("ResourceNotFoundException", f"Stream {name} not found")
        return self.streams[name]

    @staticmethod
    def _public_shard(sh: dict) -> dict:
        return {k: v for k, v in sh.items() if k != "records"}

    def _dispatch(self, op: str, body: dict) -> dict:
        if op == "CreateStream":
            name = body["StreamName"]
            if name in self.streams:
                raise _ApiError("ResourceInUseException", f"Stream {name} exists")
            self.streams[name] = _Stream(name, body.get("ShardCount", 1))
            return {}
        if op in ("DescribeStream", "DescribeStreamSummary"):
            s = self._stream(body["StreamName"])
            desc = {
                "StreamName": s.name,
                "StreamARN": f"arn:aws:kinesis:local:000000000000:stream/{s.name}",
                "StreamStatus": "ACTIVE",
                "RetentionPeriodHours": 24,
                "StreamCreationTimestamp": 0,
                "EnhancedMonitoring": [],
            }
            if op == "DescribeStreamSummary":
                n_open = sum(1 for sh in s.shards if _Stream._is_open(sh))
                return {
                    "StreamDescriptionSummary": {**desc, "OpenShardCount": n_open}
                }
            shards = [self._public_shard(sh) for sh in s.shards]
            return {
                "StreamDescription": {**desc, "Shards": shards, "HasMoreShards": False}
            }
        if op == "ListShards":
            s = self._stream(body["StreamName"])
            return {"Shards": [self._public_shard(sh) for sh in s.shards]}
        if op == "PutRecord":
            s = self._stream(body["StreamName"])
            shard_id, seq = s.put(body["Data"], body["PartitionKey"])
            return {"ShardId": shard_id, "SequenceNumber": seq}
        if op == "PutRecords":
            s = self._stream(body["StreamName"])
            out = []
            for rec in body["Records"]:
                shard_id, seq = s.put(rec["Data"], rec["PartitionKey"])
                out.append({"ShardId": shard_id, "SequenceNumber": seq})
            return {"FailedRecordCount": 0, "Records": out}
        if op == "SplitShard":
            s = self._stream(body["StreamName"])
            s.split(body["ShardToSplit"], int(body["NewStartingHashKey"]))
            return {}
        if op == "MergeShards":
            s = self._stream(body["StreamName"])
            s.merge(body["ShardToMerge"], body["AdjacentShardToMerge"])
            return {}
        if op == "GetShardIterator":
            s = self._stream(body["StreamName"])
            shard = s._shard(body["ShardId"])
            it_type = body["ShardIteratorType"]
            if it_type == "TRIM_HORIZON":
                idx = 0
            elif it_type == "LATEST":
                idx = len(shard["records"])
            elif it_type == "AT_TIMESTAMP":
                # real-service semantics: position at the first record
                # whose server-side arrival timestamp is >= Timestamp
                # (boto3 serializes the Timestamp param as epoch seconds
                # on the json wire); a timestamp past every arrival
                # positions at the tip, like LATEST
                target = float(body["Timestamp"])
                idx = next(
                    (
                        i
                        for i, r in enumerate(shard["records"])
                        if r["ApproximateArrivalTimestamp"] >= target
                    ),
                    len(shard["records"]),
                )
            elif it_type in ("AT_SEQUENCE_NUMBER", "AFTER_SEQUENCE_NUMBER"):
                target = body["StartingSequenceNumber"]
                idx = next(
                    (
                        i
                        for i, r in enumerate(shard["records"])
                        if r["SequenceNumber"] == target
                    ),
                    None,
                )
                if idx is None:
                    # real service: unknown sequence -> validation error;
                    # a len+1 sentinel here would silently skip the next
                    # appended record forever
                    raise _ApiError(
                        "InvalidArgumentException",
                        f"StartingSequenceNumber {target} not found in "
                        f"{body['ShardId']}",
                    )
                if it_type == "AFTER_SEQUENCE_NUMBER":
                    idx += 1
            else:
                raise _ApiError("InvalidArgumentException", it_type)
            return {"ShardIterator": self._token(s.name, body["ShardId"], idx)}
        if op == "GetRecords":
            name, shard_id, idx = self._untoken(body["ShardIterator"])
            s = self._stream(name)
            shard = s._shard(shard_id)
            limit = body.get("Limit", 10000)
            self.get_records_log.append((shard_id, limit))
            recs = shard["records"][idx : idx + limit]
            new_idx = idx + len(recs)
            drained = new_idx >= len(shard["records"])
            closed = not _Stream._is_open(shard)
            return {
                "Records": recs,
                # a closed, fully-drained shard ends: null iterator is
                # the real service's retire signal
                "NextShardIterator": None
                if (closed and drained)
                else self._token(name, shard_id, new_idx),
                "MillisBehindLatest": 0 if drained else 1000,
            }
        raise _ApiError("UnknownOperationException", op)

    @staticmethod
    def _token(stream: str, shard_id: str, idx: int) -> str:
        raw = json.dumps({"s": stream, "h": shard_id, "i": idx}).encode()
        return base64.b64encode(raw).decode()

    @staticmethod
    def _untoken(token: str) -> tuple[str, str, int]:
        d = json.loads(base64.b64decode(token))
        return d["s"], d["h"], d["i"]


class _ApiError(Exception):
    def __init__(self, code: str, msg: str):
        super().__init__(msg)
        self.code = code
        self.msg = msg
