"""Property-based tests (hypothesis): the as-of join against a naive
Python reference, sink chunking invariants, config precedence."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from kda_flink_app_timestream_spark.operators.relational import asof_join
from kda_flink_app_timestream_spark.session import resolve_config
from kda_flink_app_timestream_spark.streaming.sink import write_chunked

BASE = datetime(2024, 1, 1)


def _naive_asof(left, right):
    """Reference semantics: latest right ts ≤ left ts, same key."""
    out = {}
    for key, lts, lid in left:
        cands = [rts for rkey, rts in right if rkey == key and rts <= lts]
        out[lid] = max(cands) if cands else None
    return out


@settings(max_examples=20, deadline=None)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 10**6)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[2],
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500)), min_size=0, max_size=20
    ),
)
def test_asof_join_matches_naive(spark, left, right):
    lrows = [
        Row(k=k, ts=BASE + timedelta(seconds=s), lid=lid) for k, s, lid in left
    ]
    rrows = [Row(k=k, ts=BASE + timedelta(seconds=s)) for k, s in right]
    ldf = spark.createDataFrame(lrows)
    rdf = (
        spark.createDataFrame(rrows)
        if rrows
        else spark.createDataFrame([], "k int, ts timestamp")
    )
    got = {
        r["lid"]: r["ts_asof"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts", right_payload=["ts"]
        ).collect()
    }
    expected = {
        lid: (ts if ts is None else ts)
        for lid, ts in _naive_asof(
            [(k, BASE + timedelta(seconds=s), lid) for k, s, lid in left],
            [(k, BASE + timedelta(seconds=s)) for k, s in right],
        ).items()
    }
    assert got == expected


@settings(max_examples=50, deadline=None)
@given(
    n_rows=st.integers(0, 200),
    batch_size=st.integers(1, 60),
)
def test_write_chunked_partitions_exactly(n_rows, batch_size):
    calls: list[int] = []

    def wb(batch):
        calls.append(len(batch))

    written, rejected = write_chunked(
        iter([{"i": i} for i in range(n_rows)]), wb, batch_size=batch_size
    )
    assert written == n_rows and rejected == 0
    assert sum(calls) == n_rows
    assert all(c == batch_size for c in calls[:-1])  # only the tail is partial
    if calls:
        assert 0 < calls[-1] <= batch_size


@settings(max_examples=50, deadline=None)
@given(
    defaults=st.dictionaries(st.sampled_from("abcd"), st.text("xyz", max_size=3)),
    props=st.dictionaries(st.sampled_from("abcd"), st.text("xyz", max_size=3)),
    cli=st.dictionaries(st.sampled_from("abcd"), st.text("xyz", min_size=1, max_size=3)),
)
def test_resolve_config_layering(defaults, props, cli):
    args = [t for k, v in cli.items() for t in (f"--{k}", v)]
    got = resolve_config(args=args, properties=props, defaults=defaults)
    for k in set(defaults) | set(props) | set(cli):
        expected = cli.get(k, props.get(k, defaults.get(k)))
        assert got[k] == expected


def _naive_asof_forward(left, right, tolerance_s=None):
    """Reference semantics: earliest right ts >= left ts, same key;
    nulled when farther than the tolerance."""
    out = {}
    for key, lts, lid in left:
        cands = [rts for rkey, rts in right if rkey == key and rts >= lts]
        best = min(cands) if cands else None
        if best is not None and tolerance_s is not None:
            if (best - lts).total_seconds() > tolerance_s:
                best = None
        out[lid] = best
    return out


@settings(max_examples=20, deadline=None)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 10**6)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[2],
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500)), min_size=0, max_size=20
    ),
    tolerance=st.sampled_from([None, 0, 60, 250]),
)
def test_asof_join_forward_tolerance_matches_naive(spark, left, right, tolerance):
    lrows = [
        Row(k=k, ts=BASE + timedelta(seconds=s), lid=lid) for k, s, lid in left
    ]
    rrows = [Row(k=k, ts=BASE + timedelta(seconds=s)) for k, s in right]
    ldf = spark.createDataFrame(lrows)
    rdf = (
        spark.createDataFrame(rrows)
        if rrows
        else spark.createDataFrame([], "k int, ts timestamp")
    )
    got = {
        r["lid"]: r["ts_asof"]
        for r in asof_join(
            ldf,
            rdf,
            on="k",
            left_ts="ts",
            right_ts="ts",
            right_payload=["ts"],
            direction="forward",
            tolerance_seconds=tolerance,
        ).collect()
    }
    expected = _naive_asof_forward(
        [(k, BASE + timedelta(seconds=s), lid) for k, s, lid in left],
        [(k, BASE + timedelta(seconds=s)) for k, s in right],
        tolerance_s=tolerance,
    )
    assert got == expected


def test_asof_tolerance_is_exact_at_sub_second_gaps(spark):
    """Tolerance compares exact microseconds, not whole-second floors
    (ADVICE r3 #1): a true gap of 600.5 s must NOT match a 600 s bound
    even though floor(600.5) == 600; a gap of exactly 600.000000 s must
    match; one microsecond over must not."""
    cases = [
        # (lid, right offset from left, should_match)
        (1, timedelta(seconds=600, microseconds=500_000), False),
        (2, timedelta(seconds=600), True),
        (3, timedelta(seconds=600, microseconds=1), False),
        (4, timedelta(seconds=599, microseconds=999_999), True),
    ]
    ldf = spark.createDataFrame(
        [Row(k=lid, ts=BASE, lid=lid) for lid, _, _ in cases]
    )
    rdf = spark.createDataFrame(
        [Row(k=lid, ts=BASE + off) for lid, off, _ in cases]
    )
    got = {
        r["lid"]: r["ts_asof"]
        for r in asof_join(
            ldf,
            rdf,
            on="k",
            left_ts="ts",
            right_ts="ts",
            right_payload=["ts"],
            direction="forward",
            tolerance_seconds=600,
        ).collect()
    }
    for lid, off, should_match in cases:
        assert (got[lid] is not None) is should_match, (lid, off, got[lid])


def _naive_sessions_prop(rows, gap_s=1800):
    by_user = {}
    for uid, ts, eid in rows:
        by_user.setdefault(uid, []).append((ts, eid))
    out = set()
    for uid, evts in by_user.items():
        evts.sort()
        start, last, n = evts[0][0], evts[0][0], 1
        for ts, _ in evts[1:]:
            if (ts - last).total_seconds() >= gap_s:
                out.add((uid, start, last, n))
                start, n = ts, 0
            last = ts
            n += 1
        out.add((uid, start, last, n))
    return out


@settings(max_examples=15, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),             # user
            st.integers(0, 7200),          # offset seconds (spans 3 slices)
            st.integers(0, 999_999),       # microsecond component
        ),
        min_size=1,
        max_size=40,
    ),
    gap_s=st.sampled_from([600, 1800]),
    slice_s=st.sampled_from([900, 3600]),
)
def test_sessionize_sliced_matches_naive(spark, events, gap_s, slice_s):
    """Property: the two-phase time-sliced sessionization equals the
    naive global gaps-and-islands for ANY slice width — slicing may only
    cut sessions at borders that phase 2 must re-merge, including
    microsecond-precision gaps straddling slice boundaries."""
    from kda_flink_app_timestream_spark.operators.scale import sessionize_sliced

    rows = [
        (u, BASE + timedelta(seconds=s, microseconds=us), i)
        for i, (u, s, us) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize_sliced(
            df, gap_seconds=gap_s, slice_seconds=slice_s
        ).collect()
    }
    assert got == _naive_sessions_prop(rows, gap_s)


def _naive_overlap_scores(docs, n=3):
    """Reference for the shingle-overlap family: distinct word n-gram
    sets per doc, exact |A∩B| / union and / min for every pair sharing
    >= 1 shingle. Mirrors integer half-up rounding at 4 decimals."""
    import math

    sets = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        if len(toks) < n:
            sets[doc_id] = set()
            continue
        sets[doc_id] = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = len(sets[a] & sets[b])
            if not shared:
                continue
            union = len(sets[a] | sets[b])
            mn = min(len(sets[a]), len(sets[b]))
            jac = math.floor((shared * 20000 + union) / (union * 2.0)) / 10000.0
            cont = math.floor((shared * 20000 + mn) / (mn * 2.0)) / 10000.0
            out[(a, b)] = (jac, cont)
    return out


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
            min_size=3,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_overlap_scorers_match_naive(spark, docs):
    """Jaccard and containment against a naive Python reference over a
    tiny 6-word vocabulary (dense overlap — every pair exercised).
    max_doc_freq is set above any fixture frequency so the stop-list is
    empty and ALL candidate pairs must appear with exact scores."""
    from kda_flink_app_timestream_spark.operators.dedup import (
        exact_containment_pairs,
        exact_jaccard_pairs,
    )

    rows = [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows)
    expected = _naive_overlap_scores(list(enumerate(docs)))
    got_jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(df, threshold=0.0, max_doc_freq=10_000).collect()
    }
    got_cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in exact_containment_pairs(
            df, threshold=0.0, max_doc_freq=10_000
        ).collect()
    }
    assert got_jac == {k: v[0] for k, v in expected.items()}
    assert got_cont == {k: v[1] for k, v in expected.items()}


@settings(max_examples=15, deadline=None)
@given(
    docs=st.lists(st.integers(1, 4000), min_size=1, max_size=40),
    budget=st.sampled_from([512, 2048]),
    partition_local=st.booleans(),
)
def test_pack_contexts_budget_invariant(spark, docs, budget, partition_local):
    """Property (the guarantee the module docstring sells): every pack's
    token total is <= budget + one document, in BOTH the global and the
    partition-local rendition, for any doc-size mix including documents
    larger than the budget; and the packing is a partition of the input
    (every doc in exactly one pack)."""
    from kda_flink_app_timestream_spark.operators.packing import pack_contexts

    rows = [(i, n) for i, n in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = pack_contexts(df, budget=budget, partition_local=partition_local)
    got = packed.collect()
    assert sorted(r["doc_id"] for r in got) == sorted(i for i, _ in rows)
    by_pack: dict = {}
    for r in got:
        by_pack.setdefault(r["pack_id"], []).append(r["n_tokens"])
    for members in by_pack.values():
        assert sum(members) <= budget + max(members)


@settings(max_examples=15, deadline=None)
@given(
    weights=st.lists(st.integers(0, 350), min_size=1, max_size=30),
)
def test_weighted_mix_copy_counts(spark, weights):
    """Property: weighted_mix emits, per doc, either floor(w/100) or
    floor(w/100)+1 copies (the fractional share is a deterministic
    hash-bucket, so re-running yields the SAME choice), with dense
    0-based copy_idx — and rows whose copy count is zero disappear."""
    from kda_flink_app_timestream_spark.operators.curation import weighted_mix
    from pyspark.sql import functions as F

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out1 = weighted_mix(df, F.col("w")).collect()
    out2 = weighted_mix(df, F.col("w")).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # deterministic
    per_doc: dict = {}
    for r in out1:
        per_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
    w_of = dict(rows)
    for doc_id, idxs in per_doc.items():
        base = w_of[doc_id] // 100
        assert sorted(idxs) == list(range(len(idxs)))  # dense 0-based
        assert len(idxs) in (base, base + 1)
    for doc_id, w in rows:
        # zero copies is only possible when floor(w/100) == 0, i.e.
        # w < 100 (ADVICE r7: the earlier w < 200 bound would have let
        # a regression dropping docs with w in [100, 200) pass, since
        # the per-doc copy-count loop only inspects PRESENT docs)
        if doc_id not in per_doc:
            assert w < 100, f"doc {doc_id} (w={w}) must emit >=1 copy"


@settings(max_examples=200, deadline=None)
@given(blob=st.binary(min_size=0, max_size=400))
def test_decode_png_garbage_raises_valueerror_only(blob):
    """Fuzz the documented contract: decode_png on arbitrary bytes
    either succeeds or raises ValueError — never struct.error /
    zlib.error / IndexError (callers degrade rows on ValueError; a
    leaked foreign exception class would still be caught by the
    operator's blanket except, but the module contract says ValueError
    and crafted valid-CRC garbage used to leak zlib/struct errors)."""
    from kda_flink_app_timestream_spark.operators.multimodal import decode_png

    try:
        decode_png(blob)
    except ValueError:
        pass


@settings(max_examples=200, deadline=None)
@given(
    payload=st.binary(min_size=0, max_size=64),
    tag=st.sampled_from([b"IHDR", b"IDAT", b"abcd"]),
)
def test_decode_png_valid_crc_garbage_chunks(payload, tag):
    """Adversarial variant: chunks whose CRCs ARE valid but whose
    bodies are garbage (wrong-length IHDR, non-zlib IDAT) — the cases
    a blind fuzz essentially never reaches because random CRCs don't
    match. Contract: ValueError, never zlib.error/struct.error."""
    import binascii
    import struct

    from kda_flink_app_timestream_spark.operators.multimodal import (
        PNG_MAGIC,
        decode_png,
    )

    def chunk(t, data):
        return (
            struct.pack(">I", len(data)) + t + data
            + struct.pack(">I", binascii.crc32(t + data) & 0xFFFFFFFF)
        )

    png = PNG_MAGIC + chunk(tag, payload) + chunk(b"IEND", b"")
    try:
        decode_png(png)
    except ValueError:
        pass


@settings(max_examples=50, deadline=None)
@given(
    days=st.sets(st.integers(1, 28), min_size=1, max_size=20),
    cutoff_day=st.integers(1, 28),
    nested=st.booleans(),
)
def test_vacuum_partitions_removes_exactly_below_cutoff(tmp_path_factory, days, cutoff_day, nested):
    """Property: vacuum_partitions deletes exactly the day= dirs whose
    ISO value sorts below the cutoff — at any nesting level — and never
    touches survivors' contents or non-partition files."""
    import os

    from kda_flink_app_timestream_spark.operators.layout import vacuum_partitions

    root = tmp_path_factory.mktemp("vac")
    base = root / "event_type=x" if nested else root
    base.mkdir(exist_ok=True)
    for d in days:
        p = base / f"day=2024-01-{d:02d}"
        p.mkdir()
        (p / "part-0.parquet").write_bytes(b"x")
    (base / "_LAYOUT_DONE").write_text("ok")
    cutoff = f"2024-01-{cutoff_day:02d}"
    removed = vacuum_partitions(str(root), "day", cutoff)
    expected_gone = {d for d in days if f"2024-01-{d:02d}" < cutoff}
    assert removed == len(expected_gone)
    survivors = {p.name for p in base.iterdir() if p.name.startswith("day=")}
    assert survivors == {f"day=2024-01-{d:02d}" for d in days - expected_gone}
    for name in survivors:
        assert (base / name / "part-0.parquet").read_bytes() == b"x"
    assert (base / "_LAYOUT_DONE").exists()


def _reshard(client, stream: str, op: str) -> None:
    """Apply one random-schedule reshard op: ``split`` halves the first
    open shard with a splittable range, ``merge`` joins the first
    adjacent pair of open shards. No candidate = no-op."""
    shards = [
        s
        for s in client.list_shards(StreamName=stream)["Shards"]
        if "EndingSequenceNumber" not in s["SequenceNumberRange"]
    ]

    def rng(s):
        return tuple(
            int(s["HashKeyRange"][k]) for k in ("StartingHashKey", "EndingHashKey")
        )

    if op == "split":
        for s in shards:
            lo, hi = rng(s)
            if hi > lo:
                client.split_shard(
                    StreamName=stream,
                    ShardToSplit=s["ShardId"],
                    NewStartingHashKey=str((lo + hi) // 2 + 1),
                )
                return
    elif op == "merge":
        for a in shards:
            for b in shards:
                if rng(a)[1] + 1 == rng(b)[0]:
                    client.merge_shards(
                        StreamName=stream,
                        ShardToMerge=a["ShardId"],
                        AdjacentShardToMerge=b["ShardId"],
                    )
                    return


@st.composite
def _pysource_op_sequence(draw):
    """A random interleaving of produces, reads, and reshard events —
    the adversarial schedule the kinesis_py reader contract must
    survive."""
    ops = draw(
        st.lists(
            st.sampled_from(["put", "put", "put", "read", "split", "merge"]),
            min_size=6,
            max_size=22,
        )
    )
    keys = draw(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=len(ops),
            max_size=len(ops),
        )
    )
    return ops, keys


@settings(max_examples=10, deadline=None)
@given(scenario=_pysource_op_sequence())
def test_pysource_random_reshard_schedule_exactly_once(scenario):
    """End-to-end property for the registered kinesis_py reader
    (streaming/kinesis_pysource.py) under ANY interleaving of puts,
    multi-page micro-batch reads, splits, and merges, from TRIM_HORIZON:

    1. every produced record is received exactly once at fixpoint;
    2. a key's records never arrive in an earlier batch than a record
       of that key produced before them — so a parent shard's records
       never land in a later batch than its children's (the closing
       batch drains the whole parent remainder);
    3. every batch is exactly reproducible from its offset bounds via
       partitions() + read() — Spark's failure-replay contract,
       covering TRIM anchors, AT_TS boundaries, and CLOSED tombstones.
    """
    from unittest import mock

    import boto3

    from kda_flink_app_timestream_spark.streaming import kinesis_fake
    from kda_flink_app_timestream_spark.streaming import kinesis_pysource as kps

    ops, keys = scenario
    clock = _VirtualClock(start=1_700_000_000.5)
    with mock.patch.object(kinesis_fake, "time", clock), mock.patch.object(
        kps, "time", clock
    ), kinesis_fake.FakeKinesis() as fk:
        client = boto3.client(
            "kinesis",
            endpoint_url=fk.endpoint_url,
            region_name="us-east-1",
            aws_access_key_id="t",
            aws_secret_access_key="t",
        )
        client.create_stream(StreamName="prop", ShardCount=2)
        reader = kps.KinesisPartitionedStreamReader(
            {
                "streamname": "prop",
                "endpointurl": fk.endpoint_url,
                "accesskeyid": "t",
                "secretaccesskey": "t",
                "maxfetchrecordspershard": "2",  # force multi-page drains
            }
        )

        produced: list[tuple[str, str]] = []  # (key, payload) in order
        offsets = reader.initialOffset()
        batches: list[tuple[dict, list, dict]] = []  # (start, rows, end)

        def one_read():
            nonlocal offsets
            end = reader.latestOffset()
            rows = [r for p in reader.partitions(offsets, end) for r in reader.read(p)]
            batches.append((offsets, rows, end))
            offsets = end
            return rows

        for i, (op, key) in enumerate(zip(ops, keys)):
            if op == "put":
                payload = f"{key}-{i}"
                client.put_record(
                    StreamName="prop", Data=payload.encode(), PartitionKey=key
                )
                produced.append((key, payload))
            elif op == "read":
                one_read()
            else:
                _reshard(client, "prop", op)
        # drain to fixpoint: one read past the last put covers every
        # open and closed shard; the next one must be empty
        for _ in range(5):
            if not one_read():
                break
        else:
            raise AssertionError("no empty batch after 5 drain reads")

        received = [
            (r[2], bytes(r[0]).decode())  # (partitionKey, payload)
            for _s, rows, _e in batches
            for r in rows
        ]
        # 1. exactly once
        assert sorted(received) == sorted(produced), (received, produced)
        # 2. per-key batch monotonicity across reshards
        batch_of = {
            bytes(r[0]).decode(): bi
            for bi, (_s, rows, _e) in enumerate(batches)
            for r in rows
        }
        for k in {key for key, _p in produced}:
            seq = [batch_of[p] for key, p in produced if key == k]
            assert seq == sorted(seq), (k, seq, batches)
        # 3. every batch replays exactly from its offset bounds
        for start, rows, end in batches:
            replay = sorted(
                (r[4], r[3])
                for p in reader.partitions(start, end)
                for r in reader.read(p)
            )
            assert replay == sorted((r[4], r[3]) for r in rows), (start, end)


@settings(max_examples=10, deadline=None)
@given(
    points=st.lists(
        st.integers(min_value=-100_000, max_value=100_000), min_size=1, max_size=20
    ),
    intervals=st.lists(
        st.tuples(
            st.integers(min_value=-100_000, max_value=100_000),
            st.integers(min_value=0, max_value=5_000),
        ),
        min_size=1,
        max_size=12,
    ),
    bucket_s=st.sampled_from([7, 60, 600, 3600]),
)
def test_interval_join_bucketed_matches_naive(spark, points, intervals, bucket_s):
    """Property: the manufactured-equi-key interval join returns exactly
    the naive point-in-interval pairs for ANY bucket size — including
    pre-1970 epochs, where `(epoch/b).cast(long)` truncates toward zero
    rather than flooring; coverage survives because truncation is
    monotone, so trunc(start/b) <= trunc(p/b) <= trunc(end/b) whenever
    start <= p <= end (the review-pass argument, pinned here)."""
    from datetime import datetime, timezone

    from kda_flink_app_timestream_spark.operators.relational import (
        interval_join_bucketed,
    )

    def ts(e):
        return datetime.fromtimestamp(e, tz=timezone.utc).replace(tzinfo=None)

    left = spark.createDataFrame(
        [(i, ts(p)) for i, p in enumerate(points)], "pid int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(j, ts(s), ts(s + d)) for j, (s, d) in enumerate(intervals)],
        "iid int, start timestamp, end timestamp",
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join_bucketed(
            left, right, "ts", "start", "end", bucket_seconds=bucket_s
        ).collect()
    }
    want = {
        (i, j)
        for i, p in enumerate(points)
        for j, (s, d) in enumerate(intervals)
        if s <= p <= s + d
    }
    assert got == want


class _VirtualClock:
    """Deterministic stand-in for the ``time`` module, shared by the
    fake endpoint (arrival stamps) and the partitioned reader
    (boundary choice + boundary wait): ``sleep`` advances the clock, so
    the reader's <1 s whole-second boundary wait completes instantly
    and every arrival second is test-controlled."""

    def __init__(self, start: float):
        self.now = start

    def time(self) -> float:
        return self.now

    def sleep(self, dt: float) -> None:
        self.now += dt


@st.composite
def _partitioned_op_sequence(draw):
    """A random interleaving of produces, clock ticks, micro-batches,
    reshard events, and query restarts — the adversarial schedule the
    partitioned reader's arrival-time-interval contract must survive."""
    ops = draw(
        st.lists(
            st.sampled_from(
                # "ticklet" (0.3 s) creates SUB-second interleavings —
                # reads, restarts, and puts landing inside one wall
                # second, the squeeze that exposed the r10 unelapsed-
                # boundary commit (same-second shutdown) bug class
                [
                    "put",
                    "put",
                    "put",
                    "tick",
                    "ticklet",
                    "read",
                    "split",
                    "merge",
                    "restart",
                ]
            ),
            min_size=8,
            max_size=24,
        )
    )
    keys = draw(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=len(ops),
            max_size=len(ops),
        )
    )
    initial = draw(st.sampled_from(["TRIM_HORIZON", "LATEST"]))
    return ops, keys, initial


@settings(max_examples=10, deadline=None)
@given(scenario=_partitioned_op_sequence())
def test_pysource_partitioned_random_reshard_schedule_exactly_once(scenario):
    """VERDICT r9 #7, adapted to the v2 partitioned reader (whose
    offsets are whole-second arrival-time boundaries, not page-capped
    sequence probes): under ANY interleaving of puts, clock ticks,
    micro-batches, splits, merges, and mid-run reader restarts —

    1. every produced record is received exactly once at fixpoint;
    2. records sharing a partition key never arrive in an EARLIER batch
       than a record of that key produced before them (per-key batch
       monotonicity across reshards — the parent's closing drain lands
       no later than any child batch);
    3. every batch is exactly reproducible from its offset bounds alone
       (partitions(start, end) + read on a FRESH reader instance) —
       Spark's failure-replay contract over TRIM anchors, AT_TS
       boundaries, and CLOSED tombstones alike;
    4. latestOffset never pages records through the driver (the fake's
       GetRecords log grows only during executor-style read calls).

    r11 extension: schedules also draw SUB-second clock ticks and an
    initialPosition of TRIM_HORIZON or LATEST. With LATEST the
    assertion follows the documented anchor semantics exactly: a record
    stamped at/after the anchor (int(resolution-time)+1) must arrive
    EXACTLY once — even when reads, restarts, and puts all land inside
    one wall second (the r10 unelapsed-boundary-commit flake class:
    pre-fix, a read returning an unelapsed anchor boundary followed by
    same-second puts and a restart LOST those puts). A record stamped
    INSIDE the anchor's startup blind-spot second ([start, anchor)) is
    a post-start arrival on either side of a whole-second wire
    boundary: an original shard's AT_TIMESTAMP anchor excludes it,
    while a shard CREATED after start (post-split child) admits it
    from TRIM — both allowed by the documented "at-least-once at the
    boundary" contract, so the property pins AT MOST once for those
    (no duplicates, no phantoms), found by a 150-example stress run
    falsifying the stricter model.
    """
    from unittest import mock

    import boto3

    from kda_flink_app_timestream_spark.streaming import kinesis_fake
    from kda_flink_app_timestream_spark.streaming import kinesis_pysource as kps

    ops, keys, initial = scenario
    clock = _VirtualClock(start=1_700_000_000.5)
    opts = None

    def fresh_reader():
        return kps.KinesisPartitionedStreamReader(opts)

    with mock.patch.object(kinesis_fake, "time", clock), mock.patch.object(
        kps, "time", clock
    ), kinesis_fake.FakeKinesis() as fk:
        client = boto3.client(
            "kinesis",
            endpoint_url=fk.endpoint_url,
            region_name="us-east-1",
            aws_access_key_id="t",
            aws_secret_access_key="t",
        )
        client.create_stream(StreamName="pprop", ShardCount=2)
        opts = {
            "streamname": "pprop",
            "endpointurl": fk.endpoint_url,
            "accesskeyid": "t",
            "secretaccesskey": "t",
            "maxfetchrecordspershard": "2",  # force multi-page drains
            "initialposition": initial,
        }
        # records stamped before the LATEST anchor (the next whole
        # second after resolution) are excluded by the anchor's own
        # semantics; TRIM admits everything
        anchor = int(clock.now) + 1 if initial == "LATEST" else None
        reader = fresh_reader()

        produced: list[tuple[str, str, float]] = []  # (key, payload, stamp)
        offsets = reader.initialOffset()
        batches: list[tuple[dict, list, dict]] = []  # (start, rows, end)

        def one_read():
            nonlocal offsets
            before = len(fk.get_records_log)
            end = reader.latestOffset()
            assert len(fk.get_records_log) == before, "driver paged records"
            rows = [r for p in reader.partitions(offsets, end) for r in reader.read(p)]
            batches.append((offsets, rows, end))
            offsets = end
            return rows

        for i, (op, key) in enumerate(zip(ops, keys)):
            if op == "put":
                payload = f"{key}-{i}"
                client.put_record(
                    StreamName="pprop", Data=payload.encode(), PartitionKey=key
                )
                produced.append((key, payload, clock.now))
            elif op == "tick":
                clock.sleep(1.0)
            elif op == "ticklet":
                clock.sleep(0.3)
            elif op == "read":
                one_read()
            elif op == "restart":
                # stateless-restart contract: a fresh reader resumes
                # purely from the checkpointed offsets
                reader = fresh_reader()
            else:
                _reshard(client, "pprop", op)
        # drain to fixpoint: the boundary advances every read (the wait
        # pushes the virtual clock across each whole second)
        for _ in range(10):
            one_read()
            if not batches[-1][1]:
                break
        else:
            raise AssertionError("no empty batch after 10 drain reads")

        received = [
            (r[2], bytes(r[0]).decode())  # (partitionKey, payload)
            for _s, rows, _e in batches
            for r in rows
        ]
        # 1. exactly once at/after the anchor; AT MOST once (and no
        # phantoms) inside the LATEST startup blind-spot second
        must = sorted(
            (k, p) for k, p, ts in produced if anchor is None or ts >= anchor
        )
        allowed = {(k, p) for k, p, _ts in produced}
        assert len(received) == len(set(received)), received  # no duplicates
        assert set(received) <= allowed, (received, produced)  # no phantoms
        assert sorted(set(received) & set(must)) == must, (received, must)
        # 2. per-key batch monotonicity across reshards (over whatever
        # was received, in production order)
        batch_of = {
            bytes(r[0]).decode(): bi
            for bi, (_s, rows, _e) in enumerate(batches)
            for r in rows
        }
        for k in {key for key, _p, _ts in produced}:
            seq = [
                batch_of[p]
                for key, p, _ts in produced
                if key == k and p in batch_of
            ]
            assert seq == sorted(seq), (k, seq, batches)
        # 3. every batch replays exactly on a fresh reader from bounds alone
        replayer = fresh_reader()
        for start, rows, end in batches:
            replay = sorted(
                (r[4], r[3])
                for p in replayer.partitions(start, end)
                for r in replayer.read(p)
            )
            assert replay == sorted((r[4], r[3]) for r in rows), (start, end)
