"""The per-layer metric set reported by traced runs.

Every traced run reports every name below. A layer the workload does
not run reports zero work: the streaming layers on ``batch_mix``, the
catalog layers on ``ingest``. Time spent in a workload-specific layer
is reported as a share: ``trigger.*`` of the trigger's duration,
``late.self_share`` and ``sink.write_share`` of the timed window,
``source.read_share`` and the ``*.self_share`` of decode and parse of
a full-pipeline drain of the whole stream, and ``plans.*`` of one
catalog pass. CPU figures are per trigger (``ingest``) or per pass
(``batch_mix``); ``sut.jvm_cpu_s`` leaves out the JIT compiler
threads, which ``sut.jit_cpu_s`` counts.
"""

from __future__ import annotations

from .batch import QUERIES

COMMON = {
    "session.build_s": "s",
    "sut.jvm_cpu_s": "s",
    "sut.python_cpu_s": "s",
    "sut.jit_cpu_s": "s",
    "engine.jobs_per_unit": "count",
    "host.steal_share": "share",
    "trace.overhead_share": "share",
}
STREAMING = {
    "trigger.count": "count",
    "trigger.latest_offset_share": "share",
    "trigger.planning_share": "share",
    "trigger.commit_share": "share",
    "trigger.add_batch_share": "share",
    "late.self_share": "share",
    "late.routed": "count",
    "sink.write_share": "share",
    "sink.write_calls_per_krec": "count",
    "sink.rejected": "count",
    "source.get_records_per_trigger": "count",
    "source.get_shard_iterator_per_trigger": "count",
    "source.list_shards_per_trigger": "count",
    "source.read_share": "share",
    "decode.self_share": "share",
    "parse.self_share": "share",
    "env.service_cpu_share": "share",
}
PLANS = {
    f"plans.{kind}_share.{q}": "share" for q in QUERIES for kind in ("build", "exec")
}
UNITS = {**COMMON, **STREAMING, **PLANS}


def per_layer(out: dict) -> dict[str, dict]:
    values = dict(out["layers"])
    window_s = out["unit_s"] * out["units"]
    values["trace.overhead_share"] = out["tracer"].overhead_s / window_s
    unknown = set(values) - set(UNITS)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in UNITS.items()
    }
