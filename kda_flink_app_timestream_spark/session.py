"""SparkSession factory and layered config resolution.

Config precedence mirrors the reference's ParameterToolUtils
(ParameterToolUtils.java:13-35 — CLI args merged over the KDA runtime
property group "FlinkApplicationProperties"): here it is
explicit-kwargs > environment > defaults.

Defaults are tuned for the driver's harness (single-JVM ``local[N]``),
but every knob matters equally on a real cluster:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting)
  so plans built for sf0.01 survive a 100 TB input unchanged.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a
  1000-executor cluster this is overridden by AQE coalescing anyway.
- Arrow enabled for every pandas-interop path.
- Session timezone pinned to UTC so timestamps collect identically to
  the DuckDB oracle (which is UTC-naive).
- Whole-stage codegen cache (``spark.sql.codegen.cache.maxEntries``)
  sized to ``CODEGEN_CACHE_ENTRIES``. Spark's default of 100 is smaller
  than the set of classes a catalog mix generates (the nine benchmark
  queries alone compile 123 distinct classes at sf0.005), so the LRU
  evicted classes before their next use and each pass recompiled about
  113 of them, in Janino and then in the JIT. With room for the mix a
  steady pass compiles none. It is a static conf, read once per JVM
  when the code generator first loads, so only ``build_spark`` can set
  it; ``configure_runtime`` cannot apply it to a session the driver
  owns, which keeps whatever cache size its builder chose.
- The per-task ``pyspark.zip`` re-parse fix, installed on package
  import (``zipcache.py``). pyspark's worker calls
  ``importlib.invalidate_caches()`` at the start of every task, which on
  CPython < 3.12 re-parses ``pyspark.zip``'s directory once per package
  importer: 0.1-0.26 s of CPU per task, and an ``ingest`` trigger runs
  12 Python tasks. A worker that unpickles an engine function imports
  the package and from then on re-reads an archive only when it
  changed, so this needs no conf and holds in any session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Generated classes the codegen cache keeps: a wide margin over the
# benchmark mix's 123, so a larger catalog mix still fits.
CODEGEN_CACHE_ENTRIES = 2000
# Runtime-settable defaults: ``build_spark`` passes them to its builder
# and ``configure_runtime`` sets them on a session the driver built.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # round-1 testdata stored events.ts as TIMESTAMP(NANOS), which
    # Spark's parquet reader rejects without this flag (read as long,
    # normalized in functions/time.py). Harmless for the current
    # timestamp[us] layout; kept so either layout loads.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def build_spark(
    app_name: str = "kda_flink_app_timestream_spark",
    master: str | None = None,
    **extra_conf: str,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults.

    ``extra_conf`` wins over environment-derived values, which win over
    defaults (ParameterToolUtils.java:26-32 precedence model).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # local[N] executes all N task threads inside the driver JVM, whose
    # default 1g heap OOMs well below the advertised machine size (seen
    # at the 10× sf0.1 rehearsal) — size it for the harness box, env-
    # overridable. Only effective when this call launches the JVM.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(map={**RUNTIME_CONF, **extra_conf})
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def resolve_config(
    args: list[str] | None = None,
    properties: dict[str, str] | None = None,
    defaults: dict[str, str] | None = None,
) -> dict[str, str]:
    """Layered config resolution — the ParameterToolUtils analog
    (ParameterToolUtils.java:13-35): the reference merges CLI args over
    the KDA-hosted property group "FlinkApplicationProperties" (:26-32,
    args win). Here: defaults < properties < ``--key value`` /
    ``--key=value`` CLI args, same precedence direction.
    """
    merged: dict[str, str] = dict(defaults or {})
    merged.update(properties or {})
    argv = list(args or [])
    i = 0
    while i < len(argv):
        tok = argv[i]
        if tok.startswith("--"):
            body = tok[2:]
            if "=" in body:
                k, v = body.split("=", 1)
                merged[k] = v
            elif i + 1 < len(argv) and not argv[i + 1].startswith("--"):
                merged[body] = argv[i + 1]
                i += 1
            else:
                merged[body] = "true"
        i += 1
    return merged


# --- deferred storage release ------------------------------------------
#
# Plan functions cache/persist/localCheckpoint intermediates that the
# RETURNED (lazy) DataFrame still needs — unpersisting before the caller
# collects would either recompute expensive pipelines or (for
# checkpointed frames, whose lineage is cut) fail outright. But never
# unpersisting accumulates one pinned frame per query across the
# driver's 50-query correctness sweep (VERDICT r5). Contract: a plan fn
# registers every cached frame it leaves alive via ``defer_release``;
# the catalog's ``query`` wrapper drains the pending list when the NEXT
# query is built (by which point the previous query's result has been
# consumed — the driver, bench, and tests all collect each result before
# moving on), and ``release_deferred`` lets a session end clean. So no
# plan-function cache outlives its query by more than one query build.

_PENDING_RELEASES: list = []


def defer_release(*frames) -> None:
    """Register cached/persisted/localCheckpoint-ed frames — or
    zero-arg cleanup CALLABLES (e.g. staging-dir removal) — for release
    once the current query's result has been consumed (drained at the
    next catalog-query build, or explicitly via ``release_deferred``).
    Do NOT use the frames after the drain: a checkpointed frame cannot
    be recomputed once unpersisted, and a cleaned-up staging dir cannot
    be re-read."""
    _PENDING_RELEASES.extend(frames)


def release_storage(df) -> None:
    """Free ALL executor storage a frame holds: the SQL-cache entry
    (``DataFrame.unpersist``) AND the underlying internal RDD — the
    latter is what a ``localCheckpoint`` pins, and ``unpersist()`` on
    the Dataset alone never releases it (it only uncaches the SQL
    layer; the checkpointed ``LogicalRDD`` stays in
    ``getPersistentRDDs`` forever otherwise)."""
    try:
        df.unpersist()
    except Exception:
        pass  # session stopped / already released — nothing to free
    try:
        # a localCheckpoint'd Dataset analyzes to a LogicalRDD whose
        # ``rdd`` member is the persisted RDD itself (queryExecution
        # .toRdd() would wrap it in a fresh unpersisted projection)
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # plan is not RDD-backed (normal cache) or context stopped


def release_deferred() -> None:
    """Unpersist every frame registered by ``defer_release``. Safe to
    call repeatedly; frames whose context is already stopped are
    skipped."""
    pending, _PENDING_RELEASES[:] = _PENDING_RELEASES[:], []
    for df in pending:
        if callable(df) and not hasattr(df, "unpersist"):
            try:
                df()
            except Exception:
                pass  # cleanup best-effort — same posture as unpersist
            continue
        release_storage(df)


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-built session.

    The driver harness owns the SparkSession it passes into
    ``__spark_entry__.entry/queries``; this applies ``RUNTIME_CONF``, the
    defaults that can be set post-startup (timezone is the critical one
    for oracle-identical timestamp collection).
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable under this deployment; defaults apply
    return spark
