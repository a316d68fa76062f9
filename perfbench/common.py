"""Process shape, scratch space and result helpers shared by the
workloads."""

from __future__ import annotations

import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# Spark process shape, pinned so every run (and both sides of a
# comparison) uses the same one whatever the host advertises.
SPARK_SHAPE = {
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_GRAFT_DRIVER_MEM": "2g",
    "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
}


def pin_environment(run_dir: str) -> dict[str, str]:
    """Pin the Spark shape and keep every scratch file inside the
    checkout. Must run before pyspark or tempfile is first used."""
    os.makedirs(SPARK_SHAPE["SPARK_LOCAL_DIRS"], exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(SPARK_SHAPE)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # workers and the streaming source runner import the program and
    # the benchmark's own callables from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", "python3")
    return dict(SPARK_SHAPE)


def build_session(run_dir: str):
    """The program's own session factory under the pinned shape."""
    from kda_flink_app_timestream_spark.session import build_spark

    tmp = os.environ["TMPDIR"]
    return build_spark(
        app_name="perfbench",
        **{
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # no hsperfdata files outside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "ckpt"),
        },
    )


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=1000, method="inclusive")
    return cuts[min(max(int(round(q * 1000)) - 1, 0), len(cuts) - 1)]


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
