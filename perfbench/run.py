"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,batch_mix} \
        --seed N --seconds S --trace {0,1}

Builds nothing: the program is pure Python on the installed pyspark.
Prints a detail JSON line, then as the last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
Exits non-zero if the program is missing or any output is wrong.
Scratch files go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("ingest", "batch_mix")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import kda_flink_app_timestream_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: program package not found: {ex}", file=sys.stderr)
        return 2

    from perfbench import common, layers

    run_dir = os.path.join(common.WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    shape = common.pin_environment(run_dir)
    trace = bool(args.trace)

    def session():
        return common.build_session(run_dir)

    if args.workload == "batch_mix":
        from perfbench.batch import run_batch_mix as runner
    else:
        from perfbench.streaming import run_ingest as runner
    try:
        out = runner(session, args.seed, args.seconds, run_dir, trace, T_START)
    finally:
        t_stop = time.time()
        _stop_spark()
    stop_s = time.time() - t_stop

    results = os.path.join(common.WORK, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if trace:
        metrics = layers.per_layer(out)
        out["tracer"].dump(os.path.join(results, f"{name}-spans.jsonl"))
    else:
        metrics = out["e2e"]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_shape": shape,
        **out["detail"],
        "run_s": time.time() - T_START,
        "stop_s": stop_s,
    }
    with open(os.path.join(results, f"{name}.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    correct = out["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _stop_spark() -> None:
    """Stop the session, then the JVM and every process under it, and
    wait until they have all exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.sut import ProcessTree

    gateway = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    left = set(ProcessTree().snapshot()) - {os.getpid()}
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while left and time.time() < deadline:
        left = {pid for pid in left if _alive(pid)}
        time.sleep(0.05)
    for pid in left:
        print(f"perfbench: killing leftover process {pid}", file=sys.stderr)
        os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


if __name__ == "__main__":
    sys.exit(main())
