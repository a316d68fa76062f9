"""What reaches a session the engine did not build: the zip-cache patch
(``zipcache.py``) that the package installs when it is imported, so zip
importers re-read an archive's directory only when the archive changed,
and the ``RUNTIME_CONF`` table that ``configure_runtime`` applies."""

from __future__ import annotations

import ast
import contextlib
import importlib
import os
import subprocess
import sys
import time
import zipfile
import zipimport
from pathlib import Path
from unittest import mock

from pyspark import cloudpickle

from kda_flink_app_timestream_spark import zipcache
from kda_flink_app_timestream_spark.session import RUNTIME_CONF, configure_runtime
from kda_flink_app_timestream_spark.streaming.source import _gunzip_udf

ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path: str, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in members.items():
            zf.writestr(name, source)


def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipcache_probe_a.py": "VALUE = 'a'\n"})
    with contextlib.ExitStack() as stack:
        # importing the package already installed the patch, and install()
        # below re-applies it so the test does not lean on that import;
        # patching each attribute with its own value restores it on exit,
        # which undoes the wraps= spy set further down
        stack.enter_context(
            mock.patch.object(zipimport, "_read_directory", zipimport._read_directory)
        )
        stack.enter_context(
            mock.patch.object(
                zipimport.zipimporter,
                "invalidate_caches",
                zipimport.zipimporter.invalidate_caches,
            )
        )
        stack.enter_context(mock.patch.object(sys, "path", [archive, *sys.path]))

        @stack.callback
        def _forget_archive():
            for name in ("zipcache_probe_a", "zipcache_probe_b"):
                sys.modules.pop(name, None)
            sys.path_importer_cache.pop(archive, None)
            zipimport._zip_directory_cache.pop(archive, None)
            zipcache._read_stamps.pop(archive, None)

        zipcache.install()
        assert importlib.import_module("zipcache_probe_a").VALUE == "a"

        reads = stack.enter_context(
            mock.patch.object(
                zipimport, "_read_directory", wraps=zipimport._read_directory
            )
        )

        def archive_reads() -> int:
            return sum(1 for c in reads.call_args_list if c.args[0] == archive)

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive_reads() == 0

        _write_zip(
            archive,
            {"zipcache_probe_a.py": "VALUE = 'a'\n", "zipcache_probe_b.py": "VALUE = 'b'\n"},
        )
        importlib.invalidate_caches()
        assert importlib.import_module("zipcache_probe_b").VALUE == "b"
        assert archive_reads() == 1


def _invalidate_cost(_) -> tuple[int, float, str]:
    """Task body: the CPU of one ``importlib.invalidate_caches()``, the
    call pyspark's worker makes per task, and the zip importer method's
    module. Pickled by reference: the worker imports this module, and
    with it the package, to run it."""
    start = time.process_time()
    importlib.invalidate_caches()
    cpu_s = time.process_time() - start
    return os.getpid(), cpu_s, zipimport.zipimporter.invalidate_caches.__module__


_PLAIN_SESSION_JOBS = """
from pyspark.sql import SparkSession
from tests.test_zipcache import _invalidate_cost
spark = SparkSession.builder.master("local[1]").getOrCreate()
for _ in range(3):
    print(spark.sparkContext.parallelize([0], 1).map(_invalidate_cost).collect())
spark.stop()
"""


def _python(code: str, *args: str) -> str:
    """stdout of ``code`` run by a fresh interpreter in the repo root."""
    out = subprocess.run(
        [sys.executable, "-c", code, *args], cwd=ROOT, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_plain_session_reused_worker_skips_zip_reparse():
    """On a session not built by ``build_spark``, a worker that has run
    an engine function re-reads no zip in its later tasks."""
    out = _python(_PLAIN_SESSION_JOBS)
    tasks = [ast.literal_eval(line)[0] for line in out.splitlines()]
    assert len(tasks) == 3 and len({pid for pid, *_ in tasks}) == 1, tasks  # reused
    assert all(cpu_s < 1e-3 for _, cpu_s, _ in tasks[1:]), tasks
    if sys.version_info < (3, 12):  # later CPythons need no patch
        assert {module for *_, module in tasks} == {zipcache.__name__}, tasks


def test_gunzip_udf_unpickles_by_importing_the_package():
    """The decode UDF ships by reference, so a worker that runs only
    decode tasks still imports the package and installs the patch."""
    unpickle = "import pickle, sys; pickle.loads(bytes.fromhex(sys.argv[1])); print(*sys.modules)"
    loaded = _python(unpickle, cloudpickle.dumps(_gunzip_udf().func).hex())
    assert "kda_flink_app_timestream_spark" in loaded.split()


def test_configure_runtime_restores_runtime_conf(spark):
    assert {k: spark.conf.get(k) for k in RUNTIME_CONF} == RUNTIME_CONF
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        configure_runtime(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
