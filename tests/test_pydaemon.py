"""The engine's Python worker daemon (``pydaemon.py``): zip importers
re-read an archive's directory only when the archive changed, and every
task of a ``build_spark`` session runs in a worker forked from it."""

from __future__ import annotations

import contextlib
import importlib
import os
import sys
import zipfile
import zipimport
from unittest import mock

from kda_flink_app_timestream_spark import pydaemon
from kda_flink_app_timestream_spark.session import PYTHON_DAEMON_MODULE


def _write_zip(path: str, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in members.items():
            zf.writestr(name, source)


def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pydaemon_probe_a.py": "VALUE = 'a'\n"})
    with contextlib.ExitStack() as stack:
        # patching each attribute with its own value restores it on exit,
        # so install() does not outlive the test
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
            for name in ("pydaemon_probe_a", "pydaemon_probe_b"):
                sys.modules.pop(name, None)
            sys.path_importer_cache.pop(archive, None)
            zipimport._zip_directory_cache.pop(archive, None)
            pydaemon._read_stamps.pop(archive, None)

        pydaemon.install()
        assert importlib.import_module("pydaemon_probe_a").VALUE == "a"

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
            {"pydaemon_probe_a.py": "VALUE = 'a'\n", "pydaemon_probe_b.py": "VALUE = 'b'\n"},
        )
        importlib.invalidate_caches()
        assert importlib.import_module("pydaemon_probe_b").VALUE == "b"
        assert archive_reads() == 1


def test_build_spark_tasks_run_under_engine_daemon(spark):
    def probe(_):
        import os
        import zipimport

        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = [arg.decode() for arg in f.read().split(b"\0")]
        method = zipimport.zipimporter.invalidate_caches
        yield parent, method.__qualname__, method.__code__.co_filename

    [(parent, qualname, filename)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert PYTHON_DAEMON_MODULE in parent, parent
    if sys.version_info < (3, 12):  # later CPythons need no patch
        assert qualname == "_invalidate_caches"
        assert os.path.samefile(filename, pydaemon.__file__)
