"""Zip-archive cache invalidation paid once per archive change instead
of once per task, installed in every process that imports the package.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py``, after it puts the task's
``addPyFile`` includes on ``sys.path``). On CPython < 3.12,
``zipimporter.invalidate_caches`` re-parses the archive's whole central
directory, eagerly, once per importer — and every package imported
from ``pyspark.zip`` has its own importer on that archive. The 1,328
entry ``pyspark.zip`` is thus parsed about 16 times per task, 0.1-0.26 s
of CPU, which is more than a streaming trigger's own Python work.
CPython 3.12 made the invalidation lazy (gh-103200), so the patch below
is gated to older interpreters.

``install`` makes a zip importer re-read its archive only when the
archive's ``(st_mtime_ns, st_size)`` differs from what it was when this
process last read it; otherwise the importer points at the directory
already in ``zipimport._zip_directory_cache``. Everything else about the
call stays: pyspark still invalidates on every task, directory
(``FileFinder``) caches are still dropped, a rewritten zip is re-read,
and new ``addPyFile`` archives get importers as before.

The package's ``__init__`` calls ``install``, so it holds in any
session, however it was built. A Python worker imports the package
when it unpickles an engine function, which pickles by reference as
long as it is defined at module level. Each new worker's first task
still pays the re-parse, since pyspark invalidates before it reads the
task's function. Its second task reads each archive once more, since
importers made before ``install`` carry no stamp; later tasks of that
reused worker read none.
"""

from __future__ import annotations

import os
import sys
import zipimport

# Process-wide by nature: the importers and ``_zip_directory_cache`` it
# guards are themselves process-wide. archive path -> (st_mtime_ns,
# st_size) stamped just before this process last read its directory.
_read_stamps: dict[str, tuple[int, int]] = {}

_original_invalidate = zipimport.zipimporter.invalidate_caches
_original_read_directory = zipimport._read_directory


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    """``zipimport._read_directory`` that records the archive's stamp
    taken before the read, so a change during the read still differs
    from the stamp on the next check."""
    stamp = _stamp(archive)
    files = _original_read_directory(archive)
    if stamp is not None:
        _read_stamps[archive] = stamp
    return files


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive is unchanged since this process last read it."""
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is not None and stamp is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _original_invalidate(self)


def install() -> None:
    """Patch this process's zip importers (no-op on CPython >= 3.12)."""
    if sys.version_info < (3, 12):
        zipimport._read_directory = _read_directory
        zipimport.zipimporter.invalidate_caches = _invalidate_caches

