"""Python-worker fixed cost: skip re-reading unchanged zip archives.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``). Up to CPython 3.11, that
makes every ``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read
its archive's whole central directory eagerly: one importer per package
directory of ``pyspark.zip``, each reading all 1,328 entries, plus py4j's
zip and the engine zip that ``session.ship_package`` ships. In a reused worker that is
16-17 importers and 0.13-0.25 CPU-s per task on a 4-vCPU host, paid even by
a task whose UDF runs for a millisecond. CPython 3.12 made the re-read lazy
upstream.

``install()`` (called from the package ``__init__``, so every worker that
unpickles an engine function runs it) wraps ``zipimporter.invalidate_caches``
on CPython < 3.12: an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken just before
its last read. An archive rewritten in place or swapped in with
``os.replace`` (as ``ship_package`` writes its zip) changes the stamp and is
re-read. Importers of one archive share a read: the stamp is tied to the
exact directory object the read stored in ``zipimport``'s own cache, so an
importer whose stamp matches adopts that object instead of re-reading.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install", "installed"]

# archive path -> (stamp before the read, directory dict that read stored in
# zipimport._zip_directory_cache). Process-wide, like the cache it mirrors.
_read_stamps: dict[str, tuple[tuple[int, int, int], dict]] = {}
_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:  # gone: let the stdlib path drop it from the cache
        _read_stamps.pop(archive, None)
        _stdlib_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    seen = _read_stamps.get(archive)
    if (
        seen is not None
        and seen[0] == stamp
        and zipimport._zip_directory_cache.get(archive) is seen[1]
    ):
        self._files = seen[1]
        return
    _stdlib_invalidate(self)
    files = zipimport._zip_directory_cache.get(archive)
    if files is None:
        _read_stamps.pop(archive, None)
    else:
        _read_stamps[archive] = (stamp, files)


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` on CPython < 3.12; idempotent.
    Returns whether the wrapper is in place."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches
