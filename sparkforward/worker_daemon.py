"""Python-worker daemon of engine sessions: pyspark's daemon behind a guard
that stops workers re-reading unchanged zip archives on every task.

``pyspark.worker`` calls ``importlib.invalidate_caches()`` once per task.
Before CPython 3.13 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central directory:
one importer per package directory imported from ``pyspark.zip`` plus the
spark-core jar's, 130-250 ms per task on a 4-core host, more than a small
stage's own work. The guard re-reads an archive only when its
``(st_mtime_ns, st_size)`` stamp differs from the one this importer saw at
its last read, so a rewritten archive is still picked up. CPython 3.13 made
the re-read lazy; there the daemon only hands over.

:func:`sparkforward.session.get_spark` starts Python workers through this
module (``spark.python.daemon.module``)::

    python -m sparkforward.worker_daemon
"""

from __future__ import annotations

import os
import sys
import zipimport

_UNSTAMPED = object()
_read_archive = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guarded_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken before the read: an archive rewritten during the
    read leaves an older stamp behind, so the next call reads it again."""
    stamp = _stamp(self.archive)
    if getattr(self, "_sfwd_stamp", _UNSTAMPED) != stamp:
        _read_archive(self)
        self._sfwd_stamp = stamp


def install() -> bool:
    """Put the guard on ``zipimport.zipimporter``; False where the
    interpreter's own ``invalidate_caches`` is already lazy."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    return True


def main() -> None:
    import importlib

    from pyspark.daemon import manager

    if install():
        # stamp the daemon's importers once; forked workers inherit them
        importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    # run the module's own (importable) copy, so workers find the guard
    # under its name in sys.modules
    from sparkforward.worker_daemon import main as _main

    _main()
