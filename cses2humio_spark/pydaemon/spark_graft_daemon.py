"""Python worker daemon for ``session.get_spark`` sessions.

Runs ``pyspark.daemon`` unchanged, with one difference: a zip archive on
the worker path has its directory re-read only when the archive changed
on disk.

Before every task, ``pyspark.worker.main`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 each cached
``zipimport.zipimporter`` then re-reads its archive's whole central
directory. ``pyspark.zip`` and the py4j zip have ~16 importers between
them (one per package directory imported), so a reused worker spends ~0.28 s of CPU per
task re-reading an archive that has not changed. Here the shared
directory cache remembers the ``(st_mtime_ns, st_size)`` of each archive
when it was read; an importer re-reads only when the archive's stamp
differs, and the first importer to re-read a changed archive refreshes
the cache for the others. A deleted archive still drops its cache entry
as before. The archives the daemon itself has read are stamped before it
forks, so a fresh worker skips the re-read too.

Started as ``python -m spark_graft_daemon <worker module>``:
``pyspark.daemon`` picks the worker module from ``sys.argv[1]`` when it is
imported, so the worker the JVM asks for still runs. This file imports
only the standard library and pyspark and lives alone in its directory:
that directory is what goes on the worker path, so workers still cannot
import the engine package.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> (st_mtime_ns, st_size) when its cached directory was read
_read_stamps = {}


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_stamps.get(self.archive) == stamp:
        # another importer of this archive may have done the re-read
        self._files = cached
        return
    # stat before the read: a change racing the read leaves an older
    # stamp, so the next call re-reads again
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp


def stamp_importers(importers):
    """Mark the cached directories of already-read importers as current."""
    for imp in importers:
        if isinstance(imp, zipimport.zipimporter):
            stamp = _stamp(imp.archive)
            if stamp is not None and imp.archive in zipimport._zip_directory_cache:
                _read_stamps[imp.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    stamp_importers(list(sys.path_importer_cache.values()))
    manager()
