"""pyspark's worker daemon, with zip archives re-read only when they change.

``session.get_spark`` runs this module as ``spark.python.daemon.module``
for ``local*`` masters on CPython < 3.12 and puts this directory on
the workers' ``PYTHONPATH`` (see "Python worker daemon" in
``session.py``). Spark starts it as ``python -m spark_graft_daemon
<worker module>``; it calls :func:`install` and then runs
``pyspark.daemon.manager()``, so every worker the daemon forks inherits
the patch.

Why: each Python task calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``). Before CPython 3.12
that makes every cached ``zipimporter`` re-read its archive's central
directory, and a worker holds one importer per package directory it
imported from ``pyspark.zip``: 16 full reads of the 1,328-entry
archive per task. CPython 3.12 (gh-103200) defers the re-read to the
next lookup. Here an importer re-reads only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the one it had when
this process last read it, and otherwise keeps sharing the entry in
``zipimport._zip_directory_cache``. A rewritten archive is re-read, so
a module added to it imports after ``importlib.invalidate_caches()``,
as before.

This directory is on every worker's ``sys.path``, so it holds this
module alone: nothing else, and in particular not the package, may
become importable on executors through it.
"""

from __future__ import annotations

import os
import sys
import zipimport

def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its stamp changed. Archives already read when this is called
    are stamped now. Idempotent; a no-op on CPython >= 3.12."""
    if sys.version_info >= (3, 12):
        return
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_graft_original", None) is not None:
        return
    reread = cls.invalidate_caches
    cache = zipimport._zip_directory_cache
    # archive path -> its stamp when this process last read it
    stamps = {a: st for a in list(cache) if (st := _stamp(a)) is not None}

    def invalidate_caches(self):
        archive = self.archive
        stamp = _stamp(archive)
        files = cache.get(archive)
        if stamp is not None and files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        # stamped before the read: a rewrite during it is seen next time
        reread(self)
        if stamp is not None and archive in cache:
            stamps[archive] = stamp
        else:
            stamps.pop(archive, None)

    invalidate_caches._graft_original = reread
    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
