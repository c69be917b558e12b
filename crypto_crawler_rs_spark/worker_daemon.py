"""Python worker daemon for the engine's local sessions.

Spark starts one daemon per executor (``python -m`` the module named by
``spark.python.daemon.module``) and forks every Python worker from it.
Before each task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that files added with
``addPyFile`` since the last task become importable.  Up to CPython
3.12 that call makes every ``zipimport.zipimporter`` re-read the whole
central directory of its archive.  A worker holds about sixteen of
them: twelve over ``pyspark.zip`` (1,328 entries), two over the
spark-core jar (5,359 entries) and two over py4j.  On a 4-core VM that
is 0.14-0.16 s of CPU per task before any user code runs, against a
1-2 ms no-op ``mapInPandas`` body.

CPython 3.13 made the invalidation lazy.  This module gives older
interpreters the same effect: it re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since the directory was read, and
then runs ``pyspark.daemon`` unchanged.  Every forked worker inherits
the patch.  On 3.13+ it only runs ``pyspark.daemon``.

Run it with ``--conf
spark.python.daemon.module=crypto_crawler_rs_spark.worker_daemon``.
This package must be importable by the executors' Python when the
daemon starts; ``session.get_spark`` selects the module for local
masters, where it puts the package on the workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipimport

# archive path -> (directory dict, archive stamp taken before that
# directory was read).  Process-global like zipimport's own
# ``_zip_directory_cache``, whose entries it describes.
_read: dict[str, tuple[dict, tuple[int, int] | None]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its stamp changed since the last read of that archive."""
    cls = zipimport.zipimporter
    init, invalidate = cls.__init__, cls.invalidate_caches

    def __init__(self, path):
        init(self, path)
        if _read.get(self.archive, (None,))[0] is not self._files:
            _read[self.archive] = (self._files, _stamp(self.archive))

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files, seen = _read.get(self.archive, (None, None))
        if stamp is None or stamp != seen:
            invalidate(self)
            files = self._files
            _read[self.archive] = (files, stamp)
        # importers of one archive share its newest directory, so a
        # change costs one re-read, not one per importer
        self._files = files

    # directories read before the patch, e.g. for the top-level
    # sys.path entries this module was imported through
    for archive, files in zipimport._zip_directory_cache.items():
        _read[archive] = (files, _stamp(archive))
    cls.__init__ = __init__
    cls.invalidate_caches = invalidate_caches


def main() -> None:
    if sys.version_info < (3, 13):
        install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
