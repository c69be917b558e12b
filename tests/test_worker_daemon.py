"""The engine's Python worker daemon: zipimport invalidation only on change.

`worker_daemon.install()` makes `zipimporter.invalidate_caches` re-read
an archive only when its (mtime_ns, size) stamp changed.  The unit test
pins both halves of that contract without Spark; the Spark test checks
that the session's workers run the patched method and still see a zip
added with `addPyFile` after they are warm.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from crypto_crawler_rs_spark import worker_daemon

PATCHED = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.mark.skipif(not PATCHED, reason="CPython 3.13+ invalidates zip caches lazily")
def test_invalidate_rereads_only_changed_archive(tmp_path, monkeypatch):
    for name in ("__init__", "invalidate_caches"):
        # restored at teardown
        monkeypatch.setattr(zipimport.zipimporter, name, getattr(zipimport.zipimporter, name))
    worker_daemon.install()

    archive = str(tmp_path / "wd_probe.zip")
    _write_zip(archive, {"wd_probe_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("wd_probe_a", "wd_probe_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("wd_probe_a").A == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)

    # unchanged archive: a stat, no re-read of the central directory
    importlib.invalidate_caches()
    assert archive not in reads

    # same path, new content and size: the next invalidation re-reads it
    _write_zip(archive, {"wd_probe_a": "A = 1\n", "wd_probe_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("wd_probe_b").B == 2


def test_workers_run_patched_invalidation_and_see_late_pyfile(spark, tmp_path):
    def probe(it):
        import zipimport

        import pandas as pd

        for _ in it:
            pass
        yield pd.DataFrame({"f": [zipimport.zipimporter.invalidate_caches.__code__.co_filename]})

    warm = spark.range(0, 8, numPartitions=4).mapInPandas(probe, "f string").collect()
    if PATCHED:
        want = os.path.join("crypto_crawler_rs_spark", "worker_daemon.py")
        assert len(warm) == 4 and all(r.f.endswith(want) for r in warm), warm

    # added after the workers are warm: the next task must import it
    late = str(tmp_path / "wd_late.zip")
    _write_zip(late, {"wd_late_mod": "VALUE = 'late'\n"})
    spark.sparkContext.addPyFile(late)

    def use_late(it):
        import pandas as pd

        import wd_late_mod

        for _ in it:
            pass
        yield pd.DataFrame({"v": [wd_late_mod.VALUE]})

    got = spark.range(0, 8, numPartitions=4).mapInPandas(use_late, "v string").collect()
    assert [r.v for r in got] == ["late"] * 4
