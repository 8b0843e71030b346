"""The engine's Python worker daemon (`cs598vectordb_spark._pydaemon`):
zip-directory invalidation re-reads an archive only when it changed on
disk, and the engine's sessions run their workers under it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from cs598vectordb_spark import _pydaemon


def _write_archive(path: str, v: int) -> None:
    # built beside the target and moved over it, as archives are rebuilt
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("m.py", f"V = {v}\n")
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_archive(path, 1)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches_if_changed
    )
    monkeypatch.syspath_prepend(path)
    sys.modules.pop("m", None)
    yield path
    sys.modules.pop("m", None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _import_m():
    sys.modules.pop("m", None)
    return importlib.import_module("m")


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read(p)
    )
    assert _import_m().V == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    def reads_by(call):
        before = reads.count(archive)
        call()
        return reads.count(archive) - before

    # the first invalidation records the archive's stat; later ones on
    # the unchanged archive read nothing
    assert reads_by(importlib.invalidate_caches) == 1
    for _ in range(3):
        assert reads_by(importlib.invalidate_caches) == 0
    assert importer._files is zipimport._zip_directory_cache[archive]

    # a rebuilt archive is read again, and a fresh import sees it
    _write_archive(archive, 2)
    assert reads_by(importlib.invalidate_caches) == 1
    assert _import_m().V == 2
    assert reads_by(importlib.invalidate_caches) == 0

    # a removed archive goes through the original method: read attempt,
    # cache entry dropped, no files, and nothing left to import
    os.remove(archive)
    assert reads_by(importlib.invalidate_caches) == 1
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    wrapped = (importer._files, dict(zipimport._zip_directory_cache))
    assert reads_by(lambda: _pydaemon._read_directory_always(importer)) == 1
    assert (importer._files, dict(zipimport._zip_directory_cache)) == wrapped
    with pytest.raises(ModuleNotFoundError):
        _import_m()


def test_session_workers_run_under_the_daemon(spark):
    def worker_report(it):
        """One row from inside a Python worker: whether the daemon's wrapper
        is installed, how many zip importers the worker holds, and how many
        zip directories one more `importlib.invalidate_caches()` reads."""
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in it:
            pass
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame(
            {
                "wrapper_file": [zipimport.zipimporter.invalidate_caches.__code__.co_filename],
                "zip_importers": [
                    sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
                ],
                "reads": [len(reads)],
            }
        )

    assert spark.conf.get("spark.python.daemon.module") == "cs598vectordb_spark._pydaemon"
    (row,) = (
        spark.range(0, 1, 1, 1)
        .mapInPandas(worker_report, "wrapper_file string, zip_importers long, reads long")
        .collect()
    )
    assert os.path.basename(row.wrapper_file) == "_pydaemon.py"
    assert row.zip_importers > 0  # pyspark.zip is on the workers' path
    assert row.reads == 0
