"""The Python-worker daemon module and its zipimport cache fix.

Unit tests build a zip in ``tmp_path`` and count directory reads by
wrapping ``zipimport._read_directory``; the Spark tests check that the
session's workers really fork from the daemon module with the fix on.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from xenoeye_spark import pyworker
from xenoeye_spark.pyworker import DAEMON_MODULE

eager_only = pytest.mark.skipif(
    not pyworker.needed(),
    reason="this interpreter's zipimporter reads its directory lazily",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"xe_zpkg/__init__.py": "", "xe_zpkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.split(".")[0] == "xe_zpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(archive, monkeypatch):
    """Directory reads of ``archive``, in call order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def patched():
    assert pyworker.install()
    try:
        yield
    finally:
        pyworker.uninstall()
    assert not pyworker.installed()
    assert zipimport.zipimporter.invalidate_caches is pyworker._ORIGINAL
    assert pyworker._SIGNATURES == {}


def _importers(archive):
    return [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


@eager_only
def test_stdlib_rereads_once_per_importer_per_call(archive, reads):
    assert importlib.import_module("xe_zpkg.a").X == 1
    n = len(_importers(archive))
    assert n >= 2  # the archive root and the package directory
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 5 * n


@eager_only
def test_unchanged_zip_is_read_at_most_once(archive, reads, patched):
    assert importlib.import_module("xe_zpkg.a").X == 1
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) <= 1
    # with the signature recorded, a call (one per Python task in a
    # worker) reads nothing
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("xe_zpkg.a").X == 1


@eager_only
def test_rewritten_zip_is_reread(archive, reads, patched):
    assert importlib.import_module("xe_zpkg.a").X == 1
    importlib.invalidate_caches()
    _write_zip(archive, {
        "xe_zpkg/__init__.py": "", "xe_zpkg/a.py": "X = 1\n",
        "xe_zpkg/b.py": "Y = 2\n",
    })
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("xe_zpkg.b").Y == 2
    # every importer of the archive sees the new directory
    assert all("xe_zpkg/b.py" in f._files for f in _importers(archive))


@eager_only
def test_removed_zip_empties_the_directory(archive, reads, patched):
    importlib.import_module("xe_zpkg.a")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in pyworker._SIGNATURES
    assert all(f._files == {} for f in _importers(archive))


def test_install_is_a_noop_where_not_needed(monkeypatch):
    monkeypatch.setattr(pyworker, "needed", lambda: False)
    assert pyworker.install() is False
    assert not pyworker.installed()


def test_get_spark_sets_the_daemon_module(monkeypatch):
    from xenoeye_spark import session

    confs: dict[str, str] = {}

    class Builder:
        def master(self, _):
            return self

        def appName(self, _):
            return self

        def config(self, key, value):
            confs[key] = value
            return self

        def getOrCreate(self):
            return confs

    class FakeSession:
        builder = Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    for var in ("PYTHONPATH", "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS"):
        monkeypatch.setenv(var, "1")
    session.get_spark()
    assert confs["spark.python.daemon.module"] == DAEMON_MODULE


def test_workers_fork_from_the_pyworker_daemon(spark):
    import pandas as pd

    def probe(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        from xenoeye_spark import pyworker as pw

        real = zi._read_directory
        seen = []

        def counting(path):
            seen.append(path)
            return real(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()  # what pyspark does before each task
        finally:
            zi._read_directory = real
        spec = getattr(s.modules["__main__"], "__spec__", None)
        for _ in batches:
            pass
        yield pd.DataFrame({
            "daemon": [spec.name if spec else ""],
            "installed": [pw.installed()],
            "reads": [len(seen)],
        })

    rows = (
        spark.range(8).repartition(4)
        .mapInPandas(probe, "daemon string, installed boolean, reads long")
        .collect()
    )
    assert {r.daemon for r in rows} == {DAEMON_MODULE}
    assert {r.installed for r in rows} == {pyworker.needed()}
    # an unchanged pyspark.zip is never re-read per task
    assert {r.reads for r in rows} == {0}
