"""Spark Python-worker daemon that keeps zipimport's directory cache.

Spark's Python workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, and pyspark's worker calls
``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py:setup_spark_files``). On CPython 3.10 and
3.11, ``zipimporter.invalidate_caches`` re-reads the archive's whole
directory on every call, once per zipimporter (CPython gh-103200; 3.12
reads lazily). A warm worker holds 16-18 zipimporters over pyspark.zip's
1328 entries, so each Python task paid ~0.2-0.3 s of CPU before any user
code ran.

``install()`` replaces that method with one that re-reads an archive
only when its ``(mtime_ns, size, inode)`` changed since the last read
and otherwise keeps the cached directory. Archives rewritten on disk,
and zips added later through ``addPyFile``, are still re-read, so what
imports is unchanged.

Run as a module this is the Python daemon ``get_spark`` configures
(``spark.python.daemon.module``): it installs the fix, imports the
modules in ``PRELOAD``, reads each archive the daemon has imported from
once, freezes its heap (``gc.freeze()``), then runs pyspark's own
``daemon.manager()``. Every worker the daemon forks starts with the fix,
the recorded signatures and the preloaded modules, so an unchanged
archive is never re-read per task and a new worker imports nothing the
flow path needs. The imported modules' pages are shared copy-on-write
with the workers, and the ``gc.collect()`` pyspark runs after each task
of a reused worker skips the frozen objects (~73k of them; ~23 ms per
call when they are not frozen, measured on a 4-vCPU host).

At fork time the daemon's only thread besides the main one is pyarrow's
``jemalloc_bg_thd``, which jemalloc's own atfork handlers make safe to
fork. numpy's OpenBLAS starts no threads as long as
``OPENBLAS_NUM_THREADS=1`` (``get_spark`` sets it).
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

DAEMON_MODULE = "xenoeye_spark.pyworker"

# imported by the daemon before it forks: the pandas / Arrow stack every
# pandas-UDF worker loads (pyarrow's pandas shim imports
# ``pandas_compat`` and ``vendored.version`` at its first conversion,
# ``GroupState.update`` imports ``pyspark.testing.utils``), then the
# library modules whose functions run inside workers on the flow path
# (decode, mavg; ``config`` pulls in ``dsl`` and ``operators``). A new
# worker otherwise spends ~0.46 CPU-s importing them.
PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",
    "pyarrow.vendored.version",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    "pyspark.sql.pandas.utils",
    "pyspark.testing.utils",
    "xenoeye_spark.config",
    "xenoeye_spark.config.limits",
    "xenoeye_spark.sources.netflow",
    "xenoeye_spark.sources.sflow",
    "xenoeye_spark.streaming.mavg_stream",
)

_ORIGINAL = zipimport.zipimporter.invalidate_caches
# archive path -> (mtime_ns, size, inode) when its directory was last read
_SIGNATURES: dict[str, tuple[int, int, int]] = {}


def needed() -> bool:
    """True on the interpreters whose zipimporter re-reads eagerly."""
    return (
        sys.implementation.name == "cpython"
        and (3, 10) <= sys.version_info[:2] <= (3, 11)
    )


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    archive = self.archive
    # stat BEFORE reading: a rewrite during the read leaves the old
    # signature recorded, so the next call reads again
    sig = _signature(archive)
    if sig is not None and _SIGNATURES.get(archive) == sig:
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None:
            # the shared entry: another importer of this archive may
            # have re-read it since this one last looked
            self._files = files
            return
    _ORIGINAL(self)
    if sig is not None and archive in zipimport._zip_directory_cache:
        _SIGNATURES[archive] = sig
    else:
        _SIGNATURES.pop(archive, None)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; returns whether it did
    (only where ``needed()``)."""
    if not needed():
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


def uninstall() -> None:
    """Restore the stdlib method and forget the recorded signatures."""
    zipimport.zipimporter.invalidate_caches = _ORIGINAL
    _SIGNATURES.clear()


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def use_daemon(builder):
    """Set this module as ``spark.python.daemon.module`` on a
    SparkSession builder and return it. Like any static conf it counts
    only for the builder that launches the JVM. The package root goes
    on ``PYTHONPATH`` so local-mode workers, which inherit the driver's
    environment, import the daemon whatever the working directory;
    cluster executors need the package installed or shipped with the
    job."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    return builder.config("spark.python.daemon.module", DAEMON_MODULE)


def preload() -> None:
    """Import ``PRELOAD``. A module that fails to import is skipped with
    one line on stderr (the daemon's stdout carries its port to the
    JVM); the worker that needs it imports it itself, or fails there."""
    for name in PRELOAD:
        try:
            importlib.import_module(name)
        except Exception as e:
            print(f"{DAEMON_MODULE}: not preloaded: {name}: {e!r}",
                  file=sys.stderr, flush=True)


def main() -> None:
    install()
    # pyspark.daemon reads the worker module from sys.argv at import
    from pyspark import daemon

    preload()
    # one read per archive here, before any fork, instead of one per
    # zipimporter on every task of every worker
    importlib.invalidate_caches()
    # last, so everything above is shared with the workers and never
    # walked by their collections
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    # run under the importable name so ``xenoeye_spark.pyworker`` in a
    # worker is the module whose method is installed, not a second copy
    from xenoeye_spark.pyworker import main as _main

    _main()
