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


# ------------------------------------------------------- warm fork server

def _probe_rows(spark, probe, schema):
    return (
        spark.range(8).repartition(4).mapInPandas(probe, schema).collect()
    )


def test_workers_fork_with_the_preload_imported_and_frozen(spark):
    """A worker finds the pandas stack and the flow-path modules already
    imported, and the daemon's heap frozen (``gc.freeze()``)."""

    def probe(batches):
        # the probe refers to no module, so unpickling it imported none
        import gc as g
        import sys as s

        want = ("pandas", "pyarrow", "xenoeye_spark.streaming.mavg_stream")
        loaded = ",".join(m for m in want if m in s.modules)
        frozen = g.get_freeze_count()
        import pandas as p

        for _ in batches:
            pass
        yield p.DataFrame({"loaded": [loaded], "frozen": [frozen]})

    rows = _probe_rows(spark, probe, "loaded string, frozen long")
    assert {r.loaded for r in rows} == {
        "pandas,pyarrow,xenoeye_spark.streaming.mavg_stream"
    }
    assert min(r.frozen for r in rows) > 0


def _stop_idle_workers(spark):
    """SIGKILL every worker the session's daemons have forked (Spark runs
    one daemon per worker environment), so the next tasks run in workers
    fresh from the fork. Spark drops a dead worker from its idle pool
    instead of reusing it."""
    import signal

    def ppid(pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                return int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            return None

    def cmdline(pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                return f.read().split(b"\0")
        except OSError:
            return []

    jvm = spark.sparkContext._gateway.proc.pid
    pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    daemons = {
        p for p in pids
        if ppid(p) == jvm and DAEMON_MODULE.encode() in cmdline(p)
    }
    assert daemons
    for p in pids:
        if ppid(p) in daemons:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _recorded(fn, log_dir):
    """``fn`` run so that the modules its task imports are written to
    ``log_dir``: the wrapper snapshots ``sys.modules`` at task start,
    before ``fn`` itself is unpickled (unpickling imports the modules
    ``fn`` refers to), and again at task end."""
    from pyspark import cloudpickle

    payload = cloudpickle.dumps(fn)

    def task(*args):
        import os as o
        import sys as s

        from pyspark import cloudpickle as cp

        before = set(s.modules)
        yield from cp.loads(payload)(*args)
        with open(o.path.join(log_dir, f"{o.getpid()}.txt"), "a") as f:
            f.write(" ".join(sorted(set(s.modules) - before)) + "\n")

    return task


def test_flow_path_tasks_import_nothing_after_fork(
    spark, tmp_path, monkeypatch
):
    """One decode batch and one mavg batch, each task in a fresh worker,
    import no module: the daemon preloaded all they use."""
    from pyspark.sql import functions as F

    from test_sources import build_v5, build_v9
    from test_streaming import BASE, _run_stream_over_dirs, _write_batches
    from xenoeye_spark.sources.netflow import decode_packets_df
    from xenoeye_spark.streaming import mavg_stream

    log = tmp_path / "imports"
    log.mkdir()

    class Packets:
        # what decode_packets_df calls on its input
        def __init__(self, df):
            self.df = df

        def mapInArrow(self, fn, schema):
            return self.df.mapInArrow(_recorded(fn, str(log)), schema)

    real_fn = mavg_stream.make_mavg_bucket_fn
    monkeypatch.setattr(
        mavg_stream, "make_mavg_bucket_fn",
        lambda *a, **kw: _recorded(real_fn(*a, **kw), str(log)),
    )

    tpl = [(8, 4), (12, 4), (1, 4), (2, 4), (4, 1)]
    packets = spark.createDataFrame(
        [
            (build_v5([dict(src=1, dst=2, pkts=2, octets=200, sport=1000,
                            dport=80, proto=6)]), 1, 1.7e9),
            (build_v9(tpl, [(3, 4, 300, 3, 17)]), 2, 1.7e9),
        ],
        "data binary, dev_ip long, recv_ts double",
    ).withColumn("recv_ts", F.col("recv_ts").cast("timestamp"))
    dirs = _write_batches(
        spark, str(tmp_path / "src"),
        [[("k1", float(BASE + i), 100.0) for i in range(10)]],
    )

    _stop_idle_workers(spark)
    assert decode_packets_df(Packets(packets)).count() == 2

    def build(stream, ckpt, out):
        alerts = mavg_stream.mavg_alert_stream(
            stream, ["k"], "v", window_sec=30, threshold=0.0,
            back2norm_sec=5, silent_watch=False,
        )
        return (
            alerts.writeStream.foreachBatch(
                lambda df, _: out.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )

    _stop_idle_workers(spark)
    assert _run_stream_over_dirs(spark, dirs, build, [])

    tasks = [
        line.rstrip("\n")
        for p in log.iterdir() for line in p.read_text().splitlines(True)
    ]
    assert len(tasks) >= 2  # at least one decode and one mavg task
    assert set(tasks) == {""}, tasks


def test_main_skips_a_module_that_fails_to_import(monkeypatch, capsys):
    import gc

    from pyspark import daemon

    calls = []
    monkeypatch.setattr(
        pyworker, "PRELOAD", pyworker.PRELOAD + ("xe_no_such_module",)
    )
    monkeypatch.setattr(daemon, "manager", lambda: calls.append("manager"))
    monkeypatch.setattr(gc, "freeze", lambda: calls.append("freeze"))
    try:
        pyworker.main()
    finally:
        pyworker.uninstall()
    assert calls == ["freeze", "manager"]
    err = capsys.readouterr().err.splitlines()
    assert [ln for ln in err if "xe_no_such_module" in ln] == [
        f"{DAEMON_MODULE}: not preloaded: xe_no_such_module: "
        "ModuleNotFoundError(\"No module named 'xe_no_such_module'\")"
    ]


def test_daemon_forks_with_no_thread_but_jemallocs(spark):
    """The daemon's threads, read by a worker: the main thread and, where
    pyarrow allocates with jemalloc, its background thread. OpenBLAS
    starts none with OPENBLAS_NUM_THREADS=1."""

    def probe(batches):
        import os as o

        import pandas as p
        import pyarrow as pa

        task = f"/proc/{o.getppid()}/task"
        names = []
        for t in o.listdir(task):
            with open(f"{task}/{t}/comm") as f:
                names.append(f.read().strip())
        for _ in batches:
            pass
        yield p.DataFrame({
            "names": [",".join(sorted(names))],
            "pool": [pa.default_memory_pool().backend_name],
        })

    rows = _probe_rows(spark, probe, "names string, pool string")
    for r in rows:
        names = r.names.split(",")
        assert [n for n in names if n.startswith("python")] == ["python"]
        others = [n for n in names if not n.startswith("python")]
        assert others == (
            ["jemalloc_bg_thd"] if r.pool == "jemalloc" else []
        ), r.names
