"""Process-tree accounting from /proc (psutil is not available).

The program under test is this Python process, the JVM it launches and
the Python workers that JVM forks, so every figure here walks the whole
descendant tree of the benchmark process.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int | None = None) -> list[tuple[int, bool]]:
    """(pid, runs under the JVM) for the root and all its descendants."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [(root, False)]
    while todo:
        p, under_jvm = todo.pop()
        out.append((p, under_jvm))
        if not under_jvm:
            try:
                under_jvm = _stat(p)[0] == "java"
            except OSError:
                pass
        todo.extend((k, under_jvm) for k in kids.get(p, []))
    return out


def _stat(pid: int):
    """(comm, own CPU seconds, start time in ticks, RSS bytes)."""
    with open(f"/proc/{pid}/stat") as fh:
        st = fh.read()
    comm = st[st.index("(") + 1:st.rindex(")")]
    f = st[st.rindex(")") + 2:].split()
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12) ...
    # starttime(19) vsize(20) rss(21)
    return (comm, (int(f[11]) + int(f[12])) / _TICK, int(f[19]),
            int(f[21]) * _PAGE)


def _kind(pid: int, me: int, comm: str, under_jvm: bool) -> str:
    """driver (this process), jvm, workers (Python forked by the JVM) or
    other (action scripts, the sender)."""
    if pid == me:
        return "driver"
    if comm == "java":
        return "jvm"
    return "workers" if under_jvm and comm.startswith("python") else "other"


class CpuLedger:
    """Own CPU time of every process ever seen in the tree, kept after it
    exits. Summing live processes' cumulative times instead loses the
    CPU of any process that exits between two readings (a Python worker
    retired by Spark, a child re-parented away), which once made a drain
    read 4.7 CPU-s next to a 21.9 CPU-s twin. A process's CPU after its
    last sample is lost: at most one sampling period each."""

    def __init__(self):
        self._seen: dict[tuple[int, int], tuple[str, float]] = {}
        self._lock = threading.Lock()

    def update(self) -> None:
        me = os.getpid()
        for pid, under_jvm in tree(me):
            try:
                comm, cpu, start, _ = _stat(pid)
            except OSError:
                continue
            with self._lock:
                self._seen[(pid, start)] = (_kind(pid, me, comm, under_jvm),
                                            cpu)

    def split(self) -> dict[str, float]:
        self.update()
        out = {"jvm": 0.0, "workers": 0.0, "driver": 0.0, "other": 0.0}
        with self._lock:
            for kind, cpu in self._seen.values():
                out[kind] += cpu
        return out


_LEDGER = CpuLedger()


def cpu_split() -> dict[str, float]:
    """CPU seconds used so far by the tree (see CpuLedger), split into
    the JVM, the Python workers it forked, the benchmark's own driver
    process and anything else (action scripts, the sender)."""
    return _LEDGER.split()


def cpu_total() -> float:
    return sum(cpu_split().values())


def rss_split() -> dict[str, int]:
    """Summed RSS of the tree: JVM, Python workers, driver, other."""
    me = os.getpid()
    out = {"jvm": 0, "workers": 0, "driver": 0, "other": 0}
    for pid, under_jvm in tree(me):
        try:
            comm, _, _, rss = _stat(pid)
        except OSError:
            continue
        out[_kind(pid, me, comm, under_jvm)] += rss
    return out


class RssPeak:
    """Background sampler: the tree's summed RSS (and each part's own
    peak), and the CPU ledger's readings between explicit ones."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.parts = {"jvm": 0, "workers": 0, "driver": 0, "other": 0}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        s = rss_split()
        self.peak = max(self.peak, sum(s.values()))
        for k, v in s.items():
            self.parts[k] = max(self.parts[k], v)
        _LEDGER.update()

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER): a process whose parent exits, such as a
    Python worker outliving the JVM or an action script started in its
    own session, is re-parented here instead of to init, so stop_tree()
    still finds it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# stop_tree: time to exit unasked (the JVM needs ~1 s after its stdin
# closes), then time between SIGTERM and SIGKILL
STOP_WAIT_S = 5.0
STOP_GRACE_S = 15.0


def stop_tree() -> list[str]:
    """End every descendant of this process and wait until each is gone
    and reaped: STOP_WAIT_S to exit on their own, then SIGTERM, then
    SIGKILL after STOP_GRACE_S more. Returns the names of the processes
    that had to be signalled."""
    me = os.getpid()
    t0 = time.monotonic()
    signalled: dict[int, int] = {}
    names = []
    while True:
        _reap()
        rest = [p for p, _ in tree(me) if p != me]
        if not rest:
            return names
        dt = time.monotonic() - t0
        sig = (None if dt < STOP_WAIT_S else signal.SIGTERM
               if dt < STOP_WAIT_S + STOP_GRACE_S else signal.SIGKILL)
        for p in rest:
            try:
                with open(f"/proc/{p}/stat") as fh:
                    st = fh.read()
            except OSError:
                continue
            zombie = st[st.rindex(")") + 2] == "Z"
            if sig is None or zombie or signalled.get(p) == sig:
                continue
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                continue
            signalled[p] = sig
            names.append(st[st.index("(") + 1:st.rindex(")")] + ":"
                         + signal.Signals(sig).name)
        time.sleep(0.05)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def udp_rcvbuf_errors() -> int:
    with open("/proc/net/snmp") as fh:
        lines = [ln.split() for ln in fh if ln.startswith("Udp:")]
    hdr, vals = lines[0], lines[1]
    return int(vals[hdr.index("RcvbufErrors")])
