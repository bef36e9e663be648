"""Daemon soak: the real ``python -m xenoeye_spark`` process, fed over
UDP, SIGKILLed mid-window and restarted — the durability story end to end
(reference: tkvdb-backed state across restarts, INTERNALS.md:46).

Run 1: bridge -> v5 decode -> fwm + mavg + classification standing
queries; a breaching key produces a NEW alert (action script logs it) and
fwm SQL exports. kill -9 the whole process group mid-window. Run 2 over
the same state dir: checkpointed offsets mean the spool is not
reprocessed (run-1 export files keep their content hashes), the restored
mavg state means the still-breaching key does NOT re-fire NEW, while a
key first seen in run 2 does — exactly one NEW per key across the kill.
"""

from __future__ import annotations

import glob
import hashlib
import os
import signal
import socket
import subprocess
import sys
import time

from tests.test_sources import build_v5

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _free_udp_port() -> int:
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _wait_for(cond, timeout: float, what: str):
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout:
        if cond():
            return
        time.sleep(0.5)
    raise AssertionError(f"timed out after {timeout}s waiting for {what}")


def _send_v5(port: int, srcs: list[int], n: int = 3) -> None:
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    pkt_for = {
        src: build_v5([
            {"src": src, "dst": 0x0B000001, "pkts": 2, "octets": 100,
             "sport": 1111, "dport": 80, "proto": 6},
        ])
        for src in srcs
    }
    for _ in range(n):
        for src in srcs:
            sock.sendto(pkt_for[src], ("127.0.0.1", port))
        time.sleep(0.3)
    sock.close()


def _spawn_daemon(conf: str, state: str, exp: str) -> subprocess.Popen:
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_GRAFT_CPUS="8",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    return subprocess.Popen(
        [sys.executable, "-m", "xenoeye_spark", "-c", conf,
         "--state", state, "--exp", exp],
        cwd=REPO, env=env, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )


def _kill9(proc: subprocess.Popen) -> None:
    try:
        os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait(timeout=30)


def _sql_shas(exp: str) -> dict[str, str]:
    return {
        os.path.basename(p): hashlib.sha256(open(p, "rb").read()).hexdigest()
        for p in glob.glob(os.path.join(exp, "border.fwm.f1", "*.sql"))
    }


def test_daemon_kill9_restart_no_duplicate_exports_or_alerts(tmp_path):
    """The bucketed mavg state survives the kill: the restart restores
    it from the HDFS-backed state store, so no alert fires twice. (Flow
    ts is the bridge's wall-clock recv_ts and back2norm is 3600s, so the
    restart gap cannot GONE-clear the alarm and re-fire NEW.)"""
    port = _free_udp_port()
    state = str(tmp_path / "state")
    exp = str(tmp_path / "exp")
    act_log = tmp_path / "new_events.log"
    script = tmp_path / "on_new.sh"
    # argv contract (act.py): script mo mavg limit notif-file key... rate thr
    script.write_text(f'#!/bin/sh\necho "NEW $5" >> {act_log}\n')
    script.chmod(0o755)

    mo = tmp_path / "mo" / "border"
    mo.mkdir(parents=True)
    (mo / "mo.conf").write_text("""
{
  "filter": "proto 6",
  "fwm": [ {"name": "f1", "fields": ["octets desc", "src host"],
            "time": 2, "limit": 5} ],
  "mavg": [ {"name": "m1", "fields": ["src host", "octets"], "time": 2,
             "overlimit": [ {"name": "hi", "default": [0.5],
                             "back2norm-time": 3600,
                             "action-script": "%s"} ]} ],
  "classification": [ {"fields": ["src host"], "val": "octets desc",
                       "top-percents": 90, "time": 5} ]
}
""" % script)
    conf = tmp_path / "xenoeye.conf"
    conf.write_text("""
{
  "capture": [ {"socket": {"listen-on": "127.0.0.1", "port": "%d"}} ],
  "mo-dir": "%s",
  "db-type": "pg"
}
""" % (port, tmp_path / "mo"))

    key1, key2 = 0x0A000001, 0x0A000002

    # ---- run 1: feed key1 until the NEW alert and an export exist ----
    proc = _spawn_daemon(str(conf), state, exp)
    try:
        _wait_for(
            lambda: (_send_v5(port, [key1]) or _sql_shas(exp)),
            timeout=180, what="first fwm SQL export",
        )
        _wait_for(
            lambda: act_log.exists() and "NEW" in act_log.read_text(),
            timeout=120, what="NEW action for key1",
        )
        # let the alert-bearing epoch COMMIT (offsets commit right after
        # foreachBatch returns; two trigger periods is ample) so the
        # restart genuinely resumes instead of replaying that epoch
        time.sleep(6)
    finally:
        _kill9(proc)  # mid-window, no graceful stop

    shas_run1 = _sql_shas(exp)
    assert shas_run1, "run 1 produced no export files"
    new_lines_run1 = act_log.read_text().strip().splitlines()
    assert new_lines_run1 == [f"NEW {key1}"], new_lines_run1
    notif = os.path.join(state, "notifications", f"border-m1-hi-{key1}")
    assert os.path.exists(notif)

    # ---- run 2: same state dir; key1 keeps breaching, key2 is new ----
    proc = _spawn_daemon(str(conf), state, exp)
    try:
        _wait_for(
            lambda: (_send_v5(port, [key1, key2]) or
                     f"NEW {key2}" in act_log.read_text()),
            timeout=180, what="NEW action for key2 after restart",
        )
        _wait_for(
            lambda: len(_sql_shas(exp)) > len(shas_run1),
            timeout=120, what="a fresh export epoch after restart",
        )
        time.sleep(4)
    finally:
        _kill9(proc)

    # no duplicate NEW across the restart: exactly one per key, and
    # key1's single NEW is the one from run 1
    lines = act_log.read_text().strip().splitlines()
    assert lines.count(f"NEW {key1}") == 1, lines
    assert lines.count(f"NEW {key2}") == 1, lines
    # no duplicate/rewritten exports: every run-1 file is byte-identical
    shas_run2 = _sql_shas(exp)
    for name, sha in shas_run1.items():
        assert shas_run2.get(name) == sha, f"export {name} changed"
    assert len(shas_run2) > len(shas_run1)  # run 2 really exported
