"""Open-loop load generator, run as its own process.

Reads a schedule written by the benchmark (``schedule.pkl``: a list of
``(offset_s, marker_id_or_-1, payload)``), waits for the agreed start
time, then emits each item when it is due, whatever the system under
test is doing. It never waits for a reply, so a stall in the program
shows up as latency, not as a lower offered rate.

Modes:
  udp  <schedule> <port> <start_wall> <log>
       payload = (dev_ip_str, packet bytes); each exporter address gets
       its own socket bound on loopback, so the collector sees the
       exporter as the UDP source address.
  file <schedule> <dir>  <start_wall> <log>
       payload = a pyarrow IPC buffer of decoded flow rows, written as
       one parquet file (tmp + rename) into <dir>.

The log holds one line per marker: ``marker_id due_wall sent_wall``.
"""

from __future__ import annotations

import os
import pickle
import socket
import sys
import time


def main(argv: list[str]) -> int:
    mode, sched_path, target, start_wall, log_path = argv
    start_wall = float(start_wall)
    with open(sched_path, "rb") as fh:
        schedule = pickle.load(fh)
    socks: dict[str, socket.socket] = {}
    if mode == "udp":
        port = int(target)
        for _, _, (ip, _) in schedule:
            if ip not in socks:
                s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
                s.bind((ip, 0))
                socks[ip] = s
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq
    log = []
    seq = 0
    try:
        for off, marker, payload in schedule:
            due = start_wall + off
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            if mode == "udp":
                ip, pkt = payload
                socks[ip].sendto(pkt, ("127.0.0.1", port))
            else:
                table = pa.ipc.open_stream(payload).read_all()
                stem = f"paced_{seq:06d}.parquet"
                tmp = os.path.join(target, "." + stem + ".tmp")
                pq.write_table(table, tmp)
                os.rename(tmp, os.path.join(target, stem))
                seq += 1
            if marker >= 0:
                log.append(f"{marker} {due:.6f} {time.time():.6f}")
    finally:
        for s in socks.values():
            s.close()
        with open(log_path, "w") as fh:
            fh.write("\n".join(log) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
