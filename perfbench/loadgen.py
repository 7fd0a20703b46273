"""Traffic generator, run as its own process by the relay workload.

    python3 perfbench/loadgen.py --port P --seed N --counts C1,C2,... [--rate R]

Builds every batch up front (batch k holds the messages that follow
batch k-1, the same ones the checker builds), opens one TCP connection
from SOURCE and prints "ready". Then, per batch, it reads a start time
(epoch s) from stdin, waits for it and writes the batch newline-framed:
as fast as the socket accepts it, or with --rate, message i at
start + i/R (open loop: a slow receiver does not slow the schedule). It
then prints {"late_ms": [...]}: for each write, how far behind schedule
its first message was.
"""

from __future__ import annotations

import argparse
import json
import socket
import sys
import time

from messages import SOURCE, make_messages

CHUNK = 64 * 1024
# Shortest sleep between paced writes; messages that fall due meanwhile go
# out together in the next write.
TICK_S = 0.001


def frame(messages) -> tuple[bytes, list[int]]:
    """The newline-framed batch and the byte offset of each message
    (plus the end)."""
    lines = [(t + "\n").encode() for _, t in messages]
    offsets = [0]
    for line in lines:
        offsets.append(offsets[-1] + len(line))
    return b"".join(lines), offsets


def send_burst(s, blob: bytes) -> None:
    for off in range(0, len(blob), CHUNK):
        s.sendall(blob[off:off + CHUNK])


def send_paced(s, blob: bytes, offsets: list[int], start_at: float,
               rate: float) -> list[float]:
    late, sent, n = [], 0, len(offsets) - 1
    while sent < n:
        now = time.time()
        due = min(n, int((now - start_at) * rate) + 1)
        if due > sent:
            late.append((now - start_at - sent / rate) * 1e3)
            s.sendall(blob[offsets[sent]:offsets[due]])
            sent = due
        else:
            time.sleep(max(TICK_S, start_at + sent / rate - now))
    return late


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--counts", required=True)
    ap.add_argument("--rate", type=float, default=0.0)
    a = ap.parse_args()

    batches, first = [], 0
    for count in map(int, a.counts.split(",")):
        batches.append(frame(make_messages(a.seed, first, count)))
        first += count
    s = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    s.bind((SOURCE, 0))
    s.connect(("127.0.0.1", a.port))
    print("ready", flush=True)
    for blob, offsets in batches:
        line = sys.stdin.readline()
        if not line:
            break
        start_at = float(line)
        while time.time() < start_at:
            time.sleep(min(0.01, max(0.0, start_at - time.time())))
        first_send = time.time()
        if a.rate > 0:
            late = send_paced(s, blob, offsets, start_at, a.rate)
        else:
            late = [(first_send - start_at) * 1e3]
            send_burst(s, blob)
        print(json.dumps({"late_ms": late}), flush=True)
    s.shutdown(socket.SHUT_WR)
    s.close()


if __name__ == "__main__":
    main()
