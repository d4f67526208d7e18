"""Open-loop event generator for ``stream_latency``, run as its own process.

    python3 feeder.py --seconds 10 --seed 1 --record rec.npz

Listens on an ephemeral localhost port and prints ``PORT <n>``; the
Spark socket source connects to it. Once connected, event ``i`` is due
at ``t0 + i / RATE`` whatever the reader does (the schedule never
waits for Spark), and is sent as one line ``ts_us,key,cents`` where
``ts_us`` is its due time, its creation stamp. The schedule runs
``WARMUP_S`` plus ``--seconds`` seconds; ``WARM`` is printed when the
warm-up part has been sent. After the last event
the feeder writes what it sent to ``--record`` (t0, keys, cents, and
how late each send ran), prints ``DONE <n>``, and keeps the connection
open until its stdin closes.
"""

from __future__ import annotations

import argparse
import socket
import sys
import time

import numpy as np

RATE = 2_000  # events/s, below the per-batch capacity (see NOTES.md)
KEYS = 8
WARMUP_S = 8.0  # sent, not sampled: the JIT warms up over ~10 batches
TICK_S = 0.002
ACCEPT_TIMEOUT_S = 120.0


def events(seed: int, n: int):
    rng = np.random.default_rng([seed, 0x5E])
    return rng.integers(0, KEYS, size=n), rng.integers(1, 10_000, size=n)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--record", required=True)
    args = ap.parse_args()

    n = int(RATE * (WARMUP_S + args.seconds))
    n_warm = int(RATE * WARMUP_S)
    keys, cents = events(args.seed, n)
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(ACCEPT_TIMEOUT_S)
    print(f"PORT {srv.getsockname()[1]}", flush=True)
    conn, _ = srv.accept()
    srv.close()
    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

    t0_us = time.time_ns() // 1000 + 200_000
    due_us = t0_us + (np.arange(n, dtype=np.int64) * 1_000_000) // RATE
    lag_us = np.zeros(n, dtype=np.int64)
    sent = 0
    while sent < n:
        now_us = time.time_ns() // 1000
        upto = int(np.searchsorted(due_us, now_us, side="right"))
        if upto > sent:
            lines = "".join(
                f"{due_us[i]},{keys[i]},{cents[i]}\n" for i in range(sent, upto)
            )
            conn.sendall(lines.encode())
            lag_us[sent:upto] = time.time_ns() // 1000 - due_us[sent:upto]
            if sent < n_warm <= upto:
                print("WARM", flush=True)
            sent = upto
        time.sleep(TICK_S)
    np.savez(args.record, t0_us=t0_us, rate=RATE, due_us=due_us,
             keys=keys, cents=cents, lag_us=lag_us)
    print(f"DONE {n}", flush=True)
    sys.stdin.read()  # hold the connection until the benchmark is done
    conn.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
