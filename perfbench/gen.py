"""Seeded F1-shaped log lines for the live workload.

A line is a pure function of the seed, its sequence number and the
creation stamp the writer puts on it, so a checker can recompute every
expected window from the seed and the stamps read back from the log.

Run as a script this module is the open-loop log writer: one process, no
threads, appending lines ``FIRST_SEQ, FIRST_SEQ + 1, ...`` to a file at a
fixed rate until SIGTERM, then printing how late it ran as one JSON line::

    python3 perfbench/gen.py LOG_PATH SEED RATE FIRST_SEQ
"""

from __future__ import annotations

import json
import random
import signal
import sys
import time

#: F1 (FIXTURES.md) line shape, plus the sequence number and the creation
#: stamp (epoch µs) the checker needs:
#: ``2024/04/12 22:47:42.506277 GETM SUCC localhost:7710 605 17 1760000000000000``
PATTERN = (
    r".+ (?P<method__str>[A-Z]{4}) (?P<status__str>SUCC) \S+:7710 "
    r"(?P<time__int>[0-9]+) (?P<seq__int>[0-9]+) (?P<created__int>[0-9]+)"
)
#: the README demo's pre-window filter
FILTER = "time > 10000"
#: decomposable group-by over t0, plus the window's sequence range and its
#: newest creation stamp
SQL = (
    "select method, count(1) as n, sum(time) as total, min(seq) as lo, "
    "max(seq) as hi, max(created) as newest from t0 group by method"
)
METHODS = ("GETM", "SETM", "PUTM", "DELM")


def line_fields(seed: int, seq: int) -> tuple[str, str, int, int, bool]:
    """(method, status, port, time, garbled) of line ``seq``; ~10% FAIL,
    ~5% on port 7711 and ~2% garbled lines, so parse drops do work."""
    r = random.Random(seed * 1_000_003 + seq)
    method = METHODS[r.randrange(4)]
    status = "FAIL" if r.random() < 0.10 else "SUCC"
    port = 7711 if r.random() < 0.05 else 7710
    t = r.randrange(30001)
    garbled = r.random() < 0.02
    return method, status, port, t, garbled


def kept(seed: int, seq: int) -> tuple[str, int] | None:
    """(method, time) if line ``seq`` parses and passes FILTER, else None."""
    method, status, port, t, garbled = line_fields(seed, seq)
    if garbled or status != "SUCC" or port != 7710 or t <= 10000:
        return None
    return method, t


def log_line(seed: int, seq: int, created_us: int) -> str:
    method, status, port, t, garbled = line_fields(seed, seq)
    sec, ms = divmod(seq, 1000)
    ts = f"2024/04/12 {sec // 3600 % 24:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}.{ms:03d}000"
    if garbled:
        return f"{ts} {method} {status} -- truncated record {seq}\n"
    return f"{ts} {method} {status} localhost:{port} {t} {seq} {created_us}\n"


def block(seed: int, first: int, n: int, created_us: int) -> str:
    """Lines ``first .. first + n - 1``, all stamped ``created_us``."""
    return "".join(log_line(seed, s, created_us) for s in range(first, first + n))


def write_open_loop(
    path: str, seed: int, rate: float, first_seq: int = 0,
    clock=time.time, sleep=time.sleep, max_lines: int | None = None,
) -> dict:
    """Append line ``first_seq + i`` at ``start + i / rate`` until SIGTERM
    (or ``max_lines``); each line is stamped with the wall clock when
    written. Returns lateness stats."""
    stop = []
    if max_lines is None:
        signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    late_max = 0.0
    i = 0
    with open(path, "a", buffering=1) as f:
        start = clock()
        while not stop and i != max_lines:
            due = start + i / rate
            wait = due - clock()
            if wait > 0:
                sleep(wait)
            now = clock()
            late_max = max(late_max, now - due)
            f.write(log_line(seed, first_seq + i, int(now * 1_000_000)))
            i += 1
    return {"lines": i, "late_ms_max": late_max * 1000.0}


if __name__ == "__main__":
    stats = write_open_loop(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4]))
    print(json.dumps(stats), flush=True)
