"""Seeded AMQP load generator: writes spool files, one process, open loop.

Message shape follows the reference's temperature sender: an int body
(a temperature, 18..27), a message id, the ``temperature`` address, and a
small ``application_properties`` map on one message in eight.  Every
message is stamped with its creation time in ``ingest_ts``.

Two modes:

- backlog (``--rate 0``): write ``--count`` messages as fast as possible
  into a hidden file per directory, then rename each into place so the
  reader sees the whole backlog at once.  Stamps are the write time.
- paced (``--rate R``): message i is due at ``t0 + i / R``; the loop writes
  every message already due, stamps it with its DUE time and records how
  late it was written.  It never waits for the reader, so a slow engine
  grows a backlog instead of slowing the offered load.

Messages are dealt round-robin over the ``--dirs``; each directory gets one
file named ``--file``.  With ``--stats`` the generator writes a JSON summary
(count, lateness p99/max in ms) when it finishes.

Run: ``python3 perfbench/loadgen.py --dirs D1,D2 --seed 7 --start 0
--count 50000 --rate 5000 --file 000001.jsonl --stats gen.json``
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from datetime import datetime, timezone

if __package__ in (None, ""):  # run as a script: make ``perfbench`` importable
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.benchstats import percentile  # noqa: E402

_TICK_S = 0.005


def message(rng: random.Random, seq: int) -> dict:
    """Message ``seq`` of a stream seeded by ``rng`` (without its stamp)."""
    msg = {
        "message_id": f"m{seq:09d}",
        "to_address": "temperature",
        "body": rng.randint(18, 27),
    }
    if rng.random() < 0.125:
        msg["application_properties"] = {
            "sensor": f"s{rng.randint(0, 15)}",
            "unit": "C",
        }
    return msg


def messages(seed: int, start: int, count: int) -> list[dict]:
    """Messages ``start .. start+count-1``; the same seed and range give the
    same messages whichever process asks."""
    rng = random.Random(f"{seed}:{start}")
    return [message(rng, start + i) for i in range(count)]


def stamp(ts: float) -> str:
    return (
        datetime.fromtimestamp(ts, timezone.utc)
        .replace(tzinfo=None)
        .isoformat(timespec="microseconds")
    )


def encode(msg: dict, ts: float) -> bytes:
    """One spool line: the message with ``ingest_ts`` set to ``ts``."""
    return (
        json.dumps({**msg, "ingest_ts": stamp(ts)}, separators=(",", ":")) + "\n"
    ).encode()


def write_backlog(dirs: list[str], fname: str, msgs: list[dict]) -> None:
    outs = []
    for d in dirs:
        tmp = os.path.join(d, f".{fname}.tmp")
        outs.append((open(tmp, "wb"), tmp, os.path.join(d, fname)))
    try:
        for i, m in enumerate(msgs):
            outs[i % len(outs)][0].write(encode(m, time.time()))
    finally:
        for f, _, _ in outs:
            f.close()
    for _, tmp, final in outs:
        os.replace(tmp, final)


def write_paced(
    dirs: list[str], fname: str, msgs: list[dict], rate: float
) -> list[float]:
    """Open-loop writer; returns each message's lateness in seconds."""
    files = [open(os.path.join(d, fname), "ab") for d in dirs]
    late: list[float] = []
    try:
        t0 = time.time()
        i = 0
        while i < len(msgs):
            now = time.time()
            due_n = min(len(msgs), int((now - t0) * rate) + 1)
            touched = set()
            while i < due_n:
                due = t0 + i / rate
                k = i % len(files)
                files[k].write(encode(msgs[i], due))
                touched.add(k)
                late.append(now - due)
                i += 1
            for k in touched:
                files[k].flush()
            if i < len(msgs):
                time.sleep(max(0.0, min(_TICK_S, t0 + i / rate - time.time())))
    finally:
        for f in files:
            f.close()
    return late


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dirs", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rate", type=float, default=0.0)
    ap.add_argument("--file", required=True)
    ap.add_argument("--stats")
    a = ap.parse_args(argv)
    dirs = a.dirs.split(",")
    msgs = messages(a.seed, a.start, a.count)
    if a.rate > 0:
        late = write_paced(dirs, a.file, msgs, a.rate)
    else:
        write_backlog(dirs, a.file, msgs)
        late = [0.0]
    if a.stats:
        with open(a.stats, "w") as f:
            json.dump({"count": a.count,
                       "late_ms_p99": percentile(late, 99) * 1000,
                       "late_ms_max": max(late) * 1000}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
