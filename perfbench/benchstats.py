"""Pure helpers: percentiles with the sample-count rule, span self time,
and the mapping from micro-batch offset ranges to per-message latency.

Nothing here touches Spark, so the benchmark's own tests exercise it
directly (``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import bisect
import json
import math
import time
from collections.abc import Iterable, Sequence
from dataclasses import dataclass, field
from datetime import datetime, timezone

# a tail percentile is supported when this many micro-batches lie beyond it
MIN_SAMPLES_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q``
    percent of the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < q <= 100:
        raise ValueError(f"percentile q must be in (0, 100], got {q}")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)]


def median(values: Sequence[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of an empty sample")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2


def groups_beyond(values: Sequence[float], groups: Sequence[int], q: float) -> int:
    """How many distinct groups (micro-batches) hold a sample strictly above
    the ``q`` percentile.  Messages of one micro-batch share its commit
    time, so a tail resting on one or two batches is one event, not many."""
    cut = percentile(values, q)
    return len({g for v, g in zip(values, groups) if v > cut})


# ---------------------------------------------------------------------------
# micro-batch offsets -> per-message latency


@dataclass(frozen=True)
class Batch:
    """One committed micro-batch: when it ended (epoch seconds) and its end
    offset per stream key (``{"seq": n}`` for the driver-side reader,
    ``{file: byte}`` for the scale-out reader)."""

    batch_id: int
    end_time: float
    end: dict


def batches_from_progress(progress: Iterable[dict]) -> list[Batch]:
    """Committed batches with input rows, from ``StreamingQueryProgress``
    JSON dicts.  The end time is the trigger start plus its
    ``triggerExecution`` duration; the end offset is flattened so the
    scale-out reader's ``{dir: {file: byte}}`` becomes ``{file: byte}``."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        end = p["sources"][0]["endOffset"]
        end = json.loads(end) if isinstance(end, str) else end
        flat = {}
        for k, v in end.items():
            if isinstance(v, dict):
                flat.update(v)
            else:
                flat[k] = v
        t0 = parse_progress_ts(p["timestamp"])
        out.append(
            Batch(p["batchId"], t0 + p["durationMs"]["triggerExecution"] / 1000, flat)
        )
    return sorted(out, key=lambda b: b.batch_id)


def parse_progress_ts(ts: str) -> float:
    """``2026-10-17T02:30:44.123Z`` -> epoch seconds."""
    dt = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def message_latencies(
    batches: Sequence[Batch], messages: Iterable[tuple[str, int, float]]
) -> tuple[list[float], list[int]]:
    """Per-message latency in ms and the batch that committed each message.

    ``messages`` holds ``(key, position, due)``: the stream key, the offset
    just past the message (seq + 1, or the byte after its line) and its due
    time at the generator.  A message belongs to the first batch whose end
    offset for its key reaches its position.  A message no batch reached
    raises: the stream lost it."""
    ends: dict[str, list[int]] = {}
    for b in batches:  # end offsets only grow, so each key's list is sorted
        for key in b.end:
            ends.setdefault(key, [])
        for key, seq in ends.items():
            seq.append(max(b.end.get(key, -1), seq[-1] if seq else -1))
    lat: list[float] = []
    owner: list[int] = []
    for key, pos, due in messages:
        i = bisect.bisect_left(ends.get(key, []), pos)
        if i == len(ends.get(key, [])):
            raise ValueError(f"message at {key}:{pos} was never committed")
        # a key first seen in batch j has len(batches) - j entries
        b = batches[len(batches) - len(ends[key]) + i]
        lat.append((b.end_time - due) * 1000)
        owner.append(b.batch_id)
    return lat, owner


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; ``dump`` writes everything at the end.

    Times are epoch seconds, the clock Spark's progress events, query
    tracker and event log also use, so spans taken from them nest with
    the benchmark's own."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, self.run_id))
        return sid

    def span(self, name: str):
        return _SpanCtx(self, name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> int:
        parent = self.tracer._stack[-1] if self.tracer._stack else None
        self.sid = self.tracer.add(self.name, time.time(), 0.0, parent)
        self.tracer._stack.append(self.sid)
        return self.sid

    def __exit__(self, *exc) -> None:
        self.tracer._stack.pop()
        self.tracer.spans[self.sid].end = time.time()


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover
    (children clipped to the parent; overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return {
        s.span_id: s.duration - covered(kids.get(s.span_id, [])) for s in spans
    }


def self_time_by_layer(spans: Sequence[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out
