"""Tests for the benchmark's pure helpers: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import benchstats as bs
from perfbench import loadgen


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert bs.percentile(vals, 50) == 50
    assert bs.percentile(vals, 90) == 90
    assert bs.percentile(vals, 100) == 100
    assert bs.percentile([7.0], 90) == 7.0
    assert bs.median([3, 1, 2, 10]) == 2.5
    with pytest.raises(ValueError):
        bs.percentile([], 50)


def test_tail_rule_counts_distinct_batches():
    # 100 samples; the ten largest sit in only two batches
    vals = list(range(100))
    groups = [i // 10 for i in range(90)] + [8] * 5 + [9] * 5
    assert bs.groups_beyond(vals, groups, 90) == 2 < bs.MIN_SAMPLES_BEYOND
    # the same tail spread over ten batches supports p90
    groups = [i % 10 for i in range(100)]
    assert bs.groups_beyond(vals, groups, 90) == 10 == bs.MIN_SAMPLES_BEYOND


def _span(sid, start, end, parent=None, name="x"):
    return bs.Span(sid, name, start, end, parent, "r")


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0, name="root"),
        _span(1, 1.0, 4.0, 0, "a"),
        _span(2, 3.0, 6.0, 0, "b"),  # overlaps a: 1..6 covered once
        _span(3, 9.0, 12.0, 0, "c"),  # clipped to the parent: 9..10
        _span(4, 1.5, 2.0, 1, "d"),
    ]
    st = bs.self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(0.5)
    by = bs.self_time_by_layer(spans)
    assert by["root"] == pytest.approx(4)


def test_tracer_nests_spans():
    tr = bs.Tracer(run_id="t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def _progress(batch_id, ts, start, end, rows, trigger_ms):
    return {
        "batchId": batch_id,
        "timestamp": ts,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger_ms},
        "sources": [{"startOffset": start, "endOffset": end}],
    }


def test_progress_offsets_map_to_message_latency():
    t0 = bs.parse_progress_ts("2026-01-01T00:00:00.000Z")
    progress = [
        _progress(0, "2026-01-01T00:00:00.000Z", None, {"seq": 3}, 3, 500),
        # a no-data batch is skipped
        _progress(1, "2026-01-01T00:00:00.600Z", {"seq": 3}, {"seq": 3}, 0, 50),
        _progress(2, "2026-01-01T00:00:01.000Z", '{"seq": 3}', '{"seq": 5}', 2, 250),
    ]
    batches = bs.batches_from_progress(progress)
    assert [b.batch_id for b in batches] == [0, 2]
    assert batches[0].end_time == pytest.approx(t0 + 0.5)
    assert batches[1].end_time == pytest.approx(t0 + 1.25)
    due = [t0 - 0.1, t0, t0 + 0.2, t0 + 0.6, t0 + 1.0]
    msgs = [("seq", i + 1, d) for i, d in enumerate(due)]
    lat, owner = bs.message_latencies(batches, msgs)
    assert owner == [0, 0, 0, 2, 2]
    assert lat == pytest.approx([600, 500, 300, 650, 250])
    with pytest.raises(ValueError):
        bs.message_latencies(batches, [("seq", 6, t0)])


def test_scaleout_offsets_flatten_per_file():
    p = _progress(0, "2026-01-01T00:00:00.000Z", None,
                  {"/d0": {"/d0/a.jsonl": 120}, "/d1": {"/d1/a.jsonl": 80}}, 4, 100)
    (b,) = bs.batches_from_progress([p])
    assert b.end == {"/d0/a.jsonl": 120, "/d1/a.jsonl": 80}
    lat, owner = bs.message_latencies([b], [("/d1/a.jsonl", 80, b.end_time - 1)])
    assert lat == pytest.approx([1000]) and owner == [0]
    # a file first seen in a later batch maps to that batch
    p2 = _progress(1, "2026-01-01T00:00:01.000Z", None,
                   {"/d0": {"/d0/a.jsonl": 120, "/d0/b.jsonl": 40}}, 1, 100)
    batches = bs.batches_from_progress([p, p2])
    lat, owner = bs.message_latencies(
        batches, [("/d0/b.jsonl", 40, 0.0), ("/d0/a.jsonl", 120, 0.0)])
    assert owner == [1, 0]


def test_generator_same_seed_same_bytes():
    a = b"".join(loadgen.encode(m, 1.5) for m in loadgen.messages(7, 0, 500))
    b = b"".join(loadgen.encode(m, 1.5) for m in loadgen.messages(7, 0, 500))
    c = b"".join(loadgen.encode(m, 1.5) for m in loadgen.messages(8, 0, 500))
    assert a == b and a != c
    msgs = loadgen.messages(7, 0, 500)
    assert [m["message_id"] for m in msgs] == [f"m{i:09d}" for i in range(500)]
    assert all(isinstance(m["body"], int) for m in msgs)
    assert 0 < sum("application_properties" in m for m in msgs) < 500


def test_table_generator_same_seed_same_bytes(tmp_path):
    from perfbench.datagen import TABLES, write_tables

    def digest(d):
        return {t: hashlib.sha256(open(os.path.join(d, f"{t}.parquet"), "rb")
                                  .read()).hexdigest() for t in TABLES}

    write_tables(str(tmp_path / "a"), 3, 0.0005)
    write_tables(str(tmp_path / "b"), 3, 0.0005)
    write_tables(str(tmp_path / "c"), 4, 0.0005)
    assert digest(tmp_path / "a") == digest(tmp_path / "b")
    assert digest(tmp_path / "a") != digest(tmp_path / "c")
