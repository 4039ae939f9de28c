"""The driver-side reader's look-ahead ingest and its row accounting.

On the spool transport ``AMQPStreamReader.read`` returns its batch and a
background thread decodes up to one ``maxMessagesPerBatch`` window ahead.
These tests hold the look-ahead to the synchronous reader's results, check
that transport failures in it surface, that the reader still pickles while
it runs, and that ``admitted == settled + retained`` holds throughout.
"""

from __future__ import annotations

import json
import pickle
import sys
import threading
import time

import pytest

import streaming_amqp_spark.sources.amqp as amqp_mod
from streaming_amqp_spark.sources.amqp import (
    AMQPStreamReader,
    SpoolTransport,
    TransportDisconnected,
)
from tests.conftest import envelope_rows


def _line(i: int) -> str:
    return json.dumps({"message_id": f"m{i}", "body": str(i)}) + "\n"


def _append(spool, text: str, fname: str = "000.jsonl") -> None:
    with open(spool / fname, "a") as f:
        f.write(text)


def _reader(spool, **opts) -> AMQPStreamReader:
    options = {"transport": "spool", "spooldir": str(spool)}
    options.update({k.lower(): v for k, v in opts.items()})
    return AMQPStreamReader(options)


def _ids(it) -> list[str]:
    return [row[0] for row in envelope_rows(it)]


def _assert_accounting(r: AMQPStreamReader) -> None:
    assert r.admitted == r.settled + r.retained, (
        r.admitted, r.settled, r.retained)


# -- scenarios: each drives a reader over a fresh spool and returns every
# read's (ids, end offset); ``settle`` waits for the look-ahead after each
# read, so it has certainly run before the scenario's next append.


def _wait(r, settle):
    if settle and r._lookahead is not None:
        r._lookahead.exception(timeout=10)  # waits; raises if still running
        assert r._lookahead.done()


def _cap_split_backlog(spool, settle):
    _append(spool, "".join(_line(i) for i in range(25)))
    r = _reader(spool, maxMessagesPerBatch="10")
    off, out = r.initialOffset(), []
    for _ in range(4):
        it, off = r.read(off)
        out.append((_ids(it), off))
        _wait(r, settle)
        r.commit(off)
        _assert_accounting(r)
    return out


def _admit_below_window(spool, settle):
    # targetBatchSeconds far above any batch time: the cap only changes by
    # doubling on commit, so admissions are deterministic
    _append(spool, "".join(_line(i) for i in range(30)))
    r = _reader(spool, maxMessagesPerBatch="10", targetBatchSeconds="1000")
    off, out = r.initialOffset(), []
    it, off = r.read(off)
    out.append((_ids(it), off))
    r._adaptive_cap = 3  # admit 3 of a 10-row window
    for _ in range(4):
        _wait(r, settle)
        it, off = r.read(off)
        out.append((_ids(it), off))
        r.commit(off)  # fast batch: the cap doubles, 3 → 6 → 10
        _assert_accounting(r)
    return out


def _append_beyond_partial_window(spool, settle):
    # the look-ahead holds part of the next admission; the rest arrives
    # after it ran and must be decoded by the read itself
    _append(spool, "".join(_line(i) for i in range(5)))
    r = _reader(spool, maxMessagesPerBatch="10", targetBatchSeconds="1000")
    r._adaptive_cap = 3
    off, out = r.initialOffset(), []
    it, off = r.read(off)
    out.append((_ids(it), off))
    r.commit(off)  # fast batch: the cap doubles to 6
    _wait(r, settle)
    _append(spool, "".join(_line(i) for i in range(5, 9)))
    it, off = r.read(off)
    out.append((_ids(it), off))
    r.commit(off)
    _assert_accounting(r)
    return out


def _appends_between_reads(spool, settle):
    _append(spool, "".join(_line(i) for i in range(5)))
    r = _reader(spool, maxMessagesPerBatch="10")
    off, out = r.initialOffset(), []
    it, off = r.read(off)
    out.append((_ids(it), off))
    _wait(r, settle)
    torn = _line(8)
    _append(spool, "".join(_line(i) for i in range(5, 8)) + torn[:9])
    it, off = r.read(off)
    out.append((_ids(it), off))
    _wait(r, settle)
    _append(spool, torn[9:] + _line(9))
    _append(spool, _line(10), fname="001.jsonl")
    it, off = r.read(off)
    out.append((_ids(it), off))
    r.commit(off)
    _assert_accounting(r)
    return out


def _restart_skip_data_later(spool, settle):
    _append(spool, "".join(_line(i) for i in range(3)))
    r = _reader(spool, maxMessagesPerBatch="10")  # fresh reader after restart
    out = []
    it, off = r.read({"seq": 5})  # checkpoint is past what is on disk
    out.append((_ids(it), off))
    _wait(r, settle)
    _append(spool, "".join(_line(i) for i in range(3, 8)))
    it, off = r.read(off)
    out.append((_ids(it), off))
    r.commit(off)
    _assert_accounting(r)
    return out


_SCENARIOS = {
    "cap_split_backlog": (
        _cap_split_backlog,
        [[f"m{i}" for i in range(10)], [f"m{i}" for i in range(10, 20)],
         [f"m{i}" for i in range(20, 25)], []],
    ),
    "admit_below_window": (
        _admit_below_window,
        [[f"m{i}" for i in range(10)], ["m10", "m11", "m12"],
         [f"m{i}" for i in range(13, 19)], [f"m{i}" for i in range(19, 29)],
         ["m29"]],
    ),
    "append_beyond_partial_window": (
        _append_beyond_partial_window,
        [["m0", "m1", "m2"], [f"m{i}" for i in range(3, 9)]],
    ),
    "appends_between_reads": (
        _appends_between_reads,
        [[f"m{i}" for i in range(5)], ["m5", "m6", "m7"],
         ["m8", "m9", "m10"]],
    ),
    "restart_skip_data_later": (
        _restart_skip_data_later, [[], ["m5", "m6", "m7"]],
    ),
}


@pytest.mark.parametrize("settle", [False, True], ids=["racing", "settled"])
@pytest.mark.parametrize("name", sorted(_SCENARIOS))
def test_lookahead_matches_synchronous_reader(tmp_path, monkeypatch, name,
                                              settle):
    scenario, expect = _SCENARIOS[name]
    with monkeypatch.context() as m:
        # no look-ahead: every read decodes its whole admission itself
        m.setattr(AMQPStreamReader, "_start_lookahead", lambda self, want: None)
        (tmp_path / "sync").mkdir()
        reference = scenario(tmp_path / "sync", settle)
    (tmp_path / "ahead").mkdir()
    got = scenario(tmp_path / "ahead", settle)
    assert [ids for ids, _ in reference] == expect
    assert got == reference


class _FailingSpool(SpoolTransport):
    """A spool whose fetch calls numbered in ``fail_calls`` (1-based) raise
    TransportDisconnected before reading anything."""

    def __init__(self, spool_dir, fail_calls):
        super().__init__(spool_dir)
        self.fail_calls = fail_calls
        self.calls = 0
        self.reconnects = 0

    def fetch(self, max_n):
        self.calls += 1
        if self.calls in self.fail_calls:
            raise TransportDisconnected("simulated drop")
        return super().fetch(max_n)

    def reconnect(self):
        self.reconnects += 1


def test_lookahead_disconnect_is_retried(tmp_path, monkeypatch):
    monkeypatch.setattr(amqp_mod, "RECONNECT_BASE_DELAY_S", 0.001)
    _append(tmp_path, "".join(_line(i) for i in range(10)))
    r = _reader(tmp_path, maxMessagesPerBatch="5")
    r.transport = _FailingSpool(str(tmp_path), fail_calls={2, 3})
    it, off = r.read(r.initialOffset())  # fetch 1; the look-ahead is 2-4
    assert _ids(it) == [f"m{i}" for i in range(5)]
    it, off = r.read(off)
    assert _ids(it) == [f"m{i}" for i in range(5, 10)] and off == {"seq": 10}
    assert r.transport.reconnects == 2


def test_lookahead_disconnect_surfaces_at_next_read(tmp_path, monkeypatch):
    monkeypatch.setattr(amqp_mod, "RECONNECT_BASE_DELAY_S", 0.001)
    _append(tmp_path, "".join(_line(i) for i in range(10)))
    r = _reader(tmp_path, maxMessagesPerBatch="5")
    # the look-ahead's first try and all its retries fail
    fails = set(range(2, 2 + amqp_mod.RECONNECT_MAX_ATTEMPTS + 1))
    r.transport = _FailingSpool(str(tmp_path), fail_calls=fails)
    it, off = r.read(r.initialOffset())
    assert _ids(it) == [f"m{i}" for i in range(5)]
    with pytest.raises(TransportDisconnected):
        r.read(off)
    _assert_accounting(r)
    # the failure is reported once; the retry reads synchronously, no loss
    it, off = r.read(off)
    assert _ids(it) == [f"m{i}" for i in range(5, 10)] and off == {"seq": 10}
    assert r.transport.reconnects == amqp_mod.RECONNECT_MAX_ATTEMPTS


class SlowSpool(SpoolTransport):
    """A spool whose fetches after the first take a while, so the
    look-ahead is still running when the test acts."""

    def __init__(self, spool_dir):
        super().__init__(spool_dir)
        self.calls = 0

    def fetch(self, max_n):
        self.calls += 1
        if self.calls > 1:
            time.sleep(0.3)
        return super().fetch(max_n)


def test_reader_pickles_with_lookahead_in_flight(tmp_path):
    _append(tmp_path, "".join(_line(i) for i in range(12)))
    r = _reader(tmp_path, maxMessagesPerBatch="5")
    r.transport = SlowSpool(str(tmp_path))
    it, off = r.read(r.initialOffset())
    assert _ids(it) == [f"m{i}" for i in range(5)]
    assert r._lookahead is not None and not r._lookahead.done()
    copy = pickle.loads(pickle.dumps(r))
    assert copy._lookahead is None and copy._pool is None
    # both continue from the same state
    for reader in (r, copy):
        it2, off2 = reader.read(off)
        assert _ids(it2) == [f"m{i}" for i in range(5, 10)]
        assert off2 == {"seq": 10}
        assert len(envelope_rows(reader.readBetweenOffsets(off, off2))) == 5
        _assert_accounting(reader)


@pytest.mark.parametrize(
    "opts",
    [
        {},
        {"reliable": "false"},
        {"maxRatePerSecond": "400"},
        {"targetBatchSeconds": "0.05"},
        {"restart_at": 4},
    ],
    ids=["reliable", "unreliable", "max_rate", "target_batch", "restart_skip"],
)
def test_admitted_equals_settled_plus_retained(tmp_path, opts):
    """ROADMAP aim 3's source invariant, in rows, after every read and
    commit — with commits lagging reads so rows are retained."""
    opts = dict(opts)
    restart_at = opts.pop("restart_at", 0)
    _append(tmp_path, "".join(_line(i) for i in range(60)))
    r = _reader(tmp_path, maxMessagesPerBatch="7", **opts)
    off, pending, seen = {"seq": restart_at}, [], []
    _assert_accounting(r)
    for step in range(14):
        it, end = r.read(off)
        seen += _ids(it)
        _assert_accounting(r)
        pending.append(end)
        if step % 3 == 2:  # commit all but the newest batch
            r.commit(pending[-2])
            _assert_accounting(r)
        if step == 6:
            _append(tmp_path, "".join(_line(i) for i in range(60, 70)),
                    fname="001.jsonl")
        off = end
        time.sleep(0.01)
    r.commit(off)
    _assert_accounting(r)
    assert r.retained == 0 and r.settled == r.admitted
    # nothing lost or repeated, whatever the admission policy did
    assert seen == [f"m{i}" for i in range(restart_at, restart_at + len(seen))]


def test_lookahead_stress_with_concurrent_writer(tmp_path):
    """A writer thread appends (with torn writes) while the reader reads:
    every message arrives once, in order, under a tiny switch interval."""
    n = 3000
    (tmp_path / "000.jsonl").touch()
    done = threading.Event()

    def writer():
        with open(tmp_path / "000.jsonl", "a") as f:
            for i in range(n):
                line = _line(i)
                f.write(line[:7])
                f.flush()
                f.write(line[7:])
                if i % 50 == 0:
                    f.flush()
        done.set()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        t = threading.Thread(target=writer)
        r = _reader(tmp_path, maxMessagesPerBatch="97")
        t.start()
        off, seen = r.initialOffset(), []
        deadline = time.monotonic() + 60
        while len(seen) < n and time.monotonic() < deadline:
            it, off = r.read(off)
            seen += _ids(it)
            r.commit(off)
            _assert_accounting(r)
        t.join(timeout=10)
        assert not t.is_alive() and done.is_set()
    finally:
        sys.setswitchinterval(old)
    assert seen == [f"m{i}" for i in range(n)]
    assert off == {"seq": n} and r.transport.malformed == 0
