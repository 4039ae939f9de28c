"""Multi-link streaming scale-out (VERDICT r3 ask #4).

Two paths past one link's ~10k msg/s design ceiling
(AMQPFlowController.scala:271):

- ``create_union_stream`` — N independent driver-side sources unioned
  (≡ receiver-per-stream parallelism, AMQPInputDStream.scala:40-59);
- ``create_scaleout_stream`` — ONE source, partitioned per spool
  directory, parsed on executors (driver does metadata-only offset work).
"""

from __future__ import annotations

import base64
import json

import pytest

from streaming_amqp_spark import api

from tests.conftest import envelope_rows
from streaming_amqp_spark.sources.amqp import (
    AMQPScaleOutStreamReader,
    _complete_bytes,
    _SpoolRangePartition,
    register_amqp_source,
)


def _write_dir(tmp_path, name, messages, fname="000.jsonl"):
    d = tmp_path / name
    d.mkdir(exist_ok=True)
    with open(d / fname, "a") as f:
        for m in messages:
            f.write(json.dumps(m) + "\n")
    return str(d)


def _msgs(n, start=0, addr="a"):
    return [
        {"message_id": f"{addr}-{i}", "to_address": addr, "body": str(i)}
        for i in range(start, start + n)
    ]


@pytest.fixture()
def amqp(spark):
    register_amqp_source(spark)
    return spark


def test_union_stream_plans_n_independent_sources(amqp, tmp_path):
    """The unioned stream's logical plan must contain one streaming source
    node per address — N independent readers, each with its own credit
    window and offsets, exactly the reference's receiver-per-stream model."""
    dirs = [_write_dir(tmp_path, f"d{i}", _msgs(1, addr=f"addr{i}")) for i in range(3)]
    df = api.create_union_stream(
        amqp,
        addresses=["addr0", "addr1", "addr2"],
        transport="spool",
        spooldirs=dirs,
    )
    plan = df._jdf.queryExecution().logical().toString()
    assert plan.count("amqp") >= 3, plan


def test_scaleout_stream_reads_all_dirs(amqp, tmp_path):
    dirs = [
        _write_dir(tmp_path, f"d{i}", _msgs(4, addr=f"addr{i}")) for i in range(3)
    ]
    df = api.create_scaleout_stream(amqp, dirs)
    q = (
        df.writeStream.format("memory")
        .queryName("scaleout_all")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = amqp.sql("SELECT message_id, to_address FROM scaleout_all").collect()
    assert len(rows) == 12
    assert {r.to_address for r in rows} == {"addr0", "addr1", "addr2"}


def test_scaleout_reader_partitions_per_dir(tmp_path):
    """Driver-side contract: latestOffset is per-file byte high-water marks;
    partitions(start, end) yields one range partition per directory with
    new data; executors replay any (start, end] range exactly."""
    d0 = _write_dir(tmp_path, "d0", _msgs(3, addr="x"))
    d1 = _write_dir(tmp_path, "d1", _msgs(2, addr="y"))
    r = AMQPScaleOutStreamReader({"spooldirs": f"{d0},{d1}"})
    start = r.initialOffset()
    end1 = r.latestOffset()
    parts = r.partitions(start, end1)
    assert len(parts) == 2
    assert all(isinstance(p, _SpoolRangePartition) for p in parts)
    rows = [row for p in parts for row in envelope_rows(r.read(p))]
    assert len(rows) == 5

    # incremental: only d1 grows -> exactly one partition, only new rows
    _write_dir(tmp_path, "d1", _msgs(3, start=2, addr="y"))
    end2 = r.latestOffset()
    parts2 = r.partitions(end1, end2)
    assert len(parts2) == 1
    new_rows = envelope_rows(r.read(parts2[0]))
    assert [row[0] for row in new_rows] == ["y-2", "y-3", "y-4"]

    # replayability: the first range re-reads identically (exactly-once
    # on a durable spool)
    replay = [row for p in r.partitions(start, end1) for row in envelope_rows(r.read(p))]
    assert [row[0] for row in replay] == [row[0] for row in rows]


def test_scaleout_admission_cap_bounds_batches(tmp_path):
    """maxBytesPerBatch: a deep backlog arriving on a RUNNING stream
    drains as multiple bounded, newline-aligned batches whose union is
    exactly the backlog.  (The first latestOffset after construction is
    deliberately uncapped — restart safety — so the stream is primed on
    an empty dir first.)"""
    d0 = str(tmp_path / "d0")
    import os

    os.makedirs(d0)
    probe = _write_dir(tmp_path, "probe", _msgs(20, addr="x"))
    line_bytes = _complete_bytes(f"{probe}/000.jsonl") // 20
    r = AMQPScaleOutStreamReader(
        {"spooldirs": d0, "maxbytesperbatch": str(line_bytes * 6)}
    )
    offs = [r.initialOffset()]
    assert r.latestOffset() == {d0: {}}  # primed while empty (uncapped call)
    _write_dir(tmp_path, "d0", _msgs(20, addr="x"))
    ids: list[str] = []
    batches = 0
    while True:
        end = r.latestOffset()
        if end == offs[-1]:
            break
        ids += [row[0] for p in r.partitions(offs[-1], end) for row in envelope_rows(r.read(p))]
        offs.append(end)
        batches += 1
        assert batches < 20, "cap not advancing"
    assert batches == 4  # ceil(20 / 6) with newline alignment
    assert ids == [f"x-{i}" for i in range(20)]


def test_scaleout_first_latest_offset_uncapped_after_restart(tmp_path):
    """A fresh (restarted) reader's first latestOffset must never return
    offsets below a checkpointed start: it is uncapped, so a capped
    count-from-zero can't plan ranges that re-deliver consumed data."""
    d0 = _write_dir(tmp_path, "d0", _msgs(50, addr="x"))
    path = f"{d0}/000.jsonl"
    full = _complete_bytes(path)
    with open(path, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    start_48 = sum(len(ln) for ln in lines[:48])  # aligned offset of x-48
    # simulate restart: brand-new reader, checkpointed start deep in the file
    r = AMQPScaleOutStreamReader(
        {"spooldirs": d0, "maxbytesperbatch": str((full // 50) * 5)}
    )
    end = r.latestOffset()
    assert end[d0][path] == full  # not capped below the checkpointed start
    start = {d0: {path: start_48}}  # checkpoint
    rows = [row for p in r.partitions(start, end) for row in envelope_rows(r.read(p))]
    assert [row[0] for row in rows] == ["x-48", "x-49"]  # only the tail


def test_scaleout_oversized_line_still_progresses(tmp_path):
    """A single line larger than maxBytesPerBatch must be admitted anyway
    (progress beats the cap) — otherwise its file stalls forever while
    later files overtake it."""
    d0 = str(tmp_path / "d0")
    import os

    os.makedirs(d0)
    big = {"message_id": "big", "to_address": "x", "body": "B" * 5000}
    r = AMQPScaleOutStreamReader({"spooldirs": d0, "maxbytesperbatch": "100"})
    prev = r.latestOffset()  # primed (empty, uncapped first call)
    _write_dir(tmp_path, "d0", [big])
    _write_dir(tmp_path, "d0", _msgs(1, addr="y"), fname="001.jsonl")
    end1 = r.latestOffset()
    rows1 = [row for p in r.partitions(prev, end1) for row in envelope_rows(r.read(p))]
    assert [row[0] for row in rows1] == ["big"]  # over-budget line admitted
    end2 = r.latestOffset()
    rows2 = [row for p in r.partitions(end1, end2) for row in envelope_rows(r.read(p))]
    assert [row[0] for row in rows2] == ["y-0"]  # FIFO preserved, no loss


def test_scaleout_offsets_exclude_torn_write(tmp_path):
    d0 = _write_dir(tmp_path, "d0", _msgs(2, addr="x"))
    p = f"{d0}/000.jsonl"
    complete = _complete_bytes(p)
    with open(p, "a") as f:
        f.write('{"message_id": "torn", "bo')  # no newline yet
    assert _complete_bytes(p) == complete  # torn tail not in the offset
    with open(p, "a") as f:
        f.write('dy": "9"}\n')
    assert _complete_bytes(p) > complete


def test_scaleout_checkpoint_restart_no_duplicates(amqp, tmp_path):
    """Stop mid-stream, append, restart from checkpoint: every message
    exactly once (byte-range offsets are deterministic replay)."""
    d0 = _write_dir(tmp_path, "d0", _msgs(3, addr="x"))
    ckpt = str(tmp_path / "ckpt")
    seen: list[str] = []

    def run_once():
        df = api.create_scaleout_stream(amqp, [d0])
        q = (
            df.writeStream.foreachBatch(
                lambda b, _e: seen.extend(r.message_id for r in b.collect())
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    assert sorted(seen) == ["x-0", "x-1", "x-2"]
    _write_dir(tmp_path, "d0", _msgs(2, start=3, addr="x"))
    run_once()  # restart from checkpoint: only the appended tail arrives
    assert sorted(seen) == ["x-0", "x-1", "x-2", "x-3", "x-4"]


def _msg_to_row(msg: dict) -> tuple:
    """The tuple-path reference: one message dict → one envelope-schema
    row, as the sources built it before they decoded columnar."""
    from streaming_amqp_spark.sources.amqp import (
        _json_encode_body,
        _parse_iso_ts,
    )

    body_type, body_json, body_bin = _json_encode_body(msg.get("body"))
    if msg.get("body_b64") is not None:  # spool-file binary bodies
        body_type, body_json = "data", None
        body_bin = base64.b64decode(msg["body_b64"])
    ingest = _parse_iso_ts(msg["ingest_ts"])
    props = msg.get("application_properties") or None
    annotations = msg.get("message_annotations") or None
    return (
        msg.get("message_id"),
        msg.get("to_address"),
        msg.get("subject"),
        msg.get("reply_to"),
        msg.get("correlation_id"),
        {str(k): str(v) for k, v in props.items()} if props else None,
        {str(k): str(v) for k, v in annotations.items()} if annotations else None,
        body_type,
        body_json,
        body_bin,
        ingest,
    )


def test_arrow_batch_bit_equals_stock_tuple_conversion():
    """The sources ship envelope rows as RecordBatches built column-wise
    from the message dicts (``_msgs_to_arrow``) instead of tuples, skipping
    the worker's per-row converter loop.  Pin bit-equality against that
    stock loop (pyspark conversion.py converters + the same arrow schema)
    applied to the tuple-path rows, over a corpus that exercises every
    coercion seam: non-string ids (int, bool, float incl. NaN/Infinity,
    integers above 2^63), numeric and bool map values, int/bool/float/
    nested bodies, binary b64 bodies, naive and offset timestamps, absent
    optional fields.  The corpus goes through the spool line decode, as
    the readers see it."""
    import pyarrow as pa
    from pyspark.sql.conversion import LocalDataToArrowConversion

    from streaming_amqp_spark.envelope import ENVELOPE_SCHEMA
    from streaming_amqp_spark.sources.amqp import (
        _arrow_env,
        _msgs_to_arrow,
        _parse_spool_line,
    )

    odd_ids = [7, True, 2.5, float("nan"), float("inf"), -float("inf"),
               2**63 + 1, -(2**64)]
    odd_bodies = [42, False, 1.25, float("nan"), float("inf"), 2**70,
                  {"nested": [1, {"deep": None}, "x"]}, [True, 2.0], ""]
    msgs = []
    for i in range(240):
        m = {
            "message_id": f"m{i}",
            "to_address": "t",
            "body": str(i % 10),
            "ingest_ts": f"2024-01-01T00:00:{i % 60:02d}.{i:06d}",
        }
        if i % 3 == 0:
            m["application_properties"] = {"k": "v", "n": i, "b": True,
                                           "big": 2**64, "f": float("nan")}
            m["message_annotations"] = {"x": 1.5, "inf": float("-inf")}
        if i % 4 == 1:
            m["body"] = odd_bodies[i % len(odd_bodies)]
        if i % 5 == 0:
            m["body"] = {"nested": [1, 2, i]}
        if i % 7 == 0:
            m["body_b64"] = "aGVsbG8="
        if i % 11 == 0:
            m["message_id"] = odd_ids[i % len(odd_ids)]
            m["subject"] = True  # bool -> "true"
            m["correlation_id"] = 2**63 + i
            m["ingest_ts"] = "2024-06-01T05:06:07.123456+02:00"
        if i % 17 == 0:
            m["ingest_ts"] = "2023-12-31T23:59:59-05:30"
        if i % 13 == 0:
            m["body"] = None
        if i % 19 == 0:
            m["application_properties"] = {}  # empty map -> NULL
        msgs.append(m)
    # the readers' input: spool lines through the one line decode
    msgs = [_parse_spool_line(json.dumps(m).encode()) for m in msgs]
    assert all(m is not None for m in msgs)

    rows = [_msg_to_row(m) for m in msgs]
    _, schema = _arrow_env()
    converters = [
        LocalDataToArrowConversion._create_converter(
            f.dataType, none_on_identity=False
        )
        for f in ENVELOPE_SCHEMA.fields
    ]
    pylist: list[list] = [[] for _ in ENVELOPE_SCHEMA.fields]
    for r in rows:
        for c, conv in enumerate(converters):
            pylist[c].append(conv(r[c]))
    stock = pa.RecordBatch.from_arrays(pylist, schema=schema)

    mine = _msgs_to_arrow(msgs)
    assert mine.schema.equals(stock.schema)
    for c in range(stock.num_columns):
        assert mine.column(c).equals(stock.column(c)), schema.names[c]


_LOCAL_TS_CHECK = """
from datetime import datetime, timedelta, timezone
from streaming_amqp_spark.sources.amqp import _utc_micros

epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
us = timedelta(microseconds=1)
t, step, shifted = datetime(2024, 1, 1), timedelta(seconds=599, microseconds=123457), 0
while t.year == 2024:
    stock = (t.astimezone(timezone.utc) - epoch) // us
    assert _utc_micros(t) == stock, t
    shifted += stock != (t - datetime(1970, 1, 1)) // us
    t += step
assert shifted, "the time zone did not apply"
"""


@pytest.mark.parametrize(
    "tz", ["America/New_York", "Australia/Lord_Howe", "Asia/Kolkata"]
)
def test_naive_ingest_ts_read_as_local_time_like_stock(tz):
    """The stock TimestampType converter reads a naive time as local time
    (``astimezone``); the builder memoizes that shift per whole second.
    Over a year of irregular steps, through DST gaps and overlaps (a
    30-minute one on Lord Howe), both give the same instant."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", _LOCAL_TS_CHECK], check=True,
                   env={**os.environ, "TZ": tz}, cwd=repo, timeout=120)


def test_arrow_batch_of_no_rows_is_empty_envelope_batch():
    """No messages convert to a zero-row RecordBatch carrying the envelope
    Arrow schema (the readers still return an empty iterator for an empty
    fetch; this pins the builder itself)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from streaming_amqp_spark.envelope import ENVELOPE_SCHEMA
    from streaming_amqp_spark.sources.amqp import _msgs_to_arrow

    batch = _msgs_to_arrow([])
    assert batch.num_rows == 0
    assert batch.schema.equals(to_arrow_schema(ENVELOPE_SCHEMA))
