"""The two stream workloads: ``ingest_window`` and ``relay_scaleout``.

Both run one streaming query through two phases:

- drain: a fixed backlog appears at once; the reader's admission cap
  splits it into several micro-batches.  Throughput is messages committed
  per second from the end of the first to the end of the last drain batch.
- paced: the load generator (its own process, open loop) offers a fixed
  rate for ``--seconds``; each message's latency runs from its due time
  to the end of the micro-batch that committed it.

Outputs are checked after the query stops, outside the timed region.
"""

from __future__ import annotations

import bisect
import json
import os
import time
import uuid
from collections import Counter
from datetime import datetime, timezone

from perfbench import benchstats as bs
from perfbench.harness import (
    ProgressLog,
    cores,
    finish_generator,
    run_generator,
    wait_for,
)

# ingest_window: driver-side reader, canonical 5 s tumbling max
INGEST_CAP = 20_000  # maxMessagesPerBatch
INGEST_BACKLOG = 100_000  # five full batches: one cold, four warm
# msg/s in the paced phase: under half the drain rate even when the host
# runs slow, so the latency phase never nears saturation
INGEST_RATE = 3_000.0
# relay_scaleout: executor-side reader, one spool dir per core, amqp sink
RELAY_CAP_BYTES = 800_000  # maxBytesPerBatch, per directory
RELAY_BACKLOG = 150_000
RELAY_RATE = 7_000.0  # about half the scale-out drain rate on 3 cores
REPLAY_RELAY_MSGS = 30_000  # the traced profile's scale-out/writer replay

QUERY_TIMEOUT_S = 120
BACKLOG_FILE, PACED_FILE = "000000.jsonl", "000001.jsonl"


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso).replace(tzinfo=timezone.utc).timestamp()


def read_spool(path: str) -> list[tuple[int, dict]]:
    """Every message of one spool file with the byte offset just past it."""
    out = []
    pos = 0
    with open(path, "rb") as f:
        for raw in f:
            pos += len(raw)
            if raw.strip():
                out.append((pos, json.loads(raw)))
    return out


def _committed_seq(progress: list[dict]) -> int:
    ends = bs.batches_from_progress(progress)
    return ends[-1].end["seq"] if ends else 0


def _committed_bytes(progress: list[dict]) -> int:
    ends = bs.batches_from_progress(progress)
    return sum(ends[-1].end.values()) if ends else 0


def _run_phases(q, log: ProgressLog, committed, backlog, paced) -> list[dict]:
    """Drive a started query through both phases and stop it.

    ``committed(progress)`` is the committed position; ``backlog()`` writes
    the backlog and returns the position that drains it; ``paced()`` runs
    the paced generator to completion and returns the final position.
    Returns the query's progress events in batch order."""

    def reached(pos: int) -> bool:
        if q.exception():
            raise RuntimeError(f"stream failed: {q.exception()}")
        return committed(log.of(str(q.id))) >= pos

    try:
        target = backlog()
        wait_for(lambda: reached(target), QUERY_TIMEOUT_S, "backlog drain")
        target = paced()
        wait_for(lambda: reached(target), QUERY_TIMEOUT_S, "paced phase commit")
        # the window query follows its last data batch with a no-data batch
        # that advances the watermark; stopping inside it logs spurious
        # state-store commit errors
        try:
            wait_for(lambda: not q.status["isTriggerActive"], 10, "idle trigger")
        except TimeoutError:
            pass
    finally:
        q.stop()
        log.close()
    return sorted(log.of(str(q.id)), key=lambda p: p["batchId"])


def _drain_metrics(progress: list[dict], drain_rows: int) -> dict:
    """Throughput and cold/warm batch times of the drain phase."""
    drain, done = [], 0
    for p in progress:
        if done >= drain_rows:
            break
        if p.get("numInputRows"):
            drain.append(p)
            done += p["numInputRows"]
    if done != drain_rows or len(drain) < 3:
        raise RuntimeError(
            f"drain phase committed {done} of {drain_rows} rows in "
            f"{len(drain)} batches; need the full backlog in >= 3 batches"
        )
    ends = bs.batches_from_progress(drain)
    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in drain]
    return {
        "ingest_msgs_per_s": sum(p["numInputRows"] for p in drain[1:])
        / (ends[-1].end_time - ends[0].end_time),
        "batch_cold_s": trig[0],
        "batch_warm_s": bs.median(trig[1:]),
    }


def _latency_metrics(batches, paced) -> dict:
    lat, owner = bs.message_latencies(batches, paced)
    return {
        "latency_p50_ms": bs.percentile(lat, 50),
        "latency_p90_ms": bs.percentile(lat, 90),
        "_latency_samples": len(lat),
        "_latency_batches_beyond_p90": bs.groups_beyond(lat, owner, 90),
    }


def _microbatch_layers(progress: list[dict]) -> dict:
    """Medians over data batches of the micro-batch lifecycle phases and of
    the state operator's metrics."""
    data = [p for p in progress if p.get("numInputRows")]
    out = {"spark.microbatch.batches": len(data)}
    for phase in ("latestOffset", "addBatch", "walCommit", "commitOffsets",
                  "queryPlanning", "triggerExecution"):
        out[f"spark.microbatch.{phase}_ms"] = bs.median(
            [p["durationMs"].get(phase, 0) for p in data])
    ops = [p["stateOperators"][0] for p in data]
    out.update({
        "streaming.windows.state_rows_total": max(o["numRowsTotal"] for o in ops),
        "streaming.windows.state_update_ms": bs.median(
            [o["allUpdatesTimeMs"] for o in ops]),
        "streaming.windows.state_commit_ms": bs.median(
            [o["commitTimeMs"] for o in ops]),
        "streaming.windows.state_memory_bytes": max(
            o["memoryUsedBytes"] for o in ops),
        "streaming.windows.state_partitions": ops[-1]["numShufflePartitions"],
    })
    return out


def trace_progress(tracer: bs.Tracer, root: int, progress: list[dict],
                   t_start: float, t_end: float) -> None:
    """Spans for the query's lifetime from its progress events: one trigger
    span per batch with its phases laid end to end in execution order, and
    the trigger loop's time between batches (start-up, polls for new data,
    no-data batches without a progress event, stop)."""
    order = ("latestOffset", "walCommit", "queryPlanning", "getBatch",
             "addBatch", "commitOffsets")
    prev_end = t_start
    for p in sorted(progress, key=lambda p: p["batchId"]):
        t0 = bs.parse_progress_ts(p["timestamp"])
        dur = p["durationMs"]
        t1 = t0 + dur.get("triggerExecution", 0) / 1000
        if t0 > prev_end:
            tracer.add("spark.microbatch.loop", prev_end, t0, root)
        trig = tracer.add("spark.microbatch.trigger", t0, t1, root)
        cur = t0
        for ph in order:
            if ph in dur:
                end = min(t1, cur + dur[ph] / 1000)
                tracer.add(f"spark.microbatch.{ph}", cur, end, trig)
                cur = end
        prev_end = max(prev_end, t1)
    if t_end > prev_end:
        tracer.add("spark.microbatch.loop", prev_end, t_end, root)


def _timed(tracer: bs.Tracer, name: str, fn):
    """Run ``fn`` inside a span; returns (result, seconds)."""
    with tracer.span(name) as sid:
        out = fn()
    return out, tracer.spans[sid].duration


# ---------------------------------------------------------------------------


def ingest_window(spark, run, seed: int, seconds: int, tracer=None) -> dict:
    from streaming_amqp_spark import api
    from streaming_amqp_spark.streaming.windows import temperature_max_per_window

    spool = run.sub("ingest_window", "spool")
    gen_stats = os.path.join(run.sub("ingest_window"), "gen.json")
    n_paced = int(INGEST_RATE * seconds)
    total = INGEST_BACKLOG + n_paced
    finish_generator(run_generator([spool], seed, 0, INGEST_BACKLOG, 0,
                                   BACKLOG_FILE))
    log = ProgressLog(spark)
    name = f"win_{uuid.uuid4().hex[:8]}"
    t_start = time.time()
    env = api.create_stream(
        spark, transport="spool", spooldir=spool, reliable="true",
        maxMessagesPerBatch=INGEST_CAP,
    )
    q = (
        temperature_max_per_window(env)
        .writeStream.format("memory").queryName(name).outputMode("update")
        .option("checkpointLocation", run.sub("ingest_window", "ckpt"))
        .start()
    )

    def paced() -> int:
        finish_generator(run_generator([spool], seed, INGEST_BACKLOG, n_paced,
                                       INGEST_RATE, PACED_FILE, gen_stats))
        return total

    progress = _run_phases(q, log, _committed_seq, lambda: INGEST_BACKLOG, paced)
    t_end = time.time()
    out = _drain_metrics(progress, INGEST_BACKLOG)

    # -- latency and checks, outside the timed region
    msgs = [m for f in (BACKLOG_FILE, PACED_FILE)
            for _, m in read_spool(os.path.join(spool, f))]
    batches = bs.batches_from_progress(progress)
    paced_msgs = [("seq", i + 1, _epoch(m["ingest_ts"]))
                  for i, m in enumerate(msgs) if i >= INGEST_BACKLOG]
    out.update(_latency_metrics(batches, paced_msgs))
    expect: dict[int, int] = {}
    for m in msgs:
        w = int(_epoch(m["ingest_ts"]) // 5 * 5)
        expect[w] = max(expect.get(w, m["body"]), m["body"])
    got = dict(spark.sql(
        f"SELECT CAST(window_start AS BIGINT), max(max_temperature) "
        f"FROM {name} GROUP BY 1").collect())
    out["_attempted"] = len(msgs) + len(expect)
    out["_failed"] = abs(sum(p["numInputRows"] for p in progress) - len(msgs)) + sum(
        1 for w in expect.keys() | got.keys() if expect.get(w) != got.get(w))

    if tracer is not None:
        root = tracer.add("workload.ingest_window", t_start, t_end, None)
        trace_progress(tracer, root, progress, t_start, t_end)
        out.update(_microbatch_layers(progress))
        with open(gen_stats) as f:
            out["generator.late_ms_p99"] = json.load(f)["late_ms_p99"]
        # offered (by due time) minus committed, at each paced batch's end
        due = sorted(d for _, _, d in paced_msgs)
        out["ingest.backlog_max_msgs"] = max(
            bisect.bisect_right(due, b.end_time) - (b.end["seq"] - INGEST_BACKLOG)
            for b in batches if b.end["seq"] > INGEST_BACKLOG)
        out.update(replay_simple_reader(tracer, spool, len(msgs)))
        relay_dirs = [run.sub("ingest_window", "relay", f"d{i}")
                      for i in range(cores())]
        finish_generator(run_generator(relay_dirs, seed, 0, REPLAY_RELAY_MSGS, 0,
                                       BACKLOG_FILE))
        out.update(replay_scaleout(tracer, relay_dirs,
                                   run.sub("ingest_window", "relay-sink")))
    return out


def replay_simple_reader(tracer: bs.Tracer, spool: str, n_msgs: int) -> dict:
    """Replay the workload's spool through ``AMQPStreamReader.read`` /
    ``commit`` in this process, with the workload's admission cap."""
    from streaming_amqp_spark.sources.amqp import AMQPStreamReader

    reader = AMQPStreamReader({
        "transport": "spool", "spooldir": spool, "reliable": "true",
        "maxmessagesperbatch": str(INGEST_CAP),
    })
    reads, commits, rows = [], [], []
    off = reader.initialOffset()

    def read():
        it, end = reader.read(off)
        return sum(b.num_rows for b in it), end

    with tracer.span("replay.sources.amqp.simple"):
        while off["seq"] < n_msgs:
            (n, end), dt = _timed(tracer, "sources.amqp.read", read)
            reads.append(dt)
            rows.append(n)
            commits.append(_timed(tracer, "sources.amqp.commit",
                                  lambda: reader.commit(end))[1])
            if end["seq"] == off["seq"]:
                break
            off = end
    if off["seq"] != n_msgs:
        raise RuntimeError(f"reader replay admitted {off['seq']} of {n_msgs}")
    return {
        "sources.amqp.read_s": bs.median(reads),
        "sources.amqp.commit_s": bs.median(commits),
        "sources.amqp.rows_per_read": bs.median(rows),
        "sources.amqp.malformed": reader.transport.malformed,
    }


def _as_row(rec: dict):
    """A RecordBatch record as the Row Spark hands the writer (maps as dicts)."""
    from pyspark.sql import Row

    for k in ("application_properties", "message_annotations"):
        if rec[k] is not None:
            rec[k] = dict(rec[k])
    return Row(**rec)


def replay_scaleout(tracer: bs.Tracer, dirs: list[str], sink: str) -> dict:
    """Replay spool dirs through ``AMQPScaleOutStreamReader.latestOffset`` /
    ``partitions`` / ``read`` and the rows through ``AMQPWriter.write`` /
    ``commit``, in this process, with relay_scaleout's byte cap."""
    from streaming_amqp_spark.sources.amqp import (
        AMQPScaleOutStreamReader,
        AMQPWriter,
    )

    reader = AMQPScaleOutStreamReader({
        "spooldirs": ",".join(dirs), "maxbytesperbatch": str(RELAY_CAP_BYTES)})
    writer = AMQPWriter({"transport": "spool", "spooldir": sink})
    latest, part_reads, writes, commits = [], [], [], []
    sink_bytes = sink_msgs = 0
    start = reader.initialOffset()
    # in the workload the first (uncapped) poll sees empty dirs; planning
    # an empty range first arms the cap the same way
    reader.partitions(start, start)
    batch_id = 0
    with tracer.span("replay.sources.amqp.scaleout"):
        while True:
            end, dt = _timed(tracer, "sources.amqp.latestOffset", reader.latestOffset)
            latest.append(dt)
            if end == start:
                break
            msgs = []
            for pid, part in enumerate(reader.partitions(start, end)):
                rows, dt = _timed(tracer, "sources.amqp.partition_read", lambda: [
                    _as_row(r) for b in reader.read(part) for r in b.to_pylist()])
                part_reads.append(dt)
                msg, dt = _timed(tracer, "sources.amqp.writer_write",
                                 lambda: writer.write(iter(rows)))
                writes.append(dt)
                msg.partition_id = pid  # the task's partition id under Spark
                sink_bytes += os.path.getsize(msg.tmp_path)
                sink_msgs += msg.n_rows
                msgs.append(msg)
            commits.append(_timed(tracer, "sources.amqp.writer_commit",
                                  lambda: writer.commit(msgs, batch_id))[1])
            start, batch_id = end, batch_id + 1
    return {
        "sources.amqp.latest_offset_s": bs.median(latest),
        "sources.amqp.partition_read_s": bs.median(part_reads),
        "sources.amqp.writer_write_s": bs.median(writes),
        "sources.amqp.writer_commit_s": bs.median(commits),
        "sources.amqp.sink_bytes_per_msg": sink_bytes / sink_msgs,
    }


# ---------------------------------------------------------------------------


def relay_scaleout(spark, run, seed: int, seconds: int) -> dict:
    from streaming_amqp_spark import api

    dirs = [run.sub("relay_scaleout", "spool", f"d{i}")
            for i in range(cores())]
    sink = run.sub("relay_scaleout", "sink")
    files = [os.path.join(d, f) for f in (BACKLOG_FILE, PACED_FILE) for d in dirs]
    n_paced = int(RELAY_RATE * seconds)
    log = ProgressLog(spark)
    env = api.create_scaleout_stream(spark, dirs, maxBytesPerBatch=RELAY_CAP_BYTES)
    q = (
        env.writeStream.format("amqp")
        .option("transport", "spool").option("spooldir", sink)
        .option("checkpointLocation", run.sub("relay_scaleout", "ckpt"))
        .start()
    )

    def on_disk() -> int:
        return sum(os.path.getsize(f) for f in files if os.path.exists(f))

    def backlog() -> int:
        # the wave lands after the first (uncapped) poll, so the byte cap
        # splits it into several batches
        wait_for(lambda: q.status["message"].startswith("Waiting for data")
                 or q.exception(), QUERY_TIMEOUT_S, "first poll")
        finish_generator(run_generator(dirs, seed, 0, RELAY_BACKLOG, 0, BACKLOG_FILE))
        return on_disk()

    def paced() -> int:
        finish_generator(run_generator(dirs, seed, RELAY_BACKLOG, n_paced,
                                       RELAY_RATE, PACED_FILE))
        return on_disk()

    progress = _run_phases(q, log, _committed_bytes, backlog, paced)
    out = _drain_metrics(progress, RELAY_BACKLOG)

    src = {f: read_spool(f) for f in files}
    out.update(_latency_metrics(
        bs.batches_from_progress(progress),
        [(f, pos, _epoch(m["ingest_ts"]))
         for f in files if f.endswith(PACED_FILE) for pos, m in src[f]]))
    want = Counter(m["message_id"] for f in files for _, m in src[f])
    got = Counter(m["message_id"] for f in sorted(os.listdir(sink))
                  if f.endswith(".jsonl")
                  for _, m in read_spool(os.path.join(sink, f)))
    out["_attempted"] = sum(want.values())
    out["_failed"] = sum(((want - got) + (got - want)).values())
    return out
