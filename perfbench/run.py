"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_window --seed 1 --seconds 15 --trace 0

``--trace 0`` runs one workload untraced and prints its end-to-end
metrics.  ``--trace 1`` is the traced profile: whatever ``--workload``
names, it runs ``ingest_window`` and ``batch_session``, each in its own
session with the event log on, records spans around the calls into each
layer and prints every per-layer metric (perfbench/README.md says which
workload each comes from).  Human-readable lines start with ``#``; the
last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import benchstats as bs  # noqa: E402
from perfbench import harness  # noqa: E402

WORKLOADS = ("ingest_window", "relay_scaleout", "batch_session")
TRACED = ("ingest_window", "batch_session")
END_TO_END = {
    "setup_s": "s",
    "ingest_msgs_per_s": "msg/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "batch_cold_s": "s",
    "batch_warm_s": "s",
    "peak_rss_mb": "MB",
}

TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")
_UNITS = (  # per-layer unit by the end of the metric's name, less .<pass>
    ("_bytes_per_msg", "B/msg"), ("_bytes", "bytes"), ("_ms", "ms"),
    ("_ms_p99", "ms"), ("_s", "s"), ("rows_per_read", "rows"),
    ("rows_total", "rows"), ("_msgs", "msg"),
)


def unit_of(name: str) -> str:
    base = name.removesuffix(".cold").removesuffix(".warm")
    for end, unit in _UNITS:
        if base.endswith(end):
            return unit
    return "count"


def _cores(name: str) -> int | None:
    if name == "batch_session":
        from perfbench.batch import CORES

        return CORES
    return None


def _workload_fn(name: str):
    if name == "batch_session":
        from perfbench.batch import batch_session

        return batch_session
    from perfbench import streams

    return getattr(streams, name)


def untraced(run, workload: str, seed: int, seconds: int) -> dict:
    rss = harness.RssSampler()
    spark, raw_setup = harness.start_session(run, k=_cores(workload))
    try:
        raw = _workload_fn(workload)(spark, run, seed, seconds)
    finally:
        harness.stop_session(spark)
    # batch_session's first pass over its query list is set-up work
    raw["setup_s"] = raw_setup + raw.get("_first_pass_s", 0.0)
    raw["peak_rss_mb"] = rss.close()
    return raw


def traced(run, seed: int, seconds: int) -> tuple[dict, dict]:
    """The traced profile: ``ingest_window`` (with replays of the simple
    reader and of the scale-out reader and writer) and ``batch_session``,
    each in a fresh session with the event log on."""
    metrics: dict = {}
    report: dict = {}
    for w in TRACED:
        tracer = bs.Tracer(run_id=f"{w}-{seed}")
        log_dir = run.sub(f"eventlog-{w}")
        spark, setup = harness.start_session(run, event_log_dir=log_dir, k=_cores(w))
        try:
            raw = _workload_fn(w)(spark, run, seed, seconds, tracer=tracer)
        finally:
            harness.stop_session(spark)
        if w == "batch_session":
            from perfbench.batch import event_log_layers

            raw.update(event_log_layers(log_dir, tracer))
        (root,) = [s for s in tracer.spans if s.name == f"workload.{w}"]
        coverage = 1 - bs.self_times(tracer.spans)[root.span_id] / root.duration
        os.makedirs(TRACE_DIR, exist_ok=True)
        tracer.dump(os.path.join(TRACE_DIR, f"{w}-{seed}.json"))
        metrics.update(
            (k, v) for k, v in raw.items()
            if not k.startswith("_") and k not in END_TO_END)
        report[w] = {
            "setup_s": setup + raw.get("_first_pass_s", 0.0),
            **{k: raw[k] for k in END_TO_END if k in raw},
            "coverage": coverage,
            "self_time_s": bs.self_time_by_layer(
                [s for s in tracer.spans if s.parent is not None]),
            "failed": raw["_failed"], "attempted": raw["_attempted"],
        }
    return metrics, report


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    harness.check_program()
    # a terminated run still stops Spark and deletes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run = harness.RunDir()
    t0 = time.perf_counter()
    try:
        if args.trace:
            layer, report = traced(run, args.seed, args.seconds)
            attempted = sum(r["attempted"] for r in report.values())
            failed = sum(r["failed"] for r in report.values())
            for w, r in report.items():
                print(f"# {w}: coverage {r['coverage']:.3f}, traced end-to-end "
                      + ", ".join(f"{k}={r[k]:.4g}" for k in END_TO_END if k in r))
                top = sorted(r["self_time_s"].items(), key=lambda kv: -kv[1])[:8]
                print("#   self time: " + ", ".join(f"{k}={v:.3f}s" for k, v in top))
            metrics = {k: {"value": v, "unit": unit_of(k)}
                       for k, v in sorted(layer.items())}
        else:
            raw = untraced(run, args.workload, args.seed, args.seconds)
            attempted, failed = raw["_attempted"], raw["_failed"]
            for k, unit in END_TO_END.items():
                print(f"# {k:<20} {raw[k]:>14.4f} {unit}")
            print(f"# {'failed_ratio':<20} {failed / attempted:>14.4f} ratio "
                  f"({failed} of {attempted})")
            if (beyond := raw.get("_latency_batches_beyond_p90")) is not None:
                print(f"# latency samples {raw['_latency_samples']}, micro-batches "
                      f"beyond p90: {beyond} (p90 needs {bs.MIN_SAMPLES_BEYOND})")
            if "_cycles" in raw:
                print(f"# first pass (in setup_s) {raw['_first_pass_s']:.2f} s, "
                      f"{raw['_cycles']} cold+warm cycles measured")
            for k, v in (raw.get("_errors") or {}).items():
                print(f"# FAILED {k}: {v[:300]}")
            metrics = {k: {"value": raw[k], "unit": u} for k, u in END_TO_END.items()}
        print(f"# run took {time.perf_counter() - t0:.1f} s")
    finally:
        run.close()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
