"""Run isolation, timed session set-up, progress listener and RSS sampling.

Everything a run writes lives under one fresh directory inside the
checkout (spool, checkpoints, sink, tables, event log, Spark scratch and
temp files) and is deleted when the run ends.  The stream workloads run
Spark on ``local[k]`` with ``k = nproc - 1``: the load generator is the one
other busy process.  ``batch_session`` picks its own ``k``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a small fixed heap cap keeps peak RSS comparable across runs (with the
# program's 16g default, heap growth varies by hundreds of MB run to run)
DRIVER_MEM = "1g"


def cores() -> int:
    return max(1, (os.cpu_count() or 2) - 1)


def check_program() -> None:
    """Fail fast (non-zero exit, no result line) when the checkout does not
    hold the program under test."""
    if not os.path.isdir(os.path.join(ROOT, "streaming_amqp_spark")):
        raise SystemExit(
            f"perfbench: no streaming_amqp_spark package under {ROOT}; "
            "run from the root of a full checkout"
        )


class RunDir:
    """The run's private scratch tree under ``<checkout>/.perfbench_runs``."""

    def __init__(self) -> None:
        self.path = os.path.join(
            ROOT, ".perfbench_runs", f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(self.path)
        tmp = self.sub("tmp")
        # Python tempfile, the JVM launcher and Spark scratch all stay in
        # the run dir; PYTHONPATH lets Spark's Python workers import the
        # package (the data source is pickled by module reference).
        os.environ["TMPDIR"] = tmp
        # every JVM (Spark's launcher and the driver): temp files in the run
        # dir, and no hsperfdata file, which HotSpot always puts in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        import tempfile

        tempfile.tempdir = tmp

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass


def _spark_confs(run: RunDir, event_log_dir: str | None) -> dict[str, str]:
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": run.sub("warehouse"),
    }
    if event_log_dir:
        # uncompressed: Python's standard library cannot read the zstd default
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log_dir,
        })
    return confs


def _warm_up(spark) -> None:
    """Register the AMQP source and run one tiny aggregation, so the first
    measured query does not pay task launch and whole-stage codegen."""
    from streaming_amqp_spark.sources.amqp import register_amqp_source

    register_amqp_source(spark)
    if spark.range(1000).selectExpr("sum(id)").collect()[0][0] != 499500:
        raise RuntimeError("warm-up query returned a wrong sum")


def start_session(run: RunDir, event_log_dir: str | None = None,
                  k: int | None = None):
    """One timed set-up: a fresh JVM on ``local[k]`` (default ``cores()``),
    the program's session factory, source registration and the warm-up
    query.  Returns (session, seconds)."""
    t0 = time.perf_counter()
    from streaming_amqp_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{k or cores()}]",
        extra_confs=_spark_confs(run, event_log_dir),
    )
    _warm_up(spark)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session AND its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------


class ProgressLog:
    """Collects ``StreamingQueryProgress`` JSON through a listener."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []
        lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with lock:
                    events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._events, self._lock = events, lock
        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def of(self, query_id: str) -> list[dict]:
        with self._lock:
            return [e for e in self._events if e["id"] == query_id]

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def wait_for(pred, timeout: float, what: str, poll: float = 0.02) -> None:
    end = time.monotonic() + timeout
    while not pred():
        if time.monotonic() > end:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(poll)


class RssSampler:
    """Peak summed RSS of the JVM and the Python processes in this process's
    tree (the benchmark itself, Spark's Python workers, the generator),
    sampled every 50 ms.  A process forked by the JVM still running the JVM
    image (just before it execs a helper command) is skipped: it shares the
    JVM's pages, and counting it would add a phantom second JVM."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _tree_rss(self) -> int:
        procs: dict[int, tuple[int, str, int]] = {}  # pid -> (ppid, comm, rss)
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            procs[int(d)] = (ppid, comm, pages * self._page)
        me = os.getpid()
        total = 0
        for pid, (ppid, comm, rss) in procs.items():
            if not comm.startswith(("java", "python")):
                continue
            if comm.startswith("java") and procs.get(ppid, (0, ""))[1].startswith("java"):
                continue
            p = pid
            while p and p != me:
                p = procs.get(p, (0,))[0]
            if p == me:
                total += rss
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.05):
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def close(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / 2**20


def run_generator(dirs: list[str], seed: int, start: int, count: int,
                  rate: float, fname: str, stats: str | None = None):
    """Start the load generator as its own process; returns the Popen."""
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "loadgen.py"),
        "--dirs", ",".join(dirs), "--seed", str(seed), "--start", str(start),
        "--count", str(count), "--rate", str(rate), "--file", fname,
    ]
    if stats:
        cmd += ["--stats", stats]
    return subprocess.Popen(cmd)


def finish_generator(proc, timeout: float = 120) -> None:
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
        raise
    if rc != 0:
        raise RuntimeError(f"load generator exited with {rc}")
