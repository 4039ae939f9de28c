"""The session factory's shuffle width: ``get_spark`` sizes
``spark.sql.shuffle.partitions`` to the session's ``defaultParallelism``
unless a value is given explicitly.  Each case runs in a fresh JVM (a
subprocess), because the width is decided when the session is built and
the suite's shared session already exists."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from streaming_amqp_spark.session import get_spark
spark = get_spark("session-width-probe", master="local[2]"{extra})
print("WIDTH", spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def _env(**extra: str) -> dict[str, str]:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", **extra)
    if "PYSPARK_SUBMIT_ARGS" not in extra:
        env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def _width(extra_confs: dict[str, str] | None = None, **env: str) -> str:
    extra = f", extra_confs={extra_confs!r}" if extra_confs else ""
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=str(REPO), extra=extra)],
        capture_output=True, text=True, timeout=300, env=_env(**env),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("WIDTH ")]
    assert len(lines) == 1, out.stdout
    return lines[0].split()[1]


def test_width_follows_the_session_cores():
    assert _width() == "2"


def test_extra_confs_width_wins():
    assert _width({"spark.sql.shuffle.partitions": "5"}) == "5"


def test_spark_submit_conf_width_wins():
    """A ``spark-submit --conf`` value reaches the SparkConf and is kept."""
    assert _width(
        PYSPARK_SUBMIT_ARGS="--conf spark.sql.shuffle.partitions=6 "
        "pyspark-shell"
    ) == "6"


def test_determinism_sweep_refuses_a_layout_equal_to_the_session():
    """With the width following the cores, an --alt-partitions equal to
    the session's own width would compare a layout with itself."""
    out = subprocess.run(
        [
            sys.executable, str(REPO / "tools" / "determinism_sweep.py"),
            "--alt-partitions", "2", "--only", "q1_pricing_summary",
        ],
        capture_output=True, text=True, timeout=300,
        env=_env(SPARK_GRAFT_CPUS="2"), cwd=str(REPO),
    )
    assert out.returncode == 1, out.stdout + out.stderr[-2000:]
    assert "REFUSED: --alt-partitions 2 equals" in out.stdout
