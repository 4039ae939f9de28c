"""SparkSession factory tuned for both local testing and cluster scale.

Local runs are ``local[N]`` (single JVM); the configs below are the ones
that also matter on a 1000-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), UTC session timezone (DuckDB-oracle
parity and sane event-time semantics), Arrow for any Python exchange, and
shuffle partitions sized to the parallelism at hand rather than the
200-partition default.

That width (``spark.sql.shuffle.partitions``) is derived, not pinned:
unless ``extra_confs`` or the SparkConf (``spark-submit --conf``,
``spark-defaults.conf``) sets it, it is the session's
``sparkContext.defaultParallelism`` (N for ``local[N]``).  Batch shuffles
are AQE-coalesced either way; stateful streams keep one versioned state
store per shuffle partition and commit all of them every micro-batch, so
there the width is a fixed per-batch cost.  A query restarted from a
checkpoint keeps the width recorded in its offset log.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuning knobs that are correct at any scale.  Shuffle partitions are not
# here: get_spark derives them from the session's parallelism unless set
# explicitly.  Cluster deployments override memory via spark-submit;
# nothing here pins local mode.
_BASE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep broadcast threshold at default 10 MB; explicit broadcast() hints
    # are used where a side is known-small (dimension tables).
    "spark.sql.parquet.filterPushdown": "true",
    # events.ts has shipped both as TIMESTAMP(NANOS) and as timestamp[us]
    # (see tables.load_table, which normalizes either); keep nanosAsLong so
    # the legacy nanos encoding reads as a raw long instead of erroring.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # local[N] runs the whole engine in the driver JVM, whose default 1g
    # heap starves 32 executor threads (OOM on sf1-scale shuffles).  Size
    # it like one real executor; a cluster deployment overrides via
    # spark-submit and this conf is then driver-only.  Applied at JVM
    # launch, so it only takes effect for the process's first session.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark: SparkSession) -> None:
    """Switch streaming state to the RocksDB provider (SURVEY §7.4.5's
    100 TB prescription: watermark-bounded state that spills to local
    disk instead of living in executor heap).  Takes effect for queries
    started AFTER the call; the default HDFS-backed store remains right
    for tiny local tests.  Built into Spark — no extra jars."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
    )


def get_spark(
    app_name: str = "streaming_amqp_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is supplied — mirrors the driver harness.
    ``spark.sql.shuffle.partitions`` follows ``defaultParallelism`` unless
    ``extra_confs`` or the SparkConf sets it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _BASE_CONFS.items():
        builder = builder.config(k, v)
    if extra_confs:
        for k, v in extra_confs.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    # extra_confs reach the SparkConf only when this call built the context
    explicit = _SHUFFLE_PARTITIONS in (extra_confs or {}) or (
        sc.getConf().contains(_SHUFFLE_PARTITIONS)
    )
    if not explicit:
        spark.conf.set(_SHUFFLE_PARTITIONS, str(sc.defaultParallelism))
    sc.setLogLevel("WARN")
    return spark
