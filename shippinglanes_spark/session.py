"""SparkSession factory for the ShippingLanes-on-Spark engine.

Design notes (100 TB mandate):
- Everything is DataFrame/Catalyst; the session is configured so that the
  same logical plans scale from local[32] to a 1000-executor cluster.
- AQE stays ON: runtime shuffle coalescing, skew-join splitting and
  broadcast-join demotion are the knobs that survive a 100x scale-up.
- `spark.sql.shuffle.partitions` is a *local testing* default (small
  fixtures); on a real cluster AQE's coalescing makes the initial number
  mostly irrelevant as long as it is high enough.
"""

from __future__ import annotations

import os
from contextlib import contextmanager as _contextmanager

from pyspark.sql import SparkSession

from .core import input_width

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime confs applied to ANY session that runs engine queries (including a
# driver-provided session we did not create). All of these are documented
# runtime-settable SQL confs.
RUNTIME_CONFS = {
    # The fixture `events` table stores TIMESTAMP(NANOS) which Spark's
    # parquet reader rejects; read as int64 nanos and convert (see io.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle parity: DuckDB treats naive timestamps verbatim; with a UTC
    # session TZ, Spark TIMESTAMP(=LTZ) epoch math agrees exactly.
    "spark.sql.session.timeZone": "UTC",
}


def apply_runtime_confs(spark: SparkSession) -> None:
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf may be forbidden on a locked-down session; proceed


@_contextmanager
def stream_partitions(spark: SparkSession, bounded_input):
    """Pin the confs a streaming drain relies on for the duration of the
    drain, then restore the caller's values (also when the drain raises).
    A conf the session refuses to set is left as it is.

    - ``spark.sql.shuffle.partitions``: a streaming query captures its
      state-store partition count from this conf at query START and keeps
      it for the life of the checkpoint, and every micro-batch runs one
      state load/commit task per partition. The count follows one rule,
      the one ``core.fan_out_scaled`` uses: one partition per
      ``core.FAN_OUT_TASK_BYTES`` of the drain's bounded input, clamped
      to [1, defaultParallelism] (``core.input_width``).
      ``bounded_input`` is the batch DataFrame over the files the stream
      drains, or the feed's size in bytes.
    - ``spark.sql.streaming.noDataMicroBatches.enabled=true`` (Spark's
      default): watermark eviction after the last data batch runs in a
      no-data micro-batch, which ``stream_join_outer``'s null rows need.
    """
    confs = {
        "spark.sql.shuffle.partitions": str(input_width(spark, bounded_input)),
        "spark.sql.streaming.noDataMicroBatches.enabled": "true",
    }
    prev = {}
    for k, v in confs.items():
        try:
            before = spark.conf.get(k)
            spark.conf.set(k, v)
            prev[k] = before
        except Exception:
            pass  # locked-down session: run with whatever it has
    try:
        yield
    finally:
        for k, v in prev.items():
            try:
                spark.conf.set(k, v)
            except Exception:
                pass


def get_spark(
    app_name: str = "shippinglanes-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or reuse) the engine session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all cores.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Local fixtures are single small parquet files; 4m splits them
        # across cores. On a real cluster leave the 128m default
        # (SPARK_GRAFT_MAX_PARTITION_BYTES to override).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Single-JVM local mode: every task is PROCESS_LOCAL, so waiting
        # for a better locality level is pure scheduler latency — measured
        # 35% off the sub-second headline suite (win_rank 0.14 -> 0.08 s
        # steady at sf0.1). On a real cluster deployment keep the default
        # (override via SPARK_GRAFT_LOCALITY_WAIT=3s).
        .config(
            "spark.locality.wait",
            os.environ.get("SPARK_GRAFT_LOCALITY_WAIT", "0s"),
        )
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
        # Python workers start from the engine's daemon, which stops every
        # task from re-reading pyspark.zip and the spark-core jar (~0.2 s
        # per task; see pyworker.py). The package's parent goes on the
        # workers' PYTHONPATH so the daemon imports whatever directory the
        # JVM starts in; Spark merges its own paths into this value.
        .config("spark.python.daemon.module", "shippinglanes_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_confs(spark)
    return spark
