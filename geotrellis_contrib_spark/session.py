"""SparkSession factory with the engine's scale-oriented defaults.

Local mode here is a stand-in for a multi-executor cluster: every knob is
chosen so the same code runs unchanged on 1000 executors (AQE, skew-join
handling, Arrow batching, partition sizing).

Python workers start from :mod:`geotrellis_contrib_spark.pyworker`, which
runs Spark's own ``pyspark.daemon`` after two steps. It drops Spark's zipped
PySpark and py4j copies from the worker path when the installed, unzipped
PySpark has the same version, so workers import byte-compiled modules and
each task's ``importlib.invalidate_caches()`` no longer re-reads every zip.
Then it imports pandas, pyarrow and the Arrow serializers once, before any
worker is forked. When no matching installed copy exists, the path stays as
Spark set it; the preload still happens. Workers must be able to import
``geotrellis_contrib_spark``, as the module-level UDF kernels already
require (the repo root as the driver's working directory, or the package
installed on the workers)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(app_name: str = "geotrellis_contrib_spark",
                cores: int | str | None = None,
                shuffle_partitions: int | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores in ("*",) else max(int(cores) * 2, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle sizing: match core count locally; on a real cluster this is
        # sized so post-shuffle partitions ~128-256MB (AQE coalesces anyway)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        # The engine's streaming surface is availableNow catch-up drains
        # with per-call fresh checkpoints (streaming/*.py): the state
        # stores are write-once and the checkpoint dir is deleted right
        # after the drain, so the default 60 s maintenance cycle only
        # re-snapshots stores that are about to be discarded — and its
        # I/O bleeds into whatever runs next in the session (measured:
        # +2-11 s on queries following a stream). Long-running
        # update-mode deployments should override this back down.
        .config("spark.sql.streaming.stateStore.maintenanceInterval",
                "3600s")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "geotrellis_contrib_spark.pyworker")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
