"""SparkSession factory with scale-appropriate defaults.

Test/bench runs use ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster — AQE handles runtime re-planning (partition
coalescing, skew-join splitting), and the broadcast threshold keeps the
TPC-H-style dimension tables (region/nation/supplier/part at any SF) on the
map side of joins.
"""

from __future__ import annotations

import os
import site
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession

WORKER_DAEMON = "clickhousemigrators3_spark.worker_daemon"


def worker_can_import_daemon(cwd: str, pythonpath: str) -> bool:
    """True when a Python worker started by this driver's JVM finds
    ``worker_daemon``: Spark runs ``python -m <daemon>`` in the driver's cwd
    with the driver's ``PYTHONPATH``, on top of the interpreter's
    site-packages. A daemon that fails to import would fail every Python
    task, so ``get_spark`` keeps ``pyspark.daemon`` otherwise."""
    dirs = [cwd, *filter(None, pythonpath.split(os.pathsep)), *site.getsitepackages()]
    spec = PathFinder.find_spec(WORKER_DAEMON.split(".")[0], dirs)
    return bool(spec and spec.submodule_search_locations) and os.path.isfile(
        os.path.join(spec.submodule_search_locations[0], "worker_daemon.py")
    )


def get_spark(
    app_name: str = "clickhousemigrators3_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this is left to AQE's coalescing with a high initial partition
    count instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- deterministic semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (events.ts) is unsupported by the vectorized
        # reader — read as long nanos; catalog.load_table converts losslessly
        # to timestamp_ntz (fixture nanos are µs-aligned, verified)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- adaptive execution: runtime re-plan for stragglers/skew ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- joins: dims broadcast, facts sort-merge ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- scans: pushdown + pruning are defaults, keep them on explicitly ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- python boundary: Arrow batches, never per-row pickling ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- writes: partition overwrite must be surgical (idempotent replay) ---
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if worker_can_import_daemon(os.getcwd(), os.environ.get("PYTHONPATH", "")):
        # keeps Spark's archives off the workers' import path
        # (worker_daemon.py): ~0.2 CPU s less per Python task
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON)
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
