"""SparkSession factory with scale-appropriate defaults.

Test/bench runs use ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster — AQE handles runtime re-planning (partition
coalescing, skew-join splitting), and the broadcast threshold keeps the
TPC-H-style dimension tables (region/nation/supplier/part at any SF) on the
map side of joins.

On ``local[...]`` masters the session's ``file://`` file system is
``clickhousemigrators3_spark.jvm.NoForkLocalFileSystem`` (``jvm/``: its Java
source and ``nofork-local-fs.jar``, rebuilt by ``scripts/build_nofork_fs.py``).
It is Hadoop's checksummed local file system, but sets file modes in the JVM
instead of forking ``chmod`` per file and directory, which Hadoop does when
its native library is missing (Spark ships none). Executors of a local
master live in the driver JVM, so the driver classpath is enough.

The same local-master step also sets ``spark.driver.defaultJavaOptions`` to
``LOCAL_JIT_FLAGS`` unless the caller sets it: the C2 (tier-4) compile
thresholds at 3× HotSpot's defaults (5000, 600, 15000, 40000). With the
defaults, a local driver's C1/C2 compiler threads spend about a third of a
one-shot ``migrate``'s set-up compiling start-up-only code with C2. With the
flags, C1 still compiles everything early and C2 waits for code that stays
hot. Spark puts the default options before ``spark.driver.extraJavaOptions``
and HotSpot keeps a flag's last value, so a caller's own ``-XX:`` flag wins.
10× thresholds cut set-up further but left the warm short queries of a long
session (``bench.py``) a quarter slower in C1's profiled code, and C1 alone
(``-XX:TieredStopAtLevel=1``) runs hot loops up to ~1.5× slower
(``docs/SCALE.md``, "JIT on local masters"). Cluster masters get no flags:
their long-lived JVMs want C2 early.
"""

from __future__ import annotations

import json
import os
import re
import site
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession

WORKER_DAEMON = "clickhousemigrators3_spark.worker_daemon"
NO_FORK_FS = "clickhousemigrators3_spark.jvm.NoForkLocalFileSystem"
NO_FORK_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "nofork-local-fs.jar"
)
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")
LOCAL_JIT_FLAGS = (
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
)


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


def local_driver_conf(master: str, caller_conf: dict[str, str]) -> dict[str, str]:
    """The driver entries ``get_spark`` sets over ``caller_conf`` (the
    caller's own entries) for a ``local[...]`` master: the jar goes first on
    the caller's ``spark.driver.extraClassPath``, and ``NO_FORK_FS`` becomes
    ``fs.file.impl`` and ``LOCAL_JIT_FLAGS`` the driver's
    ``defaultJavaOptions`` unless the caller names its own. Any other master
    gets nothing, since its executors would not have the jar and its
    long-lived JVMs want C2 early."""
    if not _LOCAL_MASTER.fullmatch(master):
        return {}
    class_path = [NO_FORK_FS_JAR, caller_conf.get("spark.driver.extraClassPath")]
    conf = {"spark.driver.extraClassPath": os.pathsep.join(filter(None, class_path))}
    if "spark.driver.defaultJavaOptions" not in caller_conf:
        conf["spark.driver.defaultJavaOptions"] = LOCAL_JIT_FLAGS
    if "spark.hadoop.fs.file.impl" not in caller_conf:
        conf["spark.hadoop.fs.file.impl"] = NO_FORK_FS
    return conf


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
    caller_conf = {k: str(v) for k, v in json.loads(env_conf or "{}").items()}
    caller_conf.update(extra_conf or {})
    caller_conf.update(local_driver_conf(master, caller_conf))
    for k, v in caller_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
