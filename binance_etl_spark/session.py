"""SparkSession construction with engine-wide defaults.

Scale posture (100 TB target, tested on local[N]):
- AQE on: runtime re-planning (skew-join splitting, partition coalescing,
  broadcast-join demotion/promotion) is the single highest-leverage knob
  on a big cluster and costs nothing locally.
- shuffle.partitions sized for the local harness; on a real cluster this
  is AQE-coalesced from a deliberately high initial number.
- UTC session timezone so event-time semantics match the oracle (DuckDB)
  and are cluster-location-independent.
- Arrow enabled: every Pandas-UDF / toPandas boundary is Arrow-batched.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

_VENDOR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "vendor")
# built from jvm/*.java by scripts/build_jvm.py
_JVM_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "engine.jar")
_NIO_FS = "binance_etl_spark.jvm.NioLocalFileSystem"
_REPLAY_SOURCE = "binance_etl_spark.jvm.ReplaySource"


def ensure_protobuf() -> str:
    """Make `google.protobuf` importable, preferring a real install.

    Spark 4's transformWithStateInPandas Python worker needs protobuf
    (StateMessage_pb2) to talk to the JVM state server; this container
    has none, so the engine vendors a minimal from-scratch runtime
    (vendor/README.md). Must run BEFORE the JVM starts: local-mode
    Python workers inherit PYTHONPATH from the JVM process environment,
    which inherits it from this process at JVM fork.

    Returns which implementation is active: 'real' or 'shim'.
    """
    # The package's parent dir must ALSO reach worker PYTHONPATH:
    # Python DataSource planning/reading runs in JVM-forked Python
    # processes that inherit neither the driver's sys.path mutations
    # nor its cwd, so a driver launched from outside the repo root
    # (e.g. the sharded test runner's per-worker scratch cwd) would
    # hit `No module named 'binance_etl_spark'` inside every
    # snapshot-changes scan and book-sync task.
    _pkg_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _pkg_parent not in parts:
        parts.insert(0, _pkg_parent)
        os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    try:
        import google.protobuf  # noqa: F401

        return "real"
    except ImportError:
        pass
    if _VENDOR_DIR not in sys.path:
        sys.path.insert(0, _VENDOR_DIR)
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _VENDOR_DIR not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([_VENDOR_DIR] + parts)
    import google.protobuf  # noqa: F401  (fail loudly if the shim is broken)

    return "shim"

# Defaults chosen for the local[32] harness; every one of these is
# either scale-neutral or *more* important on a 1000-executor cluster.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Decimal ops keep full precision; overflow -> null rather than error,
    # matching ANSI-off analytics posture.
    "spark.sql.decimalOperations.allowPrecisionLoss": "true",
    # File sources: 128 MiB split targets parquet row-group alignment.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Keep Spark's stock 10 MiB: the estimate feeding this threshold is
    # COMPRESSED parquet bytes (column-pruned), which understates the
    # in-memory hashed-relation size ~5-10x. A generous threshold let
    # Catalyst broadcast a column-pruned FACT side (measured: TPC-H Q3
    # at ~sf1 broadcast the filtered 6M-row lineitem under 64 MiB —
    # 3.8s vs 1.1s, and a driver OOM at real scale). True dims are KBs
    # to a few MBs and still auto-broadcast; plans that must broadcast
    # use explicit broadcast() hints, which bypass the threshold.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # CollectLimit escalation (round-12, measured via scripts/
    # job_ledger.py): every `.limit(k).collect()` / `.first()` probe —
    # the PK dup gates, bloom-probe head collects, convergence probes,
    # and the bench's own materialize() — ran as 2-3 Spark JOBS because
    # Spark's first executeTake attempt covers 1 partition (stock
    # default) and escalates 4x per extra scheduler round-trip. The
    # first attempt should be one task WAVE: each limit task is
    # early-exit bounded (LocalLimit is pipelined) and upstream shuffle
    # stages are reused across attempts, so over-provisioning attempt
    # one costs bounded work while every saved attempt is a full
    # driver-scheduler round-trip on the critical path. Scale-adaptive
    # via the same env the core count follows, never a local constant.
    "spark.sql.limit.initialNumPartitions": os.environ.get(
        "SPARK_GRAFT_CPUS", "32"
    ),
    # Test data carries parquet TIMESTAMP(NANOS); read as long then convert
    # (catalog.load) — Spark's TimestampType is micros.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive parquet timestamps (isAdjustedToUTC=false) are engine-internal
    # UTC instants, not wall-clock NTZ: read them as TimestampType so
    # unix_micros/window/watermark semantics apply uniformly. With the UTC
    # session timezone this is value-identical to DuckDB's naive reads.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Python workers fork from pyspark's own daemon, run through
    # worker_daemon.py: before Python 3.13 every task's
    # importlib.invalidate_caches() re-read each zip archive on the worker
    # path (pyspark.zip, py4j, the spark-core jar) at ~250 ms per task,
    # which bounded every stream trigger and pandas-UDF stage from below;
    # the daemon re-reads an archive only when its file changed. Needs the
    # package importable by every worker, which ensure_protobuf already
    # guarantees (the book-sync closures rely on it too).
    "spark.python.daemon.module": "binance_etl_spark.worker_daemon",
}

# Applied with the local master only, the setup these were measured on:
# `file:` is bound, for both Hadoop APIs, to a local filesystem that sets
# permissions and checks for symlinks through java.nio. Without libhadoop
# the stock one forks `chmod` for every file or directory it creates and
# `readlink` for every link check (four per FileContext rename), so each
# checkpoint file (offsets, commits, state-store deltas) cost 10 child
# processes with its `.crc`, ~300 ms of every micro-batch trigger, and a
# parquet write's committer forked per file too. Files, `.crc` sidecars
# and permissions on disk are unchanged. Left unset, Java's ServiceLoader
# picks Hive's ProxyLocalFileSystem from hive-exec. A cluster submit keeps
# the stock binding: its executors need not have the jar at this path.
# The classpath entry also carries the jar's `replay` data source, since
# local executors run in the driver JVM.
LOCAL_FS_CONF: dict[str, str] = {
    "spark.driver.extraClassPath": _JVM_JAR,
    "spark.hadoop.fs.file.impl": f"{_NIO_FS}$Local",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_NIO_FS}$LocalFs",
}


def ensure_engine_jar(spark: SparkSession) -> None:
    """Make the engine jar's classes reachable in a session that
    ``get_spark`` did not build (a bare ``SparkSession.builder``): the jar
    joins the driver's context classloader, which the py4j threads and the
    local executors share, and is shipped to any other executors. Costs one
    py4j call once the jar is there."""
    jvm = spark._jvm
    if jvm.org.apache.spark.util.Utils.classIsLoadable(_REPLAY_SOURCE):
        return
    loader = jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
    loader.addURL(jvm.java.io.File(_JVM_JAR).toURI().toURL())
    spark.sparkContext._jsc.sc().addJar(_JVM_JAR)


def get_spark(app_name: str = "binance-etl-spark", extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local master is only used when no master is configured (tests/bench);
    under a real cluster submit, the configured master wins.
    """
    ensure_protobuf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    conf = dict(ENGINE_CONF)
    if not os.environ.get("SPARK_MASTER") and "SPARK_CONNECT_MODE_ENABLED" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
        conf.update(LOCAL_FS_CONF)
    elif "SPARK_CONNECT_MODE_ENABLED" not in os.environ:
        # a configured master: the jar's `replay` source, which production
        # ingest reads, reaches the driver and every executor this way
        conf["spark.jars"] = _JVM_JAR
    for k, v in conf.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
