"""SparkSession factory.

One place to encode the engine-wide execution posture:

- UTC session timezone (reference stamps UTC wall clock,
  ``/root/reference/src/utils.rs:82``; oracle comparisons need a fixed TZ).
- Arrow enabled for every pandas-UDF / toPandas boundary.
- Shuffle partitions = the session's task slots (``size_shuffle_partitions``).
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  are the first line of defense at 100 TB where static tuning can't see
  per-stage cardinalities.
- ``nanosAsLong`` so events files written with nanosecond parquet
  timestamps (driver rounds 1-2) read as longs instead of erroring;
  harmless for µs-timestamp files (round 3+). The loader probes the
  footer and normalizes either way (sources/tables.py:events_read_schema).
- Python workers forked by ``pydaemon``: PySpark's daemon, except that a
  task start skips re-reading the central directory of every unchanged
  zip on the worker path (pyspark.zip, py4j, the spark-core jar), which
  CPython 3.11 re-parses on each ``importlib.invalidate_caches()``.
  Builder-only, like the driver heap. The workers find the package
  through ``spark.executorEnv.PYTHONPATH`` (its parent directory, which
  Spark merges into the worker path), so a driver started from any
  directory without ``PYTHONPATH`` still runs Python tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local cores: the cores this process may run on, unless
# SPARK_GRAFT_CPUS pins a count.
DEFAULT_CPUS = os.environ.get(
    "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
)
# Driver heap: local mode runs every executor thread inside the one
# driver JVM, and Spark's 1g default starves them (observed: the
# scaling probe's x16-corpus k-means OOMed the default heap). The
# sandbox has 128 GiB; 16g is still conservative. Only effective when
# the factory creates the JVM — a pre-existing session keeps its heap.
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
# The directory holding this package: the daemon module must import on
# every worker.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# Runtime SQL configs: applied at build time by ``configure`` and to a
# driver-owned session by ``ensure_session_configs``.
RUNTIME_CONFIGS = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # At 100 TB the default 128 MB split is fine; keep explicit so it
    # is a single knob, not an accident.
    ("spark.sql.files.maxPartitionBytes", "134217728"),
    ("spark.sql.parquet.filterPushdown", "true"),
    ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
    # InferFiltersFromGenerate re-evaluates the generator expression
    # inside an inferred pre-filter; for expensive generators (the
    # trigram/shingle transforms this engine explodes everywhere)
    # that triples the CPU cost and the filter pushes below
    # repartitions into the narrow scan stage. Excluding it keeps
    # semantics (Generate itself drops empty/null arrays).
    (
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    ),
)


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine configs to any builder (the driver may own the session)."""
    builder = builder.config("spark.driver.memory", DEFAULT_DRIVER_MEM)
    builder = builder.config("spark.python.daemon.module", "rust_ruuvitag_etl_spark.pydaemon")
    builder = builder.config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
    for key, val in RUNTIME_CONFIGS:
        builder = builder.config(key, val)
    return builder


def size_shuffle_partitions(spark: SparkSession) -> SparkSession:
    """Set ``spark.sql.shuffle.partitions`` to the session's task slots
    (``defaultParallelism``), unless the session already holds a value
    other than Spark's built-in 200 (a deployment-tuned value wins).

    Stateful streaming creates one state store per shuffle partition and
    commits each one every micro-batch, and AQE never coalesces them, so
    the count must follow the cores. Batch queries keep AQE coalescing,
    which sizes their partitions by bytes. A checkpoint keeps the count
    it started with: Spark pins it in the offset log."""
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    return spark


def get_spark(app_name: str = "rust-ruuvitag-etl-spark", master: str | None = None) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    builder = builder.master(master)
    # the master, and so the task slots, is known only after getOrCreate
    return size_shuffle_partitions(configure(builder).getOrCreate())


def ensure_session_configs(spark: SparkSession) -> SparkSession:
    """Best-effort: apply ``RUNTIME_CONFIGS`` and the shuffle-partition
    rule to an existing session (driver-owned sessions may not have
    gone through ``configure``)."""
    try:
        size_shuffle_partitions(spark)
    except Exception:
        pass
    for key, val in RUNTIME_CONFIGS:
        try:
            spark.conf.set(key, val)
        except Exception:
            pass
    return spark
