"""SparkSession factory.

One place to encode the engine-wide execution posture:

- UTC session timezone (reference stamps UTC wall clock,
  ``/root/reference/src/utils.rs:82``; oracle comparisons need a fixed TZ).
- Arrow enabled for every pandas-UDF / toPandas boundary.
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  are the first line of defense at 100 TB where static tuning can't see
  per-stage cardinalities.
- ``nanosAsLong`` so events files written with nanosecond parquet
  timestamps (driver rounds 1-2) read as longs instead of erroring;
  harmless for µs-timestamp files (round 3+). The loader probes the
  footer and normalizes either way (sources/tables.py:events_read_schema).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitions: local[32] testing wants ~2x cores; on a real
# cluster this is overridden per-deployment (AQE coalesces down anyway).
DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
# Local cores: the cores this process may run on, unless
# SPARK_GRAFT_CPUS pins a count.
DEFAULT_CPUS = os.environ.get(
    "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
)
# Driver heap: local mode runs ALL 32 executor threads inside the one
# driver JVM, and Spark's 1g default starves them (observed: the
# scaling probe's x16-corpus k-means OOMed the default heap). The
# sandbox has 128 GiB; 16g is still conservative. Only effective when
# the factory creates the JVM — a pre-existing session keeps its heap.
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine configs to any builder (the driver may own the session)."""
    return (
        builder
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # At 100 TB the default 128 MB split is fine; keep explicit so it
        # is a single knob, not an accident.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate re-evaluates the generator expression
        # inside an inferred pre-filter; for expensive generators (the
        # trigram/shingle transforms this engine explodes everywhere)
        # that triples the CPU cost and the filter pushes below
        # repartitions into the narrow scan stage. Excluding it keeps
        # semantics (Generate itself drops empty/null arrays).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )


def get_spark(app_name: str = "rust-ruuvitag-etl-spark", master: str | None = None) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    builder = builder.master(master)
    return configure(builder).getOrCreate()


def ensure_session_configs(spark: SparkSession) -> SparkSession:
    """Best-effort: apply runtime-settable configs to an existing session
    (driver-owned sessions may not have gone through ``configure``)."""
    # Shuffle partitions: only override Spark's untuned default of 200
    # (streaming can't rely on AQE to coalesce it) or honor an explicit
    # env opt-in — never clobber a deployment-tuned value.
    try:
        current_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    except Exception:
        current_shuffle = "200"
    if (
        "SPARK_GRAFT_SHUFFLE_PARTITIONS" in os.environ
        or current_shuffle in ("200", None)
    ):
        try:
            spark.conf.set(
                "spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS
            )
        except Exception:
            pass
    for key, val in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        # TIMESTAMP(NANOS) events files (driver rounds 1-2) read as
        # long instead of erroring; no-op for µs files (round 3+).
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # see configure(): avoid tripled evaluation of expensive
        # exploded generator expressions.
        (
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        ),
    ]:
        try:
            spark.conf.set(key, val)
        except Exception:
            pass
    return spark
