"""SparkSession factory tuned for the local test/bench harness.

Defaults follow the cluster-scale design notes: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), shuffle
partitions sized to the machine instead of the 200 default, UTC session
timezone so timestamps compare bit-for-bit with the DuckDB oracle, and
Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def get_spark(app_name: str = "astarte_data_updater_plant_spark") -> SparkSession:
    """Build (or reuse) the session.

    On a real cluster the same configs apply unchanged except
    ``master``; nothing here assumes single-node execution.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # local-mode executors live in the driver JVM, so the 1g driver
        # default is the ENTIRE cluster memory; size it to the box (the
        # bench host has 128 GiB for 32 cores). Only effective at JVM
        # launch — a session created elsewhere first keeps its own.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        )
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE can only coalesce DOWN from the initial partition count,
        # never split a too-big shuffle: with initialPartitionNum left
        # at shuffle.partitions (=cpus), a 10x-data shuffle gets
        # 10x-sized partitions and SPILLS (measured: q199's r10 point
        # ran 19.6x its r1 time on 10x data purely from sort spill).
        # A high initial count + AQE coalescing is the scale-correct
        # posture: small shuffles still collapse to ~cpus partitions
        # via the 64 MB advisory size; big shuffles keep parallelism.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(cpus * 8),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # PySpark 4 wraps EVERY DataFrame API call with a call-site
        # capture for error enrichment (pyspark/errors/utils.py
        # _with_origin): a conf read + a PySparkCurrentOrigin.set/clear
        # round trip + a Python stack walk per call — ~3 extra py4j
        # RPCs on every Column/DataFrame operation. Plan construction
        # is single-threaded driver work (optimization guide SS7.3), and
        # the r13 interleaved A/B measured build time at 0.54-0.81x
        # with capture off on the plan-heavy queries (q170 0.65x
        # median, q126 0.66x best; /tmp ab_dfdebug_build probe, 4
        # alternating fresh-JVM reps). Static conf, so it must be set
        # here at build time.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Untagged parquet timestamp[us] must read as TIMESTAMP, not
        # TIMESTAMP_NTZ: the session TZ is UTC so the instants are
        # identical, and NTZ breaks unix_micros/epoch arithmetic.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
