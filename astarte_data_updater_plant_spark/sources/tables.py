"""Batch parquet sources for the shared synthetic tables.

The reference's sources are AMQP queues and Cassandra tables
(``amqp_data_consumer.ex:109-126``, ``queries.ex:28-58``); the analytic
re-expression reads columnar parquet so Catalyst gets predicate
pushdown, column pruning and partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.fragments import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor —
#: region/nation are bounded by geography; supplier/part/customer grow
#: with SF but stay broadcastable at bench scale (Catalyst's AQE
#: re-checks the size threshold at runtime, so the hint is safe).
BROADCAST_DIMS = frozenset({"region", "nation"})

#: Tables whose per-row compute dwarfs their bytes (shingling, MinHash
#: chains, 64-dim dot products). A single small parquet file scans as
#: ONE input split, serializing all that CPU onto one core; spread it
#: across the executors when the scan is under-partitioned. On a real
#: 100 TB corpus the input arrives as thousands of splits and this
#: repartition is a no-op by the guard; the shuffled bytes here are
#: tiny relative to the compute they unlock (measured 3-5x on the
#: dedup/ANN pipelines at sf0.1).
CPU_DENSE = frozenset({"documents", "embeddings"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The assembled leaf DataFrame of one table, memoized per input
    snapshot (plans/fragments.memo). A repeat load skips the
    footer-inference job of a bare ``spark.read.parquet`` and the
    driver-side py4j chatter of re-assembling an identical plan (the
    CPU_DENSE ``df.rdd.getNumPartitions()`` round trip, the NTZ-cast
    withColumn walk) — q05 loads six tables per build, and plan builds
    after the first fire ZERO Spark jobs (asserted by
    tests/test_plans.test_global_order_inputs_pinned_single_evaluation).
    Only the PLAN is memoized: every action still reads parquet."""
    return memo(
        spark, sf_dir, f"table:{name}",
        lambda: _load_table_uncached(spark, sf_dir, name),
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # runtime confs, set defensively: the driver's session won't have
        # them. Both guard against the two ways the generator has emitted
        # the ts column so far (TIMESTAMP(NANOS) and timestamp[us] with
        # no timezone annotation).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name in CPU_DENSE:
        cores = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < cores:
            df = df.repartition(cores)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark only reads
        # via nanosAsLong (session.py sets it); floor-divide to micros
        # with integer DIV — double division would lose precision at
        # 1e18 nanos — matching DuckDB's ns->us truncation.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    # Parquet timestamp[us] WITHOUT a timezone annotation reads as
    # TIMESTAMP_NTZ under Spark 4's default inference, and time
    # arithmetic (unix_micros & friends) rejects NTZ at analysis time.
    # The session timezone is pinned to UTC, so casting NTZ -> TIMESTAMP
    # is bit-exact against the DuckDB oracle reading the same file.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
