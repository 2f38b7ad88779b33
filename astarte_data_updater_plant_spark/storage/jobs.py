"""Periodic maintenance jobs — the background work Cassandra did
implicitly (tombstone GC, TTL expiry) made explicit and schedulable.

Each job is a pure batch Spark job over the logs written by
``streaming.sinks``: idempotent, safe to re-run, partition-parallel.
The sink appends its device logs as sorted runs; these jobs are the
only writers of the clustered ``(realm, bucket)`` layout
(``storage.layout``), the compaction step of Cassandra's flush and
compact.
On a lakehouse (Delta/Iceberg) these become MERGE/DELETE statements
with identical semantics; on plain parquet they rewrite to a fresh
directory and swap, which is the pattern below.

Independent writes run concurrently from the driver through
``run_concurrently``: at small scale each write is a run of fixed-cost
Spark jobs whose stages use a fraction of the cores, so overlapping
them shortens the cycle without touching the data layout.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .layout import (
    DATASTREAM_LOG_SCHEMA,
    PROPERTY_LOG_SCHEMA,
    compact_properties,
    live_view,
    write_device_table,
)


def run_concurrently(
    spark: SparkSession, actions: Sequence[Callable[[], Any]]
) -> list[Any]:
    """Run independent Spark actions on one driver thread each and
    return their results in order. Every thread inherits the caller's
    local properties (job group, scheduler pool, tags), so the jobs are
    attributed exactly as if the caller ran them. All actions finish
    before the first failure, in action order, is re-raised: no action
    is still reading the caller's inputs when the caller cleans up."""
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [pool.submit(inherit(action)) for action in actions]
    return [f.result() for f in futures]


def write_counted(df: DataFrame, path: str, **layout: Any) -> int:
    """``write_device_table`` that returns the number of rows written,
    observed during the write itself instead of re-read afterwards."""
    rows = Observation()
    write_device_table(df.observe(rows, F.count(F.lit(1)).alias("rows")), path, **layout)
    return rows.get["rows"]


def compact_property_log(
    spark: SparkSession, log_path: str, out_path: str
) -> int:
    """Fold the append-only property upsert/tombstone log into its LWW
    state table (queries.ex:87-155 as a batch job). Returns the number
    of live rows written; a log holding no rows writes nothing.

    One exchange: the log is hash-partitioned on ``(realm, bucket)``
    and the LWW window is keyed with ``bucket`` too (a function of
    ``device_id``, so the winners are the same), which leaves the rows
    already partitioned the way ``write_device_table`` lays them out."""
    log = spark.read.schema(PROPERTY_LOG_SCHEMA).parquet(log_path)
    # the scan's own file listing, no Spark job; the row Observation of
    # write_counted cannot complete over a scan of no files
    if not log.inputFiles():
        return 0
    live = compact_properties(
        log.repartition("realm", "bucket"),
        key=("realm", "bucket", "device_id", "interface", "path"),
    )
    return write_counted(
        live,
        out_path,
        order=("device_id", "interface", "path"),
        mode="overwrite",
    )


def vacuum_datastreams(
    spark: SparkSession, path: str, now: Column, out_path: str
) -> int:
    """Drop TTL-expired datastream rows (queries.ex:299-306,
    impl.ex:527-533): scan+filter+rewrite into the clustered layout, one
    exchange. Returns rows retained; a log holding no rows writes
    nothing."""
    df = spark.read.schema(DATASTREAM_LOG_SCHEMA).parquet(path)
    if not df.inputFiles():
        return 0
    return write_counted(live_view(df, now), out_path, mode="overwrite")


def run_maintenance(spark: SparkSession, base_dir: str, now: Column) -> dict:
    """One maintenance cycle over a sink directory tree: compact the
    property log and vacuum expired datastreams, concurrently (the two
    rewrites share no table). Returns the rows each one wrote."""
    props, datastreams = run_concurrently(
        spark,
        [
            lambda: compact_property_log(
                spark, f"{base_dir}/property_log", f"{base_dir}/individual_properties"
            ),
            lambda: vacuum_datastreams(
                spark,
                f"{base_dir}/individual_datastreams",
                now,
                f"{base_dir}/individual_datastreams_vacuumed",
            ),
        ],
    )
    return {"properties_live": props, "datastreams_live": datastreams}
