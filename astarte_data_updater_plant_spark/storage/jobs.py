"""Periodic maintenance jobs — the background work Cassandra did
implicitly (tombstone GC, TTL expiry) made explicit and schedulable.

Each job is a pure batch Spark job over the storage layout written by
``streaming.sinks``: idempotent, safe to re-run, partition-parallel.
On a lakehouse (Delta/Iceberg) these become MERGE/DELETE statements
with identical semantics; on plain parquet they rewrite to a fresh
directory and swap, which is the pattern below.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from .layout import compact_properties, live_view, write_device_table


def compact_property_log(
    spark: SparkSession, log_path: str, out_path: str
) -> int:
    """Fold the append-only property upsert/tombstone log into its LWW
    state table (queries.ex:87-155 as a batch job). Returns the number
    of live rows written."""
    try:
        log = spark.read.parquet(log_path)
    except AnalysisException as e:
        # a tree that never received a property write holds only the
        # empty appends' _SUCCESS markers: no rows, hence no schema
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return 0
    live = compact_properties(log.drop("bucket"))
    write_device_table(
        live,
        out_path,
        order=("device_id", "interface", "path"),
        mode="overwrite",
    )
    return spark.read.parquet(out_path).count()


def vacuum_datastreams(
    spark: SparkSession, path: str, now: Column, out_path: str
) -> int:
    """Drop TTL-expired datastream rows (queries.ex:299-306,
    impl.ex:527-533): scan+filter+rewrite, partition-parallel. Returns
    rows retained."""
    df = spark.read.parquet(path)
    live = live_view(df, now).drop("bucket")
    write_device_table(live, out_path, mode="overwrite")
    return spark.read.parquet(out_path).count()


def run_maintenance(spark: SparkSession, base_dir: str, now: Column) -> dict:
    """One maintenance cycle over a sink directory tree: compact the
    property log and vacuum expired datastreams. Returns row counts."""
    stats = {}
    stats["properties_live"] = compact_property_log(
        spark, f"{base_dir}/property_log", f"{base_dir}/individual_properties"
    )
    stats["datastreams_live"] = vacuum_datastreams(
        spark,
        f"{base_dir}/individual_datastreams",
        now,
        f"{base_dir}/individual_datastreams_vacuumed",
    )
    return stats
