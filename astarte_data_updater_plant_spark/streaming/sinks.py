"""Micro-batch sinks: the reference's Cassandra writes + AMQP event
publishes re-expressed as idempotent foreachBatch materializers.

Each micro-batch of the union output frame (pipeline.OUTPUT_SCHEMA)
fans out to:

- ``individual_datastreams`` — append-only device table
  (queries.ex:157-197) in the partitioned storage layout.
- ``property_log`` — append-only upsert/tombstone log
  (queries.ex:87-155); ``storage.layout.compact_properties`` folds it
  into the LWW state, so replays are harmless (same key, same
  timestamp -> same winner).
- ``events_log`` — the AMQP events exchange stand-in
  (triggers_handler.ex:377-459): one row per SimpleEvent, partitioned
  by event_type for consumer-side pruning.
- ``dead_letters`` — the A30 error side-channel (impl.ex:463-524).
- ``devices`` — snapshot rows (queries.ex:460-510); latest snapshot
  per device wins at read time.

Publish retry mirrors triggers_handler.ex:404-430: exponential
backoff with exponent cap 10. Idempotence + at-least-once retry is
the same delivery contract the reference offers (its AMQP publishes
are retried and consumers dedup on event id).
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..storage.layout import write_device_table
from .pipeline import (
    PROPERTY_JSON_SCHEMA,
    commands_table,
    datastream_table,
    device_snapshots_table,
    errors_table,
    events_table,
)

#: triggers_handler.ex:28 — max backoff exponent
MAX_BACKOFF_EXP = 10


def with_retry(
    fn: Callable[[], None],
    *,
    max_exp: int = MAX_BACKOFF_EXP,
    base_sleep_s: float = 0.001,
) -> None:
    """Exponential-backoff retry (triggers_handler.ex:404-430): sleep
    2^n * base between attempts, exponent capped, re-raise after the
    final attempt so the streaming query fails visibly rather than
    dropping a batch. An AnalysisException (a missing path, a schema
    mismatch) cannot heal by waiting, so it re-raises at once."""
    for attempt in range(max_exp + 1):
        try:
            fn()
            return
        except AnalysisException:
            raise
        except Exception:
            if attempt == max_exp:
                raise
            time.sleep((2**attempt) * base_sleep_s)


def property_log_table(outputs: DataFrame) -> DataFrame:
    """Upserts + tombstones as one append-only log with an is_delete
    flag — input shape for storage.layout.compact_properties."""
    ups = (
        outputs.filter(F.col("kind") == "property_upsert")
        .withColumn("p", F.from_json("payload_json", PROPERTY_JSON_SCHEMA))
        .filter(~F.coalesce(F.col("p.is_path_registry"), F.lit(False)))
        .select(
            "realm", "device_id", "interface", "path",
            F.col("p.reception_timestamp").alias("reception_timestamp"),
            F.to_json("p").alias("typed_json"),
            F.lit(False).alias("is_delete"),
        )
    )
    dels = outputs.filter(F.col("kind") == "property_delete").select(
        "realm", "device_id", "interface", "path",
        F.col("timestamp").alias("reception_timestamp"),
        F.lit(None).cast("string").alias("typed_json"),
        F.lit(True).alias("is_delete"),
    )
    return ups.unionByName(dels)


def write_outputs_batch(outputs: DataFrame, base_dir: str) -> None:
    """Materialize one micro-batch into the storage layout. Each write
    is wrapped in the publish retry; all writes are appends of
    deterministic rows, so a retried batch only duplicates rows that
    downstream LWW/dedup semantics already tolerate."""
    outputs = outputs.cache()
    try:
        ds = datastream_table(outputs)
        with_retry(lambda: write_device_table(ds, f"{base_dir}/individual_datastreams"))
        plog = property_log_table(outputs)
        with_retry(
            lambda: write_device_table(
                plog,
                f"{base_dir}/property_log",
                order=("device_id", "interface", "path", "reception_timestamp"),
            )
        )
        ev = events_table(outputs)
        with_retry(
            lambda: ev.repartition("event_type")
            .write.partitionBy("event_type")
            .mode("append")
            .parquet(f"{base_dir}/events_log")
        )
        errs = errors_table(outputs)
        with_retry(
            lambda: errs.write.mode("append").parquet(f"{base_dir}/dead_letters")
        )
        cmds = commands_table(outputs)
        with_retry(
            lambda: cmds.write.mode("append").parquet(f"{base_dir}/device_commands")
        )
        snaps = device_snapshots_table(outputs)
        with_retry(
            lambda: snaps.write.mode("append").parquet(f"{base_dir}/devices")
        )
    finally:
        outputs.unpersist()


def attach_sink(outputs_stream: DataFrame, base_dir: str, checkpoint_dir: str):
    """Wire the union output stream to the storage sinks. Returns the
    started StreamingQuery (availableNow drains bounded sources)."""
    return (
        outputs_stream.writeStream.foreachBatch(
            lambda df, _epoch: write_outputs_batch(df, base_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
