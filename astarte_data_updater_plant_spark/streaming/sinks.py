"""Micro-batch sinks: the reference's Cassandra writes + AMQP event
publishes re-expressed as foreachBatch materializers.

Each micro-batch of the union output frame (pipeline.OUTPUT_SCHEMA)
fans out to:

- ``individual_datastreams`` — append-only device log
  (queries.ex:157-197).
- ``property_log`` — append-only log of typed upserts and tombstones
  (queries.ex:87-155); ``storage.jobs.compact_property_log`` folds it
  into the LWW state, ``individual_properties``.
- ``events_log`` — the AMQP events exchange stand-in
  (triggers_handler.ex:377-459): one row per SimpleEvent, partitioned
  by event_type for consumer-side pruning.
- ``dead_letters`` — the A30 error side-channel (impl.ex:463-524).
- ``device_commands`` — clean-session / disconnect asks (A29).
- ``devices`` — snapshot rows (queries.ex:460-510); latest snapshot
  per device wins at read time.

Both device logs go through ``storage.layout.append_device_log``,
Cassandra's memtable flush: no shuffle, each micro-batch appends one
sorted run per (input partition, realm), with the device bucket as a
data column (``storage.layout.DATASTREAM_LOG_SCHEMA`` and
``PROPERTY_LOG_SCHEMA`` declare what lands). Clustering them into
``(realm, bucket)`` directories is left to maintenance
(``storage.jobs``), the compaction step.

The six writes share nothing but their input, as the reference's
per-table inserts and event publishes do, so they run concurrently
(``storage.jobs.run_concurrently``) over the micro-batch, which is
cached and materialised once before the fan-out.

Publish retry mirrors triggers_handler.ex:404-430: exponential
backoff with exponent cap 10. Delivery is at-least-once: a replayed
micro-batch appends its rows again. Only ``property_log`` (same key,
same timestamp -> same LWW winner) and ``devices`` (latest snapshot
wins) absorb the duplicates; ``individual_datastreams``,
``events_log``, ``dead_letters`` and ``device_commands`` keep them.
"""

from __future__ import annotations

import time
from functools import partial
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame

from ..storage.jobs import run_concurrently
from ..storage.layout import append_device_log
from .pipeline import (
    commands_table,
    datastream_table,
    device_snapshots_table,
    errors_table,
    events_table,
    property_log,
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


def write_outputs_batch(outputs: DataFrame, base_dir: str) -> None:
    """Materialize one micro-batch into the storage layout.

    The input is cached and materialised by one action first, so the
    fold behind it runs exactly once however the writes interleave.
    The six table writes then run concurrently, each wrapped in the
    publish retry. Every write finishes before the first failure is
    re-raised, and only then is the input unpersisted. All writes are
    appends, so a retried or replayed batch duplicates rows in every
    table but ``property_log`` and ``devices`` (see the module notes)."""
    outputs = outputs.cache()
    try:
        # a shuffle-free action: count() would add a second job
        outputs.write.format("noop").mode("overwrite").save()
        writes = [
            lambda: append_device_log(
                datastream_table(outputs), f"{base_dir}/individual_datastreams"
            ),
            lambda: append_device_log(property_log(outputs), f"{base_dir}/property_log"),
            lambda: events_table(outputs)
            .repartition("event_type")
            .write.partitionBy("event_type")
            .mode("append")
            .parquet(f"{base_dir}/events_log"),
            lambda: errors_table(outputs)
            .write.mode("append")
            .parquet(f"{base_dir}/dead_letters"),
            lambda: commands_table(outputs)
            .write.mode("append")
            .parquet(f"{base_dir}/device_commands"),
            lambda: device_snapshots_table(outputs)
            .write.mode("append")
            .parquet(f"{base_dir}/devices"),
        ]
        run_concurrently(outputs.sparkSession, [partial(with_retry, w) for w in writes])
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
