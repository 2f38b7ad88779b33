"""On-disk table layout: the Cassandra keyspace re-expressed as
partitioned parquet.

The reference keys every table on ``(device_id, interface_id, ...)``
so each write/read touches one Cassandra partition
(``queries.ex:44-58,108,137-141``). The lakehouse equivalent keeps the
same locality through a device bucket plus in-file ordering, where
``bucket = pmod(xxhash64(device_id), N_BUCKETS)``: a bounded fan-out
(a raw ``device_id`` partition would create millions of tiny dirs at
100 TB) that any device-scoped read prunes on.

Cassandra writes in two steps, and so does this layout:

- **Flush.** A memtable is flushed as one sorted SSTable, clustered
  by nothing but its own sort. The device logs (``individual_datastreams``,
  ``property_log``) are written the same way by ``append_device_log``:
  no shuffle, ``realm`` as the only directory partition, ``bucket`` as
  a plain data column, rows sorted by ``(bucket, device_id, interface,
  path, reception_timestamp)``. Each micro-batch appends one sorted run
  per (input partition, realm); parquet row-group statistics on
  ``bucket``/``device_id`` prune a device read within each run.
- **Compaction.** Cassandra clusters the data later, in the
  background. Maintenance (``storage.jobs``) is the one clusterer here:
  it rewrites the logs into the ``(realm, bucket)`` directory layout
  with ``write_device_table``, one exchange per table, so a
  device-scoped read of a maintained table scans a single directory.

Writes are append-only; the two non-append semantics of the reference
are expressed as idempotent compaction jobs over the logs:

- property LWW + unset (``queries.ex:87-155``): latest row per key
  wins, delete markers drop the key — ``compact_properties``.
- TTL expiry (``queries.ex:299-306``, ``impl.ex:527-533``): rows carry
  ``expires_at``; readers filter it (``live_view``) and
  ``storage.jobs.vacuum_datastreams`` rewrites storage without dead
  rows (the Cassandra background GC made explicit).

No Delta/Iceberg dependency: the layout only assumes parquet +
directory listing, so the same code runs on any Spark cluster; on a
lakehouse the compactions become MERGE INTO statements with identical
semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..types import TYPED_COLUMNS

#: Directory-partition fan-out for device-keyed tables. 64 buckets x
#: realms keeps listings cheap; at 100 TB each bucket holds ~1.5 TB
#: which AQE splits into ordinary tasks.
N_BUCKETS = 64


def device_bucket(device_id: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Stable device -> bucket assignment (the consistent-hash queue
    routing of amqp_data_consumer/supervisor.ex:41-49, made a column)."""
    return F.pmod(F.xxhash64(device_id), F.lit(n_buckets)).cast("int")


#: In-file order of the device tables: per-device slices are contiguous.
DEVICE_ORDER = ("device_id", "interface", "path", "reception_timestamp")

_S, _TS = T.StringType(), T.TimestampType()
#: The key of a typed device row (database_test_helper.exs:186-241).
_DEVICE_ROW_KEY = (
    ("realm", _S), ("device_id", _S), ("interface_id", _S),
    ("interface", _S), ("endpoint_id", _S), ("path", _S),
)

#: The two logs as ``append_device_log`` writes them for the sink,
#: declared once so maintenance reads them without schema inference
#: (which costs a footer job, and fails on a log that only ever got
#: empty appends). Both store the reference's typed row: every value
#: in one of the 14 ``TYPED_COLUMNS``. The sink's producers
#: (``streaming.pipeline.datastream_table``/``property_log``) select
#: these fields, ``bucket`` aside, in this order.
DATASTREAM_LOG_SCHEMA = T.StructType(
    [
        T.StructField(c, t)
        for c, t in (
            *_DEVICE_ROW_KEY, ("value_timestamp", _TS),
            ("reception_timestamp", _TS), ("expires_at", _TS),
            *TYPED_COLUMNS, ("bucket", T.IntegerType()),
        )
    ]
)
PROPERTY_LOG_SCHEMA = T.StructType(
    [
        T.StructField(c, t)
        for c, t in (
            *_DEVICE_ROW_KEY, ("reception_timestamp", _TS), *TYPED_COLUMNS,
            ("is_delete", T.BooleanType()), ("bucket", T.IntegerType()),
        )
    ]
)


def append_device_log(df: DataFrame, path: str) -> None:
    """Append rows to a device log as sorted runs, the analogue of an
    SSTable flush: no shuffle, ``bucket`` added as a data column, rows
    sorted by ``(realm, bucket, *DEVICE_ORDER)`` within each input
    partition and written under ``realm=`` directories only. Each call
    adds at most one file per (input partition, realm); clustering by
    bucket directory is left to maintenance (``write_device_table``)."""
    (
        df.withColumn("bucket", device_bucket(F.col("device_id")))
        .sortWithinPartitions("realm", "bucket", *DEVICE_ORDER)
        .write.partitionBy("realm")
        .mode("append")
        .parquet(path)
    )


def write_device_table(
    df: DataFrame,
    path: str,
    *,
    order: tuple[str, ...] = DEVICE_ORDER,
    mode: str = "append",
) -> None:
    """Write rows of a device-keyed table in the clustered layout:
    ``(realm, bucket)`` directories, rows sorted by ``order`` inside
    each file for row-group pruning on device/path slices. This is
    maintenance's writer; the sink appends logs (``append_device_log``),
    which carry the ``bucket`` column ``df`` must have.

    One hash exchange on ``(realm, bucket)``. It puts every row of a
    directory in one task, not one directory per task: AQE coalesces a
    small shuffle, and at bench scale a single task writes all 64
    bucket directories of a realm. A caller that already hash-partitioned
    on ``(realm, bucket)`` shares its exchange with this one. The sort
    leads with the directory columns: the writer needs rows grouped by
    directory, and a sort that does not start with them is replaced by
    one that does, losing ``order`` inside the files.
    """
    (
        df.repartition("realm", "bucket")
        .sortWithinPartitions("realm", "bucket", *order)
        .write.partitionBy("realm", "bucket")
        .mode(mode)
        .parquet(path)
    )


def read_device_table(
    spark: SparkSession,
    path: str,
    *,
    realm: str | None = None,
    device_id: str | None = None,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Read with pruning on realm and device. Realm is a directory in
    every device table. ``bucket`` is derived from device_id: in a
    maintained table it is a directory too, so a point read scans a
    single (realm, bucket) directory; in a log it is a data column
    whose row-group statistics skip the other buckets' rows."""
    df = spark.read.parquet(path)
    if realm is not None:
        df = df.filter(F.col("realm") == realm)
    if device_id is not None:
        df = df.filter(
            (F.col("bucket") == device_bucket(F.lit(device_id), n_buckets))
            & (F.col("device_id") == device_id)
        )
    return df


PROPERTY_KEY = ("realm", "device_id", "interface", "path")


def compact_properties(log: DataFrame, key: tuple[str, ...] = PROPERTY_KEY) -> DataFrame:
    """Fold the property write log into its LWW state.

    Input rows carry ``reception_timestamp`` and an ``is_delete`` flag
    (unset markers, queries.ex:87-119). Latest row per key wins; keys
    whose latest row is a delete disappear — exactly Cassandra's
    last-write-wins + tombstone semantics, as one window, re-runnable
    (idempotent MERGE equivalent).
    """
    w = Window.partitionBy(*key).orderBy(
        F.col("reception_timestamp").desc(), F.col("is_delete").desc()
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (~F.coalesce("is_delete", F.lit(False))))
        .drop("rn", "is_delete")
    )


def live_view(df: DataFrame, now: Column) -> DataFrame:
    """TTL read filter (queries.ex:774-817): rows with no expiry or a
    future expiry. ``now`` is an explicit column/literal so batch jobs
    are reproducible (no wall-clock in the plan)."""
    return df.filter(F.col("expires_at").isNull() | (F.col("expires_at") > now))
