"""The ingest engine itself as declared, oracle-checked queries.

These entries run the COMPLETE reference dataflow — BSON decode,
introspection handling, schema validation, endpoint resolution, typed
routing, keyed state — over a message stream synthesized from the
shared events table, then check the materialized storage tables
against plain SQL on the ORIGINAL events. A hash match proves the
whole pipeline is lossless and deterministic end-to-end:

  events -> BSON wire format -> state machine -> typed tables == SQL

s72 additionally runs the windowed aggregate through Structured
Streaming (file source, complete mode) and hash-checks the streaming
result against the same batch oracle — streaming/batch unification on
real execution, not by construction.

Every streaming scenario (s72-s103) is a replayable source, an
incremental plan and a sink with a checkpoint. The source and sink
halves are spelled once, by these driver-side helpers:

- ``_ordered_files(frames, prefix)`` writes each frame as exactly one
  parquet file, and ``_time_sliced_files`` writes n event-time slices
  in one partitioned write. Both place their files through
  ``_move_stamped``, which stamps mtimes strictly increasing in list
  order: Spark's file stream source orders by mtime, not by name.
- ``_file_stream(spark, schema, src_dir)`` reads such a directory one
  file per micro-batch, so micro-batch k is exactly file k.
- ``_shuffle_width(spark)`` pins ``spark.sql.shuffle.partitions`` to
  the default parallelism and restores it on exit. A stream fixes its
  stateful shuffle width when it starts, and a plain session's 200
  partitions cost ~6x on the grouped-state stages at test scale.
- ``_run_to_memory(df, name, mode)`` drains a stream into the memory
  table ``name``: it stops a live query of that name, starts an
  availableNow query with a fresh checkpoint inside
  ``_shuffle_width``, and waits with the checked ``_await_stream``,
  which stops the query and raises when the deadline passes.

Scenarios that sink through ``foreachBatch`` or a parquet path (s87,
s91, s92, s96) start their query inside ``_shuffle_width`` themselves.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ranks import with_global_order
from ..functions.timeutil import ts_micros
from ..plans.registry import register
from ..storage.scratch import scratch_dir
from ..sources.stream import events_as_messages, telemetry_interface
from ..sources.tables import load_table
from ..streaming.pipeline import (
    datastream_table,
    device_snapshots_table,
    run_batch,
)

_R = "DECIMAL(8,4)"

#: BSON {v: double} payload is a fixed 16 bytes; the introspection
#: announcement is 21 bytes — the oracle reconstructs byte counters
#: arithmetically (see s71).
_BSON_DOUBLE_LEN = 16
_INTRO_LEN = 21


def _stamp_ordered(path: str, idx: int, base: float) -> None:
    """Stamp a source file's mtime so the file stream source processes
    it at position ``idx``: Spark's FileStreamSource orders by mtime,
    and 1 ms spacing collapses to a tie on a coarse-granularity (1 s)
    filesystem, letting slices run out of order (ADVICE r6). Stamps are
    2 s apart and strictly in the PAST (base - 2*(1024-idx)), so files
    a scenario copies in afterwards (e.g. s80's replay) still sort
    last under their natural current mtimes. The in-the-past invariant
    inverts silently for idx >= 1024 (stamps land in the FUTURE and
    replay files no longer sort last — ADVICE r7), so it fails loudly
    instead: no slice stage emits anywhere near 1024 files today."""
    if not 0 <= idx < 1024:
        raise AssertionError(
            f"_stamp_ordered supports at most 1024 ordered files; got idx={idx} "
            "(stamps would land in the future and break replay ordering)"
        )
    t = base - 2.0 * (1024 - idx)
    os.utime(path, (t, t))


def _await_stream(query, timeout_sec: int = 600) -> None:
    """awaitTermination with the timeout CHECKED: an availableNow stream
    that hangs past the deadline must raise, not silently hand a
    partially-populated memory table to the oracle compare (which would
    report a confusing row-count mismatch instead of a timeout —
    ADVICE r6)."""
    if not query.awaitTermination(timeout_sec):
        try:
            query.stop()
        finally:
            raise RuntimeError(
                f"stream query did not finish within {timeout_sec}s"
            )


def _move_stamped(moves: list[tuple[str, str]]) -> None:
    """Move each ``(src, dst)`` file and stamp ``dst`` with its list
    position, so the file stream source reads the files in list order.
    ``shutil.move`` keeps the writing tasks' arbitrary completion
    mtimes (observed at sf0.1: slice 1 ran as batch 0, so every data
    message dead-lettered before its device's introspection)."""
    base = time.time()
    for idx, (src, dst) in enumerate(moves):
        shutil.move(src, dst)
        _stamp_ordered(dst, idx, base)


def _ordered_files(frames: list[DataFrame], prefix: str) -> str:
    """Write each frame as exactly one parquet file ``{i:03d}.parquet``
    whose source order is its list position; returns the directory."""
    src_dir = scratch_dir(prefix=prefix)
    stage_dir = os.path.join(src_dir, "_staged")
    moves = []
    for i, frame in enumerate(frames):
        stage = os.path.join(stage_dir, str(i))
        frame.coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        moves.append((part, os.path.join(src_dir, f"{i:03d}.parquet")))
    _move_stamped(moves)
    shutil.rmtree(stage_dir)
    return src_dir


def _time_sliced_files(df, ts_col: str, n_slices: int = 4, prefix: str = "slices_") -> str:
    """Write df as n time-range files whose SOURCE ORDER equals event-
    time order (so one file per trigger yields time-ordered micro-
    batches). One partitioned write — a filter+write per slice would
    recompute the upstream plan once per slice. The bounds and the
    write share one evaluation of df: it is cached for the two actions,
    which would otherwise each run its plan (over events_as_messages,
    the BSON encoding of every event)."""
    df = df.persist()
    try:
        lo, hi = df.agg(F.min(ts_col), F.max(ts_col)).first()
        span = (hi - lo).total_seconds() + 1.0
        src_dir = scratch_dir(prefix=prefix)
        stage_dir = os.path.join(src_dir, "_staged")
        slice_col = F.least(
            F.floor(
                (ts_micros(ts_col) - ts_micros(F.lit(lo)))
                / F.lit(span * 1_000_000.0 / n_slices)
            ),
            F.lit(n_slices - 1),
        ).cast("int")
        (
            df.withColumn("slice", slice_col)
            .repartition("slice")
            .write.partitionBy("slice")
            .parquet(stage_dir)
        )
    finally:
        df.unpersist()
    moves = []
    for i in range(n_slices):
        parts = glob.glob(os.path.join(stage_dir, f"slice={i}", "part-*.parquet"))
        for j, part in enumerate(sorted(parts)):
            moves.append((part, os.path.join(src_dir, f"{i:03d}_{j}.parquet")))
    _move_stamped(moves)
    shutil.rmtree(stage_dir)
    return src_dir


def _ntile_slices(df: DataFrame) -> list[DataFrame]:
    """df cut into the three NTILE(3) slices of the global (ts,
    event_id) order, through the range-partitioned two-phase rank: a
    bare Window.orderBy would sort every event on one task."""
    tiled = with_global_order(df, ["ts", "event_id"], ntile=(3, "tile"))
    return [tiled.filter(F.col("tile") == i).drop("tile") for i in (1, 2, 3)]


def _file_stream(spark: SparkSession, schema, src_dir: str) -> DataFrame:
    """The file stream over ``src_dir``, one file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


@contextmanager
def _shuffle_width(spark: SparkSession):
    """Pin the shuffle width to the machine's parallelism while the
    block runs: a stream fixes its stateful shuffle width at start, and
    the driver's plain session defaults to 200 partitions, a 6x
    overhead for the grouped-state stages at test scale."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _run_to_memory(df: DataFrame, name: str, mode: str = "append") -> DataFrame:
    """Drain the stream ``df`` into the memory table ``name`` with a
    pinned shuffle width and a checked timeout; returns the table."""
    spark = df.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    with _shuffle_width(spark):
        query = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", scratch_dir(prefix=f"{name}_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(query)
    return spark.table(name)


@register(
    "s70_ingest_datastreams",
    """
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           '/' || event_type || '/value' AS path,
           ts AS value_timestamp,
           value AS double_value
    FROM events
    ORDER BY device_id, path, value_timestamp
    """,
    doc="Full ingest path, oracle-checked: events re-encoded as BSON "
    "messages, decoded and validated by the state machine, routed into "
    "individual_datastreams typed columns — must equal SQL over the "
    "original events bit-for-bit (doubles round-trip BSON exactly).",
)
def s70_ingest_datastreams(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    out = run_batch(msgs, interfaces=(telemetry_interface(),))
    ds = datastream_table(out)
    return ds.select(
        "device_id", "path", "value_timestamp", "double_value"
    ).orderBy("device_id", "path", "value_timestamp")


@register(
    "s71_ingest_device_counters",
    f"""
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           CAST(COUNT(*) + 1 AS BIGINT) AS total_received_msgs,
           CAST(COUNT(*) * {_BSON_DOUBLE_LEN} + {_INTRO_LEN} AS BIGINT) AS total_received_bytes
    FROM events
    GROUP BY user_id
    ORDER BY device_id
    """,
    doc="Keyed-state counters, oracle-checked arithmetically: the state "
    "machine's per-device totals must equal count(*)+1 messages (one "
    "introspection each) and 16*count+21 payload bytes.",
)
def s71_ingest_device_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = events_as_messages(spark, sf_dir)
    out = run_batch(msgs, interfaces=(telemetry_interface(),))
    snap = device_snapshots_table(out)
    return snap.select(
        "device_id", "total_received_msgs", "total_received_bytes"
    ).orderBy("device_id")


@register(
    "s72_stream_hourly_windows",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS {_R})) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="Structured Streaming tumbling window (complete mode, file "
    "source) hash-checked against the batch SQL oracle: the streaming "
    "result of window(ts, 1 hour) equals the batch date_trunc "
    "aggregate on closed input.",
)
def s72_stream_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources.tables import table_path

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # schema for readStream: as stored (ts is nanos -> bigint)
    stored = spark.read.parquet(table_path(sf_dir, "events"))
    # FileStreamSource needs a directory: stream the sf dir with a
    # glob restricted to the events file
    stream = (
        spark.readStream.schema(stored.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(8,4)")).cast("double").alias("sum_value"),
        )
    )
    return (
        _run_to_memory(agg, "s72_stream_hourly", "complete")
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "s73_stream_ingest_datastreams",
    """
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           '/' || event_type || '/value' AS path,
           ts AS value_timestamp,
           value AS double_value
    FROM events
    ORDER BY device_id, path, value_timestamp
    """,
    doc="The ingest pipeline under REAL Structured Streaming: messages "
    "written as time-ordered files, consumed with maxFilesPerTrigger=1 "
    "(4 micro-batches), folded by applyInPandasWithState keyed on "
    "(realm, device) with the DeviceState carried in the GroupState "
    "across batches — the materialized datastream rows must still "
    "equal the batch SQL oracle. Proves state continuity, not just "
    "single-batch grouping.",
)
def s73_stream_ingest_datastreams(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..streaming.pipeline import MESSAGE_SCHEMA, run_stream

    msgs = events_as_messages(spark, sf_dir)
    # per-device intro precedes its data (intro ts = min(ts) - 1s), so
    # time-ordered batches preserve the reference's FIFO guarantee
    src_dir = _time_sliced_files(msgs, "reception_timestamp", prefix="s73_src_")
    out = run_stream(
        _file_stream(spark, MESSAGE_SCHEMA, src_dir),
        interfaces=(telemetry_interface(),),
    )
    ds = datastream_table(out).select(
        "device_id", "path", "value_timestamp", "double_value"
    )
    return _run_to_memory(ds, "s73_stream_ingest").orderBy(
        "device_id", "path", "value_timestamp"
    )


@register(
    "s74_stream_redelivery_dedup",
    """
    SELECT event_type, COUNT(*) AS n_unique, COUNT(DISTINCT user_id) AS n_devices
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="A3 redelivery dedup as a stream: the source unioned with "
    "itself (every message delivered twice, the reference's "
    "at-least-once broker), dropDuplicates on message id restores "
    "exactly-once counts — hash-checked against single-delivery SQL. "
    "At scale the dedup state is bounded by dropDuplicatesWithinWatermark.",
)
def s74_stream_redelivery_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..sources.tables import table_path

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stored = spark.read.parquet(table_path(sf_dir, "events"))

    def one_stream():
        s = (
            spark.readStream.schema(stored.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return s.select("event_id", "user_id", "event_type")

    doubled = one_stream().union(one_stream())
    deduped = doubled.dropDuplicates(["event_id"])
    # exact COUNT(DISTINCT) is unsupported in streaming aggregation:
    # pre-aggregate per (event_type, user_id) in the stream, finish
    # the distinct count on the bounded complete-mode result.
    per_user = (
        deduped.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        _run_to_memory(per_user, "s74_per_user", "complete")
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_unique"),
            F.count(F.lit(1)).cast("long").alias("n_devices"),
        )
        .orderBy("event_type")
    )


@register(
    "s75_ingest_object_rows",
    """
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           '/' AS path,
           ts AS reception_timestamp,
           event_type AS v_kind,
           value AS v_reading
    FROM events
    ORDER BY device_id, reception_timestamp, v_kind
    """,
    doc="Object-aggregated ingest (A18, queries.ex:199-297) oracle-"
    "checked end-to-end: events re-encoded as BSON object documents, "
    "validated against the object interface (per-key type check, "
    "unknown-key skip), materialized into the per-interface wide "
    "table — one typed column per endpoint leaf.",
)
def s75_ingest_object_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.stream import events_as_object_messages, object_interface
    from ..streaming.pipeline import object_table, run_batch

    iface = object_interface()
    msgs = events_as_object_messages(spark, sf_dir)
    out = run_batch(msgs, interfaces=(iface,))
    obj = object_table(out, iface)
    return obj.select(
        "device_id", "path", "reception_timestamp",
        F.col("v_kind"), F.col("v_reading"),
    ).orderBy("device_id", "reception_timestamp", "v_kind")


@register(
    "s76_stream_watermarked_windows",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events, wm
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="Event-time watermark semantics under append mode: the stream "
    "is consumed as 4 time-ordered micro-batches with a 1-hour "
    "watermark; a window row is emitted exactly when the watermark "
    "passes its end, so the drained result equals the batch aggregate "
    "RESTRICTED to windows closed by max(event_time) - 1h — the "
    "still-open tail windows are withheld, which the oracle reproduces "
    "with the same cutoff predicate. This is the state-bounding "
    "mechanism that caps window/dedup state at 100 TB.",
)
def s76_stream_watermarked_windows(spark: SparkSession, sf_dir: str) -> DataFrame:

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    src_dir = _time_sliced_files(ev, "ts", prefix="s76_src_")
    stream = _file_stream(spark, ev.schema, src_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        _run_to_memory(agg, "s76_watermarked")
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .orderBy("window_start", "event_type")
    )


@register(
    "s77_stream_interval_join",
    """
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
     AND epoch_us(c.ts) <  epoch_us(p.ts)
    WHERE p.event_type = 'purchase'
    ORDER BY purchase_id, click_id
    """,
    doc="Stream-stream INTERVAL JOIN with watermarks on both sides: "
    "each purchase matches the clicks of its preceding hour as both "
    "streams flow in as time-ordered micro-batches. The event-time "
    "range condition is what BOUNDS the join state — a click is "
    "evicted as soon as the watermark proves no future purchase can "
    "reach back to it, so state is O(events per watermark horizon), "
    "never O(stream). Drained over closed input, the append-mode "
    "result equals the batch range join the oracle states (q66 is the "
    "same query's batch formulation).",
)
def s77_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src_dir = _time_sliced_files(ev, "ts", prefix="s77_src_")
    purchases = (
        _file_stream(spark, ev.schema, src_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _file_stream(spark, ev.schema, src_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts"
        ),
    )
    return (
        _run_to_memory(joined, "s77_interval_join")
        .select(F.col("p_user").alias("user_id"), "purchase_id", "click_id")
        .orderBy("purchase_id", "click_id")
    )


@register(
    "s78_stream_session_windows",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
    lagged AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM lagged
    ),
    sess AS (
      SELECT user_id, ts,
             CAST(SUM(ns) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS sid
      FROM flagged
    )
    SELECT s.user_id,
           MIN(s.ts) AS session_start,
           MAX(s.ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess s, wm
    GROUP BY s.user_id, s.sid, wm.w
    HAVING MAX(s.ts) + INTERVAL 30 MINUTE <= wm.w
    ORDER BY user_id, session_start
    """,
    doc="Native streaming SESSION WINDOWS: session_window(ts, 30 min) "
    "under a 1-hour watermark in append mode, drained over 4 "
    "time-ordered micro-batches. Sessions merge across micro-batches "
    "in the state store and emit exactly when the watermark passes "
    "session_end (last event + gap) — so the result equals batch "
    "sessionization (q18's lag+cumsum formulation, which the oracle "
    "restates) RESTRICTED to sessions closed by max(event_time) - 1h. "
    "This is the streaming-native twin of q18: same sessions, but "
    "with O(open sessions) state instead of a full-history sort.",
)
def s78_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    src_dir = _time_sliced_files(ev, "ts", prefix="s78_src_")
    stream = _file_stream(spark, ev.schema, src_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        _run_to_memory(agg, "s78_session_windows")
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "s79_stream_static_join",
    """
    SELECT e.event_id, e.user_id,
           c.c_name AS customer_name,
           c.c_mktsegment AS segment,
           e.event_type, e.value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    ORDER BY e.event_id
    """,
    doc="Stream-static enrichment join: the event stream joins a "
    "static dimension snapshot (customer) per micro-batch, the "
    "streaming form of the reference's per-message schema lookup "
    "(A8, impl.ex:1277-1332 — every inbound message resolves its "
    "interface descriptor against a cached dimension). The static "
    "side is broadcast, so each micro-batch is a map-side hash join "
    "with ZERO shuffle and zero streaming state — the one join shape "
    "whose cost per batch is independent of stream history. Stateless "
    "append mode needs no watermark; drained over closed input it "
    "equals the batch join the oracle states.",
)
def s79_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
    )
    src_dir = _time_sliced_files(ev, "ts", prefix="s79_src_")
    stream = _file_stream(spark, ev.schema, src_dir)
    joined = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    ).select("event_id", "user_id", "customer_name", "segment", "event_type", "value")
    return _run_to_memory(joined, "s79_static_join").orderBy("event_id")


@register(
    "s80_stream_dedup_watermark",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    ORDER BY event_id
    """,
    doc="State-BOUNDED streaming dedup: after the 4 time-ordered "
    "micro-batches drain, the entire stream is REDELIVERED (same "
    "event times — a broker replay after a lost ack), and "
    "dropDuplicatesWithinWatermark(event_id) keeps the output "
    "exactly-once while holding each key only until the 1-hour "
    "watermark passes it — unlike plain dropDuplicates, whose key "
    "set grows with the stream forever. Replayed rows older than "
    "the watermark are discarded as late without touching state; "
    "the recent tail still finds its original in the state store. "
    "This is the at-least-once -> exactly-once gate of the "
    "reference's message tracker (message_tracker/server.ex:45-159) "
    "in its scale-safe form: state is O(events per watermark "
    "horizon). Drained over closed input the result is exactly the "
    "distinct event set, which the oracle states trivially.",
)
def s80_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src_dir = _time_sliced_files(ev, "ts", prefix="s80_src_")
    # redelivery pass: copy every slice file under a name that sorts
    # AFTER all originals, so the file source replays the whole stream
    # in later micro-batches with unchanged event times
    for f in sorted(glob.glob(os.path.join(src_dir, "*.parquet"))):
        shutil.copy(f, os.path.join(src_dir, "z_replay_" + os.path.basename(f)))
    stream = _file_stream(spark, ev.schema, src_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return _run_to_memory(deduped, "s80_dedup").orderBy("event_id")


@register(
    "s81_stream_sliding_windows",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT make_timestamp(
             (epoch_us(ts) // 900000000) * 900000000 - n.n * 900000000
           ) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events, (SELECT unnest(range(0, 4)) AS n) n, wm
    GROUP BY 1, 2, wm.w
    HAVING make_timestamp(
             (epoch_us(ts) // 900000000) * 900000000 - n.n * 900000000
           ) + INTERVAL 1 HOUR <= wm.w
    ORDER BY window_start, event_type
    """,
    doc="Sliding windows (1-hour width, 15-minute hop) under a 1-hour "
    "watermark in append mode, drained over 4 time-ordered "
    "micro-batches: each event updates 4 open windows in the state "
    "store, and every window emits exactly once when the watermark "
    "passes its end — so an event's counts materialize "
    "progressively, one window per hop, never re-emitted. Equals the "
    "batch sliding aggregate (q84) restricted to windows closed by "
    "max(event_time) - 1h, which the oracle states with the same "
    "cutoff. State is O(open windows x types), bounded by width/hop "
    "x horizon — the sliding-window cost model that matters at "
    "stream scale.",
)
def s81_stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    src_dir = _time_sliced_files(ev, "ts", prefix="s81_src_")
    stream = _file_stream(spark, ev.schema, src_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        _run_to_memory(agg, "s81_sliding")
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .orderBy("window_start", "event_type")
    )


@register(
    "s82_stream_outer_interval_join",
    """
    WITH wm AS (
      SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'click')
      ) - INTERVAL 1 HOUR AS w
    )
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
     AND epoch_us(c.ts) <  epoch_us(p.ts)
    WHERE p.event_type = 'purchase'
    UNION ALL
    SELECT p.user_id, p.event_id, CAST(NULL AS BIGINT)
    FROM events p, wm
    WHERE p.event_type = 'purchase' AND p.ts < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click'
          AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
          AND epoch_us(c.ts) <  epoch_us(p.ts)
      )
    ORDER BY purchase_id, click_id
    """,
    doc="LEFT OUTER stream-stream interval join: matches emit "
    "immediately (the s77 inner results), and a purchase with NO "
    "click in its preceding hour emits ONCE with nulls — but only "
    "when the watermark proves no matching click can still arrive. "
    "The oracle encodes the exact emission rule, validated against "
    "the engine: the global watermark is the MIN over both streams' "
    "(max event time - delay), so unmatched purchases newer than "
    "that horizon are withheld, still open in state. This is the "
    "outer-join completeness/latency trade every streaming engine "
    "must make explicit; state stays bounded by the same horizon as "
    "the inner join.",
)
def s82_stream_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src_dir = _time_sliced_files(ev, "ts", prefix="s82_src_")
    purchases = (
        _file_stream(spark, ev.schema, src_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _file_stream(spark, ev.schema, src_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts"
        ),
        "leftOuter",
    )
    return (
        _run_to_memory(joined, "s82_outer_join")
        .select(F.col("p_user").alias("user_id"), "purchase_id", "click_id")
        .orderBy("purchase_id", "click_id")
    )


@register(
    "s83_dead_letter_replay",
    """
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           '/' || event_type || '/value' AS path,
           ts AS value_timestamp,
           value AS double_value
    FROM events
    ORDER BY device_id, path, value_timestamp
    """,
    doc="Dead-letter replay, the A30 error-channel ops workflow: one "
    "third of the devices' introspection announcements are held back, "
    "so every data message of theirs dead-letters with "
    "interface_not_in_introspection (and asks a clean session, like "
    "the reference); the replay pass re-submits exactly the failed "
    "message_ids (parsed from the dead-letter payloads) together with "
    "the missing announcements, and first-pass + replay datastream "
    "rows must equal the all-events oracle exactly once — no loss, no "
    "duplication. The failed-id set is broadcast (dead letters are "
    "small by construction at any scale).",
)
def s83_dead_letter_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.fragments import fragment
    from ..streaming.pipeline import run_batch

    msgs = fragment(
        spark, sf_dir, "s83_msgs", lambda: events_as_messages(spark, sf_dir)
    )
    held = F.pmod(F.xxhash64("device_id"), F.lit(3)) == 0
    first = fragment(
        spark,
        sf_dir,
        "s83_first_pass",
        lambda: run_batch(
            msgs.filter(~((F.col("msg_type") == "introspection") & held)),
            interfaces=(telemetry_interface(),),
        ),
    )
    ds1 = datastream_table(first)
    failed_ids = (
        first.filter(F.col("kind") == "error")
        .select(
            F.get_json_object("payload_json", "$.message_id").alias("message_id")
        )
        .where(F.col("message_id").isNotNull())
    )
    replay_msgs = msgs.join(F.broadcast(failed_ids), "message_id").unionByName(
        msgs.filter((F.col("msg_type") == "introspection") & held)
    )
    ds2 = datastream_table(
        run_batch(replay_msgs, interfaces=(telemetry_interface(),))
    )
    return (
        ds1.unionByName(ds2)
        .select(
            "device_id", "path", "value_timestamp", "double_value"
        )
        .orderBy("device_id", "path", "value_timestamp")
    )


# -- s84: volatile triggers driven through the RPC wire codec ----------------

#: the event_type the volatile trigger watches and its value condition
VT_EVENT_TYPE = "purchase"
VT_THRESHOLD = 0.5
#: devices with user_id % VT_DEV_MOD == 0 get a trigger installed
VT_DEV_MOD = 5
#: of those, user_id % VT_DEL_MOD == 0 get it deleted at the 3/4 mark
VT_DEL_MOD = 10


@register(
    "s84_rpc_volatile_triggers",
    f"""
    WITH o AS (
      SELECT user_id, ts, value, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts, 'ev-' || event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS cnt
      FROM events WHERE user_id % {VT_DEV_MOD} = 0
    ),
    marks AS (
      SELECT user_id,
             MAX(CASE WHEN rn = cnt // 2 + 1 THEN ts END) AS install_ts,
             MAX(CASE WHEN rn = 3 * cnt // 4 + 1 THEN ts END) AS delete_ts
      FROM o GROUP BY user_id
    )
    SELECT CAST(o.user_id AS VARCHAR) AS device_id,
           '/{VT_EVENT_TYPE}/value' AS path,
           o.ts AS fired_ts,
           o.value AS fired_value
    FROM o JOIN marks m ON m.user_id = o.user_id
    WHERE o.event_type = '{VT_EVENT_TYPE}'
      AND o.value > {VT_THRESHOLD}
      AND o.ts >= m.install_ts
      AND (o.user_id % {VT_DEL_MOD} <> 0 OR o.ts < m.delete_ts)
    UNION ALL
    -- the negative path: every targeted device also received an install
    -- aimed at the OBJECT-aggregated interface; the engine must reject
    -- each one on the error wire (impl.ex:976-980), exactly once
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           'rejected:invalid_match_path' AS path,
           CAST(NULL AS TIMESTAMP) AS fired_ts,
           CAST(NULL AS DOUBLE) AS fired_value
    FROM (SELECT DISTINCT user_id FROM events WHERE user_id % {VT_DEV_MOD} = 0)
    ORDER BY device_id, fired_ts, fired_value
    """,
    doc="The A32 RPC control plane end-to-end: for every 5th device an "
    "InstallVolatileTrigger Call is protobuf-encoded and decoded with "
    "the real wire codec (rpc/handler.ex:35-100), the decoded fields "
    "become a control message interleaved mid-stream at the device's "
    "median event, and every 10th device's trigger is deleted again "
    "at the 3/4 mark via a round-tripped DeleteVolatileTrigger. The "
    "state machine installs/deletes per device in (reception, "
    "message_id) order, and volatile_trigger_fired events must equal "
    "the SQL statement of the window: purchase values over the "
    "threshold between install and delete. Control message ids sort "
    "before data ids at equal timestamps, so the boundary is exactly "
    "ts >= install_ts / ts < delete_ts on both sides. Negative path: "
    "each targeted device also receives an install aimed at the "
    "OBJECT-aggregated interface (advertised in its introspection); "
    "the reference rejects those (impl.ex:976-1016) and the oracle "
    "pins exactly one wire-visible invalid_match_path error reply "
    "per device — rejection is driver-checked, not just unit-tested.",
)
def s84_rpc_volatile_triggers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.stream import rpc_trigger_messages
    from ..streaming.pipeline import events_table

    msgs = events_as_messages(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % VT_DEV_MOD == 0
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts"), F.concat(F.lit("ev-"), F.col("event_id").cast("string"))
    )
    wc = Window.partitionBy("user_id")
    o = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
    )
    marks = o.groupBy("user_id").agg(
        F.max(
            F.when(F.col("rn") == F.expr("cnt DIV 2 + 1"), F.col("ts"))
        ).alias("install_ts"),
        F.max(
            F.when(F.col("rn") == F.expr("3 * cnt DIV 4 + 1"), F.col("ts"))
        ).alias("delete_ts"),
    )
    from ..sources.stream import (
        OBJECT_INTERFACE,
        OBJECT_INTROSPECTION,
        TELEMETRY_INTROSPECTION,
        object_interface,
    )
    from ..streaming.pipeline import errors_table

    # negative path (impl.ex:976-1016): each targeted device's
    # introspection also advertises the object-aggregated interface,
    # and an InstallVolatileTrigger aimed at it rides the same RPC
    # codec — the engine must answer each with a wire-visible error
    both_intro = F.lit(
        TELEMETRY_INTROSPECTION + b";" + OBJECT_INTROSPECTION
    )
    msgs = msgs.withColumn(
        "payload",
        F.when(F.col("msg_type") == "introspection", both_intro).otherwise(
            F.col("payload")
        ),
    )
    rpc = rpc_trigger_messages(
        marks, VT_EVENT_TYPE, VT_THRESHOLD, VT_DEL_MOD,
        object_iface_name=OBJECT_INTERFACE,
    )
    out = run_batch(
        msgs.unionByName(rpc),
        interfaces=(telemetry_interface(), object_interface()),
    )
    fired = events_table(out).filter(
        F.col("event_type") == "volatile_trigger_fired"
    ).select(
        "device_id",
        "path",
        F.col("timestamp").alias("fired_ts"),
        F.col("new_value").cast("double").alias("fired_value"),
    )
    rejected = errors_table(out).select(
        "device_id",
        F.concat(F.lit("rejected:"), F.col("error")).alias("path"),
        F.lit(None).cast("timestamp").alias("fired_ts"),
        F.lit(None).cast("double").alias("fired_value"),
    )
    return fired.unionByName(rejected).orderBy(
        "device_id", "fired_ts", "fired_value"
    )


# -- s85: streaming cross-snapshot content dedup -----------------------------

#: doc_id offsets for the re-crawl snapshot (clones keep the text, so
#: their content hash collides with snapshot 1; revisions append a
#: marker so their hash is genuinely new)
RECRAWL_CLONE_SHIFT = 1_000_000
RECRAWL_REV_SHIFT = 2_000_000
RECRAWL_CLONE_MOD = 50
RECRAWL_REV_MOD = 50
RECRAWL_REV_RESIDUE = 7


@register(
    "s85_stream_snapshot_dedup",
    f"""
    SELECT MIN(doc_id) AS doc_id, md5(text) AS text_hash FROM documents
    GROUP BY md5(text)
    UNION ALL
    SELECT MIN(doc_id) + {RECRAWL_REV_SHIFT}, md5(text || ' v2') FROM documents
    WHERE doc_id % {RECRAWL_REV_MOD} = {RECRAWL_REV_RESIDUE}
    GROUP BY md5(text || ' v2')
    ORDER BY doc_id
    """,
    doc="Streaming cross-snapshot exact dedup with Spark's NATIVE "
    "stateful operator: snapshot 1 (the corpus) and snapshot 2 (a "
    "re-crawl: verbatim clones of every 50th doc plus genuinely "
    "revised docs) arrive as separate micro-batches, and streaming "
    "dropDuplicates on the content hash keeps exactly the first "
    "arrival of each hash — all originals survive, every re-crawled "
    "clone is suppressed by the state store across the batch "
    "boundary, every revision passes as new content. This is the "
    "incremental-ingest companion to q111: the dedup state is the "
    "hash set itself, partitioned by hash (uniform, unskewed), and "
    "it is Spark's own state machinery rather than our custom fold — "
    "the right tool when the predicate is a plain key equality. Each "
    "snapshot is internally pre-deduped to the min doc_id per hash "
    "(a publisher invariant — q40's job): WITHIN one micro-batch "
    "dropDuplicates keeps an arbitrary first-seen row, so only the "
    "cross-batch suppression is deterministic, and the scenario "
    "isolates exactly that (sf0.1 carries real intra-corpus exact "
    "dups that exposed the ambiguity).",
)
def s85_stream_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    def min_per_hash(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    docs = min_per_hash(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = (
        docs.filter(F.col("doc_id") % RECRAWL_CLONE_MOD == 0)
        .select((F.col("doc_id") + RECRAWL_CLONE_SHIFT).alias("doc_id"), "text")
        .unionByName(
            min_per_hash(
                raw.filter(
                    F.col("doc_id") % RECRAWL_REV_MOD == RECRAWL_REV_RESIDUE
                ).select(
                    (F.col("doc_id") + RECRAWL_REV_SHIFT).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" v2")).alias("text"),
                )
            )
        )
    )
    # snapshot 1 is ALWAYS batch 0
    src_dir = _ordered_files([docs, recrawl], "s85_src_")
    stream = _file_stream(spark, docs.schema, src_dir)
    kept = (
        stream.withColumn("text_hash", F.md5(F.col("text").cast("binary")))
        .dropDuplicates(["text_hash"])
        .select("doc_id", "text_hash")
    )
    return _run_to_memory(kept, "s85_dedup").orderBy("doc_id")


# -- s86: error-channel taxonomy under the hash gate -------------------------

#: per-class corruption applied to data messages by event_id % 5:
#: 0 untouched, 1 malformed path, 2 unannounced interface, 3 garbage
#: BSON, 4 well-formed BSON of the wrong type
_S86_GARBAGE = b"\xff\xfe\x00"


@register(
    "s86_error_taxonomy",
    """
    WITH cls AS (SELECT event_id, user_id, event_id % 5 AS c FROM events)
    SELECT CASE c WHEN 0 THEN 'ok'
                  WHEN 1 THEN 'invalid_path'
                  WHEN 2 THEN 'interface_not_in_introspection'
                  WHEN 3 THEN 'invalid_payload'
                  ELSE 'unexpected_value_type' END AS category,
           CAST(COUNT(*) AS BIGINT) AS n_messages,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_devices
    FROM cls
    GROUP BY c
    ORDER BY category
    """,
    doc="The A7/A10/A11 validation ladder under the driver's hash "
    "gate, not just unit tests: four corruption classes are injected "
    "deterministically into the message stream (malformed path, "
    "unannounced interface, undecodable BSON, wrong value type) and "
    "the state machine must route every message to exactly the "
    "expected dead-letter category — or to a datastream row for the "
    "clean class — with counts and distinct-device counts matching "
    "plain modulo arithmetic over the original events. Validation "
    "ORDER matters (path before introspection before decode before "
    "type, impl.ex:559-598): a misordered ladder shifts categories "
    "and breaks the hash.",
)
def s86_error_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.payloads import encode_document
    from ..streaming.pipeline import errors_table

    msgs = events_as_messages(spark, sf_dir)
    e_id = F.expr("CAST(substring(message_id, 4) AS BIGINT)")
    cls = F.when(F.col("msg_type") == "data", e_id % 5)
    bad_type = encode_document({"v": "oops"})
    corrupted = (
        msgs.withColumn("__c", cls)
        .withColumn(
            "path",
            F.when(F.col("__c") == 1, F.lit("/bad//path")).otherwise(F.col("path")),
        )
        .withColumn(
            "interface",
            F.when(F.col("__c") == 2, F.lit("com.unknown.Iface")).otherwise(
                F.col("interface")
            ),
        )
        .withColumn(
            "payload",
            F.when(F.col("__c") == 3, F.lit(_S86_GARBAGE))
            .when(F.col("__c") == 4, F.lit(bad_type))
            .otherwise(F.col("payload")),
        )
        .drop("__c")
    )
    out = run_batch(corrupted, interfaces=(telemetry_interface(),))
    ok = datastream_table(out).select(F.lit("ok").alias("category"), "device_id")
    errs = errors_table(out).select(F.col("error").alias("category"), "device_id")
    return (
        ok.unionByName(errs)
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_messages"),
            F.countDistinct("device_id").cast("long").alias("n_devices"),
        )
        .orderBy("category")
    )


# -- s87: foreachBatch idempotent LWW merge sink -----------------------------


@register(
    "s87_foreachbatch_merge",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS last_event_id,
           event_type AS last_event_type,
           value AS last_value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
    doc="foreachBatch exactly-once MERGE into a versioned parquet "
    "store: the event stream arrives as three at-least-once slices "
    "(mod-3 partition plus a mod-5 redelivery overlap, so ~1/3 of "
    "rows are delivered twice in DIFFERENT micro-batches), and each "
    "micro-batch folds into the store with a last-writer-wins merge "
    "keyed on user_id (ts desc, event_id desc). The sink writes each "
    "merge to a batch_id-versioned directory and flips a pointer — "
    "the idempotence contract Structured Streaming requires from "
    "foreachBatch: a replayed batch_id rewrites the SAME version "
    "instead of double-applying. The final store must equal the "
    "batch LWW oracle over the ORIGINAL events — redeliveries "
    "across batch boundaries must leave no trace. This is the "
    "pattern that lands a 100 TB/day stream in a lakehouse table "
    "without Delta: version directories + atomic pointer swap; the "
    "per-batch merge cost is one keyed shuffle of store+batch.",
)
def s87_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src_dir = _ordered_files(
        [
            ev.filter((F.col("event_id") % 3 == i) | (F.col("event_id") % 5 == i))
            for i in range(3)
        ],
        "s87_src_",
    )

    store_root = scratch_dir(prefix="s87_store_")
    current = {"path": None}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        merged = batch_df
        if current["path"] is not None:
            merged = sess.read.parquet(current["path"]).unionByName(batch_df)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        lww = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # batch_id-keyed version dir: a Structured Streaming retry of
        # the same batch overwrites this exact dir (idempotent), and
        # the pointer flip below is the commit
        version_dir = os.path.join(store_root, f"v{batch_id}")
        lww.write.mode("overwrite").parquet(version_dir)
        current["path"] = version_dir

    with _shuffle_width(spark):
        query = (
            _file_stream(spark, ev.schema, src_dir)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", scratch_dir(prefix="s87_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(query)
    return (
        spark.read.parquet(current["path"])
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


# -- s88: transformWithState streak detector ---------------------------------

#: per-event value threshold for the streak detector
_S88_THRESH = 100.0


@register(
    "s88_stream_streak_state",
    f"""
    WITH o AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    b AS (
      SELECT *, MAX(CASE WHEN value <= {_S88_THRESH} THEN rn END)
               OVER (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_break
      FROM o
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(CASE WHEN value > {_S88_THRESH}
                     THEN rn - COALESCE(last_break, 0) ELSE 0 END AS BIGINT)
             AS streak_len
    FROM b ORDER BY event_id
    """,
    doc="Arbitrary stateful processing beyond the ingest pipeline: a "
    "per-user GroupState (applyInPandasWithState; the newer "
    "transformWithState v2 API needs the protobuf state-server "
    "package this environment does not ship) carries the running "
    "count of CONSECUTIVE events above a value threshold across "
    "micro-batch boundaries — the per-key streak/debounce shape (N failures in a "
    "row, N heartbeats missed) that neither windowed aggregation nor "
    "dropDuplicates can express. The stream arrives as three "
    "time-ordered slices; each batch's rows are re-ordered per key "
    "before folding so intra-batch arrival order never leaks into "
    "state. The batch oracle is the gaps-and-islands rewrite "
    "(row_number minus last breaker position), so every per-event "
    "streak value is pinned, not just the final state. State is one "
    "BIGINT per key — at cluster scale this is RocksDB-backed keyed "
    "state with changelog checkpointing.",
)
def s88_stream_streak_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def streak_fold(key, pdf_iter, state):
        df = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        n = state.get[0] if state.exists else 0
        events, streaks = [], []
        for eid, val in zip(df["event_id"], df["value"]):
            n = n + 1 if val > _S88_THRESH else 0
            events.append(int(eid))
            streaks.append(n)
        state.update((n,))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(events),
                "event_id": events,
                "streak_len": streaks,
            }
        )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src_dir = _ordered_files(_ntile_slices(ev), "s88_src_")
    stream = _file_stream(spark, ev.schema, src_dir)
    out = stream.groupBy("user_id").applyInPandasWithState(
        streak_fold,
        outputStructType="user_id BIGINT, event_id BIGINT, streak_len BIGINT",
        stateStructType="n BIGINT",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return _run_to_memory(out, "s88_streaks").orderBy("event_id")


# -- s89: streaming 3-sigma alerting on exact running stats ------------------

#: fixed-point snap and sigma multiplier (shared semantics with q133)
_S89_SNAP = 1000
_S89_SIGMA = 3
#: alerts only fire once the device has a history
_S89_MIN_N = 5


@register(
    "s89_stream_anomaly_alerts",
    f"""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CAST(ROUND(value * {_S89_SNAP}) AS BIGINT) AS x
      FROM events
    ),
    w AS (
      SELECT user_id, event_id, x,
             COUNT(*) OVER pre AS n,
             COALESCE(SUM(x) OVER pre, 0) AS sx,
             COALESCE(SUM(x * x) OVER pre, 0) AS sxx
      FROM s
      WINDOW pre AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(n AS BIGINT) AS n_prior,
           CAST(CASE WHEN n >= {_S89_MIN_N}
                      AND (n * x - sx) * (n * x - sx)
                          > {_S89_SIGMA * _S89_SIGMA} * (n * sxx - sx * sx)
                THEN 1 ELSE 0 END AS BIGINT) AS is_alert
    FROM w ORDER BY event_id
    """,
    doc="Streaming fleet anomaly alerting: per-device GroupState "
    "carries EXACT integer running statistics (count, sum, sum of "
    "squares at 1e-3 fixed point) across micro-batches, and each "
    "arriving value tests against the history STRICTLY BEFORE it "
    "with q133's rearranged pure-integer 3-sigma comparison "
    "(n*x - sx)^2 > 9*(n*sxx - sx^2) — no floats in state, so the "
    "stream's alert sequence is bit-identical to the batch "
    "gaps-ordered oracle, replay after replay. Alerts gate on 5 "
    "prior observations (cold devices never alarm). This composes "
    "the reference's per-device keyed-state discipline with the "
    "exact-statistics discipline: the alerting pipeline a 100 TB/day "
    "device fleet actually needs, in one keyed stateful operator.",
)
def s89_stream_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src_dir = _ordered_files(_ntile_slices(ev), "s89_src_")

    def stats_fold(key, pdf_iter, state):
        df = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        n, sx, sxx = state.get if state.exists else (0, 0, 0)
        events, priors, alerts = [], [], []
        for eid, val in zip(df["event_id"], df["value"]):
            x = int(val * _S89_SNAP + 0.5)  # ROUND half-up, positive values
            d = n * x - sx
            alert = int(
                n >= _S89_MIN_N and d * d > _S89_SIGMA**2 * (n * sxx - sx * sx)
            )
            events.append(int(eid))
            priors.append(n)
            alerts.append(alert)
            n, sx, sxx = n + 1, sx + x, sxx + x * x
        state.update((n, sx, sxx))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(events),
                "event_id": events,
                "n_prior": priors,
                "is_alert": alerts,
            }
        )

    stream = _file_stream(spark, ev.schema, src_dir)
    out = stream.groupBy("user_id").applyInPandasWithState(
        stats_fold,
        outputStructType=(
            "user_id BIGINT, event_id BIGINT, n_prior BIGINT, is_alert BIGINT"
        ),
        stateStructType="n BIGINT, sx BIGINT, sxx BIGINT",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return _run_to_memory(out, "s89_alerts").orderBy("event_id")


# ---------------------------------------------------------------------------
# s90 — the Kafka connector seam, end-to-end against a broker stand-in
# ---------------------------------------------------------------------------

#: the Kafka source's exact output schema (what format("kafka") .load()
#: yields) — fabricated by the broker stand-in so parse_wire_frames runs
#: against the real contract it targets
KAFKA_FRAME_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT, "
    "timestamp TIMESTAMP, timestampType INT, "
    "headers ARRAY<STRUCT<key: STRING, value: BINARY>>"
)


def _kafka_frames_from_messages(msgs):
    """MESSAGE_SCHEMA rows -> Kafka record frames, inverting
    parse_wire_frames: routing metadata becomes x_astarte-style headers
    (sources/connectors.py H_*), the BSON payload becomes the record
    value, and absent fields (introspection has no interface/path) are
    genuinely ABSENT headers, exercising the null-header path."""
    from ..sources.connectors import (
        H_DEVICE,
        H_INTERFACE,
        H_MESSAGE_ID,
        H_PATH,
        H_REALM,
        H_TYPE,
    )

    def hdr(k, v):
        return F.struct(F.lit(k).alias("key"), v.cast("binary").alias("value"))

    headers = F.filter(
        F.array(
            hdr(H_REALM, F.col("realm")),
            hdr(H_DEVICE, F.col("device_id")),
            hdr(H_TYPE, F.col("msg_type")),
            hdr(H_INTERFACE, F.col("interface")),
            hdr(H_PATH, F.col("path")),
            hdr(H_MESSAGE_ID, F.col("message_id")),
        ),
        lambda h: h["value"].isNotNull(),
    )
    return msgs.select(
        F.col("device_id").cast("binary").alias("key"),
        F.col("payload").alias("value"),
        F.lit("astarte-data").alias("topic"),
        F.pmod(F.crc32(F.col("device_id").cast("binary")), F.lit(8))
        .cast("int")
        .alias("partition"),
        F.xxhash64("message_id").alias("offset"),
        F.col("reception_timestamp").alias("timestamp"),
        F.lit(0).alias("timestampType"),
        headers.alias("headers"),
    )


@register(
    "s90_kafka_frame_ingest",
    """
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           '/' || event_type || '/value' AS path,
           ts AS value_timestamp,
           value AS double_value
    FROM events
    ORDER BY device_id, path, value_timestamp
    """,
    doc="The Kafka connector seam exercised end-to-end: messages are "
    "re-encoded as Kafka RECORD FRAMES (key/value/topic/partition/"
    "offset/timestamp/headers — the exact schema format('kafka') "
    "yields), streamed file-by-file as a broker stand-in, and fed "
    "through the REAL parse_wire_frames -> run_stream composition "
    "kafka_message_stream uses (sources/connectors.py:99-130 is the "
    "same projection over the same schema; only .format('kafka') "
    "itself is absent in this container). Header-based dispatch, the "
    "absent-header null path (introspection frames carry no "
    "interface/path header), binary header decode, and the keyed "
    "stateful fold all run exactly as they would against a live "
    "broker, and the materialized datastream rows must equal the "
    "batch SQL oracle (mirrors amqp_data_consumer.ex:109-270).",
)
def s90_kafka_frame_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.connectors import parse_wire_frames
    from ..streaming.pipeline import run_stream

    msgs = events_as_messages(spark, sf_dir)
    frames = _kafka_frames_from_messages(msgs)
    src_dir = _time_sliced_files(frames, "timestamp", prefix="s90_src_")
    stream = _file_stream(spark, KAFKA_FRAME_SCHEMA, src_dir)
    out = run_stream(
        parse_wire_frames(stream), interfaces=(telemetry_interface(),)
    )
    ds = datastream_table(out).select(
        "device_id", "path", "value_timestamp", "double_value"
    )
    return _run_to_memory(ds, "s90_kafka_ingest").orderBy(
        "device_id", "path", "value_timestamp"
    )


# ---------------------------------------------------------------------------
# s91 — checkpoint recovery: stream stopped and RESTARTED mid-corpus
# ---------------------------------------------------------------------------


@register(
    "s91_checkpoint_restart",
    """
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           '/' || event_type || '/value' AS path,
           ts AS value_timestamp,
           value AS double_value
    FROM events
    ORDER BY device_id, path, value_timestamp
    """,
    doc="Crash/redeploy recovery end-to-end: the ingest stream consumes "
    "the first half of the time-sliced corpus, TERMINATES, and a brand "
    "new query (fresh plan objects, same checkpoint) consumes the "
    "rest. The second query must restore every device's GroupState "
    "from the state store — introspections arrived only in the first "
    "half, so second-half data messages materialize correctly ONLY if "
    "state survived the restart — and the parquet sink's commit log "
    "must keep the union exactly-once. The batch SQL oracle over the "
    "whole corpus is the acceptance bar (mirrors the reference's "
    "requeue-and-resume recovery, message_tracker/server.ex:128-159, "
    "re-expressed as checkpoint + WAL + idempotent sink).",
)
def s91_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import MESSAGE_SCHEMA, run_stream

    msgs = events_as_messages(spark, sf_dir)
    staged = _time_sliced_files(msgs, "reception_timestamp", prefix="s91_staged_")
    src_dir = scratch_dir(prefix="s91_src_")
    out_dir = os.path.join(scratch_dir(prefix="s91_out_"), "data")
    ckpt = scratch_dir(prefix="s91_ckpt_")
    files = sorted(glob.glob(os.path.join(staged, "*.parquet")))
    half = len(files) // 2

    def run_once() -> None:
        # fresh reader/plan objects each time: a restart, not a resume
        stream = _file_stream(spark, MESSAGE_SCHEMA, src_dir)
        ds = datastream_table(
            run_stream(stream, interfaces=(telemetry_interface(),))
        ).select("device_id", "path", "value_timestamp", "double_value")
        q = (
            ds.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)

    def publish(batch: list[str]) -> None:
        _move_stamped([(f, os.path.join(src_dir, os.path.basename(f))) for f in batch])

    with _shuffle_width(spark):
        publish(files[:half])
        run_once()  # first life: consumes the first half, then terminates
        publish(files[half:])
        run_once()  # second life: same checkpoint, restored device state
    return (
        spark.read.parquet(out_dir)
        .select("device_id", "path", "value_timestamp", "double_value")
        .orderBy("device_id", "path", "value_timestamp")
    )


# ---------------------------------------------------------------------------
# s92 — stream-static join with the static dim UPDATED between batches
# ---------------------------------------------------------------------------


@register(
    "s92_dim_refresh_join",
    """
    WITH sliced AS (
      SELECT event_id, event_type, ts,
             NTILE(3) OVER (ORDER BY ts, event_id) - 1 AS slice
      FROM events
    )
    SELECT event_id,
           event_type || '#v' || CAST(slice + 1 AS VARCHAR) AS label
    FROM sliced
    ORDER BY event_id
    """,
    doc="The per-batch dimension-refresh guarantee made driver-checkable "
    "(SURVEY §4: the reference's 10-min interface-cache TTL, "
    "impl.ex:47,1213-1229, is subsumed by re-resolving dims per "
    "micro-batch): a foreachBatch sink re-reads the dimension table "
    "ON EVERY BATCH and afterwards publishes version N+1 of it, so "
    "batch k's events MUST join version k+1's labels — any caching of "
    "the static side across batches (or a stale snapshot read) breaks "
    "the oracle, which states the slice->version mapping exactly. "
    "Three time-ordered slices via the two-phase NTILE, one file per "
    "micro-batch.",
)
def s92_dim_refresh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    src_dir = _ordered_files(_ntile_slices(ev), "s92_src_")

    # version 1 of the dimension: event_type -> 'type#v1'
    dim_dir = scratch_dir(prefix="s92_dim_")
    types = [r["event_type"] for r in ev.select("event_type").distinct().collect()]

    def write_dim(version: int) -> None:
        spark.createDataFrame(
            [(t, f"{t}#v{version}") for t in sorted(types)],
            "event_type string, label string",
        ).coalesce(1).write.mode("overwrite").parquet(dim_dir)

    write_dim(1)
    out_rows: list = []

    def sink(batch, epoch_id: int) -> None:
        # re-read the CURRENT dim snapshot — the per-batch refresh that
        # subsumes the reference's cache TTL — then publish the next
        # version for the following batch
        dim = spark.read.parquet(dim_dir)
        rows = (
            batch.join(F.broadcast(dim), "event_type")
            .select("event_id", "label")
            .collect()
        )
        out_rows.extend((int(r["event_id"]), r["label"]) for r in rows)
        write_dim(int(epoch_id) + 2)

    with _shuffle_width(spark):
        q = (
            _file_stream(spark, ev.schema, src_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", scratch_dir(prefix="s92_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)
    return spark.createDataFrame(
        sorted(out_rows), "event_id long, label string"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# s93 — object-aggregated ingest under REAL Structured Streaming
# ---------------------------------------------------------------------------


@register(
    "s93_stream_object_rows",
    """
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           '/' AS path,
           ts AS reception_timestamp,
           event_type AS v_kind,
           value AS v_reading
    FROM events
    ORDER BY device_id, reception_timestamp, v_kind
    """,
    doc="Object-aggregated ingest (A18) under REAL Structured "
    "Streaming — the streaming twin of the batch s75: object BSON "
    "documents arrive as time-ordered files (introspections first), "
    "the keyed GroupState carries each device's introspection across "
    "micro-batches, per-key type validation runs in the fold, and the "
    "per-interface wide rows (one typed column per endpoint leaf) "
    "materialized across FOUR micro-batches must equal the batch SQL "
    "oracle. Closes the one ingest mode (object aggregation) that "
    "only had batch-path stream coverage.",
)
def s93_stream_object_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.stream import events_as_object_messages, object_interface
    from ..streaming.pipeline import MESSAGE_SCHEMA, object_table, run_stream

    iface = object_interface()
    msgs = events_as_object_messages(spark, sf_dir)
    src_dir = _time_sliced_files(msgs, "reception_timestamp", prefix="s93_src_")
    stream = _file_stream(spark, MESSAGE_SCHEMA, src_dir)
    out = run_stream(stream, interfaces=(iface,))
    obj = object_table(out, iface).select(
        "device_id", "path", "reception_timestamp", "v_kind", "v_reading"
    )
    return _run_to_memory(obj, "s93_stream_object").orderBy(
        "device_id", "reception_timestamp", "v_kind"
    )


# ---------------------------------------------------------------------------
# s94 — COMPLETE output mode: running totals re-emitted whole per batch
# ---------------------------------------------------------------------------


@register(
    "s94_stream_complete_totals",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_e2
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="COMPLETE output mode — the one Structured Streaming mode the "
    "suite had not exercised (append: s72..s93; update: subsumed by "
    "the keyed folds): an unwatermarked global aggregation whose "
    "ENTIRE result re-emits every micro-batch, so the memory sink's "
    "final snapshot after four availableNow batches must equal the "
    "whole-corpus batch aggregate, exactly — counts and the 1e-2 "
    "fixed-point value mass (exact DISTINCT is unsupported on "
    "streams, a real engine constraint this scenario documents). "
    "State is one row per event_type (bounded domain), which is "
    "precisely when complete mode is the right tool at scale.",
)
def s94_stream_complete_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src_dir = _time_sliced_files(ev, "ts", prefix="s94_src_")
    stream = _file_stream(spark, ev.schema, src_dir)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("sum_v_e2"),
    )
    return _run_to_memory(
        agg.select("event_type", "n_events", "sum_v_e2"),
        "s94_complete_totals",
        "complete",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# s95 — streaming decontamination gate (stream-static broadcast index)
# ---------------------------------------------------------------------------


@register(
    "s95_stream_decontamination",
    """
    WITH shing AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(string_split(text,' ')) - 1, 1)),
        i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
             || ' ' || string_split(text,' ')[i+2]))) AS shingle
      FROM documents
    ),
    bench AS (
      SELECT DISTINCT shingle FROM shing WHERE doc_id % 97 = 0
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM shing
      WHERE doc_id % 97 <> 0 GROUP BY doc_id
    ),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_shared
      FROM shing s JOIN bench USING (shingle)
      WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id
    )
    SELECT z.doc_id,
           CAST(z.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(h.n_shared, 0) * 10 >= z.n_shingles AS contaminated
    FROM sizes z LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Decontamination as an INGEST-TIME gate instead of a batch "
    "sweep: crawl snapshots stream in (3 time-sliced micro-batches) "
    "and every arriving document is scored against the evaluation "
    "benchmark BEFORE it lands in the corpus — the shape a pipeline "
    "needs when the corpus is append-only and re-sweeping 100 TB per "
    "crawl is off the table. The eval index is compiled to a SINGLE "
    "broadcast row holding the distinct benchmark shingle array (real "
    "eval sets are a few MB), the stream side computes its shingle set "
    "with higher-order functions, and the join is a stream-static "
    "broadcast nested-loop cross join + array_intersect — per-row, "
    "ZERO streaming state, append mode, so the operator works under "
    "any watermark policy and never compacts a state store. The "
    "contamination predicate is pure integer arithmetic (n_shared * "
    "10 >= n_shingles, the q108 threshold of 0.1), bit-identical to "
    "the batch oracle over the union of all snapshots.",
)
def s95_stream_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingles_from_tokens
    from ..operators.dedup import DECONTAM_BENCH_MOD

    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def doc_shingles(df: DataFrame) -> DataFrame:
        toked = df.select("doc_id", F.split("text", " ").alias("toks"))
        return toked.select(
            "doc_id",
            F.array_distinct(shingles_from_tokens(F.col("toks"), 3)).alias("sh"),
        )

    # static side: the benchmark's distinct shingles as ONE array row
    bench = (
        doc_shingles(raw.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0))
        .select(F.explode("sh").alias("shingle"))
        .agg(F.collect_set("shingle").alias("bench_sh"))
    )

    # 3 crawl snapshots of the training docs, mtime-ordered so batch
    # order is deterministic (the file stream source orders by mtime)
    train = raw.filter(F.col("doc_id") % DECONTAM_BENCH_MOD != 0)
    src_dir = _ordered_files(
        [train.filter(F.col("doc_id") % 3 == i) for i in range(3)], "s95_src_"
    )
    stream = _file_stream(spark, train.schema, src_dir)
    n_shared = F.size(F.array_intersect(F.col("sh"), F.col("bench_sh")))
    gated = (
        doc_shingles(stream)
        .filter(F.size("sh") > 0)
        .crossJoin(bench)
        .select(
            "doc_id",
            F.size("sh").cast("long").alias("n_shingles"),
            n_shared.cast("long").alias("n_shared"),
            (n_shared * 10 >= F.size("sh")).alias("contaminated"),
        )
    )
    return _run_to_memory(gated, "s95_decontam").orderBy("doc_id")


# -- s96: streaming incremental near-dup dedup against a growing index -------

def _s96_oracle() -> str:
    """Unrolled 3-batch replay of the streaming dedup gate: batch k
    (doc_id % 3 = k, arrival order 0,1,2) is checked against the index
    of KEPT docs from strictly earlier batches — exact md5 first, then
    LSH band collision verified by exact shingle Jaccard >= 0.5 (the
    q111 verdict ladder) — and only its keepers join the index. The
    recursion over batches is unrolled into per-k CTEs (kept{k} feeds
    idx{k+1}), which is exactly what the streaming side's versioned
    index store does one micro-batch at a time."""
    from .dedup import _SH_SQL, _SIG_SQL

    parts = [
        f"WITH sig AS ({_SIG_SQL})",
        """banded AS (
      SELECT doc_id, band, bkey FROM (
        SELECT doc_id, 0 AS band, h0 || ':' || h1 AS bkey FROM sig
        UNION ALL SELECT doc_id, 1, h2 || ':' || h3 FROM sig
        UNION ALL SELECT doc_id, 2, h4 || ':' || h5 FROM sig
        UNION ALL SELECT doc_id, 3, h6 || ':' || h7 FROM sig
      ) u
    )""",
        "exh AS (SELECT doc_id, md5(text) AS h FROM documents)",
        f"tok AS ({_SH_SQL})",
        "tokc AS (SELECT doc_id, COUNT(*) AS n_sh FROM tok GROUP BY doc_id)",
        "kept0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0)",
    ]
    for k in (1, 2):
        idx = "SELECT doc_id FROM kept0" if k == 1 else (
            "SELECT doc_id FROM kept0 UNION ALL SELECT doc_id FROM kept1"
        )
        parts += [
            f"idx{k} AS ({idx})",
            f"""ex{k} AS (
      SELECT bb.doc_id, MIN(ib.doc_id) AS corp_doc
      FROM exh bb
      JOIN exh ib ON ib.h = bb.h
      JOIN idx{k} ix ON ix.doc_id = ib.doc_id
      WHERE bb.doc_id % 3 = {k}
      GROUP BY bb.doc_id
    )""",
            f"""cand{k} AS (
      SELECT DISTINCT nb.doc_id AS bdoc, cb.doc_id AS cdoc
      FROM banded nb
      JOIN banded cb ON cb.band = nb.band AND cb.bkey = nb.bkey
      JOIN idx{k} ix ON ix.doc_id = cb.doc_id
      WHERE nb.doc_id % 3 = {k}
    )""",
            f"""near{k} AS (
      SELECT s.bdoc, s.cdoc,
             round(CAST(s.n_shared AS DOUBLE)
                   / (ca.n_sh + cb2.n_sh - s.n_shared), 6) AS jaccard
      FROM (
        SELECT c.bdoc, c.cdoc, COUNT(*) AS n_shared
        FROM cand{k} c
        JOIN tok ta ON ta.doc_id = c.bdoc
        JOIN tok tb ON tb.doc_id = c.cdoc AND tb.shingle = ta.shingle
        GROUP BY c.bdoc, c.cdoc
      ) s
      JOIN tokc ca ON ca.doc_id = s.bdoc
      JOIN tokc cb2 ON cb2.doc_id = s.cdoc
      WHERE CAST(s.n_shared AS DOUBLE) / (ca.n_sh + cb2.n_sh - s.n_shared)
            >= 0.5
    )""",
            f"""best{k} AS (
      SELECT bdoc, cdoc, jaccard FROM (
        SELECT bdoc, cdoc, jaccard,
               ROW_NUMBER() OVER (PARTITION BY bdoc
                 ORDER BY jaccard DESC, cdoc) AS rn
        FROM near{k}
      ) r WHERE rn = 1
    )""",
            f"""verd{k} AS (
      SELECT d.doc_id,
             CASE WHEN e.corp_doc IS NOT NULL THEN 'drop_exact'
                  WHEN n.cdoc IS NOT NULL THEN 'drop_near'
                  ELSE 'keep' END AS verdict,
             CASE WHEN e.corp_doc IS NOT NULL THEN e.corp_doc
                  ELSE n.cdoc END AS match_doc,
             CASE WHEN e.corp_doc IS NOT NULL THEN 1.0
                  ELSE n.jaccard END AS jaccard
      FROM documents d
      LEFT JOIN ex{k} e ON e.doc_id = d.doc_id
      LEFT JOIN best{k} n ON n.bdoc = d.doc_id
      WHERE d.doc_id % 3 = {k}
    )""",
            f"kept{k} AS (SELECT doc_id FROM verd{k} WHERE verdict = 'keep')",
        ]
    return (
        ",\n    ".join(parts)
        + """
    SELECT doc_id, 'keep' AS verdict,
           CAST(NULL AS BIGINT) AS match_doc, CAST(NULL AS DOUBLE) AS jaccard
    FROM kept0
    UNION ALL SELECT doc_id, verdict, match_doc, jaccard FROM verd1
    UNION ALL SELECT doc_id, verdict, match_doc, jaccard FROM verd2
    ORDER BY doc_id
    """
    )


@register(
    "s96_stream_incremental_dedup",
    _s96_oracle(),
    doc="The q111 incremental-dedup topology run as a LIVE STREAM: "
    "crawl batches arrive as three mtime-ordered micro-batches, and "
    "each foreachBatch checks every arriving doc against a GROWING "
    "signature index holding only previously KEPT docs — exact md5 "
    "first, then MinHash band collision verified by exact shingle "
    "Jaccard >= 0.5 — then appends the batch's keepers' signatures to "
    "a batch_id-versioned index store with pointer-swap commit (the "
    "s87 idempotence contract: a replayed batch rewrites its own "
    "version, never double-inserts). Verdicts land in per-batch "
    "version dirs the same way. Docs dropped earlier never pollute "
    "the index, so a near-dup of a DROPPED doc is still kept unless "
    "it also matches a keeper — the append-only-corpus semantic a "
    "batch sweep cannot give you. Per micro-batch the index side is "
    "keyed equi-joins against the store (batch small, index probed, "
    "nothing compares batch docs to each other), signature compute "
    "is the shared zero-shuffle higher-order-function family, and "
    "the oracle replays the whole ladder as unrolled per-batch CTEs.",
)
def s96_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import minhash_perm, shingle_h32, shingles_from_tokens

    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def sigs(df: DataFrame) -> DataFrame:
        toked = df.select(
            "doc_id",
            F.md5(F.col("text").cast("binary")).alias("h"),
            F.split("text", " ").alias("toks"),
        )
        sh = F.array_distinct(
            F.transform(
                F.array_distinct(shingles_from_tokens(F.col("toks"), 3)),
                shingle_h32,
            )
        )
        s = toked.select("doc_id", "h", sh.alias("sh"))
        for i in range(8):
            s = s.withColumn(
                f"h{i}", F.array_min(F.transform("sh", minhash_perm(i)))
            )
        return s.select(
            "doc_id", "h", "sh",
            *[
                F.concat_ws(
                    ":", F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")
                ).alias(f"bk{b}")
                for b in range(4)
            ],
        )

    def banded(df: DataFrame) -> DataFrame:
        structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"), F.col(f"bk{b}").alias("bkey")
                )
                for b in range(4)
            ]
        )
        return df.select("doc_id", F.explode(structs).alias("bb")).select(
            "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
        )

    src_dir = _ordered_files(
        [raw.filter(F.col("doc_id") % 3 == i) for i in range(3)], "s96_src_"
    )

    idx_root = scratch_dir(prefix="s96_idx_")
    out_root = scratch_dir(prefix="s96_out_")
    current = {"path": None}

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        bs = sigs(batch_df)
        if current["path"] is None:
            verd = bs.select(
                "doc_id",
                F.lit("keep").alias("verdict"),
                F.lit(None).cast("long").alias("match_doc"),
                F.lit(None).cast("double").alias("jaccard"),
            )
            kept = bs
        else:
            idx = sess.read.parquet(current["path"])
            exact = (
                bs.select("doc_id", "h")
                .join(
                    idx.groupBy("h").agg(F.min("doc_id").alias("corp_doc")),
                    "h",
                )
                .select("doc_id", "corp_doc")
            )
            cand = (
                banded(bs)
                .withColumnRenamed("doc_id", "bdoc")
                .join(
                    banded(idx).withColumnRenamed("doc_id", "cdoc"),
                    ["band", "bkey"],
                )
                .select("bdoc", "cdoc")
                .distinct()
            )
            sets_b = bs.select(F.col("doc_id").alias("bdoc"), F.col("sh").alias("sh_b"))
            sets_c = idx.select(F.col("doc_id").alias("cdoc"), F.col("sh").alias("sh_c"))
            inter = F.size(F.array_intersect(F.col("sh_b"), F.col("sh_c")))
            union = F.size("sh_b") + F.size("sh_c") - inter
            jac = inter.cast("double") / union
            near = (
                cand.join(sets_b, "bdoc")
                .join(sets_c, "cdoc")
                .filter(jac >= 0.5)
                .select("bdoc", "cdoc", F.round(jac, 6).alias("jaccard"))
            )
            w = Window.partitionBy("bdoc").orderBy(F.col("jaccard").desc(), "cdoc")
            best = (
                near.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("bdoc").alias("doc_id"), "cdoc", "jaccard")
            )
            verd = (
                bs.select("doc_id")
                .join(exact, "doc_id", "left")
                .join(best, "doc_id", "left")
                .select(
                    "doc_id",
                    F.when(F.col("corp_doc").isNotNull(), F.lit("drop_exact"))
                    .when(F.col("cdoc").isNotNull(), F.lit("drop_near"))
                    .otherwise(F.lit("keep"))
                    .alias("verdict"),
                    F.when(F.col("corp_doc").isNotNull(), F.col("corp_doc"))
                    .otherwise(F.col("cdoc"))
                    .cast("long")
                    .alias("match_doc"),
                    F.when(F.col("corp_doc").isNotNull(), F.lit(1.0))
                    .otherwise(F.col("jaccard"))
                    .cast("double")
                    .alias("jaccard"),
                )
            )
            kept = bs.join(
                verd.filter(F.col("verdict") == "keep").select("doc_id"), "doc_id"
            )
        # batch_id-versioned dirs: a streaming retry overwrites the SAME
        # version (idempotent); the pointer flip is the commit
        verd_dir = os.path.join(out_root, f"v{batch_id}")
        verd.write.mode("overwrite").parquet(verd_dir)
        new_idx = kept if current["path"] is None else (
            sess.read.parquet(current["path"]).unionByName(kept)
        )
        idx_dir = os.path.join(idx_root, f"v{batch_id}")
        new_idx.write.mode("overwrite").parquet(idx_dir)
        current["path"] = idx_dir

    with _shuffle_width(spark):
        query = (
            _file_stream(spark, raw.schema, src_dir)
            .writeStream.foreachBatch(dedup_batch)
            .option("checkpointLocation", scratch_dir(prefix="s96_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(query)
    verdicts = spark.read.parquet(*sorted(glob.glob(os.path.join(out_root, "v*"))))
    return verdicts.orderBy("doc_id")


# -- s97: streaming KMV distinct-count sketch --------------------------------


@register(
    "s97_stream_kmv_distinct",
    """
    WITH s AS (
      SELECT event_type, user_id,
             NTILE(3) OVER (ORDER BY ts, event_id) AS slice
      FROM events
    ),
    h AS (
      SELECT DISTINCT event_type, slice,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM s
    ),
    pres AS (SELECT DISTINCT event_type, slice FROM s),
    seqd AS (
      SELECT event_type, slice,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slice) AS seq
      FROM pres
    ),
    dh AS (
      SELECT DISTINCT q.event_type, q.seq, hh.h
      FROM seqd q
      JOIN h hh ON hh.event_type = q.event_type AND hh.slice <= q.slice
    ),
    ranked AS (
      SELECT event_type, seq, h,
             ROW_NUMBER() OVER (PARTITION BY event_type, seq ORDER BY h) AS rn
      FROM dh
    ),
    kth AS (
      SELECT event_type, seq,
             CAST(COUNT(*) AS BIGINT) AS k, MAX(h) AS kth_hash
      FROM ranked WHERE rn <= 64 GROUP BY event_type, seq
    )
    SELECT event_type, seq, k, kth_hash,
           CASE WHEN k < 64 THEN CAST(k AS DOUBLE)
                ELSE round((k - 1) * 4294967296.0 / kth_hash, 6)
           END AS est_distinct
    FROM kth
    ORDER BY event_type, seq
    """,
    doc="The q202 KMV distinct sketch run as LIVE STREAMING STATE: a "
    "per-event-type GroupState (applyInPandasWithState) carries the K "
    "smallest user-id hashes across micro-batch boundaries, and after "
    "every batch in which a key receives data it emits the running "
    "(k, kth_hash, estimate) row — the 'distinct devices so far' "
    "gauge a live dashboard reads, impossible with exact COUNT( "
    "DISTINCT) in a stream without unbounded state. The state is "
    "EXACTLY 64 longs per key regardless of stream length (vs the "
    "exact answer's unbounded user set) and merging a batch is "
    "top-K-of-union — the sketch's mergeability is precisely what "
    "makes it a valid streaming fold. Hashes are computed JVM-side "
    "with the shared md5-h32 family before the stateful stage, so "
    "the Python fold only set-merges bounded ints, and the estimate "
    "is computed AFTER the memory sink in Spark SQL so rounding "
    "stays half-up on both engines. The oracle replays each "
    "micro-batch prefix via the same NTILE(3) time-slicing the "
    "stream writer uses (the s88 two-phase-rank discipline), so "
    "every per-batch emission is pinned, not just the final one.",
)
def s97_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..functions.text import shingle_h32
    from .analytics import KMV_DOMAIN, KMV_K

    k_cap = int(KMV_K)

    def kmv_fold(key, pdf_iter, state):
        hs = set()
        for pdf in pdf_iter:
            hs.update(int(x) for x in pdf["h"])
        if state.exists:
            seq, prev = state.get
            seq = int(seq) + 1
            hs.update(int(x) for x in prev)
        else:
            seq = 1
        merged = sorted(hs)[:k_cap]
        state.update((seq, merged))
        yield pd.DataFrame(
            {
                "event_type": [str(key[0])],
                "seq": [seq],
                "k": [len(merged)],
                "kth_hash": [max(merged)],
            }
        )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id",
        shingle_h32(F.col("user_id").cast("string")).alias("h"),
    )
    slices = [s.select("event_type", "h") for s in _ntile_slices(ev)]
    src_dir = _ordered_files(slices, "s97_src_")
    stream = _file_stream(spark, slices[0].schema, src_dir)
    out = stream.groupBy("event_type").applyInPandasWithState(
        kmv_fold,
        outputStructType="event_type STRING, seq BIGINT, k BIGINT, kth_hash BIGINT",
        stateStructType="seq BIGINT, hs ARRAY<BIGINT>",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    est = F.when(
        F.col("k") < k_cap, F.col("k").cast("double")
    ).otherwise(
        F.round((F.col("k") - 1) * F.lit(KMV_DOMAIN) / F.col("kth_hash"), 6)
    )
    return (
        _run_to_memory(out, "s97_kmv")
        .withColumn("est_distinct", est)
        .select("event_type", "seq", "k", "kth_hash", "est_distinct")
        .orderBy("event_type", "seq")
    )


# -- s98: streaming CUSUM drift alerting (exact integer state) ---------------

#: fixed reference target, allowance and alarm threshold in snapped
#: 1e-3 value units. A FIXED target (not the batch mean) is what makes
#: CUSUM streamable: the recursion needs no lookahead, so the fold's
#: state is just the two one-sided cumulative excursions.
_S98_SNAP = 1_000
_S98_TARGET = 500_000
_S98_K = 5_000
_S98_H = 500_000


@register(
    "s98_stream_cusum_alerts",
    f"""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CAST(ROUND(value * {_S98_SNAP}) AS BIGINT) AS x
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, ts,
             SUM(x - {_S98_TARGET + _S98_K}) OVER w AS ru,
             SUM({_S98_TARGET - _S98_K} - x) OVER w AS rd
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    c AS (
      SELECT user_id, event_id,
             ru - LEAST(0, MIN(ru) OVER w) AS su,
             rd - LEAST(0, MIN(rd) OVER w) AS sd
      FROM r
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(su AS BIGINT) AS s_up,
           CAST(sd AS BIGINT) AS s_down,
           CAST(CASE WHEN su > {_S98_H} THEN 1 ELSE 0 END AS BIGINT)
             AS up_alert,
           CAST(CASE WHEN sd > {_S98_H} THEN 1 ELSE 0 END AS BIGINT)
             AS down_alert
    FROM c ORDER BY event_id
    """,
    doc="Streaming CUSUM drift alerting: per-device GroupState carries "
    "the two one-sided cumulative excursions S+ / S- as exact snapped "
    "integers, each arriving value folds "
    "S = max(0, S + (x - target -/+ allowance)) and emits the running "
    "excursion plus alarm flags — sequential drift detection (many "
    "small shifts the q133/s89 point-sigma gate never sees) as a "
    "bounded 2-long keyed state. The fixed reference target is what "
    "makes the fold streamable with zero lookahead; because the "
    "recursion has the closed form S_i = R_i - min(0, min prefix R), "
    "the batch oracle replays every per-event emission with two plain "
    "window passes — the stream's whole alert SEQUENCE is pinned "
    "bit-for-bit, not just the final state. Batch complement: q207 "
    "(per-device mean-centered CUSUM).",
)
def s98_stream_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src_dir = _ordered_files(_ntile_slices(ev), "s98_src_")

    def cusum_fold(key, pdf_iter, state):
        df = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        su, sd = state.get if state.exists else (0, 0)
        rows = {"event_id": [], "s_up": [], "s_down": [], "up": [], "down": []}
        for eid, val in zip(df["event_id"], df["value"]):
            x = int(val * _S98_SNAP + 0.5)  # ROUND half-up, positive values
            su = max(0, su + x - (_S98_TARGET + _S98_K))
            sd = max(0, sd + (_S98_TARGET - _S98_K) - x)
            rows["event_id"].append(int(eid))
            rows["s_up"].append(su)
            rows["s_down"].append(sd)
            rows["up"].append(int(su > _S98_H))
            rows["down"].append(int(sd > _S98_H))
        state.update((su, sd))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(rows["event_id"]),
                "event_id": rows["event_id"],
                "s_up": rows["s_up"],
                "s_down": rows["s_down"],
                "up_alert": rows["up"],
                "down_alert": rows["down"],
            }
        )

    stream = _file_stream(spark, ev.schema, src_dir)
    out = stream.groupBy("user_id").applyInPandasWithState(
        cusum_fold,
        outputStructType=(
            "user_id BIGINT, event_id BIGINT, s_up BIGINT, s_down BIGINT, "
            "up_alert BIGINT, down_alert BIGINT"
        ),
        stateStructType="su BIGINT, sd BIGINT",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return _run_to_memory(out, "s98_cusum").orderBy("event_id")


# -- s99: streaming Misra-Gries heavy hitters (mergeable summary) -------------

#: Misra-Gries counter budget per event type: the summary never holds
#: more than MG_M (user, count) pairs, and any user with true frequency
#: > stream_len / (MG_M + 1) is guaranteed present
MG_M = 4

_MG_STAGE_SQL = """
    m{b} AS (
      SELECT COALESCE(a.event_type, b.event_type) AS event_type,
             COALESCE(a.user_id, b.user_id) AS user_id,
             COALESCE(a.c, 0) + COALESCE(b.c, 0) AS c
      FROM a{prev} a
      FULL JOIN (SELECT event_type, user_id, c FROM cb WHERE slice = {b}) b
        ON a.event_type = b.event_type AND a.user_id = b.user_id
    ),
    d{b} AS (
      SELECT event_type, COALESCE(MAX(CASE WHEN rn = {mp1} THEN c END), 0) AS d
      FROM (SELECT event_type, c,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c DESC)
                     AS rn
            FROM m{b})
      GROUP BY event_type
    ),
    a{b} AS (
      SELECT m.event_type, m.user_id, m.c - d.d AS c
      FROM m{b} m JOIN d{b} d USING (event_type)
      WHERE m.c - d.d > 0
    ),
    e{b} AS (
      SELECT d.event_type, COALESCE(e.err, 0) + d.d AS err
      FROM d{b} d LEFT JOIN e{prev} e USING (event_type)
    )
"""


def _mg_oracle() -> str:
    stages = ",\n".join(
        _MG_STAGE_SQL.format(b=b, prev=b - 1, mp1=MG_M + 1) for b in (2, 3)
    )
    emits = "\n      UNION ALL\n".join(
        f"""
      SELECT a.event_type, q.seq, a.user_id, a.c AS mg_count, e.err AS err_bound
      FROM a{b} a
      JOIN e{b} e USING (event_type)
      JOIN seqd q ON q.event_type = a.event_type AND q.slice = {b}
        """
        for b in (1, 2, 3)
    )
    return f"""
    WITH s AS (
      SELECT event_type, user_id,
             NTILE(3) OVER (ORDER BY ts, event_id) AS slice
      FROM events
    ),
    cb AS (
      SELECT event_type, slice, user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM s GROUP BY event_type, slice, user_id
    ),
    pres AS (SELECT DISTINCT event_type, slice FROM s),
    seqd AS (
      SELECT event_type, slice,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slice) AS seq
      FROM pres
    ),
    m1 AS (SELECT event_type, user_id, c FROM cb WHERE slice = 1),
    d1 AS (
      SELECT event_type,
             COALESCE(MAX(CASE WHEN rn = {MG_M + 1} THEN c END), 0) AS d
      FROM (SELECT event_type, c,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c DESC)
                     AS rn
            FROM m1)
      GROUP BY event_type
    ),
    a1 AS (
      SELECT m.event_type, m.user_id, m.c - d.d AS c
      FROM m1 m JOIN d1 d USING (event_type)
      WHERE m.c - d.d > 0
    ),
    e1 AS (SELECT event_type, d AS err FROM d1),
    {stages}
    SELECT * FROM ({emits})
    ORDER BY event_type, seq, user_id
    """


@register(
    "s99_stream_mg_heavy_hitters",
    _mg_oracle(),
    doc="Streaming heavy hitters as a MERGEABLE Misra-Gries summary: "
    "per-event-type GroupState carries at most MG_M (user, count) "
    "counters plus the cumulative decrement, and every micro-batch "
    "folds in via the Agarwal et al. (PODS'12) mergeable-summaries "
    "rule — add the batch's exact counts to the carried counters, "
    "then subtract the (M+1)th largest value and keep strictly "
    "positive residuals. The fold is ORDER-FREE (unlike textbook "
    "per-arrival space-saving, whose state depends on arrival order "
    "within a batch — unreproducible after a shuffle), which is what "
    "makes it BOTH a valid streaming fold and the exact shape of a "
    "100 TB batch rollup: per-partition summaries merge pairwise to "
    "one global summary with the same guarantee, true_count - "
    "mg_count <= err_bound, emitted with every row. Per batch each "
    "updated key emits its full summary (seq, user, residual count, "
    "error bound) — the live 'top talkers' panel with a proven "
    "deficit bound. The oracle replays all three NTILE-sliced "
    "micro-batches as unrolled merge stages; every per-batch "
    "emission is pinned, not just the final state. Counts are exact "
    "BIGINTs throughout; ties at the (M+1)th rank need no tie-break "
    "because survival compares each count to the rank VALUE, which "
    "is multiset-deterministic.",
)
def s99_stream_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    m_cap = int(MG_M)

    def mg_fold(key, pdf_iter, state):
        batch: dict[int, int] = {}
        for pdf in pdf_iter:
            for u in pdf["user_id"]:
                u = int(u)
                batch[u] = batch.get(u, 0) + 1
        if state.exists:
            seq, users, counts, err = state.get
            seq, err = int(seq) + 1, int(err)
            for u, c in zip(users, counts):
                batch[int(u)] = batch.get(int(u), 0) + int(c)
        else:
            seq, err = 1, 0
        if len(batch) > m_cap:
            d = sorted(batch.values(), reverse=True)[m_cap]
            batch = {u: c - d for u, c in batch.items() if c - d > 0}
            err += d
        users = sorted(batch)
        counts = [batch[u] for u in users]
        state.update((seq, users, counts, err))
        yield pd.DataFrame(
            {
                "event_type": [str(key[0])] * len(users),
                "seq": [seq] * len(users),
                "user_id": users,
                "mg_count": counts,
                "err_bound": [err] * len(users),
            }
        )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "user_id"
    )
    slices = [s.select("event_type", "user_id") for s in _ntile_slices(ev)]
    src_dir = _ordered_files(slices, "s99_src_")
    stream = _file_stream(spark, slices[0].schema, src_dir)
    out = stream.groupBy("event_type").applyInPandasWithState(
        mg_fold,
        outputStructType=(
            "event_type STRING, seq BIGINT, user_id BIGINT,"
            " mg_count BIGINT, err_bound BIGINT"
        ),
        stateStructType=(
            "seq BIGINT, users ARRAY<BIGINT>, counts ARRAY<BIGINT>,"
            " err BIGINT"
        ),
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return _run_to_memory(out, "s99_mg").orderBy("event_type", "seq", "user_id")


# -- s100: streaming Bloom-filter dedup gate (bounded state) ------------------

#: Bloom geometry: m bits, k hash seeds. At m=1024, k=4 the gate holds
#: ~100 keys per event type before FPR climbs past ~1% — sized to the
#: fixture; the STATE SIZE is m bits regardless of stream length,
#: which is the entire point vs exact dropDuplicates state
BLOOM_M = 1024
BLOOM_K = 4


@register(
    "s100_stream_bloom_gate",
    f"""
    WITH s AS (
      SELECT event_type, event_id, user_id,
             NTILE(3) OVER (ORDER BY ts, event_id) AS slice
      FROM events
    ),
    bits AS (
      SELECT event_type, slice, event_id, t.j,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
                                 || CAST(t.j AS VARCHAR)), 1, 8))::BIGINT
               % {BLOOM_M} AS p
      FROM s, UNNEST([0, 1, 2, 3]) AS t(j)
    ),
    fp AS (
      SELECT event_type, p, MIN(slice) AS first_slice
      FROM bits GROUP BY event_type, p
    ),
    ev AS (
      SELECT b.event_type, b.slice, b.event_id,
             SUM(CASE WHEN f.first_slice < b.slice THEN 1 ELSE 0 END)
               AS covered
      FROM bits b
      JOIN fp f ON f.event_type = b.event_type AND f.p = b.p
      GROUP BY b.event_type, b.slice, b.event_id
    ),
    arr AS (
      SELECT event_type, slice,
             CAST(COUNT(*) AS BIGINT) AS n_arrived,
             CAST(SUM(CASE WHEN covered = {BLOOM_K} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_flagged
      FROM ev GROUP BY event_type, slice
    ),
    newb AS (
      SELECT event_type, first_slice AS slice,
             CAST(COUNT(*) AS BIGINT) AS n_new_bits
      FROM fp GROUP BY event_type, first_slice
    ),
    tot AS (
      SELECT s2.event_type, s2.slice,
             CAST(COALESCE(n.n_new_bits, 0) AS BIGINT) AS n_new_bits,
             CAST(SUM(COALESCE(n.n_new_bits, 0)) OVER (
               PARTITION BY s2.event_type ORDER BY s2.slice) AS BIGINT)
               AS n_bits_total
      FROM (SELECT DISTINCT event_type, slice FROM s) s2
      LEFT JOIN newb n
        ON n.event_type = s2.event_type AND n.slice = s2.slice
    ),
    seqd AS (
      SELECT event_type, slice,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slice) AS seq
      FROM (SELECT DISTINCT event_type, slice FROM s)
    )
    SELECT a.event_type, q.seq, a.n_arrived, a.n_dup_flagged,
           t.n_new_bits, t.n_bits_total
    FROM arr a
    JOIN seqd q ON q.event_type = a.event_type AND q.slice = a.slice
    JOIN tot t ON t.event_type = a.event_type AND t.slice = a.slice
    ORDER BY a.event_type, q.seq
    """,
    doc=f"Streaming dedup gate as a BLOOM FILTER in GroupState: per "
    f"event type the state is an m={BLOOM_M}-bit filter (stored as "
    f"its set-bit positions), every arriving user-key is flagged "
    f"duplicate iff all k={BLOOM_K} of its bit positions were set by "
    f"PRIOR batches, and the batch's bits are then OR'd in — the "
    f"bounded-state alternative to s74/s80's exact "
    f"dropDuplicates-with-watermark, whose key set grows with the "
    f"stream. At 100 TB this is the only dedup gate that survives "
    f"an unbounded key domain: state is m bits per key-group "
    f"FOREVER, the price is a quantified false-positive rate (q165 "
    f"pins the FPR math batch-side; a flagged event may be new, a "
    f"passed event is definitely new). The fold is ORDER-FREE "
    f"(check-against-prior-then-OR: intra-batch duplicates "
    f"deliberately pass, the s85 snapshot-dedup contract), bit "
    f"positions are computed JVM-side from the shared md5-h32 "
    f"family, and the Python fold only set-merges bounded ints. The "
    f"oracle replays all three NTILE micro-batches via the "
    f"first-slice-per-bit rewrite (a bit is 'prior' to slice b iff "
    f"its first setter is in a strictly earlier slice), so every "
    f"per-batch emission — arrivals, dup flags, new bits, filter "
    f"occupancy — is pinned exactly.",
)
def s100_stream_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..functions.text import shingle_h32

    m_bits, k_seeds = int(BLOOM_M), int(BLOOM_K)

    def bloom_fold(key, pdf_iter, state):
        arrived = 0
        dup = 0
        batch_bits: set[int] = set()
        if state.exists:
            seq, prior_list = state.get
            seq, prior = int(seq) + 1, set(int(x) for x in prior_list)
        else:
            seq, prior = 1, set()
        for pdf in pdf_iter:
            for pos in pdf["pos"]:
                ps = [int(x) for x in pos]
                arrived += 1
                if all(p in prior for p in ps):
                    dup += 1
                batch_bits.update(ps)
        new_bits = batch_bits - prior
        total = prior | batch_bits
        state.update((seq, sorted(total)))
        yield pd.DataFrame(
            {
                "event_type": [str(key[0])],
                "seq": [seq],
                "n_arrived": [arrived],
                "n_dup_flagged": [dup],
                "n_new_bits": [len(new_bits)],
                "n_bits_total": [len(total)],
            }
        )

    ev = load_table(spark, sf_dir, "events")
    pos = F.array(
        *[
            F.pmod(
                shingle_h32(
                    F.concat(
                        F.col("user_id").cast("string"), F.lit(f":{j}")
                    )
                ),
                F.lit(m_bits),
            ).cast("int")
            for j in range(k_seeds)
        ]
    )
    slices = [
        s.select("event_type", "pos")
        for s in _ntile_slices(
            ev.select("event_type", "ts", "event_id", pos.alias("pos"))
        )
    ]
    src_dir = _ordered_files(slices, "s100_src_")
    stream = _file_stream(spark, slices[0].schema, src_dir)
    out = stream.groupBy("event_type").applyInPandasWithState(
        bloom_fold,
        outputStructType=(
            "event_type STRING, seq BIGINT, n_arrived BIGINT,"
            " n_dup_flagged BIGINT, n_new_bits BIGINT, n_bits_total BIGINT"
        ),
        stateStructType="seq BIGINT, bits ARRAY<INT>",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return _run_to_memory(out, "s100_bloom").orderBy("event_type", "seq")

# ---------------------------------------------------------------------------
# s101 — streaming bottom-k uniform sample (bounded-state reservoir)
# ---------------------------------------------------------------------------

#: sample size per key group: the k smallest hash values seen so far.
#: Bottom-k over a uniform hash IS a uniform sample without
#: replacement, and unlike the classical index-swap reservoir it is
#: ORDER-FREE (any arrival order of the same multiset yields the same
#: sample) and mergeable (union = merge-and-truncate) — the properties
#: a distributed, replayable stream needs.
RESERVOIR_K = 16


@register(
    "s101_stream_bottomk_sample",
    f"""
    WITH s AS (
      SELECT event_type, event_id,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':rs'), 1, 8))
               ::BIGINT AS h,
             NTILE(3) OVER (ORDER BY ts, event_id) AS slice
      FROM events
    ),
    sl AS (SELECT DISTINCT event_type, slice FROM s),
    pre AS (
      SELECT b.event_type, b.slice AS b, e.event_id, e.h,
             e.slice AS arrived
      FROM sl b JOIN s e
        ON e.event_type = b.event_type AND e.slice <= b.slice
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type, b ORDER BY h, event_id) AS rn
      FROM pre
    ),
    per AS (
      SELECT event_type, b,
             CAST(SUM(CASE WHEN arrived = b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_arrived,
             CAST(SUM(CASE WHEN rn <= {RESERVOIR_K} THEN 1 ELSE 0 END)
                  AS BIGINT) AS sample_k,
             MAX(CASE WHEN rn <= {RESERVOIR_K} THEN h END) AS max_h,
             CAST(SUM(CASE WHEN rn <= {RESERVOIR_K} AND arrived = b
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_new_members
      FROM ranked GROUP BY event_type, b
    ),
    seqd AS (
      SELECT event_type, slice,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slice)
               AS seq
      FROM sl
    )
    SELECT p.event_type, q.seq, p.n_arrived, p.sample_k, p.max_h,
           p.n_new_members
    FROM per p
    JOIN seqd q ON q.event_type = p.event_type AND q.slice = p.b
    ORDER BY p.event_type, q.seq
    """,
    doc=f"Streaming uniform sample as a BOTTOM-K state machine: per "
    f"event type the state is the k={RESERVOIR_K} smallest "
    f"(md5-h32, event_id) pairs seen so far — a mergeable, "
    f"order-free reservoir (bottom-k of a union is the truncated "
    f"merge of bottom-ks, so replay, redelivery reordering, and "
    f"scale-out repartitioning all yield the SAME sample, which "
    f"the classical swap-with-probability reservoir cannot "
    f"promise). Each micro-batch emits arrivals, current sample "
    f"occupancy, the sample's hash threshold (= the KMV kth-"
    f"minimum, so the same state doubles as a distinct-count "
    f"sketch, s97), and how many batch rows ENTERED the sample — "
    f"membership is monotone (a row outside bottom-k of a prefix "
    f"can never rejoin), which is what makes the per-batch "
    f"emission oracle-expressible as a rank over each slice "
    f"prefix. State is O(k) per key FOREVER; the Python fold only "
    f"merge-truncates {RESERVOIR_K} tuples. Hash positions ride "
    f"the shared md5-h32 family, JVM-side.",
)
def s101_stream_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..functions.text import shingle_h32

    k = int(RESERVOIR_K)

    def bottomk_fold(key, pdf_iter, state):
        arrived = 0
        batch: list[tuple[int, int]] = []
        if state.exists:
            seq, hs, ids = state.get
            seq = int(seq) + 1
            prior = list(zip((int(x) for x in hs), (int(x) for x in ids)))
        else:
            seq, prior = 1, []
        prior_set = set(prior)
        for pdf in pdf_iter:
            arrived += len(pdf)
            batch.extend(
                zip((int(x) for x in pdf["h"]), (int(x) for x in pdf["event_id"]))
            )
        sample = sorted(set(prior) | set(batch))[:k]
        n_new = sum(1 for t in sample if t not in prior_set)
        state.update(
            (seq, [t[0] for t in sample], [t[1] for t in sample])
        )
        yield pd.DataFrame(
            {
                "event_type": [str(key[0])],
                "seq": [seq],
                "n_arrived": [arrived],
                "sample_k": [len(sample)],
                "max_h": [max(t[0] for t in sample)],
                "n_new_members": [n_new],
            }
        )

    ev = load_table(spark, sf_dir, "events")
    h = shingle_h32(F.concat(F.col("event_id").cast("string"), F.lit(":rs")))
    slices = [
        s.select("event_type", "event_id", "h")
        for s in _ntile_slices(ev.select("event_type", "ts", "event_id", h.alias("h")))
    ]
    src_dir = _ordered_files(slices, "s101_src_")
    stream = _file_stream(spark, slices[0].schema, src_dir)
    out = stream.groupBy("event_type").applyInPandasWithState(
        bottomk_fold,
        outputStructType=(
            "event_type STRING, seq BIGINT, n_arrived BIGINT,"
            " sample_k BIGINT, max_h BIGINT, n_new_members BIGINT"
        ),
        stateStructType="seq BIGINT, hs ARRAY<BIGINT>, ids ARRAY<BIGINT>",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return _run_to_memory(out, "s101_bottomk").orderBy("event_type", "seq")


# -- s102: per-user record-high tracker (monotone high-water state) ----------


@register(
    "s102_stream_record_highs",
    """
    WITH o AS (
      SELECT user_id, event_id, value, ts,
             MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS mx
      FROM events
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           (mx IS NULL OR value > mx) AS is_record,
           CAST(SUM(CASE WHEN mx IS NULL OR value > mx THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_records
    FROM o ORDER BY event_id
    """,
    doc="Per-user record-high tracking across micro-batch boundaries: "
    "state is the MONOTONE high-water mark (running max, record "
    "count) and every event is tagged with whether it set a new "
    "per-user record plus the cumulative record count — the "
    "new-SLA-breach / new-personal-best / new-price-high shape that "
    "needs ordered keyed state, not windowed aggregation. Differs "
    "from s88's streak state in the state ALGEBRA: a streak resets "
    "(order-fragile), a high-water mark is a monotone semilattice "
    "join (max), so replayed or duplicated batches can never lower "
    "it — the property that makes this state class safe under "
    "at-least-once delivery. Record detection is a pure double "
    "COMPARISON (no arithmetic), so Spark and DuckDB agree "
    "bit-for-bit; the batch oracle states the same semantics as a "
    "running-max window. State is (double, bigint) per user. "
    "(Written first against transformWithStateInPandas ValueState — "
    "environmentally blocked, SURVEY §4 — so it runs on "
    "applyInPandasWithState; the fold body is the ValueState port "
    "map line for line.)",
)
def s102_stream_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def record_fold(key, pdf_iter, state):
        df = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        if state.exists:
            mx, n = state.get
            mx, n, has = float(mx), int(n), True
        else:
            mx, n, has = 0.0, 0, False
        eids, recs, cums = [], [], []
        for eid, val in zip(df["event_id"], df["value"]):
            val = float(val)
            is_rec = (not has) or val > mx
            if is_rec:
                n += 1
                mx = val
                has = True
            eids.append(int(eid))
            recs.append(is_rec)
            cums.append(n)
        state.update((mx, n))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(eids),
                "event_id": eids,
                "is_record": recs,
                "n_records": cums,
            }
        )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src_dir = _ordered_files(_ntile_slices(ev), "s102_src_")
    stream = _file_stream(spark, ev.schema, src_dir)
    out = stream.groupBy("user_id").applyInPandasWithState(
        record_fold,
        outputStructType=(
            "user_id BIGINT, event_id BIGINT, is_record BOOLEAN, "
            "n_records BIGINT"
        ),
        stateStructType="mx DOUBLE, n BIGINT",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return _run_to_memory(out, "s102_record_highs").orderBy("event_id")


# -- s103: point-in-time SCD2 enrichment of a live stream --------------------

#: value band width for the slowly-changing attribute
_S103_BAND = 25.0


@register(
    "s103_stream_scd2_enrich",
    f"""
    WITH o AS (
      SELECT event_id, user_id, ts, value,
             NTILE(2) OVER (ORDER BY ts, event_id) AS half
      FROM events
    ),
    dim AS (
      SELECT user_id,
             ts AS valid_from,
             COALESCE(LEAD(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                      TIMESTAMP '9999-12-31') AS valid_to,
             CAST(FLOOR(value / {_S103_BAND}) AS BIGINT) AS band
      FROM o WHERE half = 1
    )
    SELECT s.event_id, CAST(s.user_id AS BIGINT) AS user_id,
           d.band AS band_at_event,
           d.band IS NOT NULL AS enriched
    FROM (SELECT * FROM o WHERE half = 2) s
    LEFT JOIN dim d
      ON d.user_id = s.user_id
     AND d.valid_from <= s.ts AND s.ts < d.valid_to
    ORDER BY s.event_id
    """,
    doc="Point-in-time-correct enrichment of a LIVE stream against an "
    "SCD2 dimension — the online feature-store shape (q143 is the "
    "batch twin, q90 builds the intervals): the first half of the "
    "event timeline materializes per-user validity intervals of a "
    "slowly-changing attribute (the value band last observed), and "
    "the second half arrives as three time-ordered micro-batches, "
    "each event picking up the attribute THAT WAS VALID AT ITS "
    "TIMESTAMP via a stream-static interval join — never a later "
    "value (no training-serving leakage), never an earlier one once "
    "superseded. Events before any interval stay NULL (left join) "
    "and are flagged. Interval containment makes each event match "
    "AT MOST ONE dimension row, so append mode needs no dedup. At "
    "cluster scale the static side is a broadcast (per-key interval "
    "counts are bounded); the stream pays one per-batch hash join, "
    "no state store at all — the cheapest correct enrichment "
    "topology there is.",
)
def s103_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    halved = with_global_order(ev, ["ts", "event_id"], ntile=(2, "half"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        halved.filter(F.col("half") == 1)
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.coalesce(
                F.lead("ts").over(w), F.lit("9999-12-31").cast("timestamp")
            ).alias("valid_to"),
            F.floor(F.col("value") / _S103_BAND).cast("long").alias("band"),
        )
    )
    second = halved.filter(F.col("half") == 2).select(
        "event_id", "ts", "user_id"
    )
    src_dir = _ordered_files(_ntile_slices(second), "s103_src_")
    stream = _file_stream(spark, second.schema, src_dir)
    enriched = stream.join(
        F.broadcast(dim),
        (stream.user_id == dim.user_id)
        & (dim.valid_from <= stream.ts)
        & (stream.ts < dim.valid_to),
        "left",
    ).select(
        stream.event_id,
        stream.user_id.cast("long").alias("user_id"),
        F.col("band").alias("band_at_event"),
        F.col("band").isNotNull().alias("enriched"),
    )
    return _run_to_memory(enriched, "s103_scd2_enrich").orderBy("event_id")
