"""Control-plane operators: event fan-out, property resend, reverse
index maintenance.

Three reference behaviors re-expressed as declarative queries:

- A28 event fan-out (``triggers_handler.ex:35-58,396-402``): each
  matched trigger publishes to EVERY configured target — a broadcast
  join of the match stream against a (trigger -> targets) dimension.
- A26 consumer-properties emit (``impl.ex:1728-1829``,
  ``queries.ex:678-716``): scan the latest server-owned property value
  per device and build the ``;``-joined compressed path list sent on
  the control topic (``payloads_decoder.ex:128-159`` is its inverse).
- A23 kv_store reverse index (``queries.ex:599-664``):
  ``devices-by-interface-<name>-v<major>`` entries, one per interface,
  listing the devices that announced it.

Scale notes: the targets dimension is tiny -> broadcast, zero extra
shuffle on the match stream. The resend scan is one window + one
groupBy, both partitioned by device — co-partitioned, single shuffle
under AQE. The reverse index is a single groupBy(event_type) whose
collect_set stays bounded by the device population per interface
(the reference stores exactly the same list as kv_store rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..functions.matchers import value_match_any_op
from ..functions.timeutil import ts_micros
from ..plans.registry import register
from ..sources.tables import load_table, local_rows
from .triggers import _TRIGGER_VALUES_SQL, trigger_dim

#: Target dimension (trigger_id -> delivery target), the shape of the
#: reference's per-trigger target lists (triggers_handler.ex:396-402).
TARGET_ROWS = [
    ("t_purchase_high", "amqp", "events.purchase.high"),
    ("t_purchase_high", "webhook", "hooks.example/high-value"),
    ("t_error_low", "amqp", "events.error.low"),
    ("t_any_extreme", "amqp", "events.extreme"),
    ("t_any_extreme", "mqtt", "devices/extreme"),
    ("t_signup_ge", "amqp", "events.signup"),
    ("t_view_small", "mqtt", "devices/view-small"),
    ("t_click_ne", "amqp", "events.click.ne"),
]

TARGET_SCHEMA = StructType(
    [
        StructField("trigger_id", StringType(), False),
        StructField("target_type", StringType(), False),
        StructField("destination", StringType(), False),
    ]
)

_TARGET_VALUES_SQL = ", ".join(
    f"('{tid}', '{tt}', '{dest}')" for tid, tt, dest in TARGET_ROWS
)

_MATCH_PRED_SQL = """
     AND CASE t.op
           WHEN 'ANY' THEN TRUE
           WHEN 'EQUAL_TO' THEN COALESCE(e.value = t.known_value, FALSE)
           WHEN 'NOT_EQUAL_TO' THEN COALESCE(e.value <> t.known_value, FALSE)
           WHEN 'GREATER_THAN' THEN COALESCE(e.value > t.known_value, FALSE)
           WHEN 'GREATER_OR_EQUAL_TO' THEN COALESCE(e.value >= t.known_value, FALSE)
           WHEN 'LESS_THAN' THEN COALESCE(e.value < t.known_value, FALSE)
           WHEN 'LESS_OR_EQUAL_TO' THEN COALESCE(e.value <= t.known_value, FALSE)
           ELSE FALSE
         END
"""


def target_dim(spark: SparkSession) -> DataFrame:
    return local_rows(spark, TARGET_ROWS, TARGET_SCHEMA)


@register(
    "q25_trigger_target_fanout",
    f"""
    WITH triggers(trigger_id, t_event_type, op, known_value) AS (
      VALUES {_TRIGGER_VALUES_SQL}
    ),
    targets(trigger_id, target_type, destination) AS (
      VALUES {_TARGET_VALUES_SQL}
    ),
    matches AS (
      SELECT t.trigger_id, e.event_id, e.user_id
      FROM events e
      JOIN triggers t
        ON (t.t_event_type = e.event_type OR t.t_event_type = '*')
       {_MATCH_PRED_SQL}
    )
    SELECT m.trigger_id, g.target_type, g.destination,
           COUNT(*) AS n_published,
           COUNT(DISTINCT m.user_id) AS n_devices
    FROM matches m
    JOIN targets g ON g.trigger_id = m.trigger_id
    GROUP BY m.trigger_id, g.target_type, g.destination
    ORDER BY m.trigger_id, g.target_type, g.destination
    """,
    doc="A28 event fan-out (triggers_handler.ex:35-58,396-402): every "
    "matched event is published once per configured target. Both dims "
    "broadcast; the stream is scanned once, no extra shuffle before "
    "the final per-destination accounting aggregate.",
)
def q25_trigger_target_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    trig = trigger_dim(spark)
    tgt = target_dim(spark)
    iface_ok = (F.col("t_event_type") == F.col("event_type")) | (
        F.col("t_event_type") == "*"
    )
    pred = value_match_any_op(F.col("op"), F.col("value"), F.col("known_value"))
    matches = ev.join(F.broadcast(trig), iface_ok & pred).select(
        "trigger_id", "event_id", "user_id"
    )
    return (
        matches.join(F.broadcast(tgt), "trigger_id")
        .groupBy("trigger_id", "target_type", "destination")
        .agg(
            F.count(F.lit(1)).alias("n_published"),
            F.countDistinct("user_id").alias("n_devices"),
        )
        .orderBy("trigger_id", "target_type", "destination")
    )


@register(
    "q26_property_resend",
    """
    WITH latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
      ) t WHERE rn = 1
    )
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           COUNT(*) AS n_paths,
           string_agg('/' || event_type || '/value', ';'
                      ORDER BY '/' || event_type || '/value') AS paths,
           CAST(len(string_agg('/' || event_type || '/value', ';'
                      ORDER BY '/' || event_type || '/value')) AS BIGINT)
             AS payload_bytes
    FROM latest
    GROUP BY user_id
    ORDER BY device_id
    """,
    doc="A26 consumer-properties emit (impl.ex:1728-1829, "
    "queries.ex:678-716): latest value per (device, path) via LWW "
    "window, then the ';'-joined ordered path list the reference "
    "deflates onto the control topic. Window and groupBy share the "
    "device partitioning — one shuffle.",
)
def q26_property_resend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.concat(F.lit("/"), "event_type", F.lit("/value")).alias("path"))
    )
    agg = latest.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.array_join(F.array_sort(F.collect_list("path")), ";").alias("paths"),
    )
    return agg.select(
        F.col("user_id").cast("string").alias("device_id"),
        "n_paths",
        "paths",
        F.length("paths").cast("long").alias("payload_bytes"),
    ).orderBy("device_id")


@register(
    "q27_device_index",
    """
    SELECT 'devices-by-interface-' || event_type || '-v1' AS index_key,
           COUNT(DISTINCT user_id) AS n_devices,
           string_agg(DISTINCT CAST(user_id AS VARCHAR), ','
                      ORDER BY CAST(user_id AS VARCHAR)) AS device_ids
    FROM events
    GROUP BY event_type
    ORDER BY index_key
    """,
    doc="A23 kv_store reverse index (queries.ex:599-664): one "
    "devices-by-interface-<name>-v<major> entry per interface with the "
    "sorted announcing-device list. Single groupBy; collect_set "
    "deduplicates map-side before the shuffle.",
)
def q27_device_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_devices"),
            F.array_join(
                F.array_sort(F.collect_set(F.col("user_id").cast("string"))), ","
            ).alias("device_ids"),
        )
        .select(
            F.concat(
                F.lit("devices-by-interface-"), "event_type", F.lit("-v1")
            ).alias("index_key"),
            "n_devices",
            "device_ids",
        )
        .orderBy("index_key")
    )


#: Per-interface retention policy (the reference's per-mapping
#: ``database_retention_ttl``, database_test_helper.exs:102 attrs).
RETENTION_ROWS = [
    ("click", 3600),
    ("view", 1800),
    ("error", 86400),
    ("purchase", 604800),
    ("signup", 604800),
]

RETENTION_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("retention_s", IntegerType(), False),
    ]
)

_RETENTION_VALUES_SQL = ", ".join(f"('{et}', {s})" for et, s in RETENTION_ROWS)


def retention_dim(spark: SparkSession) -> DataFrame:
    return local_rows(spark, RETENTION_ROWS, RETENTION_SCHEMA)


@register(
    "q28_ttl_expiry",
    f"""
    WITH retent(event_type, retention_s) AS (VALUES {_RETENTION_VALUES_SQL}),
    cutoff AS (SELECT max(ts) AS c FROM events)
    SELECT e.event_type,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE
             make_timestamp(epoch_us(e.ts) + CAST(r.retention_s AS BIGINT) * 1000000) > c.c
           ) AS n_live,
           COUNT(*) FILTER (WHERE
             make_timestamp(epoch_us(e.ts) + CAST(r.retention_s AS BIGINT) * 1000000) <= c.c
           ) AS n_expired
    FROM events e
    JOIN retent r USING (event_type)
    CROSS JOIN cutoff c
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    doc="A20 TTL expiry (queries.ex:774-817, impl.ex:527-533): rows "
    "carry expires_at = value_ts + per-interface retention; the live "
    "view filters on it at a reproducible cutoff (max event time, not "
    "wall clock). Retention dim broadcast; microsecond arithmetic "
    "keeps both engines bit-identical.",
)
def q28_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ret = retention_dim(spark)
    cutoff = ev.agg(F.max("ts").alias("c"))
    expires_at = F.timestamp_micros(
        ts_micros("ts") + F.col("retention_s").cast("long") * 1_000_000
    )
    return (
        ev.join(F.broadcast(ret), "event_type")
        .crossJoin(F.broadcast(cutoff))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(expires_at > F.col("c"), 1)).alias("n_live"),
            F.count(F.when(expires_at <= F.col("c"), 1)).alias("n_expired"),
        )
        .orderBy("event_type")
    )


#: Realm-config kv_store rows, the shape of the reference's
#: ``kv_store`` table (``queries.ex:745-772`` reads
#: ``group='realm_config' AND key='datastream_maximum_storage_retention'``
#: with ``blobAsInt``; here the blob is a decimal string).
KV_STORE_ROWS = [
    ("realm_config", "datastream_maximum_storage_retention", "7200"),
    ("realm_config", "unrelated_key", "42"),
]

_KV_STORE_VALUES_SQL = ", ".join(f"('{g}', '{k}', '{v}')" for g, k, v in KV_STORE_ROWS)


def kv_store_dim(spark: SparkSession) -> DataFrame:
    schema = StructType(
        [
            StructField("grp", StringType(), False),
            StructField("key", StringType(), False),
            StructField("value", StringType(), False),
        ]
    )
    return local_rows(spark, KV_STORE_ROWS, schema)


def realm_retention_cap(spark: SparkSession) -> DataFrame:
    """The realm-wide datastream storage retention cap, as a 1-row frame.

    Mirrors ``fetch_datastream_maximum_storage_retention``
    (``queries.ex:745-772``): a point lookup into kv_store, decoded
    from the stored blob. Broadcastable scalar by construction.
    """
    return (
        kv_store_dim(spark)
        .filter(
            (F.col("grp") == "realm_config")
            & (F.col("key") == "datastream_maximum_storage_retention")
        )
        .select(F.col("value").cast("int").alias("cap_s"))
    )


@register(
    "q100_retention_cap",
    f"""
    WITH kv_store(grp, key, value) AS (VALUES {_KV_STORE_VALUES_SQL}),
    cap AS (
      SELECT CAST(value AS INTEGER) AS cap_s FROM kv_store
      WHERE grp = 'realm_config' AND key = 'datastream_maximum_storage_retention'
    ),
    retent(event_type, retention_s) AS (VALUES {_RETENTION_VALUES_SQL}),
    eff AS (
      SELECT event_type,
             CAST(LEAST(retention_s, cap_s) AS BIGINT) AS effective_ttl_s
      FROM retent CROSS JOIN cap
    ),
    cutoff AS (SELECT max(ts) AS c FROM events)
    SELECT e.event_type,
           f.effective_ttl_s,
           f.effective_ttl_s * 2 + f.effective_ttl_s // 2 AS path_ttl_s,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE
             make_timestamp(epoch_us(e.ts) + f.effective_ttl_s * 1000000) > c.c
           ) AS n_live,
           COUNT(*) FILTER (WHERE
             make_timestamp(epoch_us(e.ts) + f.effective_ttl_s * 1000000) <= c.c
           ) AS n_expired
    FROM events e
    JOIN eff f USING (event_type)
    CROSS JOIN cutoff c
    GROUP BY e.event_type, f.effective_ttl_s
    ORDER BY e.event_type
    """,
    doc="Realm-wide retention cap (queries.ex:745-772, impl.ex:83-86, "
    "427-438): datastream_maximum_storage_retention is read once from "
    "kv_store realm_config and applied as the TTL on every datastream "
    "value insert, capping the per-mapping retention; the path registry "
    "entry gets TTL = 2.5x the cap (path_ttl, impl.ex:527-533). The cap "
    "is a broadcast scalar (one kv_store point lookup), the retention "
    "dim is broadcast, and expiry is classified at the max-event-time "
    "cutoff exactly like q28 — zero extra shuffles over the fact scan.",
)
def q100_retention_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ret = retention_dim(spark)
    eff = (
        ret.crossJoin(F.broadcast(realm_retention_cap(spark)))
        .select(
            "event_type",
            F.least(F.col("retention_s"), F.col("cap_s"))
            .cast("long")
            .alias("effective_ttl_s"),
        )
    )
    cutoff = ev.agg(F.max("ts").alias("c"))
    expires_at = F.timestamp_micros(
        ts_micros("ts") + F.col("effective_ttl_s") * 1_000_000
    )
    return (
        ev.join(F.broadcast(eff), "event_type")
        .crossJoin(F.broadcast(cutoff))
        .groupBy("event_type", "effective_ttl_s")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(expires_at > F.col("c"), 1)).alias("n_live"),
            F.count(F.when(expires_at <= F.col("c"), 1)).alias("n_expired"),
        )
        .select(
            "event_type",
            "effective_ttl_s",
            (
                F.col("effective_ttl_s") * 2
                + F.floor(F.col("effective_ttl_s") / 2).cast("long")
            ).alias("path_ttl_s"),
            "n_rows",
            "n_live",
            "n_expired",
        )
        .orderBy("event_type")
    )
