"""Trigger matching as a broadcast join of a predicate dimension.

The reference evaluates stored trigger predicates per incoming record
inside the device process (``impl.ex:1431-1469``, operators in
``value_match_operators.ex``). At Spark scale the trigger set is a
small dimension table broadcast to every executor; matching is a join
whose condition is the compiled predicate — one shuffle-free pass over
the stream regardless of trigger count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..functions.matchers import value_match_any_op
from ..plans.registry import register
from ..sources.tables import load_table, local_rows

#: Demo trigger dimension (shape of the simple_triggers fixture rows,
#: database_test_helper.exs:427-594): id, interface filter ('*' = any),
#: value operator, numeric threshold.
TRIGGER_ROWS = [
    ("t_purchase_high", "purchase", "GREATER_THAN", 150.0),
    ("t_error_low", "error", "LESS_OR_EQUAL_TO", 50.0),
    ("t_any_extreme", "*", "GREATER_THAN", 300.0),
    ("t_signup_ge", "signup", "GREATER_OR_EQUAL_TO", 100.0),
    ("t_view_small", "view", "LESS_THAN", 5.0),
    ("t_click_ne", "click", "NOT_EQUAL_TO", 77.77),
]

TRIGGER_SCHEMA = StructType(
    [
        StructField("trigger_id", StringType(), False),
        StructField("t_event_type", StringType(), False),
        StructField("op", StringType(), False),
        StructField("known_value", DoubleType(), False),
    ]
)

_TRIGGER_VALUES_SQL = ", ".join(
    f"('{tid}', '{et}', '{op}', {kv})" for tid, et, op, kv in TRIGGER_ROWS
)


def trigger_dim(spark: SparkSession) -> DataFrame:
    return local_rows(spark, TRIGGER_ROWS, TRIGGER_SCHEMA)


@register(
    "q23_trigger_matches",
    f"""
    WITH triggers(trigger_id, t_event_type, op, known_value) AS (
      VALUES {_TRIGGER_VALUES_SQL}
    )
    SELECT t.trigger_id, e.event_id, e.user_id, e.event_type, e.value
    FROM events e
    JOIN triggers t
      ON (t.t_event_type = e.event_type OR t.t_event_type = '*')
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
    ORDER BY trigger_id, event_id
    """,
    doc="incoming_data trigger evaluation (impl.ex:1431-1469 + "
    "value_match_operators.ex): trigger dim broadcast-joined to the "
    "stream, predicate compiled into the join condition.",
)
def q23_trigger_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    trig = trigger_dim(spark)
    iface_ok = (F.col("t_event_type") == F.col("event_type")) | (F.col("t_event_type") == "*")
    pred = value_match_any_op(F.col("op"), F.col("value"), F.col("known_value"))
    return (
        ev.join(F.broadcast(trig), iface_ok & pred)
        .select("trigger_id", "event_id", "user_id", "event_type", "value")
        .orderBy("trigger_id", "event_id")
    )


@register(
    "q24_trigger_match_counts",
    f"""
    WITH triggers(trigger_id, t_event_type, op, known_value) AS (
      VALUES {_TRIGGER_VALUES_SQL}
    )
    SELECT t.trigger_id, COUNT(e.event_id) AS n_matches,
           COUNT(DISTINCT e.user_id) AS n_devices
    FROM triggers t
    LEFT JOIN events e
      ON (t.t_event_type = e.event_type OR t.t_event_type = '*')
     AND CASE t.op
           WHEN 'GREATER_THAN' THEN COALESCE(e.value > t.known_value, FALSE)
           WHEN 'GREATER_OR_EQUAL_TO' THEN COALESCE(e.value >= t.known_value, FALSE)
           WHEN 'LESS_THAN' THEN COALESCE(e.value < t.known_value, FALSE)
           WHEN 'LESS_OR_EQUAL_TO' THEN COALESCE(e.value <= t.known_value, FALSE)
           WHEN 'NOT_EQUAL_TO' THEN COALESCE(e.value <> t.known_value, FALSE)
           WHEN 'EQUAL_TO' THEN COALESCE(e.value = t.known_value, FALSE)
           WHEN 'ANY' THEN TRUE
           ELSE FALSE
         END
    GROUP BY t.trigger_id
    ORDER BY t.trigger_id
    """,
    doc="Trigger fan-out accounting (triggers_handler.ex:35-58): matches "
    "and distinct devices per trigger, preserving zero-match triggers "
    "via left join.",
)
def q24_trigger_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    trig = trigger_dim(spark)
    iface_ok = (F.col("t_event_type") == F.col("event_type")) | (F.col("t_event_type") == "*")
    pred = value_match_any_op(F.col("op"), F.col("value"), F.col("known_value"))
    return (
        trig.join(ev, iface_ok & pred, "left")
        .groupBy("trigger_id")
        .agg(
            F.count("event_id").alias("n_matches"),
            F.countDistinct("user_id").alias("n_devices"),
        )
        .orderBy("trigger_id")
    )
