"""Set-operation queries: introspection diff and friends.

The reference diffs a device's old vs new introspection (its announced
interface set) with a sorted Myers diff (``impl.ex:688-864``, diff at
``:736``) to derive interface_added / interface_removed events, and
prunes stored properties not in a device-sent alive-set with a set
membership test (``impl.ex:1334-1411``). Both are anti-joins in
relational form; this module declares them over the events table
(event_type set per device in an early vs late time window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timeutil import ts_micros
from ..plans.registry import register
from ..sources.tables import load_table

_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"


@register(
    "q20_introspection_diff",
    f"""
    WITH old AS (
      SELECT DISTINCT user_id, event_type FROM events WHERE ts < {_SPLIT}
    ), new AS (
      SELECT DISTINCT user_id, event_type FROM events WHERE ts >= {_SPLIT}
    )
    SELECT user_id, event_type, 'added' AS change
    FROM new ANTI JOIN old USING (user_id, event_type)
    UNION ALL
    SELECT user_id, event_type, 'removed' AS change
    FROM old ANTI JOIN new USING (user_id, event_type)
    ORDER BY user_id, event_type, change
    """,
    doc="Introspection diff (impl.ex:726-799): per-device set of announced "
    "interfaces, old vs new -> added/removed. Replaces the reference's "
    "Myers diff — and the naive two-anti-join plan — with ONE "
    "aggregation pass: per (device, interface) presence flags for each "
    "half, then a flag comparison. One shuffle over the fact instead "
    "of the 5 exchanges the distinct+anti-join formulation costs; at "
    "100 TB the fact is scanned once and shuffled once.",
)
def q20_introspection_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    flags = ev.groupBy("user_id", "event_type").agg(
        F.max((F.col("ts") < split).cast("int")).alias("in_old"),
        F.max((F.col("ts") >= split).cast("int")).alias("in_new"),
    )
    change = (
        F.when((F.col("in_new") == 1) & (F.col("in_old") == 0), F.lit("added"))
        .when((F.col("in_old") == 1) & (F.col("in_new") == 0), F.lit("removed"))
    )
    return (
        flags.select("user_id", "event_type", change.alias("change"))
        .filter(F.col("change").isNotNull())
        .orderBy("user_id", "event_type", "change")
    )


@register(
    "q21_set_ops",
    f"""
    WITH old AS (
      SELECT DISTINCT user_id FROM events WHERE ts < {_SPLIT}
    ), new AS (
      SELECT DISTINCT user_id FROM events WHERE ts >= {_SPLIT}
    )
    SELECT user_id, 'both' AS cohort FROM (SELECT user_id FROM old INTERSECT SELECT user_id FROM new) t
    UNION ALL
    SELECT user_id, 'old_only' AS cohort FROM (SELECT user_id FROM old EXCEPT SELECT user_id FROM new) t
    UNION ALL
    SELECT user_id, 'new_only' AS cohort FROM (SELECT user_id FROM new EXCEPT SELECT user_id FROM old) t
    ORDER BY cohort, user_id
    """,
    doc="UNION/INTERSECT/EXCEPT cohort split — the MapSet algebra of the "
    "property-prune path (impl.ex:1334-1411). The oracle states it as "
    "native set operators; the Spark plan computes all three cohorts "
    "in ONE aggregation pass (per-user presence flags per half), one "
    "shuffle over the fact instead of the 7 exchanges the "
    "distinct+intersect+except formulation costs.",
)
def q21_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    flags = ev.groupBy("user_id").agg(
        F.coalesce(F.max((F.col("ts") < split).cast("int")), F.lit(0)).alias("in_old"),
        F.coalesce(F.max((F.col("ts") >= split).cast("int")), F.lit(0)).alias("in_new"),
    )
    cohort = (
        F.when((F.col("in_old") == 1) & (F.col("in_new") == 1), F.lit("both"))
        .when(F.col("in_old") == 1, F.lit("old_only"))
        .when(F.col("in_new") == 1, F.lit("new_only"))
    )
    return (
        flags.select("user_id", cohort.alias("cohort"))
        .filter(F.col("cohort").isNotNull())
        .orderBy("cohort", "user_id")
    )


@register(
    "q22_property_prune",
    """
    WITH stored AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), alive AS (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
    )
    SELECT s.user_id, s.event_type
    FROM stored s
    ANTI JOIN alive a ON s.user_id = a.user_id AND s.event_type = a.event_type
    ORDER BY s.user_id, s.event_type
    """,
    doc="Property prune (impl.ex:1334-1411): every stored path of a device "
    "NOT present in its recently-alive set -> delete candidates. The "
    "anti-join semantics collapse to one aggregation pass: a key is "
    "prunable iff its max event time predates the alive cutoff — one "
    "shuffle over the fact, no second distinct or anti-join exchange.",
)
def q22_property_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-25 00:00:00").cast("timestamp")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.max("ts").alias("last_ts"))
        # NULL last_ts (key seen only with NULL ts) is stored but never
        # alive -> prunable, matching the oracle's distinct/anti-join
        .filter((F.col("last_ts") < cutoff) | F.col("last_ts").isNull())
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    )


@register(
    "q57_full_outer_reconcile",
    """
    WITH bounds AS (
      SELECT epoch_us(min(ts)) AS lo,
             epoch_us(min(ts)) + (epoch_us(max(ts)) - epoch_us(min(ts))) // 2 AS mid
      FROM events
    ),
    a AS (
      SELECT user_id, COUNT(*) AS n_first_half
      FROM events, bounds WHERE epoch_us(ts) < bounds.mid GROUP BY user_id
    ),
    b AS (
      SELECT user_id, COUNT(*) AS n_second_half
      FROM events, bounds WHERE epoch_us(ts) >= bounds.mid GROUP BY user_id
    )
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           a.n_first_half, b.n_second_half,
           CASE WHEN a.user_id IS NULL THEN 'appeared'
                WHEN b.user_id IS NULL THEN 'vanished'
                ELSE 'active_both' END AS status
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    ORDER BY user_id
    """,
    doc="Full outer join: device activity reconciled across the two "
    "halves of the event-time range, null-preserving on both sides "
    "with appeared/vanished/active_both classification — the join "
    "shape the reference's Myers diff implies for eq+ins+del in one "
    "pass. Midpoint via integer microsecond arithmetic so both engines "
    "split identically.",
)
def q57_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        ts_micros(F.min("ts")).alias("lo"),
        (
            ts_micros(F.min("ts"))
            + (ts_micros(F.max("ts")) - ts_micros(F.min("ts"))) / F.lit(2)
        ).cast("long").alias("mid"),
    )
    with_mid = ev.crossJoin(F.broadcast(bounds))
    a = (
        with_mid.filter(ts_micros("ts") < F.col("mid"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_first_half"))
    )
    b = (
        with_mid.filter(ts_micros("ts") >= F.col("mid"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_second_half"))
    )
    joined = a.join(b, ["user_id"], "full")
    status = (
        F.when(F.col("n_first_half").isNull(), F.lit("appeared"))
        .when(F.col("n_second_half").isNull(), F.lit("vanished"))
        .otherwise(F.lit("active_both"))
    )
    return joined.select(
        "user_id", "n_first_half", "n_second_half", status.alias("status")
    ).orderBy("user_id")
