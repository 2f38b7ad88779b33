"""Time-series operators Spark lacks as built-ins: as-of join and
gap-fill/forward-fill.

The reference stores per-device datastreams and answers "value at or
before t" style lookups through Cassandra's clustering order
(``queries.ex:157-232`` reads ``individual_datastreams`` ordered by
reception timestamp). Re-expressed for analytics, that lookup is an
AS-OF JOIN; downsampling a sparse stream onto a regular grid is
GAP-FILL. Neither is a built-in DataFrame operator, so both are
compositions:

- as-of join: union the two sides tagged, one keyed window sorted by
  (ts, id), forward-fill the right side's value with
  ``last(..., ignorenulls)``, keep left rows. ONE shuffle on the key,
  no range join, no per-row probe — the classic scale-safe plan
  (a sort-merge as-of). An actual range join would be O(pairs);
  this is O(n log n) within each key partition.
- gap-fill: per-key bounds → ``sequence()`` time spine (explode is
  allowed to blow up rows: spine size is bounded by the time range,
  not the data) → left join the observed buckets → forward-fill.

Determinism: "at or before" ties break on event_id (same lexicographic
(ts, id) order on both engines), values pass through without
arithmetic, so bits match the DuckDB oracle exactly.
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dmoney, snap
from ..functions.timeutil import ts_micros
from ..plans.registry import register
from ..sources.tables import load_table


_ASOF_ORACLE = """
    WITH tagged AS (
      SELECT user_id, event_id, ts, value, event_type,
             last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
      FROM events
      WHERE event_type IN ('click', 'purchase')
    )
    SELECT user_id, event_id, ts, value, last_click_ts, last_click_value
    FROM tagged
    WHERE event_type = 'purchase'
    ORDER BY user_id, ts, event_id
    """


@register(
    "q63_asof_join",
    _ASOF_ORACLE,
    doc="AS-OF JOIN as a union + keyed forward-fill window: every "
    "purchase picks up the latest at-or-before click per user. One "
    "shuffle on user_id, sort within partition — never a range-probe "
    "join, so the plan is O(n log n) per key and survives any scale. "
    "Mirrors the reference's clustering-order 'value at or before t' "
    "reads (queries.ex:157-232).",
)
def q63_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("event_type") == "click"
    filled = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        "event_type",
        F.last(F.when(is_click, F.col("value")), ignorenulls=True)
        .over(w)
        .alias("last_click_value"),
        F.last(F.when(is_click, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_click_ts"),
    )
    return (
        filled.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", "value", "last_click_ts", "last_click_value")
        .orderBy("user_id", "ts", "event_id")
    )


@register(
    "q64_gap_fill",
    """
    WITH hourly AS (
      SELECT user_id, hour, value FROM (
        SELECT user_id, date_trunc('hour', ts) AS hour, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, date_trunc('hour', ts)
                 ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
      ) t WHERE rn = 1
    ),
    bounds AS (
      SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    )
    SELECT s.user_id, s.hour,
           last_value(h.value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value,
           CAST(h.value IS NULL AS BOOLEAN) AS is_gap
    FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour
    ORDER BY s.user_id, s.hour
    """,
    doc="Gap-fill onto a regular hourly grid with forward-fill: per-key "
    "bounds drive a sequence() spine (rows bounded by the TIME RANGE, "
    "not data volume), observed buckets left-join in on (key, hour) — "
    "a keyed equi-join, broadcast-able per AQE — and last(ignorenulls) "
    "carries the previous observation across gaps. Both engines agree "
    "bit-for-bit because the value passes through with no arithmetic "
    "(Spark sequence() and DuckDB generate_series are both "
    "end-inclusive).",
)
def q64_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    wlast = Window.partitionBy("user_id", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    hourly = (
        ev.select("user_id", hour, "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select("user_id", "hour", "value")
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    wfill = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("value", ignorenulls=True).over(wfill).alias("filled_value"),
            F.col("value").isNull().alias("is_gap"),
        )
        .orderBy("user_id", "hour")
    )


# Composite (ts, event_id) ordering key both engines compare identically:
# zero-padded decimal strings sort lexicographically as the numbers do.
_KEY_SQL = "printf('%020d%010d', epoch_us(ts), event_id)"


def _order_key():
    return F.format_string("%020d%010d", ts_micros("ts"), F.col("event_id"))


@register(
    "q65_ohlc_downsample",
    f"""
    SELECT user_id,
           date_trunc('hour', ts) AS hour,
           min_by(value, {_KEY_SQL}) AS open_v,
           max_by(value, {_KEY_SQL}) AS close_v,
           MAX(value) AS high_v,
           MIN(value) AS low_v,
           CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DECIMAL(38,6)) AS DOUBLE) AS value_sum,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id, date_trunc('hour', ts)
    ORDER BY user_id, hour
    """,
    doc="OHLC downsampling: one partial+final aggregate per (key, time "
    "bucket) — open/close via min_by/max_by on a composite (ts, "
    "event_id) ordering key, so no window, no second shuffle, and the "
    "whole rollup is algebraic (map-side combinable). This is the "
    "batch twin of the reference's clustering-ordered first/last "
    "datastream reads (queries.ex:157-232, LIMIT 1 at :226); the sum "
    "goes through exact DECIMAL so both engines agree bitwise.",
)
def q65_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import dmoney, snap

    ev = load_table(spark, sf_dir, "events")
    key = _order_key()
    return (
        ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.min_by("value", key).alias("open_v"),
            F.max_by("value", key).alias("close_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            snap(F.sum(dmoney("value"))).alias("value_sum"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "hour")
    )


_US_HOUR = 3_600_000_000


@register(
    "q66_bounded_range_join",
    f"""
    WITH p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts AS cts, value FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id, p.event_id, p.ts,
           COUNT(c.cts) AS n_clicks,
           CAST(CAST(COALESCE(SUM(CAST(c.value AS DECIMAL(12,4))), 0) AS DECIMAL(38,6)) AS DOUBLE) AS click_value_sum
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND epoch_us(c.cts) >= epoch_us(p.ts) - {_US_HOUR}
     AND epoch_us(c.cts) <  epoch_us(p.ts)
    GROUP BY p.user_id, p.event_id, p.ts
    ORDER BY p.user_id, p.event_id
    """,
    doc="Bounded-interval range join (clicks in the hour before each "
    "purchase) WITHOUT a theta join: both sides bucket to the hour, "
    "each probe explodes to its two candidate buckets, the join is a "
    "keyed (user_id, bucket) EQUI-join, and the exact range predicate "
    "filters the at-most-2x candidates. Work is O(matches), never "
    "O(probe x build) — the plan a naive BroadcastNestedLoopJoin "
    "range join degrades to. The oracle states the same query as the "
    "declarative range join DuckDB's IEJoin can afford at test scale.",
)
def q66_bounded_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import dmoney, snap

    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            ts_micros("ts").alias("cus"),
            F.col("value").alias("c_value"),
        )
        .withColumn("c_bucket", F.floor(F.col("cus") / _US_HOUR))
    )
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", ts_micros("ts").alias("pus"))
        .withColumn(
            "c_bucket",
            F.explode(
                F.array(
                    F.floor(F.col("pus") / _US_HOUR) - 1,
                    F.floor(F.col("pus") / _US_HOUR),
                )
            ),
        )
    )
    joined = pur.join(
        clicks,
        (pur.user_id == clicks.c_user)
        & (pur.c_bucket == clicks.c_bucket)
        & (clicks.cus >= pur.pus - _US_HOUR)
        & (clicks.cus < pur.pus),
        "left",
    )
    zero = F.lit(0).cast("decimal(12,4)")
    return (
        joined.groupBy("user_id", "event_id", "ts")
        .agg(
            F.count("cus").alias("n_clicks"),
            snap(F.coalesce(F.sum(dmoney("c_value")), zero)).alias("click_value_sum"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "q76_rolling_hourly_stats",
    """
    SELECT user_id, event_id, ts,
           COUNT(*) OVER w AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(8,4))) OVER w AS DOUBLE) AS sum_1h,
           MIN(value) OVER w AS min_1h,
           MAX(value) OVER w AS max_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    ORDER BY user_id, event_id
    """,
    doc="Trailing-hour rolling stats per device: a RANGE frame over "
    "event-time microseconds — each row aggregates every event of the "
    "SAME KEY within the preceding hour, however many rows that is "
    "(ROWS frames can't express this; the frame is value-bounded, not "
    "row-bounded). One shuffle on user_id, one in-partition sort, "
    "then a single forward sweep with a sliding aggregate — O(n) per "
    "partition, no self-join, no explode; the sum is exact DECIMAL "
    "so any frame-evaluation order matches the oracle bit-for-bit. "
    "Tied timestamps share an identical frame, so output is "
    "deterministic under any tie order.",
)
def q76_rolling_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            F.count(F.lit(1)).over(w).alias("n_1h"),
            F.sum(F.col("value").cast("decimal(8,4)")).over(w).cast("double").alias("sum_1h"),
            F.min("value").over(w).alias("min_1h"),
            F.max("value").over(w).alias("max_1h"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "q98_time_weighted_avg",
    """
    WITH ordered AS (
      SELECT user_id, value,
             epoch_us(ts) // 1000000 AS t,
             LEAD(epoch_us(ts) // 1000000) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS t_next
      FROM events
    ), spans AS (
      SELECT user_id,
             CAST(value AS DECIMAL(12,4)) * (t_next - t) AS w,
             t_next - t AS dt
      FROM ordered WHERE t_next IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) + 1 AS n_samples,
           CAST(SUM(dt) AS BIGINT) AS span_seconds,
           ROUND(CAST(CAST(SUM(w) AS DECIMAL(38,6)) AS DOUBLE)
                   / CAST(SUM(dt) AS DOUBLE), 6) AS twa
    FROM spans
    GROUP BY user_id
    HAVING SUM(dt) > 0
    """,
    doc="Time-weighted average per device key: each sample holds its value "
    "until the next sample (the hypertable/IoT rollup semantics the "
    "reference's datastreams imply, queries.ex:718-743). lag-free LEAD "
    "window + one aggregate; value*duration products stay in exact DECIMAL "
    "(seconds granularity keeps the scaled sum under 2^53) so the weighted "
    "sum is order-insensitive across engines and cluster re-runs.",
)
def q98_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    ordered = ev.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    )
    spans = ordered.filter(F.col("t_next").isNotNull()).select(
        "user_id",
        (dmoney("value") * (F.col("t_next") - F.col("t"))).alias("w"),
        (F.col("t_next") - F.col("t")).alias("dt"),
    )
    return (
        spans.groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + F.lit(1)).alias("n_samples"),
            F.sum("dt").alias("span_seconds"),
            F.round(
                snap(F.sum("w")) / F.sum("dt").cast("double"),
                6,
            ).alias("twa"),
        )
        .filter(F.col("span_seconds") > 0)
    )


_ASOF_SCHEMA = (
    "user_id bigint, event_id bigint, ts timestamp, value double, "
    "last_click_ts timestamp, last_click_value double"
)


def _asof_cogroup(left_pdf, right_pdf):
    """Per-user pandas merge_asof: purchases pick up the latest prior click.

    event_id assignment is monotone in ts in this dataset (asserted by
    the oracle parity check), so a backward merge_asof on event_id is
    exactly the (ts, event_id)-lexicographic as-of.
    """
    import pandas as pd

    needed = {"event_id", "ts", "value"}
    if not (needed <= set(left_pdf.columns) and needed <= set(right_pdf.columns)):
        # Catalyst prunes cogroup input columns when no output column is
        # consumed (count-style plans); only the row count matters then.
        n = len(left_pdf)
        return pd.DataFrame(
            {
                "user_id": (
                    left_pdf["user_id"].to_numpy()
                    if "user_id" in left_pdf.columns
                    else pd.Series([0] * n, dtype="int64")
                ),
                "event_id": pd.Series([0] * n, dtype="int64"),
                "ts": pd.Series([pd.NaT] * n, dtype="datetime64[us]"),
                "value": pd.Series([float("nan")] * n, dtype="float64"),
                "last_click_ts": pd.Series([pd.NaT] * n, dtype="datetime64[us]"),
                "last_click_value": pd.Series([float("nan")] * n, dtype="float64"),
            }
        )

    left = left_pdf.sort_values("event_id")
    right = right_pdf.sort_values("event_id").rename(
        columns={"ts": "last_click_ts", "value": "last_click_value"}
    )[["event_id", "last_click_ts", "last_click_value"]]
    out = pd.merge_asof(left, right, on="event_id", direction="backward")
    return out[
        ["user_id", "event_id", "ts", "value", "last_click_ts", "last_click_value"]
    ]


@register(
    "q99_asof_cogroup",
    _ASOF_ORACLE,
    doc="The same as-of join as q63, expressed through the other custom-"
    "operator path: cogroup(purchases, clicks).applyInPandas with "
    "pd.merge_asof per key. Demonstrates the Arrow-batched escape hatch "
    "for semantics the built-ins can't reach; q63's window rewrite stays "
    "the preferred plan (one shuffle, no Python), and both hash-match "
    "the same oracle.",
)
def q99_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    joined = (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(_asof_cogroup, schema=_ASOF_SCHEMA)
    )
    return joined.orderBy("user_id", "ts", "event_id")


# keep the by-value shipping invariant for applyInPandas closures: the
# driver process may not have this package on the executors' PYTHONPATH
cloudpickle.register_pickle_by_value(sys.modules[__name__])


#: retention tiers: rows older than this cutoff (fraction of the data
#: span before max ts) are thinned to the first sample per hour; newer
#: rows are kept raw — the Timescale-style downsample-then-drop policy
RETENTION_SPLIT_HOURS = 24 * 7


@register(
    "q131_retention_downsample",
    f"""
    WITH cut AS (
      SELECT max(ts) - INTERVAL {RETENTION_SPLIT_HOURS} HOUR AS c FROM events
    ),
    old_kept AS (
      SELECT user_id, event_type, ts, value FROM (
        SELECT e.user_id, e.event_type, e.ts, e.value,
               ROW_NUMBER() OVER (
                 PARTITION BY e.user_id, e.event_type, date_trunc('hour', e.ts)
                 ORDER BY e.ts, e.event_id
               ) AS rn
        FROM events e, cut WHERE e.ts < cut.c
      ) t WHERE rn = 1
    ),
    recent AS (
      SELECT e.user_id, e.event_type, e.ts, e.value
      FROM events e, cut WHERE e.ts >= cut.c
    )
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           '/' || event_type || '/value' AS path,
           ts AS value_timestamp, value AS double_value,
           'downsampled' AS tier
    FROM old_kept
    UNION ALL
    SELECT CAST(user_id AS VARCHAR), '/' || event_type || '/value',
           ts, value, 'raw'
    FROM recent
    ORDER BY device_id, path, value_timestamp
    """,
    doc="Tiered retention (the Timescale/hypertable downsample-then-"
    "drop policy the reference's TTL-only model lacks): datastream "
    "rows older than the hot window are thinned to the FIRST sample "
    "per (device, path, hour) — selecting retained raw rows, not "
    "aggregating them (q65 is the aggregate tier) — while recent rows "
    "stay untouched, each row labeled with its tier. The thinning is "
    "one window over the storage partitioning key plus the hour, so "
    "the vacuum job shuffles only the cold partition range it "
    "rewrites; deterministic keep choice via (ts, event_id) order.",
)
def q131_retention_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {RETENTION_SPLIT_HOURS} HOUR")).alias("c")
    )
    with_cut = ev.crossJoin(F.broadcast(cut))
    w = Window.partitionBy(
        "user_id", "event_type", F.date_trunc("hour", "ts")
    ).orderBy("ts", "event_id")
    old_kept = (
        with_cut.filter(F.col("ts") < F.col("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "value", F.lit("downsampled").alias("tier"))
    )
    recent = with_cut.filter(F.col("ts") >= F.col("c")).select(
        "user_id", "event_type", "ts", "value", F.lit("raw").alias("tier")
    )
    return (
        old_kept.unionByName(recent)
        .select(
            F.col("user_id").cast("string").alias("device_id"),
            F.concat(F.lit("/"), F.col("event_type"), F.lit("/value")).alias("path"),
            F.col("ts").alias("value_timestamp"),
            F.col("value").alias("double_value"),
            "tier",
        )
        .orderBy("device_id", "path", "value_timestamp")
    )


#: a device is flagged when its longest silence exceeds this
GAP_ALERT_HOURS = 12


@register(
    "q132_heartbeat_gaps",
    f"""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(floor(CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us)) AS BIGINT)
             AS mean_gap_us,
           MAX(gap_us) > CAST({GAP_ALERT_HOURS} AS BIGINT) * 3600 * 1000000
             AS silent_alert
    FROM gaps
    GROUP BY user_id
    ORDER BY device_id
    """,
    doc="Device-silence monitoring: per-device inter-message gaps "
    "(event-time lag over the device partition), longest and mean "
    "silence, and an alert when the longest gap exceeds the SLA "
    "window — the connectivity-health analytic an IoT fleet operator "
    "runs next to the A25 connect lifecycle. One window over the "
    "storage partitioning key then one aggregate — a single shuffle, "
    "integer microsecond arithmetic throughout (the mean truncates "
    "through an exact double quotient, engine-identical).",
)
def q132_heartbeat_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (ts_micros("ts") - F.lag(ts_micros("ts")).over(w)).alias("gap_us"),
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_us").cast("long").alias("n_gaps"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
            F.floor(F.sum("gap_us").cast("double") / F.count("gap_us"))
            .cast("long")
            .alias("mean_gap_us"),
            (F.max("gap_us") > GAP_ALERT_HOURS * 3600 * 1_000_000).alias(
                "silent_alert"
            ),
        )
        .select(
            F.col("user_id").cast("string").alias("device_id"),
            "n_gaps", "max_gap_us", "mean_gap_us", "silent_alert",
        )
        .orderBy("device_id")
    )


#: |value - mean| > Z_SIGMA * std flags an anomaly
Z_SIGMA = 3
#: values snap to 1e-3 fixed point so every sum AND sum-of-squares
#: stays inside int64 at the observed value range (|v| < 1e3, 1e3
#: events/device: x^2 sums reach ~1e14, n*sxx ~1e17 < 2^63)
Z_SNAP = 1_000


@register(
    "q133_value_anomalies",
    f"""
    WITH s AS (
      SELECT user_id, CAST(ROUND(value * {Z_SNAP}) AS BIGINT) AS x
      FROM events
    ),
    agg AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM s GROUP BY user_id
    ),
    flags AS (
      SELECT s.user_id,
             CASE WHEN (a.n * s.x - a.sx) * (a.n * s.x - a.sx)
                       > {Z_SIGMA * Z_SIGMA} * (a.n * a.sxx - a.sx * a.sx)
                  THEN 1 ELSE 0 END AS is_anom
      FROM s JOIN agg a ON a.user_id = s.user_id
    )
    SELECT CAST(a.user_id AS VARCHAR) AS device_id,
           a.n,
           CAST(a.sx AS DOUBLE) / (a.n * {Z_SNAP}.0) AS mean_value,
           sqrt(CAST(a.n * a.sxx - a.sx * a.sx AS DOUBLE)
                / (CAST(a.n AS DOUBLE) * a.n)) / {Z_SNAP}.0 AS std_value,
           CAST(f.n_anom AS BIGINT) AS n_anomalies
    FROM agg a
    JOIN (SELECT user_id, SUM(is_anom) AS n_anom FROM flags GROUP BY user_id) f
      ON f.user_id = a.user_id
    ORDER BY device_id
    """,
    doc="Per-device value-anomaly detection with EXACT statistics: "
    "values snap to 1e-3 fixed point, count/sum/sum-of-squares are "
    "integer aggregates (associative, partial-order free), and the "
    "|x - mean| > 3*sigma test is rearranged to the pure-integer "
    "comparison (n*x - sx)^2 > 9*(n*sxx - sx^2) — so the anomaly "
    "COUNT is bit-deterministic on any engine and any partitioning, "
    "with mean/std surfaced through single fixed-formula double "
    "expressions. Float variance accumulated naively would be "
    "partial-order dependent and unreproducible at cluster scale; "
    "this is the pattern that makes fleet-wide anomaly alerting "
    "replayable.",
)
def q133_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id", F.round(F.col("value") * Z_SNAP).cast("long").alias("x")
    )
    agg = s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    joined = s.join(agg, "user_id")
    dev = F.col("n") * F.col("x") - F.col("sx")
    var_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    flags = joined.select(
        "user_id",
        F.when(dev * dev > Z_SIGMA * Z_SIGMA * var_num, 1).otherwise(0).alias("is_anom"),
    )
    n_anom = flags.groupBy("user_id").agg(F.sum("is_anom").cast("long").alias("n_anomalies"))
    return (
        agg.join(n_anom, "user_id")
        .select(
            F.col("user_id").cast("string").alias("device_id"),
            "n",
            (F.col("sx").cast("double") / (F.col("n") * float(Z_SNAP))).alias("mean_value"),
            (
                F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                    / (F.col("n").cast("double") * F.col("n"))
                )
                / float(Z_SNAP)
            ).alias("std_value"),
            "n_anomalies",
        )
        .orderBy("device_id")
    )


# ---------------------------------------------------------------------------
# q143 — point-in-time feature join (feature-store semantics)
# ---------------------------------------------------------------------------

#: feature event classes gathered at each prediction point
PIT_FEATURES = ("click", "view", "error")


@register(
    "q143_point_in_time_features",
    f"""
    WITH ordered AS (
      SELECT event_id, user_id, event_type, value, ts,
             {", ".join(
               f"last_value(CASE WHEN event_type = '{t}' THEN value END IGNORE NULLS) "
               f"OVER (PARTITION BY user_id ORDER BY ts, event_id "
               f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS {t}_value, "
               f"last_value(CASE WHEN event_type = '{t}' THEN epoch_us(ts) END IGNORE NULLS) "
               f"OVER (PARTITION BY user_id ORDER BY ts, event_id "
               f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS {t}_us"
               for t in PIT_FEATURES)}
      FROM events
    )
    SELECT event_id, user_id,
           {", ".join(
             f"{t}_value, epoch_us(ts) - {t}_us AS {t}_age_us"
             for t in PIT_FEATURES)}
    FROM ordered WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
    doc="Point-in-time-correct feature join (the feature-store "
    "primitive): every purchase event is a prediction point, and for "
    "each feature class (click/view/error) the join must surface the "
    "latest value STRICTLY BEFORE the point — never a future value, "
    "which would leak the label into training features. Instead of "
    "one as-of join per feature table (3 range joins), all feature "
    "classes ride ONE window pass: conditional last_value(IGNORE "
    "NULLS) over (user, ts, event_id) with a 1-PRECEDING frame gives "
    "each class's most recent prior observation, plus its age in "
    "exact integer microseconds. One shuffle on user_id total, "
    "however many feature classes — the melt-then-window shape that "
    "replaces N as-of joins at 100 TB.",
)
def q143_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = ev
    for t in PIT_FEATURES:
        out = out.withColumn(
            f"{t}_value",
            F.last(
                F.when(F.col("event_type") == t, F.col("value")), ignorenulls=True
            ).over(w),
        ).withColumn(
            f"{t}_us",
            F.last(
                F.when(F.col("event_type") == t, ts_micros("ts")), ignorenulls=True
            ).over(w),
        )
    cols = ["event_id", "user_id"]
    for t in PIT_FEATURES:
        cols.append(f"{t}_value")
        out = out.withColumn(f"{t}_age_us", ts_micros("ts") - F.col(f"{t}_us"))
        cols.append(f"{t}_age_us")
    return out.filter(F.col("event_type") == "purchase").select(*cols).orderBy(
        "event_id"
    )


# ---------------------------------------------------------------------------
# q162 — per-device OLS trend (exact normal equations)
# ---------------------------------------------------------------------------

#: value fixed-point scale for the regression sums
OLS_SNAP = 100


@register(
    "q162_device_trend",
    f"""
    WITH s AS (
      SELECT user_id,
             (epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id))
               // 1000000 AS x,
             CAST(ROUND(value * {OLS_SNAP}) AS BIGINT) AS y
      FROM events
    ),
    agg AS (
      -- int128 accumulation (Spark side: DECIMAL(38,0)): with a long
      -- observation span x reaches ~1e7s, x*x ~ 1e14, and n*sxx passes
      -- int64 once a device logs ~1e5 points — widen so "exact, bit-
      -- deterministic" survives real fleet histories instead of
      -- wrapping (Spark non-ANSI) or raising (DuckDB).
      SELECT user_id,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM s GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS slope_num,
           CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS slope_den,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept
    FROM agg
    ORDER BY user_id
    """,
    doc="Per-device least-squares trend with EXACT normal equations: "
    "x is integer seconds since the device's first observation "
    "(centering keeps n*sum(x^2) far from BIGINT overflow), y snaps "
    "to 1e-2 fixed point, and all five regression sums are integer "
    "aggregates — so the slope's numerator and denominator are "
    "exact BIGINTs pinned in the output, and slope/intercept are "
    "single fixed-formula divisions. A float-accumulated regression "
    "would drift with partition order; this one is the fleet-wide "
    "drift detector (sensor degradation = slope) that reproduces "
    "bit-for-bit on every replay. One window for the per-device "
    "epoch + one aggregate, both on the same user key.",
)
def q162_device_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s = ev.select(
        "user_id",
        F.floor(
            (ts_micros("ts") - F.min(ts_micros("ts")).over(w)) / 1000000
        ).cast("long").alias("x"),
        F.round(F.col("value") * OLS_SNAP).cast("long").alias("y"),
    )
    # DECIMAL(38,0) accumulation (oracle: HUGEINT) — see the oracle note:
    # n*sxx passes int64 for long, dense device histories; widening keeps
    # the exact-normal-equations claim true at fleet scale.
    xd = F.col("x").cast("decimal(14,0)")
    yd = F.col("y").cast("decimal(14,0)")
    agg = s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    return agg.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n").cast("long").alias("n"),
        num.cast("decimal(38,0)").alias("slope_num"),
        den.cast("decimal(38,0)").alias("slope_den"),
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# q180 — LTTB downsampling (largest-triangle-three-buckets, parallel form)
# ---------------------------------------------------------------------------

#: buckets per device series (dashboard pixel budget)
LTTB_B = 12


@register(
    "q180_lttb_downsample",
    f"""
    WITH base AS (
      SELECT user_id, event_id,
             CAST((epoch_us(ts) - MIN(epoch_us(ts))
                     OVER (PARTITION BY user_id)) // 1000000 AS BIGINT) AS x,
             CAST(ROUND(value * 100) AS BIGINT) AS y,
             CAST(NTILE({LTTB_B}) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS BIGINT)
               AS bucket,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS cnt
      FROM events
    ),
    bstats AS (
      SELECT user_id, bucket,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             CAST(COUNT(*) AS HUGEINT) AS c
      FROM base GROUP BY user_id, bucket
    ),
    mid AS (
      SELECT b.user_id, b.bucket, b.event_id, b.x, b.y,
             abs((p.sx * n.c - n.sx * p.c) * (CAST(b.y AS HUGEINT) * p.c - p.sy)
                 - (p.sx - CAST(b.x AS HUGEINT) * p.c) * (p.sy * n.c - n.sy * p.c))
               AS area2
      FROM base b
      JOIN bstats p ON p.user_id = b.user_id AND p.bucket = b.bucket - 1
      JOIN bstats n ON n.user_id = b.user_id AND n.bucket = b.bucket + 1
    ),
    picked AS (
      SELECT user_id, bucket, event_id, x, y,
             CAST(area2 AS DECIMAL(38,0)) AS area2
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                      ORDER BY area2 DESC, event_id) AS arn FROM mid) t
      WHERE arn = 1
      UNION ALL
      SELECT user_id, bucket, event_id, x, y, CAST(0 AS DECIMAL(38,0))
      FROM base WHERE rn = 1 OR rn = cnt
    )
    SELECT user_id, bucket, event_id, x, y, area2
    FROM picked ORDER BY user_id, bucket, event_id
    """,
    doc="LTTB (largest-triangle-three-buckets) downsampling per device "
    "series, in its parallel form: classic LTTB anchors each bucket's "
    "triangle on the PREVIOUS SELECTED point (a sequential chain); "
    "the standard parallel variant anchors on the neighbor buckets' "
    "AVERAGES instead, making every bucket's argmax independent — the "
    "shape a 1000-executor dashboard pipeline actually ships. All "
    "geometry is EXACT integer arithmetic: x is centered seconds, y "
    "snaps to 1e-2, and the triangle area is cross-multiplied by the "
    "neighbor-bucket counts (argmax invariant, denominators positive) "
    "into int128 (HUGEINT / DECIMAL(38,0)) so the winning point is "
    "bit-deterministic — no float area near the argmax. First/last "
    "rows of each series are pinned like classic LTTB's endpoints. "
    "Everything is keyed windows and keyed joins on (device, bucket); "
    "nothing single-partition.",
)
def q180_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wd = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        "event_id",
        F.floor(
            (ts_micros("ts") - F.min(ts_micros("ts")).over(wd)) / 1000000
        ).cast("long").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
        F.ntile(LTTB_B).over(wo).cast("long").alias("bucket"),
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wd).alias("cnt"),
    )
    d38 = "decimal(38,0)"
    bstats = base.groupBy("user_id", "bucket").agg(
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.count(F.lit(1)).cast(d38).alias("c"),
    )
    p = bstats.select(
        F.col("user_id").alias("pu"), F.col("bucket").alias("pb"),
        F.col("sx").alias("psx"), F.col("sy").alias("psy"), F.col("c").alias("pc"),
    )
    n = bstats.select(
        F.col("user_id").alias("nu"), F.col("bucket").alias("nb"),
        F.col("sx").alias("nsx"), F.col("sy").alias("nsy"), F.col("c").alias("nc"),
    )
    yd = F.col("y").cast(d38)
    xd = F.col("x").cast(d38)
    area2 = F.abs(
        (F.col("psx") * F.col("nc") - F.col("nsx") * F.col("pc"))
        * (yd * F.col("pc") - F.col("psy"))
        - (F.col("psx") - xd * F.col("pc"))
        * (F.col("psy") * F.col("nc") - F.col("nsy") * F.col("pc"))
    ).cast(d38)
    mid = (
        base.join(
            p, (base.user_id == F.col("pu")) & (F.col("pb") == base.bucket - 1)
        )
        .join(n, (base.user_id == F.col("nu")) & (F.col("nb") == base.bucket + 1))
        .select("user_id", "bucket", "event_id", "x", "y", area2.alias("area2"))
    )
    wa = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("area2").desc(), "event_id"
    )
    picked_mid = (
        mid.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") == 1)
        .drop("arn")
    )
    endpoints = base.filter(
        (F.col("rn") == 1) | (F.col("rn") == F.col("cnt"))
    ).select(
        "user_id", "bucket", "event_id", "x", "y",
        F.lit(0).cast(d38).alias("area2"),
    )
    return picked_mid.unionByName(endpoints).orderBy(
        "user_id", "bucket", "event_id"
    )


# ---------------------------------------------------------------------------
# q187 — event-time lateness profile (watermark tuning)
# ---------------------------------------------------------------------------

#: lateness histogram bucket upper bounds, seconds (last bucket open)
LATE_BOUNDS = (0, 60, 600, 3600, 86400)


@register(
    "q187_lateness_profile",
    f"""
    WITH o AS (
      SELECT user_id, ts,
             MAX(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hw_us
      FROM events
    ),
    lat AS (
      SELECT CAST((hw_us - epoch_us(ts)) // 1000000 AS BIGINT) AS late_s
      FROM o
    ),
    b AS (
      SELECT late_s,
             CASE
               WHEN late_s <= 0 THEN 0
               WHEN late_s <= 60 THEN 1
               WHEN late_s <= 600 THEN 2
               WHEN late_s <= 3600 THEN 3
               WHEN late_s <= 86400 THEN 4
               ELSE 5
             END AS bucket
      FROM lat
    ),
    agg AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MAX(late_s) AS BIGINT) AS max_late_s
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n FROM agg)
    SELECT a.bucket, a.n_events, a.max_late_s,
           CAST(SUM(a.n_events) OVER (ORDER BY a.bucket) AS BIGINT) AS cum_events,
           CAST(SUM(a.n_events) OVER (ORDER BY a.bucket) AS DOUBLE) / t.n
             AS cum_frac
    FROM agg a, tot t
    ORDER BY a.bucket
    """,
    doc="Event-time lateness profile — the measurement behind every "
    "watermark choice: per device, lateness of each event is the "
    "running high-water mark of event time (in arrival order, "
    "event_id) minus its own event time, exact integer seconds; the "
    "histogram over operational buckets (on-time / <=1m / <=10m / "
    "<=1h / <=1d / beyond) with cumulative fractions reads off "
    "directly as 'a 10-minute watermark retains X% of events'. One "
    "keyed window (device partitions) + a 6-row aggregate; the tiny "
    "cumulative window runs over 6 bucket rows, never the data. This "
    "is how s76/s80's withWatermark('1 hour') stops being folklore.",
)
def q187_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late_s = F.floor(
        (F.max(ts_micros("ts")).over(w) - ts_micros("ts")) / 1000000
    ).cast("long")
    bucket = (
        F.when(F.col("late_s") <= 0, 0)
        .when(F.col("late_s") <= 60, 1)
        .when(F.col("late_s") <= 600, 2)
        .when(F.col("late_s") <= 3600, 3)
        .when(F.col("late_s") <= 86400, 4)
        .otherwise(5)
    )
    agg = (
        ev.select(late_s.alias("late_s"))
        .select("late_s", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("late_s").cast("long").alias("max_late_s"),
        )
    )
    tot = agg.agg(F.sum("n_events").cast("long").alias("n"))
    # the cumulative frame is 6 bucket rows — a broadcast theta-join
    # keeps even this micro-window out of single-partition WindowExec
    right = agg.select(
        F.col("bucket").alias("rb"), F.col("n_events").alias("rn")
    )
    cum = (
        agg.join(F.broadcast(right), F.col("rb") <= F.col("bucket"), "left")
        .groupBy("bucket", "n_events", "max_late_s")
        .agg(F.sum("rn").cast("long").alias("cum_events"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "bucket", "n_events", "max_late_s", "cum_events",
            (F.col("cum_events").cast("double") / F.col("n")).alias("cum_frac"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q188 — robust per-device outliers (median / MAD, exact order statistics)
# ---------------------------------------------------------------------------

#: the classic robust cutoff: |x - median| > 3 * MAD
MAD_K = 3


@register(
    "q188_robust_outliers",
    f"""
    WITH s AS (
      SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events
    ),
    med AS (
      SELECT user_id, y AS med FROM (
        SELECT user_id, y,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY y) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM s
      ) t WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT s.user_id, s.y, m.med, abs(s.y - m.med) AS ad
      FROM s JOIN med m USING (user_id)
    ),
    mad AS (
      SELECT user_id, ad AS mad FROM (
        SELECT user_id, ad,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ad) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM dev
      ) t WHERE rn = (n + 1) // 2
    )
    SELECT d.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(d.med) AS BIGINT) AS median_e2,
           CAST(MAX(md.mad) AS BIGINT) AS mad_e2,
           CAST(SUM(CASE WHEN abs(d.y - d.med) > {MAD_K} * md.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad md USING (user_id)
    GROUP BY d.user_id
    ORDER BY d.user_id
    """,
    doc="Robust per-device outlier detection via median/MAD — the "
    "heavy-tail-safe complement to q133's mean/sigma gate (one fat "
    "outlier inflates sigma and masks the rest; the median absolute "
    "deviation does not budge): values snap to 1e-2 fixed point, the "
    "median is an EXACT order statistic (lower median, rank "
    "(n+1) DIV 2, via keyed windows — never an interpolated float "
    "percentile), MAD is the exact median of integer absolute "
    "deviations, and the 3-MAD cutoff is a pure integer comparison, "
    "so every count is bit-deterministic. Two keyed rank passes and "
    "two keyed joins, all on the device key — one partitioning reused "
    "throughout, linear at fleet scale.",
)
def q188_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("y")
    )

    def keyed_median(df, col, out):
        w = Window.partitionBy("user_id").orderBy(col)
        wc = Window.partitionBy("user_id")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wc))
            .filter(F.col("_rn") == F.expr("(_n + 1) DIV 2"))
            .select("user_id", F.col(col).alias(out))
        )

    med = keyed_median(s, "y", "med")
    dev = s.join(med, "user_id").withColumn(
        "ad", F.abs(F.col("y") - F.col("med"))
    )
    mad = keyed_median(dev.select("user_id", "ad"), "ad", "mad")
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("med").cast("long").alias("median_e2"),
            F.max("mad").cast("long").alias("mad_e2"),
            F.sum(
                (F.abs(F.col("y") - F.col("med")) > MAD_K * F.col("mad")).cast(
                    "int"
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q203 — seasonal-naive backtest (hour-of-day profile + holdout MAE)
# ---------------------------------------------------------------------------

#: fixed-point snap for values in the backtest (1e-3)
SEAS_SNAP = 1000
#: holdout: the trailing N epoch-days are the test window
SEAS_HOLDOUT_DAYS = 2


@register(
    "q203_seasonal_backtest",
    f"""
    WITH s AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hod,
             CAST(ROUND(value * {SEAS_SNAP}) AS BIGINT) AS y
      FROM events
    ),
    mx AS (SELECT MAX(day) AS maxd FROM s),
    train AS (
      SELECT s.* FROM s, mx WHERE day <= maxd - {SEAS_HOLDOUT_DAYS}
    ),
    test AS (
      SELECT s.* FROM s, mx WHERE day > maxd - {SEAS_HOLDOUT_DAYS}
    ),
    prof AS (
      SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS c,
             SUM(CAST(y AS HUGEINT)) AS sy
      FROM train GROUP BY event_type, hod
    ),
    err AS (
      SELECT t.event_type, t.hod, p.c, p.sy,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             SUM(abs(CAST(t.y AS HUGEINT) * p.c - p.sy)) AS num
      FROM test t
      JOIN prof p ON p.event_type = t.event_type AND p.hod = t.hod
      GROUP BY t.event_type, t.hod, p.c, p.sy
    )
    SELECT event_type, hod, c AS n_train,
           CAST(sy AS DOUBLE) / c / {SEAS_SNAP} AS forecast,
           n_test,
           CAST(num AS DECIMAL(38,0)) AS abs_err_num,
           CAST(num AS DOUBLE) / c / n_test / {SEAS_SNAP} AS mae
    FROM err
    ORDER BY event_type, hod
    """,
    doc="Seasonal-naive forecast backtest — the baseline every "
    "anomaly/forecast system must beat: the per-(event_type, "
    "hour-of-day) training mean is the forecast, scored by MAE on a "
    "trailing-days holdout. The arithmetic follows the q162 exact "
    "discipline: values snap to 1e-3 longs, the per-row absolute "
    "error is |y*c - sum| — an exact HUGEINT/DECIMAL(38,0) since "
    "every test row in a (type, hour) cell shares the SAME profile "
    "denominator — and the only doubles are two final fixed-formula "
    "division chains, so the backtest reproduces bit-for-bit on "
    "replay (a float-accumulated MAE would drift with partition "
    "order). Plan shape: one global-max broadcast for the cutoff, "
    "one keyed aggregate per split, one keyed equi-join — every "
    "stage partitions on (type, hour), nothing global.",
)
def q203_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.floor(ts_micros("ts") / 86400000000).cast("long").alias("day"),
        F.hour("ts").cast("long").alias("hod"),
        F.round(F.col("value") * SEAS_SNAP).cast("long").alias("y"),
    )
    mx = s.agg(F.max("day").alias("maxd"))
    s2 = s.crossJoin(F.broadcast(mx))
    train = s2.filter(F.col("day") <= F.col("maxd") - SEAS_HOLDOUT_DAYS)
    test = s2.filter(F.col("day") > F.col("maxd") - SEAS_HOLDOUT_DAYS)
    prof = train.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.col("y").cast("decimal(18,0)")).cast("decimal(38,0)").alias("sy"),
    )
    yd = F.col("y").cast("decimal(18,0)")
    err = (
        test.join(prof, ["event_type", "hod"])
        .groupBy("event_type", "hod", "c", "sy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.abs(yd * F.col("c") - F.col("sy")))
            .cast("decimal(38,0)")
            .alias("num"),
        )
    )
    return err.select(
        "event_type",
        "hod",
        F.col("c").alias("n_train"),
        (F.col("sy").cast("double") / F.col("c") / SEAS_SNAP).alias("forecast"),
        "n_test",
        F.col("num").alias("abs_err_num"),
        (
            F.col("num").cast("double") / F.col("c") / F.col("n_test") / SEAS_SNAP
        ).alias("mae"),
    ).orderBy("event_type", "hod")


# ---------------------------------------------------------------------------
# q207 — CUSUM changepoint detection (exact, closed-form recursion)
# ---------------------------------------------------------------------------

#: CUSUM allowance (slack) and alarm threshold, in snapped 1e-3 value
#: units: drift smaller than 0.5 is absorbed, a one-sided cumulative
#: excursion past 3.0 alarms. Fixed constants (not sigma-derived) keep
#: every quantity an exact integer — a sqrt-based allowance would put
#: a float inside the recursion and make alarm counts partition-order
#: dependent.
CUSUM_SNAP = 1_000
CUSUM_K = 500
CUSUM_H = 3_000

_CUSUM_ORACLE = f"""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CAST(ROUND(value * {CUSUM_SNAP}) AS BIGINT) AS x
      FROM events
    ),
    agg AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
      FROM s GROUP BY user_id
    ),
    y AS (
      SELECT s.user_id, s.event_id, s.ts, a.n,
             CAST(a.n * s.x - a.sx - a.n * {CUSUM_K} AS DECIMAL(38,0)) AS yu,
             CAST(a.sx - a.n * s.x - a.n * {CUSUM_K} AS DECIMAL(38,0)) AS yd
      FROM s JOIN agg a USING (user_id)
    ),
    r AS (
      SELECT user_id, event_id, ts, n,
             SUM(yu) OVER w AS ru, SUM(yd) OVER w AS rd
      FROM y
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    cu AS (
      SELECT user_id, event_id, n,
             ru - LEAST(CAST(0 AS DECIMAL(38,0)), MIN(ru) OVER w) AS su,
             rd - LEAST(CAST(0 AS DECIMAL(38,0)), MIN(rd) OVER w) AS sd
      FROM r
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(user_id AS VARCHAR) AS device_id,
           MAX(n) AS n,
           CAST(SUM(CASE WHEN su > n * {CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_up_alarms,
           CAST(SUM(CASE WHEN sd > n * {CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_down_alarms,
           MIN(CASE WHEN su > n * {CUSUM_H} THEN event_id END) AS first_up_id,
           MIN(CASE WHEN sd > n * {CUSUM_H} THEN event_id END) AS first_down_id,
           CAST(MAX(su) AS DOUBLE) / (MAX(n) * {CUSUM_SNAP}.0) AS max_drift_up,
           CAST(MAX(sd) AS DOUBLE) / (MAX(n) * {CUSUM_SNAP}.0) AS max_drift_down
    FROM cu
    GROUP BY user_id
    ORDER BY device_id
    """


@register(
    "q207_cusum_changepoint",
    _CUSUM_ORACLE,
    doc="Per-device CUSUM changepoint/drift detection with EXACT "
    "arithmetic: the one-sided CUSUM recursion "
    "S_i = max(0, S_{i-1} + (x_i - mean - k)) is a nonlinear fold — "
    "inexpressible as a plain window — but has the closed form "
    "S_i = R_i - min(0, min_{j<=i} R_j) over the plain cumulative sum "
    "R, so it compiles to TWO keyed window passes (cumsum + running "
    "min) on the (device, event-time) order: one hash shuffle on the "
    "device key, fully parallel across the fleet, no sequential scan. "
    "All quantities ride n-scaled 1e-3 fixed point (x*n - sx stays an "
    "integer — no mean division inside the recursion) as "
    "DECIMAL(38,0), so alarm counts and first-alarm ids are "
    "bit-deterministic under any partitioning; the mirrored downward "
    "side catches negative drift. The sigma-free allowance/threshold "
    "constants are what keep the fold exact — this is the "
    "drift-detection complement to q133's 3-sigma point-outlier gate "
    "(reference alarm semantics: device health triggers, "
    "simple_triggers.ex value thresholds generalized to sequential "
    "drift).",
)
def q207_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * CUSUM_SNAP).cast("long").alias("x"),
    )
    agg = s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    y = s.join(agg, "user_id").select(
        "user_id", "event_id", "ts", "n",
        (F.col("n") * F.col("x") - F.col("sx") - F.col("n") * CUSUM_K)
        .cast("decimal(38,0)").alias("yu"),
        (F.col("sx") - F.col("n") * F.col("x") - F.col("n") * CUSUM_K)
        .cast("decimal(38,0)").alias("yd"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = y.select(
        "user_id", "event_id", "ts", "n",
        F.sum("yu").over(w).alias("ru"),
        F.sum("yd").over(w).alias("rd"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    cu = r.select(
        "user_id", "event_id", "n",
        (F.col("ru") - F.least(zero, F.min("ru").over(w))).alias("su"),
        (F.col("rd") - F.least(zero, F.min("rd").over(w))).alias("sd"),
    )
    up = F.col("su") > F.col("n") * CUSUM_H
    dn = F.col("sd") > F.col("n") * CUSUM_H
    return (
        cu.groupBy("user_id")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.when(up, 1).otherwise(0)).cast("long").alias("n_up_alarms"),
            F.sum(F.when(dn, 1).otherwise(0)).cast("long").alias("n_down_alarms"),
            F.min(F.when(up, F.col("event_id"))).alias("first_up_id"),
            F.min(F.when(dn, F.col("event_id"))).alias("first_down_id"),
            (
                F.max("su").cast("double") / (F.max("n") * float(CUSUM_SNAP))
            ).alias("max_drift_up"),
            (
                F.max("sd").cast("double") / (F.max("n") * float(CUSUM_SNAP))
            ).alias("max_drift_down"),
        )
        .select(
            F.col("user_id").cast("string").alias("device_id"),
            "n", "n_up_alarms", "n_down_alarms", "first_up_id",
            "first_down_id", "max_drift_up", "max_drift_down",
        )
        .orderBy("device_id")
    )


# ---------------------------------------------------------------------------
# q208 — exact two-sample Kolmogorov-Smirnov drift per event type
# ---------------------------------------------------------------------------

#: KS compares each event type's value distribution between the first
#: and second half of its observed TIME RANGE (midpoint split — a pure
#: min/max aggregate, no rank pass to assign halves).
KS_SNAP = 1_000

_KS_ORACLE = f"""
    WITH b AS (
      SELECT event_type,
             CAST(ROUND(value * {KS_SNAP}) AS BIGINT) AS x,
             epoch_us(ts) AS tu
      FROM events
    ),
    rng AS (
      SELECT event_type,
             (MIN(tu) + MAX(tu)) // 2 AS mid
      FROM b GROUP BY event_type
    ),
    s AS (
      SELECT b.event_type, b.x,
             CASE WHEN b.tu <= r.mid THEN 1 ELSE 2 END AS h
      FROM b JOIN rng r USING (event_type)
    ),
    g AS (
      SELECT event_type, x,
             CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM s GROUP BY event_type, x
    ),
    t AS (
      SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2
      FROM g GROUP BY event_type
    ),
    c AS (
      SELECT event_type,
             SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
      FROM g
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT c.event_type, t.n1, t.n2,
           CAST(MAX(ABS(CAST(c.cum1 AS DECIMAL(38,0)) * t.n2
                        - CAST(c.cum2 AS DECIMAL(38,0)) * t.n1))
                AS DECIMAL(38,0)) AS ks_num,
           CAST(MAX(ABS(CAST(c.cum1 AS DECIMAL(38,0)) * t.n2
                        - CAST(c.cum2 AS DECIMAL(38,0)) * t.n1))
                AS DOUBLE) / (CAST(t.n1 AS DOUBLE) * t.n2) AS ks_d
    FROM c JOIN t USING (event_type)
    GROUP BY c.event_type, t.n1, t.n2
    ORDER BY event_type
    """


@register(
    "q208_ks_drift",
    _KS_ORACLE,
    doc="EXACT two-sample Kolmogorov-Smirnov drift statistic per event "
    "type, early-vs-late time-range halves: D = max_x |F1(x) - F2(x)| "
    "computed as the pure-integer max |cum1*n2 - cum2*n1| over "
    "distinct snapped values, so the supremum is bit-deterministic "
    "(the float-CDF form would make the argmax partition-order "
    "dependent near ties) — the distribution-shift gate behind "
    "retraining triggers, complementing q157's binned PSI with the "
    "bin-free sup-norm. Scale shape: the half assignment is a "
    "min/max-midpoint broadcast (NO rank pass), the value CDF rides "
    "the two-phase global order (with_global_order cumsums over "
    "(type, x)) with per-type start offsets from a bounded broadcast "
    "theta-join — no single-partition window, no per-type fat "
    "partition; products ride DECIMAL(38,0) so n1*cum terms cannot "
    "overflow at fleet scale.",
)
def q208_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ranks import with_global_order

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.round(F.col("value") * KS_SNAP).cast("long").alias("x"),
        ts_micros("ts").alias("tu"),
    )
    # integer floor division on BOTH engines (CAST(x/2 AS BIGINT)
    # would round in DuckDB but truncate in Spark)
    rng = b.groupBy("event_type").agg(
        F.expr("(min(tu) + max(tu)) div 2").alias("mid")
    )
    s = b.join(F.broadcast(rng), "event_type").select(
        "event_type", "x",
        F.when(F.col("tu") <= F.col("mid"), 1).otherwise(2).alias("h"),
    )
    g = s.groupBy("event_type", "x").agg(
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("h") == 2, 1).otherwise(0)).cast("long").alias("c2"),
    )
    t = g.groupBy("event_type").agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    # global running counts over (type, x) — two-phase, never a fat
    # per-type window partition
    ordered = with_global_order(
        g,
        ["event_type", "x"],
        cumsums=[("c1", "gcum1", "inclusive"), ("c2", "gcum2", "inclusive")],
        boundary_key=(sf_dir, "q208_ks"),
    )
    # per-type exclusive start offsets: bounded theta-join over the
    # per-type totals (a handful of rows), broadcast both ways
    lo = t.select(
        F.col("event_type").alias("lo_t"),
        F.col("n1").alias("lo1"), F.col("n2").alias("lo2"),
    )
    offs = (
        t.crossJoin(F.broadcast(lo))
        .filter(F.col("lo_t") < F.col("event_type"))
        .groupBy("event_type")
        .agg(F.sum("lo1").alias("off1"), F.sum("lo2").alias("off2"))
    )
    withoff = (
        ordered.join(F.broadcast(t), "event_type")
        .join(F.broadcast(offs), "event_type", "left")
        .select(
            "event_type", "n1", "n2",
            (F.col("gcum1") - F.coalesce(F.col("off1"), F.lit(0)))
            .cast("decimal(38,0)").alias("cum1"),
            (F.col("gcum2") - F.coalesce(F.col("off2"), F.lit(0)))
            .cast("decimal(38,0)").alias("cum2"),
        )
    )
    num = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    return (
        withoff.groupBy("event_type", "n1", "n2")
        .agg(F.max(num).cast("decimal(38,0)").alias("ks_num"))
        .select(
            "event_type", "n1", "n2", "ks_num",
            (
                F.col("ks_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2"))
            ).alias("ks_d"),
        )
        .orderBy("event_type")
    )
