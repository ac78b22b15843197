"""Additional window/state/struct coverage queries: sliding windows
(W3), per-field last-non-null state (W1 per-field form), nested
struct projection (F9/F15), coordinate validity (F3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggregations import fixed_point
from ..operators.filters import coordinate_valid
from ..sources import load_table
from ..streaming.upsert import keyed_upsert_batch
from . import register


@register(
    "sliding_window_counts",
    oracle="""
    WITH starts AS (
      SELECT unnest(generate_series(TIMESTAMP '2023-12-31 12:00:00',
                                    TIMESTAMP '2024-01-31 00:00:00',
                                    INTERVAL 12 HOUR)) AS win_start
    )
    SELECT s.win_start, COUNT(*) AS n
    FROM starts s JOIN events e
      ON e.ts >= s.win_start AND e.ts < s.win_start + INTERVAL 24 HOUR
    GROUP BY s.win_start
    """,
    doc="W3 sliding window (24h window, 12h slide): each event lands in 2 windows — the rate-limit window generalized (ref ais-proxy/server.js:193-208).",
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "24 hours", "12 hours").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )


@register(
    "rolling_1h_user_value",
    oracle="""
    SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ep,
           CAST(SUM(CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE)/1000000 AS rolling_value_1h
    FROM events
    """,
    doc="W3 range-frame window: per-user rolling 1-hour value sum over event "
    "time (RANGE BETWEEN INTERVAL PRECEDING), the per-entity rate/volume "
    "tracker shape - unlike the bucketed sliding window, every row gets its "
    "own trailing frame. Fixed-point sum, so the frame accumulation is "
    "order-independent and hash-matches the oracle exactly.",
)
def rolling_1h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.datetimes import epoch_micros

    ev = load_table(spark, sf_dir, "events")
    ev = ev.select("user_id", epoch_micros(ev, "ts").alias("ep"), "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    rolling = (F.sum(fixed_point(F.col("value"))).over(w).cast("double") / F.lit(1e6)).alias("rolling_value_1h")
    return ev.select("user_id", "ep", rolling)


@register(
    "last_nonnull_state_events",
    oracle="""
    WITH sparse AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('view','click') THEN NULL ELSE value END AS sparse_value,
             CASE WHEN event_type = 'error' THEN event_type ELSE NULL END AS last_error
      FROM events
    )
    SELECT DISTINCT user_id,
           last_value(sparse_value IGNORE NULLS) OVER w AS sparse_value,
           last_value(last_error IGNORE NULLS) OVER w AS last_error,
           max(ts) OVER w AS ts
    FROM sparse
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="W1 per-field form: vessel-cache semantics — latest NON-NULL value per field per key (ref ais-proxy/server.js:390-592).",
)
def last_nonnull_state_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sparse = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type").isin("view", "click"), F.lit(None)).otherwise(F.col("value")).alias("sparse_value"),
        F.when(F.col("event_type") == "error", F.col("event_type")).alias("last_error"),
    )
    return keyed_upsert_batch(sparse, "user_id", "ts", ["sparse_value", "last_error"], tiebreak="event_id")


@register(
    "nested_struct_features",
    oracle="""
    WITH feats AS (
      SELECT c_custkey AS id,
             struct_pack(type := CASE WHEN c_custkey % 5 = 0 THEN 'LineString' ELSE 'Point' END,
                         lon := CAST((c_custkey % 60) - 30 + 0.5 AS DOUBLE),
                         lat := CAST((c_custkey % 40) - 20 + 0.5 AS DOUBLE)) AS geometry,
             c_mktsegment AS segment
      FROM customer
    )
    SELECT id, geometry.type AS gtype, geometry.lon AS lon, geometry.lat AS lat, segment
    FROM feats WHERE geometry.type = 'Point'
    """,
    doc="F9 geometry-type filter + F15 nested struct build/project (ref index.py:363-372; power-outages GeoJSON assembly).",
)
def nested_struct_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    feats = cust.select(
        F.col("c_custkey").alias("id"),
        F.struct(
            F.when(F.col("c_custkey") % 5 == 0, F.lit("LineString")).otherwise(F.lit("Point")).alias("type"),
            ((F.col("c_custkey") % 60) - 30 + 0.5).alias("lon"),
            ((F.col("c_custkey") % 40) - 20 + 0.5).alias("lat"),
        ).alias("geometry"),
        F.col("c_mktsegment").alias("segment"),
    )
    return feats.where(F.col("geometry.type") == "Point").select(
        "id",
        F.col("geometry.type").alias("gtype"),
        F.col("geometry.lon").alias("lon"),
        F.col("geometry.lat").alias("lat"),
        "segment",
    )


@register(
    "coordinate_validity",
    oracle="""
    WITH pts AS (
      SELECT s_suppkey, CAST((s_suppkey * 37 % 220) - 110 + 0.5 AS DOUBLE) AS lat,
             CAST((s_suppkey * 53 % 400) - 200 + 0.5 AS DOUBLE) AS lon
      FROM supplier
    )
    SELECT s_suppkey, lat, lon FROM pts
    WHERE lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180
    """,
    doc="F3 coordinate-range validity filter (ref ais-proxy/server.js:383-388).",
)
def coordinate_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    pts = sup.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 37 % 220) - 110 + 0.5).alias("lat"),
        ((F.col("s_suppkey") * 53 % 400) - 200 + 0.5).alias("lon"),
    )
    return pts.where(coordinate_valid("lat", "lon")).select("s_suppkey", "lat", "lon")


@register(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 1 HOUR OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      -- the running SUM must use the SAME (ts, event_id) order as the
      -- lag() that produced the flags: on tied timestamps a ts-only
      -- order could place a flag-0 row before its flag-1 twin and
      -- split one session into two
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    -- Spark session_window: end = last event + gap; a gap of EXACTLY
    -- the timeout starts a new session (windows are half-open)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 1 HOUR AS session_end, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
    doc="Session windows (1h gap): Spark session_window vs the classic gaps-and-islands SQL — capability parity beyond the reference (SURVEY §2.10 note).",
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "1 hour").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "rate_limit_violations",
    oracle="""
    WITH win AS (
      SELECT user_id, date_trunc('hour', ts) AS win_start, COUNT(*) AS n
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    )
    SELECT user_id, win_start, n FROM win WHERE n >= 3
    """,
    doc="W3 rate-limit as analytic (ref ais-proxy/server.js:193-208): per-key window counts over a threshold.",
)
def rate_limit_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("win_start"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
    )


@register(
    "template_render",
    oracle="""
    SELECT c_custkey,
           concat(upper(c_name), ' [', c_mktsegment, '] bal=',
                  printf('%.2f', c_acctbal)) AS label
    FROM customer
    """,
    doc="§2.8 template rendering: '{{name|upper}} [{{segment}}] bal={{bal|fixed:2}}' compiled to ONE concat Column (ref display-proxy/index.html:1043-1111).",
)
def template_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.templates import compile_template

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_name").alias("name"), F.col("c_mktsegment").alias("segment"), F.col("c_acctbal").alias("bal")
    )
    label = compile_template("{{name|upper}} [{{segment}}] bal={{bal|fixed:2}}")
    return cust.select("c_custkey", label.alias("label"))


@register(
    "resample_ffill_hourly_user_value",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS h, ts, event_id, value
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
    ), latest AS (
      SELECT user_id, h, value FROM (
        SELECT user_id, h, value,
               row_number() OVER (PARTITION BY user_id, h
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM e) WHERE rn = 1
    ), span AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM e GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(range(h0, h1 + 1)) AS hour_idx FROM span
    )
    SELECT g.user_id, g.hour_idx,
           last_value(l.value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour_idx
             ROWS UNBOUNDED PRECEDING) AS value_ffill,
           (l.h IS NOT NULL) AS is_observed
    FROM grid g LEFT JOIN latest l
      ON g.user_id = l.user_id AND g.hour_idx = l.h
    """,
    doc="Time-series resample + forward-fill — the feature-pipeline "
    "regularization op: per user, a dense HOURLY grid spanning their first to "
    "last event, carrying the latest observed value forward through silent "
    "hours (is_observed marks real samples). Hours are integer epoch-hour "
    "indices (epoch_us DIV 3600e6 — exact integer arithmetic, NTZ-safe via "
    "epoch_micros on the Spark side, no timezone anywhere). Within an hour the "
    "LATEST event wins with the full (ts, event_id) tiebreak; the first grid "
    "row of every user is an observed hour by construction, so value_ffill is "
    "never NULL; the value itself is a parquet double passed through untouched "
    "(identical bits both engines). Scale shape: the per-(user, hour) dedup "
    "window is hour-bounded; grid generation is a Generate inside the span "
    "row's task (no exchange); the forward-fill window partitions by user and "
    "its row count is bounded by CALENDAR TIME (span-hours), not event count — "
    "a billion-event user still windows over <= hours-of-history rows. The "
    "output is grid-sized: emit to partitioned storage downstream, never "
    "collect.",
)
def resample_ffill_hourly_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.datetimes import epoch_micros

    ev = load_table(spark, sf_dir, "events")
    # true integer DIV on the microsecond epoch (NOT a double divide —
    # exactness is float-free by construction; epochs here are
    # positive, so truncating DIV and floor agree, same as DuckDB's //)
    e = (
        ev.where(
            F.col("ts").isNotNull() & F.col("value").isNotNull() & F.col("user_id").isNotNull()
        )
        .select("user_id", epoch_micros(ev, "ts").alias("__ep"), "ts", "event_id", "value")
        .selectExpr("user_id", "__ep DIV 3600000000 AS h", "ts", "event_id", "value")
    )
    w_hour = Window.partitionBy("user_id", "h").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        e.withColumn("rn", F.row_number().over(w_hour))
        .where("rn = 1")
        .select("user_id", "h", "value")
    )
    span = e.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("hour_idx")
    )
    # grid and latest share lineage (both derive from e): alias both
    # sides so column references resolve unambiguously
    g, l = grid.alias("__g"), latest.alias("__l")
    joined = g.join(
        l,
        (F.col("__g.user_id") == F.col("__l.user_id"))
        & (F.col("__g.hour_idx") == F.col("__l.h")),
        "left",
    ).select(
        F.col("__g.user_id").alias("user_id"),
        F.col("__g.hour_idx").alias("hour_idx"),
        F.col("__l.value").alias("value"),
        F.col("__l.h").alias("obs_h"),
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hour_idx",
        F.last("value", ignorenulls=True).over(w_fill).alias("value_ffill"),
        F.col("obs_h").isNotNull().alias("is_observed"),
    )
