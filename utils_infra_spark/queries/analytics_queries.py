"""Advanced analytics queries: temporal joins (as-of, range), OLAP
grouping (rollup/cube), exact percentiles, set operations, and the
remaining TPC-H-shaped plans (Q13/Q14/Q18/Q22 shapes).

These extend the reference's query surface with the operations a
warehouse user reaches for next — every one oracle-backed so the
driver hash-checks values, and every plan a shape that survives a
100 TB input (notes per query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.datetimes import epoch_micros
from ..operators.aggregations import davg, dsum, fixed_point
from ..operators.temporal import asof_backward_join, range_join_binned, scalar_subquery
from ..sources import load_table
from . import register


@register(
    "asof_click_purchase",
    oracle="""
    SELECT l.event_id, l.user_id, l.ts,
           r.event_id AS matched_event_id, r.ts AS matched_ts, r.value AS matched_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    doc="As-of join: each click joined to the user's most recent purchase at-or-before it. "
    "Union+window form — one shuffle on the key, linear in |L|+|R| (no inequality-join blow-up).",
)
def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    return asof_backward_join(
        clicks, purchases, "user_id", "ts", "ts", ["event_id", "ts", "value"], tiebreak="event_id"
    )


@register(
    "events_in_user_window",
    oracle="""
    WITH w AS (
      SELECT user_id AS owner, min(ts) AS t0, min(ts) + INTERVAL 12 HOUR AS t1
      FROM events GROUP BY user_id
    )
    SELECT w.owner, COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR((e.value)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS total_value
    FROM w JOIN events e ON e.ts >= w.t0 AND e.ts < w.t1
    GROUP BY w.owner
    """,
    doc="Range join: count all-user events inside each user's first-12h window. Binned equi-join "
    "(1h bins on epoch-micros) instead of the BroadcastNestedLoop all-pairs Spark would pick for "
    "a raw inequality join; blow-up bounded at 13 bin copies of the narrow interval side.",
)
def events_in_user_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hours12 = 12 * 3600 * 1_000_000
    ts_us = epoch_micros(ev, "ts")
    ivals = ev.groupBy(F.col("user_id").alias("owner")).agg(F.min(ts_us).alias("t0"))
    ivals = ivals.withColumn("t1", F.col("t0") + F.lit(hours12))
    points = ev.select(ts_us.alias("pt"), "event_id", "value")
    joined = range_join_binned(points, ivals, "pt", "t0", "t1", bin_width=3600 * 1_000_000)
    return joined.groupBy("owner").agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))


@register(
    "percentile_quantities",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
           ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90,
           ROUND(quantile_cont(l_quantity, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per group (Spark `percentile` == DuckDB `quantile_cont`, "
    "both type-7). Exact percentile shuffles per-group value multisets; at 100 TB swap in "
    "approx_percentile (t-digest, mergeable partial aggs) — same API shape, bounded memory.",
)
def percentile_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile("l_quantity", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("ps"))
        .select(
            "l_returnflag",
            F.round(F.element_at("ps", 1), 6).alias("p50"),
            F.round(F.element_at("ps", 2), 6).alias("p90"),
            F.round(F.element_at("ps", 3), 6).alias("p99"),
        )
    )


@register(
    "rollup_segment_priority",
    oracle="""
    SELECT c_mktsegment, o_orderpriority,
           CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR((o_totalprice)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
    """,
    doc="OLAP ROLLUP: (segment, priority) -> segment subtotals -> grand total in one pass. "
    "Spark expands grouping sets map-side; the shuffle still carries partial aggregates only.",
)
def rollup_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        joined.rollup("c_mktsegment", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
        .select("c_mktsegment", "o_orderpriority", "gid", "n_orders", "revenue")
    )


@register(
    "cube_event_type_hour",
    oracle="""
    SELECT event_type, hr,
           CAST(GROUPING(event_type) * 2 + GROUPING(hr) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS total_value
    FROM (SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr, value FROM events)
    GROUP BY CUBE (event_type, hr)
    """,
    doc="OLAP CUBE over (event_type, hour-of-day): all four grouping sets in one shuffle.",
)
def cube_event_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("bigint").alias("hr"), "value"
    )
    return (
        ev.cube("event_type", "hr")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dsum("value", "total_value"),
        )
        .select("event_type", "hr", "gid", "n", "total_value")
    )


@register(
    "grouping_sets_segment_priority",
    oracle="""
    SELECT c_mktsegment, o_orderpriority,
           CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR((o_totalprice)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
    """,
    doc="OLAP GROUPING SETS: per-segment and per-priority subtotals + grand total "
    "in ONE aggregation pass (the shape ROLLUP/CUBE cannot express: no cross "
    "cells). Spark expands the sets map-side like rollup/cube - one shuffle.",
)
def grouping_sets_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        joined.groupingSets(
            [["c_mktsegment"], ["o_orderpriority"], []], "c_mktsegment", "o_orderpriority"
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
        .select("c_mktsegment", "o_orderpriority", "gid", "n_orders", "revenue")
    )


@register(
    "urgent_fulfilled_setops",
    oracle="""
    WITH urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
         fulfilled AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM urgent INTERSECT SELECT * FROM fulfilled)
    UNION ALL
    SELECT o_custkey, 'urgent_only' AS tag FROM (SELECT * FROM urgent EXCEPT SELECT * FROM fulfilled)
    """,
    doc="O4-adjacent set ops: INTERSECT and EXCEPT over customer key sets, labeled and unioned. "
    "Both compile to hash aggregates + a single shuffle per branch on the key.",
)
def urgent_fulfilled_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    fulfilled = orders.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    both = urgent.intersect(fulfilled).select("o_custkey", F.lit("both").alias("tag"))
    only = urgent.subtract(fulfilled).select("o_custkey", F.lit("urgent_only").alias("tag"))
    return both.unionByName(only)


@register(
    "order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: orders-per-customer distribution via left join with a join-side "
    "predicate, then a second count-of-counts aggregation.",
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "promo_revenue_ratio",
    oracle="""
    SELECT ROUND(
      100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(FLOOR((l_extendedprice * (1 - l_discount))*1000000 + 0.5) AS BIGINT)
                 ELSE 0 END) AS DOUBLE)/1000000)
            / (CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount))*1000000 + 0.5) AS BIGINT)
                 ) AS DOUBLE)/1000000), 6) AS promo_ratio
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
    doc="TPC-H Q14 shape: conditional revenue ratio over a shipdate slice; part dim broadcasts, "
    "the date predicate pushes into the lineitem scan.",
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("p_type"), rev.alias("rev"))
    )
    agg = joined.agg(
        dsum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(F.lit(0.0)), "promo"),
        dsum("rev", "total"),
    )
    return agg.select(F.round(100.0 * F.col("promo") / F.col("total"), 6).alias("promo_ratio"))


@register(
    "large_orders",
    oracle="""
    SELECT c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice, t.sum_qty
    FROM (
      SELECT l_orderkey, CAST(SUM(CAST(FLOOR((l_quantity)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 280
    ) t
    JOIN orders o ON t.l_orderkey = o.o_orderkey
    JOIN customer ON o.o_custkey = c_custkey
    """,
    doc="TPC-H Q18 shape: group-HAVING on the fact table, then joins back to orders + customer. "
    "The HAVING prunes before either join, so the join inputs are tiny at any scale.",
)
def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty"), F.sum("l_quantity").alias("__raw"))
        .where(F.col("__raw") > 280)
        .drop("__raw")
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


@register(
    "high_balance_inactive",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(FLOOR((c_acctbal)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000
             / COUNT(*) AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(FLOOR((c_acctbal)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
    doc="TPC-H Q22 shape: scalar-subquery threshold (broadcast 1-row agg) + anti join on urgent "
    "orders + grouped totals.",
)
def high_balance_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pos = cust.where(F.col("c_acctbal") > 0)
    avg_bal = scalar_subquery(
        pos, (dsum("c_acctbal", "s").cast("double") / F.count(F.lit(1))).alias("a")
    )
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal", "totacctbal"))
    )


@register(
    "distinct_users_by_type",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Exact grouped COUNT(DISTINCT): Spark expands to a two-phase aggregate "
    "(partial distinct on (group, user) then merge), so the shuffle carries the "
    "deduped pairs — the exact-counting complement to approx_distinct_users (HLL).",
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")
    )


@register(
    "event_value_pivot",
    oracle="""
    SELECT user_id % 10 AS bucket,
      CAST(SUM(CASE WHEN event_type='click'    THEN CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT) END) AS DOUBLE)/1000000 AS click,
      CAST(SUM(CASE WHEN event_type='error'    THEN CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT) END) AS DOUBLE)/1000000 AS error,
      CAST(SUM(CASE WHEN event_type='purchase' THEN CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT) END) AS DOUBLE)/1000000 AS purchase,
      CAST(SUM(CASE WHEN event_type='signup'   THEN CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT) END) AS DOUBLE)/1000000 AS signup,
      CAST(SUM(CASE WHEN event_type='view'     THEN CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT) END) AS DOUBLE)/1000000 AS view
    FROM events GROUP BY user_id % 10
    """,
    doc="Pivot (wide aggregation): value sums per event_type column by user bucket. The pivot "
    "value list is EXPLICIT — omitting it makes Spark run a collect-distinct pre-pass over the "
    "full input before planning, a hidden extra job at 100 TB.",
)
def event_value_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("bucket", F.col("user_id") % 10)
        .groupBy("bucket")
        .pivot("event_type", types)
        .agg(dsum("value", "v"))
    )


@register(
    "event_interarrival",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    )
    SELECT user_id, COUNT(gap) AS n_gaps, MAX(gap) AS max_gap_us,
           CAST((2*SUM(gap) + COUNT(gap)) // (2*COUNT(gap)) AS DOUBLE) / 1000000.0 AS avg_gap_s
    FROM g WHERE gap IS NOT NULL GROUP BY user_id
    """,
    doc="Sequence analytics: per-user inter-arrival gaps via lag() over an event-time window "
    "(gaps computed in exact integer microseconds, so the aggregate is order-independent), "
    "then grouped stats. The mean stays in INTEGER space to the last step — half-up round of "
    "mean microseconds as (2*sum+n)//(2n), then one shared float division — because "
    "round(double, 6) is the one place engines legitimately disagree (Spark rounds the "
    "decimal repr via BigDecimal HALF_UP, DuckDB multiplies and std::round's the double; "
    "first divergence observed at sf0.1, user 1124). One shuffle on the key shared by "
    "window and groupBy.",
)
def event_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ts_us = epoch_micros(ev, "ts")
    gaps = ev.select("user_id", (ts_us - F.lag(ts_us).over(w)).alias("gap")).where(
        F.col("gap").isNotNull()
    )
    return gaps.groupBy("user_id").agg(
        F.count("gap").alias("n_gaps"),
        F.max("gap").alias("max_gap_us"),
        # integer half-up mean, one shared float division (see oracle doc)
        F.expr("CAST((2*SUM(gap) + COUNT(gap)) DIV (2*COUNT(gap)) AS DOUBLE) / 1000000.0").alias(
            "avg_gap_s"
        ),
    )


@register(
    "corr_price_quantity",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    )
    SELECT l_returnflag, n,
           ROUND((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS corr_qty_price,
           ROUND(sqrt((n*syy - sy*sy) / (n*(n-1.0))) / 100.0, 6) AS stddev_price
    FROM (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x::HUGEINT * y) AS DOUBLE) AS sxy,
             CAST(SUM(x::HUGEINT * x) AS DOUBLE) AS sxx,
             CAST(SUM(y::HUGEINT * y) AS DOUBLE) AS syy
      FROM q GROUP BY l_returnflag
    )
    """,
    doc="Second-moment statistics (Pearson corr + sample stddev) from fixed-point co-moment "
    "sums: every accumulator is an exact integer (DECIMAL(38,0) ≡ DuckDB HUGEINT), so the "
    "result is bit-identical under ANY partitioning — unlike the builtin one-pass corr()/stddev "
    "whose float co-moments drift with merge order. Same single-shuffle cost as a plain groupBy.",
)
def corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = fixed_point(F.col("l_quantity"), 0)
    y = fixed_point(F.col("l_extendedprice"), 2)
    q = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    s = q.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    corr = (s["n"] * s["sxy"] - s["sx"] * s["sy"]) / F.sqrt(
        (s["n"] * s["sxx"] - s["sx"] * s["sx"]) * (s["n"] * s["syy"] - s["sy"] * s["sy"])
    )
    stddev = F.sqrt((s["n"] * s["syy"] - s["sy"] * s["sy"]) / (s["n"] * (s["n"] - 1.0))) / 100.0
    return s.select(
        "l_returnflag",
        "n",
        F.round(corr, 6).alias("corr_qty_price"),
        F.round(stddev, 6).alias("stddev_price"),
    )


@register(
    "bitmap_distinct_rollup",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT (user_id, CAST(date_trunc('day', ts) AS TIMESTAMP))) AS user_days
    FROM events GROUP BY event_type
    """,
    doc="Exact distinct via MERGEABLE bitmap sketches (Spark 3.5 bitmap_construct_agg/"
    "bitmap_or_agg/bitmap_count): per-(type, day, bucket) bitmaps of user ids are built "
    "map-side, then OR-merged across days and counted — the warehouse pattern where "
    "daily partials are precomputed ONCE and any date-range distinct is a cheap bitmap "
    "merge, unlike COUNT(DISTINCT) which re-shuffles raw ids for every question. The "
    "oracle checks the bitmap path equals plain COUNT(DISTINCT) exactly (no HLL error).",
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.date_trunc("day", "ts").alias("day")
    )
    # stage 1 (the precomputable daily partial): bitmap of user ids per
    # (type, day, 32k-id bucket); shuffle carries packed bitmaps
    daily = ev.groupBy(
        "event_type", "day", F.bitmap_bucket_number("user_id").alias("bkt")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    # stage 2 (any-range rollup): OR-merge bitmaps across days per
    # bucket, count bits, sum buckets; user_days sums daily bit counts
    merged = daily.groupBy("event_type", "bkt").agg(
        F.bitmap_count(F.bitmap_or_agg("bm")).alias("distinct_in_bucket"),
        F.sum(F.bitmap_count("bm")).alias("user_days_in_bucket"),
    )
    return merged.groupBy("event_type").agg(
        F.sum("distinct_in_bucket").alias("n_users"),
        F.sum("user_days_in_bucket").alias("user_days"),
    )


@register(
    "small_quantity_part_revenue",
    oracle="""
    WITH thr AS (
      SELECT l_partkey,
             0.5 * ROUND(CAST(SUM(CAST(FLOOR((l_quantity)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000
                         / COUNT(l_quantity), 6) AS lim
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#4'
      GROUP BY l_partkey
    )
    SELECT ROUND(CAST(SUM(CAST(FLOOR((l_extendedprice)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000
                 / 7.0, 6) AS avg_yearly
    FROM lineitem JOIN thr ON lineitem.l_partkey = thr.l_partkey
    WHERE l_quantity < lim
    """,
    doc="Q17 shape (correlated scalar subquery decorrelated): revenue of below-half-average-quantity "
    "lineitems for one brand. Plan: brand filter broadcasts a small partkey set into the scan, the "
    "per-part threshold aggregates ONLY those parts (map-side combine), and the threshold joins back "
    "on partkey — the 100 TB lineitem is read once and never shuffled unfiltered. Thresholds use the "
    "order-independent fixed-point average so the boundary predicate agrees bit-for-bit with the oracle.",
)
def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = part.where(F.col("p_brand") == "Brand#4").select("p_partkey")
    branded = li.join(F.broadcast(brand_parts), li["l_partkey"] == brand_parts["p_partkey"]).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thr = branded.groupBy("l_partkey").agg((F.lit(0.5) * davg("l_quantity", "a")).alias("lim"))
    return (
        branded.join(thr, "l_partkey")
        .where(F.col("l_quantity") < F.col("lim"))
        .agg(dsum("l_extendedprice", "s"))
        .select(F.round(F.col("s") / 7.0, 6).alias("avg_yearly"))
    )


@register(
    "top_supplier_by_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount))*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    doc="Q15 shape (view + scalar-subquery max): quarter revenue per supplier, keep the max. The "
    "1-row max broadcasts back over the aggregate (no second shuffle); fixed-point totals make the "
    "equality-with-max exact — double sums would make 'equals max' partitioning-dependent.",
)
def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"))
    )
    mx = scalar_subquery(rev, F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), rev["l_suppkey"] == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "sole_late_supplier_orders",
    oracle="""
    WITH po AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS n_late,
             MIN(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS late_supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM po JOIN supplier ON late_supp = s_suppkey
    WHERE n_supp >= 2 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="Q21 shape (EXISTS + NOT-EXISTS decorrelated to one grouped pass): suppliers solely "
    "responsible for a late multi-supplier order. The two correlated existence tests collapse into "
    "per-order distinct counts — ONE shuffle on orderkey instead of two self-joins of the 100 TB "
    "fact; the blamed supplier falls out of the same aggregate (min over the 1-element late set).",
)
def sole_late_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    joined = li.join(
        orders.where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == F.col("o_orderkey"),
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
        F.min(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
    )
    return (
        per_order.where((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "running_customer_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(FLOOR((o_totalprice)*1000000 + 0.5) AS BIGINT))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/1000000
             AS running_total
    FROM orders
    """,
    doc="Running cumulative revenue per customer (window sum, explicit ROWS frame, orderkey "
    "tiebreak for a total order). Fixed-point accumulation makes every prefix sum exact — a "
    "double running sum would drift differently per engine. One shuffle on custkey; frames "
    "evaluate inside the sorted partition.",
)
def running_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = F.floor(F.col("o_totalprice") * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(q).over(w).cast("double") / F.lit(1000000.0)).alias("running_total"),
    )


@register(
    "event_value_histogram",
    oracle="""
    SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
           CAST(FLOOR(value / 25.0) AS BIGINT) * 25.0 AS bin_lo,
           COUNT(*) AS n,
           ROUND(MIN(value), 6) AS lo,
           ROUND(MAX(value), 6) AS hi
    FROM events
    GROUP BY FLOOR(value / 25.0)
    ORDER BY bin
    """,
    doc="Fixed-width value histogram: bin id from floor arithmetic (identical double semantics "
    "in both engines — no width_bucket dialect dependence). Map-side combine ships (bin, "
    "partial count/min/max) — a 100 TB histogram shuffles a few dozen rows per task.",
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = F.floor(F.col("value") / 25.0).cast("bigint")
    return (
        ev.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
        .select("bin", (F.col("bin") * 25.0).alias("bin_lo"), "n", "lo", "hi")
        .orderBy("bin")
    )


@register(
    "quality_decile_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
    ),
    scored AS (
      SELECT doc_id,
             ROUND(CASE WHEN len(t) BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
             + least(ROUND(CAST(len(list_filter(t, x -> lower(x) IN ('the','a','of','to','is'))) AS DOUBLE) / len(t), 6) * 4, 1.0) * 0.3
             + CASE WHEN ROUND(CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t), 6) BETWEEN 2.5 AND 12.0 THEN 0.3 ELSE 0.0 END, 6)
             AS quality
      FROM toks WHERE len(t) > 0
    ),
    ranked AS (
      SELECT doc_id, quality, ntile(10) OVER (ORDER BY quality, doc_id) AS decile
      FROM scored
    )
    SELECT decile, COUNT(*) AS n, ROUND(MIN(quality), 6) AS q_min, ROUND(MAX(quality), 6) AS q_max
    FROM ranked GROUP BY decile ORDER BY decile
    """,
    doc="Quality-decile curriculum binning: ntile(10) over a TOTAL order (score, doc_id) — both "
    "engines define ntile identically given a total order; a score-only ordering would make bucket "
    "boundaries nondeterministic. The rank comes from global_rank (value-binned local windows, no "
    "single-task sort) and a broadcast count; SQL NTILE follows exactly from rank and n: with "
    "q = n DIV 10 and r = n MOD 10, the first r*(q+1) ranks fill buckets of q+1, the rest buckets of q.",
)
def quality_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank
    from ..pipeline import text as T

    docs = load_table(spark, sf_dir, "documents")
    stopwords = ["the", "a", "of", "to", "is"]
    scored = docs.select(
        "doc_id", F.round(T.quality_score("text", stopwords), 6).alias("quality")
    ).where(F.size(F.split(F.trim("text"), "[ \\t\\n\\x0B\\f\\r]+")) > 0)
    total = scored.agg(F.count(F.lit(1)).alias("n")).selectExpr("n DIV 10 AS q", "n % 10 AS r")
    ranked = global_rank(scored, ["quality", "doc_id"], rank_col="rn").crossJoin(F.broadcast(total))
    decile = F.expr(
        "CASE WHEN rn <= r * (q + 1) THEN (rn - 1) DIV (q + 1) + 1 "
        "ELSE r + (rn - 1 - r * (q + 1)) DIV q + 1 END"
    )
    return (
        ranked.withColumn("decile", decile.cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("quality"), 6).alias("q_min"),
            F.round(F.max("quality"), 6).alias("q_max"),
        )
        .orderBy("decile")
    )

@register(
    "purchase_funnel",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type='view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type='click' AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 12 HOUR GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type='purchase' AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 12 HOUR GROUP BY e.user_id)
    SELECT 'view' AS stage, COUNT(*) AS users FROM v
    UNION ALL SELECT 'view>click', COUNT(*) FROM c
    UNION ALL SELECT 'view>click>purchase', COUNT(*) FROM p
    """,
    doc="Ordered conversion funnel: first view -> first click within 12h -> "
    "first purchase within 12h of that click, counted per completed stage. "
    "Each stage is a keyed aggregate joined to the previous stage's firsts - "
    "per-stage shuffles carry (user, ts) only, and the event scan prunes to "
    "one event_type per stage (pushed filter), so the funnel runs as three "
    "lean passes rather than one sessionization of everything.",
)
def purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy("user_id").agg(F.expr(f"MIN(ts) AS {out}"))

    v = first_ts(ev.where("event_type = 'view'"), "t1")
    c = first_ts(
        ev.where("event_type = 'click'").join(v, "user_id").where("ts > t1 AND ts <= t1 + INTERVAL 12 HOUR"),
        "t2",
    )
    p = first_ts(
        ev.where("event_type = 'purchase'").join(c, "user_id").where("ts > t2 AND ts <= t2 + INTERVAL 12 HOUR"),
        "t3",
    )
    return (
        v.agg(F.expr("'view' AS stage"), F.expr("COUNT(1) AS users"))
        .unionByName(c.agg(F.expr("'view>click' AS stage"), F.expr("COUNT(1) AS users")))
        .unionByName(p.agg(F.expr("'view>click>purchase' AS stage"), F.expr("COUNT(1) AS users")))
    )

@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type, next_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="Event-sequence bigram transitions: per-user LEAD over event time "
    "(event_id tiebreak for determinism), counted globally - the Markov-"
    "transition shape for behavioral analytics. One shuffle on user_id for "
    "the window, map-side combine on the (from, to) count.",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.expr("COUNT(1) AS n"))
    )


@register(
    "weekly_retention",
    oracle="""
    WITH wk AS (SELECT user_id,
                       CAST(FLOOR(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS w
                FROM events),
    coh AS (SELECT user_id, MIN(w) AS cohort FROM wk GROUP BY user_id)
    SELECT c.cohort, CAST(w.w - c.cohort AS BIGINT) AS offset_w,
           COUNT(DISTINCT w.user_id) AS users
    FROM wk w JOIN coh c ON w.user_id = c.user_id
    GROUP BY c.cohort, offset_w
    """,
    doc="Cohort retention: users bucketed into their first active week "
    "(day-arithmetic weeks from a fixed epoch so both engines agree on "
    "boundaries), then distinct-active counts per (cohort, week offset). "
    "Two keyed aggregates + one join on user_id - the cohort table is tiny "
    "relative to activity and broadcasts at scale.",
)
def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = ev.selectExpr(
        "user_id",
        "CAST(FLOOR(datediff(CAST(ts AS DATE), DATE '2024-01-01') / 7) AS BIGINT) AS w",
    )
    coh = wk.groupBy("user_id").agg(F.expr("MIN(w) AS cohort"))
    return (
        wk.join(coh, "user_id")
        .selectExpr("user_id", "cohort", "CAST(w - cohort AS BIGINT) AS offset_w")
        .groupBy("cohort", "offset_w")
        .agg(F.expr("COUNT(DISTINCT user_id) AS users"))
    )



@register(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS em,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sess AS (
      SELECT user_id, ts, em,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, COUNT(*) AS n_events,
           (MAX(em) - MIN(em)) // 1000000 AS duration_s
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min inactivity closes a session): "
    "LAG flags session starts, a running SUM numbers them, then per-session "
    "stats. The batch analog of the streaming session window (T5) - the "
    "reference keeps per-key activity state with a staleness TTL "
    "(ais-proxy/server.js:193-208); this is the same boundary rule over "
    "history. One shuffle on user_id feeds BOTH window passes (same "
    "partitioning+ordering -> one sort), then one keyed aggregate on "
    "(user_id, session_id); event_id tiebreak makes boundaries "
    "deterministic under timestamp collisions.",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", "event_id", "ts", epoch_micros(ev, "ts").alias("em"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flag = F.when(prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")), 1).otherwise(0)
    sess = base.withColumn("new_sess", flag).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr("(MAX(em) - MIN(em)) DIV 1000000 AS duration_s"),
    )


@register(
    "scd2_user_state_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_state,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    versions AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      -- rn = 1 opens the first version even when its state is NULL
      -- (NULL IS DISTINCT FROM NULL is false — the lag test alone
      -- would drop a NULL-first-state key's opening version)
      WHERE rn = 1 OR prev_state IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM versions
    """,
    doc="SCD Type-2 dimension history from the event stream: per user, "
    "consecutive rows with the same state (event_type) collapse — only "
    "actual changes open a version — then each version carries "
    "[valid_from, valid_to) with is_current on the open one. Change "
    "detection is null-safe; ordering ties break on event_id. ONE shuffle "
    "on the key feeds both window passes (change-flag lag, interval lead) "
    "— the whole history builds in a single corpus pass, no self-joins.",
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import scd2_history

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    return scd2_history(ev, "user_id", "ts", ["event_type"], "event_id").select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


@register(
    "ivm_user_totals_events",
    oracle="""
    WITH signed AS (
      SELECT user_id,
             CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                   AND event_type = 'error' THEN -1 ELSE 1 END AS sign,
             CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT) AS micro
      FROM events
    ),
    merged AS (
      SELECT user_id, SUM(sign) AS n, SUM(sign * micro) AS total_micro
      FROM signed GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n,
           CAST(total_micro AS DOUBLE) / 1000000.0 AS total_value
    FROM merged WHERE n <> 0
    """,
    doc="Incremental aggregate maintenance (the Flink retract-stream "
    "model): per-user totals snapshotted before Jan 16 merge with a "
    "signed post-cutoff log ('error' rows retract, others insert) via "
    "retract_aggregate_merge — counts plus FIXED-POINT integer sums, so "
    "the merge is exact and order-free, and the result provably equals "
    "the full recompute the oracle performs. At 100 TB the daily update "
    "touches the log plus one narrow aggregate row per key — the base "
    "facts never rescan. Keys fully retracted to n=0 drop.",
)
def ivm_user_totals_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import retract_aggregate_merge

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    micro = "CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT)"
    base = (
        ev.where(F.col("ts") < cut)
        .selectExpr("user_id", f"{micro} AS micro")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("micro").alias("total_micro"))
    )
    log = ev.where(F.col("ts") >= cut).selectExpr(
        "user_id",
        "IF(event_type = 'error', -1, 1) AS sign",
        f"{micro} AS micro",
    )
    merged = retract_aggregate_merge(base, log, "user_id")
    return merged.selectExpr(
        "user_id",
        "CAST(n AS BIGINT) AS n",
        "CAST(total_micro AS DOUBLE) / 1000000.0 AS total_value",
    )


@register(
    "histogram_quantiles_lineitem",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS g,
             CAST(FLOOR((l_quantity) * 1000000 + 0.5) AS BIGINT) AS vm
      FROM lineitem WHERE l_quantity IS NOT NULL
    ),
    bins AS (
      SELECT g, (vm - (((vm % 1000000) + 1000000) % 1000000)) // 1000000 AS bin,
             COUNT(*) AS cnt
      FROM v GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, bin,
             SUM(cnt) OVER (PARTITION BY g ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY g) AS total
      FROM bins
    ),
    qs AS (SELECT CAST(unnest([500000, 900000, 990000]) AS BIGINT) AS q_ppm),
    hit AS (
      SELECT g, q_ppm, MIN(bin) AS bin
      FROM cum, qs WHERE cum * 1000000 >= total * q_ppm
      GROUP BY g, q_ppm
    )
    SELECT hit.g, hit.q_ppm, hit.bin,
           hit.bin * 1000000 AS lo_micro, (hit.bin + 1) * 1000000 AS hi_micro,
           CAST(cum.cum AS BIGINT) AS cum, CAST(cum.total AS BIGINT) AS total
    FROM hit JOIN cum ON hit.g = cum.g AND hit.bin = cum.bin
    """,
    doc="Deterministic MERGEABLE quantiles via fixed-width histograms "
    "(p50/p90/p99 of l_quantity per returnflag, bin width 1.0): bin "
    "counts are exact integer aggregates — order-free, partition-"
    "invariant, mergeable across shards/days — so unlike approx_percentile "
    "(GK merge is not partition-canonical) the result hash-checks across "
    "engines; unlike exact percentile it never buffers a group's values. "
    "ONE corpus aggregate onto a bounded bin domain with map-side combine; "
    "the cumulative window and per-q argmin run over the tiny bin table. "
    "The quantile is returned as its bracket [lo_micro, hi_micro) — error "
    "bounded by bin width, chosen by the caller, never by data order.",
)
def histogram_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.sketch import histogram_quantile_brackets

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"), "l_quantity"
    )
    return histogram_quantile_brackets(
        li, "l_quantity", bin_micro=1_000_000,
        qs_ppm=[500_000, 900_000, 990_000], group_by="g",
    )


@register(
    "pareto_frontier_parts",
    oracle="""
    WITH xagg AS (
      SELECT p_retailprice AS x, MAX(p_size) AS ymax FROM part GROUP BY p_retailprice
    ),
    xr AS (
      SELECT x, ymax,
             MAX(ymax) OVER (ORDER BY x ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      FROM xagg
    )
    SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
    FROM part p JOIN xr ON p.p_retailprice = xr.x
    WHERE p.p_size = xr.ymax AND (xr.prev IS NULL OR xr.prev < p.p_size)
    """,
    doc="2-D Pareto frontier (skyline): parts no other part beats on BOTH "
    "price (lower better) and size (higher better). The NOT-EXISTS "
    "formulation is an O(n^2) nested-loop join; this is one keyed "
    "aggregate (max size per distinct price, map-side combine) + a "
    "running max over the DISTINCT-price table (tiny) + one equi-join "
    "back — the only global ordering happens over distinct prices, never "
    "the corpus. Set semantics: all rows tied on a frontier point are "
    "kept, so the result is deterministic with no tiebreak column.",
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import pareto_frontier_2d

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )
    return pareto_frontier_2d(
        part, "p_retailprice", "p_size", minimize_x=True, maximize_y=True
    )


@register(
    "mad_outliers_events",
    oracle="""
    WITH v AS (
      SELECT event_id, event_type,
             CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT) AS vm
      FROM events
    ),
    med AS (
      SELECT event_type, CAST(2 * median(vm) AS BIGINT) AS m2
      FROM v GROUP BY event_type
    ),
    d AS (
      SELECT v.event_id, v.event_type, vm, ABS(2 * vm - m2) AS d2
      FROM v JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type, CAST(2 * median(d2) AS BIGINT) AS mad4
      FROM d GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           CAST(vm AS DOUBLE) / 1000000.0 AS value,
           CAST(d2 AS BIGINT) AS dev2_micro, CAST(mad4 AS BIGINT) AS mad4_micro
    FROM d JOIN mad USING (event_type)
    WHERE 2 * d2 > 3 * mad4
    """,
    doc="Robust outlier detection per event type: |value - median| > "
    "3 * MAD (median absolute deviation), the estimator that survives the "
    "outliers it hunts (z-scores don't — the outliers inflate the stddev "
    "that defines them; cf. zscore_by_segment). All comparisons in "
    "DOUBLED/QUADRUPLED integer micro space so even-count median "
    "interpolation (x.5) stays exact and the filter is engine-exact. "
    "Groups with MAD = 0 flag every non-median value (the standard MAD "
    "degeneracy — documented, not masked). Two keyed aggregates on the "
    "bounded event_type domain + broadcast joins back; at 100 TB swap the "
    "exact medians for histogram_quantile_brackets' p50 bin midpoint "
    "(exact median buffers each group's values on an executor).",
)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT)").alias("vm"),
    )
    med = v.groupBy("event_type").agg(
        F.expr("CAST(2 * median(vm) AS BIGINT)").alias("m2")
    )
    d = v.join(F.broadcast(med), "event_type").select(
        "event_id", "event_type", "vm", F.expr("ABS(2 * vm - m2)").alias("d2")
    )
    mad = d.groupBy("event_type").agg(
        F.expr("CAST(2 * median(d2) AS BIGINT)").alias("mad4")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .where(F.expr("2 * d2 > 3 * mad4"))
        .select(
            "event_id",
            "event_type",
            F.expr("CAST(vm AS DOUBLE) / 1000000.0").alias("value"),
            F.col("d2").alias("dev2_micro"),
            F.col("mad4").alias("mad4_micro"),
        )
    )


@register(
    "mad_outliers_bracketed_events",
    oracle="""
    WITH v AS (
      SELECT event_id, event_type,
             CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT) AS vm
      FROM events WHERE value IS NOT NULL
    ),
    b1 AS (
      SELECT event_type,
             (vm - (((vm % 250000) + 250000) % 250000)) // 250000 AS bin,
             COUNT(*) AS cnt
      FROM v GROUP BY 1, 2
    ),
    c1 AS (
      SELECT event_type, bin,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS total
      FROM b1
    ),
    m AS (
      SELECT event_type, MIN(bin) AS bin FROM c1
      WHERE cum * 1000000 >= total * 500000 GROUP BY event_type
    ),
    m2 AS (
      SELECT event_type, bin * 250000 + (bin + 1) * 250000 AS m2b FROM m
    ),
    d AS (
      SELECT v.event_id, v.event_type, vm, ABS(2 * vm - m2b) AS d2
      FROM v JOIN m2 USING (event_type)
    ),
    b2 AS (
      SELECT event_type,
             (d2 - (((d2 % 500000) + 500000) % 500000)) // 500000 AS bin,
             COUNT(*) AS cnt
      FROM d GROUP BY 1, 2
    ),
    c2 AS (
      SELECT event_type, bin,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS total
      FROM b2
    ),
    mm AS (
      SELECT event_type, MIN(bin) AS bin FROM c2
      WHERE cum * 1000000 >= total * 500000 GROUP BY event_type
    ),
    mad AS (
      SELECT event_type, bin * 500000 + (bin + 1) * 500000 AS mad4b FROM mm
    )
    SELECT d.event_id, d.event_type,
           CAST(vm AS DOUBLE) / 1000000.0 AS value,
           CAST(d2 AS BIGINT) AS dev2_micro,
           CAST(mad4b AS BIGINT) AS mad4_bracket_micro
    FROM d JOIN mad USING (event_type)
    WHERE 2 * d2 > 3 * mad4b
    """,
    doc="The 100 TB MAD composition the exact query's docstring "
    "prescribes, NOW IN CODE (r9 verdict): median and MAD come from "
    "histogram_quantile_brackets p50 MIDPOINTS (doubled, so they stay "
    "integers) instead of exact per-group medians — no executor ever "
    "buffers a group's values; both passes are bounded-bin integer "
    "aggregates with map-side combine, mergeable across shards. Bin "
    "width 0.25 in value space (0.5 in doubled-deviation space): the "
    "bracket median is within bin/2 of the exact one, so the flagged "
    "set deviates from mad_outliers_events only near the 3-MAD "
    "boundary, bounded by the caller-chosen width (parity test pins "
    "the bound). Exact integer arithmetic end to end on both engines.",
)
def mad_outliers_bracketed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.sketch import histogram_quantile_brackets

    BIN = 250_000
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT)").alias("vm"),
    )
    p50 = histogram_quantile_brackets(
        ev.select("event_type", "value"), "value",
        bin_micro=BIN, qs_ppm=[500_000], group_by="event_type",
    )
    m2 = p50.select("event_type", (F.col("lo_micro") + F.col("hi_micro")).alias("m2b"))
    d = v.join(F.broadcast(m2), "event_type").select(
        "event_id", "event_type", "vm", F.expr("ABS(2 * vm - m2b)").alias("d2")
    )
    p50d = histogram_quantile_brackets(
        d.select("event_type", "d2"), "d2",
        bin_micro=2 * BIN, qs_ppm=[500_000], group_by="event_type", micro=True,
    )
    mad4 = p50d.select(
        "event_type", (F.col("lo_micro") + F.col("hi_micro")).alias("mad4b")
    )
    return (
        d.join(F.broadcast(mad4), "event_type")
        .where(F.expr("2 * d2 > 3 * mad4b"))
        .select(
            "event_id",
            "event_type",
            F.expr("CAST(vm AS DOUBLE) / 1000000.0").alias("value"),
            F.col("d2").alias("dev2_micro"),
            F.col("mad4b").alias("mad4_bracket_micro"),
        )
    )


@register(
    "interval_coalesce_user_activity",
    oracle="""
    WITH iv AS (
      -- NULL ts/value guard (r9 ADVICE): a NULL endpoint would sit in
      -- the (s, e, event_id) sort keys, where Spark (NULLS FIRST) and
      -- DuckDB (NULLS LAST) order differently before the tiebreak —
      -- the operator's documented non-null precondition, enforced here
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT) AS e
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_span,
             event_id
      FROM iv
    ),
    spans AS (
      SELECT user_id, s, e,
             CAST(SUM(new_span) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_id
      FROM flagged
    )
    SELECT user_id, span_id, MIN(s) AS span_start, MAX(e) AS span_end,
           COUNT(*) AS n_intervals
    FROM spans GROUP BY user_id, span_id
    """,
    doc="Interval coalescing (interval union / coverage spans): each "
    "event opens a VARIABLE-length activity interval [ts, ts + value "
    "seconds) and overlapping-or-touching intervals merge into maximal "
    "disjoint spans per user. Distinct from gap sessionization: ends are "
    "non-monotone with starts, so the span test compares each start "
    "against the RUNNING MAX of previous ends (a long interval swallows "
    "later short ones). ONE shuffle on user_id feeds both window passes "
    "and the (user_id, span_id) aggregate — the sessionize_events plan "
    "shape. Epoch-microsecond integers end to end: engine-exact.",
)
def interval_coalesce_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import interval_coalesce

    ev = load_table(spark, sf_dir, "events")
    # non-null endpoints only (r9 ADVICE): mirror of the oracle's
    # WHERE — interval_coalesce's documented precondition
    ev = ev.where(F.col("ts").isNotNull() & F.col("value").isNotNull())
    em = epoch_micros(ev, "ts")
    iv = ev.select(
        "user_id",
        "event_id",
        em.alias("s"),
        (em + F.expr("CAST(FLOOR((value) * 1000000 + 0.5) AS BIGINT)")).alias("e"),
    )
    return interval_coalesce(iv, "user_id", "s", "e", "event_id")


@register(
    "weighted_median_price_by_flag",
    oracle="""
    WITH d AS (
      SELECT l_returnflag, CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS v,
             SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS wsum
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
        AND CAST(FLOOR(l_quantity + 0.5) AS BIGINT) > 0
      GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, v,
             SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(wsum) OVER (PARTITION BY l_returnflag) AS total
      FROM d
    )
    SELECT l_returnflag,
           CAST(MIN(CASE WHEN 2 * cum >= total THEN v END) AS DOUBLE) / 1000000 AS wmedian_price
    FROM c GROUP BY l_returnflag
    """,
    doc="Exact LOWER weighted median of extended price per return flag, weighted by "
    "quantity — the robust-stats companion to MAD (a weighted median resists the "
    "same outliers an average amplifies). Prices quantized to integer micros "
    "(hash-exact); quantities to integer units via the shared FLOOR(q+0.5) "
    "expression (a raw CAST diverges: Spark truncates, DuckDB rounds half-even). "
    "Scale shape (operators/aggregations.py:weighted_median): the corpus "
    "collapses to the DISTINCT (flag, price) table map-side; one hash exchange "
    "on the flag feeds both windows and the final aggregate; weights accumulate "
    "in DECIMAL(38,0) past 2^63.",
)
def weighted_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    d = li.where(F.col("l_extendedprice").isNotNull()).select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT)").alias("vm"),
        F.expr("CAST(FLOOR(l_quantity + 0.5) AS BIGINT)").alias("wq"),
    )
    out = weighted_median(d, ["l_returnflag"], "vm", "wq", alias="wm")
    return out.select("l_returnflag", F.expr("CAST(wm AS DOUBLE) / 1000000").alias("wmedian_price"))


@register(
    "weighted_median_bracket_price_by_flag",
    oracle="""
    WITH d AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS vm,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS wq
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
        AND CAST(FLOOR(l_quantity + 0.5) AS BIGINT) > 0
    ), b AS (
      -- floor-multiple bin id: subtract the POSITIVE remainder, then
      -- divide (exact — the dividend is a multiple of the width, so
      -- truncating and flooring division agree even for negatives)
      SELECT l_returnflag,
             (vm - ((vm % 1000000000) + 1000000000) % 1000000000) // 1000000000 AS bin,
             SUM(wq) AS w
      FROM d GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, bin,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag) AS total
      FROM b
    ), f AS (
      SELECT l_returnflag, MIN(bin) AS bin, MIN(total) AS total
      FROM c WHERE 2 * cum >= total GROUP BY l_returnflag
    )
    SELECT f.l_returnflag, f.bin,
           CAST(f.bin * 1000000000 AS DOUBLE) / 1000000 AS lo_price,
           CAST((f.bin + 1) * 1000000000 AS DOUBLE) / 1000000 AS hi_price,
           CAST(c.cum AS BIGINT) AS cum_w,
           CAST(f.total AS BIGINT) AS total_w
    FROM f JOIN c ON f.l_returnflag = c.l_returnflag AND f.bin = c.bin
    """,
    doc="Bracketed weighted median of extended price per return flag — the "
    "100 TB CONTINUOUS-domain swap-in for weighted_median_price_by_flag "
    "(operators/aggregations.py:weighted_quantile_bracketed). The exact "
    "operator windows over the per-group DISTINCT-price table (fine for "
    "bounded money domains, a one-task funnel when distinct ≈ rows); here "
    "values bin into fixed $1000 brackets FIRST, so the cumulative/total "
    "windows ride the tiny (flag, bin) table — bounded by the price RANGE "
    "over the bin width, never the row count — and the answer is the exact "
    "half-open bracket containing the true lower weighted median (the first "
    "bin whose end-cumulative weight reaches half the total IS the median's "
    "bin — an earlier qualifying bin would contradict minimality). Weights "
    "share the FLOOR(q+0.5) integer contract; the bracket-contains-exact "
    "bound is asserted against weighted_median in tests.",
)
def weighted_median_bracket_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import weighted_quantile_bracketed

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.expr("CAST(FLOOR(l_quantity + 0.5) AS BIGINT)").alias("wq"),
    )
    out = weighted_quantile_bracketed(
        d, ["l_returnflag"], "l_extendedprice", "wq", bin_micro=1_000_000_000
    )
    return out.select(
        "l_returnflag",
        "bin",
        F.expr("CAST(lo_micro AS DOUBLE) / 1000000").alias("lo_price"),
        F.expr("CAST(hi_micro AS DOUBLE) / 1000000").alias("hi_price"),
        F.col("cum_w").cast("bigint").alias("cum_w"),
        F.col("total_w").cast("bigint").alias("total_w"),
    )


@register(
    "equi_depth_price_histogram",
    oracle="""
    WITH v AS (
      SELECT l_returnflag, CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS vm,
             l_orderkey, l_linenumber
      FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ), r AS (
      SELECT l_returnflag, vm,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY vm, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM v
    )
    SELECT l_returnflag, ((rn - 1) * 8) // n AS tile, COUNT(*) AS n_rows,
           CAST(MIN(vm) AS DOUBLE) / 1000000 AS lo,
           CAST(MAX(vm) AS DOUBLE) / 1000000 AS hi
    FROM r GROUP BY 1, 2
    """,
    doc="Equi-DEPTH histogram (8 buckets per return flag over extended price): "
    "equal ROW counts per bucket, the complement of the fixed-WIDTH "
    "histogram_quantile_brackets. Bucket rule is the explicit maximally-even "
    "formula tile = (rank-1)*k DIV n on BOTH engines (SQL NTILE front-loads its "
    "remainder — a different, engine-trap contract). The per-group rank comes "
    "from global_rank(partition_cols=...): local windows hash on (flag, "
    "value-bin), so a billion-row flag spreads over its bins instead of one "
    "task — the plain PARTITION BY flag window the oracle uses would funnel "
    "each group through a single reducer at 100 TB.",
)
def equi_depth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank

    li = load_table(spark, sf_dir, "lineitem")
    v = li.where(F.col("l_extendedprice").isNotNull() & F.col("l_returnflag").isNotNull()).select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT)").alias("vm"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = global_rank(
        v, ["vm", "l_orderkey", "l_linenumber"], partition_cols=["l_returnflag"], rank_col="rn"
    )
    totals = v.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(F.broadcast(totals), "l_returnflag")
        .withColumn("tile", F.expr("((rn - 1) * 8) DIV n"))
        .groupBy("l_returnflag", "tile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("CAST(MIN(vm) AS DOUBLE) / 1000000").alias("lo"),
            F.expr("CAST(MAX(vm) AS DOUBLE) / 1000000").alias("hi"),
        )
    )


@register(
    "event_type_diversity_daily",
    oracle="""
    WITH c AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, COUNT(*) AS n
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT day, CAST(SUM(n) AS BIGINT) AS n_events, COUNT(*) AS n_types,
           CASE WHEN SUM(n) > 1 THEN
             ROUND(1.0 - CAST(SUM(CAST(n AS HUGEINT) * (n - 1)) AS DOUBLE)
                       / CAST(CAST(SUM(n) AS HUGEINT) * (SUM(n) - 1) AS DOUBLE), 6)
           END AS simpson
    FROM c GROUP BY day
    """,
    doc="Per-day Simpson diversity of the event-type mix: 1 - sum n_i(n_i-1) / "
    "N(N-1), the probability two random same-day events differ in type — a "
    "drift monitor for the event feed (a crawler/ETL mix collapse shows up as "
    "a diversity drop before any single count alarms). Simpson is EXACT "
    "RATIONAL arithmetic (unlike Shannon, whose log() ulps differ per libm): "
    "both numerator and denominator are integer products — DECIMAL(38,0) in "
    "Spark, HUGEINT in DuckDB — with one final correctly-rounded double "
    "division. Two map-side-combined aggregates, shuffle carries (day, type) "
    "partials then day partials; single-row days return NULL (undefined).",
)
def event_type_diversity_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nd = F.col("n").cast("decimal(38,0)")
    per_day = counts.groupBy("day").agg(
        F.sum(nd).alias("N"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(nd * (F.col("n") - 1)).alias("num"),
    )
    simpson = F.when(
        F.col("N") > 1,
        F.round(
            F.lit(1.0)
            - F.col("num").cast("double") / (F.col("N") * (F.col("N") - 1)).cast("double"),
            6,
        ),
    )
    return per_day.select(
        "day",
        F.col("N").cast("bigint").alias("n_events"),
        "n_types",
        simpson.alias("simpson"),
    )


@register(
    "ols_trend_by_segment",
    oracle="""
    WITH b AS (
      SELECT c_mktsegment,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
             CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL AND c_mktsegment IS NOT NULL
    ), s AS (
      SELECT c_mktsegment, COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM b GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6)
           END AS slope_micros_per_day
    FROM s
    """,
    doc="Grouped least-squares trend: OLS slope of order value (integer micros) "
    "over order date (epoch days) per market segment, via the closed form "
    "slope = (n sum xy - sum x sum y) / (n sum xx - (sum x)^2) — every term an "
    "EXACT integer (DECIMAL(38,0) accumulators in Spark, HUGEINT in DuckDB), "
    "one correctly-rounded double division at the end. The 100 TB shape is one "
    "broadcast dim join + one map-side-combined aggregate — the shuffle carries "
    "five partial sums per segment, nothing else; no window, no sort. Past "
    "~1e12 rows rebase x to days-since-corpus-min (a scalar subquery) to keep "
    "n*sxy inside 38 digits. Zero-variance groups (one distinct day) return "
    "NULL slope.",
)
def ols_trend_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    b = joined.where(
        F.col("o_orderdate").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & F.col("c_mktsegment").isNotNull()
    ).select(
        "c_mktsegment",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).cast("bigint").alias("x"),
        F.expr("CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT)").alias("y"),
    )
    dec = "decimal(38,0)"
    s = b.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
    )
    num = F.col("n").cast(dec) * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n").cast(dec) * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "c_mktsegment",
        "n",
        F.when(den != 0, F.round(num.cast("double") / den.cast("double"), 6)).alias(
            "slope_micros_per_day"
        ),
    )


@register(
    "frequent_item_pairs",
    oracle="""
    WITH d AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    )
    SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS support
    FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
    doc="Market-basket frequent pairs (the A-priori L2 step): part pairs "
    "co-ordered in >= 3 distinct orders. The ENGINE prunes with the A-priori "
    "invariant first — only items whose own support >= 3 can appear in a "
    "frequent pair, so the basket self-join runs on the semi-join-reduced "
    "table; the ORACLE is the naive unpruned self-join, proving the pruning "
    "lossless (the triangle_count proof shape). Scale: the self-join keys on "
    "the order id, so per-reducer work is bounded by basket size squared "
    "(TPC-H baskets <= ~20 items), never by item popularity — a hot ITEM never "
    "funnels; the item-support aggregate is map-side combined.",
)
def frequent_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = (
        li.where(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    freq = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") >= 3)
    pruned = d.join(freq.select("l_partkey"), "l_partkey", "left_semi")
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("item_a"), F.col("b.l_partkey").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 3)
    )


@register(
    "weighted_p90_price_by_flag",
    oracle="""
    WITH d AS (
      SELECT l_returnflag, CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS v,
             SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS wsum
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
        AND CAST(FLOOR(l_quantity + 0.5) AS BIGINT) > 0
      GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, v,
             SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(wsum) OVER (PARTITION BY l_returnflag) AS total
      FROM d
    )
    SELECT l_returnflag,
           CAST(MIN(CASE WHEN 10 * cum >= 9 * total THEN v END) AS DOUBLE) / 1000000 AS wp90_price
    FROM c GROUP BY l_returnflag
    """,
    doc="Exact LOWER weighted p90 of extended price per return flag, quantity- "
    "weighted — weighted_quantile(q=9/10), the general-q form of the weighted "
    "median: the pick condition 10*cum >= 9*total stays in exact integer "
    "arithmetic for ANY rational q, no interpolation, no float quantile "
    "position. Same one-exchange distinct-(group, value) shape as the median.",
)
def weighted_p90_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import weighted_quantile

    li = load_table(spark, sf_dir, "lineitem")
    d = li.where(F.col("l_extendedprice").isNotNull()).select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT)").alias("vm"),
        F.expr("CAST(FLOOR(l_quantity + 0.5) AS BIGINT)").alias("wq"),
    )
    out = weighted_quantile(d, ["l_returnflag"], "vm", "wq", q_num=9, q_den=10, alias="wq90")
    return out.select("l_returnflag", F.expr("CAST(wq90 AS DOUBLE) / 1000000").alias("wp90_price"))


@register(
    "trimmed_mean_price_by_flag",
    oracle="""
    WITH v AS (
      SELECT l_returnflag, CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS vm,
             l_orderkey, l_linenumber
      FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ), r AS (
      SELECT l_returnflag, vm,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY vm, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM v
    )
    SELECT l_returnflag, COUNT(*) AS n_kept,
           ROUND(CAST(SUM(vm) AS DOUBLE) / 1000000 / COUNT(*), 6) AS trimmed_mean
    FROM r WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY 1
    """,
    doc="10% trimmed mean of extended price per return flag — the robust mean "
    "(drop the bottom and top decile BY RANK, exactly, with the full (value, "
    "orderkey, linenumber) tiebreak — not by percentile THRESHOLD, which double- "
    "counts ties). Rank from grouped global_rank (value-binned — no per-flag "
    "one-task window, the oracle's PARTITION BY funnel); trim bounds n DIV 10 "
    "in integer arithmetic; mean over exact micro sums. Completes the robust "
    "triple: MAD (spread), weighted median (center), trimmed mean (center "
    "under contamination).",
)
def trimmed_mean_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank

    li = load_table(spark, sf_dir, "lineitem")
    v = li.where(F.col("l_extendedprice").isNotNull() & F.col("l_returnflag").isNotNull()).select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT)").alias("vm"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = global_rank(
        v, ["vm", "l_orderkey", "l_linenumber"], partition_cols=["l_returnflag"], rank_col="rn"
    )
    totals = v.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    kept = ranked.join(F.broadcast(totals), "l_returnflag").where(
        F.expr("rn > n DIV 10 AND rn <= n - n DIV 10")
    )
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(
            F.sum(F.col("vm").cast("decimal(38,0)")).cast("double")
            / F.lit(1000000.0)
            / F.count(F.lit(1)),
            6,
        ).alias("trimmed_mean"),
    )


@register(
    "mode_event_type_per_user",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ), r AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
      FROM c
    )
    SELECT user_id, event_type AS mode_event_type, n AS n_events
    FROM r WHERE rk = 1
    """,
    doc="Exact MODE per group (most frequent event type per user; ties break to "
    "the lexicographically smallest type — deterministic, partition-invariant). "
    "Completes mean/median/mode. One map-side-combined (user, type) count; the "
    "argmax window runs over the AGGREGATED table partitioned by user, so its "
    "per-task work is the type-domain size, never the event count.",
)
def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_event_type"), F.col("n").alias("n_events"))
    )


@register(
    "event_trigram_motifs",
    oracle="""
    WITH s AS (
      SELECT event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
             lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL AND event_id IS NOT NULL
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS motif, COUNT(*) AS n
    FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, motif LIMIT 25
    """,
    doc="Sequential pattern mining (L3 of the GSP/PrefixSpan ladder): the 25 "
    "most frequent consecutive event-type TRIGRAMS across per-user streams — "
    "the behavioral-motif extension of the pairwise event_transitions Markov "
    "counts (click>view>purchase vs click>error>click separate funnels a pair "
    "table conflates). Two lead() taps over ONE per-user window sort (ts, "
    "event_id total order — NULL endpoints excluded on both engines: Spark "
    "sorts NULLS FIRST, DuckDB NULLS LAST), then a map-side-combined motif "
    "count; per-task work bounded by a user's stream length, the sessionize "
    "shape. Deterministic top-25 (count desc, motif asc).",
)
def event_trigram_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("event_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = base.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        s.where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .select(F.concat_ws(">", "event_type", "t2", "t3").alias("motif"))
        .groupBy("motif")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "motif")
        .limit(25)
    )
