"""Relational-core queries (SURVEY.md §2.3 filters, §2.4 joins,
§2.5 aggregations, §2.6 windows, §2.7 set ops) over the driver's
star schema. Each query name carries its §2 operator ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import filters
from ..operators.aggregations import dsum, pivot_counts, ratio_pct, value_counts
from ..operators.joins import (
    anti_join,
    bloom_pruned_join,
    broadcast_lookup,
    enrich_coalesce,
    latest_wins,
    literal_lookup_maps,
    semi_join,
)
from ..operators.windows import top_n_per_group
from ..sources import load_table
from . import register

# fixed "now" anchors so now-relative predicates are reproducible
# (SURVEY §7 hard-part 6). Events span 2024-01-01..2024-01-30.
EVENTS_NOW = "2024-01-30 00:00:00"
ORDERS_NOW = "1998-01-01 00:00:00"


# ---------------------------------------------------------------- flagship
@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(FLOOR((l_quantity)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS sum_qty,
           CAST(SUM(CAST(FLOOR((l_extendedprice)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS sum_base_price,
           CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount))*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS sum_disc_price,
           CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount) * (1 + l_tax))*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS sum_charge,
           ROUND(CAST(SUM(CAST(FLOOR((l_quantity)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 / COUNT(*), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(FLOOR((l_extendedprice)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 / COUNT(*), 4) AS avg_price,
           ROUND(CAST(SUM(CAST(FLOOR((l_discount)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 / COUNT(*), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1/A3/A8 composite: the flagship TPC-H-Q1-style pricing summary.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))

    def row_avg(col: str, alias: str) -> Column:
        # the oracle divides by COUNT(*), where davg counts non-null values
        return F.round(dsum(col, alias) / F.count(F.lit(1)), 4).alias(alias)

    return (
        li.where("l_shipdate <= TIMESTAMP '1998-09-02'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            row_avg("l_quantity", "avg_qty"),
            row_avg("l_extendedprice", "avg_price"),
            row_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------- A* aggregations
@register(
    "grouped_sum_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(FLOOR((o_totalprice)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS total_price,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
    doc="A1 grouped sum (ref power-outages/server.js:92-125).",
)
def grouped_sum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(dsum("o_totalprice", "total_price"), F.count(F.lit(1)).alias("n"))


@register(
    "affected_ratio_by_nation",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS total_customers,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_customers,
           CASE WHEN COUNT(*) > 0 THEN ROUND(CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS DECIMAL(28,6)) * 100 / CAST(COUNT(*) AS DECIMAL(28,6)), 4)::DOUBLE END AS negative_pct
    FROM customer GROUP BY c_nationkey
    """,
    doc="A2 ratio with fixed decimals + zero-denominator guard (ref power-outages/server.js:100).",
)
def affected_ratio_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("total_customers"),
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).alias("negative_customers"),
        ratio_pct(
            F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)),
            F.count(F.lit(1)),
            "negative_pct",
        ),
    )


@register(
    "composite_agg_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(SUM(CAST(FLOOR((o_totalprice)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS total_price,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order,
           list_aggr(list_sort(list_distinct(list(o_orderpriority))), 'string_agg', ', ') AS priorities,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus, year(o_orderdate)
    """,
    doc="A3 multi-aggregate composite-key group-by with collect_set→string (ref power-outages/server.js:161-240).",
)
def composite_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            "o_orderstatus", F.year("o_orderdate").cast("int").alias("order_year")
        ).agg(
            dsum("o_totalprice", "total_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ", ").alias("priorities"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "category_counts_events",
    oracle="""
    SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           COUNT(*) AS total,
           MIN(ts) AS oldest, MAX(ts) AS newest
    FROM events
    """,
    doc="A4 one-pass category pivot + data-freshness min/max (ref ais-proxy/server.js:744-768,1324-1336).",
)
def category_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = pivot_counts(ev, "event_type", ["click", "view", "purchase", "signup", "error"], total_alias="total")
    return out.join(ev.agg(F.min("ts").alias("oldest"), F.max("ts").alias("newest")))


@register(
    "value_counts_brand",
    oracle="SELECT p_brand, COUNT(*) AS n FROM part GROUP BY p_brand ORDER BY n DESC, p_brand",
    doc="A6 value histogram sorted desc (ref scripts/find-missing-types.js:51-78).",
)
def value_counts_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return value_counts(load_table(spark, sf_dir, "part"), "p_brand")


@register(
    "segment_rollup",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(FLOOR((c_acctbal)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS total_acctbal,
           COUNT(*) AS n
    FROM customer GROUP BY c_mktsegment
    """,
    doc="A7 CSV-style rollup (ref power-outages/icp-data.js:27-41).",
)
def segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").groupBy("c_mktsegment").agg(
        dsum("c_acctbal", "total_acctbal"), F.count(F.lit(1)).alias("n")
    )


@register(
    "recent_activity_24h",
    oracle=f"""
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS total_value,
           COUNT(DISTINCT user_id) AS active_users
    FROM events WHERE ts > TIMESTAMP '{EVENTS_NOW}' - INTERVAL 24 HOUR
    """,
    doc="A9 24h activity window, now-anchored (ref ais-proxy/server.js:854-855).",
)
def recent_activity_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    now = F.lit(EVENTS_NOW).cast("timestamp")
    return ev.where(F.col("ts") > now - F.expr("INTERVAL 24 HOURS")).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", "total_value"),
        F.count_distinct(F.col("user_id")).alias("active_users"),
    )


# ---------------------------------------------------------------- F* filters
@register(
    "range_filter_events",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events WHERE value BETWEEN 50 AND 150 AND user_id BETWEEN 100 AND 500
    """,
    doc="F1 bounding-box-style double range predicate (ref ais-proxy/server.js:678-680).",
)
def range_filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.where(filters.bbox("value", "user_id", 50, 150, 100, 500)).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "prefix_set_filter_orders",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_orderstatus
    FROM orders
    WHERE substring(o_orderpriority, 1, 1) IN ('1','2') AND o_orderstatus <> 'F'
    """,
    doc="F2 key-prefix domain validation against a broadcast set (ref ais-proxy/server.js:77-94).",
)
def prefix_set_filter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(
        filters.prefix_in_set("o_orderpriority", 1, ["1", "2"]) & (F.col("o_orderstatus") != "F")
    ).select("o_orderkey", "o_orderpriority", "o_orderstatus")


@register(
    "not_future_orders",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders
    WHERE o_orderdate IS NULL OR o_orderdate <= TIMESTAMP '{ORDERS_NOW}'
    GROUP BY o_orderstatus
    """,
    doc="F5 future-start exclusion with NULL-passes semantics (ref power-outages/server.js:83-87).",
)
def not_future_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    now = F.lit(ORDERS_NOW).cast("timestamp")
    return orders.where(filters.not_future("o_orderdate", now)).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "fresh_events",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n
    FROM events WHERE ts > TIMESTAMP '{EVENTS_NOW}' - INTERVAL 5 DAY
    GROUP BY event_type
    """,
    doc="F7 staleness filter, now-anchored (ref tak-cot-proxy/index.mjs:407-411).",
)
def fresh_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(EVENTS_NOW).cast("timestamp") - F.expr("INTERVAL 5 DAYS")
    return ev.where(filters.fresh("ts", cutoff)).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "param_filter_documents",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE upper(lang) = 'EN' AND n_chars >= 100 AND lower(source) LIKE '%src1%'
    """,
    doc="F6 composable query-param filters: eq-upper + min + ci-contains (ref power-outages/server.js:517-536).",
)
def param_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return filters.param_filters(
        docs, eq_upper={"lang": "en"}, min_ge={"n_chars": 100}, contains_ci={"source": "SRC1"}
    ).select("doc_id", "lang", "source", "n_chars")


@register(
    "prefix_filter_part",
    oracle="SELECT p_partkey, p_name, p_brand FROM part WHERE p_name LIKE 'a%'",
    doc="F10 id-prefix filter (ref tak-cot-proxy/index.mjs:412-417).",
)
def prefix_filter_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.where(filters.id_prefix("p_name", "a")).select("p_partkey", "p_name", "p_brand")


@register(
    "category_include_events",
    oracle="""
    SELECT event_id, event_type, user_id
    FROM events WHERE event_type IN ('purchase','signup')
    """,
    doc="F11 category include filter (ref ais-proxy/server.js:732-757).",
)
def category_include_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.where(filters.category_in("event_type", ["purchase", "signup"])).select(
        "event_id", "event_type", "user_id"
    )


@register(
    "wire_projection_customer",
    oracle="""
    SELECT c_custkey AS id, upper(c_name) AS NAME, c_mktsegment AS segment,
           round(c_acctbal, 2) AS balance
    FROM customer
    """,
    doc="F15 projection to wire schema with renamed/uppercased fields (ref ais-proxy/server.js:687-707).",
)
def wire_projection_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("id"),
        F.upper("c_name").alias("NAME"),
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("balance"),
    )


# ---------------------------------------------------------------- J* joins
@register(
    "enrich_customer_nation",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation_name, r.r_name AS region_name, c.c_acctbal
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    doc="J4 broadcast dim-lookup chain (ref regions.js:23-25; snowflake dims).",
)
def enrich_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = broadcast_lookup(nation, region, on=nation["n_regionkey"] == region["r_regionkey"]).select(
        "n_nationkey", "n_name", "r_name"
    )
    # snowflake micro-dims (25 nations x 5 regions) bake into literal
    # maps: zero joins in the plan, lookup is a codegen'd projection
    # with LEFT-join null semantics (operators/joins.py)
    maps = literal_lookup_maps(dim, "n_nationkey", ["n_name", "r_name"])
    if maps is None:  # dim outgrew the literal budget: broadcast join
        return broadcast_lookup(cust, dim, on=cust["c_nationkey"] == dim["n_nationkey"]).select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            "c_acctbal",
        )
    return cust.select(
        "c_custkey",
        "c_name",
        maps["n_name"][F.col("c_nationkey")].alias("nation_name"),
        maps["r_name"][F.col("c_nationkey")].alias("region_name"),
        "c_acctbal",
    )


@register(
    "orders_semi_building",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
    doc="J7 left-semi join against a filtered dim (ref tak-contacts-ws/index.mjs:123-140).",
)
def orders_semi_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return semi_join(orders, cust, on=orders["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    doc="J8 anti-join coverage check (ref verify-tlc-localities.js:26-28).",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return anti_join(cust, orders, on=cust["c_custkey"] == orders["o_custkey"]).select("c_custkey", "c_name")


@register(
    "user_rollup_events",
    oracle="""
    SELECT user_id, COUNT(*) AS total_events,
           CAST(SUM(CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS total_value,
           MAX(ts) AS last_seen
    FROM events GROUP BY user_id
    """,
    doc="J10 key-presence upsert as grouped totals (ref ais-proxy/server.js:909-915).",
)
def user_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_events"), dsum("value", "total_value"), F.max("ts").alias("last_seen")
    )


@register(
    "region_outage_join",
    oracle="""
    SELECT r.r_name AS region_name,
           COALESCE(a.n, 0) AS nation_count,
           CASE WHEN a.n IS NULL THEN 'no-data' ELSE 'ok' END AS status
    FROM region r
    LEFT JOIN (SELECT n_regionkey, COUNT(*) AS n FROM nation WHERE n_nationkey > 5 GROUP BY n_regionkey) a
      ON r.r_regionkey = a.n_regionkey
    """,
    doc="J6 boundary⟕aggregate with fallback row semantics (ref power-outages/server.js:342-396).",
)
def region_outage_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    agg = nation.where(F.col("n_nationkey") > 5).groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n"))
    return region.join(F.broadcast(agg), region["r_regionkey"] == agg["n_regionkey"], "left").select(
        F.col("r_name").alias("region_name"),
        F.coalesce(F.col("n"), F.lit(0)).alias("nation_count"),
        F.when(F.col("n").isNull(), F.lit("no-data")).otherwise(F.lit("ok")).alias("status"),
    )


# ---------------------------------------------------------------- W* windows
@register(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="W1/J2 keep-latest-per-key — batch form of the vessel-state upsert (ref ais-proxy/server.js:390-592).",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 (guide §2.3 — project before the exchange): select the five
    # output columns BEFORE the keep-latest aggregate. The unprojected
    # form carried the wide `props` JSON string inside BOTH max_by
    # structs (ordering key and value) through the partial aggregate
    # and the shuffle, only to drop it in the final projection —
    # column pruning cannot reach inside an aggregate's struct
    # arguments. Result-identical: (ts, event_id) already totally
    # orders each key's rows (event_id is unique), so the lexicographic
    # fall-through to the remaining columns never fires.
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return latest_wins(ev, "user_id", "ts", "event_id").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


@register(
    "cdc_apply_events",
    oracle="""
    WITH pre AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
    ),
    base AS (
      SELECT user_id, event_id, ts, event_type, value FROM pre WHERE rn = 1
    ),
    log AS (
      SELECT user_id, event_id, ts, event_type, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
    )
    SELECT b.user_id, b.event_id, b.ts, b.event_type, b.value
    FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM log l WHERE l.user_id = b.user_id)
    UNION ALL
    SELECT user_id, event_id, ts, event_type, value
    FROM log WHERE rn = 1 AND op <> 'D'
    """,
    doc="MERGE-INTO / CDC-log apply without a table format: the per-user "
    "state snapshot before Jan 16 is the BASE; later events form the "
    "operation log ('error' = delete, anything else = upsert); the latest "
    "op per key wins, deletes drop the key, untouched base rows pass "
    "through. Engine shape (the log<<base CDC regime): the log distills "
    "to one row per touched key via one map-side-combined aggregate, the "
    "base pays only a LEFT ANTI join against the touched-key set "
    "(broadcast when the distilled log fits -> the base never shuffles) "
    "- never the naive union+window that re-sorts the whole base per "
    "batch.",
)
def cdc_apply_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as FX

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    cut = FX.lit("2024-01-16 00:00:00").cast("timestamp")
    base = latest_wins(ev.where(FX.col("ts") < cut), "user_id", "ts", "event_id")
    changes = ev.where(FX.col("ts") >= cut).withColumn(
        "op", FX.expr("IF(event_type = 'error', 'D', 'U')")
    )
    from ..operators.joins import cdc_apply

    return cdc_apply(base, changes, "user_id", "ts", "event_id")


@register(
    "top_customers_by_balance",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, CAST(rnk AS INT) AS rnk FROM (
      SELECT c_custkey, c_name, c_acctbal,
             row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer
    ) WHERE rnk <= 10
    """,
    doc="W2 top-N retention by ordering (ref ais-proxy/server.js:174-190).",
)
def top_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return top_n_per_group(cust, [], [F.desc("c_acctbal"), F.asc("c_custkey")], 10).select(
        "c_custkey", "c_name", "c_acctbal", F.col("rnk").cast("int").alias("rnk")
    )


@register(
    "daily_event_counts",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR((value)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS total_value
    FROM events GROUP BY date_trunc('day', ts), event_type
    """,
    doc="W3 tumbling time-bucket counts — batch analog of the rate-limit window (ref ais-proxy/server.js:193-208).",
)
def daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "total_value")
    )


@register(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
    doc="W2 per-group top-N (grouped variant).",
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return top_n_per_group(orders, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3).select(
        "o_custkey", "o_orderkey", "o_totalprice", F.col("rnk").cast("int").alias("rnk")
    )


# ---------------------------------------------------------------- O* set ops
@register(
    "union_distinct_orders",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders WHERE o_totalprice > 400000
    UNION
    SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    doc="O4/O6 union of filtered sources + distinct (ref power-outages/server.js:144-146). "
    "Both branches filter the SAME table, so the engine takes the single-scan "
    "disjunctive plan; the heterogeneous multi-SOURCE union shape (what O4 is "
    "really about) lives in funnel_counts_events / upsert_latest / the scraper "
    "fan-in, where the branches are genuinely different inputs.",
)
def union_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderpriority", "o_totalprice"]
    # ONE scan with an OR predicate, not UNION of two filtered scans:
    # Catalyst does not rewrite union-of-filters-on-one-table into a
    # disjunctive scan, so the union form reads orders twice — 2x the
    # IO at 100 TB for an identical result (o_orderkey is the table
    # key, but distinct is kept: it is the operator under test and the
    # oracle's UNION dedups). A/B at sf0.1 (bench methodology, input
    # cache, 2 sweeps x 6 runs, local[32]): union-2-scan 0.36-0.54 s
    # min-warm vs OR-1-scan 0.24-0.30 s — the single scan wins ~35%
    # warm and halves the scan bytes at scale. Oracle unchanged (the
    # UNION SQL is the semantic spec; results are row-identical).
    return (
        orders.where((F.col("o_totalprice") > 400000) | (F.col("o_orderpriority") == "1-URGENT"))
        .select(cols)
        .distinct()
    )


@register(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    doc="O6 distinct (ref verify-tlc-localities.js:17).",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# ---------------------------------------------------------------- J1 enrichment
@register(
    "enrich_coalesce_fill",
    oracle="""
    WITH base AS (
      SELECT s_suppkey, CASE WHEN s_suppkey % 3 = 0 THEN NULL ELSE s_name END AS s_name,
             CASE WHEN s_suppkey % 2 = 0 THEN 0.0 ELSE s_acctbal END AS s_acctbal,
             s_nationkey
      FROM supplier
    ),
    enrich AS (SELECT s_suppkey, s_name AS e_name, s_acctbal AS e_acctbal FROM supplier)
    SELECT b.s_suppkey,
           COALESCE(b.s_name, e.e_name) AS s_name,
           COALESCE(NULLIF(b.s_acctbal, 0.0), e.e_acctbal) AS s_acctbal,
           b.s_nationkey,
           CASE WHEN b.s_name IS NULL AND e.e_name IS NOT NULL THEN 'enriched' ELSE 'base' END AS name_source
    FROM base b LEFT JOIN enrich e ON b.s_suppkey = e.s_suppkey
    """,
    doc="J1 enrichment left join + coalesce-fill with null-vs-0 guard and provenance (ref ais-proxy/server.js:594-610).",
)
def enrich_coalesce_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    # simulate gaps: every 3rd name missing, every 2nd balance zeroed
    base = sup.select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 3 == 0, F.lit(None)).otherwise(F.col("s_name")).alias("s_name"),
        F.when(F.col("s_suppkey") % 2 == 0, F.lit(0.0)).otherwise(F.col("s_acctbal")).alias("s_acctbal"),
        "s_nationkey",
    )
    enrich = sup.select("s_suppkey", F.col("s_name").alias("e_name"), F.col("s_acctbal").alias("e_acctbal"))
    return enrich_coalesce(
        base,
        enrich,
        key="s_suppkey",
        fill_cols={"s_name": "e_name", "s_acctbal": "e_acctbal"},
        zero_is_missing=("s_acctbal",),
        provenance="name_source",
        provenance_for="s_name",  # the oracle's name_source tracks the name fill only
    )


@register(
    "bloom_pruned_urgent_revenue",
    oracle="""
    SELECT l.l_returnflag AS returnflag,
           CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 1000000 + 0.5)
                    AS BIGINT)) AS DOUBLE) / 1000000 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
    doc="Semi-join reduction via a broadcast Bloom filter (r10): "
    "lineitem rows whose order cannot be urgent are pruned IN-ROW "
    "against an 8 KB filter of the urgent-order keys BEFORE the fact "
    "side shuffles for the real join — the classic bandwidth saver "
    "when the dim is too big to broadcast but its key set compresses. "
    "The equi-join then removes the Bloom's false positives, so the "
    "oracle is the PLAIN join+aggregate: the filter must be invisible "
    "in the answer for any m/k. Filter build = bounded <=m/32-word "
    "aggregate, map-side combined, collapsed to a one-row scalar map; "
    "probe is pure whole-stage codegen (xxhash64 bit tests).",
)
def bloom_pruned_urgent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .selectExpr("o_orderkey AS l_orderkey")
    )
    j = bloom_pruned_join(li, od, "l_orderkey")
    return (
        j.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
