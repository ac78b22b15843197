"""Geospatial queries (SURVEY.md §2.8 geo / §7 Phase 7).

The star schema has no lat/lon, so coordinates are DERIVED
deterministically from keys (same arithmetic on both engines), then
the reference's tile/mercator math runs over them as pure Column
expressions — the same expressions a 100 TB tile pipeline would push
into its partition keys.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import (
    mercator_x,
    mercator_y,
    morton_key,
    morton_key_sql,
    point_in_polygon_unrolled,
)
from ..sources import load_table
from . import register

Z = 6  # zoom level for the tile-cover queries


@register(
    "mercator_tile_cover",
    oracle=f"""
    WITH pts AS (
      SELECT l_orderkey, l_linenumber,
             (l_partkey % 360) - 180 + 0.5 AS lon,
             (l_suppkey % 140) - 70 + 0.5 AS lat
      FROM lineitem
    ),
    tiles AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor((lon + 180.0) / 360.0 * {2**Z}) AS BIGINT) AS tile_x,
             CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * {2**Z}) AS BIGINT) AS tile_y
      FROM pts
    )
    SELECT tile_x, tile_y, CAST({2**Z - 1} - tile_y AS BIGINT) AS tms_y, COUNT(*) AS n
    FROM tiles GROUP BY tile_x, tile_y
    """,
    doc="Slippy-tile cover + TMS y-flip as pure arithmetic (ref create_nationalmap_mbtiles.py:15-20,104; terrain-proxy/server.js:52-60).",
)
def mercator_tile_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "(l_partkey % 360) - 180 + 0.5 AS lon",
        "(l_suppkey % 140) - 70 + 0.5 AS lat",
    )
    n = F.lit(float(2**Z))
    tiles = pts.select(
        F.floor(mercator_x("lon") * n).cast("bigint").alias("tile_x"),
        F.floor(mercator_y("lat") * n).cast("bigint").alias("tile_y"),
    )
    return (
        tiles.groupBy("tile_x", "tile_y")
        .agg(F.expr("COUNT(1) AS n"))
        .selectExpr("tile_x", "tile_y", f"CAST({2**Z - 1} - tile_y AS BIGINT) AS tms_y", "n")
    )


@register(
    "point_in_polygon_regions",
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 60) - 30 + 0.25 AS lon,
             (c_custkey % 40) - 20 + 0.25 AS lat
      FROM customer
    )
    SELECT c_custkey, lon, lat,
           CASE
             WHEN lat > -15 AND lat < 15 AND lon > -15 AND lon < 15
                  AND NOT (lat > -5 AND lat < 5 AND lon > -5 AND lon < 5) THEN 'ring'
             WHEN lat > -5 AND lat < 5 AND lon > -5 AND lon < 5 THEN 'core'
             ELSE 'outside'
           END AS region
    FROM pts
    """,
    doc="J5 point-in-polygon via HOF ray-cast vs broadcast polygons; first-match-wins priority (ref power-outages/region-mapper.js:18-59). Oracle uses the equivalent box predicates for these rectilinear test polygons.",
)
def point_in_polygon_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.selectExpr(
        "c_custkey",
        "(c_custkey % 60) - 30 + 0.25 AS lon",
        "(c_custkey % 40) - 20 + 0.25 AS lat",
    )
    core = [(-5, -5), (5, -5), (5, 5), (-5, 5), (-5, -5)]
    outer = [(-15, -15), (15, -15), (15, 15), (-15, 15), (-15, -15)]
    # rings are plan-time literals → unrolled per edge into codegen'd
    # arithmetic (the HOF fold is CodegenFallback, ~10x slower)
    lon, lat = F.col("lon"), F.col("lat")
    in_core = point_in_polygon_unrolled(lon, lat, core)
    in_outer = point_in_polygon_unrolled(lon, lat, outer)
    # first-match-wins priority: ring (outer minus core) checked first,
    # like the reference's ordered feature scan
    region = F.when(in_outer & ~in_core, "ring").when(in_core, "core").otherwise("outside")
    return pts.select("c_custkey", "lon", "lat", region.alias("region"))


@register(
    "haversine_nearest",
    oracle="""
    WITH pts AS (
      SELECT s_suppkey,
             (s_suppkey * 7 % 360) - 180 + 0.5 AS lon,
             (s_suppkey * 11 % 140) - 70 + 0.5 AS lat
      FROM supplier
    )
    SELECT s_suppkey, lon, lat,
           ROUND(6371.0 * 2 * asin(sqrt(
             pow(sin(radians(lat - (-41.3)) / 2), 2) +
             cos(radians(-41.3)) * cos(radians(lat)) * pow(sin(radians(lon - 174.8) / 2), 2)
           )), 3) AS dist_wellington_km
    FROM pts
    """,
    doc="Haversine distance as Column arithmetic (geo §2.8; buffered-locality matching, ref generate-tlc-localities.js:29-35).",
)
def haversine_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    pts = sup.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7 % 360) - 180 + 0.5).alias("lon"),
        ((F.col("s_suppkey") * 11 % 140) - 70 + 0.5).alias("lat"),
    )
    lat1, lon1 = F.lit(-41.3), F.lit(174.8)
    dlat = F.radians(F.col("lat") - lat1)
    dlon = F.radians(F.col("lon") - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(F.radians(lat1)) * F.cos(F.radians(F.col("lat"))) * F.pow(F.sin(dlon / 2), 2)
    dist = F.round(F.lit(6371.0) * 2 * F.asin(F.sqrt(a)), 3)
    return pts.select("s_suppkey", "lon", "lat", dist.alias("dist_wellington_km"))


# NZTM2000 / GRS80 constants for the transverse-mercator oracle SQL
_A = 6378137.0
_F = 1.0 / 298.257222101
_E2 = _F * (2 - _F)
_E4, _E6 = _E2 * _E2, _E2 * _E2 * _E2
_A0 = 1 - _E2 / 4 - 3 * _E4 / 64 - 5 * _E6 / 256
_A2 = 3.0 / 8 * (_E2 + _E4 / 4 + 15 * _E6 / 128)
_A4 = 15.0 / 256 * (_E4 + 3 * _E6 / 4)
_A6 = 35 * _E6 / 3072
_EP2 = _E2 / (1 - _E2)

_NZTM_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey,
         -47.0 + (c_custkey % 120) * 1e-1 AS lat,
         166.0 + (c_custkey % 130) * 1e-1 AS lon
  FROM customer
),
t1 AS (SELECT c_custkey, lat, lon, radians(lat) AS ep, radians(lon - 173.0) AS lam FROM pts),
t2 AS (SELECT *, sin(ep) AS sp, cos(ep) AS cp, tan(ep) AS tt FROM t1),
t3 AS (SELECT *,
         {_EP2!r} * cp * cp AS eta2,
         {_A!r} / sqrt(1 - {_E2!r} * sp * sp) AS nrad,
         {_A!r} * ({_A0!r} * ep - {_A2!r} * sin(2 * ep) + {_A4!r} * sin(4 * ep) - {_A6!r} * sin(6 * ep)) AS m,
         lam * cp AS lc
       FROM t2)
SELECT c_custkey, lat, lon,
  ROUND(1600000.0 + 0.9996 * nrad * (lc + lc * lc * lc / 6 * (1 - tt * tt + eta2)
        + lc * lc * lc * lc * lc / 120 * (5 - 18 * tt * tt + tt * tt * tt * tt + 14 * eta2 - 58 * tt * tt * eta2)), 2) AS easting,
  ROUND(10000000.0 + 0.9996 * (m + nrad * sp * lam * lc / 2
        + nrad * sp * lam * lc * lc * lc / 24 * (5 - tt * tt + 9 * eta2 + 4 * eta2 * eta2)), 2) AS northing
FROM t3
"""


@register(
    "nztm_projection",
    oracle=_NZTM_ORACLE,
    doc="NZTM2000 transverse-mercator forward projection as pure Column arithmetic — the reference's proj4 reproject (powerco.js:56-63) without a UDF.",
)
def nztm_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geo import transverse_mercator

    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        (F.lit(-47.0) + (F.col("c_custkey") % 120) * 0.1).alias("lat"),
        (F.lit(166.0) + (F.col("c_custkey") % 130) * 0.1).alias("lon"),
    )
    e, n = transverse_mercator(F.col("lat"), F.col("lon"))
    return pts.select(
        "c_custkey", "lat", "lon", F.round(e, 2).alias("easting"), F.round(n, 2).alias("northing")
    )


@register(
    "embedded_json_extract",
    oracle="""
    WITH html AS (
      SELECT doc_id,
             concat('<html><script>window.allOutages = [{"id": ', CAST(doc_id AS VARCHAR),
                    ', "region": "', lang, '", "customers": ', CAST(n_chars AS VARCHAR),
                    '}];</script></html>') AS page
      FROM documents
    ),
    extracted AS (
      SELECT doc_id, regexp_extract(page, 'allOutages[ \\t\\n\\x0B\\f\\r]*=[ \\t\\n\\x0B\\f\\r]*(\\[.*?\\])[ \\t\\n\\x0B\\f\\r]*;', 1) AS payload FROM html
    )
    SELECT doc_id,
           CAST(json_extract_string(payload, '$[0].id') AS BIGINT) AS outage_id,
           json_extract_string(payload, '$[0].region') AS region,
           CAST(json_extract_string(payload, '$[0].customers') AS BIGINT) AS customers
    FROM extracted WHERE payload <> ''
    """,
    doc="S6 HTML scrape → regex-extract embedded JSON → parse (ref power-outages/scrapers/orion.js:5-38), self-contained over synthesized pages.",
)
def embedded_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.strings import extract_embedded_json

    docs = load_table(spark, sf_dir, "documents")
    html = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><script>window.allOutages = [{"id": '),
            F.col("doc_id").cast("string"),
            F.lit(', "region": "'),
            F.col("lang"),
            F.lit('", "customers": '),
            F.col("n_chars").cast("string"),
            F.lit("}];</script></html>"),
        ).alias("page"),
    )
    extracted = html.select("doc_id", extract_embedded_json("page", "allOutages").alias("payload"))
    return extracted.where(F.col("payload") != "").select(
        "doc_id",
        F.get_json_object("payload", "$[0].id").cast("bigint").alias("outage_id"),
        F.get_json_object("payload", "$[0].region").alias("region"),
        F.get_json_object("payload", "$[0].customers").cast("bigint").alias("customers"),
    )


_ZX = "(c_custkey % 256)"
_ZY = "((c_custkey // 256) % 256)"


@register(
    "zorder_customer_grid",
    oracle=f"""
    SELECT c_custkey,
           CAST({_ZX} AS INT) AS gx,
           CAST({_ZY} AS INT) AS gy,
           {morton_key_sql(_ZX, _ZY, 8)} AS zkey
    FROM customer
    """,
    doc="Z-order (Morton) layout key over a 256x256 grid derived from c_custkey: the "
    "2-D clustering sort key for write-time layout (sortWithinPartitions(zkey) makes "
    "parquet row groups prunable on BOTH grid dimensions). Spark side is codegen'd "
    "shift/and bit math; the oracle is the same expression generated for DuckDB.",
)
def zorder_customer_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    gx = (F.col("c_custkey") % 256).cast("int")
    gy = ((F.col("c_custkey") / 256).cast("bigint") % 256).cast("int")
    return cust.select(
        "c_custkey",
        gx.alias("gx"),
        gy.alias("gy"),
        morton_key(gx, gy, 8).alias("zkey"),
    )
