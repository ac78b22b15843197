"""Geospatial scalar functions (SURVEY.md §2.8 geo, §2.9 tile math).

All tile/mercator math is pure arithmetic over Columns (the
reference's terrain-proxy/server.js:52-93 and
create_nationalmap_mbtiles.py:15-33 do the same math per request in
JS/Python) — so it runs inside codegen and is oracle-checkable in
ANSI SQL. Point-in-polygon (J5) is the ray-cast over a broadcast
polygon edge list, expressed with higher-order functions — no UDF.
"""

from __future__ import annotations

import functools
import math
import operator

from pyspark.sql import Column
from pyspark.sql import functions as F


def mercator_x(lon: Column | str) -> Column:
    """Web-Mercator forward X in [0,1) (ref terrain-proxy/server.js:52-54)."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    return (lon + F.lit(180.0)) / F.lit(360.0)


def mercator_y(lat: Column | str) -> Column:
    """Web-Mercator forward Y in [0,1) (ref terrain-proxy/server.js:56-60)."""
    lat = F.col(lat) if isinstance(lat, str) else lat
    rad = F.radians(lat)
    return (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(math.pi)) / F.lit(2.0)


def quadkey(x: Column, y: Column, z: int) -> Column:
    """Tile → quadkey string (interleaved bits), a locality-preserving
    partition key for tile tables at scale."""
    parts = []
    for i in range(z, 0, -1):
        digit = (F.shiftright(x.cast("bigint"), i - 1) % 2) + (F.shiftright(y.cast("bigint"), i - 1) % 2) * 2
        parts.append(digit.cast("string"))
    return F.concat(*parts) if parts else F.lit("")


def degree_distance(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Euclidean distance in degrees (ref generate-tlc-localities.js:29-35)."""
    return F.sqrt(F.pow(lat1 - lat2, 2) + F.pow(lon1 - lon2, 2))


def transverse_mercator(
    lat: Column,
    lon: Column,
    *,
    lat0: float = 0.0,
    lon0: float = 173.0,
    k0: float = 0.9996,
    false_e: float = 1600000.0,
    false_n: float = 10000000.0,
) -> tuple[Column, Column]:
    """Transverse-Mercator forward projection (easting, northing) as
    pure Column arithmetic — defaults are NZTM2000 / GRS80 (the
    reference reprojects NZTM↔WGS84 via proj4, powerco.js:56-63; this
    is the same Redfearn-series math with no UDF, so it vectorizes in
    codegen and is oracle-checkable in ANSI SQL).

    Series truncated at the μ³ term: sub-centimeter parity with proj4
    inside the NZTM extent — adequate for region mapping (the
    reference's use), not for survey-grade geodesy.
    """
    # GRS80 ellipsoid
    a = 6378137.0
    f = 1.0 / 298.257222101
    e2 = f * (2 - f)
    ep = F.radians(lat)
    lam = F.radians(lon - F.lit(lon0))

    sin_p, cos_p = F.sin(ep), F.cos(ep)
    t = F.tan(ep)
    eta2 = F.lit(e2 / (1 - e2)) * cos_p * cos_p
    n_rad = F.lit(a) / F.sqrt(1 - F.lit(e2) * sin_p * sin_p)  # prime vertical radius

    # meridian arc (series in e2)
    e4, e6 = e2 * e2, e2 * e2 * e2
    a0 = 1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256
    a2 = 3.0 / 8 * (e2 + e4 / 4 + 15 * e6 / 128)
    a4 = 15.0 / 256 * (e4 + 3 * e6 / 4)
    a6 = 35 * e6 / 3072
    m = F.lit(a) * (
        F.lit(a0) * ep - F.lit(a2) * F.sin(2 * ep) + F.lit(a4) * F.sin(4 * ep) - F.lit(a6) * F.sin(6 * ep)
    )
    m0 = 0.0 if lat0 == 0.0 else None
    assert m0 == 0.0, "lat0 != 0 not needed for NZTM"

    lc = lam * cos_p
    easting = F.lit(false_e) + F.lit(k0) * n_rad * (
        lc
        + lc * lc * lc / 6 * (1 - t * t + eta2)
        + lc * lc * lc * lc * lc / 120 * (5 - 18 * t * t + t * t * t * t + 14 * eta2 - 58 * t * t * eta2)
    )
    northing = F.lit(false_n) + F.lit(k0) * (
        m
        + n_rad * sin_p * lam * lc / 2
        + n_rad * sin_p * lam * lc * lc * lc / 24 * (5 - t * t + 9 * eta2 + 4 * eta2 * eta2)
    )
    return easting, northing


def point_in_polygon(lon: Column, lat: Column, ring: Column) -> Column:
    """Ray-cast point-in-polygon (J5; ref power-outages/
    region-mapper.js:18-31), as a pure higher-order-function fold over
    the ring's edges — JVM-side, no UDF, so a broadcast polygon list
    can be tested against billions of points.

    ``ring`` is ``array<struct<x:double,y:double>>`` (closed or open).
    Classic even-odd rule: count edges whose (y-range straddles the
    point) and (x-intersection right of the point). Edges wrap via
    ``(i+1) % n`` so an OPEN ring gets its closing edge; on a closed
    ring the wrap edge is degenerate (identical endpoints → never
    straddles) and contributes nothing. An empty ring contains
    nothing.
    """
    n = F.size(ring)
    idx = F.sequence(F.lit(0), n - F.lit(1))  # edge i: ring[i] → ring[(i+1) % n]

    def crosses(i: Column) -> Column:
        j = (i + 1) % n
        xi = F.element_at(ring, i + 1)["x"]
        yi = F.element_at(ring, i + 1)["y"]
        xj = F.element_at(ring, j + 1)["x"]
        yj = F.element_at(ring, j + 1)["y"]
        straddles = (yi > lat) != (yj > lat)
        x_int = (xj - xi) * (lat - yi) / (yj - yi) + xi
        return F.when(straddles & (lon < x_int), 1).otherwise(0)

    hits = F.aggregate(idx, F.lit(0), lambda acc, i: acc + crosses(i))
    # sequence(0, -1) is [0, -1], not empty: guard the empty ring
    return F.when(n == 0, F.lit(False)).otherwise((hits % 2) == 1)


def point_in_polygon_unrolled(lon: Column, lat: Column, coords: list[tuple[float, float]]) -> Column:
    """Ray-cast against a ring KNOWN AT PLAN TIME, unrolled per edge.

    Spark's higher-order functions are CodegenFallback — the
    ``aggregate()`` fold in :func:`point_in_polygon` evaluates every
    edge of every row interpreted (~10x slower than generated code).
    When the polygon is a literal (the overwhelmingly common case:
    config-driven region lists, broadcast boundary sets), the fold
    unrolls into a flat sum of per-edge CASE expressions that
    whole-stage codegen compiles like any other arithmetic. Identical
    even-odd semantics: a test checks it against the fold on concave,
    open and empty rings.
    """
    pts = [(float(x), float(y)) for x, y in coords]
    if not pts:
        return F.lit(False)  # empty ring contains nothing (degenerate input)
    if pts[0] != pts[-1]:
        pts.append(pts[0])  # close an open ring, like the runtime fold's modulo wrap does
    hits = []
    for (xi, yi), (xj, yj) in zip(pts, pts[1:]):
        if yi == yj:
            continue  # horizontal edge can never straddle lat
        straddles = (lat < yi) != (lat < yj)
        x_int = F.lit(xj - xi) * (lat - yi) / (yj - yi) + xi
        hits.append(F.when(straddles & (lon < x_int), 1).otherwise(0))
    if not hits:
        return F.lit(False)
    return (functools.reduce(operator.add, hits) % 2) == 1


def bilinear_interpolate(grid: Column, lon: Column, lat: Column, *, west: float, south: float, dlon: float, dlat: float) -> Column:
    """Bilinear interpolation over a broadcast 2-D grid (S13/§2.8
    math; ref terrain-proxy/server.js:160-177 — the NZGeoid2016
    lookup). ``grid`` is array<array<double>> rows south→north,
    columns west→east, attached as a literal/broadcast column.

    fx, fy are fractional grid coordinates; the four surrounding
    nodes blend by the usual (1-u)(1-v) weights — all Column
    arithmetic, evaluated per row inside codegen.
    """
    fx = (lon - F.lit(west)) / F.lit(dlon)
    fy = (lat - F.lit(south)) / F.lit(dlat)
    # clamp the base node to [0, n-2] so a point exactly on (or past)
    # the north/east boundary interpolates inside the last cell
    # instead of indexing past the array (element_at → NULL, or an
    # error under ANSI). Callers needing the reference's out-of-range
    # => 0 semantics mask with a range predicate (see geoid uses).
    nrows = F.size(grid)
    ncols = F.size(F.element_at(grid, 1))
    x0 = F.greatest(F.least(F.floor(fx).cast("int"), ncols - 2), F.lit(0))
    y0 = F.greatest(F.least(F.floor(fy).cast("int"), nrows - 2), F.lit(0))
    u = fx - x0
    v = fy - y0

    def node(yi: Column, xi: Column) -> Column:
        return F.element_at(F.element_at(grid, yi + 1), xi + 1)

    return (
        node(y0, x0) * (1 - u) * (1 - v)
        + node(y0, x0 + 1) * u * (1 - v)
        + node(y0 + 1, x0) * (1 - u) * v
        + node(y0 + 1, x0 + 1) * u * v
    )


def morton_key(x: Column | str, y: Column | str, bits: int = 8) -> Column:
    """Z-order (Morton) interleave of two ``bits``-wide grid
    coordinates — the multi-dimensional sort key for data layout:
    writing a table sorted by ``morton_key(x_cell, y_cell)`` clusters
    spatially-near rows into the same parquet row groups, so a 2-D
    range predicate prunes on BOTH dimensions from one sort order
    (a plain (x, y) sort only prunes on x).

    Pure bit arithmetic (shift/and/or), codegen'd JVM-side; the
    expression is identical integer math in any engine, so it is
    oracle-checkable. Cost is a projection — the benefit lands at
    write time via sortWithinPartitions(morton_key(...)).
    """
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        key = key + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i).cast("bigint")
        key = key + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1).cast("bigint")
    return key


def morton_key_sql(x: str, y: str, bits: int = 8) -> str:
    """The DuckDB/ANSI spelling of :func:`morton_key` — generated from
    the same loop so the two engines compute the same integer."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"
