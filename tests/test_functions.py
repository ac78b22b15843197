"""Unit tests for scalar function families (§2.8) and operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from utils_infra_spark.functions.datetimes import (
    floor_bucket,
    format_aishub,
    parse_aishub,
    parse_compact_ts,
    parse_dmy_hm,
    parse_long_nz,
    relative_age,
)
from utils_infra_spark.functions.geo import degree_distance, point_in_polygon
from utils_infra_spark.functions.strings import (
    callsign_fallback,
    fold_diacritics,
    sanitize_log,
    zero_pad,
)
from utils_infra_spark.operators.aggregations import fixed_point
from utils_infra_spark.operators.filters import ci_contains_any_element
from utils_infra_spark.operators.joins import upsert_latest
from utils_infra_spark.plans.styling import apply_style_rules


def one(spark, col):
    return spark.range(1).select(col.alias("v")).first().v


def test_parse_compact_ts(spark):
    v = one(spark, parse_compact_ts(F.lit("20260220083000")))
    assert str(v) == "2026-02-20 08:30:00"


def test_parse_dmy_hm_and_tba(spark):
    assert str(one(spark, parse_dmy_hm(F.lit("20/02/2026 17:24")))) == "2026-02-20 17:24:00"
    assert one(spark, parse_dmy_hm(F.lit("TBA"))) is None


def test_parse_long_nz(spark):
    v = one(spark, parse_long_nz(F.lit("Friday, February 20, 2026 at 08:30")))
    assert str(v) == "2026-02-20 08:30:00"


def test_sanitize_log_strips_control_chars(spark):
    assert one(spark, sanitize_log(F.lit("a\x00b\x1fc\x7fd\té"))) == "abcdé"


def test_degree_distance(spark):
    v = one(spark, degree_distance(F.lit(-41.0), F.lit(174.0), F.lit(-44.0), F.lit(178.0)))
    assert v == pytest.approx(5.0)


def test_fixed_point_scale_zero_adds_no_multiply(spark):
    """At scale 0 the quantize step is floor(x + 0.5) alone: no
    ``* 1.0`` survives into the optimized plan, and halves round up
    toward +inf (-2.5 -> -2)."""
    import math

    xs = [2.5, -2.5, 0.5, -0.5, 0.0, 1.4, -1.6, 7.0]
    df = spark.createDataFrame([(x,) for x in xs], "x double").select(
        "x", fixed_point(F.col("x"), 0).alias("q")
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "* 1.0" not in plan, plan
    assert {(r.x, int(r.q)) for r in df.collect()} == {(x, math.floor(x + 0.5)) for x in xs}


def test_ci_contains_any_element(spark):
    arr = F.array(F.lit("Wellington"), F.lit("Hutt Valley"))
    assert one(spark, ci_contains_any_element(arr, "HUTT")) is True
    assert one(spark, ci_contains_any_element(arr, "porirua")) is False


def test_aishub_roundtrip(spark):
    s = one(spark, format_aishub(F.lit("2026-02-20 08:30:00").cast("timestamp")))
    assert s == "2026-02-20 08:30:00 UTC"
    assert str(one(spark, parse_aishub(F.lit(s)))) == "2026-02-20 08:30:00"


def test_floor_bucket_minus_one(spark):
    # ref weather-proxy: floor to 10-min bucket minus one bucket
    v = one(spark, floor_bucket(F.lit("2026-02-20 08:37:45").cast("timestamp"), 600, -1))
    assert str(v) == "2026-02-20 08:20:00"


def test_relative_age(spark):
    now = F.lit("2026-02-20 12:00:00").cast("timestamp")
    assert one(spark, relative_age(F.lit("2026-02-20 11:30:00").cast("timestamp"), now)) == "30m ago"
    assert one(spark, relative_age(F.lit("2026-02-20 02:00:00").cast("timestamp"), now)) == "10h ago"
    assert one(spark, relative_age(F.lit("2026-02-10 12:00:00").cast("timestamp"), now)) == "10d ago"


def test_fold_diacritics(spark):
    assert one(spark, fold_diacritics(F.lit("Ōtāhuhu"))) == "Otahuhu"


def test_ascii_guarded_passes_ascii_raises_accented(spark):
    """The ASCII-contract guard for cross-engine levenshtein/lower
    blocking keys: ASCII (and NULL) pass through unchanged; an
    accented name raises AT EXECUTION with the call-site context,
    converting a silent cross-engine divergence into a loud failure.
    The entity-resolution pipeline's nk key goes through this guard."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from utils_infra_spark.functions.strings import ascii_guarded

    ok = spark.createDataFrame(
        [("forest blue",), ("MIDNIGHT rose",), (None,)], "p_name string"
    )
    got = [r[0] for r in ok.select(ascii_guarded("p_name", "t").alias("k")).collect()]
    assert got == ["forest blue", "MIDNIGHT rose", None]

    accented = spark.createDataFrame([("café royale",)], "p_name string")
    with pytest.raises(SparkRuntimeException, match="non-ASCII blocking key"):
        accented.select(ascii_guarded("p_name", "entity_resolution_parts").alias("k")).collect()

    # the guard composes under lower() exactly as the queries use it
    with pytest.raises(SparkRuntimeException, match="entity_resolution_parts"):
        accented.select(
            F.lower(ascii_guarded("p_name", "entity_resolution_parts")).alias("nk")
        ).collect()

    # the context string is carried as a LITERAL, never through the
    # SQL parser: quotes and backslashes survive into the message
    # instead of breaking parsing or mangling escapes
    hostile = r"call 'site' C:\path\x41"
    with pytest.raises(SparkRuntimeException, match=r"C:\\path\\x41"):
        accented.select(ascii_guarded("p_name", hostile).alias("k")).collect()


def test_zero_pad(spark):
    assert one(spark, zero_pad(F.lit(7), 2)) == "07"


def test_callsign_fallback(spark):
    df = spark.createDataFrame(
        [("UNKNOWN", "NZ101", None), ("KIWI", "X", "Y"), ("UNKNOWN", None, "REG7")],
        "callsign string, flight string, reg string",
    )
    out = [r.c for r in df.select(callsign_fallback("callsign", "flight", "reg").alias("c")).collect()]
    assert out == ["NZ101", "KIWI", "REG7"]


@pytest.mark.parametrize(
    "lon,lat,expect",
    [
        (0.0, 0.0, True),      # center
        (9.9, 9.9, True),      # near corner, inside
        (10.1, 0.0, False),    # just outside east edge
        (-10.1, -10.1, False), # outside corner
    ],
)
def test_point_in_polygon_square(spark, lon, lat, expect):
    ring = F.array(
        *[
            F.struct(F.lit(float(x)).alias("x"), F.lit(float(y)).alias("y"))
            for x, y in [(-10, -10), (10, -10), (10, 10), (-10, 10), (-10, -10)]
        ]
    )
    got = one(spark, point_in_polygon(F.lit(lon), F.lit(lat), ring).cast("boolean"))
    assert got is expect


def test_point_in_polygon_concave(spark):
    # L-shape: the notch (5,5) is OUTSIDE
    coords = [(0, 0), (10, 0), (10, 4), (4, 4), (4, 10), (0, 10), (0, 0)]
    ring = F.array(*[F.struct(F.lit(float(x)).alias("x"), F.lit(float(y)).alias("y")) for x, y in coords])
    assert one(spark, point_in_polygon(F.lit(5.0), F.lit(5.0), ring)) is False
    assert one(spark, point_in_polygon(F.lit(2.0), F.lit(8.0), ring)) is True
    assert one(spark, point_in_polygon(F.lit(8.0), F.lit(2.0), ring)) is True


def test_upsert_latest_merge(spark):
    base = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "A"), (2, "2024-01-01 10:00:00", "B")],
        "k int, ts string, v string",
    ).selectExpr("k", "cast(ts as timestamp) ts", "v")
    updates = spark.createDataFrame(
        [(1, "2024-01-01 11:00:00", "A2"), (3, "2024-01-01 09:00:00", "C")],
        "k int, ts string, v string",
    ).selectExpr("k", "cast(ts as timestamp) ts", "v")
    out = {r.k: r.v for r in upsert_latest(base, updates, "k", "ts").collect()}
    assert out == {1: "A2", 2: "B", 3: "C"}  # newer wins, absent inserted


def test_style_rules_first_match_and_delete(spark):
    df = spark.createDataFrame(
        [(1, "Point", 5.0), (2, "Point", 50.0), (3, "LineString", 5.0), (4, "Point", 500.0)],
        "id int, geometry_type string, val double",
    )
    rules = [
        {"query": "val >= 500", "styles": {}, "delete": True},
        {"query": "val >= 50", "styles": {"color": "red"}},
        {"query": "val >= 5", "styles": {"color": "orange"}},
    ]
    defaults = {"Point": {"color": "blue"}, "LineString": {"color": "green"}}
    out = {r.id: r.color for r in apply_style_rules(df, rules, defaults=defaults).collect()}
    assert out == {1: "orange", 2: "red", 3: "orange"}  # 4 deleted; first match wins


def test_valid_mmsi_branches(spark):
    from utils_infra_spark.operators.filters import valid_mmsi

    mids = ["512", "316", "366"]  # NZ, CA, US
    cases = [
        (512000001, True),   # standard vessel, MID at 1-3
        (316001234, True),   # standard vessel
        (123456789, False),  # MID 123 not in set
        (5120001, True),     # 7 digits: short base station (ref accepts 7-9)
        (51200001, True),    # 8 digits: short base station
        (3160001, True),     # 7-digit short base station, CA MID
        (985120001, False),  # '98' has no branch in the reference: standard MID 985 invalid
        (123456, False),     # 6 digits — too short
        (51200000111, False),  # 11 digits
        (995123456, True),   # AtoN: '99' prefix, MID at 3-5
        (111512001, True),   # SAR aircraft: '111' prefix, MID at 4-6
        (111316000, True),   # SAR aircraft
        (111123456, False),  # SAR with bad MID
        (993999999, False),  # AtoN with bad MID
    ]
    df = spark.createDataFrame([(m,) for m, _ in cases], "mmsi long")
    got = {r.mmsi: r.ok for r in df.select("mmsi", valid_mmsi("mmsi", mids).alias("ok")).collect()}
    for mmsi, want in cases:
        assert got[mmsi] is want, (mmsi, got[mmsi], want)
    # string-typed MMSIs keep leading zeros → prefixed branches
    scases = [
        ("005120001", True),   # coast station '00' + NZ MID
        ("051200012", True),   # group call '0' + NZ MID
        ("001230001", False),  # coast station with bad MID
    ]
    sdf = spark.createDataFrame([(m,) for m, _ in scases], "mmsi string")
    sgot = {r.mmsi: r.ok for r in sdf.select("mmsi", valid_mmsi("mmsi", mids).alias("ok")).collect()}
    for mmsi, want in scases:
        assert sgot[mmsi] is want, (mmsi, sgot[mmsi], want)


def test_nztm_known_point(spark):
    """LINZ reference: Wellington ~(-41.2889, 174.7772) → NZTM
    ≈ E 1748700, N 5427600 (±150 m tolerance for the truncated
    series + rounded inputs)."""
    from pyspark.sql import functions as F

    from utils_infra_spark.functions.geo import transverse_mercator

    e, n = transverse_mercator(F.lit(-41.2889), F.lit(174.7772))
    row = spark.range(1).select(e.alias("e"), n.alias("n")).first()
    assert abs(row.e - 1748700) < 200, row.e
    assert abs(row.n - 5427600) < 200, row.n


def test_sanitize_properties(spark):
    from utils_infra_spark.operators.filters import sanitize_properties

    df = spark.createDataFrame(
        [({"name": "A", "tags": '["x","y"]', "nested": '{"a":1}', "_metadata": '{"keep":1}', "n": "5"},)],
        "props map<string,string>",
    )
    [row] = df.select(sanitize_properties("props").alias("p")).collect()
    assert set(row.p) == {"name", "n", "_metadata"}  # arrays/objects dropped, _metadata kept


def test_drop_third_dimension(spark):
    from pyspark.sql import functions as F

    from utils_infra_spark.operators.filters import drop_third_dimension

    df = spark.createDataFrame([([[174.0, -41.0, 12.5], [175.0, -42.0, 13.0]],)], "coords array<array<double>>")
    [row] = df.select(drop_third_dimension("coords").alias("c")).collect()
    assert row.c == [[174.0, -41.0], [175.0, -42.0]]


def test_fold_diacritics_sort_order(spark):
    """O3 locale-ish sort: ordering by the folded key interleaves
    macron names with plain ones (ref generate-tlc-localities.js:113-114)."""
    from pyspark.sql import functions as F

    from utils_infra_spark.functions.strings import fold_diacritics

    df = spark.createDataFrame([("Ōtaki",), ("Oamaru",), ("Ashburton",), ("Ōpōtiki",)], "name string")
    out = [r.name for r in df.orderBy(F.lower(fold_diacritics("name")), "name").collect()]
    assert out == ["Ashburton", "Oamaru", "Ōpōtiki", "Ōtaki"]


def test_bilinear_interpolate(spark):
    from utils_infra_spark.functions.geo import bilinear_interpolate

    # 3x3 grid over lon 0..2, lat 0..2: value = 10*lat + lon at nodes
    grid = F.array(*[F.array(*[F.lit(float(10 * y + x)) for x in range(3)]) for y in range(3)])
    df = spark.createDataFrame([(0.5, 0.5), (1.0, 1.0), (1.5, 0.25)], "lon double, lat double")
    out = [
        r.v
        for r in df.select(
            bilinear_interpolate(grid, F.col("lon"), F.col("lat"), west=0.0, south=0.0, dlon=1.0, dlat=1.0).alias("v")
        ).collect()
    ]
    # linear field → interpolation is exact: 10*lat + lon
    assert out == [5.5, 11.0, 4.0]


def test_format_eta(spark):
    from utils_infra_spark.functions.datetimes import format_eta

    df = spark.createDataFrame([(2, 9, 8, 5), (12, 31, 23, 59), (None, 1, 2, 3)], "m int, d int, h int, mi int")
    out = [r.eta for r in df.select(format_eta("m", "d", "h", "mi").alias("eta")).collect()]
    assert out == ["02/09 08:05", "12/31 23:59", None]


def test_morton_key_known_values_and_locality(spark):
    from utils_infra_spark.functions.geo import morton_key

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (5, 3), (255, 255)], "x: int, y: int"
    )
    out = {(r.x, r.y): r.z for r in df.select("x", "y", morton_key("x", "y", 8).alias("z")).collect()}
    # interleave: x bits land at even positions, y bits at odd
    assert out[(0, 0)] == 0 and out[(1, 0)] == 1 and out[(0, 1)] == 2 and out[(1, 1)] == 3
    # x=5 (101), y=3 (011): bits interleave to y2x2 y1x1 y0x0 = 0 1 | 1 0 | 1 1
    assert out[(5, 3)] == 0b011011
    assert out[(255, 255)] == 2**16 - 1
    # locality: a unit step in x or y changes the key by a bounded
    # amount within a 2x2 quad (keys of a quad are contiguous)
    assert {out[(0, 0)], out[(1, 0)], out[(0, 1)], out[(1, 1)]} == {0, 1, 2, 3}


def test_top_n_per_group_both_branches(spark):
    from utils_infra_spark.operators.windows import top_n_per_group

    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 7)], "k string, v int"
    )
    from pyspark.sql import functions as F

    grouped = {
        (r.k, r.v): r.rnk
        for r in top_n_per_group(df, ["k"], [F.desc("v")], 2).collect()
    }
    assert grouped == {("a", 3): 1, ("a", 2): 2, ("b", 9): 1, ("b", 7): 2}

    # global branch: same rows+ranks as a window would give, but via
    # orderBy().limit() (plan shape asserted in test_plans)
    global_top = top_n_per_group(df, [], [F.desc("v")], 3).collect()
    assert [(r.k, r.v, r.rnk) for r in global_top] == [
        ("b", 9, 1), ("b", 7, 2), ("a", 3, 3)
    ]


def test_point_in_polygon_unrolled_matches_hof_fold(spark):
    # the plan-time-literal unrolling must agree with the HOF fold on
    # a concave ring, on an open (unclosed) ring, near edges, and on
    # an empty ring (which contains nothing)
    from utils_infra_spark.functions.geo import point_in_polygon_unrolled

    coords = [(0, 0), (10, 0), (10, 4), (4, 4), (4, 10), (0, 10), (0, 0)]
    ring_col = F.array(*[F.struct(F.lit(float(x)).alias("x"), F.lit(float(y)).alias("y")) for x, y in coords])
    empty_ring = F.expr("CAST(array() AS array<struct<x:double,y:double>>)")
    pts = spark.createDataFrame(
        [(5.0, 5.0), (2.0, 8.0), (8.0, 2.0), (-1.0, -1.0), (3.9, 9.9), (4.1, 9.9), (9.9, 3.9)],
        "lon double, lat double",
    )
    lon, lat = F.col("lon"), F.col("lat")
    rows = pts.select(
        point_in_polygon(lon, lat, ring_col).alias("a"),
        point_in_polygon_unrolled(lon, lat, coords).alias("b"),
        point_in_polygon_unrolled(lon, lat, coords[:-1]).alias("b_open"),
        point_in_polygon(lon, lat, empty_ring).alias("a_empty"),
        point_in_polygon_unrolled(lon, lat, []).alias("b_empty"),
    ).collect()
    for r in rows:
        assert r.a == r.b == r.b_open
        assert r.a_empty is False and r.b_empty is False


def test_template_round_matches_js_math_round(spark):
    """'{{x|round}}' must follow JS Math.round (half toward +Infinity,
    ref display-proxy/index.html:1075): Math.round(-2.5) is -2, where
    Spark's HALF_UP would give -3."""
    from utils_infra_spark.plans.templates import compile_template

    df = spark.createDataFrame(
        [(1, -2.5), (2, 2.5), (3, -2.4), (4, 2.4)], "id int, x double"
    )
    out = {r.id: r.s for r in df.select("id", compile_template("{{x|round}}").alias("s")).collect()}
    assert out == {1: "-2", 2: "3", 3: "-2", 4: "2"}


def test_point_in_polygon_open_ring_all_variants_agree(spark):
    """An OPEN ring (no repeated first vertex) must include its
    closing edge in both variants: the HOF fold and the plan-time
    unrolled form. Point (-5, 5) is OUTSIDE the open square
    [(0,0),(10,0),(10,10),(0,10)] — without the closing (0,10)->(0,0)
    edge the even-odd count is 1 and it reads inside."""
    from pyspark.sql import functions as F

    from utils_infra_spark.functions.geo import point_in_polygon, point_in_polygon_unrolled

    open_sq = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    closed_sq = open_sq + [open_sq[0]]
    pts = [(-5.0, 5.0, False), (5.0, 5.0, True), (15.0, 5.0, False), (5.0, -1.0, False)]
    df = spark.createDataFrame([(x, y) for x, y, _ in pts], "x double, y double")
    for coords in (open_sq, closed_sq):
        ring = F.array(*[F.struct(F.lit(x).alias("x"), F.lit(y).alias("y")) for x, y in coords])
        got_hof = [r[0] for r in df.select(point_in_polygon(F.col("x"), F.col("y"), ring)).collect()]
        got_unr = [r[0] for r in df.select(point_in_polygon_unrolled(F.col("x"), F.col("y"), coords)).collect()]
        want = [w for _, _, w in pts]
        assert got_hof == got_unr == want, (coords, got_hof, got_unr)


def test_asof_join_null_payload_field_survives(spark):
    """The matched right ROW's legitimately-NULL field must come
    through as NULL (merge_asof semantics) — not be skipped in favor
    of an older right row's value."""
    from utils_infra_spark.operators.temporal import asof_backward_join

    left = spark.createDataFrame([(1, 3)], "k int, t int")
    right = spark.createDataFrame([(1, 1, 5.0), (1, 2, None)], "k int, t int, price double")
    [row] = asof_backward_join(left, right, "k", "t", "t", ["price"]).collect()
    assert row.matched_price is None


def test_latest_wins_passes_map_columns_through(spark):
    """Non-orderable payload columns (maps) ride in the value struct
    but stay out of the ordering key — max(struct(everything)) would
    reject the whole frame with INVALID_ORDERING_TYPE, a regression
    against the window form this operator replaced."""
    from utils_infra_spark.operators.joins import latest_wins

    rows = [
        ("a", 1, {"x": 1}),
        ("a", 3, {"y": 2}),
        ("a", 2, {"z": 3}),
        ("b", 5, None),
    ]
    df = spark.createDataFrame(rows, "k string, ts int, attrs map<string,int>")
    out = {r["k"]: (r["ts"], r["attrs"]) for r in latest_wins(df, "k", "ts").collect()}
    assert out["a"] == (3, {"y": 2})
    assert out["b"] == (5, None)


def test_cdc_apply_semantics_and_plan(spark):
    """MERGE-INTO contract: latest op per key wins (a delete followed
    by a later upsert resurrects the key; an upsert followed by a
    later delete removes it), untouched base rows pass through, and
    the base side pays only an anti-join against the distilled
    touched-key set (broadcast here — the base never shuffles)."""
    from utils_infra_spark.operators.joins import cdc_apply

    base = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 20.0), ("c", 1, 30.0)], "k string, ver int, v double"
    )
    changes = spark.createDataFrame(
        [
            ("a", 2, 11.0, "U"),   # plain update
            ("b", 2, 0.0, "D"),    # delete...
            ("b", 3, 22.0, "U"),   # ...then a LATER upsert wins
            ("c", 2, 0.0, "U"),
            ("c", 3, 0.0, "D"),    # latest op is the delete
            ("d", 1, 40.0, "U"),   # insert of a brand-new key
        ],
        "k string, ver int, v double, op string",
    )
    out = cdc_apply(base, changes, "k", "ver")
    got = {r["k"]: (r["ver"], r["v"]) for r in out.collect()}
    assert got == {"a": (2, 11.0), "b": (3, 22.0), "d": (1, 40.0)}
    # a NULL op on the winning row is an UPSERT, never a silent delete
    null_op = spark.createDataFrame(
        [("a", 2, 99.0, None)], "k string, ver int, v double, op string"
    )
    got2 = {r["k"]: (r["ver"], r["v"]) for r in cdc_apply(base, null_op, "k", "ver").collect()}
    assert got2["a"] == (2, 99.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan  # tiny distilled log broadcasts


def test_scd2_history_collapses_and_intervals(spark):
    """Consecutive identical states collapse into one version; NULL→x
    and x→NULL both open versions (null-safe change detection);
    intervals chain (valid_to of version k = valid_from of k+1) and
    only the last version is current."""
    from utils_infra_spark.operators.temporal import scd2_history

    rows = [
        ("u", 1, "A", 1),
        ("u", 2, "A", 2),   # same state — no new version
        ("u", 3, "B", 3),
        ("u", 4, None, 4),  # B -> NULL opens a version
        ("u", 5, None, 5),  # NULL -> NULL does not
        ("u", 6, "A", 6),   # back to A: A appears TWICE in history
        ("v", 9, "Z", 7),
    ]
    df = spark.createDataFrame(rows, "k string, ts int, state string, eid int")
    out = sorted(
        (r["k"], r["valid_from"], r["state"], r["valid_to"], r["is_current"])
        for r in scd2_history(df, "k", "ts", ["state"], "eid").collect()
    )
    assert out == [
        ("u", 1, "A", 3, False),
        ("u", 3, "B", 4, False),
        ("u", 4, None, 6, False),
        ("u", 6, "A", None, True),
        ("v", 9, "Z", None, True),
    ]


def test_retract_aggregate_merge_algebra(spark):
    """Full retraction drops the key; a log-only key appears; the
    merge equals a full signed recompute (the algebra the IVM query's
    oracle checks at scale)."""
    from utils_infra_spark.operators.temporal import retract_aggregate_merge

    base = spark.createDataFrame(
        [("a", 2, 3_000_000), ("b", 1, 5_000_000)], "k string, n long, total_micro long"
    )
    log = spark.createDataFrame(
        [
            ("a", -1, 1_000_000),   # retract one of a's rows
            ("b", -1, 5_000_000),   # retract b entirely -> drops
            ("c", 1, 7_000_000),    # brand-new key from the log
        ],
        "k string, sign int, micro long",
    )
    got = {
        r["k"]: (r["n"], r["total_micro"])
        for r in retract_aggregate_merge(base, log, "k").collect()
    }
    assert got == {"a": (1, 2_000_000), "c": (1, 7_000_000)}


def test_scd2_history_null_ts_does_not_reopen(spark):
    """A NULL-ts row (precondition violation) must not make the row
    AFTER it open a spurious version: first-row detection is
    row_number()==1, not lag(ts) IS NULL. Here all states are 'A', so
    exactly ONE version exists regardless of the NULL."""
    from utils_infra_spark.operators.temporal import scd2_history

    df = spark.createDataFrame(
        [("u", None, "A", 1), ("u", 1, "A", 2), ("u", 2, "A", 3)],
        "k string, ts int, state string, eid int",
    )
    out = scd2_history(df, "k", "ts", ["state"], "eid").collect()
    assert len(out) == 1
    assert out[0]["state"] == "A" and out[0]["is_current"]


def test_retract_aggregate_merge_custom_log_column(spark):
    """The log's value column is a parameter, not a hardcoded 'micro'
    literal — customizing it must reach the signed delta aggregate."""
    from utils_infra_spark.operators.temporal import retract_aggregate_merge

    base = spark.createDataFrame([("a", 2, 3_000_000)], "k string, n long, total_micro long")
    log = spark.createDataFrame(
        [("a", -1, 1_000_000)], "k string, sign int, delta_micro long"
    )
    got = {
        r["k"]: (r["n"], r["total_micro"])
        for r in retract_aggregate_merge(
            base, log, "k", log_micro_col="delta_micro"
        ).collect()
    }
    assert got == {"a": (1, 2_000_000)}


def test_weighted_topk_sample_duplicate_id_deterministic(spark):
    """Duplicate ids share every md5 draw; the id tiebreak keeps the
    exact-k winner set identical under any partitioning."""
    from utils_infra_spark.pipeline.sampling import weighted_topk_sample

    rows = [(f"d{i % 5}", 900) for i in range(20)]  # 5 ids x 4 copies
    df = spark.createDataFrame(rows, "doc_id string, n_chars int")
    outs = []
    for parts in (1, 7):
        out = weighted_topk_sample(
            df.repartition(parts), "doc_id", "FLOOR(n_chars / 300)", 7
        )
        outs.append(sorted((r["doc_id"], r["sample_key"]) for r in out.collect()))
    assert outs[0] == outs[1] and len(outs[0]) == 7


def test_interval_coalesce_running_max_not_prev_end(spark):
    """The case gap sessionization gets wrong: a long interval [0, 100)
    swallows [10, 20) and [30, 40); [20, 25) touches nothing new; the
    next span only opens past the RUNNING max end (100), not past the
    previous row's end (40)."""
    from utils_infra_spark.operators.temporal import interval_coalesce

    rows = [
        ("u", 0, 100), ("u", 10, 20), ("u", 30, 40), ("u", 100, 110),
        ("u", 250, 260), ("v", 5, 6),
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got = sorted(
        (r["k"], r["span_id"], r["span_start"], r["span_end"], r["n_intervals"])
        for r in interval_coalesce(df, "k", "s", "e").collect()
    )
    # [100, 110) touches [0, 100) (half-open) -> merges into span 1
    assert got == [
        ("u", 1, 0, 110, 4),
        ("u", 2, 250, 260, 1),
        ("v", 1, 5, 6, 1),
    ]


def test_interval_coalesce_reserved_output_names_raise(spark):
    """r9 ADVICE: a key column named span_start/span_end/n_intervals
    would reach the final aggregate as both a grouping column and an
    agg alias — the guard must fail loudly, not emit duplicates."""
    import pytest

    from utils_infra_spark.operators.temporal import interval_coalesce

    for bad in ("span_start", "span_end", "n_intervals", "span_id", "__new_span"):
        df = spark.createDataFrame(
            [("u", 0, 10)], f"{bad} string, s long, e long"
        )
        with pytest.raises(ValueError, match=bad):
            interval_coalesce(df, bad, "s", "e")

