"""Multi-format JSON ingest normalization tests (S3; the
convertJsonaisToAIS analog, ref ais-proxy/server.js:997-1215)."""

from __future__ import annotations

import importlib.util
import os
from collections import Counter
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from utils_infra_spark.sources.normalize import (
    _DIRECT_SCHEMA,
    _is_array_payload,
    normalize_any,
    normalize_aprs,
    normalize_array,
    normalize_catcher,
    normalize_direct,
    normalize_groups,
    normalize_minimal,
    unmatched_records,
)

CATCHER = '{"msgs": [{"mmsi": 512000001, "lat": -41.2, "lon": 174.8, "speed": 12.5, "course": 90.0, "shipname": "  KIWI TRADER ", "rxtime": "20240115083000"}, {"mmsi": 512000002, "lat": -36.8, "lon": 174.7, "speed": 0.1, "course": 10.0, "shipname": "AUCKLAND STAR", "rxtime": "20240115083010"}]}'
MINIMAL = '{"mmsi": 512000003, "lat": -43.5, "lon": 172.6, "ts": "2024-01-15T08:30:20Z"}'
GROUPS = '{"groups": [{"msgs": [{"userid": 512000004, "latitude": -45.9, "longitude": 170.5, "sog": 8.0, "cog": 200.5, "name": "SOUTHERN CROSS", "time_utc": "2024-01-15T08:30:30Z"}]}]}'
DIRECT = '{"mmsi": 512000005, "lat": -41.0, "lon": 174.0, "speed": 5.0, "course": 45.0, "name": "DIRECT ONE", "event_ts": "2024-01-15T08:30:40Z"}'
APRS = '{"call": "512000007", "lat": -39.1, "lng": 176.9, "speed": 3.0, "course": 120.0, "time": "2024-01-15T08:31:00Z"}'
APRS_ALPHA_CALL = '{"call": "ZL1ABC", "lat": -39.2, "lng": 176.8, "time": "2024-01-15T08:31:10Z"}'
BARE_ARRAY = '[{"mmsi": 512000008, "lat": -40.5, "lon": 173.2, "speed": 7.5, "course": 310.0, "name": "ARRAY ONE", "event_ts": "2024-01-15T08:31:20Z"}, {"mmsi": 512000009, "lat": -40.6, "lon": 173.3, "event_ts": "2024-01-15T08:31:30Z"}]'
INVALID_COORDS = '{"mmsi": 512000006, "lat": 95.0, "lon": 174.0, "ts": "2024-01-15T08:30:50Z"}'
GARBAGE = "this is not json at all {{{"
UNKNOWN_SHAPE = '{"vessel": "no recognizable fields", "x": 1}'
FIXTURES = [
    CATCHER, MINIMAL, GROUPS, DIRECT, APRS, APRS_ALPHA_CALL,
    BARE_ARRAY, INVALID_COORDS, GARBAGE, UNKNOWN_SHAPE,
]
# degenerate and ambiguous payloads: null containers and elements,
# two formats' fields in one object, and JSON that is not an object
EDGE = [
    '{"msgs": null}',
    '{"msgs": [null, {"mmsi": 512000010, "lat": -41.0, "lon": 174.0, "rxtime": "20240115083000"}]}',
    '{"groups": [null, {"msgs": null}, {"msgs": [null, {"userid": 512000011, "latitude": -45.0, "longitude": 170.0}]}]}',
    '{"groups": [{"msgs": null}]}',
    '{"mmsi": 512000012, "lat": -41.0, "lon": 174.0, "event_ts": "2024-01-15T08:30:00Z", "ts": "2024-01-15T08:31:00Z"}',
    '{"mmsi": 512000013, "lat": -41.0, "lon": 174.0, "ts": "2024-01-15T08:30:00Z", "event_ts": null}',
    '{"call": "512000014", "mmsi": 512000099, "lat": -39.0, "lng": 176.0, "time": "2024-01-15T08:31:00Z"}',
    '[{"mmsi": 512000015, "lat": -40.0, "lon": 173.0}, null, {"mmsi": 512000017, "lat": -40.0}, {"mmsi": null, "lat": -40.0, "lon": 173.0}, {"mmsi": 512000016, "lat": 95.0, "lon": 173.0}]',
    "[]",
    "[null]",
    "",
    "null",
    "42",
    '"a string"',
]


def frame(spark, payloads):
    return spark.createDataFrame([(p,) for p in payloads], "raw string")


@pytest.fixture(scope="module")
def raw(spark):
    return frame(spark, FIXTURES)


def union_reference(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """The six-branch union ``normalize_any`` replaced, rebuilt from the
    per-format functions: object formats see object payloads only,
    minimal only what direct's event_ts leaves, then the validity
    filter. Each branch scans the input again."""
    raw = F.col(raw_col)
    obj = df.where(~_is_array_payload(raw))
    no_event_ts = F.from_json(raw, _DIRECT_SCHEMA, {"mode": "PERMISSIVE"})["event_ts"].isNull()
    branches = [
        normalize_catcher(obj, raw_col),
        normalize_groups(obj, raw_col),
        normalize_direct(obj, raw_col),
        normalize_minimal(obj.where(no_event_ts), raw_col),
        normalize_aprs(obj, raw_col),
        normalize_array(df, raw_col),
    ]
    out = reduce(DataFrame.unionByName, branches)
    return out.where(
        F.col("mmsi").isNotNull() & F.col("lat").between(-90, 90) & F.col("lon").between(-180, 180)
    )


def _rows(df: DataFrame) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def test_catcher_branch(raw):
    rows = {r.mmsi: r for r in normalize_catcher(raw).collect()}
    assert set(rows) == {512000001, 512000002}
    assert rows[512000001].name == "KIWI TRADER"  # trimmed
    assert str(rows[512000001].event_ts) == "2024-01-15 08:30:00"  # compact format parsed


def test_minimal_branch(raw):
    mmsis = {r.mmsi for r in normalize_minimal(raw).collect()}
    assert 512000003 in mmsis
    [r] = [r for r in normalize_minimal(raw).collect() if r.mmsi == 512000003]
    assert r.speed is None and r.name is None


def test_groups_branch_double_explode(raw):
    [r] = normalize_groups(raw).collect()
    assert r.mmsi == 512000004 and r.speed == 8.0 and r.course == 200.5


def test_direct_branch(raw):
    [r] = normalize_direct(raw).collect()
    assert r.mmsi == 512000005 and r.name == "DIRECT ONE"


def test_aprs_branch(raw):
    [r] = normalize_aprs(raw).collect()
    # numeric callsign becomes the MMSI, lng becomes lon; the
    # alphabetic callsign casts to NULL and is dropped (parseInt guard)
    assert r.mmsi == 512000007 and r.lon == 176.9 and r.course == 120.0
    assert str(r.event_ts) == "2024-01-15 08:31:00"


def test_array_branch_emits_all_valid_elements(raw):
    rows = {r.mmsi: r for r in normalize_array(raw).collect()}
    assert set(rows) == {512000008, 512000009}
    assert rows[512000008].name == "ARRAY ONE"
    assert rows[512000009].speed is None  # sparse element still lands


def test_normalize_any_union(raw):
    rows = normalize_any(raw).collect()
    got = {r.mmsi: r.source_format for r in rows}
    # 8 valid vessels across all six branches; invalid coords,
    # garbage, alpha callsign, and unknown shapes are dropped, not
    # fatal (failure isolation)
    assert got == {
        512000001: "catcher",
        512000002: "catcher",
        512000003: "minimal",
        512000004: "groups",
        512000005: "direct",
        512000007: "aprs",
        512000008: "array",
        512000009: "array",
    }


def test_unmatched_dead_letter(raw):
    corrupt = {r.corrupt_record for r in unmatched_records(raw).collect()}
    # dead letter = every payload that produced NO canonical row:
    # unknown formats (garbage, unknown shape, non-numeric APRS
    # callsign) AND known-shape payloads whose records all failed the
    # validity filter (INVALID_COORDS) — so output ∪ dead-letter
    # covers the input and nothing can vanish silently (T6)
    assert corrupt == {GARBAGE, UNKNOWN_SHAPE, APRS_ALPHA_CALL, INVALID_COORDS}


def test_canonical_schema(raw):
    from utils_infra_spark.sources.normalize import CANONICAL_FIELDS

    out = normalize_any(raw)
    assert tuple(out.columns) == CANONICAL_FIELDS
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema] == [
        ("mmsi", "bigint", True),
        ("lat", "double", True),
        ("lon", "double", True),
        ("speed", "double", True),
        ("course", "double", True),
        ("name", "string", True),
        ("event_ts", "timestamp", True),
        ("source_format", "string", False),
    ]


def test_normalize_any_matches_union_on_fixtures_and_edges(spark):
    df = frame(spark, FIXTURES + EDGE)
    got, want = _rows(normalize_any(df)), _rows(union_reference(df))
    assert got == want
    # the edge payloads add rows from every container shape
    assert {r[0] for r in got} >= {512000010, 512000011, 512000012, 512000013, 512000014, 512000015}


def test_normalize_any_matches_union_on_seeded_feed(spark, tmp_path):
    spec = importlib.util.spec_from_file_location(
        "perfbench_inputs", os.path.join(os.path.dirname(__file__), "..", "perfbench", "inputs.py")
    )
    inputs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(inputs)
    counts = inputs.write_feed(str(tmp_path), 3, files=4, lines_per_file=100)
    df = spark.read.text(str(tmp_path)).withColumnRenamed("value", "raw")
    got, want = _rows(normalize_any(df)), _rows(union_reference(df))
    assert got == want
    assert sum(got.values()) > counts["lines"]  # multi-message lines landed whole
    assert {r[-1] for r in got} == {"catcher", "minimal", "groups", "direct", "aprs", "array"}


def test_normalize_any_plan_is_one_scan(raw):
    plan = normalize_any(raw)._jdf.queryExecution().optimizedPlan()
    assert plan.collectLeaves().size() == 1
    assert "Union" not in plan.toString()


def test_each_payload_in_exactly_one_output(spark):
    """Every payload yields at least one canonical row or exactly one
    dead-letter row — never both, never neither."""
    payloads = FIXTURES + EDGE
    df = frame(spark, payloads)
    dead = Counter(r.corrupt_record for r in unmatched_records(df).collect())
    per_payload = reduce(
        DataFrame.unionByName,
        [normalize_any(df.where(F.col("raw") == p)).select(F.lit(i).alias("i")) for i, p in enumerate(payloads)],
    )
    rows = Counter(r.i for r in per_payload.collect())
    assert set(dead) <= set(payloads)
    for i, p in enumerate(payloads):
        assert (rows[i] >= 1, dead[p]) in ((True, 0), (False, 1)), (p, rows[i], dead[p])


def test_array_payload_with_leading_whitespace_routed(spark):
    """A newline/tab-prefixed array payload must still hit the array
    branch (trim() strips only 0x20 spaces)."""
    df = spark.createDataFrame(
        [('\n\t [{"mmsi": 512000042, "lat": -41.0, "lon": 174.0, "event_ts": "2024-01-15T08:30:00Z"}]',)],
        "raw string",
    )
    rows = normalize_any(df).collect()
    assert [r.mmsi for r in rows] == [512000042]
    assert unmatched_records(df).count() == 0
