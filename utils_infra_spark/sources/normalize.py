"""Multi-format JSON ingest normalization (S3; SURVEY.md §1.2).

The reference's ``convertJsonaisToAIS`` (ais-proxy/server.js:997-1215)
accepts six wire shapes — AIS-catcher ``{msgs:[...]}`` arrays, minimal
``{mmsi,lat,lon}``, full jsonais ``{groups:[{msgs:[...]}]}``, APRS,
direct canonical, bare arrays — and emits one canonical record.

Spark shape: each format has an explicit schema for a PERMISSIVE
``from_json`` and one record builder that maps the parsed payload to
an array of canonical structs. ``normalize_any`` reads the input once:
one projection parses each payload under every schema, and one
``inline`` of the concatenated record arrays emits the rows — no
union of per-format branches, so the source is scanned once.
``unmatched_records`` tests the same arrays, so every payload with no
valid record lands in the dead-letter output instead of killing the
batch or vanishing (failure isolation, T6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# canonical AIS-like record (SURVEY §1.3 entity 1, trimmed to the
# fields every wire format can supply)
CANONICAL_FIELDS = ("mmsi", "lat", "lon", "speed", "course", "name", "event_ts", "source_format")

_CATCHER_SCHEMA = (
    "struct<msgs: array<struct<mmsi: bigint, lat: double, lon: double,"
    " speed: double, course: double, shipname: string, rxtime: string>>>"
)
_MINIMAL_SCHEMA = "struct<mmsi: bigint, lat: double, lon: double, ts: string>"
_GROUPS_SCHEMA = (
    "struct<groups: array<struct<msgs: array<struct<userid: bigint,"
    " latitude: double, longitude: double, sog: double, cog: double,"
    " name: string, time_utc: string>>>>>"
)
_DIRECT_SCHEMA = (
    "struct<mmsi: bigint, lat: double, lon: double, speed: double,"
    " course: double, name: string, event_ts: string>"
)
_APRS_SCHEMA = (
    "struct<call: string, lat: double, lng: double, speed: double,"
    " course: double, time: string>"
)
_ARRAY_SCHEMA = f"array<{_DIRECT_SCHEMA}>"


def _parse(raw: Column, schema: str) -> Column:
    return F.from_json(raw, schema, {"mode": "PERMISSIVE"})


def _is_array_payload(raw: Column) -> Column:
    """The Spark analog of the reference's ``Array.isArray`` dispatch
    (server.js:1196-1203). Needed lexically: ``from_json`` with an
    array schema silently WRAPS a single JSON object into a
    one-element array, which would double-claim object payloads.
    Regex anchor, not trim(): Spark's trim strips only 0x20 spaces,
    so a payload led by a newline/tab would be misrouted."""
    return raw.rlike(r"^\s*\[")


def _record(fmt: str, *values: Column) -> Column:
    """One canonical record: ``values`` are the CANONICAL_FIELDS
    before ``source_format``, which is ``fmt``."""
    fields = [v.alias(n) for n, v in zip(CANONICAL_FIELDS[:-1], values, strict=True)]
    return F.struct(*fields, F.lit(fmt).alias("source_format"))


def _null(dtype: str) -> Column:
    return F.lit(None).cast(dtype)


def _valid(r: Column | DataFrame) -> Column:
    """normalize_any's validity filter, on a record or on its rows."""
    return r["mmsi"].isNotNull() & r["lat"].between(-90, 90) & r["lon"].between(-180, 180)


# Record builders: the payload parsed under the format's schema ->
# array<canonical struct>, null or empty when the format does not
# claim the payload. Each format's field mapping lives only here.


def _catcher_records(p: Column) -> Column:
    def rec(m: Column) -> Column:
        ts = F.to_timestamp(m["rxtime"], "yyyyMMddHHmmss")
        return _record("catcher", m["mmsi"], m["lat"], m["lon"], m["speed"], m["course"], F.trim(m["shipname"]), ts)

    return F.transform(p["msgs"], rec)


def _minimal_records(p: Column) -> Column:
    no_double, ts = _null("double"), F.to_timestamp(p["ts"])
    rec = _record("minimal", p["mmsi"], p["lat"], p["lon"], no_double, no_double, _null("string"), ts)
    return F.when(p["mmsi"].isNotNull() & p["lat"].isNotNull(), F.array(rec))


def _groups_records(p: Column) -> Column:
    def rec(m: Column) -> Column:
        ts = F.to_timestamp(m["time_utc"])
        return _record("groups", m["userid"], m["latitude"], m["longitude"], m["sog"], m["cog"], F.trim(m["name"]), ts)

    # coalesce: flatten is null if any group's msgs is null
    return F.flatten(F.transform(p["groups"], lambda g: F.coalesce(F.transform(g["msgs"], rec), F.array())))


def _direct_records(p: Column) -> Column:
    ts = F.to_timestamp(p["event_ts"])
    rec = _record("direct", p["mmsi"], p["lat"], p["lon"], p["speed"], p["course"], F.trim(p["name"]), ts)
    return F.when(p["mmsi"].isNotNull() & p["event_ts"].isNotNull(), F.array(rec))


def _aprs_records(p: Column) -> Column:
    # try_cast: ANSI mode makes a plain cast THROW on 'ZL1ABC'
    mmsi, ts = p["call"].try_cast("bigint"), F.to_timestamp(p["time"])
    rec = _record("aprs", mmsi, p["lat"], p["lng"], p["speed"], p["course"], _null("string"), ts)
    return F.when(mmsi.isNotNull() & p["lat"].isNotNull() & p["lng"].isNotNull(), F.array(rec))


def _array_records(p: Column) -> Column:
    def rec(m: Column) -> Column:
        ts = F.to_timestamp(m["event_ts"])
        return _record("array", m["mmsi"], m["lat"], m["lon"], m["speed"], m["course"], F.trim(m["name"]), ts)

    return F.transform(F.filter(p, lambda m: m["mmsi"].isNotNull() & m["lat"].isNotNull()), rec)


# format -> (from_json schema, record builder)
_FORMATS = {
    "catcher": (_CATCHER_SCHEMA, _catcher_records),
    "groups": (_GROUPS_SCHEMA, _groups_records),
    "direct": (_DIRECT_SCHEMA, _direct_records),
    "minimal": (_MINIMAL_SCHEMA, _minimal_records),
    "aprs": (_APRS_SCHEMA, _aprs_records),
    "array": (_ARRAY_SCHEMA, _array_records),
}


def _normalize(df: DataFrame, raw_col: str, fmt: str) -> DataFrame:
    schema, build = _FORMATS[fmt]
    parsed = df.select(_parse(F.col(raw_col), schema).alias("p"))
    return parsed.select(F.inline(build(F.col("p"))))


def normalize_catcher(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """AIS-catcher shape: {"msgs":[{mmsi,lat,lon,speed,course,shipname,rxtime}]}.
    rxtime is compact 'yyyyMMddHHmmss' (ref server.js:1218-1227)."""
    return _normalize(df, raw_col, "catcher")


def normalize_minimal(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Minimal shape: {"mmsi","lat","lon","ts"} (ISO-8601 ts)."""
    return _normalize(df, raw_col, "minimal")


def normalize_groups(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Full jsonais shape: {"groups":[{"msgs":[{userid,latitude,...}]}]}
    — every message of every group (ref server.js:1098-1136)."""
    return _normalize(df, raw_col, "groups")


def normalize_direct(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Already-canonical shape, passed through with type coercion."""
    return _normalize(df, raw_col, "direct")


def normalize_aprs(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """AIS-catcher APRS shape: {"call","lat","lng","time",...} — MMSI
    is the numeric callsign, longitude rides as ``lng``
    (ref server.js:1140-1168). Non-numeric callsigns cast to NULL and
    are dropped, exactly as the reference's parseInt guard does."""
    return _normalize(df, raw_col, "aprs")


def normalize_array(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Bare-array shape: ``[{...}, ...]`` of canonical-ish messages
    (ref server.js:1196-1203 recurses per element; the batch analog
    emits EVERY valid element, consistent with how the catcher format
    emits all of ``msgs``)."""
    return _normalize(df.where(_is_array_payload(F.col(raw_col))), raw_col, "array")


def _parsed(df: DataFrame, raw_col: str) -> DataFrame:
    """``raw`` plus one column per format: the payload parsed under
    its schema — object schemas for object payloads only, the array
    schema for array payloads only."""
    raw = F.col(raw_col)
    is_array = _is_array_payload(raw)
    parses = [
        F.when(is_array if fmt == "array" else ~is_array, _parse(raw, schema)).alias(fmt)
        for fmt, (schema, _) in _FORMATS.items()
    ]
    return df.select(raw.alias("raw"), *parses)


def _records() -> Column:
    """Every canonical record of a ``_parsed`` row, valid or not: an
    array, never null. One format claims a payload at most: the object
    formats differ in field shape, and minimal (a subset of direct's
    fields) takes only what direct leaves."""
    recs = {fmt: build(F.col(fmt)) for fmt, (_, build) in _FORMATS.items()}
    recs["minimal"] = F.when(F.col("direct")["event_ts"].isNull(), recs["minimal"])
    return F.concat(*[F.coalesce(r, F.array()) for r in recs.values()])


def normalize_any(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Normalize every payload, whatever its wire format — the Spark
    analog of the reference's if/else format sniffing — into
    CANONICAL_FIELDS rows, dropping invalid records (null mmsi,
    out-of-range coordinates). One scan: one parse projection, then
    one ``inline`` of every format's records. Payloads with no valid
    record are available from ``unmatched_records`` as a dead-letter
    side output (T6).
    """
    # inline over an expression, not a column: over a column the
    # optimizer infers a non-empty filter below the parse and parses twice
    rows = _parsed(df, raw_col).select(F.inline(_records()))
    return rows.where(_valid(rows))


def unmatched_records(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Dead-letter side output: every payload that produces NO
    canonical row — garbage, truncated JSON, unknown shapes, AND
    shapes a format parses but whose records all fail the validity
    filter (out-of-range coordinates, null mmsi). A payload is dead
    when none of the records ``normalize_any`` inlines is valid, so
    each payload lands in exactly one of the two outputs: no record
    can vanish between them (the silent-drop mode this T6 side
    channel exists to prevent). The batch analog of the reference
    returning null → the proxy dropping the frame, but kept
    observable instead of silent."""
    # inline_outer turns a payload with no valid record into one
    # all-null row; a filter over a generator's output cannot be
    # pushed into the parse (which would then run once per reference)
    valid = F.filter(_records(), _valid)
    rows = _parsed(df, raw_col).select("raw", F.inline_outer(valid))
    return rows.where(F.col("mmsi").isNull()).select(F.col("raw").alias("corrupt_record"))


# -- S2: CloudTAK CoT contact frames -------------------------------------
#
# The reference's contacts consumer (display-proxy/lambdas/
# tak-contacts-ws/index.mjs:167-189) receives {type:"cot", data:
# <GeoJSON feature>} frames, keeps only features that carry a
# properties.group (contacts), tolerates `group` being either a bare
# string or an object {name: ...}, and stamps a per-group marker
# color (unknown groups fall back to white).

_COT_GROUP_STR = (
    "struct<type: string, data: struct<id: string,"
    " geometry: struct<type: string, coordinates: array<double>>,"
    " properties: struct<callsign: string, group: string, time: string>>>"
)
_COT_GROUP_OBJ = (
    "struct<type: string, data: struct<id: string,"
    " geometry: struct<type: string, coordinates: array<double>>,"
    " properties: struct<callsign: string, group: struct<name: string>,"
    " time: string>>>"
)


def normalize_cot(
    df: DataFrame, raw_col: str = "raw", *, group_colors: dict[str, str] | None = None
) -> DataFrame:
    """CoT contact frames → one row per contact feature.

    Emits ``(contact_id, callsign, group_name, marker_color, lon,
    lat, event_ts)``. ``contact_id`` falls back from ``data.id`` to
    the callsign (the reference's Map key fallback chain). ``group``
    parses under BOTH wire forms — string and ``{name}`` object — via
    two PERMISSIVE ``from_json`` parses of the same column, coalesced
    in one projection (a mismatched field is null under PERMISSIVE,
    so exactly one form claims each frame). ``group_colors`` is driver-side config baked into a
    ``create_map`` literal (S16 pattern) — no join, no UDF, pure
    codegen at any scale."""
    raw = F.col(raw_col)
    s = _parse(raw, _COT_GROUP_STR)
    o = _parse(raw, _COT_GROUP_OBJ)
    # PERMISSIVE from_json STRINGIFIES an object that lands in a
    # string-typed field (it does not null it), so the object form is
    # authoritative whenever it yields a name; the string form covers
    # the rest — INCLUDING a legitimate name that merely STARTS with
    # '{' ("{weird team"): a brace prefix alone must not route a frame
    # to the object branch (where it parses to null and the frame is
    # silently dropped). The string is demoted only when it is ITSELF
    # valid serialized JSON (get_json_object(sg, '$') non-null — a
    # from_json probe can't distinguish: it returns an all-null
    # struct, not null, for garbage), i.e. a real object wire form
    # that simply lacks a usable name.
    sg = s["data"]["properties"]["group"]
    group = F.coalesce(
        o["data"]["properties"]["group"]["name"],
        F.when(
            sg.isNotNull() & (~sg.startswith("{") | F.get_json_object(sg, "$").isNull()),
            sg,
        ),
    )

    def leaf(*path: str) -> Column:
        # the two schemas differ ONLY at properties.group, so every
        # other leaf has one type and coalesces cleanly (the data
        # structs themselves do NOT — their types differ)
        sx, ox = s["data"], o["data"]
        for p in path:
            sx, ox = sx[p], ox[p]
        return F.coalesce(sx, ox)

    colors = group_colors or {}
    if colors:
        cmap = F.create_map(*[F.lit(x) for kv in colors.items() for x in kv])
        color = F.coalesce(cmap[group], F.lit("#ffffff"))
    else:
        color = F.lit("#ffffff")
    typed = F.coalesce(s["type"], o["type"])
    coords = leaf("geometry", "coordinates")
    return df.where((typed == "cot") & group.isNotNull() & coords.isNotNull()).select(
        F.coalesce(leaf("id"), leaf("properties", "callsign")).alias("contact_id"),
        leaf("properties", "callsign").alias("callsign"),
        group.alias("group_name"),
        color.alias("marker_color"),
        coords[0].alias("lon"),
        coords[1].alias("lat"),
        F.to_timestamp(leaf("properties", "time")).alias("event_ts"),
    )
