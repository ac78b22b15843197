"""Date/time scalar functions (SURVEY.md §2.8 date/time).

The reference parses four custom text formats and renders several
relative/NZ-local forms; each is a Column expression here. All
now-anchored logic takes ``now`` as a parameter (a lit timestamp) so
results are reproducible (SURVEY §7 hard-part 6).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_micros(df, colname: str) -> Column:
    """Microseconds since 1970-01-01 00:00:00 for ``df[colname]``,
    whether the column is TIMESTAMP or TIMESTAMP_NTZ.

    ``unix_micros`` rejects TIMESTAMP_NTZ (the type parquet timestamps
    without UTC-adjustment read as on Spark 4), so the NTZ path
    differences against an NTZ epoch literal — pure wall-clock
    arithmetic, no timezone conversion, identical results whatever the
    session TZ. The dtype probe is plan-time only (no job runs) and
    case-insensitive, matching Spark's default column resolution.
    """
    pairs = df.dtypes
    dtypes = {k.lower(): v for k, v in pairs}
    if len(dtypes) != len(pairs):
        # columns differing only by case (possible under
        # spark.sql.caseSensitive=true): the folded map would resolve
        # last-one-wins against the wrong column — use exact match
        dtypes = dict(pairs)
        probe = dtypes.get(colname)
    else:
        probe = dtypes.get(colname.lower())
    if probe == "timestamp_ntz":
        epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        return F.timestamp_diff("MICROSECOND", epoch, F.col(colname))
    return F.unix_micros(F.col(colname))


def parse_compact_ts(col: Column | str) -> Column:
    """'YYYYMMDDHHMMSS' (ref ais-proxy/server.js:1218-1227)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.to_timestamp(col, "yyyyMMddHHmmss")


def parse_dmy_hm(col: Column | str) -> Column:
    """'20/02/2026 17:24', TBA/None → null (ref mainpower.js:6-13)."""
    col = F.col(col) if isinstance(col, str) else col
    cleaned = F.when(F.upper(F.trim(col)).isin("TBA", "NONE", ""), F.lit(None)).otherwise(F.trim(col))
    return F.to_timestamp(cleaned, "dd/MM/yyyy HH:mm")


def parse_long_nz(col: Column | str) -> Column:
    """'Friday, February 20, 2026 at 08:30' (ref tlc.js:8-20):
    strip the weekday and the ' at ', then parse with a long pattern
    (Spark's datetime parser rejects the 'EEEE' weekday field)."""
    col = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(F.regexp_replace(col, r"^\s*\w+,\s*", ""), r"\s+at\s+", " ")
    return F.to_timestamp(stripped, "MMMM d, yyyy HH:mm")


def format_aishub(col: Column | str) -> Column:
    """AISHub wire format 'YYYY-MM-DD HH:MM:SS UTC'
    (ref ais-proxy/server.js:416,1505)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.concat(F.date_format(col, "yyyy-MM-dd HH:mm:ss"), F.lit(" UTC"))


def parse_aishub(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return F.to_timestamp(F.regexp_replace(col, r" UTC$", ""), "yyyy-MM-dd HH:mm:ss")


def floor_bucket(col: Column | str, seconds: int, offset_buckets: int = 0) -> Column:
    """Floor to an N-second bucket, optionally shifted back
    (ref weather-proxy/server.js:457-469: 10-min bucket minus one)."""
    col = F.col(col) if isinstance(col, str) else col
    bucketed = (F.floor(F.unix_timestamp(col) / seconds) + offset_buckets) * seconds
    return F.to_timestamp(bucketed)


def relative_age(col: Column | str, now: Column) -> Column:
    """'Xm ago'/'Xh ago'/'Xd ago' render (ref display-proxy/index.html:1095-1107)."""
    col = F.col(col) if isinstance(col, str) else col
    secs = F.unix_timestamp(now) - F.unix_timestamp(col)
    return (
        F.when(secs < 3600, F.concat(F.floor(secs / 60).cast("string"), F.lit("m ago")))
        .when(secs < 86400, F.concat(F.floor(secs / 3600).cast("string"), F.lit("h ago")))
        .otherwise(F.concat(F.floor(secs / 86400).cast("string"), F.lit("d ago")))
    )


def nz_local(col: Column | str, fmt: str = "dd/MM/yyyy HH:mm") -> Column:
    """Render in Pacific/Auckland (ref index.html:1085-1092)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.date_format(F.from_utc_timestamp(col, "Pacific/Auckland"), fmt)


def format_eta(month: Column | str, day: Column | str, hour: Column | str, minute: Column | str) -> Column:
    """AIS ETA wire format 'MM/DD HH:MM' from component fields with
    zero-padding (ref ais-proxy/server.js:503-507); any NULL
    component → NULL ETA (the reference skips incomplete ETAs)."""
    parts = [F.col(c) if isinstance(c, str) else c for c in (month, day, hour, minute)]
    pad = [F.lpad(p.cast("string"), 2, "0") for p in parts]
    out = F.concat(pad[0], F.lit("/"), pad[1], F.lit(" "), pad[2], F.lit(":"), pad[3])
    null_any = parts[0].isNull() | parts[1].isNull() | parts[2].isNull() | parts[3].isNull()
    return F.when(null_any, F.lit(None)).otherwise(out)
