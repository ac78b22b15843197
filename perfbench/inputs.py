"""Seeded input generators for the benchmark.

Everything the workloads read is made here from the ``--seed``
argument, before any timing starts: the star-schema parquet tables the
batch queries scan, and the AIS JSON-line feed the streaming workload
consumes. The same seed always gives byte-identical inputs.

The tables reproduce the provisioned test tables of TESTDATA.md (the
ones the query registry and its DuckDB oracles are written against).
Generated at sf0.01 with seed 42 and compared with those tables column
by column, they have the same schema, row counts and single row group;
per column the same value set or range (min, max), distinct counts
within 1%, and means and standard deviations within the sampling
noise of the row counts.
TESTDATA.md itself describes only the tables, the row counts and the
seed; the value shapes were read off the provisioned files (uniform
keys, amounts and dates, discounts and taxes rounded to cents,
exponential event values, 5% near-duplicate documents over a 31-word
vocabulary, unit-norm 64-dimensional embeddings). Where the files do
not pin a detail, such as the correlation between columns, the
generator draws columns independently.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["hot", "old", "red", "small", "new", "large", "cold", "blue"]
PART_NOUN = ["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_ORDER_START = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_START).astype(np.int64))


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, the layout the registry's scan sizing and
    # the block-manager input cache are tuned for
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten star-schema tables for scale factor ``sf`` into
    ``out_dir`` as ``<name>.parquet``; returns {table: rows}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    odate = _ORDER_START + rng.integers(0, _ORDER_DAYS + 1, n_ord).astype("timedelta64[D]")
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    sdate = (
        _ORDER_START
        + rng.integers(0, _ORDER_DAYS + 1, n_li).astype("timedelta64[D]")
        + rng.integers(1, 96, n_li).astype("timedelta64[D]")
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": _money(rng, 0.0, 0.1, n_li),
            "l_tax": _money(rng, 0.0, 0.08, n_li),
            "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(sdate.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]) for _ in range(n)]
    # 5% near-duplicates: a copy of an earlier document plus one token
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


# -- AIS feed -------------------------------------------------------------
#
# The feed follows the reference-shaped AIS stream of FIXTURES.md §1
# (``ais_messages``, taken from the reference proxy's message handling):

# event times lie within NOW-8h..NOW of the FIXTURES.md anchor
FEED_NOW = datetime(2026, 8, 7, tzinfo=timezone.utc)
FEED_SPAN_S = 8 * 3600
# about 1,500 distinct MMSIs
VESSELS = 1500
# about 10% of a vessel's messages arrive out of order: their event time
# is earlier than that of the vessel's latest message so far
LATE_SHARE = 0.10
# about 5% of MMSIs carry a MID outside the ITU set; AtoN (99…), SAR
# aircraft (111…), coast-station (00…) and group-call (0…) MMSIs occur
INVALID_MID_SHARE = 0.05
# about 2% of latitudes fall outside [-90, 90] and 2% of longitudes
# outside [-180, 180]; the bad values are the AIS "not available"
# codes 91 and 181 (ITU-R M.1371)
BAD_COORD_SHARE = 0.02
# positions cluster in the -48..-34 / 166..179 box (New Zealand waters)
LAT_BOX = (-48.0, -34.0)
LON_BOX = (166.0, 179.0)
# standard vessels use New Zealand's MID
HOME_MID = 512

# Not given by FIXTURES.md §1, so chosen here: the six wire formats of
# ``normalize_any`` are equally likely; multi-message formats carry one
# to three messages per line; vessel keys are Zipf-skewed, with an
# exponent (0.7) mild enough that the feed of a 12-second run (about
# 9,500 messages) touches nearly all of the 1,500 MMSIs; a third
# of messages are static (name, no kinematics), as two of the six
# message types §1 lists are (in the formats that can carry a name);
# a late message lags its vessel's latest one by up to half an hour;
# ten MMSIs of each special prefix class.
_FORMATS = ("catcher", "groups", "direct", "minimal", "aprs", "array")
_SINGLE = ("direct", "minimal", "aprs")
_ZIPF_S = 0.7
_STATIC_SHARE = 1 / 3
_LATE_MAX_S = 1800
_SPECIAL_PER_CLASS = 10


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _mmsis(rng: np.random.Generator) -> np.ndarray:
    """VESSELS distinct MMSIs: invalid-MID ones, the four special
    prefix classes, and standard HOME_MID vessels, in random order."""
    n_bad = round(VESSELS * INVALID_MID_SHARE)
    k = _SPECIAL_PER_CLASS
    n_std = VESSELS - n_bad - 4 * k

    def serials(digits: int, n: int) -> np.ndarray:
        return rng.choice(10**digits, size=n, replace=False)

    # MIDs 100..199 (SAR's 111 aside) are not allocated in the ITU set
    bad_mid = rng.choice([m for m in range(100, 200) if m != 111], size=n_bad)
    ids = np.concatenate(
        [
            bad_mid * 1_000_000 + serials(6, n_bad),
            990_000_000 + HOME_MID * 10_000 + serials(4, k),  # AtoN 99MIDxxxx
            111_000_000 + HOME_MID * 1_000 + serials(3, k),  # SAR 111MIDxxx
            HOME_MID * 10_000 + serials(4, k),  # coast station 00MIDxxxx
            HOME_MID * 100_000 + serials(5, k),  # group call 0MIDxxxxx
            HOME_MID * 1_000_000 + serials(6, n_std),
        ]
    )
    assert len(set(ids.tolist())) == VESSELS
    return rng.permutation(ids)


def write_feed(out_dir: str, seed: int, *, files: int, lines_per_file: int) -> dict[str, int]:
    """Write ``files`` JSON-line files of ``lines_per_file`` AIS payloads
    shaped as described above. Every message's event time is unique
    within its vessel, so the per-vessel merge never meets a tie. File
    modification times increase with the file index, so a file-stream
    source takes them in index order. Returns line and message counts.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    mmsis = _mmsis(rng)
    weights = 1.0 / np.arange(1, VESSELS + 1) ** _ZIPF_S
    weights /= weights.sum()

    # first the line layout (format, messages per line), so the event
    # times can be spread evenly over the span
    n_lines = files * lines_per_file
    fmts = rng.integers(0, len(_FORMATS), n_lines)
    counts = np.array([1 if _FORMATS[f] in _SINGLE else int(rng.integers(1, 4)) for f in fmts])
    n_msgs = int(counts.sum())
    vessel = mmsis[rng.choice(VESSELS, size=n_msgs, p=weights)]
    late = rng.random(n_msgs) < LATE_SHARE
    lag = rng.integers(1, _LATE_MAX_S + 1, n_msgs)
    bad_lat = rng.random(n_msgs) < BAD_COORD_SHARE
    bad_lon = rng.random(n_msgs) < BAD_COORD_SHARE
    lat = np.where(bad_lat, 91.0, np.round(rng.uniform(*LAT_BOX, n_msgs), 5))
    lon = np.where(bad_lon, 181.0, np.round(rng.uniform(*LON_BOX, n_msgs), 5))
    static = rng.random(n_msgs) < _STATIC_SHARE
    speed = np.round(rng.uniform(0, 30, n_msgs), 1)
    course = np.round(rng.uniform(0, 360, n_msgs), 1)
    letter = rng.integers(0, 8, n_msgs)

    t0 = int(FEED_NOW.timestamp()) - FEED_SPAN_S
    used: dict[int, set[int]] = {}
    latest: dict[int, int] = {}
    times = np.empty(n_msgs, dtype=np.int64)
    for i in range(n_msgs):
        v = int(vessel[i])
        seen = used.setdefault(v, set())
        if late[i] and v in latest:
            t, step = max(t0, latest[v] - int(lag[i])), -1
        else:
            t, step = t0 + (i + 1) * FEED_SPAN_S // (n_msgs + 1), 1
        while t in seen:
            t += step
        seen.add(t)
        times[i] = t
        if step == 1:
            latest[v] = max(latest.get(v, t), t)

    def rec(i: int, kind_static: bool) -> dict:
        r = {
            "mmsi": int(vessel[i]),
            "lat": float(lat[i]),
            "lon": float(lon[i]),
            "t": datetime.fromtimestamp(int(times[i]), timezone.utc),
        }
        if kind_static:
            r["name"] = f"VESSEL {r['mmsi']} {'ABCDEFGH'[letter[i]]}"
        else:
            r["speed"], r["course"] = float(speed[i]), float(course[i])
        return r

    def encode(fmt: str, first: int, k: int) -> str:
        if fmt == "minimal":
            r = rec(first, False)
            return json.dumps({"mmsi": r["mmsi"], "lat": r["lat"], "lon": r["lon"], "ts": _iso(r["t"])})
        if fmt == "aprs":
            r = rec(first, False)
            return json.dumps(
                {"call": str(r["mmsi"]), "lat": r["lat"], "lng": r["lon"], "speed": r["speed"],
                 "course": r["course"], "time": _iso(r["t"])}
            )
        recs = [rec(i, bool(static[i])) for i in range(first, first + k)]
        if fmt == "direct":
            return json.dumps(_direct(recs[0]))
        if fmt == "array":
            return json.dumps([_direct(r) for r in recs])
        msgs = []
        if fmt == "catcher":
            for r in recs:
                p = {"mmsi": r["mmsi"], "lat": r["lat"], "lon": r["lon"], "rxtime": r["t"].strftime("%Y%m%d%H%M%S")}
                if "name" in r:
                    p["shipname"] = f"  {r['name']} "
                else:
                    p["speed"], p["course"] = r["speed"], r["course"]
                msgs.append(p)
            return json.dumps({"msgs": msgs})
        for r in recs:
            p = {"userid": r["mmsi"], "latitude": r["lat"], "longitude": r["lon"], "time_utc": _iso(r["t"])}
            if "name" in r:
                p["name"] = r["name"]
            else:
                p["sog"], p["cog"] = r["speed"], r["course"]
            msgs.append(p)
        return json.dumps({"groups": [{"msgs": msgs}]})

    base_mtime = int(datetime.now().timestamp()) - files - 60
    line = first = 0
    for f in range(files):
        lines = []
        for _ in range(lines_per_file):
            lines.append(encode(_FORMATS[fmts[line]], first, int(counts[line])))
            first += int(counts[line])
            line += 1
        path = os.path.join(out_dir, f"part-{f:05d}.jsonl")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (base_mtime + f, base_mtime + f))
    return {"files": files, "lines": n_lines, "messages": n_msgs}


def _direct(r: dict) -> dict:
    p = {"mmsi": r["mmsi"], "lat": r["lat"], "lon": r["lon"]}
    if "name" in r:
        p["name"] = r["name"]
    else:
        p["speed"], p["course"] = r["speed"], r["course"]
    p["event_ts"] = _iso(r["t"])
    return p
