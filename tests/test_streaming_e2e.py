"""End-to-end Structured Streaming tests (T1-T4): a real file-source
stream driven through the two keyed-upsert forms — one operator each:
the streaming aggregation without a TTL, applyInPandasWithState with
one — checked for parity with the batch replay (SURVEY §7 hard part
#1's correctness contract), including bigint and string tiebreaks;
plus a watermarked tumbling-window aggregation (W3 streaming form),
``normalize_any`` reading a stream once, near-dup suppression,
interval joins and count-min merges.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from stream_waits import await_terminated as _await
from stream_waits import drain_and_stop as _drain_and_stop

from utils_infra_spark.streaming.upsert import keyed_upsert_batch, keyed_upsert_stream


SCHEMA = "mmsi int, ts timestamp, lat double, lon double, name string, ship_type double"
VALUE_COLS = ["lat", "lon", "name", "ship_type"]
UPSERT_STATE = "ts timestamp, lat double, lon double, name string, ship_type double"

BATCH1 = [
    {"mmsi": 1, "ts": "2024-01-01T10:00:00Z", "lat": -41.0, "lon": 174.0, "name": None, "ship_type": None},
    {"mmsi": 1, "ts": "2024-01-01T10:05:00Z", "lat": None, "lon": None, "name": "ALPHA", "ship_type": 70.0},
    {"mmsi": 2, "ts": "2024-01-01T09:00:00Z", "lat": None, "lon": None, "name": "BRAVO", "ship_type": None},
]
BATCH2 = [
    {"mmsi": 1, "ts": "2024-01-01T10:02:00Z", "lat": -41.1, "lon": 174.1, "name": None, "ship_type": None},  # late
    # heartbeat advancing key 1's max ts, so each batch's state update
    # has a distinct ts and "latest update per key" is unambiguous
    {"mmsi": 1, "ts": "2024-01-01T10:06:00Z", "lat": None, "lon": None, "name": None, "ship_type": None},
    {"mmsi": 2, "ts": "2024-01-01T11:00:00Z", "lat": -36.8, "lon": 174.7, "name": None, "ship_type": 80.0},
    {"mmsi": 3, "ts": "2024-01-01T08:00:00Z", "lat": -43.5, "lon": 172.6, "name": "CHARLIE", "ship_type": None},
]


def write_files(dirpath: str, files: list[list[dict | list]]) -> None:
    """One JSON-line file per entry, with increasing modification
    times: the file source plans files oldest-first, so with
    maxFilesPerTrigger=1 each file is its own micro-batch, in order."""
    os.makedirs(dirpath, exist_ok=True)
    t0 = time.time() - len(files)
    for i, recs in enumerate(files):
        path = os.path.join(dirpath, f"part{i}.json")
        with open(path, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in recs)
        os.utime(path, (t0 + i, t0 + i))


def test_stream_upsert_matches_batch_replay(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    write_files(src, [BATCH1, BATCH2])

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    upserts = keyed_upsert_stream(
        stream,
        "mmsi",
        "ts",
        VALUE_COLS,
        output_schema="mmsi int, ts timestamp, lat double, lon double, name string, ship_type double",
        state_schema="ts timestamp, lat double, lon double, name string, ship_type double",
    )
    q = (
        upserts.writeStream.format("memory")
        .queryName("upsert_states")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)

    # final state = latest update row per key emitted by the stream
    updates = spark.sql("SELECT * FROM upsert_states").toPandas()
    assert len(updates) >= 3
    # whole-row latest update per key (groupby().last() would skip
    # NaN per-column and stitch rows from different updates)
    final = updates.sort_values("ts", kind="stable").drop_duplicates("mmsi", keep="last").set_index("mmsi")

    # ground truth: one batch-window pass over ALL events (read the
    # same JSON files the stream consumed)
    batch_df = spark.read.schema(SCHEMA).json(src)
    want = keyed_upsert_batch(batch_df, "mmsi", "ts", VALUE_COLS).toPandas().set_index("mmsi")

    assert sorted(final.index) == sorted(want.index) == [1, 2, 3]
    for key in want.index:
        for c in VALUE_COLS + ["ts"]:
            got_v, want_v = final.loc[key, c], want.loc[key, c]
            same_null = (got_v is None or got_v != got_v) and (want_v is None or want_v != want_v)
            assert same_null or got_v == want_v, (key, c, got_v, want_v)
    # the late event (10:02) must NOT have overwritten key 1's
    # newer static fields, but its position is the newest position
    assert final.loc[1, "lat"] == -41.1 and final.loc[1, "name"] == "ALPHA"


def test_stream_windowed_counts_with_watermark(spark, tmp_path):
    from pyspark.sql import functions as F

    src = str(tmp_path / "win_src")
    write_files(src, [BATCH1, BATCH2])
    stream = spark.readStream.schema(SCHEMA).json(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {str(r.win_start): r.n for r in spark.sql("SELECT * FROM win_counts").collect()}
    assert got == {
        "2024-01-01 08:00:00": 1,
        "2024-01-01 09:00:00": 1,
        "2024-01-01 10:00:00": 4,  # 10:00, 10:02 (late), 10:05, 10:06
        "2024-01-01 11:00:00": 1,
    }


def test_stream_normalize_any_scans_each_line_once(spark, tmp_path):
    """normalize_any over a file-source stream reads each feed line
    once: every trigger's numInputRows is its file's line count, with
    all six wire formats in the same file."""
    from utils_infra_spark.sources.normalize import normalize_any

    ts = "2024-01-15T08:30:00Z"
    lines = [
        {"msgs": [{"mmsi": 512000001, "lat": -41.2, "lon": 174.8, "rxtime": "20240115083000"},
                  {"mmsi": 512000002, "lat": -36.8, "lon": 174.7, "rxtime": "20240115083010"}]},
        {"mmsi": 512000003, "lat": -43.5, "lon": 172.6, "ts": ts},
        {"groups": [{"msgs": [{"userid": 512000004, "latitude": -45.9, "longitude": 170.5, "time_utc": ts}]}]},
        {"mmsi": 512000005, "lat": -41.0, "lon": 174.0, "name": "DIRECT ONE", "event_ts": ts},
        {"call": "512000007", "lat": -39.1, "lng": 176.9, "time": ts},
        [{"mmsi": 512000008, "lat": -40.5, "lon": 173.2, "event_ts": ts}],
        {"vessel": "no recognizable fields"},
    ]
    files = [lines, lines[2:], lines[:3]]
    src = str(tmp_path / "norm_src")
    write_files(src, files)
    stream = spark.readStream.option("maxFilesPerTrigger", 1).text(src)
    q = (
        normalize_any(stream.withColumnRenamed("value", "raw"))
        .writeStream.format("memory")
        .queryName("normalized_feed")
        .option("checkpointLocation", str(tmp_path / "norm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [len(f) for f in files]
    # 7 + 4 + 4 canonical rows: the unknown shape yields none
    assert spark.sql("SELECT * FROM normalized_feed").count() == 15


def test_checkpoint_restart_resumes_state(spark, tmp_path):
    """T5 snapshot/restore: stop the stream, add new data, restart
    from the SAME checkpoint — state must carry over, not rebuild."""
    import json as _json

    src = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "restart_ckpt")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for rec in BATCH1:
            f.write(_json.dumps(rec) + "\n")

    def run_once(collected):
        # memory sink can't recover from a checkpoint; foreachBatch can
        stream = spark.readStream.schema(SCHEMA).json(src)
        upserts = keyed_upsert_stream(
            stream, "mmsi", "ts", VALUE_COLS,
            output_schema="mmsi int, ts timestamp, lat double, lon double, name string, ship_type double",
            state_schema="ts timestamp, lat double, lon double, name string, ship_type double",
        )
        q = (
            upserts.writeStream.foreachBatch(lambda bdf, _bid: collected.extend(bdf.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        _await(q)

    run1: list = []
    run_once(run1)
    assert {r.mmsi for r in run1} == {1, 2}
    # second batch arrives while the stream is DOWN
    with open(os.path.join(src, "b2.json"), "w") as f:
        for rec in BATCH2:
            f.write(_json.dumps(rec) + "\n")
    run2: list = []
    run_once(run2)

    # run2 only processed b2.json (checkpoint skips b1), so its key-1
    # update must still carry name ALPHA — provable restore of run1
    # state, since batch2 alone never contains a name for key 1
    by_key = {r.mmsi: r for r in run2}
    assert by_key[1].name == "ALPHA" and by_key[1].lat == -41.1
    assert by_key[3].name == "CHARLIE"


def test_stream_upsert_with_ttl_smoke(spark, tmp_path):
    """T2 TTL path: processing-time timeout wiring must run end-to-end
    (deterministic expiry testing needs wall-clock control; this
    asserts the GroupStateTimeout configuration executes)."""
    src = str(tmp_path / "ttl_src")
    write_files(src, [BATCH1, BATCH2])
    stream = spark.readStream.schema(SCHEMA).json(src)
    upserts = keyed_upsert_stream(
        stream, "mmsi", "ts", VALUE_COLS,
        output_schema="mmsi int, ts timestamp, lat double, lon double, name string, ship_type double",
        state_schema="ts timestamp, lat double, lon double, name string, ship_type double",
        ttl_ms=6 * 3600 * 1000,  # the reference's 6 h vessel TTL
    )
    q = (
        upserts.writeStream.format("memory").queryName("ttl_states").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ttl_ckpt")).trigger(availableNow=True).start()
    )
    _drain_and_stop(q)  # TTL query never self-terminates (see helper)
    rows = spark.sql("SELECT DISTINCT mmsi FROM ttl_states").collect()
    assert {r.mmsi for r in rows} == {1, 2, 3}


def test_stream_exact_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup (training-pipeline shape): duplicate
    document content arriving across micro-batches is emitted once;
    the digest state lives in the store keyed by fp."""
    from utils_infra_spark.pipeline.dedup import dedup_exact_stream

    src = str(tmp_path / "docs_src")
    os.makedirs(src, exist_ok=True)
    docs1 = [
        {"doc_id": 1, "ts": "2024-01-01T10:00:00Z", "text": "alpha beta gamma"},
        {"doc_id": 2, "ts": "2024-01-01T10:00:10Z", "text": "delta epsilon"},
        {"doc_id": 3, "ts": "2024-01-01T10:00:20Z", "text": "alpha beta gamma"},  # dup in-batch
    ]
    docs2 = [
        {"doc_id": 4, "ts": "2024-01-01T10:01:00Z", "text": "delta epsilon"},  # dup cross-batch
        {"doc_id": 5, "ts": "2024-01-01T10:01:30Z", "text": "zeta eta"},
    ]
    for i, batch in enumerate([docs1, docs2]):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for rec in batch:
                f.write(json.dumps(rec) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    deduped = dedup_exact_stream(stream, "text", "ts", watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(q)  # ProcessingTimeTimeout state: never self-terminates
    out = spark.sql("SELECT text, count(*) AS n FROM dedup_stream GROUP BY text").collect()
    counts = {r.text: r.n for r in out}
    assert counts == {"alpha beta gamma": 1, "delta epsilon": 1, "zeta eta": 1}
    # exactly one survivor per content group; WHICH duplicate wins
    # depends on file-source batch order (not guaranteed), so assert
    # membership, not identity
    survivors = {r.doc_id for r in spark.sql("SELECT doc_id FROM dedup_stream").collect()}
    assert len(survivors) == 3
    assert len(survivors & {1, 3}) == 1 and len(survivors & {2, 4}) == 1 and 5 in survivors


def test_stream_session_windows_with_watermark(spark, tmp_path):
    """Session windows (gap-based) over an event-time stream: the
    streaming form of the batch gaps-and-islands `user_sessions`
    query. Events within a 15-minute gap merge into one session;
    state is bounded by the watermark, so at 100 TB the store holds
    only open sessions per key, not history."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "sess_src")
    write_files(src, [BATCH1, BATCH2])
    stream = spark.readStream.schema(SCHEMA).json(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("mmsi", F.session_window("ts", "15 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("mmsi", F.col("win.start").alias("sess_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {(r.mmsi, str(r.sess_start)): r.n for r in spark.sql("SELECT * FROM sess_counts").collect()}
    # key 1: 10:00/10:02/10:05/10:06 all within 15-min gaps -> ONE
    # session of 4 (the late 10:02 merged in); key 2: 09:00 and 11:00
    # exceed the gap -> two sessions; key 3: singleton
    assert got == {
        (1, "2024-01-01 10:00:00"): 4,
        (2, "2024-01-01 09:00:00"): 1,
        (2, "2024-01-01 11:00:00"): 1,
        (3, "2024-01-01 08:00:00"): 1,
    }


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join: purchases attributed to a click by
    the same user within 30 minutes. Both sides carry watermarks so
    the join state is bounded (Spark evicts rows once the other
    side's watermark passes the interval) — the 100 TB requirement
    for any stream-stream join. Parity contract: identical output to
    the batch join of the same files."""
    from pyspark.sql import functions as F

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    os.makedirs(cdir), os.makedirs(pdir)
    clicks = [
        {"user_id": 1, "click_id": 10, "cts": "2024-01-01T10:00:00Z"},
        {"user_id": 1, "click_id": 11, "cts": "2024-01-01T11:00:00Z"},
        {"user_id": 2, "click_id": 20, "cts": "2024-01-01T10:00:00Z"},
    ]
    purchases = [
        {"user_id": 1, "order_id": 100, "pts": "2024-01-01T10:10:00Z", "amount": 5.0},   # -> click 10
        {"user_id": 1, "order_id": 101, "pts": "2024-01-01T11:29:00Z", "amount": 7.0},   # -> click 11
        {"user_id": 1, "order_id": 102, "pts": "2024-01-01T12:00:00Z", "amount": 9.0},   # outside both
        {"user_id": 2, "order_id": 200, "pts": "2024-01-01T10:30:00Z", "amount": 3.0},   # -> click 20 (inclusive edge)
    ]
    with open(os.path.join(cdir, "c.json"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in clicks)
    with open(os.path.join(pdir, "p.json"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in purchases)

    CSCHEMA = "user_id int, click_id int, cts timestamp"
    PSCHEMA = "user_id int, order_id int, pts timestamp, amount double"
    cond = (
        "c.user_id = p.user_id AND p.pts >= c.cts AND p.pts <= c.cts + interval 30 minutes"
    )

    cs = spark.readStream.schema(CSCHEMA).json(cdir).withWatermark("cts", "1 hour").alias("c")
    ps = spark.readStream.schema(PSCHEMA).json(pdir).withWatermark("pts", "1 hour").alias("p")
    joined = cs.join(ps, F.expr(cond)).select("c.user_id", "click_id", "order_id", "amount")
    q = (
        joined.writeStream.format("memory")
        .queryName("attributed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {(r.click_id, r.order_id) for r in spark.sql("SELECT * FROM attributed").collect()}

    bc = spark.read.schema(CSCHEMA).json(cdir).alias("c")
    bp = spark.read.schema(PSCHEMA).json(pdir).alias("p")
    want = {
        (r.click_id, r.order_id)
        for r in bc.join(bp, F.expr(cond)).select("click_id", "order_id").collect()
    }
    assert got == want == {(10, 100), (11, 101), (20, 200)}


def test_stream_cms_foreachbatch_merge_equals_batch(spark, tmp_path):
    """Streaming sketch maintenance: per-micro-batch count-min
    sketches merged in foreachBatch must equal the batch CMS of all
    data — the mergeability that lets a 100 TB/day stream keep a
    few-KB running frequency structure."""
    import json as _json
    import os as _os

    from utils_infra_spark.pipeline.sketch import cms_merge, count_min_sketch

    src = str(tmp_path / "cms_src")
    _os.makedirs(src, exist_ok=True)
    tokens = [f"tok{i % 17}" for i in range(400)]
    for b in range(3):  # 3 files → availableNow splits into micro-batches
        with open(_os.path.join(src, f"b{b}.json"), "w") as f:
            for t in tokens[b::3]:
                f.write(_json.dumps({"t": t}) + "\n")

    W, D = 32, 4
    merged: dict = {"df": None}

    def merge_batch(batch_df, batch_id):
        sk = count_min_sketch(batch_df, "t", width=W, depth=D)
        # driver-side collect of <= W*D cells per batch: the sketch is
        # the SMALL side by design — this is metadata, not data.
        rows = sk.collect()
        pdf = spark.createDataFrame(rows, "row_idx int, bucket bigint, cnt bigint")
        merged["df"] = pdf if merged["df"] is None else cms_merge(merged["df"], pdf).localCheckpoint(eager=True)

    stream = spark.readStream.schema("t string").json(src)
    q = stream.writeStream.foreachBatch(merge_batch).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "cms_ckpt")
    ).start()
    _await(q)

    batch_all = spark.createDataFrame([(t,) for t in tokens], "t string")
    expected = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in count_min_sketch(batch_all, "t", width=W, depth=D).collect()
    }
    got = {(r["row_idx"], r["bucket"]): r["cnt"] for r in merged["df"].collect()}
    assert got == expected


def test_stream_upsert_accepts_structtype_state_schema(spark, tmp_path):
    """The StructType state_schema path must get the same appended
    __ts_/__tb_ guard fields as the DDL-string path — a schema without
    them mis-sizes state.update and mis-zips on restore. Only the TTL
    form keeps that state, so the test sets a TTL."""
    from pyspark.sql.types import StructType

    src = str(tmp_path / "stream_src_st")
    write_files(src, [BATCH1, BATCH2])
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    upserts = keyed_upsert_stream(
        stream,
        "mmsi",
        "ts",
        VALUE_COLS,
        output_schema="mmsi int, ts timestamp, lat double, lon double, name string, ship_type double",
        state_schema=StructType.fromDDL(
            "ts timestamp, lat double, lon double, name string, ship_type double"
        ),
        ttl_ms=24 * 3600 * 1000,
    )
    q = (
        upserts.writeStream.format("memory")
        .queryName("upsert_states_structtype")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_st"))
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(q)  # TTL query never self-terminates (see helper)
    updates = spark.sql("SELECT * FROM upsert_states_structtype").toPandas()
    final = updates.sort_values("ts", kind="stable").drop_duplicates("mmsi", keep="last").set_index("mmsi")
    batch_df = spark.read.schema(SCHEMA).json(src)
    want = keyed_upsert_batch(batch_df, "mmsi", "ts", VALUE_COLS).toPandas().set_index("mmsi")
    assert sorted(final.index) == sorted(want.index) == [1, 2, 3]
    for key in want.index:
        for c in VALUE_COLS:
            assert (final.loc[key, c] == want.loc[key, c]) or (
                final.loc[key, c] != final.loc[key, c] and want.loc[key, c] != want.loc[key, c]
            ), (key, c)


def run_upsert(spark, src, ckpt, schema=SCHEMA, **kw):
    """Run keyed_upsert_stream over ``src`` one file per micro-batch.
    Returns (final state per key: the key's last emitted row by batch
    id, the state operator names from the query progress)."""
    emitted: list = []
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)
    upserts = keyed_upsert_stream(
        stream, "mmsi", "ts", VALUE_COLS, output_schema=SCHEMA, state_schema=UPSERT_STATE, **kw
    )
    q = (
        upserts.writeStream.foreachBatch(lambda b, bid: emitted.extend((bid, r.asDict()) for r in b.collect()))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if kw.get("ttl_ms") is None:
        _await(q)
    else:
        _drain_and_stop(q)  # TTL query never self-terminates (see helper)
    final = {row["mmsi"]: row for _bid, row in sorted(emitted, key=lambda e: e[0])}
    ops = {op["operatorName"] for p in q.recentProgress for op in p["stateOperators"]}
    return final, ops


def batch_replay(spark, src, schema=SCHEMA, tiebreak=None):
    df = spark.read.schema(schema).json(src)
    return {r.mmsi: r.asDict() for r in keyed_upsert_batch(df, "mmsi", "ts", VALUE_COLS, tiebreak=tiebreak).collect()}


def _rec(mmsi, ts, lat=None, lon=None, name=None, ship_type=None, **extra):
    return {"mmsi": mmsi, "ts": f"2024-01-01T{ts}Z", "lat": lat, "lon": lon,
            "name": name, "ship_type": ship_type, **extra}


@pytest.fixture(scope="module")
def parity_runs(spark, tmp_path_factory):
    """One feed with out-of-order event times inside a file, per-field
    nulls, and late events older than the stored state arriving in
    later files, run through the no-TTL aggregation and the TTL
    applyInPandasWithState form (TTL far past the test). Returns
    {form: (final state, operator names)} plus the batch replay."""
    tmp = tmp_path_factory.mktemp("upsert_parity")
    src = str(tmp / "src")
    write_files(src, [
        [
            _rec(1, "10:05:00", name="ALPHA", ship_type=70.0),
            _rec(1, "10:00:00", lat=-41.0, lon=174.0),  # older, same file
            _rec(2, "09:00:00", name="BRAVO"),
        ],
        [
            # older than key 1's stored name, newer than its position
            _rec(1, "10:02:00", lat=-41.1, lon=174.1),
            _rec(2, "11:00:00", lat=-36.8, lon=174.7, ship_type=80.0),
            _rec(2, "10:30:00", name="BRAVO II", ship_type=60.0),
        ],
        [
            # older than every stored field of key 1: changes nothing
            _rec(1, "09:30:00", lat=-40.0, lon=173.0, name="STALE", ship_type=30.0),
            _rec(3, "08:00:00", lat=-43.5, lon=172.6, name="CHARLIE"),
        ],
    ])
    return {
        "agg": run_upsert(spark, src, str(tmp / "ckpt_agg")),
        "ttl": run_upsert(spark, src, str(tmp / "ckpt_ttl"), ttl_ms=24 * 3600 * 1000),
        "batch": batch_replay(spark, src),
    }


def test_stream_upsert_both_forms_match_batch_replay(parity_runs):
    agg, ttl = parity_runs["agg"][0], parity_runs["ttl"][0]
    assert agg == ttl == parity_runs["batch"]
    assert (agg[1]["lat"], agg[1]["name"], agg[1]["ship_type"]) == (-41.1, "ALPHA", 70.0)
    assert (agg[2]["lat"], agg[2]["name"], agg[2]["ship_type"]) == (-36.8, "BRAVO II", 80.0)


def test_stream_upsert_state_operator_per_form(parity_runs):
    """Without a TTL the upsert is a JVM streaming aggregation (its
    state operator is the aggregation's StateStoreSave); with one it
    stays on applyInPandasWithState."""
    assert parity_runs["agg"][1] == {"stateStoreSave"}
    assert parity_runs["ttl"][1] == {"applyInPandasWithState"}


@pytest.mark.parametrize("tb_type", ["bigint", "string"])
def test_stream_upsert_tiebreak_both_forms(spark, tmp_path, tb_type):
    """Equal event times split across files, the tiebreak winner
    arriving FIRST: both stream forms must keep the higher
    (ts, seq) value — not the later-processed one, and not the
    greatest value — exactly as the batch replay with the same
    tiebreak, whatever the tiebreak column's type."""
    seq = (lambda n: n) if tb_type == "bigint" else (lambda n: "abcde"[n - 1])
    schema = SCHEMA + f", seq {tb_type}"
    src = str(tmp_path / "tb_src")
    write_files(src, [
        [
            _rec(7, "10:00:00", lat=-41.0, lon=174.0, name="NEW", seq=seq(2)),
            _rec(8, "10:00:00", lat=-30.0, name="ZED", seq=seq(1)),
        ],
        [
            _rec(7, "10:00:00", lat=-40.0, lon=175.0, name="OLD", ship_type=70.0, seq=seq(1)),
            _rec(8, "10:00:00", lat=-35.0, name="ABLE", seq=seq(5)),
        ],
    ])
    want = batch_replay(spark, src, schema, tiebreak="seq")
    agg, _ = run_upsert(spark, src, str(tmp_path / "ckpt_tb_agg"), schema, tiebreak="seq")
    ttl, _ = run_upsert(
        spark, src, str(tmp_path / "ckpt_tb_ttl"), schema, tiebreak="seq", ttl_ms=24 * 3600 * 1000
    )
    assert agg == ttl == want
    assert (agg[7]["lat"], agg[7]["lon"], agg[7]["name"], agg[7]["ship_type"]) == (-41.0, 174.0, "NEW", 70.0)
    assert (agg[8]["lat"], agg[8]["name"]) == (-35.0, "ABLE")


def test_stream_near_dup_suppression(spark, tmp_path):
    """Streaming LSH near-dup suppression (training-pipeline shape):
    a document whose band key collides with any document inside the
    watermark horizon is suppressed; distinct documents pass. Also
    pins that the in-row streaming sketch produces VALUE-IDENTICAL
    band keys to the batch minhash_band_keys sketch, so a streaming
    corpus dedups against the same key space as a batch backfill."""
    from utils_infra_spark.pipeline.dedup import (
        band_key_rows_inrow,
        minhash_band_keys,
        near_dup_band_survivors_stream,
        near_dup_batch_reduce,
    )

    base = "the quick brown fox jumps over the lazy dog while seven wizards brew strong potions at midnight"
    near = base.replace("seven", "nine")  # 1 of 17 tokens changed
    docs1 = [
        {"doc_id": 1, "ts": "2024-01-01T10:00:00Z", "text": base},
        {"doc_id": 2, "ts": "2024-01-01T10:00:10Z", "text": "completely different content about spark shuffle partitions and codegen stages"},
    ]
    docs2 = [
        {"doc_id": 3, "ts": "2024-01-01T10:01:00Z", "text": near},  # near-dup of 1, cross-batch
        {"doc_id": 4, "ts": "2024-01-01T10:01:30Z", "text": "yet another unrelated document mentioning parquet footers and arrow batches"},
    ]

    # --- batch == stream sketch parity on the same rows ---
    static = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs1 + docs2], "doc_id long, text string"
    ).selectExpr("doc_id", "CAST('2024-01-01' AS TIMESTAMP) AS ts", "text")
    batch_keys = {
        (r.doc_id, r.band, r.key)
        for r in minhash_band_keys(static, "text", "doc_id", drop_empty=False).collect()
    }
    inrow_keys = {
        (r.doc_id, r.band, r.key)
        for r in band_key_rows_inrow(static, "text", "doc_id", "ts").collect()
    }
    assert batch_keys == inrow_keys and len(batch_keys) == 16
    # the fixture really is a near-dup: docs 1 and 3 share >= 1 band key
    k1 = {(b, k) for d, b, k in batch_keys if d == 1}
    k3 = {(b, k) for d, b, k in batch_keys if d == 3}
    assert k1 & k3, "fixture texts do not collide on any band — adjust the mutation"
    # and the distinct docs share none
    for other in (2, 4):
        ko = {(b, k) for d, b, k in batch_keys if d == other}
        assert not (k1 & ko)

    # --- end-to-end stream ---
    src = str(tmp_path / "neardup_src")
    os.makedirs(src, exist_ok=True)
    import time as _time

    now = _time.time()
    for i, batch in enumerate([docs1, docs2]):
        path = os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for rec in batch:
                f.write(json.dumps(rec) + "\n")
        # the file source orders micro-batches by modification time;
        # same-second writes tie and batch order becomes arbitrary —
        # pin b0 strictly older so doc 1 is genuinely FIRST
        os.utime(path, (now + i * 60, now + i * 60))
    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    survivors = near_dup_band_survivors_stream(
        stream, "text", "doc_id", "ts", state_ttl_ms=600_000
    )
    emitted = []

    def sink(batch_df, batch_id):
        emitted.extend(
            (r.doc_id) for r in near_dup_batch_reduce(batch_df).collect()
        )

    q = (
        survivors.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "neardup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(q)  # ProcessingTimeTimeout state: never self-terminates
    # doc 3 (near-dup of doc 1 from the earlier micro-batch) is
    # suppressed; everything else passes
    assert sorted(emitted) == [1, 2, 4]

    # --- intra-batch near-dups keep exactly ONE representative ---
    # dropDuplicatesWithinWatermark-style per-key arbitrary winners
    # could split a same-batch pair's shared keys and suppress BOTH
    # copies (content loss); the deterministic (ts, doc_id) claimant
    # must keep the earliest doc and drop only the other.
    src2 = str(tmp_path / "neardup_src2")
    os.makedirs(src2, exist_ok=True)
    with open(os.path.join(src2, "b0.json"), "w") as f:
        for rec in docs1 + docs2:  # all four docs in ONE micro-batch
            f.write(json.dumps(rec) + "\n")
    stream2 = spark.readStream.schema("doc_id long, ts timestamp, text string").json(src2)
    emitted2 = []
    q2 = (
        near_dup_band_survivors_stream(stream2, "text", "doc_id", "ts", state_ttl_ms=600_000)
        .writeStream.foreachBatch(
            lambda b, _id: emitted2.extend(r.doc_id for r in near_dup_batch_reduce(b).collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "neardup_ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(q2)  # ProcessingTimeTimeout state: never self-terminates
    assert sorted(emitted2) == [1, 2, 4]


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join: clicks paired to purchases within
    [0s, 60s] per user must END at exactly the batch join's result,
    whatever the micro-batch split — the watermark bounds STATE, not
    the answer. Unmatched rows on both sides prove the interval edges."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from utils_infra_spark.streaming.join import stream_interval_join

    def _ts(s):
        return f"2024-01-01 00:{s // 60:02d}:{s % 60:02d}"

    clicks = [  # (user, ts_sec, page)
        (1, 10, "a"), (1, 50, "b"), (2, 20, "c"), (3, 30, "d"),
    ]
    buys = [  # (user, ts_sec, amount)
        (1, 40, 9.0),   # joins click@10 (30s gap) AND click@50? no: 40 < 50 → only @10
        (1, 55, 7.0),   # joins click@10 (45s) and click@50 (5s)
        (2, 90, 5.0),   # 70s after click@20 → outside [0, 60] — no match
        (4, 10, 3.0),   # no click for user 4
    ]
    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    _os.makedirs(cdir), _os.makedirs(bdir)
    # interleaved two-file split on both sides
    for bi in range(2):
        with open(f"{cdir}/c{bi}.json", "w") as f:
            for u, s, p in clicks[bi::2]:
                f.write(_json.dumps({"user_id": u, "ts": _ts(s), "page": p}) + "\n")
        with open(f"{bdir}/b{bi}.json", "w") as f:
            for u, s, a in buys[bi::2]:
                f.write(_json.dumps({"user_id": u, "ts": _ts(s), "amount": a}) + "\n")
    cs = "user_id long, ts timestamp, page string"
    bs = "user_id long, ts timestamp, amount double"
    cstream = spark.readStream.schema(cs).option("maxFilesPerTrigger", 1).json(cdir)
    bstream = spark.readStream.schema(bs).option("maxFilesPerTrigger", 1).json(bdir)
    out = stream_interval_join(
        cstream, bstream, "user_id",
        lower="0 seconds", upper="60 seconds", watermark="10 minutes",
    ).selectExpr("user_id", "page", "r_amount AS amount")
    q = (
        out.writeStream.format("memory").queryName("ij")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ij_ckpt"))
        .trigger(availableNow=True).start()
    )
    _await(q)
    got = sorted(
        tuple(r) for r in spark.sql("SELECT user_id, page, amount FROM ij").collect()
    )
    # batch reference: the same join on static frames
    cb = spark.createDataFrame(
        [(u, _ts(s), p) for u, s, p in clicks], "user_id long, ts string, page string"
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "page")
    bb = spark.createDataFrame(
        [(u, _ts(s), a) for u, s, a in buys], "user_id long, ts string, amount double"
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "amount")
    want = sorted(
        tuple(r)
        for r in cb.alias("c").join(
            bb.alias("b"),
            (F.col("c.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") >= F.col("c.ts"))
            & (F.col("b.ts") <= F.col("c.ts") + F.expr("INTERVAL 60 seconds")),
        ).selectExpr("c.user_id", "page", "amount").collect()
    )
    assert got == want
    # the designed pairs, spelled out: (u1,a)x{40s,55s}, (u1,b)x{55s}
    assert got == sorted([(1, "a", 9.0), (1, "a", 7.0), (1, "b", 7.0)])


def test_stream_interval_join_rejects_right_outer(spark):
    """rightOuter/fullOuter would null the reconstructed key on
    right-only rows — the operator must refuse loudly."""
    import pytest as _pytest

    from utils_infra_spark.streaming.join import stream_interval_join

    s = spark.readStream.format("rate").load().selectExpr("value AS user_id", "timestamp AS ts")
    with _pytest.raises(ValueError, match="only inner / leftOuter"):
        stream_interval_join(s, s, "user_id", how="rightOuter")


def test_stream_interval_join_rejects_name_collisions(spark):
    """The r_-prefix / __l_ / __r_ rename scheme must not silently
    produce duplicate output columns: left already carrying r_<x> or
    __l_<key>, right carrying __r_<key>, or right carrying both x and
    r_x (rename-chain sweep) all raise instead."""
    import pytest as _pytest

    from utils_infra_spark.streaming.join import stream_interval_join

    base = spark.readStream.format("rate").load()
    l_rx = base.selectExpr("value AS user_id", "timestamp AS ts", "value AS r_amount")
    r_amt = base.selectExpr("value AS user_id", "timestamp AS ts", "value AS amount")
    with _pytest.raises(ValueError, match="r_amount"):
        stream_interval_join(l_rx, r_amt, "user_id")

    l_ok = base.selectExpr("value AS user_id", "timestamp AS ts")
    r_badkey = base.selectExpr("value AS user_id", "timestamp AS ts", "value AS __r_user_id")
    with _pytest.raises(ValueError, match="__r_user_id"):
        stream_interval_join(l_ok, r_badkey, "user_id")

    l_lkey = base.selectExpr("value AS user_id", "timestamp AS ts", "value AS __l_user_id")
    with _pytest.raises(ValueError, match="__l_user_id"):
        stream_interval_join(l_lkey, r_amt, "user_id")

    r_chain = base.selectExpr(
        "value AS user_id", "timestamp AS ts", "value AS x", "value AS r_x"
    )
    with _pytest.raises(ValueError, match="chain"):
        stream_interval_join(l_ok, r_chain, "user_id")

    # and a clean pair still builds a plan (guard has no false positives)
    assert stream_interval_join(l_ok, r_amt, "user_id").columns == [
        "user_id", "ts", "r_ts", "r_amount",
    ]
