"""Real WebSocket ingestion (S1/S2): RFC 6455 client + PySpark 4
Python streaming data source, driven against an in-process stdlib WS
server (loopback TCP — no external network, no extra deps).

Covers: handshake accept-key (against RFC 6455 §1.3's published
example), frame encode/decode roundtrips at all three length escapes,
fragmentation reassembly, ping auto-pong, close-code propagation,
the reference's reconnect policy (backoff schedule, no-reconnect
codes, attempt reset), load shedding, and the end-to-end Spark path
websocket_feed -> normalize_any -> canonical rows.
"""

from __future__ import annotations

import json
import socket
import struct
import threading
import time

import pytest

from utils_infra_spark.sources.ws import (
    MAX_RECONNECT_ATTEMPTS,
    OP_CLOSE,
    OP_PING,
    OP_PONG,
    OP_TEXT,
    CloseReceived,
    FeedPump,
    WebSocketClient,
    accept_key,
    backoff_delay,
    encode_frame,
    subscription_message,
)


class WSTestServer:
    """Stdlib WebSocket server for loopback tests: performs the
    RFC 6455 server handshake, records the client's subscription
    frame, then runs a per-connection script of (action, payload)
    steps: 'text' sends a text frame, 'ping' sends a ping, 'close'
    sends a close frame with the given code, 'drop' severs TCP with
    no close handshake (the abnormal-loss path), 'wait' sleeps.
    Each accepted connection consumes the next script in
    ``scripts``; the last script is reused for extra connections."""

    def __init__(self, scripts):
        self.scripts = scripts
        self.subscriptions: list[str] = []
        self.pongs: list[bytes] = []
        self.connections = 0
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(5)
        self.port = self._srv.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        try:
            self._srv.close()
        except OSError:
            pass

    # -- frame helpers (server side: unmasked sends, masked receives) --
    def _recv_exact(self, conn, n):
        buf = b""
        while len(buf) < n:
            chunk = conn.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("client gone")
            buf += chunk
        return buf

    def _recv_frame(self, conn):
        b01 = self._recv_exact(conn, 2)
        opcode = b01[0] & 0x0F
        n = b01[1] & 0x7F
        if n == 126:
            n = struct.unpack(">H", self._recv_exact(conn, 2))[0]
        elif n == 127:
            n = struct.unpack(">Q", self._recv_exact(conn, 8))[0]
        key = self._recv_exact(conn, 4) if b01[1] & 0x80 else None
        payload = self._recv_exact(conn, n) if n else b""
        if key:
            payload = bytes(b ^ key[i % 4] for i, b in enumerate(payload))
        return opcode, payload

    def _handshake(self, conn):
        buf = b""
        while b"\r\n\r\n" not in buf:
            buf += conn.recv(4096)
        key = next(
            line.split(":", 1)[1].strip()
            for line in buf.decode("latin-1").split("\r\n")
            if line.lower().startswith("sec-websocket-key")
        )
        conn.sendall(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {accept_key(key)}\r\n\r\n"
            ).encode("ascii")
        )

    def _run(self):
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            script = self.scripts[min(self.connections, len(self.scripts) - 1)]
            self.connections += 1
            threading.Thread(
                target=self._serve, args=(conn, script), daemon=True
            ).start()

    def _serve(self, conn, script):
        try:
            conn.settimeout(10.0)
            self._handshake(conn)
            opcode, payload = self._recv_frame(conn)  # subscription
            if opcode == OP_TEXT:
                self.subscriptions.append(payload.decode())
            for action, arg in script:
                if action == "text":
                    conn.sendall(encode_frame(OP_TEXT, arg.encode(), mask=False))
                elif action == "ping":
                    conn.sendall(encode_frame(OP_PING, arg, mask=False))
                    op, pl = self._recv_frame(conn)
                    while op != OP_PONG:  # tolerate interleaved client pings
                        op, pl = self._recv_frame(conn)
                    self.pongs.append(pl)
                elif action == "close":
                    conn.sendall(
                        encode_frame(OP_CLOSE, struct.pack(">H", arg), mask=False)
                    )
                    conn.shutdown(socket.SHUT_WR)
                    time.sleep(0.2)
                    return
                elif action == "drop":
                    conn.setsockopt(
                        socket.SOL_SOCKET,
                        socket.SO_LINGER,
                        struct.pack("ii", 1, 0),
                    )
                    conn.close()
                    return
                elif action == "partial":
                    # first 2 bytes of a frame that announces a payload,
                    # then silence — the half-open-stall failure mode
                    conn.sendall(encode_frame(OP_TEXT, b"x" * 64, mask=False)[:2])
                    time.sleep(arg)
                    return
                elif action == "wait":
                    time.sleep(arg)
            time.sleep(30)  # hold open until test teardown
        except OSError:
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass


def test_accept_key_rfc_example():
    # RFC 6455 §1.3's published handshake example.
    assert (
        accept_key("dGhlIHNhbXBsZSBub25jZQ==") == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="
    )


def test_frame_length_escapes_roundtrip():
    # decode with the server-side parser over a loopback pair
    for size in (0, 1, 125, 126, 65535, 65536):
        payload = bytes(i % 251 for i in range(size))
        frame = encode_frame(OP_TEXT, payload, mask=True)
        # manual unmask-decode
        n = frame[1] & 0x7F
        off = 2
        if n == 126:
            n = struct.unpack(">H", frame[2:4])[0]
            off = 4
        elif n == 127:
            n = struct.unpack(">Q", frame[2:10])[0]
            off = 10
        key, body = frame[off : off + 4], frame[off + 4 :]
        assert n == size
        assert bytes(b ^ key[i % 4] for i, b in enumerate(body)) == payload
    # unmasked server frame: payload is verbatim
    f = encode_frame(OP_TEXT, b"abc", mask=False)
    assert f[2:] == b"abc" and not (f[1] & 0x80)


def test_backoff_schedule_matches_reference():
    assert [backoff_delay(a) for a in range(8)] == [
        1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 60.0, 60.0,
    ]
    assert MAX_RECONNECT_ATTEMPTS == 10


def test_client_handshake_messages_fragmentation_ping_close():
    long_text = "x" * 70_000  # forces the 8-byte length escape
    srv = WSTestServer(
        [[("text", "hello"), ("text", long_text), ("ping", b"ka"), ("text", "bye"),
          ("close", 1000)]]
    )
    try:
        cli = WebSocketClient("127.0.0.1", srv.port, timeout=0.1)
        cli.send_text("sub")
        msgs = []
        deadline = time.monotonic() + 10
        with pytest.raises(CloseReceived) as exc:
            while time.monotonic() < deadline:
                m = cli.recv_message()
                if m is not None:
                    msgs.append(m.decode())
        assert exc.value.code == 1000
        assert msgs == ["hello", long_text, "bye"]
        assert srv.subscriptions == ["sub"]
        assert srv.pongs == [b"ka"]  # auto-pong carried the ping payload
    finally:
        srv.stop()


def test_client_reassembles_continuation_frames():
    srv = WSTestServer([[("wait", 30.0)]])
    try:
        cli = WebSocketClient("127.0.0.1", srv.port, timeout=0.1)
        cli.send_text("sub")
        # hand-feed a fragmented message through the client's buffer
        cli._buf = (
            encode_frame(OP_TEXT, b"frag", mask=False, fin=False)
            + encode_frame(0x0, b"mented", mask=False, fin=True)
        )
        assert cli.recv_message() == b"fragmented"
        cli.close()
    finally:
        srv.stop()


def test_pump_reconnects_after_abnormal_drop():
    srv = WSTestServer(
        [
            # the wait lets the client drain m1/m2 before the RST —
            # an abnormal drop destroys in-flight bytes (at-most-once
            # across abrupt loss is the contract; the wait makes the
            # test deterministic, not the semantics stronger)
            [("text", "m1"), ("text", "m2"), ("wait", 0.5), ("drop", None)],
            [("text", "m3"), ("text", "m4"), ("wait", 30.0)],
        ]
    )
    pump = FeedPump(
        "127.0.0.1", srv.port, subscribe="sub", base_delay=0.05, ping_interval=1e9
    ).start()
    try:
        got = []
        deadline = time.monotonic() + 15
        while len(got) < 4 and time.monotonic() < deadline:
            got.extend(v for _, _, v in pump.drain())
            time.sleep(0.05)
        assert got == ["m1", "m2", "m3", "m4"]
        assert pump.opens == 2
        assert srv.subscriptions == ["sub", "sub"]  # re-sent on reopen
        # seq numbering is monotone across the reconnect
    finally:
        pump.stop()
        srv.stop()


def test_pump_respects_no_reconnect_close_codes():
    srv = WSTestServer([[("text", "only"), ("close", 1008)], [("text", "never"),
                        ("wait", 30.0)]])
    pump = FeedPump(
        "127.0.0.1", srv.port, subscribe="s", base_delay=0.05, ping_interval=1e9
    ).start()
    try:
        assert pump.stopped.wait(10.0)
        assert [v for _, _, v in pump.drain()] == ["only"]
        assert pump.opens == 1  # 1008 is terminal: no second connection
        assert "1008" in (pump.stop_reason or "")
    finally:
        pump.stop()
        srv.stop()


def test_pump_sheds_oldest_when_buffer_full():
    msgs = [("text", f"m{i}") for i in range(10)] + [("wait", 30.0)]
    srv = WSTestServer([msgs])
    pump = FeedPump(
        "127.0.0.1", srv.port, subscribe="s", max_buffer=4,
        base_delay=0.05, ping_interval=1e9,
    ).start()
    try:
        deadline = time.monotonic() + 10
        while pump.dropped < 6 and time.monotonic() < deadline:
            time.sleep(0.05)
        rows = pump.drain()
        assert [v for _, _, v in rows] == ["m6", "m7", "m8", "m9"]
        assert [s for s, _, _ in rows] == [6, 7, 8, 9]  # gaps, not renumbering
        assert pump.dropped == 6
    finally:
        pump.stop()
        srv.stop()


def test_subscription_message_shape():
    sub = json.loads(
        subscription_message("k", [[[-48.0, 166.0], [-34.0, 179.0]]], ["PositionReport"])
    )
    assert set(sub) == {"APIKey", "BoundingBoxes", "FilterMessageTypes"}


def test_websocket_feed_to_normalized_stream(spark, tmp_path):
    """End-to-end S1: websocket_feed source -> normalize_any ->
    canonical AIS records, across TWO wire shapes and a mid-stream
    reconnect — the reference's ingest path with Spark doing the
    parsing downstream of the socket."""
    from utils_infra_spark.sources.normalize import normalize_any
    from utils_infra_spark.sources.ws import WebSocketDataSource

    wire = [
        json.dumps({"mmsi": 512000001, "lat": -41.3, "lon": 174.8, "ts": "2024-05-01T10:00:00Z"}),
        json.dumps(
            {
                "msgs": [
                    {
                        "mmsi": 512000002,
                        "lat": -36.8,
                        "lon": 174.7,
                        "speed": 11.5,
                        "course": 90.0,
                        "shipname": "AOTEAROA",
                        # AIS-catcher rxtime is the compact yyyyMMddHHmmss form
                        "rxtime": "20240501100005",
                    }
                ]
            }
        ),
    ]
    srv = WSTestServer(
        [
            [("text", wire[0]), ("wait", 0.5), ("drop", None)],
            [("text", wire[1]), ("wait", 30.0)],
        ]
    )
    spark.dataSource.register(WebSocketDataSource)
    sub = subscription_message("test", [[[-48.0, 166.0], [-34.0, 179.0]]], ["PositionReport"])
    raw = (
        spark.readStream.format("websocket_feed")
        .option("host", "127.0.0.1")
        .option("port", srv.port)
        .option("subscribe", sub)
        .option("baseDelay", "0.05")
        .load()
    )
    canonical = normalize_any(raw.select(raw.value.alias("raw_json")), "raw_json")
    rows: list = []
    q = (
        canonical.writeStream.foreachBatch(
            lambda b, _id: rows.extend(b.select("mmsi", "lat", "lon", "name").collect())
        )
        .option("checkpointLocation", str(tmp_path / "ws_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.monotonic() + 90
        while len(rows) < 2 and time.monotonic() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
        srv.stop()
    by_mmsi = {r.mmsi: r for r in rows}
    assert set(by_mmsi) == {512000001, 512000002}
    assert by_mmsi[512000001].lat == pytest.approx(-41.3)
    assert by_mmsi[512000002].name == "AOTEAROA"
    assert srv.subscriptions == [sub, sub]  # subscribe re-sent on reconnect


def test_normalize_cot_both_group_forms(spark):
    from utils_infra_spark.sources.normalize import normalize_cot

    frames = [
        # string group form
        json.dumps({"type": "cot", "data": {"id": "c1", "geometry": {"type": "Point",
            "coordinates": [174.8, -41.3]}, "properties": {"callsign": "ALPHA",
            "group": "Blue", "time": "2024-05-01T10:00:00Z"}}}),
        # object group form {name: ...}
        json.dumps({"type": "cot", "data": {"id": "c2", "geometry": {"type": "Point",
            "coordinates": [172.6, -43.5]}, "properties": {"callsign": "BRAVO",
            "group": {"name": "Red"}, "time": "2024-05-01T10:00:01Z"}}}),
        # no group -> not a contact, filtered
        json.dumps({"type": "cot", "data": {"id": "x1", "geometry": {"type": "Point",
            "coordinates": [0.0, 0.0]}, "properties": {"callsign": "NOGRP",
            "time": "2024-05-01T10:00:02Z"}}}),
        # id missing -> callsign fallback key
        json.dumps({"type": "cot", "data": {"geometry": {"type": "Point",
            "coordinates": [1.0, 2.0]}, "properties": {"callsign": "CHARLIE",
            "group": "Green", "time": "2024-05-01T10:00:03Z"}}}),
        # non-cot frame type, filtered
        json.dumps({"type": "chat", "data": {"id": "c9", "geometry": {"type": "Point",
            "coordinates": [3.0, 4.0]}, "properties": {"callsign": "D",
            "group": "Blue", "time": "2024-05-01T10:00:04Z"}}}),
        # legitimate group NAME that merely starts with '{' — must take
        # the string branch and survive, not parse-to-null and drop
        json.dumps({"type": "cot", "data": {"id": "c3", "geometry": {"type": "Point",
            "coordinates": [170.0, -45.0]}, "properties": {"callsign": "DELTA",
            "group": "{weird team", "time": "2024-05-01T10:00:05Z"}}}),
        # group is a real JSON object with no usable name — dropped
        json.dumps({"type": "cot", "data": {"id": "c4", "geometry": {"type": "Point",
            "coordinates": [171.0, -44.0]}, "properties": {"callsign": "ECHO",
            "group": {}, "time": "2024-05-01T10:00:06Z"}}}),
    ]
    df = spark.createDataFrame([(f,) for f in frames], "raw string")
    out = normalize_cot(df, "raw", group_colors={"Blue": "#0000ff", "Red": "#ff0000"})
    rows = {r.contact_id: r for r in out.collect()}
    assert set(rows) == {"c1", "c2", "CHARLIE", "c3"}
    assert rows["c3"].group_name == "{weird team"
    assert rows["c1"].group_name == "Blue" and rows["c1"].marker_color == "#0000ff"
    assert rows["c2"].group_name == "Red" and rows["c2"].marker_color == "#ff0000"
    assert rows["CHARLIE"].marker_color == "#ffffff"  # unknown group fallback
    assert rows["c2"].lon == pytest.approx(172.6) and rows["c2"].lat == pytest.approx(-43.5)


def test_websocket_cot_contacts_stream(spark, tmp_path):
    """End-to-end S2: websocket_feed -> normalize_cot -> styled
    contact rows (the tak-contacts-ws consumer's path)."""
    from utils_infra_spark.sources.normalize import normalize_cot
    from utils_infra_spark.sources.ws import WebSocketDataSource

    frame = json.dumps({"type": "cot", "data": {"id": "u-1", "geometry": {"type": "Point",
        "coordinates": [174.0, -41.0]}, "properties": {"callsign": "KIWI",
        "group": "Blue", "time": "2024-05-01T12:00:00Z"}}})
    srv = WSTestServer([[("text", frame), ("wait", 30.0)]])
    spark.dataSource.register(WebSocketDataSource)
    raw = (
        spark.readStream.format("websocket_feed")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("subscribe", '{"connection": "test"}')
        .load()
    )
    contacts = normalize_cot(raw.select(raw.value.alias("raw")), "raw",
                             group_colors={"Blue": "#0000ff"})
    rows: list = []
    q = (
        contacts.writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "cot_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while not rows and time.monotonic() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
        srv.stop()
    assert rows and rows[0].contact_id == "u-1"
    assert rows[0].marker_color == "#0000ff" and rows[0].callsign == "KIWI"


def test_pump_idle_suicide_reclaims_thread():
    """The datasource API exposes no reader stop() hook, so a stopped
    query's pump must reclaim itself: no drain for idle_timeout ->
    pump stops and records why."""
    srv = WSTestServer([[("text", "m"), ("wait", 30.0)]])
    pump = FeedPump(
        "127.0.0.1", srv.port, subscribe="s", base_delay=0.05,
        ping_interval=1e9, idle_timeout=0.5,
    ).start()
    try:
        assert pump.stopped.wait(10.0)
        assert "idle" in (pump.stop_reason or "")
    finally:
        pump.stop()
        srv.stop()


def test_client_frame_stall_raises_and_pump_reconnects():
    """A peer that announces a frame then stalls (half-open TCP) must
    become a ConnectionError within frame_timeout so the reconnect
    policy fires — not a forever-parked thread."""
    srv2 = WSTestServer([[("partial", 30.0)]])
    try:
        cli = WebSocketClient("127.0.0.1", srv2.port, timeout=0.05, frame_timeout=0.4)
        cli.send_text("s")
        with pytest.raises(ConnectionError, match="stalled"):
            deadline = time.monotonic() + 10
            while time.monotonic() < deadline:
                cli.recv_message()
    finally:
        srv2.stop()


def test_reader_read_raises_on_terminal_pump_death(tmp_path):
    """After a terminal close (1008), the reader must raise on the
    first fully-drained read — a dead feed must not look like a
    healthy idle one."""
    from utils_infra_spark.sources.ws import _WSFeedReader

    srv = WSTestServer([[("text", "last"), ("close", 1008)], [("text", "never"),
                        ("wait", 30.0)]])
    try:
        reader = _WSFeedReader(
            {"host": "127.0.0.1", "port": str(srv.port), "subscribe": "s",
             "basedelay": "0.05", "pinginterval": "1e9"}
        )
        off = reader.initialOffset()
        pump = reader._pump
        assert pump.stopped.wait(10.0)  # 1008 is terminal
        # buffered rows drain first...
        rows, off = reader.read(off)
        assert [r[2] for r in rows] == ["last"]
        # ...then the death surfaces loudly
        with pytest.raises(RuntimeError, match="1008"):
            reader.read(off)
    finally:
        srv.stop()


def test_two_concurrent_feeds_do_not_interfere(spark, tmp_path):
    """The reference's deployment shape: the AIS feed and the CoT feed
    run as two simultaneous subscriptions. Two websocket_feed queries
    in one session must each get their own pump (distinct ports,
    distinct offsets) with no cross-delivery."""
    from utils_infra_spark.sources.ws import WebSocketDataSource

    srv_a = WSTestServer([[("text", "from-a-1"), ("text", "from-a-2"), ("wait", 30.0)]])
    srv_b = WSTestServer([[("text", "from-b-1"), ("wait", 30.0)]])
    spark.dataSource.register(WebSocketDataSource)

    def start(srv, name):
        rows = []
        q = (
            spark.readStream.format("websocket_feed")
            .option("host", "127.0.0.1").option("port", srv.port)
            .option("subscribe", name).load()
            .writeStream.foreachBatch(lambda b, _id, rows=rows: rows.extend(
                r.value for r in b.collect()))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(processingTime="1 second")
            .start()
        )
        return q, rows

    qa, rows_a = start(srv_a, "sub-a")
    qb, rows_b = start(srv_b, "sub-b")
    try:
        deadline = time.monotonic() + 60
        while (len(rows_a) < 2 or len(rows_b) < 1) and time.monotonic() < deadline:
            time.sleep(0.5)
    finally:
        qa.stop(); qb.stop(); srv_a.stop(); srv_b.stop()
    assert sorted(rows_a) == ["from-a-1", "from-a-2"]
    assert rows_b == ["from-b-1"]
    assert srv_a.subscriptions == ["sub-a"] and srv_b.subscriptions == ["sub-b"]


def test_websocket_full_pipeline_matches_batch_replay(spark, tmp_path):
    """The reference's whole AIS path, live: WebSocket frames ->
    normalize_any -> keyed upsert state (the no-TTL streaming
    aggregation), across a reconnect — and the streaming state must equal the batch
    window replay of the same payloads (the T1-T3 correctness
    contract, now fed by the real socket source)."""
    from utils_infra_spark.sources.normalize import normalize_any
    from utils_infra_spark.sources.ws import WebSocketDataSource
    from utils_infra_spark.streaming.upsert import keyed_upsert_batch, keyed_upsert_stream

    wire = [
        # position first (no name), then a reconnect, then the static
        # message carrying the name, then a NEWER position
        json.dumps({"mmsi": 512000007, "lat": -41.0, "lon": 174.0,
                    "ts": "2024-05-01T10:00:00Z"}),
        # the static-data message carries its own (older-position) fix:
        # normalize_any's validity filter is a hard contract — rows
        # without coordinates never reach the upsert (batch replay
        # agrees, which is the point of the parity assertion below)
        json.dumps({"msgs": [{"mmsi": 512000007, "shipname": "TUI",
                              "rxtime": "20240501100005",
                              "lat": -41.1, "lon": 174.1}]}),
        json.dumps({"mmsi": 512000007, "lat": -41.2, "lon": 174.2,
                    "ts": "2024-05-01T10:00:10Z"}),
    ]
    srv = WSTestServer(
        [
            [("text", wire[0]), ("wait", 0.5), ("drop", None)],
            [("text", wire[1]), ("text", wire[2]), ("wait", 30.0)],
        ]
    )
    spark.dataSource.register(WebSocketDataSource)
    raw = (
        spark.readStream.format("websocket_feed")
        .option("host", "127.0.0.1").option("port", srv.port)
        .option("subscribe", "s").option("baseDelay", "0.05")
        .load()
    )
    canonical = normalize_any(raw.select(raw.value.alias("raw")), "raw")
    value_cols = ["lat", "lon", "name"]
    states = keyed_upsert_stream(
        canonical.select("mmsi", "event_ts", *value_cols),
        "mmsi",
        "event_ts",
        value_cols,
        output_schema="mmsi long, event_ts timestamp, lat double, lon double, name string",
        state_schema="event_ts timestamp, lat double, lon double, name string",
    )
    updates: list = []
    q = (
        states.writeStream.foreachBatch(lambda b, _id: updates.extend(b.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "full_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.monotonic() + 90
        # wait until the state reflects ALL three messages: newest
        # position AND the static name
        def done():
            latest = max(updates, key=lambda r: r.event_ts) if updates else None
            return latest is not None and latest.name == "TUI" and latest.lat == -41.2
        while not done() and time.monotonic() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
        srv.stop()
    final = max(updates, key=lambda r: r.event_ts)
    # ground truth: batch replay of the same three payloads
    batch = normalize_any(
        spark.createDataFrame([(w,) for w in wire], "raw string"), "raw"
    ).select("mmsi", "event_ts", *value_cols)
    want = keyed_upsert_batch(batch, "mmsi", "event_ts", value_cols).collect()[0]
    assert final.mmsi == want.mmsi == 512000007
    assert final.lat == want.lat == -41.2 and final.lon == want.lon == 174.2
    assert final.name == want.name == "TUI"
    assert final.event_ts == want.event_ts


def test_reader_rebases_sequence_after_driver_restart():
    """Driver-restart recovery: a NEW reader (fresh pump counting from
    0) handed the CHECKPOINTED start offset {seq: N} must rebase its
    rows onto the checkpoint's offset line — rows delivered AT/ABOVE
    N with an advancing end offset — so a same-process batch retry via
    readBetweenOffsets replays them instead of returning empty (the
    pre-fix behavior: rows under a non-advancing offset, pruned by the
    first commit, silently lost on retry)."""
    from utils_infra_spark.sources.ws import _WSFeedReader

    srv = WSTestServer([[("text", "r1"), ("text", "r2"), ("text", "r3"),
                         ("wait", 30.0)]])
    try:
        # restart emulation: initialOffset() is NOT called (a
        # checkpoint exists); the first read carries the old offset
        reader = _WSFeedReader(
            {"host": "127.0.0.1", "port": str(srv.port), "subscribe": "s",
             "basedelay": "0.05", "pinginterval": "1e9"}
        )
        start = {"seq": 7}
        deadline = time.monotonic() + 10
        rows, end = [], start
        while len(rows) < 3 and time.monotonic() < deadline:
            got, end = reader.read(end if rows else start)
            rows.extend(got)
            time.sleep(0.05)
        assert [r[2] for r in rows] == ["r1", "r2", "r3"]
        # offsets monotone with the checkpoint line, not the pump line
        assert all(r[0] >= 7 for r in rows)
        assert end["seq"] == rows[-1][0] + 1 > 7
        # same-process retry of the whole uncommitted span replays all
        replayed = list(reader.readBetweenOffsets(start, end))
        assert [r[2] for r in replayed] == ["r1", "r2", "r3"]
        # commit prunes the window
        reader.commit(end)
        assert list(reader.readBetweenOffsets(start, end)) == []
        reader._pump.stop()
    finally:
        srv.stop()
