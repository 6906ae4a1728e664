"""Live binary TCP producer server e2e: handshake, pipelined produce
frames coalesced into one write group, acks per stream, error paths.
Mirrors the reference's binary server behavior
(internal/producing/binary_server.go:76-118)."""

from __future__ import annotations

import socket

import pytest

from barco_spark.sources.wire import (
    ERROR_OP,
    HEADER_SIZE,
    HEARTBEAT_OP,
    PRODUCE_RESPONSE_OP,
    READY_OP,
    STARTUP_OP,
    encode_frame,
    encode_produce_frame,
    parse_header,
)


@pytest.fixture()
def served_log(spark, tmp_path):
    from barco_spark.sources.eventlog import EventLog
    from barco_spark.sources.tcp_server import BinaryProducerServer

    log = EventLog(spark, str(tmp_path / "log"))
    srv = BinaryProducerServer(log)
    srv.start()
    yield srv, log
    srv.stop()


def _recv_frame(sock):
    head = b""
    while len(head) < HEADER_SIZE:
        chunk = sock.recv(HEADER_SIZE - len(head))
        assert chunk, "server closed mid-header"
        head += chunk
    flags, stream_id, op, body_len = parse_header(head)
    body = b""
    while len(body) < body_len:
        body += sock.recv(body_len - len(body))
    return stream_id, op, body


def test_binary_roundtrip_startup_produce_poll(served_log):
    srv, log = served_log
    with socket.create_connection(("127.0.0.1", srv.port)) as sock:
        sock.sendall(encode_frame(STARTUP_OP, stream_id=7))
        sid, op, _ = _recv_frame(sock)
        assert (sid, op) == (7, READY_OP)

        # pipeline three produce frames (two topics) in one burst: the
        # server coalesces them into one write group per topic
        burst = (
            encode_produce_frame("ta", ["m1", "m2"], partition_key="k", stream_id=1)
            + encode_produce_frame("ta", ["m3"], stream_id=2,
                                   timestamp_us=1_700_000_000_000_000)
            + encode_produce_frame("tb", ["x1"], partition_key="k2", stream_id=3)
        )
        sock.sendall(burst)
        acks = sorted(_recv_frame(sock)[:2] for _ in range(3))
        assert acks == [
            (1, PRODUCE_RESPONSE_OP),
            (2, PRODUCE_RESPONSE_OP),
            (3, PRODUCE_RESPONSE_OP),
        ]

        # heartbeat keeps the connection alive
        sock.sendall(encode_frame(HEARTBEAT_OP, stream_id=9))
        assert _recv_frame(sock)[:2] == (9, READY_OP)

    log.register("g", ["ta", "tb"], reset="earliest")
    got_a = sorted(
        r["payload"] for r in log.poll("g", "ta", max_records_per_bucket=100).collect()
    )
    got_b = [r["payload"] for r in log.poll("g", "tb", max_records_per_bucket=100).collect()]
    assert got_a == ["m1", "m2", "m3"]
    assert got_b == ["x1"]


def test_binary_rejects_non_startup_first_frame(served_log):
    srv, _log = served_log
    with socket.create_connection(("127.0.0.1", srv.port)) as sock:
        sock.sendall(encode_produce_frame("t", ["m"], stream_id=5))
        sid, op, body = _recv_frame(sock)
        assert (sid, op) == (5, ERROR_OP)
        assert body[0] == 0  # serverError code
        assert b"Invalid first message" in body[1:]


def test_binary_rejects_corrupt_header(served_log):
    srv, _log = served_log
    with socket.create_connection(("127.0.0.1", srv.port)) as sock:
        frame = bytearray(encode_frame(STARTUP_OP, stream_id=1))
        frame[12] ^= 0xFF  # flip a CRC byte
        sock.sendall(bytes(frame))
        _sid, op, body = _recv_frame(sock)
        assert op == ERROR_OP
        assert b"crc mismatch" in body[1:]
        # connection is closed after the error
        assert sock.recv(1) == b""


def test_binary_fragmented_pipeline_not_torn(served_log):
    """A frame whose header arrives before its body must not be torn by
    the coalescing drain (the nonblocking peek covers only byte 1)."""
    import time

    srv, log = served_log
    f1 = encode_produce_frame("tf", ["a"], stream_id=1)
    f2 = encode_produce_frame("tf", ["b"], stream_id=2)
    with socket.create_connection(("127.0.0.1", srv.port)) as sock:
        sock.sendall(encode_frame(STARTUP_OP))
        _recv_frame(sock)
        sock.sendall(f1 + f2[: HEADER_SIZE + 3])  # frame 2 torn mid-body
        time.sleep(0.05)
        sock.sendall(f2[HEADER_SIZE + 3 :])
        acks = sorted(_recv_frame(sock)[:2] for _ in range(2))
        assert acks == [(1, PRODUCE_RESPONSE_OP), (2, PRODUCE_RESPONSE_OP)]
    log.register("g", ["tf"], reset="earliest")
    assert sorted(
        r["payload"] for r in log.poll("g", "tf", max_records_per_bucket=10).collect()
    ) == ["a", "b"]


def test_binary_rejects_oversized_body_declaration(served_log):
    """A frame header declaring a body over the PRODUCER BUFFER POOL
    bound (the reference's binary-path limit: bufferPool.Get can never
    serve more than the whole 32 MiB pool, binary_server.go:193-194 +
    config.go:69) must be refused BEFORE the body is read or allocated.
    We never send the declared body — if the server tried to read it,
    this test would hang; instead the error frame must arrive
    immediately, with the offending frame's stream id, and the
    connection must close. MaxMessageSize does NOT bound wire frames:
    a multi-message frame over 1 MiB total is legal (the reference has
    no size check on the binary path) and must produce fine."""
    import struct

    from barco_spark.sources.wire import MESSAGE_VERSION, PRODUCE_OP, _crc32

    srv, log = served_log
    pool = log.config.producer_buffer_pool_bytes
    with socket.create_connection(("127.0.0.1", srv.port)) as sock:
        sock.settimeout(10)
        sock.sendall(encode_frame(STARTUP_OP, stream_id=1))
        assert _recv_frame(sock)[:2] == (1, READY_OP)
        head9 = struct.pack(
            ">BBHBI", MESSAGE_VERSION, 0, 42, PRODUCE_OP, pool + 1
        )
        sock.sendall(head9 + struct.pack(">I", _crc32(head9)))
        sid, op, body = _recv_frame(sock)
        assert (sid, op) == (42, ERROR_OP)
        assert b"exceeds the producer buffer pool" in body[1:]
        assert sock.recv(1) == b""  # connection dropped

    # a multi-message frame whose TOTAL body exceeds MaxMessageSize but
    # whose records are each under it is legal on the wire and writes
    msg_cap = log.config.max_message_size_bytes
    payloads = ["y" * (msg_cap // 8)] * 20  # ~2.5 MiB body, 128 KiB records
    with socket.create_connection(("127.0.0.1", srv.port)) as sock:
        sock.settimeout(120)
        sock.sendall(encode_frame(STARTUP_OP, stream_id=1))
        assert _recv_frame(sock)[:2] == (1, READY_OP)
        frame = encode_produce_frame("tbig", payloads, partition_key="k",
                                     stream_id=2)
        assert struct.unpack(">I", frame[5:9])[0] > msg_cap
        sock.sendall(frame)
        assert _recv_frame(sock)[:2] == (2, PRODUCE_RESPONSE_OP)

        # but a single RECORD over MaxMessageSize fails at the log
        # layer and must error-ack THIS frame (real text relayed), not
        # kill the handler thread — the connection stays usable
        sock.sendall(encode_produce_frame(
            "tbig", ["z" * (msg_cap + 1)], partition_key="k", stream_id=3))
        sid, op, body = _recv_frame(sock)
        assert (sid, op) == (3, ERROR_OP)
        assert b"max message size" in body[1:]
        sock.sendall(encode_frame(HEARTBEAT_OP, stream_id=4))
        assert _recv_frame(sock)[:2] == (4, READY_OP)
    log.register("g", ["tbig"], reset="earliest")
    got = log.poll("g", "tbig", max_records_per_bucket=100).collect()
    assert len(got) == 20  # the legal multi-message frame landed intact


def test_binary_oversized_peek_flushes_buffered_group(served_log):
    """An oversized-declared frame arriving MID-PIPELINE must not
    discard the valid frames already buffered in the coalesce group:
    the reference handles each produce message independently, so the
    group flushes (write + ack) first, THEN the offending frame gets
    its error and the connection drops."""
    import struct
    import time

    from barco_spark.sources.wire import MESSAGE_VERSION, PRODUCE_OP, _crc32

    srv, log = served_log
    pool = log.config.producer_buffer_pool_bytes
    bad_head = struct.pack(">BBHBI", MESSAGE_VERSION, 0, 8, PRODUCE_OP, pool + 1)
    bad = bad_head + struct.pack(">I", _crc32(bad_head))
    with socket.create_connection(("127.0.0.1", srv.port)) as sock:
        sock.settimeout(60)
        sock.sendall(encode_frame(STARTUP_OP, stream_id=1))
        assert _recv_frame(sock)[:2] == (1, READY_OP)
        # valid frame + oversized header in ONE burst so the peek path
        # (not the blocking read) hits the oversized declaration
        sock.sendall(
            encode_produce_frame("tg", ["ok"], partition_key="k", stream_id=7)
            + bad
        )
        time.sleep(0.05)
        first = _recv_frame(sock)
        second = _recv_frame(sock)
        assert first[:2] == (7, PRODUCE_RESPONSE_OP)  # flushed, acked
        assert second[:2] == (8, ERROR_OP)
        assert sock.recv(1) == b""  # then the connection drops
    log.register("g", ["tg"], reset="earliest")
    assert [r["payload"] for r in
            log.poll("g", "tg", max_records_per_bucket=10).collect()] == ["ok"]


def test_route_frames_merge_respects_max_message_size(spark, tmp_path):
    """The reroute merge must close a producer.frames batch before its
    encoded size would exceed the leader's MaxMessageSize check: a
    pipelined burst of under-cap ts-less frames totalling over 1 MiB
    must split into multiple POSTs (each under the cap) and every frame
    still acks OK — the reference routes per-frame and would succeed
    (binary_server.go:230-247)."""
    from barco_spark.sources.eventlog import EventLog
    from barco_spark.sources.tcp_server import BinaryProducerServer

    log = EventLog(spark, str(tmp_path / "log"))
    srv = BinaryProducerServer(log)  # not started: unit-drive the router
    cap = log.config.max_message_size_bytes
    posted: list[int] = []

    def fake_route(topic, msgs, stream_id):
        body_len = sum(4 + len(m["payload"]) for m in msgs)
        posted.append(body_len)
        return encode_frame(PRODUCE_RESPONSE_OP, stream_id)

    srv._route_frame = fake_route
    # 5 frames x ~300 KiB each, same (topic, key), no timestamps:
    # unbounded merging would build one ~1.5 MiB body and get 400'd
    payload = b"y" * (300 * 1024)
    routed = [
        (i, 10 + i, "t", [{
            "topic": "t", "partition_key": "k",
            "timestamp_us": None, "payload": payload,
        }])
        for i in range(5)
    ]
    acks: list[bytes] = [b""] * 5
    srv._route_frames(routed, acks)
    assert len(posted) >= 2, "over-cap burst was not split"
    assert all(n <= cap for n in posted), f"a merged POST exceeds cap: {posted}"
    assert sum(posted) == 5 * (4 + len(payload))  # no message lost or duped
    for i in range(5):
        assert parse_header(acks[i])[1:3] == (10 + i, PRODUCE_RESPONSE_OP)

    # a SINGLE frame whose repack exceeds the cap still routes alone
    # (per-frame parity: the leader's 400 must hit only that frame)
    big = [{"topic": "t", "partition_key": "k", "timestamp_us": None,
            "payload": b"z" * (cap + 10)}]
    posted.clear()
    acks2 = [b""]
    srv._route_frames([(0, 99, "t", big)], acks2)
    assert len(posted) == 1
    assert parse_header(acks2[0])[1:3] == (99, PRODUCE_RESPONSE_OP)


def test_binary_produce_preserves_microsecond_timestamp(served_log):
    """The wire carries integer epoch micros; the stored timestamp must
    round-trip exactly (float division would lose sub-us precision)."""
    ts_us = 1_700_000_000_123_457  # odd microsecond on purpose
    srv, log = served_log
    with socket.create_connection(("127.0.0.1", srv.port)) as sock:
        sock.sendall(encode_frame(STARTUP_OP))
        _recv_frame(sock)
        sock.sendall(
            encode_produce_frame("tts", ["x"], stream_id=1, timestamp_us=ts_us)
        )
        assert _recv_frame(sock)[:2] == (1, PRODUCE_RESPONSE_OP)
    log.register("g", ["tts"], reset="earliest")
    row = log.poll("g", "tts", max_records_per_bucket=10).collect()[0]
    import datetime as dt

    got = row["timestamp"]
    expect = dt.datetime.fromtimestamp(ts_us // 1_000_000) + dt.timedelta(
        microseconds=ts_us % 1_000_000
    )
    assert got.replace(tzinfo=None) == expect.replace(tzinfo=None) or (
        got.microsecond == expect.microsecond
    )


def test_binary_produce_routes_to_topic_leader(spark, tmp_path):
    """Binary-protocol produce REROUTING (binary_server.go:230-247 ->
    gossiper.SendToLeader, integration shape roundtrip_test.go:506): a
    keyed binary producer pointed at the NON-leader facade still
    succeeds — the binary server routes each mis-routed frame to the
    leader's HTTP routing endpoint as a producer.frames body — and the
    records land on the leader's log with contiguous per-bucket offsets
    and per-key order, indistinguishable from direct produce."""
    from collections import Counter, defaultdict

    from barco_spark.sources.eventlog import EventLog
    from barco_spark.sources.http_server import BrokerHttpServer
    from barco_spark.sources.tcp_server import BinaryProducerServer

    root = str(tmp_path / "log")
    fa = BrokerHttpServer(EventLog(spark, root))
    fb = BrokerHttpServer(EventLog(spark, root))
    fa.start(), fb.start()
    leader_id = fa.registry.leader_for("t")[0]
    leader, follower = (
        (fa, fb) if leader_id == fa.registry.facade_id else (fb, fa)
    )
    # binary listener co-located with the FOLLOWER facade: shares its
    # registry (one leadership identity) and its lock (one writer)
    srv = BinaryProducerServer(
        follower.log, registry=follower.registry, lock=follower._lock
    )
    srv.start()
    try:
        with socket.create_connection(("127.0.0.1", srv.port)) as sock:
            sock.sendall(encode_frame(STARTUP_OP, stream_id=1))
            assert _recv_frame(sock)[:2] == (1, READY_OP)
            # pipelined keyed frames: multi-message, timestamped, and a
            # second key — ALL for a topic the PEER leads
            burst = (
                encode_produce_frame("t", ["a1", "a2"], partition_key="ka",
                                     stream_id=2)
                + encode_produce_frame("t", ["a3"], partition_key="ka",
                                       stream_id=3,
                                       timestamp_us=1_700_000_000_000_123)
                + encode_produce_frame("t", ["b1"], partition_key="kb",
                                       stream_id=4)
            )
            sock.sendall(burst)
            acks = sorted(_recv_frame(sock)[:2] for _ in range(3))
            assert acks == [
                (2, PRODUCE_RESPONSE_OP),
                (3, PRODUCE_RESPONSE_OP),
                (4, PRODUCE_RESPONSE_OP),
            ]
        # direct produce on the leader interleaves fine
        import urllib.request

        req = urllib.request.Request(
            f"http://127.0.0.1:{leader.port}/v1/topic/t/messages"
            "?partitionKey=ka",
            data=b"a4", method="POST",
            headers={"Content-Type": "text/plain"},
        )
        assert urllib.request.urlopen(req).status == 200

        # reroute metrics: received on the leader's routing endpoint
        assert leader.metrics["rerouted_received"].value >= 3

        rows = spark.read.parquet(root + "/data").collect()
        assert {r["payload"] for r in rows} == {"a1", "a2", "a3", "b1", "a4"}
        # contiguous offsets per bucket — single-writer arithmetic held
        per_bucket = Counter(r["bucket"] for r in rows)
        for bucket, n in per_bucket.items():
            offs = sorted(r["offset"] for r in rows if r["bucket"] == bucket)
            assert offs == list(range(n))
        # per-key ORDER: ka's payloads in send order by offset
        by_key = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["bucket"], r["offset"])):
            by_key[r["partition_key"]].append(r["payload"])
        assert by_key["ka"] == ["a1", "a2", "a3", "a4"]
        # the producer timestamp survived the reroute (micro-exact)
        ts = {r["payload"]: r["timestamp"] for r in rows}
        assert ts["a3"].microsecond == 123
        # locally-led topics still write directly (no self-routing):
        # find a topic the FOLLOWER leads and produce it over binary
        local_topic = next(
            f"t{i}" for i in range(100)
            if follower.registry.leader_for(f"t{i}")[0]
            == follower.registry.facade_id
        )
        with socket.create_connection(("127.0.0.1", srv.port)) as sock:
            sock.sendall(encode_frame(STARTUP_OP, stream_id=1))
            assert _recv_frame(sock)[:2] == (1, READY_OP)
            sock.sendall(encode_produce_frame(
                local_topic, ["loc1"], partition_key="k", stream_id=5))
            assert _recv_frame(sock)[:2] == (5, PRODUCE_RESPONSE_OP)
        rows2 = spark.read.parquet(root + "/data").collect()
        got = [r["payload"] for r in rows2 if r["topic"] == local_topic]
        assert got == ["loc1"]
    finally:
        srv.stop()
        fa.stop(), fb.stop()


def test_binary_produce_survives_leadership_move(spark, tmp_path):
    """Leadership moves WHILE a binary producer keeps sending: the
    routing endpoint answers 307 when it is no longer leader and the
    binary server's per-attempt re-resolution converges on the new one
    (binary_server.go:230-247 + the routing listener's mid-flight
    behavior). Every acked frame must land exactly once with contiguous
    per-bucket offsets across the transition."""
    import time as _t
    from collections import Counter

    from barco_spark.sources.eventlog import EventLog
    from barco_spark.sources.http_server import BrokerHttpServer
    from barco_spark.sources.tcp_server import BinaryProducerServer

    root = str(tmp_path / "log")
    fa = BrokerHttpServer(EventLog(spark, root), facade_ttl_s=3.0)
    fb = BrokerHttpServer(EventLog(spark, root), facade_ttl_s=3.0)
    fa.start(), fb.start()
    leader_id = fa.registry.leader_for("t")[0]
    leader, follower = (
        (fa, fb) if leader_id == fa.registry.facade_id else (fb, fa)
    )
    srv = BinaryProducerServer(
        follower.log, registry=follower.registry, lock=follower._lock
    )
    srv.start()
    stopped_leader = False
    try:
        with socket.create_connection(("127.0.0.1", srv.port)) as sock:
            sock.sendall(encode_frame(STARTUP_OP, stream_id=1))
            assert _recv_frame(sock)[:2] == (1, READY_OP)
            acked = []
            for seq in range(8):
                if seq == 4:
                    # the topic's leader RETIRES mid-stream; rendezvous
                    # re-deals t to the surviving facade (the binary
                    # server's own), so later frames write locally
                    leader.stop()
                    stopped_leader = True
                    deadline = _t.monotonic() + 10
                    while (
                        follower.registry.leader_for("t")[0]
                        != follower.registry.facade_id
                        and _t.monotonic() < deadline
                    ):
                        _t.sleep(0.1)
                sock.sendall(encode_produce_frame(
                    "t", [f"m{seq}"], partition_key=f"k{seq % 2}",
                    stream_id=10 + seq,
                ))
                sid, op, body = _recv_frame(sock)
                assert sid == 10 + seq
                assert op == PRODUCE_RESPONSE_OP, (seq, body)
                acked.append(f"m{seq}")
        rows = spark.read.parquet(root + "/data").collect()
        assert sorted(r["payload"] for r in rows) == sorted(acked)
        per_bucket = Counter(r["bucket"] for r in rows)
        for bucket, n in per_bucket.items():
            offs = sorted(r["offset"] for r in rows if r["bucket"] == bucket)
            assert offs == list(range(n)), (bucket, offs)
    finally:
        srv.stop()
        follower.stop()
        if not stopped_leader:
            leader.stop()


def test_binary_oversized_record_frame_fails_alone(served_log):
    """A frame carrying a record over MaxMessageSize (or no topic) is
    refused before it is queued: the coalescer window is shared by
    every connection, so the bad frame must error on its own while the
    valid frames for the same topic in the same burst are acked and
    land."""
    srv, log = served_log
    cap = log.config.max_message_size_bytes
    burst = (
        encode_produce_frame("tv", ["ok1"], partition_key="k", stream_id=1)
        + encode_produce_frame("tv", ["z" * (cap + 1)], partition_key="k",
                               stream_id=2)
        + encode_produce_frame("tv", ["ok2"], partition_key="k", stream_id=3)
        + encode_produce_frame("", ["no-topic"], partition_key="k", stream_id=4)
    )
    with socket.create_connection(("127.0.0.1", srv.port)) as sock:
        sock.settimeout(60)
        sock.sendall(encode_frame(STARTUP_OP))
        _recv_frame(sock)
        sock.sendall(burst)
        got = {sid: (op, body) for sid, op, body in
               (_recv_frame(sock) for _ in range(4))}
    assert got[1][0] == PRODUCE_RESPONSE_OP
    assert got[3][0] == PRODUCE_RESPONSE_OP
    assert got[2][0] == ERROR_OP
    assert b"max message size" in got[2][1]
    assert got[4][0] == ERROR_OP
    assert b"invalid topic name" in got[4][1]
    log.register("g", ["tv"], reset="earliest")
    items = log.poll_dicts("g", "tv", max_records_per_bucket=10)
    assert [v for it in items for v in it["values"]] == ["ok1", "ok2"]


def test_binary_produce_never_touches_spark(served_log, monkeypatch):
    """On a local root the TCP produce path is the coalescer's
    Spark-free write: with the Spark writer and createDataFrame made to
    raise, a pipelined burst (keyed, keyless, timestamped, two topics)
    still acks and lands."""
    from barco_spark.sources.eventlog import EventLog

    srv, log = served_log

    def no_spark(*_a, **_k):
        raise AssertionError("TCP produce ran a Spark write")

    monkeypatch.setattr(EventLog, "produce", no_spark)
    monkeypatch.setattr(log.spark, "createDataFrame", no_spark)
    burst = (
        encode_produce_frame("sa", ["a1", "a2"], partition_key="k", stream_id=1)
        + encode_produce_frame("sa", ["a3"], stream_id=2,
                               timestamp_us=1_700_000_000_000_000)
        + encode_produce_frame("sb", ["b1"], partition_key="k2", stream_id=3)
    )
    with socket.create_connection(("127.0.0.1", srv.port)) as sock:
        sock.settimeout(60)
        sock.sendall(encode_frame(STARTUP_OP))
        _recv_frame(sock)
        sock.sendall(burst)
        acks = sorted(_recv_frame(sock)[:2] for _ in range(3))
    assert acks == [(sid, PRODUCE_RESPONSE_OP) for sid in (1, 2, 3)]
    log.register("g", ["sa", "sb"], reset="earliest")
    got = {
        t: sorted(v for it in log.poll_dicts("g", t, max_records_per_bucket=10)
                  for v in it["values"])
        for t in ("sa", "sb")
    }
    assert got == {"sa": ["a1", "a2", "a3"], "sb": ["b1"]}


def test_http_and_binary_produce_share_one_log(spark, tmp_path):
    """An HTTP facade and a binary server over ONE log and ONE lock,
    producing the same topic at the same time: every acked record lands
    exactly once, each bucket's offsets are 0..n-1, and each producer's
    records stay in send order per key."""
    import threading
    import urllib.request
    from collections import defaultdict

    from barco_spark.sources.eventlog import EventLog
    from barco_spark.sources.http_server import BrokerHttpServer
    from barco_spark.sources.tcp_server import BinaryProducerServer

    root = str(tmp_path / "log")
    http = BrokerHttpServer(EventLog(spark, root))
    tcp = BinaryProducerServer(http.log, lock=http._lock)
    http.start(), tcp.start()
    acked: dict[str, list[str]] = defaultdict(list)  # producer -> payloads
    errors: list[BaseException] = []

    def http_producer(p: int) -> None:
        try:
            for i in range(15):
                payload = f"h{p}-{i}"
                req = urllib.request.Request(
                    f"http://127.0.0.1:{http.port}/v1/topic/t/messages"
                    f"?partitionKey=k{i % 3}",
                    data=payload.encode(), method="POST",
                    headers={"Content-Type": "text/plain"},
                )
                assert urllib.request.urlopen(req, timeout=60).status == 200
                acked[f"h{p}"].append(payload)
        except BaseException as ex:  # noqa: BLE001
            errors.append(ex)

    def tcp_producer() -> None:
        try:
            with socket.create_connection(("127.0.0.1", tcp.port)) as sock:
                sock.settimeout(60)
                sock.sendall(encode_frame(STARTUP_OP))
                _recv_frame(sock)
                sid = 0
                for burst in range(8):
                    frames, sent = b"", {}
                    for f in range(4):
                        sid += 1
                        msgs = [f"b{burst}-{f}-{j}" for j in range(3)]
                        frames += encode_produce_frame(
                            "t", msgs, partition_key=f"k{f % 3}", stream_id=sid
                        )
                        sent[sid] = msgs
                    sock.sendall(frames)
                    for _ in sent:
                        s, op, body = _recv_frame(sock)
                        assert op == PRODUCE_RESPONSE_OP, body
                    # acks of one group arrive together; record in send order
                    for s in sorted(sent):
                        acked["b"].extend(sent[s])
        except BaseException as ex:  # noqa: BLE001
            errors.append(ex)

    threads = [threading.Thread(target=http_producer, args=(p,)) for p in range(2)]
    threads.append(threading.Thread(target=tcp_producer))
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not errors, errors
    finally:
        tcp.stop()
        http.stop()

    rows = spark.read.parquet(root + "/data").collect()
    payloads = [r["payload"] for r in rows]
    expected = [p for ps in acked.values() for p in ps]
    assert len(expected) == 2 * 15 + 8 * 4 * 3
    assert sorted(payloads) == sorted(expected)  # each exactly once
    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r["bucket"]].append(r["offset"])
    for bucket, offs in by_bucket.items():
        assert sorted(offs) == list(range(len(offs))), bucket
    # per key, each producer's records appear in its send order
    order = {r["payload"]: (r["bucket"], r["offset"]) for r in rows}
    key_of = {r["payload"]: r["partition_key"] for r in rows}
    for producer, sent in acked.items():
        for key in set(key_of.values()):
            mine = [order[p] for p in sent if key_of[p] == key]
            assert mine == sorted(mine), (producer, key)
