"""Live binary TCP producer server: the reference's fast produce path.

Mirrors internal/producing/binary_server.go:

- connection handshake: the FIRST frame must be ``startupOp``; the
  server answers ``readyOp`` (binary_server.go:86-96); a later
  ``heartbeatOp`` is also answered with ``readyOp`` (:105-108)
- ``produceOp`` frames carry ``[timestamp?][key][topic][messages...]``
  bodies; each is acknowledged with an empty ``produceResponseOp``
  frame carrying the request's streamId
- anything else (bad CRC, wrong version, unknown op, non-startup first
  frame) gets an ``errorOp`` response and the connection closes
  (binary_server.go:76-118)
- with a shared ``FacadeRegistry``, a frame for a topic a PEER facade
  leads is routed to that leader's HTTP routing endpoint as-is
  (producer.frames body + partitionKey query param), exactly the
  reference's binary reroute (binary_server.go:230-247 ->
  gossiper.SendToLeader, gossip.go:257-300)

Coalescing: the reference appends produce frames to a per-(topic,
token, range) coalescer and acks after the group write
(coalescer.go:85-172), whatever surface they arrived on. This server
keeps reading frames while more are already buffered on the socket,
folds each topic's records of that frame group into ONE request on the
server's ``ProduceCoalescer`` (shared by all its connections), and
writes the acks once the window holding them lands. So TCP frames take
the same Spark-free ``produce_arrow`` path as HTTP bodies: a client
pipelining N frames costs one parquet append per touched bucket and
window, not N, and concurrent connections share windows.

Scale posture: like the HTTP facade this is a driver-side listener
whose writes serialize on one lock per log; it carries live keyed
traffic at ms-class acks. The 100 TB ingest path for captured binary
traffic is the distributed `parse_produce_frames` mapInPandas adapter
(sources/wire.py) feeding bulk produce().

Payload convention: produce bodies are opaque bytes on the wire; this
facade decodes them as UTF-8 (the engine's text convention) and acks
with an error frame if a body is not valid UTF-8 — arbitrary binary
belongs on the base64 bulk path (see produce()'s loud rejection).
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading

from barco_spark.sources.coalescer import ProduceCoalescer
from barco_spark.sources.eventlog import EventLog
from barco_spark.sources.membership import (
    RouteClientPool,
    RouteExhaustedError,
)
from barco_spark.sources.wire import (
    HEADER_SIZE,
    HEARTBEAT_OP,
    MIME_PRODUCER_FRAMES,
    PRODUCE_OP,
    PRODUCE_RESPONSE_OP,
    READY_OP,
    STARTUP_OP,
    encode_error_frame,
    encode_frame,
    encode_framed_payloads,
    parse_header,
    parse_produce_body,
)

# frames drained from one socket into a single write group
MAX_GROUP_FRAMES = 10_000


class FrameTooLargeError(ValueError):
    """A frame header declared a body larger than the producer buffer
    pool (the reference's bound for binary frames: bufferPool.Get can
    never serve more than the whole 32 MiB pool, binary_server.go:
    193-194 + config.go:69; HTTP bodies have the separate 1 MiB
    MaxMessageSize check, producing/server.go:146-152).

    Raised BEFORE any body allocation — the wire-supplied u32 length
    is untrusted."""

    def __init__(self, stream_id: int, body_len: int, max_len: int) -> None:
        super().__init__(
            f"frame body size {body_len} exceeds the producer buffer "
            f"pool ({max_len})"
        )
        self.stream_id = stream_id


def _recv_exact(sock: socket.socket, n: int) -> bytes | None:
    """Read exactly n bytes; None on clean EOF; raises on mid-read EOF."""
    chunks = []
    got = 0
    while got < n:
        chunk = sock.recv(n - got)
        if not chunk:
            if got == 0:
                return None
            raise ValueError("connection closed mid-frame")
        chunks.append(chunk)
        got += len(chunk)
    return b"".join(chunks)


class BinaryProducerServer:
    """Threaded TCP listener bound to one EventLog.

    With ``registry`` (a ``FacadeRegistry``, normally SHARED with the
    co-located HTTP facade so both speak with one leadership identity),
    the server checks topic leadership per produce frame and routes
    mis-routed frames to the leader's HTTP routing endpoint as-is —
    the reference's binary-path reroute (binary_server.go:236-247
    feeding gossiper.SendToLeader, integration shape
    internal/test/integration/roundtrip_test.go:506).  Without a
    registry it is a single-facade listener (always its own leader).

    Locally-led frames are written through the server's own
    ``ProduceCoalescer``, shared by all its connections. Pass the
    co-located facade's ``lock`` when sharing an EventLog so binary
    and HTTP writes serialize on ONE lock (two locks over one log would
    race the offset watermark).
    """

    def __init__(
        self,
        log: EventLog,
        host: str = "127.0.0.1",
        port: int = 0,
        registry=None,
        lock: threading.Lock | None = None,
    ) -> None:
        self.log = log
        self.registry = registry
        # pooled keep-alive connections to peer routing endpoints,
        # shared transport with the HTTP proxy (RouteClientPool)
        self._route_pool = RouteClientPool()
        # single-writer-per-topic contract: the coalescer takes the lock
        # around each window write
        self.coalescer = ProduceCoalescer(log, lock=lock)
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                outer._serve_connection(self.request)

        class Server(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        self._srv = Server((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._srv.server_address[1]

    def start(self) -> int:
        self._thread = threading.Thread(
            target=self._srv.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        self._route_pool.close_all()
        self._srv.shutdown()
        self._srv.server_close()
        if self._thread:
            self._thread.join(timeout=5)
        self.coalescer.stop()

    # ------------------------------------------------------------------
    def _read_frame(self, sock: socket.socket, peek: bool = False):
        """Read one frame. With peek=True, only the FIRST byte is read
        nonblocking (None if nothing is buffered); the remainder is
        always read blocking, so a fragmented frame is never torn."""
        if peek:
            sock.settimeout(0.0)
            try:
                first = _recv_exact(sock, 1)
            except (BlockingIOError, TimeoutError):
                return None
            finally:
                sock.settimeout(None)
            if first is None:
                return None
            rest = _recv_exact(sock, HEADER_SIZE - 1)
            if rest is None:
                raise ValueError("connection closed mid-frame")
            head = first + rest
        else:
            head = _recv_exact(sock, HEADER_SIZE)
            if head is None:
                return None
        flags, stream_id, op, body_len = parse_header(head)
        max_len = self.log.config.producer_buffer_pool_bytes
        if body_len > max_len:
            # never allocate a wire-declared length unbounded: the
            # reference reads bodies into a bounded buffer pool
            # (bufferPool.Get(BodyLength), binary_server.go:193-194 +
            # pooling/buffer_pool.go) that can never serve more than
            # its whole 32 MiB (config.go:69), so a hostile u32
            # backpressures instead of allocating. The bound is the
            # POOL size, not MaxMessageSize: a multi-message frame over
            # 1 MiB total (or one at-cap message plus key/topic/framing
            # overhead) is legal on the wire and stays legal here.
            raise FrameTooLargeError(stream_id, body_len, max_len)
        body = _recv_exact(sock, body_len) if body_len else b""
        if body is None:
            raise ValueError("connection closed mid-frame")
        return flags, stream_id, op, body

    def _serve_connection(self, sock: socket.socket) -> None:
        initialized = False
        try:
            while True:
                frame = self._read_frame(sock)
                if frame is None:
                    return  # clean EOF
                flags, stream_id, op, body = frame

                if not initialized:
                    if op != STARTUP_OP:
                        sock.sendall(
                            encode_error_frame(stream_id, "Invalid first message")
                        )
                        return
                    initialized = True
                    sock.sendall(encode_frame(READY_OP, stream_id))
                    continue

                if op == HEARTBEAT_OP:
                    sock.sendall(encode_frame(READY_OP, stream_id))
                    continue

                if op != PRODUCE_OP:
                    sock.sendall(
                        encode_error_frame(
                            stream_id, "Only producer operations are supported"
                        )
                    )
                    return

                # coalesce: drain every produce frame already buffered on
                # the socket into one write group (the reference acks
                # after the coalesced group write too)
                group = [(flags, stream_id, body)]
                n_frames = 0
                while n_frames < MAX_GROUP_FRAMES:
                    try:
                        nxt = self._read_frame(sock, peek=True)
                    except (ValueError, struct.error, IndexError):
                        # a bad/oversized NEXT frame must not discard
                        # the valid frames already buffered: the
                        # reference handles each produce message
                        # independently, so flush (write + ack) the
                        # group FIRST, then let the outer handler error
                        # the offending frame and drop the connection
                        self._flush_group(sock, group)
                        group = []
                        raise
                    if nxt is None:
                        break
                    nflags, nstream, nop, nbody = nxt
                    if nop != PRODUCE_OP:
                        # non-produce mid-group: flush first, then let
                        # the next loop iteration handle it simply by
                        # answering here
                        self._flush_group(sock, group)
                        group = []
                        if nop == HEARTBEAT_OP:
                            sock.sendall(encode_frame(READY_OP, nstream))
                            break
                        sock.sendall(
                            encode_error_frame(
                                nstream, "Only producer operations are supported"
                            )
                        )
                        return
                    group.append((nflags, nstream, nbody))
                    n_frames += 1
                if group:
                    self._flush_group(sock, group)
        except (ValueError, struct.error, IndexError) as ex:
            # bad header / truncated / oversized frame: error out and
            # drop, like the broker's "Invalid data header from
            # producer client"; an oversized declaration still acks
            # with ITS stream id so the client can correlate
            try:
                sock.sendall(
                    encode_error_frame(getattr(ex, "stream_id", 0), str(ex))
                )
            except OSError:
                pass
        finally:
            try:
                sock.close()
            except OSError:
                pass

    def _flush_group(
        self, sock: socket.socket, group: list[tuple[int, int, bytes]]
    ) -> None:
        """One coalescer request per topic for the whole group, then
        acks. Frames whose topic a PEER facade leads never enter the
        local requests — they are routed to the leader per frame,
        exactly like the reference's per-message leader check
        (binary_server.go:230-247)."""
        cfg = self.log.config
        by_topic: dict[str, list[tuple]] = {}
        # topic -> [(ack index, stream id)]: lets a fence refusal or a
        # write error convert exactly the affected frames' acks
        topic_acks: dict[str, list[tuple[int, int]]] = {}
        # mis-routed frames, routed AFTER the parse loop so independent
        # keys forward concurrently (see _route_frames)
        routed: list[tuple[int, int, str, list[dict]]] = []
        acks: list[bytes] = []
        if self.registry is not None:
            self.registry.heartbeat()
        for flags, stream_id, body in group:
            try:
                msgs = list(parse_produce_body(flags, stream_id, body))
                texts = [m["payload"].decode("utf-8") for m in msgs]
            except (ValueError, UnicodeDecodeError, struct.error, IndexError) as ex:
                # struct.error/IndexError come from truncated or empty
                # produce bodies in parse_produce_body — they must error
                # THIS frame, not kill the handler thread and drop acks
                # for the already-parsed frames in the group
                acks.append(encode_error_frame(stream_id, str(ex)))
                continue
            if not msgs:
                acks.append(encode_frame(PRODUCE_RESPONSE_OP, stream_id))
                continue
            # one topic, key and timestamp per frame by wire layout
            # (they precede the payload sequence)
            head = msgs[0]
            topic = head["topic"]
            if self.registry is not None:
                leader_id, _h, _p = self.registry.leader_for(topic)
                if leader_id != self.registry.facade_id:
                    routed.append((len(acks), stream_id, topic, msgs))
                    acks.append(b"")  # placeholder; filled by the router
                    continue
            # validate before queueing: the coalescer window is shared
            # by every connection, so a frame the log would refuse must
            # fail alone instead of failing its whole window. Same
            # checks, same text as the log's own.
            cap = cfg.max_message_size_bytes
            if not topic or len(topic) > cfg.max_topic_length:
                err = f"invalid topic name (1..{cfg.max_topic_length} chars)"
            elif any(len(m["payload"]) > cap for m in msgs):
                err = f"produce: payload exceeds max message size ({cap} bytes)"
            else:
                err = None
            if err is not None:
                acks.append(encode_error_frame(stream_id, err))
                continue
            by_topic.setdefault(topic, []).extend(
                ProduceCoalescer.records_from_texts(
                    texts, head["partition_key"], head["timestamp_us"]
                )
            )
            topic_acks.setdefault(topic, []).append((len(acks), stream_id))
            acks.append(encode_frame(PRODUCE_RESPONSE_OP, stream_id))
        if routed:
            self._route_frames(routed, acks)
        for topic, records in by_topic.items():
            try:
                if self.registry is not None:
                    # same object-store write fence the HTTP leader path
                    # takes before queueing: prove leadership in the
                    # store's clock frame before writing
                    self.registry.produce_fence(topic)
                self.coalescer.produce_sync(topic, records)
            except Exception as ex:  # noqa: BLE001
                # a fence refusal or a write failure must error-ack THIS
                # topic's frames with the real text, not kill the
                # handler thread and drop every ack in the group
                msg = str(ex).splitlines()[0][:200] if str(ex) else repr(ex)
                for idx, sid in topic_acks[topic]:
                    acks[idx] = encode_error_frame(sid, msg)
        sock.sendall(b"".join(acks))

    def _route_frames(
        self,
        routed: list[tuple[int, int, str, list[dict]]],
        acks: list[bytes],
    ) -> None:
        """Route a drained group's mis-routed frames to their leaders,
        CONCURRENTLY across independent (topic, partition key) buckets —
        the reference processes each produce message in its own
        goroutine (binary_server.go:200-204), so a pipelined burst never
        serializes on round trips. Within one bucket frames stay in
        arrival order (the per-key store-order guarantee), and
        consecutive frames with no explicit timestamp MERGE into one
        producer.frames POST (the wire body carries many messages;
        fewer round trips, same records, same order). Fills each
        frame's slot in ``acks``."""
        from concurrent.futures import ThreadPoolExecutor

        buckets: dict[tuple[str, str | None], list] = {}
        for item in routed:
            _idx, _sid, topic, msgs = item
            buckets.setdefault((topic, msgs[0]["partition_key"]), []).append(item)

        # merged producer.frames bodies must stay under the leader's
        # MaxMessageSize check (_read_body_bytes) — each payload costs
        # 4 framing bytes + its length on the wire
        max_body = self.log.config.max_message_size_bytes

        def frames_size(msgs: list[dict]) -> int:
            return sum(4 + len(m["payload"]) for m in msgs)

        def run_bucket(items: list) -> None:
            # merge a run of ts-less frames into one POST; explicit-ts
            # frames route individually (the timestamp rides a query
            # param, one per request). The merge closes before the
            # encoded body would exceed MaxMessageSize: a pipelined
            # burst whose frames are each under the cap must never be
            # folded into a POST the leader 400s (the reference routes
            # per-frame and would succeed).
            i = 0
            while i < len(items):
                idx, sid, topic, msgs = items[i]
                if msgs[0]["timestamp_us"] is None:
                    j = i
                    merged: list[dict] = []
                    slots: list[tuple[int, int]] = []
                    acc = 0
                    while (
                        j < len(items)
                        and items[j][3][0]["timestamp_us"] is None
                        and (
                            j == i  # a lone oversized frame routes alone
                            or acc + frames_size(items[j][3]) < max_body
                        )
                    ):
                        merged.extend(items[j][3])
                        acc += frames_size(items[j][3])
                        slots.append((items[j][0], items[j][1]))
                        j += 1
                    ack = self._route_frame(topic, merged, sid)
                    if parse_header(ack)[2] == PRODUCE_RESPONSE_OP:
                        for s_idx, s_sid in slots:
                            acks[s_idx] = encode_frame(
                                PRODUCE_RESPONSE_OP, s_sid
                            )
                    else:
                        # relay the real error text to every merged frame
                        err = ack[HEADER_SIZE + 1 :].decode("utf-8", "replace")
                        for s_idx, s_sid in slots:
                            acks[s_idx] = encode_error_frame(s_sid, err)
                    i = j
                else:
                    acks[idx] = self._route_frame(topic, msgs, sid)
                    i += 1

        if len(buckets) == 1:
            run_bucket(next(iter(buckets.values())))
            return
        with ThreadPoolExecutor(max_workers=min(16, len(buckets))) as ex:
            list(ex.map(run_bucket, buckets.values()))

    def _route_frame(
        self, topic: str, msgs: list[dict], stream_id: int
    ) -> bytes:
        """Forward one mis-routed produce frame to the topic leader's
        routing endpoint AS-IS — the payload region repacked as the
        reference's producer.frames body (types/models.go:14), the key
        as a query param — mirroring gossiper.SendToLeader
        (binary_server.go:236-247, gossip.go:257-300).  Returns the ack
        frame for the client: produceResponseOp on the leader's 200,
        errorOp otherwise (newRoutingErrorResponse).  The producer
        timestamp rides a query param (the HTTP produce surface's
        ``?timestamp=`` micros; the reference re-stamps on the leader —
        preserving it is strictly more faithful to the producer).

        The transport and retry policy are SHARED with the HTTP proxy:
        RouteClientPool.post_to_leader rides pooled keep-alive
        connections (the reference's persistent routingClient) and
        re-resolves per attempt, retrying only where a duplicate is
        impossible; a possibly-post-apply failure surfaces as an error
        frame so the CLIENT owns the at-least-once retry decision."""
        from urllib.parse import quote, urlencode

        payload = encode_framed_payloads([m["payload"] for m in msgs])
        params = {}
        if msgs[0]["partition_key"]:
            params["partitionKey"] = msgs[0]["partition_key"]
        if msgs[0]["timestamp_us"] is not None:
            params["timestamp"] = str(msgs[0]["timestamp_us"])
        qs = f"?{urlencode(params)}" if params else ""
        try:
            status, data, _ctype = self._route_pool.post_to_leader(
                self.registry, topic, quote(topic, safe=""), qs, payload,
                {"Content-Type": MIME_PRODUCER_FRAMES},
            )
        except RouteExhaustedError as ex:
            return encode_error_frame(
                stream_id, f"produce routing failed: {ex}"
            )
        if status == 200:
            return encode_frame(PRODUCE_RESPONSE_OP, stream_id)
        detail = data.decode("utf-8", "replace")[:200]
        return encode_error_frame(
            stream_id, f"routing error: {status} {detail}"
        )
