"""Live HTTP facade over EventLog: the reference's REST surface (S1/R2).

Routes mirror the reference's URL constants
(internal/conf/constants.go:6-21) and handler semantics:

- ``GET  /status``                          -> 200 "OK" (liveness)
- ``POST /v1/topic/{topic}/messages``       -> produce one message body
  (``?partitionKey=`` optional; NDJSON bodies split per line exactly
  like the reference's S2 batch produce,
  internal/producing/models.go:44-87; producing/server.go:126-190)
- ``PUT|POST /v1/consumer/register``        -> register
  (``?consumerId=&group=&topic=...&onNewGroup=earliest|latest``,
  internal/consuming/server.go:203-291). With NO ``consumerId`` query
  param the register is CONNECTION-BOUND exactly like the reference's
  default client mode (server.go:255-259): the payload is a JSON
  ConsumerInfo body ``{id, group, topics, onNewGroup}``
  (models.go:26-34), identity travels with the HTTP/1.1 keep-alive
  connection (polls may omit ``consumerId``), and tearing the
  connection down unregisters the consumer IMMEDIATELY — its buckets
  re-deal to survivors without waiting for the R13 inactivity timeout
  (server.go:140-143,476).
- ``POST /v1/consumer/poll``                -> poll of the consumer's
  owned buckets (server.go:389-419). DEFAULT response is the
  compressed binary item stream (O1: uint16 count +
  consumerResponseItem per (topic,bucket), models.go:106-134,
  mime application/vnd.polar.consumermessage) exactly like the
  reference (server.go:411-415); JSON (O2 shape, marshalJsonResponse,
  models.go:136-199) only on ``Accept: application/json``
- ``GET  /metrics``                         -> Prometheus text format
  (C9: the reference's promhttp endpoint on 9253, metrics.go:77-87),
  reference metric names + a per-bucket consumer-lag gauge
- ``POST /v1/consumer/commit``              -> manual commit
  (server.go:421-449)
- ``POST /v1/consumer/goodbye``             -> commit-and-leave
  (server.go:451-505)
- ``POST /v1/routing/topic/{topic}/messages`` -> peer-forwarded
  produce (S4: RoutingMessageUrl, internal/conf/constants.go:51;
  leader listener internal/producing/server.go:116-124). A mis-routed
  produce is proxied here server-side when the facade runs with
  ``forward_produce=True`` or the client sends ``X-No-Redirect`` —
  the reference's gossiper.SendToLeader, where the client never sees
  a redirect; otherwise the non-leader answers 307 (see below).

Scale posture: the facade is a thin driver-side shim for live
produce/poll against the same parquet log the batch/streaming paths
use — it exists for protocol parity and integration tests, not as the
100 TB ingest path (that is Structured Streaming / bulk produce()).
One lock serializes log writes (single-writer-per-topic contract) and
membership changes; poll reads run outside it. The server thread is a
daemon so it never blocks interpreter exit.

Produce requests are COALESCED (W1, internal/producing/coalescer.go:
140-155): each request parks on the shared ProduceCoalescer, one
flusher thread writes ONE batch per window per topic, and every parked
request is acked after its window's write lands. K concurrent
request-per-event producers therefore cost ~one log write per window,
not one per request — the same dynamic as the reference's in-flight
group, where the next group accumulates while the previous one writes.

The consumer path (register/poll/commit/goodbye) runs NO Spark job on
local log roots: offset discovery is parquet footer stats and the data
read is the datasource's pyarrow slice reader (EventLog.poll_dicts), so
poll latency matches the reference's in-process read queue.

Multi-facade: registrations persist in a shared MembershipStore under
the log root (the analogue of the reference's peer-replicated
registrations, internal/consuming/server.go:569-591). N facades over
one log root converge on one membership view — each adopts peer
joins/leaves through its own debounced rebalance — and a facade
restart recovers every registration from the store.

Produce is SINGLE-WRITER-PER-TOPIC across facades: each facade
announces itself in a FacadeRegistry under the log root, the topic
leader is a rendezvous hash over the live set, and a non-leader
answers produce with ``307 Temporary Redirect`` + Location at the
leader — the analogue of the reference's leader reroute
(internal/producing/server.go:158-166). A crashed facade's topics
re-deal to survivors after its heartbeat TTL expires.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from barco_spark.metrics import PromRegistry, broker_metrics
from barco_spark.sources.coalescer import ProduceCoalescer
from barco_spark.sources.eventlog import EventLog
from barco_spark.sources.membership import (
    FacadeRegistry,
    FsMembershipStore,
    GroupMembership,
    MembershipStore,
    ProduceFencedError,
    RouteClientPool,
    RouteExhaustedError,
)
from barco_spark.sources.wire import MIME_PRODUCER_FRAMES, parse_framed_payloads

_TOPIC_MSG_RE = re.compile(r"^/v1/topic/([^/]+)/messages$")


def _parse_reset_policy(v) -> str:
    """ConsumerInfo.onNewGroup -> 'earliest'|'latest'. Accepts the
    reference's enum int (0=StartFromLatest, 1=StartFromEarliest,
    models_offset.go:96-101), its string forms
    (ParseOffsetResetPolicy, models_offset.go:103-111), and the query-
    param spellings; absent defaults to latest like the reference."""
    if v is None:
        return "latest"
    if v in (0, "startFromLatest", "latest"):
        return "latest"
    if v in (1, "startFromEarliest", "earliest"):
        return "earliest"
    raise ValueError("Invalid offset reset policy value")


# the reference's leader-forwarding listener route
# (RoutingMessageUrl, internal/conf/constants.go:51; listener
# internal/producing/server.go:116-124)
_ROUTING_MSG_RE = re.compile(r"^/v1/routing/topic/([^/]+)/messages$")


class UnknownConsumerError(ValueError):
    """Poll/commit/goodbye from a consumer the broker does not track:
    the reference answers 409 Conflict "Consumer not registered"
    (consumerNotRegisteredStatus, consuming/server.go:33,372-386) so
    the client knows to re-register and retry — distinct from the 400
    a malformed request gets."""


class BrokerHttpServer:
    """Minimal blocking-HTTP facade bound to one EventLog."""

    def __init__(
        self,
        log: EventLog,
        host: str = "127.0.0.1",
        port: int = 0,
        rebalance_debounce_s: float = 0.0,
        consumer_read_timeout_s: float | None = 120.0,
        facade_ttl_s: float = 15.0,
        forward_produce: bool = False,
    ) -> None:
        self.log = log
        # S4 server-side forwarding (gossiper.SendToLeader,
        # internal/producing/server.go:158-166): when True, a
        # mis-routed produce is proxied to the topic leader instead of
        # answered 307 — the reference's behavior, where the client
        # never sees a redirect. False keeps 307 as the default (zero
        # proxy overhead for leader-aware clients); a client that
        # cannot re-POST on 3xx opts in per-request with X-No-Redirect.
        self.forward_produce = forward_produce
        self.membership = GroupMembership(
            log.buckets, debounce_s=rebalance_debounce_s
        )
        self._lock = threading.Lock()
        # Connection-bound ownership (the reference tracks consumers BY
        # CONNECTION id, not consumer id — consumer_state.go:68-101: a
        # consumer may be carried by several live connections and
        # RemoveConnection removes only its own). cid -> set of
        # connection tokens; a socket teardown unregisters the consumer
        # only when it owned a live binding AND it was the last one.
        self._bound_conns: dict[str, set[int]] = {}
        self._conn_tokens = itertools.count(1)
        # C9: Prometheus registry with the reference's broker metric
        # names (internal/metrics/metrics.go:13-87), served live on
        # GET /metrics (the reference serves promhttp on port 9253;
        # the facade serves it on its main port — one port, same text
        # format, deploy/ carries the scrape annotation)
        self.prom = PromRegistry()
        self.metrics = broker_metrics(self.prom)
        self.prom.gauge_callback(
            "polar_consumer_active",
            "The number of active consumers connected to this broker",
            lambda: [({}, float(len(self._consumers)))],
        )
        self.prom.gauge_callback(
            "barco_spark_consumer_lag",
            "Per-bucket consumer lag (high watermark minus committed)",
            self._lag_samples,
        )
        # W1 coalescer: concurrent produce requests merge into one
        # log write per window (group commit). It takes the facade lock
        # around each write, so writes serialize with a TCP server that
        # shares the lock and with register's watermark read; polls
        # hold the lock only for their membership step
        self.coalescer = ProduceCoalescer(
            log, lock=self._lock, metrics=self.metrics
        )
        # Durable, shared registration store next to the log (the
        # reference replicates registrations to peer brokers,
        # internal/consuming/server.go:569-591): a facade restart
        # recovers every registration, and N facades over one log root
        # converge on one membership view via _sync_membership().
        # Object-store roots write through pyarrow.fs
        # (FsMembershipStore) — same durable contract, one object per
        # consumer, version() is a LIST instead of directory mtimes.
        if "://" in log.root:
            self.store: MembershipStore | FsMembershipStore = FsMembershipStore(
                log.root
            )
        else:
            self.store = MembershipStore(log.root)
        # R13 idle-consumer eviction (internal/consuming/server.go:
        # 191-201, 2-min read timeout from config.go:273-276): a
        # consumer that stops polling without goodbye is evicted and
        # its buckets re-deal to survivors. Without this, PERSISTED
        # membership would turn every crash-without-goodbye into a
        # permanently shrunken deal-out. None disables eviction.
        self.consumer_read_timeout_s = consumer_read_timeout_s
        self._next_eviction_sweep = 0.0
        # consumerId -> (group, topics) — the tracked-consumer table
        self._consumers: dict[str, tuple[str, list[str]]] = self.store.consumers()
        self.membership.bootstrap(self.store.members())
        self._synced_version = self.store.version()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # HTTP/1.1 keep-alive: required for CONNECTION-BOUND
            # consumers (the reference binds a consumer's lifetime to
            # its connection, consuming/server.go:115-170); every
            # response path sets Content-Length (or is 204/304) so
            # pipelined clients never stall
            protocol_version = "HTTP/1.1"

            # TCP_NODELAY on every accepted socket: response writes are
            # status-line + headers + body (3 small writes); with
            # keep-alive peers (bound consumers, pooled forwarders)
            # Nagle+delayed-ACK otherwise adds ~40 ms per exchange
            disable_nagle_algorithm = True
            # socket read timeout = the reference's 2-minute consumer
            # read timeout (config.go:273-276): bounds request-line
            # waits on idle keep-alive connections AND body/drain reads
            # of clients that declared more bytes than they send — a
            # handler thread can never hang forever on recv. An idle
            # bound consumer past this is exactly what R13 eviction
            # would do to it anyway.
            timeout = 120

            # quiet: tests and embedding apps don't want stderr access logs
            def log_message(self, fmt, *args):  # noqa: N802
                pass

            def finish(self):  # noqa: N802
                # connection teardown = goodbye for connection-bound
                # consumers (reference: TrackedConnection close ->
                # unRegister, consuming/server.go:140-143,476): their
                # buckets re-deal to survivors immediately, not after
                # the R13 inactivity timeout
                try:
                    remaining = getattr(self, "_linger_drain", 0)
                    if remaining > 0:
                        # lingering close for a rejected oversized
                        # body: flush the response, half-close the
                        # write side (FIN lets the client read the
                        # 400), then DISCARD the client's in-flight
                        # body bytes so its blocked send() completes
                        # instead of dying on RST/EPIPE. Bounded both
                        # ways: at most the declared remainder is
                        # read (64 KiB chunks, nothing buffered) and
                        # a 10 s deadline caps a trickling client.
                        self._linger_drain = 0
                        import socket as _socket
                        import time as _time

                        try:
                            self.wfile.flush()
                            self.connection.shutdown(_socket.SHUT_WR)
                            deadline = _time.monotonic() + 10
                            self.connection.settimeout(2)
                            while (
                                remaining > 0
                                and _time.monotonic() < deadline
                            ):
                                chunk = self.connection.recv(
                                    min(remaining, 65536)
                                )
                                if not chunk:
                                    break
                                remaining -= len(chunk)
                        except OSError:
                            pass
                    super().finish()
                finally:
                    token = getattr(self, "_conn_token", None)
                    if token is not None:
                        for cid in getattr(self, "_bound_cids", ()):  # noqa: B007
                            outer._drop_connection_bound(cid, token)

            def parse_request(self):  # noqa: N802
                # keep-alive hygiene: remember how many request-body
                # bytes this request declared so send_response can
                # drain whatever the handler didn't consume (a poll /
                # commit / goodbye / 404 never reads its body; leftover
                # bytes would prepend the NEXT request line on this
                # connection and corrupt it)
                ok = super().parse_request()
                if ok:
                    try:
                        self._body_unread = int(
                            self.headers.get("Content-Length", 0) or 0
                        )
                    except (TypeError, ValueError):
                        self._body_unread = 0
                    if self.headers.get("Transfer-Encoding"):
                        # chunked bodies can't be drained by length; the
                        # reference rejects them outright
                        # (producing/server.go:146-152) — don't reuse
                        # the connection
                        self.close_connection = True
                return ok

            def send_response(self, code, message=None):  # noqa: N802
                remaining = getattr(self, "_body_unread", 0)
                if remaining > 0:
                    self._body_unread = 0
                    if remaining > outer.log.config.max_message_size_bytes:
                        # a body the MaxMessageSize validation already
                        # rejected (or a lying Content-Length) is not
                        # worth draining into the keep-alive path:
                        # drop the connection instead, like the
                        # reference's rejected oversized requests.
                        # But closing while the client is still
                        # WRITING the body RSTs the socket and the
                        # client may die on EPIPE before it ever reads
                        # this response — so finish() does a bounded
                        # LINGERING close (half-close write, discard
                        # up to the declared remainder under a
                        # deadline) instead of an abrupt one.
                        self.close_connection = True
                        self._linger_drain = remaining
                    else:
                        try:
                            # bounded chunks: no single giant allocation
                            while remaining > 0:
                                chunk = self.rfile.read(min(remaining, 65536))
                                if not chunk:
                                    break
                                remaining -= len(chunk)
                        except OSError:
                            self.close_connection = True
                super().send_response(code, message)

            def end_headers(self):  # noqa: N802
                # honest keep-alive signalling: when the drain/body
                # hygiene above forced close_connection (oversized or
                # chunked body), an HTTP/1.1 client must be TOLD — the
                # default is keep-alive, and a client that assumes
                # reuse dies on the half-closed socket with its next
                # pipelined request
                if self.close_connection and not getattr(
                    self, "_conn_close_sent", False
                ):
                    self._conn_close_sent = True
                    self.send_header("Connection", "close")
                super().end_headers()

            def _respond(
                self,
                code: int,
                body: str | bytes,
                ctype: str = "text/plain",
            ):
                data = body if isinstance(body, bytes) else body.encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):  # noqa: N802
                path = urlparse(self.path).path
                if path == "/status":
                    self._respond(200, "OK")
                elif path == "/metrics":
                    # Prometheus text exposition (C9): the reference's
                    # promhttp endpoint (internal/metrics/metrics.go:
                    # 77-87), same metric names, scrape-ready
                    self._respond(
                        200,
                        outer.prom.render(),
                        "text/plain; version=0.0.4; charset=utf-8",
                    )
                elif path == "/v1/brokers":
                    # client-discovery bootstrap (GET /v1/brokers,
                    # docs/rest_api/README.md:17-45): this facade is a
                    # single logical broker — every bucket is served
                    # here — so reference clients that target brokers
                    # by topology route everything to us
                    outer_host = self.server.server_address[0]
                    self._respond(
                        200,
                        json.dumps(
                            {
                                "length": 1,
                                "names": [outer_host],
                                "producerPort": outer.port,
                                "consumerPort": outer.port,
                            }
                        ),
                        "application/json",
                    )
                else:
                    self._respond(404, "Not found")

            def do_PUT(self):  # noqa: N802
                url = urlparse(self.path)
                try:
                    if url.path == "/v1/consumer/register":
                        outer._handle_register(self, parse_qs(url.query))
                    else:
                        self._respond(404, "Not found")
                except UnknownConsumerError as ex:
                    # the reference's 409 Conflict: re-register + retry
                    # (consuming/server.go:33,386)
                    self._respond(409, str(ex))
                except ValueError as ex:
                    self._respond(400, str(ex))

            def do_POST(self):  # noqa: N802
                url = urlparse(self.path)
                q = parse_qs(url.query)
                m = _TOPIC_MSG_RE.match(url.path)
                mr = _ROUTING_MSG_RE.match(url.path)
                try:
                    if m:
                        outer._handle_produce(self, m.group(1), q)
                    elif mr:
                        # peer-forwarded produce (the reference's
                        # routing listener, producing/server.go:116-124)
                        outer._handle_produce(self, mr.group(1), q, routed=True)
                    elif url.path == "/v1/consumer/register":
                        outer._handle_register(self, q)
                    elif url.path == "/v1/consumer/poll":
                        outer._handle_poll(self, q)
                    elif url.path == "/v1/consumer/commit":
                        outer._handle_commit(self, q)
                    elif url.path == "/v1/consumer/goodbye":
                        outer._handle_goodbye(self, q)
                    else:
                        self._respond(404, "Not found")
                except UnknownConsumerError as ex:
                    self._respond(409, str(ex))
                except ValueError as ex:
                    self._respond(400, str(ex))

        class Server(ThreadingHTTPServer):
            # default listen backlog (5) resets connections under a
            # burst of concurrent request-per-event producers — exactly
            # the workload the coalescer exists for
            request_queue_size = 128
            daemon_threads = True

        self._httpd = Server((host, port), Handler)
        self._thread: threading.Thread | None = None
        # Single-writer-per-topic across facades (the reference reroutes
        # produce to the partition leader, producing/server.go:158-166):
        # facades announce themselves in a shared registry under the log
        # root; the topic leader is a rendezvous hash over the live set,
        # and a non-leader answers produce with 307 -> leader. One
        # facade over a root is always its own leader (zero overhead).
        import uuid

        self.registry = FacadeRegistry(
            log.root,
            facade_id=uuid.uuid4().hex,
            host=host,
            port=self.port,
            ttl_s=facade_ttl_s,
        )
        # pooled keep-alive connections to peer routing endpoints (the
        # reference's per-peer routingClient, gossip.go:257-300)
        self._route_pool = RouteClientPool()

    # -- lifecycle ------------------------------------------------------
    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> int:
        self.registry.announce()
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        self.registry.retire()
        self._route_pool.close_all()
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
        self.coalescer.stop()

    # -- handlers -------------------------------------------------------
    def _read_body(self, handler) -> str:
        # the reference rejects chunked bodies too (producing/server.go:146-152)
        return self._read_body_bytes(handler).decode("utf-8")

    def _read_body_bytes(self, handler) -> bytes:
        length = int(handler.headers.get("Content-Length", 0) or 0)
        max_len = self.log.config.max_message_size_bytes
        if length <= 0 or length > max_len:
            # the reference's exact producer validation incl. the cap
            # (MaxMessageSize, producing/server.go:146-152 +
            # config.go:252-254, default 1 MiB)
            raise ValueError(
                "Content length must be defined (HTTP/1.1 chunked not "
                f"supported), greater than 0 and less than {max_len} bytes"
            )
        data = handler.rfile.read(length)
        handler._body_unread = 0  # fully consumed; nothing to drain
        return data

    def _lag_samples(self) -> list[tuple[dict, float]]:
        """Per-bucket lag for every registered (group, topic), computed
        Spark-free at scrape time (footer-stat watermarks + pyarrow
        offsets read — both memoized, so a scrape costs a few stats).
        Object-store roots skip the samples rather than issue remote
        reads per scrape."""
        if "://" in self.log.root:
            return []
        from barco_spark.sources.datasource import _high_watermarks

        pairs = sorted(
            {
                (group, topic)
                for group, topics in self._consumers.values()
                for topic in topics
            }
        )
        out: list[tuple[dict, float]] = []
        for group, topic in pairs:
            wm = _high_watermarks(self.log._data_path, topic)
            committed = self.log._committed_arrow(group, topic)
            for b in sorted(wm):
                lag = wm[b] - committed.get(b, 0)
                out.append(
                    (
                        {"group": group, "topic": topic, "bucket": b},
                        float(lag),
                    )
                )
        return out

    def _handle_produce(
        self, handler, topic: str, q: dict, routed: bool = False
    ) -> None:
        # per-line split is gated SOLELY on the NDJSON content type, like
        # the reference (internal/producing/models.go:33-35): a single
        # application/json message with embedded newlines (pretty-printed
        # JSON) stays ONE record. The producer.frames type is the
        # reference's inter-broker routing format ({u32 len}{bytes}...,
        # types/models.go:14) — what a peer's binary server forwards.
        ctype = handler.headers.get("Content-Type", "").split(";")[0].strip()
        framed = ctype == MIME_PRODUCER_FRAMES
        raw = self._read_body_bytes(handler)
        body = None if framed else raw.decode("utf-8")
        self.metrics["producer_requests"].inc()
        self.metrics["producer_body_bytes"].inc(len(raw))
        # validate before queueing so a bad topic answers 400 instantly
        # instead of failing a whole coalesced window
        if not topic or len(topic) > self.log.config.max_topic_length:
            raise ValueError(
                f"invalid topic name (1..{self.log.config.max_topic_length} chars)"
            )
        # single-writer-per-topic (the reference's leader reroute,
        # producing/server.go:158-166): when a peer facade is the
        # topic's rendezvous leader, either PROXY the request there
        # server-side (forward_produce / X-No-Redirect — the
        # reference's gossiper.SendToLeader, where the client never
        # sees a redirect) or answer 307 + Location so the client
        # re-issues the same request there. 307 preserves the method
        # and body by contract; either way bucket offsets stay one
        # facade's contiguous watermark arithmetic.
        self.registry.heartbeat()
        leader_id, lhost, lport = self.registry.leader_for(topic)
        if leader_id != self.registry.facade_id:
            self.metrics["rerouted_sent"].inc()
            if not routed and (
                self.forward_produce
                or handler.headers.get("X-No-Redirect") is not None
            ):
                self._forward_produce(handler, topic, raw)
                return
            # routed requests never forward again (no proxy loops): a
            # routing POST that lands on a non-leader — leadership
            # moved mid-flight — answers 307 and the FORWARDER
            # re-resolves and retries.
            data = json.dumps({"leader": f"http://{lhost}:{lport}"}).encode()
            handler.send_response(307)
            handler.send_header("Location", f"http://{lhost}:{lport}{handler.path}")
            handler.send_header("Content-Type", "application/json")
            handler.send_header("Content-Length", str(len(data)))
            handler.end_headers()
            handler.wfile.write(data)
            return
        if routed:
            self.metrics["rerouted_received"].inc()
        key = q.get("partitionKey", [None])[0]
        ndjson = ctype == "application/x-ndjson"
        # optional producer-supplied timestamp in epoch micros, like the
        # reference (producing/server.go:178-183); integer split keeps
        # exact microseconds
        ts_raw = q.get("timestamp", [None])[0]
        ts_us = None
        if ts_raw is not None:
            try:
                ts_us = int(ts_raw)
            except ValueError:
                raise ValueError("timestamp must be integer epoch micros")
        if framed:
            try:
                texts = [p.decode("utf-8") for p in parse_framed_payloads(raw)]
            except (ValueError, UnicodeDecodeError) as ex:
                raise ValueError(f"invalid producer.frames body: {ex}")
            records = ProduceCoalescer.records_from_texts(texts, key, ts_us)
        else:
            records = ProduceCoalescer.parse_records(body, key, ndjson, ts_us)
        if not records:  # NDJSON body of only blank lines
            handler._respond(200, json.dumps({"produced": 0}), "application/json")
            return
        # object-store write fence: on scheme:// roots there is no
        # atomic produce lock, so the leader must prove its leadership
        # is current in the STORE's clock frame before writing (see
        # FacadeRegistry.produce_fence). Refusals are 503 + Retry-After:
        # the retry re-resolves the leader (possibly a 307 by then).
        try:
            self.registry.produce_fence(topic)
        except ProduceFencedError as ex:
            data = str(ex).encode()
            handler.send_response(503)
            handler.send_header("Retry-After", "1")
            handler.send_header("Content-Type", "text/plain")
            handler.send_header("Content-Length", str(len(data)))
            handler.end_headers()
            handler.wfile.write(data)
            return
        # coalesced produce (W1): park on the flusher, ack after the
        # window's single write lands. The handler thread holds NO lock
        # while parked; the flusher takes the facade lock around the
        # log write only.
        n = self.coalescer.produce_sync(topic, records)
        handler._respond(200, json.dumps({"produced": n}), "application/json")

    def _forward_produce(self, handler, topic: str, body: bytes) -> None:
        """Proxy a mis-routed produce to the topic leader server-side
        (S4, gossiper.SendToLeader, producing/server.go:158-166): the
        client gets the LEADER's final answer, never a redirect.

        Each attempt re-resolves the leader from the shared registry,
        so a leadership move mid-flight (crash, scale-down) converges
        instead of bouncing: the routing endpoint answers 307 when it
        is no longer leader and the next attempt targets the new one.
        Exhausted retries answer 503 + Retry-After like a fence
        refusal — the client's retry re-resolves from scratch.

        Requests ride POOLED keep-alive connections (RouteClientPool —
        the reference's long-lived per-peer routingClient): a dial per
        forward saturated the worst-case fleet at ~150 req/s while the
        direct path scaled (SCALING.md round-8). The retry loop itself
        (re-resolve per attempt; retry only on 307/refused; a possibly-
        post-apply failure surfaces so an in-proxy retry can never
        duplicate invisibly — producing/server.go:158-166 propagates
        the same way) lives in RouteClientPool.post_to_leader, SHARED
        with the binary server's frame reroute."""
        url = urlparse(handler.path)
        qs = f"?{url.query}" if url.query else ""
        ctype = handler.headers.get("Content-Type", "text/plain")
        try:
            # leadership may have moved to US mid-retry; the routing
            # route never re-forwards, so a self-POST cannot loop.
            # `topic` is the raw path segment (still percent-encoded),
            # so splicing it back preserves the client's encoding.
            status, data, rctype = self._route_pool.post_to_leader(
                self.registry, topic, topic, qs, body,
                {"Content-Type": ctype},
            )
        except RouteExhaustedError as ex:
            data = f"produce forward failed: {ex}".encode()
        else:
            # the leader's final answer (200, 400, 503 fence, ...)
            # relays verbatim
            handler._respond(status, data, rctype)
            return
        handler.send_response(503)
        handler.send_header("Retry-After", "1")
        handler.send_header("Content-Type", "text/plain")
        handler.send_header("Content-Length", str(len(data)))
        handler.end_headers()
        handler.wfile.write(data)

    def _drop_connection_bound(self, cid: str, token: int) -> None:
        """Unregister a connection-bound consumer whose socket closed
        (reference: TrackedConnection close callback -> unRegister,
        consuming/server.go:140-143,476): remove from the shared store
        and re-deal its buckets through the same debounced rebalance
        any departure takes. Offsets are group-level and already
        auto-committed per poll, so the survivor resumes exactly where
        the group left off.

        Ownership-checked like the reference's RemoveConnection
        (consumer_state.go:84-101, keyed by CONNECTION id): the closing
        socket must own a live binding for ``cid``, and the consumer is
        unregistered only when it was the LAST such binding — so a
        rejected duplicate register, or an old socket's teardown racing
        a reconnect-with-the-same-id, can never drop the healthy
        consumer on another connection."""
        with self._lock:
            owners = self._bound_conns.get(cid)
            if owners is None or token not in owners:
                return  # this connection never (successfully) bound cid
            owners.discard(token)
            if owners:
                return  # another live connection still carries cid
            del self._bound_conns[cid]
            if cid not in self._consumers:
                return  # goodbye'd or evicted before the socket closed
            group, _topics = self._consumers.pop(cid)
            self.store.remove(group, cid)
            self.membership.leave(group, cid)

    def _bind_connection(self, handler, cid: str) -> None:
        """Record that ``handler``'s connection carries connection-bound
        consumer ``cid`` (reference AddConnection,
        consumer_state.go:68-82). Caller holds ``self._lock`` and has
        already accepted the registration — a rejected register never
        binds, so its socket's teardown cannot touch a healthy consumer
        registered on another connection."""
        token = getattr(handler, "_conn_token", None)
        if token is None:
            token = next(self._conn_tokens)
            handler._conn_token = token
        bound = getattr(handler, "_bound_cids", None)
        if bound is None:
            bound = set()
            handler._bound_cids = bound
        bound.add(cid)
        self._bound_conns.setdefault(cid, set()).add(token)

    def _handle_register(self, handler, q: dict) -> None:
        cid = q.get("consumerId", [""])[0]
        bound_register = False
        if cid:
            group = q.get("group", ["default"])[0] or "default"
            topics = q.get("topic", [])
            if not topics:
                raise ValueError("consumerId and topic are required")
            reset = q.get("onNewGroup", ["latest"])[0]
            if reset not in ("earliest", "latest"):
                raise ValueError("Invalid offset reset policy value")
        else:
            # CONNECTION-BOUND register (the reference's default client
            # mode, consuming/server.go:255-259): no consumerId query
            # param, identity travels with the connection, and the
            # registration payload is a JSON ConsumerInfo body
            # {id, group, topics, onNewGroup} (models.go:26-34). The
            # connection's teardown unregisters the consumer (see
            # Handler.finish); polls on this connection may omit
            # consumerId entirely.
            try:
                info = json.loads(self._read_body(handler))
            except (ValueError, json.JSONDecodeError):
                raise ValueError("Invalid ConsumerInfo payload")
            cid = str(info.get("id") or "")
            group = str(info.get("group") or "") or "default"
            topics = list(info.get("topics") or [])
            if not cid or not topics:
                raise ValueError("Consumer id and topics can not be empty")
            reset = _parse_reset_policy(info.get("onNewGroup"))
            # binding happens INSIDE the locked block below, and only
            # once the registration is accepted — never on the
            # divergent-parameters 400 path
            bound_register = True
        # whole check-and-insert under one lock: two concurrent registers
        # for the same consumerId must not both pass the existence check
        # and double-join the membership. Sync with the shared store
        # FIRST so (a) a fresh facade's first registrant joins the
        # existing group's deal-out instead of being treated as the
        # group's first-ever member (which would grant it every bucket
        # immediately), and (b) the divergent-parameters check also
        # covers consumers registered via a peer facade.
        with self._lock:
            self._sync_membership()
            self._evict_idle()  # a joiner must not share with the dead
            existing = self._consumers.get(cid)
            if existing is not None:
                if existing != (group, topics):
                    raise ValueError(
                        "Consumer already registered with different parameters"
                    )
                # reconnect / extra connection for a live consumer: the
                # reference happily AddConnection()s the same
                # ConsumerInfo again (consumer_state.go:68-82), so the
                # NEW connection also carries cid — the OLD socket's
                # later teardown releases only its own binding
                if bound_register:
                    self._bind_connection(handler, cid)
                handler._respond(200, "Already registered")
                return
            self.log.register(group, topics, reset=reset)
            self._consumers[cid] = (group, topics)
            self.store.put(group, cid, topics)
            self.membership.join(group, cid)
            if bound_register:
                self._bind_connection(handler, cid)
        handler._respond(200, "OK")

    def _require_consumer(self, q: dict, handler=None) -> tuple[str, str, list[str]]:
        cid = q.get("consumerId", [""])[0]
        if not cid:
            # the reference still accepts the DEPRECATED v0.4.0 query
            # key for stateless consumers (consuming/server.go:43-44,
            # 360-369)
            cid = q.get("consumer_id", [""])[0]
        if not cid and handler is not None:
            # connection-bound consumer: identity travels with the
            # connection, not the query string (consuming/server.go:
            # 308-330 resolves the tracked connection's id)
            bound = getattr(handler, "_bound_cids", ())
            if len(bound) == 1:
                cid = next(iter(bound))
        if not cid:
            raise UnknownConsumerError("Consumer not registered")
        if cid not in self._consumers:
            # the consumer may have registered on a peer facade over the
            # same log root — adopt the shared store's view before
            # rejecting (caller holds the lock)
            self._sync_membership()
        if cid not in self._consumers:
            raise UnknownConsumerError("Consumer not registered")
        group, topics = self._consumers[cid]
        return cid, group, topics

    def _sync_membership(self) -> None:
        """Converge this facade's view with the shared store: consumers
        registered or departed via a PEER facade are joined/left here
        through the same debounced rebalance path local churn takes.
        Caller holds self._lock.

        The full rescan (listdir + json parse per consumer) runs only
        when the store's directory-mtime version stamp moved — the per-
        poll steady-state cost is a couple of stat() calls, so fleet
        poll work stays O(C), not O(C^2)."""
        version = self.store.version()
        if version == self._synced_version:
            return
        self._synced_version = version
        shared = self.store.consumers()
        for cid, (group, topics) in shared.items():
            if cid not in self._consumers:
                self._consumers[cid] = (group, topics)
                self.membership.join(group, cid)
        for cid in [c for c in self._consumers if c not in shared]:
            group, _topics = self._consumers.pop(cid)
            self.membership.leave(group, cid)

    def _evict_idle(self) -> None:
        """R13: drop consumers whose last activity (register or poll,
        store-wide across facades) is older than the read timeout, so
        their buckets re-deal to survivors through the same debounced
        rebalance local churn takes. Lazy like GroupMembership: sweeps
        run on live traffic (any poll/register), at most every
        timeout/4 — if nobody polls, nobody is waiting for the buckets.
        Caller holds self._lock."""
        timeout = self.consumer_read_timeout_s
        if timeout is None:
            return
        import time as _time

        now = _time.time()
        if now < self._next_eviction_sweep:
            return
        self._next_eviction_sweep = now + min(timeout / 4, 30.0)
        for cid, (group, last) in self.store.last_active().items():
            if now - last > timeout and cid in self._consumers:
                group_known, _topics = self._consumers.pop(cid)
                self.store.remove(group_known, cid)
                self.membership.leave(group_known, cid)
                # deliberate removal voids any lingering connection
                # bindings: a later socket teardown must not touch a
                # RE-registered consumer with the same id
                self._bound_conns.pop(cid, None)

    def _handle_poll(self, handler, q: dict) -> None:
        # the facade lock covers the membership step only (touch, sync,
        # evict, assignment lookup). The slice reads and the auto-commit
        # run outside it, so polls of one facade read in parallel and
        # never hold up a produce flush; EventLog serializes the served
        # bookkeeping per (group, topic) and drops the served position
        # of any bucket this member lost to a rebalance during the read
        self.registry.heartbeat()  # a polling facade is a live facade
        with self._lock:
            cid, group, topics = self._require_consumer(q, handler)
            # this poll IS activity: touch before the sweep so a
            # returning consumer can never evict itself
            self.store.touch(group, cid)
            self._sync_membership()  # adopt peer-facade joins/leaves
            self._evict_idle()  # R13: re-deal buckets of dead consumers
            owned = self.membership.buckets_for(group, cid)
            if not owned:
                # the reference answers 204 + retry hint when a consumer
                # owns no data (consuming/server.go:400-404)
                handler.send_response(204)
                handler.send_header("Retry-After", "1")
                handler.end_headers()
                return
            # optional per-poll batch cap (the reference caps responses
            # server-side via ConsumerReadThreshold; exposing it per
            # request lets clients pace their batches)
            max_records = int(q.get("maxRecords", ["1000"])[0])
            # Accept negotiation exactly like the reference
            # (consuming/server.go:411-415): the DEFAULT poll response
            # is the compressed binary item stream (O1); JSON only when
            # the client asks with Accept: application/json.
            want_json = (
                handler.headers.get("Accept", "") == "application/json"
            )
        out = []
        for topic in topics:
            out.extend(
                self.log.poll_dicts(
                    group,
                    topic,
                    max_records_per_bucket=max_records,
                    buckets=owned,
                    with_record_meta=not want_json,
                    still_owned=lambda: self.membership.applied_buckets(group, cid),
                )
            )
        if not out:
            # drained: the reference answers 204 No Content + retry
            # hint whenever there are no response items — not an empty
            # 200 array (group_read_queue.go:140-149 NoContentResponse)
            handler.send_response(204)
            handler.send_header("Retry-After", "1")
            handler.end_headers()
            return
        if want_json:
            # the reference's marshalJsonResponse item shape
            # (models.go:136-157): token and startOffset are STRINGS
            # (int64-in-JSON convention), rangeIndex/version ints.
            # `bucket` rides along as an extension key — reference
            # clients ignore it, ours key on it.
            from barco_spark.sources.wire import range_bounds

            ranges = self.log.config.consumer_ranges
            shaped = []
            for it in out:
                bucket = int(it["bucket"])
                broker, r = divmod(bucket, ranges)
                token, _hi = range_bounds(
                    broker, r, self.log.config.brokers, ranges
                )
                shaped.append(
                    {
                        "topic": it["topic"],
                        "token": str(token),
                        "rangeIndex": r,
                        "version": 1,
                        "startOffset": str(int(it["startOffset"])),
                        "values": it["values"],
                        "bucket": bucket,
                    }
                )
            handler._respond(200, json.dumps(shaped), "application/json")
            return
        from barco_spark.sources.wire import encode_poll_items_py

        body = encode_poll_items_py(
            out,
            brokers=self.log.config.brokers,
            consumer_ranges=self.log.config.consumer_ranges,
        )
        # defaultMimeType, consuming/server.go:37
        handler._respond(200, body, "application/vnd.polar.consumermessage")

    def _handle_commit(self, handler, q: dict) -> None:
        with self._lock:
            _cid, group, topics = self._require_consumer(q, handler)
        committed = {
            topic: self.log.commit_served(group, topic) for topic in topics
        }
        if handler.headers.get("Accept", "") == "application/json":
            # extension: the committed map for clients that want it
            handler._respond(
                200, json.dumps({"committed": committed}), "application/json"
            )
            return
        # the reference's commit success is 204 No Content + no-store +
        # Retry-After (NoContentResponse, utils.go:158-166, called from
        # the read queue's commitOnly path)
        handler.send_response(204)
        handler.send_header("Cache-Control", "no-store")
        handler.send_header("Retry-After", "1")
        handler.end_headers()

    def _handle_goodbye(self, handler, q: dict) -> None:
        # ?commit=false skips the final commit, like the reference's
        # commitQueryKey (consuming/server.go:47,463-474)
        do_commit = q.get("commit", ["true"])[0] != "false"
        with self._lock:
            cid, group, topics = self._require_consumer(q, handler)
        for topic in topics:
            self.log.goodbye(group, topic, commit=do_commit)
        with self._lock:
            if self._consumers.pop(cid, None) is not None:
                self.store.remove(group, cid)
                self.membership.leave(group, cid)
            # goodbye voids any connection bindings for this id (same
            # rationale as eviction: re-registration must start clean)
            self._bound_conns.pop(cid, None)
        # the reference answers plain "OK" (RespondText, server.go:487)
        handler._respond(200, "OK")
