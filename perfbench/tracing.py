"""In-memory spans around the calls into each broker layer.

``instrument`` wraps, from outside, the public entry points of the
facade, coalescer, event log, datasource, wire, membership and TCP
layers; nothing in the package is edited. A span records its name,
start, end, parent and request id; a root span (an HTTP request, a
coalescer window, a TCP frame group) opens a new request id that its
children share. ``layer_metrics`` turns the spans of the timed phase
into the per-layer metrics, using self time (a span's duration minus
its children's).
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time

now = time.perf_counter


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.lock_waits: list[tuple[float, float]] = []  # (time, wait s)
        self._tls = threading.local()
        self._ids = itertools.count(1)

    def _stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def span(self, name: str, root: bool = False) -> dict:
        """A new span, child of the thread's innermost open span."""
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        return {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "req": sid if (root or parent is None) else parent["req"],
            "name": name,
            "start": now(),
            "end": None,
            "attrs": {},
        }

    def open(self, name: str, root: bool = False) -> dict:
        span = self.span(name, root)
        self._stack().append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = now()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        self.spans.append(span)

    def wrap(self, owner, attr: str, name: str, root: bool = False, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``after(span,
        args, kwargs, result)`` may add attributes from the call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            span = tracer.open(name, root=root)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.close(span)
            if after is not None:
                after(span, args, kwargs, result)
            return result

        setattr(owner, attr, spanned)

    def wrap_iter(self, owner, attr: str, name: str, after=None) -> None:
        """Span a generator function by the time spent inside it only:
        the caller's work between items is not counted, so the span
        ends at ``start + busy``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            span = tracer.span(name)
            span["attrs"]["items"] = 0
            busy = 0.0
            it = orig(*args, **kwargs)
            try:
                while True:
                    t = now()
                    try:
                        item = next(it)
                    except StopIteration:
                        busy += now() - t
                        break
                    busy += now() - t
                    span["attrs"]["items"] += 1
                    yield item
            finally:
                span["end"] = span["start"] + busy
                tracer.spans.append(span)
                if after is not None:
                    after(span, args, kwargs, None)

        setattr(owner, attr, spanned)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TimedLock:
    """A drop-in for the facade's ``threading.Lock`` that records how
    long each acquisition waited."""

    def __init__(self, tracer: Tracer) -> None:
        self._lock = threading.Lock()
        self._tracer = tracer

    def acquire(self, blocking: bool = True, timeout: float = -1) -> bool:
        t = now()
        ok = self._lock.acquire(blocking, timeout)
        if ok:
            self._tracer.lock_waits.append((t, now() - t))
        return ok

    def release(self) -> None:
        self._lock.release()

    def locked(self) -> bool:
        return self._lock.locked()

    __enter__ = acquire

    def __exit__(self, *exc) -> None:
        self.release()


def instrument(tracer: Tracer, park_by_req: dict) -> None:
    """Wrap every traced layer entry point (process-wide)."""
    from barco_spark.sources import datasource, membership, tcp_server, wire
    from barco_spark.sources.coalescer import ProduceCoalescer
    from barco_spark.sources.eventlog import EventLog
    from barco_spark.sources.http_server import BrokerHttpServer

    def request_id(span, args, kwargs, result):
        rid = args[1].headers.get("X-Request-Id")
        if rid is not None and "park" in span["attrs"]:
            park_by_req[rid] = span["attrs"]["park"]

    # facade request handlers: each is the root of one request
    tracer.wrap(BrokerHttpServer, "_handle_produce", "facade.produce", root=True, after=request_id)
    tracer.wrap(BrokerHttpServer, "_handle_poll", "facade.poll", root=True)

    # coalescer: a request parks in produce_sync; the flusher thread
    # writes one window per _flush and links each request to it
    def park_done(span, args, kwargs, result):
        st = tracer._stack()
        if st:  # the enclosing facade.produce span
            st[-1]["attrs"]["park"] = span["end"] - span["start"]

    def submitted(span, args, kwargs, result):
        st = tracer._stack()
        if st:
            result._bench_park = st[-1]  # the enclosing park span

    def flushed(span, args, kwargs, result):
        batch = args[1]
        span["attrs"]["requests"] = len(batch)
        for req in batch:
            park = getattr(req, "_bench_park", None)
            if park is not None:
                park["attrs"]["window"] = span["id"]

    tracer.wrap(ProduceCoalescer, "produce_sync", "coalescer.park", after=park_done)
    tracer.wrap(ProduceCoalescer, "submit", "coalescer.submit", after=submitted)
    tracer.wrap(ProduceCoalescer, "_flush", "coalescer.flush", root=True, after=flushed)

    def n_records_arg(span, args, kwargs, result):
        span["attrs"]["records"] = len(args[2])

    def n_records_result(span, args, kwargs, result):
        span["attrs"]["records"] = int(result or 0)

    def n_polled(span, args, kwargs, result):
        span["attrs"]["records"] = sum(len(it["values"]) for it in result)

    tracer.wrap(EventLog, "produce_arrow", "eventlog.produce_arrow", after=n_records_arg)
    tracer.wrap(EventLog, "produce", "eventlog.produce", after=n_records_result)
    tracer.wrap(EventLog, "poll_dicts", "eventlog.poll_dicts", after=n_polled)
    tracer.wrap(EventLog, "commit", "eventlog.commit")

    def files_opened(span, args, kwargs, result):
        files, start, end = args[0], args[3], args[4]
        span["attrs"]["files"] = sum(
            1
            for f in files
            if any(mn is not None and mx >= start and mn < end
                   for mn, mx in datasource._footer_offsets(f))
        )

    tracer.wrap(datasource, "_high_watermarks", "datasource.high_watermarks")
    tracer.wrap(datasource, "_list_files", "datasource.list_files")
    tracer.wrap_iter(datasource, "_read_slice", "datasource.read_slice", after=files_opened)

    def encoded(span, args, kwargs, result):
        span["attrs"]["records"] = sum(len(it["values"]) for it in args[0])
        span["attrs"]["bytes"] = len(result)

    tracer.wrap(wire, "encode_poll_items_py", "wire.encode_poll_items", after=encoded)
    # tcp_server binds parse_produce_body at import: wrap its reference
    tracer.wrap_iter(tcp_server, "parse_produce_body", "wire.parse_produce_body")

    def frames(span, args, kwargs, result):
        span["attrs"]["frames"] = len(args[2])

    tracer.wrap(tcp_server.BinaryProducerServer, "_flush_group", "tcp.flush_group", root=True, after=frames)
    tracer.wrap(membership.MembershipStore, "touch", "membership.touch")
    tracer.wrap(membership.MembershipStore, "version", "membership.version")


# ---------------------------------------------------------------------
def _p50_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1000.0 if xs else 0.0


def _p90_ms(xs: list[float]) -> float:
    if len(xs) < 2:
        return _p50_ms(xs)
    return statistics.quantiles(xs, n=10)[-1] * 1000.0


def layer_metrics(tracer: Tracer, t0: float, t1: float) -> dict[str, float]:
    """Per-layer metrics from the spans that started in [t0, t1]."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    child_time: dict[int, float] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    phase = [s for s in spans if t0 <= s["start"] <= t1]
    by_name: dict[str, list[dict]] = {}
    for s in phase:
        by_name.setdefault(s["name"], []).append(s)

    def self_s(s: dict) -> float:
        return (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)

    def group(name: str) -> list[dict]:
        return by_name.get(name, [])

    def per_call(name: str, attr: str) -> float:
        ss = group(name)
        return sum(s["attrs"].get(attr, 0) for s in ss) / len(ss) if ss else 0.0

    m: dict[str, float] = {}
    flushes = group("coalescer.flush")
    m["coalescer.requests_per_flush"] = per_call("coalescer.flush", "requests")
    parks = group("coalescer.park")
    m["coalescer.park_ms_p50"] = _p50_ms([self_s(s) for s in parks])
    window_write = {f["id"]: 0.0 for f in flushes}
    for s in group("eventlog.produce_arrow"):
        parent = by_id.get(s["parent"])
        if parent is not None and parent["id"] in window_write:
            window_write[parent["id"]] += s["end"] - s["start"]
    m["coalescer.linger_ms_p50"] = _p50_ms(
        [
            (p["end"] - p["start"]) - window_write[p["attrs"]["window"]]
            for p in parks
            if p["attrs"].get("window") in window_write
        ]
    )
    waits = [w for t, w in tracer.lock_waits if t0 <= t <= t1]
    m["facade.lock_wait_ms_p50"] = _p50_ms(waits)
    m["facade.lock_wait_ms_p90"] = _p90_ms(waits)
    for op in ("produce_arrow", "produce", "poll_dicts"):
        name = f"eventlog.{op}"
        m[f"{name}.calls"] = float(len(group(name)))
        m[f"{name}.ms_p50"] = _p50_ms([self_s(s) for s in group(name)])
        m[f"{name}.records_per_call"] = per_call(name, "records")
    m["eventlog.commit.ms_p50"] = _p50_ms([self_s(s) for s in group("eventlog.commit")])
    m["datasource.high_watermarks.ms_p50"] = _p50_ms(
        [self_s(s) for s in group("datasource.high_watermarks")]
    )
    m["datasource.list_files.ms_p50"] = _p50_ms(
        [self_s(s) for s in group("datasource.list_files")]
    )
    polls = len(group("eventlog.poll_dicts"))
    slices = group("datasource.read_slice")
    m["datasource.read_slice.ms_per_poll"] = (
        sum(s["end"] - s["start"] for s in slices) * 1000.0 / polls if polls else 0.0
    )
    m["datasource.read_slice.files_opened_per_poll"] = (
        sum(s["attrs"].get("files", 0) for s in slices) / polls if polls else 0.0
    )
    enc = group("wire.encode_poll_items")
    m["wire.encode_poll_items.ms_p50"] = _p50_ms([self_s(s) for s in enc])
    recs = sum(s["attrs"].get("records", 0) for s in enc)
    m["wire.encode_poll_items.bytes_per_record"] = (
        sum(s["attrs"].get("bytes", 0) for s in enc) / recs if recs else 0.0
    )
    frames = group("wire.parse_produce_body")
    m["wire.parse_produce_body.ms_per_frame"] = (
        sum(s["end"] - s["start"] for s in frames) * 1000.0 / len(frames) if frames else 0.0
    )
    m["membership.touch.ms_p50"] = _p50_ms([self_s(s) for s in group("membership.touch")])
    m["membership.version.ms_p50"] = _p50_ms([self_s(s) for s in group("membership.version")])
    m["tcp.frames_per_group"] = per_call("tcp.flush_group", "frames")
    return m
