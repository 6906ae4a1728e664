"""Produce-request coalescer: the reference's W1 semantics on both
ingest surfaces.

The reference merges concurrent produce requests into one compressed
group per coalescing window (internal/producing/coalescer.go:140-155):
each request parks on a channel, a single goroutine drains the
channel, writes ONE group, and acks every parked request after the
write lands. Request-per-event clients therefore cost one storage
write per *window*, not per request.

This is the same design driver-side, and the one produce path of both
facades: HTTP request handlers and binary TCP frame groups enqueue
parsed records and block on a per-request event; one flusher thread
drains the queue and runs ONE ``EventLog.produce_arrow`` per (window,
topic) — a Spark-free append of a few ms — then acks every request in
the batch. Object-store roots and topic names that need escaping fall
back to the Spark writer inside ``_flush``. A window stays open while
requests keep arriving (see ``LINGER_S``), so steady request-per-event
traffic still coalesces now that the write itself is ms-class.

Ack-after-flush is the honest analogue of the reference's
ack-after-leader+follower-write: a 200 means the records are durable
in the log, not merely buffered.

Backpressure (W6): ``MAX_PENDING_RECORDS`` bounds the in-memory
buffer; ``submit`` blocks past it, which is the facade-side version of
the reference's buffer-pool backpressure (producers slow to the rate
the log can absorb instead of ballooning driver memory).
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

# A window closes after LINGER_S with no new request, and never later
# than LINGER_MAX_S after it opened (bounds worst-case ack latency).
# The reference gets the same adaptivity implicitly — its next group
# accumulates for as long as the previous write+replicate runs
# (coalescer.go:85-138); with the ms-class arrow write that implicit
# accumulation vanished, so the window closes on arrival quiescence
# instead of a fixed fuse, or steady request-per-event traffic would
# fragment into straggler flushes.
LINGER_S = 0.020
LINGER_MAX_S = 5 * LINGER_S
MAX_PENDING_RECORDS = 100_000


@dataclass
class _PendingProduce:
    topic: str
    # (partition_key | None, payload, timestamp | None) — one tuple per
    # log record; NDJSON bodies are pre-split at submit time so the
    # produced-count per request is known before the flush
    records: list[tuple[str | None, str, datetime | None]]
    done: threading.Event = field(default_factory=threading.Event)
    produced: int = 0
    error: Exception | None = None


class ProduceCoalescer:
    """Single-flusher produce coalescer bound to one EventLog.

    ``lock`` (optional) is acquired around each log write — a facade
    passes its own lock so produce still serializes against
    poll/register/commit, and a TCP server sharing that log passes the
    same lock; request handler threads never hold it while parked, so
    there is no deadlock.
    """

    def __init__(
        self,
        log,
        lock: threading.Lock | None = None,
        metrics: dict | None = None,
    ) -> None:
        self.log = log
        # optional broker_metrics() dict (C9): the flusher observes
        # coalesced window sizes and flushed bytes, like the reference's
        # coalescer feeding CoalescerMessagesProcessed/PerGroup
        self._metrics = metrics
        self._last_enqueue = 0.0
        self._lock = lock if lock is not None else threading.Lock()
        self._cond = threading.Condition()
        self._queue: list[_PendingProduce] = []
        self._queued_records = 0
        self._closed = False
        self.flushes = 0  # window writes issued (observability + tests)
        self.requests = 0  # submit() calls accepted
        self._thread = threading.Thread(
            target=self._run, daemon=True, name="produce-coalescer"
        )
        self._thread.start()

    # -- request side ---------------------------------------------------
    @staticmethod
    def parse_records(
        body: str, key: str | None, ndjson: bool, ts_us: int | None
    ) -> list[tuple[str | None, str, datetime | None]]:
        """Split a request body into log records, mirroring
        EventLog.produce's NDJSON handling (split on newline, drop
        empty lines; a non-NDJSON body with embedded newlines stays ONE
        record — internal/producing/models.go:33-35)."""
        if ndjson:
            lines = [ln for ln in body.split("\n") if ln]
        else:
            lines = [body]
        return ProduceCoalescer.records_from_texts(lines, key, ts_us)

    @staticmethod
    def records_from_texts(
        texts: list[str], key: str | None, ts_us: int | None
    ) -> list[tuple[str | None, str, datetime | None]]:
        """Stamp pre-split message texts into log records (shared by the
        line-split and producer.frames paths)."""
        ts = None
        if ts_us is not None:
            ts = datetime.fromtimestamp(
                ts_us // 1_000_000, tz=timezone.utc
            ) + timedelta(microseconds=ts_us % 1_000_000)
        if ts is None:
            # arrival time is stamped HERE, not at flush time, so a
            # coalesced record carries the moment its request arrived
            # (the reference stamps on request receipt,
            # producing/server.go:178-183)
            ts = datetime.now(timezone.utc)
        return [(key, t, ts) for t in texts]

    def submit(
        self, topic: str, records: list[tuple[str | None, str, datetime | None]]
    ) -> _PendingProduce:
        """Enqueue one request's records; returns the pending handle.
        Blocks (backpressure) while the buffer is over capacity."""
        req = _PendingProduce(topic=topic, records=records)
        with self._cond:
            if self._closed:
                raise RuntimeError("coalescer is stopped")
            while (
                self._queued_records + len(records) > MAX_PENDING_RECORDS
                and self._queue
            ):
                self._cond.wait(timeout=0.05)
                if self._closed:
                    raise RuntimeError("coalescer is stopped")
            self._queue.append(req)
            self._queued_records += len(records)
            self.requests += 1
            self._last_enqueue = time.monotonic()
            self._cond.notify_all()
        return req

    def produce_sync(
        self,
        topic: str,
        records: list[tuple[str | None, str, datetime | None]],
        timeout_s: float = 60.0,
    ) -> int:
        """submit + wait; returns the produced count or raises the
        flush error. This is the whole request-handler contract."""
        req = self.submit(topic, records)
        if not req.done.wait(timeout=timeout_s):
            raise TimeoutError("produce flush did not complete in time")
        if req.error is not None:
            raise req.error
        return req.produced

    # -- flusher --------------------------------------------------------
    def _run(self) -> None:
        while True:
            with self._cond:
                while not self._queue and not self._closed:
                    self._cond.wait()
                if self._closed and not self._queue:
                    return
            # linger outside the lock: let a burst accumulate before the
            # drain (the reference's coalescing window). The window stays
            # open while arrivals CONTINUE (see LINGER_S); requests that
            # arrive during the write below form the NEXT window.
            pause = threading.Event()
            deadline = time.monotonic() + LINGER_MAX_S
            pause.wait(LINGER_S)
            while True:
                now = time.monotonic()
                quiet_for = now - self._last_enqueue
                if quiet_for >= LINGER_S or now >= deadline:
                    break
                pause.wait(min(LINGER_S - quiet_for, deadline - now))
            with self._cond:
                batch, self._queue = self._queue, []
                self._queued_records = 0
                self._cond.notify_all()  # wake backpressured submitters
            self._flush(batch)

    def _flush(self, batch: list[_PendingProduce]) -> None:
        # one produce per topic per window; request order within the
        # window is queue (arrival) order, preserving per-key ordering
        by_topic: dict[str, list[_PendingProduce]] = {}
        for req in batch:
            by_topic.setdefault(req.topic, []).append(req)
        for topic, reqs in by_topic.items():
            rows = [rec for req in reqs for rec in req.records]
            try:
                # Spark-free fast path (local roots): route + assign
                # offsets in-process, append per-bucket zstd parquet
                # directly — the flush costs ms, not a Spark job's ~1 s
                # of scheduling, so acks are ms-class like the
                # reference's (coalescer.go writes straight to the
                # segment). Falls back to the Spark writer when the
                # fast path declines (object-store root, exotic topic).
                with self._lock:
                    n = self.log.produce_arrow(topic, rows)
                if n is None:
                    from pyspark.sql.types import (
                        StringType,
                        StructField,
                        StructType,
                        TimestampType,
                    )

                    schema = StructType(
                        [
                            StructField("partition_key", StringType()),
                            StructField("payload", StringType()),
                            StructField("timestamp", TimestampType()),
                        ]
                    )
                    df = self.log.spark.createDataFrame(rows, schema)
                    with self._lock:
                        n = self.log.produce(topic, df)
                self.flushes += 1
                if self._metrics is not None:
                    self._metrics["coalescer_messages"].inc(len(rows))
                    self._metrics["coalescer_coalesced"].observe(len(rows))
                    # record-payload bytes this window flushed durably
                    # (the reference histograms segment write sizes)
                    self._metrics["segment_flush_bytes"].observe(
                        sum(len(p.encode("utf-8")) for _k, p, _t in rows)
                    )
                if n != len(rows):
                    raise RuntimeError(
                        f"flush wrote {n} records, expected {len(rows)}"
                    )
                for req in reqs:
                    req.produced = len(req.records)
            except Exception as ex:  # noqa: BLE001 — propagate to every waiter
                for req in reqs:
                    req.error = ex
            finally:
                for req in reqs:
                    req.done.set()

    # -- lifecycle ------------------------------------------------------
    def stop(self, timeout_s: float = 30.0) -> None:
        """Drain remaining requests, then stop the flusher."""
        with self._cond:
            self._closed = True
            self._cond.notify_all()
        self._thread.join(timeout=timeout_s)
