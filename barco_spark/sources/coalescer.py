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
back to the Spark writer inside ``_flush``.

A window is a group commit, exactly the reference's in-flight group
(coalescer.go:85-138): the flusher drains the queue the moment it is
non-empty, and every request that arrives while that write is in
flight forms the NEXT window. No timer holds a request back: an idle
broker acks a lone request after one write, and under load the window
grows by itself to whatever arrived during the previous write.

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
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

# bound on records parked in the queue; submit() blocks past it
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
    passes its own lock, and a TCP server sharing that log passes the
    same lock, so every in-process writer of the log serializes on it
    (single writer per topic); request handler threads never hold it
    while parked, so there is no deadlock.
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
            # group commit: take everything queued now; requests that
            # arrive during the write below form the next window
            with self._cond:
                while not self._queue and not self._closed:
                    self._cond.wait()
                if self._closed and not self._queue:
                    return
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
