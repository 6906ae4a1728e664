"""EventLog: the reference broker's data plane on Spark + Parquet.

Maps the reference's storage/consumption model (SURVEY.md §1-§2):

- topic            -> `topic=` directory partition of one log root
                      (implicit creation: producing to a new topic just
                      writes a new partition dir — mirrors
                      internal/data/topics/topics.go:30-36)
- token/rangeIndex -> `bucket=` sub-partition, `buckets` fixed (default
                      brokers x consumerRanges = 12,
                      docs/features/partitioning/README.md:8-11)
- segment/chunk    -> zstd parquet files (chunk compression W2,
                      internal/producing/coalescer.go:174-198)
- producer.offset  -> per-(topic,bucket) max offset, derived from
                      parquet footer stats (W4,
                      internal/data/offset_file_writer.go:16-47)
- consumer offsets -> `_consumer_offsets/` parquet per group (R8,
                      internal/consuming/offset_state.go:456-490)
- poll             -> next batch after committed offset per bucket (R2,
                      internal/consuming/group_read_queue.go:87-170)
- reset policy     -> earliest/latest (R9,
                      internal/types/models_offset.go:94-101)
- rebalance        -> deterministic bucket assignment for N consumers
                      (R3, internal/consuming/consumer_state.go:308-350)
- retention        -> TTL cleanup of old files (W7,
                      internal/data/datalog_cleaner.go:16-100)

Scale design (100 TB): offsets are per-bucket contiguous int64 assigned
with a single shuffle per produce batch (repartition on bucket =
single-writer-per-bucket, like the per-(topic,token,range) coalescer
goroutine W1); the high-watermark lookup reads only parquet footers of
one topic partition (pruned scan), not data pages. Bucket count is
decoupled from executor count on purpose — scaling compute never
re-projects offsets (avoids the reference's R10 offset-splice
machinery entirely, see SURVEY.md §7d).
"""

from __future__ import annotations

import re
import threading
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyspark.errors import AnalysisException

from barco_spark.config import DEFAULT, EngineConfig
from barco_spark.functions.tokens import bucket_for_key_udf

# Log-file parquet row-group target (bytes). Polls read KB slices but
# pay whole-row-group decompression; 8 MB keeps that ~ms-class while
# staying batch-scan friendly. See the keyed produce writer for the
# measured rationale.
_LOG_BLOCK_BYTES = 8 * 1024 * 1024

# produce_arrow writes each file under this hidden name, then renames
# it into place; retention_cleanup sweeps leftovers older than
# _TMP_PART_MAX_AGE_S (a write in flight is never that old)
_TMP_PART_PREFIX = ".part-"
_TMP_PART_MAX_AGE_S = 3600.0

# topic names stored as-is in their `topic=` dir; any other name needs
# partition-value escaping, which only the Spark writer and reader do
_PLAIN_TOPIC = re.compile(r"[A-Za-z0-9._-]+")


class _BucketTail(NamedTuple):
    """One bucket dir as ``produce_arrow`` left it: the dir's mtime
    right after its write there, the next offset, and the records from
    ``base`` up to ``next`` as one (first offset, payloads,
    timestamps_us, payload chars) chunk per write."""

    mtime_ns: int
    next: int
    chunks: tuple[tuple[int, list[str], list[int], int], ...]
    nbytes: int

    @property
    def base(self) -> int:
        return self.chunks[0][0] if self.chunks else self.next

    def slice(self, start: int, end: int) -> tuple[list[str], list[int]]:
        """Payloads and timestamps of offsets [start, end), which must
        lie within [base, next)."""
        picked = []
        for c in reversed(self.chunks):  # a tailing read wants the last
            if c[0] < end:
                picked.append(c)
                if c[0] <= start:
                    break
        vals: list[str] = []
        tss: list[int] = []
        for first, pays, ts, _n in reversed(picked):
            lo, hi = max(start - first, 0), min(end - first, len(pays))
            vals.extend(pays[lo:hi])
            tss.extend(ts[lo:hi])
        return vals, tss


_EMPTY_TAIL = _BucketTail(0, 0, (), 0)

EVENT_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("partition_key", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("payload", StringType()),
        StructField("bucket", IntegerType()),
        StructField("offset", LongType()),
    ]
)

OFFSETS_SCHEMA = StructType(
    [
        StructField("group", StringType()),
        StructField("topic", StringType()),
        StructField("bucket", IntegerType()),
        StructField("committed", LongType()),  # next offset to read
        StructField("committed_at", TimestampType()),
    ]
)


def assign_buckets(consumer_ids: list[str], buckets: int) -> dict[str, list[int]]:
    """Deterministic consumer-group assignment (R3).

    Mirrors the reference's rebalance arithmetic
    (internal/consuming/consumer_state.go:308-350): sort consumer keys,
    deal buckets out contiguously (ceil split) so the mapping is a pure
    function of (consumer list, bucket count) — stateless, identical on
    every node, no coordination needed.
    """
    ids = sorted(set(consumer_ids))
    n = len(ids)
    if n == 0:
        return {}
    per = -(-buckets // n)  # ceil
    out: dict[str, list[int]] = {cid: [] for cid in ids}
    for b in range(buckets):
        out[ids[min(b // per, n - 1)]].append(b)
    return out


class EventLog:
    """Batch produce/consume facade over a partitioned parquet log."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        config: EngineConfig = DEFAULT,
        exact_tokens: bool = False,
    ) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.config = config
        self.buckets = config.buckets
        # exact_tokens: route with the bit-exact Cassandra murmur3 ring
        # (pandas UDF, P1/P2) instead of the JVM-only fast path.
        self.exact_tokens = exact_tokens
        self._data_path = f"{self.root}/data"
        self._offsets_path = f"{self.root}/_consumer_offsets"
        # in-memory served-but-not-yet-committed positions per
        # (group, topic): the reference's reader state (R8); lost on
        # restart by design => redelivery from the durable commit
        self._served: dict[tuple[str, str], dict[int, int]] = {}
        # furthest position served by MANUAL polls (auto_commit=False)
        # per (group, topic). Manual polls deliberately do NOT advance
        # the reader position (re-poll re-serves the same batch until
        # the consumer acks — at-least-once), but commit_served() must
        # still be able to durably ack what the consumer actually
        # processed; this map is what it acks. Like _served it is
        # in-memory only: a crash before commit_served redelivers.
        self._served_manual: dict[tuple[str, str], dict[int, int]] = {}
        # per (group, topic): guards _served/_served_manual and the
        # auto-commit of a poll. Held only around those two short steps,
        # never across the slice reads, so the members of one group
        # read in parallel and no read ever blocks a produce.
        self._served_locks: dict[tuple[str, str], threading.Lock] = {}
        # incremental offsets-read cache: per (group, topic), the best
        # (committed_at, committed) per bucket plus the set of commit
        # files already absorbed. A poll loop's auto-commit otherwise
        # re-reads the whole append-only offsets log every poll —
        # O(polls^2) file opens (measured: a 1k-poll drain crawled to
        # minutes). With the cache each read absorbs only NEW files
        # (usually exactly the one commit the previous poll wrote);
        # a file disappearing (compaction/retention by any facade)
        # triggers a full rescan for correctness. One (best, files)
        # tuple per key, replaced whole, so concurrent readers never
        # pair one read's positions with another read's file set.
        self._offsets_cache: dict[
            tuple[str, str], tuple[dict[int, tuple[int, int]], set[str]]
        ] = {}
        # arrow produce, per topic: bucket dir -> its _BucketTail (dir
        # mtime_ns right after this EventLog's last write there, next
        # offset, recent records). Used only while the topic's produce
        # lock says no other writer held it since (see
        # _topic_produce_lock); dropped otherwise. Each value is
        # replaced whole, so a lock-free poll never sees half of one.
        self._produce_tails: dict[str, dict[str, _BucketTail]] = {}
        # topics some group registered or polled (poll_dicts) through
        # this EventLog: only their tails keep records, which nobody
        # would read on any other topic
        self._tailed_topics: set[str] = set()
        self._writer_token = uuid.uuid4().hex.encode()

    # ------------------------------------------------------------------
    # Produce path (S1/S2, W1-W3)
    # ------------------------------------------------------------------
    def produce(
        self,
        topic: str,
        payloads: list[str] | list[tuple[str | None, str]] | DataFrame,
        partition_key: str | None = None,
        ndjson: bool = False,
        return_count: bool = True,
    ) -> int:
        """Append records to a topic; returns the number written.

        The row count is a free by-product of the two-phase offset
        assignment (the tiny per-(bucket, partition) count matrix), so
        `return_count` is kept only for API stability — no extra job
        runs either way.

        Concurrency contract: one logical producer per topic at a time
        (concurrent produce calls would read the same high watermark
        and collide on offsets). The reference has the same invariant —
        one coalescer goroutine per (topic, token, range)
        (internal/producing/coalescer.go:19); the streaming path
        serializes batches through foreachBatch naturally.

        `payloads` may be a list of payload strings (all sharing
        `partition_key`), a list of (key, payload) tuples, or a
        DataFrame with `payload` (+ optional `partition_key`,
        `timestamp`) columns. `ndjson=True` splits each payload on
        newlines into separate records (S2,
        internal/producing/models.go:44-87).
        """
        if not topic or len(topic) > self.config.max_topic_length:
            # reference validates names up to 255 chars
            # (internal/conf/constants.go:54, producing/server.go:142-152)
            raise ValueError(
                f"invalid topic name (1..{self.config.max_topic_length} chars)"
            )
        # Statically keyless batch (no key column, no shared key): every
        # record round-robins, so the whole-partition fast path applies
        # (see _produce_keyless). Detected from the API shape, never by
        # scanning the data.
        keyless_static = partition_key is None and (
            (isinstance(payloads, DataFrame) and "partition_key" not in payloads.columns)
            or (
                not isinstance(payloads, DataFrame)
                and not (payloads and isinstance(payloads[0], tuple))
            )
        )
        if isinstance(payloads, DataFrame):
            df = payloads
            if "payload" not in df.columns:
                raise TypeError("produce: DataFrame input needs a 'payload' column")
            ptype = dict(df.dtypes)["payload"]
            if ptype != "string":
                # a binary column would be written as-is, splitting the
                # log's schema across files and silently reinterpreting
                # the bytes as UTF-8 on read — fail loudly instead
                raise TypeError(
                    f"produce: payload must be a string column, got {ptype}; "
                    "cast explicitly (UTF-8 text: payload.cast('string'); "
                    "arbitrary bytes: base64(payload))"
                )
            if "partition_key" not in df.columns:
                df = df.withColumn("partition_key", F.lit(partition_key))
        else:
            schema = StructType(
                [
                    StructField("partition_key", StringType()),
                    StructField("payload", StringType()),
                ]
            )
            if payloads and isinstance(payloads[0], tuple):
                rows = list(payloads)
            else:
                rows = [(partition_key, p) for p in payloads]
            df = self.spark.createDataFrame(rows, schema)
        if "timestamp" not in df.columns:
            # producer-supplied timestamp defaults to arrival time
            # (internal/producing/server.go:178-183)
            df = df.withColumn("timestamp", F.current_timestamp())
        if ndjson:
            df = (
                df.select(
                    "*", F.posexplode(F.split(F.col("payload"), "\n")).alias("_pos", "_line")
                )
                .drop("payload")
                .withColumnRenamed("_line", "payload")
                .filter(F.length("payload") > 0)
            )
        # MaxMessageSize applies to EVERY ingest surface, not just the
        # HTTP facade (reference default 1 MiB, config.go:252-254; the
        # knob is EngineConfig.max_message_size_bytes). Enforced
        # JVM-side inline with the write — a conditional on the payload
        # column inside whole-stage codegen, NO extra validation job or
        # scan — checked per record AFTER the ndjson split (the record,
        # not the request, is this layer's unit). raise_error rides the
        # written column so column pruning can never elide the check.
        cap = self.config.max_message_size_bytes
        df = df.withColumn(
            "payload",
            F.when(
                F.octet_length("payload") > F.lit(cap),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "produce: payload exceeds max message size "
                            f"({cap} bytes): size="
                        ),
                        F.octet_length("payload").cast("string"),
                    )
                ).cast("string"),
            ).otherwise(F.col("payload")),
        )
        with self._topic_produce_lock(topic):
            if keyless_static:
                return self._produce_keyless(topic, df)
            return self._produce_keyed(topic, df)

    def produce_arrow(
        self,
        topic: str,
        records: list[tuple[str | None, str, "object"]],
    ) -> int | None:
        """Spark-free produce for small live batches: the write-side
        twin of ``poll_dicts`` (round 4's Spark-free poll).

        The produce coalescer's windows (HTTP bodies and binary TCP
        frames alike) are tens-to-thousands of rows —
        a Spark job per window costs ~1-2 s of scheduling for microsecs
        of actual work, so acks sat at seconds while the reference acks
        in ms (its coalescer writes straight to the segment,
        internal/producing/coalescer.go:140-172). This path does what
        the reference does: route each record to its bucket in-process,
        assign contiguous offsets from the footer-stats watermark, and
        append ONE zstd parquet file per touched bucket directly with
        pyarrow — no Spark job anywhere. Files land in the exact layout
        the Spark writer produces (``topic=/bucket=`` dirs, same column
        schema, footer offset stats), so every reader — Spark scans,
        the ``format("barco")`` datasource, ``poll_dicts`` — sees one
        log. ``compact()`` later folds the small files (the reference's
        segment rollover does the same job). Each file is written under
        a hidden ``.part-<uuid>.tmp`` name that no reader lists, then
        renamed into place, so a write that dies mid-file never leaves a
        torn ``part-*.parquet`` for later watermark reads to trip on; a
        write or rename that raises removes its tmp file, and
        ``retention_cleanup`` sweeps the leftovers of a process that
        died mid-write.

        The watermark read does not grow with the log: while no other
        writer holds the topic's produce lock in between, a bucket dir
        this EventLog wrote last and whose mtime has not moved since
        takes its next offset from the tail kept at that write (one
        ``stat``), and each written file's offset stats go straight into
        the footer memo, so neither this path nor a poll in this process
        parses the footers of files written here.

        Once a group has registered or polled the topic through this
        EventLog, that tail also keeps the bucket's recent records
        (payloads and timestamps, up to ``segment_buffer_bytes`` of
        payload, the reference reader's read-ahead), published as one
        new tuple after the rename. ``poll_dicts`` serves a tailing
        reader from it without listing or opening a file. A write that does not follow
        on from the tail restarts it; a topic's tails are dropped when
        another writer held its produce lock, and by ``compact`` and
        ``retention_cleanup``.

        Bucket routing is BIT-IDENTICAL to the Spark path — per-key
        ordering must hold across both writers: keyed records use
        ``spark_bucket_py`` (the Python twin of ``fast_bucket_expr``'s
        ``pmod(hash(key), buckets)``, verified against ``F.hash``) or
        the Cassandra token path under ``exact_tokens``; keyless
        records round-robin (no placement contract), rotated by the
        current watermark sum so successive windows spread evenly.

        Returns None (caller falls back to Spark ``produce``) for
        object-store roots and for topic names needing partition-value
        escaping — both stay on the battle-tested Spark writer.
        ``records``: (partition_key | None, payload, timestamp | None)
        tuples in arrival order.
        """
        import os
        import uuid as _uuid
        from datetime import datetime as _dt
        from datetime import timedelta as _td
        from datetime import timezone as _tz

        if "://" in self.root or not _PLAIN_TOPIC.fullmatch(topic):
            return None
        if len(topic) > self.config.max_topic_length:
            raise ValueError(
                f"invalid topic name (1..{self.config.max_topic_length} chars)"
            )
        import pyarrow as pa
        import pyarrow.parquet as pq

        from barco_spark.functions.tokens import (
            murmur3_token_py,
            spark_bucket_py,
            token_to_bucket_py,
        )
        from barco_spark.sources.datasource import (
            _high_watermarks,
            remember_footer_offsets,
        )

        def bucket_of(key: str) -> int:
            if self.exact_tokens:
                return token_to_bucket_py(
                    murmur3_token_py(key.encode("utf-8")),
                    self.config.brokers,
                    self.config.consumer_ranges,
                )
            return spark_bucket_py(key, self.buckets)

        with self._topic_produce_lock(topic, carry=True) as carried:
            if not carried:
                self._produce_tails[topic] = {}
            tails = self._produce_tails.setdefault(topic, {})
            cap = self.config.max_message_size_bytes
            # fast path: <= cap/4 chars can never exceed cap bytes
            # (UTF-8 is at most 4 bytes/char), so the hot ack path pays
            # one integer compare, not an encode, per record
            cap_chars = cap // 4
            routed: list[int | None] = []  # bucket per record, None = keyless
            for key, payload, _ts in records:
                if not isinstance(payload, str):
                    raise TypeError("produce: payload must be a string")
                if len(payload) > cap_chars and len(payload.encode("utf-8")) > cap:
                    # same MaxMessageSize bound as the Spark produce
                    # path (reference config.go:252-254)
                    raise ValueError(
                        "produce: payload exceeds max message size "
                        f"({cap} bytes)"
                    )
                routed.append(None if key is None or key == "" else bucket_of(key))
            # a keyed window needs the watermarks of its own buckets
            # only; keyless records rotate by the sum over all buckets.
            # A bucket this EventLog wrote last, whose dir has not
            # changed since, takes its next offset from the tail kept
            # at that write: one stat() instead of a listing and footer
            # reads that grow with the log.
            topic_dir = f"{self._data_path}/topic={topic}"
            want = set(routed) if None not in routed else range(self.buckets)
            wm: dict[int, int] = {}
            relist = []
            for b in want:
                d = f"{topic_dir}/bucket={b}"
                tail = tails.get(d)
                try:
                    mtime = os.stat(d).st_mtime_ns
                except FileNotFoundError:
                    mtime = None
                if tail is not None and tail.mtime_ns == mtime:
                    wm[b] = tail.next
                else:
                    relist.append(b)
            if relist:
                wm.update(_high_watermarks(self._data_path, topic, relist))
            rr = sum(wm.values()) % self.buckets  # rotate across windows
            per_bucket: dict[int, list[tuple[str | None, str, object]]] = {}
            for rec, b in zip(records, routed):
                if b is None:
                    b = rr
                    rr = (rr + 1) % self.buckets
                per_bucket.setdefault(b, []).append(rec)
            now = _dt.now(_tz.utc)
            epoch = _dt(1970, 1, 1, tzinfo=_tz.utc)
            us = _td(microseconds=1)

            def to_us(t) -> int:
                t = now if t is None else (
                    t if t.tzinfo else t.replace(tzinfo=_tz.utc)
                )
                return (t - epoch) // us  # exact integer micros

            for b, rows in per_bucket.items():
                start = wm.get(b, 0)
                ts_us = [to_us(t) for _k, _p, t in rows]
                payloads = [p for _k, p, _t in rows]
                tbl = pa.table(
                    {
                        "partition_key": pa.array(
                            [k for k, _p, _t in rows], pa.string()
                        ),
                        "timestamp": pa.array(
                            ts_us, pa.timestamp("us", tz="UTC")
                        ),
                        "payload": pa.array(payloads, pa.string()),
                        "offset": pa.array(
                            range(start, start + len(rows)), pa.int64()
                        ),
                    }
                )
                d = f"{topic_dir}/bucket={b}"
                os.makedirs(d, exist_ok=True)
                name = _uuid.uuid4().hex
                tmp = f"{d}/{_TMP_PART_PREFIX}{name}.tmp"
                final = f"{d}/part-{name}-arrow.zstd.parquet"
                try:
                    pq.write_table(
                        tbl,
                        tmp,
                        row_group_size=len(rows),  # one row group
                        compression="zstd",
                        compression_level=self.config.zstd_level,
                    )
                    os.replace(tmp, final)
                except BaseException:
                    tails.pop(d, None)
                    try:
                        os.unlink(tmp)
                    except FileNotFoundError:
                        pass
                    raise
                # the lock is held, so this stat sees our rename and
                # nothing after it. The records join the bucket's tail
                # when they follow on from it; otherwise the tail
                # restarts here. Oldest writes drop out past the
                # read-ahead size (reference: segment_reader.go:107).
                # A topic no group registered or polled here keeps none.
                prev = tails.get(d)
                if topic not in self._tailed_topics:
                    chunks, nbytes = (), 0
                else:
                    chunk = (start, payloads, ts_us, sum(map(len, payloads)))
                    if prev is not None and prev.next == start:
                        chunks = prev.chunks + (chunk,)
                        nbytes = prev.nbytes + chunk[3]
                    else:
                        chunks, nbytes = (chunk,), chunk[3]
                while chunks and nbytes > self.config.segment_buffer_bytes:
                    nbytes -= chunks[0][3]
                    chunks = chunks[1:]
                tails[d] = _BucketTail(
                    os.stat(d).st_mtime_ns, start + len(rows), chunks, nbytes
                )
                # the file's footer stats are known: readers in this
                # process need not parse its footer to fold or seek it
                remember_footer_offsets(final, [(start, start + len(rows) - 1)])
            # the renames moved each touched bucket dir's mtime, and
            # _list_files re-lists a dir whose mtime moved or is inside
            # the coarse-clock race window, so readers and the next
            # relist see these files without a listing invalidation
        return len(records)

    def _lock_path(self, topic: str) -> str:
        from urllib.parse import quote

        return f"{self.root}/_locks/produce-{quote(topic, safe='')}.flock"

    def _own_tails(self, topic: str, buckets) -> dict[int, _BucketTail]:
        """The tails of those ``buckets`` that this EventLog provably
        wrote last: the produce lock still names it as the last holder
        (the check ``_topic_produce_lock(carry=True)`` makes, which a
        foreign write in the same clock tick cannot slip past, unlike a
        dir mtime), and the bucket dir's mtime is the one its last write
        left. Read without the lock: a write that lands after the token
        read starts at the tail's end, so the tail still holds only
        records that are in the log. A bucket without a dir holds no
        record, so it gets the empty tail and needs no listing either."""
        import os

        tails = self._produce_tails.get(topic)
        if not tails:
            return {}
        token = self._writer_token
        try:
            fd = os.open(self._lock_path(topic), os.O_RDONLY)
        except FileNotFoundError:
            return {}
        try:
            if os.pread(fd, len(token), 0) != token:
                return {}
        finally:
            os.close(fd)
        out = {}
        topic_dir = f"{self._data_path}/topic={topic}"
        for b in buckets:
            d = f"{topic_dir}/bucket={b}"
            try:
                mtime = os.stat(d).st_mtime_ns
            except FileNotFoundError:
                out[b] = _EMPTY_TAIL
                continue
            tail = tails.get(d)
            if tail is not None and tail.mtime_ns == mtime:
                out[b] = tail
        return out

    def _topic_produce_lock(self, topic: str, carry: bool = False):
        """Cross-process advisory lock for the single-writer-per-topic
        contract.

        In-process callers (HTTP facade, TCP server, foreachBatch)
        already serialize produce with their own locks; this guards the
        MULTI-facade deployment, where two processes over one log root
        would otherwise read the same high watermark and write
        colliding offsets. The lock is a ``flock`` on
        ``_locks/produce-<topic>.flock``: the kernel drops it when its
        holder dies, and taking it creates no file after the first
        time. Contenders briefly wait, then fail loudly rather than
        corrupt the log. Object-store roots skip it (no file locks
        there — single-producer discipline stays on the caller, as
        documented in produce()).

        The lock file also names its last holder: its first bytes are
        that holder's ``_writer_token``. With ``carry=True`` (the arrow
        produce path) the context yields True when the previous holder
        was this EventLog's own arrow produce, so nobody else wrote the
        topic since and ``_produce_tails`` still hold. Every other
        holder overwrites the token, which makes the next arrow produce
        read the log instead.
        """
        import fcntl
        import os
        from contextlib import contextmanager

        @contextmanager
        def noop():
            yield False

        if "://" in self.root:
            return noop()

        @contextmanager
        def held():
            os.makedirs(f"{self.root}/_locks", exist_ok=True)
            fd = os.open(self._lock_path(topic), os.O_RDWR | os.O_CREAT, 0o644)
            try:
                deadline = time.monotonic() + 30
                while True:
                    try:
                        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                        break
                    except BlockingIOError:
                        if time.monotonic() >= deadline:
                            raise ValueError(
                                f"topic {topic!r} has an active producer in "
                                "another process (single-writer-per-topic "
                                "contract); retry when its batch completes"
                            ) from None
                        time.sleep(0.05)
                token = self._writer_token
                prev = os.pread(fd, len(token), 0)
                mine = token if carry else b"-" * len(token)
                if prev != mine:
                    os.pwrite(fd, mine, 0)
                yield carry and prev == token
            finally:
                os.close(fd)  # releases the flock

        return held()

    def _produce_keyed(self, topic: str, df: DataFrame) -> int:
        # arrival sequence, captured before the bucket shuffle so offsets
        # reflect produce order (per-key ordering guarantee,
        # docs/rest_api/README.md:69-72)
        df = df.withColumn("_seq", F.monotonically_increasing_id())

        # Keyless spreading must be DETERMINISTIC across evaluations
        # (the batch is persisted below, but a cache-evicted partition
        # recomputes from lineage; a monotonically_increasing_id-based
        # round-robin could then disagree with the count matrix,
        # corrupting offsets). Content-hash routing gives the same
        # spread with replay-stable placement.
        rr = F.pmod(
            F.xxhash64(F.coalesce(F.col("payload"), F.lit(""))), F.lit(self.buckets)
        ).cast("int")
        if self.exact_tokens:
            keyed_bucket = bucket_for_key_udf(
                self.config.brokers, self.config.consumer_ranges
            )(F.col("partition_key"))
            df = df.withColumn("bucket", F.coalesce(keyed_bucket, rr))
        else:
            key = F.col("partition_key")
            keyed = F.pmod(F.hash(key), F.lit(self.buckets)).cast("int")
            df = df.withColumn(
                "bucket",
                F.when(key.isNull() | (key == F.lit("")), rr).otherwise(keyed),
            )

        # Contiguous per-bucket offsets, two-phase (the coalescer W1 at
        # scale): a window over (bucket) alone would cap parallelism at
        # `buckets` tasks AND skew under hash collisions (12 distinct
        # values hashed into 32 partitions leave idle cores). Instead:
        #   phase 1: local row_number per (bucket, source partition) —
        #            parallel across ALL source partitions;
        #   phase 2: per-bucket prefix sums of the tiny
        #            (bucket, partition) count matrix, broadcast back.
        # Offsets follow arrival order (source-partition order, then
        # _seq), matching the reference's arrival-order assignment
        # (internal/producing/coalescer.go:85-172).
        watermarks = self.high_watermarks(topic)  # bucket -> next offset
        df = df.withColumn("_pid", F.spark_partition_id())
        # single-scan contract: the batch lineage feeds two actions (the
        # count-matrix job and the write), so materialize it once.
        # MEMORY_AND_DISK (the persist default) spills rather than
        # recomputes, which also pins _pid/_seq — a recompute under
        # nondeterministic upstream ordering could disagree with the
        # count matrix and collide offsets. At warehouse scale this is
        # the coalescer's in-memory batch buffer (W6).
        # Cache-build cost is dominated by columnar batch bookkeeping at
        # the 10k-row default; 100k-row batches are ~4x faster to build
        # for 1 KiB payloads (session.py sets this too, but the caller
        # may hand us a vanilla session). Saved and restored below so a
        # caller-supplied session doesn't inherit the override for its
        # own caching workloads.
        _batch_key = "spark.sql.inMemoryColumnarStorage.batchSize"
        try:
            _batch_prev: str | None = self.spark.conf.get(_batch_key)
        except Exception:
            _batch_prev = None
        self.spark.conf.set(_batch_key, "100000")
        df = df.persist()
        # count matrix: map-side combined, so this job shuffles only
        # (bucket, pid, count) rows
        counts = (
            df.groupBy("bucket", "_pid").agg(F.count(F.lit(1)).alias("c")).collect()
        )
        n = sum(r["c"] for r in counts)
        # base[bucket][pid] = watermark + rows of earlier pids in this
        # bucket, embedded as a literal array-of-arrays: the offset
        # lookup is O(1) expression work — no join, so the 1 KiB payload
        # rows are never copied through a join operator
        max_pid = max((r["_pid"] for r in counts), default=0)
        base = [
            [watermarks.get(b, 0)] * (max_pid + 1) for b in range(self.buckets)
        ]
        acc: dict[int, int] = {}
        for r in sorted(counts, key=lambda r: (r["bucket"], r["_pid"])):
            b = r["bucket"]
            base[b][r["_pid"]] += acc.get(b, 0)
            acc[b] = acc.get(b, 0) + r["c"]
        base_lit = F.array(
            *[F.array(*[F.lit(v).cast("bigint") for v in row]) for row in base]
        )
        w_local = Window.partitionBy("bucket", "_pid").orderBy("timestamp", "_seq")
        out = (
            df.withColumn("_lrn", F.row_number().over(w_local) - 1)
            .select(
                F.lit(topic).alias("topic"),
                "partition_key",
                "timestamp",
                "payload",
                "bucket",
                (
                    F.element_at(
                        F.element_at(base_lit, F.col("bucket") + 1),
                        F.col("_pid") + 1,
                    )
                    + F.col("_lrn")
                ).alias("offset"),
            )
        )
        try:
            (
                out.write.mode("append")
                .partitionBy("topic", "bucket")
                .option("compression", "zstd")
                .option(
                    "parquet.compression.codec.zstd.level",
                    str(self.config.zstd_level),
                )
                # Small row groups for the log's access pattern: a live
                # poll reads a ~KB slice but must decompress whole row
                # groups, so parquet's 128 MB default put ~85 MB of
                # zstd work in front of every ms-class poll (measured
                # p50 ~80 ms on a 1M-row topic). 8 MB groups cut that
                # ~16x while staying big enough for batch-scan
                # throughput; the reference's chunks are KB-class for
                # the same reason (its reader serves from chunk
                # boundaries). Footer offset stats get finer too, so
                # row-group pruning tightens.
                .option("parquet.block.size", str(_LOG_BLOCK_BYTES))
                .parquet(self._topic_prefix(topic))
            )
        finally:
            df.unpersist()
            if _batch_prev is None:
                self.spark.conf.unset(_batch_key)
            else:
                self.spark.conf.set(_batch_key, _batch_prev)
        return n

    def _produce_keyless(self, topic: str, df: DataFrame) -> int:
        """Single-pass, zero-shuffle produce for statically keyless
        batches: one scan, one write, no persist, no counting job.

        Keyless records have NO per-key ordering or placement contract —
        the reference round-robins them for load spread only
        (internal/discovery/discoverer.go:370-411) and hits its 1M msg/s
        headline number via client-side packing of many messages per
        stored batch (docs/benchmarks/README.md:34-35). The Spark-shaped
        analogue of that packing: ``coalesce(buckets)`` folds the scan
        into at most one partition PER BUCKET (no shuffle — partitions
        are concatenated, payloads never hashed or moved), which makes
        offset assignment pure arithmetic:

        - bucket  = (pid + salt) % buckets  (bijective per batch)
        - offset  = watermark[bucket] + row-index-in-partition, where
          the row index is recovered from ``monotonically_increasing_id``
          (low 33 bits) — no window sort, offsets contiguous per bucket
          and monotone within every written file (footer seek stays
          sharp, R5)
        - the batch row count is an ``Observation`` on the same pass,
          so NOTHING runs twice.

        This is exactly the reference's one-coalescer-goroutine-per-
        bucket write shape (W1): produce parallelism = bucket count. At
        100 TB you raise ``buckets`` with the cluster, not this code.
        Task retries can reorder rows WITHIN a partition only — the
        offset set stays the same contiguous range, and keyless rows
        have no ordering contract, so no persist is needed to pin
        placement (the keyed path's count-matrix persist exists for its
        per-key guarantee).

        Small batches rotate via a salt derived from the topic's total
        produced count (every write grows the total, so successive
        single-message produces walk the ring even when the single row
        keeps landing in the same source partition) — replay-stable
        because the salt is a pure function of the pre-batch watermarks.
        """
        from pyspark.sql import Observation

        watermarks = self.high_watermarks(topic)
        salt = sum(watermarks.values()) % self.buckets
        df = df.coalesce(self.buckets)
        base = [
            watermarks.get((pid + salt) % self.buckets, 0)
            for pid in range(self.buckets)
        ]
        base_lit = F.array(*[F.lit(v).cast("bigint") for v in base])
        obs = Observation()
        out = (
            df.withColumn("_pid", F.spark_partition_id())
            .select(
                F.lit(topic).alias("topic"),
                F.lit(None).cast("string").alias("partition_key"),
                "timestamp",
                "payload",
                F.pmod(F.col("_pid") + F.lit(salt), F.lit(self.buckets))
                .cast("int")
                .alias("bucket"),
                (
                    F.element_at(base_lit, F.col("_pid") + 1)
                    + F.monotonically_increasing_id().bitwiseAND(
                        F.lit((1 << 33) - 1)
                    )
                ).alias("offset"),
            )
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        (
            out.write.mode("append")
            .partitionBy("topic", "bucket")
            .option("compression", "zstd")
            .option("parquet.block.size", str(_LOG_BLOCK_BYTES))
            .parquet(self._topic_prefix(topic))
        )
        return obs.get["n"]

    # ------------------------------------------------------------------
    # Per-topic epoch manifests (object-store roots only)
    #
    # Object stores have no atomic rename, so compact() cannot swap a
    # topic directory the way the local path does. Instead each topic's
    # CURRENT data prefix is resolved through a tiny JSON manifest at
    # {root}/_manifest/topic={T}.json — absent means the default
    # {root}/data. Compaction writes the consolidated files under a NEW
    # epoch prefix ({root}/data-e{N}) and flips visibility with a
    # single small-object PUT (atomic on every real object store), then
    # deletes the now-invisible old files. Local roots never consult
    # manifests — their behavior is byte-identical to before.
    # ------------------------------------------------------------------
    def _manifest_uri(self, topic: str) -> str:
        from urllib.parse import quote

        return f"{self.root}/_manifest/topic={quote(topic, safe='')}.json"

    def _topic_prefix(self, topic: str) -> str:
        """Data root holding topic=<T>/... files for this topic."""
        if "://" not in self.root:
            return self._data_path
        from barco_spark.sources import objectstore as obs

        m = obs.read_json(self._manifest_uri(topic))
        if m and m.get("prefix"):
            return f"{self.root}/{m['prefix']}"
        return self._data_path

    def _topic_scan(self, topic: str) -> DataFrame:
        """One topic's rows (EVENT_SCHEMA), manifest-aware on object
        stores; empty frame when the topic has no data yet."""
        if "://" not in self.root:
            return (
                self.spark.read.schema(EVENT_SCHEMA)
                .parquet(self._data_path)
                .filter(F.col("topic") == topic)
            )
        from barco_spark.sources import objectstore as obs

        prefix = self._topic_prefix(topic)
        topic_dir = f"{prefix}/topic={topic}"
        if not obs.exists(topic_dir):
            raise AnalysisException(f"[PATH_NOT_FOUND] Path does not exist: {topic_dir}")
        # basePath keeps the `topic` partition column when reading the
        # topic subdirectory directly
        return (
            self.spark.read.schema(EVENT_SCHEMA)
            .option("basePath", prefix)
            .parquet(topic_dir)
            .filter(F.col("topic") == topic)
        )

    def high_watermarks(self, topic: str) -> dict[int, int]:
        """Next offset per bucket (max written + 1); {} for a new topic.

        Mirrors producer.offset (W4): an aggregate-only query that
        Parquet answers from footer statistics of one topic partition.
        """
        try:
            rows = (
                self._topic_scan(topic)
                .groupBy("bucket")
                .agg(F.max("offset").alias("mx"))
                .collect()
            )
        except AnalysisException:
            # log dir doesn't exist yet (new topic root); any OTHER read
            # failure must propagate — swallowing it would restart
            # offsets at 0 and duplicate the sequence
            return {}
        return {r["bucket"]: r["mx"] + 1 for r in rows}

    # ------------------------------------------------------------------
    # Consume path (R1/R2/R8/R9/R12)
    # ------------------------------------------------------------------
    def register(
        self, group: str, topics: list[str], reset: str = "latest"
    ) -> None:
        """Register a consumer group (R1) with a reset policy (R9).

        `latest` (reference default) commits the current high watermark
        so the group only sees new data; `earliest` commits 0. The reset
        policy applies ONLY to groups with no committed offsets for the
        topic — re-registering on consumer restart is an idempotent
        no-op that keeps the group's position, exactly like the
        reference (idempotent putRegister, consuming/server.go:203-291;
        defaults only fill missing offsets, offset_state.go:149-314).

        Local roots take the Spark-free path (footer-stats watermark +
        direct parquet commit write) so a facade register is ms-latency,
        matching the reference's putRegister; object-store roots go
        through Spark.
        """
        if "://" not in self.root:
            from barco_spark.sources.datasource import _high_watermarks

            self._tailed_topics.update(topics)
            for topic in topics:
                if self._committed_arrow(group, topic):
                    continue  # existing position wins over the reset policy
                wm = (
                    _high_watermarks(self._data_path, topic)
                    if reset == "latest"
                    else {}
                )
                self._commit_arrow(
                    group,
                    topic,
                    {b: wm.get(b, 0) for b in range(self.buckets)},
                )
            return
        rows = []
        now = None
        for topic in topics:
            if self.committed(group, topic):
                continue  # existing position wins over the reset policy
            wm = self.high_watermarks(topic) if reset == "latest" else {}
            for b in range(self.buckets):
                rows.append((group, topic, b, wm.get(b, 0), now))
        if not rows:
            return
        df = self.spark.createDataFrame(rows, OFFSETS_SCHEMA).withColumn(
            "committed_at", F.current_timestamp()
        )
        df.write.mode("append").option("compression", "zstd").parquet(
            self._offsets_path
        )

    def committed(self, group: str, topic: str) -> dict[int, int]:
        """Latest committed (next-to-read) offset per bucket for a group."""
        self._recover_offsets_store()
        try:
            reader = self.spark.read.schema(OFFSETS_SCHEMA)
            if "://" in self.root:
                # a peer facade's offsets compaction deletes absorbed
                # files AFTER appending their consolidated replacement;
                # a listing taken in between would fail the whole read
                # on the vanished file. Tolerating the gap is safe here:
                # losing an absorbed input's rows can only UNDER-report
                # the committed position (redelivery, at-least-once
                # preserved), never skip records. Local roots get the
                # rename+rescue swap instead and don't need this.
                reader = reader.option("ignoreMissingFiles", "true")
            df = reader.parquet(self._offsets_path)
        except AnalysisException:
            return {}  # no commits yet; real read errors propagate
        w = Window.partitionBy("bucket").orderBy(
            F.col("committed_at").desc(), F.col("committed").desc()
        )
        rows = (
            df.filter((F.col("group") == group) & (F.col("topic") == topic))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("bucket", "committed")
            .collect()
        )
        return {r["bucket"]: r["committed"] for r in rows}

    def poll(
        self,
        group: str,
        topic: str,
        max_records_per_bucket: int = 1000,
        buckets: list[int] | None = None,
        auto_commit: bool = True,
        max_bytes_per_bucket: int | None = None,
        still_owned=None,
    ) -> DataFrame:
        """Next batch after the committed offsets (R2), per bucket.

        `buckets` restricts the poll to this consumer's assignment
        (from `assign_buckets`, R3; an empty assignment polls nothing
        and returns an empty batch). `max_bytes_per_bucket` caps the
        batch by cumulative payload size, mirroring the reference's
        2 MiB ConsumerReadThreshold (internal/conf/config.go:260-262) —
        the batch always includes at least one record per bucket so a
        single oversized payload cannot wedge the consumer.

        Auto-commit is at-least-once, exactly like the reference (the
        reader commits the PREVIOUS position on each poll,
        internal/data/segment_reader.go:256-288): serving a batch
        records its end in this instance's memory; the durable commit
        happens on the NEXT poll (or goodbye()). A consumer that
        crashes mid-batch restarts from the last durable commit and is
        re-served the unacknowledged batch (docs/faq/README.md:14).

        ``auto_commit=False`` is the manual-ack flow: the poll does NOT
        advance the reader position (re-polling re-serves the same
        batch), and nothing is durably written until the consumer acks
        via ``commit_served()`` (or ``goodbye()``), which commits the
        furthest manually-served position. Crash before the ack →
        full redelivery; ack → never re-served. Explicit-offset
        ``commit()`` remains available for rewind/replay.

        Concurrent polls of one group are safe. ``still_owned`` (a
        callable returning the polling member's current buckets) is
        asked once the batch is planned; a served position is recorded
        only for the buckets it returns, so a bucket that changed hands
        mid-poll is re-served to its new owner instead of being skipped.

        Batch boundaries are pure arithmetic on (position, high
        watermark) — offsets are contiguous per bucket — so polling
        adds NO extra data scan; the returned DataFrame is the only
        read of the log (byte-capped mode is the one exception: the
        cumulative-size cutoff needs the payload lengths).
        """
        from barco_spark.sources import datasource

        key = (group, topic)
        position = self._poll_position(key, auto_commit, self.committed)
        targets = buckets if buckets is not None else list(range(self.buckets))

        def spans(hwm: dict[int, int]) -> dict[int, tuple[int, int]]:
            out = {}
            for b in targets:
                start = position.get(b, 0)
                end = min(start + max_records_per_bucket, hwm.get(b, 0))
                if end > start:
                    out[b] = (start, end)
            return out

        if "://" in self.root or not _PLAIN_TOPIC.fullmatch(topic):
            want = spans(self.high_watermarks(topic))
            scan = self._topic_scan
        else:
            # the batch ends and the data come from one listing, taken
            # again until its files hold every offset below those ends
            files, want = datasource._list_covering(
                self._data_path,
                topic,
                targets,
                lambda fs: spans(datasource._watermarks_of(fs)),
            )
            paths = [f for b in want for f in files[(topic, b)]]

            def scan(_topic: str) -> DataFrame:
                return (
                    self.spark.read.schema(EVENT_SCHEMA)
                    .option("basePath", self._data_path)
                    .parquet(*paths)
                )

        if not want:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        nexts = {b: end for b, (_start, end) in want.items()}
        cm_df = self.spark.createDataFrame(
            [(b, s, e) for b, (s, e) in want.items()], ["bucket", "start", "end"]
        )
        data = (
            scan(topic)
            .join(F.broadcast(cm_df), "bucket")
            .filter((F.col("offset") >= F.col("start")) & (F.col("offset") < F.col("end")))
            .select("topic", "partition_key", "timestamp", "payload", "bucket", "offset")
            .sortWithinPartitions("bucket", "offset")
        )
        if max_bytes_per_bucket is not None:
            w = (
                Window.partitionBy("bucket")
                .orderBy("offset")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            data = (
                data.withColumn("_cum", F.sum(F.length("payload")).over(w))
                .withColumn("_first", F.first("offset").over(w))
                .filter(
                    (F.col("_cum") <= max_bytes_per_bucket)
                    | (F.col("offset") == F.col("_first"))
                )
                .drop("_cum", "_first")
            )
            # the byte cutoff shortens the batch; the served watermark
            # must reflect what was actually delivered (one scan)
            trimmed = (
                data.groupBy("bucket").agg((F.max("offset") + 1).alias("nxt")).collect()
            )
            nexts = {r["bucket"]: r["nxt"] for r in trimmed}
        self._record_served(key, nexts, auto_commit, still_owned)
        return data

    def poll_json(
        self,
        group: str,
        topic: str,
        max_records_per_bucket: int = 1000,
        buckets: list[int] | None = None,
        auto_commit: bool = True,
        still_owned=None,
    ) -> DataFrame:
        """Poll marshalled as the reference's JSON response shape (O2).

        One row per served bucket: `{topic, bucket, startOffset,
        values: [payload, ...]}` as a JSON string — the analogue of
        marshalJsonResponse (internal/consuming/models.go:136-199),
        where each response item carries a chunk's worth of values.
        """
        batch = self.poll(
            group,
            topic,
            max_records_per_bucket,
            buckets,
            auto_commit,
            still_owned=still_owned,
        )
        per_bucket = (
            batch.groupBy("topic", "bucket")
            .agg(
                F.min("offset").alias("startOffset"),
                F.array_sort(
                    F.collect_list(F.struct("offset", "payload"))
                ).alias("_ordered"),
            )
            .select(
                "topic",
                "bucket",
                "startOffset",
                F.transform(F.col("_ordered"), lambda s: s["payload"]).alias(
                    "values"
                ),
            )
        )
        return per_bucket.select(
            F.to_json(
                F.struct("topic", "bucket", "startOffset", "values")
            ).alias("response")
        )

    def poll_dicts(
        self,
        group: str,
        topic: str,
        max_records_per_bucket: int = 1000,
        buckets: list[int] | None = None,
        auto_commit: bool = True,
        with_record_meta: bool = False,
        still_owned=None,
    ) -> list[dict]:
        """Spark-free poll: the reference's JSON response items as
        Python dicts, served from this EventLog's in-process tail or
        from pyarrow footer-pruned slice reads.

        Semantics are identical to `poll_json` (same at-least-once
        auto-commit: serving a batch records it in memory; the durable
        commit happens on the NEXT poll or goodbye), but NO Spark job
        runs. A bucket whose position lies inside the tail that
        ``produce_arrow`` keeps is served by slicing that tail: no
        listing, no footer, no file open, like the reference's reader
        that serves a tailing consumer from its read-ahead buffer
        (internal/data/segment_reader.go:107). The tail is used only
        while this EventLog provably wrote the bucket last
        (``_own_tails``). Reads behind the tail, after a restart, or
        after another writer take the file path: offset discovery is
        parquet footer stats and the slice read is row-group-pruned
        pyarrow (the same `_read_slice` the `format("barco")` datasource
        executes on workers). A file path read advances a bucket only
        through the contiguous run of offsets it actually read
        (``_read_run``). The commit write is a direct parquet append.
        This keeps a live consumer's poll at ms latency like the
        reference's in-process read queue
        (internal/consuming/server.go:389-419) instead of putting the
        Spark driver in the per-request data path.

        Object-store roots fall back to the Spark `poll_json` path.

        ``with_record_meta`` additionally carries ``timestamps_us``
        (producer timestamp per record, parallel to ``values``) — the
        per-record header the O1 binary response item embeds
        (``wire.encode_poll_items_py``).

        Concurrent polls of one group are safe and run their slice
        reads in parallel. ``still_owned`` (a callable returning the
        polling member's current buckets) is asked after the reads; a
        served position is recorded only for the buckets it returns, so
        a bucket that changed hands mid-poll is re-served to its new
        owner instead of being skipped.
        """
        if "://" in self.root:
            import json as _json
            from datetime import datetime as _dt
            from datetime import timedelta as _td
            from datetime import timezone as _tz

            if with_record_meta:
                rows = self.poll(
                    group,
                    topic,
                    max_records_per_bucket,
                    buckets,
                    auto_commit,
                    still_owned=still_owned,
                ).collect()
                epoch = _dt(1970, 1, 1, tzinfo=_tz.utc)
                us = _td(microseconds=1)
                per_b: dict[int, list] = {}
                for r in rows:
                    t = r["timestamp"]
                    t = t if t.tzinfo else t.replace(tzinfo=_tz.utc)
                    per_b.setdefault(r["bucket"], []).append(
                        (r["offset"], r["payload"], (t - epoch) // us)
                    )
                out_meta: list[dict] = []
                for b, recs in sorted(per_b.items()):
                    recs.sort(key=lambda x: x[0])
                    out_meta.append(
                        {
                            "topic": topic,
                            "bucket": b,
                            "startOffset": recs[0][0],
                            "values": [p for _o, p, _t in recs],
                            "timestamps_us": [t for _o, _p, t in recs],
                        }
                    )
                return out_meta
            rows = self.poll_json(
                group,
                topic,
                max_records_per_bucket,
                buckets,
                auto_commit,
                still_owned=still_owned,
            ).collect()
            return [_json.loads(r["response"]) for r in rows]
        from barco_spark.sources import datasource

        key = (group, topic)
        self._tailed_topics.add(topic)
        position = self._poll_position(key, auto_commit, self._committed_arrow)
        targets = buckets if buckets is not None else list(range(self.buckets))
        # a bucket whose position lies in this EventLog's own tail is
        # served from memory; the rest take one listing, which yields
        # both their watermarks and the files to read (immutable and
        # published by rename, so the reads below need no lock)
        tails = self._own_tails(topic, targets)
        behind = [
            b for b in targets if b not in tails or position.get(b, 0) < tails[b].base
        ]
        files = datasource._list_files(self._data_path, topic, behind) if behind else {}
        hwm = datasource._watermarks_of(files)
        out: list[dict] = []
        nexts: dict[int, int] = {}
        for b in targets:
            start = position.get(b, 0)
            if b not in behind:
                end = min(start + max_records_per_bucket, tails[b].next)
                if end <= start:
                    continue
                vals, tss = tails[b].slice(start, end)
            else:
                end = min(start + max_records_per_bucket, hwm.get(b, 0))
                if end <= start:
                    continue
                first, vals, tss = self._read_run(
                    files.get((topic, b), []), topic, b, start, end, with_record_meta
                )
                if first is None:
                    continue  # a file is missing from this listing
                end = first + len(vals)
            nexts[b] = end
            if not vals:
                continue  # retention-trimmed gap: advance past it
            item = {
                "topic": topic,
                "bucket": b,
                "startOffset": end - len(vals),
                "values": vals,
            }
            if with_record_meta:
                item["timestamps_us"] = tss
            out.append(item)
        self._record_served(key, nexts, auto_commit, still_owned)
        return out

    def _read_run(
        self,
        files: list[str],
        topic: str,
        b: int,
        start: int,
        end: int,
        with_ts: bool,
    ) -> tuple[int | None, list[str], list[int]]:
        """Read bucket ``b``'s slice [start, end) from ``files`` and keep
        only the contiguous run of offsets it holds from ``start`` on.
        Returns (first offset of the run, payloads, timestamps_us).

        One listing may lack a file that was renamed into the dir while
        it ran, yet show a later one (see datasource._list_covering), so
        a hole in what was read is not skipped: the run stops there and
        the next poll reads on from it. The exception is a hole wholly
        below the lowest offset the bucket still holds, a retention
        trim: the run starts past it. A fresh listing confirms the trim,
        because a file renamed in during the first one shows in the
        second. First offset None: nothing to serve or skip yet."""
        import pyarrow as pa

        from barco_spark.sources import datasource

        cols = ["payload", "offset"] + (["timestamp"] if with_ts else [])
        served = []
        for batch in datasource._read_slice(
            files, topic, b, start, end, columns=cols, tagged=False
        ):
            offs = batch.column("offset").to_pylist()
            vals = batch.column("payload").to_pylist()
            if with_ts:
                # exact epoch micros, no datetime round-trip
                tss = batch.column("timestamp").cast(pa.int64()).to_pylist()
                served.extend(zip(offs, vals, tss))
            else:
                served.extend(zip(offs, vals, offs))
        served.sort(key=lambda t: t[0])
        first = start
        if not served or served[0][0] != start:
            lo = datasource._lowest_offset(files)
            if lo is not None and lo > start:
                again = datasource._list_files(self._data_path, topic, [b])
                lo = datasource._lowest_offset(again.get((topic, b), []))
            if lo is None or lo <= start:
                return None, [], []
            first = min(lo, end)
        run = []
        for rec in served:
            if rec[0] != first + len(run):
                break
            run.append(rec)
        return first, [v for _o, v, _t in run], [t for _o, _v, t in run]

    def _served_lock(self, key: tuple[str, str]) -> threading.Lock:
        lock = self._served_locks.get(key)
        if lock is None:
            lock = self._served_locks.setdefault(key, threading.Lock())
        return lock

    def _poll_position(
        self, key: tuple[str, str], auto_commit: bool, read_committed
    ) -> dict[int, int]:
        """A poll's start position per bucket: the committed offsets
        overlaid by what was served since. With ``auto_commit`` the
        served positions are first committed durably (the reference's
        commit-previous-on-poll, segment_reader.go:256-288)."""
        with self._served_lock(key):
            served_prev = dict(self._served.get(key, {}))
            stored = None
            if auto_commit and served_prev:
                # a local commit returns the positions it read for its
                # monotonic check, so the store is read once per poll
                stored = self.commit(*key, served_prev)
            if stored is None:
                stored = read_committed(*key)
            return {**stored, **served_prev}

    def _record_served(
        self,
        key: tuple[str, str],
        nexts: dict[int, int],
        auto_commit: bool,
        still_owned,
    ) -> None:
        """Record a poll's served end per bucket (see ``poll``)."""
        with self._served_lock(key):
            if still_owned is not None and nexts:
                # the group rebalanced during the poll: a bucket that
                # moved away keeps its old position, so its new owner
                # re-reads what this poll served (redelivery, never loss)
                owned = set(still_owned())
                nexts = {b: n for b, n in nexts.items() if b in owned}
            # merge into the CURRENT map, not a snapshot: another member
            # of the group may have recorded its buckets meanwhile
            if auto_commit:
                self._served[key] = {**self._served.get(key, {}), **nexts}
            elif nexts:
                prev = self._served_manual.get(key, {})
                self._served_manual[key] = {
                    b: max(prev.get(b, 0), n) for b, n in {**prev, **nexts}.items()
                }

    def _commit_arrow(
        self, group: str, topic: str, next_offsets: dict[int, int]
    ) -> None:
        """Direct parquet append of one commit batch (no Spark job).

        Writes the exact OFFSETS_SCHEMA shape (timestamp[us, UTC] is
        what Spark reads back as TimestampType) so the Spark readers
        and this writer share one store.
        """
        import os
        import time as _time
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        self._recover_offsets_store()
        os.makedirs(self._offsets_path, exist_ok=True)
        items = sorted(next_offsets.items())
        now_us = int(_time.time() * 1_000_000)
        tbl = pa.table(
            {
                "group": pa.array([group] * len(items), pa.string()),
                "topic": pa.array([topic] * len(items), pa.string()),
                "bucket": pa.array([b for b, _ in items], pa.int32()),
                "committed": pa.array([n for _, n in items], pa.int64()),
                "committed_at": pa.array(
                    [now_us] * len(items), pa.timestamp("us", tz="UTC")
                ),
            }
        )
        path = os.path.join(self._offsets_path, f"commit-{uuid.uuid4().hex}.parquet")
        pq.write_table(tbl, path, compression="zstd")
        # fold the rows just written into the read cache, so the next
        # read of this (group, topic) need not open the file again
        key = (group, topic)
        cached = self._offsets_cache.get(key)
        if cached is not None:
            best = dict(cached[0])
            for b, n in items:
                if b not in best or (now_us, n) > best[b]:
                    best[b] = (now_us, n)
            self._offsets_cache[key] = (best, cached[1] | {path})

    def _committed_arrow(self, group: str, topic: str) -> dict[int, int]:
        """Latest committed offset per bucket, read with pyarrow only.

        Same resolution order as `committed()` — (committed_at DESC,
        committed DESC) — so the two readers can never disagree on a
        group's position. Timestamps are normalized to naive UTC micros
        before comparison (Spark-written INT96 and arrow-written
        timestamp[us, UTC] both store UTC instants).
        """
        best, _paths = self._fold_committed(group, topic)
        return {b: c for b, (_a, c) in best.items()}

    def _fold_committed(
        self, group: str, topic: str
    ) -> tuple[dict[int, tuple[int, int]], set[str]]:
        """(bucket -> (committed_at micros, committed) of the latest
        commit, every file of the offsets store): one listing of the
        store, folding only the files not folded before."""
        import glob
        import os

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self._recover_offsets_store()
        paths = set(
            glob.glob(
                os.path.join(self._offsets_path, "**", "*.parquet"), recursive=True
            )
        )
        key = (group, topic)
        cached = self._offsets_cache.get(key)
        if cached is None or not cached[1] <= paths:
            # first read for this key, or files VANISHED (a compaction
            # or retention rewrite, possibly by a peer facade): the
            # incremental state is unsound — rebuild from scratch
            best, seen = {}, set()
        else:
            # bucket -> (at_us, committed); a copy, as another thread
            # may be folding from the same cached state
            best, seen = dict(cached[0]), cached[1]
        for f in sorted(paths - seen):
            try:
                tbl = pq.read_table(
                    f,
                    columns=["group", "topic", "bucket", "committed", "committed_at"],
                )
            except FileNotFoundError:
                continue  # peer compaction absorbed it between glob and
                # read; its rows live on in the consolidated file (which
                # this loop reads as an unseen path) — skipping can only
                # under-report, i.e. redeliver, never skip records
            tbl = tbl.filter(
                pc.and_(pc.equal(tbl["group"], group), pc.equal(tbl["topic"], topic))
            )
            if tbl.num_rows == 0:
                continue
            at_us = (
                tbl["committed_at"]
                .cast(pa.timestamp("us"))
                .cast(pa.int64())
                .to_pylist()
            )
            for b, c, a in zip(
                tbl["bucket"].to_pylist(), tbl["committed"].to_pylist(), at_us
            ):
                cand = (a if a is not None else -1, c)
                cur = best.get(b)
                if cur is None or cand > cur:
                    best[b] = cand
        self._offsets_cache[key] = (best, paths)
        return best, paths

    def commit(
        self,
        group: str,
        topic: str,
        next_offsets: dict[int, int],
        monotonic: bool = True,
    ) -> dict[int, int] | None:
        """Manual commit (R12, postManualCommit).

        Local roots write the tiny commit batch as one parquet file
        directly (no Spark job — the facade's poll/commit loop stays
        ms-latency, like the reference's SQLite upsert); object-store
        roots append through Spark. Both paths write the same schema
        into the same log, so Spark readers (`committed()`,
        `compact_offsets()`) and the arrow reader see one store.

        ``monotonic`` (default) drops any bucket whose new position is
        at or below the durably stored one. The store resolves by
        (committed_at DESC, committed DESC) — wall-clock last-writer-
        wins — so during a rebalance-debounce window where two facades
        briefly both own a bucket, a slower facade's stale auto-commit
        could otherwise rewind a position a peer already advanced and
        durably acknowledged. Pass ``monotonic=False`` for the explicit
        rewind/replay use case (the reference's offset-set semantics).

        Local roots return the group's committed positions after the
        commit, from the same read of the store as the monotonic check
        (a poll's auto-commit then needs no second read); object-store
        roots return None.
        """
        if not next_offsets:
            return None
        if "://" not in self.root:
            best, paths = self._fold_committed(group, topic)
            stored = {b: c for b, (_a, c) in best.items()}
            if monotonic:
                next_offsets = {
                    b: nxt
                    for b, nxt in next_offsets.items()
                    if nxt > stored.get(b, -1)
                }
                if not next_offsets:
                    return stored
            self._commit_arrow(group, topic, next_offsets)
            # append-only store hygiene: past the threshold, fold the
            # log back to one row per (group, topic, bucket). Arrow-
            # native (no Spark job), so a poll loop's auto-commit pays
            # a ~ms amortized maintenance cost instead of letting the
            # file set grow without bound between goodbyes. The count
            # is the read above plus the file just written.
            if len(paths) + 1 > self.config.offsets_compact_threshold:
                self.compact_offsets()
            return {**stored, **next_offsets}
        if monotonic:
            stored = self.committed(group, topic)
            next_offsets = {
                b: nxt for b, nxt in next_offsets.items() if nxt > stored.get(b, -1)
            }
            if not next_offsets:
                return
        rows = [(group, topic, b, nxt, None) for b, nxt in next_offsets.items()]
        df = self.spark.createDataFrame(rows, OFFSETS_SCHEMA).withColumn(
            "committed_at", F.current_timestamp()
        )
        df.write.mode("append").option("compression", "zstd").parquet(
            self._offsets_path
        )

    def commit_served(self, group: str, topic: str) -> dict[int, int]:
        """Durably commit everything served so far WITHOUT leaving —
        the manual-commit surface (R12, postManualCommit,
        internal/consuming/server.go:421-449). Returns what was
        committed ({} when nothing is pending).

        Acks BOTH poll flows: the auto-commit flow's served-but-not-
        yet-committed tail, and everything served via
        ``poll(auto_commit=False)`` (which never advances the durable
        position on its own — re-polls re-serve until this ack, so a
        crash before commit_served redelivers and a crash after it
        never re-serves: at-least-once with manual ack, the reference's
        manual-commit contract)."""
        key = (group, topic)
        with self._served_lock(key):
            auto = self._served.get(key, {})
            manual = self._served_manual.pop(key, {})
            served = {
                b: max(auto.get(b, 0), manual.get(b, 0)) for b in {*auto, *manual}
            }
            if served:
                self.commit(group, topic, served)
        return dict(served)

    def goodbye(self, group: str, topic: str, commit: bool = True) -> None:
        """Commit-and-leave (R12): flush this consumer's served-but-
        uncommitted positions durably, then drop the reader state.
        Offsets persist for reuse on return. ``commit=False`` drops the
        served-but-uncommitted positions instead (the reference's
        ``?commit=false`` goodbye, consuming/server.go:463-474) — those
        records redeliver to the group's next reader."""
        key = (group, topic)
        with self._served_lock(key):
            auto = self._served.pop(key, {})
            manual = self._served_manual.pop(key, {})
            served = {
                b: max(auto.get(b, 0), manual.get(b, 0)) for b in {*auto, *manual}
            }
            if served and commit:
                self.commit(group, topic, served)
            # departure is the natural maintenance point (no poll loop
            # is waiting on us): fold the append-only commit log back
            # down to one row per (group, topic, bucket) once it has
            # sprawled. Under the lock, like commit's own compaction, so
            # a poll of this group never reads the store mid-swap.
            if self._offsets_file_count() > self.config.offsets_compact_threshold:
                self.compact_offsets()

    # ------------------------------------------------------------------
    # Introspection (C2/C9 analogues)
    # ------------------------------------------------------------------
    def topics(self) -> list[str]:
        """List existing topics (directory partitions), like the
        discovery client service (C2)."""
        if "://" in self.root:
            # directory listing + manifest listing, no Spark job: a
            # topic lives either under the default data prefix or (once
            # compacted) under an epoch prefix named by its manifest
            from urllib.parse import unquote

            from barco_spark.sources import objectstore as obs

            names = {
                unquote(d[len("topic="):])
                for d in obs.list_subdirs(f"{self.root}/data")
                if d.startswith("topic=")
            }
            for fn in obs.list_files(f"{self.root}/_manifest", ".json"):
                base = fn[0].rsplit("/", 1)[-1]
                if base.startswith("topic="):
                    names.add(unquote(base[len("topic="):-len(".json")]))
            return sorted(names)
        try:
            rows = (
                self.spark.read.schema(EVENT_SCHEMA)
                .parquet(self._data_path)
                .select("topic")
                .distinct()
                .collect()
            )
        except AnalysisException:
            return []
        return sorted(r["topic"] for r in rows)

    def lag(self, group: str, topic: str) -> DataFrame:
        """Consumer lag per bucket: high watermark minus committed
        (the broker's consumer-lag metric, C9/R11)."""
        wm = self.high_watermarks(topic)
        committed = self.committed(group, topic)
        rows = [
            (topic, b, wm.get(b, 0), committed.get(b, 0), wm.get(b, 0) - committed.get(b, 0))
            for b in range(self.buckets)
        ]
        return self.spark.createDataFrame(
            rows, ["topic", "bucket", "high_watermark", "committed", "lag"]
        )

    # ------------------------------------------------------------------
    # Maintenance (W7)
    # ------------------------------------------------------------------
    def compact(self, topic: str, target_files_per_bucket: int = 1) -> None:
        """Rewrite a topic's many small files into few large ones.

        Every produce batch appends >=1 file per bucket; over time a
        bucket accumulates small files (the reference rolls segments at
        1 GiB instead, internal/conf/config.go:286-289). Compaction
        preserves rows and offsets exactly — only the file layout
        changes. Not concurrency-safe with an in-flight produce to the
        same topic (same single-writer-per-topic assumption as produce).
        """
        import shutil

        if "://" in self.root:
            # Object stores have no atomic rename, so the local swap
            # protocol below cannot work. Instead: write-new + manifest
            # swap. (1) Any stale files from a CRASHED prior attempt at
            # the next epoch are deleted first (they are invisible —
            # no manifest points at them). (2) The consolidated files
            # are written under a fresh epoch prefix. (3) One small-
            # object PUT of the topic manifest flips every reader to
            # the new prefix atomically. (4) The old, now-invisible
            # files are deleted; a crash between (3) and (4) leaves
            # only invisible orphans that the next compaction's step
            # (1)/(4) or a bucket lifecycle rule clears.
            from barco_spark.sources import objectstore as obs

            m = obs.read_json(self._manifest_uri(topic)) or {}
            epoch = int(m.get("epoch", 0))
            old_prefix = self._topic_prefix(topic)
            new_rel = f"data-e{epoch + 1}"
            new_prefix = f"{self.root}/{new_rel}"
            obs.delete_prefix(f"{new_prefix}/topic={topic}")  # crashed attempt
            (
                self._topic_scan(topic)
                .repartition(target_files_per_bucket * self.buckets, "bucket")
                .sortWithinPartitions("bucket", "offset")
                .write.mode("append")
                .partitionBy("topic", "bucket")
                .option("compression", "zstd")
                .option("parquet.block.size", str(_LOG_BLOCK_BYTES))
                .parquet(new_prefix)
            )
            obs.write_json(
                self._manifest_uri(topic),
                {"prefix": new_rel, "epoch": epoch + 1},
            )
            obs.delete_prefix(f"{old_prefix}/topic={topic}")
            return
        src = self.read(topic)
        tmp = f"{self.root}/_compact_tmp"
        (
            src.repartition(target_files_per_bucket * self.buckets, "bucket")
            .sortWithinPartitions("bucket", "offset")
            .write.mode("overwrite")
            .partitionBy("topic", "bucket")
            .option("compression", "zstd")
            .option("parquet.block.size", str(_LOG_BLOCK_BYTES))
            .parquet(tmp)
        )
        topic_dir = f"{self._data_path}/topic={topic}"
        shutil.rmtree(topic_dir)
        shutil.move(f"{tmp}/topic={topic}", topic_dir)
        shutil.rmtree(tmp, ignore_errors=True)
        from barco_spark.sources.datasource import invalidate_list_cache

        invalidate_list_cache(self._data_path, topic)
        self._produce_tails.pop(topic, None)

    def compact_offsets(self) -> int:
        """Rewrite the consumer-offsets log to one row per
        (group, topic, bucket) — the latest commit, resolved with the
        same (committed_at DESC, committed DESC) order `committed()`
        uses, so compaction can never change what a group reads next.

        The reference keeps offsets in a compact serialized store
        (SQLite upsert, internal/localdb/migrations.go:37-48); our
        append-only parquet log instead grows one small file per commit,
        so a long-lived group makes `committed()` scan an unbounded file
        set. Called automatically from `goodbye()` once the log exceeds
        `offsets_compact_threshold` files, or from a cron like
        retention_cleanup. Single-writer assumption as produce().
        Returns the number of rows kept.
        """
        import shutil

        if "://" in self.root:
            return self._compact_offsets_objectstore()
        import glob as _glob
        import os

        # Cross-process exclusion: goodbye() auto-triggers compaction,
        # so two facades over one root can reach here together. The
        # mkdir lock is atomic on POSIX; compaction is opportunistic
        # maintenance, so a held lock means "someone else is doing the
        # work" and we simply skip. A crashed holder's lock is broken
        # after 10 minutes.
        lock_dir = f"{self.root}/_offsets_compact_lock"
        try:
            os.mkdir(lock_dir)
        except FileExistsError:
            try:
                age = time.time() - os.stat(lock_dir).st_mtime
            except FileNotFoundError:
                return 0  # holder just finished
            if age < 600:
                return 0  # active compaction elsewhere — skip
            # stale (holder crashed): adopt the lock by refreshing it
            os.utime(lock_dir)
        try:
            self._recover_offsets_store()
            # snapshot the exact input files: commits that land AFTER
            # this listing are rescued from the trash dir below instead
            # of being deleted with it
            snapshot = sorted(
                _glob.glob(
                    os.path.join(self._offsets_path, "**", "*.parquet"),
                    recursive=True,
                )
            )
            if not snapshot:
                return 0  # no commits yet
            snap_rel = {os.path.relpath(f, self._offsets_path) for f in snapshot}
            # latest row per (group, topic, bucket), resolved in-driver
            # with pyarrow — the offsets store is tiny metadata
            # (|groups| x |topics| x buckets rows), exactly what the
            # reference keeps in SQLite (internal/localdb/migrations.go:
            # 37-48), so a Spark job here would be all overhead. This
            # keeps commit-triggered auto-compaction off the Spark
            # driver queue and the facade's poll loop ms-class.
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.parquet as pq

            best: dict[tuple[str, str, int], tuple[int, int]] = {}
            for f in snapshot:
                tbl = pq.read_table(f)
                at_us = (
                    tbl["committed_at"]
                    .cast(pa.timestamp("us"))
                    .cast(pa.int64())
                    .to_pylist()
                )
                for g, tp, b, c, a in zip(
                    tbl["group"].to_pylist(),
                    tbl["topic"].to_pylist(),
                    tbl["bucket"].to_pylist(),
                    tbl["committed"].to_pylist(),
                    at_us,
                ):
                    cand = (a if a is not None else -1, c)
                    k = (g, tp, b)
                    if k not in best or cand > best[k]:
                        best[k] = cand
            rows = sorted(best.items())
            out = pa.table(
                {
                    "group": pa.array([k[0] for k, _ in rows], pa.string()),
                    "topic": pa.array([k[1] for k, _ in rows], pa.string()),
                    "bucket": pa.array([k[2] for k, _ in rows], pa.int32()),
                    "committed": pa.array([v[1] for _, v in rows], pa.int64()),
                    "committed_at": pa.array(
                        [v[0] if v[0] >= 0 else None for _, v in rows],
                        pa.timestamp("us", tz="UTC"),
                    ),
                }
            )
            tmp = f"{self.root}/_offsets_compact_tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            # one file: committed() then reads a single footer
            pq.write_table(
                out,
                os.path.join(tmp, f"compacted-{_uuid.uuid4().hex}.parquet"),
                compression="zstd",
            )
            n = out.num_rows
            # crash-safe swap: the old store is MOVED aside (O(1)
            # rename), the new one renamed into place, late commits
            # rescued, and only then is the old one deleted. A crash at
            # any point leaves a recoverable store —
            # `_recover_offsets_store()` (called by every offsets read)
            # restores the trash dir iff the main path is missing.
            trash = f"{self.root}/_offsets_trash"
            shutil.rmtree(trash, ignore_errors=True)
            os.rename(self._offsets_path, trash)
            try:
                os.rename(tmp, self._offsets_path)
            except OSError:
                # a peer's _recover_offsets_store() restored the old dir
                # between our two renames: that store is valid and
                # complete (it IS the dir we moved aside), so abandon
                # this compaction instead of fighting the restore
                shutil.rmtree(tmp, ignore_errors=True)
                return n
            # rescue commits written between the snapshot listing and
            # the move-aside: anything in trash we did not compact is a
            # concurrent facade's acknowledged durable commit
            for f in _glob.glob(
                os.path.join(trash, "**", "*.parquet"), recursive=True
            ):
                rel = os.path.relpath(f, trash)
                if rel not in snap_rel:
                    dest = os.path.join(self._offsets_path, rel)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    os.rename(f, dest)
            shutil.rmtree(trash)
            return n
        finally:
            try:
                os.rmdir(lock_dir)
            except OSError:
                pass

    def _compact_offsets_objectstore(self) -> int:
        """Offsets compaction for object-store roots: write-new, then
        delete the absorbed inputs. NO rename and NO swap are needed —
        the offsets log is append-only latest-wins, so every crash
        window is idempotent-safe: a crash after the consolidated file
        lands but before the inputs are deleted merely leaves duplicate
        rows that resolve identically; a crash mid-delete leaves older
        rows that lose to the consolidated ones. Commits that land
        AFTER the snapshot listing are never deleted (only snapshot
        files are), so concurrent facades keep their acks. The Spark
        read/write keeps this runnable as a cluster maintenance job
        against s3://-class roots.
        """
        uri = self._offsets_path
        from barco_spark.sources import objectstore as obs

        snapshot = [f for f, _m, _s in obs.list_files(uri, ".parquet")]
        if not snapshot:
            return 0
        # two facades can compact concurrently (goodbye-triggered, no
        # cross-process lock on object stores): the peer's deletes may
        # remove files from OUR snapshot mid-read. Ignoring them is
        # correct — the peer only deletes inputs whose consolidated
        # replacement is already visible, and latest-wins resolution
        # makes re-absorbing it idempotent.
        df = (
            self.spark.read.schema(OFFSETS_SCHEMA)
            .option("ignoreMissingFiles", "true")
            .parquet(*snapshot)
        )
        w = Window.partitionBy("group", "topic", "bucket").orderBy(
            F.col("committed_at").desc(), F.col("committed").desc()
        )
        latest = (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        n = latest.count()
        # the consolidated rows land IN the live store under fresh file
        # names (append), becoming visible before any input is removed
        latest.coalesce(1).write.mode("append").option(
            "compression", "zstd"
        ).parquet(uri)
        for f in snapshot:
            obs.delete_file(f)
        return n

    def _recover_offsets_store(self) -> None:
        """Heal a compact_offsets() crash window: if the main offsets
        dir is gone but the trash (moved-aside old store) survives,
        restore it. If BOTH exist, the compactor crashed between the
        swap and the late-commit rescue — merge the trash's files back
        in (re-appending already-compacted rows is harmless in an
        append-only log resolved by latest-wins; dropping a late commit
        is not) and remove the empty trash."""
        import glob as _glob
        import os
        import shutil

        if "://" in self.root:
            return
        trash = f"{self.root}/_offsets_trash"
        if not os.path.isdir(trash):
            return
        if os.path.isdir(self._offsets_path):
            for f in _glob.glob(
                os.path.join(trash, "**", "*.parquet"), recursive=True
            ):
                rel = os.path.relpath(f, trash)
                dest = os.path.join(self._offsets_path, rel)
                if os.path.exists(dest):
                    continue  # same name both sides: already present
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                try:
                    os.rename(f, dest)
                except OSError:
                    pass  # concurrent recovery moved it first
            shutil.rmtree(trash, ignore_errors=True)
        else:
            try:
                os.rename(trash, self._offsets_path)
            except OSError:
                pass  # concurrent recovery or compaction won the race

    def _offsets_file_count(self) -> int:
        """Data files currently in the offsets log (0 if none/remote)."""
        import glob
        import os

        if "://" in self.root:
            return 0
        self._recover_offsets_store()
        return len(
            glob.glob(os.path.join(self._offsets_path, "**", "*.parquet"),
                      recursive=True)
        )

    def retention_cleanup(self, max_age_hours: float | None = None) -> int:
        """Delete data files older than the retention window (W7), and
        ``produce_arrow``'s hidden tmp files left for over an hour by a
        write that died before its rename (not counted in the result).

        The reference scans every 5 min and deletes .dlog files older
        than `retentionHours` (default 168h,
        internal/data/datalog_cleaner.go:16-100). Returns files deleted.
        """
        import os

        if max_age_hours is None:
            max_age_hours = self.config.retention_hours
        if "://" in self.root:
            # scheme-generic sweep via pyarrow.fs: every data prefix
            # (the default `data` plus compaction epochs `data-e*`) is
            # listed and files past the window deleted. Deleting aged
            # segments needs no coordination — readers of a retention-
            # expired range were already out of contract (same stance
            # as the reference's datalog cleaner). Orphans from crashed
            # compactions age out here too.
            from barco_spark.sources import objectstore as obs

            cutoff = time.time() - max_age_hours * 3600.0
            deleted = 0
            for d in obs.list_subdirs(self.root):
                if d != "data" and not d.startswith("data-e"):
                    continue
                for f, mtime, _size in obs.list_files(
                    f"{self.root}/{d}", ".parquet"
                ):
                    if mtime < cutoff and obs.delete_file(f):
                        deleted += 1
            return deleted
        from barco_spark.sources.datasource import invalidate_list_cache

        now = time.time()
        cutoff = now - max_age_hours * 3600.0
        tmp_cutoff = now - _TMP_PART_MAX_AGE_S
        deleted = 0
        for dirpath, _dirnames, filenames in os.walk(self._data_path):
            for fn in filenames:
                path = os.path.join(dirpath, fn)
                if fn.endswith(".parquet"):
                    if os.path.getmtime(path) < cutoff:
                        os.remove(path)
                        deleted += 1
                elif fn.startswith(_TMP_PART_PREFIX) and fn.endswith(".tmp"):
                    # produce_arrow's leftover of a write that died
                    # before its rename; never visible to readers
                    try:
                        if os.path.getmtime(path) < tmp_cutoff:
                            os.remove(path)
                    except FileNotFoundError:
                        pass  # renamed into place meanwhile
        if deleted:
            invalidate_list_cache(self._data_path)
            self._produce_tails.clear()
        return deleted

    def replay(
        self,
        topic: str,
        to_topic: str,
        from_offsets: dict[int, int] | None = None,
    ) -> int:
        """Re-produce a topic's records into another topic (ops replay:
        backfill a rebuilt consumer, fork a topic for a migration test,
        re-drive a downstream pipeline after a bug fix).

        ``from_offsets``: optional per-bucket starting offsets
        (inclusive), e.g. a group's ``committed()`` map — omit to
        replay from the beginning. Original partition keys and
        timestamps are PRESERVED (the reference's consumer-reset
        semantics re-delivers the same records; replay materializes
        that as a new topic). Per-key order is preserved: the frame is
        repartitioned by the ORIGINAL bucket and sorted by offset, so
        each source partition feeds produce() in offset order, and the
        produce-side (timestamp, _seq) window keeps that order inside
        every destination bucket even when timestamps tie. One scan +
        the standard produce shuffle; nothing is collected.

        Returns the number of records replayed.
        """
        frame = self._topic_scan(topic)
        if from_offsets:
            lo = F.create_map(
                *[F.lit(x) for kv in from_offsets.items() for x in kv]
            )
            frame = frame.filter(
                F.col("offset")
                >= F.coalesce(lo[F.col("bucket")], F.lit(0))
            )
        ordered = (
            frame.repartition("bucket")
            .sortWithinPartitions("offset")
            .select("partition_key", "payload", "timestamp")
        )
        return self.produce(to_topic, ordered)

    # ------------------------------------------------------------------
    # Reads for analytics
    # ------------------------------------------------------------------
    def read(self, topic: str | None = None) -> DataFrame:
        if topic is not None:
            return self._topic_scan(topic)
        if "://" in self.root:
            # epoch manifests make the data root per-topic: an all-topic
            # read is the union of each topic's current prefix
            from functools import reduce

            frames = [self._topic_scan(t) for t in self.topics()]
            if not frames:
                return self.spark.createDataFrame([], EVENT_SCHEMA)
            return reduce(lambda a, b: a.unionByName(b), frames)
        return self.spark.read.schema(EVENT_SCHEMA).parquet(self._data_path)


def parse_topic(
    log: EventLog, topic: str, schema: str, keep_meta: bool = True
) -> DataFrame:
    """Opaque payloads -> typed columns, on demand.

    The broker never interprets payloads (SURVEY.md §1.2); consumers
    parse when they need structure. `schema` is a DDL string for
    from_json (e.g. "productId INT, units INT"); malformed payloads
    yield NULL fields, mirroring permissive JSON consumption.
    """
    df = log.read(topic)
    parsed = df.withColumn("_parsed", F.from_json(F.col("payload"), schema))
    cols = (
        ["topic", "partition_key", "timestamp", "bucket", "offset"]
        if keep_meta
        else []
    )
    return parsed.select(*cols, "_parsed.*")
