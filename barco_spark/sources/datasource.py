"""`format("barco")`: the event log as a native Spark data source.

Spark 4's Python Data Source API lets the broker's consumer surface be
expressed the idiomatic way — `spark.read.format("barco")` /
`spark.readStream.format("barco")` — instead of only through the
`EventLog` facade:

- one InputPartition per (topic, bucket)  -> the reference's reader-per-
  (token, rangeIndex) fan-out (internal/data/segment_reader.go:54-195)
- offset discovery from parquet FOOTER statistics only (no data pages)
  -> producer.offset high watermark + sparse index seek (R5/R11,
  internal/data/offset_file_writer.go:16-47,
  internal/data/index_file_writer.go:77-90)
- streaming offsets {bucket: next} checkpointed by Spark
  -> committed consumer offsets (R8,
  internal/consuming/offset_state.go:456-490)
- `startingOffsets=earliest|latest`
  -> reset policies (R9, internal/types/models_offset.go:94-101)

Options: `path` (log root, required), `topic` (default: all topics for
batch, required for streaming), `buckets` (default 12),
`startingOffsets` (earliest|latest, default earliest),
`maxRecordsPerBucket` (per micro-batch rate limit — the analogue of the
2 MiB ConsumerReadThreshold R2, internal/conf/config.go:260-262).

Scale notes: offset discovery is footer-stats-only per bucket
directory; each micro-batch reads exactly the [start, end) slice per
bucket via a row-group–prunable `offset` predicate, so a 1000-executor
cluster fans out one task per bucket with no coordination. Reader code
runs in Python workers (driver side for offsets, executor side for
reads) — it uses pyarrow directly and never touches a SparkSession.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

SCHEMA_DDL = (
    "topic string, partition_key string, timestamp timestamp, "
    "payload string, bucket int, offset bigint"
)

_PART_RE = re.compile(r"topic=([^/]+)/bucket=(\d+)/")


def _arrow_target_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("topic", pa.string()),
            pa.field("partition_key", pa.string()),
            pa.field("timestamp", pa.timestamp("us")),
            pa.field("payload", pa.string()),
            pa.field("bucket", pa.int32()),
            pa.field("offset", pa.int64()),
        ]
    )


# bucket dir -> (mtime_ns, sorted parquet paths). Adding or removing a
# file bumps its directory's mtime, so an unchanged mtime proves a
# listdir would return the same names. Each bucket dir is memoized on
# its own: a produce that touches a few buckets makes the next call
# re-list those dirs only, and a poll loop over quiet buckets pays one
# stat() per bucket instead of a listdir of the whole topic.
_DIR_LISTING_CACHE: dict[str, tuple[int, list[str]]] = {}

# Racy-stamp window (the make/git trick): kernel file timestamps come
# from the COARSE clock (~1-4 ms ticks on typical CONFIG_HZ), so two
# writes landing in the same tick leave a directory's mtime_ns
# unchanged. A listing memoized inside that tick could therefore go
# stale without detection — the next _high_watermarks() would miss the
# newest file and produce_arrow would re-assign already-used offsets.
# Guard, per directory: never memoize a dir whose mtime is within this
# window of "now"; such dirs are re-listed on every call, they just
# don't memoize. 50 ms comfortably covers jiffy granularity; a dir
# older than the window memoizes normally.
_MTIME_RACE_NS = 50_000_000


def invalidate_list_cache(data_path: str, topic: str | None = None) -> None:
    """Drop memoized listings under ``data_path`` (one topic or all).

    Writers that replace files wholesale (compaction, retention) call
    this after they are done; appends need no call, because every new
    file moves its directory's mtime and the racy-stamp guard in
    ``_list_files`` covers same-tick writes.
    """
    if topic is None:
        prefix = os.path.join(data_path, "")
    else:
        prefix = os.path.join(data_path, f"topic={topic}", "")
    for cache in (_DIR_LISTING_CACHE, _DIR_LISTING_BASE, _DIR_WATERMARK_CACHE):
        # list() copies the keys in one step: readers may insert meanwhile
        for d in [d for d in list(cache) if d.startswith(prefix)]:
            cache.pop(d, None)


# bucket dir -> (its sorted parquet paths, their names) as last listed,
# memoized or not: the next listing of a dir that only gained files
# diffs its names against this set in C and sorts in the new paths, so
# a re-list costs no Python work per file already seen.
_DIR_LISTING_BASE: dict[str, tuple[list[str], frozenset[str]]] = {}


def _list_dir(bpath: str, mtime_ns: int, now_ns: int) -> list[str] | None:
    """Sorted parquet paths of one bucket dir, memoized by its mtime
    (None if the dir vanished)."""
    cached = _DIR_LISTING_CACHE.get(bpath)
    if cached is not None and cached[0] == mtime_ns:
        return cached[1]
    try:
        names = set(os.listdir(bpath))
    except FileNotFoundError:
        return None  # concurrent retention delete
    prefix = bpath + "/"
    base = _DIR_LISTING_BASE.get(bpath)
    if base is not None and base[1] <= names:
        added = [n for n in names.difference(base[1]) if n.endswith(".parquet")]
        if added:
            seen = base[1].union(added)
            files = sorted(base[0] + [prefix + n for n in added])
        else:
            seen, files = base[1], base[0]
    else:  # first listing, or a file vanished (compaction, retention)
        seen = frozenset(n for n in names if n.endswith(".parquet"))
        files = sorted(prefix + n for n in seen)
    if len(_DIR_LISTING_BASE) > 65536:  # runaway-session backstop
        _DIR_LISTING_BASE.clear()
    _DIR_LISTING_BASE[bpath] = (files, seen)
    if now_ns - mtime_ns >= _MTIME_RACE_NS:
        if len(_DIR_LISTING_CACHE) > 65536:
            _DIR_LISTING_CACHE.clear()
        _DIR_LISTING_CACHE[bpath] = (mtime_ns, files)
    else:
        _DIR_LISTING_CACHE.pop(bpath, None)
    return files


def _list_files(
    data_path: str, topic: str | None, buckets=None
) -> dict[tuple[str, int], list[str]]:
    """Parquet files per (topic, bucket) under the hive-partitioned log,
    restricted to ``buckets`` when given.

    The file lists are shared with the memo: callers must not mutate
    them. A live caller names its topic and the buckets it needs (a
    poll its owned buckets, a keyed produce the buckets it writes),
    which costs one stat() per bucket dir plus a listdir of each dir
    that changed."""
    out: dict[tuple[str, int], list[str]] = {}
    now_ns = time.time_ns()
    if topic is None:
        try:
            tdirs = sorted(d for d in os.listdir(data_path) if d.startswith("topic="))
        except (FileNotFoundError, NotADirectoryError):
            return out
    else:
        tdirs = [f"topic={topic}"]
    for tdir in tdirs:
        tp = tdir[len("topic="):]
        tpath = os.path.join(data_path, tdir)
        if buckets is not None:
            bdirs = [f"bucket={b}" for b in sorted(buckets)]
        else:
            try:
                bdirs = sorted(os.listdir(tpath))
            except (FileNotFoundError, NotADirectoryError):
                continue  # no such topic (yet), or it vanished mid-scan
        for bdir in bdirs:
            if not bdir.startswith("bucket="):
                continue
            try:
                b = int(bdir[len("bucket="):])
            except ValueError:
                continue  # not a partition dir (matches _PART_RE \d+)
            bpath = os.path.join(tpath, bdir)
            try:
                mtime_ns = os.stat(bpath).st_mtime_ns
            except (FileNotFoundError, NotADirectoryError):
                continue  # not written yet, or a retention delete
            files = _list_dir(bpath, mtime_ns, now_ns)
            if files:
                out[(tp, b)] = files
    return out


# Per-file row-group [min, max] offset stats, keyed by path. Log files
# are IMMUTABLE (each produce/compaction writes fresh part-<uuid> names,
# never rewriting in place), so a path's footer never changes and the
# memo needs no invalidation — a live poll loop then opens footers only
# for files that appeared since its last poll instead of re-reading the
# whole log's metadata per poll (measured: this plus the offsets-read
# cache is what keeps facade poll latency flat as the log grows).
_FOOTER_OFFSETS_CACHE: dict[str, list[tuple[int | None, int | None]]] = {}


def remember_footer_offsets(f: str, rgs: list[tuple[int, int]]) -> None:
    """Record the row-group offset stats of a log file its writer just
    published (the writer knows them; readers then skip the footer)."""
    if len(_FOOTER_OFFSETS_CACHE) > 131072:  # runaway-session backstop
        _FOOTER_OFFSETS_CACHE.clear()
    _FOOTER_OFFSETS_CACHE[f] = rgs


def _footer_offsets(f: str) -> list[tuple[int | None, int | None]]:
    """[(min, max)] offset statistics per row group of one log file."""
    import pyarrow.parquet as pq

    cached = _FOOTER_OFFSETS_CACHE.get(f)
    if cached is not None:
        return cached
    md = pq.ParquetFile(f).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    rgs: list[tuple[int | None, int | None]] = []
    if "offset" in idx:
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["offset"]).statistics
            if st is not None:
                rgs.append((st.min, st.max))
            else:
                rgs.append((None, None))
    if len(_FOOTER_OFFSETS_CACHE) > 131072:  # runaway-session backstop
        _FOOTER_OFFSETS_CACHE.clear()
    _FOOTER_OFFSETS_CACHE[f] = rgs
    return rgs


# bucket dir -> (file list folded, its paths as a set, next offset).
# The fold is incremental: a listing that only gained files reads the
# footers of the new ones (usually one); a listing that lost a file
# (compaction, retention) is folded again from scratch.
_DIR_WATERMARK_CACHE: dict[str, tuple[list[str], frozenset[str], int]] = {}


def _bucket_watermark(files: list[str]) -> int:
    """Next offset of one bucket dir's files (0 if none holds offset
    stats). ``files`` is a non-empty ``_list_files`` entry."""
    bpath = os.path.dirname(files[0])
    cached = _DIR_WATERMARK_CACHE.get(bpath)
    if cached is not None and cached[0] is files:
        return cached[2]
    mx, new, now = -1, files, frozenset(files)
    if cached is not None and cached[1] <= now:
        mx = cached[2] - 1
        new = now.difference(cached[1])
    for f in new:
        for _mn, rg_mx in _footer_offsets(f):
            if rg_mx is not None:
                mx = max(mx, rg_mx)
    if len(_DIR_WATERMARK_CACHE) > 65536:  # runaway-session backstop
        _DIR_WATERMARK_CACHE.clear()
    _DIR_WATERMARK_CACHE[bpath] = (files, now, mx + 1)
    return mx + 1


def _watermarks_of(files: dict[tuple[str, int], list[str]]) -> dict[int, int]:
    """Next offset per bucket of a ``_list_files`` result (footers only)."""
    wm: dict[int, int] = {}
    for (_tp, b), fs in files.items():
        nxt = _bucket_watermark(fs) if fs else 0
        if nxt > 0:
            wm[b] = nxt
    return wm


def _high_watermarks(data_path: str, topic: str, buckets=None) -> dict[int, int]:
    """Next offset per bucket (of ``buckets`` when given) from row-group
    max stats (footers only)."""
    return _watermarks_of(_list_files(data_path, topic, buckets))


def _lowest_offset(files: list[str]) -> int | None:
    """Lowest offset held by one bucket's files (None if none)."""
    mins = [mn for f in files for mn, _mx in _footer_offsets(f) if mn is not None]
    return min(mins) if mins else None


def _covers(files: list[str], start: int, end: int) -> bool:
    """Whether one bucket's files hold every offset in [start, end),
    by their row-group offset stats. A gap wholly below the lowest
    offset held is a retention trim and counts as covered."""
    rgs = sorted(
        (mn, mx) for f in files for mn, mx in _footer_offsets(f) if mn is not None
    )
    if not rgs:
        return end <= start
    nxt = max(start, rgs[0][0])
    for mn, mx in rgs:
        if nxt >= end or mn > nxt:
            break
        nxt = max(nxt, mx + 1)
    return nxt >= end


# A listdir that runs while a file is renamed into the dir can miss that
# file and still show one renamed after it: readdir walks the dir in
# hash order, it is no snapshot. So one listing may yield a bucket's
# watermark without every file below it. A listing that starts after the
# rename has completed sees the file; a hole that outlasts this many
# listings (~0.2 s) is a deleted file, not a rename in flight.
_COVER_ATTEMPTS = 20


def _list_covering(data_path: str, topic: str, buckets, spans):
    """``_list_files`` of ``buckets``, listed again until each bucket's
    files cover the [start, end) that ``spans(files)`` (a dict bucket ->
    (start, end)) asks of that listing. Returns (files, spans). Once
    the attempts run out the hole is a deletion, and the caller reads
    what is there."""
    for attempt in range(_COVER_ATTEMPTS):
        files = _list_files(data_path, topic, buckets)
        want = spans(files)
        if all(
            _covers(files.get((topic, b), []), s, e) for b, (s, e) in want.items()
        ):
            break
        time.sleep(0.001 * attempt)
    return files, want


def _read_slice(
    files: list[str],
    topic: str,
    bucket: int,
    start: int,
    end: int,
    columns: list[str] | None = None,
    tagged: bool = True,
):
    """Yield arrow batches of rows with start <= offset < end.

    Row groups whose [min, max] offset stats fall outside the slice are
    skipped without reading data pages (the sparse-index seek R5), and
    row groups wholly inside it are not filtered row by row.
    ``columns`` restricts the data columns decoded (must include
    "offset"); a live poll only needs (offset, payload), which halves
    the per-slice decode cost. ``tagged=False`` yields those columns as
    stored, without the ``topic``/``bucket`` columns and the cast to
    the table schema (a poll knows both already). Slice reads are small
    by construction, so the arrow thread pool is overhead, not
    parallelism — single-threaded decode measured ~30% faster at poll
    sizes.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    data_cols = columns or ["partition_key", "timestamp", "payload", "offset"]
    target = _arrow_target_schema()
    target = pa.schema(
        [f for f in target if f.name in data_cols or f.name in ("topic", "bucket")]
    )
    for f in files:
        # memoized footer stats: files whose row groups all fall outside
        # the slice are skipped WITHOUT even a footer read once warm
        stats = _footer_offsets(f)
        groups = [
            rg
            for rg, (mn, mx) in enumerate(stats)
            if mn is not None and mx >= start and mn < end
        ]
        if not groups:
            continue
        pf = pq.ParquetFile(f)
        tbl = pf.read_row_groups(groups, columns=data_cols, use_threads=False)
        if any(stats[rg][0] < start or stats[rg][1] >= end for rg in groups):
            mask = pc.and_(
                pc.greater_equal(tbl["offset"], start), pc.less(tbl["offset"], end)
            )
            tbl = tbl.filter(mask)
        if tbl.num_rows == 0:
            continue
        if not tagged:
            yield from tbl.to_batches()
            continue
        n = tbl.num_rows
        tbl = tbl.append_column("topic", pa.array([topic] * n, pa.string()))
        tbl = tbl.append_column("bucket", pa.array([bucket] * n, pa.int32()))
        tbl = tbl.select([f.name for f in target]).cast(target)
        yield from tbl.to_batches()


@dataclass
class BucketSlice(InputPartition):
    files: list[str]
    topic: str
    bucket: int
    start: int
    end: int


class BarcoBatchReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.data_path = options["path"].rstrip("/") + "/data"
        self.topic = options.get("topic")

    def partitions(self):
        files = _list_files(self.data_path, self.topic)
        return [
            BucketSlice(fs, tp, b, 0, 2**63 - 1) for (tp, b), fs in sorted(files.items())
        ]

    def read(self, partition: BucketSlice):
        yield from _read_slice(
            partition.files,
            partition.topic,
            partition.bucket,
            partition.start,
            partition.end,
        )


class BarcoStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        if "topic" not in options:
            raise ValueError("streaming read requires option 'topic'")
        self.data_path = options["path"].rstrip("/") + "/data"
        self.topic = options["topic"]
        self.buckets = int(options.get("buckets", "12"))
        self.starting = options.get("startingoffsets", "earliest").lower()
        self.max_records = int(options.get("maxrecordsperbucket", "0"))
        # last known consumer position, fed by initialOffset()/commit();
        # None right after a checkpoint restart (Spark restores the
        # start from its offset log without telling the source)
        self._pos: dict[int, int] | None = None

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            wm = _high_watermarks(self.data_path, self.topic)
        else:
            wm = {}
        off = {str(b): wm.get(b, 0) for b in range(self.buckets)}
        self._pos = {b: wm.get(b, 0) for b in range(self.buckets)}
        return off

    def latestOffset(self) -> dict:
        """Next batch end: high watermark, rate-capped per bucket (R2).

        The cap MUST be applied here, not in partitions(): Spark
        checkpoints this return value as the batch end, so trimming
        later would silently skip records. When the position is unknown
        the batch is uncapped — safe (no loss), just unthrottled once.
        The position is unknown exactly on the FIRST batch of every run:
        Spark calls latestOffset() before initialOffset() (fresh stream)
        and restores a restart's start from its own offset log without
        telling the source; capping blind could regress the end below
        that start and redeliver records. From the second batch on,
        commit() feedback makes the cap exact.
        """
        wm = _high_watermarks(self.data_path, self.topic)
        end = {b: wm.get(b, 0) for b in range(self.buckets)}
        if self.max_records > 0 and self._pos is not None:
            for b in range(self.buckets):
                floor = self._pos.get(b, 0)
                end[b] = max(floor, min(end[b], floor + self.max_records))
        self._pos = dict(end)
        return {str(b): v for b, v in end.items()}

    def partitions(self, start: dict, end: dict):
        # Spark checkpoints `end` as read once this batch commits, so
        # every slice must hold all of [start, end): a listing that
        # misses a file renamed in meanwhile is taken again
        spans = {}
        for b in range(self.buckets):
            s, e = int(start.get(str(b), 0)), int(end.get(str(b), 0))
            if e > s:
                spans[b] = (s, e)
        files, _ = _list_covering(self.data_path, self.topic, list(spans), lambda _f: spans)
        return [
            BucketSlice(files.get((self.topic, b), []), self.topic, b, s, e)
            for b, (s, e) in spans.items()
        ]

    def read(self, partition: BucketSlice):
        yield from _read_slice(
            partition.files,
            partition.topic,
            partition.bucket,
            partition.start,
            partition.end,
        )

    def commit(self, end: dict) -> None:
        # Spark's checkpoint IS the durable commit log (R8); just track
        # the position so the next latestOffset() can rate-cap from it.
        self._pos = {int(b): int(v) for b, v in end.items()}


class BarcoDataSource(DataSource):
    """`spark.dataSource.register(BarcoDataSource)` then format("barco")."""

    @classmethod
    def name(cls) -> str:
        return "barco"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return BarcoBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return BarcoStreamReader(self.options)


def offsets_json(offsets: dict[int, int]) -> str:
    """Render {bucket: next} as the checkpoint JSON Spark stores."""
    return json.dumps({str(b): n for b, n in sorted(offsets.items())})
