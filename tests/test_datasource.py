"""format("barco") Python Data Source: batch + streaming reads.

Mirrors the reference's consumer-side integration scenarios
(internal/test/integration/roundtrip_test.go): roundtrip, reset
policies, rate-limited batches, checkpoint resume without duplicates.
"""

from __future__ import annotations

import tempfile

import pytest

from barco_spark.sources import BarcoDataSource, EventLog
from barco_spark.sources.datasource import _high_watermarks


@pytest.fixture(scope="module")
def ds_spark(spark):
    spark.dataSource.register(BarcoDataSource)
    return spark


def _fresh_log(spark) -> EventLog:
    return EventLog(spark, tempfile.mkdtemp() + "/log")


def _run_available_now(spark, root: str, out_dir: str, ckpt: str, **opts) -> None:
    reader = (
        spark.readStream.format("barco").option("path", root).option("topic", "t")
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_batch_read_matches_eventlog(ds_spark):
    log = _fresh_log(ds_spark)
    log.produce("t", [("k1", "a"), ("k2", "b"), (None, "c")])
    log.produce("u", ["other"])
    via_ds = ds_spark.read.format("barco").option("path", log.root).load()
    assert via_ds.count() == 4
    t_rows = (
        ds_spark.read.format("barco")
        .option("path", log.root)
        .option("topic", "t")
        .load()
        .select("partition_key", "payload", "bucket", "offset")
        .collect()
    )
    expected = {
        (r["partition_key"], r["payload"], r["bucket"], r["offset"])
        for r in log.read("t").collect()
    }
    assert {tuple(r) for r in t_rows} == expected


def test_footer_watermarks_match_eventlog(ds_spark):
    log = _fresh_log(ds_spark)
    log.produce("t", [f"p{i}" for i in range(50)])
    log.produce("t", [f"q{i}" for i in range(30)])
    assert _high_watermarks(log._data_path, "t") == log.high_watermarks("t")


def test_stream_resume_no_duplicates(ds_spark):
    log = _fresh_log(ds_spark)
    log.produce("t", [("a", "one"), ("b", "two")])
    out_dir = tempfile.mkdtemp() + "/out"
    ckpt = tempfile.mkdtemp()
    _run_available_now(ds_spark, log.root, out_dir, ckpt)
    first = sorted(r["payload"] for r in ds_spark.read.parquet(out_dir).collect())
    assert first == ["one", "two"]
    log.produce("t", [("a", "three")])
    _run_available_now(ds_spark, log.root, out_dir, ckpt)
    resumed = sorted(r["payload"] for r in ds_spark.read.parquet(out_dir).collect())
    assert resumed == ["one", "three", "two"]  # no redelivery of one/two


def test_starting_offsets_latest_skips_history(ds_spark):
    log = _fresh_log(ds_spark)
    log.produce("t", ["old1", "old2"])
    out_dir = tempfile.mkdtemp() + "/out"
    ckpt = tempfile.mkdtemp()
    _run_available_now(
        ds_spark, log.root, out_dir, ckpt, startingOffsets="latest"
    )
    log.produce("t", ["new1"])
    _run_available_now(
        ds_spark, log.root, out_dir, ckpt, startingOffsets="latest"
    )
    got = sorted(r["payload"] for r in ds_spark.read.parquet(out_dir).collect())
    assert got == ["new1"]


def test_rate_limited_runs_deliver_exactly_once(ds_spark):
    """With the rate cap set, restarted runs still deliver every record
    exactly once (Spark calls latestOffset before initialOffset, so the
    first batch of each run is uncapped by design — capping blind could
    regress below a checkpoint-restored start and redeliver)."""
    log = _fresh_log(ds_spark)
    # one key -> one bucket -> offsets 0..9 in produce order
    log.produce("t", [("k", f"m{i}") for i in range(10)])
    out_dir = tempfile.mkdtemp() + "/out"
    ckpt = tempfile.mkdtemp()
    _run_available_now(
        ds_spark, log.root, out_dir, ckpt, maxRecordsPerBucket="3"
    )
    log.produce("t", [("k", f"m{i}") for i in range(10, 16)])
    _run_available_now(
        ds_spark, log.root, out_dir, ckpt, maxRecordsPerBucket="3"
    )
    got = ds_spark.read.parquet(out_dir)
    # per-key order preserved, every record exactly once
    ordered = [
        r["payload"]
        for r in got.orderBy("offset").collect()
    ]
    assert ordered == [f"m{i}" for i in range(16)]


def test_stream_reader_offset_progression(ds_spark):
    """Driver-side unit check of the capped offset arithmetic (no query)."""
    from barco_spark.sources.datasource import BarcoStreamReader

    log = _fresh_log(ds_spark)
    log.produce("t", [("k", f"m{i}") for i in range(10)])
    (bucket,) = log.high_watermarks("t").keys()
    r = BarcoStreamReader(
        {"path": log.root, "topic": "t", "maxrecordsperbucket": "4"}
    )
    start = r.initialOffset()
    assert start[str(bucket)] == 0
    e1 = r.latestOffset()
    assert e1[str(bucket)] == 4  # capped
    assert len(r.partitions(start, e1)) == 1
    r.commit(e1)
    e2 = r.latestOffset()
    assert e2[str(bucket)] == 8  # advances from the committed position
    r.commit(e2)
    e3 = r.latestOffset()
    assert e3[str(bucket)] == 10  # clamped at the high watermark
    r.commit(e3)
    assert r.latestOffset()[str(bucket)] == 10  # idle: no movement
    # a restart (position unknown) must never regress or lose records
    r2 = BarcoStreamReader(
        {"path": log.root, "topic": "t", "maxrecordsperbucket": "4"}
    )
    assert r2.latestOffset()[str(bucket)] == 10  # uncapped, full watermark


def test_barco_stream_into_windowed_aggregation(ds_spark, tmp_path):
    """The full idiomatic pipeline: produce -> format("barco") stream ->
    watermarked tumbling window -> sink. The reference stores timestamps
    but never interprets them; this is the analytics layer on top."""
    from pyspark.sql import functions as F

    from barco_spark.streaming.windows import tumbling_counts

    log = _fresh_log(ds_spark)
    rows = [
        ("k", f"e{i}", f"2024-05-01 {10 + m // 60}:{m % 60:02d}:00")
        for i, m in enumerate([1, 2, 3, 61, 62, 121])
    ]
    df = ds_spark.createDataFrame(
        rows, ["partition_key", "payload", "ts"]
    ).withColumn("timestamp", F.to_timestamp("ts")).drop("ts")
    log.produce("t", df)

    stream = (
        ds_spark.readStream.format("barco")
        .option("path", log.root)
        .option("topic", "t")
        .load()
    )
    agg = tumbling_counts(stream, window_size="1 hour", watermark="1 hour")
    out: list = []
    # update mode: every window touched by the batch is emitted with its
    # current count (watermark-closure emission is covered in
    # test_streaming; this test is about the source composition)
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(lambda d, _b: out.extend(d.collect()))
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["n"]) for r in out if r["topic"] == "t"
    }
    assert got == {
        ("2024-05-01 10:00:00", 3),
        ("2024-05-01 11:00:00", 2),
        ("2024-05-01 12:00:00", 1),
    }


def test_stream_resume_after_compaction_no_duplicates(ds_spark):
    """compact() rewrites the topic's files but preserves rows and
    offsets exactly; a checkpointed stream that resumes AFTER a
    compaction must see only new data (the source tracks offsets, not
    file names — this pins that contract)."""
    log = _fresh_log(ds_spark)
    for batch in range(3):  # several small files per bucket
        log.produce("t", [(f"k{i}", f"b{batch}-m{i}") for i in range(4)])
    out_dir = tempfile.mkdtemp() + "/out"
    ckpt = tempfile.mkdtemp()
    _run_available_now(ds_spark, log.root, out_dir, ckpt)
    first = sorted(r["payload"] for r in ds_spark.read.parquet(out_dir).collect())
    assert len(first) == 12

    log.compact("t")  # rewrite layout, same rows/offsets
    log.produce("t", [("k0", "after-compact")])
    _run_available_now(ds_spark, log.root, out_dir, ckpt)
    resumed = sorted(r["payload"] for r in ds_spark.read.parquet(out_dir).collect())
    assert len(resumed) == 13  # exactly one new row, nothing redelivered
    assert "after-compact" in resumed


def test_list_cache_ignores_same_tick_writes(tmp_path):
    """The per-directory listing memo must never serve a stale listing
    when a write lands in the same coarse-clock tick as the memoized
    mtime (kernel mtimes tick at ~1-4 ms; two produce_arrow appends in
    a tight loop are sub-millisecond). The guard refuses to memoize a
    bucket dir whose mtime is within the race window of now, so a
    same-tick second write is always re-listed."""
    import os

    from barco_spark.sources.datasource import _DIR_LISTING_CACHE, _list_files

    root = str(tmp_path / "data")
    bdir = os.path.join(root, "topic=t", "bucket=0")
    os.makedirs(bdir)
    open(os.path.join(bdir, "part-1.parquet"), "w").close()
    # dir mtime is "now" -> inside the race window
    files1 = _list_files(root, "t")
    assert [len(v) for v in files1.values()] == [1]
    assert bdir not in _DIR_LISTING_CACHE, "fresh dir must not memoize"
    # same-tick second write: force the dir mtime back to its pre-write
    # value (exactly what a coarse-clock tick does)
    st = os.stat(bdir)
    open(os.path.join(bdir, "part-2.parquet"), "w").close()
    os.utime(bdir, ns=(st.st_atime_ns, st.st_mtime_ns))
    files2 = _list_files(root, "t")
    assert [len(v) for v in files2.values()] == [2], "stale listing served"


def test_list_cache_memoizes_aged_stamps(tmp_path):
    """Bucket dirs whose mtime is safely in the past memoize (the
    poll-loop fast path): the second call returns each dir's memoized
    file list itself. A write to one dir re-lists that dir only, and
    explicit invalidation (compaction, retention) drops the memo."""
    import os
    import time

    from barco_spark.sources.datasource import (
        _list_files,
        invalidate_list_cache,
    )

    root = str(tmp_path / "data")
    bdirs = [os.path.join(root, "topic=t", f"bucket={b}") for b in (0, 1)]
    past = time.time_ns() - 2_000_000_000  # 2 s ago: outside the window
    for d in bdirs:
        os.makedirs(d)
        open(os.path.join(d, "part-1.parquet"), "w").close()
        os.utime(d, ns=(past, past))
    r1 = _list_files(root, "t")
    r2 = _list_files(root, "t")
    assert r1 == r2
    assert all(r1[k] is r2[k] for k in r1), "aged dirs should hit the memo"
    # a new file in bucket 1 re-lists bucket 1, bucket 0 stays memoized
    open(os.path.join(bdirs[1], "part-2.parquet"), "w").close()
    r3 = _list_files(root, "t")
    assert r3[("t", 0)] is r2[("t", 0)]
    assert len(r3[("t", 1)]) == 2
    # explicit invalidation drops the memo: the next call re-lists
    invalidate_list_cache(root, "t")
    r4 = _list_files(root, "t")
    assert r4[("t", 0)] is not r2[("t", 0)] and r4[("t", 0)] == r2[("t", 0)]


def test_same_tick_file_is_seen_by_next_high_watermarks(tmp_path):
    """A log file dropped into a bucket dir in the same mtime tick as
    the previous listing is folded into the very next watermark read
    (a missed file would make produce_arrow re-assign its offsets)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "data")
    bdir = os.path.join(root, "topic=t", "bucket=3")
    os.makedirs(bdir)

    def part(name: str, lo: int, n: int) -> None:
        pq.write_table(
            pa.table({"offset": pa.array(range(lo, lo + n), pa.int64())}),
            os.path.join(bdir, name),
        )

    part("part-1.parquet", 0, 5)
    assert _high_watermarks(root, "t") == {3: 5}
    st = os.stat(bdir)
    part("part-2.parquet", 5, 4)
    os.utime(bdir, ns=(st.st_atime_ns, st.st_mtime_ns))  # same tick
    assert _high_watermarks(root, "t") == {3: 9}
