"""Produce->consume roundtrips, mirroring the reference's own
integration suite (internal/test/integration/roundtrip_test.go).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from barco_spark.sources.eventlog import EventLog, assign_buckets


@pytest.fixture()
def log(spark, tmp_path):
    return EventLog(spark, str(tmp_path / "log"))


def test_roundtrip_smoke(log):
    # roundtrip_test.go:80-117: produce one JSON message, poll returns it
    # exactly once, next poll is empty
    log.register("g1", ["abc"], reset="earliest")
    n = log.produce("abc", ['{"hello": "world"}'], partition_key="123")
    assert n == 1
    batch = log.poll("g1", "abc").collect()
    assert len(batch) == 1
    assert batch[0]["payload"] == '{"hello": "world"}'
    assert batch[0]["offset"] == 0
    assert log.poll("g1", "abc").count() == 0


def test_ndjson_produce(log):
    # roundtrip_test.go:258: NDJSON body becomes N records
    log.register("g1", ["t"], reset="earliest")
    body = "\n".join(json.dumps({"i": i}) for i in range(5))
    assert log.produce("t", [body], ndjson=True) == 5
    assert log.poll("g1", "t").count() == 5


def test_per_key_ordering(log):
    # same partition key => same bucket => contiguous offsets in produce
    # order (docs/rest_api/README.md:69-72)
    log.register("g", ["t"], reset="earliest")
    msgs = [json.dumps({"seq": i}) for i in range(20)]
    log.produce("t", msgs, partition_key="k1")
    rows = (
        log.poll("g", "t")
        .filter(F.col("partition_key") == "k1")
        .orderBy("offset")
        .collect()
    )
    assert len(rows) == 20
    assert len({r["bucket"] for r in rows}) == 1  # one bucket per key
    assert [r["offset"] for r in rows] == list(range(20))
    assert [json.loads(r["payload"])["seq"] for r in rows] == list(range(20))


def test_offsets_continue_across_batches(log):
    log.register("g", ["t"], reset="earliest")
    log.produce("t", ["a", "b"], partition_key="k")
    log.produce("t", ["c", "d"], partition_key="k")
    rows = log.poll("g", "t").orderBy("offset").collect()
    assert [r["offset"] for r in rows] == [0, 1, 2, 3]
    assert [r["payload"] for r in rows] == ["a", "b", "c", "d"]


def test_consumer_groups_independent(log):
    log.register("g1", ["t"], reset="earliest")
    log.register("g2", ["t"], reset="earliest")
    log.produce("t", ["x"], partition_key="k")
    assert log.poll("g1", "t").count() == 1
    assert log.poll("g1", "t").count() == 0
    # g2 has its own offsets: still sees the record
    assert log.poll("g2", "t").count() == 1


def test_reset_latest_skips_history(log):
    log.produce("t", ["old1", "old2"], partition_key="k")
    log.register("g", ["t"], reset="latest")  # default policy R9
    assert log.poll("g", "t").count() == 0
    log.produce("t", ["new"], partition_key="k")
    rows = log.poll("g", "t").collect()
    assert [r["payload"] for r in rows] == ["new"]


def test_keyless_round_robin_spreads(log):
    # empty key => round-robin placement (discoverer.go:370-411)
    log.register("g", ["t"], reset="earliest")
    log.produce("t", [f"m{i}" for i in range(48)])
    buckets = {r["bucket"] for r in log.poll("g", "t").collect()}
    assert len(buckets) > 1


def test_assignment_deterministic():
    # R3: pure function of (consumer list, bucket count); order-free
    a = assign_buckets(["c2", "c1", "c3"], 12)
    b = assign_buckets(["c1", "c3", "c2"], 12)
    assert a == b
    assert sorted(x for lst in a.values() for x in lst) == list(range(12))
    # single consumer owns everything
    assert assign_buckets(["solo"], 12) == {"solo": list(range(12))}


def test_partitioned_poll_covers_all(log):
    log.register("g", ["t"], reset="earliest")
    log.produce("t", [(f"key{i}", f"m{i}") for i in range(40)])
    assignment = assign_buckets(["c1", "c2"], log.buckets)
    n1 = log.poll("g", "t", buckets=assignment["c1"]).count()
    n2 = log.poll("g", "t", buckets=assignment["c2"]).count()
    assert n1 + n2 == 40
    assert log.poll("g", "t").count() == 0  # everything committed


def test_manual_commit(log):
    log.register("g", ["t"], reset="earliest")
    log.produce("t", ["a", "b", "c"], partition_key="k")
    batch = log.poll("g", "t", auto_commit=False)
    assert batch.count() == 3
    # without commit, the same data is re-served (at-least-once)
    assert log.poll("g", "t", auto_commit=False).count() == 3
    rows = batch.groupBy("bucket").agg((F.max("offset") + 1).alias("nxt")).collect()
    log.commit("g", "t", {r["bucket"]: r["nxt"] for r in rows})
    assert log.poll("g", "t").count() == 0


def test_topics_isolated(log):
    log.register("g", ["t1", "t2"], reset="earliest")
    log.produce("t1", ["a"], partition_key="k")
    log.produce("t2", ["b", "c"], partition_key="k")
    assert log.poll("g", "t1").count() == 1
    assert log.poll("g", "t2").count() == 2


def test_retention_cleanup(log):
    log.produce("t", ["a"], partition_key="k")
    # age 0 => everything is older than the cutoff
    deleted = log.retention_cleanup(max_age_hours=0)
    assert deleted >= 1


def test_poll_json_response_shape(log):
    import json as _json

    log.register("g", ["t"], reset="earliest")
    log.produce("t", ["a", "b", "c"], partition_key="k")
    rows = log.poll_json("g", "t").collect()
    assert len(rows) == 1  # one key -> one bucket -> one response item
    obj = _json.loads(rows[0]["response"])
    assert obj["topic"] == "t"
    assert obj["startOffset"] == 0
    assert obj["values"] == ["a", "b", "c"]


def test_topics_listing(log):
    assert log.topics() == []
    log.produce("zeta", ["a"], partition_key="k")
    log.produce("alpha", ["b"], partition_key="k")
    assert log.topics() == ["alpha", "zeta"]


def test_consumer_lag(log):
    log.register("g", ["t"], reset="earliest")
    log.produce("t", ["a", "b", "c"], partition_key="k")
    total_lag = sum(r["lag"] for r in log.lag("g", "t").collect())
    assert total_lag == 3
    log.poll("g", "t")  # serves the batch (commit happens on NEXT poll)
    log.poll("g", "t")  # promotes the served position durably
    assert sum(r["lag"] for r in log.lag("g", "t").collect()) == 0


def test_compact_preserves_offsets(log):
    log.register("g", ["t"], reset="earliest")
    for i in range(5):  # 5 produce batches => many small files
        log.produce("t", [f"m{i}a", f"m{i}b"], partition_key="k")
    import glob

    before = len(glob.glob(f"{log.root}/data/topic=t/**/*.parquet", recursive=True))
    rows_before = sorted(
        (r["offset"], r["payload"]) for r in log.read("t").collect()
    )
    log.compact("t")
    after = len(glob.glob(f"{log.root}/data/topic=t/**/*.parquet", recursive=True))
    rows_after = sorted(
        (r["offset"], r["payload"]) for r in log.read("t").collect()
    )
    assert rows_after == rows_before
    assert after < before
    # offsets still continue correctly after compaction
    log.produce("t", ["post"], partition_key="k")
    assert [r["payload"] for r in log.poll("g", "t").orderBy("offset").collect()][
        -1
    ] == "post"


def test_register_restart_keeps_position(spark, tmp_path):
    # R9: the reset policy applies only to NEW groups; a consumer that
    # restarts and re-registers must keep its committed position
    from barco_spark.sources.eventlog import EventLog

    log = EventLog(spark, str(tmp_path / "log"))
    log.register("g", ["t"], reset="earliest")
    log.produce("t", ["a", "b"], partition_key="k")
    assert log.poll("g", "t").count() == 2
    log.goodbye("g", "t")  # durable ack
    log.produce("t", ["c"], partition_key="k")
    # restart: fresh instance re-registers with the default latest reset
    log2 = EventLog(spark, str(tmp_path / "log"))
    log2.register("g", ["t"], reset="latest")
    rows = log2.poll("g", "t").collect()
    assert [r["payload"] for r in rows] == ["c"]  # not skipped


def test_at_least_once_redelivery_on_crash(spark, tmp_path):
    # a consumer that is served a batch but dies before its next poll
    # (no goodbye) must be re-served that batch on restart
    from barco_spark.sources.eventlog import EventLog

    log = EventLog(spark, str(tmp_path / "log"))
    log.register("g", ["t"], reset="earliest")
    log.produce("t", ["a", "b"], partition_key="k")
    assert log.poll("g", "t").count() == 2  # served, NOT yet committed
    # crash: new instance, no goodbye; durable commit never happened
    log2 = EventLog(spark, str(tmp_path / "log"))
    assert log2.poll("g", "t").count() == 2  # redelivered
    assert log2.poll("g", "t").count() == 0  # second poll committed them


def test_manual_commit_flow_redelivers_on_crash_never_skips(spark, tmp_path):
    """The documented manual-ack flow (item: poll(auto_commit=False) +
    commit_served): a crash BEFORE the ack redelivers everything, the
    ack commits exactly what was served, and nothing is ever skipped."""
    log = EventLog(spark, str(tmp_path / "log"))
    log.register("g", ["t"], reset="earliest")
    log.produce("t", ["a", "b", "c"], partition_key="k")
    assert log.poll("g", "t", auto_commit=False).count() == 3
    # crash before the ack: fresh instance redelivers the full batch
    log2 = EventLog(spark, str(tmp_path / "log"))
    batch = log2.poll("g", "t", auto_commit=False)
    assert sorted(r["payload"] for r in batch.collect()) == ["a", "b", "c"]
    # manual ack commits the furthest served position durably
    acked = log2.commit_served("g", "t")
    assert acked and all(n > 0 for n in acked.values())
    # after the ack nothing is re-served — by this instance or a restart
    assert log2.poll("g", "t", auto_commit=False).count() == 0
    log3 = EventLog(spark, str(tmp_path / "log"))
    log3.produce("t", ["d"], partition_key="k")
    rows = log3.poll("g", "t", auto_commit=False).collect()
    assert [r["payload"] for r in rows] == ["d"]  # new data only, none skipped
    # the Spark-free facade flow shares the same manual-ack contract
    served = log3.poll_dicts("g", "t", auto_commit=False)
    assert [v for it in served for v in it["values"]] == ["d"]
    log3.commit_served("g", "t")
    assert log3.poll_dicts("g", "t", auto_commit=False) == []


def test_poll_empty_assignment(log):
    # a starved consumer (assign_buckets with more consumers than
    # buckets) polls an empty assignment and must idle, not crash
    log.produce("t", ["a"], partition_key="k")
    assert log.poll("g", "t", buckets=[]).count() == 0


def test_keyless_routing_stable(log):
    # content-hash round-robin: same payloads -> same buckets on replay
    log.register("g", ["t"], reset="earliest")
    log.produce("t", [f"m{i}" for i in range(20)])
    a = {r["payload"]: r["bucket"] for r in log.poll("g", "t").collect()}
    log2_root = log.root + "2"
    from barco_spark.sources.eventlog import EventLog

    log2 = EventLog(log.spark, log2_root)
    log2.register("g", ["t"], reset="earliest")
    log2.produce("t", [f"m{i}" for i in range(20)])
    b = {r["payload"]: r["bucket"] for r in log2.poll("g", "t").collect()}
    assert a == b


def test_consumer_group_shrink(log):
    # scale-down analogue (reference scale_down_test.go): c2 leaves;
    # c1 takes over all buckets and consumption continues seamlessly
    log.register("g", ["t"], reset="earliest")
    log.produce("t", [(f"k{i}", f"m{i}") for i in range(24)])
    two = assign_buckets(["c1", "c2"], log.buckets)
    n_c1 = log.poll("g", "t", buckets=two["c1"]).count()
    log.poll("g", "t", buckets=two["c1"])  # promote c1's served offsets
    # c2 never polls (died); c1 now owns everything
    solo = assign_buckets(["c1"], log.buckets)
    remaining = log.poll("g", "t", buckets=solo["c1"]).count()
    assert n_c1 + remaining == 24
    log.poll("g", "t", buckets=solo["c1"])
    assert log.poll("g", "t").count() == 0


def test_dev_mode_single_broker(spark, tmp_path):
    # reference dev mode: one broker, fewer ranges
    # (internal/test/integration/dev_mode_test.go:29-112)
    from barco_spark.config import EngineConfig
    from barco_spark.sources.eventlog import EventLog

    cfg = EngineConfig(brokers=1, consumer_ranges=4)
    log = EventLog(spark, str(tmp_path / "log"), config=cfg)
    assert log.buckets == 4
    log.register("g", ["t"], reset="earliest")
    log.produce("t", [(f"k{i}", f"m{i}") for i in range(12)])
    rows = log.poll("g", "t").collect()
    assert len(rows) == 12
    assert all(0 <= r["bucket"] < 4 for r in rows)
    assert log.poll("g", "t").count() == 0  # same consumer: batch served once


def test_parse_topic(log):
    from barco_spark.sources.eventlog import parse_topic

    log.produce(
        "t",
        ['{"productId": 123, "units": -5}', '{"productId": 7}', "not json"],
        partition_key="k",
    )
    rows = (
        parse_topic(log, "t", "productId INT, units INT")
        .orderBy("offset")
        .collect()
    )
    assert [r["productId"] for r in rows] == [123, 7, None]
    assert [r["units"] for r in rows] == [-5, None, None]
    assert rows[0]["offset"] == 0  # metadata retained


def test_produce_rejects_binary_payload_column(spark, tmp_path):
    """A binary payload column must fail loudly: writing it would split
    the log schema across files and silently mangle bytes on read."""
    import pytest
    from pyspark.sql import functions as F

    from barco_spark.sources.eventlog import EventLog

    log = EventLog(spark, str(tmp_path / "log"))
    df = spark.range(3).select(
        F.lit(None).cast("string").alias("partition_key"),
        F.col("id").cast("string").cast("binary").alias("payload"),
    )
    with pytest.raises(TypeError, match="payload must be a string"):
        log.produce("t", df)


def test_produce_rejects_oversized_payload_every_surface(spark, tmp_path):
    """MaxMessageSize (EngineConfig.max_message_size_bytes, reference
    default 1 MiB per config.go:252-254) must bound EVERY ingest
    surface, not just the HTTP facade: bulk list produce, DataFrame
    produce (the streaming foreachBatch path funnels here), and the
    Spark-free produce_arrow fast path. The check is inline with the
    write (no extra validation job) and byte-based (octet_length)."""
    import pytest
    from pyspark.sql import functions as F

    from barco_spark.config import EngineConfig
    from barco_spark.sources.eventlog import EventLog

    # a small cap makes the test cheap; the knob is the config field
    cfg = EngineConfig(max_message_size_bytes=64)
    log = EventLog(spark, str(tmp_path / "log"), config=cfg)

    # list produce
    with pytest.raises(Exception, match="exceeds max message size"):
        log.produce("t", ["ok", "x" * 65])
    # DataFrame produce (the streaming ingest shape)
    df = spark.range(2).select(
        F.lit("k").alias("partition_key"),
        F.concat(F.lit("y" * 70), F.col("id").cast("string")).alias("payload"),
    )
    with pytest.raises(Exception, match="exceeds max message size"):
        log.produce("t", df)
    # byte-based, not char-based: 33 three-byte chars > 64-byte cap
    with pytest.raises(Exception, match="exceeds max message size"):
        log.produce("t", ["€" * 33])
    # Spark-free arrow fast path
    with pytest.raises(ValueError, match="exceeds max message size"):
        log.produce_arrow("t", [("k", "z" * 65, None)])

    # nothing landed, and at-cap payloads still write on every surface
    assert log.produce("t", ["a" * 64]) == 1
    assert log.produce_arrow("t", [("k", "b" * 64, None)]) == 1
    rows = spark.read.parquet(str(tmp_path / "log" / "data")).collect()
    assert sorted(r["payload"][0] for r in rows) == ["a", "b"]


def test_compact_offsets_bounds_files_and_preserves_positions(spark, tmp_path):
    """A long-lived group appends one small parquet file per commit;
    compact_offsets() must fold the log to its latest row per
    (group, topic, bucket) without changing what any group reads next.
    Mirrors the reference's compact SQLite offset store
    (internal/localdb/migrations.go:37-48)."""
    import dataclasses

    from barco_spark.config import DEFAULT
    from barco_spark.sources.eventlog import EventLog

    log = EventLog(spark, str(tmp_path / "log"))
    log.produce("t", [f"m{i}" for i in range(40)], partition_key=None)
    log.register("g1", ["t"], reset="earliest")
    log.register("g2", ["t"], reset="earliest")
    # many explicit commits = many appended files
    for i in range(1, 11):
        log.commit("g1", "t", {b: i for b in range(3)})
        log.commit("g2", "t", {b: 2 * i for b in range(2)})
    files_before = log._offsets_file_count()
    assert files_before > 20
    before_g1 = log.committed("g1", "t")
    before_g2 = log.committed("g2", "t")

    kept = log.compact_offsets()
    assert log._offsets_file_count() == 1
    # one row per (group, topic, bucket) across both groups
    assert kept == 2 * log.buckets
    assert log.committed("g1", "t") == before_g1
    assert log.committed("g2", "t") == before_g2

    # a later commit still wins over the compacted history
    log.commit("g1", "t", {0: 99})
    assert log.committed("g1", "t")[0] == 99


def test_goodbye_triggers_offsets_compaction(spark, tmp_path):
    import dataclasses

    from barco_spark.config import DEFAULT
    from barco_spark.sources.eventlog import EventLog

    cfg = dataclasses.replace(DEFAULT, offsets_compact_threshold=5)
    log = EventLog(spark, str(tmp_path / "log"), config=cfg)
    log.produce("t", [f"m{i}" for i in range(24)], partition_key=None)
    log.register("g", ["t"], reset="earliest")
    # commits now self-compact past the threshold (arrow-native, no
    # Spark job): the file set stays bounded even without a goodbye —
    # a long-lived poll loop used to grow one file per poll, making
    # every later read O(polls)
    for i in range(1, 12):
        log.commit("g", "t", {0: i})
        assert log._offsets_file_count() <= cfg.offsets_compact_threshold + 1
    assert log.committed("g", "t")[0] == 11  # compaction kept latest-wins
    before = log.committed("g", "t")
    log.poll("g", "t", max_records_per_bucket=2)
    log.goodbye("g", "t")  # flushes served positions, then compacts
    after = log.committed("g", "t")
    # served batch was committed by goodbye; everything else unchanged
    assert after[0] >= before[0]


def test_offsets_swap_crash_recovery(spark, tmp_path):
    """compact_offsets() swaps the store via rename-aside (old -> trash,
    tmp -> live, delete trash). Simulate a crash at each window and
    assert the committed positions survive — the old rmtree-then-move
    ordering lost the whole log in the first window."""
    import os
    import shutil

    from barco_spark.sources.eventlog import EventLog

    log = EventLog(spark, str(tmp_path / "log"))
    log.produce("t", [f"m{i}" for i in range(20)])
    log.register("g", ["t"], reset="earliest")
    for _ in range(3):
        log.poll("g", "t", max_records_per_bucket=2)
    pos = log.committed("g", "t")
    assert pos

    # window A: old store moved to trash, new store not yet in place
    trash = str(tmp_path / "log" / "_offsets_trash")
    os.rename(log._offsets_path, trash)
    assert log.committed("g", "t") == pos  # recovered transparently
    assert log._committed_arrow("g", "t") == pos

    # window B: swap completed but trash not yet deleted -> stale trash
    # (holding an OLDER position) must be discarded, not resurrected
    shutil.copytree(log._offsets_path, trash)
    log.produce("t", [f"n{i}" for i in range(40)])  # new data to advance past
    log.poll("g", "t", max_records_per_bucket=50)
    log.commit_served("g", "t")
    newer = log.committed("g", "t")
    assert newer != pos
    assert not os.path.isdir(trash)  # recovery removed the stale copy
    assert log._committed_arrow("g", "t") == newer


def test_poll_dicts_matches_poll_json(spark, tmp_path):
    """The Spark-free poll serves byte-identical response items to the
    Spark poll_json path on the same log state."""
    import json as _json

    from barco_spark.sources.eventlog import EventLog

    log_a = EventLog(spark, str(tmp_path / "log_shared"))
    log_a.produce("t", [(f"k{i}", f"m{i}") for i in range(57)])
    log_a.register("ga", ["t"], reset="earliest")
    log_a.register("gb", ["t"], reset="earliest")

    fast = log_a.poll_dicts("ga", "t", max_records_per_bucket=10)
    slow = [
        _json.loads(r["response"])
        for r in log_a.poll_json("gb", "t", max_records_per_bucket=10).collect()
    ]
    key = lambda d: d["bucket"]  # noqa: E731
    assert sorted(fast, key=key) == sorted(slow, key=key)


def test_keyless_produce_is_single_pass(spark, tmp_path):
    """The statically-keyless fast path schedules exactly TWO Spark
    jobs per produce — the footer-stats watermark lookup and the write
    itself (with its Observation riding along). No persist, no counting
    job, no shuffle (plan-asserted): the reference's packed keyless
    write shape (docs/benchmarks/README.md:34-35, W1)."""
    from pyspark.sql import functions as F

    from barco_spark.sources.eventlog import EventLog

    log = EventLog(spark, str(tmp_path / "log"))
    src = spark.range(5000).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("payload")
    )
    log.produce("warm", src.limit(10))  # settle lazy session init

    def jobs():
        return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    before = jobs()
    n = log.produce("t", src)
    assert n == 5000
    assert jobs() - before <= 2, "keyless produce must be watermark + write only"

    # contiguity + spread survive the arithmetic assignment
    rows = log.read("t").select("bucket", "offset").collect()
    per_bucket: dict[int, list[int]] = {}
    for r in rows:
        per_bucket.setdefault(r["bucket"], []).append(r["offset"])
    assert len(per_bucket) > 1
    for offs in per_bucket.values():
        assert sorted(offs) == list(range(len(offs)))

    # and the plan has no exchange: payloads are never shuffled
    plan = log.spark.range(1)._jdf  # noqa: F841 - keep py4j warm
    keyless_plan = (
        src.coalesce(log.buckets)
        .withColumn("_pid", F.spark_partition_id())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in keyless_plan


def test_keyless_salt_rotates_single_messages(spark, tmp_path):
    """Successive single-message keyless produces walk the ring via the
    least-filled-bucket salt instead of piling into bucket 0."""
    from barco_spark.sources.eventlog import EventLog

    log = EventLog(spark, str(tmp_path / "log"))
    for i in range(6):
        log.produce("t", [f"solo{i}"])
    buckets = {r["bucket"] for r in log.read("t").select("bucket").collect()}
    assert len(buckets) == 6  # each landed on a different bucket


def test_recover_offsets_merges_late_commits_from_trash(spark, tmp_path):
    """Crash window between compact's swap and its late-commit rescue:
    offsets dir AND trash dir both exist, with a commit file in trash
    that the compaction snapshot never saw. Recovery must merge it
    back instead of deleting it with the trash."""
    import os
    import shutil

    from barco_spark.sources.eventlog import EventLog

    root = str(tmp_path / "log")
    log = EventLog(spark, root)
    log.produce("t", [(f"k{i}", f"m{i}") for i in range(20)])
    log.register("g", ["t"], reset="earliest")
    log.commit("g", "t", {0: 1})
    # move the store aside (compactor's first rename)...
    trash = f"{root}/_offsets_trash"
    os.rename(log._offsets_path, trash)
    # ...a peer facade's commit lands in what is now the trash dir
    late = EventLog(spark, root)
    late._offsets_path = trash  # write directly into the moved-aside dir
    late._commit_arrow("g", "t", {3: 7})
    # ...compactor writes its compacted store into place, then crashes
    # before the rescue step
    os.makedirs(log._offsets_path)
    log_fresh = EventLog(spark, root)
    log_fresh._commit_arrow("g", "t", {0: 1})  # the compacted row
    # any offsets read triggers recovery; the late {3: 7} must survive
    committed = log_fresh.committed("g", "t")
    assert committed.get(3) == 7, committed
    assert not os.path.isdir(trash)
    shutil.rmtree(root)


def test_commit_is_monotonic_by_default(spark, tmp_path):
    """A stale facade's lower auto-commit must not rewind a durably
    advanced position; explicit rewind still works via
    monotonic=False (the reference's offset-set semantics)."""
    from barco_spark.sources.eventlog import EventLog

    root = str(tmp_path / "log")
    log = EventLog(spark, root)
    log.produce("t", [(f"k{i}", f"m{i}") for i in range(10)])
    log.commit("g", "t", {0: 50})
    log.commit("g", "t", {0: 10})  # stale writer: dropped
    assert log.committed("g", "t")[0] == 50
    log.commit("g", "t", {0: 5}, monotonic=False)  # explicit rewind
    assert log.committed("g", "t")[0] == 5


def test_consumer_lag_report_query(spark, tmp_path):
    """The registry's lag-report op: committed reflects the acked slice
    and lag = high_watermark - committed on every bucket."""
    from barco_spark.registry import load_all

    rows = (
        load_all()["consumer_lag_report"]
        .build(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    for r in rows:
        assert r["lag"] == r["high_watermark"] - r["committed"]
        if r["high_watermark"] > 0:
            assert r["committed"] == min(10, r["high_watermark"])


def test_produce_arrow_interops_with_spark_produce(spark, tmp_path):
    """The Spark-free arrow produce (facade fast path) and the Spark
    writer are ONE log: same bucket routing per key (bit-exact hash),
    contiguous offsets across interleaved writers, and every reader
    (Spark poll, arrow poll_dicts) sees all records in order."""
    from datetime import datetime, timezone

    log = EventLog(spark, str(tmp_path / "log"))
    log.register("g", ["t"], reset="earliest")
    ts = datetime(2026, 1, 2, 3, 4, 5, 123456, tzinfo=timezone.utc)
    # arrow write first (keyed + keyless mixed)
    assert log.produce_arrow(
        "t", [("ka", "a0", ts), ("kb", "b0", None), (None, "x0", None)]
    ) == 3
    # then the Spark writer appends with the SAME keys
    log.produce("t", [("ka", "a1"), ("kb", "b1")])
    # then arrow again
    assert log.produce_arrow("t", [("ka", "a2", None)]) == 1

    rows = log.poll("g", "t").collect()
    assert sorted(r["payload"] for r in rows) == ["a0", "a1", "a2", "b0", "b1", "x0"]
    by_key = {}
    for r in rows:
        by_key.setdefault(r["partition_key"], []).append((r["offset"], r["payload"], r["bucket"]))
    # per-key: one bucket across both writers, offsets strictly increasing
    for key in ("ka", "kb"):
        got = sorted(by_key[key])
        assert len({b for _o, _p, b in got}) == 1, f"{key} split across buckets"
        offs = [o for o, _p, _b in got]
        assert offs == sorted(offs) and len(set(offs)) == len(offs)
    assert [p for _o, p, _b in sorted(by_key["ka"])] == ["a0", "a1", "a2"]
    # exact producer timestamp survives the arrow write to the microsecond
    (a0,) = [r for r in rows if r["payload"] == "a0"]
    assert a0["timestamp"].microsecond == 123456
    # per-bucket offsets are gapless from 0 (contiguity invariant)
    per_bucket = {}
    for r in rows:
        per_bucket.setdefault(r["bucket"], []).append(r["offset"])
    for b, offs in per_bucket.items():
        assert sorted(offs) == list(range(len(offs))), f"bucket {b} gapped"
    # the arrow reader agrees with the Spark reader
    log2 = EventLog(spark, str(tmp_path / "log"))
    log2.register("g2", ["t"], reset="earliest")
    served = log2.poll_dicts("g2", "t")
    assert sorted(v for it in served for v in it["values"]) == [
        "a0", "a1", "a2", "b0", "b1", "x0"
    ]


def test_produce_arrow_declines_unsupported(spark, tmp_path):
    """Object-store roots and topics needing partition escaping fall
    back to the Spark writer (produce_arrow returns None)."""
    log = EventLog(spark, str(tmp_path / "log"))
    assert log.produce_arrow("weird topic!", [(None, "p", None)]) is None


def test_replay_preserves_keys_order_and_offsets(spark, tmp_path):
    """Replay re-produces a topic's records into a new topic with keys,
    per-key order, and timestamps preserved; from_offsets resumes from
    a committed map (the consumer-reset semantics, materialized)."""
    from barco_spark.sources.eventlog import EventLog

    log = EventLog(spark, str(tmp_path / "log"))
    msgs = [("ka", f"a{i}") for i in range(5)] + [("kb", f"b{i}") for i in range(5)]
    log.produce("src", msgs)

    n = log.replay("src", "dst")
    assert n == 10
    dst = log.read("dst").orderBy("bucket", "offset").collect()
    by_key: dict = {}
    for r in dst:
        by_key.setdefault(r["partition_key"], []).append(r["payload"])
    assert by_key["ka"] == [f"a{i}" for i in range(5)]
    assert by_key["kb"] == [f"b{i}" for i in range(5)]

    # timestamps preserved bit-for-bit
    src_ts = {r["payload"]: r["timestamp"] for r in log.read("src").collect()}
    assert all(r["timestamp"] == src_ts[r["payload"]] for r in dst)

    # partial replay from a committed map: skip everything (replay none)
    hi = log.high_watermarks("src")
    assert log.replay("src", "dst2", from_offsets=hi) == 0


def test_produce_arrow_back_to_back_assigns_contiguous_offsets(spark, tmp_path):
    """Tight-loop arrow produces (back-to-back coalescer windows) land within
    one kernel coarse-clock tick; the watermark read between them must
    still see the just-written file (listing-memo racy-stamp guard +
    in-process invalidation) or offsets would silently collide."""
    log = EventLog(spark, str(tmp_path / "log"))
    for i in range(6):  # sub-millisecond apart: same mtime tick
        assert log.produce_arrow("t", [("k", f"m{i}", None)]) == 1
    log.register("g", ["t"], reset="earliest")
    rows = sorted(
        (r["offset"], r["payload"]) for r in log.poll("g", "t").collect()
    )
    assert [o for o, _ in rows] == list(range(6)), "offset collision"
    assert [p for _, p in rows] == [f"m{i}" for i in range(6)]


def test_produce_arrow_torn_write_stays_invisible(spark, tmp_path, monkeypatch):
    """A produce_arrow write that dies mid-file must never leave a
    half-written part-*.parquet where readers look: the next produce's
    watermark read and the next poll keep working, and offsets stay
    contiguous (the dead write assigned none)."""
    import os

    import pyarrow.parquet as pq

    log = EventLog(spark, str(tmp_path / "log"))
    assert log.produce_arrow("t", [("k", "a", None)]) == 1
    real_write = pq.write_table

    def torn_write(table, where, **kw):
        real_write(table, where, **kw)
        with open(where, "r+b") as f:
            f.truncate(os.path.getsize(where) // 2)
        raise OSError("writer died mid-file")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="mid-file"):
        log.produce_arrow("t", [("k", "lost", None)])
    monkeypatch.undo()

    assert log.produce_arrow("t", [("k", "b", None)]) == 1
    log.register("g", ["t"], reset="earliest")
    items = log.poll_dicts("g", "t", max_records_per_bucket=10)
    assert [v for it in items for v in it["values"]] == ["a", "b"]
    assert sum(log.high_watermarks("t").values()) == 2


def test_poll_dicts_records_no_position_for_a_bucket_lost_mid_poll(spark, tmp_path):
    """A poll whose member lost its bucket to a rebalance during the
    read (``still_owned`` no longer lists it) records no served
    position for it: the bucket's next reader is served the same
    records again (redelivery), never the ones after them."""
    log = EventLog(spark, str(tmp_path / "log"))
    assert log.produce_arrow("t", [("k", f"v{i}", None) for i in range(3)]) == 3
    log.register("g", ["t"], reset="earliest")

    def values(items):
        return [v for it in items for v in it["values"]]

    assert values(log.poll_dicts("g", "t", still_owned=lambda: [])) == ["v0", "v1", "v2"]
    assert values(log.poll_dicts("g", "t")) == ["v0", "v1", "v2"]
    assert log.poll_dicts("g", "t") == []


def test_concurrent_member_polls_lose_no_served_update(spark, tmp_path):
    """Stress: more group members than cores poll their own buckets
    concurrently (no group-wide lock around the reads) while a producer
    appends, with a short thread switch interval. A lost update of the
    group's served positions would re-serve a batch or skip one; every
    record must be delivered exactly once, in offset order per bucket."""
    import sys
    import threading
    import time

    log = EventLog(spark, str(tmp_path / "log"))
    log.register("g", ["t"], reset="earliest")
    members, total = 6, 600
    owned = {m: [b for b in range(log.buckets) if b % members == m] for m in range(members)}
    got: dict[int, list[dict]] = {m: [] for m in range(members)}
    errors: list[Exception] = []
    produced = threading.Event()

    def produce() -> None:
        try:
            for i in range(0, total, 10):
                rows = [(f"k{j % 40}", f"r{j}", None) for j in range(i, i + 10)]
                assert log.produce_arrow("t", rows) == 10
        except Exception as ex:  # pragma: no cover - surfaced via errors
            errors.append(ex)
        finally:
            produced.set()

    def consume(m: int) -> None:
        try:
            idle, deadline = 0, time.monotonic() + 120
            while idle < 3 and time.monotonic() < deadline:
                items = log.poll_dicts("g", "t", buckets=owned[m])
                if items:
                    got[m].extend(items)
                    idle = 0
                elif produced.is_set():
                    idle += 1
        except Exception as ex:  # pragma: no cover - surfaced via errors
            errors.append(ex)

    threads = [threading.Thread(target=produce)] + [
        threading.Thread(target=consume, args=(m,)) for m in range(members)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    values = [v for items in got.values() for it in items for v in it["values"]]
    assert sorted(values) == sorted(f"r{j}" for j in range(total))
    next_offset: dict[int, int] = {}
    for items in got.values():
        for it in items:
            b = it["bucket"]
            assert it["startOffset"] == next_offset.get(b, 0), f"bucket {b}"
            next_offset[b] = it["startOffset"] + len(it["values"])


def test_produce_arrow_failed_write_leaves_no_tmp_file(spark, tmp_path, monkeypatch):
    """A produce_arrow write or rename that raises removes its hidden
    .part-<uuid>.tmp file; a leftover of a process that died mid-write
    (it could not clean up) is swept by retention_cleanup once it is
    older than an hour, while a fresh one (a write in flight) stays."""
    import os
    import time

    import pyarrow.parquet as pq

    from barco_spark.sources.datasource import _list_files

    log = EventLog(spark, str(tmp_path / "log"))
    assert log.produce_arrow("t", [("k", "a", None)]) == 1
    ((_key, (first,)),) = _list_files(log._data_path, "t").items()
    bdir = os.path.dirname(first)

    def tmp_files() -> list[str]:
        return [f for f in os.listdir(bdir) if f.endswith(".tmp")]

    real_write = pq.write_table

    def torn_write(table, where, **kw):
        real_write(table, where, **kw)
        with open(where, "r+b") as f:
            f.truncate(os.path.getsize(where) // 2)
        raise OSError("writer died mid-file")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="mid-file"):
        log.produce_arrow("t", [("k", "lost", None)])
    monkeypatch.undo()
    assert tmp_files() == []

    def failed_rename(src, dst):
        raise OSError("rename refused")

    monkeypatch.setattr(os, "replace", failed_rename)
    with pytest.raises(OSError, match="rename refused"):
        log.produce_arrow("t", [("k", "lost", None)])
    monkeypatch.undo()
    assert tmp_files() == []

    stale, fresh = f"{bdir}/.part-dead.tmp", f"{bdir}/.part-live.tmp"
    for f in (stale, fresh):
        open(f, "wb").close()
    two_hours_ago = time.time() - 7200
    os.utime(stale, (two_hours_ago, two_hours_ago))
    assert log.retention_cleanup() == 0  # no data file is past retention
    assert tmp_files() == [".part-live.tmp"]
    assert sum(log.high_watermarks("t").values()) == 1


def test_produce_arrow_reads_the_log_only_after_another_writer(spark, tmp_path, monkeypatch):
    """A sole arrow writer takes each bucket's next offset from the
    tail of its own last write (no listing or footer read per window),
    and re-reads the log as soon as another writer held the topic's
    produce lock: two EventLogs over one root (two facades) alternating
    windows keep every bucket's offsets contiguous, even when the other
    writer's files land in the same clock tick and leave each bucket
    dir's mtime unchanged."""
    import glob
    import os

    import pyarrow.parquet as pq

    from barco_spark.sources import datasource

    root = str(tmp_path / "log")
    a, b = EventLog(spark, root), EventLog(spark, root)
    reads = []
    real = datasource._high_watermarks

    def counted(*args, **kw):
        reads.append(args)
        return real(*args, **kw)

    monkeypatch.setattr(datasource, "_high_watermarks", counted)
    # the listing memo keeps out of it: a stamp this fresh is never
    # memoized, so only the writer's own tails could go stale
    monkeypatch.setattr(datasource, "_MTIME_RACE_NS", 10**18)
    keys = [f"k{i}" for i in range(30)]
    assert a.produce_arrow("t", [(k, "w0", None) for k in keys]) == 30
    first = len(reads)
    for i in range(1, 4):
        a.produce_arrow("t", [(k, f"w{i}", None) for k in keys])
    assert len(reads) == first, "a sole writer re-read the log"
    n = 120
    for i in range(12):
        log = b if i % 3 == 0 else a
        recs = [(keys[(i * 7 + j) % 30], f"x{i}-{j}", None) for j in range(9)]
        recs.append((None, f"keyless{i}", None))
        dirs = glob.glob(f"{root}/data/topic=t/bucket=*")
        stamps = {d: os.stat(d).st_mtime_ns for d in dirs}
        n += log.produce_arrow("t", recs)
        if log is b:  # same tick: the dirs' mtimes do not move
            for d, ns in stamps.items():
                os.utime(d, ns=(ns, ns))
    assert len(reads) > first
    offsets: dict[str, list[int]] = {}
    for f in glob.glob(f"{root}/data/topic=t/bucket=*/*.parquet"):
        col = pq.read_table(f, columns=["offset"]).column("offset").to_pylist()
        offsets.setdefault(f.rsplit("/", 2)[1], []).extend(col)
    assert sum(len(v) for v in offsets.values()) == n
    for bucket, offs in offsets.items():
        assert sorted(offs) == list(range(len(offs))), f"{bucket}: offset collision"


def _drop_a_middle_file_once(monkeypatch) -> list[str]:
    """Make the next bucket listing that holds three or more files lack
    the second of them by offset, as a listdir racing a rename can. The
    dropped path is appended to the returned list."""
    from barco_spark.sources import datasource

    real = datasource._list_files
    dropped: list[str] = []

    def listing(*args, **kw):
        out = real(*args, **kw)
        if dropped:
            return out
        for k, fs in out.items():
            if len(fs) >= 3:
                mid = sorted(fs, key=lambda f: datasource._footer_offsets(f)[0][0])[1]
                dropped.append(mid)
                return {**out, k: [f for f in fs if f != mid]}
        return out

    monkeypatch.setattr(datasource, "_list_files", listing)
    return dropped


def _count_file_reads(monkeypatch) -> list[str]:
    """Record each bucket listing and slice read the pyarrow reader makes."""
    from barco_spark.sources import datasource

    calls: list[str] = []
    real_list, real_read = datasource._list_files, datasource._read_slice

    def counted_list(*args, **kw):
        calls.append("list")
        return real_list(*args, **kw)

    def counted_read(*args, **kw):
        calls.append("read")
        yield from real_read(*args, **kw)

    monkeypatch.setattr(datasource, "_list_files", counted_list)
    monkeypatch.setattr(datasource, "_read_slice", counted_read)
    return calls


def _values(items: list[dict]) -> list[str]:
    return [v for it in items for v in it["values"]]


def test_poll_never_advances_past_a_file_its_listing_missed(spark, tmp_path, monkeypatch):
    """A listing taken while a write is renamed into place can lack that
    file and still show a later one. A poll then serves and records only
    the contiguous run of offsets it read, and the next poll reads on
    from the hole: every record is delivered once, in order."""
    root = str(tmp_path / "log")
    writer = EventLog(spark, root)
    for w in range(3):
        writer.produce_arrow("t", [("k", f"w{w}-{i}", None) for i in range(5)])
    reader = EventLog(spark, root)  # holds no tail: reads the files
    reader.register("g", ["t"], reset="earliest")
    dropped = _drop_a_middle_file_once(monkeypatch)
    got = []
    for _ in range(3):
        got.extend(_values(reader.poll_dicts("g", "t")))
    assert dropped, "the poll never listed the bucket"
    assert got == [f"w{w}-{i}" for w in range(3) for i in range(5)]


def test_stream_and_spark_poll_read_every_offset_below_their_end(spark, tmp_path, monkeypatch):
    """The streaming source's slices and the local Spark poll take their
    files from a listing that must hold every offset up to the batch
    end; one that lacks a file is taken again, so no record below an
    end that Spark checkpoints (or a poll records) goes unread."""
    from barco_spark.sources.datasource import BarcoStreamReader

    root = str(tmp_path / "log")
    log = EventLog(spark, root)
    for w in range(3):
        log.produce_arrow("t", [("k", f"w{w}-{i}", None) for i in range(5)])
    want = sorted(f"w{w}-{i}" for w in range(3) for i in range(5))
    reader = BarcoStreamReader({"path": root, "topic": "t"})
    end = reader.latestOffset()
    dropped = _drop_a_middle_file_once(monkeypatch)
    got = [
        v
        for part in reader.partitions({b: 0 for b in end}, end)
        for batch in reader.read(part)
        for v in batch.to_pydict()["payload"]
    ]
    assert dropped and sorted(got) == want
    log.register("g", ["t"], reset="earliest")
    dropped = _drop_a_middle_file_once(monkeypatch)
    rows = log.poll("g", "t").collect()
    assert dropped and sorted(r["payload"] for r in rows) == want


def test_poll_serves_its_own_tail_and_reads_files_after_another_writer(
    spark, tmp_path, monkeypatch
):
    """A poll of buckets this EventLog wrote last is served from the
    tail produce_arrow keeps (no listing, no file read), with the exact
    producer timestamps. Once another writer wrote the topic, the poll
    reads the files and delivers that writer's records: another
    EventLog, even when its files land in the same clock tick and leave
    every bucket dir's mtime unchanged, or the Spark produce."""
    import glob
    import os
    from datetime import datetime, timedelta, timezone

    root = str(tmp_path / "log")
    log, other = EventLog(spark, root), EventLog(spark, root)
    log.register("g", ["t"], reset="earliest")
    calls = _count_file_reads(monkeypatch)
    keys = [f"k{i}" for i in range(20)]
    ts = datetime(2026, 1, 2, 3, 4, 5, 123456, tzinfo=timezone.utc)
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    ts_us = (ts - epoch) // timedelta(microseconds=1)
    log.produce_arrow("t", [(k, f"a0-{k}", ts) for k in keys])
    calls.clear()
    items = log.poll_dicts("g", "t", with_record_meta=True)
    assert calls == [], "a tailing poll listed or read files"
    assert sorted(_values(items)) == sorted(f"a0-{k}" for k in keys)
    assert {t for it in items for t in it["timestamps_us"]} == {ts_us}

    dirs = glob.glob(f"{root}/data/topic=t/bucket=*")
    stamps = {d: os.stat(d).st_mtime_ns for d in dirs}
    other.produce_arrow("t", [(k, f"b-{k}", None) for k in keys])
    for d, ns in stamps.items():  # same tick: no dir mtime moves
        os.utime(d, ns=(ns, ns))
    calls.clear()
    assert sorted(_values(log.poll_dicts("g", "t"))) == sorted(f"b-{k}" for k in keys)
    assert "read" in calls

    # the next own write restarts each tail after the other's records
    log.produce_arrow("t", [(k, f"a1-{k}", None) for k in keys])
    calls.clear()
    assert sorted(_values(log.poll_dicts("g", "t"))) == sorted(f"a1-{k}" for k in keys)
    assert calls == []

    log.produce("t", [(k, f"s-{k}") for k in keys])
    calls.clear()
    assert sorted(_values(log.poll_dicts("g", "t"))) == sorted(f"s-{k}" for k in keys)
    assert "read" in calls
    assert log.poll_dicts("g", "t") == []


def test_poll_behind_a_capped_tail_reads_files_then_the_tail(spark, tmp_path, monkeypatch):
    """A bucket's tail holds at most segment_buffer_bytes of payload; a
    position behind it reads the files until it reaches the tail, then
    memory, with no gap and no duplicate."""
    import dataclasses

    from barco_spark.config import DEFAULT

    cfg = dataclasses.replace(DEFAULT, segment_buffer_bytes=50)
    log = EventLog(spark, str(tmp_path / "log"), config=cfg)
    log.register("g", ["t"], reset="earliest")
    want = []
    for w in range(6):  # 2 x 12 chars per write: the tail keeps two writes
        recs = [f"w{w}-{i}-padding" for i in range(2)]
        log.produce_arrow("t", [("k", v, None) for v in recs])
        want += recs
    ((tail,),) = [list(t.values()) for t in log._produce_tails.values()]
    assert (tail.base, tail.next) == (8, 12)
    calls = _count_file_reads(monkeypatch)
    got, from_files = [], []
    while True:
        calls.clear()
        items = log.poll_dicts("g", "t", max_records_per_bucket=3)
        if not items:
            break
        got += _values(items)
        from_files.append("read" in calls)
    assert got == want
    assert from_files == [True, True, True, False]


def test_compact_and_retention_drop_the_tails(spark, tmp_path):
    """compact() and a retention delete drop the topic's tails, and the
    next poll reads what the files hold."""
    import glob
    import os
    import time

    log = EventLog(spark, str(tmp_path / "log"))
    log.register("g", ["t"], reset="earliest")
    log.produce_arrow("t", [("k", f"v{i}", None) for i in range(5)])
    assert log._produce_tails["t"]
    log.compact("t")
    assert not log._produce_tails.get("t")
    assert _values(log.poll_dicts("g", "t")) == [f"v{i}" for i in range(5)]

    log.produce_arrow("t", [("k", f"v{i}", None) for i in range(5, 8)])
    assert log._produce_tails["t"]
    old = time.time() - 3 * 3600
    for f in glob.glob(f"{log._data_path}/topic=t/bucket=*/part-*.parquet"):
        if "arrow" not in f:  # the compacted file
            os.utime(f, (old, old))
    assert log.retention_cleanup(max_age_hours=1) == 1
    assert not log._produce_tails.get("t")
    assert _values(log.poll_dicts("g", "t")) == ["v5", "v6", "v7"]


def test_restarted_eventlog_polls_from_files_then_its_own_tail(spark, tmp_path, monkeypatch):
    """An EventLog over a root that another (an earlier process) wrote
    holds no tail: its first poll reads the files. Once it writes, its
    polls are served from its own tail."""
    root = str(tmp_path / "log")
    first = EventLog(spark, root)
    first.register("g", ["t"], reset="earliest")
    first.produce_arrow("t", [("k", f"v{i}", None) for i in range(5)])
    restarted = EventLog(spark, root)
    calls = _count_file_reads(monkeypatch)
    assert _values(restarted.poll_dicts("g", "t")) == [f"v{i}" for i in range(5)]
    assert "read" in calls
    restarted.produce_arrow("t", [("k", f"v{i}", None) for i in range(5, 9)])
    calls.clear()
    assert _values(restarted.poll_dicts("g", "t")) == [f"v{i}" for i in range(5, 9)]
    assert calls == []


def test_auto_commit_poll_reads_the_offsets_store_once(spark, tmp_path, monkeypatch):
    """An auto-committing poll lists the offsets store once: the commit's
    monotonic check, the compaction threshold and the poll's start
    position all come from that one read."""
    import glob

    log = EventLog(spark, str(tmp_path / "log"))
    log.register("g", ["t"], reset="earliest")
    log.produce_arrow("t", [("k", f"v{i}", None) for i in range(5)])
    assert _values(log.poll_dicts("g", "t", max_records_per_bucket=2)) == ["v0", "v1"]
    real = glob.glob
    store_reads = []

    def counted(pattern, *args, **kw):
        if "_consumer_offsets" in pattern:
            store_reads.append(pattern)
        return real(pattern, *args, **kw)

    monkeypatch.setattr(glob, "glob", counted)
    assert _values(log.poll_dicts("g", "t", max_records_per_bucket=2)) == ["v2", "v3"]
    assert len(store_reads) == 1
    monkeypatch.undo()
    assert sum(log._committed_arrow("g", "t").values()) == 2
