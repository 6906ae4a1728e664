"""The benchmark's checkers must be able to fail.

Each test feeds a checker a corrupted copy of a correct input and
expects the run to be reported incorrect. Run with
``python3 -m pytest perfbench/test_checks.py`` or
``python3 perfbench/test_checks.py``; neither needs Spark.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402

BUCKETS = 12

# Spark 4.1 ``SELECT hash(k)`` for these strings
SPARK_HASHES = {
    "key-000": 1399742185,
    "key-417": 1042125863,
    "key-999": -426770355,
    "": 142593372,
    "héllo": 1212979866,
    "日本語x": 398436580,
}


def _records() -> list[tuple]:
    """(g, s, key) in send order for two producers."""
    recs = []
    for g in ("p0", "p1"):
        for s in range(60):
            recs.append((g, s, f"key-{(s * 7 + len(g)) % 23:03d}"))
    return recs


def _log_rows(recs: list[tuple]) -> list[tuple]:
    """(bucket, offset, key, g, s) as a correct broker would store them:
    offsets assigned per bucket in send order."""
    nxt: dict[int, int] = {}
    rows = []
    for g, s, key in recs:
        b = checks.bucket_for(key, BUCKETS)
        rows.append((b, nxt.get(b, 0), key, g, s))
        nxt[b] = nxt.get(b, 0) + 1
    return rows


def _write_log(root: str, topic: str, rows: list[tuple]) -> str:
    """Write rows in the broker's layout: data/topic=/bucket=/part.parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data = os.path.join(root, "data")
    by_bucket: dict[int, list[tuple]] = {}
    for r in rows:
        by_bucket.setdefault(r[0], []).append(r)
    for b, rs in by_bucket.items():
        d = os.path.join(data, f"topic={topic}", f"bucket={b}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "partition_key": [r[2] for r in rs],
                    "payload": [json.dumps({"g": r[3], "s": r[4], "k": r[2]}) for r in rs],
                    "offset": pa.array([r[1] for r in rs], pa.int64()),
                }
            ),
            os.path.join(d, "part-0.parquet"),
        )
    return data


def _check_copy(rows: list[tuple]) -> list[str]:
    ids = {(g, s) for g, s, _k in _records()}
    with tempfile.TemporaryDirectory() as tmp:
        data = _write_log(tmp, "t", rows)
        return checks.check_log(checks.read_log(data, "t"), ids, ids, BUCKETS)


def test_murmur3_matches_spark_hash():
    for key, h in SPARK_HASHES.items():
        assert checks.spark_hash(key.encode("utf-8")) == h, key


def test_correct_log_passes():
    assert _check_copy(_log_rows(_records())) == []


def test_log_with_one_record_dropped_fails():
    rows = _log_rows(_records())
    del rows[17]
    assert _check_copy(rows)


def test_log_with_two_offsets_swapped_fails():
    rows = _log_rows(_records())
    # two records of one producer in one bucket trade offsets
    first = rows[0]
    j = next(i for i, r in enumerate(rows) if i and r[0] == first[0] and r[3] == first[3])
    rows[0], rows[j] = (first[0], rows[j][1], *first[2:]), (rows[j][0], first[1], *rows[j][2:])
    assert _check_copy(rows)


def test_log_with_record_in_wrong_bucket_fails():
    rows = _log_rows(_records())
    # the last record of one bucket moves to the end of another bucket:
    # ids stay unique and every bucket's offsets stay 0..n-1
    b, off, key, g, s = rows[-1]
    other = (b + 1) % BUCKETS
    n_other = sum(1 for r in rows if r[0] == other)
    rows[-1] = (other, n_other, key, g, s)
    assert _check_copy(rows)


def _consumed() -> tuple[dict, set]:
    received = {"c0": [], "c1": []}
    expected = set()
    for b in range(4):
        for off in range(25):
            received[f"c{b % 2}"].append((b, off, "p0", b * 100 + off))
            expected.add(("p0", b * 100 + off))
    return received, expected


def test_correct_consumption_passes():
    received, expected = _consumed()
    assert checks.check_consumed(received, expected) == ([], 0)


def test_consumed_id_duplicated_fails():
    received, expected = _consumed()
    received["c1"].append(received["c0"][3])
    problems, dups = checks.check_consumed(received, expected)
    assert problems and dups == 1


def test_oracle_row_altered_fails():
    cols = ["k", "total", "day"]
    rows = [(i, float(i) * 1.5, f"2024-01-{i + 1:02d}") for i in range(10)]
    assert checks.compare_rows("q", cols, rows, list(reversed(cols)), [r[::-1] for r in rows]) == []
    altered = list(rows)
    altered[4] = (4, 6.0000001, altered[4][2])
    assert checks.compare_rows("q", cols, rows, cols, altered)

