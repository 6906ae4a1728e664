"""Output checks, computed apart from the program under test.

- The produce log is read back with DuckDB, not with the broker's own
  readers, and every record's bucket is recomputed with the Murmur3
  below (Spark's ``hash``: x86_32, seed 42, then pmod by the bucket
  count), written here from the algorithm rather than imported.
- Consumed records are checked against the ids the run produced.
- Query results are compared row for row with the registry's DuckDB
  oracle.

Each checker returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import collections
import datetime
import decimal
import math

_MASK = 0xFFFFFFFF
MAX_PROBLEMS = 5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _MASK


def _mix(h: int, k: int) -> int:
    k = _rotl((k * 0xCC9E2D51) & _MASK, 15)
    h ^= (k * 0x1B873593) & _MASK
    return (_rotl(h, 13) * 5 + 0xE6546B64) & _MASK


def spark_hash(data: bytes, seed: int = 42) -> int:
    """Spark's ``hash()`` of a UTF-8 string: Murmur3 x86_32 over 4-byte
    little-endian words, then every tail byte (sign-extended) mixed as
    a word of its own, which is where Spark departs from the reference
    Murmur3. Returns a signed int32."""
    h = seed
    whole = len(data) & ~3
    for i in range(0, whole, 4):
        h = _mix(h, int.from_bytes(data[i : i + 4], "little"))
    for byte in data[whole:]:
        h = _mix(h, (byte - 256 if byte > 127 else byte) & _MASK)
    h ^= len(data)
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & _MASK
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & _MASK
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def bucket_for(key: str, buckets: int) -> int:
    return spark_hash(key.encode("utf-8")) % buckets  # Python % is pmod


def _limited(problems: list[str]) -> list[str]:
    if len(problems) > MAX_PROBLEMS:
        return problems[:MAX_PROBLEMS] + [f"... {len(problems) - MAX_PROBLEMS} more"]
    return problems


# ---------------------------------------------------------------------
# Produce path
# ---------------------------------------------------------------------
def read_log(data_dir: str, topic: str) -> list[tuple]:
    """(bucket, offset, partition_key, g, s) for every record of a topic,
    read with DuckDB straight from the parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT bucket, \"offset\", partition_key, payload->>'$.g', "
            "CAST(payload->>'$.s' AS BIGINT) "
            f"FROM read_parquet('{data_dir}/topic={topic}/*/*.parquet', "
            "hive_partitioning = true)"
        ).fetchall()
    finally:
        con.close()


def check_log(
    rows: list[tuple], acked: set[tuple], sent: set[tuple], buckets: int
) -> list[str]:
    """The topic holds every acknowledged record exactly once and nothing
    that was never sent; each bucket's offsets are exactly 0..n-1; each
    record sits in its key's Murmur3 bucket; and per (producer, bucket)
    the offsets follow the order the producer sent its records in (a
    closed-loop producer sends a request only after the last was acked,
    and a pipelining connection is served in order)."""
    problems: list[str] = []
    ids = collections.Counter((g, s) for _b, _o, _k, g, s in rows)
    dups = [i for i, n in ids.items() if n > 1]
    if dups:
        problems.append(f"{len(dups)} records stored more than once, e.g. {dups[0]}")
    missing = acked - ids.keys()
    if missing:
        problems.append(f"{len(missing)} acknowledged records missing, e.g. {min(missing)}")
    extra = ids.keys() - sent
    if extra:
        problems.append(f"{len(extra)} records never sent, e.g. {min(extra)}")
    per_bucket: dict[int, list[int]] = collections.defaultdict(list)
    per_stream: dict[tuple, list[tuple[int, int]]] = collections.defaultdict(list)
    wrong_bucket = 0
    hashed: dict[str, int] = {}
    for b, off, key, g, s in rows:
        per_bucket[b].append(off)
        per_stream[(g, b)].append((s, off))
        if key not in hashed:
            hashed[key] = bucket_for(key, buckets)
        if hashed[key] != b:
            wrong_bucket += 1
            if wrong_bucket == 1:
                problems.append(f"record {(g, s)} with key {key!r} in bucket {b}, Murmur3 says {hashed[key]}")
    if wrong_bucket > 1:
        problems.append(f"{wrong_bucket} records in a wrong bucket")
    for b, offs in sorted(per_bucket.items()):
        if sorted(offs) != list(range(len(offs))):
            problems.append(f"bucket {b}: offsets are not exactly 0..{len(offs) - 1}")
    for (g, b), pairs in sorted(per_stream.items()):
        pairs.sort()
        if any(o2 <= o1 for (_s1, o1), (_s2, o2) in zip(pairs, pairs[1:])):
            problems.append(f"producer {g} bucket {b}: offsets out of send order")
    return _limited(problems)


# ---------------------------------------------------------------------
# Consume path
# ---------------------------------------------------------------------
def check_consumed(
    received: dict[str, list[tuple]], expected: set[tuple]
) -> tuple[list[str], int]:
    """``received`` maps consumer id -> [(bucket, offset, g, s)] in
    arrival order. The union must equal ``expected`` with nothing
    missing or duplicated, and each consumer's offsets must increase
    per bucket. Returns (problems, duplicate count)."""
    problems: list[str] = []
    ids = collections.Counter(
        (g, s) for recs in received.values() for _b, _o, g, s in recs
    )
    dups = sum(n - 1 for n in ids.values() if n > 1)
    if dups:
        problems.append(f"{dups} records delivered more than once")
    missing = expected - ids.keys()
    if missing:
        problems.append(f"{len(missing)} produced records never delivered, e.g. {min(missing)}")
    extra = ids.keys() - expected
    if extra:
        problems.append(f"{len(extra)} delivered records were never produced, e.g. {min(extra)}")
    for cid, recs in sorted(received.items()):
        last: dict = {}
        for b, off, _g, _s in recs:
            if b in last and off <= last[b]:
                problems.append(f"consumer {cid}: offset {off} after {last[b]} in bucket {b}")
                break
            last[b] = off
    return _limited(problems), dups


# ---------------------------------------------------------------------
# Analytics path
# ---------------------------------------------------------------------
def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, decimal.Decimal) and v == v.to_integral_value():
        return int(v) if abs(v) < 2**53 else v
    return v


def _sorted_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    proj = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(proj, key=lambda t: tuple(str(x) for x in t))


def compare_rows(
    name: str, got_cols: list[str], got: list[tuple], want_cols: list[str], want: list[tuple]
) -> list[str]:
    """Order-insensitive exact comparison: same column names, same row
    multiset (columns matched by name)."""
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in want_cols):
        return [f"{name}: columns {got_cols} != oracle {want_cols}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != oracle {len(want)}"]
    a, b = _sorted_rows(got_cols, got), _sorted_rows(want_cols, want)
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return [f"{name}: row {i} {x} != oracle {y}"]
    return []
