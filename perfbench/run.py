"""The repository's benchmark: one command for the produce, consume and
analytics paths of the broker.

    python3 perfbench/run.py --workload facade_mixed --seed 1 --seconds 10 --trace 0

This process is the load generator. It spawns the broker in a process of
its own (``broker.py``), drives it with closed-loop clients, checks the
outputs apart from the program (``checks.py``) and prints, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it carries the workload's detailed
figures. See perfbench/README.md for workloads, metrics and seeds.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import concurrent.futures  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import multiprocessing  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import socket  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_runs")
if ROOT not in sys.path:
    sys.path.insert(1, ROOT)

import checks  # noqa: E402
from inputs import BUCKETS, RecordSource  # noqa: E402

WARMUP_S = 2.0  # facade_mixed: seconds of load before the timed phase
WARMUP_ROUNDS = 4  # binary_ingest: rounds per connection before it (JIT-warm Spark writes)
BATCH_RECORDS = 50  # records per NDJSON produce body
# facade_mixed request mix, seeded order per round: an assumption, not
# measured traffic
REQUEST_ROUND = ("single", "single", "single", "batch")
FRAME_RECORDS = 16  # records per binary produce frame
PIPELINE_DEPTH = 8  # frames sent back to back per round on a TCP connection
EMPTY_POLL_PAUSE_S = 0.02  # a tailing consumer's pause after a 204
ANALYTICS_QUERIES = (
    "q1_pricing_summary",
    "ann_cosine_topk",
    "hard_negative_mining",
    "mmr_diverse_rerank",
    "ann_pq_search_int8",
    "kmeans_int8_clusters",
)
# the head every generated record starts with: generator id, sequence, creation us
RECORD_HEAD = re.compile(r'\{"g":"([^"]*)","s":(\d+),"t":(\d+),')
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _p(xs: list[float], q: float) -> float:
    """Percentile q (0..1) of xs, nearest-rank."""
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))] if s else 0.0


# ---------------------------------------------------------------------
# Broker process control
# ---------------------------------------------------------------------
class Broker:
    def __init__(self, opts: dict) -> None:
        import broker

        ctx = multiprocessing.get_context("spawn")
        self.conn, child = ctx.Pipe()
        self.proc = ctx.Process(target=broker.serve, args=(child, opts), daemon=True)
        self.proc.start()
        child.close()
        self.ports = self.call(None, timeout=170.0)
        self.stopped = False

    def call(self, msg: dict | None, timeout: float = 120.0) -> dict:
        if msg is not None:
            self.conn.send(msg)
        if not self.conn.poll(timeout):
            raise TimeoutError(f"broker did not answer {msg!r} in {timeout} s")
        return self.conn.recv()  # EOFError if the broker died

    def stop(self, query_groups: list | None = None) -> dict:
        self.stopped = True
        return self.call({"op": "stop", "query_groups": query_groups or []})

    def close(self) -> None:
        try:
            if not self.stopped and self.proc.is_alive():
                try:
                    self.call({"op": "stop"}, timeout=60.0)
                except (OSError, EOFError, TimeoutError):
                    pass
            self.proc.join(timeout=60)
        finally:
            if self.proc.is_alive():
                self.proc.terminate()  # its JVM exits when its stdin closes
                self.proc.join(timeout=30)
            if self.proc.is_alive():
                self.proc.kill()
                self.proc.join(timeout=10)
            self.conn.close()


# ---------------------------------------------------------------------
# HTTP client helpers (keep-alive, one connection per client thread)
# ---------------------------------------------------------------------
def _http(port: int) -> http.client.HTTPConnection:
    return http.client.HTTPConnection("127.0.0.1", port, timeout=60)


def _request(conn, method: str, path: str, body: bytes = b" ", headers=None):
    conn.request(method, path, body=body, headers=headers or {})
    resp = conn.getresponse()
    return resp.status, resp.read()


class Consumer:
    """One group member polling the binary item stream."""

    def __init__(self, port: int, cid: str, group: str, topic: str) -> None:
        self.conn = _http(port)
        self.cid = cid
        self.poll_path = f"/v1/consumer/poll?consumerId={cid}"
        status, body = _request(
            self.conn,
            "PUT",
            f"/v1/consumer/register?consumerId={cid}&group={group}"
            f"&topic={topic}&onNewGroup=earliest",
        )
        if status != 200:
            raise RuntimeError(f"register {cid}: {status} {body[:200]!r}")
        self.received: list[tuple] = []  # (bucket, offset, g, s)
        # (sent, seconds, records, ok) for every poll, 204s included
        self.polls: list[tuple[float, float, int, bool]] = []
        self.delivery_us: list[tuple[int, int]] = []  # (created us, latency us)

    def poll(self) -> int:
        """One poll; returns the records received (0 on 204)."""
        from barco_spark.sources.wire import decode_poll_response

        t = time.perf_counter()
        status, body = _request(self.conn, "POST", self.poll_path)
        dt = time.perf_counter() - t
        if status != 200:
            self.polls.append((t, dt, 0, status == 204))
            return 0
        now_us = time.time_ns() // 1000
        n = 0
        for item in decode_poll_response(body):
            b = (item["token"], item["range_index"])
            for i, rec in enumerate(item["records"]):
                g, seq, created = RECORD_HEAD.match(rec["payload"]).groups()
                self.received.append((b, item["start_offset"] + i, g, int(seq)))
                self.delivery_us.append((int(created), now_us - int(created)))
                n += 1
        self.polls.append((t, dt, n, True))
        return n

    def goodbye(self) -> None:
        _request(self.conn, "POST", f"/v1/consumer/goodbye?consumerId={self.cid}")
        self.conn.close()


# ---------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------
class Phase:
    """The timed phase: its bounds on the monotonic and wall clocks."""

    def __init__(self, broker: Broker) -> None:
        self.broker = broker

    def start(self) -> None:
        self.broker.call({"op": "phase_start"})
        self.t0, self.wall0 = time.perf_counter(), time.time_ns() // 1000

    def end(self) -> None:
        self.t1, self.wall1 = time.perf_counter(), time.time_ns() // 1000
        self.broker.call({"op": "phase_end"})

    def has(self, t: float) -> bool:
        return self.t0 <= t <= self.t1

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


def _log_facts(tmp: str, topic: str) -> dict:
    data = os.path.join(tmp, "log", "data", f"topic={topic}")
    rows = checks.read_log(os.path.join(tmp, "log", "data"), topic)
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(data)
        for f in files
        if f.endswith(".parquet")
    )
    return {"rows": rows, "bytes_per_msg": size / len(rows) if rows else 0.0}


def run_facade_mixed(ctx: dict) -> dict:
    broker, seed, seconds = ctx["broker"], ctx["seed"], ctx["seconds"]
    port, topic = broker.ports["http_port"], "mixed"
    consumers = [Consumer(port, f"c{i}", "tail", topic) for i in range(2)]
    stop, producers_done = threading.Event(), threading.Event()
    phase = Phase(broker)
    sent: set = set()
    acked: set = set()
    # (sent, seconds, records, request id, ok) per produce request
    requests: list[tuple[float, float, int, str, bool]] = []
    lock = threading.Lock()

    def produce(p: int) -> None:
        src = RecordSource(seed, f"p{p}")
        conn = _http(port)
        n = 0
        while not stop.is_set():
            kinds = list(REQUEST_ROUND)
            src.rng.shuffle(kinds)
            for kind in kinds:
                key = src.key()
                created = time.time_ns() // 1000
                count = BATCH_RECORDS if kind == "batch" else 1
                first = src.seq
                recs = [src.record(key, created) for _ in range(count)]
                ids = [(src.gen, s) for s in range(first, first + count)]
                rid = f"p{p}-{n}"
                n += 1
                headers = {
                    "Content-Type": "application/x-ndjson" if count > 1 else "application/json",
                    "X-Request-Id": rid,
                }
                with lock:
                    sent.update(ids)
                t = time.perf_counter()
                status, _body = _request(
                    conn, "POST", f"/v1/topic/{topic}/messages?partitionKey={key}",
                    "\n".join(recs).encode(), headers,
                )
                dt = time.perf_counter() - t
                with lock:
                    if status == 200:
                        acked.update(ids)
                    requests.append((t, dt, count, rid, status == 200))
        conn.close()

    def consume(c: Consumer) -> None:
        # tail until an empty poll that started after the last ack
        while True:
            drained = producers_done.is_set()
            if c.poll() == 0:
                if drained:
                    return
                time.sleep(EMPTY_POLL_PAUSE_S)

    threads = [threading.Thread(target=produce, args=(p,)) for p in range(2)]
    threads += [threading.Thread(target=consume, args=(c,)) for c in consumers]
    for t in threads:
        t.start()
    time.sleep(WARMUP_S)
    phase.start()
    setup_s = phase.t0 - T_PROCESS
    time.sleep(seconds)
    stop.set()
    for t in threads[:2]:
        t.join()
    phase.end()
    producers_done.set()
    for t in threads[2:]:
        t.join()
    for c in consumers:
        c.goodbye()

    facts = _log_facts(ctx["tmp"], topic)
    problems = checks.check_log(facts["rows"], acked, sent, BUCKETS)
    consumed, dups = checks.check_consumed({c.cid: c.received for c in consumers}, acked)
    problems += consumed
    timed = [r for r in requests if phase.has(r[0]) and phase.has(r[0] + r[1])]
    ack_ms = [r[1] * 1000 for r in timed if r[4]]
    msgs = sum(r[2] for r in timed if r[4])
    all_polls = [p for c in consumers for p in c.polls if phase.has(p[0])]
    delivery = [
        lat / 1000
        for c in consumers
        for created, lat in c.delivery_us
        if phase.wall0 <= created <= phase.wall1
    ]
    polls = [dt * 1000 for _t, dt, n, _ok in all_polls if n]
    return {
        "problems": problems,
        "attempted": len(timed) + len(all_polls),
        "failed": sum(not r[4] for r in timed) + sum(not p[3] for p in all_polls),
        "setup_s": setup_s,
        "throughput_per_s": msgs / phase.seconds,
        # creation stamp to receipt: spans the produce ack and the poll
        "latency_p50_ms": statistics.median(delivery),
        "detail": {
            "produce_msgs_per_s": msgs / phase.seconds,
            "produce_requests": len(timed),
            "produce_ack_p50_ms": statistics.median(ack_ms),
            "produce_ack_p99_ms": _p(ack_ms, 0.99),
            "delivery_p50_ms": statistics.median(delivery),
            "delivery_p99_ms": _p(delivery, 0.99),
            "poll_p50_ms": statistics.median(polls),
            "polls_with_records": len(polls),
            "log_bytes_per_msg": facts["bytes_per_msg"],
            "duplicates_delivered": dups,
        },
        "client_ack_by_rid": {r[3]: r[1] for r in timed if r[4]},
    }


def run_binary_ingest(ctx: dict) -> dict:
    from barco_spark.sources import wire

    broker, seed, seconds = ctx["broker"], ctx["seed"], ctx["seconds"]
    port, topic = broker.ports["tcp_port"], "binary"
    stop = threading.Event()
    phase = Phase(broker)
    sent: set = set()
    acked: set = set()
    frames: list[tuple[float, float, bool]] = []  # (sent, seconds, acked) per frame
    rounds: list[tuple[int, float, float]] = []  # (connection, sent, seconds to the last ack)
    completed = [0, 0]  # rounds per connection
    warm = threading.Event()  # the first Spark writes are done
    lock = threading.Lock()

    def read_frame(sock) -> tuple[int, int, bytes]:
        head = _recv(sock, wire.HEADER_SIZE)
        _flags, stream_id, op, body_len = wire.parse_header(head)
        return stream_id, op, _recv(sock, body_len) if body_len else b""

    def connection(c: int) -> None:
        src = RecordSource(seed, f"t{c}")
        sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        try:
            sock.sendall(wire.encode_frame(wire.STARTUP_OP, 0))
            _sid, op, _ = read_frame(sock)
            if op != wire.READY_OP:
                raise RuntimeError(f"binary startup answered op {op}")
            sid = 0
            while not stop.is_set():
                # one round: PIPELINE_DEPTH keyed frames sent back to back,
                # then their acks; the server drains them as one group
                frames_out, wire_bytes = {}, []
                for _ in range(PIPELINE_DEPTH):
                    sid = sid % 65535 + 1
                    key = src.key()
                    created = time.time_ns() // 1000
                    first = src.seq
                    recs = [src.record(key, created) for _ in range(FRAME_RECORDS)]
                    frames_out[sid] = [(src.gen, s) for s in range(first, first + FRAME_RECORDS)]
                    wire_bytes.append(
                        wire.encode_produce_frame(topic, recs, partition_key=key, stream_id=sid)
                    )
                with lock:
                    for ids in frames_out.values():
                        sent.update(ids)
                t = time.perf_counter()
                sock.sendall(b"".join(wire_bytes))
                while frames_out:
                    stream_id, op, _body = read_frame(sock)
                    ids = frames_out.pop(stream_id)
                    ok = op == wire.PRODUCE_RESPONSE_OP
                    with lock:
                        if ok:
                            acked.update(ids)
                        frames.append((t, time.perf_counter() - t, ok))
                with lock:
                    rounds.append((c, t, time.perf_counter() - t))
                    completed[c] += 1
                    if min(completed) >= WARMUP_ROUNDS:
                        warm.set()
        finally:
            sock.close()

    threads = [threading.Thread(target=connection, args=(c,)) for c in range(2)]
    for t in threads:
        t.start()
    if not warm.wait(timeout=120):
        stop.set()
        raise RuntimeError("binary_ingest: the warm-up rounds did not complete")
    phase.start()
    setup_s = phase.t0 - T_PROCESS
    time.sleep(seconds)
    stop.set()
    for t in threads:
        t.join()
    phase.end()
    facts = _log_facts(ctx["tmp"], topic)
    problems = checks.check_log(facts["rows"], acked, sent, BUCKETS)
    timed = [f for f in frames if phase.has(f[0]) and phase.has(f[0] + f[1])]
    ack_ms = [f[1] * 1000 for f in timed if f[2]]
    # a round's frames are acked together, after one Spark write, and a
    # connection sends its next round when the last ack is in, so its
    # rate is a round's records over its median round time; the two
    # connections' rates are summed. (Taken from both connections'
    # completions at once, the two interleave unevenly, and a span
    # would start and end on gaps of different lengths.)
    rate = 0.0
    for c in range(len(threads)):
        dts = [dt for rc, t, dt in rounds if rc == c and phase.has(t) and phase.has(t + dt)]
        if not dts:
            raise RuntimeError(f"connection {c}: no round completed in the timed phase")
        rate += PIPELINE_DEPTH * FRAME_RECORDS / statistics.median(dts)
    return {
        "problems": problems,
        "attempted": len(timed),
        "failed": sum(not f[2] for f in timed),
        "setup_s": setup_s,
        "throughput_per_s": rate,
        "latency_p50_ms": statistics.median(ack_ms),
        "detail": {
            "produce_msgs_per_s": rate,
            "produce_ack_p50_ms": statistics.median(ack_ms),
            "frames_acked": len(timed),
            "log_bytes_per_msg": facts["bytes_per_msg"],
        },
    }


def _recv(sock, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("broker closed the connection")
        buf += chunk
    return bytes(buf)


def run_analytics(ctx: dict) -> dict:
    import duckdb

    from barco_spark.registry import load_all

    broker, seconds, tmp = ctx["broker"], ctx["seconds"], ctx["tmp"]
    oracles = {q: load_all()[q].oracle for q in ANALYTICS_QUERIES}
    tables = os.path.join(tmp, "tables")

    def check(name: str, columns: list[str], out: str) -> list[str]:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
            got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')").fetchall()
            got_cols = [d[0] for d in con.description]
            res = con.execute(oracles[name])
            want_cols = [d[0] for d in res.description]
            want = res.fetchall()
        finally:
            con.close()
        if [c.lower() for c in got_cols] != [c.lower() for c in columns]:
            return [f"{name}: written columns {got_cols} != {columns}"]
        return checks.compare_rows(name, got_cols, got, want_cols, want)

    # warm pass: every query once, its rows checked against the oracle
    # (compared on a second thread while the broker runs the next query)
    problems: list[str] = []
    with concurrent.futures.ThreadPoolExecutor(max_workers=1) as pool:
        pending = []
        for q in ANALYTICS_QUERIES:
            out = os.path.join(tmp, "results", q)
            r = broker.call({"op": "query", "name": q, "group": f"check:{q}", "out": out})
            pending.append(pool.submit(check, q, r["columns"], out))
        for f in pending:
            problems += f.result()
    phase = Phase(broker)
    phase.start()
    setup_s = phase.t0 - T_PROCESS
    runs: dict[str, list[dict]] = {q: [] for q in ANALYTICS_QUERIES}
    # whole rounds, at least two and until --seconds have passed; a
    # query's time is its best round, as bench.py takes the best of two:
    # load from the rest of the host only ever slows a run down
    while len(runs[ANALYTICS_QUERIES[0]]) < 2 or time.perf_counter() - phase.t0 < seconds:
        for q in ANALYTICS_QUERIES:
            runs[q].append(broker.call({"op": "query", "name": q, "group": f"timed:{q}"}))
    phase.end()
    best = {q: min(rs, key=lambda r: r["s"]) for q, rs in runs.items()}
    per_query = {q: r["s"] for q, r in best.items()}
    total = sum(per_query.values())
    return {
        "problems": problems,
        "attempted": sum(len(rs) for rs in runs.values()),
        "failed": 0,
        "setup_s": setup_s,
        "throughput_per_s": len(per_query) / total,
        "latency_p50_ms": statistics.median(per_query.values()) * 1000,
        "detail": {
            "analytics_total_s": total,
            "rounds": len(runs[ANALYTICS_QUERIES[0]]),
            "queries_s": per_query,
        },
        "best_runs": best,
    }


WORKLOADS = {
    "facade_mixed": run_facade_mixed,
    "binary_ingest": run_binary_ingest,
    "analytics": run_analytics,
}


# ---------------------------------------------------------------------
def per_layer(res: dict, layers: dict) -> dict[str, float]:
    """The traced run's per-layer metrics; 0 where a layer did no work."""
    m = dict(layers["layers"])
    park = layers["park_by_req"]
    client = res.get("client_ack_by_rid", {})
    http_ms = [(client[r] - park[r]) * 1000 for r in client if r in park]
    m["facade.http_ms_p50"] = statistics.median(http_ms) if http_ms else 0.0
    rounds = res["detail"].get("rounds", 1)  # Spark counters cover every round
    for q in ANALYTICS_QUERIES:
        best = res.get("best_runs", {}).get(q, {})
        spark_q = layers["queries"].get(q, {})
        m[f"analytics.{q}.s"] = best.get("s", 0.0)
        m[f"analytics.{q}.build_s"] = best.get("build_s", 0.0)
        m[f"analytics.{q}.stages"] = spark_q.get("stages", 0.0) / rounds
        m[f"analytics.{q}.shuffle_write_bytes"] = spark_q.get("shuffle_write_bytes", 0.0) / rounds
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import barco_spark  # noqa: F401 — the program under test must be here
    except ImportError as ex:
        print(f"perfbench: cannot import the broker package: {ex}", file=sys.stderr)
        return 2

    os.makedirs(OUT_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=OUT_DIR)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    opts = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": bool(args.trace),
        "tmp": tmp,
        "trace_file": os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.jsonl"),
    }
    broker = None
    try:
        broker = Broker(opts)
        ctx = {"broker": broker, "seed": args.seed, "seconds": args.seconds, "tmp": tmp}
        res = WORKLOADS[args.workload](ctx)
        groups = [(f"timed:{q}", q) for q in ANALYTICS_QUERIES] if args.workload == "analytics" else []
        layers = broker.stop(groups)
    finally:
        if broker is not None:
            broker.close()
        shutil.rmtree(tmp, ignore_errors=True)

    for p in res["problems"]:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": res["detail"]}))
    # names and units of the reported metrics, as BENCHMARK.json lists them
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = per_layer(res, layers) if args.trace else res
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(
        json.dumps(
            {
                "correct": not res["problems"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if not res["problems"] else 1


if __name__ == "__main__":
    sys.exit(main())
