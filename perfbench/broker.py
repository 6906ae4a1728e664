"""The broker process of one benchmark run.

It holds a Spark session, a ``BrokerHttpServer`` and a
``BinaryProducerServer`` that share one ``EventLog`` and one lock under
the run's temporary root, and it answers the generator's control
messages on a pipe: mark the timed phase, run a query, stop. With
tracing on it also wraps the layer entry points (see ``tracing.py``)
and reads Spark's status store for the timed phase.
"""

from __future__ import annotations

import os
import time

from inputs import BUCKETS, write_tables

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


def _spark(opts: dict):
    from barco_spark.session import get_spark

    tmp = opts["tmp"]
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=10)


class SparkCounters:
    """Job/stage/task counters from the status store (no UI needed)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def settle(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def _jobs(self) -> list:
        jl = self.store.jobsList(None)
        return [jl.apply(i) for i in range(jl.size())]

    def last_job_id(self) -> int:
        self.settle()
        return max((j.jobId() for j in self._jobs()), default=-1)

    def collect(self, after: int, upto: int | None = None, group: str | None = None) -> dict:
        self.settle()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        stage_ids: set[int] = set()
        for j in self._jobs():
            if j.jobId() <= after or (upto is not None and j.jobId() > upto):
                continue
            if group is not None:
                g = j.jobGroup()
                if not g.isDefined() or g.get() != group:
                    continue
            out["jobs"] += 1
            sids = j.stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage that never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
        return out


def _data_files(data_dir: str) -> int:
    n = 0
    for _dirpath, _dirs, files in os.walk(data_dir):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def serve(conn, opts: dict) -> None:
    """Entry point of the broker process (spawned by run.py)."""
    from barco_spark.sources.eventlog import EventLog
    from barco_spark.sources.http_server import BrokerHttpServer
    from barco_spark.sources.tcp_server import BinaryProducerServer

    tracer = park_by_req = None
    if opts["trace"]:
        from tracing import TimedLock, Tracer, instrument

        tracer, park_by_req = Tracer(), {}
        instrument(tracer, park_by_req)
    spark = _spark(opts)
    http = tcp = None
    try:
        log = EventLog(spark, os.path.join(opts["tmp"], "log"))
        assert log.buckets == BUCKETS
        http = BrokerHttpServer(log)
        lock = http._lock
        if tracer is not None:
            lock = http._lock = http.coalescer._lock = TimedLock(tracer)
        tcp = BinaryProducerServer(log, lock=lock)
        http.start()
        tcp.start()
        counters = SparkCounters(spark)
        if opts["workload"] == "analytics":
            write_tables(os.path.join(opts["tmp"], "tables"), opts["seed"])
        conn.send({"http_port": http.port, "tcp_port": tcp.port})
        _control(conn, opts, spark, log, counters, tracer, park_by_req)
    finally:
        if tcp is not None:
            tcp.stop()
        if http is not None:
            http.stop()
        _stop_spark(spark)
        conn.close()


def _control(conn, opts, spark, log, counters, tracer, park_by_req) -> None:
    from barco_spark.registry import load_all
    from barco_spark.session import free_persistent_rdds

    queries = load_all() if opts["workload"] == "analytics" else {}
    tables = os.path.join(opts["tmp"], "tables")
    phase: dict = {}
    while True:
        msg = conn.recv()
        op = msg["op"]
        if op in ("phase_start", "phase_end"):
            # traced runs snapshot the Spark jobs and log files so that
            # the counters cover exactly the timed phase
            end = op == "phase_end"
            phase["t1" if end else "t0"] = time.perf_counter()
            if tracer is not None:
                phase["job1" if end else "job0"] = counters.last_job_id()
                phase["files1" if end else "files0"] = _data_files(log._data_path)
            conn.send({})
        elif op == "query":
            # cold cache per query, as bench.py measures: drop cached
            # relations and RDD blocks, let the cleaner drain, then time
            name = msg["name"]
            spark.catalog.clearCache()
            free_persistent_rdds(spark)
            if not msg.get("out"):  # a timed run
                spark.sparkContext._jvm.System.gc()
                time.sleep(0.2)
            if tracer is not None:
                spark.sparkContext.setJobGroup(msg["group"], name)
            t0 = time.perf_counter()
            df = queries[name].build(spark, tables)
            t1 = time.perf_counter()
            if msg.get("out"):
                df.write.parquet(msg["out"])
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            conn.send({"s": t2 - t0, "build_s": t1 - t0, "columns": df.columns})
        elif op == "stop":
            result: dict = {}
            if tracer is not None and "t1" in phase:
                from tracing import layer_metrics

                m = layer_metrics(tracer, phase["t0"], phase["t1"])
                m["eventlog.files_written"] = float(phase["files1"] - phase["files0"])
                spark_m = counters.collect(phase["job0"], phase["job1"])
                m.update({f"spark.{k}": v for k, v in spark_m.items()})
                per_query = {}
                for group, name in msg.get("query_groups", []):
                    c = counters.collect(-1, group=group)
                    per_query[name] = {
                        "stages": c["stages"],
                        "shuffle_write_bytes": c["shuffle_write_bytes"],
                    }
                result = {"layers": m, "park_by_req": park_by_req, "queries": per_query}
                tracer.dump(opts["trace_file"])
            conn.send(result)
            return
        else:
            raise ValueError(f"unknown control op {op!r}")
