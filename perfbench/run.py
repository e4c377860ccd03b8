#!/usr/bin/env python3
"""ros_sql_spark benchmark: the record/ingest path, the replay path and
the analytics query mix, each checked for correct output.

    python3 perfbench/run.py --workload record_replay --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Run it from the repository root.  Load shape: one driver process is one
client in a closed loop (each operation starts when the previous one
ends), Spark ``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc`` and Derby
embedded in the same JVM.  The seed decides every input
(perfbench/inputs.py); the program sees only those inputs.  A run
measures whole iterations while the next one is expected to end within
``--seconds`` (always at least one), then checks the outputs outside the
timed region.  What each workload does, and which layers it stresses or
bypasses, is in perfbench/WORKLOADS.md.

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``: with ``--trace 0`` the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer metrics.  The line before it is a
``report`` object: the workload's named metrics with units and the run
stamp (cores, versions, seed, sizes).  The process exits 1 if any
operation or output check failed, 2 if the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.trace import Tracer, fold, read_event_log, stage_totals  # noqa: E402

WORKLOADS = ("record_replay", "query_mix")
SF = 0.01  # scale of the generated tables; messages come from its events
# Two of the five event types become topics: every sink batch costs one
# write per table per topic (4 tables per topic), which sets how many
# batches fit into one run.
TOPICS = ("click", "view")
KEYS = ["event_id", "ts_ns"]
STREAM_FILES = 2  # micro-batches per sink, so files per snapshot table
RANGES_PER_ITER = 20
WARM_MSGS = 200  # messages in the untimed warm-up round trip
MIX = "q11 qx14 q13 qx52 qx42 q78 qx33 qx26".split()
# rows-only queries (no DuckDB oracle): expected schema and row count
ROWS_ONLY = {
    # 20 query vectors, top-3 neighbours each
    "q78_ann_ivf": ("struct<query_id:bigint,vec_id:bigint,sim:double>", 20 * 3),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One run: the session, the inputs and everything measured."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = Tracer(trace)
        self.work = os.path.join(ROOT, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.iter_s: list[float] = []
        self.iter_cpu_s: list[float] = []
        self.named: dict[str, tuple[float, str]] = {}  # the report's metrics
        self.layer: dict[str, float] = {}
        self.stamp: dict = {}

    def op(self, name: str, rid=None):
        """Span one timed operation."""
        self.attempted += 1
        return self.tracer.span(name, rid=rid)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ---- session -----------------------------------------------------

    def start_session(self) -> None:
        from pyspark.sql import SparkSession

        from ros_sql_spark.session import configure_builder

        cpus = nproc()
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        for d in ("local", "tmp", "derby", "events"):
            os.makedirs(self.path(d))
        # the JVM and Python workers keep every scratch file in the run's
        # work directory (SPARK_LOCAL_DIRS overrides spark.local.dir)
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        # Derby without fsync: the sink's cost is the engine's work, not
        # this host's shared disk latency.
        java_opts = (f"-Djava.io.tmpdir={self.path('tmp')} "
                     f"-Dderby.system.home={self.path('derby')} "
                     "-Dderby.system.durability=test "
                     f"-Dderby.stream.error.file={self.path('derby', 'derby.log')}")
        builder = (
            SparkSession.builder.appName(f"perfbench-{self.workload}")
            .master(f"local[{cpus}]")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.driver.memory", "2g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", self.path("local"))
            .config("spark.sql.warehouse.dir", self.path("wh"))
            .config("spark.hadoop.hadoop.tmp.dir", self.path("tmp"))
            .config("spark.driver.extraJavaOptions", java_opts)
        )
        if self.tracer.enabled:
            builder = (
                builder.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
                .config("spark.eventLog.dir", "file://" + self.path("events"))
            )
        with self.tracer.span("session.start") as s:
            self.spark = configure_builder(builder).getOrCreate()
            self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = s.dur
        self.tracer.sc = self.spark.sparkContext
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        self.stamp.update({
            "workload": self.workload, "seed": self.seed, "nproc": cpus,
            "SPARK_GRAFT_CPUS": cpus, "spark": self.spark.version,
            "java": jvm.System.getProperty("java.version"), "sf": SF,
            "trace": int(self.tracer.enabled), "seconds": self.seconds,
        })

    def stop_session(self) -> None:
        """Stop Spark, then the JVM it ran in, and wait for it to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            hwm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + py_kb) / 1024.0

    # ---- inputs ------------------------------------------------------

    def make_tables(self, names) -> None:
        """Write the seeded tables, then read events with ``load_table``
        (the set-up's warm-up scan)."""
        from ros_sql_spark.sources.io import load_table

        self.data = self.path("data")
        inputs.write_tables(self.seed, SF, self.data, names)
        with self.tracer.span("sources.io.warm_scan") as s:
            self.events = load_table(self.spark, self.data, "events").select(
                "event_id", "ts_ns", "user_id", "event_type", "value").toArrow()
        self.layer["sources.io.warm_scan_s"] = s.dur

    def make_messages(self) -> None:
        self.make_tables(["events"])
        self.msgs = inputs.messages(self.events, self.seed, TOPICS)
        self.n_msgs = self.msgs.num_rows
        self.want = inputs.sorted_topic_digests(self.msgs)
        self.stamp.update({"messages": self.n_msgs, "topics": len(TOPICS)})

    def topic_frames(self, msgs) -> dict:
        df = self.spark.createDataFrame(msgs)
        return {t: df.filter(df.topic == t).drop("topic") for t in TOPICS}

    def write_stream_files(self, name: str, msgs, k: int) -> str:
        """``msgs`` as ``k`` parquet files in ts order (one micro-batch
        each under ``maxFilesPerTrigger=1``)."""
        import pyarrow.parquet as pq

        d = self.path(name)
        os.makedirs(d)
        n = msgs.num_rows
        for i in range(k):
            lo, hi = i * n // k, (i + 1) * n // k
            pq.write_table(msgs.slice(lo, hi - lo),
                           os.path.join(d, f"part-{i:04d}.parquet"))
        return d

    def stream(self, src: str):
        schema = self.spark.read.parquet(src).schema
        return (self.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    def declare(self, store: str, src: str) -> None:
        """Declare every topic with the file stream's schema (a file
        stream reads every field as nullable; the R15 guard compares)."""
        from ros_sql_spark.streaming.record import declare_topics

        schema = self.spark.read.parquet(src).drop("topic").schema
        declare_topics(store, {t: schema for t in TOPICS}, KEYS)

    @staticmethod
    def drain(query) -> list[dict]:
        """Wait for an availableNow query; its per-batch progress."""
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return list(query.recentProgress)

    # ---- the closed loop ---------------------------------------------

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the driver JVM's
        process tree (Python workers included)."""
        return os.times().user + os.times().system + tree_cpu_s(self.jvm_pid)

    def measure(self, iteration) -> None:
        """Whole iterations while the next one is expected to end within
        the run's seconds; at least one."""
        t0 = time.perf_counter()
        w0 = time.time()
        i = 0
        while True:
            c0 = self.cpu_s()
            with self.tracer.span(f"{self.workload}.iteration", rid=i) as s:
                iteration(self, i)
            self.iter_cpu_s.append(self.cpu_s() - c0)
            self.iter_s.append(s.dur)
            i += 1
            if time.perf_counter() - t0 + statistics.median(self.iter_s) > self.seconds:
                break
        self.measure_window = (w0, time.time())
        self.stamp["iterations"] = i


# ---------------------------------------------------------- record_replay


def store_setup(b: Bench) -> None:
    b.make_messages()
    b.frames = b.topic_frames(b.msgs)
    b.src = b.write_stream_files("stream", b.msgs, STREAM_FILES)
    b.stamp["batches"] = STREAM_FILES
    b.rec_s, b.snap_s, b.jdbc_s, b.full_s, b.range_s = [], [], [], [], []
    b.progress = {"snapshot": [], "jdbc": []}
    # warm-up: one untimed round trip over the first few messages, with
    # as many micro-batches as a timed one, so the timed iterations run
    # warm code paths (a sink's later batches take other paths)
    small = b.msgs.slice(0, WARM_MSGS)
    round_trip(b, "warm-up", small, b.topic_frames(small),
               b.write_stream_files("warm-up-stream", small, STREAM_FILES), b.seed, 2)


def store_iteration(b: Bench, i: int) -> None:
    r = round_trip(b, f"iteration-{i}", b.msgs, b.frames, b.src,
                   b.seed * 1000 + i, RANGES_PER_ITER)
    b.rec_s.append(r["record"])
    b.snap_s.append(r["snapshot"])
    b.jdbc_s.append(r["jdbc"])
    b.full_s.append(sum(r["full"]))
    b.range_s.extend(r["ranges"])
    for sink in ("snapshot", "jdbc"):
        b.progress[sink].append(r["progress"][sink])
    if i == 0:
        b.full_out = r["full_out"]


def round_trip(b: Bench, tag: str, msgs, frames: dict, src: str, range_seed: int,
               n_ranges: int) -> dict:
    """Record ``msgs`` into fresh parquet, snapshot and JDBC sinks, then
    play them back: every topic in full from the parquet store, and
    seeded time ranges from the snapshot store.  Returns the timings."""
    from ros_sql_spark import api
    from ros_sql_spark.sources.jdbc import DERBY_DRIVER, derby_url
    from ros_sql_spark.streaming.record import record_stream_jdbc, record_stream_snapshot

    d = b.path(tag)
    r: dict = {"progress": {}, "full": [], "full_out": {}, "ranges": []}
    b.pq_store = os.path.join(d, "parquet")
    with b.op("api.record", rid=tag) as s:
        api.record(b.spark, frames, b.pq_store, key_cols=KEYS)
    r["record"] = s.dur

    b.snap_store = os.path.join(d, "snapshot")
    b.declare(b.snap_store, src)
    with b.op("streaming.record.snapshot", rid=tag) as s:
        q = record_stream_snapshot(b.stream(src), "topic", b.snap_store,
                                   os.path.join(d, "ck-snapshot"))
        r["progress"]["snapshot"] = (q.id, b.drain(q))
    r["snapshot"] = s.dur

    b.jdbc_store = os.path.join(d, "jdbc")
    b.jdbc_url = derby_url(os.path.join(d, "derby"))
    b.declare(b.jdbc_store, src)
    with b.op("streaming.record.jdbc", rid=tag) as s:
        q = record_stream_jdbc(b.stream(src), "topic", b.jdbc_store,
                               os.path.join(d, "ck-jdbc"), b.jdbc_url, driver=DERBY_DRIVER)
        r["progress"]["jdbc"] = (q.id, b.drain(q))
    r["jdbc"] = s.dur

    for t in TOPICS:
        with b.op("api.playback.full", rid=tag) as s:
            r["full_out"][t] = play(b, b.pq_store, t)
        r["full"].append(s.dur)
    for t, t0, t1, n in inputs.range_windows(msgs, range_seed, n_ranges):
        with b.op("api.playback.range", rid=tag) as s:
            out = play(b, b.snap_store, t, t0, t1)
        r["ranges"].append(s.dur)
        b.check(out.num_rows == n, f"range {t} [{t0},{t1}) rows {out.num_rows} != {n}")
    return r


def play(b: Bench, store: str, topic: str, t0=None, t1=None):
    """One playback delivered to the client as Arrow: plan, then run."""
    from ros_sql_spark import api

    with b.tracer.span("api.playback_plan"):
        df = api.playback(b.spark, store, topic, t0, t1)
    with b.tracer.span("api.playback_exec") as s:
        out = df.toArrow()
    s.attrs["rows"] = out.num_rows
    return out


def store_check(b: Bench) -> None:
    """Full playbacks equal the input digest.  Then redeliver the first
    file from a fresh checkpoint into both sinks of the last iteration
    and check the sinks against the input: the snapshot store plays
    back to the input digest, and each JDBC table holds exactly the
    normalized input's rows (count and key digest)."""
    import pyspark.sql.functions as F

    from ros_sql_spark import api
    from ros_sql_spark.operators.normalize import normalize
    from ros_sql_spark.sources.catalog import namify
    from ros_sql_spark.sources.jdbc import DERBY_DRIVER, read_jdbc
    from ros_sql_spark.streaming.record import record_stream_jdbc, record_stream_snapshot

    for t in TOPICS:
        got = inputs.digest(b.full_out[t].to_pylist())
        b.check(got == b.want[t], f"full playback digest of topic {t}")

    redo = b.path("redeliver")
    os.makedirs(redo)
    shutil.copy(os.path.join(b.src, "part-0000.parquet"), redo)
    b.drain(record_stream_snapshot(b.stream(redo), "topic", b.snap_store, b.path("ck-redo-s")))
    b.drain(record_stream_jdbc(b.stream(redo), "topic", b.jdbc_store, b.path("ck-redo-j"),
                               b.jdbc_url, driver=DERBY_DRIVER))

    for t in TOPICS:
        got = inputs.digest(api.playback(b.spark, b.snap_store, t).toArrow().to_pylist())
        b.check(got == b.want[t], f"snapshot playback digest of topic {t}")

    def agg(df, keys, name):
        h = F.xxhash64(*keys)
        return df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("x"),
                      F.sum(F.pmod(h, F.lit(2**31))).alias("s")).withColumn("t", F.lit(name))

    def collect(frames):
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return {r["t"]: (r["n"], r["x"], r["s"]) for r in out.collect()}

    stream_df = b.spark.read.parquet(b.src)
    expected, actual = [], []
    for t in TOPICS:
        sub = stream_df.filter(F.col("topic") == t).drop("topic")
        for name, tbl in normalize(sub, KEYS, table=namify(t)).tables.items():
            keys = [c for c in tbl.columns if c in KEYS or c.startswith("_idx__")]
            expected.append(agg(tbl, keys, name))
            jd = read_jdbc(b.spark, b.jdbc_url, "rs_" + name, driver=DERBY_DRIVER)
            actual.append(agg(jd.select(*keys), keys, name))
    exp, act = collect(expected), collect(actual)
    for name in exp:
        b.check(act.get(name) == exp[name],
                f"jdbc table rs_{name}: {act.get(name)} != {exp[name]}")
    b.jdbc_rows = sum(n for n, _, _ in exp.values())


def store_report(b: Bench) -> None:
    n = b.n_msgs
    p, v = tail(b.range_s)
    b.named.update({
        "ingest.record_msgs_per_s": (n / statistics.median(b.rec_s), "msg/s"),
        "ingest.snapshot_msgs_per_s": (n / statistics.median(b.snap_s), "msg/s"),
        "ingest.jdbc_msgs_per_s": (n / statistics.median(b.jdbc_s), "msg/s"),
        "ingest.store_bytes_per_msg": (b.store_bytes / n, "B/msg"),
        "replay.full_msgs_per_s": (n / statistics.median(b.full_s), "msg/s"),
        "replay.range_p50_s": (statistics.median(b.range_s), "s"),
        "replay.range_tail_s": (v, "s"),
        "replay.range_tail_percentile": (p, "pct"),
        "replay.range_samples": (len(b.range_s), "count"),
    })


# ------------------------------------------------------------- query_mix


def mix_names() -> list[str]:
    from ros_sql_spark.plans.queries import QUERIES

    by_prefix = {n.split("_")[0]: n for n in QUERIES}
    return [by_prefix[p] for p in MIX]


def mix_setup(b: Bench) -> None:
    b.make_tables(inputs.TABLES)
    b.order = mix_names()
    random.Random(b.seed).shuffle(b.order)
    b.q_s: dict[str, float] = {}
    b.results: dict[str, tuple] = {}
    b.storage_after: list[int] = []
    b.stamp["queries"] = b.order
    b.stamp["q_s"] = b.q_s


def mix_iteration(b: Bench, i: int) -> None:
    from ros_sql_spark.plans.queries import QUERIES

    for name in b.order:
        with b.op(f"plans.queries.{name}", rid=name) as s:
            df = QUERIES[name](b.spark, b.data)
            rows = df.collect()
        b.q_s[name] = s.dur
        if i == 0:
            b.results[name] = (df.schema.simpleString(), df.columns, rows)
        if b.tracer.enabled:
            info = b.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            b.storage_after.append(sum(r.memSize() + r.diskSize() for r in info))


def mix_check(b: Bench) -> None:
    """Each query's rows against its DuckDB oracle over the same
    tables; rows-only queries against their schema and row count."""
    import duckdb

    from perfbench.checks import rows_to_counter
    from ros_sql_spark.plans.oracles import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {nproc()}")
        for t in inputs.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{b.data}/{t}.parquet')")
        for name, (schema, cols, rows) in b.results.items():
            if name in ROWS_ONLY:
                want_schema, want_rows = ROWS_ONLY[name]
                b.check(schema == want_schema, f"{name} schema {schema}")
                b.check(len(rows) == want_rows, f"{name} rows {len(rows)}")
                continue
            res = con.execute(ORACLES[name])
            dcols = [d[0] for d in res.description]
            ok = sorted(cols) == sorted(dcols) and (
                rows_to_counter(rows, cols) == rows_to_counter(res.fetchall(), dcols))
            b.check(ok, f"{name} values differ from the DuckDB oracle")
    finally:
        con.close()


def mix_report(b: Bench) -> None:
    ts = list(b.q_s.values())
    b.named["query_mix.total_s"] = (sum(ts), "s")
    b.named["query_mix.geomean_s"] = (math.exp(sum(map(math.log, ts)) / len(ts)), "s")


# ---------------------------------------------------------------- helpers


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples
    beyond it, as (percentile, nearest-rank value)."""
    xs = sorted(xs)
    n = len(xs)
    best = (50.0, xs[math.ceil(0.5 * n) - 1])
    for p in (75.0, 90.0, 95.0, 99.0):
        k = math.ceil(p / 100 * n)
        if n - k >= 10:
            best = (p, xs[k - 1])
    return best


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of process ``root`` and its descendants
    (reaped children included), from /proc."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


WORKLOAD_FNS = {
    "record_replay": (store_setup, store_iteration, store_check, store_report),
    "query_mix": (mix_setup, mix_iteration, mix_check, mix_report),
}


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """One run; returns (result line, report)."""
    from perfbench import layers

    setup, iteration, check, report = WORKLOAD_FNS[workload]
    b = Bench(workload, seed, seconds, trace)
    shutil.rmtree(b.work, ignore_errors=True)
    os.makedirs(b.work)
    end_to_end = None
    try:
        t0 = time.perf_counter()
        b.start_session()
        if trace:
            layers.install(b)
        setup(b)
        setup_s = time.perf_counter() - t0
        b.measure(iteration)
        t1 = time.perf_counter()
        if trace:
            layers.after_measure(b)
        if getattr(b, "snap_store", None):
            b.store_bytes = dir_bytes(b.snap_store)
        try:
            check(b)
        except Exception:
            traceback.print_exc()
            b.check(False, "output check raised")
        b.stamp["check_s"] = time.perf_counter() - t1
        report(b)
        b.named.update({
            "setup_s": (setup_s, "s"),
            "work_s": (statistics.median(b.iter_s), "s"),
            "peak_rss_mb": (b.peak_rss_mb(), "MB"),
            "ops_failed_frac": (b.failed / max(1, b.attempted), "1"),
        })
        # one iteration's wall time swings with other tenants' load on a
        # shared host far more than its CPU time does, so CPU time is the
        # gated work metric; wall time is in the report
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "work_cpu_s": (statistics.median(b.iter_cpu_s), "s"),
        }
    except Exception:
        traceback.print_exc()
        b.failed += 1
    finally:
        if b.spark is not None:
            b.stop_session()
    metrics = end_to_end or {}
    if trace and end_to_end is not None:
        fold(b.tracer, *read_event_log(b.path("events")))
        metrics = layers.metrics(b, stage_totals, mix_names())
        metrics["work_cpu_s"] = end_to_end["work_cpu_s"]
        out = os.path.join(ROOT, ".perfbench", f"trace-{workload}-{seed}.jsonl")
        b.tracer.write(out, b.stamp)
        b.stamp["spans"] = os.path.relpath(out, ROOT)
    shutil.rmtree(b.work, ignore_errors=True)
    result = {
        "correct": b.failed == 0 and end_to_end is not None,
        "attempted": max(1, b.attempted),
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    rep = {"stamp": b.stamp,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in b.named.items()}}
    return result, rep


def child(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict] | None:
    """Run one workload in a fresh process; (result line, report)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=175)
    sys.stderr.write(proc.stderr)
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2:
        return None
    return json.loads(lines[-1]), json.loads(lines[-2])["report"]


def untraced_log(workload: str) -> str:
    return os.path.join(ROOT, ".perfbench", f"untraced-{workload}.jsonl")


def baseline_work_cpu_s(workload: str, seed: int, seconds: float) -> float | None:
    """work_cpu_s without tracing, for trace_overhead_frac: the median
    over this checkout's untraced runs of the workload at the same
    seconds, else one fresh untraced run of the same seed (its own JVM)."""
    path = untraced_log(workload)
    if os.path.exists(path):
        with open(path) as f:
            runs = [json.loads(line) for line in f if line.strip()]
        vals = [r["work_cpu_s"] for r in runs if r["seconds"] == seconds]
        if vals:
            return statistics.median(vals)
    got = child(workload, seed, seconds, 0)
    if got is None or not got[0]["correct"]:
        return None
    return got[0]["metrics"]["work_cpu_s"]["value"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import ros_sql_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable: {exc}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    res, rep = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if not args.trace and res["correct"]:
        with open(untraced_log(args.workload), "a") as f:
            f.write(json.dumps({"seed": args.seed, "seconds": args.seconds,
                                "work_cpu_s": res["metrics"]["work_cpu_s"]["value"]}) + "\n")
    traced = res["metrics"].pop("work_cpu_s", None) if args.trace else None
    if traced is not None:
        base = baseline_work_cpu_s(args.workload, args.seed, args.seconds)
        if base is None:
            res["correct"] = False
            res["failed"] += 1
        res["metrics"]["trace_overhead_frac"] = {
            "value": traced["value"] / base - 1.0 if base else 0.0, "unit": "1"}
    print(json.dumps({"report": rep}))
    print(json.dumps(res))
    return 0 if res["correct"] else 1


def run_all(args) -> int:
    """Every workload, each in its own process; prints every named metric."""
    merged, ok, attempted, failed = {}, True, 0, 0
    for w in WORKLOADS:
        got = child(w, args.seed, args.seconds, args.trace)
        if got is None:
            ok, failed, attempted = False, failed + 1, attempted + 1
            continue
        res, rep = got
        ok &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        print(json.dumps({"report": rep}))
        for k, v in rep["metrics"].items():
            merged.setdefault(k if "." in k else f"{w}.{k}", v)
        for k, v in res["metrics"].items():
            merged.setdefault(f"{w}.{k}", v)
    for k, v in merged.items():
        print(f"{k:48s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": ok, "attempted": max(1, attempted),
                      "failed": failed, "metrics": merged}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
