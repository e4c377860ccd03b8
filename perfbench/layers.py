"""Per-layer metrics of a traced run.

``install`` wraps the program's layer entry points at module attribute
level, so each call opens a span (traced runs only; the untraced runs
that give the end-to-end metrics call the program unwrapped).  The
wrapped names are the ones the program looks up at call time:
``streaming.record`` and ``api`` bound ``normalize`` at import, the
streaming sinks import ``snapshot_append_batch`` and
``jdbc_idempotent_batch`` inside their batch bodies, ``api.playback``
imports ``snapshot_read`` per call, and ``jdbc_idempotent_batch`` calls
its module's ``write_jdbc``.

``metrics`` turns the spans, once Spark's event log is folded into them
(perfbench/trace.py), into the per-layer metrics of BENCHMARK.json.
Every metric is reported on every workload; a layer the workload
bypasses reads 0.
"""

from __future__ import annotations

import os
import statistics


def install(b) -> None:
    from ros_sql_spark import api
    from ros_sql_spark.sources import catalog, jdbc, snapshot
    from ros_sql_spark.streaming import record

    t = b.tracer
    orig_read = snapshot.snapshot_read

    def shred(s, args, kwargs, out):
        s.attrs["tables"] = len(out.tables)

    def files(s, args, kwargs, out):
        if kwargs.get("prune") is not None:
            s.attrs["files_read"] = len(out.inputFiles())
            s.attrs["files"] = len(orig_read(args[0], args[1]).inputFiles())

    t.wrap(record, "normalize", "operators.normalize", after=shred)
    t.wrap(api, "normalize", "operators.normalize", after=shred)
    load = catalog.EngineCatalog.load  # bound classmethod

    def traced_load(cls, *args, **kwargs):
        with t.span("api.catalog_load"):
            return load(*args, **kwargs)

    catalog.EngineCatalog.load = classmethod(traced_load)
    t.wrap(snapshot, "snapshot_append_batch", "sources.snapshot.append", batch_arg=2)
    t.wrap(snapshot, "snapshot_read", "sources.snapshot.read", after=files)
    t.wrap(jdbc, "jdbc_idempotent_batch", "sources.jdbc.idempotent_batch", batch_arg=1)
    t.wrap(jdbc, "write_jdbc", "sources.jdbc.write")
    b.orig_snapshot_read = orig_read


def after_measure(b) -> None:
    """Store-shape counts, taken after the timed iterations."""
    store = getattr(b, "snap_store", None)
    if store is None:
        return
    tables = [t for topic in _dirs(store) for t in _dirs(topic)]
    files = [len(b.orig_snapshot_read(b.spark, t).inputFiles()) for t in tables]
    rows = sum(b.orig_snapshot_read(b.spark, t).count() for t in tables)
    b.store_shape = {
        "files_per_table": sum(files) / len(files),
        "rows_per_msg": rows / b.n_msgs,
    }


def _dirs(path: str) -> list[str]:
    return sorted(
        os.path.join(path, d) for d in os.listdir(path)
        if os.path.isdir(os.path.join(path, d)) and not d.startswith(("_", "."))
    )


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def metrics(b, stage_totals, mix: list[str]) -> dict[str, tuple[float, str]]:
    lo, hi = b.measure_window
    spans = [s for s in b.tracer.spans if lo <= s.start <= hi]

    def named(name):
        return [s for s in spans if s.name == name]

    def totals(ss):
        out: dict[str, float] = {}
        for s in ss:
            for k, v in stage_totals(b.tracer, s).items():
                out[k] = out.get(k, 0) + v
        return out

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (b.layer["session.start_s"], "s"),
        "sources.io.warm_scan_s": (b.layer["sources.io.warm_scan_s"], "s"),
    }
    norm = named("operators.normalize")
    shape = getattr(b, "store_shape", {})
    exec_spans = named("api.playback_exec")
    played = sum(s.attrs.get("rows", 0) for s in exec_spans)
    m.update({
        "operators.normalize.tables_per_topic": (_mean(s.attrs["tables"] for s in norm), "count"),
        "operators.normalize.rows_per_msg": (shape.get("rows_per_msg", 0.0), "count"),
        "operators.normalize.shred_plan_s": (_mean(s.dur for s in norm), "s"),
        "operators.normalize.denormalize_shuffle_bytes_per_msg": (
            _ratio(totals(exec_spans).get("shuffle_bytes", 0), played), "B/msg"),
        "api.record_s": (_mean(s.dur for s in named("api.record")), "s"),
        "api.catalog_load_s": (_mean(s.dur for s in named("api.catalog_load")), "s"),
        "api.playback_plan_s": (_median(s.dur for s in named("api.playback_plan")), "s"),
        "api.playback_exec_s": (_median(s.dur for s in exec_spans), "s"),
    })
    reads = [s for s in named("sources.snapshot.read") if "files" in s.attrs]
    store = getattr(b, "snap_store", None)
    m.update({
        "sources.snapshot.append_s": (_mean(s.dur for s in named("sources.snapshot.append")), "s"),
        "sources.snapshot.files_per_table": (shape.get("files_per_table", 0.0), "count"),
        "sources.snapshot.range_files_read_frac": (
            _ratio(sum(s.attrs["files_read"] for s in reads),
                   sum(s.attrs["files"] for s in reads)), "1"),
        "sources.snapshot.bytes_per_msg": (
            b.store_bytes / b.n_msgs if store else 0.0, "B/msg"),
    })
    idem = named("sources.jdbc.idempotent_batch")
    jt = totals(idem)
    m.update({
        "sources.jdbc.idempotent_batch_s": (_mean(s.dur for s in idem), "s"),
        "sources.jdbc.existing_read_s": (_ratio(jt.get("jdbc_read_s", 0.0), len(idem)), "s"),
        "sources.jdbc.write_s": (_mean(s.dur for s in named("sources.jdbc.write")), "s"),
        "sources.jdbc.rows_read_per_row_written": (
            _ratio(jt.get("jdbc_rows_read", 0), getattr(b, "jdbc_rows", 0)), "1"),
    })
    progress = getattr(b, "progress", {})
    jdbc_batches = [p["durationMs"]["triggerExecution"] / 1e3
                    for _, prog in progress.get("jdbc", []) for p in prog]
    third = max(1, len(jdbc_batches) // 3)
    m["sources.jdbc.batch_time_slope"] = (
        _ratio(_mean(jdbc_batches[-third:]), _mean(jdbc_batches[:third])), "1")
    jobs = [j for s in spans for j in s.attrs.get("jobs", []) if j["batch"] is not None]
    for sink in ("snapshot", "jdbc"):
        runs = progress.get(sink, [])
        prog = [p for _, ps in runs for p in ps]
        ids = {str(qid) for qid, _ in runs}
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in prog]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in prog]
        key = f"streaming.record.{sink}"
        m[f"{key}.batch_p50_s"] = (_median(trig), "s")
        m[f"{key}.add_batch_frac"] = (_ratio(sum(add), sum(trig)), "1")
        m[f"{key}.jobs_per_batch"] = (
            _ratio(sum(1 for j in jobs if j["query"] in ids), len(prog)), "count")
    qspans = {s.name[len("plans.queries."):]: s for s in spans
              if s.name.startswith("plans.queries.")}
    for name in mix:
        m[f"plans.queries.{name}_s"] = (qspans[name].dur if name in qspans else 0.0, "s")
    qt = totals(qspans.values())
    m.update({
        "plans.queries.jobs": (qt.get("jobs", 0), "count"),
        "plans.queries.stages": (qt.get("stages", 0), "count"),
        "plans.queries.executor_cpu_s": (qt.get("cpu_s", 0.0), "s"),
        "plans.queries.shuffle_bytes": (qt.get("shuffle_bytes", 0), "B"),
        "plans.queries.spill_bytes": (qt.get("spill_bytes", 0), "B"),
        "plans.queries.sched_gap_s": (qt.get("gap_s", 0.0), "s"),
        "plans.queries.storage_bytes_after": (
            max(getattr(b, "storage_after", []) or [0]), "B"),
        "peak_rss_mb": b.named["peak_rss_mb"],
    })
    return m
