#!/usr/bin/env python
"""Benchmark harness — runs the declared query suite and prints ONE JSON line.

Usage: python bench.py [--only q78_ann_ivf,q90_...] [--runs 3] [--plans DIR]
       python bench.py --audit [--only ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default all cores)

Each query plan is fully executed via the noop sink (whole plan runs,
nothing is collected to the driver — measures engine time, not driver
serialization). Session startup and a table-cache warmup are excluded:
the metric is query execution.  Every build + run is one
``pin_scope()``: the pins and caches a query takes are freed when it
ends, so repeated runs start from the same block storage.

``--plans DIR`` also writes each selected query's
``explain("formatted")`` to ``DIR/<name>.txt`` before timing it.
``--audit`` times nothing: it prints one line of physical-plan shape
counts per selected query (exchanges, broadcasts, sorts, Python
evaluation, cartesian/nested-loop joins, file scans) — an exploratory
view; the invariants live in tests/test_plans.py.

``--only`` + ``--runs`` is the SOLO RE-MEASURE protocol (round-8
verdict): the full-suite numbers carry host-contention noise in the
heavy tail, so each round the top-10 slowest are re-timed solo
(min-of-3, quiescent host) and recorded in SURVEY next to the driver
artifact number — a full-suite reading >20% above its solo floor is
host band, not a plan regression.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ros_sql_spark.functions.pin import pin_scope
from ros_sql_spark.plans.queries import QUERIES
from ros_sql_spark.session import get_spark

_AUDIT = {
    "exch": r"\bExchange hashpartitioning",
    "rng": r"\bExchange rangepartitioning",
    "1p": r"\bExchange SinglePartition",
    "bc": r"\bBroadcastExchange",
    "sort": r"\bSort \[",
    "pyR": r"\bBatchEvalPython",
    "pyA": r"\b(ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas)",
    "cart": r"\bCartesianProduct",
    "nlj": r"\bBroadcastNestedLoopJoin",
    "scans": r"\bFileScan parquet",
}


def audit_line(name: str, plan: str) -> str:
    """One row of ``--audit``: plan-shape counts plus warning flags."""
    a = {k: len(re.findall(rx, plan)) for k, rx in _AUDIT.items()}
    flags = [f for f, k in (("CARTESIAN", "cart"), ("ROW-PYTHON", "pyR"),
                            ("1-PART", "1p")) if a[k]]
    cells = " ".join(f"{a[k]:>{max(len(k), 2)}d}" for k in _AUDIT)
    return f"{name:28s} {cells}  {' '.join(flags)}".rstrip()


def build_final_line(
    timings: dict, total: float, floors: dict, canary: dict,
    band_normalized_total: float, sf_val, tail_budget: int = 1950,
) -> str:
    """The driver-parsed FINAL stdout line, guaranteed under the tail.

    The driver keeps only a 2000-char stdout tail and parses the last
    complete JSON line inside it (BENCH_r02 recorded "parsed": null when
    the one full-map line outgrew it; BENCH_r12..r15 each captured
    exactly 2000 chars).  Round-15 verdict directive #1 asks for the
    full ``queries`` map here so PERF can adjudicate per-query — but 178
    names at ~26 bytes each is ~4.6 KB even with compact separators,
    which can NEVER parse from a 2000-char tail.  Compromise
    (additions-only: n_queries/top10_slowest/floors all kept): emit the
    slowest-K entries of ``queries`` that keep the line under budget,
    plus ``queries_omitted`` so a reader knows the map is partial — the
    omitted entries are the sub-noise tail; every floor-bearing and
    regression-visible query is in the emitted prefix.  The COMPLETE
    map is still printed on the (logged, non-driver-parsed) line above.
    """
    by_cost = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    top10 = dict(by_cost[:10])

    def line_for(k: int) -> str:
        return json.dumps(
            {
                "metric": "declared_suite_total",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": {n: round(t, 2) for n, t in by_cost[:k]},
                "queries_omitted": max(0, len(timings) - k),
                "top10_slowest": top10,
                "floors": floors,
                "canary": canary,
                "band_normalized_total": band_normalized_total,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )

    k = len(timings)
    line = line_for(k)
    while len(line) > tail_budget and k > 0:
        # geometric shrink; a few dozen dumps at most
        k = min(k - 1, int(k * 0.8))
        line = line_for(k)
    return line


def normalize_total(total: float, canary_start: float, canary_end: float,
                    floor: float) -> float:
    """Band-normalized headline: scale the raw total by floor/canary.

    Each canary reading is CLAMPED at the floor (r14 verdict:
    BENCH_r14's end canary read 0.076 < floor=0.14 and the normalized
    total claimed a better-than-quiet host) — normalization only ever
    corrects DOWNWARD for degraded bands, never inflates a quiet run,
    so normalized <= raw always.
    """
    mean = (max(canary_start, floor) + max(canary_end, floor)) / 2.0
    return round(total * (floor / mean), 4)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None,
                    help="comma-separated query names (solo re-measure)")
    ap.add_argument("--runs", type=int, default=2,
                    help="runs per query, min taken (solo protocol: 3)")
    ap.add_argument("--no-floors", action="store_true",
                    help="skip the post-suite top-10 solo floor pass")
    ap.add_argument("--plans", metavar="DIR", default=None,
                    help="write each query's formatted plan to DIR/<name>.txt")
    ap.add_argument("--audit", action="store_true",
                    help="print plan-shape counts per query; time nothing")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("ros_sql_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = QUERIES
    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        queries = {n: QUERIES[n] for n in names}

    if args.audit:
        print(f"{'query':28s} {' '.join(f'{k:>2s}' for k in _AUDIT)}")
        for name, fn in queries.items():
            with pin_scope():
                plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
                print(audit_line(name, plan.toString()))
        spark.stop()
        return

    def run(fn) -> None:
        with pin_scope():
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Warmup: JIT/codegen + OS page cache for ALL four hot tables — the
    # top-10 slowest queries are documents/embeddings-bound (r8 verdict:
    # warming only lineitem/events left the heaviest family paying the
    # page-cache miss on its first timed run, a measured bench-noise
    # source on cold/contended hosts).
    from ros_sql_spark.sources.io import load_table

    for t in ("lineitem", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, t).count()
    run(QUERIES["q11_pricing_summary"])

    # Round-14 directive #2: HOST-BAND CANARY.  Two consecutive driver
    # artifacts (r12 q15 spike, r13's whole-suite 208 s) landed in
    # degraded host bands and the 2x gate had to be adjudicated from
    # per-query floors.  Time a fixed trivial query (q01 min-of-5) at
    # suite start AND end; its quiet-host floor is hard-coded below
    # (measured this round, min-of-5 at sf0.1 on a quiescent host), so
    # the artifact itself carries band_normalized_total =
    # total * (canary_floor / canary) — a self-correcting headline.
    # q01_scan_project, min-of-5, sf0.1, quiet host (measured r14).
    # The default is one specific host's quiet floor — overridable via
    # env so other machines don't silently mis-normalize (r14 advice).
    CANARY_FLOOR = float(os.environ.get("SPARK_GRAFT_CANARY_FLOOR", "0.14"))

    def time_canary() -> float:
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            run(QUERIES["q01_scan_project"])
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    canary_start = time_canary()

    # min of two runs per query: the first run pays codegen/JIT compile,
    # which is fixed overhead a long-running cluster amortizes away.
    timings: dict[str, float] = {}
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    for name, fn in queries.items():
        if args.plans:
            buf = io.StringIO()
            with pin_scope(), redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        best = float("inf")
        for _ in range(args.runs):
            t0 = time.perf_counter()
            run(fn)
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
    total = round(sum(timings.values()), 4)

    # Round-13 directive #3: machine-readable SOLO FLOORS in the
    # artifact itself.  The in-suite heavy tail carries host-band noise
    # (q15 read 5.06 s in BENCH_r12 vs a 2.01 s solo floor); judges and
    # the 2x gate previously had to re-derive the floors from SURVEY
    # prose.  After the suite, re-time the top-10 slowest back-to-back
    # (min-of-3 each — the solo protocol, now in-process): a full-suite
    # reading within ~30% of its floor is host band, not plan drift.
    floors: dict[str, float] = {}
    floors_canary = None
    floors_degraded = None
    if args.only:
        # Round-14 directive #3: in solo mode the measured min-of-N
        # values ARE floors — emit them in the field that exists to
        # record solo floors, so a reader diffing artifacts never has
        # to know the convention.
        floors = dict(timings)
    elif not args.no_floors:
        # Round-15 directive #2: canary the floors pass itself —
        # BENCH_r14's floors section landed degraded (qx67 "floor"
        # 5.26 vs quiet solo 3.73) with nothing in-artifact to say so.
        # One retry if the first reading is >1.5x floor (transient
        # spikes), then record the verdict so a degraded floors
        # section is flagged in the artifact, not adjudicated later.
        floors_canary = time_canary()
        if floors_canary > 1.5 * CANARY_FLOOR:
            floors_canary = time_canary()
        floors_degraded = floors_canary > 1.5 * CANARY_FLOOR
        tail = sorted(timings, key=timings.get, reverse=True)[:10]
        for name in tail:
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                run(queries[name])
                best = min(best, time.perf_counter() - t0)
            floors[name] = round(best, 4)

    canary_end = time_canary()
    # the suite-wide band estimate is the MEAN of the two canary
    # readings (start and end bracket the suite); ratio > 1 means the
    # host ran slower than the quiet floor and the normalized headline
    # scales the raw total back down accordingly (clamped at the
    # floor — see normalize_total).
    band_normalized_total = normalize_total(
        total, canary_start, canary_end, CANARY_FLOOR)
    canary = {
        "query": "q01_scan_project",
        "start": canary_start,
        "end": canary_end,
        "floor": CANARY_FLOOR,
    }
    if floors_canary is not None:
        canary["floors_pass"] = floors_canary
        canary["floors_degraded"] = floors_degraded

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    print(
        json.dumps(
            {
                "metric": "declared_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "floors": floors,
                "floors_ts": int(time.time()),
                "canary": canary,
                "band_normalized_total": band_normalized_total,
                "sf": sf_val,
            }
        )
    )
    # Final driver-parsed line: see build_final_line's docstring (the
    # 2000-char tail constraint and the slowest-K `queries` compromise).
    print(
        build_final_line(
            timings, total, floors, canary, band_normalized_total, sf_val
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
