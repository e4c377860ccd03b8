"""Physical-plan assertions (SURVEY.md §4 / 'optimize for scale'):
pushdown, pruning, broadcast, partial aggregation.  These lock in the
plan shapes the 100 TB design depends on — a regression here is a
performance bug even if results stay correct."""

from __future__ import annotations

import re

import pytest

from ros_sql_spark.functions.pin import pin_scope
from ros_sql_spark.plans.queries import QUERIES
from tests.conftest import SF_SMALL


_PLAN_CACHE: dict[tuple[str, str], str] = {}


def plan_of(spark, name: str) -> str:
    """Formatted physical plan of a declared query at SF_SMALL.

    Memoized per (name, autoBroadcastJoinThreshold): plan building is
    deterministic for a fixed session conf, and the three suite-wide
    gates each used to rebuild all ~178 plans (~225 s of the round-15
    suite's 30 min — the verify-window regression, r16).  The threshold
    is the only conf the module's tests flip around plan_of calls, so
    it is part of the key; everything else reads the shared session."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    key = (name, thr)
    if key not in _PLAN_CACHE:
        # only the string is kept: free the eager pins plan building took
        with pin_scope():
            df = QUERIES[name](spark, SF_SMALL)
            _PLAN_CACHE[key] = df._jdf.queryExecution().executedPlan().toString()
    return _PLAN_CACHE[key]


def test_q01_scan_prunes_columns(spark):
    p = plan_of(spark, "q01_scan_project")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # exactly the projected columns — ts/props/ts_ns pruned away
    assert cols == {"event_id", "user_id", "event_type", "value"}


def test_q03_time_filter_is_pushed(spark):
    p = plan_of(spark, "q03_time_range")
    assert "PushedFilters: [" in p
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(ts", p), (
        "ts range predicate must reach the parquet scan:\n" + p
    )


def test_q11_filter_pushed_and_partial_agg(spark):
    p = plan_of(spark, "q11_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p  # scan-level filter
    assert "partial_sum" in p or "partial_" in p  # map-side combine


def test_q08_dimensions_broadcast(spark):
    p = plan_of(spark, "q08_fk_join_chain")
    assert p.count("BroadcastHashJoin") == 2  # nation AND region broadcast
    assert "SortMergeJoin" not in p  # fact side never shuffles


def test_q19_q69_use_semi_anti_joins(spark):
    assert "LeftSemi" in plan_of(spark, "q19_semijoin")
    assert "LeftAnti" in plan_of(spark, "q69_antijoin")


def test_q27_query_vector_broadcast(spark):
    p = plan_of(spark, "q27_knn_cosine")
    assert "Broadcast" in p  # 1-row query side broadcast, corpus streams


def test_q14_no_global_single_partition_window(spark):
    """q14_rank_stats' distribution stats must come from the two-phase range-
    partitioned ranking (operators/rank.py), never a Window.orderBy with
    no partitionBy — that plans a single-partition sort of the whole
    input (the round-1 scale-killer)."""
    p = plan_of(spark, "q14_rank_stats")
    # every window in the plan is partitioned by the physical partition id
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
        assert "_pid" in m.group(1), (
            "unpartitioned Window in q14 plan:\n" + m.group(0)
        )
    # the parallel range shuffle replaces the global sort
    assert "rangepartitioning" in p


def test_rank_stats_matches_window_semantics(spark):
    """Arithmetic pr/cd/rn from global_row_number == classic window
    functions over the same (unique) ordering key."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from ros_sql_spark.operators.rank import rank_stats
    from ros_sql_spark.sources.io import load_table

    orders = load_table(spark, SF_SMALL, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("total")
    )
    got = rank_stats(spend, [F.desc("total"), F.asc("o_custkey")])
    w = Window.orderBy(F.desc("total"), F.asc("o_custkey"))
    want = spend.select(
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.dense_rank().over(w).alias("dr"),
    )
    g = {r["o_custkey"]: r for r in got.collect()}
    for r in want.collect():
        gr = g[r["o_custkey"]]
        assert gr["rn"] == r["rn"] == r["dr"]
        assert abs(gr["pr"] - r["pr"]) < 1e-12
        assert abs(gr["cd"] - r["cd"]) < 1e-12


def test_q57_topk_is_partial_agg_plus_take_ordered(spark):
    """Vocabulary head: map-side combine before the shuffle and a
    TakeOrdered (top-k per partition + merge), never a full global sort
    of the token histogram."""
    p = plan_of(spark, "q57_token_topk")
    assert "partial_count" in p or "partial_" in p
    assert "TakeOrdered" in p


def test_q23_pack_window_is_partitioned(spark):
    """Sequence packing must cumsum within source shards — an
    unpartitioned window would serialize the whole corpus through one
    task."""
    p = plan_of(spark, "q23_pack_sequences")
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
        assert "source" in m.group(1), (
            "unpartitioned window in q23 plan:\n" + m.group(0)
        )


def test_q82_sample_is_take_ordered(spark):
    """Weighted sampling ranks the whole corpus by priority — it must be
    a TakeOrderedAndProject (per-partition k-heap, driver merges k·P
    rows), never a global sort or single-partition window."""
    p = plan_of(spark, "q82_weighted_sample")
    assert "TakeOrdered" in p
    assert "windowspecdefinition" not in p


def test_q83_budget_window_is_partitioned(spark):
    """Token-budget cumsum runs per source shard; an unpartitioned
    window would serialize the corpus through one task."""
    p = plan_of(spark, "q83_token_budget_mix")
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
        assert "source" in m.group(1), (
            "unpartitioned window in q83 plan:\n" + m.group(0)
        )


def test_q28_rates_dim_broadcast(spark):
    """The per-language rate dim is a handful of rows — it must
    broadcast; a shuffle join keyed on lang would move the whole corpus
    for a 4-row lookup."""
    p = plan_of(spark, "q28_stratified_sample")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q67_windows_are_partitioned(spark):
    """Quartile tiling windows within a key (lang) — never a global
    single-partition sort."""
    p = plan_of(spark, "q67_ntile_quartiles")
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
        spec = m.group(1)
        assert "lang" in spec, (
            "unpartitioned window in q67 plan:\n" + m.group(0)
        )


def test_argmax_queries_are_window_free_partial_aggs(spark):
    """Keep-best (q33) and changelog compaction (q50) are ARGMAX
    shapes: one hash aggregate whose partial combines map-side, so one
    row per key shuffles — never a Window, which would shuffle and
    sort every member row (and q33's count(*) companion would even
    block the WindowGroupLimit partial rule)."""
    for name in ("q33_keep_best", "q50_latest_state"):
        p = plan_of(spark, name)
        assert "Window" not in p, f"{name} regressed to a window plan:\n{p}"
        # max(struct) buffers a struct, so Spark picks SortAggregate —
        # the load-bearing property is the PARTIAL phase, not the
        # hash-vs-sort strategy.
        assert re.search(r"Aggregate.*partial_max", p), (
            f"{name} lost its partial (map-side) aggregate:\n{p}"
        )


def test_q20_contamination_join_shapes(spark):
    """Decontamination must mark via broadcast left-semi (tiny eval
    shingle set) and remove via left-anti — the train side never
    shuffles for the membership probe."""
    p = plan_of(spark, "q20_decontaminate")
    assert "LeftSemi" in p and "LeftAnti" in p
    assert re.search(r"BroadcastHashJoin.*LeftSemi", p), (
        "eval shingle set must broadcast for the semi probe:\n" + p
    )


def test_q48_salted_two_phase(spark):
    """The skew query must actually salt: phase-1 aggregation keys
    include the salt column (hot key spread over 32 reducers), merged
    by a second keys-only aggregation."""
    p = plan_of(spark, "q48_skew_salted_agg")
    assert re.search(r"hashpartitioning\([^)]*_salt", p), (
        "phase-1 exchange must partition on (keys, _salt):\n" + p
    )


def test_no_cartesian_in_suite_except_intended(spark):
    """Only the pairwise-similarity queries may contain non-equi joins;
    everything else must plan equi/broadcast joins.  Also a suite-wide
    Python-eval lint: any Python in a plan must be Arrow-batched
    (ArrowEvalPython / MapInPandas) — a BatchEvalPython node means a
    row-at-a-time pickled UDF crept into a hot path."""
    allowed = {"q27_knn_cosine", "q32_ngram_jaccard", "q68_cosine_dedup_pairs",
               "q70_ann_topk"}
    for name in QUERIES:
        p = plan_of(spark, name)
        assert "BatchEvalPython" not in p, (
            f"{name}: row-at-a-time Python UDF in plan"
        )
        if name in allowed or name.startswith("q39"):
            continue
        assert "CartesianProduct" not in p, name


def _generate_trap_lines(plan: str) -> list[str]:
    """Lines where InferFiltersFromGenerate re-evaluates an expensive
    expression: a Filter whose size() argument is itself an expression
    tree (nested parens) rather than a bare attribute reference.  A
    bare attribute — `size(shingles#12, true)` — means the array was
    materialized in a prior projection and the pre-filter is cheap;
    anything nested means the full pipeline runs once in the filter AND
    once in the generate (measured 34x on shingle pipelines)."""
    bad = []
    for line in plan.splitlines():
        if "Filter" not in line:
            continue
        for m in re.finditer(r"size\(", line):
            i, depth, start = m.end(), 1, m.end()
            while i < len(line) and depth:
                depth += {"(": 1, ")": -1}.get(line[i], 0)
                i += 1
            first_arg = line[start : i - 1].split(",")[0]
            if "(" in first_arg:
                bad.append(line.strip()[:160])
    return bad


def test_no_inferred_generate_filter_in_suite(spark):
    """CLAUDE.md Generate invariant, enforced suite-wide: plain
    explode(<expensive expr>) gets an inferred size>0/isnotnull
    pre-filter that evaluates the expression twice per row.  Every
    query must use explode_outer (rule skips outer generates) or
    explode a pre-materialized column."""
    for name in QUERIES:
        traps = _generate_trap_lines(plan_of(spark, name))
        assert not traps, f"{name}: inferred pre-Generate filter: {traps}"


def test_no_inferred_generate_filter_in_operators(spark):
    """Same lint for the operator-level scale pipelines (they don't go
    through QUERIES): exact-Jaccard shingle explode, MinHash/LSH
    banding, hyperplane-LSH bucketing."""
    from ros_sql_spark.operators.dedup import (
        minhash_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    from ros_sql_spark.operators.similarity import lsh_knn
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    from ros_sql_spark.operators.sampling import token_budget_mix, weighted_sample
    from ros_sql_spark.operators.skew import split_skew_join

    pipelines = {
        "ngram_jaccard_pairs": ngram_jaccard_pairs(docs, threshold=0.05),
        "minhash_signatures": minhash_signatures(docs),
        "minhash_pairs": minhash_pairs(docs),
        "lsh_knn": lsh_knn(
            emb, query_filter=F.col("vec_id") < 5, k=3, exclude_self=True
        ),
        "weighted_sample": weighted_sample(docs, "n_chars", 10),
        "token_budget_mix": token_budget_mix(
            docs, {"src0": 500}, token_col="n_chars"
        ),
        "split_skew_join": split_skew_join(
            docs.select("doc_id", "source"),
            docs.groupBy("source").count(),
            "source",
            hot_keys=["src0"],
            buckets=4,
        ),
    }
    for name, df in pipelines.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        traps = _generate_trap_lines(plan)
        assert not traps, f"{name}: inferred pre-Generate filter: {traps}"


def test_q36_single_pair_table_shuffle(spark):
    """TF-IDF reuses one doc_id exchange for both the (doc,term)
    aggregate and the per-doc top-k window (vocab join is broadcast):
    3 exchanges total — repartition, df-agg, and nothing else touching
    the scored pair table — plus the WindowGroupLimit partial."""
    p = plan_of(spark, "q36_tfidf_topk")
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 3, p
    assert "WindowGroupLimit" in p


def test_new_batch_r5_plan_shapes(spark):
    """Round-5 queries: the shapes their 100 TB stories depend on.

    - q90: the Bloom word table joins as a BROADCAST (it is ≤ m_bits/64
      rows by construction — the whole point of the sketch);
    - q91/q94: every window/sort is partitioned by user_id, never a
      single-partition global sort;
    - q95: train-set membership is a LEFT SEMI join (no fan-out dupes).
    """
    p90 = plan_of(spark, "q90_bloom_decontaminate")
    assert "BroadcastHashJoin" in p90
    assert "LeftSemi" in p90  # exact verify stage
    for name in ("q91_gap_fill", "q94_seq_pattern"):
        p = plan_of(spark, name)
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
            assert "user_id" in m.group(1), (name, m.group(0))
        assert "SinglePartition" not in p, name
    p95 = plan_of(spark, "q95_containment")
    assert "LeftSemi" in p95


def test_q98_q99_plan_shapes(spark):
    """q98: the differentiated join is a UNION of the salted join and
    the plain equi-join (two join nodes, no cartesian); q99: the
    dominant-lang argmax is window-free (hash aggregate, never a
    per-source sort window)."""
    p98 = plan_of(spark, "q98_skew_split_join")
    assert "Union" in p98
    assert len(re.findall(r"Join", p98)) >= 2
    p99 = plan_of(spark, "q99_corpus_report")
    assert "Window" not in p99


def test_mid_pipeline_probe_fires_zero_jobs(spark):
    """The parallelism guard on curate()-reachable operators must be
    PLAN-ONLY (r5 verdict item 1): constructing shingle/minhash/LSH
    plans on a post-shuffle frame may not launch a single Spark job —
    an eager df.rdd probe would materialize the upstream aggregation
    once per probe under AQE (functions/util.py's measured hazard)."""
    from pyspark.sql import functions as F

    from ros_sql_spark.operators.dedup import minhash_pairs, shingle_hashes
    from ros_sql_spark.operators.similarity import cosine_dedup_pairs_lsh
    from ros_sql_spark.sources.io import load_table

    tracker = spark.sparkContext.statusTracker()
    docs = load_table(spark, SF_SMALL, "documents")
    # mid-pipeline shape: downstream of a shuffle, like curate() stages
    mid = docs.groupBy("doc_id").agg(F.first("text").alias("text"))
    emb = load_table(spark, SF_SMALL, "embeddings")
    emb_mid = emb.groupBy("vec_id").agg(F.first("embedding").alias("embedding"))

    before = len(tracker.getJobIdsForGroup(None))
    shingle_hashes(mid, "doc_id", "text", k=3)
    minhash_pairs(mid, "doc_id", "text")
    cosine_dedup_pairs_lsh(emb_mid, id_col="vec_id", vec_col="embedding", dim=64)
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before, (
        f"plan construction launched {after - before} eager job(s)"
    )


def test_qx00_qx01_plan_shapes(spark):
    """qx00: every KMV window is PARTITIONED (per set / per pair —
    never a global single-partition sort) and no CartesianProduct (the
    pair axis is a tiny broadcast nested loop over distinct set names,
    bounded by |sets|²); qx01: the rolling distinct is the pre-distinct
    + fan-out shape — partial aggregation present, no Window at all."""
    p0 = plan_of(spark, "qx00_kmv_overlap")
    assert "CartesianProduct" not in p0
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p0):
        spec = m.group(1)
        assert ("_ta" in spec) or ("event_type" in spec) or (
            "_salt" in spec
        ), "unpartitioned Window in qx00 plan:\n" + m.group(0)
    p1 = plan_of(spark, "qx01_rolling_distinct")
    assert "Window" not in p1
    assert "CartesianProduct" not in p1
    assert "partial_count(distinct" in p1 or "HashAggregate" in p1
    # qx03: the <= depth*width counter table must BROADCAST to the probe
    p3 = plan_of(spark, "qx03_countmin_freq")
    assert "Broadcast" in p3 and "CartesianProduct" not in p3
    # qx05: every quantile-sketch window is PARTITIONED (per group /
    # per (group, salt) — never a global single-partition sort)
    p5 = plan_of(spark, "qx05_quantile_sketch")
    assert "CartesianProduct" not in p5
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p5):
        spec = m.group(1)
        assert "event_type" in spec or "_salt" in spec, (
            "unpartitioned Window in qx05 plan:\n" + m.group(0)
        )


def test_no_value_buffering_percentile_in_declared_queries(spark):
    """No declared query may use the exact percentile() AGGREGATE — it
    buffers a whole group's value multiset in one task's aggregation
    buffer (the 100x-memory hazard).  Exact quantiles go through the
    rank-based operator (operators/percentile.py); sketch quantiles
    through approx_percentile.  Source-level guard over queries.py."""
    import inspect
    import re as _re

    import ros_sql_spark.plans.queries as q

    src = inspect.getsource(q)
    hits = [
        ln
        for ln in src.splitlines()
        if _re.search(r"(?<!approx_)percentile\s*\(", ln)
        and "exact_percentiles" not in ln
        and "``" not in ln  # docstring mentions
        and not ln.lstrip().startswith("#")
    ]
    assert not hits, f"value-buffering percentile() in queries.py: {hits}"


def test_q44_qx04_plan_is_rank_based(spark):
    """q44/qx04 physical plans: a window over the (group, value)
    pre-aggregate (spillable sort), never a percentile aggregate
    expression."""
    for name in ("q44_percentiles", "qx04_winsorized_stats"):
        p = plan_of(spark, name)
        assert "percentile" not in p, name
        assert "Window" in p, name


def test_connected_components_round_job_budget(spark):
    """The label-propagation loop must fuse two hops per materialization
    round with the convergence check RIDING the checkpoint job
    (Observation/CollectMetrics): for a diameter-5 chain the whole call
    is 1 edge checkpoint + ceil(5/2)+1 = 4 round checkpoints and ZERO
    driver count() actions — the pre-r7 shape (1-hop rounds, separate
    changed-count job) materialized 8 rounds and counted 6 times.
    Raw Spark job ids are NOT a usable budget under AQE (each shuffle
    stage submits its own job), so the pin counts the structural
    actions instead."""
    from unittest import mock

    from ros_sql_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        "id_a long, id_b long",
    )
    # patch the CONCRETE class (pyspark.sql.DataFrame is an abstract
    # facade in Spark 4; the classic subclass owns the methods)
    DataFrame = type(edges)
    ckpts = []
    real_ckpt = DataFrame.localCheckpoint
    counts = []
    real_count = DataFrame.count

    def spy_ckpt(self, *a, **kw):
        ckpts.append(1)
        return real_ckpt(self, *a, **kw)

    def spy_count(self, *a, **kw):
        counts.append(1)
        return real_count(self, *a, **kw)

    with mock.patch.object(DataFrame, "localCheckpoint", spy_ckpt), \
            mock.patch.object(DataFrame, "count", spy_count):
        # force the LOOP: the round-14 small-graph fast path would
        # solve this chain in one union-find task (budget asserted
        # separately below)
        comp = connected_components(edges, small_graph_edges=0)
    assert len(ckpts) == 5, (
        f"{len(ckpts)} materializations (want 1 setup + 4 two-hop rounds)"
    )
    assert not counts, "convergence must ride the checkpoint, not count()"
    got = sorted((r.id, r.component) for r in comp.collect())
    assert got == [(i, 1) for i in range(1, 7)] + [(10, 10), (11, 10)]

    # round-14 fast path: 1 edge pin + 1 pinned union-find label frame,
    # still zero driver count() actions, identical labels
    ckpts.clear()
    counts.clear()
    with mock.patch.object(DataFrame, "localCheckpoint", spy_ckpt), \
            mock.patch.object(DataFrame, "count", spy_count):
        comp_fast = connected_components(edges)
    assert len(ckpts) == 2, (
        f"{len(ckpts)} materializations (want edge pin + finisher pin)"
    )
    assert not counts
    got_fast = sorted((r.id, r.component) for r in comp_fast.collect())
    assert got_fast == got


def test_qx07_qx08_plan_shapes(spark):
    """qx07: the incremental prefix probe is equi-join-only (no
    cartesian — frequent shingles never enter the candidate join);
    qx08: the scalar corpus size arrives as a broadcast 1-row aggregate
    (BroadcastNestedLoopJoin over exactly one row, q36's idiom), with
    no CartesianProduct and no Window anywhere."""
    p7 = plan_of(spark, "qx07_setsim_incremental")
    assert "CartesianProduct" not in p7
    p8 = plan_of(spark, "qx08_unigram_logprob")
    assert "CartesianProduct" not in p8
    assert "Window" not in p8
    assert "BroadcastNestedLoopJoin" in p8


def test_qx11_qx12_plan_shapes(spark):
    """qx11: every window is PARTITIONED by shard (16 independent
    spillable sorts — never a global single-partition rank); qx12: the
    epoch-factor dim joins as a broadcast, no cartesian."""
    p11 = plan_of(spark, "qx11_shard_assignment")
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p11):
        assert "shard" in m.group(1), (
            "unpartitioned window in qx11 plan:\n" + m.group(0)
        )
    assert "SinglePartition" not in p11
    p12 = plan_of(spark, "qx12_epoch_mixture")
    assert "BroadcastHashJoin" in p12
    assert "CartesianProduct" not in p12
    assert "SortMergeJoin" not in p12


def test_qx13_qx14_qx15_star_join_shapes(spark):
    """Multi-join trees (round-7 directive): with the size-based
    broadcast heuristic OFF, every dimension join must STILL be a
    BroadcastHashJoin (the explicit hints, not small-file luck) and the
    fact spine lineitem⋈orders must be the ONLY SortMergeJoin.  Date /
    segment / returnflag filters reach the parquet scans."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p13 = plan_of(spark, "qx13_shipping_priority")
        p14 = plan_of(spark, "qx14_local_supplier_volume")
        p15 = plan_of(spark, "qx15_returned_items")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    # qx13: the customer-keyset semi is UNHINTED (a 1/5 keyset grows
    # with the corpus — data-sized at 100 TB, round-8 review), so with
    # the heuristic OFF it degrades to the scale-honest shuffle semi:
    # two SMJ (semi + fact spine), zero forced broadcasts
    assert p13.count("SortMergeJoin") == 2, p13
    assert p13.count("BroadcastHashJoin") == 0 and "LeftSemi" in p13
    assert "TakeOrderedAndProject" in p13
    assert "LessThan(o_orderdate" in p13  # pushed to orders scan
    assert "GreaterThan(l_shipdate" in p13  # pushed to lineitem scan
    # ...and with the size heuristic ON (bench reality) the optimizer
    # still picks the broadcast semi while the keyset fits
    p13_auto = plan_of(spark, "qx13_shipping_priority")
    assert "BroadcastHashJoin" in p13_auto and "LeftSemi" in p13_auto

    # qx14: 6-table star — region/nation/supplier broadcast, but the
    # region-cut CUSTOMER joins orders by SHUFFLE (a 1/5 customer
    # slice is data-sized at 100 TB; the original broadcast hint was
    # the round-8 review's scale hazard).  Two SMJ: orders⋈customer on
    # custkey, lineitem⋈orders on orderkey.  The nation⋈region subtree
    # plans twice (customer and supplier branches; the broadcast
    # EXCHANGE is shared at runtime via ReusedExchange): 5 BHJ nodes.
    assert p14.count("SortMergeJoin") == 2, p14
    assert p14.count("BroadcastHashJoin") == 5, p14
    assert "EqualTo(r_name,ASIA)" in p14  # pushed to region scan
    assert "GreaterThanOrEqual(o_orderdate" in p14

    # qx15: aggregate-early — partial agg under the one SMJ, the
    # top-20 cut via TakeOrdered, dims probed by broadcast afterwards
    assert p15.count("SortMergeJoin") == 1, p15
    assert "TakeOrderedAndProject" in p15
    assert p15.count("BroadcastHashJoin") >= 2, p15
    assert "EqualTo(l_returnflag,R)" in p15  # pushed to lineitem scan
    assert "partial_sum" in p15  # map-side combine before the shuffle


def test_qx16_qx17_qx18_qx19_deep_join_shapes(spark):
    """Round-8 deep-join additions, size-based broadcast heuristic OFF
    (the hints, not small-file luck, must carry the shapes):
    qx16 = two DIFFERENT shuffle keys on the fact spine; qx17 =
    aggregate-vs-probe join co-keyed on l_partkey; qx18 = double fact
    self-join (semi + anti) co-partitioned on l_orderkey; qx19 =
    seven-instance tree with semi-reductions, two spine shuffles."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p16 = plan_of(spark, "qx16_volume_shipping")
        p17 = plan_of(spark, "qx17_small_quantity_revenue")
        p18 = plan_of(spark, "qx18_lone_returned_supplier")
        p19 = plan_of(spark, "qx19_market_share")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    # qx16: exactly two SMJ (orderkey then custkey — customer cut to
    # 2/25 nations is still data-sized at 100 TB, deliberately NOT
    # broadcast); supplier/nation legs broadcast; the nation-pair
    # inequality rides the custkey JOIN, never a post-join filter
    assert p16.count("SortMergeJoin") == 2, p16
    assert p16.count("BroadcastHashJoin") == 3, p16
    assert re.search(r"SortMergeJoin \[o_custkey#\d+L?\].*NOT \(supp_nation", p16), p16
    assert "GreaterThanOrEqual(l_shipdate" in p16  # pushed to scan

    # qx17: brand cut broadcast-SEMI onto BOTH lineitem legs before any
    # shuffle; one SMJ keyed l_partkey carrying the exact integer
    # threshold as a join condition
    assert p17.count("SortMergeJoin") == 1, p17
    assert p17.count("LeftSemi") == 2, p17
    assert "EqualTo(p_brand,Brand#12)" in p17  # pushed to part scan
    assert re.search(r"SortMergeJoin \[l_partkey#\d+L?\]", p17), p17

    # qx18: three orderkey-keyed shuffle joins (status semi, other-
    # supplier semi, other-returner anti) — co-partitioned fact legs;
    # supplier/nation broadcast; top-10 via TakeOrdered, and no
    # distinct feeding the semi (at-most-once match semantics)
    assert p18.count("SortMergeJoin") == 3, p18
    assert p18.count("LeftSemi") == 2 and p18.count("LeftAnti") == 1, p18
    assert "TakeOrderedAndProject" in p18
    assert "EqualTo(o_orderstatus,F)" in p18  # pushed to orders scan
    assert "EqualTo(l_returnflag,R)" in p18  # pushed to lineitem scans
    assert "HashAggregate" not in p18.split("SortMergeJoin")[-1], (
        "distinct sneaked under the semi-join build side:\n" + p18
    )

    # qx19: exactly two spine shuffles (orderkey inner, custkey SEMI —
    # the region cut of customer stays data-sized at 100 TB); part cut
    # and supplier/nation/region legs all broadcast; one aggregation
    # pass computes both conditional sums (no double scan)
    assert p19.count("SortMergeJoin") == 2, p19
    assert p19.count("BroadcastHashJoin") == 5, p19
    assert "EqualTo(p_type,PROMO)" in p19
    assert "EqualTo(r_name,AMERICA)" in p19
    assert p19.count("partial_sum") >= 1, p19


def test_qx20_qx21_shapes(spark):
    """qx20: the HAVING aggregate's own hash shuffle IS the join
    partitioning — no re-exchange between the agg and the orderkey
    join (exchange reuse on the aggregate-then-rejoin-same-key
    pattern); top-20 via TakeOrdered.  qx21: the global scalar is a
    1-row broadcast (never a window / collect), the comparison stays
    DECIMAL-exact, and the no-recent-orders test is a shuffle anti
    with the date cut pushed to the orders scan."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p20 = plan_of(spark, "qx20_large_volume_orders")
        p21 = plan_of(spark, "qx21_inactive_high_balance")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    assert p20.count("SortMergeJoin") == 2, p20
    assert "TakeOrderedAndProject" in p20
    assert "partial_sum" in p20  # map-side combine under the HAVING agg
    # exchange reuse: exactly one l_orderkey exchange (the agg's own);
    # the join consumes the agg partitioning directly
    assert len(re.findall(r"hashpartitioning\(l_orderkey", p20)) == 1, p20
    # the agg branch feeds the join through Sort only — no exchange
    # between Filter(_sq) and the SMJ
    seg = p20.split("SortMergeJoin")[2]  # left leg of the inner SMJ
    assert "Exchange hashpartitioning(l_orderkey" in seg, p20

    assert p21.count("SortMergeJoin") == 1 and "LeftAnti" in p21, p21
    assert "BroadcastNestedLoopJoin" in p21  # the 1-row scalar probe
    assert "Window" not in p21
    assert "GreaterThanOrEqual(o_orderdate" in p21  # pushed date cut
    # decimal-exact threshold: the multiplication comparison survives
    # into the physical plan (no double division anywhere)
    assert re.search(r"_bal#\d+ \* cast\(_n#\d+L as decimal", p21), p21


def test_qx22_qx23_qx24_qx25_final_tpch_shapes(spark):
    """Round-9 directive: the last TPC-H join/decorrelation classes,
    size-based broadcast heuristic OFF (hints must carry the shapes).
    qx22 = correlated scalar MIN as a min-window (ONE fact scan, ONE
    shuffle — the agg-then-rejoin draft planned the offers subtree
    twice); qx23 = disjunctive OR-of-ANDs as ONE equi-join with a
    residual condition and per-branch scan pushdown; qx24 = nested
    semi chain over an aggregate-threshold pair grain; qx25 = LIKE-cut
    profit tree with one fact-spine shuffle."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p22 = plan_of(spark, "qx22_min_cost_supplier")
        p23 = plan_of(spark, "qx23_disjunctive_join")
        p24 = plan_of(spark, "qx24_concentrated_pairs")
        p25 = plan_of(spark, "qx25_profit_tree")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    # qx22: the correlated-MIN is a Window over hashpartitioning
    # (l_partkey) — exactly ONE shuffle and ONE lineitem scan in the
    # whole query (the textbook decorrelation costs two of each); the
    # (partkey, suppkey, price) distinct reuses the window's
    # partitioning (no second Exchange); part/supplier cuts are
    # broadcast semis BEFORE the shuffle; top-100 via TakeOrdered
    assert p22.count("SortMergeJoin") == 0, p22
    assert p22.count("Window") == 1, p22
    assert len(re.findall(r"Exchange hashpartitioning", p22)) == 1, p22
    assert p22.count("lineitem.parquet") == 1, p22
    assert p22.count("LeftSemi") == 2, p22
    assert "TakeOrderedAndProject" in p22
    assert "EqualTo(p_type,STANDARD)" in p22  # pushed to part scan
    assert "EqualTo(r_name,EUROPE)" in p22  # pushed to region scan

    # qx23: ONE join total — the disjunction rides the broadcast hash
    # join as its residual (the BHJ node itself carries the brand
    # branches), never a post-join Filter or a nested-loop join; each
    # side's projection of the OR is pushed into its scan
    assert p23.count("BroadcastHashJoin") == 1, p23
    assert p23.count("SortMergeJoin") == 0, p23
    assert "BroadcastNestedLoopJoin" not in p23, p23
    m = re.search(r"BroadcastHashJoin \[l_partkey#\d+L?\], "
                  r"\[p_partkey#\d+L?\], Inner, BuildRight, \(\(",
                  p23)
    assert m, p23  # residual OR inside the join node
    assert p23.count("Or(Or(And(") >= 2, p23  # pushed to BOTH scans
    assert "EqualTo(l_returnflag,N)" in p23  # common conjunct pushed

    # qx24: one lineitem pass feeds the pair-grain aggregate (partial
    # map-side), the part LIKE-cut semi hits PAIR-grain rows (scan
    # shows the Contains push on part), and supplier⟕semi survivors
    # is the one shuffle semi
    assert p24.count("lineitem.parquet") == 1, p24
    assert "partial_sum" in p24
    assert p24.count("SortMergeJoin") == 1 and p24.count("LeftSemi") == 2, p24
    assert "Contains(p_name,red)" in p24  # LIKE '%red%' pushed
    assert re.search(r"SortMergeJoin \[s_suppkey#\d+L?\]", p24), p24

    # qx25: one fact-spine SMJ on orderkey; part (with retailprice
    # payload), supplier and nation probe by broadcast; the LIKE cut
    # reaches the part scan; decimal partial sums map-side
    assert p25.count("SortMergeJoin") == 1, p25
    assert p25.count("BroadcastHashJoin") == 3, p25
    assert re.search(r"SortMergeJoin \[l_orderkey#\d+L?\]", p25), p25
    assert "Contains(p_name,red)" in p25
    assert "partial_sum" in p25


def test_qx27_editdist_blocked_shape(spark):
    """The edit-distance join must stay BLOCKED: no cartesian or
    nested-loop self-join anywhere, the thresholded levenshtein only
    verifies candidates, and the gram explode is the outer Generate
    (the CLAUDE.md invariant — no inferred pre-filter re-inlining the
    per-row gram expression)."""
    p = plan_of(spark, "qx27_editdist_pairs")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "levenshtein" in p, p
    assert "Generate explode" in p, p
    # brand cut pushed into both part scans
    assert p.count("EqualTo(p_brand,Brand#11)") >= 1, p


def test_qx28_qx30_qx31_round10_shapes(spark):
    """Round-10 text/timeseries/stats additions keep their scale
    shapes: qx28 filters the token array to the query terms BEFORE the
    explode (fan-out = matches, not |tokens|), broadcasts the 3-row df
    table, and cuts top-k via TakeOrderedAndProject (never a global
    sort); qx30 does all window work on ONE user-keyed exchange; qx31
    broadcasts both marginals."""
    p = plan_of(spark, "qx28_bm25_topk")
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p
    assert p.count("BroadcastHashJoin") == 1, p  # 3-row df table
    assert "SortMergeJoin" not in p, p
    # the Generate's child already carries the filtered array: the
    # lambda filter must appear under/inside the explode, not as a
    # post-explode row filter on the full token fan-out
    assert re.search(r"Generate explode", p), p
    assert "filter(" in p, p

    p = plan_of(spark, "qx30_interpolate")
    n_ex = len(re.findall(r"Exchange (hash|range)partitioning", p))
    assert n_ex <= 2, p  # daily agg + the single user window exchange
    assert "Generate explode" in p, p  # per-user dense axis, no calendar join
    assert "SortMergeJoin" not in p, p  # axis⋈daily rides the broadcast

    p = plan_of(spark, "qx31_pmi_matrix")
    assert p.count("BroadcastHashJoin") == 2, p  # both marginals broadcast
    assert "SortMergeJoin" not in p, p


def test_qx32_qx33_round10_shapes(spark):
    """qx32's three window passes and the run aggregate all ride ONE
    user_id exchange (no per-window re-shuffle); qx33's wedge joins
    stay key-equi — no cartesian beyond the 1-row stats combiners, no
    nested-loop on data-sized sides."""
    p = plan_of(spark, "qx32_scd2_intervals")
    n_ex = len(re.findall(r"Exchange hashpartitioning", p))
    assert n_ex == 1, p
    assert "CartesianProduct" not in p, p

    p = plan_of(spark, "qx33_triangle_count")
    assert "CartesianProduct" not in p, p
    # the only BNLJ inputs are the 1-row aggregate combiners
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p, p


def test_qx34_qx35_single_user_exchange(spark):
    """The sequence-stats and rolling-regression queries scan events
    ONCE and do all per-user window work on one user_id exchange;
    qx34's row-total normalizer is a window over the |states|²-row
    aggregate (the broadcast self-join draft re-derived the whole
    scan+window pipeline for the build side)."""
    p = plan_of(spark, "qx34_markov_transitions")
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1, p
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p

    p = plan_of(spark, "qx35_rolling_slope")
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1, p
    assert "CartesianProduct" not in p, p


def test_qx38_qx39_round10_shapes(spark):
    """qx38 ranks inside ONE lang exchange (per-group sampling never
    goes global); qx39's history table is NOT forced broadcast (a
    vocabulary can outgrow a broadcast at 100 TB — the size-based
    planner decides) and only the 1-row V scalar rides a broadcast."""
    p = plan_of(spark, "qx38_group_weighted_sample")
    assert len(re.findall(r"Exchange (hash|range)partitioning", p)) == 1, p
    assert "CartesianProduct" not in p, p

    p = plan_of(spark, "qx39_bigram_logprob")
    assert "CartesianProduct" not in p, p
    # the scalar V crossJoin is a 1-row BNLJ; no OTHER nested loop
    assert p.count("BroadcastNestedLoopJoin") <= 1, p


def test_qx29_pagerank_pinned_iteration_shape(spark):
    """The power iteration must run over the PINNED edge/degree tables
    (lazy localCheckpoint → ExistingRDD scans), never re-embed the
    lineitem⋈orders pair derivation per iteration: the final plan
    contains checkpoint scans and NO lineitem/orders file scans (the
    measured 2.5× module-docstring regression), and no cartesian
    anywhere (the 1-row N normalizer rides a broadcast)."""
    p = plan_of(spark, "qx29_pagerank")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert "lineitem" not in p, p
    assert "orders" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_qx41_heavy_hitters_shape(spark):
    """The Misra–Gries sketch counts on the FINE (event_type, user_id)
    grain (skew-immune partial-agged shuffle), then the compress rank
    is cut to k+1 rows per group per map task BEFORE the window
    exchange (partial+final WindowGroupLimit — the qx38 discipline);
    no join, no cartesian anywhere."""
    p = plan_of(spark, "qx41_heavy_hitters")
    assert "CartesianProduct" not in p, p
    assert "Join" not in p, p
    assert "WindowGroupLimit" in p, p
    assert re.search(r"WindowGroupLimit .*row_number\(\), 9, Partial", p), p
    assert "HashAggregate" in p, p  # partial-agged exact counts


def test_qx42_rollup_window_shape(spark):
    """Q67-class: the rollup expands AGGREGATED rows (Expand feeds the
    grouping-set exchange), customer/nation ride broadcasts, exactly
    one fact-fact shuffle join, and the rank window runs after the
    aggregate — no cartesian anywhere."""
    p = plan_of(spark, "qx42_rank_over_rollup")
    assert "CartesianProduct" not in p, p
    assert "Expand" in p, p
    # customer+nation always broadcast; at test SF the size heuristic
    # broadcasts the fact join too (unhinted, data-sized at scale)
    assert p.count("BroadcastHashJoin") >= 2, p
    assert re.search(r"WindowGroupLimit .*row_number\(\), 5, Partial", p), p


def test_qx43_intersect_semi_shape(spark):
    """Q14/Q38-class: the 3-channel INTERSECT compiles to semi joins
    over distinct key sets (no payload widening), and the Σ/n gate is
    a 1-row scalar broadcast over the PINNED per-user aggregate
    (round-12 fix: the round-11 version ran an unpartitioned window —
    a SinglePartition SORT of a |users|-sized frame, the verdict's one
    `weak`)."""
    p = plan_of(spark, "qx43_channel_intersect")
    assert "CartesianProduct" not in p, p
    assert "LeftSemi" in p, p
    # the gate: exactly one nest-loop, and it is the 1-row identity
    # broadcast (qx21 idiom) — never a data-sized build
    assert p.count("BroadcastNestedLoopJoin") == 1, p
    assert "IdentityBroadcastMode" in p, p
    # per_user is checkpoint-pinned: the purchase scan+aggregate runs
    # ONCE (outside this plan); both gate and probe read ExistingRDD
    assert "ExistingRDD" in p, p
    assert "partial_sum(cast(value" not in p, p
    # the only SinglePartition is the scalar aggregate's combine
    # (constant rows per partition) — never a Sort/Window over data
    assert "Window" not in p, p
    assert not re.search(r"Sort \[[^\n]*\n[^\n]*Exchange SinglePartition", p), p


def test_qx44_profile_pinned_once(spark):
    """Q64-class: the shared profile must be checkpoint-pinned (the
    measured 15% win — exchange reuse never fires across the two
    differing projections), so the final plan joins two ExistingRDD
    scans and contains NO second fact pipeline (no lineitem/orders
    file scans at all)."""
    p = plan_of(spark, "qx44_shared_pipeline_selfjoin")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert "lineitem" not in p, p
    assert "orders.parquet" not in p, p


def test_qx45_qx46_qx47_round11_shapes(spark):
    """qx45: all 16 EWMA lags ride ONE Window node on ONE user_id
    exchange over the per-day aggregate; qx46: the bitwise aggregates
    combine map-side (partial agg), no join anywhere; qx47: the listagg/bool aggregate
    partial-combines on one user_id exchange, no join."""
    p = plan_of(spark, "qx45_ewma_smooth")
    assert "CartesianProduct" not in p and "Join" not in p, p
    assert p.count("Window ") == 1, p
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", p)) == 1, p

    p = plan_of(spark, "qx46_bitmask_rollup")
    assert "CartesianProduct" not in p and "Join" not in p, p
    assert "partial_" in p, p  # bitwise aggs combine map-side

    p = plan_of(spark, "qx47_seq_listagg")
    assert "CartesianProduct" not in p and "Join" not in p, p
    assert "partial_" in p, p  # collect_list/bool aggs combine map-side
    assert len(re.findall(r"Exchange (hash|range)partitioning", p)) == 1, p


# ---------------------------------------------------------------------------
# Suite-wide invariants (round-12 directive #2): the SinglePartition
# claim lived as SURVEY prose re-checked by hand, and a new hazard
# (qx43's |users|-sized window) slipped in the same round the prose was
# written.  This test compiles EVERY declared query and enforces the
# allowlist mechanically.  Marked slow: ~150 plan compilations.
# ---------------------------------------------------------------------------

# Queries allowed to sort/window a single partition: the frame must be
# provably CONSTANT-sized (not data-sized).  qx36's global window runs
# over the month calendar (~|months| rows) — documented exception.
_GLOBAL_SORT_ALLOW = {"qx36_revenue_growth"}

# Benign SinglePartition parents besides the keyless-agg combine: the
# star-components small-graph finisher (round-14) repartition(1)s into
# its union-find MapInPandas ONLY when the Observation-carried edge
# count is ≤ small_graph_edges (200k default) — COUNT-GATED, never
# data-sized; at 100 TB a big graph keeps looping star rounds instead.
_BOUNDED_SINGLE_TASK = re.compile(r"MapInPandas _uf\(")

# Parent node a SinglePartition exchange may feed outside the allowlist:
# a KEYLESS aggregate combine — its input is one partial-agg row per
# upstream partition (constant per partition), never the data itself.
_SCALAR_COMBINE = re.compile(
    r"(HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[\]"
)


@pytest.mark.slow
def test_suite_wide_single_partition_allowlist(spark):
    """Every `Exchange SinglePartition` in every declared plan must be
    the combine stage of a 1-row scalar aggregate (parent = keyless
    aggregate), unless the query is in the constant-frame allowlist.
    Also re-asserts the two audit invariants that were previously
    prose: zero CartesianProduct and zero row-at-a-time Python
    (BatchEvalPython) anywhere in the suite."""
    bad: list[str] = []
    for name in sorted(QUERIES):
        p = plan_of(spark, name)
        if "CartesianProduct" in p:
            bad.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in p:
            bad.append(f"{name}: row-at-a-time Python (BatchEvalPython)")
        lines = p.split("\n")
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            parent = lines[i - 1] if i else ""
            if _SCALAR_COMBINE.search(parent):
                continue  # benign: constant rows per partition
            if _BOUNDED_SINGLE_TASK.search(parent):
                continue  # benign: count-gated single-task finisher
            if name in _GLOBAL_SORT_ALLOW:
                continue
            bad.append(
                f"{name}: SinglePartition feeding "
                f"{parent.strip()[:80]!r} — a data-sized global "
                "sort/window/exchange (one task at 100 TB); use the "
                "qx43 pin+broadcast idiom or justify in the allowlist"
            )
    assert not bad, "\n".join(bad)


def test_qx48_bfs_pinned_edges_no_fact_rescans(spark):
    """BFS unrolled to 3 declarative hops over the PINNED edge list:
    exchange reuse never fires across the hop joins (measured — 12
    lineitem scans unpinned), so the final plan must read the edges
    ExistingRDD and contain NO fact scans at all; the per-level
    distinct (UNION-dedup recursion) keeps frontiers |V|-bounded."""
    p = plan_of(spark, "qx48_bfs_reach")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert "lineitem" not in p and "orders.parquet" not in p, p
    assert p.count("Exchange SinglePartition") == 0, p


def test_qx49_qx50_qx51_round12_shapes(spark):
    """qx49: division gate is a 1-row broadcast (never a shuffle join),
    the only SinglePartition is the divisor's scalar combine; qx50:
    the cell frame is eager-pinned (no documents scan in the final
    plan), marginals ride broadcasts, the Σ/dof gate is the 1-row
    identity broadcast; qx51: lead window and (user, day) aggregate
    share ONE user_id-family exchange, no join anywhere."""
    p = plan_of(spark, "qx49_division")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p, p
    assert p.count("Exchange SinglePartition") == 1, p
    assert re.search(
        r"HashAggregate\(keys=\[\][^\n]*\n[^\n]*Exchange SinglePartition", p
    ), p

    p = plan_of(spark, "qx50_chisq_independence")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p and "documents" not in p, p
    assert p.count("BroadcastNestedLoopJoin") == 1, p
    assert "IdentityBroadcastMode" in p, p

    p = plan_of(spark, "qx51_twap")
    assert "CartesianProduct" not in p and "Join" not in p, p
    assert p.count("Window ") == 1, p
    assert len(re.findall(r"Exchange (hash|range)partitioning", p)) == 1, p
    assert "Exchange SinglePartition" not in p, p


def test_qx52_qx53_single_pass_shapes(spark):
    """qx52 (round-16 shape): one two-level aggregate branch PER
    profiled column, unioned — each branch's scan prunes to its own
    single column (total bytes read equal the old single 4-column
    scan), the value-grain pre-aggregate turns countDistinct into a
    plain count, and NO Expand multiplies the fact rows anywhere
    (the old one-aggregate form expanded every row ×5 before the
    partial combine); qx53: the 5-constraint report is ONE linear
    pipeline — one lineitem scan, one orders scan, one join, no
    per-constraint re-scans."""
    p = plan_of(spark, "qx52_column_profile")
    assert "CartesianProduct" not in p and "Join" not in p, p
    assert p.count("FileScan parquet") == 4, p
    assert "Expand" not in p, p
    assert "Union" in p, p
    # each branch reads exactly its own column
    for c in ("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"):
        assert re.search(r"ReadSchema: struct<" + c + ":", p), (c, p)

    p = plan_of(spark, "qx53_data_quality")
    assert "CartesianProduct" not in p, p
    assert p.count("FileScan parquet") == 2, p  # lineitem + orders, once each
    assert p.count("lineitem") == 1, p


def test_qx55_skyline_distributed_prefix_max(spark):
    """Skyline rides the DISTRIBUTED prefix-max decomposition, never a
    global window: the distinct-price frame is pinned (ExistingRDD —
    three consumers with different projections defeat exchange reuse),
    the only Window node is partitioned by the bucket id, the
    cross-bucket prefix is a ≤B-row broadcast self-join, and every
    SinglePartition exchange is a keyless scalar combine (no
    data-sized global sort — the qx43 rule).  Exactly ONE part
    FileScan survives in the final plan (the semi-join probe; the
    grain aggregate ran once at pin time)."""
    p = plan_of(spark, "qx55_skyline")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 1, p
    assert p.count("Window ") == 1, p
    assert re.search(r"Window \[[^\n]*\], \[_bkt", p), p
    assert "LeftSemi" in p, p
    assert not re.search(
        r"Sort \[[^\n]*\n[^\n]*Exchange SinglePartition", p
    ), p


def test_qx56_apriori_prune_before_enumeration(spark):
    """Association rules: pair candidates are enumerated per basket
    (double explode of the PRUNED item set — never a basket
    self-join), the frequent-item prune is a broadcast join BELOW the
    re-collect (A-priori property applied before enumeration), and
    both pins landed (baskets lazy, freq eager → the final plan reads
    ExistingRDDs, zero file scans — corpus work ran once at pin
    time).  Exactly two hash exchanges survive: the frequent-item
    re-collect on the basket key and the (ant, cons) pair count."""
    p = plan_of(spark, "qx56_assoc_rules")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 0, p
    assert p.count("Generate explode") == 3, p  # prune + pair pair
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 2, p
    assert "Exchange SinglePartition" not in p, p
    # the prune join sits BELOW the re-collect in the tree: the last
    # (deepest) broadcast join feeds the collect_set aggregate
    assert p.rindex("BroadcastHashJoin") > p.index(
        "ObjectHashAggregate"
    ), p


def test_qx57_single_pass_moments(spark):
    """Welch t-test: both samples' sufficient statistics ride ONE
    events scan (conditional aggregates — never two filtered scans
    joined), the type filter is pushed to parquet, partials combine
    map-side, and the only exchanges are the 7-row dow grain + the
    output sort.  No join, no SinglePartition anywhere."""
    p = plan_of(spark, "qx57_welch_ttest")
    assert "Join" not in p and "CartesianProduct" not in p, p
    assert p.count("FileScan parquet") == 1, p
    assert re.search(r"PushedFilters: \[[^\]]*In\(event_type", p), p
    assert "partial_count" in p and "partial_sum" in p, p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
    assert "Exchange SinglePartition" not in p, p


def test_qx58_calendar_pin_and_broadcast_index(spark):
    """Seasonal decomposition: the calendar-sized trend window runs
    once at pin time (final plan reads the ExistingRDD — the index
    aggregate and the output join are differing projections, the qx50
    rule), the 7-row dow index comes back by broadcast, and the final
    plan carries no file scan, no SinglePartition, exactly one hash
    exchange (the dow grain)."""
    p = plan_of(spark, "qx58_seasonal_decompose")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 0, p
    assert "BroadcastHashJoin" in p, p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
    assert "Exchange SinglePartition" not in p, p


def test_qx59_band_join_is_equi_and_rank_is_partitioned(spark):
    """Sorted-neighborhood: the global row number is derived from
    bucket prefix sums (every row_number window is PARTITIONED by the
    bucket — no global sort anywhere), and the rank-band predicate is
    an EQUI SortMergeJoin on the exploded probe ranks — never an
    inequality join or cartesian.  The token-set frame is pinned
    (ExistingRDD; zero file scans in the final plan)."""
    p = plan_of(spark, "qx59_sorted_neighborhood")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 0, p
    assert re.search(r"SortMergeJoin \[_probe", p), p
    # every window is bucket-partitioned
    for m in re.finditer(r"windowspecdefinition\(([^,]+),", p):
        assert m.group(1).startswith("_bkt"), p
    assert "Exchange SinglePartition" not in p, p


def test_qx60_segment_rank_is_bucket_partitioned(spark):
    """Gini per segment: ranking within a 5-value segment key must NOT
    be a Window.partitionBy(segment) — that sorts 1/5th of the corpus
    on one task.  The window partitions on (segment, bucket); the
    per-segment bucket offsets ride a broadcast of the tiny counts
    frame; the joined per-customer frame is pinned; the only
    SinglePartition is the [lo, hi] scalar combine."""
    p = plan_of(spark, "qx60_gini_concentration")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 0, p
    assert re.search(
        r"windowspecdefinition\(c_mktsegment#\d+, _bkt#\d+,", p
    ), p
    assert not re.search(
        r"Sort \[[^\n]*\n[^\n]*Exchange SinglePartition", p
    ), p


def test_qx61_single_pass_moment_fit(spark):
    """Closed-form OLS: all nine sufficient statistics ride ONE
    lineitem scan; no join, no SinglePartition — model fitting at
    100 TB is exactly one scan.  Round-15: the moments are TWO-LEVEL
    (per-(flag, partition) bigint partials, then the exact decimal
    merge — see the query docstring), so the plan carries TWO hash
    exchanges, both over at most |tasks|·|flags| partial rows — the
    corpus crosses zero exchanges either way."""
    p = plan_of(spark, "qx61_ols_regression")
    assert "Join" not in p and "CartesianProduct" not in p, p
    assert p.count("FileScan parquet") == 1, p
    assert "partial_sum" in p and "partial_count" in p, p
    assert "SPARK_PARTITION_ID" in p, p  # the two-level salt is present
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 2, p
    assert "Exchange SinglePartition" not in p, p


def test_qx62_no_unpartitioned_window_even_on_calendar(spark):
    """Changepoint: rank AND cumulative sum both come from the bucket
    decompositions (every window is _bkt-partitioned — the suite-wide
    no-SinglePartition rule stays mechanical even on the tiny daily
    frame); the daily grain is pinned, the (n, T) scalar broadcast,
    the top-3 a TakeOrdered, zero file scans in the final plan."""
    p = plan_of(spark, "qx62_changepoint")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 0, p
    for m in re.finditer(r"windowspecdefinition\(([^,]+),", p):
        assert m.group(1).startswith("_bkt"), p
    assert "TakeOrderedAndProject" in p, p
    assert not re.search(
        r"Sort \[[^\n]*\n[^\n]*Exchange SinglePartition", p
    ), p


def test_qx63_corpus_sized_cumulative_is_bucketed(spark):
    """KS test: the distinct-value grid is DATA-sized (unlike qx62's
    calendar frame), so the bucket-decomposed running sums are
    load-bearing — every window is _bkt-partitioned, the grid is
    pinned, the type filter reached the parquet scan at pin time, and
    the top-1 is a TakeOrdered.  No SinglePartition outside scalar
    combines."""
    p = plan_of(spark, "qx63_ks_test")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 0, p
    for m in re.finditer(r"windowspecdefinition\(([^,]+),", p):
        assert m.group(1).startswith("_bkt"), p
    assert "TakeOrderedAndProject" in p, p
    assert not re.search(
        r"Sort \[[^\n]*\n[^\n]*Exchange SinglePartition", p
    ), p


def test_qx64_partitioned_cumulative_is_bucketed(spark):
    """Weighted median: the per-flag cumulative weight must partition
    its window on (flag, bucket) — 3 flags alone would put 1/3 of the
    corpus-sized price grain on one task; the crossing value is an
    aggregate MIN over the qualifying suffix (no second window).
    Round-16: the window's input must be PRUNED to the crossing bucket
    (`_bkt = _bk` against the broadcast crossing frame) — over the full
    grain it re-buffers the whole corpus for rows that can never hold
    the min."""
    p = plan_of(spark, "qx64_weighted_median")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 0, p
    assert re.search(r"windowspecdefinition\(f#\d+, _bkt#\d+,", p), p
    # the `_bkt == _bk` prune folds into the broadcast join's keys
    assert re.search(r"\[_bkt#\d+, f#\d+\], \[_bk#\d+, f#\d+\]", p), p
    assert not re.search(
        r"Sort \[[^\n]*\n[^\n]*Exchange SinglePartition", p
    ), p


def test_qx65_two_group_rank_is_bucket_partitioned(spark):
    """Quantile normalization: the corpus-sized rank/bin pipeline runs
    ONCE at eager-pin time (its (g, bucket)-partitioned rank shape is
    the bucketed_row_number property-tested + qx60/qx64-guarded
    construction), so the FINAL plan reads the 40-row bin ExistingRDD
    with a broadcast reference join — no file scan, no window, no
    data-sized SinglePartition anywhere."""
    p = plan_of(spark, "qx65_quantile_normalize")
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" in p, p
    assert p.count("FileScan parquet") == 0, p
    assert "Window" not in p, p  # rank ran at pin time
    assert "BroadcastHashJoin" in p, p
    assert not re.search(
        r"Sort \[[^\n]*\n[^\n]*Exchange SinglePartition", p
    ), p


def test_qx54_exchange_minimal_crossover(spark):
    """Q51-class: the full outer must reuse the daily aggregates' own
    (user, day) partitioning (ZERO join exchange — joins need FULL-key
    co-partitioning, so windowing before the join would force a
    re-exchange per side: 7 exchanges measured on the naive form), and
    all four fill functions ride ONE user window: exactly 3 exchanges
    end-to-end, no SinglePartition anywhere."""
    p = plan_of(spark, "qx54_cumulative_crossover")
    assert "CartesianProduct" not in p, p
    assert p.count("Window ") == 1, p
    assert len(re.findall(r"Exchange (hash|range)partitioning", p)) == 3, p
    assert "Exchange SinglePartition" not in p, p
    assert "FullOuter" in p, p
