"""Fixed-iteration PageRank over an edge DataFrame.

The iterative-algorithm sibling of operators/dedup.py's connected
components: a damped power-iteration over a directed edge list,
unrolled a FIXED number of rounds so the whole computation is one
declarative plan (no driver-side convergence loop, no collects).

Scale shape (100 TB): the edge list and its out-degree table are
pinned with ONE lazy ``localCheckpoint`` each — they are consumed by
several separate actions (the node-count job plus the final query
action, and inside the latter the iteration joins embed them
2·n_iter times), which is exactly the several-separate-actions rule:
without the pin the fully-unrolled plan re-embeds the upstream edge
derivation per iteration (measured on the declared query at sf0.1:
58 statically-planned exchanges and 8–12 s vs 3.4–5.5 s pinned, a
~2.5× win — the opposite verdict from the within-one-action
setsim_index case).  Every iteration is then one (src-keyed join +
dst-keyed aggregation) pair over the pinned edges — the canonical
sparse mat-vec; score frames stay |V|-sized throughout.

Reference parity: strawlab/ros_sql has no graph operators; this
extends the engine the same way the dedup/components family does
(SURVEY.md §2.2 "beyond the reference" rows).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ros_sql_spark.functions.pin import pin

__all__ = ["pagerank", "triangle_count"]


def triangle_count(edges: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Exact triangle count of an undirected graph, 1-row result
    (n_nodes, n_edges, n_triangles).

    ``edges``: undirected edge rows in any orientation; self-loops and
    duplicates are dropped here.  The count uses the classic
    DEGREE-ORDERED orientation (each edge directed from its
    (degree, id)-smaller endpoint): every wedge is enumerated exactly
    once at its lowest-degree apex, so the intermediate wedge set is
    Σ d_out(v)² with d_out ≤ √(2·|E|) per node — the O(E^1.5) bound
    that survives power-law hubs, where the naive id-ordered join
    explodes on the highest-degree vertex (a hub with degree h
    contributes h² wedges under id order, h ≤ √E under degree order).
    The closing edge check is one join back onto the oriented edge
    set.  All joins are key-equi (no cartesian), wedge apex is the
    join key.

    Both the deduped edge set ``und`` and the oriented edge set ``o``
    are EAGERLY checkpoint-pinned (round-16).  The round-10 no-pin
    verdict ("one action, runtime exchange reuse dedups the shared
    subtrees — pin measured 25% slower") no longer holds under
    adaptive execution: AQE replans per query stage and the reuse
    never fires (the same finding as the qx48 loop-invariant edges in
    CLAUDE.md), so the static plan's 18 embeddings of ``und`` — and
    through it the caller's whole pair pipeline — all executed.
    Measured on the declared qx33 (q32 n-gram pairs upstream), solo
    min-of-5 at sf0.1: unpinned 0.74 s, und-pin 0.27 s, und+o pins
    0.14 s, counts identical.  At scale the pins are edge-list-sized
    (the pagerank edge-pin precedent) versus re-running the candidate
    pair generator once per embedding.
    """
    und = pin(
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).cast("bigint").alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).cast("bigint").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"]),
        eager=True,
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("_d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("_d").alias("_da"))
    db = deg.select(F.col("v").alias("b"), F.col("_d").alias("_db"))
    lt = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = pin(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lt, F.struct(F.col("_db").alias("d"), F.col("b").alias("v")))
            .otherwise(F.struct(F.col("_da").alias("d"), F.col("a").alias("v")))
            .alias("dst"),
        ),
        eager=True,
    )
    w1 = o.select(F.col("src"), F.col("dst").alias("x"))
    w2 = o.select(F.col("src"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "src").filter(
        (F.col("x.d") < F.col("y.d"))
        | ((F.col("x.d") == F.col("y.d")) & (F.col("x.v") < F.col("y.v")))
    )
    closed = wedges.join(
        o.select(
            F.col("src").alias("_cx"), F.col("dst.v").alias("_cy")
        ),
        (F.col("x.v") == F.col("_cx")) & (F.col("y.v") == F.col("_cy")),
        "left_semi",
    )
    tri = closed.agg(F.count("*").cast("bigint").alias("n_triangles"))
    stats = und.agg(
        F.count("*").cast("bigint").alias("n_edges"),
    ).crossJoin(
        deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    )
    return stats.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """PageRank after exactly ``n_iter`` damped power iterations.

    ``edges``: directed (src, dst) rows; parallel edges count once
    (deduplicated here unless the caller vouches with
    ``assume_distinct=True`` — a both-directions union of an
    already-distinct pair table is distinct by construction, and the
    redundant dropDuplicates is a full extra shuffle of the edge
    list).  Every node must have at least one OUT-edge (no
    dangling-mass redistribution is performed — callers with dangling
    nodes should add self-loops or reverse edges first; the bipartite
    both-directions construction used by the declared query satisfies
    this by construction).  Nodes with NO IN-edges are fine: each
    iteration left-joins the inbound sums back onto the pinned node
    set, so a source-only node keeps its teleport mass (1-d)/n
    instead of silently vanishing from the score frame (round-11
    advice: the old dst-keyed groupBy dropped src-only nodes and
    broke Σp == 1 on contract-compliant inputs like
    {(1,2),(2,1),(3,2)}).

    Returns (node, p) with Σp == 1 up to float error.  Deterministic
    given the edge set: the per-node inbound sums are float adds whose
    order varies with partitioning (round final output per the r6
    parity discipline).
    """
    e = edges.select(
        F.col(src_col).cast("bigint").alias("src"),
        F.col(dst_col).cast("bigint").alias("dst"),
    )
    if not assume_distinct:
        e = e.dropDuplicates(["src", "dst"])
    # pinned: consumed by the node-count action AND 2·n_iter join
    # instances of the final action (module docstring measurement).
    # Repartitioned on src FIRST (round-15): the pinned LogicalRDD
    # carries hash(src) outputPartitioning, so every iteration's
    # src-keyed join and the deg aggregation read the checkpoint
    # co-partitioned instead of re-exchanging the edge list per
    # iteration.  The static plan still shows the exchanges (a lazy
    # checkpoint's partitioning is unknown until it materializes);
    # the elision is a runtime effect — measured solo min-of-3 at
    # sf0.1 on the declared query's graph: 2.48 → 2.19 s, and at
    # cluster scale it removes 2·n_iter full edge shuffles.  The
    # repartition must land AFTER the cast projection: partitioning
    # by the pre-cast attribute does not satisfy the join's
    # requirement on the cast one (measured: no win when hashed
    # before the cast).
    # EAGER (round-15, second pass): the dangling-check action below
    # references the edge pin TWICE (its probe side and through deg's
    # child) — a lazy pin's child re-runs per reference until it
    # materializes (CLAUDE.md double-embed rule), so the scan + dedup
    # + repartition ran twice in the setup action.  The operator is
    # already eager (it runs the dangling/count actions), so
    # materializing the pin up front costs nothing extra.
    e = pin(e.repartition("src"), eager=True)
    # EAGER deg pin (round-16; was lazy + two sequenced setup actions):
    # with deg materialized up front, the dangling count and the node
    # count fuse into ONE crossJoin-of-aggs action over the two pins —
    # the round-15 fold regression (2.59 → ~3.0 s) was the LAZY pin's
    # double-embed (its subplan ran twice inside the single action),
    # which an eager pin cannot exhibit.  Same total work (the lazy pin
    # materialized during the dangling action anyway), one fewer
    # driver/job round: qx29 solo A/B min-of-6 2.44 → 2.31 s, values
    # identical.
    deg = pin(
        e.groupBy("src")
        .agg(F.count("*").alias("_deg")),
        eager=True,
    )
    # every node has an out-edge by contract, so deg IS the node set —
    # ENFORCED, not assumed: a dst-only node would silently vanish from
    # the score frame and its inbound edges' mass would be dropped by
    # the src join next iteration (round-10 review finding).
    row = (
        e.select(F.col("dst").alias("src"))
        .dropDuplicates()
        .join(deg, "src", "left_anti")
        .agg(F.count("*").alias("_dangling"))
        .crossJoin(deg.agg(F.count("*").alias("_n")))
        .collect()[0]
    )
    dangling, n = row["_dangling"], row["_n"]
    if dangling:
        raise ValueError(
            f"pagerank: {dangling} node(s) appear only as dst and have "
            "no out-edge — add reverse edges or self-loops first (the "
            "operator performs no dangling-mass redistribution)"
        )
    if n == 0:
        return deg.select(
            F.col("src").alias("node"), F.lit(0.0).alias("p")
        )
    # The rank frame CARRIES _deg (round-15, guide §2.4): the old loop
    # joined e⋈p and then ⋈deg every iteration just to divide by the
    # out-degree; keeping _deg as a column of the rank frame drops one
    # |V|-table join per iteration (n_iter fewer joins total — the
    # teleport rebuild below still reads deg, whose pin it shares).
    # Same addend set, same per-edge p/_deg division — the float
    # results are the identical sums (qx29 A/B: values identical,
    # 4/5 interleaved pairs faster, min 4.01 → 3.65 s in a degraded
    # band).
    # SHUFFLE_HASH hints on the node-sized sides (round-15, guide
    # §3.1): sort-merge re-SORTED the edge-sized stream side every
    # iteration even though the pinned edges arrive co-partitioned.
    # Building a per-partition hash of the rank/inbound frame instead
    # skips those sorts; the build side is |V|/numPartitions rows of
    # (src, _deg, p) under a uniform node-id hash — the bounded-build
    # case SHJ exists for, at any scale where shuffle partitions are
    # sized to the data (AQE).  Join-type change only — same addend
    # set, same float sums (qx29 A/B: values identical, 5/5
    # interleaved pairs faster, min 3.58 → 3.42 s).
    p = deg.select("src", "_deg", F.lit(1.0 / n).alias("p"))
    base = float((1.0 - damping) / n)
    for _ in range(n_iter):
        contrib = e.join(p.hint("shuffle_hash"), "src").select(
            F.col("dst").alias("src"),
            (F.col("p") / F.col("_deg")).alias("_c"),
        )
        # total over the pinned node set: dst ⊆ deg (enforced above),
        # but deg may hold src-only nodes the dst-keyed aggregation
        # would drop — the left join restores them at teleport mass
        inbound = contrib.groupBy("src").agg(F.sum("_c").alias("_s"))
        p = deg.join(inbound.hint("shuffle_hash"), "src", "left").select(
            "src",
            "_deg",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
            ).alias("p"),
        )
    return p.select(F.col("src").alias("node"), "p")
