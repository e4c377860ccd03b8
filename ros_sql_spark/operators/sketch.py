"""KMV (k-minimum-values) cardinality sketches — mergeable distinct
counting and set-overlap estimation, all-JVM DataFrame ops.

The capability (Bar-Yossef et al. 2002; the Theta-sketch family's
public core): keep the k smallest values of a uniform hash over a set's
distinct members.  The k-th smallest value estimates the cardinality
(D̂ = (k-1)·M/v_k for hash domain [0, M)), and because bottom-k sets
MERGE (bottom-k of a union = bottom-k of the concatenated sketches),
the same k-row summary answers union / intersection / Jaccard questions
NO exact pre-aggregation could at 100 TB without shuffling every
distinct member: audience overlap across event types, corpus overlap
across sources, dedup-rate estimates between snapshots.

Engine-parity design: the hash is the repo's cross-engine 60-bit idiom
— first 15 hex digits of md5 as a BIGINT (identical in Spark
``conv(substr(md5(x),1,15),16,10)`` and DuckDB
``CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)``) — so every
estimate is DETERMINISTIC and bit-for-bit reproducible by an oracle
running the same formula (q31's simhash discipline).  When a set has
fewer than k distinct members the sketch IS the set and the estimate
is exact.

Scale shape: the bottom-k per set is computed in TWO phases — a
per-(set, salt) window over ``pmod(h, salts)`` buckets bounds every
sort partition, then a second window over the ≤ salts·k survivors —
so no single task ever sorts a whole set's distinct members (the
single-window form would serialize a billion-member set onto one
core).  Downstream ops see ≤ k rows per set.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

from ros_sql_spark.functions.pin import pin

__all__ = ["KMV_DOMAIN", "kmv_hash", "bottom_k", "kmv_sketch",
           "kmv_estimate", "kmv_pair_overlap", "cm_build", "cm_estimate",
           "quantile_sketch", "quantile_estimate", "topk_sketch"]

# 15 hex digits → [0, 16^15) = [0, 2^60): fits BIGINT with headroom,
# exactly representable (with its k-1 multiples) in a double.
KMV_DOMAIN = 16 ** 15


def kmv_hash(key: Column) -> Column:
    """Cross-engine deterministic 60-bit uniform hash (md5-hex prefix)."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, 15), 16, 10
    ).cast("bigint")


def bottom_k(df: DataFrame, part_cols: list[str], k: int) -> DataFrame:
    """The k smallest ``h`` per partition group — THE rank discipline of
    every KMV sketch/merge in the engine (one definition; the
    batch/stream equivalence invariant depends on all call sites
    agreeing on it)."""
    w = Window.partitionBy(*part_cols).orderBy("h")
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def kmv_sketch(
    df: DataFrame,
    set_col: str,
    key_col: str,
    k: int = 64,
    salts: int = 32,
) -> DataFrame:
    """(set_col, h): the k smallest distinct member hashes per set."""
    hd = df.select(
        F.col(set_col), kmv_hash(F.col(key_col)).alias("h")
    ).distinct()
    # phase 1: bounded per-(set, salt) bottom-k; phase 2: exact bottom-k
    # over the ≤ salts·k candidates (identical to a single window by
    # construction — the global bottom-k is a subset of every
    # per-bucket bottom-k union)
    salted = hd.withColumn("_salt", F.pmod(F.col("h"), F.lit(salts)))
    cand = bottom_k(salted, [set_col, "_salt"], k).drop("_salt")
    return bottom_k(cand, [set_col], k)


def _est(n_sk: Column, vk: Column, k: int) -> Column:
    """KMV estimator: exact when the sketch holds the whole set,
    (k-1)·M/v_k otherwise.  The (k-1)·M literal is one exact double."""
    return F.when(n_sk < k, n_sk.cast("double")).otherwise(
        F.lit(float((k - 1) * KMV_DOMAIN)) / vk.cast("double")
    )


def kmv_estimate(sketch: DataFrame, set_col: str, k: int = 64) -> DataFrame:
    """(set_col, est): estimated distinct-member count per set."""
    per = sketch.groupBy(set_col).agg(
        F.count("*").alias("_n"), F.max("h").alias("_vk")
    )
    return per.select(
        set_col, _est(F.col("_n"), F.col("_vk"), k).alias("est")
    )


def _cm_pos(key: Column, i: int, width: int) -> Column:
    """Row-``i`` counter position for Count-Min: the same cross-engine
    md5-prefix hash family as KMV, salted by the row index through
    string concatenation (DuckDB reproduces it verbatim)."""
    salted = F.concat_ws("#", key.cast("string"), F.lit(str(i)))
    return F.pmod(
        F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("bigint"),
        F.lit(width),
    )


def _cm_probe_array(key: Column, depth: int, width: int) -> Column:
    """The depth-fold (row, pos) probe array — ONE definition shared by
    build and estimate (a drifted copy would silently probe the wrong
    counters)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _cm_pos(key, i, width).alias("pos"),
            )
            for i in range(depth)
        ]
    )


def cm_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-Min sketch (Cormode–Muthukrishnan 2005, public design) of
    ``key_col``'s frequency distribution: a (row, pos, c) counter table
    of AT MOST depth·width rows no matter how many rows or distinct
    keys flow in — the bounded-memory frequency summary (heavy-hitter
    estimation, frequency joins without carrying the raw distribution).
    One explode (depth-fold, depth is small) + one partial-agged
    groupBy; counters are LONGs.  Estimates are upward-biased only
    (collisions add, never subtract); min-over-rows bounds the bias."""
    probes = F.explode_outer(_cm_probe_array(F.col(key_col), depth, width))
    return (
        df.select(probes.alias("_p"))
        .groupBy(F.col("_p.row").alias("row"), F.col("_p.pos").alias("pos"))
        .agg(F.count("*").alias("c"))
    )


def cm_estimate(
    keys: DataFrame,
    counters: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """(key_col, est): Count-Min frequency estimate per queried key —
    min over the depth counters the key hashes to.  ``counters`` is
    broadcastable by construction (≤ depth·width rows), so the probe
    is a broadcast join however many keys are queried."""
    probes = keys.select(
        F.col(key_col),
        F.explode_outer(
            _cm_probe_array(F.col(key_col), depth, width)
        ).alias("_p"),
    ).select(
        key_col, F.col("_p.row").alias("row"), F.col("_p.pos").alias("pos")
    )
    return (
        probes.join(F.broadcast(counters), ["row", "pos"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )


def _bottom_k_rows(df: DataFrame, part_cols: list[str], k: int) -> DataFrame:
    """The k rows with smallest (h, v) per group — the quantile-sketch
    rank discipline.  Unlike :func:`bottom_k` (distinct member hashes —
    ties impossible), a ROW sample orders by (h, v): the value
    tie-break keeps the kept set deterministic even under an h
    collision, so the DuckDB oracle and the streaming merge reproduce
    the same sample bit-for-bit."""
    w = Window.partitionBy(*part_cols).orderBy("h", "v")
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def quantile_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    k: int = 256,
    salts: int = 32,
) -> DataFrame:
    """(group_col, v, h): a deterministic uniform ROW sample of size
    ≤ k per group — the k rows whose ``key_col`` md5-prefix hash is
    smallest — completing the mergeable-sketch family (cardinality =
    KMV, frequency = Count-Min, quantiles = this).

    The public design is bottom-k sampling (the sample-based cousin of
    KLL/GK quantile summaries): a uniform hash over a ROW-UNIQUE key
    ranks every row once and forever, so (a) the sketch is
    deterministic — the DuckDB oracle rebuilds it and reproduces every
    estimate bit-for-bit, the qx00/qx03 discipline — and (b) sketches
    MERGE: bottom-k of a union equals bottom-k of the concatenated
    sketches, which makes the streaming twin exact (batch-equivalence
    asserted in tests).  State is O(groups·k) forever; estimate error
    is the uniform-sample quantile error O(1/sqrt(k)); a group with
    ≤ k rows is sampled whole and its estimates are EXACT.

    Same two-phase salted bottom-k shape as :func:`kmv_sketch` — no
    single task ever sorts a whole group's rows.  NULL values are
    excluded (percentile semantics).  ``key_col`` must be row-unique
    (an id); a repeated key would under-weight its rows.
    """
    rows = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col),
        F.col(value_col).cast("double").alias("v"),
        kmv_hash(F.col(key_col)).alias("h"),
    )
    salted = rows.withColumn("_salt", F.pmod(F.col("h"), F.lit(salts)))
    cand = _bottom_k_rows(salted, [group_col, "_salt"], k).drop("_salt")
    return _bottom_k_rows(cand, [group_col], k)


def quantile_estimate(
    sketch: DataFrame, group_col: str, ps: dict[str, float]
) -> DataFrame:
    """(group_col, n_sample, <name per ps entry>): interpolated quantile
    estimates from the sample — the EXACT rank-based percentile of the
    ≤ k sampled values (operators/percentile.py), which the oracle
    replicates with the same double arithmetic.  Estimates are exact
    whenever the group fit the sketch whole."""
    from ros_sql_spark.operators.percentile import exact_percentiles

    est = exact_percentiles(sketch, [group_col], "v", ps)
    n = sketch.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_sample")
    )
    return n.join(est, group_col).select(
        group_col, "n_sample", *[F.col(name) for name in ps]
    )


def kmv_pair_overlap(
    sketch: DataFrame, set_col: str, k: int = 64, materialize: bool = True
) -> DataFrame:
    """All set pairs (a < b): estimated cardinalities, union, Jaccard,
    and intersection — from the sketches ALONE (≤ k rows per set; the
    raw sets are never touched again, which is the whole point of a
    mergeable sketch at scale).

    Union sketch = bottom-k of the two sketches' h-union; Jaccard ρ =
    fraction of union-sketch members present in both input sketches;
    intersection ≈ ρ · D̂(union) (the standard KMV combinators).

    ``materialize`` (default True) eagerly localCheckpoints the input
    sketch first: the pair machinery references it from SIX plan
    branches (a/b sides, union provenance, per-set estimates), and
    without materialization each branch re-derives the sketch from the
    RAW corpus — 24 exchanges/33 sorts in the static plan (measured;
    the audit tool caught it).  A sketch is ≤ sets·k rows by
    construction, so pinning it costs ~nothing and the corpus is
    scanned exactly once.  Pass False only when the caller already
    materialized (e.g. a snapshot-table sketch read)."""
    if materialize:
        sketch = pin(sketch, eager=True)
    a = sketch.select(F.col(set_col).alias("_ta"), "h")
    b = sketch.select(F.col(set_col).alias("_tb"), "h")
    pairs = (
        a.select("_ta").distinct()
        .join(b.select("_tb").distinct(), F.col("_ta") < F.col("_tb"))
    )
    # membership flags ride the union as provenance columns (max-merged
    # per hash) — no self-join, no ambiguity, one aggregation
    pa = pairs.join(a, "_ta").select(
        "_ta", "_tb", "h",
        F.lit(1).alias("_pa"), F.lit(0).alias("_pb"),
    )
    pb = pairs.join(b, "_tb").select(
        "_ta", "_tb", "h",
        F.lit(0).alias("_pa"), F.lit(1).alias("_pb"),
    )
    pu = (
        pa.unionByName(pb)
        .groupBy("_ta", "_tb", "h")
        .agg(F.max("_pa").alias("_ina"), F.max("_pb").alias("_inb"))
    )
    uk = bottom_k(pu, ["_ta", "_tb"], k)
    agg = uk.groupBy("_ta", "_tb").agg(
        F.count("*").alias("_ku"),
        F.max("h").alias("_vk"),
        F.sum(F.col("_ina") * F.col("_inb")).alias("_nboth"),
    )
    est_u = _est(F.col("_ku"), F.col("_vk"), k)
    jac = F.col("_nboth").cast("double") / F.col("_ku").cast("double")
    per = kmv_estimate(sketch, set_col, k)
    ea = per.select(F.col(set_col).alias("_ta"), F.col("est").alias("_ea"))
    eb = per.select(F.col(set_col).alias("_tb"), F.col("est").alias("_eb"))
    return (
        agg.join(ea, "_ta").join(eb, "_tb")
        .select(
            F.col("_ta").alias("set_a"),
            F.col("_tb").alias("set_b"),
            F.round("_ea", 6).alias("est_a"),
            F.round("_eb", 6).alias("est_b"),
            F.round(est_u, 6).alias("est_union"),
            F.round(jac, 6).alias("jaccard_est"),
            F.round(jac * est_u, 6).alias("est_intersection"),
        )
    )


def _mg_compress(counts: DataFrame, group_col: str, key_col: str,
                 k: int) -> DataFrame:
    """Deterministic Misra–Gries compress of exact per-key counters to
    at most k survivors per group — ONE definition shared by the batch
    sketch and the streaming merge (a drifted copy would break the
    batch/stream guarantee chain).

    ``counts``: (group_col, key_col, _c) exact counters, plus the prior
    cumulative error in ``_err`` (0 for a fresh build).  t = the
    (k+1)-th largest counter under (c DESC, md5(key) ASC) — the
    md5 tie-break is the repo's cross-engine determinism idiom, so the
    DuckDB oracle reproduces the kept set bit-for-bit.  Survivors store
    the LOWER bound c - t; a sentinel row with key NULL carries the
    group's cumulative error even when every counter drains to zero
    (dropping it would silently tighten later merges' bounds).

    Output: (group_col, key_col, c_low, err) — err constant per group;
    true count ∈ [c_low, c_low + err] for kept keys, ≤ err for absent
    ones, and err ≤ N/(k+1) cumulatively (Misra–Gries 1982; the merge
    bound is Agarwal et al. 2012's mergeable-summaries argument: each
    compress subtracts t from ≥ k+1 counters, so (k+1)·Σt ≤ N).
    """
    w = Window.partitionBy(group_col).orderBy(
        F.desc("_c"), F.md5(F.col(key_col).cast("string"))
    )
    # rk ≤ k+1 compiles to a partial+final WindowGroupLimit: each map
    # task forwards at most k+1 rows per group across the shuffle
    ranked = counts.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k + 1
    )
    wg = Window.partitionBy(group_col)
    t = F.max(
        F.when(F.col("_rk") == k + 1, F.col("_c")).otherwise(F.lit(0))
    ).over(wg)
    ranked = ranked.withColumn("_t", t).withColumn(
        "_preverr", F.max("_err").over(wg)
    )
    kept = ranked.filter(
        (F.col("_rk") <= k) & (F.col("_c") > F.col("_t"))
    ).select(
        group_col,
        key_col,
        (F.col("_c") - F.col("_t")).cast("bigint").alias("c_low"),
        (F.col("_t") + F.col("_preverr")).cast("bigint").alias("err"),
    )
    sentinel = (
        ranked.filter(F.col("_rk") == 1)
        .select(
            group_col,
            F.lit(None).cast(ranked.schema[key_col].dataType).alias(key_col),
            F.lit(0).cast("bigint").alias("c_low"),
            (F.col("_t") + F.col("_preverr")).cast("bigint").alias("err"),
        )
    )
    return kept.unionByName(sentinel)


def topk_sketch(
    df: DataFrame, group_col: str, key_col: str, k: int = 8
) -> DataFrame:
    """Misra–Gries heavy-hitters summary per group — the fourth member
    of the mergeable-sketch family (cardinality = KMV, frequency point
    estimate = Count-Min, quantiles = bottom-k sample, top-k frequent
    items = this): at most k+1 rows per group (k survivors + a NULL-key
    sentinel) no matter how many rows or distinct keys flow in.

    (group_col, key_col, c_low, err): every NON-NULL key whose true
    count exceeds err survives; true count ∈ [c_low, c_low + err];
    absent keys have true count ≤ err; err ≤ N_group/(k+1), where N
    counts the group's non-null-key rows (NULL keys are excluded —
    see the inline comment).  The summary is
    DETERMINISTIC — exact distributed counts compressed once under the
    (count DESC, md5(key) ASC) order — so the DuckDB oracle rebuilds it
    bit-for-bit (the qx00/qx03/qx05 sketch-parity discipline), and it
    MERGES: streaming/sketch.py::topk_merge adds counters and
    re-compresses, keeping the ε-guarantee under any micro-batch
    partition of the input (Agarwal et al. 2012).

    Scale shape: the heavy shuffle is the exact count on the FINE
    (group, key) grain — partial-agged map-side and skew-immune (a hot
    group spreads across its keys); the window then moves only the
    aggregated counters, cut to ≤ k+1 rows per group per map task by
    WindowGroupLimit before the exchange.  Deliberately NOT
    repartition(group_col)-fused (the qx35 subset trick): clustering
    raw rows by group alone would serialize a hot group onto one task
    at 100 TB, the exact skew this sketch exists to survive.
    """
    # NULL keys are EXCLUDED from the summary (countDistinct-style
    # semantics) — a NULL key would collide with the sentinel encoding
    # below: it would survive as a (group, NULL, c_low, err) row that
    # every consumer reads as the sentinel and topk_merge's
    # isNotNull() filter would drop its counter, silently breaking the
    # absent-key bound (round-11 review finding).
    counts = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(group_col, key_col)
        .agg(F.count("*").cast("bigint").alias("_c"))
        .withColumn("_err", F.lit(0).cast("bigint"))
    )
    return _mg_compress(counts, group_col, key_col, k)
