"""Order-blocked constructions that replace GLOBAL sorts/windows with
bucket-decomposed equivalents (SURVEY §2.3 qx55/qx59; the qx43 rule:
a data-sized ``Window.partitionBy()`` is one task at 100 TB).

Both operators rest on the same identity: if a bucket column is a
CONTIGUOUS-RANGE function of the leading sort key (a prefix, a monotone
binning), then any prefix aggregate over the global order decomposes
into
  (prefix aggregate across strictly-lower buckets — a ≤B-row frame)
  ∘ (prefix aggregate within the bucket — a PARTITIONED window),
because every row of a lower bucket precedes every row of a higher one.
The cross-bucket half is computed by a B×B broadcast self-join of the
bucket summary (never a SinglePartition window — B is small but the
rule is mechanical, tests/test_plans.py enforces it suite-wide).

``bucketed_row_number`` instantiates the identity for COUNT (an exact
global rank), ``bucketed_running_sum`` for SUM, ``skyline_2d`` for MAX
(the Pareto-dominance prefix maximum).  Property-tested against the
single-partition textbook forms in tests/test_ordered_ops.py.

Relationship to operators/rank.py::global_row_number (q14's engine):
rank.py is SELF-TUNING — ``repartitionByRange`` samples its own
boundaries, so it ranks any orderable key with no caller input, at the
cost of the range sampler's extra child execution (the CLAUDE.md
repartitionByRange hazard) and no per-group variant.  This module is
CALLER-BUCKETED — the caller supplies a monotone bucket column (a key
prefix, an affine bin, ``day div k``), buying: no sampling job, a
per-group ``partition_cols`` mode (the skew lever qx60/qx64 need), and
the same identity extended to running SUMs and dominance prefixes,
which a range partitioner cannot express.  Two tools, one rule: never
a data-sized SinglePartition sort."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from ros_sql_spark.functions.pin import pin

__all__ = [
    "affine_bucket",
    "bucketed_row_number",
    "bucketed_running_sum",
    "skyline_2d",
]


def affine_bucket(
    df: DataFrame,
    col: str,
    n_buckets: int | None = None,
    out: str = "_bkt",
    target_rows: int = 1_000_000,
    min_buckets: int = 64,
    max_buckets: int = 4096,
) -> DataFrame:
    """Append a MONOTONE range binning of ``col`` — the bucket column
    the operators below require, shared so the degenerate-range and
    boundary-capping logic lives once (round-12 self-review: five
    hand-copied sites).  The [lo, hi] scalar is a keyless combine
    crossJoin-broadcast onto every row (qx21 idiom); the binning
    floats are INTERNAL — any deterministic monotone assignment
    yields identical downstream results, so no cross-engine float
    boundary exists.  lo == hi (constant column) collapses to
    bucket 0.  Consumes ``df`` twice (scalar + main) — pin upstream if
    lineage is expensive.

    Bucket count is DATA-SCALED by default (round-13 directive #1 —
    the fixed B=64 capped corpus-sized-grain consumers at 64-way
    parallelism under the 100× lens): the same 1-row scalar that
    carries [lo, hi] also counts the frame, and
    B = clamp(ceil(N / target_rows), min_buckets, max_buckets)
    rides the broadcast as a column — no extra job, no driver action.
    ``target_rows`` bounds the expected per-bucket sort a downstream
    partitioned window pays; ``max_buckets`` keeps the B×B
    bucket-summary broadcast join safe (4096² = 16.8M cheap int
    comparisons, still map-side).  At local test scale the clamp floor
    keeps B = 64 — plans and measured numbers unchanged; at 10¹¹ rows
    B hits the cap and per-bucket work stays ~target_rows.  Pass an
    explicit ``n_buckets`` int to pin B (tests, known-tiny frames).

    NON-NULL PRECONDITION (round-13 ADVICE): ``col`` must not be NULL —
    a NULL value has no place in the monotone order the downstream
    operators require, so it maps to a NULL bucket (floor(NULL) stays
    NULL; F.least is NOT allowed to skip it into the top bucket, the
    silent-misrank trap ADVICE flagged).  A NULL bucket then drops the
    row at the equi-join in bucketed_row_number/bucketed_running_sum —
    loudly absent beats silently misranked.  Callers filter NULLs
    first, exactly as skyline_2d does."""
    lohi = df.agg(
        F.min(col).alias("_lo"),
        F.max(col).alias("_hi"),
        F.count(F.lit(1)).alias("_bn"),
    )
    if n_buckets is not None:
        b = F.lit(int(n_buckets))
    else:
        b = F.least(
            F.lit(max_buckets),
            F.greatest(
                F.lit(min_buckets),
                F.ceil(F.col("_bn") / F.lit(float(target_rows))),
            ),
        ).cast("int")
    width = (
        F.col("_hi").cast("double") - F.col("_lo").cast("double")
    ) / b.cast("double")
    bkt = (
        F.when(F.col(col).isNull(), F.lit(None))
        .when(F.col("_hi") == F.col("_lo"), F.lit(0))
        .otherwise(
            F.least(
                b - F.lit(1),
                F.floor(
                    (F.col(col).cast("double")
                     - F.col("_lo").cast("double")) / width
                ).cast("int"),
            )
        )
        .cast("int")
    )
    return (
        df.crossJoin(F.broadcast(lohi))
        .withColumn(out, bkt)
        .drop("_lo", "_hi", "_bn")
    )


def _bucket_prefix(
    summary: DataFrame,
    bucket_col: str,
    value_col: str,
    out: str,
    how: str = "sum",
) -> DataFrame:
    """Prefix aggregate (sum or max) of ``value_col`` over
    STRICTLY-LOWER buckets of the (small) per-bucket summary frame: a
    B×B broadcast left self-join — rows with no lower bucket surface
    NULL in ``out``."""
    lower = summary.select(
        F.col(bucket_col).alias("_pb"), F.col(value_col).alias("_pv")
    )
    agg = F.sum("_pv") if how == "sum" else F.max("_pv")
    return (
        summary.alias("a")
        .join(
            F.broadcast(lower),
            F.col("_pb") < F.col(f"a.{bucket_col}"),
            "left",
        )
        .groupBy(F.col(f"a.{bucket_col}").alias(bucket_col))
        .agg(agg.alias(out))
    )


def bucketed_row_number(
    df: DataFrame,
    bucket_col: str,
    order_cols: list[str],
    out: str = "_rn",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Exact 1-based row number over
    ``ORDER BY (bucket_col, *order_cols)`` — globally, or WITHIN each
    ``partition_cols`` group — with no global (or group-global) sort:
    rn = (Σ counts of the group's strictly-lower buckets) +
    row_number within the (group, bucket) cell.  Correct for ANY
    bucket sizes (empty ranges included — the prefix sum just skips
    them); the caller's only obligation is that ``bucket_col`` leads
    the intended order within a group (a key prefix or monotone
    binning of the first order column) and that the combination is a
    TOTAL order (ties would make the rank engine-dependent).

    ``partition_cols`` is the SKEW lever: ranking within a
    low-cardinality group (5 market segments over a 100 TB fact) via
    ``Window.partitionBy(group)`` sorts 1/5th of the corpus on one
    task; here the window partitions on (group, bucket) — B× finer —
    and the per-group prefix rides the tiny counts frame.

    Cost: one small per-(group, bucket) count, a (G·B)² broadcast
    join, one (group, bucket)-partitioned exchange + window.  Input
    is consumed twice (count + rank paths) — pin upstream if its
    lineage is expensive (qx59 pins the tokenized frame)."""
    pcols = list(partition_cols or [])
    keys = pcols + [bucket_col]
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_c"))
    lower = counts.select(
        *[F.col(c).alias(f"_p_{c}") for c in pcols],
        F.col(bucket_col).alias("_pb"),
        F.col("_c").alias("_pv"),
    )
    cond = F.col("_pb") < F.col(f"a.{bucket_col}")
    for c in pcols:
        cond = cond & (F.col(f"_p_{c}") == F.col(f"a.{c}"))
    starts = (
        counts.alias("a")
        .join(F.broadcast(lower), cond, "left")
        .groupBy(*[F.col(f"a.{c}").alias(c) for c in keys])
        .agg(F.coalesce(F.sum("_pv"), F.lit(0)).alias("_start"))
    )
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.join(F.broadcast(starts), keys)
        .withColumn(out, F.col("_start") + F.row_number().over(w))
        .drop("_start")
    )


def bucketed_running_sum(
    df: DataFrame,
    bucket_col: str,
    order_cols: list[str],
    value_col: str,
    out: str = "_cum",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Exact INCLUSIVE running sum of ``value_col`` over
    ``ORDER BY (bucket_col, *order_cols)`` — globally, or within each
    ``partition_cols`` group — with no global window: the prefix
    identity instantiated for SUM (count → :func:`bucketed_row_number`,
    max → :func:`skyline_2d`'s dominance prefix).  cum = (Σ value of
    the group's strictly-lower buckets) + inclusive running sum
    within the (group, bucket) cell.  NULL values contribute nothing
    (SQL sum semantics) but their rows still appear with the running
    total so far.  Same contract as bucketed_row_number: bucket_col
    must lead the intended order; the combination must be total."""
    pcols = list(partition_cols or [])
    keys = pcols + [bucket_col]
    sums = df.groupBy(*keys).agg(F.sum(value_col).alias("_bs"))
    lower = sums.select(
        *[F.col(c).alias(f"_p_{c}") for c in pcols],
        F.col(bucket_col).alias("_pb"),
        F.col("_bs").alias("_pv"),
    )
    cond = F.col("_pb") < F.col(f"a.{bucket_col}")
    for c in pcols:
        cond = cond & (F.col(f"_p_{c}") == F.col(f"a.{c}"))
    starts = (
        sums.alias("a")
        .join(F.broadcast(lower), cond, "left")
        .groupBy(*[F.col(f"a.{c}").alias(c) for c in keys])
        .agg(F.sum("_pv").alias("_soff"))
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = F.sum(value_col).over(w)
    # textbook window-sum NULL semantics (round-12 self-review fix):
    # NULL only when NO non-null value exists anywhere ≤ current row —
    # _soff NULL means "no values in lower buckets", run NULL means
    # "none so far within the bucket"; either alone must not poison
    # the carried total
    zero = F.lit(0)
    return (
        df.join(F.broadcast(starts), keys)
        .withColumn(
            out,
            F.when(
                F.col("_soff").isNull() & run.isNull(),
                F.lit(None),
            ).otherwise(
                F.coalesce(F.col("_soff"), zero) + F.coalesce(run, zero)
            ),
        )
        .drop("_soff")
    )


def skyline_2d(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """SKYLINE (Pareto frontier) of ``df`` under (minimize x,
    maximize y): rows for which no other row has x ≤, y ≥ with at
    least one strict.  Equal (x, y) duplicates are mutually
    non-dominating and all kept; NULL x/y rows are excluded (they
    have no dominance order).

    The distributive decomposition (Börzsönyi ICDE'01 + the prefix
    identity above): group to the distinct-x grain (gmax = max y per
    x — same-x dominance collapses to ``y = gmax``, and the strict
    prefix below needs distinct order keys), pin it (three differing
    projections), bin x by a monotone affine map into ``n_buckets``
    fixed ranges off the crossJoin-broadcast 1-row [lo, hi] (binning
    floats are INTERNAL — any deterministic monotone assignment
    yields the same frontier), prefix max across strictly-lower
    buckets via the B×B join, strict prefix max within the bucket on
    a PARTITIONED window, then LEFT SEMI ``df`` back on
    (x, y = gmax)."""
    x, y = F.col(minimize_col), F.col(maximize_col)
    base = df.filter(x.isNotNull() & y.isNotNull())
    pg = pin(
        base.groupBy(minimize_col)
        .agg(F.max(maximize_col).alias("_gmax")),
        eager=True,
    )
    pb = affine_bucket(pg, minimize_col, n_buckets)
    bmax = pb.groupBy("_bkt").agg(F.max("_gmax").alias("_bm"))
    prev = _bucket_prefix(bmax, "_bkt", "_bm", "_prevmax", how="max")
    wbkt = (
        Window.partitionBy("_bkt")
        .orderBy(minimize_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        pb.join(F.broadcast(prev), "_bkt")
        .select(
            minimize_col,
            "_gmax",
            F.greatest(
                F.col("_prevmax"), F.max("_gmax").over(wbkt)
            ).alias("_m"),
        )
        .filter(F.col("_m").isNull() | (F.col("_m") < F.col("_gmax")))
        .select(
            F.col(minimize_col).alias("_sx"), F.col("_gmax").alias("_sy")
        )
    )
    return base.join(
        sky,
        (x == sky["_sx"]) & (y == sky["_sy"]),
        "left_semi",
    )
