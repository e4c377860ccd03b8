"""Grid-bucketed SPATIAL operators (round-13): the scale-safe pattern
for distance predicates — candidate generation by coarse grid cell,
exact verification on the candidates — i.e. the banded-LSH/PPJoin
discipline (operators/dedup.py) applied to 2-D geometry.

Why a grid: a radius join's naive form is the all-pairs cross join
(the suite-wide plan test bans CartesianProduct for a reason).  With
cell size = radius, every true neighbor pair lands in the SAME cell or
one of its 8 neighbors, so expanding ONE side to its 3×3 cell
neighborhood and equi-joining on the cell key is a COMPLETE candidate
generator (proof: |Δx| ≤ r ⇒ the cells' x indices differ by ≤ 1, same
for y), and the join is an ordinary shuffled/broadcast equi-join the
optimizer can place.  Cost: 9× row expansion of the expanded side +
candidates ≈ points-per-cell-neighborhood per probe — at 100 TB the
shuffle keys are cell ids, distance math never leaves the matched
cell pairs.

Exactness: integer coordinates, squared-distance comparison (d² ≤ r²)
— no floats anywhere, so a SQL oracle reproduces every pair
bit-for-bit (qx68 verifies the generator's COMPLETENESS against a
naive all-pairs oracle).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window

from ros_sql_spark.functions.pin import pin

__all__ = ["grid_radius_join", "grid_knn_join", "grid_bbox_join"]


def grid_radius_join(
    probe: DataFrame,
    base: DataFrame,
    radius: int,
    probe_cols: tuple[str, str, str] = ("p_id", "px", "py"),
    base_cols: tuple[str, str, str] = ("b_id", "bx", "by"),
) -> DataFrame:
    """All (probe, base) pairs with squared Euclidean distance
    ≤ radius²: returns the probe/base id + coordinate columns plus
    ``d2``.  ``probe`` is the side expanded ×9 (its points are hashed
    to their 3×3 cell neighborhood) — pass the SMALLER side as
    ``probe``; ``base`` maps 1:1 to its own cell.  Coordinates must be
    NON-NEGATIVE integers (integer `div` truncation == floor only
    there; shift first if your domain is signed).  Column names must
    be disjoint between the two frames."""
    pid, px, py = probe_cols
    bid, bx, by = base_cols
    r = int(radius)
    if r <= 0:
        # div 0 would NULL every cell key and silently drop all pairs
        # (or raise mid-job under ANSI mode) — round-13 review
        raise ValueError(f"radius must be a positive integer, got {radius}")
    cells = F.array(
        *[
            F.struct(
                (F.expr(f"{px} div {r}") + F.lit(dx)).alias("_cx"),
                (F.expr(f"{py} div {r}") + F.lit(dy)).alias("_cy"),
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    # bare explode of a cheap literal-offset array — the
    # InferFiltersFromGenerate hazard is about EXPENSIVE exprs
    probes = probe.select(
        pid, px, py, F.explode(cells).alias("_c")
    ).select(pid, px, py, F.col("_c._cx").alias("_cx"), F.col("_c._cy").alias("_cy"))
    bases = base.select(
        bid,
        bx,
        by,
        F.expr(f"{bx} div {r}").alias("_cx"),
        F.expr(f"{by} div {r}").alias("_cy"),
    )
    dx = F.col(px) - F.col(bx)
    dy = F.col(py) - F.col(by)
    return (
        probes.join(bases, ["_cx", "_cy"])
        .withColumn("d2", dx * dx + dy * dy)
        .filter(F.col("d2") <= F.lit(r * r))
        .drop("_cx", "_cy")
    )


def grid_knn_join(
    probe: DataFrame,
    base: DataFrame,
    k: int,
    cell: int,
    probe_cols: tuple[str, str, str] = ("p_id", "px", "py"),
    base_cols: tuple[str, str, str] = ("b_id", "bx", "by"),
    max_rings: int = 64,
) -> DataFrame:
    """EXACT k nearest neighbors per probe point — (probe id/coords,
    ``rank`` 1..k, base id, ``d2``), ties broken deterministically by
    (d2, base id) — via EXPANDING-RING grid search (round-14, the
    second spatial family member after :func:`grid_radius_join`):

    Ring 1 equi-joins each pending probe's 3×3 cell neighborhood; ring
    R ≥ 2 joins only the NEW Chebyshev-distance-R shell of 8R cells
    (shells are disjoint and each base point maps to exactly one cell,
    so no (probe, base) pair is ever generated twice and no dedup is
    needed).  A probe SETTLES at ring R when it holds ≥ k candidates
    whose k-th best squared distance ≤ (R·cell)² — the bounded-miss
    argument: after ring R every base point within R·cell is already a
    candidate (|Δx| ≤ R·cell ⇒ cell x-indices differ ≤ R, same for y),
    so nothing outside the collected set can beat the k-th candidate.
    Settled probes leave the loop; only stragglers pay wider rings.
    The loop needs no fallback: at R = span (the probe∪base cell
    bounding-box side), the ring union covers every base cell and
    every probe settles unconditionally.

    Per-probe top-k pruning between rings is lossless (the candidate
    set only grows, so a row outside the current top-k can never enter
    the final top-k).  Everything integer (d2 = squared Euclidean), so
    a naive all-pairs SQL oracle reproduces the output bit-for-bit —
    the qx68 completeness discipline.

    100 TB shape: shuffle keys are cell ids then probe ids; the
    per-ring join touches only still-pending probes (work shrinks per
    ring); per-probe window groups are bounded by ring-cell occupancy.
    ``base`` is pinned once (probed by every ring — the
    several-separate-actions rule); each ring's ranked state is pinned
    because three consumers read it (output slice, pending anti-join,
    next ring's carry-forward).  Coordinates must be NON-NEGATIVE
    integers; pass the smaller/query side as ``probe``.
    """
    pid, px, py = probe_cols
    bid, bx, by = base_cols
    g = int(cell)
    if g <= 0:
        raise ValueError(f"cell must be a positive integer, got {cell}")
    if k <= 0:
        raise ValueError(f"k must be a positive integer, got {k}")

    bases = pin(base.select(
        F.col(bid),
        F.col(bx),
        F.col(by),
        F.expr(f"{bx} div {g}").alias("_cx"),
        F.expr(f"{by} div {g}").alias("_cy"),
    ), eager=True)

    ob0 = Observation()
    pend = pin(
        probe.select(pid, px, py)
        .observe(ob0, F.count(F.lit(1)).alias("n")),
        eager=True,
    )
    n_pending = ob0.get["n"] or 0

    b_mm = bases.agg(
        F.min("_cx"), F.max("_cx"), F.min("_cy"), F.max("_cy")
    ).first()
    if n_pending == 0 or b_mm[0] is None:
        # one side empty -> no pairs; preserve column names/types
        return (
            pend.join(bases, F.lit(False))
            .select(
                pid, px, py,
                F.lit(1).alias("rank"), F.col(bid),
                F.lit(0).cast("long").alias("d2"),
            )
            .limit(0)
        )
    p_mm = pend.select(
        F.expr(f"{px} div {g}").alias("_cx"),
        F.expr(f"{py} div {g}").alias("_cy"),
    ).agg(F.min("_cx"), F.max("_cx"), F.min("_cy"), F.max("_cy")).first()
    span = max(
        max(b_mm[1], p_mm[1]) - min(b_mm[0], p_mm[0]),
        max(b_mm[3], p_mm[3]) - min(b_mm[2], p_mm[2]),
        1,
    )
    if span > max_rings:
        raise ValueError(
            f"cell={g} needs up to {span} rings over this domain "
            f"(> max_rings={max_rings}) — use a coarser cell"
        )

    w_rank = Window.partitionBy(pid).orderBy("d2", bid)
    w_grp = Window.partitionBy(pid)
    best: DataFrame | None = None
    outs: list[DataFrame] = []
    for ring in range(1, span + 1):
        offs = [
            (dx, dy)
            for dx in range(-ring, ring + 1)
            for dy in range(-ring, ring + 1)
            if ring == 1 or max(abs(dx), abs(dy)) == ring
        ]
        cells = F.array(
            *[
                F.struct(
                    (F.expr(f"{px} div {g}") + F.lit(dx)).alias("_cx"),
                    (F.expr(f"{py} div {g}") + F.lit(dy)).alias("_cy"),
                )
                for dx, dy in offs
            ]
        )
        # bare explode of a cheap literal-offset array (the documented
        # cheap-explode class, same as grid_radius_join)
        probes = pend.select(
            pid, px, py, F.explode(cells).alias("_c")
        ).select(
            pid, px, py,
            F.col("_c._cx").alias("_cx"), F.col("_c._cy").alias("_cy"),
        )
        dxe = F.col(px) - F.col(bx)
        dye = F.col(py) - F.col(by)
        cand = probes.join(bases, ["_cx", "_cy"]).select(
            pid, px, py, F.col(bid), (dxe * dxe + dye * dye).alias("d2")
        )
        allc = cand if best is None else best.unionByName(cand)
        covered = ring >= span
        ob = Observation()
        ranked = pin(
            allc.withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k)
            .withColumn("_cnt", F.count(F.lit(1)).over(w_grp))
            .withColumn("_kth", F.max("d2").over(w_grp))
            .withColumn(
                "_settled",
                F.lit(covered)
                | (
                    (F.col("_cnt") >= k)
                    & (F.col("_kth") <= F.lit((ring * g) ** 2))
                ),
            )
            .observe(
                ob,
                F.sum(
                    F.when(
                        F.col("_settled") & (F.col("rank") == 1), 1
                    ).otherwise(0)
                ).alias("n_settled"),
            ),
            eager=True,
        )
        n_settled = ob.get["n_settled"] or 0
        outs.append(
            ranked.filter(F.col("_settled")).select(
                pid, px, py, "rank", bid, "d2"
            )
        )
        n_pending -= n_settled
        if n_pending <= 0:
            break
        settled_ids = ranked.filter(F.col("_settled")).select(pid)
        pend = pend.join(settled_ids, pid, "left_anti")
        best = ranked.filter(~F.col("_settled")).select(
            pid, px, py, bid, "d2"
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def grid_bbox_join(
    points: DataFrame,
    boxes: DataFrame,
    cell: int,
    point_cols: tuple[str, str, str] = ("p_id", "px", "py"),
    box_cols: tuple[str, str, str, str, str] = (
        "b_id", "x1", "y1", "x2", "y2"
    ),
    max_cells_per_box: int = 64,
) -> DataFrame:
    """All (point, box) pairs with the point INSIDE the axis-aligned
    rectangle [x1, x2] × [y1, y2] (inclusive bounds) — the third
    spatial family member (round-14): containment via the same grid
    discipline as radius/kNN.

    Each BOX rasterizes to the grid cells its rectangle covers
    (sequence × sequence of cell indices), each POINT maps 1:1 to its
    own cell, and the candidate join is an ordinary cell-key
    equi-join: a contained point's cell is necessarily among its
    box's covered cells (x1 ≤ px ≤ x2 ⇒ x1 div g ≤ px div g ≤
    x2 div g), so the generator is COMPLETE; the exact BETWEEN check
    runs only on candidates.  No cartesian anywhere.

    The fan-out side is the BOX (÷cell rasterization), so ``cell``
    should be sized to the box extent — a box spanning more than
    ``max_cells_per_box`` cells raises mid-scan (an assert_true rides
    the row filter, so the guard cannot be pruned away) instead of
    silently exploding the build side.  Degenerate boxes (x2 < x1)
    yield no cells and no pairs, matching BETWEEN semantics.
    Coordinates must be NON-NEGATIVE integers (div-as-floor).

    100 TB shape: shuffle keys are cell ids; per-cell skew is bounded
    by cell occupancy exactly like grid_radius_join; the 9×-class
    expansion rides the box side by contract.  explode_outer dodges
    the InferFiltersFromGenerate re-evaluation hazard (the cell
    array is data-dependent, not a literal — CLAUDE.md discipline);
    empty arrays (degenerate boxes) produce a NULL cell row that the
    equi-join drops.
    """
    pid, px, py = point_cols
    bid, x1, y1, x2, y2 = box_cols
    g = int(cell)
    if g <= 0:
        raise ValueError(f"cell must be a positive integer, got {cell}")
    ncx = F.expr(f"{x2} div {g}") - F.expr(f"{x1} div {g}") + 1
    ncy = F.expr(f"{y2} div {g}") - F.expr(f"{y1} div {g}") + 1
    cells = F.when(
        (F.col(x2) >= F.col(x1)) & (F.col(y2) >= F.col(y1)),
        F.flatten(
            F.transform(
                F.sequence(
                    F.expr(f"{x1} div {g}"), F.expr(f"{x2} div {g}")
                ),
                lambda cx: F.transform(
                    F.sequence(
                        F.expr(f"{y1} div {g}"), F.expr(f"{y2} div {g}")
                    ),
                    lambda cy: F.struct(
                        cx.alias("_cx"), cy.alias("_cy")
                    ),
                ),
            )
        ),
    )
    guard = F.assert_true(
        (F.col(x2) < F.col(x1)) | (F.col(y2) < F.col(y1))
        | (ncx * ncy <= F.lit(max_cells_per_box)),
        F.lit(
            f"grid_bbox_join: a box covers more than "
            f"{max_cells_per_box} cells of size {g} — use a coarser "
            "cell or smaller boxes"
        ),
    )
    rast = (
        boxes.select(bid, x1, y1, x2, y2, cells.alias("_cells"), guard.alias("_g"))
        .filter(F.col("_g").isNull())  # assert_true: NULL when it holds
        .select(
            bid, x1, y1, x2, y2, F.explode_outer("_cells").alias("_c")
        )
        .select(
            bid, x1, y1, x2, y2,
            F.col("_c._cx").alias("_cx"), F.col("_c._cy").alias("_cy"),
        )
    )
    pts = points.select(
        pid, px, py,
        F.expr(f"{px} div {g}").alias("_cx"),
        F.expr(f"{py} div {g}").alias("_cy"),
    )
    return (
        pts.join(rast, ["_cx", "_cy"])
        .filter(
            F.col(px).between(F.col(x1), F.col(x2))
            & F.col(py).between(F.col(y1), F.col(y2))
        )
        .drop("_cx", "_cy")
    )
