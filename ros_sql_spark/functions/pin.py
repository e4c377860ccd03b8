"""One way to pin a frame and one way to free it.

- ``pin(df, eager=...)``: ``localCheckpoint`` — truncates the logical
  plan (a ``LogicalRDD`` over the checkpoint blocks).
- ``cache(df)``: ``persist()`` — keeps the lineage; the cache is used
  by plans built while it is held.
- ``pin_scope()``: a context manager.  Every pin and cache taken while
  it is the innermost open scope is freed when it exits, also on
  error.  Outside any scope nothing is registered and the blocks wait
  for the ContextCleaner, which reclaims them only when the JVM
  Dataset is garbage collected.

Scopes are opened where a unit of work ends: once per streaming
micro-batch (``streaming/util.py::start_foreach_batch``), once per
query in ``bench.py``, and around functions whose pins never escape
(as a decorator, ``@pin_scope()`` gives each call a scope of its own).
Free only after every consuming action has run: a released checkpoint
has no lineage to recompute from, so a later action on it fails.  The
list a scope yields is what it frees on exit — a block may take a
cache out of it to free later, at a point of its own
(``pipeline.curate`` frees the pair operators' caches once components
has pinned the edges).

When to pin — one rule: pin a frame when it has more than one
consuming action, or when its consumers project it differently.
Exchange reuse dedups only canonically identical subtrees, and under
Spark 4 AQE per-stage replanning defeats even those when a frame is
embedded several times in one action (qx33: eager pins 0.74 → 0.14 s;
qx48's unrolled hops read 12 lineitem scans unpinned) — so "shared
within one action" is no reason to skip a pin.  A pin is a
materialization wave, though: measure it (the setsim index pin
measured 2.1 → 3.1 s and stayed out).

Eager or lazy follows from whether the next action would materialize
it anyway.  Lazy when it would: the first consumer fills the blocks
and the logical plan is truncated at once (driver-loop rounds, fused
star steps — ``cache()`` does not truncate and deepens analysis every
round).  Eager when the frame feeds a driver-side decision
(Observation counters, gate scalars) or would be referenced twice
inside one not-yet-run action: a lazy pin re-runs its child per
reference until its blocks exist.

Two hazards: ``repartition(key)`` right before a pin makes the pinned
frame carry hash(key) partitioning, so later joins on that (final)
attribute skip their exchange at runtime; and an Observation with no
exchange above it inside a lazily pinned subtree latches zero — keep
every observation below at least one exchange of the pinned plan.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

__all__ = ["pin", "cache", "pin_scope"]


class _Scopes(threading.local):
    """The open scopes, innermost last — per thread: concurrent
    streaming queries run their foreachBatch callbacks on separate
    threads, each inside its own batch scope."""

    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_scopes = _Scopes()


def _register(df: DataFrame) -> DataFrame:
    if _scopes.stack:
        _scopes.stack[-1].append(df)
    return df


def pin(df: DataFrame, *, eager: bool) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``, registered in the open scope."""
    return _register(df.localCheckpoint(eager=eager))


def cache(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered in the open scope."""
    return _register(df.persist())


def _free(df: DataFrame) -> None:
    if df.is_cached:
        df.unpersist()
        return
    # a checkpointed Dataset's analyzed plan is a LogicalRDD over the
    # checkpoint RDD: unpersist that RDD (non-blocking).  Internal API —
    # on any mismatch (plan shape, Spark version drift) fall back to
    # the ContextCleaner instead of breaking the caller.
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


@contextmanager
def pin_scope() -> Iterator[list[DataFrame]]:
    """Free every pin and cache taken inside the block when it exits."""
    held: list[DataFrame] = []
    _scopes.stack.append(held)
    try:
        yield held
    finally:
        _scopes.stack.pop()
        for df in held:
            _free(df)
