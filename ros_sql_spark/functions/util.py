"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "ensure_scan_parallelism",
    "assert_bigint_partial_margin",
]


_SIZE_SUFFIX = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _parse_bytes(v: str) -> int:
    """Parse a Spark size conf value ('134217728', '128m', '1g', '128mb')."""
    s = str(v).strip().lower()
    if s.endswith("b") and len(s) > 1:
        s = s[:-1]
    if s and s[-1] in _SIZE_SUFFIX:
        return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
    return int(s)


def assert_bigint_partial_margin(
    spark: SparkSession,
    per_row_max: int,
    min_row_bytes: int = 16,
    label: str = "",
) -> None:
    """Guard the two-level BIGINT-partial idiom's overflow margin.

    The cents-scaled BIGINT partials (q11/qx61, CLAUDE.md's heavy-
    decimal rule) bound each per-(group, input-partition) sum by
    rows-per-task × max-per-row-term < 2⁶³.  Rows-per-task is derived
    from ``spark.sql.files.maxPartitionBytes`` (each scan task reads at
    most that many bytes; rows are at least ``min_row_bytes``), so the
    documented margin holds only while that config stays near its
    default.  This plan-build-time check makes a config drift (e.g. a
    future 4 GiB maxPartitionBytes) fail loudly instead of silently
    wrapping a partial at production scale where no oracle would catch
    it (round-15 ADVICE).
    """
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "1g")
    rows_ceiling = max(1, _parse_bytes(raw) // min_row_bytes)
    if rows_ceiling * per_row_max >= 2**63:
        raise AssertionError(
            f"bigint-partial margin violated{f' ({label})' if label else ''}: "
            f"maxPartitionBytes={raw} allows ~{rows_ceiling:.3g} rows/task "
            f"x per-row term {per_row_max:.3g} >= 2^63 — a per-partition "
            "BIGINT partial could overflow; lower maxPartitionBytes or "
            "switch this aggregate back to decimal sums"
        )


def ensure_scan_parallelism(df: DataFrame) -> DataFrame:
    """Repartition iff the input scan has fewer files than cores.

    Single-row-group parquet tables (like the 500-row documents/
    embeddings test tables) plan as ONE task, serializing any
    expression-heavy projection onto one core.  At production scale the
    input already has >= cores files and this is a no-op.

    The probe is ``inputFiles()`` — plan inspection only, zero jobs,
    AQE or not — so the helper is safe on MID-PIPELINE frames (e.g.
    inside ``curate()``).  The eager twin this replaced probed
    ``df.rdd.getNumPartitions()``, which MATERIALIZES upstream query
    stages under AQE (measured: one real job per probe on a
    post-shuffle frame); it is gone so the hazard class cannot recur.
    With at-least-cores input files the probe is a no-op, and a
    post-shuffle frame over few files costs at most one tiny extra
    shuffle — never an eager job.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df  # non-file-backed plan: nothing to guard
    if 0 < n_files < target:
        return df.repartition(target)
    return df
