"""Dataset maintenance for 100 TB parquet estates: sized clustered
writes and small-file compaction.

Why this exists: a day of streaming ingest (or any
shuffle-partitioned write) leaves each hive-partition fragmented into
``#tasks`` files.  At cluster scale that is thousands of multi-KB
files per partition — scan throughput collapses (driver file-listing
time, one short-lived task per file, no row-group pruning leverage).
The two entry points here are the standing remedies:

- :func:`write_dataset` prevents fragmentation at write time: one
  writing task per hive-partition (hash repartition on the partition
  columns) + ``maxRecordsPerFile`` to split the big ones, and
  optional ``sortWithinPartitions`` clustering so row-group min/max
  pruning has something to bite on.
- :func:`compact_dataset` repairs an already-fragmented store:
  driver-side file listing (the same control-plane walk every
  compaction planner does), pick only partitions whose average file
  size is below ``min_fill * target_file_bytes``, and rewrite JUST
  those via the dynamic-partition-overwrite pattern proven in
  streaming/rollup.py (materialize-before-overwrite, resolved-mode
  assertion).  Untouched partitions' files are not rewritten, not
  even re-listed by the write job.

Atomicity note (honest): plain parquet directories have no
transaction log, so partition replacement is only as atomic as the
FileCommitProtocol's commit (staged files published, then old files
dropped).  A reader racing the commit can see a partition mid-swap.
Table formats (Iceberg/Delta) exist to close exactly this gap; this
module keeps the engine dependency-free and documents the window.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ros_sql_spark.functions.pin import pin, pin_scope


def write_dataset(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a parquet dataset with file-count hygiene.

    - ``partition_by``: hive partition columns.  The frame is hash
      repartitioned on them first so each partition directory is
      written by one task — without this, every shuffle task holding
      rows for a partition opens its own file there (the
      ``#tasks × #partitions`` small-file explosion).
    - ``cluster_by``: sort columns WITHIN each writing task.  Parquet
      keeps per-row-group min/max; sorted data makes those ranges
      disjoint, so point/range scans skip whole row groups.
    - ``max_records_per_file``: re-splits a big partition's single
      task into multiple files so one hot partition does not produce
      a 50 GB file (file-level parallelism for readers).
    """
    out = df
    if partition_by:
        out = out.repartition(*[F.col(c) for c in partition_by])
    if cluster_by:
        out = out.sortWithinPartitions(*[F.col(c) for c in cluster_by])
    w = out.write.mode(mode)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


@dataclass
class PartitionStat:
    """One hive-partition directory's file census."""

    rel_dir: str  # "" for an unpartitioned root, else "k=v[/k2=v2]"
    n_files: int
    total_bytes: int

    @property
    def avg_bytes(self) -> float:
        return self.total_bytes / self.n_files if self.n_files else 0.0


def dataset_stats(spark: SparkSession, path: str) -> list[PartitionStat]:
    """Per-partition (file count, bytes) census via the Hadoop
    FileSystem API — a driver-side recursive listing, bounded by file
    count exactly like Spark's own InMemoryFileIndex; this is
    control-plane work, not a data scan."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    root_str = fs.makeQualified(root).toString().rstrip("/")
    stats: dict[str, PartitionStat] = {}
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS, hidden/staging files
        parent = p.getParent().toString()
        rel = parent[len(root_str) :].strip("/")
        cur = stats.get(rel)
        if cur is None:
            stats[rel] = PartitionStat(rel, 1, st.getLen())
        else:
            cur.n_files += 1
            cur.total_bytes += st.getLen()
    return sorted(stats.values(), key=lambda s: s.rel_dir)


def _touched_predicate(pcols: list[str], rel_dirs: list[str]):
    """Prunable selection of the touched partitions: predicates on the
    RAW partition columns (literals coerced to the column type), never
    on derived expressions — a filter on e.g. ``concat(k, '=', v)``
    would defeat partition pruning and turn the compaction read into a
    full-store scan.  Single partition column → one ``isin`` (prunes);
    multi-level → OR of per-partition AND chains (prunes; plan size is
    bounded by ``max_partitions_per_run``).  Values are matched by
    plain string form (dates, ints, plain strings); hive-escaped
    special characters are out of scope and documented."""
    parsed = [
        [seg.split("=", 1)[1] for seg in rd.split("/")] for rd in rel_dirs
    ]
    if len(pcols) == 1:
        return F.col(pcols[0]).isin([vals[0] for vals in parsed])
    preds = []
    for vals in parsed:
        conj = F.lit(True)
        for c, v in zip(pcols, vals):
            conj = conj & (F.col(c) == F.lit(v))
        preds.append(conj)
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


@pin_scope()  # nothing pinned here escapes
def compact_dataset(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 << 20,
    min_fill: float = 0.5,
    max_partitions_per_run: int = 1000,
) -> dict:
    """Rewrite fragmented partitions of a parquet dataset into
    near-``target_file_bytes`` files; leave healthy partitions alone.

    A partition qualifies when it has more than one file AND its
    average file size is below ``min_fill * target_file_bytes``.  The
    qualifying set (capped at ``max_partitions_per_run`` smallest-avg
    first, so repeated runs drain the backlog worst-first) is read
    back through the normal partitioned scan, materialized off the
    store files (localCheckpoint — the read-while-overwrite hazard,
    see streaming/rollup.py), and rewritten with dynamic partition
    overwrite at one task per partition + a row cap derived from the
    observed bytes/row, so output files land near the target size.

    Returns a summary dict:
    ``{partitions_compacted, files_before, bytes, skipped_healthy}``.
    """
    stats = dataset_stats(spark, path)
    if not stats:
        return {
            "partitions_compacted": 0,
            "files_before": 0,
            "bytes": 0,
            "skipped_healthy": 0,
        }
    small = [
        s
        for s in stats
        if s.n_files > 1 and s.avg_bytes < min_fill * target_file_bytes
    ]
    small.sort(key=lambda s: s.avg_bytes)
    capped = small[:max_partitions_per_run]
    summary = {
        "partitions_compacted": len(capped),
        "files_before": sum(s.n_files for s in capped),
        "bytes": sum(s.total_bytes for s in capped),
        "skipped_healthy": len(stats) - len(small),
    }
    if not capped:
        return summary

    df = spark.read.parquet(path)
    unpartitioned = len(capped) == 1 and capped[0].rel_dir == ""
    if unpartitioned:
        touched = df
        pcols: list[str] = []
    else:
        pcols = [seg.split("=", 1)[0] for seg in capped[0].rel_dir.split("/")]
        touched = df.filter(
            _touched_predicate(pcols, [s.rel_dir for s in capped])
        )

    # Size the output: bytes/row from the census, rows/file from the
    # target.  One count job over the touched (small, by definition)
    # partitions — control-plane cost.
    n_rows = touched.count()
    if n_rows == 0:
        return summary
    bytes_per_row = max(1.0, summary["bytes"] / n_rows)
    rows_per_file = max(1, int(target_file_bytes / bytes_per_row))

    if unpartitioned:
        n_files = max(1, math.ceil(summary["bytes"] / target_file_bytes))
        merged = pin(touched.coalesce(n_files), eager=True)
        merged.write.mode("overwrite").option(
            "maxRecordsPerFile", str(rows_per_file)
        ).parquet(path)
        return summary

    merged = pin(
        touched.repartition(*[F.col(c) for c in pcols]),
        eager=True,
    )
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "dynamic")
    try:
        assert spark.conf.get(conf_key).lower() == "dynamic", (
            "partitionOverwriteMode did not resolve to dynamic; refusing "
            "to overwrite (static mode would drop untouched partitions)"
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", str(rows_per_file))
            .partitionBy(*pcols)
            .parquet(path)
        )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return summary
