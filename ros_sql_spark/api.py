"""Top-level record/playback API — the reference's user-facing workflow.

strawlab/ros_sql's user story: point ``record.py`` at live topics and a
DB URL → schemas are created, messages land as normalized rows, a
catalog describes the mapping; later ``playback.py`` replays messages in
original timestamp order, optionally a time range (SURVEY.md §3.1/§3.3).

Engine equivalent over a parquet store:

    record(spark, {"/robot1/pose": df}, store)   # R1+R7+R10+R15
    playback(spark, store, "/robot1/pose",       # R11+R13+R14
             t0_ns=..., t1_ns=...)

``record`` writes each topic's frame as it is, one table per topic at
``<store>/<namify(topic)>/<namify(topic)>``: Parquet stores the nested
fields itself with repetition and definition levels (the Dremel
layout), so NULL vs empty arrays, NULL structs and blobs roundtrip with
no bookkeeping columns.  ``playback`` loads the catalog, reads that one
table (snapshot stores drop files by manifest ts stats first), applies
the exact time range and returns rows ordered by record time — one scan,
one filter, one sort; sink-side pacing is the caller's concern, exactly
as in the reference.  Relational shredding (operators.normalize) is
kept for the SQL boundary only: ``streaming.record.record_stream_jdbc``.

Filesystem note: table data (parquet dirs, snapshot manifests) goes
through Spark/Hadoop IO and works on any supported filesystem; the
small catalog JSON is read/written with plain ``open()`` and is the one
LOCAL-PATH piece of this API — point ``store_path`` at a shared local/
NFS path, or persist the catalog out-of-band for object-store stores.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# unused here since stores keep messages nested; perfbench/layers.py
# wraps api.normalize by name, so the name stays importable
from ros_sql_spark.operators.normalize import normalize  # noqa: F401
from ros_sql_spark.sources.catalog import EngineCatalog, TopicEntry

__all__ = ["record", "playback", "expire", "CATALOG_FILE"]

CATALOG_FILE = "_rosql_catalog.json"


def table_path(store_path: str, table: str) -> str:
    """A topic's one table in a parquet or snapshot store."""
    return os.path.join(store_path, table, table)


def _topic_table(
    spark: SparkSession, store_path: str, entry: TopicEntry
) -> tuple[str, bool]:
    """(path, is_snapshot_table) of a topic's table, checked through
    the Hadoop FS abstraction — the store itself works on any
    Hadoop-supported filesystem (the CATALOG JSON is the one
    deliberately local piece; see module note)."""
    from ros_sql_spark.sources.snapshot import _fs

    path = table_path(store_path, entry.table)
    fs, p, jvm = _fs(spark, path)
    if not fs.exists(p):
        # A topic the catalog lists but whose table dir is gone is a
        # corrupted store — fail loudly and diagnosably, never play
        # back nothing (silent empty playback is worse than an error).
        raise FileNotFoundError(
            f"store directory {path} does not exist but the catalog "
            "lists its topic — the store was moved or partially deleted"
        )
    return path, fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/_manifests"))


def record(
    spark: SparkSession,
    topics: dict[str, DataFrame],
    store_path: str,
    key_cols: list[str] | None = None,
    ts_col: str | None = "ts_ns",
    mode: str = "append",
) -> EngineCatalog:
    """Record topic DataFrames into a parquet store (R1/R7/R10/R15).

    Each topic's frame is written unchanged to its one table (see
    :func:`table_path`), and the catalog created/merged with idempotent
    re-declare semantics.  ``key_cols`` defaults to the topic's first
    column plus ``ts_col`` if present — pass explicit keys for
    production use.
    """
    cat_path = os.path.join(store_path, CATALOG_FILE)
    catalog = (
        EngineCatalog.load(cat_path)
        if os.path.exists(cat_path)
        else EngineCatalog()
    )
    for topic, df in topics.items():
        # default keys honor the documented contract: first column PLUS
        # ts_col when present — dropping the timestamp made keys
        # non-unique for repeated-entity topics (round-8 review)
        if key_cols:
            keys = list(key_cols)
        else:
            keys = [df.columns[0]]
            if ts_col in df.columns and ts_col not in keys:
                keys.append(ts_col)
        entry = catalog.add_topic(
            topic,
            df.schema,
            key_cols=keys,
            ts_col=ts_col if ts_col in df.columns else None,
        )
        df.write.mode(mode).parquet(table_path(store_path, entry.table))
    os.makedirs(store_path, exist_ok=True)
    catalog.save(cat_path)
    return catalog


def playback(
    spark: SparkSession,
    store_path: str,
    topic: str,
    t0_ns: int | None = None,
    t1_ns: int | None = None,
) -> DataFrame:
    """Messages in record-time order (R11/R13/R14).

    Returns the topic's original schema, ordered by its timestamp column
    (exact ns), optionally restricted to ``[t0_ns, t1_ns)``.  Set-based:
    the whole replay is one scan + filter + sort, no per-row round-trips.
    """
    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))
    entry = catalog.topics[topic]
    path, is_snap = _topic_table(spark, store_path, entry)
    if is_snap:
        # snapshot store (record_stream_snapshot): read the current
        # manifest's files — atomic visibility.  Time-range data
        # skipping: the manifest records per-file ts min/max, so a
        # [t0, t1) replay drops whole files before Spark opens
        # anything (the hypertable chunk-exclusion shape).  Inclusive
        # form of the half-open interval: hi = t1 - 1 (integer ns).
        # Pruning never changes results; the exact filter below runs.
        from ros_sql_spark.sources.snapshot import snapshot_read

        prune = None
        if entry.ts_col and (t0_ns is not None or t1_ns is not None):
            prune = {
                entry.ts_col: (
                    t0_ns,
                    t1_ns - 1 if t1_ns is not None else None,
                )
            }
        df = snapshot_read(spark, path, prune=prune)
    else:
        # the catalog's schema, not footer inference: the read never
        # depends on which file is listed first and skips that pass
        df = spark.read.schema(catalog.schema_of(topic)).parquet(path)
    if entry.ts_col:
        ts = F.col(entry.ts_col)
        if t0_ns is not None:
            df = df.filter(ts >= F.lit(t0_ns))
        if t1_ns is not None:
            df = df.filter(ts < F.lit(t1_ns))
        # keys usually lead with ts_col (declare_topics): sort on it once
        df = df.orderBy(
            entry.ts_col, *[k for k in entry.key_cols if k != entry.ts_col]
        )
    return df


def expire(
    spark: SparkSession,
    store_path: str,
    topic: str,
    older_than_ns: int,
) -> dict[str, int]:
    """Retention for a SNAPSHOT store (record_stream_snapshot):
    atomically drop every message of ``topic`` recorded before
    ``older_than_ns``.  The missing half of R14's time-range story —
    playback selects a window, expire RECLAIMS everything before one.

    100 TB shape: one :func:`~ros_sql_spark.sources.snapshot.snapshot_delete`
    with ts bounds on the topic's table, so files wholly inside the
    expired range (the bulk of a time-appended store) leave the
    manifest METADATA-ONLY, and only the file straddling the cutoff
    rewrites.  Nested fields live in the same rows, so nothing else has
    to be purged; bytes are reclaimed by ``snapshot_vacuum``.  A rerun
    of the same expire finds no matching file and commits nothing
    (idempotent under retry).  Returns ``{table_name: version}``.

    Requires a snapshot store whose topic has a ``ts_col`` (plain
    parquet stores have no atomic-delete substrate — use the snapshot
    recorder).
    """
    from ros_sql_spark.sources.snapshot import snapshot_delete

    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))
    entry = catalog.topics[topic]
    if not entry.ts_col:
        raise ValueError(f"topic {topic} has no ts_col: nothing to expire by")
    path, is_snap = _topic_table(spark, store_path, entry)
    if not is_snap:
        raise ValueError(
            f"{path} is not a snapshot table — expire() needs the "
            "snapshot recorder (record_stream_snapshot)"
        )
    # inclusive-bound form of ts < older_than_ns
    bounds = {entry.ts_col: (None, older_than_ns - 1)}
    return {
        entry.table: snapshot_delete(
            spark, path, prune=bounds, tag=f"expire:{older_than_ns}"
        )
    }


def paced_replay(
    df: DataFrame,
    ts_col: str = "ts_ns",
    speedup: float = 1.0,
):
    """R13's pacing twin: iterate replayed rows with original inter-message
    delays (scaled by ``speedup``).

    Yields ``(sleep_seconds, row)`` — the caller publishes and sleeps
    (pacing is inherently sink-side; the reference sleeps between
    rospy.publish calls).  Uses toLocalIterator so only one partition is
    resident driver-side at a time; rows stream in ``ts_col`` order
    because playback() pre-sorts.
    """
    prev = None
    for row in df.toLocalIterator():
        t = row[ts_col]
        sleep = 0.0 if prev is None else max(0.0, (t - prev) / 1e9 / speedup)
        prev = t
        yield sleep, row
