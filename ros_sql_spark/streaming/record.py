"""Live multi-topic recording — the streaming twin of the reference's
``record.py`` end-to-end (SURVEY.md §3.1).

The reference subscribes N ROS topics at once and lands each message in
that topic's normalized tables.  Here the live bus is a multiplexed
streaming DataFrame carrying a topic column; each micro-batch is
demultiplexed and each topic's rows appended, nested as written, to the
one-table-per-topic store layout that ``api.playback`` reads — so record
→ store → ordered replay is one continuous, catalog-described pipeline:

    cat = declare_topics(store, {"click": schema, ...}, ["event_id"])
    q = record_stream(stream, "event_type", store, ["event_id"], ck)
    q.awaitTermination()
    playback(spark, store, "click")          # ns-ordered replay

Schema declaration happens UP FRONT (R1: declare-before-write; R15:
idempotent re-declare) — a topic arriving in the stream without a
catalog entry is an error surfaced at declare time, not silent schema
drift at write time.  Only the JDBC recorder shreds messages into
relational tables (operators.normalize), because a SQL database needs
flat rows.

Scale notes: the demux loop appends per topic per batch — N topics cost
N filtered writes over one cached batch; at high topic counts switch to
a single ``partitionBy(topic)`` write.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ros_sql_spark.api import CATALOG_FILE, table_path
from ros_sql_spark.functions.pin import cache
from ros_sql_spark.operators.normalize import normalize
from ros_sql_spark.sources.catalog import EngineCatalog

__all__ = [
    "declare_topics",
    "record_stream",
    "record_stream_jdbc",
    "record_stream_snapshot",
]


def declare_topics(
    store_path: str,
    topics: dict[str, T.StructType],
    key_cols: list[str],
    ts_col: str | None = "ts_ns",
) -> EngineCatalog:
    """R1/R15: declare every topic's schema before any message lands."""
    cat_path = os.path.join(store_path, CATALOG_FILE)
    catalog = (
        EngineCatalog.load(cat_path) if os.path.exists(cat_path) else EngineCatalog()
    )
    for topic, schema in topics.items():
        catalog.add_topic(
            topic,
            schema,
            key_cols=list(key_cols),
            ts_col=ts_col if ts_col in schema.names else None,
        )
    os.makedirs(store_path, exist_ok=True)
    catalog.save(cat_path)
    return catalog


def record_stream(
    stream: DataFrame,
    topic_col: str,
    store_path: str,
    key_cols: list[str],
    checkpoint_path: str,
    available_now: bool = True,
    dedup_keys: list[str] | None = None,
    dedup_watermark: str = "1 hour",
    dedup_ts_col: str = "ts",
):
    """R12/R7 twins: demux a multiplexed stream into per-topic parquet
    tables, micro-batch-at-a-time.

    Topic values in ``topic_col`` must match declared topic names
    (declare_topics).  Undeclared values fail the batch loudly — the
    reference's declare-before-write contract.

    ``dedup_keys``: dedup-on-ingest — keep the FIRST occurrence per key
    within the ``dedup_watermark`` horizon before demux
    (dropDuplicatesWithinWatermark: bounded state, the streaming twin of
    operators.dedup.exact_dedup).  A replayed/at-least-once UPSTREAM
    (the normal case for message transports) then lands exactly one row
    per key — asserted in tests/test_record_stream.py.

    Delivery contract (round-8 honesty note): the bare-parquet SINK
    here is at-least-once — a crash between the parquet append and the
    streaming checkpoint advancing re-appends the whole micro-batch on
    restart (dropDuplicatesWithinWatermark's state also rolls back to
    the checkpoint, so it re-emits the same rows rather than filtering
    them).  That trade buys this recorder its throughput; when crash
    replay must be exactly-once use ``record_stream_snapshot``
    (batch-watermarked atomic manifests) or ``record_stream_jdbc``
    (key anti-join per batch) — the two sink variants that exist for
    precisely this reason.
    """
    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))
    if dedup_keys:
        from ros_sql_spark.streaming.stateful import streaming_dedup

        stream = streaming_dedup(
            stream, list(dedup_keys), watermark=dedup_watermark, ts_col=dedup_ts_col
        )

    def body(batch: DataFrame, batch_id: int) -> None:
        batch = cache(batch)
        for topic, sub in _demux(batch, topic_col, catalog):
            table = table_path(store_path, catalog.topics[topic].table)
            sub.write.mode("append").parquet(table)

    return _start(stream, body, checkpoint_path, available_now)


def record_stream_snapshot(
    stream: DataFrame,
    topic_col: str,
    store_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """The recorder landing every topic in a SNAPSHOT table
    (sources/snapshot.py) instead of a bare parquet directory: each
    micro-batch's rows become visible ATOMICALLY (readers see a whole
    batch or none of it — the bare-parquet recorder exposes files as
    the committer moves them), redelivered batches are skipped by the
    per-table ``batch:<id>`` manifest tag (exactly-once without key
    anti-joins), and replayers can time-travel the store to any batch
    boundary.  Layout: one snapshot table per topic at
    ``store_path/<topic>/<topic>`` (``api.table_path``); read with
    ``snapshot_read``; same declare-before-write catalog contract as
    record_stream.
    """
    from ros_sql_spark.sources.snapshot import snapshot_append_batch

    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))

    def body(batch: DataFrame, batch_id: int) -> None:
        batch = cache(batch)
        for topic, sub in _demux(batch, topic_col, catalog):
            entry = catalog.topics[topic]
            # time-series data skipping: record per-file min/max of
            # the topic's timestamp (and its key) in each commit's
            # manifest, so time-range replays prune whole files —
            # streaming appends are naturally time-clustered, which
            # is exactly when manifest stats pay off (each batch's
            # file covers one narrow ts window).
            stats = [c for c in (entry.ts_col, *entry.key_cols) if c]
            snapshot_append_batch(
                sub,
                table_path(store_path, entry.table),
                batch_id,
                stats_cols=stats,
            )

    return _start(stream, body, checkpoint_path, available_now)


def record_stream_jdbc(
    stream: DataFrame,
    topic_col: str,
    store_path: str,
    checkpoint_path: str,
    url: str,
    driver: str | None = None,
    available_now: bool = True,
    table_prefix: str = "rs_",
):
    """The full north-star pipeline (BASELINE 'Structured Streaming +
    JDBC sink'): demux a multiplexed stream, shred per topic with
    operators.normalize, and land every normalized table in a JDBC
    database EXACTLY-ONCE.

    ``table_prefix`` guards against topic names that are SQL reserved
    words (a bare topic "view" is a Derby/ANSI syntax error as a table
    name) — the same class of problem the reference's identifier
    mangling (R3) solves for column names.

    Each table's idempotency key is its own primary key — the declared
    topic keys plus any shredding index columns that table carries
    (``_idx__*``), which is exactly the key the reference's child tables
    are keyed by.  Redelivered micro-batches (checkpoint loss, upstream
    replay) therefore insert nothing new: jdbc_idempotent_batch
    anti-joins on that key before the vectorized append.

    The topic catalog is read from ``store_path`` (declare_topics) —
    declare-before-write holds for the JDBC store exactly as for the
    parquet store.
    """
    from ros_sql_spark.sources.jdbc import jdbc_idempotent_batch

    catalog = EngineCatalog.load(os.path.join(store_path, CATALOG_FILE))

    def body(batch: DataFrame, batch_id: int) -> None:
        batch = cache(batch)
        for topic, sub in _demux(batch, topic_col, catalog):
            entry = catalog.topics[topic]
            norm = normalize(sub, list(entry.key_cols), table=entry.table)
            for name, tbl in norm.tables.items():
                tkeys = [
                    c
                    for c in tbl.columns
                    if c in entry.key_cols or c.startswith("_idx__")
                ]
                jdbc_idempotent_batch(
                    tbl, batch_id, url, table_prefix + name, tkeys, driver=driver
                )

    return _start(stream, body, checkpoint_path, available_now)


def _demux(batch: DataFrame, topic_col: str, catalog: EngineCatalog):
    """Yield (topic, rows) for every topic present in the micro-batch,
    ``topic_col`` dropped, enforcing the R1/R15 declare-before-write and
    schema-stability guards."""
    declared = set(catalog.topics)
    seen = {r[0] for r in batch.select(topic_col).distinct().collect()}
    unknown = seen - declared
    if unknown:
        raise ValueError(
            f"stream carries undeclared topics {sorted(unknown)}; "
            "declare_topics them first (R1 declare-before-write)"
        )
    for topic in seen:
        sub = batch.filter(F.col(topic_col) == topic).drop(topic_col)
        declared_schema = catalog.schema_of(topic)
        # compare (name, type, nullability) — NOT field metadata: stream
        # operators stamp metadata on columns (e.g. withWatermark adds
        # watermark delay to the event-time field), which is not a
        # declaration mismatch.
        stripped = lambda sch: [(f.name, f.dataType, f.nullable) for f in sch.fields]
        if stripped(sub.schema) != stripped(declared_schema):
            raise ValueError(
                f"topic {topic!r}: stream schema "
                f"{sub.schema.simpleString()} != declared "
                f"{declared_schema.simpleString()} (R15 guard)"
            )
        yield topic, sub


def _start(stream: DataFrame, body, checkpoint_path: str, available_now: bool):
    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(stream, body, checkpoint_path, available_now)
