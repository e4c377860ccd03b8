"""Live multi-topic recording end-to-end: multiplexed stream → demuxed
normalized stores → catalog-driven ordered playback (the reference's
whole record.py/playback.py story as one pipeline)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from ros_sql_spark.api import playback
from ros_sql_spark.sources.io import load_table
from ros_sql_spark.streaming.record import declare_topics, record_stream
from ros_sql_spark.streaming.replay import stream_events
from tests.conftest import SF_SMALL

EVENTS_PATH = f"{SF_SMALL}/events.parquet"
TOPIC_VALUES = ["click", "error", "purchase", "signup", "view"]


def _declared_schema(spark):
    # the per-topic schema = events stream schema minus the topic column
    return T.StructType(
        [f for f in stream_events(spark, EVENTS_PATH).schema.fields
         if f.name != "event_type"]
    )


def test_record_stream_then_playback(spark, tmp_path):
    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])

    q = record_stream(
        stream_events(spark, EVENTS_PATH),
        topic_col="event_type",
        store_path=store,
        key_cols=["event_id"],
        checkpoint_path=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert not q.isActive

    batch = load_table(spark, SF_SMALL, "events")
    total = 0
    for topic in TOPIC_VALUES:
        got = playback(spark, store, topic)
        rows = got.collect()
        expect = (
            batch.filter(F.col("event_type") == topic)
            .drop("event_type")
            .orderBy("ts_ns")
            .collect()
        )
        assert [r.event_id for r in rows] == [r.event_id for r in expect]
        total += len(rows)
    assert total == 1000  # every message landed in exactly one topic


def test_record_stream_jdbc_exactly_once(spark, tmp_path):
    """The north-star pipeline end-to-end (BASELINE 'Structured Streaming
    + JDBC sink'): multiplexed stream → declare → demux/normalize →
    idempotent JDBC ingest into embedded Derby — then the WHOLE stream
    redelivered from a fresh checkpoint lands zero new rows."""
    from ros_sql_spark.sources.jdbc import DERBY_DRIVER, derby_url, read_jdbc
    from ros_sql_spark.streaming.record import record_stream_jdbc

    store = str(tmp_path / "store")
    db = derby_url(str(tmp_path / "db"))
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])

    def run(ck):
        q = record_stream_jdbc(
            stream_events(spark, EVENTS_PATH),
            topic_col="event_type",
            store_path=store,
            checkpoint_path=str(tmp_path / ck),
            url=db,
            driver=DERBY_DRIVER,
        )
        q.awaitTermination(180)
        assert not q.isActive

    run("ck1")
    batch = load_table(spark, SF_SMALL, "events")
    counts1 = {}
    total = 0
    for topic in TOPIC_VALUES:
        got = read_jdbc(spark, db, f"rs_{topic}", driver=DERBY_DRIVER)
        n = got.count()
        counts1[topic] = n
        total += n
        expect = batch.filter(F.col("event_type") == topic)
        assert n == expect.count()
        # value fidelity: the ns epoch column survives the database
        a = sorted((r.event_id, r.ts_ns) for r in got.collect())
        b = sorted((r.event_id, r.ts_ns) for r in expect.collect())
        assert a == b
    assert total == 1000

    run("ck2")  # full redelivery from a fresh checkpoint
    for topic in TOPIC_VALUES:
        assert (
            read_jdbc(spark, db, f"rs_{topic}", driver=DERBY_DRIVER).count()
            == counts1[topic]
        ), f"duplicate rows in {topic} after redelivery"


def test_record_stream_rejects_undeclared_topic(spark, tmp_path):
    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {"click": schema}, ["event_id"])  # only one topic
    q = record_stream(
        stream_events(spark, EVENTS_PATH),
        topic_col="event_type",
        store_path=store,
        key_cols=["event_id"],
        checkpoint_path=str(tmp_path / "ck"),
    )
    with pytest.raises(Exception, match="undeclared"):
        q.awaitTermination(180)
        q.processAllAvailable()


def test_record_stream_dedup_on_ingest(spark, tmp_path):
    """Streaming × dedup (VERDICT r2 #7): an at-least-once upstream
    delivers every message TWICE; record_stream(dedup_keys=[event_id])
    must land exactly one row per key — the store after replay equals
    the batch exact-dedup of the raw feed (q25 semantics)."""
    import os

    # stage a doubled feed: every message appears twice across the files
    feed = str(tmp_path / "feed")
    batch = load_table(spark, SF_SMALL, "events")
    raw = spark.read.parquet(EVENTS_PATH)  # ns-schema-free physical copy
    raw.unionByName(raw).write.parquet(feed)

    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])
    q = record_stream(
        stream_events(spark, feed),
        topic_col="event_type",
        store_path=store,
        key_cols=["event_id"],
        checkpoint_path=str(tmp_path / "ck"),
        dedup_keys=["event_id"],
    )
    q.awaitTermination(180)
    assert not q.isActive

    total = 0
    for topic in TOPIC_VALUES:
        got = playback(spark, store, topic).collect()
        ids = [r.event_id for r in got]
        assert len(ids) == len(set(ids)), f"{topic}: duplicate ids in store"
        expect = {
            r.event_id
            for r in batch.filter(F.col("event_type") == topic).collect()
        }
        assert set(ids) == expect
        total += len(ids)
    assert total == 1000  # doubled feed, exactly-once store


def test_record_stream_checkpoint_resume_exactly_once(spark, tmp_path):
    """Crash-resume: record one slice, STOP, land two more slices, then
    restart from the SAME checkpoint — the store must hold every
    message exactly once (offsets resume, nothing reprocesses), and a
    third run over a drained source lands nothing.  This is the
    recovery contract a recorder owes its users: the checkpoint, not
    the sink, is the source of truth for progress."""
    batch = load_table(spark, SF_SMALL, "events")
    src = str(tmp_path / "src")

    def land(i: int) -> None:
        (
            batch.filter(F.col("event_id") % 3 == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    def stream():
        return (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])
    ck = str(tmp_path / "ck")

    def run() -> None:
        q = record_stream(
            stream(),
            topic_col="event_type",
            store_path=store,
            key_cols=["event_id"],
            checkpoint_path=ck,
        )
        q.awaitTermination(180)
        assert not q.isActive

    land(0)
    run()                     # processes slice 0, then "crashes" (stops)
    land(1)
    land(2)
    run()                     # resumes from the checkpoint: slices 1+2 only
    run()                     # drained source: no-op

    got_ids: list[int] = []
    for topic in TOPIC_VALUES:
        got_ids += [r.event_id for r in playback(spark, store, topic).collect()]
    assert len(got_ids) == 1000           # nothing lost
    assert len(set(got_ids)) == 1000      # nothing duplicated
    assert set(got_ids) == {r.event_id for r in batch.select("event_id").collect()}


def test_record_stream_snapshot_atomic_and_exactly_once(spark, tmp_path):
    """Recorder → snapshot tables: per-topic content equals the batch
    demux, and a full redelivery from a fresh checkpoint changes
    neither rows nor versions (manifest-tag idempotency, no key
    anti-joins)."""
    import os

    from ros_sql_spark.sources.catalog import namify
    from ros_sql_spark.sources.snapshot import snapshot_read, snapshot_versions
    from ros_sql_spark.streaming.record import record_stream_snapshot

    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])

    def run(ck):
        q = record_stream_snapshot(
            stream_events(spark, EVENTS_PATH),
            topic_col="event_type",
            store_path=store,
            checkpoint_path=str(tmp_path / ck),
        )
        q.awaitTermination(180)
        assert not q.isActive

    run("ck1")
    batch = load_table(spark, SF_SMALL, "events")
    state = {}
    for topic in TOPIC_VALUES:
        t = os.path.join(store, namify(topic), namify(topic))
        got = snapshot_read(spark, t)
        expect = batch.filter(F.col("event_type") == topic).count()
        assert got.count() == expect
        state[topic] = (expect, snapshot_versions(spark, t)[-1])

    # full redelivery: fresh checkpoint, same store
    run("ck2")
    for topic in TOPIC_VALUES:
        t = os.path.join(store, namify(topic), namify(topic))
        n, v = state[topic]
        assert snapshot_read(spark, t).count() == n
        assert snapshot_versions(spark, t)[-1] == v


def test_playback_reads_snapshot_store(spark, tmp_path):
    """playback() auto-detects snapshot tables: record_stream_snapshot →
    ordered replay matches the batch demux, same as the parquet store."""
    from ros_sql_spark.streaming.record import record_stream_snapshot

    store = str(tmp_path / "store")
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])
    q = record_stream_snapshot(
        stream_events(spark, EVENTS_PATH),
        topic_col="event_type",
        store_path=store,
        checkpoint_path=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert not q.isActive

    batch = load_table(spark, SF_SMALL, "events")
    topic = "purchase"
    rows = playback(spark, store, topic).collect()
    expect = (
        batch.filter(F.col("event_type") == topic)
        .drop("event_type")
        .orderBy("ts_ns")
        .collect()
    )
    assert [r.event_id for r in rows] == [r.event_id for r in expect]


@pytest.mark.slow  # >=10s in the r11 duration profile
def test_snapshot_store_time_range_prunes_files(spark, tmp_path):
    """A [t0, t1) playback over a snapshot store must (a) return exactly
    the filter-after-full-replay rows and (b) OPEN fewer parquet files
    than a full replay — the manifest ts stats recorded per micro-batch
    commit are doing chunk exclusion."""
    from ros_sql_spark.streaming.record import record_stream_snapshot

    store = str(tmp_path / "store")
    stream_schema = stream_events(spark, EVENTS_PATH).schema
    schema = _declared_schema(spark)
    declare_topics(store, {t: schema for t in TOPIC_VALUES}, ["event_id"])
    # 4 time-ordered feed files -> 4 micro-batches -> 4 time-clustered
    # commits per topic table (each commit's file covers ~1/4 of the
    # ts range: the shape streaming ingest produces naturally)
    ev = load_table(spark, SF_SMALL, "events").select(
        *[f.name for f in stream_schema.fields]
    )
    n = ev.count()
    ordered = ev.orderBy("ts_ns").collect()
    feed = str(tmp_path / "feed")
    for i in range(4):
        chunk = ordered[i * n // 4 : (i + 1) * n // 4]
        spark.createDataFrame(chunk, stream_schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    src = (
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = record_stream_snapshot(
        src,
        topic_col="event_type",
        store_path=store,
        checkpoint_path=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert not q.isActive

    topic = "view"
    full = playback(spark, store, topic)
    ts = sorted(r.ts_ns for r in full.select("ts_ns").collect())
    # streaming appended multiple time-clustered files?  stream_events
    # micro-batches split the feed; require >1 file for the claim
    n_full_files = len(full.inputFiles())
    assert n_full_files > 1
    t0, t1 = ts[len(ts) // 2], ts[-1] + 1  # second half of the range
    ranged = playback(spark, store, topic, t0_ns=t0, t1_ns=t1)
    got = [r.event_id for r in ranged.collect()]
    expect = [
        r.event_id
        for r in full.filter(
            (F.col("ts_ns") >= t0) & (F.col("ts_ns") < t1)
        ).orderBy("ts_ns", "event_id").collect()
    ]
    assert got == expect
    assert len(ranged.inputFiles()) < n_full_files


@pytest.mark.slow  # >=10s in the r11 duration profile
def test_expire_retention_one_table(spark, tmp_path):
    """api.expire: messages older than the cutoff leave the snapshot
    store — the topic's one table, nested arrays included — files
    wholly inside the expired range drop METADATA-ONLY (no rewrite),
    playback returns only survivors with their arrays intact, and a
    re-run of the same expire is a no-op (crash-retry contract)."""
    import os as _os

    from ros_sql_spark.api import expire
    from ros_sql_spark.sources.catalog import namify
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_read,
        snapshot_versions,
    )
    from ros_sql_spark.streaming.record import record_stream_snapshot

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_ns", T.LongType()),
            T.StructField("readings", T.ArrayType(T.LongType())),
        ]
    )
    src = str(tmp_path / "src")
    # four slices with disjoint ts and id windows; maxFilesPerTrigger=1
    # → one snapshot commit per slice, each with tight per-file stats
    for i in range(4):
        data = [
            (i * 1000 + j, (i * 100 + j) * 1_000_000_000, [i, j])
            for j in range(25)
        ]
        spark.createDataFrame(data, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    store = str(tmp_path / "store")
    declare_topics(store, {"sensor": schema}, ["event_id"])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("topic", F.lit("sensor"))
    )
    q = record_stream_snapshot(
        stream,
        topic_col="topic",
        store_path=store,
        checkpoint_path=str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    assert not q.isActive

    base = _os.path.join(store, namify("sensor"))
    assert _os.listdir(base) == [namify("sensor")]  # one table per topic
    root = _os.path.join(base, namify("sensor"))
    pre_root = _read_manifest(spark, root, snapshot_versions(spark, root)[-1])

    # cutoff after slice 1: slices 0-1 (ids 0-24, 1000-1024) expire
    cutoff = 200 * 1_000_000_000
    versions = expire(spark, store, "sensor", cutoff)

    got = snapshot_read(spark, root)
    assert got.count() == 50
    assert got.agg(F.min("ts_ns")).collect()[0][0] >= cutoff
    # metadata-only: every surviving root file existed before — the
    # expired slices were dropped from the manifest without a rewrite
    m_root = _read_manifest(spark, root, versions[namify("sensor")])
    assert set(m_root["files"]) <= set(pre_root["files"])
    assert len(m_root["files"]) < len(pre_root["files"])

    # playback returns only survivors, arrays intact
    rows = playback(spark, store, "sensor").collect()
    assert [r.event_id for r in rows] == sorted(
        [2000 + j for j in range(25)] + [3000 + j for j in range(25)]
    )
    # each slice i wrote readings [i, j] for event_id i * 1000 + j
    assert all(r.readings == [r.event_id // 1000, r.event_id % 1000] for r in rows)

    # idempotent retry: same cutoff again commits nothing new
    v_root = snapshot_versions(spark, root)[-1]
    expire(spark, store, "sensor", cutoff)
    assert snapshot_versions(spark, root)[-1] == v_root
