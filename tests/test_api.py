"""record/playback workflow tests (reference entry points, SURVEY.md §3)."""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from ros_sql_spark.api import CATALOG_FILE, playback, record
from ros_sql_spark.sources.io import load_table
from tests.conftest import SF_SMALL
from tests.test_roundtrip import (
    F1_SCHEMA,
    F2_SCHEMA,
    F3_SCHEMA,
    _f1_rows,
    _f2_rows,
    _f3_rows,
    _rows_equal,
)

# the roundtrip contract's message shapes: NULL structs and sub-µs
# stamps (F1), NULL vs empty arrays and empty blobs (F2), arrays of
# structs (F3); keyed by (topic, seq) as in tests/test_roundtrip.py
FIXTURES = {
    "f1": (F1_SCHEMA, _f1_rows),
    "f2": (F2_SCHEMA, _f2_rows),
    "f3": (F3_SCHEMA, _f3_rows),
}
KEYS = ["topic", "seq"]


def _record_snapshot(spark, tmp_path, topic, df, key_cols, files=2):
    """Record ``df`` as ``topic`` with record_stream_snapshot from a
    parquet feed of ``files`` key-range-clustered files, one
    micro-batch each.  Returns the store path."""
    from ros_sql_spark.streaming.record import declare_topics, record_stream_snapshot

    feed = str(tmp_path / "feed")
    df.withColumn("_bus", F.lit(topic)).repartitionByRange(
        files, *key_cols
    ).write.parquet(feed)
    schema = spark.read.parquet(feed).schema
    store = str(tmp_path / "snap_store")
    declared = T.StructType([f for f in schema.fields if f.name != "_bus"])
    declare_topics(store, {topic: declared}, key_cols)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q = record_stream_snapshot(stream, "_bus", store, str(tmp_path / "ck"))
    q.awaitTermination(180)
    assert not q.isActive
    return store


def _assert_same_messages(back, df):
    assert back.schema == df.schema, f"schema drift:\n{back.schema}\nvs\n{df.schema}"
    left = [r.asDict(recursive=True) for r in df.collect()]
    right = [r.asDict(recursive=True) for r in back.collect()]
    assert _rows_equal(left, right)


@pytest.mark.parametrize("fixture", sorted(FIXTURES))
def test_record_playback_roundtrip_contract(spark, tmp_path, fixture):
    """api.record → playback returns every message field for field."""
    schema, rows = FIXTURES[fixture]
    df = spark.createDataFrame(rows(), schema)
    store = str(tmp_path / "store")
    record(spark, {"/m": df}, store, key_cols=KEYS)
    _assert_same_messages(playback(spark, store, "/m"), df)


@pytest.mark.parametrize("fixture", sorted(FIXTURES))
def test_snapshot_recorder_playback_roundtrip_contract(spark, tmp_path, fixture):
    """record_stream_snapshot → playback returns every message field
    for field."""
    schema, rows = FIXTURES[fixture]
    df = spark.createDataFrame(rows(), schema)
    store = _record_snapshot(spark, tmp_path, "/m", df, KEYS)
    _assert_same_messages(playback(spark, store, "/m"), df)


def _plan_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        m.group(1)
        for m in (re.match(r"[\s:+\-|!]*(\w+)", ln) for ln in plan.splitlines())
        if m
    ]


def test_playback_plan_is_one_scan(spark, tmp_path):
    """Plan gate: a ranged playback over a parquet store and over a
    snapshot store is scan → filter → sort — no join, no aggregate,
    exactly one relation — for a topic with array and struct fields."""
    df = spark.createDataFrame(
        [(i, i * 1_000, [i, i + 1], (i, float(i))) for i in range(40)],
        "event_id long, ts_ns long, readings array<long>, "
        "hdr struct<seq:long,x:double>",
    )
    pq_store = str(tmp_path / "store")
    record(spark, {"/s": df}, pq_store, key_cols=["event_id", "ts_ns"])
    snap_store = _record_snapshot(spark, tmp_path, "/s", df, ["ts_ns", "event_id"])
    for store in (pq_store, snap_store):
        back = playback(spark, store, "/s", t0_ns=5_000, t1_ns=30_000)
        nodes = _plan_nodes(back)
        assert not [n for n in nodes if "Join" in n or "Aggregate" in n], nodes
        assert [n for n in nodes if n.endswith(("Relation", "RDD"))] == [
            "Relation"
        ], nodes
        assert [r.event_id for r in back.collect()] == list(range(5, 30))


def test_record_playback_events(spark, tmp_path):
    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMALL, "events")
    record(spark, {"/events": ev}, store, key_cols=["event_id"], ts_col="ts_ns")
    assert os.path.exists(os.path.join(store, CATALOG_FILE))

    back = playback(spark, store, "/events")
    rows = back.collect()
    assert len(rows) == 1000
    assert back.schema == ev.schema
    # record-time order (R13): ns-exact, monotonically nondecreasing
    ts = [r.ts_ns for r in rows]
    assert ts == sorted(ts)

    # default keys (first column + ts_col) already hold ts_ns: the
    # playback sort must list it once, with the same row order
    store2 = str(tmp_path / "store_default_keys")
    record(spark, {"/events": ev}, store2, ts_col="ts_ns")
    back2 = playback(spark, store2, "/events")
    plan = back2._jdf.queryExecution().optimizedPlan().toString()
    sort = next(ln for ln in plan.splitlines() if "Sort [" in ln)
    sort_keys = sort[sort.index("[") + 1 : sort.index("]")]
    assert sort_keys.count("ts_ns#") == 1, sort
    assert [tuple(r) for r in back2.collect()] == [tuple(r) for r in rows]


def test_playback_time_range(spark, tmp_path):
    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMALL, "events")
    record(spark, {"/events": ev}, store, key_cols=["event_id"], ts_col="ts_ns")
    lo = 1_704_400_000_000_000_000
    hi = 1_704_900_000_000_000_000
    got = playback(spark, store, "/events", t0_ns=lo, t1_ns=hi).collect()
    expect = ev.filter((F.col("ts_ns") >= lo) & (F.col("ts_ns") < hi)).count()
    assert len(got) == expect > 0
    assert all(lo <= r.ts_ns < hi for r in got)


def test_record_playback_nested_topic(spark, tmp_path):
    """Array-of-struct topic roundtrips through the on-disk store."""
    store = str(tmp_path / "store")
    df = spark.createDataFrame(_f3_rows(60), F3_SCHEMA)
    record(spark, {"/viz/marker": df}, store, key_cols=["topic", "seq"], ts_col=None)
    # nested layout on disk: exactly one table for the topic
    base = os.path.join(store, "viz__marker")
    assert os.listdir(base) == ["viz__marker"]
    back = playback(spark, store, "/viz/marker")
    left = sorted(map(repr, (r.asDict(recursive=True) for r in df.collect())))
    right = sorted(map(repr, (r.asDict(recursive=True) for r in back.collect())))
    assert left == right


def test_playback_missing_store_dir_raises(spark, tmp_path):
    """A topic the catalog lists but whose table dir was deleted must
    raise a named error, not silently play back zero tables."""
    import shutil

    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMALL, "events")
    record(spark, {"/events": ev}, store, key_cols=["event_id"], ts_col="ts_ns")
    shutil.rmtree(os.path.join(store, "events"))
    with pytest.raises(FileNotFoundError, match="catalog"):
        playback(spark, store, "/events")


def test_record_redeclare_conflict(spark, tmp_path):
    store = str(tmp_path / "store")
    ev = load_table(spark, SF_SMALL, "events")
    record(spark, {"/e": ev}, store, key_cols=["event_id"])
    with pytest.raises(ValueError, match="different schema"):
        record(spark, {"/e": ev.drop("props")}, store, key_cols=["event_id"])


def test_record_default_keys_include_ts_col(spark, tmp_path):
    """The documented default — first column PLUS ts_col — must hold:
    dropping the timestamp made keys non-unique for repeated-entity
    topics and normalize's duplicate-key merge corrupted reassembly
    (round-8 review)."""
    from ros_sql_spark.api import CATALOG_FILE, record
    from ros_sql_spark.sources.catalog import EngineCatalog

    df = spark.createDataFrame(
        [(1, 10, [1.0]), (1, 20, [2.0]), (2, 10, [3.0])],
        "robot_id long, ts_ns long, pose array<double>",
    )
    store = str(tmp_path / "store")
    record(spark, {"/t": df}, store)
    cat = EngineCatalog.load(f"{store}/{CATALOG_FILE}")
    assert cat.topics["/t"].key_cols == ["robot_id", "ts_ns"]


def test_catalog_rejects_table_aliasing_and_changed_keys(spark, tmp_path):
    """Distinct topics mangling to ONE table name must be rejected
    (their rows would interleave in one store dir), and an idempotent
    re-declare must be an IDENTICAL re-declare — same schema with
    different keys misdescribes the stored data (round-8 review)."""
    import pytest

    from ros_sql_spark.sources.catalog import EngineCatalog
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts_ns", T.LongType()),
        ]
    )
    cat = EngineCatalog()
    cat.add_topic("/a-b", schema, key_cols=["id"], ts_col="ts_ns")
    with pytest.raises(ValueError, match="already used by topic"):
        cat.add_topic("/a_b", schema, key_cols=["id"], ts_col="ts_ns")
    with pytest.raises(ValueError, match="different key_cols"):
        cat.add_topic("/a-b", schema, key_cols=["id", "ts_ns"],
                      ts_col="ts_ns")
    # identical re-declare stays idempotent
    again = cat.add_topic("/a-b", schema, key_cols=["id"], ts_col="ts_ns")
    assert again.table == "a_b"
