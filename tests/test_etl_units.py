"""Unit tests: type map (R2), time split/recombine (R8), catalog (R10/R15),
identifier mangling (R3)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, types as T
import pyspark.sql.functions as F

from ros_sql_spark.functions import timeops
from ros_sql_spark.functions.types import (
    TIME_STRUCT,
    message_schema,
    ros_type_to_spark,
)
from ros_sql_spark.sources.catalog import EngineCatalog, SCHEMA_VERSION, namify


# --- types (R2 / §1.1 widening table) --------------------------------------

def test_primitive_map():
    assert ros_type_to_spark("bool") == T.BooleanType()
    assert ros_type_to_spark("int8") == T.ByteType()
    assert ros_type_to_spark("uint8") == T.ShortType()  # widened
    assert ros_type_to_spark("uint32") == T.LongType()  # widened
    assert ros_type_to_spark("uint64") == T.DecimalType(20, 0)  # exact domain
    assert ros_type_to_spark("float32") == T.FloatType()
    assert ros_type_to_spark("time") == TIME_STRUCT


def test_blob_special_case():
    # uint8[] is a blob, not an array of shorts (R6)
    assert ros_type_to_spark("uint8[]") == T.BinaryType()
    assert ros_type_to_spark("char[]") == T.BinaryType()
    assert ros_type_to_spark("uint8[16]") == T.BinaryType()


def test_arrays():
    assert ros_type_to_spark("float32[]") == T.ArrayType(T.FloatType(), False)
    assert ros_type_to_spark("int32[9]") == T.ArrayType(T.IntegerType(), False)


def test_unknown_type_rejected():
    with pytest.raises(ValueError):
        ros_type_to_spark("quaternion")


def test_message_schema_nested():
    spec = {
        "seq": "uint32",
        "stamp": "time",
        "pose": {"x": "float64", "y": "float64"},
        "points": [{"x": "float64"}],
        "raw": "uint8[]",
    }
    s = message_schema(spec)
    assert s["stamp"].dataType == TIME_STRUCT
    assert isinstance(s["pose"].dataType, T.StructType)
    assert isinstance(s["points"].dataType, T.ArrayType)
    assert s["raw"].dataType == T.BinaryType()


# --- timeops (R8): ns-exact split/recombine --------------------------------

NS_CASES = [
    0,
    999,  # sub-µs only
    1_700_000_000_123_456_789,  # realistic epoch with sub-µs tail
    1_704_067_798_778_549_829,  # actual events.ts value
    9_223_372_036_854_775_807 - 807,  # near Long.MaxValue, ns-aligned
]


def test_split_combine_identity(spark):
    df = spark.createDataFrame([Row(ns=v) for v in NS_CASES])
    secs, nsecs = timeops.split_ns("ns")
    out = df.select(
        "ns", secs.alias("s"), nsecs.alias("n"),
        timeops.combine_ns(secs, nsecs).alias("back"),
    ).collect()
    for r in out:
        assert 0 <= r.n < 1_000_000_000
        assert r.s * 1_000_000_000 + r.n == r.ns
        assert r.back == r.ns, f"lossy recombine for {r.ns}"


def test_timestamp_plus_remainder_is_lossless(spark):
    df = spark.createDataFrame([Row(ns=v) for v in NS_CASES if v < 2**62])
    out = df.select(
        "ns",
        timeops.ns_to_timestamp("ns").alias("ts"),
        timeops.ns_remainder_us("ns").alias("rem"),
    ).select("ns", "rem", timeops.timestamp_to_ns("ts", "rem").alias("back")).collect()
    for r in out:
        assert 0 <= r.rem < 1000
        assert r.back == r.ns, f"ns lost through timestamp for {r.ns}"


def test_integer_div_not_float(spark):
    """The parity-critical property: ns epochs survive the µs conversion
    bit-exactly (double division would be off by up to ~256 ns)."""
    ns = 1_704_067_798_778_549_829
    df = spark.createDataFrame([Row(ns=ns)])
    got = df.select(F.unix_micros(timeops.ns_to_timestamp("ns")).alias("us")).head().us
    assert got == ns // 1000


# --- catalog (R10/R15) + namify (R3) ---------------------------------------

def test_namify():
    assert namify("/robot1/pose") == "robot1__pose"
    assert namify("/a b/c-d") == "a_b__c_d"
    long = "/" + "x" * 100
    m = namify(long)
    assert len(m) <= 64
    assert m != namify(long + "y")  # no truncation aliasing


def test_catalog_roundtrip(tmp_path):
    cat = EngineCatalog()
    schema = message_schema({"seq": "uint32", "stamp": "time"})
    cat.add_topic("/robot1/pose", schema, key_cols=["seq"], ts_col="stamp")
    p = str(tmp_path / "_rosql_catalog.json")
    cat.save(p)
    back = EngineCatalog.load(p)
    assert back.version == SCHEMA_VERSION
    assert back.schema_of("/robot1/pose") == schema
    assert back.topics["/robot1/pose"].table == "robot1__pose"


def test_catalog_idempotent_redeclare_and_conflict(tmp_path):
    cat = EngineCatalog()
    s1 = message_schema({"seq": "uint32"})
    s2 = message_schema({"seq": "uint64"})
    cat.add_topic("/t", s1, key_cols=["seq"])
    cat.add_topic("/t", s1, key_cols=["seq"])  # idempotent (R15)
    with pytest.raises(ValueError, match="different schema"):
        cat.add_topic("/t", s2, key_cols=["seq"])


def test_catalog_version_guard(tmp_path):
    p = str(tmp_path / "cat.json")
    cat = EngineCatalog()
    cat.save(p)
    import json

    doc = json.load(open(p))
    # 1: a shredded store (root + child tables), which this engine's
    # one-table-per-topic playback must not misread
    for version in (99, 1):
        doc["version"] = version
        json.dump(doc, open(p, "w"))
        with pytest.raises(ValueError, match="version"):
            EngineCatalog.load(p)


# ---------------------------------------------------------------------------
# Text-format sources (explicit-schema-only JSONL/CSV readers)
# ---------------------------------------------------------------------------

def test_read_jsonl_roundtrip_and_corrupt_tolerance(spark, tmp_path):
    from ros_sql_spark.sources.io import read_jsonl

    p = tmp_path / "docs.jsonl"
    lines = [
        '{"doc_id": 1, "text": "hello world", "n": 11}',
        '{"doc_id": 2, "text": "second doc", "n": 10}',
        'this line is not json at all',
        '{"doc_id": 4, "text": null, "n": 0}',
    ]
    p.write_text("\n".join(lines) + "\n")
    df = read_jsonl(spark, str(p), "doc_id BIGINT, text STRING, n BIGINT")
    rows = {r.doc_id: (r.text, r.n) for r in df.collect()}
    # corrupt line survives as an all-null row instead of failing the scan
    assert len(rows) == 4 and None in rows
    assert rows[1] == ("hello world", 11)
    assert rows[4] == (None, 0)

    # keep_corrupt=True appends a _corrupt column holding the raw bad
    # line — audit routing = filter on it (works on OSS Spark, unlike
    # the Databricks-only badRecordsPath option).
    df2 = read_jsonl(
        spark, str(p), "doc_id BIGINT, text STRING, n BIGINT", keep_corrupt=True
    )
    assert df2.columns == ["doc_id", "text", "n", "_corrupt"]
    bad = df2.filter("_corrupt IS NOT NULL").collect()
    assert len(bad) == 1 and bad[0]._corrupt == "this line is not json at all"
    # NB: Spark disallows plans whose referenced columns are ONLY the
    # corrupt-record column (count() after the filter prunes to that) —
    # keep a data column in the projection.
    assert len(df2.filter("_corrupt IS NULL").select("doc_id", "_corrupt").collect()) == 3


def test_read_csv_explicit_schema(spark, tmp_path):
    from ros_sql_spark.sources.io import read_csv

    p = tmp_path / "t.csv"
    p.write_text("id,name,score\n1,alpha,0.5\n2,beta,1.5\n")
    df = read_csv(spark, str(p), "id BIGINT, name STRING, score DOUBLE")
    got = sorted((r.id, r.name, r.score) for r in df.collect())
    assert got == [(1, "alpha", 0.5), (2, "beta", 1.5)]


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC sink/scan: byte-faithful roundtrip and parquet-grade pushdown
    (PushedFilters reaches the ORC scan; ReadSchema prunes columns)."""
    from tests.conftest import SF_SMALL
    from ros_sql_spark.sources.io import load_table, read_orc, write_orc

    src = load_table(spark, SF_SMALL, "nation")
    p = str(tmp_path / "nation_orc")
    write_orc(src, p)
    back = read_orc(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )
    q = back.filter(F.col("n_regionkey") == 1).select("n_name")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "n_regionkey" in plan.split(
        "PushedFilters:"
    )[1][:120]
    assert "n_comment" not in plan.split("ReadSchema:")[1][:200]


def test_partitioned_events_dynamic_partition_pruning(spark, tmp_path):
    """The 100 TB events layout must support DYNAMIC partition pruning:
    joining the date-partitioned store against a filtered dimension
    whose qualifying dates are only known at runtime should plan a
    dynamicpruning subquery on the partition column — so the fact scan
    reads only the surviving days, not the whole history."""
    from tests.conftest import SF_SMALL
    from ros_sql_spark.sources.io import (
        load_table,
        read_events_partitioned,
        write_events_partitioned,
    )

    events = load_table(spark, SF_SMALL, "events")
    store = str(tmp_path / "events_by_date")
    write_events_partitioned(events, store)
    fact = read_events_partitioned(spark, store)

    # runtime-filtered date dimension: which dates had a signup spike
    dim = (
        events.select(F.to_date("ts").alias("event_date"))
        .groupBy("event_date")
        .count()
        .filter(F.col("count") > 0)
        .limit(2)
    )
    joined = fact.join(dim.hint("broadcast"), "event_date").select("event_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "partition-column equi-join must trigger DPP:\n" + plan[:2000]
    )


def test_read_binary_files_asset_shape(spark, tmp_path):
    """binaryFile multimodal ingest: stable path-hash ids, correct
    payloads/meta, glob pushdown at the listing, and composition with
    the multimodal feature extractor."""
    from ros_sql_spark.operators.multimodal import FEATURE_DIM, extract_features
    from ros_sql_spark.sources.io import read_binary_files

    d = tmp_path / "assets"
    d.mkdir()
    (d / "a.img").write_bytes(b"\x00\x01payloadA")
    (d / "b.img").write_bytes(b"payloadB\xff")
    (d / "skip.txt").write_bytes(b"not media")

    assets = read_binary_files(spark, str(d), glob="*.img", mime="image/fake")
    rows = {r.meta.source.rsplit("/", 1)[-1]: r for r in assets.collect()}
    assert set(rows) == {"a.img", "b.img"}
    assert bytes(rows["a.img"].media) == b"\x00\x01payloadA"
    assert rows["b.img"].meta.n_bytes == 9
    assert all(r.meta.mime == "image/fake" for r in rows.values())
    # ids deterministic across re-reads (path-hash, not row order)
    again = {r.asset_id for r in read_binary_files(spark, str(d), glob="*.img").collect()}
    assert again == {r.asset_id for r in rows.values()}
    # composes with the multimodal pipeline (Arrow mapInPandas plumbing)
    feats = extract_features(assets).collect()
    assert len(feats) == 2 and all(len(f.features) == FEATURE_DIM for f in feats)
