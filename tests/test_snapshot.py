"""Manifest-based snapshot tables: atomic commit, snapshot isolation,
time travel, optimistic concurrency, predicate replacement, vacuum."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import TEST_FULL

from ros_sql_spark.sources.snapshot import (
    SnapshotConflict,
    snapshot_commit,
    snapshot_read,
    snapshot_vacuum,
    snapshot_versions,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag"), (F.col("id") % 3).alias("part")
    )


def test_commit_read_roundtrip_and_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = snapshot_commit(_df(spark, 0, 100, "a"), t)
    assert v1 == 1
    assert snapshot_versions(spark, t) == [1]
    got = snapshot_read(spark, t)
    assert got.count() == 100
    assert {r.tag for r in got.select("tag").distinct().collect()} == {"a"}

    v2 = snapshot_commit(_df(spark, 0, 50, "b"), t)
    assert v2 == 2
    # latest is the overwrite; v1 still readable (time travel)
    assert snapshot_read(spark, t).count() == 50
    assert snapshot_read(spark, t, version=1).count() == 100


def test_snapshot_isolation_under_concurrent_commit(spark, tmp_path):
    """A reader's resolved DataFrame must keep returning the OLD
    snapshot's rows even after a new commit lands (file list pinned at
    resolve time)."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 40, "old"), t)
    reader = snapshot_read(spark, t)  # resolves v1's file list NOW
    snapshot_commit(_df(spark, 0, 7, "new"), t)  # v2 lands mid-"query"
    assert reader.count() == 40
    assert {r.tag for r in reader.select("tag").distinct().collect()} == {"old"}
    assert snapshot_read(spark, t).count() == 7


def test_optimistic_concurrency_conflict(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    # writer thinks the table is at v0 but it moved to v1 -> conflict
    with pytest.raises(SnapshotConflict, match="expected version"):
        snapshot_commit(_df(spark, 0, 5, "b"), t, expected_version=0)
    # correct expectation succeeds
    assert snapshot_commit(_df(spark, 0, 5, "b"), t, expected_version=1) == 2


def test_replace_where_partition_swap(spark, tmp_path):
    """replace_where rewrites one 'partition' and keeps the rest; the
    previous snapshot is untouched."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 90, "a"), t)
    patch = _df(spark, 1000, 1030, "patched").withColumn(
        "part", F.lit(1).cast("bigint")
    )
    snapshot_commit(patch, t, replace_where="part = 1")

    latest = snapshot_read(spark, t)
    assert latest.filter("part = 1").count() == 30
    assert {
        r.tag for r in latest.filter("part = 1").select("tag").distinct().collect()
    } == {"patched"}
    # untouched parts intact (ids 0..89 with part != 1 -> 60 rows)
    assert latest.filter("part != 1").count() == 60
    assert {
        r.tag
        for r in latest.filter("part != 1").select("tag").distinct().collect()
    } == {"a"}
    # time travel: v1 still has the original 90
    assert snapshot_read(spark, t, version=1).count() == 90


def test_vacuum_deletes_only_unreachable(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 30, "a"), t)
    snapshot_commit(_df(spark, 0, 20, "b"), t)
    snapshot_commit(_df(spark, 0, 10, "c"), t)
    deleted = snapshot_vacuum(spark, t, keep_last=1)
    assert deleted  # v1/v2 data gone
    assert snapshot_versions(spark, t) == [3]
    assert snapshot_read(spark, t).count() == 10
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, t, version=1)


def test_vacuum_noop_when_everything_kept(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    assert snapshot_vacuum(spark, t, keep_last=5) == []
    assert snapshot_read(spark, t).count() == 10


def test_read_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no snapshots"):
        snapshot_read(spark, str(tmp_path / "nope"))


def test_append_mode_carries_files_by_reference(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 30, "a"), t)
    snapshot_commit(_df(spark, 100, 110, "b"), t, mode="append")
    latest = snapshot_read(spark, t)
    assert latest.count() == 40
    assert {r.tag for r in latest.select("tag").distinct().collect()} == {
        "a",
        "b",
    }
    # the append rewrote nothing: v1 still complete
    assert snapshot_read(spark, t, version=1).count() == 30


def test_append_rejects_replace_where(spark, tmp_path):
    t = str(tmp_path / "tbl")
    with pytest.raises(ValueError, match="mutually exclusive"):
        snapshot_commit(
            _df(spark, 0, 5, "a"), t, mode="append", replace_where="part=1"
        )


def test_snapshot_stream_sink_exactly_once_under_replay(spark, tmp_path):
    """Drain a multi-batch stream into the snapshot sink, then replay it
    from a FRESH checkpoint: every batch re-runs, every commit is
    skipped by the tag check, and the table is unchanged."""
    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import snapshot_write_stream
    from tests.conftest import SF_SMALL

    feed = str(tmp_path / "feed")
    load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "n_chars"
    ).repartition(3).write.parquet(feed)
    schema = "doc_id BIGINT, source STRING, n_chars BIGINT"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    t = str(tmp_path / "tbl")
    q = snapshot_write_stream(stream(), t, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    assert not q.isActive
    n = snapshot_read(spark, t).count()
    assert n == 500
    v_after_first = snapshot_versions(spark, t)[-1]
    assert v_after_first >= 3  # one atomic commit per micro-batch

    # full redelivery: fresh checkpoint, same table
    q2 = snapshot_write_stream(stream(), t, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert not q2.isActive
    assert snapshot_read(spark, t).count() == 500
    assert snapshot_versions(spark, t)[-1] == v_after_first


def test_commit_rejects_schema_drift(spark, tmp_path):
    """Mixed physical schemas in one snapshot would make reads fail
    nondeterministically (vectorized reader can't upcast INT32 files
    under an INT64 schema) — commits must enforce uniformity."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    drifted = _df(spark, 0, 5, "b").withColumn("part", F.lit(1))  # int32
    with pytest.raises(ValueError, match="schema mismatch"):
        snapshot_commit(drifted, t, mode="append")


def test_compact_preserves_rows_and_stream_idempotency(spark, tmp_path):
    """Compaction rewrites the fragmented snapshot into few files as a
    NEW version (old one still readable), carries the batch tag forward
    so a post-compaction stream replay still skips, and never changes
    row content."""
    import json

    from ros_sql_spark.sources.io import load_table
    from ros_sql_spark.sources.snapshot import (
        snapshot_compact,
        snapshot_write_stream,
    )
    from tests.conftest import SF_SMALL

    feed = str(tmp_path / "feed")
    load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "n_chars"
    ).repartition(3).write.parquet(feed)
    schema = "doc_id BIGINT, source STRING, n_chars BIGINT"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    t = str(tmp_path / "tbl")
    q = snapshot_write_stream(stream(), t, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    frag_v = snapshot_versions(spark, t)[-1]
    before = {tuple(r) for r in snapshot_read(spark, t).collect()}

    v = snapshot_compact(spark, t, target_files=1)
    assert v == frag_v + 1
    after = {tuple(r) for r in snapshot_read(spark, t).collect()}
    assert after == before
    # new manifest has exactly one data file; fragmented version intact
    mpath = f"{t}/_manifests/v{v:05d}.json"
    with open(mpath) as f:
        assert len(json.load(f)["files"]) == 1
    assert {
        tuple(r) for r in snapshot_read(spark, t, version=frag_v).collect()
    } == before

    # stream replay AFTER compaction: tag carried -> still exactly-once
    q2 = snapshot_write_stream(stream(), t, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert snapshot_versions(spark, t)[-1] == v
    assert {tuple(r) for r in snapshot_read(spark, t).collect()} == before


def test_direct_manifest_collision_raises(spark, tmp_path):
    """Two writers publishing the SAME version number: the second
    create-exclusive publish must fail with SnapshotConflict (the
    commit point), not silently interleave."""
    from ros_sql_spark.sources.snapshot import _publish_manifest

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 5, "a"), t)  # publishes v1
    with pytest.raises(SnapshotConflict, match="already published"):
        _publish_manifest(spark, t, 1, {"version": 1, "files": [], "schema": "{}"})


def test_append_batch_returns_commit_decision(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_append_batch

    t = str(tmp_path / "tbl")
    assert snapshot_append_batch(_df(spark, 0, 5, "a"), t, batch_id=0) is True
    assert snapshot_append_batch(_df(spark, 5, 9, "a"), t, batch_id=1) is True
    # replayed batch: skipped, no new version
    assert snapshot_append_batch(_df(spark, 0, 5, "a"), t, batch_id=1) is False
    assert snapshot_versions(spark, t) == [1, 2]
    assert snapshot_read(spark, t).count() == 9


def test_racing_writers_never_share_data(spark, tmp_path):
    """A writer that staged data for version 1 but LOSES the publish
    race must contribute zero rows to the winner's snapshot (writer-
    unique staging dirs), get a clean SnapshotConflict on publish, and
    have its orphaned staging dir reclaimed by vacuum."""
    from ros_sql_spark.sources.snapshot import _publish_manifest

    t = str(tmp_path / "tbl")
    # loser stages its data first (the worst interleaving)
    _df(spark, 100, 200, "loser").write.parquet(f"{t}/data/v00001-deadbeef")
    # winner commits version 1 normally
    snapshot_commit(_df(spark, 0, 10, "winner"), t)
    got = snapshot_read(spark, t)
    assert got.count() == 10  # loser's 100 staged rows NOT included
    assert {r.tag for r in got.select("tag").distinct().collect()} == {
        "winner"
    }
    # loser's publish attempt: clean conflict
    with pytest.raises(SnapshotConflict, match="already published"):
        _publish_manifest(
            spark, t, 1, {"version": 1, "files": [], "schema": "{}"}
        )
    # vacuum reclaims the loser's orphaned staging dir (version 1 is
    # published, so the loser can never succeed — safe to delete)
    deleted = snapshot_vacuum(spark, t, keep_last=1)
    assert any("deadbeef" in f for f in deleted)
    assert snapshot_read(spark, t).count() == 10


def test_stranded_tmp_manifest_is_invisible(spark, tmp_path):
    """A crash between manifest write and atomic rename strands only a
    dot-prefixed temp file: readers and version listings ignore it and
    the next commit publishes normally."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    # simulate the crash artifact: partial JSON in a temp manifest
    with open(f"{t}/_manifests/.tmp-v00002-cafe.json", "w") as f:
        f.write('{"version": 2, "files": [')  # torn write
    assert snapshot_versions(spark, t) == [1]
    assert snapshot_read(spark, t).count() == 10
    assert snapshot_commit(_df(spark, 0, 5, "b"), t) == 2
    assert snapshot_read(spark, t).count() == 5


def test_publish_io_error_is_not_conflict(spark, tmp_path):
    """Non-conflict publish failures must NOT be mapped to
    SnapshotConflict (whose remedy is retry): they re-raise unchanged."""
    from ros_sql_spark.sources.snapshot import _publish_manifest

    t = str(tmp_path / "tbl")
    # make _manifests a regular FILE: creating the temp manifest under
    # it is a structural IO error, not a version race
    (tmp_path / "tbl").mkdir()
    (tmp_path / "tbl" / "_manifests").write_text("not a directory")
    with pytest.raises(Exception) as ei:
        _publish_manifest(
            spark, t, 1, {"version": 1, "files": [], "schema": "{}"}
        )
    assert not isinstance(ei.value, SnapshotConflict)


def test_vacuum_skips_inflight_writer_dirs(spark, tmp_path):
    """Staging dirs NEWER than the newest published manifest belong to
    in-flight writers whose commit may still succeed: vacuum must not
    touch them."""
    import os

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 30, "a"), t)
    snapshot_commit(_df(spark, 0, 20, "b"), t)
    # emulate an in-flight writer staging version 3 mid-vacuum
    inflight = f"{t}/data/v00003-abc12345"
    _df(spark, 0, 5, "inflight").write.parquet(inflight)
    deleted = snapshot_vacuum(spark, t, keep_last=1)
    assert deleted  # v1's data was reclaimed
    assert all("v00003" not in f for f in deleted)
    assert os.path.isdir(inflight)  # in-flight staging untouched
    assert snapshot_read(spark, t).count() == 20


def test_vacuum_retention_floor(spark, tmp_path):
    """keep_last < 1 is refused, and a reader already pinned to the
    latest version keeps working across a concurrent vacuum."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 30, "a"), t)
    snapshot_commit(_df(spark, 0, 12, "b"), t)
    with pytest.raises(ValueError, match="keep_last"):
        snapshot_vacuum(spark, t, keep_last=0)
    reader = snapshot_read(spark, t)  # pins v2's file list
    snapshot_vacuum(spark, t, keep_last=1)
    assert reader.count() == 12  # current version's files never deleted


def test_append_batch_survives_interleaved_untagged_commit(spark, tmp_path):
    """An untagged manual commit (compaction, upsert, ad-hoc append)
    landing between a stream failure and its restart must not hide the
    batch watermark: the redelivered batch still skips."""
    from ros_sql_spark.sources.snapshot import snapshot_append_batch

    t = str(tmp_path / "tbl")
    assert snapshot_append_batch(_df(spark, 0, 5, "a"), t, batch_id=0)
    assert snapshot_append_batch(_df(spark, 5, 9, "a"), t, batch_id=1)
    # interleaved manual commit with no tag (e.g. an upsert)
    snapshot_commit(_df(spark, 100, 103, "manual"), t, mode="append")
    # redelivered batch 1: the last_batch watermark survives the
    # untagged commit, so the replay is still skipped
    assert snapshot_append_batch(_df(spark, 5, 9, "a"), t, batch_id=1) is False
    assert snapshot_read(spark, t).count() == 12


def test_stats_recorded_and_pruned_read(spark, tmp_path):
    """Commit with stats_cols → manifest carries per-file min/max;
    a pruned read of a range-clustered table opens strictly fewer files
    and returns the IDENTICAL rows the exact filter would."""
    t = str(tmp_path / "tbl")
    df = (
        _df(spark, 0, 1000, "a")
        .repartitionByRange(8, F.col("id"))
        .sortWithinPartitions("id")
    )
    snapshot_commit(df, t, stats_cols=["id"])
    full = snapshot_read(spark, t)
    assert len(full.inputFiles()) == 8
    pruned = snapshot_read(spark, t, prune={"id": (0, 99)})
    assert 0 < len(pruned.inputFiles()) < 8
    got = sorted(r.id for r in pruned.filter("id <= 99").collect())
    want = sorted(r.id for r in full.filter("id <= 99").collect())
    assert got == want == list(range(100))
    # point lookup form (scalar bound)
    point = snapshot_read(spark, t, prune={"id": 500})
    assert 0 < len(point.inputFiles()) < 8
    assert point.filter("id = 500").count() == 1


def test_stats_ignore_nested_leaf_sharing_a_top_level_name(spark, tmp_path):
    """A struct leaf named like a top-level column (a ROS header's
    hdr.ts_ns next to ts_ns) must not lend its min/max to the top-level
    column: the stats would then prune files holding matching rows."""
    from ros_sql_spark.sources.snapshot import _read_manifest

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(5, (100, 0.5)), (6, (200, 1.5))],
        "ts_ns long, hdr struct<ts_ns:long,x:double>",
    ).coalesce(1)
    v = snapshot_commit(df, t, stats_cols=["ts_ns"])
    (stats,) = _read_manifest(spark, t, v)["stats"].values()
    assert stats["ts_ns"][:2] == [5, 6]
    got = snapshot_read(spark, t, prune={"ts_ns": (5, 6)})
    assert sorted(r.ts_ns for r in got.collect()) == [5, 6]


def test_prune_without_stats_keeps_all_files(spark, tmp_path):
    """Pruning on a column with no recorded stats must be a no-op (safe
    default), and results stay correct."""
    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100, "a").repartition(4), t  # no stats_cols
    )
    full = snapshot_read(spark, t)
    pruned = snapshot_read(spark, t, prune={"id": (0, 5)})
    assert len(pruned.inputFiles()) == len(full.inputFiles())
    assert pruned.filter("id < 6").count() == 6


def test_append_carries_stats_and_inherits_stats_cols(spark, tmp_path):
    """Appends keep carried files' stats unchanged and footer-scan only
    the new files; stats_cols is sticky (inherited when omitted)."""
    from ros_sql_spark.sources.snapshot import _read_manifest

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100, "a").coalesce(1), t, stats_cols=["id"]
    )
    snapshot_commit(
        _df(spark, 1000, 1100, "b").coalesce(1), t, mode="append"
    )  # no stats_cols passed — inherited
    m = _read_manifest(spark, t, 2)
    assert m["stats_cols"] == ["id"]
    assert len(m["stats"]) == len(m["files"]) == 2
    # disjoint ranges → pruned point read touches exactly one file
    pruned = snapshot_read(spark, t, prune={"id": (1000, None)})
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 100
    assert {r.tag for r in pruned.select("tag").distinct().collect()} == {"b"}


def test_prune_empty_result_keeps_schema(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a").coalesce(1), t, stats_cols=["id"])
    out = snapshot_read(spark, t, prune={"id": (10_000, None)})
    assert out.count() == 0
    assert out.columns == ["id", "tag", "part"]


def test_compact_cluster_by_enables_skipping(spark, tmp_path):
    """Streaming-append fragmentation: each appended file spans its own
    narrow id range here, but after a clustered compaction the pruned
    point read opens exactly one of the rewritten files and total rows
    are preserved."""
    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 400, "a").repartition(4), t, stats_cols=["id"]
    )  # repartition (round-robin): every file spans ~the full id range
    pre = snapshot_read(spark, t, prune={"id": 7})
    # round-robin files span wide ranges: most files survive the prune
    assert len(pre.inputFiles()) >= 3
    from ros_sql_spark.sources.snapshot import snapshot_compact

    v = snapshot_compact(spark, t, target_files=4, cluster_by=["id"])
    post = snapshot_read(spark, t, version=v, prune={"id": 7})
    assert len(post.inputFiles()) == 1
    assert post.filter("id = 7").count() == 1
    assert snapshot_read(spark, t, version=v).count() == 400


def test_merge_upserts_and_prunes_rewrites(spark, tmp_path):
    """MERGE on a key-clustered table: matched keys update, new keys
    insert, and files provably outside df's key range are CARRIED by
    reference (their paths appear verbatim in the new manifest)."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_compact,
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 800, "base").repartition(8), t, stats_cols=["id"]
    )
    snapshot_compact(spark, t, target_files=8, cluster_by=["id"])
    pre_files = set(_read_manifest(spark, t, 2)["files"])
    # upsert: ids 0-49 update, 10_000-10_049 insert — touches only the
    # low end of the clustered range
    up = _df(spark, 0, 50, "upd").union(_df(spark, 10_000, 10_050, "new"))
    v = snapshot_merge(up, t, keys=["id"])
    m = _read_manifest(spark, t, v)
    carried = [f for f in m["files"] if f in pre_files]
    assert carried, "stats pruning carried no files — rewrite was total"
    assert len(carried) < 8
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 800 + 50  # 50 updated in place, 50 inserted
    assert got.filter("id < 50 AND tag = 'upd'").count() == 50
    assert got.filter("id < 50 AND tag = 'base'").count() == 0
    assert got.filter("id >= 10000").count() == 50
    assert got.filter("tag = 'base'").count() == 750
    # carried files kept their stats: a pruned point read still narrows
    assert len(snapshot_read(spark, t, version=v,
                             prune={"id": 700}).inputFiles()) < len(m["files"])


def test_merge_without_stats_rewrites_all_but_stays_correct(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100, "base").repartition(4), t)  # no stats
    v = snapshot_merge(_df(spark, 90, 110, "up"), t, keys=["id"])
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 110
    assert got.filter("tag = 'up'").count() == 20
    assert got.filter("id < 90 AND tag = 'base'").count() == 90


def test_merge_on_empty_table_is_first_commit(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_merge

    t = str(tmp_path / "tbl")
    assert snapshot_merge(_df(spark, 0, 10, "a"), t, keys=["id"]) == 1
    assert snapshot_read(spark, t).count() == 10


def test_snapshot_changes_diff(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_changes, snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100, "base").coalesce(1), t, stats_cols=["id"])
    snapshot_merge(_df(spark, 40, 60, "upd"), t, keys=["id"])
    ch = snapshot_changes(spark, t, from_version=1).collect()
    by = {}
    for r in ch:
        by.setdefault(r._change, []).append((r.id, r.tag))
    assert sorted(by["insert"]) == [(i, "upd") for i in range(40, 60)]
    assert sorted(by["delete"]) == [(i, "base") for i in range(40, 60)]


def test_read_incremental_appends_only_new_files(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_read_incremental

    t = str(tmp_path / "tbl")
    v1 = snapshot_commit(_df(spark, 0, 100, "a").coalesce(1), t)
    snapshot_commit(_df(spark, 100, 150, "b").coalesce(1), t, mode="append")
    snapshot_commit(_df(spark, 150, 170, "c").coalesce(1), t, mode="append")
    inc, v = snapshot_read_incremental(spark, t, since_version=v1)
    assert v == 3
    assert len(inc.inputFiles()) == 2  # only the two appended files
    assert inc.count() == 70
    assert {r.tag for r in inc.select("tag").distinct().collect()} == {"b", "c"}
    # cursor at head: empty delta, same schema
    inc2, v2 = snapshot_read_incremental(spark, t, since_version=v)
    assert v2 == 3 and inc2.count() == 0
    assert inc2.columns == ["id", "tag", "part"]


def test_read_incremental_detects_rewrites(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import (
        snapshot_compact,
        snapshot_merge,
        snapshot_read_incremental,
    )

    t = str(tmp_path / "tbl")
    v1 = snapshot_commit(_df(spark, 0, 100, "a").coalesce(1), t)
    snapshot_compact(spark, t, target_files=2)
    with pytest.raises(ValueError, match="removed"):
        snapshot_read_incremental(spark, t, since_version=v1)
    # non-strict: falls back to the row diff (compaction → no row change)
    inc, v = snapshot_read_incremental(spark, t, since_version=v1, strict=False)
    assert inc.count() == 0
    # after a merge, non-strict surfaces exactly the upserted rows
    snapshot_merge(_df(spark, 90, 120, "up"), t, keys=["id"])
    inc2, _ = snapshot_read_incremental(spark, t, since_version=v, strict=False)
    assert inc2.count() == 30
    assert {r.tag for r in inc2.select("tag").distinct().collect()} == {"up"}
    # vacuumed cursor: actionable error
    with pytest.raises(FileNotFoundError, match="not in"):
        snapshot_read_incremental(spark, t, since_version=99)


def test_zorder_compact_prunes_both_dimensions(spark, tmp_path):
    """2-d grid clustered by Morton key: a range read on EITHER column
    alone skips files (linear clustering would only skip on its prefix
    column)."""
    from ros_sql_spark.sources.snapshot import snapshot_compact

    t = str(tmp_path / "tbl")
    grid = spark.range(0, 64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
        F.col("id"),
    )
    snapshot_commit(grid.repartition(4), t, stats_cols=["x", "y"])
    v = snapshot_compact(spark, t, target_files=16, zorder_by=["x", "y"])
    nfiles = len(snapshot_read(spark, t, version=v).inputFiles())
    assert nfiles == 16
    px = snapshot_read(spark, t, version=v, prune={"x": (0, 7)})
    py = snapshot_read(spark, t, version=v, prune={"y": (0, 7)})
    assert len(px.inputFiles()) < nfiles
    assert len(py.inputFiles()) < nfiles
    # correctness unchanged
    assert px.filter("x <= 7").count() == 8 * 64
    assert py.filter("y <= 7").count() == 8 * 64
    # the combined box prunes hardest
    pxy = snapshot_read(spark, t, version=v, prune={"x": (0, 7), "y": (0, 7)})
    assert len(pxy.inputFiles()) <= min(len(px.inputFiles()), len(py.inputFiles()))
    assert pxy.filter("x <= 7 AND y <= 7").count() == 64


def test_zorder_key_validation(spark):
    from ros_sql_spark.functions.zorder import zorder_key

    with pytest.raises(ValueError, match="BIGINT"):
        zorder_key({"a": (0, 1), "b": (0, 1)}, bits=32)
    with pytest.raises(ValueError, match="at least one"):
        zorder_key({})


def test_merge_stream_maintains_latest_state_exactly_once(spark, tmp_path):
    """Stream per-key updates through the merge sink: the table ends as
    the latest row per key; a full redelivery from a fresh checkpoint
    changes nothing (batch watermark skips every replayed merge)."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_merge_stream,
        snapshot_versions,
    )

    feed = str(tmp_path / "feed")
    # 3 files, overlapping keys: file i upserts ids [0, 30+10i) tagged fi
    for i in range(3):
        _df(spark, 0, 30 + 10 * i, f"f{i}").coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    schema = "id BIGINT, tag STRING, part BIGINT"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )

    t = str(tmp_path / "tbl")
    q = snapshot_merge_stream(stream(), t, ["id"], str(tmp_path / "ck1"))
    q.awaitTermination(120)
    assert not q.isActive
    got = snapshot_read(spark, t)
    assert got.count() == 50  # union of keys, one row each
    v_head = snapshot_versions(spark, t)[-1]
    # ids 0-29 were upserted by every batch; whichever batch ran last
    # won — but each id appears exactly once
    assert got.groupBy("id").count().filter("count > 1").count() == 0

    q2 = snapshot_merge_stream(stream(), t, ["id"], str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert not q2.isActive
    assert snapshot_versions(spark, t)[-1] == v_head
    assert snapshot_read(spark, t).count() == 50

    # a table BOOTSTRAPPED by the merge sink records key bounds
    # (round-8: without them every later merge rewrites every file)
    m = _read_manifest(spark, t, v_head)
    assert m.get("stats_cols") == ["id"], m

    # and a LEGACY stats-less table heals on its first merge through
    # the sink: the commit records key bounds so later merges prune
    from ros_sql_spark.sources.snapshot import (
        snapshot_commit,
        snapshot_merge_batch,
    )

    legacy = str(tmp_path / "legacy")
    snapshot_commit(_df(spark, 0, 20, "old"), legacy)  # no stats_cols
    m0 = _read_manifest(spark, legacy, 1)
    assert m0.get("stats_cols") is None
    assert snapshot_merge_batch(_df(spark, 10, 30, "new"), legacy, ["id"], 0)
    m1 = _read_manifest(
        spark, legacy, snapshot_versions(spark, legacy)[-1]
    )
    assert m1.get("stats_cols") == ["id"], m1


def test_history_and_restore_metadata_only(spark, tmp_path):
    """RESTORE rolls back as a new commit carrying files by reference
    (no data rewrite — the restored manifest lists the old version's
    exact paths), history shows the whole trail, and the batch
    watermark survives the rollback (no stream re-appends)."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_append_batch,
        snapshot_history,
        snapshot_restore,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 50, "v1").coalesce(1), t, stats_cols=["id"])
    snapshot_append_batch(_df(spark, 50, 80, "v2").coalesce(1), t, batch_id=7)
    snapshot_commit(_df(spark, 0, 5, "bad"), t)  # the commit to undo
    v = snapshot_restore(spark, t, version=2)
    assert v == 4
    got = snapshot_read(spark, t)
    assert got.count() == 80
    assert {r.tag for r in got.select("tag").distinct().collect()} == {"v1", "v2"}
    m = _read_manifest(spark, t, 4)
    assert m["files"] == _read_manifest(spark, t, 2)["files"]  # by reference
    assert m["last_batch"] == 7  # watermark kept: batch 7 still skips
    assert not snapshot_append_batch(
        _df(spark, 50, 80, "v2").coalesce(1), t, batch_id=7
    )
    hist = snapshot_history(spark, t)
    assert [h["version"] for h in hist] == [1, 2, 3, 4]
    assert hist[-1]["tag"] == "restore:2"
    assert hist[1]["tag"] == "batch:7"
    # restored stats still skip files
    pruned = snapshot_read(spark, t, prune={"id": (50, None)})
    assert len(pruned.inputFiles()) == 1


def test_zorder_compact_on_empty_snapshot(spark, tmp_path):
    """Empty snapshot + zorder_by: nothing to cluster — plain rewrite,
    no crash (bounds are all NULL)."""
    from ros_sql_spark.sources.snapshot import snapshot_compact

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a").filter("id < 0"), t)
    v = snapshot_compact(spark, t, target_files=2, zorder_by=["id", "part"])
    assert snapshot_read(spark, t, version=v).count() == 0


def test_merge_with_string_key_stats_prune(spark, tmp_path):
    """Key pruning must work for STRING keys too: parquet footers carry
    string min/max, the file-bounds table is string-typed, and BETWEEN
    compares lexicographically on both sides."""
    from ros_sql_spark.sources.snapshot import _read_manifest, snapshot_merge

    t = str(tmp_path / "tbl")
    df = spark.range(0, 260).selectExpr(
        "concat('k', lpad(cast(id as string), 3, '0')) AS k",
        "cast(id as bigint) AS v",
    )
    snapshot_commit(
        df.repartitionByRange(4, F.col("k")).sortWithinPartitions("k"),
        t,
        stats_cols=["k"],
    )
    up = spark.range(0, 5).selectExpr(
        "concat('k', lpad(cast(id as string), 3, '0')) AS k",
        "cast(9999 as bigint) AS v",
    )
    v = snapshot_merge(up, t, keys=["k"])
    m = _read_manifest(spark, t, v)
    pre = set(_read_manifest(spark, t, 1)["files"])
    assert sum(1 for f in m["files"] if f in pre) == 3  # low file rewritten
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 260
    assert got.filter("v = 9999").count() == 5


def test_concurrent_append_retry_soak(spark, tmp_path):
    """4 threads race 3 appends each with the documented retry-on-
    conflict loop: every commit eventually lands exactly once (no lost
    rows, no duplicates — the writer-unique staging + create-exclusive
    publish guarantees), and versions are a gap-free sequence."""
    import threading

    from ros_sql_spark.sources.snapshot import SnapshotConflict

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 1, "seed"), t)
    errors = []

    def writer(wid: int) -> None:
        try:
            for j in range(3):
                lo = 1000 * (wid + 1) + 10 * j
                df = _df(spark, lo, lo + 10, f"w{wid}")
                for _ in range(40):  # retry loop
                    try:
                        snapshot_commit(df, t, mode="append")
                        break
                    except SnapshotConflict:
                        continue
                else:
                    raise AssertionError(f"writer {wid} starved")
        except Exception as e:  # surface into the main thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors
    vs = snapshot_versions(spark, t)
    assert vs == list(range(1, 14))  # 1 seed + 12 appends, gap-free
    got = snapshot_read(spark, t)
    assert got.count() == 1 + 4 * 3 * 10
    per_tag = {
        r.tag: r["count"]
        for r in got.groupBy("tag").count().collect()
    }
    assert all(per_tag[f"w{i}"] == 30 for i in range(4))


# ---- row-level DML: DELETE / UPDATE --------------------------------


def test_delete_prunes_files_and_matches_semantics(spark, tmp_path):
    """Ranged DELETE on a clustered table: files outside the range are
    carried by reference, and the result equals the ANSI delete (only
    predicate-TRUE rows go)."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_compact,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 800, "base").repartition(8), t, stats_cols=["id"]
    )
    snapshot_compact(spark, t, target_files=8, cluster_by=["id"])
    pre_files = set(_read_manifest(spark, t, 2)["files"])
    v = snapshot_delete(
        spark, t, "tag = 'base'", prune={"id": (100, 199)}
    )
    m = _read_manifest(spark, t, v)
    carried = [f for f in m["files"] if f in pre_files]
    assert carried, "stats pruning carried no files — rewrite was total"
    assert len(carried) < 8
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 700
    assert got.filter("id BETWEEN 100 AND 199").count() == 0
    assert got.filter("id < 100").count() == 100
    # carried files kept their stats: point reads still prune
    assert len(
        snapshot_read(spark, t, version=v, prune={"id": 700}).inputFiles()
    ) < len(m["files"])


def test_delete_null_predicate_keeps_rows(spark, tmp_path):
    """ANSI three-valued DELETE: rows where the predicate evaluates to
    NULL survive (NOT-filter alone would drop them)."""
    from ros_sql_spark.sources.snapshot import snapshot_delete

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id INT, x INT"
    )
    snapshot_commit(df, t)
    snapshot_delete(spark, t, "x > 20")
    got = {r.id for r in snapshot_read(spark, t).collect()}
    assert got == {1, 2}  # id=2 has NULL predicate → kept


def test_delete_noop_and_unconditional_refused(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_delete

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100, "a"), t, stats_cols=["id"])
    # prune range provably outside every file: metadata no-op, no commit
    v = snapshot_delete(spark, t, prune={"id": (10_000, 20_000)})
    assert v == 1
    assert snapshot_versions(spark, t) == [1]
    with pytest.raises(ValueError, match="unconditional"):
        snapshot_delete(spark, t)


def test_update_rewrites_only_touched_files(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_compact,
        snapshot_update,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 800, "base").repartition(8), t, stats_cols=["id"]
    )
    snapshot_compact(spark, t, target_files=8, cluster_by=["id"])
    pre_files = set(_read_manifest(spark, t, 2)["files"])
    pre_schema = snapshot_read(spark, t).schema
    v = snapshot_update(
        spark,
        t,
        {"tag": "concat(tag, '!')", "part": "part + 100"},
        "id % 2 = 0",
        prune={"id": (0, 99)},
    )
    m = _read_manifest(spark, t, v)
    assert [f for f in m["files"] if f in pre_files], "no files carried"
    got = snapshot_read(spark, t, version=v)
    assert got.schema == pre_schema  # SET casts back: no physical drift
    assert got.count() == 800
    assert got.filter("tag = 'base!'").count() == 50  # even ids in 0-99
    assert got.filter("part >= 100").count() == 50
    assert got.filter("id >= 100 AND tag != 'base'").count() == 0


def test_update_validates_set_targets(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_update

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    with pytest.raises(ValueError, match="SET targets"):
        snapshot_update(spark, t, {"nope": "1"})


# ---- additive schema evolution -------------------------------------


def test_schema_evolution_additive_append(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 50, "a"), t)
    wide = _df(spark, 50, 80, "b").withColumn("score", F.col("id") * 1.5)
    # without the flag: hard error with the additive hint
    with pytest.raises(ValueError, match="evolve_schema=True"):
        snapshot_commit(wide, t, mode="append")
    v2 = snapshot_commit(wide, t, mode="append", evolve_schema=True)
    got = snapshot_read(spark, t, version=v2)
    assert got.count() == 80
    assert "score" in got.columns
    # pre-evolution rows surface NULL for the new column
    assert got.filter("score IS NULL").count() == 50
    assert got.filter("score IS NOT NULL AND tag = 'b'").count() == 30
    # time travel still shows the narrow schema
    assert "score" not in snapshot_read(spark, t, version=1).columns
    # post-evolution appends with the wide schema need no flag
    v3 = snapshot_commit(
        _df(spark, 80, 90, "c").withColumn("score", F.lit(0.0)),
        t,
        mode="append",
    )
    assert snapshot_read(spark, t, version=v3).count() == 90


def test_schema_evolution_rejects_drop_and_retype(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    with pytest.raises(ValueError, match="dropped"):
        snapshot_commit(
            _df(spark, 0, 5, "b").drop("part"),
            t,
            mode="append",
            evolve_schema=True,
        )
    with pytest.raises(ValueError, match="retyped"):
        snapshot_commit(
            _df(spark, 0, 5, "b").withColumn(
                "part", F.col("part").cast("int")
            ),
            t,
            mode="append",
            evolve_schema=True,
        )


def test_merge_with_schema_evolution(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100, "base"), t)
    up = _df(spark, 90, 110, "up").withColumn("score", F.lit(1.0))
    v = snapshot_merge(up, t, keys=["id"], evolve_schema=True)
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 110
    assert got.filter("score IS NOT NULL").count() == 20
    assert got.filter("id < 90 AND score IS NULL").count() == 90


def test_changes_across_schema_evolution(spark, tmp_path):
    """CDC across an evolution boundary compares rows under the wider
    schema: carried files diff as unchanged, only the appended rows are
    inserts."""
    from ros_sql_spark.sources.snapshot import snapshot_changes

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 50, "a"), t)
    snapshot_commit(
        _df(spark, 50, 60, "b").withColumn("score", F.lit(2.0)),
        t,
        mode="append",
        evolve_schema=True,
    )
    diff = snapshot_changes(spark, t, 1, 2)
    assert diff.filter("_change = 'delete'").count() == 0
    ins = diff.filter("_change = 'insert'")
    assert ins.count() == 10
    assert ins.filter("score = 2.0").count() == 10


def test_retention_delete_drops_contained_files_metadata_only(
    spark, tmp_path
):
    """Prune-only DELETE (the retention shape): files whose min/max are
    CONTAINED in the bounds vanish from the manifest without being read
    or rewritten — only boundary-straddling files rewrite."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    # three appends with disjoint id ranges → per-file stats are tight
    snapshot_commit(
        _df(spark, 0, 100, "old").coalesce(1), t, stats_cols=["id"]
    )
    snapshot_commit(
        _df(spark, 100, 200, "mid").coalesce(1), t, mode="append"
    )
    snapshot_commit(
        _df(spark, 200, 300, "new").coalesce(1), t, mode="append"
    )
    pre = _read_manifest(spark, t, 3)
    assert len(pre["files"]) == 3
    # retention cutoff at 150: file [0,99] fully expired, [100,199]
    # straddles, [200,299] untouched
    v = snapshot_delete(spark, t, prune={"id": (None, 149)})
    m = _read_manifest(spark, t, v)
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 150
    assert got.filter("id < 150").count() == 0
    # the expired file is GONE and was not rewritten: exactly one new
    # file (the straddler's rewrite) + one carried original
    old_kept = [f for f in m["files"] if f in set(pre["files"])]
    assert len(old_kept) == 1  # only the [200,299] file carried
    assert len(m["files"]) <= 2


def test_retention_delete_empties_table(spark, tmp_path):
    from ros_sql_spark.sources.snapshot import snapshot_delete

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 50, "a").coalesce(1), t, stats_cols=["id"]
    )
    v = snapshot_delete(spark, t, prune={"id": (None, 10_000)})
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "tag", "part"]


def test_delete_with_where_never_drops_files_blind(spark, tmp_path):
    """With a residual ``where``, containment proves nothing — the file
    must rewrite, and rows failing the residual survive."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100, "a").coalesce(1), t, stats_cols=["id"]
    )
    pre = set(_read_manifest(spark, t, 1)["files"])
    v = snapshot_delete(
        spark, t, "part = 0", prune={"id": (None, 10_000)}
    )
    m = _read_manifest(spark, t, v)
    assert not [f for f in m["files"] if f in pre]  # rewritten, not kept
    got = snapshot_read(spark, t, version=v)
    assert got.filter("part = 0").count() == 0
    assert got.count() == _df(spark, 0, 100, "a").filter("part != 0").count()


def test_update_set_reads_pre_update_row(spark, tmp_path):
    """ANSI UPDATE: every SET expression evaluates against the
    PRE-update row — the classic swap must actually swap."""
    from ros_sql_spark.sources.snapshot import snapshot_update

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 10, 20), (2, 30, 40)], "id INT, a INT, b INT"
    )
    snapshot_commit(df, t)
    snapshot_update(spark, t, {"a": "b", "b": "a"}, "id = 1")
    got = {r.id: (r.a, r.b) for r in snapshot_read(spark, t).collect()}
    assert got == {1: (20, 10), 2: (30, 40)}


def test_vacuum_reclaims_retention_dropped_files(spark, tmp_path):
    """retention DELETE → vacuum: the metadata-dropped files physically
    disappear, and the current version keeps serving."""
    import os

    from ros_sql_spark.sources.snapshot import snapshot_delete

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100, "old").coalesce(1), t, stats_cols=["id"]
    )
    snapshot_commit(
        _df(spark, 200, 300, "new").coalesce(1), t, mode="append"
    )
    v = snapshot_delete(spark, t, prune={"id": (None, 150)})
    deleted = snapshot_vacuum(spark, t, keep_last=1)
    assert deleted, "vacuum reclaimed nothing"
    for f in deleted:
        assert not os.path.exists(f[5:] if f.startswith("file:") else f)
    got = snapshot_read(spark, t, version=v)
    assert got.count() == 100
    assert got.filter("id < 200").count() == 0


def test_dml_vs_append_race_soak(spark, tmp_path):
    """A streaming-style appender races a retention deleter, both with
    the documented retry-on-conflict loop: every append lands exactly
    once (the delete's bounds never cover appended ids, so OCC must
    never let a delete swallow a concurrent append), the expired range
    is gone, and versions stay gap-free."""
    import threading

    from ros_sql_spark.sources.snapshot import (
        SnapshotConflict,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 100, "base").coalesce(1), t, stats_cols=["id"]
    )
    errors = []

    def appender() -> None:
        try:
            for j in range(6):
                df = _df(
                    spark, 10_000 + 10 * j, 10_000 + 10 * j + 10, "app"
                ).coalesce(1)
                for _ in range(60):
                    try:
                        snapshot_commit(df, t, mode="append")
                        break
                    except SnapshotConflict:
                        continue
                else:
                    raise AssertionError("appender starved")
        except Exception as e:
            errors.append(e)

    th = threading.Thread(target=appender)
    th.start()
    for _ in range(4):
        for _ in range(60):
            try:
                snapshot_delete(spark, t, prune={"id": (None, 5000)})
                break
            except SnapshotConflict:
                continue
        else:
            raise AssertionError("deleter starved")
    th.join(timeout=300)
    assert not errors, errors
    got = snapshot_read(spark, t)
    assert got.filter("id < 5000").count() == 0  # base expired
    assert got.filter("tag = 'app'").count() == 60  # nothing lost
    vs = snapshot_versions(spark, t)
    assert vs == list(range(1, len(vs) + 1))  # gap-free


def test_meta_binding_carried_and_replaced(spark, tmp_path):
    """snapshot_commit(meta=...): pinned to the snapshot, carried
    forward by append/compact/metadata-only DML, replaced only
    explicitly, and historical versions keep their own binding."""
    from ros_sql_spark.sources.snapshot import (
        snapshot_compact,
        snapshot_delete,
        snapshot_meta,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        _df(spark, 0, 50, "a").coalesce(1), t,
        stats_cols=["id"], meta={"gen": 1},
    )
    snapshot_commit(_df(spark, 100, 150, "b").coalesce(1), t, mode="append")
    assert snapshot_meta(spark, t) == {"gen": 1}  # append carries
    snapshot_compact(spark, t, target_files=1)
    assert snapshot_meta(spark, t) == {"gen": 1}  # compact carries
    snapshot_delete(spark, t, prune={"id": (0, 60)})  # metadata-only drop
    assert snapshot_meta(spark, t) == {"gen": 1}  # pure-metadata carries
    snapshot_commit(_df(spark, 0, 10, "c"), t, meta={"gen": 2})
    assert snapshot_meta(spark, t) == {"gen": 2}  # explicit replace
    assert snapshot_meta(spark, t, version=1) == {"gen": 1}  # history


def test_replace_where_with_schema_evolution(spark, tmp_path):
    """replace_where + evolve_schema: the kept complement (old schema)
    and the replacement (wider schema) coexist in one version; reads
    null-fill the kept rows' new column."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100, "a"), t)
    repl = _df(spark, 200, 220, "b").withColumn("score", F.lit(1.0))
    v = snapshot_commit(
        repl, t, replace_where="part = 0", evolve_schema=True
    )
    got = snapshot_read(spark, t, version=v)
    assert got.filter("part = 0 AND tag = 'a'").count() == 0
    assert got.filter("tag = 'b'").count() == 20
    kept = got.filter("tag = 'a'")
    assert kept.count() == _df(spark, 0, 100, "a").filter("part != 0").count()
    assert kept.filter("score IS NOT NULL").count() == 0  # null-filled


def test_dml_on_evolved_table_null_semantics(spark, tmp_path):
    """DELETE/UPDATE on an evolved table: pre-evolution rows surface
    NULL for the new column, so a predicate on it is NULL there —
    DELETE keeps them, UPDATE leaves them untouched (ANSI)."""
    from ros_sql_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_update,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 50, "a"), t)
    snapshot_commit(
        _df(spark, 50, 100, "b").withColumn("score", F.lit(5.0)),
        t,
        mode="append",
        evolve_schema=True,
    )
    snapshot_delete(spark, t, "score > 1.0")
    got = snapshot_read(spark, t)
    assert got.count() == 50  # only the scored rows deleted
    assert got.filter("tag = 'a'").count() == 50  # NULL predicate kept

    snapshot_update(spark, t, {"tag": "'touched'"}, "score IS NULL")
    got2 = snapshot_read(spark, t)
    assert got2.filter("tag = 'touched'").count() == 50


_XPROC_WORKER = r'''
import sys, time, os
table, wid = sys.argv[1], int(sys.argv[2])
barrier = sys.argv[3]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
sys.path.insert(0, os.path.dirname(barrier))
from ros_sql_spark.sources.snapshot import SnapshotConflict, snapshot_commit

open(barrier + f".ready{wid}", "w").close()
while not os.path.exists(barrier):  # start together: maximize racing
    time.sleep(0.05)
for j in range(4):
    lo = 1000 * (wid + 1) + 10 * j
    df = spark.createDataFrame(
        [(i, f"w{wid}") for i in range(lo, lo + 10)], "id long, tag string"
    )
    for _ in range(60):
        try:
            snapshot_commit(df, table, mode="append")
            break
        except SnapshotConflict:
            continue
    else:
        print("STARVED", wid); sys.exit(2)
print("OK", wid)
spark.stop()
'''


@pytest.mark.slow  # >=10s in the r11 duration profile
@pytest.mark.skipif(
    not TEST_FULL,
    reason="cross-process soak: opt-in tier (ROSQL_TEST_FULL=1); the "
    "in-process OCC race (test_concurrent_append_retry_soak) and the "
    "single-shot cross-process commit semantics stay default",
)
def test_cross_process_occ_soak(spark, tmp_path):
    """The r5 verdict's one untested claim: the rename-without-overwrite
    commit point must hold across SEPARATE JVMs, not just threads in
    one (HDFS FileContext semantics).  Two independent Spark processes
    race 4 appends each on a shared table behind a start barrier; every
    commit lands exactly once, versions stay gap-free, and no rows are
    lost or duplicated."""
    import os
    import subprocess
    import sys
    import time

    t = str(tmp_path / "xtbl")
    snapshot_commit(
        spark.createDataFrame([(0, "seed")], "id long, tag string"), t
    )
    barrier = str(tmp_path / "go")
    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo" + os.pathsep + env.get("PYTHONPATH", "")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _XPROC_WORKER, t, str(w), barrier],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
        )
        for w in range(2)
    ]
    deadline = time.time() + 240
    while time.time() < deadline and not all(
        os.path.exists(barrier + f".ready{w}") for w in range(2)
    ):
        time.sleep(0.2)
    open(barrier, "w").close()  # both sessions up: fire the gun
    outs = [p.communicate(timeout=300)[0].decode() for p in procs]
    for w, (p, out) in enumerate(zip(procs, outs)):
        assert p.returncode == 0 and f"OK {w}" in out, out[-2000:]

    vs = snapshot_versions(spark, t)
    assert vs == list(range(1, 10))  # 1 seed + 2×4 appends, gap-free
    got = snapshot_read(spark, t)
    assert got.count() == 1 + 2 * 4 * 10
    assert got.select("id").distinct().count() == 1 + 2 * 4 * 10
    per_tag = {r.tag: r["count"] for r in got.groupBy("tag").count().collect()}
    assert per_tag == {"seed": 1, "w0": 40, "w1": 40}


def test_hadoop_readable_bounded_read(spark, tmp_path):
    """The r6-review bug: py4j resolves IOUtils.copyBytes(in, out, n,
    False) to the int-buffSize WHOLE-STREAM overload, so read(n) used
    to return every byte to EOF.  The adapter must return exactly n
    bytes, honor seek/tell, flip .closed, and still parse a real
    parquet footer."""
    import pyarrow.parquet as papq

    from ros_sql_spark.sources.snapshot import _HadoopReadable

    p = str(tmp_path / "t.parquet")
    spark.range(1000).coalesce(1).write.parquet(p)
    f = [x for x in __import__("os").listdir(p) if x.endswith(".parquet")][0]
    path = f"{p}/{f}"

    r = _HadoopReadable(spark, path)
    try:
        assert len(r.read(16)) == 16  # NOT the whole file
        assert r.tell() == 16
        r.seek(-8, 2)
        tail = r.read(8)
        assert len(tail) == 8 and tail[-4:] == b"PAR1"
        r.seek(0)
        md = papq.ParquetFile(r).metadata
        assert md.num_rows == 1000
    finally:
        r.close()
    assert r.closed is True


_XPROC_DML_WORKER = r'''
import sys, time, os
table, wid = sys.argv[1], int(sys.argv[2])
barrier = sys.argv[3]
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from ros_sql_spark.sources.snapshot import (
    SnapshotConflict,
    snapshot_commit,
    snapshot_delete_keys,
    snapshot_merge,
)

def retrying(fn):
    for _ in range(120):
        try:
            return fn()
        except SnapshotConflict:
            time.sleep(0.02)
    print("STARVED", wid); sys.exit(2)

open(barrier + f".ready{wid}", "w").close()
while not os.path.exists(barrier):
    time.sleep(0.05)
if wid == 0:
    # appender: 4 batches of fresh keys
    for j in range(4):
        lo = 1000 + 10 * j
        df = spark.createDataFrame(
            [(i, "w0") for i in range(lo, lo + 10)], "id long, tag string"
        )
        retrying(lambda: snapshot_commit(df, table, mode="append"))
else:
    # keyed-DML writer: merges + a keyed delete, sequential, each
    # racing the appender's commits for the version slot
    for j, tag in enumerate(("m0", "m1")):
        up = spark.createDataFrame(
            [(i, tag) for i in range(0, 20)], "id long, tag string"
        )
        retrying(lambda: snapshot_merge(up, table, keys=["id"]))
    doomed = spark.createDataFrame([(i,) for i in range(80, 90)], "id long")
    retrying(lambda: snapshot_delete_keys(doomed, table, keys=["id"]))
    up = spark.createDataFrame(
        [(i, "m2") for i in range(0, 20)], "id long, tag string"
    )
    retrying(lambda: snapshot_merge(up, table, keys=["id"]))
print("OK", wid)
spark.stop()
'''


@pytest.mark.slow  # >=10s in the r11 duration profile
@pytest.mark.skipif(
    not TEST_FULL,
    reason="cross-process soak: opt-in tier (ROSQL_TEST_FULL=1); the "
    "in-process OCC race (test_concurrent_append_retry_soak) and the "
    "single-shot cross-process commit semantics stay default",
)
def test_cross_process_keyed_dml_soak(spark, tmp_path):
    """r6 directive #5: the exact-file-candidacy REWRITE path (merge /
    delete_keys, expected_version-guarded, carry-by-reference for
    untouched files) must hold across separate JVMs racing an appender
    at the rename-without-overwrite commit point — not just appends.
    Final state is deterministic because the key sets are disjoint and
    each writer is internally sequential: zero lost or duplicated rows,
    gap-free versions, carried files still readable."""
    import os
    import subprocess
    import sys
    import time

    t = str(tmp_path / "dmltbl")
    # seed across several files so merges CARRY most files by reference
    seed = spark.createDataFrame(
        [(i, "seed") for i in range(100)], "id long, tag string"
    ).repartition(8, "id")
    snapshot_commit(seed, t, stats_cols=["id"])
    barrier = str(tmp_path / "go")
    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo" + os.pathsep + env.get("PYTHONPATH", "")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _XPROC_DML_WORKER, t, str(w), barrier],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
        )
        for w in range(2)
    ]
    deadline = time.time() + 240
    while time.time() < deadline and not all(
        os.path.exists(barrier + f".ready{w}") for w in range(2)
    ):
        time.sleep(0.2)
    open(barrier, "w").close()
    outs = [p.communicate(timeout=300)[0].decode() for p in procs]
    for w, (p, out) in enumerate(zip(procs, outs)):
        assert p.returncode == 0 and f"OK {w}" in out, out[-2000:]

    vs = snapshot_versions(spark, t)
    # 1 seed + 4 appends + 3 merges + 1 keyed delete, gap-free
    assert vs == list(range(1, 10))
    got = snapshot_read(spark, t)
    rows = {r.id: r.tag for r in got.collect()}
    assert got.count() == len(rows), "duplicated keys"
    expect = {i: "m2" for i in range(0, 20)}
    expect.update({i: "seed" for i in range(20, 80)})
    expect.update({i: "seed" for i in range(90, 100)})
    expect.update({i: "w0" for i in range(1000, 1040)})
    assert rows == expect


def test_retention_fast_path_never_blind_drops_null_rows(spark, tmp_path):
    """ANSI DELETE keeps rows where the predicate is NULL; parquet
    min/max exclude NULLs, so a file whose non-null range is contained
    in the bounds must NOT be dropped metadata-only when it also holds
    NULL rows (round-8 review: it was — silent data loss whose
    semantics depended on file layout)."""
    from ros_sql_spark.sources.snapshot import snapshot_delete

    t = str(tmp_path / "tbl")
    withnulls = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, None)],
        "id long, ts long",
    ).coalesce(1)
    snapshot_commit(withnulls, t, stats_cols=["ts"])
    snapshot_delete(spark, t, prune={"ts": (None, 100)})
    kept = {(r.id, r.ts) for r in snapshot_read(spark, t).collect()}
    assert kept == {(3, None), (4, None)}, kept

    # and a null-FREE contained file still takes the metadata-only
    # path: the new version introduces no new data files (pure carry)
    t2 = str(tmp_path / "tbl2")
    snapshot_commit(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, ts long")
        .coalesce(1),
        t2,
        stats_cols=["ts"],
    )
    snapshot_commit(
        spark.createDataFrame([(5, 500)], "id long, ts long").coalesce(1),
        t2,
        mode="append",
    )
    from ros_sql_spark.sources.snapshot import _read_manifest

    before = set(_read_manifest(spark, t2, 2)["files"])
    v = snapshot_delete(spark, t2, prune={"ts": (None, 100)})
    after = set(_read_manifest(spark, t2, v)["files"])
    assert after < before  # dropped metadata-only: no new files written
    assert {r.id for r in snapshot_read(spark, t2).collect()} == {5}


def test_merge_drop_enforcement_is_layout_independent(spark, tmp_path):
    """snapshot_merge must raise for a df missing an EXISTING column
    whether or not key pruning finds candidate files (round-8 review:
    with candidates, allowMissingColumns silently refilled the column
    as NULL and committed)."""
    from ros_sql_spark.sources.snapshot import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 50, "a").coalesce(1), t, stats_cols=["id"])
    dropped = spark.range(10, 20).select("id")  # missing tag, part

    # keys overlap stored bounds -> candidates exist
    with pytest.raises(ValueError, match="missing existing columns"):
        snapshot_merge(dropped, t, keys=["id"], evolve_schema=True)
    # keys beyond all bounds -> no candidates; SAME error
    far = spark.range(1000, 1010).select("id")
    with pytest.raises(ValueError, match="missing existing columns"):
        snapshot_merge(far, t, keys=["id"], evolve_schema=True)
    # table unchanged by both failed statements
    assert snapshot_versions(spark, t) == [1]


def test_metadata_only_delete_bumps_batch_watermark(spark, tmp_path):
    """A batch-tagged retention delete that takes the PURE-METADATA
    path must advance last_batch exactly like the rewrite path would —
    otherwise a replayed batch re-commits (round-8 review)."""
    from ros_sql_spark.sources.snapshot import (
        _list_versions,
        _read_manifest,
        snapshot_append_batch,
        snapshot_delete,
    )

    t = str(tmp_path / "tbl")
    snapshot_append_batch(_df(spark, 0, 50, "a").coalesce(1), t, 6,
                          stats_cols=["id"])
    v = snapshot_delete(spark, t, prune={"id": (0, 100)}, tag="batch:7")
    m = _read_manifest(spark, t, v)
    assert m.get("last_batch") == 7, m
    # a replayed batch 7 append is now skipped
    assert not snapshot_append_batch(_df(spark, 50, 60, "b"), t, 7)
    assert snapshot_versions(spark, t)[-1] == v


def test_merge_batch_tag_only_fallback_skips_stale_replay(spark, tmp_path):
    """snapshot_merge_batch on a head manifest carrying only a
    'batch:N' tag (pre-last_batch era) must skip a stale replayed
    batch like snapshot_append_batch does (round-8 review: it
    re-merged old values over newer keys)."""
    from ros_sql_spark.sources.snapshot import (
        _list_versions,
        _read_manifest,
        _publish_manifest,
        snapshot_merge_batch,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 20, "new").coalesce(1), t)
    # simulate a pre-last_batch head: tag only, no last_batch key
    m = _read_manifest(spark, t, 1)
    m2 = dict(m)
    m2["version"] = 2
    m2["tag"] = "batch:9"
    m2.pop("last_batch", None)
    _publish_manifest(spark, t, 2, m2)

    # stale batch 8 redelivery must be a no-op
    assert not snapshot_merge_batch(_df(spark, 0, 20, "old"), t, ["id"], 8)
    assert snapshot_versions(spark, t)[-1] == 2
    assert {r.tag for r in snapshot_read(spark, t).collect()} == {"new"}


def test_vacuum_reclaims_dataless_staging_dirs(spark, tmp_path):
    """A staging directory at/below the published watermark holding NO
    manifest-visible data files (a crashed writer's _temporary
    leftovers) must be reclaimed by vacuum instead of surviving
    forever (round-8 review)."""
    import os

    from ros_sql_spark.sources.snapshot import snapshot_vacuum

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 20, "a").coalesce(1), t)
    ghost = os.path.join(t, "data", "v00001-deadbeef", "_temporary")
    os.makedirs(ghost)
    assert snapshot_vacuum(spark, t) is not None
    assert not os.path.exists(os.path.dirname(ghost))
    # the live version's data is untouched
    assert snapshot_read(spark, t).count() == 20


def test_changes_prunes_shared_files(spark, tmp_path):
    """Round-11 manifest-pruned CDC: files present in BOTH versions
    cancel out of the multiset diff exactly, so neither side may scan
    them — diffing adjacent versions of a many-file table reads only
    the delta files (inputFiles() is the proof), while the answer is
    identical to the unpruned exceptAll."""
    from ros_sql_spark.sources.snapshot import (
        _read_manifest,
        snapshot_changes,
        snapshot_read,
    )

    t = str(tmp_path / "tbl")
    # v1: 4 files; v2: one appended file
    snapshot_commit(_df(spark, 0, 100, "a").repartition(4), t)
    snapshot_commit(_df(spark, 100, 120, "b").coalesce(1), t, mode="append")
    diff = snapshot_changes(spark, t, 1, 2)
    m1 = set(_read_manifest(spark, t, 1)["files"])
    m2 = set(_read_manifest(spark, t, 2)["files"])
    delta = (m1 | m2) - (m1 & m2)
    assert len(m1 & m2) == 4  # the carried files really are shared
    scanned = {f.replace("file://", "file:") for f in diff.inputFiles()}
    normalized_delta = {f.replace("file://", "file:") for f in delta}
    assert scanned <= normalized_delta, (scanned, normalized_delta)
    # and the pruned answer equals the unpruned one
    rows = diff.collect()
    assert all(r._change == "insert" for r in rows)
    assert sorted(r.id for r in rows) == list(range(100, 120))
    old = snapshot_read(spark, t, version=1)
    new = snapshot_read(spark, t, version=2)
    want_ins = sorted(
        r.id for r in new.exceptAll(old).collect()
    )
    assert sorted(r.id for r in rows) == want_ins


def test_changes_empty_after_compaction_full_rewrite(spark, tmp_path):
    """A compaction rewrites every path — nothing is shared, the diff
    degrades to the full scan and must still return the correct
    (empty) answer; a keyed merge AFTER the compaction diffs only the
    touched rows."""
    from ros_sql_spark.sources.snapshot import (
        snapshot_changes,
        snapshot_compact,
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 100, "a").repartition(4), t)
    snapshot_compact(spark, t, target_files=1)
    assert snapshot_changes(spark, t, 1, 2).count() == 0
    snapshot_merge(_df(spark, 10, 12, "upd"), t, keys=["id"])
    ch = snapshot_changes(spark, t, 2, 3).collect()
    got = sorted((r._change, r.id, r.tag) for r in ch)
    assert got == [
        ("delete", 10, "a"), ("delete", 11, "a"),
        ("insert", 10, "upd"), ("insert", 11, "upd"),
    ]


def test_changes_vacuumed_version_named_error(spark, tmp_path):
    """A vacuumed (or never-existing) endpoint must fail with the
    named retained-versions error, not a bare missing-manifest read."""
    import pytest

    from ros_sql_spark.sources.snapshot import (
        snapshot_changes,
        snapshot_vacuum,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, 0, 10, "a"), t)
    snapshot_commit(_df(spark, 10, 20, "b"), t, mode="append")
    snapshot_commit(_df(spark, 20, 30, "c"), t, mode="append")
    snapshot_vacuum(spark, t, keep_last=1)
    with pytest.raises(FileNotFoundError, match="retained versions"):
        snapshot_changes(spark, t, 1, 3)
    with pytest.raises(FileNotFoundError, match="retained versions"):
        snapshot_changes(spark, t, 3, 99)
