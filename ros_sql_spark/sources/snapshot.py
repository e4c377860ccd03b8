"""Manifest-based snapshot tables: atomic commits over plain parquet.

``sources/maintenance.py`` documents the one gap plain parquet
directories cannot close: partition replacement (compaction, rollup
upserts) is only as atomic as the commit protocol's file moves, so a
reader racing a rewrite can see a partition mid-swap.  Table formats
(Iceberg/Delta — public designs) close it with an indirection: readers
never list directories, they read a MANIFEST naming the exact data
files of a snapshot, and a commit is one atomic manifest publication.
This module is that indirection in its minimal honest form — no new
dependencies, Spark-native IO, the same concepts (snapshot isolation,
optimistic concurrency, time travel, vacuum) at engine-appropriate
scope:

- data files are immutable: every commit WRITES NEW FILES under a
  WRITER-UNIQUE staging directory ``data/v<N>-<token>/`` and publishes
  ``_manifests/v<N>.json`` listing the full file set of snapshot N
  (carried-over files are listed by path, not copied — a metadata-only
  operation, like Iceberg manifests).  The per-writer token matters:
  two writers racing for the same version never share a directory, so
  the winner's manifest can never accidentally list the loser's part
  files (the loser's staging dir becomes unreferenced garbage that the
  next vacuum reclaims);
- the manifest is published ATOMICALLY: the full JSON body is written
  to a hidden temp file, closed, then renamed to ``v<N>.json`` with
  rename-without-overwrite (``FileContext.rename(…, Rename.NONE)``).
  Readers therefore never observe an empty or half-written manifest,
  a crash before the rename leaves only an invisible temp file, and
  two racing writers on the same version — one wins the rename, the
  loser gets a clean :class:`SnapshotConflict` (optimistic
  concurrency); any non-conflict IO failure propagates unchanged;
- readers resolve the latest manifest ONCE per read and then scan only
  its files: a concurrent commit cannot change a running query's file
  set (snapshot isolation), and old snapshots stay readable
  (``version=`` time travel) until ``vacuum``;
- ``vacuum`` deletes data files unreachable from the kept manifests —
  the ONLY deleting operation, explicitly invoked, never part of a
  commit.

Caveat (honest): create-exclusive is atomic on HDFS-like filesystems
and local disk; object stores without atomic create-if-absent (plain
S3) need an external lock or a DynamoDB-style conditional put — the
same caveat Delta's S3 story has.  The 100 TB shape is unchanged:
manifests are O(files) JSON metadata; data moves only when a commit
actually rewrites rows.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

from ros_sql_spark.functions.pin import pin, pin_scope

__all__ = [
    "snapshot_commit",
    "snapshot_read",
    "snapshot_versions",
    "snapshot_meta",
    "snapshot_vacuum",
    "snapshot_append_batch",
    "snapshot_compact",
    "snapshot_write_stream",
    "snapshot_commit_staged_files",
    "snapshot_merge",
    "snapshot_delete",
    "snapshot_delete_keys",
    "snapshot_update",
    "snapshot_merge_batch",
    "snapshot_merge_stream",
    "snapshot_changes",
    "snapshot_read_incremental",
    "snapshot_history",
    "snapshot_restore",
    "SnapshotConflict",
]

_MANIFEST_DIR = "_manifests"


class SnapshotConflict(RuntimeError):
    """Another writer published this version first (optimistic
    concurrency): re-read the latest snapshot and retry the commit."""


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _list_versions(spark: SparkSession, table: str) -> list[int]:
    fs, _, jvm = _fs(spark, table)
    mdir = jvm.org.apache.hadoop.fs.Path(f"{table}/{_MANIFEST_DIR}")
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _read_manifest(spark: SparkSession, table: str, version: int) -> dict:
    fs, _, jvm = _fs(spark, table)
    p = jvm.org.apache.hadoop.fs.Path(
        f"{table}/{_MANIFEST_DIR}/v{version:05d}.json"
    )
    stream = fs.open(p)
    try:
        # ONE py4j round trip for the whole file: a manifest is O(files)
        # JSON — at 10⁴ files that is ~1 MB, and a byte-per-call py4j
        # loop would take minutes (measured class of bug); copyBytes
        # runs wholly JVM-side.
        bos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 65536, False)
        data = bytes(bos.toByteArray())
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _publish_manifest(
    spark: SparkSession, table: str, version: int, manifest: dict
) -> None:
    """Atomic commit point: write the COMPLETE manifest body to a hidden
    temp file, then rename-without-overwrite onto ``v<N>.json``.

    The rename is the single atomic step — readers either see no
    manifest or a complete one (no torn reads), a crash pre-rename
    strands only a dot-prefixed temp file that ``_list_versions``
    ignores, and a same-version race is decided by the filesystem:
    exactly one rename lands, the other raises FileAlreadyExists which
    is mapped — and ONLY it — to :class:`SnapshotConflict`.  Permission
    or transient IO errors re-raise unchanged so callers never retry an
    unretryable failure.  (Same caveat as the module header: object
    stores without atomic rename need an external commit coordinator.)
    """
    fs, _, jvm = _fs(spark, table)
    final = jvm.org.apache.hadoop.fs.Path(
        f"{table}/{_MANIFEST_DIR}/v{version:05d}.json"
    )
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{table}/{_MANIFEST_DIR}/.tmp-v{version:05d}-{uuid.uuid4().hex}.json"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(manifest, indent=1).encode("utf-8")))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        final.toUri(), spark._jsc.hadoopConfiguration()
    )
    ren_cls = jvm.org.apache.hadoop.fs.Options.Rename
    no_overwrite = spark.sparkContext._gateway.new_array(ren_cls, 1)
    no_overwrite[0] = ren_cls.NONE
    try:
        fc.rename(tmp, final, no_overwrite)
    except Exception as exc:  # narrow below: conflict vs real IO error
        fs.delete(tmp, False)
        je = getattr(exc, "java_exception", None)
        name = je.getClass().getName() if je is not None else ""
        if name.endswith("FileAlreadyExistsException") or fs.exists(final):
            raise SnapshotConflict(
                f"version {version} already published at {table}"
            ) from exc
        raise


def _data_files(spark: SparkSession, root: str) -> list[str]:
    fs, p, _ = _fs(spark, root)
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            out.append(st.getPath().toString())
    return sorted(out)


def snapshot_versions(spark: SparkSession, table: str) -> list[int]:
    """All published snapshot versions, ascending."""
    return _list_versions(spark, table)


def snapshot_meta(
    spark: SparkSession, table: str, version: int | None = None
) -> dict | None:
    """The carried ``meta`` binding of a snapshot (latest by default) —
    see ``snapshot_commit(meta=...)``.  None if the table never
    recorded one."""
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    return _read_manifest(spark, table, v).get("meta")


class _HadoopReadable:
    """Minimal seekable file-like over a Hadoop ``FSDataInputStream`` so
    pyarrow can parse parquet FOOTERS on any Hadoop-supported filesystem
    (HDFS/S3A/...), not just local paths.

    FOOTER-READ shaped by design: ``read(n)`` copies from the current
    position to EOF JVM-side and slices the first ``n`` bytes in Python.
    py4j cannot reach the bounded ``IOUtils.copyBytes(…, long count, …)``
    overload (a Python int resolves to the ``int buffSize`` whole-stream
    overload — measured: read(16) returned the whole file), and parquet
    metadata access only ever reads suffixes (the speculative ~64 KB
    tail, then footer+8 bytes), so copy-to-EOF costs exactly the bytes
    pyarrow wants.  Do NOT use this adapter for sequential scans from
    the front of a large file — each read would copy the remaining
    file."""

    def __init__(self, spark: SparkSession, path: str):
        fs, p, jvm = _fs(spark, path)
        self._jvm = jvm
        self._len = fs.getFileStatus(p).getLen()
        self._in = fs.open(p)
        self._pos = 0
        self.closed = False

    def size(self) -> int:
        return self._len

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        else:
            self._pos = self._len + offset
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._len - self._pos
        n = max(0, min(n, self._len - self._pos))
        if n == 0:
            return b""
        self._in.seek(self._pos)
        bos = self._jvm.java.io.ByteArrayOutputStream()
        # copies position→EOF (see class docstring: the bounded long-
        # count overload is unreachable from py4j); slice to the n
        # bytes the caller asked for
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            self._in, bos, 65536, False
        )
        data = bytes(bos.toByteArray())[:n]
        self._pos += len(data)
        return data

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def close(self) -> None:
        self._in.close()
        self.closed = True


def _parquet_metadata(spark: SparkSession, path: str):
    """Parquet footer metadata for ``path`` on ANY filesystem: local
    paths (no scheme / ``file:``) open directly through pyarrow (fast
    path, zero py4j); remote schemes go through :class:`_HadoopReadable`
    so HDFS/S3 commits get the same zero-row exclusion and data-skipping
    stats as local ones instead of silently recording none."""
    import pyarrow.parquet as papq

    if path.startswith("file:"):
        return papq.ParquetFile(path[5:]).metadata
    if "://" not in path and not path.startswith(("hdfs:", "s3:")):
        return papq.ParquetFile(path).metadata
    f = _HadoopReadable(spark, path)
    try:
        return papq.ParquetFile(f).metadata
    finally:
        f.close()


def _scan_footers(
    spark: SparkSession, paths: list[str], cols: list[str] | None
) -> tuple[list[str], dict]:
    """ONE parquet footer read per file serving BOTH commit-time needs
    (round-8 review: the split _nonempty_files + _file_stats pair read
    every footer twice — two driver round trips per file on an object
    store): zero-row part files are excluded (Spark writes one empty
    part for an empty frame, and a stat-less empty file is an eternal
    keyed-DML rewrite candidate — the non-idempotent-expire bug class),
    and per-file column stats for ``cols`` are aggregated across row
    groups.

    This is the data-skipping substrate Iceberg/Delta manifests carry
    (public designs): O(files) tiny footer reads at commit time buy
    file-level pruning at every subsequent read.  The scan runs
    driver-side over THIS COMMIT's files only (a commit writes a
    bounded file count; carried files keep their previously recorded
    stats).

    Stats entry format: ``[lo, hi]`` or ``[lo, hi, null_count]`` —
    null_count recorded only when EVERY row group reports one.  The
    retention fast path (:func:`_file_all_match`) requires a KNOWN
    ZERO null count before dropping a file blind: parquet min/max
    exclude NULLs, and ANSI DELETE keeps NULL-predicate rows — a blind
    containment drop was silently deleting them (round-8 review).
    Columns whose footer lacks usable min/max are absent for that file
    (readers treat as "never prune"); unreadable footers KEEP the file
    and record no stats (safe default: unprunable, never blind-dropped).
    Values are stored JSON-native (int/float/str/bool).
    """
    keep: list[str] = []
    stats: dict = {}
    for p in paths:
        try:
            md = _parquet_metadata(spark, p)
        except Exception:
            keep.append(p)
            continue
        if md.num_rows == 0:
            continue
        keep.append(p)
        if not cols:
            continue
        # by dotted path, not leaf name: a struct leaf sharing a
        # top-level name (hdr.ts_ns vs ts_ns) must not shadow it
        path_to_idx = {
            md.schema.column(i).path: i for i in range(md.num_columns)
        }
        fstats: dict = {}
        for c in cols:
            ci = path_to_idx.get(c)
            if ci is None:
                continue
            lo = hi = None
            ok = True
            nulls = 0
            nulls_known = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = st.min, st.max
                if not isinstance(mn, (int, float, str, bool)) or not isinstance(
                    mx, (int, float, str, bool)
                ):
                    ok = False
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
                nc = st.null_count if st.has_null_count else None
                if nc is None:
                    nulls_known = False
                else:
                    nulls += nc
            if ok and lo is not None:
                fstats[c] = [lo, hi, nulls] if nulls_known else [lo, hi]
        if fstats:
            stats[p] = fstats
    return keep, stats


def snapshot_commit(
    df: DataFrame,
    table: str,
    *,
    mode: str = "overwrite",
    replace_where: str | None = None,
    expected_version: int | None = None,
    tag: str | None = None,
    stats_cols: list[str] | None = None,
    carry_files: list[str] | None = None,
    evolve_schema: bool = False,
    meta: dict | None = None,
) -> int:
    """Publish ``df`` as the next snapshot of ``table``; returns the new
    version.

    - ``mode="overwrite"`` (default): the new snapshot is exactly
      ``df`` (old snapshots remain readable until vacuum);
    - ``mode="append"``: the new snapshot is the previous snapshot's
      files CARRIED BY REFERENCE plus ``df``'s new files — a
      metadata-only append (no old data moves), the shape a streaming
      sink commits every micro-batch;
    - ``replace_where``: SQL predicate — the new snapshot is (previous
      snapshot WHERE NOT predicate) ∪ df.  Mirrors partition
      replacement (rollup upserts, compaction) with reader isolation.
    - ``expected_version``: optimistic-concurrency guard — fail with
      :class:`SnapshotConflict` if the table moved past it.
    - ``tag``: opaque marker recorded in the manifest (e.g. a streaming
      batch id) — the idempotency token replays check.
    - ``carry_files``: advanced overwrite form — carry these files of
      the previous snapshot by reference alongside ``df``'s new files
      (:func:`snapshot_merge` uses it to skip rewriting files its key
      pruning proved untouched).
    - ``stats_cols``: record per-file min/max for these columns in the
      manifest (parquet-footer metadata reads only) so
      :func:`snapshot_read` can SKIP whole files for range predicates —
      Iceberg/Delta-style data skipping.  Appends carry the previous
      files' stats forward unchanged; once a table commits with
      stats_cols, later appends default to the same columns.
    - ``evolve_schema``: allow PURELY ADDITIVE schema evolution — ``df``
      may introduce NEW columns (any position; reads are name-based),
      but every existing column must keep its exact type and none may
      be dropped.  The manifest records the widened schema, and because
      every read applies the MANIFEST schema (not per-file footers),
      carried/older files simply surface NULL for columns they predate
      — the Delta ``mergeSchema`` additive subset, with no file
      rewrites.  Type changes and drops stay hard errors: the
      vectorized parquet reader cannot reconcile physically different
      encodings, and silent column loss is never evolution.
    - ``meta``: an opaque JSON dict pinned to this snapshot and CARRIED
      FORWARD by every later commit that does not replace it (appends,
      batch appends, compactions, DML — same discipline as
      ``last_batch``).  The cross-table binding substrate: a table can
      record e.g. which version of a sibling table it was built against
      (operators/ann_store.py binds the serving corpus to its centroid
      table's version this way), and the binding survives the table's
      own lifecycle instead of riding on the single-slot ``tag``.

    The data write is an ordinary Spark parquet write into a
    version-private directory (never seen by readers until the manifest
    publishes); the commit point is one create-exclusive manifest file.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode={mode!r}")
    if mode == "append" and replace_where is not None:
        raise ValueError("append and replace_where are mutually exclusive")
    if carry_files is not None and (mode == "append" or replace_where):
        raise ValueError(
            "carry_files composes only with plain overwrite (it IS the "
            "explicit carried-set form that append/replace_where derive)"
        )
    spark = df.sparkSession
    versions = _list_versions(spark, table)
    latest = versions[-1] if versions else 0
    if expected_version is not None and latest != expected_version:
        raise SnapshotConflict(
            f"expected version {expected_version}, table is at {latest}"
        )
    new_version = latest + 1
    prev_manifest: dict = {}
    if versions:
        prev_manifest = _read_manifest(spark, table, latest)
        # schema is part of the table contract: files of one snapshot
        # must be physically uniform (the vectorized parquet reader
        # cannot upcast e.g. INT32 part files against INT64 ones), and
        # this module does not do schema evolution — enforce, don't
        # discover at read time.
        from pyspark.sql.types import StructType

        prev = StructType.fromJson(json.loads(prev_manifest["schema"]))
        # simpleString = names + types, ignoring nullability/metadata:
        # nullability is not a physical property of the files
        if df.schema.simpleString() != prev.simpleString():
            prev_f = {f.name: f.dataType.simpleString() for f in prev.fields}
            cur_f = {
                f.name: f.dataType.simpleString() for f in df.schema.fields
            }
            missing = [n for n in prev_f if n not in cur_f]
            changed = [
                n for n in prev_f if n in cur_f and cur_f[n] != prev_f[n]
            ]
            additive = not missing and not changed
            if not (evolve_schema and additive):
                hint = (
                    " (the change is purely additive — pass "
                    "evolve_schema=True to widen the table schema)"
                    if additive
                    else f" (dropped: {missing}, retyped: {changed})"
                )
                raise ValueError(
                    f"schema mismatch vs snapshot v{latest} at {table}: "
                    f"{df.schema.simpleString()} vs {prev.simpleString()} — "
                    "snapshot tables evolve only additively" + hint
                )

    carried: list[str] = []
    if mode == "append" and versions:
        carried = prev_manifest["files"]
    elif carry_files is not None and versions:
        # advanced form (snapshot_merge): the caller proved these files
        # of the PREVIOUS snapshot are untouched by this rewrite —
        # carry them by reference, like an append carries everything.
        prev_set = set(prev_manifest["files"])
        bad = [f for f in carry_files if f not in prev_set]
        if bad:
            raise ValueError(
                f"carry_files not in snapshot v{latest}: {bad[:3]}"
            )
        carried = list(carry_files)
    # writer-unique staging dir: two writers racing for the same version
    # number never share a directory, so this commit's file listing can
    # only ever see files THIS writer wrote (a loser's staging dir is
    # unreferenced garbage for the next vacuum, never silent extra rows
    # in the winner's snapshot).
    staging = f"{table}/data/v{new_version:05d}-{uuid.uuid4().hex[:8]}"
    if replace_where is not None and versions:
        # partition/predicate replacement: the complement of the
        # predicate is rewritten into the new version directory.
        # (Carrying untouched files by reference needs per-file column
        # stats to prove they hold no matching rows — Iceberg's
        # manifest metrics; without them, rewriting the complement is
        # the honest minimal form.  Readers of the previous snapshot
        # are unaffected either way — that is the point.)
        kept = snapshot_read(spark, table, version=latest).filter(
            f"NOT ({replace_where})"
        )
        kept.write.mode("append").parquet(staging)

    df.write.mode("append").parquet(staging)
    # data-skipping stats: sticky per table (appends inherit the stats
    # columns of the snapshot they extend), carried files keep the
    # stats they were committed with — only THIS commit's files get a
    # footer scan, and it is ONE footer read per file (empty-file
    # exclusion and stats from the same metadata fetch).
    if stats_cols is None:
        stats_cols = prev_manifest.get("stats_cols")
    new_files, new_stats = _scan_footers(
        spark,
        _data_files(spark, staging),
        list(stats_cols) if stats_cols else None,
    )
    files = carried + new_files
    manifest = {
        "version": new_version,
        "files": files,
        "schema": df.schema.json(),
    }
    if stats_cols:
        prev_stats = prev_manifest.get("stats", {})
        stats = {f: prev_stats[f] for f in carried if f in prev_stats}
        stats.update(new_stats)
        manifest["stats_cols"] = list(stats_cols)
        if stats:
            manifest["stats"] = stats
    # exactly-once bookkeeping: the highest streaming batch id ever
    # committed rides on EVERY manifest (carried forward by untagged
    # commits too), so an interleaved manual commit / replace_where
    # upsert between a stream failure and its restart cannot hide the
    # batch watermark from the redelivery check in
    # :func:`snapshot_append_batch`.
    # cross-table binding metadata: explicit value wins, otherwise the
    # previous snapshot's carries forward (appends/compactions/DML keep
    # the binding alive — the last_batch discipline)
    carried_meta = meta if meta is not None else prev_manifest.get("meta")
    if carried_meta is not None:
        manifest["meta"] = carried_meta
    last_batch = prev_manifest.get("last_batch")
    if tag is not None:
        manifest["tag"] = tag
        if tag.startswith("batch:"):
            bid = int(tag[6:])
            last_batch = bid if last_batch is None else max(last_batch, bid)
    if last_batch is not None:
        manifest["last_batch"] = last_batch
    _publish_manifest(spark, table, new_version, manifest)
    return new_version


def snapshot_append_batch(
    df: DataFrame,
    table: str,
    batch_id: int,
    stats_cols: list[str] | None = None,
    meta: dict | None = None,
) -> bool:
    """Idempotent per-micro-batch append: commit ``df`` with tag
    ``batch:<id>`` unless the table's newest commit already carries this
    id or later (at-least-once redelivery → exactly-once table).
    Returns whether a commit happened.  The foreachBatch building block
    behind :func:`snapshot_write_stream` — reusable by any sink that
    lands multiple tables per batch (streaming/record.py's demux).
    ``meta`` replaces the carried cross-table binding when the commit
    lands (skipped replays leave the existing binding untouched — it
    was already correct when the batch first committed)."""
    spark = df.sparkSession
    versions = _list_versions(spark, table)
    if versions:
        m = _read_manifest(spark, table, versions[-1])
        committed = m.get("last_batch")
        if committed is None:
            # pre-last_batch manifests: fall back to the newest tag
            t = m.get("tag", "")
            if t.startswith("batch:"):
                committed = int(t[6:])
        if committed is not None and committed >= batch_id:
            return False  # replayed batch: already committed
    snapshot_commit(
        df, table, mode="append", tag=f"batch:{batch_id}",
        stats_cols=stats_cols, meta=meta,
    )
    return True


def _plain_local(path: str) -> str:
    """Strip a ``file:`` scheme to a plain OS path — THE shared
    primitive of every pure-Python local-FS code path (the staged
    commit below and the DataSource connector in sources/pyds.py);
    one definition so scheme handling can never drift between the
    committer and the readers (round-10 review)."""
    if path.startswith("file://"):
        return path[7:]
    if path.startswith("file:"):
        return path[5:]
    return path


def _local_versions(table: str) -> list[int]:
    """Manifest versions of a LOCAL table via plain os.listdir — the
    pure-Python twin of :func:`_list_versions` for code that runs
    without a JVM (DataSource hooks).  Missing dir = no versions."""
    import os

    mdir = os.path.join(_plain_local(table), _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    )


def _local_manifest(table: str, version: int) -> dict:
    """Pure-Python manifest read (local twin of :func:`_read_manifest`)."""
    import os

    p = os.path.join(
        _plain_local(table), _MANIFEST_DIR, f"v{version:05d}.json"
    )
    with open(p) as fh:
        return json.load(fh)


def snapshot_commit_staged_files(
    table: str,
    staged: list[str],
    schema_json: str,
    batch_id: int | None = None,
    mode: str = "append",
) -> bool:
    """Exactly-once MANIFEST-ONLY append of parquet files an external
    writer already produced (the Python DataSource stream sink,
    sources/pyds.py): the executor-written files move from their
    pre-commit staging area into a version-private data directory and
    ONE manifest publish makes them visible — the same two-phase shape
    as :func:`snapshot_commit`, with the write phase owned by the
    caller.  Returns whether a commit happened (False = replayed
    batch; the staged files are deleted, the table is untouched).

    PURE-PYTHON IO throughout: the DataSource ``commit()`` hook runs in
    a Python runner process with NO SparkSession/JVM, so this function
    must not touch py4j — local/``file:`` paths only, like the
    connector it serves.  The footer scan reuses :func:`_scan_footers`
    (its local-path branch is pyarrow-only) and the manifest publish is
    a temp-write + ``os.link`` (atomic no-overwrite on one filesystem:
    readers see no manifest or a complete one, and a same-version race
    loses with :class:`SnapshotConflict` exactly like the native path).

    Staging must live OUTSIDE ``{table}/data`` (vacuum's file scan
    covers data/ only, so unreferenced in-flight files are never its
    concern); a crash between the move and the manifest strands the
    files in a ≤-published-version data dir with no references — the
    exact garbage class the next vacuum reclaims.

    ``batch_id=None`` is the BATCH-writer form: no watermark check, no
    tag (``last_batch`` carries forward).  ``mode="overwrite"`` makes
    the new snapshot exactly the staged files (no carried references);
    the schema contract is enforced either way, like the native
    commit."""
    import os

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode={mode!r}")
    root = _plain_local(table)
    mdir = os.path.join(root, _MANIFEST_DIR)
    versions = _local_versions(table)
    prev: dict = {}
    if versions:
        prev = _local_manifest(table, versions[-1])
        committed = prev.get("last_batch")
        if committed is None:
            t = prev.get("tag", "")
            if t.startswith("batch:"):
                committed = int(t[6:])
        if (
            batch_id is not None
            and committed is not None
            and committed >= batch_id
        ):
            for p in staged:
                try:
                    os.remove(p)
                except OSError:
                    pass
            return False
        from pyspark.sql.types import StructType

        prev_schema = StructType.fromJson(json.loads(prev["schema"]))
        new_schema = StructType.fromJson(json.loads(schema_json))
        if prev_schema.simpleString() != new_schema.simpleString():
            raise ValueError(
                "snapshot_commit_staged_files: schema mismatch — table "
                f"has {prev_schema.simpleString()}, batch wrote "
                f"{new_schema.simpleString()}"
            )
    latest = versions[-1] if versions else 0
    new_version = latest + 1
    dest = os.path.join(
        root, "data", f"v{new_version:05d}-{uuid.uuid4().hex[:8]}"
    )
    moved: list[str] = []
    if staged:
        os.makedirs(dest, exist_ok=True)
        for p in staged:
            d = os.path.join(dest, os.path.basename(p))
            os.replace(p, d)
            # manifests record Hadoop-QUALIFIED paths ("file:/..."),
            # exactly like every native commit: vacuum's live-set test
            # compares manifest paths against Hadoop directory listings,
            # and a scheme-less entry there reads as dead — vacuum
            # deleted the CURRENT version's sink-written files
            # (round-10 review, reproduced)
            moved.append("file:" + os.path.abspath(d))
    stats_cols = prev.get("stats_cols")
    # _scan_footers' local branch is pyarrow-only; spark=None is safe
    # for the plain paths this connector supports
    new_files, new_stats = _scan_footers(
        None, moved, list(stats_cols) if stats_cols else None
    )
    carried = list(prev.get("files", [])) if mode == "append" else []
    manifest = {
        "version": new_version,
        "files": carried + new_files,
        "schema": prev["schema"] if versions else schema_json,
    }
    last_batch = prev.get("last_batch")
    if batch_id is not None:
        manifest["tag"] = f"batch:{batch_id}"
        last_batch = max(batch_id, last_batch or 0)
    if last_batch is not None:
        manifest["last_batch"] = last_batch
    if stats_cols:
        prev_stats = prev.get("stats", {})
        stats = {f: prev_stats[f] for f in carried if f in prev_stats}
        stats.update(new_stats)
        manifest["stats_cols"] = list(stats_cols)
        if stats:
            manifest["stats"] = stats
    if prev.get("meta") is not None:
        manifest["meta"] = prev["meta"]
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".v{new_version:05d}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    final = os.path.join(mdir, f"v{new_version:05d}.json")
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise SnapshotConflict(
            f"version {new_version} of {table} was published concurrently"
        ) from None
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    return True


def snapshot_write_stream(
    events: DataFrame,
    table: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Exactly-once streaming append sink backed by the snapshot table.

    Each micro-batch commits atomically: readers see the whole batch or
    none of it (the plain-parquet foreachBatch sink in
    streaming/replay.py can expose half-written batches between file
    moves).  Exactly-once on top of at-least-once redelivery comes from
    the manifest ``tag``: a batch commits with tag ``batch:<id>``; a
    REPLAYED batch finds its id at-or-below the newest tagged commit
    and skips — the transactional twin of the key-anti-join idempotent
    sink, with no key columns needed.  (Single-writer per table, like
    every Structured Streaming sink.)  Returns the StreamingQuery.
    """

    def body(df: DataFrame, batch_id: int) -> None:
        snapshot_append_batch(df, table, batch_id)

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(events, body, checkpoint_path, available_now)


def snapshot_read(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    prune: dict | None = None,
) -> DataFrame:
    """Read a snapshot (latest by default, ``version=`` for time
    travel).  The file list is resolved HERE, once — concurrent commits
    cannot change this query's inputs, and directory listings are never
    consulted (no eventual-consistency hazards).

    ``prune``: ``{col: (lo, hi)}`` inclusive range bounds (either side
    ``None`` for unbounded, or a scalar for equality).  Files whose
    recorded min/max provably cannot contain a matching row are dropped
    from the scan BEFORE Spark sees them — manifest-level data skipping,
    one tier above parquet's own row-group pruning (at 100 TB the win is
    never OPENING the 99% of files a time/id-range query cannot touch,
    which row-group stats inside an already-opened file cannot give
    you).  Pruning is advisory and safe-by-construction: files with no
    recorded stats for a column always survive, and callers still apply
    the exact ``filter`` — skipping only removes files with zero
    matching rows, so query results are IDENTICAL with or without it.
    """
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    manifest = _read_manifest(spark, table, v)
    from pyspark.sql.types import StructType

    # the manifest's schema, not per-file footer sampling: reads are
    # deterministic and never depend on which file is listed first
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    files = manifest["files"]
    if prune:
        stats = manifest.get("stats", {})
        files = [
            f for f in files if _file_may_match(stats.get(f, {}), prune)
        ]
    if not files:
        # zero-file manifest (e.g. a retention delete that emptied the
        # table metadata-only) or everything pruned: schema-true empty
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def _file_may_match(fstats: dict, prune: dict) -> bool:
    """False only when some pruned column's recorded [min, max] is
    provably disjoint from the requested range (missing stats never
    prune — the reader stays correct for unstated columns/types)."""
    for col, bound in prune.items():
        if col not in fstats:
            continue
        fmin, fmax = fstats[col][0], fstats[col][1]
        lo, hi = bound if isinstance(bound, tuple) else (bound, bound)
        if lo is not None and fmax < lo:
            return False
        if hi is not None and fmin > hi:
            return False
    return True


def snapshot_compact(
    spark: SparkSession,
    table: str,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    meta: dict | None = None,
) -> int:
    """Rewrite the current snapshot's rows into ``target_files`` files
    and commit them as a new version — the snapshot-table remedy for
    streaming-append fragmentation (every micro-batch commit adds
    files; a day of ingest is thousands).

    Readers are never disturbed: the rewrite lands in a version-private
    directory and becomes visible only at the manifest publish; the
    fragmented version stays readable (and is reclaimed by the next
    ``vacuum``).  The commit carries the previous version's tag forward
    so a streaming writer's batch-id idempotency check survives
    compaction — compacting mid-stream cannot cause re-appends.
    ``meta`` replaces the carried cross-table binding (omitted = the
    previous snapshot's binding carries forward unchanged); ann_store's
    optimize uses it to re-pin a codes table at its freshly-compacted
    sibling's version.

    ``cluster_by``: range-partition + sort the rewrite on these columns
    so each output file covers a TIGHT, nearly disjoint value range —
    what turns the manifest min/max stats into actual file skipping
    (append-ordered files all span the full key range; clustered files
    prune to ~1/target_files per point lookup).  The Delta OPTIMIZE
    ZORDER role, in its linear single-/prefix-key form.

    ``zorder_by``: Morton-interleave these (integer) columns instead —
    file ranges stay tight in EVERY listed dimension, so range reads on
    any one of them prune (linear ``cluster_by`` only prunes its
    prefix).  See functions/zorder.py; mutually exclusive with
    ``cluster_by``.
    """
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    latest = versions[-1]
    prev_tag = _read_manifest(spark, table, latest).get("tag")
    df = snapshot_read(spark, table, version=latest)
    if zorder_by:
        from ros_sql_spark.functions.zorder import zorder_bounds, zorder_key

        bounds = zorder_bounds(df, zorder_by)
        if all(lo is None for lo, _ in bounds.values()):
            # empty snapshot: nothing to cluster — plain rewrite (an
            # all-NULL column on a NON-empty table still raises inside
            # zorder_key, which is a caller error worth surfacing)
            df = df.coalesce(target_files)
        else:
            key = zorder_key(bounds)
            df = (
                df.withColumn("_zkey", key)
                .repartitionByRange(target_files, "_zkey")
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
    elif cluster_by:
        from pyspark.sql import functions as SF

        cols = [SF.col(c) for c in cluster_by]
        df = df.repartitionByRange(target_files, *cols).sortWithinPartitions(
            *cols
        )
    else:
        df = df.coalesce(target_files)
    return snapshot_commit(
        df, table, mode="overwrite", expected_version=latest, tag=prev_tag,
        meta=meta,
    )


def _key_candidates(
    spark: SparkSession,
    df: DataFrame,
    manifest: dict,
    k0: str,
    stats_prune: bool = True,
) -> tuple[list[str], list[str]]:
    """(rewrite candidates, carried) for a KEYED statement: candidacy is
    decided EXACTLY per file — the manifest-sized file-bounds table (one
    row per file) broadcast-joins ``df``'s distinct keys on ``key
    BETWEEN min AND max``, so a file is a candidate only if some
    statement key actually lands in its recorded range.  Files without
    stats for the key always rewrite (safe default)."""
    from pyspark.sql import functions as SF

    files = manifest["files"]
    stats = manifest.get("stats", {})
    bounded = [
        (f, stats[f][k0][0], stats[f][k0][1])
        for f in files
        if k0 in stats.get(f, {})
    ]
    if not (stats_prune and bounded):
        return list(files), []
    fb = spark.createDataFrame(bounded, ["_file", "_lo", "_hi"])
    hit_rows = (
        df.select(SF.col(k0).alias("_k")).distinct()
        .join(
            SF.broadcast(fb),
            (SF.col("_k") >= SF.col("_lo")) & (SF.col("_k") <= SF.col("_hi")),
        )
        .select("_file")
        .distinct()
        .collect()
    )
    hits = {r._file for r in hit_rows}
    unbounded = {f for f in files if k0 not in stats.get(f, {})}
    candidates = [f for f in files if f in hits or f in unbounded]
    carried = [f for f in files if f not in set(candidates)]
    return candidates, carried


@pin_scope()  # nothing pinned here escapes
def snapshot_delete_keys(
    keys_df: DataFrame,
    table: str,
    keys: list[str],
    stats_prune: bool = True,
    tag: str | None = None,
) -> int:
    """Keyed anti-DELETE: remove every row whose key tuple appears in
    ``keys_df`` (``DELETE FROM t WHERE (k…) IN (SELECT … )``).  The
    set-membership twin of :func:`snapshot_delete`'s predicate form and
    the deletion half of :func:`snapshot_merge`: file candidacy is the
    same exact per-file bounds join (a file rewrites only if some
    doomed key lands in its recorded min/max range), so a keyed purge
    against a key-clustered table touches ~the files the keys live in.
    Null keys never equi-match (ANSI), so null-keyed rows survive.
    If no file can hold a doomed key, returns the current version
    without committing."""
    spark = keys_df.sparkSession
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    latest = versions[-1]
    manifest = _read_manifest(spark, table, latest)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    # pin the doomed-key frame: its lineage is otherwise evaluated
    # THREE times (empty probe, candidacy bounds join, anti-join) —
    # triple cost for an expensive keys_df and, worse, a
    # nondeterministic one could show the candidacy join a different
    # key set than the anti-join and carry a file whose doomed key only
    # materialized second (round-8 review).  Lazy localCheckpoint: the
    # empty probe below is the materializing action.
    keys_df = pin(keys_df.select(*keys).distinct(), eager=False)
    # empty-keys short-circuit BEFORE candidacy: without it, files the
    # stats cannot bound (non-JSON-native key types, unreadable
    # footers) are "always candidates" and an empty purge — a retried
    # expire, a cutoff nothing predates — would rewrite them and
    # publish a spurious version on every call (the non-idempotent-
    # expire bug class, statless-file edition).
    if keys_df.limit(1).count() == 0:
        return latest
    candidates, carried = _key_candidates(
        spark, keys_df, manifest, keys[0], stats_prune
    )
    if not candidates:
        return latest
    kept = (
        spark.read.schema(schema)
        .parquet(*candidates)
        .join(keys_df, keys, "left_anti")
    )
    return snapshot_commit(
        kept,
        table,
        mode="overwrite",
        expected_version=latest,
        tag=tag,
        carry_files=carried or None,
    )


def snapshot_merge(
    df: DataFrame,
    table: str,
    keys: list[str],
    stats_prune: bool = True,
    tag: str | None = None,
    evolve_schema: bool = False,
    stats_cols: list[str] | None = None,
    meta: dict | None = None,
) -> int:
    """Keyed upsert (MERGE INTO … WHEN MATCHED UPDATE, WHEN NOT MATCHED
    INSERT, whole-row form): the new snapshot is (previous rows whose
    key is NOT in ``df``) ∪ ``df``.  Keys must be non-null (null never
    equi-matches, so a null-keyed prev row would survive as a duplicate).

    The 100 TB shape is WHICH files rewrite.  With manifest stats on the
    primary key column, candidacy is decided EXACTLY per file: the
    file-bounds table (one row per file — manifest-sized, broadcast)
    joins ``df``'s distinct keys on ``key BETWEEN min AND max``, so a
    file rewrites only if some upsert key actually lands in its range —
    a sparse upsert with keys scattered across disjoint ranges carries
    everything between the ranges by reference (a single bounding box
    would carry nothing).  Against a key-clustered table
    (``snapshot_compact(cluster_by=keys)``) a small upsert rewrites
    ~|df| worth of files instead of the whole table — Delta/Iceberg's
    merge file-pruning, done at the manifest tier.  Files with no
    recorded stats for the key always rewrite (safe default);
    secondary-key stats can only shrink the candidate set further.

    ``stats_cols``: record per-file min/max for these columns on the
    commits this merge makes — REQUIRED on the bootstrap commit of a
    merge-maintained table, or no later merge can prune (the table
    never acquires key bounds and every upsert rewrites every file;
    round-8 found the streaming labels table in exactly that state).
    Pass ``stats_cols=keys`` for a table whose only DML is this merge;
    once recorded, later commits inherit the setting (snapshot_commit's
    stats_cols defaulting), so passing it on every call is idempotent.

    ``meta``: replaces the carried cross-table binding on this commit
    (omitted = the previous snapshot's meta carries forward unchanged
    — snapshot_commit's rule); the streaming quality monitor rides its
    running counters here so state + counters land in ONE atomic
    commit.
    """
    spark = df.sparkSession
    versions = _list_versions(spark, table)
    if not versions:
        return snapshot_commit(
            df, table, mode="overwrite", tag=tag, stats_cols=stats_cols,
            meta=meta,
        )
    latest = versions[-1]
    manifest = _read_manifest(spark, table, latest)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    # drop enforcement must not depend on file layout (round-8 review:
    # with evolve_schema=True, a df missing an existing column errored
    # only when key pruning found NO candidates; with candidates the
    # union's allowMissingColumns re-filled it as NULL and committed
    # silently).  allowMissingColumns exists for the OTHER direction —
    # kept rows lacking columns df INTRODUCES.
    dropped_cols = [f.name for f in schema.fields if f.name not in df.columns]
    if dropped_cols:
        raise ValueError(
            f"snapshot_merge: df is missing existing columns "
            f"{dropped_cols} of {table} — silent column loss is never "
            "evolution (provide the columns, even if NULL-valued)"
        )
    candidates, carried = _key_candidates(
        spark, df, manifest, keys[0], stats_prune
    )
    if candidates:
        prev_part = spark.read.schema(schema).parquet(*candidates)
        kept = prev_part.join(
            df.select(*keys).distinct(), keys, "left_anti"
        )
        # evolve_schema lets an upsert introduce new columns: kept rows
        # (and carried files) surface NULL for them on read, the commit
        # widens the manifest schema additively.
        out = kept.unionByName(df, allowMissingColumns=evolve_schema)
    else:
        out = df
    return snapshot_commit(
        out,
        table,
        mode="overwrite",
        expected_version=latest,
        tag=tag,
        carry_files=carried or None,
        evolve_schema=evolve_schema,
        stats_cols=stats_cols,
        meta=meta,
    )


def _dml_predicate(prune: dict | None, where: str | None):
    """The row predicate of a DELETE/UPDATE as a Column, built so that
    stats-based file pruning is SAFE BY CONSTRUCTION: the ``prune``
    range bounds are part of the predicate itself (ANDed with ``where``),
    so any row the predicate matches necessarily falls inside the
    bounds a file must overlap to be a rewrite candidate — a wrong or
    overly tight ``prune`` can only shrink what the statement matches,
    never silently skip a file that held matching rows.  Returns None
    when both parts are absent (caller decides if that is legal)."""
    from pyspark.sql import functions as SF

    conds = []
    for col, bound in (prune or {}).items():
        lo, hi = bound if isinstance(bound, tuple) else (bound, bound)
        if lo is not None:
            conds.append(SF.col(col) >= SF.lit(lo))
        if hi is not None:
            conds.append(SF.col(col) <= SF.lit(hi))
    if where is not None:
        conds.append(SF.expr(where))
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _dml_candidates(
    files: list[str], stats: dict, prune: dict | None
) -> tuple[list[str], list[str]]:
    """(rewrite candidates, carried-by-reference) for a DML statement:
    a file is carried only when its recorded min/max are provably
    disjoint from the ``prune`` bounds (missing stats, or no prune at
    all, always rewrite — the safe default)."""
    if not prune:
        return list(files), []
    cand = [f for f in files if _file_may_match(stats.get(f, {}), prune)]
    cset = set(cand)
    return cand, [f for f in files if f not in cset]


def _file_all_match(fstats: dict, prune: dict) -> bool:
    """True only when the file's recorded [min, max] is provably
    CONTAINED in every pruned column's requested range — every row of
    the file matches the range conjunction.  Missing stats for any
    pruned column mean containment cannot be proven (False).

    NULL discipline (round-8 review): parquet min/max EXCLUDE NULLs,
    and a NULL predicate keeps the row under ANSI DELETE — so blind
    containment additionally requires a recorded null_count of ZERO
    for every pruned column (stats entry ``[lo, hi, 0]``).  Unknown or
    non-zero null counts send the file to the rewrite path, whose
    ``~coalesce(cond, False)`` filter keeps NULL rows correctly."""
    for col, bound in prune.items():
        if col not in fstats:
            return False
        ent = fstats[col]
        if len(ent) < 3 or ent[2] != 0:
            return False  # NULLs present or unknown: never drop blind
        fmin, fmax = ent[0], ent[1]
        lo, hi = bound if isinstance(bound, tuple) else (bound, bound)
        if lo is not None and fmin < lo:
            return False
        if hi is not None and fmax > hi:
            return False
    return True


def snapshot_delete(
    spark: SparkSession,
    table: str,
    where: str | None = None,
    *,
    prune: dict | None = None,
    tag: str | None = None,
) -> int:
    """Row-level ``DELETE FROM table WHERE …`` as a new snapshot:
    matching rows disappear, everything else survives; SQL three-valued
    semantics (a row deletes only when the predicate is TRUE — NULL
    keeps the row, exactly like ANSI DELETE).

    The predicate is ``where`` ANDed with the ``prune`` range bounds
    (``{col: (lo, hi)}``, same shape as :func:`snapshot_read`) — and
    the bounds are what make the statement 100 TB-shaped: files whose
    manifest min/max cannot overlap them are CARRIED BY REFERENCE
    (zero IO), and only overlapping files rewrite with the complement
    filter.  Because the bounds are part of the predicate, pruning can
    never skip a file with matching rows (see :func:`_dml_predicate`).
    Against a clustered table a ranged delete touches ~the files the
    range spans — Delta/Iceberg's delete file-pruning at the manifest
    tier.  If NO file can match, this is a metadata no-op: the current
    version is returned and nothing commits.

    Retention fast path: for a PRUNE-ONLY delete (no ``where``), a file
    whose recorded min/max is provably CONTAINED in the bounds has
    every row matching — it is dropped from the manifest WITHOUT being
    read or rewritten.  A "delete everything older than the cutoff" on
    a time-appended store therefore touches only the files straddling
    the cutoff boundary (usually one); the expired bulk disappears
    metadata-only and its bytes are reclaimed by the next vacuum.  With
    ``where`` present containment proves nothing (the residual
    predicate may be false for some rows), so those files rewrite.

    An unconditional delete (no ``where``, no ``prune``) is refused —
    truncation should be an explicit empty-frame ``snapshot_commit``,
    not a degenerate predicate.
    """
    from pyspark.sql import functions as SF
    from pyspark.sql.types import StructType

    cond = _dml_predicate(prune, where)
    if cond is None:
        raise ValueError(
            "unconditional DELETE refused: pass where/prune, or commit "
            "an empty frame to truncate explicitly"
        )
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    latest = versions[-1]
    manifest = _read_manifest(spark, table, latest)
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    stats = manifest.get("stats", {})
    candidates, carried = _dml_candidates(manifest["files"], stats, prune)
    if not candidates:
        return latest  # provably nothing to delete: no new version
    dropped: list[str] = []
    if where is None and prune:
        # retention fast path: fully-contained files drop metadata-only
        dropped = [
            f for f in candidates if _file_all_match(stats.get(f, {}), prune)
        ]
        if dropped:
            dset = set(dropped)
            candidates = [f for f in candidates if f not in dset]
    if not candidates:
        # every matching file was provably all-expired: publish a
        # manifest of just the carried files — a PURE metadata commit,
        # zero bytes read or written (an empty-frame snapshot_commit
        # would still write one empty part file).  The rename-without-
        # overwrite publish keeps optimistic concurrency intact.
        new_manifest = {
            "version": latest + 1,
            "files": carried,
            "schema": manifest["schema"],
        }
        if manifest.get("stats_cols"):
            new_manifest["stats_cols"] = manifest["stats_cols"]
        kept_stats = {f: stats[f] for f in carried if f in stats}
        if kept_stats:
            new_manifest["stats"] = kept_stats
        # batch-tag bookkeeping must match snapshot_commit's (round-8
        # review: this hand-built path recorded the tag but never
        # bumped last_batch, so a batch-tagged retention delete left
        # the exactly-once watermark behind and a replay re-committed)
        last_batch = manifest.get("last_batch")
        if tag is not None and tag.startswith("batch:"):
            bid = int(tag[6:])
            last_batch = bid if last_batch is None else max(last_batch, bid)
        if last_batch is not None:
            new_manifest["last_batch"] = last_batch
        if manifest.get("meta") is not None:
            new_manifest["meta"] = manifest["meta"]
        if tag is not None:
            new_manifest["tag"] = tag
        _publish_manifest(spark, table, latest + 1, new_manifest)
        return latest + 1
    kept = (
        spark.read.schema(schema)
        .parquet(*candidates)
        .filter(~SF.coalesce(cond, SF.lit(False)))
    )
    return snapshot_commit(
        kept,
        table,
        mode="overwrite",
        expected_version=latest,
        tag=tag,
        carry_files=carried or None,
    )


def snapshot_update(
    spark: SparkSession,
    table: str,
    set: dict[str, str],
    where: str | None = None,
    *,
    prune: dict | None = None,
    tag: str | None = None,
) -> int:
    """Row-level ``UPDATE table SET col = expr, … WHERE …`` as a new
    snapshot.  ``set`` maps existing columns to SQL expressions (they
    may reference any column of the row); each assignment is cast back
    to the column's declared type so the table's physical schema never
    drifts.  Rows update only where the predicate is TRUE (NULL leaves
    the row untouched — ANSI UPDATE), and the same
    prune-bounds-in-the-predicate construction as
    :func:`snapshot_delete` lets non-overlapping files carry by
    reference instead of rewriting.  With neither ``where`` nor
    ``prune`` every row updates (legal for UPDATE, unlike DELETE).  If
    no file can match, returns the current version without committing.
    """
    from pyspark.sql import functions as SF
    from pyspark.sql.types import StructType

    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    latest = versions[-1]
    manifest = _read_manifest(spark, table, latest)
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    names = {f.name for f in schema.fields}
    unknown = [c for c in set if c not in names]
    if unknown:
        raise ValueError(f"SET targets not in table schema: {unknown}")
    cond = _dml_predicate(prune, where)
    candidates, carried = _dml_candidates(
        manifest["files"], manifest.get("stats", {}), prune
    )
    if not candidates:
        return latest
    prev_part = spark.read.schema(schema).parquet(*candidates)
    hit = (
        SF.coalesce(cond, SF.lit(False)) if cond is not None else SF.lit(True)
    )
    cols = []
    for f in schema.fields:
        if f.name in set:
            cols.append(
                SF.when(hit, SF.expr(set[f.name]).cast(f.dataType))
                .otherwise(SF.col(f.name))
                .alias(f.name)
            )
        else:
            cols.append(SF.col(f.name))
    return snapshot_commit(
        prev_part.select(*cols),
        table,
        mode="overwrite",
        expected_version=latest,
        tag=tag,
        carry_files=carried or None,
    )


def snapshot_history(spark: SparkSession, table: str) -> list[dict]:
    """Commit log view: one dict per published version — version, file
    count, tag, batch watermark, stats columns.  Pure manifest metadata
    (no data touched); the audit surface behind time travel and
    restore."""
    out = []
    for v in _list_versions(spark, table):
        m = _read_manifest(spark, table, v)
        out.append(
            {
                "version": v,
                "n_files": len(m["files"]),
                "tag": m.get("tag"),
                "last_batch": m.get("last_batch"),
                "stats_cols": m.get("stats_cols"),
            }
        )
    return out


def snapshot_restore(spark: SparkSession, table: str, version: int) -> int:
    """Roll the table back to ``version`` as a NEW commit (Delta
    RESTORE semantics): the restored snapshot's files are carried BY
    REFERENCE into a fresh manifest — a metadata-only operation, no
    rows move, and the rolled-back versions stay readable (and
    vacuumable) as history.  The batch watermark carries forward so a
    streaming writer cannot re-append batches committed before the
    restore point."""
    versions = _list_versions(spark, table)
    if version not in versions:
        raise FileNotFoundError(f"version {version} not in {versions}")
    latest = versions[-1]
    src = _read_manifest(spark, table, version)
    head = _read_manifest(spark, table, latest)
    new_version = latest + 1
    manifest = {
        "version": new_version,
        "files": src["files"],
        "schema": src["schema"],
        "tag": f"restore:{version}",
    }
    # keep data-skipping intact: restored files had stats in their own
    # manifest; the watermark must be the HEAD's (monotone, so replayed
    # stream batches still skip after a rollback)
    if "stats_cols" in src:
        manifest["stats_cols"] = src["stats_cols"]
    if "stats" in src:
        manifest["stats"] = src["stats"]
    if src.get("meta") is not None:
        manifest["meta"] = src["meta"]  # the restored state's binding
    if head.get("last_batch") is not None:
        manifest["last_batch"] = head["last_batch"]
    _publish_manifest(spark, table, new_version, manifest)
    return new_version


def snapshot_merge_batch(
    df: DataFrame,
    table: str,
    keys: list[str],
    batch_id: int,
    stats_cols: list[str] | None = None,
) -> bool:
    """Idempotent per-micro-batch MERGE: upsert ``df`` by ``keys``
    unless the table's batch watermark already covers ``batch_id``
    (same last_batch bookkeeping as :func:`snapshot_append_batch`).
    Returns whether a commit happened.

    A merge-maintained table records per-file stats on ``keys`` by
    default — without key bounds every later merge rewrites every file
    (the round-8 labels finding), which would silently void the
    pruning this sink's affordability rests on.  The default applies
    when the table does not exist yet AND when an existing table has
    no stats_cols at all (a pre-fix bootstrap heals progressively: its
    old unbounded files still rewrite, but each rewrite and every new
    file acquires bounds).  An existing table's own stats_cols are
    never narrowed — the default never overrides a non-empty
    setting."""
    spark = df.sparkSession
    versions = _list_versions(spark, table)
    if versions:
        m = _read_manifest(spark, table, versions[-1])
        committed = m.get("last_batch")
        if committed is None:
            # pre-last_batch manifests: fall back to the newest tag
            # (same fallback as snapshot_append_batch — round-8 review:
            # without it a replayed stale batch re-MERGED over newer
            # keys on a tag-only head)
            t = m.get("tag", "")
            if t.startswith("batch:"):
                committed = int(t[6:])
        if committed is not None and committed >= batch_id:
            return False
        if stats_cols is None and not m.get("stats_cols"):
            stats_cols = list(keys)
    elif stats_cols is None:
        stats_cols = list(keys)
    snapshot_merge(
        df, table, keys, tag=f"batch:{batch_id}", stats_cols=stats_cols
    )
    return True


def snapshot_merge_stream(
    events: DataFrame,
    table: str,
    keys: list[str],
    checkpoint_path: str,
    available_now: bool = True,
):
    """Exactly-once streaming UPSERT sink — the transactional twin of
    the q50 latest-state materialization: each micro-batch MERGEs by
    key into the snapshot table, so the table IS the current state
    (newest row per key), maintained incrementally with snapshot
    isolation for readers and batch-id idempotency under redelivery.

    Contract: each micro-batch must carry at most one row per key
    (pre-aggregate in the stream — e.g. ``dropDuplicates(keys)`` or a
    latest-wins reduce — otherwise both rows land).  Against a
    key-clustered table the per-batch merge rewrites only the files the
    batch's keys touch (:func:`snapshot_merge` pruning), which is what
    makes a continuous upsert stream affordable at 100 TB.  (Single
    writer per table, like every Structured Streaming sink.)
    """

    def body(df: DataFrame, batch_id: int) -> None:
        snapshot_merge_batch(df, table, keys, batch_id)

    from ros_sql_spark.streaming.util import start_foreach_batch

    return start_foreach_batch(events, body, checkpoint_path, available_now)


def snapshot_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots — the CDC feed an
    incremental consumer reads instead of re-scanning the table:
    ``_change = 'insert'`` rows exist in ``to`` but not ``from``,
    ``'delete'`` rows the reverse (an update is a delete+insert pair).
    Multiset semantics (``exceptAll``) so duplicate rows diff by count.

    Scale note: this is the STATELESS form — no stored row ids — but
    it is manifest-PRUNED (round 11): data files are immutable and
    manifest-addressed, so any file present in BOTH versions
    contributes identical rows to both multisets and cancels out of
    the exceptAll exactly.  Each side therefore scans only ITS OWN
    manifest's file-set difference: diffing adjacent versions of a
    100 TB table where one file changed reads two files, not 200 TB
    (verified by ``inputFiles()`` in tests).  A compaction between the
    versions rewrites every path — nothing shared, the diff degrades
    to the full scan and still returns the correct (empty) answer.
    Consumers that can act on appends only should instead read the
    manifest delta (files added between versions are pure inserts for
    append-only tables — zero data diffed); this diff is for
    overwrite/merge/replace_where histories where files alone cannot
    tell which rows changed.
    """
    versions = _list_versions(spark, table)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table}")
    to_v = to_version if to_version is not None else versions[-1]
    # validate BOTH endpoints against retained versions up front — the
    # manifest-direct reads below would otherwise surface a vacuumed
    # from_version as a bare missing-file error (round-11 review note)
    for v in (from_version, to_v):
        if v not in versions:
            raise FileNotFoundError(
                f"version {v} not in retained versions {versions} of "
                f"{table} (vacuumed?)"
            )
    from pyspark.sql import functions as SF
    from pyspark.sql.types import StructType

    old_manifest = _read_manifest(spark, table, from_version)
    # one manifest fetch, reused for the schema compare and the
    # evolution read (each _read_manifest is a driver round trip over
    # an O(files) JSON body — a CDC poll loop was paying it thrice)
    to_manifest = _read_manifest(spark, table, to_v)
    # manifest pruning (docstring): shared immutable files cancel out
    # of the multiset diff exactly — scan only each side's difference.
    # Both sides read under the NEW schema (old files surface NULL for
    # columns they predate, exactly as the new snapshot reads those
    # same carried files), so evolution and pruning compose.
    shared = set(old_manifest["files"]) & set(to_manifest["files"])
    to_schema = StructType.fromJson(json.loads(to_manifest["schema"]))

    def _side(manifest: dict) -> DataFrame:
        files = [f for f in manifest["files"] if f not in shared]
        if not files:
            return spark.createDataFrame([], to_schema)
        return spark.read.schema(to_schema).parquet(*files)

    new = _side(to_manifest)
    old = _side(old_manifest)
    ins = new.exceptAll(old).withColumn("_change", SF.lit("insert"))
    dels = old.exceptAll(new).withColumn("_change", SF.lit("delete"))
    return ins.unionByName(dels)


def snapshot_read_incremental(
    spark: SparkSession,
    table: str,
    since_version: int,
    strict: bool = True,
) -> tuple[DataFrame, int]:
    """Rows ADDED after ``since_version`` — the incremental-consumer
    fast path.  For an append-only history the manifest delta IS the
    row delta: the new snapshot's files minus the old one's are pure
    inserts, so the reader scans ONLY the new files and diffs zero
    data (at 100 TB this is the difference between "read this hour's
    files" and "diff two full table snapshots").  Returns
    ``(rows_df, to_version)``; feed ``to_version`` back as the next
    call's ``since_version`` (exactly-once cursor, manifest-versioned).

    If files were REMOVED in between (compact / merge / overwrite /
    replace_where), file delta ≠ row delta — with ``strict=True``
    (default) that raises so the consumer decides; ``strict=False``
    falls back to the full :func:`snapshot_changes` diff filtered to
    inserts (correct, but scans both snapshots).  A compaction that
    rewrote rows it already delivered is indistinguishable from new
    data at the file tier — hence the hard error, matching the
    "process once from a version cursor" contract.
    """
    versions = _list_versions(spark, table)
    if since_version not in versions:
        raise FileNotFoundError(
            f"since_version {since_version} not in {versions} — the "
            "cursor's manifest was vacuumed; re-baseline from a full read"
        )
    to_v = versions[-1]
    since_manifest = _read_manifest(spark, table, since_version)
    old_files = set(since_manifest["files"])
    if to_v == since_version:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(since_manifest["schema"]))
        return spark.createDataFrame([], schema), to_v
    manifest = _read_manifest(spark, table, to_v)
    new_files = [f for f in manifest["files"] if f not in old_files]
    removed = old_files - set(manifest["files"])
    if removed:
        if strict:
            raise ValueError(
                f"history {since_version}→{to_v} removed "
                f"{len(removed)} files (compact/merge/overwrite): file "
                "delta is not a row delta — pass strict=False for a "
                "full diff, or re-baseline"
            )
        from pyspark.sql import functions as SF

        diff = snapshot_changes(spark, table, since_version, to_v)
        return (
            diff.filter(SF.col("_change") == "insert").drop("_change"),
            to_v,
        )
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(manifest["schema"]))
    if not new_files:
        return spark.createDataFrame([], schema), to_v
    return spark.read.schema(schema).parquet(*new_files), to_v


def _staging_version(dirname: str) -> int | None:
    """Parse the snapshot version out of a data dir name
    (``v00042-<token>`` or legacy ``v00042``); None if unrecognized."""
    if not dirname.startswith("v"):
        return None
    head = dirname[1:].split("-", 1)[0]
    return int(head) if head.isdigit() else None


def snapshot_vacuum(
    spark: SparkSession, table: str, keep_last: int = 1
) -> list[str]:
    """Delete data files unreachable from the newest ``keep_last``
    manifests (and drop the older manifests).  The only deleting
    operation in the module; returns the deleted paths.  Run it only
    when no reader can still hold a file list older than the kept
    window (same contract as Iceberg's expire_snapshots).

    Safety rails:

    - ``keep_last`` must be ≥ 1 — the current version's files are live
      by definition and vacuum refuses to consider deleting them (a
      reader pinned to the latest manifest always survives a vacuum);
    - staging directories whose version is NEWER than the newest
      published manifest belong to IN-FLIGHT writers whose commit may
      still succeed — they are skipped entirely.  Directories at or
      below the published watermark with unreferenced files are either
      superseded versions or the staging dirs of writers that lost a
      version race (their commit can only end in SnapshotConflict now,
      because the version they were writing has already been published)
      — both are safe to reclaim.
    """
    if keep_last < 1:
        raise ValueError(
            f"keep_last={keep_last}: vacuum always keeps the current "
            "version — it is never a drop-table"
        )
    versions = _list_versions(spark, table)
    if not versions:
        return []
    keep_v = versions[-keep_last:]
    published = versions[-1]
    live: set[str] = set()
    for v in keep_v:
        live.update(_read_manifest(spark, table, v)["files"])
    fs, _, jvm = _fs(spark, table)
    # manifests FIRST, then data: a crash mid-vacuum must strand only
    # unreferenced data files (harmless garbage, retried next vacuum),
    # never a live manifest pointing at deleted files (broken reads).
    for v in versions[:-keep_last]:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{table}/{_MANIFEST_DIR}/v{v:05d}.json"
            ),
            False,
        )
    deleted = []
    data_root = jvm.org.apache.hadoop.fs.Path(f"{table}/data")
    if not fs.exists(data_root):
        return deleted
    for st in fs.listStatus(data_root):
        dname = st.getPath().getName()
        ver = _staging_version(dname)
        if ver is not None and ver > published:
            continue  # in-flight writer: its commit may still land
        dir_files = _data_files(spark, st.getPath().toString())
        if not dir_files:
            # no manifest-visible data files at all — a crashed
            # writer's _temporary leftovers or a dir whose parts were
            # already reclaimed per-file.  At/below the published
            # watermark its commit can only end in SnapshotConflict,
            # so the dir is pure garbage; without this branch such
            # dirs survived every vacuum forever (round-8 review).
            fs.delete(st.getPath(), True)
            continue
        dead = [f for f in dir_files if f not in live]
        if dead and len(dead) == len(dir_files):
            # whole directory unreferenced (superseded version or a
            # race loser's staging dir): one recursive delete
            fs.delete(st.getPath(), True)
            deleted.extend(dead)
        else:
            for f in dead:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
                deleted.append(f)
    return deleted
