"""Message shredding / reassembly — the reference's core capability pair.

strawlab/ros_sql shreds each message into normalized relational tables:
nested message → child table + FK (R4), array field → child table rows
(parent_id, idx, value) (R5), uint8[] blob kept inline (R6); replay
reassembles byte-identical messages by walking the backref catalog with
per-parent child SELECTs ordered by idx (R11).  (SURVEY.md §2.1,
factories.py msg2sql/sql2msg, models.py backrefs.)

Used at the SQL boundary only: ``streaming.record.record_stream_jdbc``
lands these flat tables in a database.  Parquet and snapshot stores keep
each message nested (api.py) and never shred.

Spark-first re-expression:
- ``normalize(df, keys)`` turns one nested DataFrame into a dict of flat
  tables.  Arrays shred via ``posexplode`` (index preserved — exactly the
  reference's (parent_id, idx, value) shape); structs become 1:1 child
  tables keyed by the parent key.  Bookkeeping columns (``_<f>_size``,
  ``_<f>_isnull``) record what FK-presence encodes in the reference, so
  NULL vs empty arrays and NULL vs all-NULL structs roundtrip exactly.
- ``denormalize(norm)`` rebuilds the original rows with ONE shuffle per
  child table: groupBy(parent key) + collect_list(struct(idx, payload))
  + array_sort + transform — replacing the reference's O(rows × backrefs)
  per-row SELECT round-trips (SURVEY.md §4.1) with set-at-a-time joins.
  Reassembly order comes from the STORED index, never storage order.

Scale notes (100 TB):
- Surrogate keys are the caller's natural/record keys (``keys``), not
  monotonically_increasing_id (partition-dependent) nor a global
  row_number (single-partition sort).  Keys must uniquely identify rows.
- Each child table reassembles with one hash-partitioned shuffle on the
  parent key; arrays are bounded by message size, so no per-key skew.
- Join order: children are rebuilt depth-first, so each level is one
  join; all joins are key-equi and AQE-eligible.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["ChildMeta", "NormalizedTables", "normalize", "denormalize"]


@dataclass
class ChildMeta:
    """One shredding ledger entry (the reference's backref catalog row)."""

    table: str  # child table name
    parent: str  # parent table name
    field: str  # shredded field name in the parent
    kind: str  # 'array' | 'struct'
    key_cols: list[str]  # parent key columns copied into the child
    idx_col: str | None  # array index column (None for structs)
    marker_col: str  # parent bookkeeping col (_<f>_size / _<f>_isnull)
    element_schema: T.DataType  # original field/element type


@dataclass
class NormalizedTables:
    """normalize() output: flat tables + the ledger to invert them."""

    root: str
    keys: list[str]
    schema: T.StructType  # original root schema (for exact rebuild)
    tables: dict[str, DataFrame] = dc_field(default_factory=dict)
    children: list[ChildMeta] = dc_field(default_factory=list)


def _shred(
    df: DataFrame, keys: list[str], table: str, out: NormalizedTables
) -> None:
    parent = df
    for f in df.schema.fields:
        if f.name in keys:
            continue
        child_name = f"{table}__{f.name}"
        if isinstance(f.dataType, T.ArrayType):
            idx_col = f"_idx__{child_name}"
            elem = f.dataType.elementType
            if isinstance(elem, T.ArrayType):
                raise NotImplementedError(
                    "directly nested arrays are not in the ROS message model; "
                    "wrap the inner array in a struct field"
                )
            exploded = df.select(
                *keys, F.posexplode(f.name).alias(idx_col, "_value")
            )
            if isinstance(elem, T.StructType):
                child = exploded.select(*keys, idx_col, "_value.*")
            else:
                child = exploded.select(*keys, idx_col, F.col("_value").alias("value"))
            marker = f"_{f.name}_size"
            parent = parent.withColumn(
                marker,
                F.when(F.col(f.name).isNull(), F.lit(-1)).otherwise(
                    F.size(f.name)
                ),
            ).drop(f.name)
            out.children.append(
                ChildMeta(
                    table=child_name,
                    parent=table,
                    field=f.name,
                    kind="array",
                    key_cols=list(keys),
                    idx_col=idx_col,
                    marker_col=marker,
                    element_schema=elem,
                )
            )
            if isinstance(elem, T.StructType):
                _shred(child, [*keys, idx_col], child_name, out)
            else:
                out.tables[child_name] = child
        elif isinstance(f.dataType, T.StructType):
            child = df.select(*keys, F.col(f"{f.name}.*"))
            marker = f"_{f.name}_isnull"
            parent = parent.withColumn(marker, F.col(f.name).isNull()).drop(f.name)
            out.children.append(
                ChildMeta(
                    table=child_name,
                    parent=table,
                    field=f.name,
                    kind="struct",
                    key_cols=list(keys),
                    idx_col=None,
                    marker_col=marker,
                    element_schema=f.dataType,
                )
            )
            _shred(child, list(keys), child_name, out)
        # primitives / binary blobs (R6): stay in the parent
    out.tables[table] = parent


def normalize(
    df: DataFrame,
    keys: list[str],
    table: str = "root",
    validate_keys: bool = False,
) -> NormalizedTables:
    """Shred a nested DataFrame into flat relational tables (R1/R4/R5/R6).

    ``keys`` must uniquely identify parent rows (the reference uses an
    autoincrement PK; a distributed engine needs caller-owned keys).
    Duplicate keys silently merge children across rows on reassembly —
    pass ``validate_keys=True`` to pay one aggregation job and fail fast
    instead.
    """
    if validate_keys:
        dups = (
            df.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dups:
            raise ValueError(
                f"normalize keys {keys} are not unique (e.g. "
                f"{ {k: dups[0][k] for k in keys} } appears {dups[0]['count']}×)"
            )
    out = NormalizedTables(root=table, keys=list(keys), schema=df.schema)
    _shred(df, list(keys), table, out)
    return out


def _nest_expr(prefix_cols: list[str], schema: T.StructType) -> F.Column:
    """struct(...) expression rebuilding a nested struct from flat columns."""
    return F.struct(*[F.col(c).alias(n) for c, n in zip(prefix_cols, schema.names)])


def _rebuild(norm: NormalizedTables, table: str, keys: list[str]) -> DataFrame:
    df = norm.tables.get(table)
    metas = [m for m in norm.children if m.parent == table]
    if df is None:
        # parent of further-shredded children exists only as a ledger node
        raise KeyError(f"missing table {table}")
    for m in metas:
        if m.kind == "struct":
            child = _rebuild(norm, m.table, m.key_cols)
            elem: T.StructType = m.element_schema  # type: ignore[assignment]
            nested = child.select(
                *m.key_cols,
                F.struct(*[F.col(n) for n in elem.names]).alias(m.field),
            )
            df = df.join(nested, m.key_cols, "left").withColumn(
                m.field,
                F.when(F.col(m.marker_col), F.lit(None).cast(elem)).otherwise(
                    F.col(m.field)
                ),
            ).drop(m.marker_col)
        else:  # array
            child = _rebuild(norm, m.table, [*m.key_cols, m.idx_col])
            elem = m.element_schema
            if isinstance(elem, T.StructType):
                payload = F.struct(*[F.col(n) for n in elem.names])
            else:
                payload = F.col("value")
            collected = (
                child.groupBy(*m.key_cols)
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(m.idx_col).alias("i"), payload.alias("v")))
                    ).alias("_sorted")
                )
                .select(
                    *m.key_cols,
                    F.transform("_sorted", lambda x: x["v"]).alias(m.field),
                )
            )
            df = df.join(collected, m.key_cols, "left").withColumn(
                m.field,
                F.when(F.col(m.marker_col) == -1, F.lit(None).cast(T.ArrayType(elem)))
                .when(
                    F.col(m.marker_col) == 0,
                    F.array().cast(T.ArrayType(elem)),
                )
                .otherwise(F.col(m.field).cast(T.ArrayType(elem))),
            ).drop(m.marker_col)
    return df


def denormalize(norm: NormalizedTables) -> DataFrame:
    """Rebuild the original nested DataFrame (R11 twin).

    Inverse of normalize: ``denormalize(normalize(df, keys))`` is
    row-identical to ``df`` (the reference's roundtrip-fidelity
    contract, SURVEY.md §5.1), with columns in original order and
    original types.
    """
    df = _rebuild(norm, norm.root, norm.keys)
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in norm.schema.fields]
    )
