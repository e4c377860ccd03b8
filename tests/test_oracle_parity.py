"""Driver-style DuckDB parity harness (SURVEY.md §5.2 layer 1).

Runs every declared query on Spark AND its DuckDB oracle at sf0.01 (the
driver's correctness scale) and compares order-insensitive multisets of
canonicalized row values — a local approximation of the driver's
row-count + schema + value-hash gate.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
from collections import Counter

import pytest

from ros_sql_spark.functions.pin import pin_scope
from ros_sql_spark.plans.oracles import ORACLES
from ros_sql_spark.plans.queries import QUERIES
from tests.conftest import SF_MEDIUM, register_duck_views

SF_DIR = os.environ.get("ROSQL_TEST_SF_DIR", SF_MEDIUM)


def canon(v):
    """Canonical string for cross-engine value comparison.

    MIRRORS THE DRIVER, which canonicalizes through pandas: DuckDB
    decimals arrive as float64 while Spark rows keep decimal.Decimal, so
    Decimal and float must NOT unify here (round-1 q07/q11/q79 failed the
    driver hash on exactly that while this harness passed).  The schema
    policy below bans DecimalType outputs outright; this stays strict as
    a second line of defense.
    """
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"  # deliberately distinct from float canon
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{decimal.Decimal(repr(v)).normalize()}"
    if isinstance(v, int):
        # deliberately distinct from float canon: the driver's pandas
        # hash is dtype-sensitive (r3 q23 failed on DuckDB HUGEINT →
        # float64 0.0 vs Spark int64 0 with identical values)
        return f"i:{v}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def rows_to_counter(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    # one scope per query: the pins it builds are freed when it ends
    with pin_scope():
        sdf = QUERIES[name](spark, SF_DIR)
        srows = sdf.collect()

    # Output-schema policy: driver-visible results must never carry
    # DecimalType — the driver's pandas canonicalization renders Spark
    # Decimal("26.00") differently from DuckDB's float64 26.0 even when
    # values are identical.  Exact decimal math belongs INSIDE the
    # aggregation; the output boundary is double/bigint/string/....
    from pyspark.sql.types import ArrayType, DecimalType, MapType

    for f in sdf.schema.fields:
        assert not isinstance(f.dataType, DecimalType), (
            f"{name}: output column {f.name} is DecimalType — cast the "
            "final value to double (driver canonicalization hazard)"
        )
        # every declared output must be pandas-hashable: the driver
        # canonicalizes rows-only queries too, and a raw array/map column
        # crashed it in round 1 (q39, which had no oracle)
        assert not isinstance(f.dataType, (ArrayType, MapType)), (
            f"{name}: output column {f.name} is an array/map — digest it"
        )

    scols = sdf.columns

    if name not in ORACLES:
        # rows-only contract (q78/q84/qx09): stable schema, runs, >=0 rows
        assert len(srows) >= 0
        assert scols
        return

    register_duck_views(duck, SF_DIR)
    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), (
        f"{name}: column names differ: spark={sorted(scols)} duck={sorted(dcols)}"
    )
    assert len(srows) == len(drows), (
        f"{name}: row count differs: spark={len(srows)} duck={len(drows)}"
    )
    sc, dc = rows_to_counter(srows, scols), rows_to_counter(drows, dcols)
    if sc != dc:
        missing = list((dc - sc).items())[:5]
        extra = list((sc - dc).items())[:5]
        raise AssertionError(
            f"{name}: value mismatch.\n only-in-duck: {missing}\n only-in-spark: {extra}"
        )
