"""Cross-engine value canonicalization for the query_mix oracle check.

Mirrors ``canon`` in tests/test_oracle_parity.py: decimals, floats and
ints never unify, so a dtype drift between Spark and DuckDB is a
mismatch.
"""

from __future__ import annotations

import datetime
import decimal
import math
from collections import Counter


def canon(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{decimal.Decimal(repr(v)).normalize()}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def rows_to_counter(rows, colnames) -> Counter:
    """Order-insensitive multiset of canonical rows, columns by name."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)
