"""Seeded benchmark inputs: the ten test tables and ROS-like messages.

Everything here is a pure function of ``seed`` (and the scale), so the
same seed gives byte-identical inputs and the program under test sees
only what this module writes.

``write_tables`` writes the TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings`` with the column names, types and value
domains of the repository's test tables (FIXTURES.md Part A).  ``messages`` turns
the events table into ROS-like messages, one topic per ``event_type``,
covering the roundtrip contract's edge cases: a struct, a fixed
9-double array, a variable array with NULL and empty rows, a blob that
is sometimes empty, and ``ts_ns`` stamps with a sub-microsecond part.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
FIXED_LEN = 9
VAR_MAX = 24
BLOB_MAX = 64

_DAY_US = 86_400_000_000
_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def table_rows(sf: float) -> dict[str, int]:
    """Row count of each table at scale factor ``sf`` (as in the test
    tables: fact tables linear in sf, documents/embeddings floored at
    500)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(50, int(1_500_000 * sf)),
        "events": max(50, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts_us(values) -> pa.Array:
    return pa.array(values, pa.int64()).cast(pa.timestamp("us"))


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    adjectives = ["small", "red", "blue", "large", "green", "shiny", "old", "new"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring", "clip"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
        ),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    odate = _1995_US + rng.integers(0, 2400, no) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    lineno = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts_us(odate[okey] + rng.integers(1, 96, nl) * _DAY_US),
    })
    ne = n["events"]
    ts = np.sort(_2024_US + rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, max(15, nc // 10), ne), pa.int64()),
        "event_type": rng.choice(list(EVENT_TYPES), ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 100, nd)
    ]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.5, (nv, 64))) / 8.0
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(seed: int, sf: float, out_dir: str, names=TABLES) -> dict[str, int]:
    """Write tables ``names`` as ``out_dir/<name>.parquet``; return their
    row counts.  A table's content does not depend on ``names``."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in _tables(seed, sf).items():
        if name not in names:
            continue
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


def message_schema() -> pa.Schema:
    """Arrow schema of one message row (topic column first)."""
    return pa.schema([
        ("topic", pa.string()),
        ("event_id", pa.int64()),
        ("ts_ns", pa.int64()),
        ("header", pa.struct([
            ("seq", pa.int64()),
            ("frame_id", pa.string()),
            ("user_id", pa.int64()),
            ("value", pa.float64()),
        ])),
        ("pose", pa.list_(pa.float64())),
        ("ranges", pa.list_(pa.float64())),
        ("data", pa.binary()),
    ])


def messages(events: pa.Table, seed: int, topics=EVENT_TYPES) -> pa.Table:
    """ROS-like messages from the events (``event_id``, ``ts_ns``,
    ``user_id``, ``event_type``, ``value`` columns) whose ``event_type``
    is one of ``topics``, in ``event_id`` order; the topic is the type.

    The seed decides which rows carry a NULL or an empty ``ranges``
    array, every array length and blob size, and the sub-µs part (1..999
    ns) added to ``ts_ns``.
    """
    events = events.filter(
        pa.compute.is_in(events["event_type"], pa.array(list(topics)))
    ).sort_by("event_id")
    n = events.num_rows
    rng = np.random.default_rng([seed, 2])
    eid = events["event_id"].to_numpy()
    ts_ns = events["ts_ns"].to_numpy() + rng.integers(1, 1000, n)
    user = events["user_id"].to_numpy()
    value = events["value"].to_numpy()
    topic = events["event_type"].to_numpy(zero_copy_only=False)

    # per-topic sequence numbers, like ROS Header.seq
    seq = np.zeros(n, np.int64)
    for t in topics:
        m = topic == t
        seq[m] = np.arange(int(m.sum()))

    pose = np.round(rng.normal(0.0, 1.0, (n, FIXED_LEN)), 6)
    kind = rng.random(n)
    var_len = rng.integers(1, VAR_MAX + 1, n)
    var_len[kind < 0.2] = 0  # empty array
    var_null = kind > 0.9  # NULL array
    var_len[var_null] = 0
    offsets = np.concatenate([[0], np.cumsum(var_len)]).astype(np.int32)
    var_vals = np.round(rng.uniform(0.0, 30.0, int(offsets[-1])), 4)
    ranges = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(var_vals), mask=pa.array(var_null)
    )
    blob_len = rng.integers(0, BLOB_MAX + 1, n)
    blob_len[rng.random(n) < 0.1] = 0
    raw = rng.integers(0, 256, int(blob_len.sum()), dtype=np.uint8).tobytes()
    cut = np.concatenate([[0], np.cumsum(blob_len)])
    data = [raw[cut[i]:cut[i + 1]] for i in range(n)]

    header = pa.StructArray.from_arrays(
        [
            pa.array(seq, pa.int64()),
            pa.array([f"frame_{u % 8}" for u in user]),
            pa.array(user, pa.int64()),
            pa.array(value, pa.float64()),
        ],
        fields=list(message_schema().field("header").type),
    )
    return pa.Table.from_arrays(
        [
            pa.array(topic, pa.string()),
            pa.array(eid, pa.int64()),
            pa.array(ts_ns, pa.int64()),
            header,
            pa.array(list(pose), pa.list_(pa.float64())),
            ranges,
            pa.array(data, pa.binary()),
        ],
        schema=message_schema(),
    )


def canon_row(row: dict) -> bytes:
    """Canonical bytes of one message row (dict from ``to_pylist``)."""
    return repr(sorted(row.items())).encode()


def digest(rows) -> str:
    """Order-sensitive sha256 over canonical rows."""
    h = hashlib.sha256()
    for r in rows:
        h.update(canon_row(r))
        h.update(b"\n")
    return h.hexdigest()


def topics_of(msgs: pa.Table) -> list[str]:
    return sorted(set(msgs["topic"].to_pylist()))


def sorted_topic_digests(msgs: pa.Table) -> dict[str, str]:
    """Digest of each topic's messages sorted by ``(ts_ns, event_id)``,
    without the topic column — what a full playback must reproduce."""
    out = {}
    for t in topics_of(msgs):
        sub = msgs.filter(pa.compute.equal(msgs["topic"], t)).drop(["topic"])
        sub = sub.sort_by([("ts_ns", "ascending"), ("event_id", "ascending")])
        out[t] = digest(sub.to_pylist())
    return out


def range_windows(
    msgs: pa.Table, seed: int, count: int
) -> list[tuple[str, int, int, int]]:
    """``count`` seeded ``(topic, t0_ns, t1_ns, expected_rows)`` windows,
    widths log-uniform from 1e-4 to 0.5 of the messages' time span.
    The widths are stratified (one per equal slice of the log range, at
    a seeded point within it, in seeded order), so every seed covers
    narrow to wide alike; topics and positions are seeded."""
    rng = np.random.default_rng([seed, 3])
    ts_all = msgs["ts_ns"].to_numpy()
    topics = msgs["topic"].to_numpy(zero_copy_only=False)
    lo, hi = int(ts_all.min()), int(ts_all.max()) + 1
    span = hi - lo
    names = topics_of(msgs)
    log_lo, log_hi = -4.0, np.log10(0.5)
    strata = rng.permutation(count)
    out = []
    for k in strata:
        t = names[int(rng.integers(0, len(names)))]
        frac = 10 ** (log_lo + (k + rng.random()) / count * (log_hi - log_lo))
        width = int(span * frac)
        t0 = lo + int(rng.integers(0, span - width))
        t1 = t0 + width
        ts = ts_all[topics == t]
        out.append((t, t0, t1, int(((ts >= t0) & (ts < t1)).sum())))
    return out
