"""Unit tests of the seeded benchmark inputs (no Spark needed).

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402

SF = 0.001


def _events(tmp_path, seed: int) -> pa.Table:
    """The events table as sources.io.load_table projects a µs file:
    ``ts_ns`` is the stored microseconds times 1000."""
    inputs.write_tables(seed, SF, str(tmp_path), ["events"])
    ev = pq.read_table(tmp_path / "events.parquet")
    return ev.append_column("ts_ns", pc.multiply(ev["ts"].cast(pa.int64()), 1000))


def _tables_digest(tmp_path, seed: int) -> str:
    d = tmp_path / f"tables-{seed}"
    inputs.write_tables(seed, SF, str(d))
    h = hashlib.sha256()
    for name in inputs.TABLES:
        h.update(pq.read_table(d / f"{name}.parquet").to_pandas().to_csv().encode())
    return h.hexdigest()


def _messages_digest(tmp_path, seed: int) -> str:
    msgs = inputs.messages(_events(tmp_path / f"ev-{seed}", seed), seed)
    return inputs.digest(msgs.to_pylist())


def test_same_seed_same_inputs(tmp_path):
    assert _tables_digest(tmp_path / "a", 7) == _tables_digest(tmp_path / "b", 7)
    assert _messages_digest(tmp_path / "a", 7) == _messages_digest(tmp_path / "b", 7)


def test_other_seed_other_inputs(tmp_path):
    assert _tables_digest(tmp_path, 7) != _tables_digest(tmp_path, 8)
    assert _messages_digest(tmp_path, 7) != _messages_digest(tmp_path, 8)


def test_edge_cases_present(tmp_path):
    events = _events(tmp_path, 3)
    msgs = inputs.messages(events, 3)
    rows = msgs.to_pylist()
    assert len(rows) == events.num_rows
    assert {r["topic"] for r in rows} == set(inputs.EVENT_TYPES)
    assert any(r["ranges"] is None for r in rows), "NULL variable array"
    assert any(r["ranges"] == [] for r in rows), "empty variable array"
    assert any(r["ranges"] for r in rows), "non-empty variable array"
    assert any(r["data"] == b"" for r in rows), "empty blob"
    assert any(len(r["data"]) > 0 for r in rows), "non-empty blob"
    assert all(len(r["pose"]) == inputs.FIXED_LEN for r in rows)
    assert all(r["ts_ns"] % 1000 != 0 for r in rows), "sub-µs part on every stamp"
    keys = {(r["event_id"], r["ts_ns"]) for r in rows}
    assert len(keys) == len(rows)


def test_topic_subset_and_windows(tmp_path):
    msgs = inputs.messages(_events(tmp_path, 5), 5, ("click", "view"))
    assert inputs.topics_of(msgs) == ["click", "view"]
    ts = msgs["ts_ns"].to_numpy()
    topic = msgs["topic"].to_numpy(zero_copy_only=False)
    for t, t0, t1, n in inputs.range_windows(msgs, 5, 25):
        assert t0 < t1
        assert n == int(((topic == t) & (ts >= t0) & (ts < t1)).sum())
    assert inputs.range_windows(msgs, 5, 3) == inputs.range_windows(msgs, 5, 3)
