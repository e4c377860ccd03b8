"""Gates for the one pin ledger (ros_sql_spark/functions/pin.py): every
pin and cache goes through it, and a closed scope leaves block storage
as it found it."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from ros_sql_spark.functions.pin import pin_scope
from ros_sql_spark.plans.queries import QUERIES
from tests.conftest import SF_MEDIUM

ROOT = Path(__file__).resolve().parents[1]


def test_pins_go_through_the_pin_module():
    """No bare checkpoint and none of the retired release conventions
    outside functions/pin.py."""
    banned = re.compile(
        r"localCheckpoint\(|_rosql_cached|release_local_checkpoints|pins_out"
    )
    files = [
        *(ROOT / "ros_sql_spark").rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        ROOT / "bench.py",
    ]
    hits = [
        f"{path.relative_to(ROOT)}:{n}: {line.strip()}"
        for path in files
        if path != ROOT / "ros_sql_spark" / "functions" / "pin.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "\n".join(hits)


@pytest.mark.parametrize(
    "name", ["qx29_pagerank", "qx33_triangle_count", "q40_ann_lsh"]
)
def test_pin_scope_returns_storage_to_baseline(spark, name):
    """Queries that pin (eager graph checkpoints, q40's persisted bucket
    table) hold block storage while they run and none after their scope
    closes.  Compared as RDD-id sets: the ContextCleaner may reclaim
    older blocks meanwhile, so storage can only shrink."""
    jsc = spark.sparkContext._jsc.sc()

    def stored() -> set[int]:
        return {info.id() for info in jsc.getRDDStorageInfo()}

    before = stored()
    with pin_scope() as held:
        QUERIES[name](spark, SF_MEDIUM).write.format("noop").mode(
            "overwrite"
        ).save()
        assert held and stored() - before, "the query pinned nothing"
    assert stored() <= before
