"""Engine metadata catalog (reference R10/R15 — SURVEY.md §2.1).

strawlab/ros_sql persists a metadata catalog (RosSqlMetadata + backref +
timestamp-bookkeeping tables, models.py) mapping topic → table → message
class (with msg-definition md5), plus a schema-version constant checked
on open so an incompatible database is rejected rather than silently
misread.  Identifier mangling makes topic names legal, length-capped
table names (factories.py namify).

Engine equivalent: a JSON catalog document persisted next to the data
(``_rosql_catalog.json``).  The logical name stays authoritative in the
catalog; only sink-side physical names are mangled (reversibly), so a
64-char backend cap can never silently alias two topics.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import asdict, dataclass, field as dc_field

from pyspark.sql import types as T

__all__ = ["SCHEMA_VERSION", "TopicEntry", "EngineCatalog", "namify"]

# 2: one nested table per topic.  Version 1 stores shredded each topic
# into a root table plus child tables described by a backref ledger.
SCHEMA_VERSION = 2

_MANGLE_RE = re.compile(r"[^A-Za-z0-9_]")


def namify(topic: str, max_len: int = 64) -> str:
    """Deterministic, reversible-enough identifier mangling (R3).

    ``/robot1/pose`` → ``robot1__pose``; names over ``max_len`` keep a
    prefix plus an 8-hex content hash so truncation can't alias two
    distinct topics (the reference's MySQL 64-char hazard, SURVEY.md §4.1).
    """
    base = _MANGLE_RE.sub("_", topic.strip("/").replace("/", "__")) or "topic"
    if base[0].isdigit():
        base = f"t_{base}"
    if len(base) <= max_len:
        return base
    import hashlib

    digest = hashlib.md5(topic.encode()).hexdigest()[:8]
    return f"{base[: max_len - 9]}_{digest}"


@dataclass
class TopicEntry:
    topic: str
    table: str  # mangled physical name
    schema_json: str  # Spark StructType json (replaces msg-class name + md5)
    key_cols: list[str] = dc_field(default_factory=list)
    ts_col: str | None = None  # record-time column (R10 timestamp bookkeeping)


@dataclass
class EngineCatalog:
    """The ``_rosql_catalog`` document: schema-versioned topic registry."""

    version: int = SCHEMA_VERSION
    topics: dict[str, TopicEntry] = dc_field(default_factory=dict)

    # -- registration (R1 declare / R15 idempotent re-declare) -----------

    def add_topic(
        self,
        topic: str,
        schema: T.StructType,
        key_cols: list[str],
        ts_col: str | None = None,
    ) -> TopicEntry:
        """Register a topic; idempotent if re-declared with an identical
        schema, ValueError if the schema conflicts (R15 semantics)."""
        entry = TopicEntry(
            topic=topic,
            table=namify(topic),
            schema_json=schema.json(),
            key_cols=list(key_cols),
            ts_col=ts_col,
        )
        existing = self.topics.get(topic)
        if existing is not None:
            if existing.schema_json != entry.schema_json:
                raise ValueError(
                    f"topic {topic!r} already declared with a different schema"
                )
            # idempotent re-declare must be IDENTICAL re-declare: a
            # matching schema with different keys/ts would write data
            # the catalog misdescribes (round-8 review)
            for field in ("key_cols", "ts_col"):
                if getattr(existing, field) != getattr(entry, field):
                    raise ValueError(
                        f"topic {topic!r} already declared with different "
                        f"{field}: {getattr(existing, field)!r} != "
                        f"{getattr(entry, field)!r}"
                    )
            return existing
        # distinct topics must never alias one table: namify collapses
        # punctuation, so '/a-b' and '/a_b' both mangle to 'a_b' and
        # their rows would interleave in one store dir (round-8 review;
        # the hash-suffix branch only guards length truncation)
        for other in self.topics.values():
            if other.table == entry.table:
                raise ValueError(
                    f"topic {topic!r} mangles to table "
                    f"{entry.table!r}, already used by topic "
                    f"{other.topic!r} — rename one topic"
                )
        self.topics[topic] = entry
        return entry

    def schema_of(self, topic: str) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.topics[topic].schema_json))

    # -- persistence ------------------------------------------------------

    def save(self, path: str) -> None:
        doc = {
            "version": self.version,
            "topics": {k: asdict(v) for k, v in self.topics.items()},
        }
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)  # atomic: readers never see a torn catalog

    @classmethod
    def load(cls, path: str) -> "EngineCatalog":
        """Load + version-guard (the reference rejects incompatible DBs
        instead of misreading them — R10)."""
        with open(path) as fh:
            doc = json.load(fh)
        if doc.get("version") != SCHEMA_VERSION:
            layout = (
                ": version 1 stores shred each topic into child tables, "
                "this engine keeps each message nested in one table per "
                "topic — re-record the store"
                if doc.get("version") == 1
                else ""
            )
            raise ValueError(
                f"catalog schema version {doc.get('version')!r} is not "
                f"supported (engine speaks {SCHEMA_VERSION}){layout}"
            )
        cat = cls(version=doc["version"])
        for k, v in doc["topics"].items():
            cat.topics[k] = TopicEntry(**v)
        return cat
