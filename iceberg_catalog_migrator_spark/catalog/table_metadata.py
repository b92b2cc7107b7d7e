"""Iceberg table metadata (https://iceberg.apache.org/spec/#table-metadata):
every ``metadata.json`` the engine writes or reads is built, written,
ordered and parsed here — the catalog pointer docs (which record the
engine's head in ``properties.snapshot-id`` and list no snapshots), the
REST endpoint's docs and the export.

Strict on what it writes: :func:`write_metadata` refuses a doc without
a field its format version requires. Lenient on what it reads:
:func:`load_metadata` checks only ``format-version``, so a foreign or
hand-written doc reads although it lacks fields this module writes.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import time
import uuid

from .base import METADATA_DIR, CatalogError, NoSuchTableError


class SnapshotError(RuntimeError):
    """A snapshot table or an Iceberg reader refused an operation
    (defined here, Spark-free, so that a metadata error can be one)."""


class MetadataError(CatalogError, SnapshotError):
    """A ``metadata.json`` this module cannot build, write, order or
    parse: a bad request to a catalog and a refusal to a reader."""


# ------------------------------------------------------------------ types
#: Spark type -> Iceberg primitive; Spark's narrower integers widen to int
_TO_ICEBERG = {
    "bigint": "long",
    "int": "int",
    "smallint": "int",
    "tinyint": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}
#: Iceberg primitive -> Spark type. timestamptz reads as Spark's
#: session-zoned timestamp, as Spark's own Iceberg source reads it.
_TO_SPARK = {i: s for s, i in _TO_ICEBERG.items() if s not in ("smallint", "tinyint")}


def _split_top(s: str) -> list[str]:
    """``s`` split at the commas outside ``<>`` and ``()``."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "<(":
            depth += 1
        elif c in ">)":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


_NAME_TYPE = re.compile(r"`?([^`:\s]+)`?(?:\s*:\s*|\s+)(.+)$", re.S)


def _ddl_columns(ddl: str) -> list[tuple[str, str]]:
    """``(name, Spark type)`` per top-level column of either DDL form:
    ``struct<id:bigint,v:string>`` or ``id bigint, v string``."""
    ddl = ddl.strip()
    if ddl.lower().startswith("struct<") and ddl.endswith(">"):
        ddl = ddl[7:-1]
    cols = []
    for part in _split_top(ddl):
        m = _NAME_TYPE.match(part)
        if m is None:
            raise MetadataError(f"cannot parse column {part!r} of DDL {ddl!r}")
        cols.append((m.group(1), m.group(2).strip()))
    return cols


def _iceberg_type(spark_type: str, ids) -> str | dict:
    """The Iceberg form of ``spark_type``, nested field ids drawn from
    ``ids``: a struct's fields take theirs before any nested type does,
    the order Iceberg assigns fresh ids in."""
    t = spark_type.strip()
    low = t.lower()
    if low.startswith("struct<"):
        cols = _ddl_columns(t)
        fids = [next(ids) for _ in cols]
        return {
            "type": "struct",
            "fields": [
                {"id": i, "name": n, "required": False, "type": _iceberg_type(c, ids)}
                for i, (n, c) in zip(fids, cols)
            ],
        }
    if low.startswith("array<"):
        eid = next(ids)
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(t[6:-1], ids),
            "element-required": False,
        }
    if low.startswith("map<"):
        key, value = _split_top(t[4:-1])
        kid, vid = next(ids), next(ids)
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(key, ids),
            "value-id": vid,
            "value": _iceberg_type(value, ids),
            "value-required": False,
        }
    if low.startswith("decimal"):
        return low.replace(" ", "")  # decimal(p,s)
    if low not in _TO_ICEBERG:
        raise MetadataError(f"cannot convert column type {spark_type!r} to an Iceberg type")
    return _TO_ICEBERG[low]


def spark_type(iceberg_type) -> str:
    """The Spark DDL type of an Iceberg type (struct, list and map
    recurse)."""
    if isinstance(iceberg_type, dict):
        kind = iceberg_type.get("type")
        if kind == "struct":
            inner = ",".join(
                f"{f['name']}:{spark_type(f['type'])}" for f in iceberg_type.get("fields", [])
            )
            return f"struct<{inner}>"
        if kind == "list":
            return f"array<{spark_type(iceberg_type['element'])}>"
        if kind == "map":
            return f"map<{spark_type(iceberg_type['key'])},{spark_type(iceberg_type['value'])}>"
    elif isinstance(iceberg_type, str):
        if iceberg_type.startswith("decimal"):
            return iceberg_type.replace(" ", "")
        if iceberg_type in _TO_SPARK:
            return _TO_SPARK[iceberg_type]
    raise MetadataError(f"cannot import Iceberg column type {iceberg_type!r}")


def iceberg_schema(columns, schema_id: int = 0) -> dict:
    """The spec schema of ``columns``, ``(field id, name, Spark type)``
    triples: top-level ids as given, nested ids assigned once, after
    the largest top-level one. Every field is optional (Spark writes
    nullable columns)."""
    columns = list(columns)
    ids = itertools.count(max((c[0] for c in columns), default=0) + 1)
    return {
        "type": "struct",
        "schema-id": schema_id,
        "fields": [
            {"id": i, "name": n, "required": False, "type": _iceberg_type(t, ids)}
            for i, n, t in columns
        ],
    }


def schema_from_ddl(ddl: str) -> dict:
    """Schema 0 of a DDL string, columns numbered 1.. in order."""
    return iceberg_schema((i + 1, n, t) for i, (n, t) in enumerate(_ddl_columns(ddl)))


def max_field_id(node) -> int:
    """Largest field id anywhere in an Iceberg schema node (or list of
    them): struct fields carry ``id``, lists ``element-id``, maps
    ``key-id`` and ``value-id``."""
    if isinstance(node, list):
        return max(map(max_field_id, node), default=0)
    if not isinstance(node, dict):
        return 0
    ids = [v for k in ("id", "element-id", "key-id", "value-id") if isinstance(v := node.get(k), int)]
    nested = [max_field_id(node.get(k)) for k in ("fields", "element", "key", "value", "type")]
    return max(ids + nested)


# ------------------------------------------------------------------ build
#: the order every doc's keys are written in
_KEYS = (
    "format-version",
    "next-row-id",
    "table-uuid",
    "location",
    "last-sequence-number",
    "last-updated-ms",
    "last-column-id",
    "current-schema-id",
    "schemas",
    "default-spec-id",
    "partition-specs",
    "last-partition-id",
    "default-sort-order-id",
    "sort-orders",
    "properties",
    "current-snapshot-id",
    "snapshots",
    "snapshot-log",
    "metadata-log",
    "refs",
    "statistics",
    "partition-statistics",
)

#: the fields a doc of each format version must carry: v2 every field
#: above but the optional ones, v3 next-row-id too
_OPTIONAL = {"next-row-id", "properties", "current-snapshot-id", "snapshots", "snapshot-log"}
_OPTIONAL |= {"metadata-log", "refs", "statistics", "partition-statistics"}
_REQUIRED = {
    1: ("format-version", "location", "last-updated-ms", "last-column-id", "schema", "partition-spec"),
    2: tuple(k for k in _KEYS if k not in _OPTIONAL),
}
_REQUIRED[3] = (*_REQUIRED[2], "next-row-id")


def build_metadata(location: str, schemas: list[dict], **fields) -> dict:
    """A complete v2/v3 doc in the spec's key order. The defaults
    describe a new table: a fresh uuid, the last of ``schemas``
    current, unpartitioned, unsorted, no snapshots. Each keyword
    overrides one spec field, underscores for hyphens
    (``current_snapshot_id=7``); a None keyword keeps the default and
    an optional field stays out."""
    specs = fields.get("partition_specs") or [{"spec-id": 0, "fields": []}]
    doc = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": location,
        "last-sequence-number": 0,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": max_field_id(schemas),
        "current-schema-id": schemas[-1]["schema-id"] if schemas else -1,
        "schemas": schemas,
        "default-spec-id": 0,
        "partition-specs": specs,
        "last-partition-id": max(
            (f["field-id"] for s in specs for f in s["fields"]), default=999
        ),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
        "refs": {},
    }
    for name, value in fields.items():
        key = name.replace("_", "-")
        if key not in _KEYS:
            raise MetadataError(f"{key!r} is not a table metadata field")
        if value is not None:
            doc[key] = value
    return {k: doc[k] for k in _KEYS if k in doc}


def validate(doc: dict) -> None:
    """Refuse ``doc`` unless it carries every field its format version
    requires and its current schema, default spec and default sort
    order name entries of their lists."""
    fv = doc.get("format-version")
    if fv not in _REQUIRED:
        raise MetadataError(f"unsupported format-version {fv!r}")
    missing = [k for k in _REQUIRED[fv] if k not in doc]
    if missing:
        raise MetadataError(f"format-version {fv} metadata is missing {missing}")
    if fv == 1:
        return
    for cur, key, list_key in (
        ("current-schema-id", "schema-id", "schemas"),
        ("default-spec-id", "spec-id", "partition-specs"),
        ("default-sort-order-id", "order-id", "sort-orders"),
    ):
        if doc[cur] not in {e.get(key) for e in doc[list_key]}:
            raise MetadataError(f"{cur} {doc[cur]!r} names none of the {list_key}")


# ------------------------------------------------------------------ write
def write_metadata(path: str, doc: dict, prior: tuple[str, dict] | None = None) -> dict:
    """Create ``path`` holding ``doc``, exclusively: the doc is written
    under a private name and linked into place whole, so a reader never
    sees a torn doc, and an existing file of that name raises
    ``FileExistsError`` and is left as it is. With ``prior``, the
    ``(location, doc)`` this one follows, the prior doc joins the end of
    ``metadata-log`` at its own ``last-updated-ms``: the spec's rollback
    chain. Refuses a doc :func:`validate` refuses. Returns the doc as
    written."""
    if prior is not None:
        prior_loc, prior_doc = prior
        entry = {
            "timestamp-ms": prior_doc.get("last-updated-ms", doc.get("last-updated-ms")),
            "metadata-file": prior_loc,
        }
        doc = {**doc, "metadata-log": [*(prior_doc.get("metadata-log") or []), entry]}
    validate(doc)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(json.dumps(doc))  # compact: one C-encoded string
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)
    return doc


# ------------------------------------------------------------------ order
#: both names docs take: ``v<N>.metadata.json`` (pointer docs, exports;
#: a branch's ``v<N>-<ref>``) and Iceberg's ``<NNNNN>-<uuid>.metadata.json``
_VERSION = re.compile(r"^v?(\d+)")


def metadata_version(name: str) -> int:
    """The version a metadata file's name carries."""
    m = _VERSION.match(os.path.basename(name))
    if m is None:
        raise MetadataError(
            f"cannot order metadata file {name!r}: expected "
            "v<N>.metadata.json or <NNNNN>-<uuid>.metadata.json"
        )
    return int(m.group(1))


def metadata_files(directory: str) -> list[str]:
    """The ``*.metadata.json`` names in ``directory``, oldest first."""
    return sorted(
        (f for f in os.listdir(directory) if f.endswith(".metadata.json")),
        key=metadata_version,
    )


def write_next_metadata(doc: dict, prior: tuple[str, dict] | None = None) -> tuple[str, dict]:
    """:func:`write_metadata` for the REST endpoint: ``doc`` goes to
    ``<NNNNN>-<uuid>.metadata.json`` under its location, one version
    past ``prior``'s file (version 0 for a new table). The uuid keeps
    racing writers' candidates apart; the store's pointer swap decides
    which one becomes current. Returns ``(path, doc as written)``."""
    n = metadata_version(prior[0]) + 1 if prior else 0
    path = os.path.join(doc["location"], METADATA_DIR, f"{n:05d}-{uuid.uuid4()}.metadata.json")
    return path, write_metadata(path, doc, prior)


# ------------------------------------------------------------------ parse
def load_metadata(location: str) -> tuple[str, dict]:
    """``(path, doc)`` of the metadata file at ``location``, or of the
    newest one in directory ``location``. Lenient: only
    ``format-version`` is checked."""
    if os.path.isdir(location):
        names = metadata_files(location)
        if not names:
            raise MetadataError(f"no metadata.json under {location}")
        location = os.path.join(location, names[-1])
    try:
        with open(location, encoding="utf-8") as f:
            doc = json.load(f)
    except FileNotFoundError:
        raise NoSuchTableError(f"Metadata file not found: {location}") from None
    fv = doc.get("format-version") if isinstance(doc, dict) else None
    if fv not in _REQUIRED:
        raise MetadataError(
            f"unsupported format-version {fv!r} in {location}: only Iceberg "
            "format-version 1 (read-only), 2 and 3 metadata are supported"
        )
    return location, doc
