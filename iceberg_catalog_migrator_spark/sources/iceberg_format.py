"""Iceberg-v2-shaped metadata EXPORT for snapshot tables — the
missing half of the migration story.

The reference (`CatalogMigrator.java:212-213`) moves a table POINTER:
``metadataFileLocation()`` — the path of an Iceberg ``vN.metadata.json``
whose snapshots reference Avro manifest lists, which reference Avro
manifest files, which carry per-data-file stats. This module emits
that exact structure for a :class:`~.snapshots.SnapshotTable`, so the
pointer the migration plane registers can point at genuinely
Iceberg-shaped metadata:

- ``export_iceberg_metadata(table)`` writes, under
  ``<table>/metadata/iceberg/``:
  a version-incremented ``vN.metadata.json`` (format-version 2:
  schemas with field ids, partition specs, sort orders, snapshot list
  + log, metadata-log of prior docs, refs — built and created
  exclusively by ``catalog/table_metadata.py``, so racing exporters
  never clobber a claimed version), one
  Avro **manifest list** per exported snapshot, and one Avro
  **manifest file** per snapshot carrying every data file's
  ``record_count``, ``file_size_in_bytes``, sequence numbers, and
  field-id-keyed ``lower_bounds``/``upper_bounds`` from the
  manifest-recorded stats (Iceberg single-value binary encoding).
- The Avro container writer below implements the Avro 1.x spec from
  scratch (magic, zigzag varints, blocks, sync markers; block codecs
  from the :mod:`.codecs` table) — no Avro library exists in this
  environment.
  Manifest files are written via write-then-rename so readers never
  see a torn container.
- ``tests/test_iceberg_export.py`` round-trips the export through an
  INDEPENDENT pure-Python Avro/metadata parser (written against the
  spec, sharing no encode code) and checks schema, snapshot chain,
  per-file stats and sequence numbers against the table's own state.

Pending merge-on-read deletes export as spec-shaped DELETE manifests:
positional vectors convert once into ``file_path``/``pos`` parquet
(entry content=1) and equality key files into equality-column parquet
(entry content=2 with ``equality_ids``), each scoped by its own
sequence number. Refused loudly instead of silently wrong: a HEAD
retaining files written under renamed/widened field names (the export
resolves parquet columns by name), UNSTAMPED legacy equality deletes
(no finite spec sequence expresses apply-to-everything), and delete
keys absent from the exported schema — ancestors with any of these
are dropped like expired ancestry. Real network catalogs would
register ``metadata_location`` from the returned dict.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import uuid
import zlib

from ..catalog import table_metadata
from ..catalog.base import CatalogError, read_table_metadata
from ..catalog.table_metadata import (
    build_metadata,
    iceberg_schema,
    metadata_files,
    metadata_version,
    write_metadata,
)
from . import codecs
from .codecs import CODECS, compress, decompress
from .mor import _coords_table, _key_type
from .snapshots import MAIN, SnapshotError, SnapshotTable, _schema_by_id

# ------------------------------------------------------------ avro write
# Minimal Avro 1.x binary container writer (null codec).

_MAGIC = b"Obj\x01"


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _varint(n: int) -> bytes:
    n &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_long(n: int) -> bytes:
    return _varint(_zigzag(int(n)))


def _enc_bytes(b: bytes) -> bytes:
    return _enc_long(len(b)) + b


def _enc_str(s: str) -> bytes:
    return _enc_bytes(s.encode("utf-8"))


def _encode_value(schema, value) -> bytes:
    """Encode ``value`` per the (already-parsed JSON) Avro ``schema``.
    Supports the subset Iceberg manifests use: null/boolean/int/long/
    string/bytes, records, arrays, unions."""
    if isinstance(schema, list):  # union: branch index + value
        for i, branch in enumerate(schema):
            bt = branch.get("type") if isinstance(branch, dict) else branch
            if value is None and bt == "null":
                return _enc_long(i)
            if value is not None and bt != "null":
                return _enc_long(i) + _encode_value(branch, value)
        raise ValueError(f"no union branch for {value!r} in {schema}")
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t in ("int", "long"):
        return _enc_long(value)
    if t == "string":
        return _enc_str(value)
    if t == "bytes":
        return _enc_bytes(value)
    if t == "record":
        return b"".join(
            _encode_value(f["type"], value.get(f["name"])) for f in schema["fields"]
        )
    if t == "array":
        if not value:
            return _enc_long(0)
        return (
            _enc_long(len(value))
            + b"".join(_encode_value(schema["items"], v) for v in value)
            + _enc_long(0)
        )
    raise ValueError(f"unsupported avro type {t}")


def write_avro(
    path: str, schema: dict, records: list[dict], codec: str = "null"
) -> None:
    """One-block Avro object container file, its block compressed by
    any codec of :data:`.codecs.CODECS`: ``null``, ``deflate`` (what
    real engines default manifest Avro to), ``bzip2`` and ``xz``
    (stdlib), and ``snappy`` and ``zstandard`` (pyarrow's libsnappy
    and libzstd). A snappy block carries the Avro spec's big-endian
    CRC32 of the uncompressed data."""
    if codec not in CODECS:
        raise ValueError(f"unsupported avro codec {codec!r}")
    sync = uuid.uuid4().bytes
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": CODECS[codec].name.encode(),
    }
    body = b"".join(_encode_value(schema, r) for r in records)
    crc = struct.pack(">I", zlib.crc32(body)) if codec == "snappy" else b""
    body = compress(codec, body) + crc
    with open(path, "wb") as f:
        f.write(_MAGIC)
        f.write(_enc_long(len(meta)))
        for k, v in meta.items():
            f.write(_enc_str(k) + _enc_bytes(v))
        f.write(_enc_long(0))
        f.write(sync)
        if records:
            f.write(_enc_long(len(records)))
            f.write(_enc_long(len(body)))
            f.write(body)
            f.write(sync)


def _write_avro_atomic(
    path: str, schema: dict, records: list[dict], codec: str = "null"
) -> bool:
    """Metadata files are content-addressed (the name embeds a
    fingerprint of the records) and therefore IMMUTABLE: if ``path``
    already exists it holds the same logical content — written by this
    or a prior export — and is left untouched, so a prior metadata
    version never sees its tree change underneath it. Returns whether
    THIS call created the file (a tail reset unlinks only those).
    Writes go tmp-then-rename so a concurrent reader never sees a torn
    half-written container."""
    if os.path.exists(path):
        return False
    tmp = f"{path}.tmp.{os.getpid()}"
    write_avro(tmp, schema, records, codec=codec)
    os.replace(tmp, path)
    return True


def _content_fingerprint(records: list) -> str:
    """Deterministic fingerprint of a manifest's logical records, used
    in the file name so unchanged snapshots re-export to the SAME path
    (deduped across metadata versions) while changed state for the
    same snapshot id (a schema evolution re-encoding an old snapshot's
    stats, mutated engine docs) mints a NEW file instead of rewriting
    one a prior ``vN.metadata.json`` references. 16 hex chars (64 bits):
    since ``_write_avro_atomic`` treats an existing path as
    already-written, the fingerprint is what keeps two DIFFERENT record
    sets for the same snapshot-id/spec from silently sharing a name —
    64 bits puts that collision out of practical reach."""
    return hashlib.md5(
        json.dumps(records, sort_keys=True, default=repr).encode()
    ).hexdigest()[:16]


def _delete_entry(
    sid: int, seq: int, content: int, path: str, fmt: str, rows: int, **more
) -> dict:
    """An ADDED delete-manifest entry: ``content`` 1 for position
    deletes (a parquet file or one DV blob of a puffin file), 2 for
    equality deletes; ``more`` holds the kind's own ``data_file``
    fields."""
    return {
        "status": _ADDED,
        "snapshot_id": sid,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": path,
            "file_format": fmt,
            "partition": {},
            "record_count": rows,
            "file_size_in_bytes": os.path.getsize(path),
            "lower_bounds": None,
            "upper_bounds": None,
            **more,
        },
    }


# ------------------------------------------------- iceberg schemas
# Avro schemas per the Iceberg spec's manifest-list / manifest layout
# (field ids in "field-id" props, v2 names).


def _opt(t):
    return ["null", t]


MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

# v3 adds the manifest's assigned row-id range start (spec field 520;
# null = the entries carry their own explicit first_row_id, which is
# how this exporter writes them)
MANIFEST_LIST_SCHEMA_V3 = {
    **MANIFEST_LIST_SCHEMA,
    "fields": MANIFEST_LIST_SCHEMA["fields"]
    + [{"name": "first_row_id", "type": _opt("long"), "field-id": 520}],
}

def _bound_entry(key_id: int, value_id: int) -> dict:
    """The spec's map-as-array entry record for bounds. Each use gets
    a DISTINCT record name (Iceberg's own ``k126_v127`` convention):
    Avro forbids redefining a fullname within one schema, so strict
    parsers (Java Avro, fastavro) reject a schema that inlines the
    same named record twice. The array carries the spec's
    ``logicalType: map``."""
    return {
        "type": "record",
        "name": f"k{key_id}_v{value_id}",
        "fields": [
            {"name": "key", "type": "int", "field-id": key_id},
            {"name": "value", "type": "bytes", "field-id": value_id},
        ],
    }

def _partition_field_name(col: str, transform: str) -> str:
    """Iceberg's partition-field naming convention."""
    if transform == "identity":
        return col
    if transform.startswith("bucket["):
        return f"{col}_bucket"
    if transform.startswith("truncate["):
        return f"{col}_trunc"
    return f"{col}_{transform}"  # day / month / hour


def partition_stats_state(
    table_path: str,
    head_snap: dict,
    head_specs: list[dict],
    unpart_spec_id: int,
    files: list[str] | None = None,
) -> tuple[list[str], dict[str, int], dict[tuple, list]]:
    """``(field_names, fid_of, agg)`` for the spec's partition
    statistics: one agg slot ``[records, files, bytes]`` per (spec_id,
    unified partition tuple), derived entirely from manifest metadata
    (recorded tuples, spec ids, row counts) plus one os.stat per file.
    ``files`` restricts the aggregation to a subset — the incremental
    refresh aggregates ONLY the files appended since the prior record
    and merges into it (sources/snapshots.py
    update_partition_statistics)."""
    import pyarrow.parquet as _pq

    spec_by_id = {s["spec_id"]: s["spec"] for s in head_specs}
    cur_spec_id = head_snap.get("current_spec_id", max(spec_by_id))
    # unified partition struct: every (col, transform) field across
    # the head's specs, current spec first (it owns shared names)
    field_names: list[str] = []
    fid_of: dict[str, int] = {}
    for s in sorted(head_specs, key=lambda s: s["spec_id"] != cur_spec_id):
        for i, (c, t) in enumerate(s["spec"]):
            nm = _partition_field_name(c, t)
            if nm not in fid_of:
                fid_of[nm] = 1000 + s["spec_id"] * 100 + i
                field_names.append(nm)
    rows_map = head_snap.get("file_rows", {})
    parts_map = head_snap.get("file_partitions", {})
    fsid = head_snap.get("file_spec_ids", {})
    agg: dict[tuple, list] = {}
    for f in files if files is not None else head_snap["files"]:
        tup = parts_map.get(f)
        if tup is not None:
            spec_id = fsid.get(f, cur_spec_id)
            named = dict(
                zip(
                    (
                        _partition_field_name(c, t)
                        for c, t in spec_by_id.get(spec_id, [])
                    ),
                    tup,
                )
            )
        else:  # pre-partitioning commit: the synthetic empty spec
            spec_id, named = unpart_spec_id, {}
        key = (spec_id, tuple(named.get(nm) for nm in field_names))
        fp = os.path.join(table_path, f)
        n = rows_map.get(f)
        if n is None:
            n = _pq.ParquetFile(fp).metadata.num_rows
        slot = agg.setdefault(key, [0, 0, 0])
        slot[0] += int(n)
        slot[1] += 1
        slot[2] += os.path.getsize(fp) if os.path.exists(fp) else 0
    return field_names, fid_of, agg


def write_partition_stats_file(
    out_dir: str,
    head: int,
    field_names: list[str],
    fid_of: dict[str, int],
    agg: dict[tuple, list],
) -> tuple[str, bool]:
    """Write the spec's partition-statistics parquet (content-addressed
    name, deterministic bytes for a given state — the incremental
    refresh and a full recompute at the same head produce IDENTICAL
    files). Returns ``(path, created)``."""
    import pyarrow as pa
    import pyarrow.parquet as _pq

    keys = sorted(agg, key=lambda k: (k[0], tuple(v or "" for v in k[1])))
    part_fields = [
        pa.field(
            nm,
            pa.string(),
            metadata={b"PARQUET:field_id": str(fid_of[nm]).encode()},
        )
        for nm in field_names
    ]
    arrays = [
        pa.StructArray.from_arrays(
            [
                pa.array([k[1][i] for k in keys], pa.string())
                for i in range(len(field_names))
            ],
            fields=part_fields,
        ),
        pa.array([k[0] for k in keys], pa.int32()),
        pa.array([agg[k][0] for k in keys], pa.int64()),
        pa.array([agg[k][1] for k in keys], pa.int32()),
        pa.array([agg[k][2] for k in keys], pa.int64()),
        pa.array([head] * len(keys), pa.int64()),
    ]
    schema = pa.schema(
        [
            pa.field(
                "partition",
                pa.struct(part_fields),
                metadata={b"PARQUET:field_id": b"1"},
            ),
            pa.field(
                "spec_id",
                pa.int32(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"2"},
            ),
            pa.field(
                "data_record_count",
                pa.int64(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"3"},
            ),
            pa.field(
                "data_file_count",
                pa.int32(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"4"},
            ),
            pa.field(
                "total_data_file_size_in_bytes",
                pa.int64(),
                nullable=False,
                metadata={b"PARQUET:field_id": b"5"},
            ),
            pa.field(
                "last_updated_snapshot_id",
                pa.int64(),
                metadata={b"PARQUET:field_id": b"12"},
            ),
        ]
    )
    pfp = _content_fingerprint(
        [field_names, [list(k[1]) for k in keys], [agg[k] for k in keys]]
    )
    pspath = os.path.join(out_dir, f"partition-stats-{head}-{pfp}.parquet")
    created = not os.path.exists(pspath)
    if created:
        tmp = f"{pspath}.tmp.{os.getpid()}"
        _pq.write_table(pa.Table.from_arrays(arrays, schema=schema), tmp)
        os.replace(tmp, pspath)
    return pspath, created


def read_partition_stats_file(
    path: str,
) -> tuple[list[str], dict[tuple, list]]:
    """``(field_names, agg)`` back from a partition-statistics parquet
    — the incremental refresh's starting state."""
    import pyarrow.parquet as _pq

    tbl = _pq.read_table(path)
    # combine_chunks: column() returns a ChunkedArray, which has no
    # .field() — the struct accessor needs the flat StructArray
    part = tbl.column("partition").combine_chunks()
    field_names = [f.name for f in part.type]
    cols = {f: part.field(i).to_pylist() for i, f in enumerate(field_names)}
    spec_ids = tbl.column("spec_id").to_pylist()
    recs = tbl.column("data_record_count").to_pylist()
    nfiles = tbl.column("data_file_count").to_pylist()
    sizes = tbl.column("total_data_file_size_in_bytes").to_pylist()
    agg: dict[tuple, list] = {}
    for i, sid in enumerate(spec_ids):
        key = (sid, tuple(cols[f][i] for f in field_names))
        agg[key] = [recs[i], nfiles[i], sizes[i]]
    return field_names, agg


def _data_file_schema(
    partition_fields: list[dict], v3: bool = False, dv: bool = False
) -> dict:
    """The data-file record with THIS spec's partition struct. The
    engine records transform values as strings (the write path's
    rendering), so the struct fields are optional strings — the import
    probes predicates through the same transform expressions, making
    the comparison exact. ``v3`` appends the row-lineage
    ``first_row_id`` field (spec field 142); ``dv`` appends the
    deletion-vector location fields (spec fields 143-145) for v3
    delete manifests."""
    return {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {
                "name": "partition",
                "type": {
                    "type": "record",
                    "name": "r102",
                    "fields": [
                        {
                            "name": pf["name"],
                            "type": _opt("string"),
                            "field-id": pf["field-id"],
                        }
                        for pf in partition_fields
                    ],
                },
                "field-id": 102,
            },
            *DATA_FILE_TAIL_FIELDS,
            *(
                [
                    {
                        "name": "first_row_id",
                        "type": _opt("long"),
                        "field-id": 142,
                    }
                ]
                if v3
                else []
            ),
            *(
                [
                    {
                        "name": "referenced_data_file",
                        "type": _opt("string"),
                        "field-id": 143,
                    },
                    {
                        "name": "content_offset",
                        "type": _opt("long"),
                        "field-id": 144,
                    },
                    {
                        "name": "content_size_in_bytes",
                        "type": _opt("long"),
                        "field-id": 145,
                    },
                ]
                if dv
                else []
            ),
        ],
    }


DATA_FILE_TAIL_FIELDS = [
    {"name": "record_count", "type": "long", "field-id": 103},
    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
    {
        "name": "lower_bounds",
        "type": _opt(
            {
                "type": "array",
                "items": _bound_entry(126, 127),
                "logicalType": "map",
            }
        ),
        "field-id": 125,
    },
    {
        "name": "upper_bounds",
        "type": _opt(
            {
                "type": "array",
                "items": _bound_entry(129, 130),
                "logicalType": "map",
            }
        ),
        "field-id": 128,
    },
    {
        "name": "equality_ids",
        "type": _opt({"type": "array", "items": "int"}),
        "field-id": 135,
    },
    {
        "name": "sort_order_id",
        "type": _opt("int"),
        "field-id": 140,
    },
]

DATA_FILE_SCHEMA = _data_file_schema([])


def _manifest_entry_schema(
    partition_fields: list[dict], v3: bool = False, dv: bool = False
) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": _opt("long"), "field-id": 1},
            {"name": "sequence_number", "type": _opt("long"), "field-id": 3},
            {
                "name": "file_sequence_number",
                "type": _opt("long"),
                "field-id": 4,
            },
            {
                "name": "data_file",
                "type": _data_file_schema(partition_fields, v3=v3, dv=dv),
                "field-id": 2,
            },
        ],
    }


MANIFEST_ENTRY_SCHEMA = _manifest_entry_schema([])

# manifest-entry status codes (spec)
_ADDED, _EXISTING = 1, 0

# entries per exported data manifest: Iceberg's many-bounded-manifests
# shape, so import planners stream one chunk at a time instead of one
# table-sized manifest (10^6 files -> 100 manifests of 10^4)
_MANIFEST_MAX_ENTRIES = 10_000

def _single_value_bytes(iceberg_type: str, v) -> bytes | None:
    """Iceberg single-value binary serialization (spec appendix D)."""
    if v is None:
        return None
    if iceberg_type == "int":
        return struct.pack("<i", int(v))
    if iceberg_type == "long":
        return struct.pack("<q", int(v))
    if iceberg_type == "float":
        return struct.pack("<f", float(v))
    if iceberg_type == "double":
        return struct.pack("<d", float(v))
    if iceberg_type == "string":
        return str(v).encode("utf-8")
    if iceberg_type == "boolean":
        return b"\x01" if v else b"\x00"
    return None  # other types: omit the bound rather than guess


def _name_resolvable_by_head(
    snap: dict, head_schemas: list | None, head_cur_id: int | None
) -> bool:
    """The export stamps every snapshot with the HEAD's schema and its
    readers resolve parquet columns BY NAME (our data files carry no
    field-id annotations) — so a snapshot is exportable only if every
    file it retains was written under a schema whose field names and
    physical types match the head's, per field id. A rename/widen with
    unrewritten files fails this: the export would serve silent NULLs
    or a scan-time cast error."""
    if not head_schemas:
        return True  # no tracked evolution anywhere: names never moved
    head_cur = _schema_by_id(head_schemas, head_cur_id)
    head_by_id = {f["id"]: (f["name"], f["type"]) for f in head_cur["fields"]}
    schemas = snap.get("schemas") or head_schemas
    # a pre-tracking snapshot's files were written under the names the
    # base tracked schema adopted positionally
    default_id = (
        snap["current_schema_id"]
        if snap.get("schemas")
        else min(s["schema_id"] for s in schemas)
    )
    fsi = snap.get("file_schema_ids", {})
    for wid in {fsi.get(f, default_id) for f in snap["files"]}:
        try:
            w = _schema_by_id(schemas, wid)
        except SnapshotError:
            return False
        for f in w["fields"]:
            if f["id"] in head_by_id and head_by_id[f["id"]] != (
                f["name"],
                f["type"],
            ):
                return False
    return True


# ------------------------------------------------------------ export


#: Avro container codec name -> the stock write.avro.compression-codec
#: property vocabulary (bzip2/xz have no stock spelling; raw name kept)
_CODEC_PROPERTY_NAMES = {
    "null": "uncompressed",
    "deflate": "gzip",
    "zstandard": "zstd",
}


#: the modules that SHAPE exported bytes: this one, the codec table its
#: write path compresses through, and the one that builds, types and
#: writes the doc
_FINGERPRINTED = (__file__, codecs.__file__, table_metadata.__file__)


def _exporter_fingerprint() -> str:
    """A hash of the :data:`_FINGERPRINTED` modules and the pyarrow
    release whose libzstd and libsnappy do the compressing. Any change
    to one of them invalidates reuse caches, so a stale /tmp fixture
    can never keep serving bytes the current code would not write."""
    import pyarrow

    h = hashlib.md5()
    for fname in _FINGERPRINTED:
        with open(fname, "rb") as f:
            h.update(f.read())
    h.update(pyarrow.__version__.encode())
    return h.hexdigest()


# computed once at import, as a module constant: the key of every
# fixture whose builder reaches the reuse check names it, so a new
# fingerprint rebuilds those fixtures instead of minting a new metadata
# version inside one
_EXPORTER_FP = _exporter_fingerprint()


def _latest_reusable(
    table: SnapshotTable,
    ref: str,
    out_dir: str,
    head: int,
    want_version: int = 2,
    want_codec: str = "null",
) -> dict | None:
    """An existing export doc whose head matches, whose exporter
    fingerprint matches the running code, whose EXPORTED REFS match
    the table's current ref state, and whose WHOLE tree — including
    every referenced data and delete file — is still on disk.
    Re-exporting an unchanged table then returns the SAME pointer
    instead of minting a new version (a metadata version marks a table
    change, not an export invocation). Data-file existence matters:
    expiry unlinks files without committing a new snapshot, and a
    reused pointer must never reference vanished files. Ref state
    matters the same way: a tag or in-chain branch created since the
    prior export is a metadata change external readers time-travel by
    — serving the old doc would silently drop it.

    Candidates are scanned NEWEST-FIRST until one matches: the same
    head may legitimately carry one export per (format-version,
    codec) pair — e.g. alternating null- and zstd-coded exports of an
    unchanged table — and each must keep reusing ITS doc rather than
    ping-pong-minting new versions. The scan stops at the first
    candidate whose head predates the current one (export history is
    append-only, so older docs cannot match either)."""
    try:
        prior = metadata_files(out_dir)
    except OSError:
        return None
    for fname in reversed(prior):
        mpath = os.path.join(out_dir, fname)
        try:
            doc = read_table_metadata(mpath)
        except (CatalogError, OSError, ValueError):
            # a torn write from a crashed exporter must not disable
            # reuse outright — an older valid doc for the same head may
            # exist further down; the head-ordering early-exit below
            # still bounds the scan (ADVICE r15)
            continue
        if doc.get("current-snapshot-id") != head:
            return None  # an older head: nothing further back matches
        if doc.get("format-version") != want_version:
            continue  # same table state, different requested format
        props = doc.get("properties") or {}
        if props.get("exporter-fingerprint") != _EXPORTER_FP:
            return None
        if (
            props.get("write.avro.compression-codec") or "uncompressed"
        ) != _CODEC_PROPERTY_NAMES.get(want_codec, want_codec):
            continue  # same state, differently-coded manifests
        if doc.get("refs") != _exportable_refs(
            table, ref, head, doc.get("snapshots", [])
        ):
            return None
        return _reusable_tree(mpath, doc)
    return None


def _reusable_tree(mpath: str, doc: dict) -> dict | None:
    """The export-result dict for ``doc`` when its WHOLE tree is still
    on disk, else None."""
    files = [mpath]
    for s in doc.get("snapshots", []):
        ml = s.get("manifest-list")
        if ml is None or not os.path.exists(ml):
            return None
        files.append(ml)
        try:
            _, records = read_avro(ml)
        except (OSError, ValueError):
            return None
        for mf in records:
            mp = mf["manifest_path"]
            if not os.path.exists(mp):
                return None
            files.append(mp)
            try:
                _, entries = read_avro(mp)
            except (OSError, ValueError):
                return None
            is_delete = mf.get("content", 0) != 0
            for e in entries:
                dp = e["data_file"]["file_path"]
                if not os.path.exists(dp):
                    return None
                if is_delete:
                    files.append(dp)
    return {"metadata_location": mpath, "files": files}


def _summary_operation(op: str) -> str:
    """Map the engine's commit operation onto the spec's FOUR
    ``summary.operation`` values (append / replace / overwrite /
    delete) — external CDC consumers key behavior off this field
    (e.g. skip 'replace' commits, which change files but not rows).
    Pure insertions map to append, row-removals to delete, rewrites /
    compactions / metadata-only commits (track-schema, record-stats,
    enable-lineage, rename-*, widen-*) preserve the visible rows and
    map to replace, and anything that can both add and remove rows
    (merge, overwrite, rollback) maps to overwrite."""
    if op in ("append", "merge-insert-only"):
        return "append"
    if op in ("delete", "pos-delete"):
        return "delete"
    if op in ("merge", "overwrite") or op.startswith("rollback-to-"):
        return "overwrite"
    return "replace"


def _exportable_refs(
    table: SnapshotTable, ref: str, head: int, snapshots_json: list[dict]
) -> dict:
    """Iceberg refs for every branch/tag whose head lies IN the
    exported chain — the Nessie-style git-for-data refs the engine
    keeps become spec refs a reader can time-travel by name. The
    exported ref itself always maps to ``main`` (the export IS that
    ref's history); refs pointing outside the chain (diverged branches)
    are honestly omitted rather than left dangling."""
    exported_ids = {s["snapshot-id"] for s in snapshots_json}
    out = {"main": {"snapshot-id": head, "type": "branch"}}
    all_refs = table.refs()
    for kind, type_name in (("branches", "branch"), ("tags", "tag")):
        for name, sid in all_refs.get(kind, {}).items():
            if name in (MAIN, ref) or name == "main":
                continue
            if sid in exported_ids:
                out[name] = {"snapshot-id": sid, "type": type_name}
    return out


def export_iceberg_metadata(
    table: SnapshotTable,
    ref: str = MAIN,
    spark=None,
    reuse: bool = False,
    format_version: int | None = None,
    compression: str = "null",
) -> dict:
    """Write Iceberg-spec metadata for every retained snapshot on
    ``ref``'s history; returns ``{"metadata_location": ..., "files":
    [...]}`` — the pointer a catalog registration would move.
    ``reuse=True`` returns the latest existing export verbatim when the
    head (and on-disk tree) still match, instead of minting a new
    metadata version.

    ``compression``: Avro codec for the manifests and manifest lists —
    ``null`` (default), ``deflate``/``snappy``/``bzip2``/``xz``, or
    ``zstd``/``zstandard`` (libzstd through pyarrow; see
    :mod:`.codecs`). The codec rides the doc's
    ``write.avro.compression-codec`` property and tags the minted file
    names; ``reuse`` matches on it, so codec switches never serve a
    prior export's differently-coded files and same-codec re-exports
    keep returning the same pointer.

    ``format_version``: 2 (default) or 3. None picks 3 automatically
    when the table tracks row lineage — v3 carries the lineage fields
    (table ``next-row-id``, snapshot ``first-row-id``, per-entry
    ``first_row_id``), so an importer reconstructs every row's stable
    ``_row_id``, and converts pending position-delete vectors into the
    spec's deletion vectors (puffin roaring-bitmap blobs, one per
    referenced data file). The one v3 refusal is LOUD rather than
    silently lossy: physically materialized id files (a rewrite's
    output) have no contiguous range to export."""
    head = table.head(ref)
    if head is None:
        raise SnapshotError(f"no committed snapshot at {table.path}")
    # manifest/manifest-list Avro codec. 'zstd' is the Avro spec's
    # 'zstandard' (the codec table accepts both spellings).
    # Non-null codecs tag the content fingerprint so switching codec
    # mints new files instead of silently reusing old-codec ones, while
    # default exports keep their historical file names byte-stable.
    if compression not in CODECS:
        raise SnapshotError(
            f"unsupported manifest compression {compression!r}"
        )
    codec = CODECS[compression].name
    # tag from the NORMALIZED property spelling: 'zstd' and 'zstandard'
    # are the same codec and must mint the same file-name family, or
    # alternating spellings hand back docs whose files carry the other
    # spelling's tag while the reuse check treats them as equal
    # (ADVICE r15). _CODEC_PROPERTY_NAMES keeps the historical 'zstd-'
    # tag byte-stable for both spellings.
    codec_tag = (
        ""
        if codec == "null"
        else ("zstd-" if codec == "zstandard" else f"{codec}-")
    )
    head_snap = table._load_snap(head)
    if format_version not in (None, 2, 3):
        raise SnapshotError(
            f"unsupported export format-version {format_version!r}"
        )
    v3 = (
        format_version == 3
        if format_version is not None
        else bool(head_snap.get("row_lineage"))
    )
    if v3:
        if not head_snap.get("row_lineage"):
            raise SnapshotError(
                "format-version 3 export needs row lineage: the spec "
                "requires row ids — enable_row_lineage first"
            )
        if head_snap.get("lineage_files"):
            raise SnapshotError(
                "format-version 3 export: files with PHYSICALLY "
                "materialized _row_id columns (a rewrite/merge output) "
                "carry per-row ids with no contiguous first_row_id "
                "range — the spec cannot express them; export "
                "format_version=2 instead"
            )
        # position-delete vectors export as v3 deletion vectors (one
        # puffin blob per referenced data file) — see _convert_vectors_dv
    out_dir = os.path.join(table.path, "metadata", "iceberg")
    os.makedirs(out_dir, exist_ok=True)
    if reuse:
        # BEFORE any schema/footer work: the reuse hit must cost
        # O(metadata), not O(head files) parquet opens. The codec is
        # matched (recorded in doc properties), so a zstd caller never
        # gets served a null-coded prior export or vice versa.
        prior_doc = _latest_reusable(
            table, ref, out_dir, head, 3 if v3 else 2, want_codec=codec
        )
        if prior_doc is not None:
            return prior_doc

    # ---- schema with field ids: tracked log when present, else the
    # head files' parquet schema in column order
    if head_snap.get("schemas"):
        cur = _schema_by_id(head_snap["schemas"], head_snap["current_schema_id"])
        columns = [(f["id"], f["name"], f["type"]) for f in cur["fields"]]
    else:
        cur = {"schema_id": 0, "fields": []}
        spark_schema = table._read_files(head_snap["files"]).schema
        columns = [
            (i + 1, f.name, f.dataType.simpleString())
            for i, f in enumerate(spark_schema.fields)
        ]
    schema = iceberg_schema(columns, cur["schema_id"])
    fields = schema["fields"]
    for out, f in zip(fields, cur["fields"]):
        # v3 column defaults ride along in the spec's hyphened
        # single-value JSON form (scalars: value verbatim).
        # write-default only travels in v3 metadata — it is a
        # WRITER-side hint with no read semantics for existing data, so
        # a v2 export drops it; initial-default is gated below because
        # dropping IT would change what pre-addition files read as.
        if f.get("initial_default") is not None:
            out["initial-default"] = f["initial_default"]
        if f.get("write_default") is not None and v3:
            out["write-default"] = f["write_default"]
    if not v3 and any("initial-default" in f for f in fields):
        raise SnapshotError(
            "format-version 2 metadata cannot carry initial-default "
            "(a v3 schema field): pre-addition files would silently "
            "read as null in the exported tree — export "
            "format_version=3, or avoid initial defaults on "
            "exported tables"
        )
    type_by_name = {f["name"]: f["type"] for f in fields}
    id_by_name = {f["name"]: f["id"] for f in fields}
    # sort orders whose every column resolves in the EXPORTED schema;
    # others are omitted from metadata AND from entry stamps (a
    # non-zero order with missing fields is spec-invalid)
    exportable_order_ids = {
        o["order_id"]
        for o in head_snap.get("sort_orders") or []
        if all(c in id_by_name for c in o["fields"])
    }

    # ---- chain of snapshots on this ref, resolved OLDEST FIRST and
    # STREAMED: the ancestry comes from the O(1) commit index (no
    # manifest reads), ascending resolution makes each snapshot one
    # delta fold off its just-cached parent, and each snapshot is
    # emitted before the next resolves — peak memory is ONE resolved
    # snapshot, never O(depth x files)
    idx = table.commit_index()
    parents = {e["snapshot_id"]: e.get("parent") for e in idx.values()}
    ids = []
    sid = head
    seen_ids = set()
    while sid is not None:
        if sid in seen_ids:  # corrupted ancestry: fail loudly, never hang
            raise SnapshotError(
                f"ancestry cycle through snapshot {sid} at {table.path}"
            )
        seen_ids.add(sid)
        ids.append(sid)
        sid = parents.get(sid)

    snapshots_json = []
    written = []
    created: set[str] = set()  # avro files THIS invocation wrote
    created_deletes: set[str] = set()  # converted delete parquet ditto
    prev_sid = None
    prev_files: set = set()
    used_spec_ids: set[int] = set()
    # the HEAD's spec log is the table-level one (specs only
    # accumulate); the synthetic empty spec for unpartitioned-commit
    # files gets the next free id GLOBALLY so an ancestor's manifest
    # never collides with a real later spec
    head_specs = head_snap.get("partition_specs") or (
        [
            {
                "spec_id": 0,
                "spec": [list(p) for p in head_snap["partition_spec"]],
            }
        ]
        if head_snap.get("partition_spec")
        else []
    )
    unpart_spec_id = (
        max(s["spec_id"] for s in head_specs) + 1 if head_specs else 0
    )

    # a spec may reference a column by a name a later rename retired;
    # the field ID survives renames (the schema log keeps every
    # historical name), so resolve source-ids through ALL tracked names
    hist_id_by_name = dict(id_by_name)
    for sch in head_snap.get("schemas") or []:
        for fld in sch["fields"]:
            hist_id_by_name.setdefault(fld["name"], fld["id"])

    def _spec_fields_json(spec: list, spec_id: int) -> list[dict]:
        out = []
        for i, (c, t) in enumerate(spec):
            fid = hist_id_by_name.get(c)
            if fid is None:
                raise SnapshotError(
                    f"partition spec {spec_id} references column {c!r} "
                    "that is not in the exported schema"
                )
            out.append(
                {
                    "name": _partition_field_name(c, t),
                    "transform": t,
                    "source-id": fid,
                    # unique across specs (Iceberg's last-partition-id
                    # contract): 1000 + spec_id*100 + ordinal
                    "field-id": 1000 + spec_id * 100 + i,
                }
            )
        return out

    def _reset_tail():
        # names are content-addressed and SHARED across export
        # versions, so a dropped tail unlinks ONLY files this
        # invocation created: a path that pre-existed is (or may be)
        # referenced by a prior vN.metadata.json, and unlinking it
        # would break that version's metadata-log rollback and
        # _latest_reusable
        snapshots_json.clear()
        for p in written:
            if p not in created:
                continue
            try:
                os.unlink(p)
            except OSError:
                pass
        written.clear()
        created.clear()
        # converted delete files this invocation wrote and that only
        # the dropped tail references would otherwise be left as
        # orphans; pre-existing conversions stay cached (immutable
        # deterministic content), a later snapshot sharing a dropped
        # vector simply reconverts
        survivors = {}
        for rel, (cpath, nrows) in converted.items():
            if cpath not in created_deletes:
                survivors[rel] = (cpath, nrows)
                continue
            try:
                os.unlink(cpath)
            except OSError:
                pass
        dv_survivors = {
            k: v
            for k, v in converted_dv.items()
            if v[0] not in created_deletes
        }
        for k, (ppath, _) in converted_dv.items():
            if k in dv_survivors:
                continue
            try:
                os.unlink(ppath)
            except OSError:
                pass
        created_deletes.clear()
        converted.clear()
        converted.update(survivors)
        converted_dv.clear()
        converted_dv.update(dv_survivors)
        return None, set()

    # positional-delete vectors convert ONCE into spec-shaped
    # position-delete parquet (file_path string = the absolute path the
    # manifests reference, pos long; sorted by file_path, pos per the
    # spec's required sort order). Conversions are deterministic by
    # vector name, so a vector shared by several snapshots converts a
    # single time and a tail reset never dangles them.
    converted: dict[str, tuple[str, int]] = {}

    def _convert_vector(rel: str) -> tuple[str, int]:
        if rel in converted:
            return converted[rel]
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = _coords_table([os.path.join(table.path, rel)])
        name = (
            "delete-" + hashlib.md5(rel.encode()).hexdigest()[:16] + ".parquet"
        )
        cpath = os.path.join(out_dir, name)
        # the engine's vector file is immutable, so an existing
        # conversion (a prior export's) is byte-equivalent: reuse it
        # rather than rewrite a file prior metadata versions reference
        if not os.path.exists(cpath):
            fps = [os.path.join(table.path, f) for f in t["_file"].to_pylist()]
            out = pa.table(
                {"file_path": pa.array(fps, pa.string()), "pos": t["_pos"]}
            )
            tmp = f"{cpath}.tmp.{os.getpid()}"
            pq.write_table(out, tmp)
            os.replace(tmp, cpath)
            created_deletes.add(cpath)
        converted[rel] = (cpath, len(t))
        return converted[rel]

    # v3: a snapshot's pending vectors merge into ONE puffin file —
    # one deletion-vector blob per referenced data file, each the
    # COMPLETE position set for that file (the spec's at-most-one-DV
    # rule). Content-addressed by the vector-name set: the engine's
    # vector files are immutable, so a chain of snapshots sharing the
    # same pending set shares one puffin, and blob offsets are a pure
    # function of the set (the footer's snapshot attribution rides at
    # the END of the file, after every blob).
    converted_dv: dict[tuple, tuple[str, list[dict]]] = {}

    def _convert_vectors_dv(
        rels: list[str], sid: int, seq: int
    ) -> tuple[str, list[dict]]:
        key = tuple(sorted(rels))
        if key in converted_dv:
            return converted_dv[key]
        import numpy as np

        from .puffin import DV_BLOB_TYPE, dv_blob, write_puffin

        # vectorized grouping: the loader's sorted distinct coordinates
        # slice into per-file numpy position arrays, in referenced-file
        # order — never a per-position Python loop (a v3 table's
        # pending vectors may hold 10^8+ positions)
        t = _coords_table([os.path.join(table.path, rel) for rel in key])
        fnames = t.column("_file").to_numpy()
        poss = t.column("_pos").to_numpy()
        uniq, starts = np.unique(fnames, return_index=True)
        bounds = np.append(starts, len(poss))
        blobs = []
        for j, rel_file in enumerate(uniq):
            positions = poss[bounds[j] : bounds[j + 1]]
            fp = os.path.join(table.path, str(rel_file))
            blobs.append(
                {
                    "type": DV_BLOB_TYPE,
                    "snapshot-id": sid,
                    "sequence-number": seq,
                    "payload": dv_blob(positions),
                    "properties": {
                        "referenced-data-file": fp,
                        "cardinality": str(len(positions)),
                    },
                }
            )
        token = hashlib.md5("\x00".join(key).encode()).hexdigest()[:16]
        ppath = os.path.join(out_dir, f"dv-{token}.puffin")
        descs = []
        off = 4
        for b in blobs:
            descs.append(
                {
                    "referenced": b["properties"]["referenced-data-file"],
                    "offset": off,
                    "length": len(b["payload"]),
                    "cardinality": int(b["properties"]["cardinality"]),
                }
            )
            off += len(b["payload"])
        if not os.path.exists(ppath):
            tmp_descs = write_puffin(
                ppath,
                blobs,
                properties={
                    "created-by": "iceberg-catalog-migrator-spark"
                },
            )
            # the deterministic offsets above must agree with what was
            # physically written — a mismatch would emit manifest
            # entries whose content_offset/content_size point at the
            # wrong bytes, so it must hold under ``python -O`` too
            # (an assert would vanish there)
            if [(d["offset"], d["length"]) for d in tmp_descs] != [
                (d["offset"], d["length"]) for d in descs
            ]:
                raise SnapshotError(
                    "DV export: computed blob offsets diverge from "
                    f"the written puffin {ppath!r}"
                )
            created_deletes.add(ppath)
        converted_dv[key] = (ppath, descs)
        return converted_dv[key]

    def _convert_eq_delete(rel: str, key_cols: list[str]) -> tuple[str, int]:
        """Equality-delete key files copy into the export tree as
        spec-shaped equality delete parquet (exactly the equality
        columns, which is what the engine's key files already hold)."""
        if rel in converted:
            return converted[rel]
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(table.path, rel), columns=key_cols)
        # Iceberg timestamps are microseconds; a Spark-written key
        # file's INT96 column reads as nanoseconds
        t = t.cast(
            pa.schema(
                [
                    pa.field(f.name, _key_type(f.type), f.nullable)
                    if pa.types.is_timestamp(f.type)
                    else f
                    for f in t.schema
                ]
            )
        )
        # key_cols shape the converted content, so they join the name:
        # the same immutable key file exported under different delete
        # keys must not collide on one path
        token = hashlib.md5(
            (rel + "\x00" + ",".join(key_cols)).encode()
        ).hexdigest()[:16]
        cpath = os.path.join(out_dir, f"delete-eq-{token}.parquet")
        if not os.path.exists(cpath):
            tmp = f"{cpath}.tmp.{os.getpid()}"
            pq.write_table(t, tmp)
            os.replace(tmp, cpath)
            created_deletes.add(cpath)
        converted[rel] = (cpath, t.num_rows)
        return converted[rel]

    stats_docs: dict[int, dict] = {}
    for sid in reversed(ids):
        try:
            snap = table._load_snap(sid)
        except SnapshotError:
            # expired ancestry below: drop everything emitted for it
            # and export only the retained tail
            prev_sid, prev_files = _reset_tail()
            continue
        if not _name_resolvable_by_head(
            snap, head_snap.get("schemas"), head_snap.get("current_schema_id")
        ):
            if sid == head:
                raise SnapshotError(
                    f"head snapshot {sid} retains files written under a "
                    "schema whose field names/types differ from the current "
                    "schema: name-resolved export cannot round-trip "
                    "rename/widen evolution — rewrite the files "
                    "(rewrite_sorted / rewrite_small_files) or export "
                    "before evolving"
                )
            # an ancestor that would misread under the head schema is
            # dropped exactly like expired ancestry: export the
            # resolvable tail
            prev_sid, prev_files = _reset_tail()
            continue
        if snap.get("deletes") and any(
            d not in snap.get("delete_seqs", {}) for d in snap["deletes"]
        ):
            # a LEGACY unstamped equality delete applies to every file
            # including later appends — unexpressible as a spec entry's
            # finite sequence number. The head refuses loudly; an
            # ancestor drops like expired ancestry.
            if sid == head:
                raise SnapshotError(
                    "pending UNSTAMPED equality deletes: their "
                    "apply-to-everything semantics has no spec sequence "
                    "number — compact_deletes before exporting"
                )
            prev_sid, prev_files = _reset_tail()
            continue
        if snap.get("deletes") and any(
            k not in id_by_name for k in snap.get("delete_keys", [])
        ):
            # a delete key column absent from the head schema cannot
            # carry an equality_ids field id
            if sid == head:
                raise SnapshotError(
                    f"equality delete keys {snap.get('delete_keys')} are "
                    "not all present in the exported schema — "
                    "compact_deletes before exporting"
                )
            prev_sid, prev_files = _reset_tail()
            continue
        if v3 and (
            not snap.get("row_lineage")
            or snap.get("lineage_files")
            or any(
                f not in snap.get("file_first_row_ids", {})
                for f in snap["files"]
            )
        ):
            # pre-lineage ancestry (or an ancestor carrying
            # materialized-id files) has no spec row ids: export the
            # lineage-clean tail, exactly like expired ancestry (the
            # HEAD was vetted up front); position vectors are fine —
            # they export as deletion vectors
            if sid == head:
                raise SnapshotError(
                    "format-version 3 export: head snapshot carries "
                    "files without assigned first_row_id ranges"
                )
            prev_sid, prev_files = _reset_tail()
            continue
        seq = int(snap.get("sequence_number", 0))
        parent = snap.get("parent")
        # in a parent chain the previous emitted snapshot IS the
        # parent; after an expiry reset the parent's files are unknown
        # and every file honestly reports ADDED (same as the old
        # load-the-parent fallback)
        parent_files = prev_files if parent == prev_sid and parent is not None else set()
        stats = snap.get("file_stats", {})
        rows = snap.get("file_rows", {})
        fseqs = snap.get("file_seqs", {})
        sort_ids = snap.get("file_sort_ids", {})
        parts_map = snap.get("file_partitions", {})
        fsid_map = snap.get("file_spec_ids", {})
        snap_specs = snap.get("partition_specs") or (
            [{"spec_id": 0, "spec": [list(p) for p in snap["partition_spec"]]}]
            if snap.get("partition_spec")
            else []
        )
        spec_by_id = {s["spec_id"]: s["spec"] for s in snap_specs}
        cur_spec_id = snap.get(
            "current_spec_id", max(spec_by_id, default=0)
        )
        # Iceberg's shape: ONE data manifest per partition spec — each
        # manifest's entries share the spec's partition struct, and the
        # manifest-list record carries the spec id. Files from
        # unpartitioned commits group under the synthetic empty spec.
        groups: dict[int | None, list[dict]] = {}
        min_seq = seq
        for f in snap["files"]:
            fseq = int(fseqs.get(f, 0))
            min_seq = min(min_seq, fseq)
            n = int(rows.get(f, 0))
            status = _ADDED if f not in parent_files else _EXISTING
            lower, upper = [], []
            for col, rng in (stats.get(f) or {}).items():
                fid = id_by_name.get(col)
                if fid is None or rng is None:
                    continue
                lo = _single_value_bytes(type_by_name[col], rng[0])
                hi = _single_value_bytes(type_by_name[col], rng[1])
                if lo is not None:
                    lower.append({"key": fid, "value": lo})
                if hi is not None:
                    upper.append({"key": fid, "value": hi})
            fp = os.path.join(table.path, f)
            gkey = (
                fsid_map.get(f, cur_spec_id) if f in parts_map else None
            )
            tup = parts_map.get(f)
            partition = (
                {
                    _partition_field_name(c, t): v
                    for (c, t), v in zip(spec_by_id[gkey], tup)
                }
                if gkey is not None
                else {}
            )
            data_file = {
                "content": 0,
                "file_path": fp,
                "file_format": "PARQUET",
                "partition": partition,
                "record_count": n,
                "file_size_in_bytes": (
                    os.path.getsize(fp) if os.path.exists(fp) else 0
                ),
                "lower_bounds": sorted(lower, key=lambda e: e["key"]) or None,
                "upper_bounds": sorted(upper, key=lambda e: e["key"]) or None,
                "sort_order_id": (
                    sort_ids[f]
                    if sort_ids.get(f) in exportable_order_ids
                    else None
                ),
            }
            if v3:
                data_file["first_row_id"] = int(
                    snap["file_first_row_ids"][f]
                )
            g = groups.setdefault(gkey, [])
            g.append(
                {
                    "status": status,
                    "snapshot_id": sid,
                    "sequence_number": fseq,
                    "file_sequence_number": fseq,
                    "data_file": data_file,
                }
            )
        if not groups:  # committed-but-empty snapshot
            groups[None] = []
        used_spec_ids.update(k for k in groups if k is not None)
        if None in groups and head_specs:
            used_spec_ids.add(unpart_spec_id)
        ml_records = []
        for gkey in sorted(groups, key=lambda k: (-1 if k is None else k)):
            suffix = "" if gkey is None else f"-spec{gkey}"
            pfields = (
                _spec_fields_json(spec_by_id[gkey], gkey)
                if gkey is not None
                else []
            )
            # manifests are CHUNKED (Iceberg's shape: many bounded
            # manifests per snapshot) so an import planner streaming
            # manifest-at-a-time holds one chunk, never the table
            gentries = groups[gkey]
            chunks = [
                gentries[i : i + _MANIFEST_MAX_ENTRIES]
                for i in range(0, len(gentries), _MANIFEST_MAX_ENTRIES)
            ] or [gentries]
            for ci, chunk in enumerate(chunks):
                part = f"-part{ci}" if len(chunks) > 1 else ""
                # the fingerprint covers the ENTRY SCHEMA too (not
                # just the partition struct): a later fix to the Avro
                # schema shape must mint new files — the exists-check
                # in _write_avro_atomic would otherwise keep serving
                # containers serialized under the old, broken schema
                fp = _content_fingerprint(
                    [_manifest_entry_schema(pfields, v3=v3), chunk]
                )
                mpath = os.path.join(
                    out_dir,
                    f"manifest-{sid}{suffix}{part}-{codec_tag}{fp}.avro",
                )
                if _write_avro_atomic(
                    mpath,
                    _manifest_entry_schema(pfields, v3=v3),
                    chunk,
                    codec=codec,
                ):
                    created.add(mpath)
                added_n = sum(1 for e in chunk if e["status"] == _ADDED)
                added_rows = sum(
                    e["data_file"]["record_count"]
                    for e in chunk
                    if e["status"] == _ADDED
                )
                existing_rows = sum(
                    e["data_file"]["record_count"]
                    for e in chunk
                    if e["status"] != _ADDED
                )
                ml_records.append(
                    {
                        "manifest_path": mpath,
                        "manifest_length": os.path.getsize(mpath),
                        "partition_spec_id": (
                            unpart_spec_id if gkey is None else gkey
                        ),
                        "content": 0,
                        "sequence_number": seq,
                        "min_sequence_number": min_seq,
                        "added_snapshot_id": sid,
                        "added_files_count": added_n,
                        "existing_files_count": len(chunk) - added_n,
                        "deleted_files_count": 0,
                        "added_rows_count": added_rows,
                        "existing_rows_count": existing_rows,
                        "deleted_rows_count": 0,
                    }
                )
                written.append(mpath)
        if snap.get("pos_deletes") or snap.get("deletes"):
            del_entries = []
            del_rows = 0
            if v3 and snap.get("pos_deletes"):
                # v3 replaced position-delete FILES with deletion
                # vectors: one puffin blob per referenced data file
                ppath, descs = _convert_vectors_dv(
                    snap["pos_deletes"], sid, seq
                )
                for d in descs:
                    del_rows += d["cardinality"]
                    del_entries.append(
                        _delete_entry(
                            sid, seq, 1, ppath, "PUFFIN", d["cardinality"],
                            referenced_data_file=d["referenced"],
                            content_offset=d["offset"],
                            content_size_in_bytes=d["length"],
                        )
                    )
            for rel in [] if v3 else snap.get("pos_deletes", []):
                cpath, nrows = _convert_vector(rel)
                del_rows += nrows
                del_entries.append(
                    _delete_entry(sid, seq, 1, cpath, "PARQUET", nrows)
                )
            dseqs = snap.get("delete_seqs", {})
            eq_ids = [id_by_name[k] for k in snap.get("delete_keys", [])]
            for rel in snap.get("deletes", []):
                cpath, nrows = _convert_eq_delete(
                    rel, snap["delete_keys"]
                )
                del_rows += nrows
                # the delete's OWN stamp scopes it: it applies only to
                # files sequenced strictly before it
                del_entries.append(
                    _delete_entry(
                        sid, int(dseqs[rel]), 2, cpath, "PARQUET", nrows,
                        equality_ids=eq_ids,
                    )
                )
            dfp = _content_fingerprint(
                [_manifest_entry_schema([], v3=v3, dv=v3), del_entries]
            )
            dmpath = os.path.join(
                out_dir, f"delete-manifest-{sid}-{codec_tag}{dfp}.avro"
            )
            if _write_avro_atomic(
                dmpath,
                _manifest_entry_schema([], v3=v3, dv=v3),
                del_entries,
                codec=codec,
            ):
                created.add(dmpath)
            written.append(dmpath)
            # delete entries carry the empty partition struct, so the
            # manifest must reference the synthetic empty spec — spec 0
            # may be a real partitioned one
            if head_specs:
                used_spec_ids.add(unpart_spec_id)
            ml_records.append(
                {
                    "manifest_path": dmpath,
                    "manifest_length": os.path.getsize(dmpath),
                    "partition_spec_id": unpart_spec_id,
                    "content": 1,  # delete manifest (spec)
                    "sequence_number": seq,
                    "min_sequence_number": min(
                        e["sequence_number"] for e in del_entries
                    ),
                    "added_snapshot_id": sid,
                    "added_files_count": len(del_entries),
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": del_rows,
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            )
        ml_schema = MANIFEST_LIST_SCHEMA_V3 if v3 else MANIFEST_LIST_SCHEMA
        mlfp = _content_fingerprint([ml_schema, ml_records])
        mlpath = os.path.join(
            out_dir, f"snap-{sid}-manifest-list-{codec_tag}{mlfp}.avro"
        )
        if _write_avro_atomic(mlpath, ml_schema, ml_records, codec=codec):
            created.add(mlpath)
        written.append(mlpath)
        summary = {"operation": _summary_operation(snap["operation"])}
        if snap.get("visible_rows") is not None:
            summary["total-records"] = str(snap["visible_rows"])
        lineage_json = {}
        if v3:
            # the snapshot's assigned range starts at the smallest id
            # among files it ADDED; a file-preserving commit assigned
            # nothing and reports the running counter (empty range)
            added_firsts = [
                int(snap["file_first_row_ids"][f])
                for f in snap["files"]
                if f not in parent_files
            ]
            lineage_json["first-row-id"] = min(
                added_firsts, default=int(snap.get("next_row_id", 0))
            )
        snapshots_json.append(
            {
                "snapshot-id": sid,
                **({"parent-snapshot-id": parent} if parent is not None else {}),
                "sequence-number": seq,
                "timestamp-ms": snap["timestamp_ms"],
                "summary": summary,
                "manifest-list": mlpath,
                "schema-id": schema["schema-id"],
                **lineage_json,
            }
        )
        ts = snap.get("table_stats")
        if ts is not None:
            stats_docs[int(ts["snapshot_id"])] = ts
        prev_sid, prev_files = sid, set(snap["files"])

    # ---- table statistics: recorded theta-sketch puffins copy into
    # the tree and land in the spec's ``statistics`` list, each entry
    # bound to the EXPORTED snapshot its sketches were computed over
    statistics_json = []
    exported_ids = {s["snapshot-id"] for s in snapshots_json}
    for ts_sid in sorted(stats_docs):
        ts = stats_docs[ts_sid]
        if ts_sid not in exported_ids:
            continue  # stats snapshot expired / outside the tail
        src = os.path.join(table.path, ts["path"])
        try:
            from .puffin import read_puffin_footer

            footer = read_puffin_footer(src)
        except Exception:  # noqa: BLE001 - missing/torn stats: skip
            continue
        dest = os.path.join(out_dir, os.path.basename(src))
        if not os.path.exists(dest):
            try:
                os.link(src, dest)
            except OSError:
                import shutil

                shutil.copy2(src, dest)
            created.add(dest)
        written.append(dest)
        size = os.path.getsize(dest)
        with open(dest, "rb") as f:
            f.seek(size - 12)
            (psize,) = struct.unpack("<I", f.read(4))
        statistics_json.append(
            {
                "snapshot-id": ts_sid,
                "statistics-path": dest,
                "file-size-in-bytes": size,
                # footer = magic + payload + size + flags + magic
                "file-footer-size-in-bytes": psize + 16,
                "blob-metadata": footer.get("blobs", []),
            }
        )

    # ---- partition statistics (spec's partition-statistics file):
    # one parquet row per (spec_id, partition tuple) with record/file/
    # byte aggregates, derived ENTIRELY from manifest metadata — the
    # recorded tuples, spec ids and row counts — plus one os.stat per
    # file (the same stat the data entries above already pay)
    pstats_json = []
    if head_specs and snapshots_json and head_snap.get("file_partitions"):
        ps_rec = head_snap.get("partition_stats")
        pspath = None
        ps_fresh = False
        if ps_rec is not None:
            # fresh = the recording snapshot's FILE SET equals the
            # head's (the record commit itself advances the head, so
            # sid equality would never hold) AND the spec vocabulary
            # is unchanged — a spec added with no files still moves
            # the unified field names and the synthetic empty-spec id
            # the recorded rows were written under
            try:
                ps_base = table._load_snap(int(ps_rec["snapshot_id"]))
                from .snapshots import _retained_file_stats_unchanged

                ps_fresh = (
                    set(ps_base["files"]) == set(head_snap["files"])
                    and ps_base.get("current_spec_id")
                    == head_snap.get("current_spec_id")
                    and (ps_base.get("partition_specs") or [])
                    == (head_snap.get("partition_specs") or [])
                    # per-file attributes of the (identical) file set
                    # must also match, else the recorded file would be
                    # served verbatim over re-keyed tuples/row counts
                    and _retained_file_stats_unchanged(ps_base, head_snap)
                )
            except SnapshotError:
                ps_fresh = False
        if ps_fresh:
            # serve the incrementally-maintained file verbatim (see
            # update_partition_statistics): it is byte-identical to
            # the full recompute below at the recording head (same
            # deterministic writer, same state), so the export skips
            # the O(files) aggregation entirely
            src_ps = os.path.join(table.path, ps_rec["path"])
            if os.path.exists(src_ps):
                pspath = os.path.join(out_dir, os.path.basename(src_ps))
                if not os.path.exists(pspath):
                    try:
                        os.link(src_ps, pspath)
                    except OSError:
                        import shutil

                        shutil.copy2(src_ps, pspath)
                    created.add(pspath)
                if ps_rec.get("has_unpart"):
                    used_spec_ids.add(unpart_spec_id)
        if pspath is None:
            field_names, fid_of, agg = partition_stats_state(
                table.path, head_snap, head_specs, unpart_spec_id
            )
            pspath, was_created = write_partition_stats_file(
                out_dir, head, field_names, fid_of, agg
            )
            if was_created:
                created.add(pspath)
            if any(k[0] == unpart_spec_id for k in agg):
                # tuple-less files report under the synthetic empty
                # spec: its definition must then exist in
                # partition-specs
                used_spec_ids.add(unpart_spec_id)
        written.append(pspath)
        pstats_json.append(
            {
                "snapshot-id": head,
                "statistics-path": pspath,
                "file-size-in-bytes": os.path.getsize(pspath),
            }
        )

    metadata = build_metadata(
        table.path,
        [schema],
        format_version=3 if v3 else 2,
        next_row_id=int(head_snap["next_row_id"]) if v3 else None,
        table_uuid=str(uuid.uuid5(uuid.NAMESPACE_URL, table.path)),
        last_sequence_number=int(head_snap.get("sequence_number", 0)),
        default_spec_id=(
            head_snap.get(
                "current_spec_id",
                max(s["spec_id"] for s in head_specs),
            )
            if head_specs
            else 0
        ),
        partition_specs=(
            [
                {
                    "spec-id": s["spec_id"],
                    "fields": _spec_fields_json(s["spec"], s["spec_id"]),
                }
                for s in head_specs
            ]
            + (
                [{"spec-id": unpart_spec_id, "fields": []}]
                if unpart_spec_id in used_spec_ids or not head_specs
                else []
            )
        ),
        last_partition_id=max(
            (
                1000 + s["spec_id"] * 100 + len(s["spec"]) - 1
                for s in head_specs
            ),
            default=999,
        ),
        # order 0 (unsorted) stays the DEFAULT — plain appends are not
        # sorted; rewrite_sorted's orders ride along so readers see
        # which files are range-clustered (per-entry sort_order_id).
        # An order whose column the exported schema no longer carries
        # is OMITTED whole (exportable_order_ids gates the entries
        # too): a non-zero order with missing fields is spec-invalid,
        # and a partially-resolved one would overclaim the clustering.
        sort_orders=[{"order-id": 0, "fields": []}]
        + [
            {
                "order-id": o["order_id"],
                "fields": [
                    {
                        "transform": "identity",
                        "source-id": id_by_name[c],
                        "direction": "asc",
                        "null-order": "nulls-first",
                    }
                    for c in o["fields"]
                ],
            }
            for o in head_snap.get("sort_orders") or []
            if o["order_id"] in exportable_order_ids
        ],
        properties={
            # summaries' total-records is NET of MOR deletes (the
            # engine's maintained visible count) — foreign writers'
            # is gross; readers key the distinction off this marker
            "written-by": "iceberg-catalog-migrator-spark",
            "exporter-fingerprint": _EXPORTER_FP,
            # the stock property for manifest Avro compression, in the
            # stock VOCABULARY (uncompressed/gzip/zstd, not the Avro
            # container names): lets the reuse check know which codec
            # this export carries, and a stock writer configuring its
            # Avro output from table properties reads a value it knows
            "write.avro.compression-codec": _CODEC_PROPERTY_NAMES.get(
                codec, codec
            ),
            # the engine's parquet files carry no embedded field ids,
            # so spec-compliant readers resolve columns through this
            # mapping (every historical name a field ever had maps to
            # its id — pre-rename files then resolve too)
            "schema.name-mapping.default": json.dumps(
                [
                    {
                        "field-id": f["id"],
                        "names": sorted(
                            {f["name"]}
                            | {
                                hf["name"]
                                for sch in head_snap.get("schemas") or []
                                for hf in sch["fields"]
                                if hf["id"] == f["id"]
                            }
                        ),
                    }
                    for f in fields
                ]
            ),
        },
        current_snapshot_id=head,
        snapshots=snapshots_json,
        snapshot_log=[
            {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
            for s in snapshots_json
        ],
        refs=_exportable_refs(table, ref, head, snapshots_json),
        statistics=statistics_json or None,
        partition_statistics=pstats_json or None,
    )
    # version-increment like Iceberg's metadata.json lifecycle: each
    # export writes v<N+1> and records the prior doc in metadata-log,
    # so a catalog pointer can roll back along the log. Each version is
    # created exclusively — of N racing exporters each version is
    # claimed by exactly one; losers recompute against the winner's
    # doc and take the next number, never clobbering it.
    while True:
        prior = metadata_files(out_dir)
        prev = None
        if prior:
            prev_path = os.path.join(out_dir, prior[-1])
            try:
                prev = (prev_path, read_table_metadata(prev_path))
            except (CatalogError, OSError, ValueError):
                # a racing exporter's torn doc: still claim the next
                # version, just without linking it
                pass
        version = metadata_version(prior[-1]) + 1 if prior else 1
        mpath = os.path.join(out_dir, f"v{version}.metadata.json")
        try:
            write_metadata(mpath, metadata, prior=prev)
        except FileExistsError:
            continue  # lost the race: rebuild the log off the winner
        return {
            "metadata_location": mpath,
            "files": written
            + [c for c, _ in converted.values()]
            + [p for p, _ in converted_dv.values()]
            + [mpath],
        }


def register_iceberg_metadata(
    table: SnapshotTable, catalog, identifier, ref: str = MAIN, spark=None
) -> str:
    """Export Iceberg-shaped metadata for ``table`` and register the
    resulting pointer in ``catalog`` — the entry is then EXACTLY what
    the reference's migration plane moves (`CatalogMigrator.java:
    212-213` registers ``metadataFileLocation()`` on the target): an
    opaque location string whose tree any Iceberg reader (including
    :class:`~.iceberg_read.IcebergTable`) can open, before or after
    migration, with zero data movement."""
    out = export_iceberg_metadata(table, ref=ref, spark=spark)
    catalog.register_table(identifier, out["metadata_location"])
    return out["metadata_location"]


# ------------------------------------------------------------ avro read
# Operational reader (export verification, the oracle query). The
# test suite deliberately does NOT use this — it decodes with its own
# spec-derived parser so two implementations meet in the middle.


class _AvroReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def _take(self, n: int) -> bytes:
        pos = self.pos
        b = self.data[pos : pos + n]
        if len(b) != n:
            raise ValueError("truncated avro stream")
        self.pos = pos + n
        return b

    def _long(self) -> int:
        # hot path: a million-entry manifest decodes ~25 varints per
        # entry, so this indexes bytes directly instead of slicing
        data = self.data
        pos = self.pos
        shift = acc = 0
        try:
            while True:
                b = data[pos]
                pos += 1
                acc |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        except IndexError:
            raise ValueError("truncated avro stream") from None
        self.pos = pos
        return (acc >> 1) ^ -(acc & 1)

    def _decode(self, schema):
        if isinstance(schema, list):
            return self._decode(schema[self._long()])
        t = schema["type"] if isinstance(schema, dict) else schema
        if t == "null":
            return None
        if t == "boolean":
            return self._take(1) == b"\x01"
        if t in ("int", "long"):
            return self._long()
        if t == "float":
            return struct.unpack("<f", self._take(4))[0]
        if t == "double":
            return struct.unpack("<d", self._take(8))[0]
        if t == "string":
            return self._take(self._long()).decode("utf-8")
        if t == "bytes":
            return self._take(self._long())
        if t == "fixed":
            return self._take(schema["size"])
        if t == "enum":
            return schema["symbols"][self._long()]
        if t == "record":
            out = {}
            for f in schema["fields"]:
                out[f["name"]] = self._decode(f["type"])
            return out
        if t == "map":
            out = {}
            while True:
                n = self._long()
                if n == 0:
                    return out
                if n < 0:
                    self._long()
                    n = -n
                for _ in range(n):
                    k = self._take(self._long()).decode("utf-8")
                    out[k] = self._decode(schema["values"])
        if t == "array":
            items = []
            while True:
                n = self._long()
                if n == 0:
                    return items
                if n < 0:
                    self._long()
                    n = -n
                for _ in range(n):
                    items.append(self._decode(schema["items"]))
        raise ValueError(f"unsupported avro type {t}")


def _compile_decoder(schema):
    """Compile a (parsed-JSON) Avro schema into a closure tree —
    ``fn(reader) -> value`` — so decoding a million manifest entries
    dispatches on prebuilt closures instead of re-walking the schema
    dict per value (~4x on a 100k-entry manifest). Semantics identical
    to :meth:`_AvroReader._decode` (which stays as the reference
    single-value path)."""
    if isinstance(schema, list):
        subs = [_compile_decoder(b) for b in schema]

        def _union(r, subs=subs):
            return subs[r._long()](r)

        return _union
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return lambda r: None
    if t == "boolean":
        return lambda r: r._take(1) == b"\x01"
    if t in ("int", "long"):
        return lambda r: r._long()
    if t == "float":
        return lambda r: struct.unpack("<f", r._take(4))[0]
    if t == "double":
        return lambda r: struct.unpack("<d", r._take(8))[0]
    if t == "string":
        return lambda r: r._take(r._long()).decode("utf-8")
    if t == "bytes":
        return lambda r: r._take(r._long())
    if t == "fixed":
        size = schema["size"]
        return lambda r, size=size: r._take(size)
    if t == "enum":
        symbols = schema["symbols"]
        return lambda r, symbols=symbols: symbols[r._long()]
    if t == "record":
        fields = [
            (f["name"], _compile_decoder(f["type"]))
            for f in schema["fields"]
        ]

        def _record(r, fields=fields):
            return {name: dec(r) for name, dec in fields}

        return _record
    if t == "map":
        vdec = _compile_decoder(schema["values"])

        def _map(r, vdec=vdec):
            out = {}
            while True:
                n = r._long()
                if n == 0:
                    return out
                if n < 0:
                    r._long()
                    n = -n
                for _ in range(n):
                    k = r._take(r._long()).decode("utf-8")
                    out[k] = vdec(r)

        return _map
    if t == "array":
        idec = _compile_decoder(schema["items"])

        def _array(r, idec=idec):
            items = []
            while True:
                n = r._long()
                if n == 0:
                    return items
                if n < 0:
                    r._long()
                    n = -n
                for _ in range(n):
                    items.append(idec(r))

        return _array
    raise ValueError(f"unsupported avro type {t}")


def read_avro(path: str) -> tuple[dict, list]:
    """Decode an Avro object container whose codec is any of
    :data:`.codecs.CODECS` (``snappy`` and ``zstandard`` on pyarrow's
    libsnappy and libzstd); a snappy block's CRC32 is verified per the
    Avro spec."""
    r = _AvroReader(open(path, "rb").read())
    if r._take(4) != _MAGIC:
        raise ValueError("not an avro object container")
    meta = {}
    while True:
        n = r._long()
        if n == 0:
            break
        if n < 0:
            r._long()
            n = -n
        for _ in range(n):
            k = r._take(r._long()).decode()
            meta[k] = r._take(r._long())
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode() or "null"
    if codec not in CODECS:
        raise ValueError(f"unsupported avro codec {codec!r}")
    sync = r._take(16)
    decode = _compile_decoder(schema)
    records = []
    while r.pos < len(r.data):
        cnt = r._long()
        body = r._take(r._long())
        if codec == "snappy":  # Avro's big-endian CRC32 trails the block
            body, crc = body[:-4], body[-4:]
        body = decompress(codec, body)
        if codec == "snappy" and struct.pack(">I", zlib.crc32(body)) != crc:
            raise ValueError(
                "snappy avro block: CRC32 mismatch on uncompressed data"
            )
        br = _AvroReader(body)
        for _ in range(cnt):
            records.append(decode(br))
        if br.pos != len(body):
            raise ValueError("trailing bytes in avro block")
        if r._take(16) != sync:
            raise ValueError("sync marker mismatch")
    return schema, records
