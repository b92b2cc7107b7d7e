"""Iceberg-v2 metadata IMPORT — open a spec-shaped Iceberg table as a
Spark DataFrame, the read-side complement of ``export_iceberg_metadata``.

The reference's migration plane (``CatalogMigrator.java:212-213``) moves
a table POINTER — the path of a ``vN.metadata.json`` — between catalogs
without touching data. This module makes a registered pointer OPERABLE
by the analytics plane: parse ``metadata.json``, walk the snapshot's
Avro manifest list to its Avro manifests, prune data files against the
field-id-keyed ``lower_bounds``/``upper_bounds`` stats (Iceberg
single-value binary encoding, spec appendix D), and hand the surviving
file list to ``spark.read.parquet`` with the schema the metadata
declares.

Scale design: planning is METADATA-ONLY — a filter is answered from the
manifest stats without opening one parquet footer, so a selective read
over a 10^6-file table plans from the Avro manifests alone and the
executor-side scan receives only the surviving files (Catalyst still
pushes the residual filter into those scans). Snapshot selection (by
id, by timestamp, by ref) is a metadata.json lookup.

Merge-on-read deletes are APPLIED, both flavors:

- **position deletes** (entry content=1: spec-shaped
  ``file_path``/``pos`` parquet) anti-join the scan executor-side on
  ``_metadata`` (file path, row index) — distributed, never
  driver-materialized.
- **equality deletes** (entry content=2, ``equality_ids`` naming the
  key fields) apply sequence-scoped per the spec: a delete hides only
  rows of data files sequenced strictly before it, so a re-appended
  key revives — identical semantics to the engine's own
  read_with_deletes, pinned by round-trip tests.

Deliberate scope, refused loudly rather than silently wrong:

- **equality deletes without equality_ids** — unappliable metadata,
  never guessed.
- **non-parquet data files** (``file_format != PARQUET``).
- **unknown column types** — anything outside the one type map
  (``catalog/table_metadata.py``).

Entries with status DELETED (2) are dropped per spec; status EXISTING
(0) / ADDED (1) are live. Bounds pruning treats a file with missing
bounds for the filtered column as a keeper (stats are optional per
spec; absence can never un-match a file).
"""

from __future__ import annotations

import json
import os
import struct

from ..catalog.table_metadata import _TO_SPARK, load_metadata, spark_type
from .iceberg_format import read_avro
from .mor import (
    _basename,
    _by_coords,
    _coords_df,
    _coords_table,
    _hide_sequenced,
    _row_identity,
)
from .pruning import overlaps, render_sets
from .snapshots import _DEFAULTABLE_SPARK_TYPES, SnapshotError, _default_scalar_matches

_DATA, _DELETED_STATUS = 0, 2

#: primitive types whose v3 ``initial-default`` (spec JSON single-value
#: serialization: bare scalars; date as "YYYY-MM-DD") this reader can
#: serve exactly at read time: the write side's, through the one type map
_DEFAULTABLE_TYPES = frozenset(t for t, s in _TO_SPARK.items() if s in _DEFAULTABLE_SPARK_TYPES)


def _primitive_default(iceberg_type, v) -> bool:
    """True when ``iceberg_type`` is a defaultable primitive and ``v``
    its spec single-value JSON form: a mismatched scalar would CAST to
    a silent null (or silently wrap)."""
    return (
        isinstance(iceberg_type, str)
        and iceberg_type in _DEFAULTABLE_TYPES
        and _default_scalar_matches(spark_type(iceberg_type), v)
    )


def _nested_initial_default(node) -> bool:
    """True when any field NESTED inside ``node`` (a type dict/list)
    carries a non-null ``initial-default`` of its own — a shape this
    reader does not serve (only top-level fills exist), so it must
    refuse rather than silently read such subfields as null."""
    if isinstance(node, dict):
        for sub in node.get("fields") or []:
            if sub.get("initial-default") is not None:
                return True
            if _nested_initial_default(sub.get("type")):
                return True
        for key in ("element", "key", "value"):
            if _nested_initial_default(node.get(key)):
                return True
    return False


def _struct_default_fields(fld: dict):
    """For a STRUCT-typed field whose v3 ``initial-default`` is the
    spec's unambiguous single-value JSON form — an object keyed by
    stringified field id, every leaf a primitive from
    ``_DEFAULTABLE_TYPES``, every value a matching scalar (or
    absent/null = null), struct members recursing the same way
    (round 15: struct-of-struct serves; lists/maps/unknown ids/other
    leaf types still refuse) — return
    ``[(subname, spark_type, value)]`` where a struct member's value
    is itself such a list (or None = whole member null). None when
    the shape is anything else (the caller refuses loudly)."""
    t = fld.get("type")
    dflt = fld.get("initial-default")
    if (
        not isinstance(t, dict)
        or t.get("type") != "struct"
        or not isinstance(dflt, dict)
    ):
        return None
    return _struct_default_resolve(t, dflt)


def _struct_default_resolve(t: dict, dflt: dict):
    subs = t.get("fields") or []
    if not subs:
        return None  # a zero-field struct has no literal to build
    by_id = {}
    for sf in subs:
        st = sf.get("type")
        if isinstance(st, str):
            if st not in _DEFAULTABLE_TYPES:
                return None
        elif not (isinstance(st, dict) and st.get("type") == "struct"):
            return None  # list / map / parameterized: not served
        by_id[str(sf["id"])] = sf
    if not set(dflt) <= set(by_id):
        return None  # a value keyed by an unknown field id
    out = []
    for sf in subs:
        v = dflt.get(str(sf["id"]))
        st = sf["type"]
        if v is None and sf.get("required"):
            # spec-invalid: a required member with no default value —
            # serving null would violate the declared schema
            return None
        if isinstance(st, dict):
            if v is None:
                sub = None  # whole nested member defaults to null
            elif isinstance(v, dict):
                sub = _struct_default_resolve(st, v)
                if sub is None:
                    return None
            else:
                return None  # a scalar where an id-keyed object belongs
            out.append((sf["name"], spark_type(st), sub))
        else:
            if v is not None and not _primitive_default(st, v):
                return None
            out.append((sf["name"], spark_type(st), v))
    return out


def value_from_bytes(iceberg_type: str, b: bytes):
    """Iceberg single-value binary DEserialization (spec appendix D)
    for the orderable types the pruner compares; None = not decodable
    (the pruner then keeps the file rather than guess)."""
    if b is None:
        return None
    if iceberg_type == "int":
        return struct.unpack("<i", b)[0]
    if iceberg_type in ("long", "timestamptz", "timestamp"):
        return struct.unpack("<q", b)[0]
    if iceberg_type == "float":
        return struct.unpack("<f", b)[0]
    if iceberg_type == "double":
        return struct.unpack("<d", b)[0]
    if iceberg_type == "string":
        return b.decode("utf-8")
    if iceberg_type == "boolean":
        return b != b"\x00"
    if iceberg_type == "date":
        # days since epoch (spec) — surfaced as datetime.date so the
        # pruner can compare against the date literals filters carry
        import datetime

        days = struct.unpack("<i", b)[0]
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=days)
    return None


# the foreign reader's row coordinates: prefixed, so they can never
# collide with a user column of the table being read
_ICB_COORDS = ["__icb_fp", "__icb_pos"]


def _check_basename_unique(kept: list[dict], action: str) -> None:
    """Refuse when two distinct live data files share a basename —
    every basename-joined correction (delete coordinates, default
    fills) would cross-apply between them."""
    seen_base: dict[str, str] = {}
    for e in kept:
        b = os.path.basename(e["file_path"])
        if seen_base.get(b, e["file_path"]) != e["file_path"]:
            raise SnapshotError(
                f"duplicate data file basename {b!r}: cannot {action}"
            )
        seen_base[b] = e["file_path"]


class IcebergTable:
    """A spec-shaped Iceberg table opened from its metadata pointer —
    format-version 2 or 3, or format-version 1 read-only (flat schema /
    partition-spec forms, inline-manifests snapshots, no sequence
    numbers: entries read at the legacy seq-0 default; delete
    manifests refuse, v1 cannot carry them).

    v3 scope: row lineage reads fully (``next-row-id``, snapshot
    ``first-row-id``, per-entry ``first_row_id`` — ``read(...,
    with_row_ids=True)`` reconstructs every row's stable ``_row_id``);
    deletion vectors (puffin roaring-bitmap blobs, see
    :mod:`.puffin`) apply at read time, decoded executor-side; only
    non-null column ``initial-default`` values refuse LOUDLY rather
    than silently misreading.

    ``location`` may be the ``metadata.json`` path itself (what a
    catalog registers) or a directory containing one (highest
    ``v*.metadata.json`` wins, matching the version-hint convention).
    """

    def __init__(self, spark, location: str):
        self.spark = spark
        self.metadata_location, self.metadata = load_metadata(location)
        self.format_version = self.metadata["format-version"]
        # v3 column defaults: a non-null initial-default changes what
        # files written BEFORE the column must read as. Primitive
        # scalar defaults are SERVED at read time (files whose parquet
        # schema lacks the column fill the declared value; see
        # _apply_initial_defaults), and so are STRUCT-typed defaults
        # whose spec single-value JSON form is unambiguous (an object
        # keyed by field id, struct members recursing the same way,
        # every leaf a servable primitive — rounds 14-15). Shapes this
        # reader cannot serve exactly (lists/maps, zero-field structs,
        # other non-scalar JSON) refuse up front — never a silent null
        # misread.
        for s in self.metadata.get("schemas", []):
            for fld in s.get("fields", []):
                dflt = fld.get("initial-default")
                if _nested_initial_default(fld.get("type")):
                    # an initial-default on a field INSIDE a nested
                    # type (legal v3 evolution: a subfield added to a
                    # struct) — only top-level fills are served, so
                    # this must refuse loudly, never read null
                    raise SnapshotError(
                        f"column {fld.get('name')!r} carries an "
                        "initial-default on a NESTED field: only "
                        "top-level column defaults are served; "
                        "refusing rather than misreading pre-addition "
                        "files as null"
                    )
                if dflt is None:
                    continue
                if (
                    not _primitive_default(fld.get("type"), dflt)
                    and _struct_default_fields(fld) is None
                ):
                    raise SnapshotError(
                        f"column {fld.get('name')!r} carries an "
                        f"initial-default of type {fld.get('type')!r}: "
                        "only primitive scalar defaults "
                        f"({sorted(_DEFAULTABLE_TYPES)}) and struct "
                        "defaults whose leaves are all such primitives "
                        "(struct-of-struct included) are served; "
                        "refusing rather than misreading pre-addition "
                        "files as null"
                    )
        self._snaps = {
            s["snapshot-id"]: s for s in self.metadata.get("snapshots", [])
        }
        self._spec_fields = {
            s["spec-id"]: s.get("fields", [])
            for s in self.metadata.get("partition-specs", [])
        }
        # v1's required flat form (partition-specs is optional there)
        if not self._spec_fields and self.metadata.get("partition-spec"):
            self._spec_fields = {0: self.metadata["partition-spec"]}
        self._probe_cache: dict[tuple, str | None] = {}

    # ------------------------------------------------ snapshot selection

    def current_snapshot_id(self):
        return self.metadata.get("current-snapshot-id")

    def snapshot(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ) -> dict:
        if sum(x is not None for x in (snapshot_id, as_of_timestamp_ms, ref)) > 1:
            raise SnapshotError(
                "pass at most one of snapshot_id / as_of_timestamp_ms / ref"
            )
        if ref is not None:
            entry = (self.metadata.get("refs") or {}).get(ref)
            if entry is None:
                raise SnapshotError(f"no ref {ref!r} in table metadata")
            snapshot_id = entry["snapshot-id"]
        if as_of_timestamp_ms is not None:
            eligible = [
                e
                for e in self.metadata.get("snapshot-log", [])
                if e["timestamp-ms"] <= as_of_timestamp_ms
            ]
            if not eligible:
                raise SnapshotError(
                    f"no snapshot at or before {as_of_timestamp_ms}"
                )
            snapshot_id = max(eligible, key=lambda e: e["timestamp-ms"])[
                "snapshot-id"
            ]
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
        if snapshot_id is None or snapshot_id not in self._snaps:
            raise SnapshotError(f"no snapshot {snapshot_id} in table metadata")
        return self._snaps[snapshot_id]

    # ------------------------------------------------ schema

    def schema_fields(self, snapshot: dict | None = None) -> list[dict]:
        sid = (snapshot or {}).get(
            "schema-id", self.metadata.get("current-schema-id", 0)
        )
        for s in self.metadata.get("schemas", []):
            if s.get("schema-id") == sid:
                return s["fields"]
        # v1's required flat form ("schemas" is optional there)
        flat = self.metadata.get("schema")
        if flat is not None:
            return flat["fields"]
        raise SnapshotError(f"no schema with schema-id {sid}")

    def spark_schema_ddl(self, snapshot: dict | None = None) -> str:
        return ", ".join(
            f"{f['name']} {spark_type(f['type'])}"
            for f in self.schema_fields(snapshot)
        )

    def _initial_defaults(
        self, snapshot: dict | None = None
    ) -> list[tuple[str, str, object]]:
        """``(name, spark_type, fill)`` for every field of the snapshot
        schema carrying a non-null v3 ``initial-default`` (shapes were
        validated at construction). For primitive fields ``fill`` is
        the JSON scalar; for struct fields it is the resolved
        ``[(subname, spark_type, value)]`` list from
        :func:`_struct_default_fields` and ``spark_type`` is the
        struct's DDL form."""
        out = []
        for f in self.schema_fields(snapshot):
            if f.get("initial-default") is None:
                continue
            sub = _struct_default_fields(f)
            if sub is not None:
                # the SAME renderer that typed the read column — the
                # fill literal can never diverge from the declared type
                out.append((f["name"], spark_type(f["type"]), sub))
            else:
                out.append(
                    (f["name"], spark_type(f["type"]), f["initial-default"])
                )
        return out

    def _apply_initial_defaults(self, df, kept: list[dict], defaults):
        """Fill each defaulted column for rows of files written BEFORE
        the column existed (v3 ``initial-default`` semantics): which
        files lack which columns is probed from the parquet footers
        EXECUTOR-side in one distributed pass (the driver never holds
        the per-file answer — it stays a DataFrame joined back on the
        file basename), so a 10^6-file table pays one parallel footer
        sweep, not a driver loop. Files that contain the column keep
        their stored values, including REAL nulls — the fill is
        per-file, never per-row-null."""
        from pyspark.sql import functions as F

        names = [n for n, _, _ in defaults]
        meta = self.spark.createDataFrame(
            [(e["file_path"],) for e in kept], "__icb_path string"
        )
        if len(kept) > 1:
            meta = meta.repartition(min(len(kept), 64))

        def probe(batches):
            import pandas as pd
            import pyarrow.parquet as pq

            for pdf in batches:
                fps, cols_out = [], []
                for (p,) in pdf.itertuples(index=False):
                    have = set(pq.read_schema(p).names)
                    for c in names:
                        if c not in have:
                            fps.append(os.path.basename(p))
                            cols_out.append(c)
                yield pd.DataFrame({"__icb_fp": fps, "__icb_miss": cols_out})

        missing = meta.mapInPandas(
            probe, "__icb_fp string, __icb_miss string"
        )
        marks = missing.groupBy("__icb_fp").agg(
            F.collect_set("__icb_miss").alias("__icb_missing")
        )
        # joins on the caller's already-materialized __icb_fp column
        df = df.join(marks, "__icb_fp", "left")

        def fill_literal(dtype, val):
            # struct defaults build member-by-member, recursing into
            # struct-of-struct members; None casts to a typed null
            # (scalar or whole-struct alike)
            if isinstance(val, list):
                return F.struct(
                    *(fill_literal(t, v).alias(n) for n, t, v in val)
                ).cast(dtype)
            return F.lit(val).cast(dtype)

        for name, dtype, val in defaults:
            fill = fill_literal(dtype, val)
            df = df.withColumn(
                name,
                F.when(
                    F.coalesce(
                        F.array_contains("__icb_missing", name),
                        F.lit(False),
                    ),
                    fill,
                ).otherwise(F.col(name)),
            )
        return df.drop("__icb_missing")

    # ------------------------------------------------ planning

    def _manifest_entries(
        self, snapshot: dict, filters: list[tuple] | None = None
    ) -> tuple[list[dict], list[str], list[dict], list[dict], int]:
        """Live entries for ``snapshot``: ``(data_entries,
        position_delete_paths, equality_deletes, deletion_vectors,
        total_data_entries)``.
        Data entries carry ``file_path``, ``record_count``,
        ``file_size_in_bytes``, the data ``sequence`` number (inherited
        from the manifest when the entry's is null, per spec) and
        per-field-id decoded ``lower``/``upper`` bound dicts.
        Position-delete files (spec content=1: ``file_path``/``pos``
        parquet), v3 deletion vectors (content=1, PUFFIN blobs located
        by ``content_offset``/``content_size_in_bytes`` and scoped to
        one ``referenced_data_file``) and equality delete files
        (content=2: the equality columns, scoped by sequence number)
        all apply at read time.

        With ``filters``, pruning STREAMS manifest-at-a-time — each
        chunk's survivors accumulate and the chunk's losers are
        dropped before the next manifest decodes, so driver memory is
        O(survivors + one manifest chunk), never O(table files)
        (exports write bounded ~10k-entry chunks; foreign Iceberg
        trees are many-small-manifests by construction)."""
        fields = self.schema_fields(snapshot)
        type_by_id = {f["id"]: f["type"] for f in fields}
        if snapshot.get("manifest-list"):
            _, manifest_list = read_avro(snapshot["manifest-list"])
        elif snapshot.get("manifests") is not None:
            # v1's older inline form: a list of manifest paths on the
            # snapshot itself (no manifest-list file)
            manifest_list = [
                {"manifest_path": p} for p in snapshot["manifests"]
            ]
        else:
            raise SnapshotError(
                f"snapshot {snapshot.get('snapshot-id')} carries neither "
                "manifest-list nor manifests"
            )
        out: list[dict] = []
        pos_deletes: list[str] = []
        eq_deletes: list[dict] = []
        dvs: list[dict] = []
        total = 0
        for mf in manifest_list:
            batch: list[dict] = []
            # v3 row-id inheritance: entries with a null first_row_id
            # take the manifest's range sequentially, advancing by each
            # inheriting file's record_count (spec assignment rule)
            mf_first = mf.get("first_row_id")
            inherit_off = 0
            is_delete_manifest = mf.get("content", 0) != _DATA
            if is_delete_manifest and self.format_version == 1:
                raise SnapshotError(
                    "format-version 1 metadata cannot carry delete "
                    "manifests (row-level deletes are a v2 feature); "
                    "refusing rather than guessing the writer's intent"
                )
            _, entries = read_avro(mf["manifest_path"])
            for e in entries:
                if e.get("status") == _DELETED_STATUS:
                    continue
                df = e["data_file"]
                content = df.get("content", 0)
                fmt = str(df.get("file_format", "")).upper()
                is_dv = (
                    fmt == "PUFFIN"
                    or df.get("referenced_data_file") is not None
                    or df.get("content_offset") is not None
                )
                if is_dv and not (is_delete_manifest and content == 1):
                    raise SnapshotError(
                        "deletion-vector fields (PUFFIN format / "
                        "referenced_data_file / content_offset) on an "
                        "entry that is not a position delete in a "
                        "delete manifest — malformed metadata"
                    )
                if fmt != "PARQUET" and not is_dv:
                    raise SnapshotError(
                        f"unsupported data file format {fmt!r}"
                    )
                seq = e.get("sequence_number")
                if seq is None:  # spec: null inherits the manifest's
                    seq = mf.get("sequence_number", 0)
                if is_delete_manifest:
                    if content == 1 and is_dv:
                        if self.format_version != 3:
                            raise SnapshotError(
                                "deletion vectors are a format-version "
                                "3 feature; refusing a v"
                                f"{self.format_version} tree that "
                                "carries them"
                            )
                        if (
                            fmt != "PUFFIN"
                            or df.get("referenced_data_file") is None
                            or df.get("content_offset") is None
                            or df.get("content_size_in_bytes") is None
                        ):
                            raise SnapshotError(
                                "deletion-vector entry missing one of "
                                "PUFFIN format / referenced_data_file "
                                "/ content_offset / "
                                "content_size_in_bytes"
                            )
                        dvs.append(
                            {
                                "puffin": df["file_path"],
                                "offset": int(df["content_offset"]),
                                "length": int(
                                    df["content_size_in_bytes"]
                                ),
                                "referenced": df["referenced_data_file"],
                                "cardinality": df.get("record_count"),
                                "sequence": int(seq),
                            }
                        )
                        continue
                    if content == 1:
                        if self.format_version == 3:
                            raise SnapshotError(
                                "format-version 3 replaced position-"
                                "delete FILES with deletion vectors; "
                                "refusing a v3 tree carrying a parquet "
                                "position-delete file"
                            )
                        pos_deletes.append(df["file_path"])
                        continue
                    if content == 2:
                        ids = df.get("equality_ids") or []
                        if not ids:
                            raise SnapshotError(
                                "equality delete file without "
                                "equality_ids in snapshot "
                                f"{snapshot['snapshot-id']}"
                            )
                        eq_deletes.append(
                            {
                                "file_path": df["file_path"],
                                "sequence": int(seq),
                                "equality_ids": tuple(ids),
                            }
                        )
                        continue
                    raise SnapshotError(
                        "data file entry in a delete manifest"
                    )
                if content != _DATA:
                    raise SnapshotError(
                        "delete file entry in a data manifest"
                    )
                lower, upper = {}, {}
                for side, store in (
                    ("lower_bounds", lower),
                    ("upper_bounds", upper),
                ):
                    for kv in df.get(side) or []:
                        t = type_by_id.get(kv["key"])
                        if t is not None:
                            v = value_from_bytes(t, kv["value"])
                            if v is not None:
                                store[kv["key"]] = v
                first = df.get("first_row_id")
                if first is None and mf_first is not None:
                    first = int(mf_first) + inherit_off
                    inherit_off += int(df.get("record_count") or 0)
                batch.append(
                    {
                        "file_path": df["file_path"],
                        "record_count": df.get("record_count"),
                        "file_size_in_bytes": df.get("file_size_in_bytes"),
                        "sequence": int(seq),
                        "lower": lower,
                        "upper": upper,
                        "partition": df.get("partition") or {},
                        "spec_id": mf.get("partition_spec_id", 0),
                        "first_row_id": (
                            int(first) if first is not None else None
                        ),
                        "sort_order_id": df.get("sort_order_id"),
                    }
                )
            total += len(batch)
            if filters:
                batch, _ = self._prune(batch, snapshot, filters)
            out.extend(batch)
        if dvs:
            # spec: at most ONE deletion vector per data file, holding
            # ALL of that file's deleted positions
            seen_ref: set[str] = set()
            for dv in dvs:
                if dv["referenced"] in seen_ref:
                    raise SnapshotError(
                        "two live deletion vectors reference "
                        f"{dv['referenced']!r}; the spec allows at "
                        "most one per data file"
                    )
                seen_ref.add(dv["referenced"])
        return out, pos_deletes, eq_deletes, dvs, total

    def data_files(self, snapshot: dict) -> list[dict]:
        """Live data-file entries for ``snapshot`` (see
        :meth:`_manifest_entries`)."""
        return self._manifest_entries(snapshot)[0]

    def position_delete_files(self, snapshot: dict) -> list[str]:
        """Live position-delete parquet paths for ``snapshot``."""
        return self._manifest_entries(snapshot)[1]

    def equality_delete_files(self, snapshot: dict) -> list[dict]:
        """Live equality-delete entries for ``snapshot``: each with
        ``file_path``, ``sequence`` and ``equality_ids``."""
        return self._manifest_entries(snapshot)[2]

    def deletion_vectors(self, snapshot: dict) -> list[dict]:
        """Live v3 deletion-vector entries for ``snapshot``: each with
        the ``puffin`` path, blob ``offset``/``length``, the
        ``referenced`` data file, ``cardinality`` and ``sequence``."""
        return self._manifest_entries(snapshot)[3]

    def plan_files(
        self, snapshot: dict, filters: list[tuple] | None = None
    ) -> tuple[list[dict], int]:
        """Stats-pruned file plan: ``(kept_entries, pruned_count)``.
        ``filters`` are ``(column, op, literal)`` triples over =, <,
        <=, >, >= — the conjunction must be satisfiable in a file for
        it to survive. Files lacking bounds for a filtered column are
        KEPT (absence of stats never un-matches). Pruning streams
        manifest-at-a-time (see :meth:`_manifest_entries`): a
        selective plan over a 10^6-file table holds the survivors plus
        one ~10k-entry chunk, never the whole file list."""
        kept, _, _, _, total = self._manifest_entries(snapshot, filters)
        return kept, total - len(kept)

    def _prune(
        self,
        entries: list[dict],
        snapshot: dict,
        filters: list[tuple] | None,
    ) -> tuple[list[dict], int]:
        if not filters:
            return entries, 0
        id_by_name = {
            f["name"]: f["id"] for f in self.schema_fields(snapshot)
        }
        kept = []
        for e in entries:
            alive = True
            for col, op, lit in filters:
                fid = id_by_name.get(col)
                if fid is None:
                    raise SnapshotError(f"no column {col!r} in table schema")
                if not overlaps(
                    op, lit, e["lower"].get(fid), e["upper"].get(fid)
                ):
                    alive = False
                    break
                # partition-transform pruning (equality only —
                # transforms are lossy, so range predicates cannot be
                # answered from a transform value): the predicate
                # constant probes through the SAME transform expression
                # the write path used; a recorded tuple value that
                # disagrees rules the whole file out. ONLY string
                # values compare — this exporter's rendering. A foreign
                # writer's TYPED partition values (int buckets,
                # days-from-epoch) use different transform
                # implementations (e.g. murmur3 bucketing), so they
                # conservatively keep the file instead of silently
                # mis-pruning.
                if op == "=" and e["partition"]:
                    for pf in self._spec_fields.get(e["spec_id"], []):
                        if pf.get("source-id") != fid:
                            continue
                        val = e["partition"].get(pf["name"])
                        if not isinstance(val, str):
                            continue
                        probe = self._transform_probe(
                            snapshot, col, pf["transform"], lit
                        )
                        if probe is not None and val != probe:
                            alive = False
                            break
                    if not alive:
                        break
            if alive:
                kept.append(e)
        return kept, len(entries) - len(kept)

    def _transform_probe(self, snapshot, col, transform, lit):
        """The partition value ``lit`` would be written with: the shared
        probe builder renders it as a one-value set, through the exact
        Spark expression the write path used (cached). None = unknown
        transform (a foreign writer's) or a literal that does not render
        as Spark compares it: prune conservatively keeps the file."""
        key = (col, transform, lit)
        if key not in self._probe_cache:
            try:
                typ = spark_type(
                    next(
                        f["type"]
                        for f in self.schema_fields(snapshot)
                        if f["name"] == col
                    )
                )
                probe = (col, transform, typ)
                vals = render_sets(self.spark, {col: [lit]}, [probe])[probe]
                self._probe_cache[key] = next(iter(vals)) if vals else None
            except ValueError:  # foreign transform: cannot probe
                self._probe_cache[key] = None
        return self._probe_cache[key]

    # ------------------------------------------------ read

    def next_row_id(self) -> int | None:
        """v3's table-level row-id counter (None below v3)."""
        return self.metadata.get("next-row-id")

    def read(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
        filters: list[tuple] | None = None,
        with_row_ids: bool = False,
    ):
        """DataFrame over the selected snapshot's live data files,
        manifest-stats-pruned by ``filters`` (which are ALSO applied as
        row filters, so the result is exact, not file-granular).
        Position-delete files apply executor-side: every data row pairs
        its ``_metadata`` (file path, row index) against the delete
        coordinates in one distributed anti-join — no driver
        materialization of delete rows, so a 10^9-row delete vector
        costs one shuffle, not driver memory.

        ``with_row_ids=True`` (v3 row lineage) appends ``_row_id`` =
        the file's assigned ``first_row_id`` + the row's physical
        position, via one broadcast of the metadata-sized per-file map
        — distributed, no driver row work. Refuses loudly when a live
        file carries no assigned range."""
        from pyspark.sql import functions as F

        snap = self.snapshot(snapshot_id, as_of_timestamp_ms, ref)
        kept, pos_deletes, eq_deletes, dvs, _ = self._manifest_entries(
            snap, filters
        )
        ddl = self.spark_schema_ddl(snap)
        if with_row_ids:
            missing = [
                e["file_path"] for e in kept if e["first_row_id"] is None
            ]
            if missing:
                raise SnapshotError(
                    "with_row_ids: no assigned first_row_id for "
                    f"{len(missing)} live data file(s) (e.g. "
                    f"{os.path.basename(missing[0])!r}) — not a "
                    "row-lineage (v3) snapshot"
                )
            ddl_out = ddl + ", _row_id bigint"
        if not kept:
            return self.spark.createDataFrame(
                [], ddl_out if with_row_ids else ddl
            )
        df = self.spark.read.schema(ddl).parquet(
            *[e["file_path"] for e in kept]
        )
        defaults = self._initial_defaults(snap)
        if defaults or pos_deletes or eq_deletes or dvs or with_row_ids:
            # rows meet their per-file corrections (delete coordinates,
            # v3 default fills) on the data file's BASENAME:
            # _metadata.file_path is URI-rendered (scheme,
            # percent-escapes) while manifest paths are raw, so full-
            # path string equality would silently mis-apply them.
            # Basenames are collision-checked driver-side — uuid-token
            # naming makes them unique in practice, and a genuine
            # collision refuses loudly instead of guessing.
            _check_basename_unique(
                kept, "apply per-file corrections by coordinate"
            )
            cols = df.columns
            df = df.select("*", *_row_identity(names=_ICB_COORDS))
            # v3 initial-defaults fill BEFORE deletes apply: equality
            # deletes compare key VALUES, so a pre-addition file's rows
            # must already read as the declared default when keys match
            if defaults:
                df = self._apply_initial_defaults(df, kept, defaults)
            if pos_deletes or dvs:
                coords = _coords_df(
                    self.spark, pos_deletes + dvs, _basename, _ICB_COORDS
                )
                df = _by_coords(df, coords, keep_matching=False)
            if eq_deletes:
                df = self._apply_equality_deletes(df, snap, kept, eq_deletes)
            if with_row_ids:
                first_map = self.spark.createDataFrame(
                    [
                        (
                            os.path.basename(e["file_path"]),
                            int(e["first_row_id"]),
                        )
                        for e in kept
                    ],
                    "__icb_fp string, __icb_first bigint",
                )
                df = df.join(F.broadcast(first_map), "__icb_fp", "left")
                df = df.withColumn(
                    "_row_id",
                    (F.col("__icb_first") + F.col("__icb_pos")).cast(
                        "bigint"
                    ),
                )
                cols = cols + ["_row_id"]
            df = df.select(*cols)
        for col, op, lit in filters or []:
            c = F.col(col)
            df = df.filter(
                {
                    "=": c == lit,
                    "<": c < lit,
                    "<=": c <= lit,
                    ">": c > lit,
                    ">=": c >= lit,
                }[op]
            )
        return df


    def total_records(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ) -> int:
        """COUNT(*) from the snapshot summary's ``total-records``,
        metadata-only. Semantics differ by writer: THIS engine's
        exporter records the maintained visible count (NET of MOR
        deletes, marked by the ``written-by`` table property); Iceberg
        core's value is GROSS of delete files. A foreign snapshot
        whose ONLY pending deletes are v3 deletion vectors still
        counts exactly from metadata — the spec makes each DV the
        COMPLETE position set for its one referenced file, so net =
        sum(live record_count) - sum(live-file DV cardinality). Other
        foreign delete states refuse honestly (position-delete parquet
        may repeat coordinates, equality deletes need the scan);
        count those with ``read().count()``."""
        snap = self.snapshot(snapshot_id, as_of_timestamp_ms, ref)
        tr = (snap.get("summary") or {}).get("total-records")
        if tr is None:
            raise SnapshotError(
                "snapshot summary carries no total-records: count with "
                "read().count()"
            )
        net_writer = (
            (self.metadata.get("properties") or {}).get("written-by")
            == "iceberg-catalog-migrator-spark"
        )
        if not net_writer:
            kept, pos_dels, eq_dels, dvs, _ = self._manifest_entries(snap)
            if pos_dels or eq_dels:
                raise SnapshotError(
                    "foreign snapshot with pending delete files: its "
                    "total-records is gross of deletes — count with "
                    "read().count()"
                )
            if dvs:
                counts = [e.get("record_count") for e in kept]
                if any(c is None for c in counts) or any(
                    d["cardinality"] is None for d in dvs
                ):
                    raise SnapshotError(
                        "deletion vectors without record counts: "
                        "count with read().count()"
                    )
                live = {e["file_path"] for e in kept}
                return int(sum(counts)) - int(
                    sum(
                        d["cardinality"]
                        for d in dvs
                        if d["referenced"] in live
                    )
                )
        return int(tr)

    def _stats_on_ancestry(self, key: str, sid: int) -> list:
        """Entries of ``metadata[key]`` for the NEAREST snapshot on
        ``sid``'s ancestry — stats bind to the snapshot they were
        computed over, and consumers (like the engines that read
        Iceberg stats) accept the latest ancestor's."""
        by_sid: dict[int | None, list] = {}
        for s in self.metadata.get(key, []):
            by_sid.setdefault(s.get("snapshot-id"), []).append(s)
        parent_of = {
            s["snapshot-id"]: s.get("parent-snapshot-id")
            for s in self.metadata.get("snapshots", [])
        }
        cur, seen = sid, set()
        while cur is not None and cur not in seen:
            seen.add(cur)
            if cur in by_sid:
                return by_sid[cur]
            cur = parent_of.get(cur)
        return []

    def ndv_estimates(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ) -> dict[str, int]:
        """Column distinct-count estimates from the metadata's
        ``statistics`` files (puffin theta-sketch blobs) for the
        selected snapshot — metadata-only, no data read. Serves the
        ``ndv`` blob property when present (what engines write), else
        decodes the sketch bytes. Blob field ids resolve to the
        snapshot schema's column names."""
        snap = self.snapshot(snapshot_id, as_of_timestamp_ms, ref)
        sid = snap["snapshot-id"]
        entries = self._stats_on_ancestry("statistics", sid)
        if not entries:
            raise SnapshotError(
                f"no statistics recorded for snapshot {sid} or its "
                "ancestors"
            )
        name_by_id = {
            f["id"]: f["name"] for f in self.schema_fields(snap)
        }
        from .puffin import read_puffin_footer
        from .sketches import THETA_BLOB_TYPE, ThetaSketch

        out: dict[str, int] = {}
        for e in entries:
            path = e["statistics-path"]
            footer_blobs = None
            for b in e.get("blob-metadata", []):
                if b.get("type") != THETA_BLOB_TYPE:
                    continue  # unknown blob types are ignorable by spec
                fields = b.get("fields") or []
                col = (
                    name_by_id.get(fields[0])
                    if len(fields) == 1
                    else None
                )
                if col is None:
                    continue
                props = b.get("properties") or {}
                if "ndv" in props:
                    out[col] = int(props["ndv"])
                    continue
                # no ndv property: decode the sketch itself (offsets
                # come from the puffin's own footer — the metadata's
                # blob list need not carry them)
                if footer_blobs is None:
                    footer_blobs = read_puffin_footer(path).get(
                        "blobs", []
                    )
                for fb in footer_blobs:
                    if (
                        fb.get("type") == THETA_BLOB_TYPE
                        and (fb.get("fields") or []) == fields
                    ):
                        from .puffin import read_blob_decoded

                        raw = read_blob_decoded(path, fb)
                        out[col] = int(
                            round(ThetaSketch.from_bytes(raw).estimate())
                        )
                        break
        if not out:
            raise SnapshotError(
                f"statistics for snapshot {sid} carry no readable "
                "theta blobs"
            )
        return out

    def partition_stats(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ):
        """The spec's partition-statistics file for the selected
        snapshot as a DataFrame (ancestor-resolved like
        :meth:`ndv_estimates`): one row per (spec_id, partition tuple)
        with data_record_count / data_file_count /
        total_data_file_size_in_bytes — per-partition table health
        from pure metadata, no data file opened."""
        snap = self.snapshot(snapshot_id, as_of_timestamp_ms, ref)
        sid = snap["snapshot-id"]
        entries = self._stats_on_ancestry("partition-statistics", sid)
        if not entries:
            raise SnapshotError(
                f"no partition statistics recorded for snapshot {sid} "
                "or its ancestors"
            )
        return self.spark.read.parquet(entries[0]["statistics-path"])

    def snapshots_table(self):
        """The ``tbl.snapshots`` introspection surface for an imported
        pointer: one row per snapshot, driver-side metadata only."""
        rows = [
            (
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s.get("sequence-number", 0),
                s["timestamp-ms"],
                (s.get("summary") or {}).get("operation"),
                (
                    int(s["summary"]["total-records"])
                    if (s.get("summary") or {}).get("total-records")
                    is not None
                    else None  # NULL, not a sentinel a SUM would eat
                ),
                bool(s["snapshot-id"] == self.current_snapshot_id()),
            )
            for s in self.metadata.get("snapshots", [])
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id bigint, parent_id bigint, sequence_number "
            "bigint, timestamp_ms bigint, operation string, "
            "total_records bigint, is_current boolean",
        )

    def files_table(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
    ):
        """The ``tbl.files`` introspection surface: one row per live
        data file of the selected snapshot, from the manifests alone."""
        snap = self.snapshot(snapshot_id, as_of_timestamp_ms, ref)
        rows = [
            (
                e["file_path"],
                e["record_count"],
                e["file_size_in_bytes"],
                e["sequence"],
                e["spec_id"],
                json.dumps(e["partition"], sort_keys=True),
            )
            for e in self.data_files(snap)
        ]
        return self.spark.createDataFrame(
            rows,
            "file_path string, record_count bigint, "
            "file_size_in_bytes bigint, sequence_number bigint, "
            "spec_id bigint, partition string",
        )

    def _apply_equality_deletes(self, df, snap, kept, eq_deletes):
        """Sequence-scoped equality-delete application (spec rule: a
        delete applies to rows of data files sequenced STRICTLY before
        it) through the shared kernel :func:`mor._hide_sequenced`, one
        call per equality-id group. The per-key max-delete-sequence
        frame is built with Spark — O(deleted rows), so it never loads
        into driver memory and its join strategy is left to the
        planner (AQE). Delete files are read under the key columns'
        table-schema types, as the data files are, so building the read
        runs no schema-inference job."""
        from pyspark.sql import functions as F

        field_by_id = {f["id"]: f for f in self.schema_fields(snap)}
        fmap = self.spark.createDataFrame(
            [
                (os.path.basename(e["file_path"]), e["sequence"])
                for e in kept
            ],
            "__icb_fp string, _fseq bigint",
        )
        groups: dict[tuple, list[dict]] = {}
        for d in eq_deletes:
            groups.setdefault(d["equality_ids"], []).append(d)
        for ids, dels in groups.items():
            missing = [i for i in ids if i not in field_by_id]
            if missing:
                raise SnapshotError(
                    f"equality_ids {missing} not in the table schema"
                )
            key_cols = [field_by_id[i]["name"] for i in ids]
            key_ddl = ", ".join(
                f"{field_by_id[i]['name']} {spark_type(field_by_id[i]['type'])}"
                for i in ids
            )
            keys = None
            for d in dels:
                part = (
                    self.spark.read.schema(key_ddl)
                    .parquet(d["file_path"])
                    .withColumn("_dseq", F.lit(d["sequence"]))
                )
                keys = part if keys is None else keys.unionByName(part)
            keys = keys.groupBy(*key_cols).agg(F.max("_dseq").alias("_dseq"))
            df = _hide_sequenced(
                df, fmap, keys, key_cols, "__icb_fp", broadcast_keys=False
            )
        return df


def read_iceberg_table(spark, location: str, **kwargs):
    """One-call convenience: ``IcebergTable(spark, location).read(...)``."""
    return IcebergTable(spark, location).read(**kwargs)


def _delete_state(kept, pos_deletes, eq_deletes, dvs) -> tuple:
    """A comparable fingerprint of a snapshot's data + delete state."""
    return (
        frozenset(e["file_path"] for e in kept),
        frozenset(pos_deletes),
        frozenset(d["file_path"] for d in eq_deletes),
        frozenset((d["puffin"], d["offset"]) for d in dvs),
    )


def _carry_adopted_statistics(
    it: "IcebergTable", snap: dict, t, src_state: tuple
) -> None:
    """Carry the source pointer's recorded column statistics into the
    adopted table (best-effort, metadata-only): the theta blobs copy
    payload-verbatim into a REWRITTEN puffin whose blob field ids use
    the engine's convention for untracked tables (positional, i+1 over
    the adopted column order) and the ndv map re-commits as the
    engine's table_stats. The rewrite matters: the source puffin's
    field ids live in the SOURCE schema's id space, which an evolved or
    reordered source makes non-positional — carried verbatim, a later
    :func:`~.snapshots.update_table_statistics` would decode a blob
    under the positional assumption and silently union column A's
    sketch with column B's fresh hashes. Blobs whose field id does not
    resolve in the source schema (or whose column the adopted table
    does not carry) drop rather than mis-bind.
    Statistics bound to an ANCESTOR snapshot carry only when that
    snapshot's data + delete state provably equals the adopted one
    (``src_state``, already computed by the caller — e.g. the stats
    commit itself sits between them); otherwise the recorded ndv
    describes older rows and relabeling it fresh would misdate
    staleness for the incremental refresh."""
    import warnings

    from .puffin import read_blob_decoded, read_puffin_footer, write_puffin
    from .sketches import THETA_BLOB_TYPE

    sid = snap["snapshot-id"]
    entries = it._stats_on_ancestry("statistics", sid)
    if not entries:
        return
    try:
        ssid = entries[0]["snapshot-id"]
        if ssid != sid:
            if (
                _delete_state(
                    *it._manifest_entries(it.snapshot(snapshot_id=ssid))[:4]
                )
                != src_state
            ):
                return
        ndv = it.ndv_estimates(snapshot_id=sid)
        src = entries[0]["statistics-path"]
        stats_dir = os.path.join(t.path, "metadata", "stats")
        os.makedirs(stats_dir, exist_ok=True)
        dest = os.path.join(stats_dir, os.path.basename(src))
        src_name_by_fid = {
            f["id"]: f["name"] for f in it.schema_fields(snap)
        }
        adopted_fid_by_name = {
            n: i + 1
            for i, n in enumerate(
                t._read_files(t._load_snap(t.current_snapshot_id())["files"])
                .schema.names
            )
        }
        blobs = []
        for b in read_puffin_footer(src).get("blobs", []):
            if b.get("type") != THETA_BLOB_TYPE:
                continue
            fields = b.get("fields") or []
            col = (
                src_name_by_fid.get(fields[0])
                if len(fields) == 1
                else None
            )
            fid = adopted_fid_by_name.get(col)
            if fid is None:
                continue
            blobs.append(
                {
                    "type": THETA_BLOB_TYPE,
                    "fields": [fid],
                    "snapshot-id": t.current_snapshot_id(),
                    "sequence-number": int(b.get("sequence-number", 0)),
                    # DECODED payload: the adopted file is re-framed by
                    # write_puffin without a compression-codec key, so
                    # carrying compressed bytes verbatim would corrupt
                    "payload": read_blob_decoded(src, b),
                    **(
                        {"properties": b["properties"]}
                        if b.get("properties")
                        else {}
                    ),
                }
            )
        if not blobs:
            return
        carried = {
            n
            for b in blobs
            for n, f in adopted_fid_by_name.items()
            if [f] == b["fields"]
        }
        ndv = {c: v for c, v in ndv.items() if c in carried}
        if not os.path.exists(dest):
            write_puffin(
                dest,
                blobs,
                properties={
                    "created-by": "iceberg-catalog-migrator-spark"
                },
            )
        parent = t.current_snapshot_id()
        psnap = t._load_snap(parent)
        t._commit(
            psnap["files"],
            "set-statistics",
            parent,
            extra={
                "table_stats": {
                    "snapshot_id": parent,
                    "path": os.path.relpath(dest, t.path),
                    "ndv": {c: int(v) for c, v in ndv.items()},
                },
            },
        )
    except Exception as exc:  # noqa: BLE001 - advisory, never block
        warnings.warn(
            f"adopt: could not carry source statistics: {exc}",
            stacklevel=2,
        )


def adopt_iceberg_table(
    spark,
    location: str,
    dest_path: str,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    ref: str | None = None,
):
    """Adopt an Iceberg table INTO the engine with zero data movement:
    the selected snapshot's data files hard-link into a new
    :class:`~.snapshots.SnapshotTable` as ONE append commit, and every
    column the source manifests carried bounds for gets its stats
    re-recorded so ``planned_scan`` prunes immediately. The inbound
    sibling of ``export_iceberg_metadata`` — together they make the
    pointer the reference migrates (CatalogMigrator.java:212-213)
    convertible in BOTH directions.

    PENDING DELETE FILES CARRY (metadata-only, like the data files):
    position-delete files and deletion vectors convert into one engine
    vector file with the source coordinates re-keyed to the adopted
    file names, and
    equality deletes link in at their recorded sequence numbers next
    to the data files' own stamps — so revive semantics (a key
    re-appended after its deletion) survive adoption exactly. The one
    inexpressible shape — equality deletes with HETEROGENEOUS key-column
    sets (the engine records one ``delete_keys`` set per snapshot) —
    falls back to a one-job copy-on-write materialization of the
    visible rows via :meth:`IcebergTable.read`."""
    import uuid as _uuid

    from .snapshots import SnapshotTable, add_files, record_file_stats

    it = IcebergTable(spark, location)
    snap = it.snapshot(snapshot_id, as_of_timestamp_ms, ref)
    entries, pos_deletes, eq_deletes, dvs, _ = it._manifest_entries(snap)
    if not entries:
        raise SnapshotError("source snapshot has no data files")
    src_state = _delete_state(entries, pos_deletes, eq_deletes, dvs)
    t = SnapshotTable(spark, dest_path)
    if t.current_snapshot_id() is not None:
        raise SnapshotError(
            f"destination {dest_path!r} already has commits: adoption "
            "creates a NEW table (a retry appending again would "
            "duplicate every row)"
        )
    name_by_id = {f["id"]: f["name"] for f in it.schema_fields(snap)}
    stat_cols = sorted(
        {
            name_by_id[fid]
            for e in entries
            for fid in set(e["lower"]) | set(e["upper"])
            if fid in name_by_id
        }
    )
    key_sets = {e["equality_ids"] for e in eq_deletes}
    # v3 row lineage adopts METADATA-ONLY too: every entry's assigned
    # first_row_id becomes the engine's per-file range, so the adopted
    # table's read_with_lineage serves the SAME stable _row_ids the
    # source table assigned
    lineage_adopt = it.format_version == 3 and all(
        e["first_row_id"] is not None for e in entries
    )
    # v3 initial-defaults are a READ-time rule bound to the SOURCE
    # schema: hard-linked files carry no marker of which columns must
    # fill which value, so a metadata-only adopt would silently serve
    # nulls for pre-addition files. Materialize ONLY when some live
    # file actually lacks a defaulted column (post-compaction tables
    # where every footer carries it adopt metadata-only, exactly) —
    # the footer reads are the same ones unify_schemas pays below.
    needs_default_fill = False
    dflt_cols = [n for n, _, _ in it._initial_defaults(snap)]
    if dflt_cols:
        import pyarrow.parquet as _pq_probe

        for e in entries:
            have = set(_pq_probe.read_schema(e["file_path"]).names)
            if any(c not in have for c in dflt_cols):
                needs_default_fill = True
                break
    if needs_default_fill or len(key_sets) > 1:
        # inexpressible as one snapshot's delete state: materialize the
        # VISIBLE rows in one Spark job (the import path already
        # applies both delete flavors sequence-exactly)
        if lineage_adopt:
            import warnings

            warnings.warn(
                "adopt: materializing visible rows (initial-defaults/"
                "heterogeneous deletes) re-ingests without the "
                "source's assigned row ids — read_with_lineage on the "
                "adopted table serves FRESH ids",
                stacklevel=2,
            )
        t.append(it.read(snapshot_id=snap["snapshot-id"]))
        if stat_cols:
            record_file_stats(t, stat_cols)
        _carry_adopted_statistics(it, snap, t, src_state)
        return t
    if not (pos_deletes or eq_deletes or dvs or lineage_adopt):
        add_files(t, [e["file_path"] for e in entries])
        if stat_cols:
            record_file_stats(t, stat_cols)
        _carry_adopted_statistics(it, snap, t, src_state)
        return t

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # same guard add_files applies on the no-delete path: one adopted
    # file whose footer conflicts with any sibling would poison every
    # mergeSchema read of the new table — refuse at adopt time, not at
    # first query
    try:
        pa.unify_schemas(
            [pq.read_schema(e["file_path"]) for e in entries]
        )
    except Exception as exc:
        raise SnapshotError(
            f"adopt: source data file schemas do not unify: {exc}"
        ) from exc
    os.makedirs(t._data, exist_ok=True)
    token = _uuid.uuid4().hex[:12]
    relmap: dict[str, str] = {}
    new_files: list[str] = []
    fseqs: dict[str, int] = {}
    for i, e in enumerate(entries):
        dest = os.path.join(t._data, f"{token}-added-{i:05d}.parquet")
        try:
            os.link(e["file_path"], dest)
        except OSError:
            import shutil

            shutil.copy2(e["file_path"], dest)
        rel = os.path.relpath(dest, t.path)
        # realpath, not abspath: a metadata tree may spell the same
        # physical file two ways (symlinked dirs, unnormalized
        # components) — delete-coordinate re-keying below must agree
        # with the data entry no matter which spelling each used
        relmap[os.path.realpath(e["file_path"])] = rel
        new_files.append(rel)
        fseqs[rel] = int(e["sequence"])
    extra: dict = {"file_seqs": fseqs}
    max_seq = max(fseqs.values(), default=0)
    if pos_deletes or dvs:
        # position-delete files and v3 deletion vectors adopt as ONE
        # engine vector file, each coordinate re-keyed to its adopted
        # file name. A coordinate naming a file outside this snapshot
        # (the delete outlived a rewrite) cannot match any adopted row:
        # dropping it is exact.
        coords = _coords_table(pos_deletes + dvs)
        srcs = pc.unique(coords["_file"])
        rels = pa.array(
            [relmap.get(os.path.realpath(f)) for f in srcs.to_pylist()], pa.string()
        )
        renamed = rels.take(pc.index_in(coords["_file"], value_set=srcs))
        coords = coords.set_column(0, "_file", renamed).filter(pc.is_valid(renamed))
        if len(coords):
            dest = os.path.join(t._data, f"{token}-posdel-00000.parquet")
            pq.write_table(coords, dest)
            extra["pos_deletes"] = [os.path.relpath(dest, t.path)]
    if eq_deletes:
        ids = next(iter(key_sets))
        missing = [fid for fid in ids if fid not in name_by_id]
        if missing:
            raise SnapshotError(
                f"equality delete references field ids {missing} absent "
                "from the snapshot schema"
            )
        key_cols = [name_by_id[fid] for fid in ids]
        dels: list[str] = []
        dseqs: dict[str, int] = {}
        for j, d in enumerate(eq_deletes):
            tbl = pq.read_table(d["file_path"], columns=key_cols)
            dest = os.path.join(t._data, f"{token}-eqdel-{j:05d}.parquet")
            pq.write_table(tbl, dest)
            rel = os.path.relpath(dest, t.path)
            dels.append(rel)
            dseqs[rel] = int(d["sequence"])
        extra["deletes"] = sorted(dels)
        extra["delete_keys"] = key_cols
        extra["delete_seqs"] = dseqs
        max_seq = max(max_seq, max(dseqs.values()))
    # future commits must sequence AFTER every adopted stamp
    extra["sequence_number"] = max_seq + 1
    if lineage_adopt:
        firsts = {
            relmap[os.path.realpath(e["file_path"])]: int(e["first_row_id"])
            for e in entries
        }
        extra["row_lineage"] = True
        extra["file_first_row_ids"] = firsts
        nxt = it.next_row_id()
        if nxt is None:  # defensive: derive past the highest adopted range
            nxt = max(
                int(e["first_row_id"]) + int(e["record_count"] or 0)
                for e in entries
            )
        extra["next_row_id"] = int(nxt)
    t._commit(sorted(new_files), "append", None, extra=extra)
    if stat_cols:
        record_file_stats(t, stat_cols)
    _carry_adopted_statistics(it, snap, t, src_state)
    return t


def iceberg_table_from_catalog(spark, catalog, identifier) -> IcebergTable:
    """Open the Iceberg metadata pointer a catalog entry registers —
    works identically on a MIGRATED entry (the migration plane moved
    the pointer string verbatim; the metadata tree and data never
    moved, the reference's core contract)."""
    return IcebergTable(
        spark, catalog.load_table_metadata_location(identifier)
    )
