"""Structured-Streaming source over snapshot tables: stream the commits.

The lakehouse consumption loop the reference's ecosystem assumes —
write batches into an (Iceberg-style) snapshot table, tail the table as
a stream — implemented with Spark 4's Python Data Source streaming API
over ``sources/snapshots.py`` tables:

- **Offsets are snapshot ids.** ``latestOffset`` reads the table's
  hint file (kilobytes of metadata, no data I/O); a micro-batch
  ``(start, end]`` plans exactly the data files ADDED between the two
  manifests — the same file-set difference ``read_incremental`` uses,
  so a batch never rescans history.
- **One input partition per added file.** Each executor task reads one
  parquet file as Arrow RecordBatches; a commit that lands 200 files
  fans out 200-wide with zero driver-side data movement.
- **Exactly-once across restarts for append-only tables.** Offsets are
  checkpointed by the engine; planning is a pure function of
  (manifests, offsets), so a restarted query replays the same file
  sets — no reader-side state to resync (contrast the synthetic
  source, whose generator position must track the checkpoint).
- **Any ref is tailable.** ``ref=<branch>`` follows a staging
  branch's head instead of main (offsets are ids in the shared log,
  so switching the option mid-checkpoint is safe iff the new ref's
  history contains the checkpointed snapshot). The declared schema
  comes from the ref actually being tailed — a branch whose head has
  additively evolved ahead of main streams its own columns.
- **Non-append commits fail loudly.** An overwrite/rollback in the
  offset range would re-emit carried files as if new; the planner
  walks the snapshot chain and raises unless ``ignore_changes=true``
  (the Delta-streaming contract). Merge-on-read equality deletes do
  not add data files and are NOT reflected in the plain stream.
- **``changelog=true`` turns the tail into a CDC stream.** Rows gain
  ``_change_type`` ('insert' | 'delete'); append commits emit their
  visible added rows as inserts, equality-delete commits emit the
  newly-hidden rows as deletes, and POSITIONAL-delete commits emit
  exactly the rows their new vectors hide (per-file ordinal filter,
  minus rows older vectors or equality keys already hid — Iceberg's
  changelog refuses DV tables) — per commit, exactly the rows
  ``read_changelog(parent, sid)`` computes. REWRITE commits (merge /
  overwrite / rollback) stream too, as Iceberg's NON-NET emission:
  removed files' visible rows emit as deletes, added files' as
  inserts, so a carried-identical rewritten row emits a delete+insert
  pair at the same ordinal — per-key consumers tie-break
  insert-over-delete within a commit and converge exactly (the CDC
  replication window does). Planning stays one input partition per
  affected data file; each task filters its file against the (small,
  keys-only) delete files, so the delete fan-out is table-wide I/O
  but zero driver-side data movement. Row-preserving maintenance
  (compaction, bin-packing, sort rewrites) diffs to empty and is
  skipped — CDC consumers survive table maintenance.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import pyarrow as pa

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from .mor import _coords_table, _eq_applies, _filter_by_keys, _keys_table

SNAPSHOT_STREAM_NAME = "snapshot_commits"

# operations whose new files are pure additions: safe to stream.
# delete = equality-delete commit (adds no data files); record-stats and
# compact/rewrite keep or rewrite existing rows (rewrites are caught by
# the carried-file check, listed here for the no-new-file fast path).
_APPEND_OPS = ("append", "delete", "pos-delete", "record-stats", "merge-insert-only")

# maintenance commits that rewrite FILES but preserve every visible ROW
# (compaction materializes already-applied deletes; bin-packing and
# sort rewrites keep content identical). Their row-level diff is empty
# by construction — read_changelog nets them to zero — so a changelog
# tail skips them instead of dying: CDC consumers survive table
# maintenance. The PLAIN tail still rejects them (it streams file
# additions, and a rewrite's files would re-emit every carried row).
_ROW_PRESERVING_OPS = ("compact-deletes", "rewrite-small-files", "rewrite-sorted")


def _arrow_field_type(t: pa.DataType) -> str:
    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp" if t.tz else "timestamp_ntz"
    if isinstance(t, pa.Decimal128Type):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_arrow_field_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{_arrow_field_type(f.type)}" for f in t)
        return f"struct<{inner}>"
    raise TypeError(f"unsupported parquet type for streaming: {t}")


def _arrow_to_ddl(schema: pa.Schema) -> str:
    return ", ".join(f"{f.name} {_arrow_field_type(f.type)}" for f in schema)


def _load_snap(path: str, sid: int) -> dict:
    # the shared resolver: manifests may be DELTA-encoded against their
    # parent (O(changed-files) commits); this returns the resolved
    # full-form snapshot either way, memoized across planner calls
    from .snapshots import load_manifest

    return load_manifest(path, sid)


def _rename_map(snap: dict, f_rel: str) -> dict | None:
    """written-name → current-name map for one file of a schema-tracked
    snapshot (field-id resolution, mirrors snapshots.py); None when the
    table is untracked or the file's names are already current."""
    schemas = snap.get("schemas")
    if not schemas:
        return None
    by_id = {s["schema_id"]: s for s in schemas}
    cur = {f["id"]: f["name"] for f in by_id[snap["current_schema_id"]]["fields"]}
    sid = snap.get("file_schema_ids", {}).get(f_rel, snap["current_schema_id"])
    m = {}
    for fld in by_id[sid]["fields"]:
        cname = cur.get(fld["id"])
        if cname is not None and cname != fld["name"]:
            m[fld["name"]] = cname
    return m or None


def _sid_as_of(path: str, ts_ms: int) -> int:
    """Newest snapshot committed at or before ``ts_ms`` — resolved from
    the commit-log timestamps (kilobytes, no manifest opens in steady
    state), the same index ``SnapshotTable.read_as_of`` consults.
    Legacy tables whose log misses ids fall back to one manifest read
    per missing id."""
    meta = os.path.join(path, "metadata")
    stamps: dict[int, int | None] = {}
    try:
        with open(os.path.join(meta, "commit-log.jsonl")) as f:
            for ln in f.read().splitlines():
                try:
                    e = json.loads(ln)
                except json.JSONDecodeError:
                    continue  # torn tail line
                stamps[int(e["snapshot_id"])] = e.get("timestamp_ms")
    except FileNotFoundError:
        pass
    try:
        listing = os.listdir(meta)
    except FileNotFoundError:
        listing = []
    for fn in listing:
        if fn.startswith("snap-") and fn.endswith(".json"):
            sid = int(fn[5:-5])
            if stamps.get(sid) is None:
                try:
                    stamps[sid] = _load_snap(path, sid).get("timestamp_ms")
                except Exception:
                    continue  # a CAS loser's vanishing staged manifest
    eligible = sorted(i for i, t in stamps.items() if t is not None and t <= ts_ms)
    if not eligible:
        raise ValueError(f"no snapshot at or before {ts_ms} at {path}")
    return eligible[-1]


def _current_sid(path: str, ref: str = "main") -> int:
    if ref != "main":
        try:
            with open(os.path.join(path, "metadata", "refs.json")) as f:
                refs = json.load(f)
        except FileNotFoundError:
            raise RuntimeError(f"no refs recorded at {path}; unknown ref {ref!r}") from None
        for kind in ("branches", "tags"):
            if ref in refs.get(kind, {}):
                return refs[kind][ref]
        raise RuntimeError(f"unknown ref {ref!r} at {path}")
    try:
        with open(os.path.join(path, "metadata", "snapshot-hint.text")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def _check_representable(snap: dict, parent_files: set) -> None:
    if snap["operation"] not in _APPEND_OPS and not parent_files <= set(snap["files"]):
        raise RuntimeError(
            f"snapshot {snap['snapshot_id']} ({snap['operation']!r}) rewrote "
            "or removed files; an append stream cannot represent it — restart "
            "from the current snapshot or set ignore_changes=true"
        )


def _added_files(path: str, start_sid: int, end_sid: int, ignore_changes: bool) -> list[str]:
    """Data files new in ``(start, end]`` — and the loud non-append check:
    any snapshot in the range whose files are not a superset of its
    parent's re-emits or drops rows when treated as an append stream."""
    if end_sid <= start_sid:
        return []
    end_snap = _load_snap(path, end_sid)
    before = set(_load_snap(path, start_sid)["files"]) if start_sid else set()
    if not ignore_changes:
        sid = end_sid
        while sid is not None and sid > start_sid:
            snap = _load_snap(path, sid)
            parent = snap.get("parent")
            parent_files = set(_load_snap(path, parent)["files"]) if parent else set()
            _check_representable(snap, parent_files)
            sid = parent
    return [f for f in end_snap["files"] if f not in before]


def _changelog_partitions(
    path: str, start_sid: int, end_sid: int, ignore_changes: bool
) -> list[dict]:
    """Per-commit change plans for ``(start, end]``: one dict per
    affected data file, matching ``read_changelog(parent, sid)`` commit
    by commit. Appends plan their added files (rows hidden by that
    snapshot's pending delete keys excluded); equality-delete commits
    plan EVERY data file filtered to rows matching the new delete keys
    and not the old ones (the rows whose visibility flipped). Plans
    come back OLDEST COMMIT FIRST and every row carries the commit's
    snapshot id (``_commit_snapshot_id``, Iceberg's _change_ordinal),
    so a consumer can apply a multi-commit micro-batch in order —
    without the ordinal an insert-then-delete pair in one batch is
    unorderable."""
    per_commit: list[list[dict]] = []
    sid = end_sid
    while sid is not None and sid > start_sid:
        snap = _load_snap(path, sid)
        parent = snap.get("parent")
        psnap = _load_snap(path, parent) if parent else {"files": [], "deletes": []}
        if snap["operation"] in _ROW_PRESERVING_OPS:
            # checked BEFORE the vector-state guard below: a
            # row-preserving commit has a provably empty changelog no
            # matter what it did to vector state (compact-deletes
            # MATERIALIZES pending vectors away — pos_now=[] !=
            # pos_parent is exactly its signature, not an anomaly; the
            # other rewrites refuse to run over pending deletes at all)
            per_commit.append([])
            sid = parent
            continue
        pos_now = snap.get("pos_deletes", [])
        pos_parent = psnap.get("pos_deletes", [])
        if snap["operation"] not in _APPEND_OPS:
            # REWRITE commit (merge / overwrite / rollback): non-net
            # emission of removed-as-deletes + added-as-inserts
            # (pos-delete never reaches here — it is in _APPEND_OPS
            # and takes its own vector-delta branch below)
            per_commit.append(_rewrite_commit_plans(path, snap, psnap))
            sid = parent
            continue
        if pos_now != pos_parent and snap["operation"] != "pos-delete":
            if ignore_changes:
                # the user explicitly opted out of exactness
                # (``ignore_changes=true`` — the Delta-streaming
                # contract): skip the unrepresentable commit instead
                # of killing the stream
                per_commit.append([])
                sid = parent
                continue
            # an append-class commit must never change vector state
            raise RuntimeError(
                f"snapshot {snap['snapshot_id']} ({snap['operation']!r}) "
                "changed positional-delete state outside a pos-delete "
                "commit; the changelog stream cannot represent it — "
                "compact_deletes on the source table first"
            )
        parent_files = set(psnap["files"])
        deletes = snap.get("deletes", [])
        key_cols = snap.get("delete_keys", [])
        plans: list[dict] = []
        if snap["operation"] == "pos-delete":
            # newly-hidden rows = exactly the delta vectors' (file, pos)
            # coordinates, minus rows the parent already hid (by vector
            # or by equality key). One driver-side coordinate read of
            # the NEW vector files names the touched files; everything
            # row-level stays executor-side per file.
            parent_vecs = set(pos_parent)
            new_vecs = [v for v in pos_now if v not in parent_vecs]
            touched = set(_coords_table(_abs(path, new_vecs))["_file"].to_pylist())
            plans.extend(
                _file_plan(
                    path, psnap, f, "delete", psnap.get("deletes", []),
                    vecs=pos_parent, sid=sid, pos_include=new_vecs,
                )
                for f in snap["files"]
                if f in touched
            )
            per_commit.append(plans)
            sid = parent
            continue
        plans.extend(
            _file_plan(path, snap, f, "insert", deletes, sid=sid)
            for f in snap["files"]
            if f not in parent_files
        )
        parent_dels = set(psnap.get("deletes", []))
        new_deletes = [d for d in deletes if d not in parent_dels]
        if new_deletes:
            # the parent's delete files only hide rows under the SAME
            # key columns; a key-set change voids the exclusion
            # wholesale (delete_where refuses to create that state)
            old_deletes = (
                psnap.get("deletes", [])
                if psnap.get("delete_keys") == key_cols
                else []
            )
            for f in snap["files"]:
                applying = [d for d in new_deletes if _eq_applies(snap, d, f)]
                if not applying:
                    # the file is sequenced past every new delete (a
                    # re-append): none of its rows flip
                    continue
                # rows the carried vectors already hide were never
                # visible: a newly-matched key among them is NOT a
                # newly-deleted row
                plans.append(
                    _file_plan(
                        path, snap, f, "delete", old_deletes,
                        vecs=pos_now, sid=sid, include=applying,
                    )
                )
        per_commit.append(plans)
        sid = parent
    # the walk went newest -> oldest; emit oldest commit first
    return [p for commit in reversed(per_commit) for p in commit]


def _rewrite_commit_plans(path: str, snap: dict, psnap: dict) -> list[dict]:
    """A REWRITE commit (merge / overwrite / rollback) in the CDC
    stream: emit each REMOVED file's parent-visible rows as deletes and
    each ADDED file's now-visible rows as inserts — Iceberg's NON-NET
    changelog emission (``create_changelog_view(net_changes=false)``).
    A rewritten-but-identical carried-over row therefore emits a
    delete+insert PAIR at the same commit ordinal; per-key consumers
    tie-break insert-over-delete within a commit (the CDC replication
    window does), so replicas still converge exactly.

    Exactness requires CARRIED files' visibility to be unchanged by the
    commit. Merge commits guarantee it for equality deletes (carried
    files hold no source keys — pruning contract, engine-tested) and
    the carried slice of the VECTOR state is verified exactly here
    (driver-side coordinate-set compare of the keys-only vector
    files). Any other operation that changes delete state while
    keeping files (a rollback across a delete) still fails loudly —
    that visibility flip has no per-file attribution."""
    sid = snap["snapshot_id"]
    snap_files, parent_files = set(snap["files"]), set(psnap["files"])
    carried = snap_files & parent_files
    pos_now = snap.get("pos_deletes", [])
    pos_parent = psnap.get("pos_deletes", [])

    if carried:
        if snap["operation"] == "merge":
            # the merge's vector rewrite must leave the carried files'
            # coordinates exactly as they were
            if pos_now != pos_parent and not _coords_table(
                _abs(path, pos_now), files=carried
            ).equals(_coords_table(_abs(path, pos_parent), files=carried)):
                raise RuntimeError(
                    f"snapshot {sid} (merge) changed positional-delete "
                    "coordinates on CARRIED files; the changelog stream "
                    "cannot attribute that — use read_changelog for the "
                    "batch diff"
                )
        elif pos_now != pos_parent or snap.get("deletes", []) != psnap.get(
            "deletes", []
        ):
            raise RuntimeError(
                f"snapshot {sid} ({snap['operation']!r}) changed delete "
                "state on carried files; the changelog stream cannot "
                "attribute that row-level — use read_changelog for the "
                "batch diff, or restart the stream from this snapshot"
            )

    return [
        _file_plan(
            path, psnap, f, "delete", psnap.get("deletes", []),
            vecs=pos_parent, sid=sid,
        )
        for f in psnap["files"]
        if f not in snap_files
    ] + [
        _file_plan(
            path, snap, f, "insert", snap.get("deletes", []),
            vecs=pos_now, sid=sid,
        )
        for f in snap["files"]
        if f not in parent_files
    ]


def _align_to_schema(tbl: pa.Table, schema: pa.Schema) -> pa.Table:
    """Project an arrow table onto the stream's declared schema: missing
    columns (file written before an additive evolution) become nulls,
    extra columns are dropped, types are cast. Executor-side, per
    batch — the Python analog of the batch reader's mergeSchema."""
    cols = []
    for field in schema:
        if field.name in tbl.column_names:
            col = tbl[field.name]
            if col.type != field.type:
                col = col.cast(field.type)
        else:
            col = pa.nulls(len(tbl), type=field.type)
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=schema)


def _abs(path: str, names) -> list[str]:
    return [os.path.join(path, n) for n in names]


def _file_plan(
    path: str,
    snap: dict,
    f: str,
    kind: str,
    deletes: list,
    vecs: list = (),
    sid: int | None = None,
    include: list = (),
    pos_include: list = (),
) -> dict:
    """The input-partition plan :func:`_read_plan` reads for data file
    ``f`` under ``snap``: the equality ``deletes`` that reach ``f`` by
    sequence (``exclude``), the vector files ``vecs`` whose ordinals in
    ``f`` are hidden, the field-id rename, and — for changelog plans —
    the delete / vector files whose matches ARE the emitted rows
    (``include`` / ``pos_include``, already scoped by the caller) and
    the commit ``sid`` stamped on every row."""
    return {
        "kind": kind,
        "file": os.path.join(path, f),
        # table-relative name: pos-delete vectors key on it
        "rel": f,
        "exclude": _abs(path, (d for d in deletes if _eq_applies(snap, d, f))),
        "include": _abs(path, include),
        "pos_exclude": _abs(path, vecs),
        "pos_include": _abs(path, pos_include),
        "keys": snap.get("delete_keys", []),
        "rename": _rename_map(snap, f),
        "sid": sid,
    }


def _read_plan(plan: dict, schema: pa.Schema | None):
    """Arrow batches of one planned data file — a :func:`_file_plan`
    dict, or ``{"file": path}`` for a plain tail — read executor-side:
    rows its vectors and equality deletes hide are dropped (changelog
    plans keep only the rows their ``include`` sides select), columns
    take their current names, rows of a commit plan are stamped with
    ``_change_type`` and ``_commit_snapshot_id``, and every batch is
    aligned to ``schema`` when given. The delete sides load once per
    file (keys-only, small by the merge-on-read write contract); row
    selection is vectorized arrow/numpy, not per-batch pandas merges."""
    import numpy as np
    import pyarrow.parquet as pq

    keys = plan.get("keys", [])
    include = _keys_table(plan["include"], keys) if plan.get("include") else None
    exclude = (
        _keys_table(plan["exclude"], keys) if plan.get("exclude") and keys else None
    )

    # this file's row ordinals named by the include / exclude vectors
    pos_inc, pos_exc = (
        _coords_table(plan[side], files=[plan["rel"]])["_pos"].to_numpy()
        if plan.get(side)
        else None
        for side in ("pos_include", "pos_exclude")
    )
    rename = plan.get("rename")
    row_offset = 0
    for batch in pq.ParquetFile(plan["file"]).iter_batches():
        tbl = pa.Table.from_batches([batch])
        base = row_offset
        row_offset += len(tbl)
        if pos_inc is not None or pos_exc is not None:
            ords = np.arange(base, base + len(tbl))
            mask = np.ones(len(tbl), dtype=bool)
            if pos_inc is not None:
                mask &= np.isin(ords, pos_inc)
            if pos_exc is not None:
                mask &= ~np.isin(ords, pos_exc)
            if not mask.any():
                continue
            if not mask.all():
                tbl = tbl.filter(pa.array(mask))
        if rename:
            tbl = tbl.rename_columns([rename.get(c, c) for c in tbl.column_names])
        if include is not None:
            tbl = _filter_by_keys(tbl, include, keys, keep_matching=True)
        if exclude is not None and len(tbl):
            tbl = _filter_by_keys(tbl, exclude, keys, keep_matching=False)
        if not len(tbl):
            continue
        if plan.get("sid") is not None:
            tbl = tbl.append_column(
                "_change_type", pa.array([plan["kind"]] * len(tbl), pa.string())
            ).append_column(
                "_commit_snapshot_id",
                pa.array([plan["sid"]] * len(tbl), pa.int64()),
            )
        if schema is not None:
            tbl = _align_to_schema(tbl, schema)
        yield from tbl.to_batches()


class _SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, options, spark_schema=None):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("snapshot_commits requires a 'path' option")
        self.ignore_changes = str(options.get("ignore_changes", "false")).lower() == "true"
        # starting_snapshot: stream only commits AFTER this id
        # (default 0 = from the beginning of retained history)
        self.start = int(options.get("starting_snapshot", "0"))
        # ref: tail a branch's head instead of main — e.g. follow the
        # staging branch a write-audit-publish stream commits to
        self.ref = options.get("ref", "main")
        if options.get("snapshot_id") is not None:
            raise ValueError(
                "snapshot_id is a BATCH option (spark.read); a stream tails "
                "a ref's head — use starting_snapshot to skip history"
            )
        if options.get("as_of_timestamp") is not None:
            raise ValueError(
                "as_of_timestamp is a BATCH option (spark.read); a stream "
                "tails a ref's head — use starting_snapshot to skip history"
            )
        self.changelog = str(options.get("changelog", "false")).lower() == "true"
        # the engine-resolved schema, as an arrow schema: every batch a
        # partition yields is aligned to it so files written before an
        # additive evolution stream with nulls for the new columns
        self.arrow_schema = None
        if spark_schema is not None:
            from pyspark.sql.pandas.types import to_arrow_schema

            self.arrow_schema = to_arrow_schema(spark_schema)

    def initialOffset(self):
        return {"sid": self.start}

    def latestOffset(self):
        return {"sid": max(self.start, _current_sid(self.path, self.ref))}

    def _check_schema_drift(self, end_sid: int) -> None:
        """Fail loudly if the table's current schema changed
        NON-additively after the stream started (rename/widen/drop):
        the query's declared schema is fixed at start, and letting the
        additive null-fill path absorb a rename would silently stream
        nulls for the renamed column. Additive adds stay absorbed
        (extra columns dropped), matching Delta's streaming contract —
        only non-additive changes require a restart."""
        if self.arrow_schema is None or end_sid <= 0:
            return
        snap = _load_snap(self.path, end_sid)
        schemas = snap.get("schemas")
        if not schemas:
            return
        cur = {
            f["name"]: f["type"]
            for s in schemas
            if s["schema_id"] == snap["current_schema_id"]
            for f in s["fields"]
        }
        drift = []
        for field in self.arrow_schema:
            if field.name in ("_change_type", "_commit_snapshot_id"):
                continue
            if field.name not in cur:
                drift.append(f"{field.name!r} renamed or dropped")
            elif cur[field.name] != _arrow_field_type(field.type):
                drift.append(
                    f"{field.name!r} changed type "
                    f"{_arrow_field_type(field.type)} -> {cur[field.name]}"
                )
        if drift:
            raise RuntimeError(
                "snapshot table schema changed non-additively while "
                f"streaming ({'; '.join(drift)}); restart the stream to "
                "bind the new schema"
            )

    def partitions(self, start, end):
        self._check_schema_drift(int(end["sid"]))
        if self.changelog:
            plans = _changelog_partitions(
                self.path, int(start["sid"]), int(end["sid"]), self.ignore_changes
            )
            return [InputPartition(p) for p in plans] or [InputPartition(None)]
        files = _added_files(
            self.path, int(start["sid"]), int(end["sid"]), self.ignore_changes
        )
        end_snap = _load_snap(self.path, int(end["sid"])) if files else None
        parts = []
        for f in files:
            if _rename_map(end_snap, f):
                # schema-tracked tail: rename written columns to the
                # current names (field-id resolution) before aligning
                plan = _file_plan(self.path, end_snap, f, "plain", [])
                parts.append(InputPartition(plan))
            else:
                parts.append(InputPartition(os.path.join(self.path, f)))
        return parts or [InputPartition(None)]

    def read(self, partition):
        plan = partition.value
        if plan is None:
            return
        if isinstance(plan, str):  # plain append tail: a bare path
            plan = {"file": plan}
        yield from _read_plan(plan, self.arrow_schema)

    def commit(self, end):
        # planning is pure over (manifests, offsets): nothing to ack
        pass


class SnapshotCommitsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return SNAPSHOT_STREAM_NAME

    def schema(self) -> str:
        import pyarrow.parquet as pq

        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot_commits requires a 'path' option")
        # resolve against the ref being TAILED: a staging branch whose
        # head additively evolved ahead of main must stream its own
        # columns, and a branch-only table (main never committed) must
        # still resolve
        sid_opt = self.options.get("snapshot_id")
        as_of_opt = self.options.get("as_of_timestamp")
        if (
            sum(
                o is not None
                for o in (sid_opt, as_of_opt, self.options.get("ref"))
            )
            > 1
        ):
            raise ValueError(
                "pass at most one of snapshot_id, ref, as_of_timestamp"
            )
        if sid_opt is not None:
            sid = int(sid_opt)
        elif as_of_opt is not None:
            sid = _sid_as_of(path, int(as_of_opt))
        else:
            sid = _current_sid(path, self.options.get("ref") or "main")
        if not sid:
            raise ValueError(f"no committed snapshot at {path}")
        snap = _load_snap(path, sid)
        files = snap["files"]
        if not files:
            raise ValueError(f"snapshot {sid} at {path} has no data files")
        if snap.get("schemas"):
            # schema-tracked table: the manifest's current schema IS
            # the contract (field-id resolved — renames and widening
            # included), no footer reads at all
            by_id = {s["schema_id"]: s for s in snap["schemas"]}
            ddl = ", ".join(
                f"{f['name']} {f['type']}"
                for f in by_id[snap["current_schema_id"]]["fields"]
            )
        else:
            # the stream schema is the UNION across the head snapshot's
            # files (mergeSchema semantics: additive evolution
            # mid-history must surface the new columns, whichever file
            # sorts last). One footer read per file, once per query
            # start — kilobytes each; planning never re-reads them.
            unified = pa.unify_schemas(
                [pq.read_schema(os.path.join(path, f)) for f in files]
            )
            if snap.get("row_lineage") and "_row_id" in unified.names:
                # lineage tables: rewrites materialize _row_id
                # physically; the connector surface hides it like the
                # plain read does (read_with_lineage surfaces ids) —
                # batches align to this schema, dropping the column
                unified = unified.remove(unified.get_field_index("_row_id"))
            ddl = _arrow_to_ddl(unified)
        if str(self.options.get("changelog", "false")).lower() == "true":
            # _commit_snapshot_id = Iceberg's _change_ordinal: lets a
            # consumer apply a multi-commit micro-batch in commit order
            ddl += ", _change_type string, _commit_snapshot_id bigint"
        return ddl

    def streamReader(self, schema):
        return _SnapshotStreamReader(self.options, spark_schema=schema)

    def reader(self, schema):
        return _SnapshotBatchReader(self.options, schema)

    def writer(self, schema, overwrite: bool):
        return _SnapshotTableWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "snapshot_commits streaming sink appends epochs as "
                "snapshots; complete/overwrite output mode is not supported"
            )
        return _SnapshotTableStreamWriter(self.options, schema)


def register_snapshot_stream_source(spark: SparkSession) -> None:
    """Idempotent per-session registration of the connector."""
    # the batch reader implements pushFilters (manifest-stats file
    # pruning); Spark refuses pushdown-capable Python readers unless
    # this (runtime-settable) conf is on. NOTE: session-wide side
    # effect — a session that must keep Python pushdown globally off
    # should call spark.dataSource.register(SnapshotCommitsDataSource)
    # directly and restrict itself to the stream/write paths.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotCommitsDataSource)


# ------------------------------------------------------------ batch read
class _SnapshotBatchReader(DataSourceReader):
    """Batch read of one snapshot (head of ``ref``, or ``snapshot_id``
    time travel) with MANIFEST-DRIVEN FILE PRUNING inside Spark's own
    planning: ``pushFilters`` intersects range predicates with each
    file's recorded [min, max] stats (``record_file_stats`` /
    ``rewrite_sorted``), so pruned files are never opened — the
    connector rendering of ``planned_scan``, driven by the query's own
    WHERE clause instead of explicit bounds. All filters are returned
    to Spark (pruning is file-level and lossy), so exact semantics are
    untouched. Merge-on-read equality deletes are applied per file
    executor-side; schema-tracked tables resolve renames by field id."""

    def __init__(self, options, spark_schema):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("snapshot_commits requires a 'path' option")
        if str(options.get("changelog", "false")).lower() == "true":
            raise ValueError(
                "changelog=true is a STREAMING option (readStream); for a "
                "batch diff use SnapshotTable.read_changelog"
            )
        ref = options.get("ref")
        sid = options.get("snapshot_id")
        as_of = options.get("as_of_timestamp")
        if sum(o is not None for o in (ref, sid, as_of)) > 1:
            raise ValueError(
                "pass at most one of snapshot_id, ref, as_of_timestamp"
            )
        if sid is not None:
            self.sid = int(sid)
        elif as_of is not None:
            self.sid = _sid_as_of(self.path, int(as_of))
        else:
            self.sid = _current_sid(self.path, ref or "main")
        if not self.sid:
            raise ValueError(f"no committed snapshot at {self.path}")
        self.apply_deletes = (
            str(options.get("apply_deletes", "true")).lower() == "true"
        )
        from pyspark.sql.pandas.types import to_arrow_schema

        self.arrow_schema = to_arrow_schema(spark_schema)
        # per-column closed interval [lo, hi] implied by pushed filters
        self.bounds: dict[str, list] = {}

    def pushFilters(self, filters):
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            lo_hi = self.bounds.setdefault(col, [None, None])
            if isinstance(f, EqualTo):
                lo_hi[0] = f.value if lo_hi[0] is None else max(lo_hi[0], f.value)
                lo_hi[1] = f.value if lo_hi[1] is None else min(lo_hi[1], f.value)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lo_hi[0] = f.value if lo_hi[0] is None else max(lo_hi[0], f.value)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                lo_hi[1] = f.value if lo_hi[1] is None else min(lo_hi[1], f.value)
        # file pruning is lossy (whole-file granularity): Spark must
        # still evaluate every filter on the surviving rows
        return filters

    def partitions(self):
        snap = _load_snap(self.path, self.sid)
        deletes = snap.get("deletes", []) if self.apply_deletes else []
        pos_deletes = snap.get("pos_deletes", []) if self.apply_deletes else []
        files = snap["files"]
        ranges = [
            (col, op, v)
            for col, (lo, hi) in self.bounds.items()
            for op, v in ((">=", lo), ("<=", hi))
            if v is not None
        ]
        # only when some bound is FINITE: an unbounded plan would pay a
        # sidecar scan (and an O(files) kept-set) to prune nothing
        if ranges:
            from .pruning import plan_files
            from .snapshots import SnapshotTable

            # a session-less handle: a range plan renders no probes
            table = SnapshotTable(None, self.path)
            kept = set(plan_files(table, self.sid, ranges, snap=snap).files)
            files = [f for f in files if f in kept]
        parts = [
            InputPartition(
                _file_plan(self.path, snap, f, "insert", deletes, vecs=pos_deletes)
            )
            for f in files
        ]
        return parts or [InputPartition(None)]

    def read(self, partition):
        if partition.value is not None:
            yield from _read_plan(partition.value, self.arrow_schema)


# ------------------------------------------------------------ batch write
@dataclass
class _FilesCommitMessage(WriterCommitMessage):
    files: list


def _sink_catalog(options: dict):
    """(catalog, identifier) when the sink targets a CATALOG-ARBITRATED
    table (``catalog_type`` + ``catalog_table`` [+ ``catalog_properties``
    k=v,k=v / ``catalog_name``] options), else None. Only strings are
    kept on the writer (it is pickled to executors); the catalog itself
    is opened per driver-side commit and closed after."""
    ctype = options.get("catalog_type")
    if not ctype:
        return None
    ident = options.get("catalog_table")
    if not ident:
        raise ValueError(
            "catalog_type requires catalog_table (dotted table identifier)"
        )
    from ..catalog.factory import build_catalog
    from ..catalog.identifiers import TableIdentifier

    props: dict[str, str] = {}
    for pair in str(options.get("catalog_properties", "")).split(","):
        if pair.strip():
            k, _, v = pair.partition("=")
            props[k.strip()] = v.strip()
    catalog = build_catalog(
        ctype, options.get("catalog_name", "sink"), props
    )
    return catalog, TableIdentifier.parse(ident)


class _SnapshotTableWriter(DataSourceArrowWriter):
    """``df.write.format("snapshot_commits")`` sink: each task streams
    its Arrow batches into ONE immutable uniquely-named file under
    ``data/`` (no driver-side data movement), the driver commits the
    collected file list as a single atomic snapshot — append or
    overwrite, on any ref. A failed job aborts by unlinking its staged
    files; the manifest never saw them, so readers never did either.
    Schema-tracked tables evolve through the same name-match/new-id
    path the API append uses (the writer knows the DataFrame schema)."""

    def __init__(self, options, spark_schema, overwrite: bool):
        # catalog-arbitrated sink: keep only the option STRINGS (the
        # writer is pickled to executors); commits open the catalog on
        # the driver and route through its compare-and-swap
        self._catalog_opts = {
            k: options.get(k)
            for k in (
                "catalog_type",
                "catalog_table",
                "catalog_properties",
                "catalog_name",
            )
            if options.get(k) is not None
        }
        self.path = options.get("path")
        if self._catalog_opts:
            made = _sink_catalog(self._catalog_opts)
            catalog, ident = made
            try:
                from .snapshots import CatalogArbitratedTable

                cat_path = CatalogArbitratedTable(None, catalog, ident).path
            finally:
                catalog.close()
            if self.path and os.path.abspath(self.path) != os.path.abspath(cat_path):
                # tasks stage under 'path' but commits land on the
                # catalog table's own location — accepting the mismatch
                # would commit manifests naming files that don't exist
                # under the committed table's root
                raise ValueError(
                    f"the 'path' option ({self.path!r}) disagrees with the "
                    f"catalog table's registered location ({cat_path!r}); "
                    "drop the path option — it is resolved from the catalog"
                )
            self.path = cat_path
        if not self.path:
            raise ValueError(
                "snapshot_commits requires a 'path' option (or catalog_type "
                "+ catalog_table for a catalog-arbitrated table)"
            )
        self.ref = options.get("ref", "main")
        self.overwrite = overwrite
        self.spark_schema = spark_schema

    def _target_table(self):
        """(table, catalog-or-None) for a driver-side commit: the
        CATALOG-arbitrated table when catalog options are present — its
        commits go through the catalog pointer's compare-and-swap, so
        the pointer never serves a stale head behind a live stream —
        else the plain flock-arbitrated table. Caller closes the
        catalog."""
        made = _sink_catalog(self._catalog_opts) if self._catalog_opts else None
        if made is None:
            from .snapshots import SnapshotTable

            return SnapshotTable(None, self.path), None
        catalog, ident = made
        from .snapshots import CatalogArbitratedTable

        return CatalogArbitratedTable(None, catalog, ident), catalog

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow.parquet as pq

        data_dir = os.path.join(self.path, "data")
        os.makedirs(data_dir, exist_ok=True)
        name = f"{_uuid.uuid4().hex[:12]}-w0000.parquet"
        full = os.path.join(data_dir, name)
        writer = None
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(full, batch.schema)
                writer.write_batch(batch)
        finally:
            if writer is not None:
                writer.close()
        if writer is None:  # empty task: no file
            return _FilesCommitMessage(files=[])
        return _FilesCommitMessage(files=[os.path.join("data", name)])

    def commit(self, messages):
        from .snapshots import _schema_extra_for_append, commit_with_retries

        new = [f for m in messages if m is not None for f in m.files]
        tbl, catalog = self._target_table()  # metadata ops never touch spark
        try:
            tbl._check_writable_ref(self.ref)

            def attempt():
                # re-read the head each try: a lost CAS race means the
                # table moved and the base file list must be rebuilt
                parent = tbl.head(self.ref)
                psnap = tbl._load_snap(parent) if parent else {}
                extra = (
                    _schema_extra_for_append(psnap, self.spark_schema, new)
                    if psnap.get("schemas")
                    else {}
                )
                if self.overwrite:
                    return tbl._commit(
                        new, "overwrite", parent, extra=extra, ref=self.ref
                    )
                base = psnap.get("files", [])
                return tbl._commit(
                    base + new, "append", parent, extra=extra, ref=self.ref
                )

            commit_with_retries(attempt)
        finally:
            if catalog is not None:
                catalog.close()

    def abort(self, messages):
        for m in messages:
            if m is None:
                continue
            for f in m.files:
                try:
                    os.unlink(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass


# ------------------------------------------------------------ stream write
class _SnapshotTableStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("snapshot_commits")`` sink: the DSv2
    rendering of ``streaming.jobs.write_stream_to_snapshot_table`` —
    each micro-batch's tasks stream Arrow batches into immutable files
    under ``data/`` (same per-task file shape as the batch writer, no
    driver-side data movement) and the driver commits the epoch as ONE
    atomic snapshot stamped ``{"epoch": batchId, "stream_id": ...}``.

    Exactly-once: foreachBatch-grade at-least-once epoch delivery is
    made idempotent AT THE TABLE — a replayed epoch finds its
    (stream_id, epoch) pair in the index-served committed set (O(1)
    manifest reads) and unlinks its re-staged files instead of
    committing them twice. ``stream_id`` defaults to the absolute
    checkpoint location — the namespace Spark scopes batch ids to —
    so a second query with a fresh checkpoint is never mistaken for a
    replay. ``ref=<branch>`` stages epochs on a branch (streaming
    write-audit-publish), identical to the foreachBatch sink."""

    def __init__(self, options, spark_schema):
        # the task writer resolves the data path — from the 'path'
        # option, or through the catalog for a catalog-arbitrated
        # target (catalog_type + catalog_table)
        self._task_writer = _SnapshotTableWriter(options, spark_schema, False)
        self.path = self._task_writer.path
        self.ref = options.get("ref", "main")
        ckpt = options.get("checkpointLocation")
        sid = options.get("stream_id")
        if sid is None and ckpt is not None:
            sid = os.path.abspath(ckpt)
        if sid is None:
            raise ValueError(
                "snapshot_commits streaming sink needs a stream identity "
                "for epoch idempotence: set .option('checkpointLocation', "
                "...) (used by default) or an explicit .option('stream_id', ...)"
            )
        self.stream_id = sid
        self.spark_schema = spark_schema

    def write(self, iterator):
        return self._task_writer.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        from .snapshots import _schema_extra_for_append, commit_with_retries

        new = [f for m in messages if m is not None for f in m.files]
        # catalog-arbitrated targets commit through the catalog's
        # compare-and-swap (and retry lost races re-reading the head),
        # so the catalog pointer tracks the stream epoch by epoch
        tbl, catalog = self._task_writer._target_table()
        try:
            committed = tbl.committed_stream_epochs()
            if (self.stream_id, int(batchId)) in committed:
                # replayed epoch: its snapshot is already live — the
                # staged re-write is surplus, drop it
                self.abort(messages, batchId)
                return
            if (None, int(batchId)) in committed:
                # legacy manifests predating stream-scoped epoch keys:
                # same loud conservative skip as the foreachBatch sink
                import warnings

                warnings.warn(
                    f"stream {self.stream_id!r}: epoch {int(batchId)} matched a "
                    "LEGACY manifest record with no stream_id and was skipped as "
                    "a replay. If this is a NEW stream writing into a table "
                    "populated before stream-scoped epoch keys, this skip is "
                    "DROPPING its batch — compact the table or start a fresh "
                    "one before attaching a second stream.",
                    stacklevel=2,
                )
                self.abort(messages, batchId)
                return
            tbl._check_writable_ref(self.ref)

            def attempt():
                # the replay check re-runs EVERY try: a lost CAS race
                # against a zombie instance of the SAME query (driver
                # failover) means the winner may have been this very
                # epoch — retrying blindly would append its rows twice
                if (self.stream_id, int(batchId)) in tbl.committed_stream_epochs():
                    self.abort(messages, batchId)
                    return None
                parent = tbl.head(self.ref)
                psnap = tbl._load_snap(parent) if parent else {}
                # TOCTOU guard: a racer can win THIS epoch between the
                # index check above and the head read — its commit IS
                # then the head, and the marker rides the head manifest
                # (written before the pointer swap, so it is visible
                # the instant the head is); building on it would land
                # the epoch twice with no CAS conflict to save us
                if (
                    psnap.get("stream_id") == self.stream_id
                    and psnap.get("epoch") == int(batchId)
                ):
                    self.abort(messages, batchId)
                    return None
                extra = {"epoch": int(batchId), "stream_id": self.stream_id}
                if psnap.get("schemas"):
                    extra.update(
                        _schema_extra_for_append(psnap, self.spark_schema, new)
                    )
                base = psnap.get("files", [])
                return tbl._commit(
                    base + new, "append", parent, extra=extra, ref=self.ref
                )

            commit_with_retries(attempt)
        finally:
            if catalog is not None:
                catalog.close()

    def abort(self, messages, batchId: int) -> None:
        self._task_writer.abort(messages)
