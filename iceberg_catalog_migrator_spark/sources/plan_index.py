"""Columnar scan-plan index: per-snapshot file stats as PARQUET
segments maintained INCREMENTALLY, O(changed files) per commit.

The resolved snapshot manifest is a Python dict — measured 23.1 MB per
100k files (SCALE.local.json ``manifest_memory``), i.e. ~2.3 GB at 10^7
files. Round 11 made PLANNING columnar (predicate pushdown over a
parquet sidecar), but every new snapshot still re-materialized the
resolved dict to rebuild its sidecar — O(files) memory and seconds per
commit, re-introducing at build time the ceiling planning had shed.

This is the same tension Iceberg resolves with its manifest-list
hierarchy: manifests are IMMUTABLE and SHARED across snapshots; a
commit writes one new manifest (the changed files) plus a small list.
The index here is the single-driver rendering of that structure:

* **Segments** (``metadata/plan-seg-*.parquet``) — immutable columnar
  row sets, one row per data file with the file's planning state
  (row count, sequence, schema id, partition tuple, per-column
  min/max). A commit's :func:`advance_plan_index` writes ONE new
  segment holding only the files the commit added or whose per-file
  state changed — O(delta) rows.
* **Index doc** (``metadata/plan-index-<sid>.json``) — a small JSON
  per snapshot: the ordered segment list, scalar planning state, and
  ``cur``, a churn-bounded map of superseded paths → the ordinal of
  the segment holding the path's CURRENT row (``-1`` = removed). A
  row ``(path, ordinal)`` is live iff ``cur.get(path, ordinal) ==
  ordinal``. Compaction (segment-count or dead-row thresholds, the
  sidecar analogue of the manifest chain's ``_REBASE_DEPTH`` rebase)
  folds all segments into one and clears ``cur`` — amortized O(1)
  per changed row, exactly the manifest encoder's accounting.

Planning reads push the keep-predicate into each segment's parquet
scan, then apply the ``cur`` filter vectorized (``pc.index_in``
against the small map) — the driver only ever holds Arrow buffers of
the MATCHING rows plus the churn-bounded map, never a per-file Python
object. The predicates are the Arrow renderings of the rules in
:mod:`.pruning`: :func:`plan_paths` takes ``(col, op, literal)``
ranges (the range rule; files without recorded stats carry nulls and
are always KEPT), :func:`plan_partition_paths` takes value sets in
their one form, ``{spec_id: {position: {vintage: frozenset | None}}}``
(the keep rule; a vintage is the file's ``schema_id``, ``None`` on an
untracked table). Stats columns whose values cannot type consistently
are listed in ``unindexed_cols`` and plans on them fall back to the
dict path.

Freshness: every commit writes its snapshot's index doc
(:func:`index_commit`, run by ``SnapshotTable._commit``), and the doc
records the snapshot doc's stat fingerprint (mtime_ns:size). A delta
commit advances from its parent's fresh doc (O(its delta)); a
full-form doc, a parent without a fresh doc, a structural spec or
schema change or a majority rewrite writes the full index from the
resolved manifest. A content-identical rewrite of a snapshot doc (the
rebase to full form of expiry and ``rewrite_manifests``) re-stamps an
index doc that was fresh (:func:`restamp`). Planning only reads: a
snapshot with no fresh doc (committed before commits wrote one, or its
doc rewritten with other content or lost) plans through the manifest
dict until the next commit indexes its successor.
Segments are shared across index docs, so what a snapshot's index
keeps is its doc plus the segments the doc names (:func:`index_files`),
one part of the table's reachable set (``snapshots._reachable``):
expiry unlinks the docs and segments only expired snapshots reach, and
the vacuum sweeps any no retained snapshot reaches.

Reference anchor: the reference migrates a metadata POINTER
(`CatalogMigrator.java:212-213`); this module keeps the pointer's
planning state pointer-sized in driver memory — and now pointer-sized
in per-commit maintenance — at 10^6-10^7 files.
"""

from __future__ import annotations

import json
import os
import uuid
from functools import reduce

_FORMAT_VERSION = 4  # v4: lazy spec-id default — part_spec_id stores the
# EXPLICIT per-file entry or NULL when the file has none, and readers
# resolve the effective id against the doc's current_spec_id at plan
# time (the dict rule file_spec_ids.get(f, current_spec_id) verbatim).
# That turns partition-spec evolution from a full O(files) rebake into
# a doc-scalar update. v1-v3 sidecars (baked defaults) rebuild once.

# compaction thresholds — the segment analogue of the manifest
# encoder's rebase rule: fold when the segment count would make plans
# pay too many footer opens, or when accumulated dead rows reach the
# live count (the fold then amortizes to O(1) per changed row)
_MAX_SEGMENTS = 64
_MIN_DEAD_FOR_COMPACT = 1024

# per-file manifest keys the index materializes as columns; deltas on
# any other per-file key (row lineage) never touch planning state
_IDX_PER_FILE = (
    "file_stats",
    "file_rows",
    "file_seqs",
    "file_partitions",
    "file_spec_ids",
    "file_schema_ids",
)
# scalar keys whose CHANGE restructures the index (spec/schema
# evolution re-bakes defaults into every row): advance refuses and the
# caller full-rebuilds — rare, and the rebuild is the exact answer
_STRUCTURAL_SCALARS = (
    "partition_spec",
    "partition_specs",
    "current_spec_id",
    "schemas",
    "current_schema_id",
)


def sidecar_path(table_path: str, snapshot_id: int) -> str:
    """The per-snapshot index DOC (v3: JSON; the name is kept from the
    single-parquet v2 era, whose ``.parquet`` sidecars nothing reads:
    the vacuum sweeps them as unreachable)."""
    return os.path.join(
        table_path, "metadata", f"plan-index-{snapshot_id}.json"
    )


def _segment_file(table_path: str, name: str) -> str:
    return os.path.join(table_path, "metadata", name)


def _doc_fingerprint(table_path: str, snapshot_id: int) -> str | None:
    fp = os.path.join(
        table_path, "metadata", f"snap-{snapshot_id}.json"
    )
    try:
        st = os.stat(fp)
    except FileNotFoundError:
        return None
    return f"{st.st_mtime_ns}:{st.st_size}"


# ------------------------------------------------------------ row model
# A planning row is a plain dict: path, rows, seq, schema_id,
# part (list[str] | None), part_spec_id, stats ({col: [lo, hi]}).


def _rows_from_snap(snap: dict) -> tuple[list[dict], dict | None]:
    """(planning rows, partition meta) from a RESOLVED snapshot dict —
    the full-build path; the only moment the dict must exist."""
    files = snap["files"]
    stats = snap.get("file_stats") or {}
    rows_map = snap.get("file_rows") or {}
    seqs_map = snap.get("file_seqs") or {}
    schid_map = snap.get("file_schema_ids") or {}
    parts_map = snap.get("file_partitions") or {}
    fsid_map = snap.get("file_spec_ids") or {}
    part_meta = _part_meta_from_snap(snap)
    out = []
    for f in files:
        tup = parts_map.get(f)
        out.append(
            {
                "path": f,
                "rows": rows_map.get(f),
                "seq": seqs_map.get(f),
                "schema_id": schid_map.get(f),
                "part": list(tup) if tup is not None else None,
                # v4: the EXPLICIT spec entry or None — the default
                # (current_spec_id) resolves at plan time from the doc,
                # so spec evolution never rebakes rows
                "part_spec_id": (
                    fsid_map.get(f) if tup is not None else None
                ),
                "stats": stats.get(f) or {},
            }
        )
    return out, part_meta


def _part_meta_from_snap(snap: dict) -> dict | None:
    specs = snap.get("partition_specs") or (
        [{"spec_id": 0, "spec": [list(p) for p in snap["partition_spec"]]}]
        if snap.get("partition_spec")
        else []
    )
    if not specs:
        return None
    parts_map = snap.get("file_partitions") or {}
    # max over BOTH the recorded tuples and the spec definitions: a
    # spec whose files were all compacted away still bounds future
    # tuples — freezing a smaller k would truncate a later delta
    # segment's columns and silently prune matching files
    max_k = max(
        max((len(t) for t in parts_map.values()), default=0),
        max(len(s["spec"]) for s in specs),
    )
    return {
        "specs": specs,
        "current_spec_id": snap.get(
            "current_spec_id", max(s["spec_id"] for s in specs)
        ),
        "max_k": max_k,
        # schema-tracked tables may carry files written under WIDENED
        # source-column types; bucket's hash is type-sensitive, so value
        # sets are rendered per vintage and matched on schema_id
        "schema_tracked": bool(snap.get("schemas")),
    }


# ------------------------------------------------------------ segment IO
def _write_segment(
    table_path: str,
    snapshot_id: int,
    rows: list[dict],
    part_meta: dict | None,
    stat_types: dict[str, str],
    unindexed: set[str],
) -> tuple[dict, dict[str, str], set[str]]:
    """Write ONE immutable segment holding ``rows`` and return its
    descriptor plus the updated (stat_types, unindexed) accounting.
    Column types must agree across segments (one plan literal serves
    every segment): a new column records its inferred Arrow type; a
    later segment whose values cannot take the recorded type marks the
    column unindexed (plans on it fall back to the dict path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stat_types = dict(stat_types)
    unindexed = set(unindexed)
    n = len(rows)
    cols: dict[str, pa.Array] = {
        "path": pa.array([r["path"] for r in rows], pa.string()),
        "rows": pa.array([r["rows"] for r in rows], pa.int64()),
        "seq": pa.array([r["seq"] for r in rows], pa.int64()),
        "schema_id": pa.array([r["schema_id"] for r in rows], pa.int64()),
    }
    part_k = 0
    if part_meta is not None:
        part_k = part_meta["max_k"]
        cols["has_part"] = pa.array(
            [r["part"] is not None for r in rows], pa.bool_()
        )
        cols["part_spec_id"] = pa.array(
            [r["part_spec_id"] for r in rows], pa.int64()
        )
        for i in range(part_k):
            try:
                cols[f"part:{i}"] = pa.array(
                    [
                        r["part"][i]
                        if r["part"] is not None and i < len(r["part"])
                        else None
                        for r in rows
                    ],
                    pa.string(),
                )
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                # non-string tuple values (never written by this
                # engine): drop ALL partition columns — the planner
                # treats a part-less segment conservatively
                for k in [c for c in cols if c.startswith(("has_part", "part"))]:
                    cols.pop(k)
                part_k = -1  # sentinel: no partition columns
                break
    seg_stat_cols: list[str] = []
    names = sorted({c for r in rows for c in r["stats"]})
    for c in names:
        if c in unindexed:
            continue
        mins = [(r["stats"].get(c) or (None, None))[0] for r in rows]
        maxs = [(r["stats"].get(c) or (None, None))[1] for r in rows]
        try:
            joint = pa.array(mins + maxs)
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            unindexed.add(c)
            continue
        if pa.types.is_null(joint.type):
            # every bound null: indistinguishable from absent stats
            # (both conservatively keep) — skip the columns
            continue
        want = stat_types.get(c)
        if want is not None and str(joint.type) != want:
            # cross-segment type drift (int vintage then float values):
            # one plan literal cannot serve both — conservative
            unindexed.add(c)
            continue
        stat_types.setdefault(c, str(joint.type))
        cols[f"min:{c}"] = joint.slice(0, n)
        cols[f"max:{c}"] = joint.slice(n)
        seg_stat_cols.append(c)
    name = f"plan-seg-{snapshot_id}-{uuid.uuid4().hex[:8]}.parquet"
    out = _segment_file(table_path, name)
    tmp = f"{out}.tmp.{os.getpid()}"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, out)
    desc = {
        "name": name,
        "rows": n,
        "stat_cols": seg_stat_cols,
        "part_k": part_k if part_meta is not None else -1,
    }
    return desc, stat_types, unindexed


def _write_doc(table_path: str, snapshot_id: int, doc: dict) -> str | None:
    fingerprint = _doc_fingerprint(table_path, snapshot_id)
    if fingerprint is None:
        return None  # snapshot expired mid-build
    doc = {
        "version": _FORMAT_VERSION,
        "fingerprint": fingerprint,
        "snapshot_id": snapshot_id,
        **doc,
    }
    out = sidecar_path(table_path, snapshot_id)
    tmp = f"{out}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(doc, f, separators=(",", ":"))
    os.replace(tmp, out)
    return out


def _read_doc(table_path: str, snapshot_id: int) -> dict | None:
    try:
        with open(sidecar_path(table_path, snapshot_id)) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    if doc.get("version") != _FORMAT_VERSION:
        return None
    return doc


def _fresh_doc(table_path: str, snapshot_id: int) -> dict | None:
    doc = _read_doc(table_path, snapshot_id)
    if doc is None:
        return None
    want = _doc_fingerprint(table_path, snapshot_id)
    if want is None or doc["fingerprint"] != want:
        return None
    return doc


def restamp(table_path: str, snapshot_id: int, doc: dict | None) -> None:
    """Keep ``doc`` — the snapshot's index doc, read fresh before its
    snapshot doc was rewritten in place with identical content (a
    rebase to full form) — fresh by stamping the rewritten snapshot
    doc's fingerprint. Nothing happens when there was no fresh doc;
    an I/O failure leaves the doc stale (the dict planner answers)."""
    if doc is None:
        return
    try:
        _write_doc(table_path, snapshot_id, {k: v for k, v in doc.items() if k != "fingerprint"})
    except OSError:
        pass


def _heal(table_path: str, snapshot_id: int) -> None:
    """A segment read failed under a fresh doc (GC race, torn file):
    drop the doc, so the snapshot plans through the dict and the next
    commit writes its successor's index in full."""
    try:
        os.unlink(sidecar_path(table_path, snapshot_id))
    except OSError:
        pass


# ------------------------------------------------------------ full build
def write_plan_index(table_path: str, snap: dict) -> str | None:
    """Build the index from a RESOLVED snapshot dict (the only moment
    the dict must exist — callers already hold it): ONE base segment +
    the doc. Returns the doc path, or None when the snapshot doc
    vanished underneath (expired mid-build)."""
    rows, part_meta = _rows_from_snap(snap)
    sid = snap["snapshot_id"]
    desc, stat_types, unindexed = _write_segment(
        table_path, sid, rows, part_meta, {}, set()
    )
    if part_meta is not None and desc["part_k"] < 0:
        part_meta = None  # untypeable tuples: no columnar partition plans
    return _write_doc(
        table_path,
        sid,
        {
            "live_files": len(rows),
            "has_file_stats": snap.get("file_stats") is not None,
            # top-level (specs or not): schema-tracked tables resolve
            # written column names through the dict — columnar merge
            # pruning gates off this flag. The schema LOG itself is
            # metadata-sized and rides along so the partition planner
            # can compute per-vintage typed probes without the dict.
            "schema_tracked": bool(snap.get("schemas")),
            "schemas": snap.get("schemas"),
            "current_schema_id": snap.get("current_schema_id"),
            "stat_cols": sorted(stat_types),
            "stat_types": stat_types,
            "unindexed_cols": sorted(unindexed),
            "partition_specs": part_meta,
            "segments": [desc],
            "cur": {},
        },
    )


# ------------------------------------------------------------ advance
def _fetch_current_rows(
    table_path: str, doc: dict, paths: set[str]
) -> dict[str, dict] | None:
    """The current planning rows of ``paths`` out of the index's
    segments — O(matching rows) driver memory via pushdown ``isin``
    reads. None when a path can't be served (torn segment, path not
    live) — the caller falls back to the full rebuild."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cur = doc["cur"]
    want = pa.array(sorted(paths), pa.string())
    found: dict[str, tuple[int, dict]] = {}
    try:
        for ordinal, seg in enumerate(doc["segments"]):
            if seg["rows"] == 0:
                continue
            tbl = pq.read_table(
                _segment_file(table_path, seg["name"]),
                filters=pc.field("path").isin(want),
            )
            if tbl.num_rows == 0:
                continue
            data = {c: tbl.column(c).to_pylist() for c in tbl.column_names}
            for i, p in enumerate(data["path"]):
                live_at = cur.get(p, ordinal)
                if live_at != ordinal:
                    continue
                stats = {}
                for c in seg["stat_cols"]:
                    lo = data[f"min:{c}"][i]
                    hi = data[f"max:{c}"][i]
                    if lo is not None or hi is not None:
                        stats[c] = [lo, hi]
                part = None
                hp = data.get("has_part")
                if seg["part_k"] > 0 and hp is not None and hp[i]:
                    part = [
                        data[f"part:{j}"][i] for j in range(seg["part_k"])
                    ]
                    while part and part[-1] is None:
                        part.pop()
                found[p] = (
                    ordinal,
                    {
                        "path": p,
                        "rows": data["rows"][i],
                        "seq": data["seq"][i],
                        "schema_id": data["schema_id"][i],
                        "part": part,
                        "part_spec_id": (
                            data["part_spec_id"][i] if part is not None else None
                        ),
                        "stats": stats,
                    },
                )
    except Exception:  # torn/GC-raced segment
        _heal(table_path, doc["snapshot_id"])
        return None
    if set(found) != paths:
        return None  # a changed path has no live row: inconsistent
    return {p: row for p, (_, row) in found.items()}


def advance_plan_index(table_path: str, snapshot_id: int, raw: dict) -> dict | None:
    """Derive ``snapshot_id``'s index from its PARENT's index plus the
    commit's raw delta doc — O(changed files), never materializing the
    resolved dict. Returns the new doc, or None when incremental
    maintenance can't answer (no fresh parent index, full-form doc,
    structural spec/schema change) and the caller full-rebuilds."""
    if "delta_base" not in raw:
        return None
    pdoc = _fresh_doc(table_path, raw["delta_base"])
    if pdoc is None:
        return None
    cleared = set(raw.get("cleared", []))
    if cleared & set(_IDX_PER_FILE) or cleared & set(_STRUCTURAL_SCALARS):
        return None  # wholesale restructure: the full build is the answer
    added = raw.get("files_added", [])
    removed = raw.get("files_removed", [])
    pf_cleared = raw.get("pf_cleared", {})
    delta = {k: raw.get(k) or {} for k in _IDX_PER_FILE}
    pfc = {k: set(pf_cleared.get(k) or ()) for k in _IDX_PER_FILE}
    removed_set = set(removed)
    added_set = set(added)
    changed: set[str] = set(added)
    for k in _IDX_PER_FILE:
        changed |= set(delta[k])
        changed |= pfc[k]
    changed -= removed_set
    need_parent = changed - added_set
    if len(need_parent) > 10_000 and len(need_parent) * 2 > pdoc["live_files"]:
        # majority rewrite (e.g. a rename re-keying every file's
        # stats): fetching most parent rows as Python dicts costs ~5x
        # a columnar full build at the same scale — let the caller
        # rebuild instead (measured at 200k files: advance 4.3s vs
        # full build 0.9s)
        return None
    base_rows = (
        _fetch_current_rows(table_path, pdoc, need_parent)
        if need_parent
        else {}
    )
    if base_rows is None:
        return None
    # structural scalars (spec/schema evolution) are DOC-LEVEL state in
    # v4: rows store only explicit per-file values, so evolution is a
    # scalar update here — no per-row rebake, no dict
    part_meta = pdoc.get("partition_specs")
    schemas = raw["schemas"] if "schemas" in raw else pdoc.get("schemas")
    current_schema_id = (
        raw["current_schema_id"]
        if "current_schema_id" in raw
        else pdoc.get("current_schema_id")
    )
    schema_tracked = bool(schemas)
    if any(
        k in raw
        for k in ("partition_spec", "partition_specs", "current_spec_id")
    ):
        specs = raw.get("partition_specs")
        if not specs:
            # the spec moved but its list did not (an existing spec
            # re-selected, or a table from before spec ids): only the
            # resolved manifest says which spec each id names
            return None
        part_meta = {
            "specs": [{**s, "spec": [list(p) for p in s["spec"]]} for s in specs],
            "current_spec_id": raw.get(
                "current_spec_id",
                (part_meta or {}).get(
                    "current_spec_id", max(s["spec_id"] for s in specs)
                ),
            ),
            # widen, never shrink: a spec whose files were compacted
            # away still bounds future tuples
            "max_k": max(
                (part_meta or {}).get("max_k", 0),
                max(len(s["spec"]) for s in specs),
            ),
            "schema_tracked": schema_tracked,
        }
    elif part_meta is not None and bool(
        part_meta.get("schema_tracked")
    ) is not schema_tracked:
        part_meta = {**part_meta, "schema_tracked": schema_tracked}
    empty = {
        "rows": None,
        "seq": None,
        "schema_id": None,
        "part": None,
        "part_spec_id": None,
        "stats": {},
    }
    new_rows: list[dict] = []
    for p in sorted(changed):
        base = base_rows.get(p, empty)

        def _field(key, cur_val):
            if p in pfc[key]:
                return None
            return delta[key].get(p, cur_val)

        tup = _field("file_partitions", base["part"])
        # v4 stores the EXPLICIT spec entry (or None) — the dict rule's
        # current_spec_id default resolves at plan time from the doc,
        # so it stays correct across spec evolution without a rebake
        psid = _field("file_spec_ids", base["part_spec_id"])
        new_rows.append(
            {
                "path": p,
                "rows": _field("file_rows", base["rows"]),
                "seq": _field("file_seqs", base["seq"]),
                "schema_id": _field("file_schema_ids", base["schema_id"]),
                "part": list(tup) if tup is not None else None,
                "part_spec_id": psid if tup is not None else None,
                "stats": (
                    {}
                    if p in pfc["file_stats"]
                    else delta["file_stats"].get(p, base["stats"]) or {}
                ),
            }
        )
    stat_types = dict(pdoc["stat_types"])
    unindexed = set(pdoc["unindexed_cols"])
    segments = list(pdoc["segments"])
    cur = dict(pdoc["cur"])
    if part_meta is not None and new_rows:
        # a delta may carry tuples LONGER than any the parent index
        # saw (e.g. the longer spec's files were all compacted away at
        # full-build time): widen max_k or the new segment's columns
        # would truncate and plan_partition_paths would silently prune
        # files whose tuples DO match
        longest = max(
            (
                len(r["part"])
                for r in new_rows
                if r["part"] is not None
            ),
            default=0,
        )
        if longest > part_meta["max_k"]:
            part_meta = {**part_meta, "max_k": longest}
    if new_rows:
        desc, stat_types, unindexed = _write_segment(
            table_path, snapshot_id, new_rows, part_meta, stat_types, unindexed
        )
        if part_meta is not None and desc["part_k"] < 0:
            return None  # untypeable tuples appeared: full rebuild decides
        ordinal = len(segments)
        segments.append(desc)
        for p in changed:
            if p in base_rows or p in cur:
                cur[p] = ordinal
            # brand-new path in exactly one segment: no entry needed
    for p in removed_set:
        cur[p] = -1
    live = pdoc["live_files"] + len(added_set) - len(removed_set)
    has_stats = pdoc["has_file_stats"] or bool(raw.get("file_stats"))
    doc = {
        "live_files": live,
        "has_file_stats": has_stats,
        # doc-level structural state, advanced above when the commit
        # evolved the spec/schema (v4: rows never bake these)
        "schema_tracked": schema_tracked,
        "schemas": schemas,
        "current_schema_id": current_schema_id,
        "stat_cols": sorted(set(stat_types) | set(unindexed)),
        "stat_types": stat_types,
        "unindexed_cols": sorted(unindexed),
        "partition_specs": part_meta,
        "segments": segments,
        "cur": cur,
    }
    dead_rows = sum(s["rows"] for s in segments) - live
    if len(segments) > _MAX_SEGMENTS or (
        dead_rows >= max(live, _MIN_DEAD_FOR_COMPACT)
    ):
        compacted = _compact(table_path, snapshot_id, doc)
        if compacted is not None:
            doc = compacted
    if _write_doc(table_path, snapshot_id, doc) is None:
        return None
    return doc


def _compact(table_path: str, snapshot_id: int, doc: dict) -> dict | None:
    """Fold all segments into one (live rows only) — the amortized
    rebase of the segment chain. Columnar throughout: per-segment
    vectorized cur-filter, schema-unifying concat, one write. Peak
    memory is O(live rows) ARROW buffers (~30 B/row), not Python
    objects — and the trigger rule amortizes it to O(1) per changed
    row, mirroring the manifest encoder's weight rule."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        tabs = []
        for ordinal, seg in enumerate(doc["segments"]):
            if seg["rows"] == 0:
                continue
            tbl = pq.read_table(_segment_file(table_path, seg["name"]))
            keep = _live_mask(tbl.column("path"), ordinal, doc["cur"])
            tbl = tbl.filter(keep)
            if tbl.num_rows:
                tabs.append(tbl)
        merged = (
            pa.concat_tables(tabs, promote_options="permissive")
            if tabs
            else None
        )
    except Exception:
        return None  # keep the uncompacted (correct) form
    name = f"plan-seg-{snapshot_id}-{uuid.uuid4().hex[:8]}.parquet"
    out = _segment_file(table_path, name)
    tmp = f"{out}.tmp.{os.getpid()}"
    if merged is None:
        merged = pa.table({"path": pa.array([], pa.string())})
    pq.write_table(merged, tmp)
    os.replace(tmp, out)
    stat_cols = sorted(
        {c for s in doc["segments"] for c in s["stat_cols"]}
        & {
            c[4:]
            for c in merged.column_names
            if c.startswith("min:")
        }
    )
    part_k = max((s["part_k"] for s in doc["segments"]), default=-1)
    if "has_part" not in merged.column_names:
        part_k = -1
    return {
        **doc,
        "segments": [
            {
                "name": name,
                "rows": merged.num_rows,
                "stat_cols": stat_cols,
                "part_k": part_k,
            }
        ],
        "cur": {},
    }


# ------------------------------------------------------------ commit
def index_commit(table_path: str, snapshot_id: int) -> None:
    """Write the index doc of the snapshot a commit just wrote. A delta
    doc advances from its parent's fresh doc; a full-form doc (first
    commits, rebase points), a parent without a fresh doc, a structural
    spec or schema change or a majority rewrite writes the full index
    from the resolved manifest. An I/O failure leaves the snapshot
    without a doc — it plans through the dict — rather than failing a
    commit that is already durable."""
    try:
        with open(os.path.join(table_path, "metadata", f"snap-{snapshot_id}.json")) as f:
            raw = json.load(f)
        if "delta_base" in raw:
            if advance_plan_index(table_path, snapshot_id, raw) is not None:
                return
            from .snapshots import load_manifest

            raw = load_manifest(table_path, snapshot_id)
        write_plan_index(table_path, raw)
    except OSError:
        pass


def index_files(table_path: str, snapshot_id: int) -> list[str]:
    """The table-relative files a snapshot's index keeps: its doc and
    the segments the doc names; none when the snapshot has no readable
    doc of the current format — planning never reads such a doc."""
    doc = _read_doc(table_path, snapshot_id)
    if doc is None:
        return []
    return [
        os.path.relpath(sidecar_path(table_path, snapshot_id), table_path),
        *(os.path.join("metadata", s["name"]) for s in doc["segments"]),
    ]


# ------------------------------------------------------------ plan reads
def _live_mask(paths, ordinal: int, cur: dict):
    """Vectorized liveness: keep row (path, ordinal) iff
    cur.get(path, ordinal) == ordinal."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not cur:
        import numpy as np

        return pa.array(np.ones(len(paths), dtype=bool))
    keys = pa.array(list(cur.keys()), pa.string())
    vals = pa.array(list(cur.values()), pa.int64())
    expected = pc.take(vals, pc.index_in(paths, value_set=keys))
    return pc.or_kleene(
        pc.is_null(expected),
        pc.equal(expected, pa.scalar(ordinal, pa.int64())),
    )


def first_path(table_path: str, doc: dict) -> str | None:
    """Any one LIVE file path of the fresh ``doc``'s snapshot (a schema
    anchor) without materializing the file list — newest segments
    first, so the scan stops within the churn-bounded dead prefix."""
    import pyarrow.parquet as pq

    cur = doc["cur"]
    try:
        for ordinal in range(len(doc["segments"]) - 1, -1, -1):
            seg = doc["segments"][ordinal]
            if seg["rows"] == 0:
                continue
            pf = pq.ParquetFile(_segment_file(table_path, seg["name"]))
            for batch in pf.iter_batches(batch_size=1024, columns=["path"]):
                for p in batch.column("path").to_pylist():
                    if cur.get(p, ordinal) == ordinal:
                        return p
    except Exception:
        _heal(table_path, doc["snapshot_id"])
        return None
    return None


def _live_paths(table_path: str, doc: dict, seg_filter) -> list[str] | None:
    """The live paths of the rows passing ``seg_filter(segment)`` — a
    pushdown predicate per segment, None keeping every row — across
    all of ``doc``'s segments. None when a segment read fails: a torn
    segment (the doc is dropped: see :func:`_heal`) or a predicate
    the segment cannot evaluate (an incomparable literal)."""
    import pyarrow.dataset as ds

    kept: list[str] = []
    try:
        for ordinal, seg in enumerate(doc["segments"]):
            if seg["rows"] == 0:
                continue
            dataset = ds.dataset(
                _segment_file(table_path, seg["name"]), format="parquet"
            )
            tbl = dataset.to_table(columns=["path"], filter=seg_filter(seg))
            if tbl.num_rows == 0:
                continue
            paths = tbl.column("path").combine_chunks()
            kept.extend(paths.filter(_live_mask(paths, ordinal, doc["cur"])).to_pylist())
    except OSError:
        _heal(table_path, doc["snapshot_id"])
        return None
    except Exception:
        # the plan is an optimization: the dict path answers exactly
        return None
    return kept


def plan_paths(
    table_path: str, doc: dict, filters: list[tuple]
) -> tuple[list[str], dict] | None:
    """Columnar scan plan over the fresh index ``doc``: the
    table-relative paths surviving ``filters`` (``[(col, op, literal),
    ...]`` with ops ``= < <= > >=``, the range rule
    :func:`.pruning.keep_expr`), plus a summary dict. Each segment's
    read pushes the keep-predicate into the parquet scan (columns the
    segment never indexed conservatively keep), then the churn-bounded
    ``cur`` map filters superseded rows vectorized — driver memory is
    O(matching files + churn), never the full file list as Python
    objects.

    Returns None when a columnar plan can't answer exactly — a
    filtered column recorded but unindexable, or a literal that won't
    compare against the indexed type — and the caller falls back to
    the dict planner."""
    from .pruning import keep_expr

    if any(c in doc["unindexed_cols"] for c, _, _ in filters):
        return None

    def seg_filter(seg):
        # a column the segment never indexed prunes nothing there
        # (same rule as missing stats)
        exprs = [keep_expr(*f) for f in filters if f[0] in seg["stat_cols"]]
        return reduce(lambda a, b: a & b, exprs) if exprs else None

    kept = _live_paths(table_path, doc, seg_filter)
    if kept is None:
        return None
    return kept, {
        "total_files": doc["live_files"],
        "scanned_files": len(kept),
        "columnar": True,
        "has_file_stats": doc["has_file_stats"],
    }


def plan_partition_paths(
    table_path: str, doc: dict, wanted_by_spec: dict[int, dict[int, dict]]
) -> tuple[list[str], int] | None:
    """Columnar partition plan over the fresh index ``doc``: the paths
    whose recorded tuple passes the keep rule
    (:func:`.pruning.keep_tuple_expr`) under ``wanted_by_spec``
    — value sets in their one form, ``{spec_id: {position: {vintage:
    frozenset | None}}}`` — plus the total file count. Tuple-less files,
    files under spec ids outside the map and files whose vintage the map
    does not list keep. None when the index can't answer (no partition
    columns indexed, a torn segment)."""
    from .pruning import keep_tuple_expr

    if not doc.get("partition_specs"):
        return None
    # v4: a NULL part_spec_id means "no explicit entry" — the file's
    # effective spec is the doc's CURRENT one (the dict rule
    # file_spec_ids.get(f, current_spec_id)), resolved at plan time so
    # spec evolution never rewrites rows
    cur_spec = doc["partition_specs"]["current_spec_id"]
    kept = _live_paths(
        table_path,
        doc,
        lambda seg: (
            None  # segment predates partition columns: keep all
            if seg["part_k"] < 0
            else keep_tuple_expr(wanted_by_spec, seg["part_k"], cur_spec)
        ),
    )
    return None if kept is None else (kept, doc["live_files"])


def paths_missing_stat(table_path: str, doc: dict, col: str) -> list[str] | None:
    """LIVE paths of the fresh index ``doc`` with NO recorded [min, max] for ``col`` (both bounds
    null, or the file's segment never indexed the column) — the merge
    planner's footer-fallback set; each such file pays one footer read
    and gets its discovered range recorded. None when the index can't
    answer (unindexed column, torn segment)."""
    import pyarrow.compute as pc

    if col in doc["unindexed_cols"]:
        return None
    return _live_paths(
        table_path,
        doc,
        lambda seg: (
            pc.field(f"min:{col}").is_null() & pc.field(f"max:{col}").is_null()
            if col in seg["stat_cols"]
            else None  # column never indexed here: every row missing
        ),
    )


def current_rows_table(table_path: str, snapshot_id: int):
    """All LIVE rows of the snapshot's fresh index as one Arrow table
    (schema-unified across segments), or None when it has no fresh
    index — a test/inspection helper, not a planning path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    doc = _fresh_doc(table_path, snapshot_id)
    if doc is None:
        return None
    tabs = []
    for ordinal, seg in enumerate(doc["segments"]):
        if seg["rows"] == 0:
            continue
        tbl = pq.read_table(_segment_file(table_path, seg["name"]))
        tbl = tbl.filter(_live_mask(tbl.column("path"), ordinal, doc["cur"]))
        if tbl.num_rows:
            tabs.append(tbl)
    if not tabs:
        return pa.table({"path": pa.array([], pa.string())})
    return pa.concat_tables(tabs, promote_options="permissive")
