"""Snapshot-tracked parquet tables: the data-plane half of the pointer
metadata the migration plane moves around.

The reference migrates *table pointers* between catalogs
(`/root/reference/api/src/main/java/org/projectnessie/tools/catalog/migration/api/CatalogMigrator.java:208-224`
registers a metadata location; it never touches data). This module
gives the engine the matching data-plane behaviors a lakehouse table
owner expects — snapshot isolation, time travel, rollback, incremental
(CDC-style) reads, and snapshot expiry — over plain parquet plus tiny
JSON manifests, using the pointer catalogs' hint-file convention
(``snapshot-hint.text`` beside the catalog's ``version-hint.text`` —
same directory, distinct pointers, so a table can be BOTH
snapshot-tracked and catalog-registered; see ``register_in_catalog``).

Layout::

    <table>/data/<uuid>-<n>.parquet     immutable data files
    <table>/metadata/snap-<N>.json      {"files": [...], "parent": ...}
    <table>/metadata/snapshot-hint.text latest committed N
    <table>/metadata/v<K>.metadata.json catalog docs (when registered)

Design rules, all load-bearing at scale:

- **Immutable data files.** Every write lands new files; a snapshot is
  a FILE LIST, so time travel and rollback are metadata-only and an
  incremental read between two snapshots is a set difference — the
  engine scans exactly the delta files, no diff join over rows.
- **Atomic commits with optimistic concurrency.** A commit takes the
  table's ``commit.lock`` (``flock``), re-checks that the ref still
  names its parent, creates the manifest with ``O_CREAT|O_EXCL`` (a
  manifest id can never be silently overwritten — ``EEXIST`` is a
  :class:`CommitConflictError`, covering shared filesystems where the
  flock does not travel), then swaps the head pointer via
  ``os.replace``. Readers see the old or the new snapshot, never a
  partial one; of N same-host writers racing off one parent exactly
  one wins and the rest get :class:`CommitConflictError` — the same
  atomic-swap contract the reference outsources to its catalogs
  (``CatalogMigrator.java:208-224`` registers through the catalog's
  own atomic commit).
- **Expiry never breaks retained history.** ``expire_snapshots`` drops
  the oldest manifests and deletes only files no retained snapshot
  reaches (``_reachable``); reads of retained snapshots are untouched
  and a read of an expired one fails with the retention hint.
"""

from __future__ import annotations

import fcntl
import glob
import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession

from ..catalog.table_metadata import SnapshotError
from .mor import (
    _by_coords,
    _coords_df,
    _coords_table,
    _delete_seq,
    _eq_exempt_files,
    _file_seq,
    _hide_sequenced,
    _keys_table,
    _row_identity,
)
from .pruning import _file_schema, overlaps, plan_files, transform_col


class CommitConflictError(SnapshotError):
    """Another commit advanced the table since this writer's snapshot."""


# NOT the catalog's version-hint.text: a registered snapshot table keeps
# its catalog metadata docs in the SAME metadata/ dir, so the two hint
# files must not collide (catalog hint = metadata doc version, this
# hint = snapshot id)
_HINT = "snapshot-hint.text"

# Named refs beyond "main" (branches and tags, Nessie-style git-for-data
# semantics — the reference lives in the projectnessie org, whose whole
# catalog model is branch/tag pointers over immutable snapshots). "main"
# stays in snapshot-hint.text so pre-refs tables and readers keep
# working; every other ref lives here.
_REFS = "refs.json"
MAIN = "main"

# Default visible-row maintenance per commit operation (see _commit):
# "append" ops only add fully-visible rows, "fresh_full" ops replace
# every file and inherit no pending deletes, so the footer row counts
# ARE the visible count, "preserve" ops are row-preserving metadata
# commits. Data-dependent ops (delete/pos-delete/merge/rollback) pass
# explicit values instead.
_VIS_MODE_BY_OP = {
    "append": "append",
    "merge-insert-only": "append",
    "overwrite": "fresh_full",
    "compact-deletes": "fresh_full",
    "rewrite-small-files": "fresh_full",
    "rewrite-sorted": "fresh_full",
    "track-schema": "preserve",
    "enable-lineage": "preserve",
    "record-stats": "preserve",
    "set-statistics": "preserve",
}

# ------------------------------------------------------------ manifests
# O(changed-files) manifest encoding — the engine's rendering of
# Iceberg's manifest-list hierarchy (the metadata structure the
# reference's migrated pointers actually reference:
# `CatalogMigrator.java:212-213` moves `metadataFileLocation()`, and
# real Iceberg splits each snapshot into a manifest list + per-manifest
# file groups so a commit writes O(changed files)). Here a commit's
# manifest is encoded as a DELTA against its parent whenever that is
# materially smaller than the full file list:
#
#   {"delta_base": P, "delta_depth": d,
#    "files_added": [...], "files_removed": [...],
#    "file_stats": {<changed entries only>}, ...,
#    "cleared": [<inherited keys the parent had and this commit drops>],
#    "pf_cleared": {<per-file-map>: [<surviving files whose entry was dropped>]}}
#
# so a 1-row MERGE into a 10^6-file table writes kilobytes, not a
# ~100 MB re-serialization of the whole file list. Readers resolve
# through `load_manifest` (below), which walks the base chain — depth
# is bounded by _REBASE_DEPTH, after which a full manifest is written
# (the rebase point) — and memoizes resolved snapshots, so steady-state
# resolution is one O(delta) read. Full-form manifests (including every
# legacy manifest) remain first-class: absence of "delta_base" means
# the doc IS the snapshot.

# table-state keys a delta inherits implicitly from its base; every
# OTHER key (operation, epoch, stream_id, ...) is per-commit and never
# inherited — a plain append must not inherit its parent's epoch marker.
_PER_FILE_KEYS = (
    "file_stats",
    "file_partitions",
    "file_spec_ids",
    "file_schema_ids",
    "file_first_row_ids",
    "lineage_files",
    "file_rows",
    "file_seqs",
    # sort-order id per file written by rewrite_sorted (Iceberg's
    # data_file.sort_order_id): later appends simply lack an entry
    "file_sort_ids",
)
_INHERITED_SCALAR_KEYS = (
    "deletes",
    "delete_keys",
    "pos_deletes",
    # keyed by DELETE-file name (not data-file): an opaque inherited
    # dict, NOT a _PER_FILE_KEYS map (those filter to the live data
    # files on resolution, which would drop these entries)
    "delete_seqs",
    "partition_spec",
    "partition_specs",
    "current_spec_id",
    "schemas",
    "current_schema_id",
    "next_field_id",
    "row_lineage",
    "next_row_id",
    "sequence_number",
    # {"snapshot_id": sid the sketches were computed over, "path":
    # table-relative puffin path, "ndv": {col: int}} — metadata-sized;
    # carried until replaced by a newer record_table_statistics
    "table_stats",
    # {"snapshot_id": sid, "path": table-relative parquet path,
    # "has_unpart": bool} — the incrementally-maintained spec
    # partition-statistics file (update_partition_statistics); export
    # serves it verbatim when fresh
    "partition_stats",
    # [{"order_id": N, "fields": [col, ...]}] — the sort orders any
    # retained file was written under (rewrite_sorted mints them)
    "sort_orders",
)
# The same keys drive what a COMMIT inherits (SnapshotTable._commit):
# a commit names only what it changes and takes everything else from
# its base — the parent, or for a rollback its target in the groups
# the rollback restores. Keys move in the groups below; every key of
# the two lists above is in exactly one.
# - A caller that sets a table-level key of a group owns the group's
#   table-level keys: none of them is inherited, and an explicit None
#   drops one.
# - A per-file map is always the base's entries for the commit's files,
#   overlaid with the caller's entries (an explicit None drops it).
# - The counters are not inherited: they advance from the parent.
# - The "fresh_full" operations (_VIS_MODE_BY_OP) replace every file,
#   so they inherit no delete state.
_INHERITED_GROUPS = {
    "partition": (
        "partition_spec",
        "partition_specs",
        "current_spec_id",
        "file_partitions",
        "file_spec_ids",
    ),
    "schema": ("schemas", "current_schema_id", "next_field_id", "file_schema_ids"),
    "delete": ("deletes", "delete_keys", "delete_seqs", "pos_deletes"),
    "sort": ("sort_orders", "file_sort_ids"),
    "lineage": ("row_lineage", "lineage_files", "file_first_row_ids", "next_row_id"),
    "file_stats": ("file_stats",),
    "file_rows": ("file_rows",),
    "file_seqs": ("file_seqs",),
    "table_stats": ("table_stats",),
    "partition_stats": ("partition_stats",),
    "sequence_number": ("sequence_number",),
}
_COUNTERS = ("sequence_number", "next_row_id")
# restoring a snapshot restores the state its files are read under;
# partition tuples, stats, row counts and the counters stay the head's,
# and so do the sort orders when the target has none
_RESTORED_BY_ROLLBACK = ("delete", "schema", "sort", "lineage", "file_seqs")
# delta bookkeeping keys — never part of a resolved snapshot
_DELTA_DOC_KEYS = frozenset(
    {
        "delta_base",
        "delta_depth",
        "delta_accum",
        "files_added",
        "files_removed",
        "cleared",
        "pf_cleared",
    }
)
# rebase policy — when to write a FULL manifest instead of a delta:
# (a) the accumulated delta weight since the last full form reaches the
#     file count: the periodic full rewrite then amortizes to O(1) per
#     changed entry, so total manifest bytes stay O(total churn) — not
#     O(commits * table size) — no matter how big the table grows;
# (b) a depth cap bounds COLD-chain resolution to a fixed number of
#     (cached-after-first-use) file opens — a 10^6-file table of 1-row
#     merges would otherwise accumulate a very long chain before the
#     weight rule fires. 256 opens cold vs ~1/256th of the full doc
#     re-serialized per commit is the chosen balance; real Iceberg
#     dissolves this tension with SHARDED manifest files, which a
#     single-doc-chain design deliberately trades away for simplicity.
_REBASE_DEPTH = 256

# (abs metadata dir, snapshot id) -> (resolved snap, (mtime_ns, size))
# — manifests are immutable once committed, but a stat fingerprint
# guards the two legal mutations (expiry's delta->full rebase writes
# identical content; a CAS loser's unlinked id being re-used writes NEW
# content, which the fingerprint catches).
_MANIFEST_CACHE: dict[tuple[str, int], tuple[dict, tuple[int, int]]] = {}
_MANIFEST_CACHE_MAX = 256
# (abs metadata dir, snapshot id) -> (raw delta depth, accumulated
# delta weight since the last full form); (0, 0) = full form
_DEPTH_CACHE: dict[tuple[str, int], tuple[int, int]] = {}


def _copy_snap(snap: dict) -> dict:
    """One-level defensive copy: callers may build new commits from a
    loaded snapshot's containers; the memoized resolution must never be
    aliased into a mutable context."""
    return {
        k: (dict(v) if isinstance(v, dict) else list(v) if isinstance(v, list) else v)
        for k, v in snap.items()
    }


def _cache_put(key: tuple[str, int], snap: dict, fingerprint: tuple[int, int]) -> None:
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
        for stale in list(_MANIFEST_CACHE)[: _MANIFEST_CACHE_MAX // 2]:
            _MANIFEST_CACHE.pop(stale, None)
            _DEPTH_CACHE.pop(stale, None)  # evicted together, never leaks
    _MANIFEST_CACHE[key] = (snap, fingerprint)


def _apply_delta_inplace(acc: dict, raw: dict) -> None:
    """Fold one delta-form doc into the accumulating resolved dict —
    MUTATES ``acc``. ``acc["files"]`` is kept as a *set* during the
    fold (the caller sorts once at the end): per level this touches
    O(delta) entries, never rebuilding the file list, so resolving a
    depth-d chain over an n-file table peaks at ONE resolved dict +
    the raw deltas (churn-bounded), not d resolved dicts."""
    fset: set = acc["files"]
    for f in raw.get("files_removed", []):
        fset.discard(f)
    fset.update(raw.get("files_added", []))
    cleared = set(raw.get("cleared", []))
    pf_cleared = raw.get("pf_cleared", {})
    # per-commit keys (operation, epoch, ...) are never inherited: drop
    # the base's, then take this doc's own
    for k in list(acc):
        if (
            k != "files"
            and k not in _PER_FILE_KEYS
            and k not in _INHERITED_SCALAR_KEYS
        ):
            acc.pop(k)
    for k in cleared:
        acc.pop(k, None)
    for k, v in raw.items():
        if k not in _DELTA_DOC_KEYS and k not in _PER_FILE_KEYS:
            acc[k] = v
    for k in _PER_FILE_KEYS:
        if k in cleared:
            continue
        base_map, delta_map = acc.get(k), raw.get(k)
        if base_map is None and delta_map is None:
            continue
        merged = base_map if base_map is not None else {}
        for f in raw.get("files_removed", []):
            merged.pop(f, None)
        for f in pf_cleared.get(k, []):
            merged.pop(f, None)
        if delta_map:
            merged.update(delta_map)
        acc[k] = merged


def _apply_delta(base: dict, raw: dict) -> dict:
    """Resolve a delta-form manifest doc against its RESOLVED base
    (non-mutating form of :func:`_apply_delta_inplace`)."""
    out = _copy_snap(base)
    out["files"] = set(out["files"])
    _apply_delta_inplace(out, raw)
    out["files"] = sorted(out["files"])
    # drop per-file entries of files no longer present (the in-place
    # fold only pops explicit removals; a base map could in principle
    # carry a stray entry — mirror the historical strict filter)
    fset = set(out["files"])
    for k in _PER_FILE_KEYS:
        if k in out:
            out[k] = {f: v for f, v in out[k].items() if f in fset}
    return out


def _raw_doc(meta: str, snapshot_id: int) -> tuple[dict, tuple[int, int]]:
    fp = os.path.join(meta, f"snap-{snapshot_id}.json")
    try:
        st = os.stat(fp)
    except FileNotFoundError:
        raise SnapshotError(
            f"snapshot {snapshot_id} does not exist (expired or never "
            "committed)"
        ) from None
    with open(fp) as f:
        return json.load(f), (st.st_mtime_ns, st.st_size)


def _load_resolved(path: str, snapshot_id: int) -> dict:
    """Internal: resolved snapshot WITHOUT the defensive copy
    (read-only internal callers).

    Chain resolution is ITERATIVE and memory-bounded: raw delta docs
    are collected newest→oldest until a cached base or the full form,
    then folded oldest→newest into ONE accumulating dict. Only the
    REQUESTED snapshot is cached — a cold 256-deep chain over a
    10^6-file table peaks at one resolved dict plus the (churn-
    bounded) raw deltas, where resolving recursively used to pin a
    full O(files) dict per chain level in the cache. The steady-state
    fast path is unchanged: the new head's base is the cached parent,
    so resolution is one O(delta) read + one fold."""
    meta = os.path.join(path, "metadata")
    key = (os.path.abspath(meta), snapshot_id)
    try:
        raw, fingerprint = _raw_doc(meta, snapshot_id)
    except SnapshotError:
        _MANIFEST_CACHE.pop(key, None)
        raise SnapshotError(
            f"snapshot {snapshot_id} does not exist at {path} (expired or "
            "never committed)"
        ) from None
    cached = _MANIFEST_CACHE.get(key)
    if cached is not None and cached[1] == fingerprint:
        return cached[0]
    if "delta_base" not in raw:
        resolved = raw
        _DEPTH_CACHE[key] = (0, 0)
    else:
        # collect the raw chain until a cached base or the full form
        chain = [raw]
        acc: dict | None = None
        cur = raw
        seen = {snapshot_id}
        while True:
            bid = cur["delta_base"]
            if bid in seen:  # corrupted chain: fail loudly, never hang
                raise SnapshotError(
                    f"delta-chain cycle through snapshot {bid} at {path}"
                )
            seen.add(bid)
            bkey = (key[0], bid)
            braw, bfing = _raw_doc(meta, bid)
            bc = _MANIFEST_CACHE.get(bkey)
            if bc is not None and bc[1] == bfing:
                acc = _copy_snap(bc[0])  # never mutate a cached entry
                break
            if "delta_base" not in braw:
                # cache the walked-to full form (ONE extra entry): a
                # history walk resolving more ancestors of this chain
                # then folds from here instead of re-parsing the base
                _DEPTH_CACHE[bkey] = (0, 0)
                _cache_put(bkey, braw, bfing)
                acc = _copy_snap(braw)  # cached now — fold into a copy
                break
            chain.append(braw)
            cur = braw
        acc["files"] = set(acc["files"])
        for d in reversed(chain):
            _apply_delta_inplace(acc, d)
        fset = acc["files"]
        for k in _PER_FILE_KEYS:  # strict invariant: map keys ⊆ files
            if k in acc:
                for f in [f for f in acc[k] if f not in fset]:
                    del acc[k][f]
        acc["files"] = sorted(fset)
        resolved = acc
        _DEPTH_CACHE[key] = (raw["delta_depth"], raw.get("delta_accum", 0))
    _cache_put(key, resolved, fingerprint)
    return resolved


def load_manifest(path: str, snapshot_id: int) -> dict:
    """The resolved (full-form) snapshot dict for ``snapshot_id`` of the
    table at ``path`` — the single manifest-read entry point, shared by
    :class:`SnapshotTable` and the connector/stream planners."""
    return _copy_snap(_load_resolved(path, snapshot_id))


def _manifest_depth(path: str, snapshot_id: int) -> tuple[int, int]:
    """(raw delta-chain depth, accumulated delta weight) of a manifest
    — (0, 0) for full form. Always re-validates through
    ``_load_resolved`` so a manifest rebased to full form by ANOTHER
    process (expiry) sheds its stale depth — the stat fingerprint
    catches the rewrite and refreshes both caches."""
    key = (os.path.abspath(os.path.join(path, "metadata")), snapshot_id)
    _load_resolved(path, snapshot_id)
    return _DEPTH_CACHE.get(key, (0, 0))


def _encode_manifest(
    snap: dict, base: dict | None, base_depth: int, base_accum: int = 0
) -> dict:
    """The doc to WRITE for full snapshot ``snap``: a delta against its
    resolved parent ``base`` when that is materially smaller than the
    full file list, else the full form — the rebase point, reached by
    the depth cap or by the accumulated-weight rule (see _REBASE_DEPTH).
    Pure function — both commit arbiters call it."""
    if base is None or base_depth + 1 > _REBASE_DEPTH:
        return snap
    base_files = set(base["files"])
    files = snap["files"]
    fset = set(files)
    added = [f for f in files if f not in base_files]
    removed = sorted(f for f in base_files if f not in fset)
    doc = {
        k: v
        for k, v in snap.items()
        if k != "files" and k not in _INHERITED_SCALAR_KEYS and k not in _PER_FILE_KEYS
    }
    doc["delta_base"] = base["snapshot_id"]
    doc["delta_depth"] = base_depth + 1
    doc["files_added"] = added
    doc["files_removed"] = removed
    weight = len(added) + len(removed)
    cleared = []
    for k in _INHERITED_SCALAR_KEYS:
        if k in snap:
            if k not in base or snap[k] != base[k]:
                doc[k] = snap[k]
                weight += 1
        elif k in base:
            cleared.append(k)
    pf_cleared = {}
    for k in _PER_FILE_KEYS:
        child_map, base_map = snap.get(k), base.get(k)
        if child_map is None and base_map is None:
            continue
        if child_map is None:
            cleared.append(k)
            continue
        bm = base_map or {}
        changed = {f: v for f, v in child_map.items() if f not in bm or bm[f] != v}
        gone = sorted(f for f in bm if f in fset and f not in child_map)
        if changed:
            doc[k] = changed
            weight += len(changed)
        if gone:
            pf_cleared[k] = gone
            weight += len(gone)
    if cleared:
        doc["cleared"] = sorted(cleared)
    if pf_cleared:
        doc["pf_cleared"] = pf_cleared
    # a delta must be MATERIALLY smaller than the full list, or the
    # full form is simpler (and resets the resolution chain for free);
    # and once the chain's ACCUMULATED weight reaches the file count, a
    # full rewrite has amortized to O(1) per changed entry — rebase now
    # so total manifest bytes track churn, not commits * table size
    if 2 * weight >= len(files) + 1 or base_accum + weight >= len(files) + 1:
        return snap
    doc["delta_accum"] = base_accum + weight
    return doc


# Append-only commit index: one JSON line per commit with the
# metadata-sized facts (id, parent, timestamp, operation, stream/epoch,
# schema/spec ids, file counts) — the role of Iceberg's snapshot-log in
# metadata.json. Readers that only need per-commit FACTS (epoch
# idempotence sets, history listings, as-of resolution, ancestry walks)
# read this ONE file instead of opening every snap-*.json manifest:
# O(1) manifest reads per streaming epoch instead of O(commits).
_INDEX = "commit-log.jsonl"


class SnapshotTable:
    """A snapshot-tracked parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._data = os.path.join(path, "data")
        self._meta = os.path.join(path, "metadata")

    # ------------------------------------------------------------ metadata
    def _hint_path(self) -> str:
        return os.path.join(self._meta, _HINT)

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _rebase_to_full(self, snapshot_id: int) -> None:
        """Rewrite ``snapshot_id``'s manifest doc in place as FULL form
        — content-identical (one of the two legal in-place manifest
        mutations; concurrent resolved-cache entries stay valid, the
        stat fingerprint refreshes cold ones). Callers hold the commit
        lock. A plan index that was fresh stays fresh: the content it
        indexes did not change."""
        from .plan_index import _fresh_doc, restamp

        doc = _fresh_doc(self.path, snapshot_id)
        full = self._load_snap(snapshot_id)
        tmp = self._snap_path(snapshot_id) + f".rebase.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(full, f, indent=1)
        os.replace(tmp, self._snap_path(snapshot_id))
        _DEPTH_CACHE[(os.path.abspath(self._meta), snapshot_id)] = (0, 0)
        restamp(self.path, snapshot_id, doc)

    def _snap_path(self, snapshot_id: int) -> str:
        return os.path.join(self._meta, f"snap-{snapshot_id}.json")

    def _load_snap(self, snapshot_id: int) -> dict:
        try:
            return load_manifest(self.path, snapshot_id)
        except SnapshotError:
            if os.path.exists(self._snap_path(snapshot_id)):
                raise  # a broken delta chain, not an expired id
            raise SnapshotError(
                f"snapshot {snapshot_id} does not exist (expired or never "
                f"committed); retained: {self.history_ids()}"
            ) from None

    def _encoded_doc(self, snap: dict, parent: int | None) -> dict:
        """Delta-encode a full snapshot against its parent for writing
        (full form when parent is None, the delta would not be smaller,
        or the chain hit the rebase depth)."""
        if parent is None:
            return snap
        try:
            base = _load_resolved(self.path, parent)
            depth, accum = _manifest_depth(self.path, parent)
        except SnapshotError:
            return snap  # parent unreadable (shouldn't happen): full form
        return _encode_manifest(snap, base, depth, accum)

    def history_ids(self) -> list[int]:
        snaps = glob.glob(os.path.join(self._meta, "snap-*.json"))
        return sorted(int(os.path.basename(p)[5:-5]) for p in snaps)

    def history(self) -> list[dict]:
        return [self._load_snap(i) for i in self.history_ids()]

    # ------------------------------------------------------------ commit index
    def _index_path(self) -> str:
        return os.path.join(self._meta, _INDEX)

    @staticmethod
    def _index_entry(snap: dict) -> dict:
        """The per-commit facts worth indexing — everything a reader
        needs WITHOUT the file lists (those stay in the manifest; the
        index must stay kilobytes at 100k commits)."""
        e = {
            "snapshot_id": snap["snapshot_id"],
            "parent": snap.get("parent"),
            "timestamp_ms": snap["timestamp_ms"],
            "operation": snap["operation"],
            "n_files": len(snap["files"]),
            # equality-delete files AND positional-delete (vector) files
            # both count: the index-served snapshots listing must not
            # understate a commit's delete state
            "n_delete_files": len(snap.get("deletes", []))
            + len(snap.get("pos_deletes", [])),
        }
        for k in (
            "epoch",
            "stream_id",
            "current_schema_id",
            "current_spec_id",
            "sequence_number",
            "visible_rows",
        ):
            if k in snap:
                e[k] = snap[k]
        return e

    def _append_index_entries(self, entries: list[dict]) -> None:
        """Append index lines (caller holds the commit lock). One
        os.write of newline-terminated JSON per entry — a crash can
        tear at most the final line, which readers skip and self-heal
        from the manifest it described."""
        with open(self._index_path(), "a") as f:
            for e in entries:
                f.write(json.dumps(e, separators=(",", ":")) + "\n")

    def _read_index_raw(self) -> dict[int, dict]:
        try:
            with open(self._index_path()) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:
            return {}
        out: dict[int, dict] = {}
        for ln in lines:
            try:
                e = json.loads(ln)
            except json.JSONDecodeError:
                continue  # torn tail line: the manifest self-heals it
            out[e["snapshot_id"]] = e
        return out

    def commit_index(self) -> dict[int, dict]:
        """Per-commit facts for every RETAINED snapshot, keyed by id —
        served from the append-only index file. Self-healing: ids the
        index misses (legacy tables, a torn tail line, a writer that
        bypassed the flock) are read once from their manifests and
        appended under the commit lock, so steady state is one index
        read + one directory listing and ZERO manifest opens per call.
        Expired snapshots are filtered out (expiry compacts the file)."""
        idx = self._read_index_raw()
        live = self.history_ids()
        missing = [i for i in live if i not in idx]
        if missing:
            with self._commit_lock():
                idx = self._read_index_raw()
                heal = []
                for i in self.history_ids():
                    if i in idx:
                        continue
                    try:
                        heal.append(self._index_entry(self._load_snap(i)))
                    except SnapshotError:
                        # a losing catalog-CAS writer stages its manifest
                        # outside this lock and unlinks it on loss; a heal
                        # racing that window sees the id in the listing but
                        # not on disk — skip, it was never a live commit
                        continue
                if heal:
                    self._append_index_entries(heal)
                idx.update({e["snapshot_id"]: e for e in heal})
        live_set = set(live)
        return {i: e for i, e in sorted(idx.items()) if i in live_set}

    def committed_stream_epochs(self) -> set[tuple]:
        """All ``(stream_id, epoch)`` pairs recorded by streaming-sink
        commits — the idempotence set a replayed epoch checks itself
        against. Index-served: O(1) manifest reads per epoch no matter
        how long the stream has been running."""
        return {
            (e.get("stream_id"), e["epoch"])
            for e in self.commit_index().values()
            if e.get("epoch") is not None
        }

    # ------------------------------------------------------------ refs
    # Branch/tag pointers over the shared snapshot log. A branch is a
    # movable head commits advance; a tag is immutable. All refs share
    # one metadata/ dir and one monotonically increasing snapshot-id
    # space, so cross-branch reads, diffs, and fast-forwards are
    # metadata-only. Ref updates go through os.replace — readers see a
    # complete refs doc or the previous one, never a torn write.
    def _refs_path(self) -> str:
        return os.path.join(self._meta, _REFS)

    def _load_refs(self) -> dict:
        try:
            with open(self._refs_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"branches": {}, "tags": {}}

    def _store_refs(self, refs: dict) -> None:
        os.makedirs(self._meta, exist_ok=True)
        tmp = self._refs_path() + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=1)
        os.replace(tmp, self._refs_path())

    def refs(self) -> dict:
        """All refs: ``{"branches": {name: head}, "tags": {name: id}}``
        (main included)."""
        refs = self._load_refs()
        main_head = self.current_snapshot_id()
        if main_head is not None:
            refs["branches"] = {MAIN: main_head, **refs["branches"]}
        return refs

    def head(self, ref: str = MAIN) -> int | None:
        """Snapshot id a ref points at. Tags resolve too (read-only)."""
        if ref == MAIN:
            return self.current_snapshot_id()
        refs = self._load_refs()
        if ref in refs["branches"]:
            return refs["branches"][ref]
        if ref in refs["tags"]:
            return refs["tags"][ref]
        raise SnapshotError(f"no such ref {ref!r}; have {sorted(self.refs()['branches']) + sorted(refs['tags'])}")

    def _set_branch_head(self, ref: str, snapshot_id: int) -> None:
        if ref == MAIN:
            hint_tmp = self._hint_path() + f".tmp.{os.getpid()}"
            with open(hint_tmp, "w") as f:
                f.write(str(snapshot_id))
            os.replace(hint_tmp, self._hint_path())
            return
        refs = self._load_refs()
        refs["branches"][ref] = snapshot_id
        self._store_refs(refs)

    def _check_writable_ref(self, ref: str) -> None:
        if ref == MAIN:
            return
        refs = self._load_refs()
        if ref in refs["tags"]:
            raise SnapshotError(f"cannot commit to tag {ref!r}: tags are immutable")
        if ref not in refs["branches"]:
            raise SnapshotError(f"no such branch {ref!r}; create_branch first")

    def create_branch(self, name: str, at: int | None = None) -> int:
        """New branch at ``at`` (default: main's head). Commits on it
        leave main untouched — the write-audit-publish staging shape."""
        if name == MAIN:
            raise SnapshotError("main always exists")
        # ref mutations are read-modify-write of the shared refs doc:
        # they take the SAME lock commits hold, so a racing commit's
        # just-moved head can never be overwritten by a stale re-write
        with self._commit_lock():
            at = at if at is not None else self.current_snapshot_id()
            if at is None:
                raise SnapshotError("cannot branch an empty table")
            self._load_snap(at)  # must exist
            refs = self._load_refs()
            if name in refs["branches"] or name in refs["tags"]:
                raise SnapshotError(f"ref {name!r} already exists")
            refs["branches"][name] = at
            self._store_refs(refs)
        return at

    def create_tag(self, name: str, at: int | None = None) -> int:
        """Immutable named pointer (e.g. an audit-passed release)."""
        if name == MAIN:
            raise SnapshotError("main is a branch name")
        with self._commit_lock():  # see create_branch
            at = at if at is not None else self.current_snapshot_id()
            if at is None:
                raise SnapshotError("cannot tag an empty table")
            self._load_snap(at)
            refs = self._load_refs()
            if name in refs["branches"] or name in refs["tags"]:
                raise SnapshotError(f"ref {name!r} already exists")
            refs["tags"][name] = at
            self._store_refs(refs)
        return at

    def drop_ref(self, name: str) -> None:
        if name == MAIN:
            raise SnapshotError("cannot drop main")
        with self._commit_lock():  # see create_branch
            refs = self._load_refs()
            if name in refs["branches"]:
                del refs["branches"][name]
            elif name in refs["tags"]:
                del refs["tags"][name]
            else:
                raise SnapshotError(f"no such ref {name!r}")
            self._store_refs(refs)

    def is_ancestor(self, ancestor_id: int, descendant_id: int) -> bool:
        """Walk the parent chain — snapshot counts are small (metadata),
        so the driver-side walk is O(history), never touches data.
        A chain broken by snapshot expiry means ancestry can no longer
        be PROVEN: returns False (callers that need the guarantee, like
        fast_forward, then refuse instead of crashing mid-walk). The
        walk runs over the commit index — parent pointers only, zero
        manifest opens on an indexed table. Lock-free (no self-heal
        persist): fast_forward calls this while HOLDING the commit
        lock, and flock is not re-entrant."""
        idx = self._read_index_raw()
        live = set(self.history_ids())
        cur: int | None = descendant_id
        while cur is not None:
            if cur == ancestor_id:
                return True
            if cur not in live:  # expired link: unprovable
                return False
            entry = idx.get(cur)
            if entry is None:  # unindexed (legacy): one manifest read
                entry = self._index_entry(self._load_snap(cur))
            cur = entry.get("parent")
        return False

    def fast_forward(self, ref: str, to_ref: str) -> int:
        """Move ``ref`` to ``to_ref``'s head iff it is a fast-forward
        (ref's head is an ancestor of to_ref's head) — the PUBLISH step
        of write-audit-publish: main adopts the audited branch's
        snapshots without rewriting a byte. Divergent refs raise; a
        true merge is a data-level operation (merge_upsert).

        Both heads are re-read inside the arbiter's swap window and the
        move is a swap against the head read: a fast-forward racing a
        just-won commit to the same ref raises
        :class:`CommitConflictError` instead of dropping that commit."""
        self._check_writable_ref(ref)
        with self._commit_lock() if self._FLOCK_ARBITRATES else nullcontext():
            src, token = self._read_head(ref)
            dst = self.head(to_ref)
            if dst is None:
                raise SnapshotError(f"ref {to_ref!r} has no head")
            if src == dst:
                return dst
            if src is not None and not self.is_ancestor(src, dst):
                raise SnapshotError(
                    f"{ref!r} (at {src}) is not a provable ancestor of {to_ref!r} "
                    f"(at {dst}): not a fast-forward (diverged, or the chain "
                    "between them expired); resolve with a data-level merge"
                )
            self._move_head(ref, token, self._load_snap(dst), staged=False)
        return dst

    # ------------------------------------------------------------ arbitration
    # An arbiter's hooks under the one protocol (``_arbitrate_commit``,
    # ``fast_forward``): how a ref's head is read (``_read_head``) and
    # swapped (``_swap_head``), and how the directory's own pointers
    # follow a win (``_set_branch_head``). Here the commit flock spans
    # read → swap, so the swap cannot lose and the hint or refs.json row
    # IS the head. A catalog's swap must not hold the flock: a racing
    # winner may commit from inside it, and flock is not re-entrant
    # across file descriptors.
    _FLOCK_ARBITRATES = True

    def _read_head(self, ref: str) -> tuple[int | None, object]:
        """``ref``'s head and the token its swap compares against."""
        return self.head(ref), None

    def _swap_head(self, ref: str, token, snap: dict) -> bool:
        """Swap ``ref``'s head from ``token`` to ``snap``; whether it won."""
        return True

    # What the vacuum lists (globs under the table; ``_stage_*`` are
    # writers' staging dirs) and the pointer docs a snapshot reaches.
    # A plain table lists and keeps no pointer doc: the catalog that
    # names ``register_in_catalog``'s doc is one it cannot see.
    _LISTED = ("data/*", "metadata/stats/*", "metadata/plan-index-*", "metadata/plan-seg-*", "_stage_*")

    def _pointer_docs(self, ids: set[int]) -> set[str]:
        """The pointer docs snapshots ``ids`` reach (``_reachable``'s
        arbiter hook), table-relative."""
        return set()

    def _move_head(self, ref: str, token, snap: dict, staged: bool) -> None:
        """Move ``ref``'s head to ``snap``: a manifest this commit
        ``staged``, or a committed one a fast-forward adopts. A lost
        swap unlinks the staged manifest and raises
        :class:`CommitConflictError`; a won one indexes a staged
        snapshot and moves the directory's pointers, under the commit
        lock (already held when the flock arbitrates)."""
        sid = snap["snapshot_id"]
        if not self._swap_head(ref, token, snap):
            if staged:
                os.unlink(self._snap_path(sid))
            raise CommitConflictError(
                f"a concurrent commit won the pointer swap on ref {ref!r} "
                f"during {'commit' if staged else 'fast-forward'}; re-read and retry"
            )
        with nullcontext() if self._FLOCK_ARBITRATES else self._commit_lock():
            if staged:
                # one appended line: per-commit index cost is O(1) and
                # index readers never pay a per-manifest open
                self._append_index_entries([self._index_entry(snap)])
            self._set_branch_head(ref, sid)

    # ------------------------------------------------------------ writes
    def _write_data_files(self, df: DataFrame) -> list[str]:
        """Materialize df into immutable uniquely-named files under data/.
        Spark writes partition 0 even when it is empty; such a zero-row
        file is dropped whenever another output holds rows (it has no
        stats, so every merge would count it touched and rewrite it)."""
        import pyarrow.parquet as pq

        os.makedirs(self._data, exist_ok=True)
        token = uuid.uuid4().hex[:12]
        tmp = os.path.join(self.path, f"_stage_{token}")
        df.write.mode("overwrite").parquet(tmp)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
        if len(parts) > 1:
            parts = [p for p in parts if pq.read_metadata(p).num_rows] or parts[:1]
        out = []
        for i, part in enumerate(parts):
            dest = os.path.join(self._data, f"{token}-{i:05d}.parquet")
            shutil.move(part, dest)
            out.append(os.path.relpath(dest, self.path))
        shutil.rmtree(tmp)
        return out

    def _write_arrow_file(self, tbl) -> str:
        """Materialize a driver-side Arrow table as ONE immutable file
        under data/ — staged like :meth:`_write_data_files` (so orphan
        cleanup sweeps a torn write) and renamed into place."""
        import pyarrow.parquet as pq

        os.makedirs(self._data, exist_ok=True)
        token = uuid.uuid4().hex[:12]
        tmp = os.path.join(self.path, f"_stage_{token}")
        os.makedirs(tmp)
        part = os.path.join(tmp, "part-00000.parquet")
        pq.write_table(tbl, part)
        dest = os.path.join(self._data, f"{token}-00000.parquet")
        os.replace(part, dest)
        os.rmdir(tmp)
        return os.path.relpath(dest, self.path)

    @contextmanager
    def _commit_lock(self):
        """Exclusive same-host commit lock (flock on metadata/commit.lock).
        Serializes the head-check → manifest-create → head-swap critical
        section so the check-then-swap window cannot be raced through;
        held for metadata work only (data files are staged before the
        commit begins), so contention is microseconds, not scan time."""
        os.makedirs(self._meta, exist_ok=True)
        fd = os.open(os.path.join(self._meta, "commit.lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _commit(
        self,
        files: list[str],
        operation: str,
        parent: int | None,
        extra: dict | None = None,
        ref: str = MAIN,
    ) -> int:
        """Commit ``files`` as ``ref``'s snapshot after ``parent``.

        ``extra`` names what the commit changes. Every other piece of
        table state comes from the commit's base by the one rule stated
        beside ``_INHERITED_GROUPS``. The base is the parent; for a
        rollback (operation ``rollback-to-<id>``) it is the target in
        the groups ``_RESTORED_BY_ROLLBACK`` names. A caller that sets a
        table-level key of a group owns the group (an explicit None
        drops a key), per-file maps carry the base's entries for
        ``files`` under the caller's, and the fresh_full operations
        inherit no delete state. What stays here are the rules for NEW
        files (sequence stamp, footer row count, schema id,
        first_row_id range), the two counters and the visible-row
        count."""
        os.makedirs(self._meta, exist_ok=True)
        extra = dict(extra or {})
        psnap = self._load_snap(parent) if parent is not None else {}
        restore = (
            self._load_snap(int(operation[len("rollback-to-") :]))
            if operation.startswith("rollback-to-")
            else psnap
        )
        fset = set(files)
        fresh = _VIS_MODE_BY_OP.get(operation) == "fresh_full"
        for group, keys in _INHERITED_GROUPS.items():
            if group == "delete" and fresh:
                continue
            base = restore if group in _RESTORED_BY_ROLLBACK else psnap
            if group == "sort" and "sort_orders" not in base:
                # a target older than every sort order keeps the head's:
                # the retained history its export covers names them
                base = psnap
            owned = any(k in extra for k in keys if k not in _PER_FILE_KEYS + _COUNTERS)
            for k in keys:
                if k not in base or k in _COUNTERS:
                    continue
                if k in _PER_FILE_KEYS:
                    if extra.get(k, {}) is not None:
                        extra[k] = {
                            **{f: v for f, v in base[k].items() if f in fset},
                            **extra.get(k, {}),
                        }
                elif not owned:
                    extra[k] = base[k]
        # SEQUENCE NUMBERS (Iceberg's data-sequence-number model): every
        # commit gets parent's + 1, every NEW data file is stamped with
        # it, and equality-delete files carry the sequence of their
        # delete commit — so a delete applies only to files SEQUENCED
        # BEFORE it. A key re-appended after its deletion is visible
        # again (and a merge's output files are never hidden by the
        # delete entries the merge read through). Legacy defaults keep
        # old tables exact: an unstamped file reads as seq 0, an
        # unstamped delete file as +infinity (applies to everything).
        extra.setdefault("sequence_number", int(psnap.get("sequence_number", 0)) + 1)
        fseqs = extra.setdefault("file_seqs", {})
        carried = set(restore.get("files", ()))
        for f in files:
            # only files NEW in this commit get stamped — a legacy file
            # carried from a pre-seq base stays unstamped (reads as
            # seq 0, so existing deletes keep applying to it)
            if f not in fseqs and f not in carried:
                fseqs[f] = extra["sequence_number"]
        # per-file ROW COUNTS (Iceberg's record_count manifest field):
        # recorded for new files from the just-written (page-cached)
        # footers — O(new files) per commit, and COUNT(*) becomes
        # metadata-only (metadata_count) instead of a table scan.
        # Synthetic commits naming files that don't exist (tests,
        # external registration) simply skip the recording.
        import pyarrow.parquet as _pq

        rows = dict(extra.get("file_rows") or {})
        for f in files:
            if f not in rows:
                try:
                    rows[f] = _pq.ParquetFile(os.path.join(self.path, f)).metadata.num_rows
                except Exception:  # noqa: BLE001 - absent/foreign file
                    pass
        if rows:
            extra["file_rows"] = rows
        # a file without a recorded schema id was written under the
        # current schema (rewrite paths read RESOLVED, so their output
        # is current-shaped)
        if extra.get("schemas"):
            fsi = dict(extra.get("file_schema_ids") or {})
            for f in files:
                fsi.setdefault(f, extra["current_schema_id"])
            extra["file_schema_ids"] = fsi
        # VISIBLE-ROW COUNT (Iceberg's snapshot-summary total-records,
        # but NET of merge-on-read deletes): every row-changing commit
        # records the table's visible COUNT(*) so metadata_count is
        # O(1) even under pending equality deletes. Simple ops derive
        # it here from the operation's row semantics; data-dependent
        # ops (delete_where, positional deletes, MERGE) pass their own
        # measured value/delta. A commit that cannot establish the
        # count (unknown op, incomplete footer info, legacy parent
        # without the field) records NOTHING — metadata_count then
        # falls back honestly rather than serving a stale number.
        mode = extra.pop("visible_rows_mode", None) or _VIS_MODE_BY_OP.get(
            operation
        ) or (
            "preserve"
            if operation.startswith(("rename-", "widen-"))
            else None
        )
        removed = extra.pop("visible_rows_removed", None)
        if "visible_rows" not in extra and mode is not None:
            rows_rec = extra.get("file_rows", {})
            pvis = psnap.get("visible_rows") if parent is not None else None
            has_deletes = bool(extra.get("deletes") or extra.get("pos_deletes"))
            pfiles = set(psnap.get("files", [])) if parent is not None else set()
            new_files = [f for f in files if f not in pfiles]
            new_known = all(f in rows_rec for f in new_files)
            all_known = all(f in rows_rec for f in files)
            vis: int | None = None
            if mode == "fresh_full":
                if not has_deletes and all_known:
                    vis = sum(rows_rec[f] for f in files)
            elif mode == "append":
                # appended files are sequenced after any pending delete
                # — their rows are fully visible. A synthetic "append"
                # that also DROPS parent files is not an append; skip.
                if parent is None or pfiles <= set(files):
                    dels = extra.get("deletes") or []
                    dseqs = extra.get("delete_seqs", {})
                    # an UNSTAMPED (legacy) delete file applies to
                    # every file, including ones appended after it —
                    # "appended rows are visible" only holds when all
                    # pending entries carry a sequence stamp
                    stamped = all(d in dseqs for d in dels)
                    if parent is None or (pvis is None and not pfiles):
                        if not has_deletes and new_known:
                            vis = sum(rows_rec[f] for f in new_files)
                    elif pvis is not None and new_known and stamped:
                        vis = pvis + sum(rows_rec[f] for f in new_files)
            elif mode == "preserve":
                if pvis is not None:
                    vis = pvis
                elif not has_deletes and all_known:
                    vis = sum(rows_rec[f] for f in files)
            elif mode == "replace_delta":
                # COW replace: parent visible, minus the replaced
                # files' measured visible rows, plus the new files
                if pvis is not None and removed is not None and new_known:
                    vis = pvis - int(removed) + sum(
                        rows_rec[f] for f in new_files
                    )
            if vis is not None:
                extra["visible_rows"] = int(vis)
        # row-lineage bookkeeping (Iceberg v3's row-id model): every
        # commit on a lineage-enabled table assigns each NEW file a
        # first_row_id range from the table-level id counter (footer
        # row counts of the just-written, page-cached files — no data
        # read). Files flagged in ``lineage_files`` carry a PHYSICAL
        # _row_id column instead (rewrites materialize ids) and get no
        # range. A row's id is first_row_id + ordinal, so an append
        # costs O(new files) id bookkeeping, never a scan. The counter
        # never moves back: a rollback keeps the larger of head's and
        # target's, so ids handed out by rolled-away commits are never
        # reused.
        if extra.get("row_lineage"):
            first = dict(extra.get("file_first_row_ids") or {})
            flags = extra.get("lineage_files") or {}
            nxt = extra.get(
                "next_row_id",
                max(psnap.get("next_row_id", 0), restore.get("next_row_id", 0)),
            )
            for f in files:
                if f not in first and f not in flags:
                    n = rows.get(f)  # just harvested above
                    if n is None:
                        n = _pq.ParquetFile(os.path.join(self.path, f)).metadata.num_rows
                    first[f] = nxt
                    nxt += n
            extra["file_first_row_ids"] = first
            extra["next_row_id"] = nxt
        # an explicit None drops a key: it is never written
        extra = {k: v for k, v in extra.items() if v is not None}
        sid = self._arbitrate_commit(files, operation, parent, extra, ref)
        # every commit writes its snapshot's plan index, O(its delta)
        # from the parent's (see plan_index.index_commit): planning
        # only ever reads one
        from .plan_index import index_commit

        index_commit(self.path, sid)
        return sid

    def _arbitrate_commit(
        self,
        files: list[str],
        operation: str,
        parent: int | None,
        extra: dict,
        ref: str,
    ) -> int:
        """The commit's critical section, one protocol for both
        arbiters: the parent check, a snapshot id and its exclusively
        linked manifest, then the head move (``_move_head``). A catalog
        arbiter's move is its compare-and-swap — the reference's own
        model (`CatalogMigrator.java:208-224`)."""
        with self._commit_lock() if self._FLOCK_ARBITRATES else nullcontext():
            head, token = self._read_head(ref)
            # fast path: refuse before creating anything if the ref moved
            if head != parent:
                raise CommitConflictError(
                    f"ref {ref!r} advanced past snapshot {parent} during "
                    "commit; re-read and retry"
                )
            # ids are unique across ALL refs (max over the shared log,
            # not parent+1): two branches committing off the same parent
            # must not collide on a manifest name. Linear history still
            # yields the familiar 1, 2, 3, ...
            snapshot_id = (self.history_ids() or [0])[-1] + 1
            if parent is not None and snapshot_id <= parent:
                snapshot_id = parent + 1
            snap = {
                "snapshot_id": snapshot_id,
                "parent": parent,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "files": sorted(files),
                **extra,
            }
            # write the manifest — DELTA-encoded against the parent when
            # that is smaller (O(changed files) commit bytes; see the
            # manifest section above) — to an invisible tmp name, then
            # os.link it into place: link is BOTH atomic (readers — who
            # take no lock — and crash recovery never observe a partial
            # manifest; history_ids globs only complete files) AND
            # exclusive (EEXIST if a competing committer staged the id
            # first: one that bypassed the flock, e.g. another host on a
            # shared FS, or any racer under a catalog arbiter, which
            # takes no flock — a manifest id can never be silently
            # overwritten, and the caller's retry re-reads)
            doc = self._encoded_doc(snap, parent)
            tmp = self._snap_path(snapshot_id) + f".tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(doc, f, indent=1)
            try:
                os.link(tmp, self._snap_path(snapshot_id))
            except FileExistsError:
                raise CommitConflictError(
                    f"manifest snap-{snapshot_id}.json already exists: a "
                    "concurrent commit won the race; re-read and retry"
                ) from None
            finally:
                os.unlink(tmp)
            self._move_head(ref, token, snap, staged=True)
        return snapshot_id

    def append(self, df: DataFrame, extra: dict | None = None, ref: str = MAIN) -> int:
        self._check_writable_ref(ref)
        parent = self.head(ref)
        psnap = self._load_snap(parent) if parent else {}
        base = psnap.get("files", [])
        extra = dict(extra or {})
        if psnap.get("schemas"):
            # v3 write-defaults: a writer omitting a defaulted column
            # still produces files that CONTAIN it (spec writer rule)
            df = _fill_write_defaults(psnap, df)
        new = self._write_data_files(df)
        if psnap.get("schemas") and "schemas" not in extra:
            extra.update(_schema_extra_for_append(psnap, df.schema, new))
        return self._commit(base + new, "append", parent, extra=extra, ref=ref)

    def overwrite(self, df: DataFrame, ref: str = MAIN) -> int:
        # overwrite REPLACES table content: pending deletes die with the
        # old files (they referred to rows that no longer exist)
        self._check_writable_ref(ref)
        parent = self.head(ref)
        psnap = self._load_snap(parent) if parent else {}
        if psnap.get("schemas"):
            df = _fill_write_defaults(psnap, df)
        new = self._write_data_files(df)
        extra = (
            _schema_extra_for_append(psnap, df.schema, new)
            if psnap.get("schemas")
            else {}
        )
        return self._commit(new, "overwrite", parent, extra=extra, ref=ref)

    def rollback(self, snapshot_id: int, ref: str = MAIN) -> int:
        """New snapshot re-pointing at an old file list (history kept).
        The commit restores the TARGET's state its files are read under
        (``_RESTORED_BY_ROLLBACK``): its delete state — rolling back to
        a pre-delete snapshot undoes the delete, to a post-delete one
        keeps it — its sequence stamps (re-stamping restored files at
        the head's sequence would put them past the restored deletes),
        its schema, sort and lineage state, and its visible count."""
        self._check_writable_ref(ref)
        parent = self.head(ref)
        target = self._load_snap(snapshot_id)
        extra = {"visible_rows": target.get("visible_rows")}
        return self._commit(
            target["files"], f"rollback-to-{snapshot_id}", parent, extra=extra, ref=ref
        )

    # ------------------------------------------------------------ reads
    def _read_files(self, files: list[str]) -> DataFrame:
        if not files:
            raise SnapshotError("snapshot has no data files")
        # mergeSchema: additive schema evolution — a snapshot mixing
        # files written before and after an added column reads as the
        # union schema with nulls for the missing values. (Renames and
        # type changes are NOT reconciled; that requires field ids,
        # which is exactly what the full Iceberg format adds.)
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*(os.path.join(self.path, f) for f in files))
        )

    def _coords(self, vectors: list[str]) -> DataFrame:
        """The distinct ``(_file, _pos)`` coordinates of this table's
        positional ``vectors`` (:func:`mor._coords_df`)."""
        return _coords_df(self.spark, [os.path.join(self.path, v) for v in vectors])

    def _resolve_files(
        self, snap: dict, files: list[str], with_pos: bool = False
    ) -> DataFrame:
        """Read ``files`` resolved BY FIELD ID to the snapshot's current
        schema: per recorded-schema group, columns are matched by id
        (surviving renames), cast to the current type (surviving
        widening), and padded with nulls where the file predates the
        column. One read per distinct schema id — schema count is tiny
        metadata, so this adds no per-file work at scale. ``with_pos``
        appends the ``(_file, _pos)`` row identity (for positional
        delete application)."""
        from pyspark.sql import functions as F

        schemas = snap.get("schemas")
        if not schemas:
            df = self._read_files(files)
            return df.select("*", *_row_identity("data/")) if with_pos else df
        if not files:
            raise SnapshotError("snapshot has no data files")
        cur = _schema_by_id(schemas, snap["current_schema_id"])
        fsi = snap.get("file_schema_ids", {})
        groups: dict[int, list[str]] = {}
        for f in files:
            groups.setdefault(fsi.get(f, snap["current_schema_id"]), []).append(f)
        out = None
        for sid in sorted(groups):
            written = {fld["id"]: fld for fld in _schema_by_id(schemas, sid)["fields"]}
            df = self._read_files(groups[sid])
            cols = []
            for fld in cur["fields"]:
                w = written.get(fld["id"])
                if w is not None and w["name"] in df.columns:
                    cols.append(F.col(w["name"]).cast(fld["type"]).alias(fld["name"]))
                else:
                    # the file predates the column: serve its declared
                    # v3 initial-default (null when none declared) —
                    # per-file, so files CONTAINING the column keep
                    # stored values including real nulls
                    dflt = fld.get("initial_default")
                    cols.append(
                        F.lit(dflt).cast(fld["type"]).alias(fld["name"])
                    )
            if with_pos:
                cols.extend(_row_identity("data/"))
            proj = df.select(*cols)
            out = proj if out is None else out.unionByName(proj)
        return out

    def read(self, snapshot_id: int | None = None, ref: str | None = None) -> DataFrame:
        """Current table state, time travel to ``snapshot_id``, or a
        named ref's head (``ref="audit"`` / a tag). Schema-tracked
        tables (``track_schema``) resolve by field id — renames and
        type widening apply across every file transparently."""
        snapshot_id = _scan_sid(self, snapshot_id, ref)
        if snapshot_id is None:
            raise SnapshotError(f"no committed snapshot at {self.path}")
        snap = self._load_snap(snapshot_id)
        if snap.get("schemas"):
            return self._resolve_files(snap, snap["files"])
        df = self._read_files(snap["files"])
        # lineage tables: rewrites materialize _row_id physically; the
        # plain read hides it (read_with_lineage surfaces it)
        return df.drop("_row_id") if snap.get("row_lineage") else df

    def snapshot_as_of(self, timestamp_ms: int) -> int | None:
        """The newest retained snapshot committed at or before
        ``timestamp_ms``, or None. Lock-free: the commit index's
        timestamps, plus one manifest read per retained id the index
        misses (a losing CAS writer's vanishing manifest is skipped)."""
        idx = self._read_index_raw()
        found = None
        for i in self.history_ids():
            try:
                ts = idx[i]["timestamp_ms"] if i in idx else self._load_snap(i)["timestamp_ms"]
            except (SnapshotError, OSError, ValueError):
                continue
            if ts <= timestamp_ms:
                found = i
        return found

    def read_as_of(self, timestamp_ms: int) -> DataFrame:
        """:meth:`read` at the snapshot :meth:`snapshot_as_of` names."""
        sid = self.snapshot_as_of(timestamp_ms)
        if sid is None:
            raise SnapshotError(f"no snapshot as of {timestamp_ms}")
        return self.read(snapshot_id=sid)

    def read_incremental(self, from_id: int, to_id: int) -> DataFrame:
        """Rows in files ADDED between the two snapshots — the CDC
        consumption path: a set difference of file lists, scanning only
        the delta."""
        before = set(self._load_snap(from_id)["files"])
        snap_to = self._load_snap(to_id)
        after = snap_to["files"]
        delta = [f for f in after if f not in before]
        df = self._read_files(delta if delta else after)
        if snap_to.get("row_lineage"):
            df = df.drop("_row_id")
        return df if delta else df.limit(0)

    def read_changelog(
        self, from_id: int, to_id: int, with_lineage: bool = False
    ) -> DataFrame:
        """Row-level net changes between two snapshots: the table's
        columns plus ``_change_type`` ('insert' | 'delete'), Iceberg's
        ``create_changelog_view`` shape.

        The two ids need not be ancestor-related: all refs share one
        snapshot log, so ``read_changelog(t.head("main"),
        t.head("audit"))`` is the ref-to-ref data diff (Nessie's diff
        endpoint) — what an audit step reads to see exactly what
        publishing the branch would change.

        Scale contract: the diff touches ONLY files whose membership or
        visibility could have changed — the file-list symmetric
        difference, plus (when equality-delete state differs) carried
        files' rows semi-joined to the union of delete keys, plus (when
        positional-delete state differs) ONLY the files named by the
        differing vectors, semi-joined to the delta coordinates. Rows
        in untouched files with unchanged delete state are provably
        identical on both sides and never scanned. Rewritten-but-equal
        rows (compaction, merge carry-over) cancel out via EXCEPT ALL,
        so maintenance commits produce an empty changelog.

        Positional deletes (deletion vectors) diff EXACTLY — the
        (file, row_ordinal) identity says precisely which physical rows
        each side hides, so a row hidden on both sides nets to nothing
        and a flipped vector emits its row once (Iceberg's own
        changelog procedure refuses DV tables; the identity-keyed diff
        here is strictly more capable)."""
        from pyspark.sql import functions as F

        snap_b = self._load_snap(from_id)
        snap_a = self._load_snap(to_id)
        # lineage tables: _row_id is derivation metadata, not content —
        # diffing it would make every materializing rewrite (compaction
        # on a lineage table) look like a full rewrite of every row
        lineage = bool(snap_a.get("row_lineage") or snap_b.get("row_lineage"))

        def _rf(files: list[str]) -> DataFrame:
            df = self._read_files(files)
            return df.drop("_row_id") if lineage else df

        files_b, files_a = set(snap_b["files"]), set(snap_a["files"])
        removed = [f for f in snap_b["files"] if f not in files_a]
        added = [f for f in snap_a["files"] if f not in files_b]
        carried = [f for f in snap_a["files"] if f in files_b]

        dels_b, dels_a = snap_b.get("deletes", []), snap_a.get("deletes", [])
        pos_b_files = snap_b.get("pos_deletes", [])
        pos_a_files = snap_a.get("pos_deletes", [])
        pos_b = self._coords(pos_b_files) if pos_b_files else None
        pos_a = self._coords(pos_a_files) if pos_a_files else None

        if with_lineage and not (
            snap_a.get("row_lineage") and snap_b.get("row_lineage")
        ):
            raise SnapshotError(
                "with_lineage requires row lineage enabled at BOTH snapshots"
            )

        def _reader(files: list[str], snap: dict) -> DataFrame:
            """Rows of ``files`` with their (_file, _pos) identity —
            plus, in lineage mode, each row's stable ``_row_id`` under
            ``snap``'s derivation maps. With ids in the netting key an
            UPDATE emits its delete+insert pair SHARING one _row_id
            (Iceberg's changelog pre/post update images), while a
            carried-identical rewritten row still cancels (same id,
            same content on both sides)."""
            if with_lineage:
                return _attach_row_ids(self, snap, files)
            return _rf(files).select("*", *_row_identity("data/"))

        # carried-file candidates whose visibility may have flipped:
        # (a) equality-delete state differs -> rows matching either
        #     side's delete keys, (b) positional vectors differ -> rows
        #     at the delta (file, pos) coordinates, scanning only the
        #     files those coordinates name. Candidates keep their
        #     (file, pos) identity so the two sides' visibility filters
        #     apply to the same physical rows and overlap dedupes
        #     exactly.
        cands = []
        if dels_b != dels_a and carried:
            if dels_b and dels_a and snap_b["delete_keys"] != snap_a["delete_keys"]:
                cands.append(_reader(carried, snap_a))  # no common semi-join key
            else:
                # both sides' delete keys, loaded once as a local relation
                key_cols = snap_a["delete_keys"] if dels_a else snap_b["delete_keys"]
                paths = [
                    os.path.join(self.path, d) for d in dict.fromkeys(dels_b + dels_a)
                ]
                keys = self.spark.createDataFrame(_keys_table(paths, key_cols))
                cands.append(
                    _reader(carried, snap_a).join(keys, key_cols, "left_semi")
                )
        if pos_b_files != pos_a_files and carried:
            # coordinates hidden on exactly one side
            if pos_b is None or pos_a is None:
                delta = pos_b if pos_a is None else pos_a
            else:
                delta = _by_coords(pos_b, pos_a, keep_matching=False).unionByName(
                    _by_coords(pos_a, pos_b, keep_matching=False)
                )
            # metadata-sized collect: distinct FILE NAMES the delta
            # vectors touch, so the scan below opens only those files
            named = {r["_file"] for r in delta.select("_file").distinct().collect()}
            touched = [f for f in carried if f in named]
            if touched:
                cands.append(
                    _by_coords(_reader(touched, snap_a), delta, keep_matching=True)
                )
        flip = None
        if cands:
            flip = cands[0]
            for c in cands[1:]:
                flip = flip.unionByName(c, allowMissingColumns=True)
            if len(cands) > 1:
                flip = flip.dropDuplicates(["_file", "_pos"])
            # both sides of the diff read the flip candidates, and a
            # plan branch re-executes its subtree per reference — pin
            # the (diff-sized: carried rows matching a delete-key /
            # delta-coordinate) frame so the carried-file scan and its
            # semi-join run once, not once per side
            flip = flip.localCheckpoint()

        def _side(changed_files, snap, pos):
            parts = []
            if changed_files:
                parts.append(_reader(changed_files, snap))
            if flip is not None:
                parts.append(flip)
            if not parts:
                return None
            rows = (
                parts[0]
                if len(parts) == 1
                else parts[0].unionByName(parts[1], allowMissingColumns=True)
            )
            if pos is not None:  # this side's vectors hide physical rows
                rows = _by_coords(rows, pos, keep_matching=False)
            # equality visibility is SEQUENCE-AWARE (a key re-appended
            # after its deletion is visible): applied while the rows
            # still carry their _file identity
            rows = _apply_eq_deletes(self, snap, rows, snap["files"])
            return rows.drop("_file", "_pos")

        side_b = _side(removed, snap_b, pos_b)
        side_a = _side(added, snap_a, pos_a)
        if side_a is None and side_b is None:
            empty = (
                _attach_row_ids(self, snap_a, snap_a["files"]).drop("_file", "_pos")
                if with_lineage
                else _rf(snap_a["files"])
            ).limit(0)
            return empty.withColumn("_change_type", F.lit("insert"))
        base = side_a if side_a is not None else side_b
        side_a = side_a if side_a is not None else base.limit(0)
        side_b = side_b if side_b is not None else base.limit(0)
        if side_a.columns != side_b.columns:
            # additive schema evolution between the snapshots: diff in
            # the union schema, old-side rows carry nulls for new cols
            dtypes = {f.name: f.dataType for f in [*side_b.schema.fields, *side_a.schema.fields]}
            order = list(dict.fromkeys([*side_a.columns, *side_b.columns]))

            def _align(df: DataFrame) -> DataFrame:
                return df.select(
                    *[
                        (F.col(c) if c in df.columns else F.lit(None).cast(dtypes[c])).alias(c)
                        for c in order
                    ]
                )

            side_a, side_b = _align(side_a), _align(side_b)
        # both directions of the bag difference in ONE aggregation:
        # after-rows weigh +1, before-rows -1; a nonzero net sum is a
        # change, its sign the type, its magnitude the multiplicity.
        # Two exceptAll calls would shuffle both sides twice each —
        # this shuffles the union once.
        cols = side_a.columns
        tagged = side_a.withColumn("_w", F.lit(1)).unionByName(
            side_b.withColumn("_w", F.lit(-1))
        )
        net = tagged.groupBy(*cols).agg(F.sum("_w").alias("_net")).filter("_net != 0")
        return net.select(
            *cols,
            F.expr(
                "explode(array_repeat(CASE WHEN _net > 0 THEN 'insert' ELSE 'delete' END,"
                " CAST(abs(_net) AS INT)))"
            ).alias("_change_type"),
        )

    # ------------------------------------------------------------ expiry
    def expire_snapshots(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> dict:
        """Drop expirable snapshots and unlink the one reachable set
        (:func:`_reachable`) of the expired ids minus that of the
        retained: data and delete files, statistics puffins, manifests,
        plan-index docs and segments, and an arbiter's pointer docs.
        Retention is the union of two rules (Iceberg's expire_snapshots
        shape): the newest ``keep_last`` always stay, and with
        ``older_than_ms`` set, any snapshot committed at or after that
        timestamp stays too; every ref's ``head`` stays as well. Runs
        under the commit lock: expiry races neither a commit (the id it
        is about to retire cannot be re-linked) nor another expiry, and
        the commit index is compacted in the same critical section so
        index readers never see an expired id as live.

        Returns a summary; ``removed_files`` counts the files unlinked."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        with self._commit_lock():
            return self._expire_locked(keep_last, older_than_ms)

    def _expire_locked(self, keep_last: int, older_than_ms: int | None) -> dict:
        ids = self.history_ids()
        young: set[int] = set()
        if older_than_ms is not None:
            # timestamps come from the index when it has the id — zero
            # manifest opens on an indexed table
            idx = self._read_index_raw()
            young = {
                i
                for i in ids
                if (
                    idx[i]["timestamp_ms"]
                    if i in idx
                    else self._load_snap(i)["timestamp_ms"]
                )
                >= older_than_ms
            }
        # ref heads (branches AND tags) are pinned: expiring a named
        # pointer's snapshot out from under it would break every read
        # through that ref. Their ancestor chains may expire — refs
        # resolve to a snapshot, not a chain. A head is what the
        # arbiter reads (a catalog entry may be ahead of its refs.json
        # row), not the row.
        refs = self.refs()
        pinned = {self.head(r) for r in [*refs["branches"], *refs["tags"]]} | young
        expire = [i for i in ids[:-keep_last] if i not in pinned]
        expire_set = set(expire)
        retain = [i for i in ids if i not in expire_set]
        if not expire:
            return {"expired_snapshots": 0, "removed_files": 0, "retained": retain}
        # a retained DELTA manifest whose base chain passes through an
        # expiring id must be materialized to full form FIRST (resolve
        # while the chain is intact, then atomically replace — content
        # identical, so concurrent resolved-cache entries stay valid).
        # It suffices to rebase manifests whose direct base expires:
        # bases always have smaller ids, so every deeper retained link
        # is itself either full or rebased by this same loop.
        for rid in retain:
            try:
                with open(self._snap_path(rid)) as f:
                    raw = json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            if raw.get("delta_base") in expire_set:
                self._rebase_to_full(rid)
        # both sets resolve EVERY manifest before ANY unlink: an
        # expiring delta whose base is also expiring would otherwise
        # become unresolvable mid-way in a cold process, aborting
        # expiry half-done — manifests gone, index never compacted
        doomed = _reachable(self, expire) - _reachable(self, retain)
        removed_files = 0
        # manifests first: a crash part-way leaves only files no
        # snapshot reaches, which the vacuum sweeps
        for rel in sorted(doomed, key=lambda r: not r.startswith("metadata/snap-")):
            try:
                os.unlink(os.path.join(self.path, rel))
                removed_files += 1
            except FileNotFoundError:
                pass
        if os.path.exists(self._index_path()):
            # compact the index to the retained ids: rewrite-and-replace
            # (atomic), still under the lock taken by expire_snapshots
            kept = [
                e
                for i, e in sorted(self._read_index_raw().items())
                if i not in expire_set
            ]
            tmp = self._index_path() + f".tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                for e in kept:
                    f.write(json.dumps(e, separators=(",", ":")) + "\n")
            os.replace(tmp, self._index_path())
        return {
            "expired_snapshots": len(expire),
            "removed_files": removed_files,
            "retained": retain,
        }


def _footer_key_range(path: str, key_col: str):
    """(min, max) of ``key_col`` from the parquet footer — no data read."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = md.schema.to_arrow_schema().get_field_index(key_col)
    if idx < 0:  # column absent (pre-evolution file): no stats
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None  # no stats: must treat the file as matchable
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if lo is None or hi is None:  # zero row groups (empty part file)
        return None
    return (lo, hi)


def _file_key_range(path: str, key_col: str):
    """PLAN-TIME footer fallback — distinct from :func:`_footer_key_range`
    so tests can pin that a fully-statted table's merge planning makes
    ZERO storage reads (write-side stats harvesting of just-written
    local files goes through ``_footer_key_range`` directly and does
    not count: those footers are in the writer's page cache)."""
    return _footer_key_range(path, key_col)


def _jsonable_range(rng):
    """A [lo, hi] pair safe to record in a JSON manifest, or None —
    recorded stats must survive the round trip with comparison
    semantics intact (timestamps/bytes would come back as strings and
    mis-compare against live values)."""
    if rng is None:
        return None
    lo, hi = rng
    ok = (int, float, str)
    if isinstance(lo, bool) or isinstance(hi, bool):
        return None
    if isinstance(lo, ok) and isinstance(hi, ok):
        return [lo, hi]
    return None


def _harvest_stats(table: SnapshotTable, files: list[str], cols: list[str]) -> dict:
    """Write-side stats harvest: per-file [min, max] for ``cols`` from
    the (just-written, page-cached) parquet footers, JSON-safe values
    only."""
    stats = {}
    for f in files:
        per_col = {}
        for c in cols:
            rng = _jsonable_range(
                _footer_key_range(os.path.join(table.path, f), c)
            )
            if rng is not None:
                per_col[c] = rng
        stats[f] = per_col
    return stats


def _merge_prune(
    table: SnapshotTable,
    snap: dict,
    source: DataFrame,
    key_cols: list[str],
    bounds,
) -> tuple[list[str], list[str], dict]:
    """FILE-GRANULAR copy-on-write planning for MERGE: split the
    snapshot's files into (touched, carried) with :func:`plan_files`:

    1. **recorded stats** on the first key column — zero storage reads;
       at 10^6 files on an object store this is the difference between
       a metadata lookup and 10^6 sequential footer GETs per merge,
    2. **recorded partition tuples** against the source's distinct
       transformed key values — a file whose tuple cannot match any
       source tuple is carried even when its key RANGE overlaps (bucket
       layouts defeat range stats),
    3. **footer fallback** only for files with neither; the range read
       is returned in ``discovered`` so the caller records it in the
       merge's own commit — each file pays at most ONE footer read in
       its lifetime, and steady-state merges make zero storage reads
       (the partition probes render at the key types the spec records;
       a spec written before those were recorded costs one footer read
       per merge on an untracked table).

    ``bounds`` has .lo/.hi of the first key column (nulls never
    match in MERGE ON, so an all-null-keyed source touches nothing)."""
    key0 = key_cols[0]
    files = snap["files"]
    if bounds.lo is None and bounds.hi is None:
        return [], list(files), {}
    ranges = [(key0, ">=", bounds.lo), (key0, "<=", bounds.hi)]
    partitioned = snap.get("partition_specs") or snap.get("partition_spec")
    plan = plan_files(
        table,
        snap["snapshot_id"],
        ranges,
        source if partitioned else None,
        key_cols,
        snap=snap,
        unstatted=key0,
    )
    touched, discovered = set(), {}
    for f in plan.files:
        if f in plan.unstatted:
            # the current key column resolves to the name the file was
            # written under (pre-rename files); discovery records only
            # under the current name
            wname = _written_column_name(snap, f, key0)
            rng = (
                _file_key_range(os.path.join(table.path, f), wname)
                if wname is not None
                else None
            )
            jr = _jsonable_range(rng) if wname == key0 else None
            if jr is not None:
                discovered[f] = {key0: jr}
            if rng is not None and not all(
                overlaps(op, lit, *rng) for _, op, lit in ranges
            ):
                continue
        touched.add(f)
    return (
        [f for f in files if f in touched],
        [f for f in files if f not in touched],
        discovered,
    )


# ------------------------------------------------------------ schema evolution
# Field-id-based schema tracking — the Iceberg capability the metadata
# docs the migration plane moves are FOR (a registered table's schema
# travels with its pointer; `CatalogMigrator.java:208-224` registers
# the doc, never rewrites data). Once tracked, every manifest carries a
# schema log: renames keep the field id (old files resolve by id, not
# name), widening keeps the id and casts, and files written before a
# column was added read as nulls. All metadata-sized state.


def _schema_by_id(schemas: list[dict], schema_id: int) -> dict:
    for s in schemas:
        if s["schema_id"] == schema_id:
            return s
    raise SnapshotError(f"schema id {schema_id} not in manifest schema log")


def _schema_extra_for_append(psnap: dict, df_schema, new_files: list[str]) -> dict:
    """Schema-tracking manifest keys for an append onto a tracked
    table: columns match the CURRENT schema by name (keeping ids), new
    names mint new ids, and the current schema advances only when the
    append's fields COVER the current ones (every current field
    present, same name, type equal or widened — a narrower writer
    never shrinks the table's schema).

    Type changes are policed: a narrower write (int into a bigint
    column) records as-is and casts UP on read; a wider write must
    carry every current column so the current schema can advance with
    it; a cross-family conflict (string into int) is refused — the old
    name-based mergeSchema failed loudly there, and silent tracking
    would turn it into silent corruption."""
    schemas = psnap["schemas"]
    cur = _schema_by_id(schemas, psnap["current_schema_id"])
    cur_by_name = {f["name"]: f for f in cur["fields"]}
    next_id = psnap["next_field_id"]
    fields, widens = [], []
    for sf in df_schema.fields:
        known = cur_by_name.get(sf.name)
        t = sf.dataType.simpleString()
        if known is not None:
            if t != known["type"]:
                if (known["type"], t) in _WIDENINGS:
                    widens.append(sf.name)
                elif (t, known["type"]) not in _WIDENINGS:
                    raise SnapshotError(
                        f"append column {sf.name!r} has type {t} but the "
                        f"tracked schema says {known['type']}: cast the "
                        "writer, or widen_column first"
                    )
            # v3 column defaults are FIELD state: a freshly-minted
            # schema entry (e.g. the append reordered columns) must
            # carry them, or a schema-advancing append would silently
            # drop initial/write defaults from the current schema
            carried = {
                k: known[k]
                for k in ("initial_default", "write_default")
                if k in known
            }
            fields.append(
                {"id": known["id"], "name": sf.name, "type": t, **carried}
            )
        else:
            # a name absent from the CURRENT schema may still be the
            # pre-rename name of a live field: a stale writer landing
            # values under the old name would get a hidden new field id
            # — its values unreachable, the renamed column null for its
            # rows. Refuse loudly instead of silently forking the column.
            for s in schemas:
                hit = next((f for f in s["fields"] if f["name"] == sf.name), None)
                if hit is not None and hit["id"] in {
                    f["id"] for f in cur["fields"]
                }:
                    now = next(
                        f["name"] for f in cur["fields"] if f["id"] == hit["id"]
                    )
                    raise SnapshotError(
                        f"append column {sf.name!r} is the FORMER name of a "
                        f"live column (field id {hit['id']}, now {now!r}): "
                        "update the writer to the renamed schema instead of "
                        "writing under the old name"
                    )
            fields.append({"id": next_id, "name": sf.name, "type": t})
            next_id += 1
    sig = [(f["id"], f["name"], f["type"]) for f in fields]
    for s in schemas:
        if [(f["id"], f["name"], f["type"]) for f in s["fields"]] == sig:
            sid, new_schemas = s["schema_id"], schemas
            break
    else:
        sid = max(s["schema_id"] for s in schemas) + 1
        new_schemas = schemas + [{"schema_id": sid, "fields": fields}]

    by_id = {f["id"]: f for f in fields}

    def _covers() -> bool:
        for cf in cur["fields"]:
            nf = by_id.get(cf["id"])
            if nf is None or nf["name"] != cf["name"]:
                return False
            if nf["type"] != cf["type"] and (cf["type"], nf["type"]) not in _WIDENINGS:
                return False
        return True

    advance = _covers()
    if widens and not advance:
        # a wider-typed file recorded under a non-advancing schema
        # would be cast back DOWN by read() — refuse instead
        raise SnapshotError(
            f"append widens column(s) {widens} but omits current columns, "
            "so the table schema cannot advance with it; include every "
            "current column or widen_column first"
        )
    # the new files' ids only: the carried ones keep theirs (_commit)
    return {
        "schemas": new_schemas,
        "current_schema_id": sid if advance else psnap["current_schema_id"],
        "next_field_id": next_id,
        "file_schema_ids": {f: sid for f in new_files},
    }


def _written_column_name(snap: dict, f: str, col: str) -> str | None:
    """The name ``col`` (a current-schema column) was WRITTEN under in
    file ``f``, resolved through field ids; None if the file predates
    the column. Untracked tables: the name itself."""
    schemas = snap.get("schemas")
    if not schemas:
        return col
    cur = _schema_by_id(schemas, snap["current_schema_id"])
    fid = next((fl["id"] for fl in cur["fields"] if fl["name"] == col), None)
    if fid is None:
        return None
    sid = snap.get("file_schema_ids", {}).get(f, snap["current_schema_id"])
    s = _schema_by_id(schemas, sid)
    return next((fl["name"] for fl in s["fields"] if fl["id"] == fid), None)


def track_schema(table: SnapshotTable, ref: str = MAIN) -> int:
    """Start field-id schema tracking: commit a snapshot recording the
    current read schema as schema 0 (ids in column order) and mapping
    every current file to it. Idempotent on already-tracked tables.
    From here on, appends maintain the schema log automatically and
    ``rename_column`` / ``widen_column`` become available."""
    table._check_writable_ref(ref)
    parent = table.head(ref)
    if parent is None:
        raise SnapshotError("cannot track the schema of an empty table")
    snap = table._load_snap(parent)
    if snap.get("schemas"):
        return parent
    if snap.get("row_lineage"):
        raise SnapshotError(
            "schema tracking on a row-lineage table is not supported yet"
        )
    schema = table._read_files(snap["files"]).schema
    fields = [
        {"id": i + 1, "name": f.name, "type": f.dataType.simpleString()}
        for i, f in enumerate(schema.fields)
    ]
    extra = {
        "schemas": [{"schema_id": 0, "fields": fields}],
        "current_schema_id": 0,
        "next_field_id": len(fields) + 1,
        "file_schema_ids": {f: 0 for f in snap["files"]},
    }
    return table._commit(snap["files"], "track-schema", parent, extra=extra, ref=ref)


def _require_tracked_no_deletes(table: SnapshotTable, ref: str) -> tuple[int, dict]:
    table._check_writable_ref(ref)
    parent = table.head(ref)
    if parent is None:
        raise SnapshotError("empty table")
    snap = table._load_snap(parent)
    if not snap.get("schemas"):
        raise SnapshotError("schema evolution requires track_schema first")
    if snap.get("deletes") or snap.get("pos_deletes"):
        raise SnapshotError(
            "compact_deletes before evolving the schema: pending "
            "equality-delete files are keyed by the current column names"
        )
    return parent, snap


def rename_column(table: SnapshotTable, old: str, new: str, ref: str = MAIN) -> int:
    """Metadata-only column rename: a new current schema keeps the
    field's id under the new name, so every existing file — written
    under the old name — resolves correctly with zero data rewritten.
    (Name-based ``mergeSchema`` cannot do this; it is exactly what
    field ids are for.)"""
    parent, snap = _require_tracked_no_deletes(table, ref)
    schemas = snap["schemas"]
    cur = _schema_by_id(schemas, snap["current_schema_id"])
    names = [f["name"] for f in cur["fields"]]
    if old not in names:
        raise SnapshotError(f"no column {old!r}; have {names}")
    if new in names:
        raise SnapshotError(f"column {new!r} already exists")
    fields = [
        {**f, "name": new if f["name"] == old else f["name"]} for f in cur["fields"]
    ]
    sid = max(s["schema_id"] for s in schemas) + 1
    extra = {
        "schemas": schemas + [{"schema_id": sid, "fields": fields}],
        "current_schema_id": sid,
        "next_field_id": snap["next_field_id"],
    }
    # recorded stats are keyed by CURRENT column name (record_file_stats
    # and merge discovery both write current names): re-key them with
    # the rename so (a) pruning on the new name keeps working and (b) a
    # later rename REUSING the old name can never serve the retired
    # field's ranges — stats under a stale name would prune wrongly
    stats = snap.get("file_stats")
    if stats is not None:
        extra["file_stats"] = {
            f: {(new if c == old else c): rng for c, rng in per.items()}
            for f, per in stats.items()
        }
    # table statistics re-key the same way: the sketches track the
    # FIELD (ids in the puffin resolve through the schema log), so
    # column_ndv / update_table_statistics keep working after renames
    ts = snap.get("table_stats")
    if ts is not None and old in ts.get("ndv", {}):
        extra["table_stats"] = {
            **ts,
            "ndv": {
                (new if c == old else c): v
                for c, v in ts["ndv"].items()
            },
        }
    # and sort orders: the clustering is a property of the FIELD, so
    # the recorded column list follows the rename — a stale name would
    # export a spec-invalid empty-fields order (or, on name reuse,
    # claim the files are clustered on the WRONG column)
    orders = snap.get("sort_orders")
    if orders is not None and any(old in o["fields"] for o in orders):
        extra["sort_orders"] = [
            {
                **o,
                "fields": [new if c == old else c for c in o["fields"]],
            }
            for o in orders
        ]
    return table._commit(
        snap["files"], f"rename-{old}-to-{new}", parent, extra=extra, ref=ref
    )


# widening that never loses information — the Iceberg-allowed set
_WIDENINGS = {
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
}


def widen_column(table: SnapshotTable, col: str, to_type: str, ref: str = MAIN) -> int:
    """Metadata-only type widening (int→bigint, float→double, ...):
    the field keeps its id, reads cast old files up to the new type.
    Narrowing or cross-family changes are refused — they lose data."""
    parent, snap = _require_tracked_no_deletes(table, ref)
    schemas = snap["schemas"]
    cur = _schema_by_id(schemas, snap["current_schema_id"])
    fld = next((f for f in cur["fields"] if f["name"] == col), None)
    if fld is None:
        raise SnapshotError(f"no column {col!r}; have {[f['name'] for f in cur['fields']]}")
    if fld["type"] == to_type:
        return parent
    if (fld["type"], to_type) not in _WIDENINGS:
        raise SnapshotError(
            f"cannot widen {col!r} from {fld['type']} to {to_type}: only "
            f"lossless widenings are allowed ({sorted(_WIDENINGS)})"
        )
    fields = [
        {**f, "type": to_type if f["name"] == col else f["type"]} for f in cur["fields"]
    ]
    sid = max(s["schema_id"] for s in schemas) + 1
    extra = {
        "schemas": schemas + [{"schema_id": sid, "fields": fields}],
        "current_schema_id": sid,
        "next_field_id": snap["next_field_id"],
    }
    return table._commit(
        snap["files"], f"widen-{col}-to-{to_type}", parent, extra=extra, ref=ref
    )


#: primitive types whose v3 column defaults the engine serves exactly,
#: in Spark simpleString vocabulary (the read side's
#: ``iceberg_read._DEFAULTABLE_TYPES`` is derived from this set)
_DEFAULTABLE_SPARK_TYPES = frozenset(
    {"boolean", "int", "bigint", "float", "double", "string", "date"}
)

_DATE_RE_DEFAULT = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _default_scalar_matches(spark_type: str, v) -> bool:
    """True when JSON scalar ``v`` is the spec's single-value form for
    ``spark_type`` — guards the cast path from serving silent nulls or
    silently WRONG values. The single implementation for both sides:
    the read side calls it through the one Iceberg→Spark type map
    (``table_metadata.spark_type``), so write and read guards cannot
    drift. Range- and calendar-exact: Spark's non-ANSI cast
    WRAPS an out-of-range int and NULLS an invalid date, so shape
    checks alone would wave through exactly the misreads this exists
    to refuse."""
    if spark_type == "boolean":
        return isinstance(v, bool)
    if spark_type == "int":
        return (
            isinstance(v, int)
            and not isinstance(v, bool)
            and -(2**31) <= v < 2**31
        )
    if spark_type == "bigint":
        return (
            isinstance(v, int)
            and not isinstance(v, bool)
            and -(2**63) <= v < 2**63
        )
    if spark_type in ("float", "double"):
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            return False
        import math

        try:
            f = float(v)  # a huge int overflows HERE, not in the cast
        except OverflowError:
            return False
        if not math.isfinite(f):
            return False
        if spark_type == "float":
            # float32 range: the narrowing cast silently serves
            # Infinity past FLT_MAX — struct is the exact oracle
            import struct as _struct

            try:
                _struct.pack("<f", f)
            except OverflowError:
                return False
        return True
    if spark_type == "string":
        return isinstance(v, str)
    if spark_type == "date":
        if not (isinstance(v, str) and _DATE_RE_DEFAULT.match(v)):
            return False
        import datetime

        try:
            datetime.date.fromisoformat(v)
        except ValueError:  # calendar-invalid, e.g. 2020-02-30
            return False
        return True
    return False


def add_column(
    table: SnapshotTable,
    name: str,
    dtype: str,
    initial_default=None,
    write_default=None,
    ref: str = MAIN,
) -> int:
    """Metadata-only ADD COLUMN on a schema-tracked table, with the v3
    default semantics (spec: ``initial-default`` is what reads of files
    that do not contain the field serve; ``write-default`` is what the
    WRITE path fills when an appended DataFrame omits the column).

    Files committed before this call keep their schema ids, so
    ``read()`` resolves their missing field to ``initial_default``
    (``_resolve_files``); ``append``/``overwrite`` fill
    ``write_default`` physically into new files
    (``_fill_write_defaults``), so post-addition files always CONTAIN
    the column — the spec's writer requirement. Defaults are limited to
    the primitive scalars the read side serves exactly; other shapes
    refuse loudly (never a silent null misread). The exporter carries
    both defaults into format-version 3 metadata
    (``iceberg_format.py``) and refuses a v2 export, where the field
    is off-spec."""
    parent, snap = _require_tracked_no_deletes(table, ref)
    schemas = snap["schemas"]
    cur = _schema_by_id(schemas, snap["current_schema_id"])
    if any(f["name"] == name for f in cur["fields"]):
        raise SnapshotError(f"column {name!r} already exists")
    if (
        initial_default is not None or write_default is not None
    ) and dtype not in _DEFAULTABLE_SPARK_TYPES:
        raise SnapshotError(
            f"column defaults on type {dtype!r} are not served: only "
            f"primitive scalars ({sorted(_DEFAULTABLE_SPARK_TYPES)}) "
            "read back exactly"
        )
    for label, v in (("initial", initial_default), ("write", write_default)):
        if v is not None and isinstance(v, (dict, list, tuple, set, bytes)):
            raise SnapshotError(
                f"{label}_default must be a JSON scalar, got {type(v).__name__}"
            )
        # the scalar must MATCH the column type: F.lit('seven')
        # .cast('bigint') would serve a silent NULL — exactly the
        # misread this feature exists to prevent
        if v is not None and not _default_scalar_matches(dtype, v):
            raise SnapshotError(
                f"{label}_default {v!r} does not match column type "
                f"{dtype!r}: the cast would serve a silent null"
            )
    fld = {"id": snap["next_field_id"], "name": name, "type": dtype}
    if initial_default is not None:
        fld["initial_default"] = initial_default
    if write_default is not None:
        fld["write_default"] = write_default
    sid = max(s["schema_id"] for s in schemas) + 1
    extra = {
        "schemas": schemas + [{"schema_id": sid, "fields": cur["fields"] + [fld]}],
        "current_schema_id": sid,
        "next_field_id": snap["next_field_id"] + 1,
    }
    return table._commit(
        snap["files"], f"add-column-{name}", parent, extra=extra, ref=ref
    )


def _fill_write_defaults(psnap: dict, df: DataFrame) -> DataFrame:
    """Fill each current-schema column carrying a ``write_default``
    that the appended DataFrame omits — the v3 writer-side rule: files
    written after the column exists must CONTAIN it (reads must never
    serve initial-default for post-addition rows)."""
    from pyspark.sql import functions as F

    cur = _schema_by_id(psnap["schemas"], psnap["current_schema_id"])
    have = set(df.columns)
    for fld in cur["fields"]:
        wd = fld.get("write_default")
        if wd is not None and fld["name"] not in have:
            df = df.withColumn(fld["name"], F.lit(wd).cast(fld["type"]))
    return df


class MergeResult(dict):
    """Summary of a copy-on-write merge (dict for easy assertion)."""


def _merge_stats_extra(
    table: SnapshotTable,
    carried: list[str],
    discovered: dict,
    rewritten: list[str],
    key0: str,
) -> dict:
    """The merge commit's new ``file_stats`` entries (the carried files'
    recorded stats are inherited): any footer ranges the pruning pass
    had to discover, and freshly-harvested key stats for the merge's
    OWN rewritten files — so the NEXT merge plans entirely from the
    manifest (zero storage reads in steady state)."""
    keep = set(carried)
    out = {f: v for f, v in discovered.items() if f in keep}
    for f, per_col in _harvest_stats(table, rewritten, [key0]).items():
        if per_col:
            out[f] = per_col
    return {"file_stats": out} if out else {}


def _carry_deletes_after_merge(
    table: SnapshotTable,
    snap: dict,
    source: DataFrame,
    key_cols: list[str],
    carried: list[str],
) -> dict:
    """Delete state for a merge commit over pending MOR deletes — the
    consumed entries are DROPPED in the same commit: the merge commit
    owns the delete group, so a key missing here is dropped, never
    inherited from the parent.

    A merge over pending deletes of any kind is safe, whatever their
    key columns: positional vectors are file-bound, and equality
    deletes apply SEQUENCE-AWARE (Iceberg's data-sequence-number rule)
    — the merge's output files are sequenced after every pending
    delete, so no carried delete entry can hide them.

    - positional vectors: entries naming a TOUCHED file were applied
      during the visible read (the rewrite materialized them); entries
      naming carried files are rewritten into a fresh vector file so
      they keep hiding their rows. Delta-sized: O(vector rows).
    - equality keys: with SAME-keyed deletes, the source's own keys are
      subtracted as hygiene (their entries are fully consumed — carried
      files hold no source keys by the pruning contract, and the
      rewritten files are sequenced past every delete anyway), so a CDC
      replica's delete files do not grow with every merge; with
      DIFFERENTLY-keyed deletes the entries carry verbatim — the
      sequence rule alone keeps them exact (they apply to carried
      files, never to the merge's output). Legacy UNSTAMPED entries
      are adopted with the merge commit's sequence so they cannot
      read as +infinity and hide the merge's output.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    out = {}
    pos = snap.get("pos_deletes", [])
    if pos:
        # one plan run: write the survivors, then drop the staged output
        # when its footers hold no row (an empty write leaves one such
        # file), instead of counting them first in a job of their own
        surviving = table._coords(pos).filter(F.col("_file").isin(carried))
        written = table._write_data_files(surviving)
        kept = [
            f
            for f in written
            if pq.read_metadata(os.path.join(table.path, f)).num_rows
        ]
        for f in set(written) - set(kept):
            os.unlink(os.path.join(table.path, f))
        if kept:
            out["pos_deletes"] = kept
    dels = snap.get("deletes", [])
    if not dels:
        return out
    dseqs = snap.get("delete_seqs", {})
    if snap["delete_keys"] != key_cols:
        # differently-keyed deletes: carry verbatim, sequences keep
        # them exact (one rewritten delete-file set would lose the
        # per-file sequence stamps). A LEGACY unstamped entry would
        # read as +infinity ("applies to everything") and hide the
        # merge's own output, so it is ADOPTED into the sequence
        # model here: stamped with the merge commit's sequence, it
        # keeps hiding every pre-merge file (all sequenced before)
        # while the merge's output — and future appends — escape.
        adopt_seq = int(snap.get("sequence_number", 0)) + 1
        out["deletes"] = dels
        out["delete_keys"] = snap["delete_keys"]
        out["delete_seqs"] = {d: dseqs.get(d, adopt_seq) for d in dels}
        return out
    # same-keyed: consume the source's keys as hygiene VINTAGE BY
    # VINTAGE (one pending delete file), so each surviving entry keeps
    # ITS OWN sequence stamp — stacked deletes spanning an append apply
    # to different file generations; collapsing them to one sequence
    # would mis-scope the younger entries. Every vintage loads through
    # the Arrow key loader, tagged with its index, and one anti-join
    # against the source keys serves them all.
    vintages = []
    for i, d in enumerate(dels):
        t = _keys_table([os.path.join(table.path, d)], key_cols)
        tag = pa.array([i] * len(t), pa.int32())
        vintages.append(t.append_column("_vintage", tag))
    survivors = (
        table.spark.createDataFrame(pa.concat_tables(vintages))
        .join(source.select(*key_cols), key_cols, "left_anti")
        .toArrow()
    )
    new_out: list[str] = []
    new_seqs: dict[str, int] = {}
    for i, d in enumerate(dels):
        kept = survivors.filter(pc.equal(survivors["_vintage"], i))
        if len(kept):
            nf = table._write_arrow_file(kept.drop_columns(["_vintage"]))
            new_out.append(nf)
            if d in dseqs:
                new_seqs[nf] = dseqs[d]
    if new_out:
        out["deletes"] = sorted(new_out)
        out["delete_keys"] = snap["delete_keys"]
        if new_seqs:
            out["delete_seqs"] = new_seqs
    return out


def _cow_merge(
    table: SnapshotTable,
    source: DataFrame,
    key_cols: list[str],
    kernel: Callable,
    ref: str,
    extra: dict | None,
    check_unique: bool,
) -> MergeResult:
    """The one copy-on-write MERGE frame of :func:`merge_upsert` and
    :func:`merge_into`; only the row ``kernel`` differs between them.

    The scale property is FILE-GRANULAR copy-on-write: recorded stats
    (or parquet footer min/max) on the first key column prune the
    current file list to the files whose key range intersects the
    source's — only those are read and rewritten (one shuffle,
    source-bounded); every other file carries over BY NAME into the new
    snapshot, untouched. At 100 TB a point-update rewrites one file,
    not the table. Footerless files (no stats) conservatively count as
    matchable.

    ``kernel(target, source, columns)`` gets the touched files' VISIBLE
    rows (pending vectors and equality keys applied, so a MOR-hidden
    row is NOT MATCHED and the consumed delete entries drop in the
    commit; ``_row_id`` attached on a lineage table; None when no file
    is touched or the table has no parent), the source cast to the
    table's types and the table's columns (empty when the table has
    none yet). It returns the rows to write, ``_row_id`` NULL for the
    inserts that take fresh consecutive ids, or None when there is
    nothing to write; the frame casts them to the table's types.
    ``check_unique`` refuses a source that is not key-unique (SQL
    MERGE's cardinality rule; null keys group together). A table
    without a parent commits ``merge-insert-only`` (Iceberg's
    ``append``). ``extra`` rides on the commit manifest."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    table._check_writable_ref(ref)
    parent = table.head(ref)
    snap = table._load_snap(parent) if parent is not None else {"files": []}
    # the table's types (the current schema when tracked, else a data
    # file's), so no merge writes a file typed otherwise than the
    # table: an untracked table cannot read back files whose types differ
    if snap.get("schemas"):
        cur = _schema_by_id(snap["schemas"], snap["current_schema_id"])
        types = {f["name"]: f["type"] for f in cur["fields"]}
    elif snap["files"]:
        types = {
            f.name: f.dataType.simpleString()
            for f in _file_schema(table, snap["files"][0]).fields
            if f.name != "_row_id"  # a lineage rewrite's id column
        }
    else:
        types = {}

    def at_table_types(df: DataFrame) -> DataFrame:
        casts = {
            f.name: F.col(f.name).cast(types[f.name])
            for f in df.schema.fields
            if f.name in types and f.dataType.simpleString() != types[f.name]
        }
        return df.withColumns(casts) if casts else df

    source = at_table_types(source)

    key0 = key_cols[0]
    touched, carried, discovered = [], [], {}
    if parent is not None or check_unique:
        # one aggregate: the first key's bounds, the row count and, over
        # the rows grouped by the keys, the largest per-key count — the
        # uniqueness check runs in the bounds' own 2 Spark jobs
        rows_per_key = (
            source.groupBy(*key_cols).count()
            if check_unique
            else source.select(key0, F.lit(1).alias("count"))
        )
        bounds = rows_per_key.agg(
            F.min(key0).alias("lo"),
            F.max(key0).alias("hi"),
            F.sum("count").alias("n"),
            F.max("count").alias("most"),
        ).first()
        if (bounds.most or 0) > 1:
            raise SnapshotError(
                f"merge source is not key-unique on {key_cols}: "
                "SQL MERGE refuses multiple matches per target row"
            )
    if parent is not None:
        if not bounds.n:
            # empty source: no row can change — a no-op, not a commit
            # (with bounds.lo None every file used to count as touched,
            # turning an empty CDC micro-batch into a FULL-TABLE rewrite)
            return MergeResult(
                rewritten=0, carried=len(snap["files"]), new_files=0, snapshot_id=parent
            )
        touched, carried, discovered = _merge_prune(
            table, snap, source, key_cols, bounds
        )
    lineage = bool(snap.get("row_lineage"))
    target = visible = vis_obs = None
    if touched:
        target = visible = _resolve_visible(
            table, snap, touched, with_row_ids=lineage
        )
        if snap.get("visible_rows") is not None:
            # visible-count maintenance: the touched files' visible rows
            # are exactly what this rewrite replaces; observe() counts
            # them on the SAME job that writes the merge output
            vis_obs = Observation()
            target = target.observe(vis_obs, F.count(F.lit(1)).alias("n"))
    rows = kernel(target, source, list(types))
    if rows is None:
        # nothing touched and no row to insert: nothing changes
        return MergeResult(
            rewritten=0, carried=len(carried), new_files=0, snapshot_id=parent
        )
    rows = at_table_types(rows)
    if lineage:
        if "_row_id" not in rows.columns:
            rows = rows.withColumn("_row_id", F.lit(None).cast("bigint"))
        rows = _assign_new_row_ids(rows, snap["next_row_id"], key_cols)
    rewritten = table._write_data_files(rows)
    commit_extra: dict = {}
    if lineage:
        # kept and updated rows hold ids below the counter and inserts
        # took consecutive ids from it, so the written files' largest
        # _row_id advances the counter without a count job
        next_row_id = snap["next_row_id"]
        for f in rewritten:
            path = os.path.join(table.path, f)
            rng = _footer_key_range(path, "_row_id")
            if rng is None:  # no footer stats: read the column itself
                ids = pq.read_table(path, columns=["_row_id"])["_row_id"]
                rng = (None, pc.max(ids).as_py())
            if rng[1] is not None:  # None: a file without rows
                next_row_id = max(next_row_id, rng[1] + 1)
        commit_extra["next_row_id"] = next_row_id
        commit_extra["lineage_files"] = {f: True for f in rewritten}
    if snap.get("visible_rows") is not None:
        removed = 0  # no touched files: nothing replaced
        if vis_obs is not None:
            # AQE's empty-relation propagation can drop the observed
            # branch when it turns out empty at runtime, leaving the
            # metrics row unfilled; that plan is cheap to count instead
            try:
                removed = int(vis_obs.get["n"])
            except Exception:  # noqa: BLE001 - unfilled metrics row
                removed = visible.count()
        commit_extra["visible_rows_mode"] = "replace_delta"
        commit_extra["visible_rows_removed"] = removed
    table._commit(
        carried + rewritten,
        "merge" if parent is not None else "merge-insert-only",
        parent,
        extra={
            **_merge_stats_extra(table, carried, discovered, rewritten, key0),
            # the merge owns the delete group: what the carry drops stays
            # dropped (None), never inherited from the parent
            **dict.fromkeys(_INHERITED_GROUPS["delete"]),
            **_carry_deletes_after_merge(table, snap, source, key_cols, carried),
            **commit_extra,
            **(extra or {}),
        },
        ref=ref,
    )
    result = MergeResult(
        rewritten=len(touched), carried=len(carried), new_files=len(rewritten)
    )
    if parent is None:
        # every written row is an insert: the footers count them
        result["inserted"] = sum(
            pq.read_metadata(os.path.join(table.path, f)).num_rows for f in rewritten
        )
    return result


def merge_upsert(
    table: SnapshotTable,
    delta: DataFrame,
    key_cols: list[str],
    ref: str = MAIN,
) -> MergeResult:
    """Copy-on-write MERGE (upsert) into a snapshot table.

    ``ref`` stages the merge on a branch (write-audit-publish: MERGEs
    and DELETEs belong on the audit branch just like appends — the
    Nessie model is every operation on any ref); main adopts the
    result via ``fast_forward`` after audit.

    Semantics: rows in ``delta`` REPLACE current rows with the same key;
    unmatched delta rows are inserted. Equivalent to
    ``MERGE INTO t USING delta ON keys WHEN MATCHED THEN UPDATE *
    WHEN NOT MATCHED THEN INSERT *``, except that neither side must be
    key-unique: every target row of a delta key gives way, so
    duplicate-keyed target rows collapse to the delta's rows. The
    kernel is one anti-join and a union inside :func:`_cow_merge`'s
    file-granular copy-on-write frame."""
    from pyspark.sql import functions as F

    def upsert(target, source, columns):
        if target is None:
            return source
        keep = target.join(source.select(*key_cols), key_cols, "left_anti")
        if "_row_id" not in target.columns:
            return keep.unionByName(source)
        # an updated row KEEPS its _row_id (matched mapping); unmatched
        # delta rows get NULL here, fresh ids in the frame. min() per
        # key: duplicate-keyed TARGET rows collapse to ONE delta row
        # either way — without it the left join would multiply the
        # delta by the duplicate count, diverging from the non-lineage
        # path
        matched_ids = (
            target.select(*key_cols, "_row_id")
            .join(source.select(*key_cols), key_cols, "left_semi")
            .groupBy(*key_cols)
            .agg(F.min("_row_id").alias("_row_id"))
        )
        return keep.unionByName(source.join(matched_ids, key_cols, "left"))

    return _cow_merge(table, delta, key_cols, upsert, ref, None, check_unique=False)


class MergeClause:
    """One WHEN clause of :func:`merge_into`, in SQL MERGE's shape.

    ``kind``: ``"update"`` / ``"delete"`` (WHEN MATCHED) or ``"insert"``
    (WHEN NOT MATCHED). ``condition``: optional SQL boolean over the
    joined row — target columns by their bare names, source columns as
    ``src_<name>`` (the join prefixes the source side, so the reference
    is never ambiguous). ``assignments``: for update/insert, a dict of
    ``target_col -> SQL expression`` (same column-naming convention),
    or ``"*"`` meaning "every target column from the source's
    same-named column" (UPDATE SET * / INSERT *; a column the source
    lacks is unassigned)."""

    def __init__(self, kind: str, condition: str | None = None, assignments="*"):
        if kind not in ("update", "delete", "insert"):
            raise ValueError(f"unknown merge clause kind {kind!r}")
        self.kind = kind
        self.condition = condition
        self.assignments = assignments


def merge_into(
    table: SnapshotTable,
    source: DataFrame,
    key_cols: list[str],
    clauses: list[MergeClause],
    ref: str = MAIN,
    extra: dict | None = None,
    check_unique: bool = True,
) -> MergeResult:
    """Full-surface MERGE INTO with ordered WHEN clauses — the ANSI
    shape :func:`merge_upsert` specializes::

        MERGE INTO t USING s ON t.k = s.k
        WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE
        WHEN NOT MATCHED [AND cond] THEN INSERT ...

    Clause semantics match SQL MERGE: for each target row with a source
    match, the FIRST matched-clause whose condition holds applies (none
    → the row is kept unchanged); each unmatched source row takes the
    first not-matched clause whose condition holds (none → dropped);
    target rows without a source match are always kept. The source must
    be key-unique (checked — SQL MERGE's cardinality rule — unless
    ``check_unique=False`` says the caller guarantees it).

    The kernel is a single JVM-side CASE chain over one full-outer join
    of the touched files' visible rows and the source — no per-clause
    scans, no Python in the row path — inside :func:`_cow_merge`'s
    file-granular copy-on-write frame. ``extra`` rides on the commit
    manifest (e.g. a streaming epoch marker, letting a CDC apply be ONE
    commit)."""
    from pyspark.sql import functions as F

    matched = [c for c in clauses if c.kind in ("update", "delete")]
    unmatched = [c for c in clauses if c.kind == "insert"]

    def case_chain(target, source, columns):
        src = source.select(
            [F.col(c).alias(f"src_{c}") for c in source.columns]
            + [F.lit(1).alias("_s_m")]
        )
        if target is None:
            # no target row to match: only NOT MATCHED clauses can fire.
            # They write the table's columns, or on a table without any
            # yet the columns they assign ("*": the source's)
            if not unmatched:
                return None
            when_matched, target_cols = [], list(columns)
            for c in unmatched if not columns else ():
                for n in source.columns if c.assignments == "*" else c.assignments:
                    if n not in target_cols:
                        target_cols.append(n)
            joined = src.withColumn("_t_m", F.lit(None))
        else:
            when_matched = matched
            cur = target.withColumn("_t_m", F.lit(1))
            target_cols = [c for c in target.columns if c != "_row_id"]
            join_cond = None
            for k in key_cols:
                c = cur[k] == src[f"src_{k}"]  # SQL MERGE ON: nulls never match
                join_cond = c if join_cond is None else (join_cond & c)
            joined = cur.join(src, join_cond, "full_outer")
        is_matched = F.col("_t_m").isNotNull() & F.col("_s_m").isNotNull()
        is_t_only = F.col("_t_m").isNotNull() & F.col("_s_m").isNull()
        is_s_only = F.col("_t_m").isNull() & F.col("_s_m").isNotNull()

        def _cond(c: MergeClause):
            return F.expr(c.condition) if c.condition is not None else F.lit(True)

        # one CASE chain decides each joined row's fate — first clause wins
        action = F.when(is_t_only, F.lit("keep"))
        for i, c in enumerate(when_matched):
            action = action.when(
                is_matched & _cond(c),
                F.lit("delete" if c.kind == "delete" else f"update:{i}"),
            )
        action = action.when(is_matched, F.lit("keep"))
        for j, c in enumerate(unmatched):
            action = action.when(is_s_only & _cond(c), F.lit(f"insert:{j}"))
        joined = joined.withColumn("_action", action)  # null action = drop

        def _value(col: str, clause: MergeClause, unassigned):
            if clause.assignments == "*":
                # a table column the source lacks is left unassigned
                return F.col(f"src_{col}") if col in source.columns else unassigned
            a = clause.assignments.get(col)
            return F.expr(a) if a is not None else unassigned

        out_cols = []
        for col in target_cols:
            v = F.col(col) if target is not None else F.lit(None)
            for i, c in enumerate(when_matched):
                if c.kind == "update":
                    # an update leaves a column it does not assign as is
                    upd_v = _value(col, c, F.col(col))
                    v = F.when(F.col("_action") == f"update:{i}", upd_v).otherwise(v)
            for j, c in enumerate(unmatched):
                # an insert leaves a column it does not assign NULL
                ins_v = _value(col, c, F.lit(None))
                v = F.when(F.col("_action") == f"insert:{j}", ins_v).otherwise(v)
            out_cols.append(v.alias(col))
        if target is not None and "_row_id" in target.columns:
            # kept/updated rows carry their target _row_id; insert rows
            # are target-null here and get fresh counter ids
            out_cols.append(F.col("_row_id"))
        return joined.filter(
            F.col("_action").isNotNull() & (F.col("_action") != "delete")
        ).select(*out_cols)

    return _cow_merge(table, source, key_cols, case_chain, ref, extra, check_unique)


def delete_where(
    table: SnapshotTable, key_cols: list[str], keys: DataFrame, ref: str = MAIN
) -> int:
    """Merge-on-read DELETE: write the doomed keys as an equality-delete
    file instead of rewriting data (the Iceberg-v2 read path's other
    half, next to :func:`merge_upsert`'s copy-on-write).

    The delete file is just parquet holding the distinct ``key_cols``
    rows; the snapshot manifest lists it under ``"deletes"`` and
    readers apply one anti-join. ``keys`` must be broadcast-sized: it
    is collected to the driver once, as Arrow, and that copy is the
    written file, the key range that prunes the visible-count scan and
    that scan's semi-join side. Writes are O(|deleted keys|)
    regardless of table size — the trade is read-time work, reclaimed
    by :func:`compact_deletes`. ``ref`` stages the delete on a branch
    (main's rows stay visible until the branch is published)."""
    table._check_writable_ref(ref)
    parent = table.head(ref)
    if parent is None:
        raise SnapshotError("cannot delete from an empty table")
    snap = table._load_snap(parent)
    if snap.get("deletes") and snap["delete_keys"] != key_cols:
        # the manifest holds ONE delete_keys list for all delete files;
        # stacking a different key set would null-fill the old files'
        # missing key columns on read and silently resurrect their
        # deleted rows
        raise SnapshotError(
            f"pending equality deletes are keyed by {snap['delete_keys']}; "
            f"compact_deletes before deleting by {key_cols}"
        )
    akeys = keys.select(*key_cols).toArrow().group_by(key_cols).aggregate([])
    del_files = [table._write_arrow_file(akeys)]
    # the commit owns the whole delete group: the stacked equality
    # list, and the pending positional vectors kept as they are
    # (dropping them would resurrect every pos-deleted row). The new
    # delete files are stamped with THIS commit's sequence so they
    # apply only to files sequenced before them — a later re-append of
    # a deleted key stays visible.
    seq = int(snap.get("sequence_number", 0)) + 1
    extra = {
        "deletes": sorted(snap.get("deletes", []) + del_files),
        "delete_keys": key_cols,
        "delete_seqs": {**snap.get("delete_seqs", {}), **{d: seq for d in del_files}},
        "pos_deletes": snap.get("pos_deletes"),
    }
    # visible-count maintenance (metadata_count under equality deletes):
    # the rows this delete NEWLY hides are the currently-VISIBLE rows
    # matching the keys — one stats-pruned semi-join count at commit
    # time buys O(1) COUNT(*) forever after. Candidate files prune on
    # the first key column's recorded [min, max] exactly like merge
    # pruning; rows already hidden (stacked/overlapping deletes) don't
    # re-count because the scan is over the visible state.
    if snap.get("visible_rows") is not None:
        import pyarrow.compute as pc
        from pyspark.sql import functions as F

        b = pc.min_max(akeys[key_cols[0]])
        cand = _key_range_candidates(
            table, snap, key_cols[0], b["min"].as_py(), b["max"].as_py()
        )
        n_hidden = (
            (
                _resolve_visible(table, snap, cand)
                .join(
                    F.broadcast(table.spark.createDataFrame(akeys)),
                    key_cols,
                    "left_semi",
                )
                .count()
            )
            if cand
            else 0
        )
        extra["visible_rows"] = int(snap["visible_rows"]) - int(n_hidden)
    return table._commit(snap["files"], "delete", parent, extra=extra, ref=ref)


def _key_range_candidates(
    table: SnapshotTable, snap: dict, key0: str, lo, hi
) -> list[str]:
    """Files whose recorded bounds on ``key0`` may hold a key in
    ``[lo, hi]`` (``lo`` None: no non-null key, nothing can match) —
    files without recorded stats count, so a delete's commit-time
    counting scan is delta-bounded, not table-bounded."""
    if lo is None:
        return []
    return plan_files(
        table,
        snap["snapshot_id"],
        [(key0, ">=", lo), (key0, "<=", hi)],
        snap=snap,
    ).files


def delete_where_positional(
    table: SnapshotTable, condition, ref: str = MAIN
) -> int:
    """Merge-on-read POSITIONAL delete (deletion vector): record the
    ``(file, row_ordinal)`` coordinates of the doomed rows instead of
    their key values — Iceberg's v2 position-delete / v3 deletion-vector
    model, the second MOR flavor next to :func:`delete_where`'s
    equality deletes. Unlike equality deletes it needs no key columns
    (``condition`` is any boolean SQL expression / Column over the
    table's columns) and deletes exactly the matched physical rows,
    duplicates included.

    The scan that finds the doomed positions is one predicate-pushed
    pass over the current files (Spark's ``_metadata.row_index`` gives
    exact in-file ordinals JVM-side); the delete file written is
    O(matched rows) of (file, pos) pairs. Readers anti-join on the
    (broadcastable) position list; :func:`compact_deletes` materializes
    it away. Positions are FILE-BOUND: rewrite paths either consume
    them exactly (MERGE materializes touched files' entries and
    re-binds carried files' entries; compaction materializes all) or
    refuse to run over pending vectors (bin-pack / sort rewrites), so
    a vector is never left naming a rewritten file."""
    from pyspark.sql import functions as F

    table._check_writable_ref(ref)
    parent = table.head(ref)
    if parent is None:
        raise SnapshotError("cannot delete from an empty table")
    snap = table._load_snap(parent)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    # coordinates are recorded from the VISIBLE rows: a coordinate
    # already hidden (stacked vector, equality-deleted row) is a no-op
    # on read either way, so excluding it shrinks the vector AND makes
    # the vector's own row count the exact newly-hidden count — the
    # visible-count maintenance below is then footer-priced.
    doomed = (
        _resolve_visible(table, snap, snap["files"], keep_pos=True)
        .filter(cond)
        .select("_file", "_pos")
    )
    del_files = table._write_data_files(doomed)
    # the commit owns the whole delete group: the pending equality
    # deletes stay as they are
    extra = {
        **{k: snap.get(k) for k in ("deletes", "delete_keys", "delete_seqs")},
        "pos_deletes": sorted(snap.get("pos_deletes", []) + del_files),
    }
    if snap.get("visible_rows") is not None:
        import pyarrow.parquet as _pq

        n_hidden = sum(
            _pq.ParquetFile(os.path.join(table.path, d)).metadata.num_rows
            for d in del_files
        )
        extra["visible_rows"] = int(snap["visible_rows"]) - int(n_hidden)
    return table._commit(snap["files"], "pos-delete", parent, extra=extra, ref=ref)


def read_with_deletes(
    table: SnapshotTable,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Current rows minus merge-on-read deletes — positional vectors
    first (anti-join on the (file, pos) row identity), then
    equality-deleted keys (anti-join on the key columns); both delete
    sides are small and typically broadcastable. ``ref`` reads a
    branch head (e.g. to audit a staged delete)."""
    sid = _scan_sid(table, snapshot_id, ref)
    if sid is None:
        raise SnapshotError(f"no committed snapshot at {table.path}")
    snap = table._load_snap(sid)
    return _resolve_visible(table, snap, snap["files"])


def _apply_eq_deletes(
    table: SnapshotTable, snap: dict, df: DataFrame, files: list[str]
) -> DataFrame:
    """Hide equality-deleted rows of ``df`` (rows of ``files``) under
    ``snap``'s delete state, SEQUENCE-AWARE (:func:`mor._hide_sequenced`).
    When no file is exempt — every history whose deletes are newest —
    this is the plain broadcast anti-join. Otherwise ``df`` must carry
    the ``_file`` column; the caller drops it afterwards.

    The delete side is loaded once on the driver as Arrow (small by the
    merge-on-read write contract) and enters the plan as a local
    relation, so the job count does not grow with the number of
    pending delete files."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    dels = snap.get("deletes", [])
    if not dels:
        return df
    key_cols = snap["delete_keys"]
    paths = [os.path.join(table.path, d) for d in dels]
    if not _eq_exempt_files(snap, files):
        keys = table.spark.createDataFrame(_keys_table(paths, key_cols))
        return df.join(F.broadcast(keys), key_cols, "left_anti")
    keys = _keys_table(paths, key_cols, [_delete_seq(snap, d) for d in dels])
    fmap = pa.table(
        {
            "_file": pa.array(files, pa.string()),
            "_fseq": pa.array([int(_file_seq(snap, f)) for f in files], pa.int64()),
        }
    )
    create = table.spark.createDataFrame
    return _hide_sequenced(
        df, create(fmap), create(keys), key_cols, "_file", broadcast_keys=True
    )


def _resolve_visible(
    table: SnapshotTable,
    snap: dict,
    files: list[str],
    keep_pos: bool = False,
    with_row_ids: bool = False,
) -> DataFrame:
    """The VISIBLE rows of ``files`` under ``snap``'s delete state:
    field-id-resolved, minus positional vectors (anti-join on the
    (file, pos) row identity), minus equality-deleted keys
    (sequence-aware). This is the whole-table read
    (:func:`read_with_deletes`, :func:`read_with_lineage`) and the
    touched-file read of a merge over pending MOR deletes. ``keep_pos``
    retains the ``(_file, _pos)`` identity columns (positional deletes
    record visible-row coordinates through it); ``with_row_ids``
    attaches each row's stable ``_row_id`` on a lineage table, so
    merges and maintenance keep ids across their rewrites."""
    pos_deletes = snap.get("pos_deletes", [])
    if with_row_ids:
        need_id = True
        df = _attach_row_ids(table, snap, files)
    else:
        need_id = (
            keep_pos or bool(pos_deletes) or bool(_eq_exempt_files(snap, files))
        )
        df = table._resolve_files(snap, files, with_pos=need_id)
        if snap.get("row_lineage"):
            df = df.drop("_row_id")  # surfaced by read_with_lineage only
    if pos_deletes:
        df = _by_coords(df, table._coords(pos_deletes), keep_matching=False)
    df = _apply_eq_deletes(table, snap, df, files)
    return df.drop("_file", "_pos") if (need_id and not keep_pos) else df


# ------------------------------------------------------------ row lineage
# Iceberg v3's row-lineage model: every row has a STABLE ``_row_id``
# that survives copy-on-write rewrites. Derivation is metadata-priced —
# each data file records a ``first_row_id`` allocated from a table-level
# counter and a row's id is first_row_id + its ordinal in the file; no
# id column is stored for appended files. Rewrites (MERGE, compaction,
# bin-packing, sort) MATERIALIZE the ids as a physical ``_row_id``
# column in their output files (flagged in ``lineage_files``), which is
# exactly how Iceberg v3 carries ids across rewrites. An updated row
# keeps its id; inserts allocate fresh ids from the counter.


def enable_row_lineage(table: SnapshotTable, ref: str = MAIN) -> int:
    """Start row-lineage tracking: assign every current file a
    first_row_id range (footer row counts — no data read) and commit
    the table-level counter. Idempotent. Not yet composable with
    field-id schema tracking (``track_schema``) — refused loudly."""
    import pyarrow.parquet as _pq

    table._check_writable_ref(ref)
    parent = table.head(ref)
    if parent is None:
        raise SnapshotError("cannot enable lineage on an empty table")
    snap = table._load_snap(parent)
    if snap.get("row_lineage"):
        return parent
    if snap.get("schemas"):
        raise SnapshotError(
            "row lineage on a schema-tracked table is not supported yet"
        )
    first, nxt = {}, 0
    for f in snap["files"]:
        first[f] = nxt
        nxt += _pq.ParquetFile(os.path.join(table.path, f)).metadata.num_rows
    extra = {
        "row_lineage": True,
        "next_row_id": nxt,
        "file_first_row_ids": first,
        "lineage_files": {},
    }
    return table._commit(snap["files"], "enable-lineage", parent, extra=extra, ref=ref)


def _attach_row_ids(table: SnapshotTable, snap: dict, files: list[str]) -> DataFrame:
    """Rows of ``files`` with their stable ``_row_id`` plus the
    ``(_file, _pos)`` identity (callers apply deletes, then drop):
    derived files compute first_row_id + ordinal via one broadcastable
    map join; materialized files read their physical column."""
    from pyspark.sql import functions as F

    flags = snap.get("lineage_files", {})
    first = snap.get("file_first_row_ids", {})
    mat = [f for f in files if f in flags]
    derived = [f for f in files if f not in flags]
    parts = []
    if derived:
        base = table._read_files(derived).select("*", *_row_identity("data/"))
        fmap = table.spark.createDataFrame(
            [(f, first[f]) for f in derived], "_file string, _first bigint"
        )
        parts.append(
            base.join(F.broadcast(fmap), "_file", "left").withColumn(
                "_row_id", F.col("_first") + F.col("_pos")
            ).drop("_first")
        )
    if mat:
        parts.append(table._read_files(mat).select("*", *_row_identity("data/")))
    if not parts:
        # a head snapshot can legitimately own zero data files (an
        # overwrite/merge emptied the table); there is no parquet file
        # to infer a schema from — refuse loudly like _read_files
        raise SnapshotError("snapshot has no data files")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_with_lineage(
    table: SnapshotTable,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """The table's VISIBLE rows (merge-on-read deletes applied) plus
    their stable ``_row_id`` — Iceberg v3's lineage read. Time travel
    and branch reads work like :func:`read_with_deletes`."""
    sid = _scan_sid(table, snapshot_id, ref)
    if sid is None:
        raise SnapshotError(f"no committed snapshot at {table.path}")
    snap = table._load_snap(sid)
    if not snap.get("row_lineage"):
        raise SnapshotError("enable_row_lineage first")
    return _resolve_visible(table, snap, snap["files"], with_row_ids=True)


def _assign_new_row_ids(
    df: DataFrame, next_row_id: int, order_cols: list[str]
) -> DataFrame:
    """Fill NULL ``_row_id`` values (fresh inserts) with consecutive ids
    from the table counter, deterministically ordered by
    ``order_cols``. The window shuffles ONLY the inserts (delta-sized);
    surviving rows keep their ids untouched."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keep = df.filter(F.col("_row_id").isNotNull())
    ins = df.filter(F.col("_row_id").isNull())
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    ins = ins.withColumn(
        "_row_id", F.lit(next_row_id) + F.row_number().over(w) - F.lit(1)
    )
    return keep.unionByName(ins)


def compact_deletes(table: SnapshotTable, ref: str = MAIN) -> int:
    """Materialize pending merge-on-read deletes (equality AND
    positional): rewrite the surviving rows once and commit a snapshot
    with no delete files — the maintenance job that reclaims the
    merge-on-read read-time cost. Runs on any branch (a staged delete
    can be compacted pre-publish)."""
    table._check_writable_ref(ref)
    parent = table.head(ref)
    snap = table._load_snap(parent)
    if not snap.get("deletes") and not snap.get("pos_deletes"):
        return parent
    extra = {}
    if snap.get("row_lineage"):
        # lineage survives compaction: ids ride the rewrite physically
        survivors = _resolve_visible(table, snap, snap["files"], with_row_ids=True)
        files = table._write_data_files(survivors)
        extra["lineage_files"] = {f: True for f in files}
    else:
        survivors = read_with_deletes(table, snapshot_id=parent)
        files = table._write_data_files(survivors)
    return table._commit(files, "compact-deletes", parent, extra=extra, ref=ref)


def record_file_stats(table: SnapshotTable, cols: list[str]) -> int:
    """Record per-file min/max for ``cols`` into a new snapshot manifest
    (harvested from parquet footers — no data read). This is Iceberg's
    manifest-stats idea: once the manifest carries column bounds, scan
    planning happens driver-side against kilobytes of metadata instead
    of opening every file's footer at plan time."""
    parent = table.current_snapshot_id()
    snap = table._load_snap(parent)
    stats = _harvest_stats(table, snap["files"], cols)
    return table._commit(
        snap["files"],
        "record-stats",
        parent,
        extra={"file_stats": stats},
    )


def record_table_statistics(
    table: SnapshotTable, cols: list[str], k: int = 4096, ref: str = MAIN
) -> int:
    """Compute distinct-count (theta/KMV) sketches for ``cols`` over
    the snapshot's VISIBLE rows and commit them as table statistics —
    the engine mirror of Iceberg's statistics files. One distributed
    pass builds mergeable per-partition partial sketches (bounded
    bytes each, see :mod:`.sketches`); the sketches persist as ONE
    puffin file under ``metadata/stats/`` (blob type
    ``apache-datasketches-theta-v1``, ``ndv`` property per column)
    and the metadata-sized estimates ride the manifest
    (``table_stats``), so :func:`column_ndv` answers without touching
    the puffin. Export copies the file into the Iceberg tree's
    ``statistics`` list; the importer's ``ndv_estimates`` reads it
    back."""
    from .puffin import write_puffin
    from .sketches import THETA_BLOB_TYPE, dataframe_ndv_sketches

    table._check_writable_ref(ref)
    parent = table.head(ref)
    if parent is None:
        raise SnapshotError("cannot record statistics on an empty table")
    snap = table._load_snap(parent)
    sketches = dataframe_ndv_sketches(
        read_with_deletes(table, ref=ref), cols, k=k
    )
    # field ids: the tracked schema's when present, else export's
    # positional convention (ordinal + 1 over the current read schema)
    if snap.get("schemas"):
        cur = _schema_by_id(snap["schemas"], snap["current_schema_id"])
        fid_by_name = {f["name"]: f["id"] for f in cur["fields"]}
    else:
        names = table._read_files(snap["files"]).schema.names
        fid_by_name = {n: i + 1 for i, n in enumerate(names)}
    ndv = {c: int(round(sketches[c].estimate())) for c in cols}
    stats_dir = os.path.join(table._meta, "stats")
    os.makedirs(stats_dir, exist_ok=True)
    blobs = [
        {
            "type": THETA_BLOB_TYPE,
            "fields": [fid_by_name.get(c, 0)],
            "snapshot-id": parent,
            "sequence-number": int(snap.get("sequence_number", 0)),
            "payload": sketches[c].to_bytes(),
            "properties": {"ndv": str(ndv[c])},
        }
        for c in cols
    ]
    import hashlib as _hashlib

    token = _hashlib.md5(
        json.dumps([parent, sorted(ndv.items()), k]).encode()
    ).hexdigest()[:16]
    ppath = os.path.join(stats_dir, f"stats-{parent}-{token}.puffin")
    if not os.path.exists(ppath):
        write_puffin(
            ppath,
            blobs,
            properties={"created-by": "iceberg-catalog-migrator-spark"},
        )
    rel = os.path.relpath(ppath, table.path)
    return table._commit(
        snap["files"],
        "set-statistics",
        parent,
        extra={
            "table_stats": {"snapshot_id": parent, "path": rel, "ndv": ndv},
        },
        ref=ref,
    )


def update_table_statistics(
    table: SnapshotTable, k: int = 4096, ref: str = MAIN
) -> int:
    """INCREMENTALLY refresh recorded statistics: theta sketches are
    mergeable, so when everything since the last recording is
    append-shaped (no file removed, no delete state on either end)
    the refresh scans ONLY the files added since — the prior puffin's
    sketches decode and union with one distributed pass over the new
    files. At 100 TB this is the difference between a stats refresh
    costing O(day's ingest) and O(table). Falls back to a full
    :func:`record_table_statistics` pass when the history isn't
    append-pure (rewrites/deletes change visible rows in ways a union
    cannot express). Returns the new snapshot id."""
    from .puffin import read_puffin_footer, write_puffin
    from .sketches import (
        THETA_BLOB_TYPE,
        ThetaSketch,
        dataframe_ndv_sketches,
    )

    table._check_writable_ref(ref)
    head = table.head(ref)
    if head is None:
        raise SnapshotError("cannot record statistics on an empty table")
    snap = table._load_snap(head)
    ts = snap.get("table_stats")
    if ts is None:
        raise SnapshotError(
            "no prior statistics to update: run record_table_statistics"
        )
    cols = sorted(ts["ndv"])
    base_sid = int(ts["snapshot_id"])
    try:
        base_snap = table._load_snap(base_sid)
    except SnapshotError:
        base_snap = None  # base expired: full pass
    append_pure = (
        base_snap is not None
        and not snap.get("deletes")
        and not snap.get("pos_deletes")
        and not base_snap.get("deletes")
        and not base_snap.get("pos_deletes")
        and set(base_snap["files"]) <= set(snap["files"])
    )
    if not append_pure:
        return record_table_statistics(table, cols, k=k, ref=ref)
    new_files = [f for f in snap["files"] if f not in set(base_snap["files"])]
    # decode the prior sketches (k must match for a sound union)
    ppath = os.path.join(table.path, ts["path"])
    try:
        footer = read_puffin_footer(ppath)
        prior: dict[str, ThetaSketch] = {}
        if snap.get("schemas"):
            cur = _schema_by_id(snap["schemas"], snap["current_schema_id"])
            name_by_fid = {f["id"]: f["name"] for f in cur["fields"]}
        else:
            names = table._read_files(snap["files"]).schema.names
            name_by_fid = {i + 1: n for i, n in enumerate(names)}
        for b in footer.get("blobs", []):
            if b.get("type") != THETA_BLOB_TYPE:
                continue
            fid = (b.get("fields") or [None])[0]
            col = name_by_fid.get(fid)
            if col in cols:
                from .puffin import read_blob_decoded

                prior[col] = ThetaSketch.from_bytes(
                    read_blob_decoded(ppath, b)
                )
        if set(prior) != set(cols) or any(
            s.k != k for s in prior.values()
        ):
            return record_table_statistics(table, cols, k=k, ref=ref)
    except Exception:  # noqa: BLE001 - torn/missing puffin: full pass
        return record_table_statistics(table, cols, k=k, ref=ref)
    if not new_files:
        return head  # stats already current: no commit minted
    fresh = dataframe_ndv_sketches(
        table._resolve_files(snap, new_files), cols, k=k
    )
    merged = {c: prior[c].union(fresh[c]) for c in cols}
    ndv = {c: int(round(merged[c].estimate())) for c in cols}
    fid_by_name = {v: kk for kk, v in name_by_fid.items()}
    blobs = [
        {
            "type": THETA_BLOB_TYPE,
            "fields": [fid_by_name.get(c, 0)],
            "snapshot-id": head,
            "sequence-number": int(snap.get("sequence_number", 0)),
            "payload": merged[c].to_bytes(),
            "properties": {"ndv": str(ndv[c])},
        }
        for c in cols
    ]
    import hashlib as _hashlib

    stats_dir = os.path.join(table._meta, "stats")
    os.makedirs(stats_dir, exist_ok=True)
    token = _hashlib.md5(
        json.dumps([head, sorted(ndv.items()), k]).encode()
    ).hexdigest()[:16]
    new_ppath = os.path.join(stats_dir, f"stats-{head}-{token}.puffin")
    if not os.path.exists(new_ppath):
        write_puffin(
            new_ppath,
            blobs,
            properties={"created-by": "iceberg-catalog-migrator-spark"},
        )
    return table._commit(
        snap["files"],
        "set-statistics",
        head,
        extra={
            "table_stats": {
                "snapshot_id": head,
                "path": os.path.relpath(new_ppath, table.path),
                "ndv": ndv,
            },
        },
        ref=ref,
    )


def column_ndv(table: SnapshotTable, col: str, ref: str = MAIN) -> int:
    """The recorded distinct-count estimate for ``col`` — metadata
    only, no data read. Raises when no statistics were recorded."""
    head = table.head(ref)
    if head is None:
        raise SnapshotError(f"no committed snapshot at {table.path}")
    ts = table._load_snap(head).get("table_stats")
    if ts is None or col not in ts["ndv"]:
        raise SnapshotError(
            f"no recorded ndv for {col!r}: run record_table_statistics"
        )
    return int(ts["ndv"][col])


def _partition_stats_inputs(table: SnapshotTable, snap: dict):
    """(head_specs, unpart_spec_id) in the export's rendering — the
    shared vocabulary between record/update and the exporter."""
    specs = snap.get("partition_specs") or (
        [{"spec_id": 0, "spec": [list(p) for p in snap["partition_spec"]]}]
        if snap.get("partition_spec")
        else []
    )
    if not specs or not snap.get("file_partitions"):
        raise SnapshotError(
            "partition statistics need a partitioned table "
            "(append_partitioned first)"
        )
    unpart = max(s["spec_id"] for s in specs) + 1
    return specs, unpart


def record_partition_statistics(table: SnapshotTable, ref: str = MAIN) -> int:
    """Record the spec's partition-statistics file (one row per
    (spec_id, partition tuple) with record/file/byte aggregates) as
    table state: a FULL pass over the head's manifest metadata writes
    the parquet under ``metadata/stats`` and commits the pointer, so
    the export can serve it verbatim and
    :func:`update_partition_statistics` can refresh it from commit
    deltas. Returns the new snapshot id."""
    from .iceberg_format import (
        partition_stats_state,
        write_partition_stats_file,
    )

    table._check_writable_ref(ref)
    head = table.head(ref)
    if head is None:
        raise SnapshotError("cannot record statistics on an empty table")
    snap = table._load_snap(head)
    specs, unpart = _partition_stats_inputs(table, snap)
    field_names, fid_of, agg = partition_stats_state(
        table.path, snap, specs, unpart
    )
    stats_dir = os.path.join(table._meta, "stats")
    os.makedirs(stats_dir, exist_ok=True)
    pspath, _ = write_partition_stats_file(
        stats_dir, head, field_names, fid_of, agg
    )
    return table._commit(
        snap["files"],
        "set-partition-statistics",
        head,
        extra={
            "partition_stats": {
                "snapshot_id": head,
                "path": os.path.relpath(pspath, table.path),
                "has_unpart": any(k[0] == unpart for k in agg),
            },
        },
        ref=ref,
    )


def _retained_file_stats_unchanged(base_snap: dict, head_snap: dict) -> bool:
    """True when every file present in BOTH snapshots carries the same
    partition tuple, spec id and row count in each. The default commit
    carry (``_commit``) copies surviving files' values verbatim, but a
    caller passing explicit ``extra`` could re-key a retained file —
    and both the incremental partition-stats merge and the export's
    serve-verbatim fast path assume retained per-file attributes are
    immutable. This guard is in-memory dict work (no storage reads),
    so it doesn't defeat the O(new files) incremental win."""
    retained = set(base_snap.get("files", [])) & set(head_snap.get("files", []))
    for key in ("file_partitions", "file_spec_ids", "file_rows"):
        b, h = base_snap.get(key, {}), head_snap.get(key, {})
        for f in retained:
            if b.get(f) != h.get(f):
                return False
    return True


def update_partition_statistics(table: SnapshotTable, ref: str = MAIN) -> int:
    """INCREMENTALLY refresh the recorded partition statistics: the
    aggregates are mergeable sums, so when everything since the last
    recording is append-shaped (no file removed, no spec change) the
    refresh aggregates ONLY the files added since — the prior parquet's
    rows merge with the delta in one O(new files) pass. The written
    file is BYTE-IDENTICAL to a full recompute at the same head (same
    deterministic writer, same state). Falls back to a full
    :func:`record_partition_statistics` pass when the history isn't
    append-pure or the spec vocabulary moved. Returns the new snapshot
    id (the current head when already fresh)."""
    from .iceberg_format import (
        partition_stats_state,
        read_partition_stats_file,
        write_partition_stats_file,
    )

    table._check_writable_ref(ref)
    head = table.head(ref)
    if head is None:
        raise SnapshotError("cannot record statistics on an empty table")
    snap = table._load_snap(head)
    ps = snap.get("partition_stats")
    if ps is None:
        return record_partition_statistics(table, ref=ref)
    base_sid = int(ps["snapshot_id"])
    try:
        base_snap = table._load_snap(base_sid)
    except SnapshotError:
        return record_partition_statistics(table, ref=ref)
    specs, unpart = _partition_stats_inputs(table, snap)
    base_files = set(base_snap["files"])
    append_pure = (
        base_files <= set(snap["files"])
        # a current-spec change re-attributes files WITHOUT explicit
        # spec entries; a spec-list change can rename the unified
        # partition fields — both invalidate the merge vocabulary
        and snap.get("current_spec_id") == base_snap.get("current_spec_id")
        and (snap.get("partition_specs") or [])
        == (base_snap.get("partition_specs") or [])
        # retained files must carry identical per-file attributes: a
        # commit kind that re-keyed a surviving file's tuple/row count
        # would otherwise merge silently wrong aggregates
        and _retained_file_stats_unchanged(base_snap, snap)
    )
    if not append_pure:
        return record_partition_statistics(table, ref=ref)
    new_files = [f for f in snap["files"] if f not in base_files]
    if not new_files:
        # same file set, same vocabulary: the record is current — no
        # commit minted, no duplicate stats file written (the recording
        # sid always TRAILS the head because the record commit itself
        # advanced it, so sid equality is the wrong freshness test)
        return head
    import pyarrow as _pa

    ppath = os.path.join(table.path, ps["path"])
    try:
        prior_fields, prior_agg = read_partition_stats_file(ppath)
    except (OSError, KeyError, _pa.ArrowInvalid):
        # torn/missing/foreign-shaped file: full pass. Deliberately
        # NARROW — a programming error in the reader must surface, not
        # silently demote every refresh to the O(files) fallback
        return record_partition_statistics(table, ref=ref)
    field_names, fid_of, fresh = partition_stats_state(
        table.path, snap, specs, unpart, files=new_files
    )
    if prior_fields != field_names:
        return record_partition_statistics(table, ref=ref)
    merged = {k: list(v) for k, v in prior_agg.items()}
    for k, (r, nf, b) in fresh.items():
        slot = merged.setdefault(k, [0, 0, 0])
        slot[0] += r
        slot[1] += nf
        slot[2] += b
    stats_dir = os.path.join(table._meta, "stats")
    os.makedirs(stats_dir, exist_ok=True)
    pspath, _ = write_partition_stats_file(
        stats_dir, head, field_names, fid_of, merged
    )
    return table._commit(
        snap["files"],
        "set-partition-statistics",
        head,
        extra={
            "partition_stats": {
                "snapshot_id": head,
                "path": os.path.relpath(pspath, table.path),
                "has_unpart": any(k[0] == unpart for k in merged),
            },
        },
        ref=ref,
    )


def _scan_sid(table: SnapshotTable, snapshot_id: int | None, ref: str | None) -> int | None:
    """The snapshot a read of ``snapshot_id`` or ``ref`` (default: main's
    head) sees; None on a table with no commit."""
    if snapshot_id is not None and ref is not None:
        raise ValueError("pass snapshot_id or ref, not both")
    if snapshot_id is not None:
        return snapshot_id
    return table.head(ref if ref is not None else MAIN)


def _read_plan(table: SnapshotTable, sid: int, plan, exact) -> DataFrame:
    """A scan plan's files as a DataFrame with the ``exact`` filter
    applied (bounds and transforms are lossy). Schema-tracked tables
    read id-resolved (renames and widenings apply), taking the files'
    vintages from the sidecar rows when the sidecar planned; an empty
    plan keeps the snapshot's resolved schema."""
    from .plan_index import _fetch_current_rows

    doc = plan.doc
    if not plan.files:
        snap = plan.snap or table._load_snap(sid)
        return table._resolve_files(snap, snap["files"]).limit(0)
    if doc is None:
        df = table._resolve_files(plan.snap, plan.files)
    elif doc.get("schema_tracked") and doc.get("schemas"):
        rows = _fetch_current_rows(table.path, doc, set(plan.files))
        resolved = (
            {
                "schemas": doc["schemas"],
                "current_schema_id": doc["current_schema_id"],
                "file_schema_ids": {
                    p: r["schema_id"]
                    for p, r in rows.items()
                    if r["schema_id"] is not None
                },
            }
            if rows is not None
            else table._load_snap(sid)  # the index raced away mid-plan
        )
        df = table._resolve_files(resolved, plan.files)
    else:
        df = table._read_files(plan.files)
    return df if exact is None else df.filter(exact)


def planned_scan(
    table: SnapshotTable,
    col: str,
    lo,
    hi,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> tuple[DataFrame, dict]:
    """Manifest-driven scan planning: read ONLY the files whose recorded
    [min, max] for ``col`` intersects [lo, hi], then apply the exact
    filter. Returns (DataFrame, plan summary) so callers — and tests —
    can see how many files the predicate pruned. Files without recorded
    stats, or whose stats do not compare with the literals, are
    conservatively scanned. ``ref`` plans against a branch head
    (snapshot_id and ref are mutually exclusive)."""
    from pyspark.sql import functions as F

    sid = _scan_sid(table, snapshot_id, ref)
    plan = plan_files(table, sid, [(col, ">=", lo), (col, "<=", hi)])
    if not plan.has_file_stats:
        raise SnapshotError(
            "no file_stats in this snapshot; run record_file_stats first"
        )
    return _read_plan(table, sid, plan, F.col(col).between(lo, hi)), plan.summary()


# ------------------------------------------------------------ catalog tie-in
def register_in_catalog(table: SnapshotTable, catalog, identifier) -> str:
    """Register a snapshot table in a pointer catalog — the exact
    object the migration plane (CatalogMigrator / the CLI) moves
    between catalogs. The catalog metadata doc lives in the same
    ``metadata/`` dir as the snapshot manifests (distinct hint files)
    and records the current snapshot id; migration copies the POINTER,
    never the data — the reference's core contract
    (`README.md:2`, "without the need to copy the data")."""
    sid = table.current_snapshot_id()
    if sid is None:
        raise SnapshotError("cannot register an empty snapshot table")
    ddl = table.read().schema.simpleString()
    from ..catalog.base import write_table_metadata

    meta = write_table_metadata(
        table.path,
        ddl,
        version=1,
        properties={"snapshot-id": str(sid), "table-kind": "snapshot-table"},
    )
    catalog.register_table(identifier, meta)
    return meta


class CatalogArbitratedTable(SnapshotTable):
    """A snapshot table whose commits are arbitrated by a pointer
    catalog's compare-and-swap instead of POSIX ``flock``/``link``
    semantics — the reference's own commit model: ``registerTable``
    delegates atomicity to the target catalog
    (`CatalogMigrator.java:208-224`), and Iceberg deployments on object
    stores (where neither flock nor O_EXCL exists server-side) arbitrate
    every commit exactly this way.

    The commit protocol and ``fast_forward`` are :class:`SnapshotTable`'s;
    this class supplies only what differs. A ref's head is the snapshot
    id its catalog entry's doc records (``_read_head``). A head moves by
    one ``swap_table_metadata_location`` to a candidate doc named by the
    new id (``_swap_head``): the catalog's store lets exactly one racer
    through, and a loser unlinks its staged manifest and the doc if it
    created it. After a win the directory's own pointers are refreshed
    best-effort (``_set_branch_head``) for plain readers and path-based
    catalogs; the catalog pointer stays authoritative.

    **Branches are catalog entries too** — the Nessie model: each ref
    gets its own scope-partitioned pointer row (registered as
    ``<table>@<ref>``) that CASes independently, so write-audit-publish
    staging gets the same object-store-safe arbitration as main.
    ``create_branch`` registers the entry, branch commits and
    fast-forwards CAS it, and ``drop_ref`` retires the entry. Tags stay
    in ``refs.json`` (immutable pointers need no arbitration). A branch
    created through a plain :class:`SnapshotTable` on the same path
    (refs.json only) is refused here — its head is not CAS-arbitrated.

    **Pointer docs go with their snapshot** (the one it records, read
    from the doc, not its name): expiry unlinks only the docs recording
    an expired snapshot, never ``v0`` or a doc a ref entry names. In
    register mode a second catalog may still name such a doc."""

    _FLOCK_ARBITRATES = False
    _LISTED = (*SnapshotTable._LISTED, "metadata/v*.metadata.json")

    def __init__(self, spark: SparkSession, catalog, identifier):
        from ..catalog.base import read_table_metadata

        doc = read_table_metadata(
            catalog.load_table_metadata_location(identifier)
        )
        super().__init__(spark, doc["location"])
        self.catalog = catalog
        self.identifier = identifier

    @classmethod
    def create(
        cls, spark: SparkSession, catalog, identifier, path: str, schema_ddl: str = ""
    ) -> "CatalogArbitratedTable":
        """Register an empty table (snapshot id 0 = none) and return it;
        the first append commits through the CAS like every other. The
        v0 doc is created exclusively and ``version-hint.text`` moves
        only after the register succeeded, so a refused create leaves
        the table already at ``path`` or under ``identifier`` as it
        was."""
        from ..catalog.base import (
            TableAlreadyExistsError,
            write_table_metadata,
            write_version_hint,
        )

        try:
            meta = write_table_metadata(
                path,
                schema_ddl,
                version=0,
                properties={"snapshot-id": "0", "table-kind": "snapshot-table"},
                write_hint=False,
            )
        except FileExistsError:
            raise TableAlreadyExistsError(
                f"a table's metadata already lives at {path}"
            ) from None
        try:
            catalog.register_table(identifier, meta)
        except Exception:
            os.unlink(meta)
            raise
        write_version_hint(path, 0)
        return cls(spark, catalog, identifier)

    def _ref_ident(self, ref: str):
        """The scope-partitioned catalog identifier arbitrating ``ref``:
        main is the table's own registration; every branch is its own
        ``<name>@<ref>`` row (Nessie's per-reference pointer model)."""
        from ..catalog.identifiers import TableIdentifier

        if ref == MAIN:
            return self.identifier
        return TableIdentifier(
            namespace=self.identifier.namespace,
            name=f"{self.identifier.name}@{ref}",
        )

    def _read_head(self, ref: str) -> tuple[int | None, tuple[str, dict]]:
        """The snapshot id ``ref``'s catalog entry records (the one
        parse of a pointer doc's ``snapshot-id``) and the
        ``(location, doc)`` its swap compares against. A branch without
        an entry raises :class:`SnapshotError`."""
        from ..catalog.base import CatalogError, read_table_metadata

        try:
            loc = self.catalog.load_table_metadata_location(self._ref_ident(ref))
        except CatalogError:
            if ref == MAIN:
                raise
            raise SnapshotError(
                f"branch {ref!r} has no catalog entry arbitrating it; "
                "create_branch on this CatalogArbitratedTable first (a "
                "refs.json-only branch from a plain SnapshotTable is not "
                "CAS-protected)"
            ) from None
        doc = read_table_metadata(loc)
        return _recorded_sid(doc), (loc, doc)

    def current_snapshot_id(self) -> int | None:
        return self._read_head(MAIN)[0]

    def head(self, ref: str = MAIN) -> int | None:
        if ref == MAIN:
            return self.current_snapshot_id()
        from ..catalog.base import CatalogError

        try:
            return self._read_head(ref)[0]
        except (SnapshotError, CatalogError):
            return super().head(ref)  # tags / plain-table branches

    def _pointer_doc(self, ref: str, snap: dict, like: dict) -> tuple[str, bool]:
        """The doc naming ``ref`` at ``snap`` — ``v<id>`` for main,
        ``v<id>-<ref>`` for a branch — with ``like``'s table uuid
        (Iceberg's metadata model: the uuid is the table's identity, not
        the commit's). Its schema is the snapshot's tracked schema with
        the tracked field ids, else ``like``'s current schema as it is.
        Created exclusively: a doc of that name already records that
        snapshot of that ref, so it is reused, never rewritten. Returns
        its path and whether this writer created it (a writer unlinks
        only its own)."""
        from ..catalog.table_metadata import build_metadata, iceberg_schema, write_metadata

        sid = snap["snapshot_id"]
        version = sid if ref == MAIN else f"{sid}-{ref}"
        path = os.path.join(self._meta, f"v{version}.metadata.json")
        if snap.get("schemas"):
            cur = _schema_by_id(snap["schemas"], snap["current_schema_id"])
            schema = iceberg_schema(
                ((f["id"], f["name"], f["type"]) for f in cur["fields"]), cur["schema_id"]
            )
        else:
            schema = next(
                s for s in like["schemas"] if s["schema-id"] == like["current-schema-id"]
            )
        properties = {"snapshot-id": str(sid), "table-kind": "snapshot-table"}
        try:
            write_metadata(
                path,
                build_metadata(self.path, [schema], table_uuid=like["table-uuid"], properties=properties),
            )
        except FileExistsError:
            return path, False
        return path, True

    def _swap_head(self, ref: str, token: tuple[str, dict], snap: dict) -> bool:
        """One compare-and-swap of ``ref``'s catalog entry from the doc
        it was read at to the doc naming ``snap``."""
        old_loc, old_doc = token
        new_loc, created = self._pointer_doc(ref, snap, old_doc)
        if self.catalog.swap_table_metadata_location(self._ref_ident(ref), old_loc, new_loc):
            return True
        if created:
            os.unlink(new_loc)
        return False

    def _set_branch_head(self, ref: str, snapshot_id: int) -> None:
        """Refresh the directory's own pointers after a won swap —
        refs.json for a branch; snapshot-hint and version-hint for main
        (the hint names a doc that won, so path-based readers never
        resolve a loser's unlinked doc). They take the head the catalog
        names under the commit lock, not ``snapshot_id``: a racer may
        win the next swap before this writer takes the lock, and the
        pointers never move back. Best-effort: the catalog entry stays
        the source of truth."""
        from ..catalog.base import CatalogError, write_version_hint

        try:
            head = self._read_head(ref)[0]
            super()._set_branch_head(ref, head)
            if ref == MAIN:
                write_version_hint(self.path, head)
        except (CatalogError, SnapshotError, OSError):
            pass

    def _pointer_docs(self, ids: set[int]) -> set[str]:
        """``v0``, the doc each ref entry names, and every pointer doc
        recording a snapshot in ``ids``."""
        from ..catalog.base import CatalogError, read_table_metadata

        docs = {os.path.join("metadata", "v0.metadata.json")}
        for ref in [MAIN, *self._load_refs()["branches"]]:
            try:
                loc = self.catalog.load_table_metadata_location(self._ref_ident(ref))
            except CatalogError:
                continue  # a plain-table branch with no entry
            docs.add(os.path.relpath(loc, self.path))
        for p in glob.glob(os.path.join(self._meta, "v*.metadata.json")):
            try:
                sid = _recorded_sid(read_table_metadata(p))
            except (CatalogError, OSError, ValueError, TypeError):
                continue
            if sid in ids:
                docs.add(os.path.relpath(p, self.path))
        return docs

    def create_branch(self, name: str, at: int | None = None) -> int:
        """Branch = a new catalog entry CASing independently of main
        (plus the refs.json row, so tags/plain readers stay coherent)."""
        at = super().create_branch(name, at)
        _, (_, main_doc) = self._read_head(MAIN)
        meta, created = self._pointer_doc(name, self._load_snap(at), main_doc)
        try:
            self.catalog.register_table(self._ref_ident(name), meta)
        except Exception:
            if created:
                os.unlink(meta)
            super().drop_ref(name)
            raise
        return at

    def drop_ref(self, name: str) -> None:
        super().drop_ref(name)
        from ..catalog.base import CatalogError

        try:
            self.catalog.drop_table(self._ref_ident(name), purge=False)
        except CatalogError:
            pass  # a tag, or a plain-table branch with no entry


def _recorded_sid(doc: dict) -> int | None:
    """The snapshot a catalog pointer doc records in
    ``properties.snapshot-id`` (absent or 0: none)."""
    return int((doc.get("properties") or {}).get("snapshot-id") or 0) or None


def snapshot_table_from_catalog(spark: SparkSession, catalog, identifier) -> SnapshotTable:
    """Resolve a catalog entry back to its snapshot table: load the
    metadata doc the catalog points at, open the table at its recorded
    location. Works identically on a MIGRATED entry — the pointer
    moved, the table did not."""
    from ..catalog.base import read_table_metadata

    meta_location = catalog.load_table_metadata_location(identifier)
    doc = read_table_metadata(meta_location)
    return SnapshotTable(spark, doc["location"])


def metadata_count(
    table: SnapshotTable,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> int:
    """``COUNT(*)`` from metadata alone.

    Preferred source: the snapshot's maintained ``visible_rows``
    summary (the engine's rendering of Iceberg's snapshot-summary
    ``total-records``, but NET of merge-on-read deletes) — every
    row-changing commit keeps it current (appends add footer counts,
    COW rewrites observe the replaced files' visible rows on the write
    job itself, equality deletes pay ONE stats-pruned counting job at
    commit time, positional deletes record visible coordinates so the
    vector's own footer count is the delta), making COUNT(*) O(1)
    under ANY pending delete state.

    Legacy snapshots without the summary fall back to per-file
    record counts minus positional-vector coordinates; pending
    EQUALITY deletes are refused there — their hidden-row count
    genuinely requires a scan (`read_with_deletes().count()`) or a
    `compact_deletes` first."""
    import pyarrow.parquet as pq

    sid = _scan_sid(table, snapshot_id, ref)
    if sid is None:
        raise SnapshotError(f"no committed snapshot at {table.path}")
    snap = table._load_snap(sid)
    if snap.get("visible_rows") is not None:
        return int(snap["visible_rows"])
    if snap.get("deletes"):
        raise SnapshotError(
            "pending equality deletes: the hidden-row count requires a "
            "scan (read_with_deletes().count()) or compact_deletes first"
        )
    rows = snap.get("file_rows", {})
    total = 0
    for f in snap["files"]:
        n = rows.get(f)
        if n is None:  # legacy file: one footer read
            n = pq.ParquetFile(os.path.join(table.path, f)).metadata.num_rows
        total += n
    # minus ONE distinct (file, pos) set across ALL vector files —
    # stacked vectors may repeat coordinates, which must subtract once
    vectors = [os.path.join(table.path, v) for v in snap.get("pos_deletes", [])]
    return total - len(_coords_table(vectors, files=snap["files"]))


# ------------------------------------------------------------ metadata tables
def metadata_table(
    table: SnapshotTable, kind: str, ref: str | None = None
) -> DataFrame:
    """The table's own metadata as a queryable DataFrame — Iceberg's
    ``SELECT * FROM tbl.snapshots / tbl.files / tbl.refs`` surface:

    - ``snapshots``: one row per retained snapshot (id, parent,
      timestamp_ms, operation, n_files, n_delete_files,
      sequence_number, total_records)
    - ``files``: the CURRENT snapshot's data files with size, recorded
      partition tuple, and recorded per-column [min, max] stats
    - ``refs``: every branch and tag with its head snapshot id
    - ``partitions``: the current snapshot's files rolled up by
      recorded partition tuple (n_files, size_bytes, n_rows — row
      counts from parquet footers, never the data pages)

    ``files`` and ``partitions`` describe the head of ``ref`` (default
    main) — auditing a staged branch's layout is the same call.

    All driver-side manifest/footer reads (kilobytes); no data page is
    ever decoded, so these stay metadata-priced at any table size."""
    spark = table.spark

    if kind == "snapshots":
        # served from the commit index: one file read, no per-manifest
        # opens — Iceberg's snapshot-log, not a metadata/ directory scan
        rows = [
            (
                e["snapshot_id"],
                e.get("parent"),
                e["timestamp_ms"],
                e["operation"],
                e["n_files"],
                e["n_delete_files"],
                # nullable: legacy index entries predate sequence
                # stamping (the self-heal reads manifests, which also
                # may predate it)
                e.get("sequence_number"),
                # Iceberg's summary total-records, NET of MOR deletes;
                # nullable for legacy entries / unmaintained ops
                e.get("visible_rows"),
            )
            for e in table.commit_index().values()
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id bigint, parent bigint, timestamp_ms bigint, "
            "operation string, n_files int, n_delete_files int, "
            "sequence_number bigint, total_records bigint",
        )
    if kind == "files":
        sid = table.head(ref if ref is not None else MAIN)
        if sid is None:
            raise SnapshotError(f"no committed snapshot at {table.path}")
        snap = table._load_snap(sid)
        parts = snap.get("file_partitions", {})
        stats = snap.get("file_stats", {})
        rows = [
            (
                f,
                os.path.getsize(os.path.join(table.path, f)),
                parts.get(f),
                {c: [str(v[0]), str(v[1])] for c, v in stats.get(f, {}).items()} or None,
            )
            for f in snap["files"]
        ]
        return spark.createDataFrame(
            rows,
            "file_path string, size_bytes bigint, "
            "partition_values array<string>, column_bounds map<string, array<string>>",
        )
    if kind == "refs":
        refs = table.refs()
        rows = [("branch", n, h) for n, h in sorted(refs["branches"].items())] + [
            ("tag", n, h) for n, h in sorted(refs["tags"].items())
        ]
        return spark.createDataFrame(rows, "kind string, name string, snapshot_id bigint")
    if kind == "partitions":
        import pyarrow.parquet as pq

        sid = table.head(ref if ref is not None else MAIN)
        if sid is None:
            raise SnapshotError(f"no committed snapshot at {table.path}")
        snap = table._load_snap(sid)
        parts = snap.get("file_partitions", {})
        recorded = snap.get("file_rows", {})
        agg: dict[tuple | None, list[int]] = {}
        for f in snap["files"]:
            full = os.path.join(table.path, f)
            tup = tuple(parts[f]) if f in parts else None
            slot = agg.setdefault(tup, [0, 0, 0])
            slot[0] += 1
            slot[1] += os.path.getsize(full)
            # manifest-recorded row count; footer only for legacy files
            n = recorded.get(f)
            slot[2] += (
                n if n is not None else pq.ParquetFile(full).metadata.num_rows
            )
        rows = [
            (list(t) if t is not None else None, n, b, r)
            for t, (n, b, r) in sorted(
                agg.items(), key=lambda kv: (kv[0] is None, kv[0])
            )
        ]
        return spark.createDataFrame(
            rows,
            "partition_values array<string>, n_files int, "
            "size_bytes bigint, n_rows bigint",
        )
    if kind == "manifests":
        # observability for the delta encoding: one row per RETAINED
        # manifest with its on-disk form, chain depth, byte size, and
        # the RAW doc's entry counts (files for full form, added/
        # removed for deltas) — the evidence that a commit wrote
        # O(changed files), queryable like any table
        rows = []
        for sid2 in table.history_ids():
            p = table._snap_path(sid2)
            with open(p) as f:
                raw = json.load(f)
            is_delta = "delta_base" in raw
            rows.append(
                (
                    sid2,
                    "delta" if is_delta else "full",
                    raw.get("delta_base"),
                    raw.get("delta_depth", 0),
                    os.path.getsize(p),
                    len(raw.get("files", [])) if not is_delta else None,
                    len(raw.get("files_added", [])) if is_delta else None,
                    len(raw.get("files_removed", [])) if is_delta else None,
                )
            )
        return spark.createDataFrame(
            rows,
            "snapshot_id bigint, form string, delta_base bigint, "
            "delta_depth int, size_bytes bigint, n_files_full int, "
            "n_files_added int, n_files_removed int",
        )
    if kind == "history":
        # Iceberg's history table: every retained snapshot with whether
        # it is an ancestor of the CURRENT head (rollbacks leave
        # non-ancestor rows — is_current_ancestor false flags them).
        # Index-served; the ancestor walk is parent pointers only.
        idx = table.commit_index()
        head = table.head(ref if ref is not None else MAIN)
        ancestors = set()
        sid = head
        while sid is not None and sid in idx:
            ancestors.add(sid)
            sid = idx[sid].get("parent")
        rows = [
            (
                e["timestamp_ms"],
                e["snapshot_id"],
                e.get("parent"),
                e["snapshot_id"] in ancestors,
            )
            for e in idx.values()
        ]
        return spark.createDataFrame(
            rows,
            "made_current_at bigint, snapshot_id bigint, "
            "parent_id bigint, is_current_ancestor boolean",
        )
    raise ValueError(
        f"unknown metadata table {kind!r}; expected "
        "snapshots/files/refs/partitions/manifests/history"
    )


# ------------------------------------------------------------ partitioning
# Iceberg-style HIDDEN partitioning: the partition value is a TRANSFORM
# of a data column (day(ts), bucket(16, user_id), truncate(4, code)),
# recorded per file in the manifest — queries filter on the DATA column
# and pruning happens against metadata; no user-visible partition
# column, no directory-layout contract. Complements the min/max stats
# pruning in planned_scan: range stats cannot prune bucket(N) layouts,
# a recorded bucket value prunes a point lookup to 1/N of the files.

def append_partitioned(
    table: SnapshotTable,
    df: DataFrame,
    spec: list[tuple[str, str]],
    ref: str = MAIN,
) -> int:
    """Append with hidden partitioning: rows are clustered into one
    file set per partition tuple and the manifest records each file's
    tuple under ``file_partitions`` (plus the spec itself), so
    :func:`partition_pruned_scan` plans against kilobytes of metadata.

    The partition columns are DERIVED (never stored): ``partitionBy``
    strips only the derived routing columns; every data column stays in
    the files. Files from unpartitioned commits simply lack a recorded
    tuple and are conservatively scanned."""
    import glob as _glob
    import shutil
    import urllib.parse as _urlparse
    import uuid as _uuid

    from pyspark.sql import functions as F

    pcols = [f"_p{i}" for i in range(len(spec))]
    routed = df
    for pc, (col, transform) in zip(pcols, spec):
        routed = routed.withColumn(pc, F.coalesce(transform_col(col, transform), F.lit("null")))
    token = _uuid.uuid4().hex[:12]
    stage = os.path.join(table.path, f"_stage_{token}")
    routed.repartition(*[F.col(c) for c in pcols]).write.partitionBy(*pcols).parquet(stage)

    os.makedirs(table._data, exist_ok=True)
    new_files, file_partitions = [], {}
    for part in sorted(_glob.glob(os.path.join(stage, *[f"{c}=*" for c in pcols], "part-*.parquet"))):
        rel_dirs = os.path.relpath(os.path.dirname(part), stage).split(os.sep)
        # Spark percent-escapes special chars (space, ':', '%', ...) in
        # partition directory names; the pruning probe compares against
        # RAW transform output, so record the unescaped value or files
        # holding such values are silently pruned from every lookup
        values = [_urlparse.unquote(d.split("=", 1)[1]) for d in rel_dirs]
        dest = os.path.join(table._data, f"{token}-{len(new_files):05d}.parquet")
        shutil.move(part, dest)
        rel = os.path.relpath(dest, table.path)
        new_files.append(rel)
        file_partitions[rel] = values
    shutil.rmtree(stage)

    parent = table.head(ref)
    snap = table._load_snap(parent) if parent else {}
    # spec evolution: the snapshot carries EVERY spec ever used, each
    # file tagged with the spec its tuple was computed under — mixed-
    # spec tables stay scannable and pruning matches each file against
    # ITS OWN spec (Iceberg's spec-id model). The carried files keep
    # their tuples and spec ids (_commit); a table from before spec ids
    # has its tuples' spec, 0, recorded now.
    specs = [
        {**s, "spec": [list(p) for p in s["spec"]]}
        for s in snap.get("partition_specs", [])
    ]
    base_spec_ids = {}
    if not specs and snap.get("partition_spec"):
        specs = [{"spec_id": 0, "spec": [list(p) for p in snap["partition_spec"]]}]
        base_spec_ids = dict.fromkeys(snap.get("file_partitions", {}), 0)
    new_spec = [list(s) for s in spec]
    match = next((s["spec_id"] for s in specs if s["spec"] == new_spec), None)
    if match is None:
        match = max((s["spec_id"] for s in specs), default=-1) + 1
        # the source columns' types the tuples were rendered at: pruning
        # renders its probes at them without reading a data file
        types = {c: df.schema[c].dataType.simpleString() for c, _ in spec if c in df.columns}
        specs = specs + [{"spec_id": match, "spec": new_spec, "types": types}]
    extra = {
        "partition_spec": new_spec,
        "partition_specs": specs,
        "current_spec_id": match,
        "file_partitions": file_partitions,
        "file_spec_ids": {**base_spec_ids, **dict.fromkeys(file_partitions, match)},
    }
    files = snap.get("files", []) + new_files
    return table._commit(files, "append", parent, extra=extra, ref=ref)


def partition_pruned_scan(
    table: SnapshotTable,
    equals: dict[str, object],
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> tuple[DataFrame, dict]:
    """Scan with partition-transform pruning: for each ``col == value``
    predicate, a file whose recorded tuple disagrees with the
    transform of ``value`` is skipped without opening it. The exact
    filter still applies to the surviving rows (transforms are lossy:
    day() keeps the whole day, bucket() the whole bucket). Files
    without a recorded tuple (pre-partitioning commits) are scanned.
    Schema-tracked tables prune with per-vintage typed probes and read
    id-resolved (renames and widenings apply transparently). The
    summary's ``pruned_on`` shows the current spec's rendered value
    sets. ``ref`` plans against a branch head."""
    from pyspark.sql import functions as F

    sid = _scan_sid(table, snapshot_id, ref)
    plan = plan_files(
        table, sid, values={c: [v] for c, v in equals.items()}, cols=list(equals)
    )
    if plan.wanted is None:
        raise SnapshotError(
            "no partition_spec in this snapshot; write with append_partitioned first"
        )
    exact = None
    for col, value in equals.items():
        cond = F.col(col) == F.lit(value)
        exact = cond if exact is None else exact & cond
    cur = plan.parts["current_spec_id"]
    spec = next(s["spec"] for s in plan.parts["specs"] if s["spec_id"] == cur)
    vintage = (plan.doc or plan.snap).get("current_schema_id")
    summary = {
        **plan.summary(),
        "pruned_on": {
            spec[i][0]: sorted(by_vintage.get(vintage) or ())
            for i, by_vintage in plan.wanted[cur].items()
        },
    }
    return _read_plan(table, sid, plan, exact), summary


def _reachable(table: SnapshotTable, ids: list[int]) -> set[str]:
    """Every file snapshots ``ids`` reach, as table-relative paths —
    the one reachable set expiry, the vacuum and the maintenance
    advisor take differences of. Per snapshot: its data and delete
    files (equality AND positional — a retained snapshot's delete files
    are as load-bearing as its data files), its table and partition
    statistics puffins, its manifest, and its plan-index doc with the
    segments the doc names; plus the arbiter's pointer docs for ``ids``
    (``_pointer_docs``). Resolves every manifest it is given."""
    from .plan_index import index_files

    out: set[str] = set()
    for sid in ids:
        snap = table._load_snap(sid)
        out.update(snap["files"], snap.get("deletes", ()), snap.get("pos_deletes", ()))
        for key in ("table_stats", "partition_stats"):
            if snap.get(key):
                out.add(snap[key]["path"])
        out.add(os.path.relpath(table._snap_path(sid), table.path))
        out.update(index_files(table.path, sid))
    return out | table._pointer_docs(set(ids))


def _orphans(table: SnapshotTable, min_age_sec: float) -> list[str]:
    """The paths the table lists (``_LISTED``) that no retained
    snapshot reaches (:func:`_reachable` over ``history_ids``), at
    least ``min_age_sec`` old, sorted — what :func:`vacuum_orphans`
    removes and :func:`plan_maintenance` counts. The age guard protects
    in-flight writers, whose files exist before their manifest does."""
    listed = [
        os.path.relpath(p, table.path)
        for pat in table._LISTED
        for p in glob.glob(os.path.join(table.path, pat))
    ]
    reachable = _reachable(table, table.history_ids())
    now = time.time()
    return sorted(
        rel
        for rel in listed
        if rel not in reachable
        and now - os.path.getmtime(os.path.join(table.path, rel)) >= min_age_sec
    )


def vacuum_orphans(table: SnapshotTable, min_age_sec: float = 3600.0) -> dict:
    """Remove every listed file no retained snapshot reaches
    (:func:`_orphans`: listed minus the one reachable set, under the
    age guard) — the debris a crash between staging and commit leaves
    behind (data files, ``_stage_*`` dirs), and what an interrupted
    expiry, a dropped index doc or a pre-v3 index sidecar leaves
    (puffins, index docs, segments, an arbiter's pointer docs).
    ``min_age_sec`` protects in-flight writers: anything younger stays.
    Manifests are the source of truth; nothing reachable is ever
    touched, so vacuum composes safely with expiry, time travel, and
    rollback."""
    removed, stages = [], 0
    for rel in _orphans(table, min_age_sec):
        full = os.path.join(table.path, rel)
        if os.path.isdir(full):  # a crashed writer's stage dir
            shutil.rmtree(full, ignore_errors=True)
            stages += 1
        else:
            os.unlink(full)
            removed.append(rel)
    return {"removed_files": removed, "removed_stages": stages}


def rewrite_small_files(
    table: SnapshotTable, target_bytes: int = 128 * 1024 * 1024, ref: str = MAIN
) -> dict:
    """Bin-pack small data files into ~``target_bytes`` files (the
    rewriteDataFiles maintenance action): files already at or above
    half the target carry over untouched; the rest are rewritten
    together, coalesced to ceil(small_bytes / target). Snapshot
    semantics make it safe online — readers of prior snapshots keep
    their exact file lists, and the commit conflicts like any other if
    a writer lands first."""
    table._check_writable_ref(ref)
    parent = table.head(ref)
    if parent is None:
        return {"rewritten": 0, "carried": 0}
    snap = table._load_snap(parent)
    if snap.get("deletes") or snap.get("pos_deletes"):
        raise SnapshotError(
            "compact_deletes before rewrite_small_files: pending merge-"
            "on-read deletes would be silently materialized into the "
            "rewrite (and rewriting invalidates positional vectors)"
        )
    small, carried, small_bytes = [], [], 0
    for f in snap["files"]:
        size = os.path.getsize(os.path.join(table.path, f))
        if size >= target_bytes // 2:
            carried.append(f)
        else:
            small.append(f)
            small_bytes += size
    if len(small) <= 1:
        return {"rewritten": 0, "carried": len(snap["files"])}
    n_out = max(1, -(-small_bytes // target_bytes))
    extra = {}
    if snap.get("row_lineage"):
        packed = _attach_row_ids(table, snap, small).drop("_file", "_pos")
        new = table._write_data_files(packed.coalesce(n_out))
        extra["lineage_files"] = {f: True for f in new}
    else:
        packed = table._resolve_files(snap, small).coalesce(n_out)
        new = table._write_data_files(packed)
    table._commit(carried + new, "rewrite-small-files", parent, extra=extra, ref=ref)
    return {"rewritten": len(small), "carried": len(carried), "new_files": len(new)}


def rewrite_sorted(
    table: SnapshotTable, cols: list[str], n_files: int | None = None, ref: str = MAIN
) -> dict:
    """Range-cluster the table on ``cols`` (the rewriteDataFiles
    sort-order maintenance action) and record each new file's [min,
    max] for the sort columns IN THE SAME COMMIT, so
    :func:`planned_scan` prunes immediately.

    On an unclustered layout every file spans the whole value domain
    and min/max stats prune nothing; after one range shuffle each file
    covers a narrow slice and a range predicate reads a handful of
    files — the biggest scan lever at 100 TB after partition pruning
    (`sources/formats.py::write_clustered` is the same layout for
    plain directories; this is the snapshot-native, time-travel-safe
    version: readers of prior snapshots keep their exact file lists)."""
    table._check_writable_ref(ref)
    parent = table.head(ref)
    if parent is None:
        return {"rewritten": 0}
    snap = table._load_snap(parent)
    if snap.get("deletes") or snap.get("pos_deletes"):
        raise SnapshotError(
            "compact_deletes before rewrite_sorted: pending merge-on-"
            "read deletes would be silently materialized into the "
            "rewrite (and rewriting invalidates positional vectors)"
        )
    if snap.get("row_lineage"):
        df = _attach_row_ids(table, snap, snap["files"]).drop("_file", "_pos")
    else:
        df = table._resolve_files(snap, snap["files"])
    n = n_files if n_files is not None else max(1, len(snap["files"]))
    clustered = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    new = table._write_data_files(clustered)
    stats = _harvest_stats(table, new, cols)
    # record the sort order (Iceberg's sort-orders + per-file
    # sort_order_id): exports surface it, so a foreign reader knows
    # these files are range-clustered on `cols`
    orders = list(snap.get("sort_orders") or [])
    oid = next(
        (o["order_id"] for o in orders if o["fields"] == list(cols)), None
    )
    if oid is None:
        oid = max((o["order_id"] for o in orders), default=0) + 1
        orders.append({"order_id": oid, "fields": list(cols)})
    extra = {
        "file_stats": stats,
        "sort_orders": orders,
        "file_sort_ids": {f: oid for f in new},
    }
    if snap.get("row_lineage"):
        extra["lineage_files"] = {f: True for f in new}
    sid = table._commit(new, "rewrite-sorted", parent, extra=extra, ref=ref)
    return {
        "rewritten": len(snap["files"]),
        "new_files": len(new),
        "snapshot_id": sid,
    }


def plan_maintenance(
    table: SnapshotTable,
    small_file_bytes: int = 128 * 1024 * 1024,
    min_age_sec: float = 3600.0,
    ref: str = MAIN,
) -> dict:
    """Metadata-only maintenance advisor: inspect the head manifest and
    the metadata directory and report which maintenance actions would
    pay off — the planning half of Iceberg's table-maintenance story
    (the actions themselves are :func:`compact_deletes`,
    :func:`rewrite_small_files`, :func:`rewrite_manifests`,
    ``expire_snapshots``, :func:`vacuum_orphans`). At 100 TB the
    difference between a fast table and a slow one IS maintenance
    cadence; this keeps the decision O(metadata) — per-file sizes come
    from one ``data/`` directory listing, never a data read.

    ``n_orphan_files`` counts :func:`_orphans` — the listed files and
    stage dirs no retained snapshot reaches, past ``min_age_sec`` — so
    ``vacuum_orphans`` is recommended exactly when it would remove
    something.

    Returns a dict of observations plus a ``recommended`` list of
    action names, each justified by a recorded observation."""
    head = table.head(ref)
    if head is None:
        return {"recommended": [], "head": None}
    snap = table._load_snap(head)
    files = snap["files"]
    n_eq = len(snap.get("deletes", []))
    n_pos = len(snap.get("pos_deletes", []))
    sizes = {}
    if os.path.isdir(table._data):
        with os.scandir(table._data) as it:
            for e in it:
                sizes[os.path.join("data", e.name)] = e.stat().st_size
    n_small = sum(
        1 for f in files if sizes.get(f, small_file_bytes) < small_file_bytes // 2
    )
    depth, _accum = _manifest_depth(table.path, head)
    n_snapshots = len(table.history_ids())
    # exactly what vacuum_orphans would remove, under the same age guard
    n_orphans = len(_orphans(table, min_age_sec))
    # recorded table statistics go stale as data lands on top of the
    # snapshot they were computed over; count the files added since
    ts = snap.get("table_stats")
    n_stats_stale_files = 0
    if ts is not None and int(ts["snapshot_id"]) != head:
        try:
            base_files = set(
                table._load_snap(int(ts["snapshot_id"]))["files"]
            )
            # files ADDED since plus files REMOVED since: a
            # removal-only commit (CoW delete, compaction remainder)
            # also stales the recorded aggregates — they describe rows
            # that no longer exist
            n_stats_stale_files = sum(
                1 for f in files if f not in base_files
            ) + len(base_files - set(files))
        except SnapshotError:  # base expired: everything is unaccounted
            n_stats_stale_files = len(files)
    # the recorded partition statistics age the same way — and a spec
    # change with an unchanged file set ALSO stales them (the unified
    # field names and the synthetic empty-spec id move), mirroring the
    # refresh's own append_pure vocabulary check
    ps = snap.get("partition_stats")
    n_pstats_stale_files = 0
    if ps is not None and int(ps["snapshot_id"]) != head:
        try:
            ps_base_snap = table._load_snap(int(ps["snapshot_id"]))
            ps_base = set(ps_base_snap["files"])
            # added + removed: removal-only history overcounts the
            # recorded aggregates just like additions undercount them
            n_pstats_stale_files = sum(
                1 for f in files if f not in ps_base
            ) + len(ps_base - set(files))
            if n_pstats_stale_files == 0 and (
                ps_base_snap.get("current_spec_id")
                != snap.get("current_spec_id")
                or (ps_base_snap.get("partition_specs") or [])
                != (snap.get("partition_specs") or [])
            ):
                n_pstats_stale_files = len(files)  # vocabulary moved
        except SnapshotError:
            n_pstats_stale_files = len(files)
    recommended = []
    if n_eq or n_pos:
        recommended.append("compact_deletes")
    if n_small > 1:
        recommended.append("rewrite_small_files")
    if depth > 8:
        recommended.append("rewrite_manifests")
    if n_orphans:
        recommended.append("vacuum_orphans")
    if n_stats_stale_files:
        recommended.append("update_table_statistics")
    if n_pstats_stale_files:
        recommended.append("update_partition_statistics")
    return {
        "head": head,
        "n_data_files": len(files),
        "n_small_files": n_small,
        "n_equality_delete_files": n_eq,
        "n_positional_delete_files": n_pos,
        "manifest_delta_depth": depth,
        "n_snapshots": n_snapshots,
        "n_orphan_files": n_orphans,
        "n_stats_stale_files": n_stats_stale_files,
        "n_partition_stats_stale_files": n_pstats_stale_files,
        "recommended": recommended,
    }


def run_maintenance(
    table: SnapshotTable,
    small_file_bytes: int = 128 * 1024 * 1024,
    min_age_sec: float = 3600.0,
    ref: str = MAIN,
    actions: list[str] | None = None,
    expire_keep_last: int | None = None,
    retries: int = 3,
) -> dict:
    """Apply :func:`plan_maintenance`'s recommendations — the execution
    half of Iceberg's table-maintenance procedures, closing the loop
    the advisor opens. Actions run in dependency order (delete
    compaction can create small files; small-file rewrite lengthens
    the manifest chain; vacuum runs last over the settled state), each
    through its own commit-locked entry point and wrapped in
    :func:`commit_with_retries` so a racing writer surfaces as a
    re-planned retry, not a failure. Per-action idempotence comes from
    re-consulting the advisor: running maintenance on a clean table is
    a no-op (no commits minted), and a second run right after a first
    reports nothing to do.

    ``actions`` restricts execution to a subset of
    ``{"compact_deletes", "rewrite_small_files", "rewrite_manifests",
    "update_table_statistics", "update_partition_statistics",
    "vacuum_orphans"}``;
    ``expire_keep_last`` additionally expires
    history down to N snapshots (never advisor-recommended — history
    retention is a policy decision, so it is explicit-only).

    Returns ``{"before": plan, "applied": {action: result},
    "after": plan}`` — the ``after`` plan is the test oracle: a dirty
    table must come back with nothing further recommended."""
    before = plan_maintenance(table, small_file_bytes, min_age_sec, ref)
    order = [
        "compact_deletes",
        "rewrite_small_files",
        "rewrite_manifests",
        # after the rewrites: compaction/bin-packing changes the file
        # set, which is exactly what moots an incremental refresh
        "update_table_statistics",
        "update_partition_statistics",
        "vacuum_orphans",
    ]
    applied: dict[str, object] = {}
    for action in order:
        if actions is not None and action not in actions:
            continue
        # re-plan before each action: an earlier action (or a racing
        # writer) may have mooted it — idempotence by observation, the
        # same rule that makes a second run a no-op
        current = plan_maintenance(table, small_file_bytes, min_age_sec, ref)
        if action not in current["recommended"]:
            continue
        if action == "compact_deletes":
            applied[action] = {
                "snapshot_id": commit_with_retries(
                    lambda: compact_deletes(table, ref=ref), retries
                )
            }
        elif action == "rewrite_small_files":
            applied[action] = commit_with_retries(
                lambda: rewrite_small_files(
                    table, target_bytes=small_file_bytes, ref=ref
                ),
                retries,
            )
        elif action == "rewrite_manifests":
            applied[action] = rewrite_manifests(table, ref=ref)
        elif action == "update_table_statistics":
            applied[action] = {
                "snapshot_id": commit_with_retries(
                    lambda: update_table_statistics(table, ref=ref), retries
                )
            }
        elif action == "update_partition_statistics":
            applied[action] = {
                "snapshot_id": commit_with_retries(
                    lambda: update_partition_statistics(table, ref=ref),
                    retries,
                )
            }
        elif action == "vacuum_orphans":
            applied[action] = vacuum_orphans(table, min_age_sec=min_age_sec)
    if expire_keep_last is not None:
        applied["expire_snapshots"] = table.expire_snapshots(
            keep_last=expire_keep_last
        )
    after = plan_maintenance(table, small_file_bytes, min_age_sec, ref)
    return {"before": before, "applied": applied, "after": after}


def add_files(table: SnapshotTable, paths: list[str], ref: str = MAIN) -> dict:
    """Register EXISTING parquet files into the table without reading
    or rewriting their data — Iceberg's ``add_files`` procedure, the
    data-plane sibling of the reference's register-don't-move ethos
    (`CatalogMigrator.java:208-224` moves metadata pointers, never
    data). Each path may be a file, a directory (its ``*.parquet``),
    or a glob. Files are hard-linked into ``data/`` (copied across
    devices) under fresh immutable names and committed as ONE append
    snapshot: sequence stamps, per-file row counts (COUNT(*) stays
    metadata-only), and lineage id ranges are all assigned by the
    normal commit path from footer metadata — O(added files), no data
    scan. Pending MOR deletes carry; the sequence rule keeps them off
    the added files.

    Schema contract: the incoming footers must UNIFY with the table's
    current file schema (mergeSchema semantics — additive drift is
    fine, conflicting types refuse). Schema-TRACKED tables refuse:
    field-id tracking requires evolution through the API, not adopted
    foreign files."""
    import pyarrow.parquet as _pq

    table._check_writable_ref(ref)
    expanded: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            expanded.extend(sorted(glob.glob(os.path.join(p, "*.parquet"))))
        elif glob.has_magic(p):
            expanded.extend(sorted(glob.glob(p)))
        else:
            expanded.append(p)  # literal path: a typo errors loudly below
    if not expanded:
        raise SnapshotError("add_files: no parquet files matched")
    schemas = []
    for p in expanded:
        try:
            schemas.append(_pq.read_schema(p))
        except Exception as exc:
            raise SnapshotError(f"add_files: unreadable parquet {p!r}: {exc}") from exc
    parent = table.head(ref)
    psnap = table._load_snap(parent) if parent else {}
    if psnap.get("schemas"):
        raise SnapshotError(
            "add_files refuses on a schema-tracked table: field-id "
            "tracking requires evolution through the API; append the "
            "data instead"
        )
    base = psnap.get("files", [])
    # validate against EVERY live file's schema, not just one: reads
    # run mergeSchema over the whole file list, so one adopted file
    # that conflicts with ANY current file (heterogeneous schemas from
    # additive evolution included) would poison every read of the new
    # snapshot. One footer read per live file — kilobytes each, paid
    # once by an explicitly invoked import procedure (the same price
    # the connector's schema() pays per query start on untracked
    # tables).
    to_unify = list(schemas)
    for f in base:
        to_unify.append(_pq.read_schema(os.path.join(table.path, f)))
    try:
        import pyarrow as _pa

        _pa.unify_schemas(to_unify)
    except Exception as exc:
        raise SnapshotError(
            f"add_files: incoming schemas do not unify with the table: {exc}"
        ) from exc
    os.makedirs(table._data, exist_ok=True)
    token = uuid.uuid4().hex[:12]
    new = []
    for i, p in enumerate(expanded):
        dest = os.path.join(table._data, f"{token}-added-{i:05d}.parquet")
        try:
            os.link(p, dest)
        except OSError:
            shutil.copy2(p, dest)
        new.append(os.path.relpath(dest, table.path))
    sid = table._commit(base + new, "append", parent, ref=ref)
    return {"added_files": len(new), "snapshot_id": sid}


def rewrite_manifests(table: SnapshotTable, ref: str = MAIN) -> dict:
    """Checkpoint ``ref``'s head manifest to FULL form (Iceberg's
    ``rewrite_manifests`` maintenance procedure, adapted to the
    delta-chain encoding): a head that accumulated a long delta chain
    resolves cold in one file open afterwards, and the next commit's
    delta bases on a depth-0 doc. Metadata-only and content-identical
    — the resolved snapshot does not change, so readers (and their
    memoized resolutions) are unaffected; the stat fingerprint refreshes
    cold caches. No new snapshot is committed: like expiry's rebase,
    this is one of the two legal in-place manifest mutations. Data
    files are untouched — pending MOR deletes, vectors, and lineage
    state all carry verbatim inside the full-form doc."""
    with table._commit_lock():
        # the head is resolved INSIDE the lock: a commit (or an expiry
        # of the pre-lock head) racing the lock acquisition must not
        # leave this checkpointing a stale — or vanished — snapshot
        head = table.head(ref)
        if head is None:
            return {"rebased": False, "depth_before": 0, "snapshot_id": None}
        depth, _accum = _manifest_depth(table.path, head)
        if depth == 0:
            return {"rebased": False, "depth_before": 0, "snapshot_id": head}
        table._rebase_to_full(head)
    return {"rebased": True, "depth_before": depth, "snapshot_id": head}


def commit_with_retries(build_and_commit, attempts: int = 3):
    """Optimistic-concurrency retry loop: run ``build_and_commit()``
    (a zero-arg callable that re-reads the head, re-stages, and
    commits), retrying on :class:`CommitConflictError` up to
    ``attempts`` times — the retry discipline Iceberg catalogs apply
    around their atomic swap (and the reference outsources to them).
    The callable MUST re-read the head each try: a conflict means the
    table moved, so the staging decision may change (e.g. a merge's
    file pruning). Returns the winning snapshot id; re-raises the last
    conflict when every attempt loses."""
    if attempts < 1:
        raise ValueError(f"attempts must be >= 1, got {attempts}")
    last: CommitConflictError | None = None
    for _ in range(attempts):
        try:
            return build_and_commit()
        except CommitConflictError as e:
            last = e
    raise last
