"""One reachable set for every file a table owns (``_reachable``):
expiry unlinks what only expired snapshots reach, and the vacuum and
the maintenance advisor agree on what no retained snapshot reaches.

Spark-free: data files are written with pyarrow and committed through
``_commit``, over both commit arbiters (the plain table's flock and a
``SqlCatalog``'s pointer swap)."""

import json
import os

import pyarrow as pa
import pytest

from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
from iceberg_catalog_migrator_spark.catalog.base import METADATA_DIR, VERSION_HINT
from iceberg_catalog_migrator_spark.sources.snapshots import (
    MAIN,
    CatalogArbitratedTable,
    SnapshotTable,
    _orphans,
    _reachable,
    plan_maintenance,
    vacuum_orphans,
)

IDENT = TableIdentifier.of("lake", "orders_gc")
#: per-table bookkeeping files no snapshot owns
_BOOKKEEPING = {
    os.path.join("metadata", n)
    for n in ("commit-log.jsonl", "refs.json", "commit.lock", "snapshot-hint.text", VERSION_HINT)
}


@pytest.fixture()
def catalog(tmp_path):
    cat = SqlCatalog("arbiter", str(tmp_path / "cat.db"))
    cat.create_namespace(("lake",))
    yield cat
    cat.close()


def _open(arbiter, catalog, path):
    if arbiter == "catalog":
        return CatalogArbitratedTable.create(None, catalog, IDENT, path)
    return SnapshotTable(None, path)


# ------------------------------------------------------------ history helper
def _append(t, ref=MAIN):
    """Commit one new pyarrow-written file on top of ``ref``'s head."""
    parent = t.head(ref)
    base = t._load_snap(parent)["files"] if parent else []
    new = t._write_arrow_file(pa.table({"k": list(range(len(base) * 10, len(base) * 10 + 10))}))
    return t._commit(base + [new], "append", parent, ref=ref)


def _record_stats(t):
    """A ``table_stats`` puffin over main's head, committed as its own
    snapshot (the shape ``record_table_statistics`` commits)."""
    parent = t.head()
    rel = os.path.join("metadata", "stats", f"stats-{parent}.puffin")
    os.makedirs(os.path.join(t.path, "metadata", "stats"), exist_ok=True)
    with open(os.path.join(t.path, rel), "wb") as f:
        f.write(b"PFA1")
    stats = {"snapshot_id": parent, "path": rel, "ndv": {"k": 10}}
    return t._commit(
        t._load_snap(parent)["files"], "set-statistics", parent, extra={"table_stats": stats}
    )


def _history(t):
    """Every step of a history over both arbiters: appends, a branch
    and a second one fast-forwarded into main, a tag, a statistics
    puffin, a rollback, then expiry at ``keep_last`` 3, 2 and 1."""
    yield "append", _append(t)
    s2 = _append(t)
    yield "append", s2
    yield "branch", t.create_branch("audit")
    yield "branch append", _append(t, "audit")
    yield "stats", _record_stats(t)
    yield "tag", t.create_tag("rel")
    yield "append", _append(t)
    yield "rollback", t.rollback(s2)
    t.create_branch("ff")
    _append(t, "ff")
    yield "fast-forward", t.fast_forward(MAIN, "ff")
    yield "append", _append(t)
    yield "stats", _record_stats(t)
    for k in (3, 2, 1):
        yield f"expire keep_last={k}", t.expire_snapshots(keep_last=k)


def _check(t, step):
    """The reachable set's three invariants after ``step``."""
    live = set(t.history_ids())
    meta = os.path.join(t.path, METADATA_DIR)
    # every pointer doc left records a retained snapshot, or is v0
    for name in sorted(os.listdir(meta)):
        if name.endswith(".metadata.json") and name != "v0.metadata.json":
            with open(os.path.join(meta, name)) as f:
                sid = int(json.load(f)["properties"]["snapshot-id"])
            assert sid in live, f"{step}: {name} records expired snapshot {sid}"
    reachable = _reachable(t, sorted(live))
    # every file on disk is reachable (no guard: nothing is in flight)
    on_disk = {
        os.path.relpath(os.path.join(d, n), t.path)
        for d, _, names in os.walk(t.path)
        for n in names
    }
    assert sorted(on_disk - _BOOKKEEPING - reachable) == [], step
    assert _orphans(t, 0.0) == [], step
    # every reachable file exists
    assert sorted(r for r in reachable if r not in on_disk) == [], step
    # and every ref's head still resolves, files included
    refs = t.refs()
    for ref in [*refs["branches"], *refs["tags"]]:
        snap = t._load_snap(t.head(ref))
        assert all(f in on_disk for f in snap["files"]), (step, ref)


@pytest.mark.parametrize("arbiter", ["catalog", "file"])
def test_history_keeps_exactly_the_reachable_set(catalog, tmp_path, arbiter):
    t = _open(arbiter, catalog, str(tmp_path / "tbl"))
    for step, _ in _history(t):
        _check(t, step)
    # keep_last=1 retains main's head plus the other refs' heads
    refs = t.refs()
    heads = {t.head(r) for r in [*refs["branches"], *refs["tags"]]}
    assert set(t.history_ids()) == heads
    if arbiter == "catalog":
        assert os.path.exists(os.path.join(t.path, METADATA_DIR, "v0.metadata.json"))


# ------------------------------------------------------------ arbiter reads
def test_expiry_pins_the_branch_head_the_catalog_names(catalog, tmp_path):
    """A ``refs.json`` row lagging its branch's catalog entry must not
    let expiry delete the head the entry names."""
    t = _open("catalog", catalog, str(tmp_path / "tbl"))
    _append(t)
    t.create_branch("b")
    lagged = _append(t, "b")
    head = _append(t, "b")
    refs = t._load_refs()
    refs["branches"]["b"] = lagged
    t._store_refs(refs)
    _append(t)
    t.expire_snapshots(keep_last=1)
    assert t.head("b") == head
    snap = t._load_snap(head)
    assert all(os.path.exists(os.path.join(t.path, f)) for f in snap["files"])


def test_a_won_swap_never_moves_the_hints_back(catalog, tmp_path):
    """Writer A wins its swap; before it takes the commit lock to
    refresh the directory's pointers, writer B commits on top. A's
    refresh must leave both hints at B's head, which the catalog
    names."""
    path = str(tmp_path / "tbl")
    a = _open("catalog", catalog, path)
    _append(a)
    b = CatalogArbitratedTable(None, catalog, IDENT)
    swap = a._swap_head
    committed = []

    def swap_then_b_commits(ref, token, snap):
        won = swap(ref, token, snap)
        committed.append(_append(b))
        return won

    a._swap_head = swap_then_b_commits
    _append(a)
    (b_head,) = committed
    assert a.current_snapshot_id() == b_head
    with open(os.path.join(path, METADATA_DIR, VERSION_HINT)) as f:
        assert f.read().strip() == str(b_head)
    assert SnapshotTable(None, path).current_snapshot_id() == b_head


# ------------------------------------------------------------ advisor = vacuum
def _aged(path):
    os.utime(path, (1, 1))


def _debris(t, kind):
    """Leave one kind of debris in the table (or none)."""
    if kind == "aged data file":
        _aged(os.path.join(t.path, t._write_arrow_file(pa.table({"k": [1]}))))
    elif kind == "young data file":
        t._write_arrow_file(pa.table({"k": [1]}))
    elif kind == "aged stale puffin":
        p = os.path.join(t.path, "metadata", "stats", "crashed-update.puffin")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "wb").close()
        _aged(p)
    elif kind == "aged stage dir":
        p = os.path.join(t.path, "_stage_crashed")
        os.makedirs(p)
        _aged(p)
    elif kind == "aged legacy sidecar":
        p = os.path.join(t.path, "metadata", f"plan-index-{t.head()}.parquet")
        open(p, "wb").close()
        _aged(p)
    elif kind == "aged pointer doc":  # left by an interrupted expiry
        p = os.path.join(t.path, METADATA_DIR, "v99.metadata.json")
        with open(p, "w") as f:
            json.dump({"properties": {"snapshot-id": "99"}}, f)
        _aged(p)


@pytest.mark.parametrize("arbiter", ["catalog", "file"])
@pytest.mark.parametrize(
    "kind",
    [
        "none",
        "young data file",
        "aged data file",
        "aged stale puffin",
        "aged stage dir",
        "aged legacy sidecar",
        "aged pointer doc",
    ],
)
def test_advisor_recommends_vacuum_exactly_when_it_removes(catalog, tmp_path, arbiter, kind):
    t = _open(arbiter, catalog, str(tmp_path / "tbl"))
    _append(t)
    _record_stats(t)
    _debris(t, kind)
    plan = plan_maintenance(t)
    res = vacuum_orphans(t)
    removed = len(res["removed_files"]) + res["removed_stages"]
    assert plan["n_orphan_files"] == removed
    assert ("vacuum_orphans" in plan["recommended"]) == (removed > 0)
    # a plain table keeps no pointer doc: a catalog it cannot see may name it
    owned = kind.startswith("aged") and not (kind == "aged pointer doc" and arbiter == "file")
    assert removed == int(owned)
    assert "vacuum_orphans" not in plan_maintenance(t)["recommended"]
