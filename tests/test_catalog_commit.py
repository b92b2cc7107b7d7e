"""Catalog-arbitrated commits: the snapshot-table head swap routed
through a pointer catalog's compare-and-swap, so commit safety rests on
the catalog's transactional store — the reference's model
(`CatalogMigrator.java:208-224` delegates commit atomicity to the
catalog) — instead of POSIX flock/O_EXCL semantics."""

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
from iceberg_catalog_migrator_spark.catalog.base import CatalogError
from iceberg_catalog_migrator_spark.sources import load_table
from iceberg_catalog_migrator_spark.sources.snapshots import (
    CatalogArbitratedTable,
    CommitConflictError,
    SnapshotError,
    SnapshotTable,
)

SF = "/root/testdata/sf0.001"
IDENT = TableIdentifier.of("lake", "orders_cas")


@pytest.fixture()
def catalog(tmp_path):
    cat = SqlCatalog("arbiter", str(tmp_path / "cat.db"))
    cat.create_namespace(("lake",))
    yield cat
    cat.close()


def halves(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    return (
        orders.filter(F.col("o_orderkey") % 2 == 0),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    )


def test_cas_commit_roundtrip(spark, catalog, tmp_path):
    even, odd = halves(spark)
    tbl = CatalogArbitratedTable.create(
        spark, catalog, IDENT, str(tmp_path / "tbl")
    )
    assert tbl.current_snapshot_id() is None
    s1 = tbl.append(even)
    s2 = tbl.append(odd)
    assert tbl.current_snapshot_id() == s2
    assert tbl.read().count() == even.count() + odd.count()
    assert tbl.read(s1).count() == even.count()
    # the catalog pointer moved with each commit and records the head
    from iceberg_catalog_migrator_spark.catalog.base import read_table_metadata

    doc = read_table_metadata(catalog.load_table_metadata_location(IDENT))
    assert doc["properties"]["snapshot-id"] == str(s2)
    # a plain reader of the same path sees the committed state too
    # (hint refreshed best-effort after the CAS win)
    plain = SnapshotTable(spark, tbl.path)
    assert plain.read().count() == tbl.read().count()


#: the two commit arbiters over the one commit protocol
ARBITERS = pytest.mark.parametrize("arbiter", ["catalog", "file"])


def _open(arbiter, spark, catalog, path):
    """An empty table whose head moves through ``arbiter``: the
    catalog's pointer swap, or the plain table's flock and hint file."""
    if arbiter == "catalog":
        return CatalogArbitratedTable.create(spark, catalog, IDENT, path)
    return SnapshotTable(spark, path)


@ARBITERS
def test_cas_commit_detects_stale_parent(spark, catalog, tmp_path, arbiter):
    even, odd = halves(spark)
    tbl = _open(arbiter, spark, catalog, str(tmp_path / "tbl"))
    tbl.append(even)
    stale_parent = tbl.current_snapshot_id()
    tbl.append(odd)  # someone else advances the pointer
    files = tbl._load_snap(stale_parent)["files"]
    with pytest.raises(CommitConflictError, match="advanced past"):
        tbl._commit(files, "append", stale_parent)


@ARBITERS
def test_cas_loser_swap_leaves_no_trace(spark, catalog, tmp_path, arbiter):
    """Force the head move itself to lose (another writer commits
    between the parent check and the swap): the staged manifest and doc
    are cleaned up and the winner's state is untouched. Under the
    catalog the winner commits from inside the swap; under the file
    arbiter it is a writer on another host, whose flock does not
    travel, linking the loser's manifest id first."""
    import contextlib
    import glob
    import os

    even, odd = halves(spark)
    tbl = _open(arbiter, spark, catalog, str(tmp_path / "tbl"))
    tbl.append(even)
    parent = tbl.current_snapshot_id()
    files = tbl._load_snap(parent)["files"]

    if arbiter == "catalog":
        real_swap = catalog.swap_table_metadata_location
        winner = CatalogArbitratedTable(spark, catalog, IDENT)

        def hijack(identifier, expected, new):
            # another writer wins right before our swap
            catalog.swap_table_metadata_location = real_swap
            winner.append(odd.limit(5))
            return real_swap(identifier, expected, new)

        catalog.swap_table_metadata_location = hijack
        lost = "pointer swap"
    else:
        winner = SnapshotTable(spark, tbl.path)
        winner._commit_lock = contextlib.nullcontext
        real_encode = tbl._encoded_doc

        def hijack(snap, base):
            # another host commits right before our manifest link
            tbl._encoded_doc = real_encode
            winner.append(odd.limit(5))
            return real_encode(snap, base)

        tbl._encoded_doc = hijack
        lost = "already exists"
    docs = set(glob.glob(os.path.join(tbl.path, "metadata", "v*.metadata.json")))
    with pytest.raises(CommitConflictError, match=lost):
        tbl._commit(files, "append", parent)
    # loser's staged manifest gone; history = [parent, winner's commit]
    assert tbl.history_ids() == [parent, winner.current_snapshot_id()]
    assert tbl.current_snapshot_id() == winner.current_snapshot_id()
    assert not glob.glob(os.path.join(tbl.path, "metadata", "*.tmp.*"))
    if arbiter == "catalog":
        # the only new doc is the winner's
        new_docs = set(glob.glob(os.path.join(tbl.path, "metadata", "v*.metadata.json"))) - docs
        assert new_docs == {catalog.load_table_metadata_location(IDENT)}


def test_cas_branch_commits_through_per_ref_entry(spark, catalog, tmp_path):
    """A branch created on the CAS table gets its own catalog entry
    (<name>@<ref>) and commits CAS it independently of main — the
    Nessie scope-partitioned pointer model. A refs.json-only branch
    (made through a plain table) is refused: it has no arbitration."""
    even, odd = halves(spark)
    tbl = CatalogArbitratedTable.create(
        spark, catalog, IDENT, str(tmp_path / "tbl")
    )
    s1 = tbl.append(even)
    tbl.create_branch("audit")
    assert catalog.table_exists(tbl._ref_ident("audit"))
    s2 = tbl.append(odd.limit(10), ref="audit")
    # branch head moved in ITS catalog entry; main's untouched
    assert tbl.head("audit") == s2
    assert tbl.current_snapshot_id() == s1
    assert tbl.read(ref="audit").count() == even.count() + 10
    # a stale writer racing the BRANCH entry conflicts, main unaffected
    with pytest.raises(CommitConflictError):
        tbl._commit(tbl._load_snap(s1)["files"], "append", s1, ref="audit")
    # a refs.json-only branch from a plain table has no entry: refused
    plain = SnapshotTable(spark, tbl.path)
    plain.create_branch("unarbitrated", at=s1)
    with pytest.raises(SnapshotError, match="no catalog entry"):
        tbl.append(even.limit(1), ref="unarbitrated")
    # drop_ref retires the branch entry
    tbl.drop_ref("audit")
    assert not catalog.table_exists(tbl._ref_ident("audit"))


def test_cas_wap_publish_and_retry_loop(spark, catalog, tmp_path):
    """Write-audit-publish entirely through catalog CAS: epochs staged
    on the branch entry, main adopts via a CASed fast-forward, and
    commit_with_retries converges a loser of the branch CAS."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        commit_with_retries,
    )

    even, odd = halves(spark)
    tbl = CatalogArbitratedTable.create(
        spark, catalog, IDENT, str(tmp_path / "tbl")
    )
    s1 = tbl.append(even)
    tbl.create_branch("audit")
    s2 = tbl.append(odd.limit(20), ref="audit")
    # two writers race the branch off the same parent; the loser
    # retries through commit_with_retries and lands on the new head
    staged = tbl._write_data_files(odd.limit(5))

    def attempt():
        parent = tbl.head("audit")
        files = tbl._load_snap(parent)["files"]
        if parent == s2:  # first try races a winner that jumped in
            tbl._commit(files + staged, "append", parent, ref="audit")
            raise AssertionError("stale first try should have conflicted")
        return tbl._commit(files + staged, "append", parent, ref="audit")

    # simulate the interleaved winner: advance the branch before the
    # stale attempt lands
    winner = tbl.append(odd.limit(3), ref="audit")
    assert winner > s2
    s3 = commit_with_retries(attempt, attempts=3)
    assert tbl.head("audit") == s3
    # audit passed: publish to main through the MAIN-entry CAS
    published = tbl.fast_forward("main", "audit")
    assert published == s3
    assert tbl.current_snapshot_id() == s3
    assert tbl.read().count() == even.count() + 20 + 3 + 5
    # branch fast-forward (branch catches up to main) CASes the branch entry
    s4 = tbl.append(even.limit(2))
    assert tbl.fast_forward("audit", "main") == s4
    assert tbl.head("audit") == s4


def test_swap_refused_on_immutable_tag(tmp_path):
    from iceberg_catalog_migrator_spark.catalog.service import NessieCatalog

    cat = NessieCatalog("nessie", {"uri": str(tmp_path / "n.db")})
    cat.create_namespace(("lake",))
    cat.register_table(IDENT, "/loc/v1.metadata.json")
    cat.create_tag("rel-1")
    tagged = cat.with_ref("rel-1")
    with pytest.raises(CatalogError, match="immutable"):
        tagged.swap_table_metadata_location(IDENT, "/loc/v1.metadata.json", "/x")
    cat.close()


def _cas_commit_worker(args):
    """Separate OS process: own sqlite connection, own table handle —
    nothing shared but the catalog file and the table directory."""
    cat_uri, path, parent, files, tag = args
    from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        CatalogArbitratedTable,
        CommitConflictError,
    )

    cat = SqlCatalog("arbiter", cat_uri)
    tbl = CatalogArbitratedTable(None, cat, TableIdentifier.of("lake", "orders_cas"))
    try:
        return ("ok", tbl._commit(files, f"append-{tag}", parent))
    except CommitConflictError:
        return ("conflict", None)
    finally:
        cat.close()


def test_cas_race_across_processes_exactly_one_wins(spark, catalog, tmp_path):
    """Six OS processes race the SAME parent through the catalog CAS:
    the sqlite store admits exactly one; five get CommitConflictError
    and leave no manifests behind. This is the object-store-shaped
    guarantee — no flock is taken anywhere on this path."""
    import multiprocessing as mp

    even, odd = halves(spark)
    tbl = CatalogArbitratedTable.create(
        spark, catalog, IDENT, str(tmp_path / "tbl")
    )
    tbl.append(even)
    parent = tbl.current_snapshot_id()
    files = tbl._load_snap(parent)["files"]
    staged = tbl._write_data_files(odd.limit(3))
    jobs = [
        (catalog.uri, tbl.path, parent, files + staged, i) for i in range(6)
    ]
    with mp.get_context("spawn").Pool(6) as pool:
        results = pool.map(_cas_commit_worker, jobs)
    outcomes = [r[0] for r in results]
    assert outcomes.count("ok") == 1
    assert outcomes.count("conflict") == 5
    winner = next(r[1] for r in results if r[0] == "ok")
    assert tbl.current_snapshot_id() == winner
    assert tbl.history_ids() == [parent, winner]
    assert tbl.read().count() == even.count() + 3


def test_cas_loser_leaves_version_hint_resolvable(spark, catalog, tmp_path):
    """A losing racer unlinks its staged doc — version-hint.text must
    still resolve to a LIVE doc for path-based (HadoopCatalog-style)
    readers of the same directory. Regression: the candidate doc write
    used to clobber the hint before the swap decided anything."""
    import os

    from iceberg_catalog_migrator_spark.catalog.base import (
        METADATA_DIR,
        VERSION_HINT,
        read_table_metadata,
    )

    even, odd = halves(spark)
    tbl = CatalogArbitratedTable.create(spark, catalog, IDENT, str(tmp_path / "tbl"))
    tbl.append(even)
    parent = tbl.current_snapshot_id()
    files = tbl._load_snap(parent)["files"]
    # force a pure CAS loss without advancing our handle's view
    real_swap = catalog.swap_table_metadata_location
    catalog.swap_table_metadata_location = lambda *a, **k: False
    with pytest.raises(CommitConflictError):
        tbl._commit(files, "append", parent)
    catalog.swap_table_metadata_location = real_swap
    hint_path = os.path.join(tbl.path, METADATA_DIR, VERSION_HINT)
    with open(hint_path) as f:
        v = int(f.read().strip())
    doc_path = os.path.join(tbl.path, METADATA_DIR, f"v{v}.metadata.json")
    assert os.path.isfile(doc_path), "hint dangles at an unlinked candidate doc"
    assert read_table_metadata(doc_path)["properties"]["snapshot-id"] == str(parent)
    # and after a WON commit the hint follows the new head
    s2 = tbl.append(odd.limit(5))
    with open(hint_path) as f:
        assert int(f.read().strip()) == s2


def test_cas_table_uuid_stable_across_commits(spark, catalog, tmp_path):
    from iceberg_catalog_migrator_spark.catalog.base import read_table_metadata

    even, odd = halves(spark)
    tbl = CatalogArbitratedTable.create(spark, catalog, IDENT, str(tmp_path / "tbl"))
    uuid0 = read_table_metadata(catalog.load_table_metadata_location(IDENT))["table-uuid"]
    tbl.append(even)
    tbl.append(odd.limit(5))
    uuid2 = read_table_metadata(catalog.load_table_metadata_location(IDENT))["table-uuid"]
    assert uuid0 == uuid2, "table identity must survive commits (Iceberg stable uuid)"


def test_cas_fast_forward_publishes_through_catalog(spark, catalog, tmp_path):
    """fast_forward of main on a catalog-arbitrated table must move the
    AUTHORITATIVE catalog pointer, not just the convenience hint —
    otherwise the publish silently doesn't take effect and the next CAS
    commit off the stale head drops the published snapshots."""
    even, odd = halves(spark)
    tbl = CatalogArbitratedTable.create(spark, catalog, IDENT, str(tmp_path / "tbl"))
    s1 = tbl.append(even)
    tbl.create_branch("audit")
    # stage commits on the branch's own catalog entry
    s2 = tbl.append(odd, ref="audit")
    assert tbl.current_snapshot_id() == s1  # main (catalog) untouched
    published = tbl.fast_forward("main", "audit")
    assert published == s2
    # the catalog pointer itself moved
    assert tbl.current_snapshot_id() == s2
    from iceberg_catalog_migrator_spark.catalog.base import read_table_metadata

    doc = read_table_metadata(catalog.load_table_metadata_location(IDENT))
    assert doc["properties"]["snapshot-id"] == str(s2)
    assert tbl.read().count() == even.count() + odd.count()
    # and the next CAS commit builds on the published head, not a stale one
    s3 = tbl.append(even.limit(3))
    assert tbl._load_snap(s3)["parent"] == s2


@ARBITERS
def test_cas_fast_forward_refuses_divergence_and_race(spark, catalog, tmp_path, arbiter):
    even, odd = halves(spark)
    tbl = _open(arbiter, spark, catalog, str(tmp_path / "tbl"))
    tbl.append(even)
    tbl.create_branch("audit")
    tbl.append(odd.limit(5), ref="audit")
    main = tbl.append(odd.limit(3))  # main advances too: branches diverge
    with pytest.raises(SnapshotError, match="not a fast-forward"):
        tbl.fast_forward("main", "audit")
    assert tbl.current_snapshot_id() == main
    if arbiter == "file":
        return  # under its flock the file arbiter's move cannot lose a race
    # now a fast-forwardable state, but the CAS loses the race
    tbl2 = CatalogArbitratedTable.create(
        spark, catalog, TableIdentifier.of("lake", "orders_cas2"), str(tmp_path / "t2")
    )
    tbl2.append(even)
    tbl2.create_branch("audit")
    tbl2.append(odd.limit(5), ref="audit")
    real_swap = catalog.swap_table_metadata_location
    catalog.swap_table_metadata_location = lambda *a, **k: False
    try:
        with pytest.raises(CommitConflictError, match="fast-forward"):
            tbl2.fast_forward("main", "audit")
    finally:
        catalog.swap_table_metadata_location = real_swap


def test_commit_index_heal_tolerates_vanished_staged_manifest(spark, catalog, tmp_path):
    """A healing reader racing a losing CAS writer can list a staged
    manifest id that vanishes before it reads it — the heal loop must
    skip it, not crash (it was never a live commit)."""
    even, _ = halves(spark)
    tbl = CatalogArbitratedTable.create(spark, catalog, IDENT, str(tmp_path / "tbl"))
    tbl.append(even)
    # simulate the race: history_ids() sees an id whose manifest is gone
    # by _load_snap time
    real_ids = tbl.history_ids()
    calls = {"n": 0}
    orig_history_ids = type(tbl).history_ids

    def racy_ids(self):
        ids = orig_history_ids(self)
        return ids + [max(ids) + 7] if ids else ids  # a phantom staged id

    type(tbl).history_ids = racy_ids
    try:
        # wipe the index so commit_index must heal from manifests
        import os

        os.unlink(tbl._index_path())
        idx = tbl.commit_index()
    finally:
        type(tbl).history_ids = orig_history_ids
    assert sorted(idx) == real_ids  # phantom skipped, live ids healed


def _arrow_files(path, lo, hi):
    """One data file of keys ``[lo, hi)`` written with pyarrow (no
    Spark), as a path relative to the table."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    rel = f"data/k-{lo}-{hi}.parquet"
    pq.write_table(pa.table({"k": list(range(lo, hi))}), os.path.join(path, rel))
    return [rel]


def test_refused_create_leaves_the_existing_table_untouched(catalog, tmp_path):
    """``create`` on a taken identifier must not rewrite the live
    table's v0 doc or move its version hint: a path-based catalog
    reading the directory still resolves the committed head."""
    import os

    from iceberg_catalog_migrator_spark.catalog import HadoopCatalog
    from iceberg_catalog_migrator_spark.catalog.base import (
        METADATA_DIR,
        VERSION_HINT,
        TableAlreadyExistsError,
        read_table_metadata,
    )

    path = str(tmp_path / "wh" / "lake" / "orders_cas")
    tbl = CatalogArbitratedTable.create(None, catalog, IDENT, path)
    files, head = [], None
    for i in range(3):
        files = files + _arrow_files(path, 10 * i, 10 * i + 10)
        head = tbl._commit(files, "append", head)
    meta = os.path.join(path, METADATA_DIR)
    v0 = read_table_metadata(os.path.join(meta, "v0.metadata.json"))
    with pytest.raises(TableAlreadyExistsError):
        CatalogArbitratedTable.create(None, catalog, IDENT, path, "struct<x:int>")
    with open(os.path.join(meta, VERSION_HINT)) as f:
        assert f.read().strip() == str(head)
    assert read_table_metadata(os.path.join(meta, "v0.metadata.json")) == v0
    hadoop = HadoopCatalog("h", str(tmp_path / "wh"))
    doc = read_table_metadata(hadoop.load_table_metadata_location(IDENT))
    assert doc["properties"]["snapshot-id"] == str(head)
    # same identifier at a fresh path: the register refuses and the
    # writer removes the doc it created, and only that
    other = str(tmp_path / "other")
    with pytest.raises(TableAlreadyExistsError):
        CatalogArbitratedTable.create(None, catalog, IDENT, other)
    assert os.listdir(os.path.join(other, METADATA_DIR)) == []
    assert tbl.current_snapshot_id() == head


class _StaleMainReads:
    """A catalog whose reads of main's pointer stay at ``loc`` — a
    handle that read the pointer before another writer's swap."""

    def __init__(self, catalog, loc):
        self._catalog, self._loc = catalog, loc

    def load_table_metadata_location(self, ident):
        if ident == IDENT:
            return self._loc
        return self._catalog.load_table_metadata_location(ident)

    def __getattr__(self, name):
        return getattr(self._catalog, name)


def test_stale_fast_forward_loser_keeps_the_winners_doc(catalog, tmp_path):
    """Two handles fast-forward main to the audited branch; the one
    whose pointer read is stale loses, and must leave the winner's
    ``v<dst>`` doc — the doc the catalog pointer now names — in place."""
    import os

    from iceberg_catalog_migrator_spark.catalog.base import read_table_metadata

    path = str(tmp_path / "tbl")
    tbl = CatalogArbitratedTable.create(None, catalog, IDENT, path)
    s1 = tbl._commit(_arrow_files(path, 0, 10), "append", None)
    tbl.create_branch("audit")
    s2 = tbl._commit(
        tbl._load_snap(s1)["files"] + _arrow_files(path, 10, 20), "append", s1, ref="audit"
    )
    stale = catalog.load_table_metadata_location(IDENT)
    a = CatalogArbitratedTable(None, catalog, IDENT)
    b = CatalogArbitratedTable(None, _StaleMainReads(catalog, stale), IDENT)
    assert a.fast_forward("main", "audit") == s2
    with pytest.raises(CommitConflictError):
        b.fast_forward("main", "audit")
    loc = catalog.load_table_metadata_location(IDENT)
    assert os.path.isfile(loc), "the catalog pointer names a deleted doc"
    assert read_table_metadata(loc)["properties"]["snapshot-id"] == str(s2)
    assert a.current_snapshot_id() == s2
