"""Snapshot-tracked table: time travel, rollback, incremental reads,
optimistic-concurrency conflicts, and expiry that never breaks retained
history."""

import json
import os

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.sources import load_table
from iceberg_catalog_migrator_spark.sources.snapshots import (
    CommitConflictError,
    SnapshotError,
    SnapshotTable,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "tbl"))


def halves(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    return (
        orders.filter(F.col("o_orderkey") % 2 == 0),
        orders.filter(F.col("o_orderkey") % 2 == 1),
    )


def test_append_time_travel_and_incremental(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    s2 = table.append(odd)
    assert (s1, s2) == (1, 2)
    assert table.read(s1).count() == even.count()
    assert table.read(s2).count() == even.count() + odd.count()
    assert table.read().count() == table.read(s2).count()
    # incremental = exactly the second append's rows
    inc = table.read_incremental(s1, s2)
    assert inc.count() == odd.count()
    assert inc.exceptAll(odd).count() == 0
    assert odd.exceptAll(inc).count() == 0


def test_overwrite_and_rollback(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    s2 = table.overwrite(odd)
    assert table.read(s2).count() == odd.count()
    s3 = table.rollback(s1)
    assert table.read(s3).count() == even.count()
    assert table.read(s3).exceptAll(even).count() == 0
    # history keeps all three
    assert table.history_ids() == [1, 2, 3]


def test_read_as_of_timestamp(spark, table):
    even, odd = halves(spark)
    table.append(even)
    t1 = table.history()[-1]["timestamp_ms"]
    table.append(odd)
    assert table.read_as_of(t1).count() == even.count()
    with pytest.raises(SnapshotError, match="no snapshot as of"):
        table.read_as_of(t1 - 1_000_000)


def test_read_as_of_resolves_by_field_id(spark, table):
    """read_as_of reads like read: on a schema-tracked table a renamed
    column comes back under its current name."""
    from iceberg_catalog_migrator_spark.sources.snapshots import rename_column, track_schema

    table.append(spark.range(0, 10).select(F.col("id").alias("k")))
    track_schema(table)
    rename_column(table, "k", "key")
    now = table.history()[-1]["timestamp_ms"]
    assert table.read().columns == ["key"]
    got = table.read_as_of(now)
    assert got.columns == ["key"]
    assert sorted(r.key for r in got.collect()) == list(range(10))


def test_commit_conflict_detected(spark, table):
    even, odd = halves(spark)
    table.append(even)
    # simulate a concurrent committer advancing the hint
    hinted = table.current_snapshot_id()
    import shutil

    shutil.copy(table._snap_path(hinted), table._snap_path(hinted + 1))
    with open(table._hint_path(), "w") as f:
        f.write(str(hinted + 1))
    # a stale writer staged its files against parent=hinted, but the
    # table has since advanced — the pre-swap check must refuse
    files = table._write_data_files(odd)
    with pytest.raises(CommitConflictError):
        table._commit(files, "append", hinted)
    # the failed commit left the hint untouched
    assert table.current_snapshot_id() == hinted + 1


def test_expiry_keeps_retained_history(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    s2 = table.overwrite(odd)  # s1's files now unreferenced by s2+
    s3 = table.append(even)
    summary = table.expire_snapshots(keep_last=2)
    assert summary["expired_snapshots"] == 1
    assert summary["retained"] == [s2, s3]
    # retained snapshots still read fine
    assert table.read(s2).count() == odd.count()
    assert table.read(s3).count() == odd.count() + even.count()
    # the expired one fails with the retention hint
    with pytest.raises(SnapshotError, match="expired"):
        table.read(s1)
    # orphaned files actually deleted, referenced ones kept
    remaining = set(os.listdir(os.path.join(table.path, "data")))
    referenced = set()
    for s in table.history():
        referenced.update(os.path.basename(f) for f in s["files"])
    assert remaining == referenced


def test_merge_upsert_semantics(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import merge_upsert

    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    table.append(base)
    delta = spark.range(90, 110).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    merge_upsert(table, delta, ["k"])
    got = table.read()
    assert got.count() == 110  # 100 base, 10 updated in place, 10 inserted
    assert got.filter(F.col("v") == -1).count() == 20  # 90..109 all -1
    assert got.filter((F.col("k") < 90) & (F.col("v") != F.col("k") * 10)).count() == 0
    # keys unique after upsert
    assert got.select("k").distinct().count() == 110


def test_merge_is_file_granular(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import merge_upsert

    low = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    high = spark.range(10_000, 11_000).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    table.append(low)
    table.append(high)
    low_files = set(table._load_snap(1)["files"])
    delta = spark.range(10_500, 10_510).select(
        F.col("id").alias("k"), F.lit(9).alias("v")
    )
    res = merge_upsert(table, delta, ["k"])
    after = set(table._load_snap(table.current_snapshot_id())["files"])
    # every low-range file carried over BY NAME — footer pruning spared it
    assert low_files <= after
    # something high-range was rewritten, and not the whole table
    assert res["rewritten"] >= 1
    assert res["carried"] >= len(low_files)
    # correctness: updated keys read back as 9
    got = table.read()
    assert got.filter(F.col("v") == 9).count() == 10
    assert got.count() == 2000


def test_merge_into_empty_table(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import merge_upsert

    delta = spark.range(5).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    res = merge_upsert(table, delta, ["k"])
    assert res["inserted"] == 5
    assert table.read().count() == 5


def test_streaming_sink_exactly_once_across_crash(spark, tmp_path):
    """Crash after an epoch's table commit but before the checkpoint
    commit: the replayed epoch must be a no-op (manifest-recorded epoch
    id), leaving exactly one copy of every row — the same contract as
    the reference's retry-from-failure file workflow, rendered as
    snapshot commits."""
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        events_stream,
        prepare_stream_input,
        write_stream_to_snapshot_table,
    )

    inp = prepare_stream_input(spark, SF, str(tmp_path / "in"), chunks=6)
    table = SnapshotTable(spark, str(tmp_path / "tbl"))
    ckpt = str(tmp_path / "ckpt")

    crash_after = 2
    seen = []
    orig_append = table.append

    def crashy_append(df, extra=None, ref="main"):
        sid = orig_append(df, extra=extra, ref=ref)
        seen.append(sid)
        if len(seen) == crash_after:
            raise RuntimeError("injected crash AFTER table commit")
        return sid

    table.append = crashy_append
    q = write_stream_to_snapshot_table(events_stream(spark, inp), table, ckpt)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    table.append = orig_append

    # resume from the same checkpoint: the crashed epoch replays, finds
    # its epoch id already in a manifest, and skips
    q2 = write_stream_to_snapshot_table(events_stream(spark, inp), table, ckpt)
    q2.awaitTermination()

    got = table.read()
    want = spark.read.parquet(inp)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # every committed epoch id is unique in history
    epochs = [s["epoch"] for s in table.history() if "epoch" in s]
    assert len(epochs) == len(set(epochs))


def test_merge_on_read_delete_and_compaction(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        compact_deletes,
        delete_where,
        read_with_deletes,
    )

    base = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    s1 = table.append(base)
    doomed = spark.range(0, 1000, 3).select(F.col("id").alias("k"))  # every 3rd
    s2 = delete_where(table, ["k"], doomed)
    # data files untouched by the delete commit (O(keys) write)
    assert table._load_snap(s2)["files"] == table._load_snap(s1)["files"]
    got = read_with_deletes(table)
    assert got.count() == 1000 - doomed.count()
    assert got.filter(F.col("k") % 3 == 0).count() == 0
    # a second delete stacks
    delete_where(table, ["k"], spark.range(1, 1000, 3).select(F.col("id").alias("k")))
    got2 = read_with_deletes(table)
    assert got2.filter((F.col("k") % 3 == 0) | (F.col("k") % 3 == 1)).count() == 0
    survivors = got2.count()
    # compaction materializes: same rows, no delete files, plain read works
    s4 = compact_deletes(table)
    snap = table._load_snap(s4)
    assert not snap.get("deletes")
    assert table.read().count() == survivors
    assert read_with_deletes(table).count() == survivors
    # time travel still sees the pre-delete state
    assert table.read(s1).count() == 1000


def test_additive_schema_evolution(spark, table):
    v1 = spark.range(0, 10).select(F.col("id").alias("k"))
    v2 = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit("en").alias("lang")
    )
    table.append(v1)
    s2 = table.append(v2)
    got = table.read(s2)
    assert set(got.columns) == {"k", "lang"}
    assert got.count() == 20
    # pre-evolution rows surface the added column as NULL
    assert got.filter(F.col("lang").isNull()).count() == 10
    assert got.filter(F.col("lang") == "en").count() == 10


def test_manifest_scan_planning_prunes_files(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        planned_scan,
        record_file_stats,
    )

    # three range-disjoint commits -> range-disjoint files
    for lo in (0, 10_000, 20_000):
        table.append(
            spark.range(lo, lo + 1000).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
        )
    record_file_stats(table, ["k"])
    df, plan = planned_scan(table, "k", 10_100, 10_200)
    # the predicate falls entirely inside the middle commit's range
    assert plan["scanned_files"] < plan["total_files"]
    assert df.count() == 101
    assert df.agg(F.min("k"), F.max("k")).first() == (10_100, 10_200)
    # empty intersection prunes everything except conservative fallbacks
    df2, plan2 = planned_scan(table, "k", 90_000, 99_000)
    assert plan2["scanned_files"] <= plan["scanned_files"]
    assert df2.count() == 0


def test_catalog_registration_and_migration_roundtrip(spark, tmp_path):
    """The two halves meet: a snapshot table registered in a source
    catalog, its POINTER migrated with CatalogMigrator (zero data
    movement — the reference's core contract), then resolved from the
    target catalog and read, time travel included."""
    from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
    from iceberg_catalog_migrator_spark.catalog.migrator import CatalogMigrator
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        register_in_catalog,
        snapshot_table_from_catalog,
    )

    table = SnapshotTable(spark, str(tmp_path / "tbl"))
    even, odd = halves(spark)
    s1 = table.append(even)
    table.append(odd)

    src = SqlCatalog("source", str(tmp_path / "src.db"))
    tgt = SqlCatalog("target", str(tmp_path / "tgt.db"))
    try:
        src.create_namespace(("lake",))
        ident = TableIdentifier.of("lake", "orders_snap")
        register_in_catalog(table, src, ident)

        migrator = CatalogMigrator(src, tgt)
        migrator.register_tables([ident])
        res = migrator.result()
        assert [str(i) for i in res.registered_table_identifiers] == ["lake.orders_snap"]

        # resolve from the TARGET catalog: same location, same data
        resolved = snapshot_table_from_catalog(spark, tgt, ident)
        assert resolved.path == table.path
        assert resolved.read().count() == even.count() + odd.count()
        assert resolved.read(s1).count() == even.count()  # time travel survives
        # data files were not copied: exactly one data dir on disk
        assert not (tmp_path / "tgt.db.data").exists()
    finally:
        src.close()
        tgt.close()


def test_vacuum_removes_only_aged_orphans(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import vacuum_orphans

    even, odd = halves(spark)
    table.append(even)
    # a crashed writer: staged files moved into data/ but never committed
    orphans = table._write_data_files(odd)
    data_dir = os.path.join(table.path, "data")
    # young orphans survive (a concurrent writer may be mid-commit)
    res_young = vacuum_orphans(table, min_age_sec=3600)
    assert res_young["removed_files"] == []
    # age them and vacuum again
    for f in orphans:
        full = os.path.join(table.path, f)
        os.utime(full, (1, 1))
    res = vacuum_orphans(table, min_age_sec=3600)
    assert sorted(res["removed_files"]) == sorted(orphans)
    # referenced files untouched; table still reads
    assert table.read().count() == even.count()
    remaining = {os.path.join("data", n) for n in os.listdir(data_dir)}
    assert remaining == set(table._load_snap(table.current_snapshot_id())["files"])


def test_rewrite_small_files_bin_packs(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import rewrite_small_files

    # many small commits -> many small files
    for i in range(5):
        table.append(spark.range(i * 100, (i + 1) * 100).select(F.col("id").alias("k")))
    before = table._load_snap(table.current_snapshot_id())["files"]
    assert len(before) > 1
    res = rewrite_small_files(table, target_bytes=1 << 30)  # everything is "small"
    after = table._load_snap(table.current_snapshot_id())["files"]
    assert res["rewritten"] == len(before)
    assert len(after) < len(before)
    # contents identical, prior snapshot untouched
    assert table.read().count() == 500
    assert table.read(5).count() == 500
    assert table._load_snap(5)["files"] == before


def test_pending_deletes_survive_append_and_rollback(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotError,
        delete_where,
        merge_upsert,
        read_with_deletes,
    )

    table.append(spark.range(0, 100).select(F.col("id").alias("k")))
    s_del = delete_where(table, ["k"], spark.range(0, 50).select(F.col("id").alias("k")))
    # an unrelated append must NOT resurrect the deleted keys
    table.append(spark.range(100, 120).select(F.col("id").alias("k")))
    got = read_with_deletes(table)
    assert got.count() == 70  # 50 survivors + 20 new
    assert got.filter(F.col("k") < 50).count() == 0
    # rollback to the delete snapshot keeps its delete state
    s_rb = table.rollback(s_del)
    assert read_with_deletes(table, s_rb).count() == 50
    # merge over the pending deletes (same key columns): re-inserts its
    # keys, consumes their delete entries, leaves the rest hidden
    merge_upsert(table, spark.range(5).select(F.col("id").alias("k")), ["k"])
    got = read_with_deletes(table)
    assert got.count() == 55
    assert got.filter("k < 5").count() == 5          # revived by the merge
    assert got.filter("k >= 5 AND k < 50").count() == 0  # still deleted


# ------------------------------------------------------------ inheritance
# One test per _commit caller pins the rule it inherits by: starting
# from a parent that holds a group, the child holds it unless the
# caller replaces it. Two parents between them hold every group, since
# rewrites and column DDL refuse pending deletes and schema tracking
# refuses row lineage.
def _inherit_rows(spark, lo, hi, parts=1):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("v"),
            (F.col("id") % 3).cast("string").alias("p"),
        )
        .repartition(parts)
    )


@pytest.fixture(scope="module")
def inherit_parents(spark, tmp_path_factory):
    """``{"L": (path, pre-lineage id), "S": (path, pre-schema id)}``:
    L holds the partition, delete, sort, lineage and both statistics
    groups; S the partition, schema, sort and table-statistics ones."""
    from iceberg_catalog_migrator_spark.sources import snapshots as S

    root = tmp_path_factory.mktemp("inherit")
    out = {}
    for name in ("L", "S"):
        t = SnapshotTable(spark, str(root / name))
        S.append_partitioned(t, _inherit_rows(spark, 0, 400, 2), [("p", "identity")])
        t.append(_inherit_rows(spark, 400, 600, 2))
        S.rewrite_sorted(t, ["k"], n_files=2)
        S.append_partitioned(t, _inherit_rows(spark, 600, 800, 2), [("p", "identity")])
        if name == "L":
            S.record_file_stats(t, ["k"])
            S.delete_where(t, ["k"], _inherit_rows(spark, 10, 20).select("k"))
            S.delete_where_positional(t, "k >= 700 AND k < 705")
            mark = t.current_snapshot_id()
            S.enable_row_lineage(t)
            S.record_table_statistics(t, ["k"])
            S.record_partition_statistics(t)
        else:
            mark = t.current_snapshot_id()
            S.track_schema(t)
            S.record_file_stats(t, ["k"])
            S.record_table_statistics(t, ["k"])
        out[name] = (t.path, mark)
    return out


def _stream_append(spark, t, tmp_path, mark):
    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        SNAPSHOT_STREAM_NAME,
        register_snapshot_stream_source,
    )

    register_snapshot_stream_source(spark)
    src = str(tmp_path / "stream_src")
    _inherit_rows(spark, 5_000, 5_010).write.parquet(src)
    q = (
        spark.readStream.schema(_inherit_rows(spark, 0, 1).schema)
        .parquet(src)
        .writeStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", t.path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def _add_files(spark, t, tmp_path, mark):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_catalog_migrator_spark.sources.snapshots import add_files

    src = tmp_path / "adds"
    src.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([9_000], pa.int64()), "v": pa.array([1], pa.int64()), "p": ["0"]}),
        str(src / "x.parquet"),
    )
    add_files(t, [str(src)])


def _calls():
    from iceberg_catalog_migrator_spark.sources import snapshots as S

    return {
        # (parent, caller, groups the caller replaces or drops, keys it drops)
        "append": ("L", lambda spark, t, tmp, mark: t.append(_inherit_rows(spark, 1_000, 1_010)), set(), set()),
        "append_partitioned": (
            "L",
            lambda spark, t, tmp, mark: S.append_partitioned(
                t, _inherit_rows(spark, 1_000, 1_010), [("p", "identity")]
            ),
            set(),
            set(),
        ),
        "add_files": ("L", _add_files, set(), set()),
        "overwrite": ("L", lambda spark, t, tmp, mark: t.overwrite(_inherit_rows(spark, 0, 50)), {"delete"}, set()),
        "delete_where": (
            "L",
            lambda spark, t, tmp, mark: S.delete_where(t, ["k"], _inherit_rows(spark, 30, 35).select("k")),
            set(),
            set(),
        ),
        "delete_where_positional": (
            "L",
            lambda spark, t, tmp, mark: S.delete_where_positional(t, "k >= 500 AND k < 503"),
            set(),
            set(),
        ),
        # its source holds every deleted key and position, so it
        # consumes the whole delete state: none may come back from the
        # parent
        "merge_upsert": (
            "L",
            lambda spark, t, tmp, mark: S.merge_upsert(
                t, _inherit_rows(spark, 10, 20).union(_inherit_rows(spark, 700, 705)), ["k"]
            ),
            {"delete"},
            set(),
        ),
        # ... and this one keeps the vectors on the files it carries
        "merge_upsert_keeps_vectors": (
            "L",
            lambda spark, t, tmp, mark: S.merge_upsert(t, _inherit_rows(spark, 10, 20), ["k"]),
            set(),
            {"deletes", "delete_keys", "delete_seqs"},
        ),
        "merge_into": (
            "L",
            lambda spark, t, tmp, mark: S.merge_into(
                t,
                _inherit_rows(spark, 700, 712),
                ["k"],
                [S.MergeClause("update"), S.MergeClause("insert")],
            ),
            set(),
            set(),
        ),
        "compact_deletes": ("L", lambda spark, t, tmp, mark: S.compact_deletes(t), {"delete"}, set()),
        "record_file_stats": ("L", lambda spark, t, tmp, mark: S.record_file_stats(t, ["k", "v"]), set(), set()),
        "record_table_statistics": (
            "L",
            lambda spark, t, tmp, mark: S.record_table_statistics(t, ["k", "v"]),
            set(),
            set(),
        ),
        "record_partition_statistics": (
            "L",
            lambda spark, t, tmp, mark: S.record_partition_statistics(t),
            set(),
            set(),
        ),
        "rollback_pre_lineage": ("L", lambda spark, t, tmp, mark: t.rollback(mark), {"lineage"}, set()),
        "enable_row_lineage": (
            "L",
            lambda spark, t, tmp, mark: (t.rollback(mark), S.enable_row_lineage(t)),
            set(),
            set(),
        ),
        "stream_sink_append": ("L", _stream_append, set(), set()),
        "rewrite_small_files": (
            "S",
            lambda spark, t, tmp, mark: S.rewrite_small_files(t, target_bytes=1 << 30),
            set(),
            set(),
        ),
        "rewrite_sorted": ("S", lambda spark, t, tmp, mark: S.rewrite_sorted(t, ["v"], n_files=2), set(), set()),
        "add_column": ("S", lambda spark, t, tmp, mark: S.add_column(t, "z", "bigint"), set(), set()),
        "rollback_pre_schema": ("S", lambda spark, t, tmp, mark: t.rollback(mark), {"schema"}, set()),
        "track_schema": (
            "S",
            lambda spark, t, tmp, mark: (t.rollback(mark), S.track_schema(t)),
            set(),
            set(),
        ),
    }


def _held(snap):
    from iceberg_catalog_migrator_spark.sources.snapshots import _INHERITED_GROUPS

    return {g for g, keys in _INHERITED_GROUPS.items() if any(k in snap for k in keys)}


def test_inherited_groups_cover_each_key_once():
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        _INHERITED_GROUPS,
        _INHERITED_SCALAR_KEYS,
        _PER_FILE_KEYS,
    )

    keys = [k for g in _INHERITED_GROUPS.values() for k in g]
    assert sorted(keys) == sorted(_INHERITED_SCALAR_KEYS + _PER_FILE_KEYS)


@pytest.mark.parametrize("caller", sorted(_calls()))
def test_every_commit_inherits_the_groups_it_does_not_set(spark, tmp_path, inherit_parents, caller):
    import shutil

    parent, call, replaced, dropped = _calls()[caller]
    path, mark = inherit_parents[parent]
    t = SnapshotTable(spark, str(tmp_path / "t"))
    shutil.copytree(path, t.path)
    head = t.current_snapshot_id()
    want = _held(t._load_snap(head)) - replaced
    n = len(t.history_ids())
    call(spark, t, tmp_path, mark)
    assert len(t.history_ids()) > n, "no commit"
    child = t._load_snap(t.current_snapshot_id())
    assert _held(child) == want
    assert not dropped & set(child)
    # a carried file keeps its per-file entries (record_file_stats
    # re-records every file's stats)
    maps = ("file_partitions", "file_sort_ids", "file_seqs", "file_rows")
    if caller != "record_file_stats":
        maps += ("file_stats",)
    for k in maps:
        before = t._load_snap(head).get(k, {})
        kept = set(child["files"]) & set(before)
        assert {f: child[k][f] for f in kept} == {f: before[f] for f in kept}, k


def test_adopt_statistics_commit_keeps_the_adopted_deletes(spark, tmp_path):
    """adopt_iceberg_table's statistics commit follows the adopt's
    append, which carries the source's pending deletes: the table
    statistics land beside them."""
    from iceberg_catalog_migrator_spark.sources import snapshots as S
    from iceberg_catalog_migrator_spark.sources.iceberg_format import export_iceberg_metadata
    from iceberg_catalog_migrator_spark.sources.iceberg_read import adopt_iceberg_table

    src = SnapshotTable(spark, str(tmp_path / "src"))
    src.append(_inherit_rows(spark, 0, 300, 2))
    S.delete_where_positional(src, "k % 10 = 3")
    S.delete_where(src, ["k"], _inherit_rows(spark, 0, 300).filter("k % 10 = 6").select("k"))
    S.record_table_statistics(src, ["k", "v"])
    mpath = export_iceberg_metadata(src)["metadata_location"]
    t = adopt_iceberg_table(spark, mpath, str(tmp_path / "dst"))
    head = t._load_snap(t.current_snapshot_id())
    assert head["operation"] == "set-statistics"
    assert {"delete", "table_stats"} <= _held(head)
    assert S.read_with_deletes(t).count() == S.read_with_deletes(src).count()


# ------------------------------------------------------------ refs
def test_branch_commits_leave_main_untouched(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    table.create_branch("audit")
    s2 = table.append(odd, ref="audit")
    assert table.head("audit") == s2
    assert table.head() == s1
    assert table.read(ref="audit").count() == even.count() + odd.count()
    assert table.read().count() == even.count()
    # branch head listed; commit ids unique across refs
    assert table.refs()["branches"] == {"main": s1, "audit": s2}


def test_fast_forward_publish(spark, table):
    """Write-audit-publish: stage on a branch, validate, fast-forward main."""
    even, odd = halves(spark)
    s1 = table.append(even)
    table.create_branch("audit", at=s1)
    s2 = table.append(odd, ref="audit")
    staged = table.read(ref="audit")
    assert staged.filter(F.col("o_orderkey").isNull()).count() == 0  # "audit"
    assert table.fast_forward("main", "audit") == s2
    assert table.head() == s2
    assert table.read().count() == even.count() + odd.count()


def test_fast_forward_rejects_divergence(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    table.create_branch("b", at=s1)
    table.append(odd, ref="b")
    table.append(odd.limit(5))  # main diverges
    with pytest.raises(SnapshotError, match="not a fast-forward"):
        table.fast_forward("main", "b")


def test_diverged_branches_get_unique_snapshot_ids(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    table.create_branch("b", at=s1)
    s_main = table.append(odd.limit(3))
    s_b = table.append(odd.limit(7), ref="b")
    assert s_main != s_b
    assert table.read(s_main).count() == even.count() + 3
    assert table.read(s_b).count() == even.count() + 7


def test_tags_are_immutable_and_resolvable(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    table.create_tag("v1", at=s1)
    table.append(odd)
    assert table.read(ref="v1").count() == even.count()
    with pytest.raises(SnapshotError, match="immutable"):
        table.append(odd, ref="v1")
    with pytest.raises(SnapshotError, match="already exists"):
        table.create_branch("v1")
    table.drop_ref("v1")
    with pytest.raises(SnapshotError, match="no such ref"):
        table.head("v1")


def test_branch_conflict_detected_per_ref(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    table.create_branch("b", at=s1)
    # a second writer advances the branch between this writer's read
    # of the head and its commit — simulate by resetting the head
    parent = table.head("b")
    other = SnapshotTable(spark, table.path)
    other.append(odd.limit(2), ref="b")
    files = table._load_snap(parent)["files"]
    with pytest.raises(CommitConflictError):
        table._commit(files, "append", parent, ref="b")


def test_expiry_pins_ref_heads(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    table.create_tag("keep", at=s1)
    for i in range(3):
        table.append(odd.limit(i + 1))
    out = table.expire_snapshots(keep_last=1)
    assert s1 in out["retained"]
    assert table.read(ref="keep").count() == even.count()


# ------------------------------------------------------------ changelog
def test_changelog_append_and_overwrite(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    s2 = table.append(odd)
    log = table.read_changelog(s1, s2)
    assert log.filter(F.col("_change_type") == "delete").count() == 0
    ins = log.filter(F.col("_change_type") == "insert").drop("_change_type")
    assert ins.exceptAll(odd).count() == 0 and odd.exceptAll(ins).count() == 0
    # overwrite down to 10 rows that all existed before: NET semantics —
    # surviving rows cancel (not insert+delete), the rest are deletes
    s3 = table.overwrite(even.limit(10))
    log2 = table.read_changelog(s2, s3)
    assert log2.filter(F.col("_change_type") == "insert").count() == 0
    assert (
        log2.filter(F.col("_change_type") == "delete").count()
        == even.count() + odd.count() - 10
    )


def test_changelog_compaction_is_empty(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import rewrite_small_files

    even, odd = halves(spark)
    table.append(even.repartition(4))
    s2 = table.append(odd.repartition(4))
    rewrite_small_files(table, target_bytes=1 << 30)
    s3 = table.head()
    assert s3 != s2
    assert table.read_changelog(s2, s3).count() == 0


def test_changelog_sees_equality_deletes(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import delete_where

    even, odd = halves(spark)
    s1 = table.append(even)
    doomed = even.limit(7).select("o_orderkey")
    s2 = delete_where(table, ["o_orderkey"], doomed)
    log = table.read_changelog(s1, s2)
    assert log.filter(F.col("_change_type") == "insert").count() == 0
    dels = log.filter(F.col("_change_type") == "delete").select("o_orderkey")
    assert dels.count() == 7
    assert dels.exceptAll(doomed).count() == 0


def test_changelog_across_schema_evolution(spark, table):
    even, odd = halves(spark)
    s1 = table.append(even)
    s2 = table.append(odd.withColumn("note", F.lit("new")))
    log = table.read_changelog(s1, s2)
    assert set(log.columns) == {"o_orderkey", "o_totalprice", "note", "_change_type"}
    assert log.filter(F.col("_change_type") == "insert").count() == odd.count()


# ------------------------------------------------------------ partitioning
def test_hidden_partitioning_prunes_files(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        partition_pruned_scan,
    )

    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    append_partitioned(table, orders, [("o_custkey", "bucket[8]")])
    snap = table._load_snap(table.current_snapshot_id())
    assert snap["partition_spec"] == [["o_custkey", "bucket[8]"]]
    assert len(snap["files"]) == 8
    assert set(snap["file_partitions"]) == set(snap["files"])

    some_cust = orders.select("o_custkey").first()["o_custkey"]
    df, summary = partition_pruned_scan(table, {"o_custkey": some_cust})
    # a point lookup scans exactly ONE bucket file out of 8
    assert summary["scanned_files"] == 1
    assert summary["total_files"] == 8
    expected = orders.filter(F.col("o_custkey") == some_cust)
    assert df.count() == expected.count()
    assert df.exceptAll(expected).count() == 0


def test_hidden_partitioning_day_transform(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        partition_pruned_scan,
    )

    ev = load_table(spark, SF, "events").select("event_id", "ts", "user_id")
    append_partitioned(table, ev, [("ts", "day")])
    snap = table._load_snap(table.current_snapshot_id())
    n_days = ev.select(F.date_format("ts", "yyyy-MM-dd")).distinct().count()
    assert len(snap["files"]) == n_days
    # partition columns are hidden: data files carry only data columns
    assert set(table.read().columns) == {"event_id", "ts", "user_id"}

    some_ts = ev.select("ts").first()["ts"]
    df, summary = partition_pruned_scan(table, {"ts": some_ts})
    assert summary["scanned_files"] == 1
    assert df.count() == ev.filter(F.col("ts") == some_ts).count()


def test_partitioned_and_plain_commits_coexist(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        partition_pruned_scan,
    )

    even, odd = halves(spark)
    append_partitioned(table, even, [("o_orderkey", "bucket[4]")])
    table.append(odd)  # unpartitioned commit on top
    assert table.read().count() == even.count() + odd.count()
    some_key = even.select("o_orderkey").first()["o_orderkey"]
    df, summary = partition_pruned_scan(table, {"o_orderkey": some_key})
    # the unpartitioned files are conservatively scanned, the 3 other
    # buckets are pruned
    assert summary["scanned_files"] == summary["total_files"] - 3
    assert df.count() == 1


def test_changelog_diffs_refs_across_branches(spark, table):
    """Ref-to-ref diff: main vs a diverged branch — what publishing the
    branch would change, read before any merge."""
    even, odd = halves(spark)
    s1 = table.append(even)
    table.create_branch("audit", at=s1)
    table.append(odd.limit(20), ref="audit")
    table.append(odd.limit(5))  # main moves too (diverged)
    log = table.read_changelog(table.head(), table.head("audit"))
    # going main -> audit: audit's 20 rows appear, main's 5 disappear;
    # the 5 are a subset of the 20, so net = 15 inserts, 0 deletes
    assert log.filter(F.col("_change_type") == "insert").count() == 15
    assert log.filter(F.col("_change_type") == "delete").count() == 0


def test_metadata_tables(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        delete_where,
        metadata_table,
        record_file_stats,
    )

    even, odd = halves(spark)
    append_partitioned(table, even, [("o_orderkey", "bucket[4]")])
    table.append(odd)
    delete_where(table, ["o_orderkey"], odd.limit(3).select("o_orderkey"))
    record_file_stats(table, ["o_orderkey"])
    table.create_branch("dev")
    table.create_tag("v1", at=1)

    snaps = metadata_table(table, "snapshots")
    assert snaps.count() == 4
    ops = {r["snapshot_id"]: r["operation"] for r in snaps.collect()}
    assert ops[1] == "append" and ops[3] == "delete" and ops[4] == "record-stats"
    assert snaps.filter("n_delete_files > 0").count() == 2  # delete + stats commits
    # Iceberg's sequence-number column, index-served (nullable only
    # for legacy pre-sequence entries)
    seqs = {r["snapshot_id"]: r["sequence_number"] for r in snaps.collect()}
    assert seqs == {1: 1, 2: 2, 3: 3, 4: 4}
    # index-served total-records (visible rows NET of the MOR delete)
    total = {r["snapshot_id"]: r["total_records"] for r in snaps.collect()}
    n_even, n_odd = even.count(), odd.count()
    assert total[1] == n_even and total[2] == n_even + n_odd
    assert total[3] == n_even + n_odd - 3 == total[4]

    files = metadata_table(table, "files")
    assert files.count() == len(table._load_snap(4)["files"])
    # bucket files carry their partition tuple; the plain append's don't
    assert files.filter("partition_values IS NOT NULL").count() == 4
    # recorded stats surfaced as column bounds
    assert files.filter("column_bounds['o_orderkey'] IS NOT NULL").count() == files.count()
    assert files.filter("size_bytes <= 0").count() == 0

    refs = metadata_table(table, "refs")
    got = {(r["kind"], r["name"]): r["snapshot_id"] for r in refs.collect()}
    assert got == {("branch", "main"): 4, ("branch", "dev"): 4, ("tag", "v1"): 1}

    with pytest.raises(ValueError, match="unknown metadata table"):
        metadata_table(table, "wat")


def test_fast_forward_refuses_when_ancestry_expired(spark, table):
    """Expiry can break the parent chain between a stale branch and
    main; ancestry then can't be proven and fast-forward refuses with
    the expiry hint instead of crashing mid-walk."""
    even, _ = halves(spark)
    s1 = table.append(even)
    table.create_branch("stale", at=s1)
    for i in range(4):
        table.append(even.limit(2))
    table.expire_snapshots(keep_last=1)
    with pytest.raises(SnapshotError, match="not a fast-forward"):
        table.fast_forward("stale", "main")


def test_two_writer_race_exactly_one_wins(spark, table):
    """N threaded committers staged against the SAME parent on the same
    ref: the commit lock serializes the head-check/manifest/head-swap
    critical section, so exactly one wins and every loser gets
    CommitConflictError — no lost update, no orphan head."""
    import threading

    even, odd = halves(spark)
    table.append(even)
    parent = table.current_snapshot_id()
    files = table._load_snap(parent)["files"]
    staged = table._write_data_files(odd.limit(5))  # pre-staged, like a real writer
    results = []

    def commit(i):
        try:
            results.append(("ok", table._commit(files + staged, f"append-w{i}", parent)))
        except CommitConflictError:
            results.append(("conflict", None))

    threads = [threading.Thread(target=commit, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    outcomes = [r[0] for r in results]
    assert outcomes.count("ok") == 1
    assert outcomes.count("conflict") == 5
    winner = next(r[1] for r in results if r[0] == "ok")
    assert table.current_snapshot_id() == winner
    assert table._load_snap(winner)["parent"] == parent
    # exactly one new manifest landed — losers left no debris
    assert table.history_ids() == [parent, winner]


def test_concurrent_branch_commits_both_land(spark, table):
    """Two threaded writers on two DIFFERENT branches off one parent:
    no logical conflict, so both commits land, with distinct manifest
    ids (the O_EXCL create makes silent overwrite impossible) and main
    untouched."""
    import threading

    even, odd = halves(spark)
    table.append(even)
    table.create_branch("a")
    table.create_branch("b")
    errors = []

    def commit(ref):
        try:
            table.append(odd.limit(3), ref=ref)
        except Exception as e:  # pragma: no cover - failure detail
            errors.append((ref, e))

    threads = [threading.Thread(target=commit, args=(r,)) for r in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    heads = {table.head("a"), table.head("b")}
    assert len(heads) == 2 and 1 not in heads
    assert table.current_snapshot_id() == 1  # main untouched
    assert table.history_ids() == sorted({1} | heads)


def test_manifest_never_silently_overwritten(spark, table, monkeypatch):
    """A committer whose directory listing is stale (shared-FS cache:
    the flock doesn't protect cross-host) computes an already-used
    manifest id; O_CREAT|O_EXCL turns that into CommitConflictError and
    the existing manifest survives byte-for-byte."""
    import shutil

    even, _ = halves(spark)
    table.append(even)
    parent = table.current_snapshot_id()
    files = table._load_snap(parent)["files"]
    # another host already wrote snap-2 but its head swap isn't visible
    shutil.copy(table._snap_path(parent), table._snap_path(parent + 1))
    before = open(table._snap_path(parent + 1)).read()
    stale = [parent]
    monkeypatch.setattr(table, "history_ids", lambda: stale)
    with pytest.raises(CommitConflictError, match="already exists"):
        table._commit(files, "append", parent)
    assert open(table._snap_path(parent + 1)).read() == before


def test_vacuum_and_expiry_keep_live_delete_files(spark, table):
    """Equality-delete files are referenced via the manifest's
    'deletes' key, not 'files' — vacuum must never unlink them and
    expiry must pin the delete files of every retained snapshot."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        read_with_deletes,
        vacuum_orphans,
    )

    base = spark.range(0, 300).select(F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
    table.append(base)
    delete_where(table, ["k"], spark.range(0, 300, 3).select(F.col("id").alias("k")))
    snap = table._load_snap(table.current_snapshot_id())
    del_files = snap["deletes"]
    assert del_files
    # age EVERYTHING under data/ past the vacuum horizon: only true
    # orphans may go, and there are none
    for name in os.listdir(os.path.join(table.path, "data")):
        os.utime(os.path.join(table.path, "data", name), (1, 1))
    res = vacuum_orphans(table, min_age_sec=3600)
    assert res["removed_files"] == []
    for f in del_files:
        assert os.path.exists(os.path.join(table.path, f))
    assert read_with_deletes(table).count() == 200
    # expiry of the pre-delete snapshot keeps the retained delete files
    table.append(base.limit(7))  # carries the pending deletes forward
    summary = table.expire_snapshots(keep_last=2)
    assert summary["expired_snapshots"] == 1
    for f in del_files:
        assert os.path.exists(os.path.join(table.path, f))
    # all 7 appended rows are VISIBLE: the append is sequenced after
    # the delete, so the pending entries do not apply to it (Iceberg's
    # data-sequence rule — re-appending a deleted key revives it),
    # while the original deleted rows stay hidden
    got = read_with_deletes(table)
    assert got.count() == 207
    assert got.filter("k IN (0, 3, 6)").count() == 3  # re-appends only


def test_partition_values_with_special_chars(spark, table):
    """Spark percent-escapes space/':'/'%' in partition directory
    names; the recorded tuple must be the UNESCAPED value or pruned
    lookups silently miss matching files."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        partition_pruned_scan,
    )

    rows = [("a b", 1), ("x:y", 2), ("p%q", 3), ("plain", 4)]
    df = spark.createDataFrame(rows, "cat string, v int")
    table_sid = append_partitioned(table, df, [("cat", "identity")])
    snap = table._load_snap(table_sid)
    recorded = {tuple(t) for t in snap["file_partitions"].values()}
    assert recorded == {("a b",), ("x:y",), ("p%q",), ("plain",)}
    for cat, v in rows:
        got, summary = partition_pruned_scan(table, {"cat": cat})
        assert summary["scanned_files"] == 1, cat
        assert [r["v"] for r in got.collect()] == [v]


def test_wap_merge_and_delete_on_branch(spark, table):
    """The real write-audit-publish workflow stages MERGEs and DELETEs
    on the audit branch, not just appends: main's rows stay byte-stable
    until fast-forward publishes the branch."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        compact_deletes,
        delete_where,
        merge_upsert,
        read_with_deletes,
    )

    base = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    table.append(base)
    table.create_branch("audit")
    updates = spark.range(40, 60).select(F.col("id").alias("k"), F.lit("new").alias("v"))
    merge_upsert(table, updates, ["k"], ref="audit")
    delete_where(table, ["k"], spark.range(0, 10).select(F.col("id").alias("k")), ref="audit")
    # main is untouched by the staged merge AND the staged delete
    assert read_with_deletes(table).count() == 100
    assert table.read().filter("v = 'new'").count() == 0
    # the audit read sees both staged operations
    staged = read_with_deletes(table, ref="audit")
    assert staged.count() == 90
    assert staged.filter("v = 'new'").count() == 20
    # compacting the staged delete on the branch keeps main stable too
    compact_deletes(table, ref="audit")
    assert table.read().count() == 100
    # publish: main adopts the audited state without rewriting a byte
    table.fast_forward("main", "audit")
    after = read_with_deletes(table)
    assert after.count() == 90
    assert after.filter("v = 'new'").count() == 20
    assert after.filter("k < 10").count() == 0


def test_rewrite_small_files_on_branch(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import rewrite_small_files

    even, odd = halves(spark)
    table.append(even.limit(10))
    table.create_branch("maint")
    for i in range(3):
        table.append(odd.limit(5), ref="maint")
    main_head = table.current_snapshot_id()
    res = rewrite_small_files(table, target_bytes=1 << 30, ref="maint")
    assert res["rewritten"] >= 2
    assert table.current_snapshot_id() == main_head  # main untouched
    assert table.read(ref="maint").count() == 25


def test_streaming_sink_second_stream_not_dropped(spark, tmp_path):
    """Epoch ids restart at 0 per checkpoint: a SECOND streaming query
    (fresh checkpoint dir) into an already-populated table must append
    its batches, not mistake them for replays of the first stream's
    epochs — the idempotence key is (stream identity, epoch), never the
    bare epoch id."""
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        events_stream,
        prepare_stream_input,
        write_stream_to_snapshot_table,
    )

    inp = prepare_stream_input(spark, SF, str(tmp_path / "in"), chunks=3)
    table = SnapshotTable(spark, str(tmp_path / "tbl"))
    q1 = write_stream_to_snapshot_table(
        events_stream(spark, inp), table, str(tmp_path / "ckpt1")
    )
    q1.awaitTermination()
    first = table.read().count()
    assert first == spark.read.parquet(inp).count()
    # same source again under a NEW checkpoint: epochs 0..N recur, but
    # under a different stream identity — every batch must land
    q2 = write_stream_to_snapshot_table(
        events_stream(spark, inp), table, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination()
    assert table.read().count() == 2 * first
    # and a replay-with-same-checkpoint is still a no-op
    q3 = write_stream_to_snapshot_table(
        events_stream(spark, inp), table, str(tmp_path / "ckpt2")
    )
    q3.awaitTermination()
    assert table.read().count() == 2 * first


def test_field_id_rename_and_widen(spark, table):
    """Field-id schema evolution: rename keeps the id so old files
    resolve under the new name; widening casts them up; both are
    metadata-only commits (zero files rewritten)."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        track_schema,
        widen_column,
    )

    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 10).cast("int").alias("qty")
    )
    s1 = table.append(base)
    s2 = track_schema(table)
    files_before = table._load_snap(s2)["files"]
    s3 = rename_column(table, "qty", "quantity")
    s4 = widen_column(table, "quantity", "bigint")
    # metadata-only: identical file lists throughout
    assert table._load_snap(s3)["files"] == files_before
    assert table._load_snap(s4)["files"] == files_before
    got = table.read()
    assert got.columns == ["k", "quantity"]
    assert dict(got.dtypes)["quantity"] == "bigint"
    assert got.agg(F.sum("quantity")).first()[0] == sum(i % 10 for i in range(100))
    # post-evolution append under the NEW name and type unions cleanly
    more = spark.range(100, 120).select(
        F.col("id").alias("k"), F.lit(7).cast("bigint").alias("quantity")
    )
    table.append(more)
    got2 = table.read()
    assert got2.count() == 120
    assert got2.filter("k >= 100").agg(F.sum("quantity")).first()[0] == 140
    assert got2.filter("k < 100").count() == 100
    # time travel: the pre-rename snapshots still read the OLD shape
    assert table.read(s1).columns == ["k", "qty"]
    assert table.read(s2).columns == ["k", "qty"]


def test_rename_rekeys_file_stats(spark, table, tmp_path):
    """rename_column re-keys recorded file stats to the new name —
    pruning keeps working after a rename, and a REUSED name (rename
    a->a_old, then b->a) never serves the retired field's ranges,
    which would prune away files that DO match."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        planned_scan,
        record_file_stats,
        rename_column,
        track_schema,
    )

    table.append(
        spark.range(0, 100)
        .select(F.col("id").alias("a"), (F.col("id") + 1000).alias("b"))
        .coalesce(1)
    )
    table.append(
        spark.range(100, 200)
        .select(F.col("id").alias("a"), (F.col("id") + 1000).alias("b"))
        .coalesce(1)
    )
    track_schema(table)
    record_file_stats(table, ["a", "b"])
    # stats survive a plain rename: pruning on the NEW name still works
    rename_column(table, "a", "a_old")
    df, summary = planned_scan(table, "a_old", 0, 99)
    assert summary["scanned_files"] == 1 and df.count() == 100
    # name REUSE: "a" now means the 1000.. column; the old field's
    # ranges must NOT answer for it
    rename_column(table, "b", "a")
    df, summary = planned_scan(table, "a", 1050, 1149)
    assert df.count() == 100
    assert summary["scanned_files"] == 2  # both files hold matching rows
    # and a merge keyed on the reused name touches the right files
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        merge_upsert,
        read_with_deletes,
    )

    src = spark.createDataFrame([(1005, -1)], "a bigint, a_old bigint")
    merge_upsert(table, src, ["a"])
    rows = read_with_deletes(table).filter("a = 1005").collect()
    assert [(r.a, r.a_old) for r in rows] == [(1005, -1)]


def test_field_id_add_column_and_maintenance(spark, table):
    """Adding a column mints a new field id (old files read nulls);
    compaction/rewrite of a tracked table rewrites in the CURRENT
    shape and keeps resolving correctly."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        rewrite_small_files,
        track_schema,
    )

    base = spark.range(0, 50).select(F.col("id").alias("k"))
    table.append(base)
    track_schema(table)
    widened = spark.range(50, 80).select(
        F.col("id").alias("k"), F.lit("tagged").alias("note")
    )
    table.append(widened)
    rename_column(table, "note", "annotation")
    got = table.read()
    assert set(got.columns) == {"k", "annotation"}
    assert got.filter("annotation IS NULL").count() == 50
    assert got.filter("annotation = 'tagged'").count() == 30
    # bin-packing rewrites resolved rows; resolution survives
    rewrite_small_files(table, target_bytes=1 << 30)
    after = table.read()
    assert after.count() == 80
    assert after.filter("annotation = 'tagged'").count() == 30
    assert set(after.columns) == {"k", "annotation"}


def test_field_id_merge_after_rename(spark, table):
    """Copy-on-write MERGE on a renamed key column: footer pruning
    resolves the key to the WRITTEN name per file, and touched files
    are read resolved, so the upsert lands correctly."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        merge_upsert,
        rename_column,
        track_schema,
    )

    base = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit("old").alias("v")
    )
    table.append(base)
    track_schema(table)
    rename_column(table, "v", "val")
    delta = spark.range(90, 110).select(
        F.col("id").alias("k"), F.lit("new").alias("val")
    )
    merge_upsert(table, delta, ["k"])
    got = table.read()
    assert got.count() == 110
    assert got.filter("val = 'new'").count() == 20
    assert got.filter("val = 'old'").count() == 90


def test_schema_evolution_guardrails(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        rename_column,
        track_schema,
        widen_column,
    )

    base = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("v")
    )
    table.append(base)
    with pytest.raises(SnapshotError, match="track_schema first"):
        rename_column(table, "v", "w")
    track_schema(table)
    with pytest.raises(SnapshotError, match="already exists"):
        rename_column(table, "v", "k")
    with pytest.raises(SnapshotError, match="no column"):
        rename_column(table, "nope", "w")
    with pytest.raises(SnapshotError, match="lossless"):
        widen_column(table, "k", "int")  # bigint -> int narrows
    delete_where(table, ["k"], spark.range(0, 5).select(F.col("id").alias("k")))
    with pytest.raises(SnapshotError, match="compact_deletes"):
        rename_column(table, "v", "w")


def test_rollback_carries_schema_state(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        track_schema,
    )

    base = spark.range(0, 10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    table.append(base)
    s2 = track_schema(table)
    rename_column(table, "v", "w")
    assert table.read().columns == ["k", "w"]
    table.rollback(s2)
    assert table.read().columns == ["k", "v"]


def test_stream_tails_renamed_table(spark, table, tmp_path):
    """The commit tail on a schema-tracked table streams CURRENT names:
    files written before a rename are resolved by field id per batch."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        track_schema,
    )

    base = spark.range(0, 40).select(F.col("id").alias("k"), F.lit(5).alias("v"))
    table.append(base)
    track_schema(table)
    rename_column(table, "v", "value")
    table.append(
        spark.range(40, 60).select(F.col("id").alias("k"), F.lit(9).alias("value"))
    )
    register_snapshot_stream_source_local = __import__(
        "iceberg_catalog_migrator_spark.sources.snapshot_stream",
        fromlist=["register_snapshot_stream_source", "SNAPSHOT_STREAM_NAME"],
    )
    register_snapshot_stream_source_local.register_snapshot_stream_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    df = (
        spark.readStream.format(
            register_snapshot_stream_source_local.SNAPSHOT_STREAM_NAME
        )
        .option("path", table.path)
        .load()
    )
    assert df.columns == ["k", "value"]
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 60
    assert got.filter("value = 5").count() == 40
    assert got.filter("value = 9").count() == 20


def test_partition_spec_evolution(spark, table):
    """A new append_partitioned spec on a table with older-spec files:
    each file prunes under ITS OWN spec (spec-id tracking). A point
    lookup on the new spec's column prunes new-spec files by the new
    transform and conservatively scans pre-evolution files whose spec
    doesn't cover it; a lookup on a column BOTH specs cover prunes
    across the eras."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        partition_pruned_scan,
    )

    rows1 = [(i, f"cat{i % 4}", f"region{i % 3}") for i in range(40)]
    df1 = spark.createDataFrame(rows1, "k int, cat string, region string")
    s1 = append_partitioned(table, df1, [("cat", "identity")])
    # spec evolution: repartition by region AND cat
    rows2 = [(100 + i, f"cat{i % 4}", f"region{i % 3}") for i in range(40)]
    df2 = spark.createDataFrame(rows2, "k int, cat string, region string")
    s2 = append_partitioned(
        table, df2, [("region", "identity"), ("cat", "identity")]
    )
    snap = table._load_snap(s2)
    assert [s["spec_id"] for s in snap["partition_specs"]] == [0, 1]
    assert snap["current_spec_id"] == 1
    era1 = set(table._load_snap(s1)["files"])
    assert all(snap["file_spec_ids"][f] == 0 for f in era1)

    # region lookup: new-spec files prune to one region; era-1 files
    # (spec doesn't cover region) are all scanned conservatively
    got, summary = partition_pruned_scan(table, {"region": "region1"})
    n_era1 = len(era1)
    assert summary["scanned_files"] < summary["total_files"]
    scanned_new = summary["scanned_files"] - n_era1
    assert 1 <= scanned_new < len(snap["files"]) - n_era1
    assert got.count() == sum(1 for r in rows1 + rows2 if r[2] == "region1")

    # cat lookup: BOTH specs cover cat -> pruning crosses the eras
    got2, summary2 = partition_pruned_scan(table, {"cat": "cat2"})
    assert summary2["scanned_files"] < summary["total_files"] // 2 + 1
    assert got2.count() == sum(1 for r in rows1 + rows2 if r[1] == "cat2")

    # exactness survives: full results match a plain filtered read
    plain = table.read().filter("region = 'region1'")
    assert got.exceptAll(plain).count() == 0 and plain.exceptAll(got).count() == 0


def test_expire_older_than_timestamp(spark, table):
    """older_than_ms retention: snapshots at/after the cutoff stay even
    beyond keep_last; older unpinned ones expire."""
    even, odd = halves(spark)
    table.append(even.limit(3))
    table.append(even.limit(4))
    cutoff = table._load_snap(2)["timestamp_ms"]  # keep 2 and newer
    table.append(even.limit(5))
    summary = table.expire_snapshots(keep_last=1, older_than_ms=cutoff)
    assert summary["expired_snapshots"] == 1
    assert table.history_ids() == [2, 3]
    with pytest.raises(SnapshotError, match="expired"):
        table.read(1)
    assert table.read(2).count() == 7  # 3 + 4 appended rows


def test_metadata_tables_on_branch(spark, table):
    """files/partitions metadata tables describe a branch head when
    asked — auditing a staged branch's layout pre-publish."""
    from iceberg_catalog_migrator_spark.sources.snapshots import metadata_table

    even, odd = halves(spark)
    table.append(even)
    table.create_branch("audit")
    table.append(odd, ref="audit")
    main_files = metadata_table(table, "files").count()
    audit_files = metadata_table(table, "files", ref="audit").count()
    assert audit_files > main_files
    parts = metadata_table(table, "partitions", ref="audit")
    row = parts.collect()
    assert sum(r["n_rows"] for r in row) == even.count() + odd.count()
    assert sum(r["n_files"] for r in row) == audit_files


def test_append_type_conflict_refused_on_tracked_table(spark, table):
    """A cross-family type change in an append must fail loudly —
    silent tracking would turn it into silent corruption — and a
    wider-typed append that can't advance the schema is refused too."""
    from iceberg_catalog_migrator_spark.sources.snapshots import track_schema

    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("v")
    )
    table.append(base)
    track_schema(table)
    bad = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit("nope").alias("v")
    )
    with pytest.raises(SnapshotError, match="cast the writer, or widen_column"):
        table.append(bad)
    # wider type WITH all columns: schema advances, values survive
    wide = spark.range(10, 15).select(
        F.col("id").alias("k"), (F.col("id") + 2_200_000_000).alias("v")
    )
    table.append(wide)
    got = table.read()
    assert dict(got.dtypes)["v"] == "bigint"
    assert got.filter(F.col("v") > 2_000_000_000).count() == 5
    # wider type WITHOUT all columns: refused (read would down-cast)
    narrow_wide = spark.range(20, 25).select((F.col("id") + 5_000_000_000).alias("k"))
    table2 = type(table)(spark, table.path + "_2")
    small = spark.range(0, 5).select(F.col("id").cast("int").alias("k"), F.lit(1).alias("x"))
    table2.append(small)
    track_schema(table2)
    with pytest.raises(SnapshotError, match="omits current columns"):
        table2.append(narrow_wide)


def test_delete_where_refuses_mixed_key_columns(spark, table):
    from iceberg_catalog_migrator_spark.sources.snapshots import delete_where

    base = spark.range(0, 50).select(
        F.col("id").alias("a"), (F.col("id") % 5).alias("b")
    )
    table.append(base)
    delete_where(table, ["a"], spark.range(0, 10).select(F.col("id").alias("a")))
    with pytest.raises(SnapshotError, match="compact_deletes before deleting by"):
        delete_where(table, ["b"], spark.range(0, 2).select(F.col("id").alias("b")))


def test_rollback_to_pre_tracking_snapshot(spark, table):
    """Rolling back past track_schema restores the UNTRACKED state:
    read() must show the original column names, not keep resolving
    through post-rollback renames."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        track_schema,
    )

    base = spark.range(0, 10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    s1 = table.append(base)
    track_schema(table)
    rename_column(table, "v", "w")
    assert table.read().columns == ["k", "w"]
    s4 = table.rollback(s1)
    assert not table._load_snap(s4).get("schemas")
    assert table.read().columns == ["k", "v"]


def test_streaming_sink_legacy_epoch_replay_detected(spark, tmp_path):
    """Manifests written by the pre-stream_id sink (bare epoch record)
    must still be recognized by a restarted stream: the replayed epoch
    is a no-op, not a duplicate."""
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        events_stream,
        prepare_stream_input,
        write_stream_to_snapshot_table,
    )

    inp = prepare_stream_input(spark, SF, str(tmp_path / "in"), chunks=2)
    table = SnapshotTable(spark, str(tmp_path / "tbl"))
    ckpt = str(tmp_path / "ckpt")
    q = write_stream_to_snapshot_table(events_stream(spark, inp), table, ckpt)
    q.awaitTermination()
    # rewrite the manifests as the OLD sink shape: strip stream_id
    import json as _json

    for sid in table.history_ids():
        p = table._snap_path(sid)
        snap = _json.load(open(p))
        snap.pop("stream_id", None)
        _json.dump(snap, open(p, "w"))
    # a legacy table predates the commit index too: drop it so the
    # idempotence set self-heals from the (stream_id-less) manifests
    import os as _os

    _os.unlink(table._index_path())
    n = table.read().count()
    # any stream replaying epochs 0..N against legacy records treats
    # them as its own (conservative upgrade behavior) — and LOUDLY:
    # if this were actually a new stream, the skip drops its batches,
    # so the operator must see it happen
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as seen:
        _warnings.simplefilter("always")
        q2 = write_stream_to_snapshot_table(
            events_stream(spark, inp), table, str(tmp_path / "ckpt2")
        )
        q2.awaitTermination()
    assert table.read().count() == n  # replays detected via legacy records
    assert any("LEGACY" in str(w.message) for w in seen)


def test_rewrite_sorted_enables_pruned_scans(spark, table):
    """Range-clustering rewrite: before it, every file spans the whole
    value domain and stats prune nothing; after it, a range predicate
    scans a small slice of the files — with identical results, and
    prior snapshots untouched."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        planned_scan,
        record_file_stats,
        rewrite_sorted,
    )

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    s1 = table.append(orders.repartition(8))  # unclustered: 8 full-domain files
    record_file_stats(table, ["o_totalprice"])
    lo, hi = 1000.0, 5000.0
    _, before = planned_scan(table, "o_totalprice", lo, hi)
    assert before["scanned_files"] == before["total_files"]  # nothing prunes
    res = rewrite_sorted(table, ["o_totalprice"], n_files=8)
    assert res["new_files"] >= 4
    got, after = planned_scan(table, "o_totalprice", lo, hi)
    assert after["scanned_files"] < after["total_files"] // 2 + 1
    want = orders.filter(
        (F.col("o_totalprice") >= lo) & (F.col("o_totalprice") <= hi)
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # time travel: the pre-rewrite snapshot still reads its exact files
    assert table.read(s1).count() == orders.count()


def test_commit_with_retries_wins_after_conflict(spark, table):
    """The optimistic retry loop: N contending appenders all complete
    when each re-reads the head per attempt — the serialized-commit
    analogue of the catalogs' retry-around-atomic-swap."""
    import threading

    from iceberg_catalog_migrator_spark.sources.snapshots import (
        commit_with_retries,
    )

    even, odd = halves(spark)
    table.append(even.limit(1))
    staged = [table._write_data_files(odd.limit(2)) for _ in range(4)]
    errors = []

    def appender(i):
        def attempt():
            parent = table.current_snapshot_id()
            base = table._load_snap(parent)["files"]
            return table._commit(base + staged[i], f"append-r{i}", parent)

        try:
            commit_with_retries(attempt, attempts=8)
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    # all four appends landed exactly once
    assert table.read().count() == 1 + 4 * 2
    assert table.current_snapshot_id() == 5


def _process_commit_worker(args):
    """Module-level so multiprocessing can pickle it: one OS process =
    one committer with its own flock fd, staging against a fixed parent."""
    path, parent, files, tag = args
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        CommitConflictError,
        SnapshotTable,
    )

    tbl = SnapshotTable(None, path)  # metadata-only: no Spark needed
    try:
        return ("ok", tbl._commit(files, f"append-{tag}", parent))
    except CommitConflictError:
        return ("conflict", None)


def test_two_writer_race_across_processes(spark, table):
    """The commit lock is an OS-level flock, so the exactly-one-wins
    guarantee must hold for separate PROCESSES, not just threads
    sharing a JVM/interpreter — this is the same-host multi-writer
    contract the reference outsources to its catalogs."""
    import multiprocessing as mp

    even, odd = halves(spark)
    table.append(even)
    parent = table.current_snapshot_id()
    files = table._load_snap(parent)["files"]
    staged = table._write_data_files(odd.limit(3))
    jobs = [(table.path, parent, files + staged, i) for i in range(6)]
    with mp.get_context("spawn").Pool(6) as pool:
        results = pool.map(_process_commit_worker, jobs)
    outcomes = [r[0] for r in results]
    assert outcomes.count("ok") == 1
    assert outcomes.count("conflict") == 5
    winner = next(r[1] for r in results if r[0] == "ok")
    assert table.current_snapshot_id() == winner
    assert table.history_ids() == [parent, winner]


# ------------------------------------------------------------ commit index
def test_commit_index_zero_manifest_reads_when_warm(spark, table, monkeypatch):
    """The per-epoch idempotence set (and snapshot listings, as-of
    resolution, ancestry walks) must be INDEX-served: O(1) manifest
    opens regardless of commit count — at 100k commits a long-running
    stream cannot afford to re-open every snap-*.json per micro-batch."""
    even, odd = halves(spark)
    for i in range(6):
        table.append(
            (even if i % 2 == 0 else odd).limit(10),
            extra={"epoch": i, "stream_id": "s1"},
        )

    loads = {"n": 0}
    orig = SnapshotTable._load_snap

    def counting(self, sid):
        loads["n"] += 1
        return orig(self, sid)

    monkeypatch.setattr(SnapshotTable, "_load_snap", counting)
    got = table.committed_stream_epochs()
    assert got == {("s1", i) for i in range(6)}
    assert loads["n"] == 0  # index-served: zero manifest opens
    # snapshot listing and ancestry walk are index-served too
    from iceberg_catalog_migrator_spark.sources.snapshots import metadata_table

    assert metadata_table(table, "snapshots").count() == 6
    assert table.is_ancestor(1, 6) and not table.is_ancestor(6, 1)
    assert loads["n"] == 0


def test_commit_index_self_heals_from_manifests(spark, table):
    """A table whose index is missing (legacy) or torn rebuilds it from
    the manifests once, then serves index-only again."""
    even, odd = halves(spark)
    table.append(even.limit(10), extra={"epoch": 0, "stream_id": "s1"})
    table.append(odd.limit(10), extra={"epoch": 1, "stream_id": "s1"})
    os.unlink(table._index_path())
    assert table.committed_stream_epochs() == {("s1", 0), ("s1", 1)}
    # healed persistently: the file is back and complete
    assert len(table._read_index_raw()) == 2
    # torn tail line (crash mid-append) is skipped and re-healed
    with open(table._index_path(), "a") as f:
        f.write('{"snapshot_id": 99, "par')
    assert set(table.commit_index()) == {1, 2}


def test_commit_index_compacted_on_expiry(spark, table):
    even, odd = halves(spark)
    for i in range(5):
        table.append((even if i % 2 == 0 else odd).limit(5))
    table.expire_snapshots(keep_last=2)
    idx = table._read_index_raw()
    assert sorted(idx) == table.history_ids() == [4, 5]
    # expired ids are gone from the index file itself, not just filtered
    assert 1 not in idx


def test_append_under_former_column_name_refused(spark, table):
    """A stale writer still using a renamed column's OLD name must fail
    loudly: silently minting a new field id would strand its values
    under a hidden column and read the renamed column as null."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        track_schema,
    )

    even, odd = halves(spark)
    table.append(even.limit(10))
    track_schema(table)
    rename_column(table, "o_totalprice", "price")
    with pytest.raises(SnapshotError, match="FORMER name"):
        table.append(odd.limit(10))  # still carries o_totalprice
    # the CURRENT name is of course fine
    table.append(odd.limit(10).withColumnRenamed("o_totalprice", "price"))
    assert table.read().count() == 20


# ------------------------------------------------------------ positional deletes
# Deletion vectors (Iceberg v2 position deletes / v3 DVs): merge-on-read
# deletes keyed by (file, row_ordinal) instead of key values — the
# delete model of the v2 tables the reference migrates
# (`CatalogMigrator.java:212-213` registers exactly such tables).


def _dv_imports():
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        compact_deletes,
        delete_where,
        delete_where_positional,
        read_with_deletes,
    )

    return compact_deletes, delete_where, delete_where_positional, read_with_deletes


def test_positional_delete_exact_physical_rows(spark, table):
    """A positional delete removes exactly the MATCHED physical rows —
    duplicates included — which equality deletes cannot express (a key
    names every copy)."""
    _, _, delete_where_positional, read_with_deletes = _dv_imports()

    # one sorted file: rows 0,0,1,1,2,2,3..9 — k<3 fully duplicated,
    # each copy byte-identical (no column distinguishes them)
    rows = spark.createDataFrame(
        [(k,) for k in list(range(10)) + [0, 1, 2]], "k int"
    )
    table.append(rows.repartition(1).sortWithinPartitions("k"))
    assert table.read().count() == 13
    # the condition sees the (_file, _pos) identity columns too: kill
    # exactly ONE physical copy of each duplicated key (the odd
    # ordinal of each sorted pair)
    delete_where_positional(table, "k < 3 AND _pos % 2 = 1")
    got = read_with_deletes(table)
    assert got.count() == 10
    # every key still present exactly once — an equality delete on k
    # would have removed both copies
    assert got.groupBy("k").count().filter("count != 1").count() == 0


def test_positional_delete_time_travel(spark, table):
    _, _, delete_where_positional, read_with_deletes = _dv_imports()

    even, odd = halves(spark)
    s1 = table.append(even)
    s2 = delete_where_positional(table, "o_orderkey % 10 = 0")
    survivors = even.filter("o_orderkey % 10 != 0").count()
    assert read_with_deletes(table).count() == survivors
    # time travel to the pre-delete snapshot shows every row
    assert read_with_deletes(table, snapshot_id=s1).count() == even.count()
    assert table.read(s1).count() == even.count()
    assert read_with_deletes(table, snapshot_id=s2).count() == survivors


def test_equality_delete_after_positional_carries_vectors(spark, table):
    """Regression: an equality delete issued AFTER a positional delete
    must carry the pending vectors forward — dropping them would
    silently resurrect every positionally-deleted row."""
    _, delete_where, delete_where_positional, read_with_deletes = _dv_imports()

    even, _ = halves(spark)
    table.append(even)
    delete_where_positional(table, "o_orderkey % 10 = 0")
    doomed_keys = even.filter("o_orderkey % 4 = 2").select("o_orderkey")
    delete_where(table, ["o_orderkey"], doomed_keys)
    got = read_with_deletes(table)
    expect = even.filter("o_orderkey % 10 != 0 AND o_orderkey % 4 != 2")
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0 and expect.exceptAll(got).count() == 0
    # and the symmetric order too: positional after equality
    delete_where_positional(table, "o_orderkey % 6 = 4")
    expect2 = even.filter(
        "o_orderkey % 10 != 0 AND o_orderkey % 4 != 2 AND o_orderkey % 6 != 4"
    )
    assert read_with_deletes(table).count() == expect2.count()


def test_append_carries_pos_deletes(spark, table):
    _, _, delete_where_positional, read_with_deletes = _dv_imports()

    even, odd = halves(spark)
    table.append(even)
    delete_where_positional(table, "o_orderkey % 10 = 0")
    table.append(odd)
    expect = even.filter("o_orderkey % 10 != 0").count() + odd.count()
    assert read_with_deletes(table).count() == expect


def test_compact_materializes_pos_deletes_and_unblocks_rewrites(spark, table):
    compact_deletes, _, delete_where_positional, read_with_deletes = _dv_imports()
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        merge_upsert,
        rewrite_small_files,
        rewrite_sorted,
    )

    even, _ = halves(spark)
    table.append(even)
    delete_where_positional(table, "o_orderkey % 10 = 0")
    before = read_with_deletes(table)
    expect_n = before.count()
    # positions are file-bound: the blind rewrite paths refuse while
    # vectors are pending (a rewritten file invalidates its ordinals)…
    delta = even.filter("o_orderkey % 10 != 0").limit(5)  # surviving keys only
    with pytest.raises(SnapshotError, match="pending"):
        rewrite_small_files(table)
    with pytest.raises(SnapshotError, match="pending"):
        rewrite_sorted(table, "o_orderkey")
    # …but MERGE is vector-aware: it applies the vectors during the
    # touched-file read, consumes the touched files' entries, and
    # carries the rest — visible rows unchanged (5 keys replaced 1:1)
    merge_upsert(table, delta, ["o_orderkey"])
    assert read_with_deletes(table).count() == expect_n
    sid = compact_deletes(table)
    snap = table._load_snap(sid)
    assert not snap.get("pos_deletes") and not snap.get("deletes")
    assert table.read().count() == expect_n  # plain read, vectors materialized
    merge_upsert(table, delta, ["o_orderkey"])
    assert read_with_deletes(table).count() == expect_n


def test_expiry_and_vacuum_pin_pos_delete_files(spark, table):
    import os as _os

    from iceberg_catalog_migrator_spark.sources.snapshots import vacuum_orphans

    _, _, delete_where_positional, read_with_deletes = _dv_imports()

    even, odd = halves(spark)
    table.append(even)
    table.append(odd)
    sid = delete_where_positional(table, "o_orderkey % 10 = 0")
    pos_files = table._load_snap(sid)["pos_deletes"]
    assert pos_files
    survivors = read_with_deletes(table).count()
    # expire everything but the delete-carrying head: its vector files
    # are as load-bearing as its data files and must survive
    res = table.expire_snapshots(keep_last=1)
    assert res["expired_snapshots"] == 2
    for f in pos_files:
        assert _os.path.exists(_os.path.join(table.path, f))
    assert read_with_deletes(table).count() == survivors
    # vacuum must treat referenced vector files as live, not orphans
    vac = vacuum_orphans(table, min_age_sec=0.0)
    for f in pos_files:
        assert _os.path.exists(_os.path.join(table.path, f))
    assert read_with_deletes(table).count() == survivors
    assert vac["removed_files"] == []


def test_rollback_pre_and_post_pos_delete(spark, table):
    _, _, delete_where_positional, read_with_deletes = _dv_imports()

    even, _ = halves(spark)
    s1 = table.append(even)
    s2 = delete_where_positional(table, "o_orderkey % 10 = 0")
    survivors = read_with_deletes(table).count()
    s3 = table.rollback(s1)  # undo the delete
    assert read_with_deletes(table, snapshot_id=s3).count() == even.count()
    s4 = table.rollback(s2)  # re-apply it: the target's vectors come along
    assert read_with_deletes(table, snapshot_id=s4).count() == survivors


def test_connector_batch_read_applies_pos_deletes(spark, table):
    """The DSv2 batch reader filters positional vectors executor-side,
    per file — connector reads must agree with read_with_deletes."""
    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        SNAPSHOT_STREAM_NAME,
        register_snapshot_stream_source,
    )

    _, delete_where, delete_where_positional, read_with_deletes = _dv_imports()

    even, _ = halves(spark)
    table.append(even)
    delete_where_positional(table, "o_orderkey % 10 = 0")
    delete_where(
        table, ["o_orderkey"], even.filter("o_orderkey % 4 = 2").select("o_orderkey")
    )
    register_snapshot_stream_source(spark)
    got = spark.read.format(SNAPSHOT_STREAM_NAME).option("path", table.path).load()
    expect = read_with_deletes(table)
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0 and expect.exceptAll(got).count() == 0
    # apply_deletes=false surfaces the raw physical rows (maintenance view)
    raw = (
        spark.read.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("apply_deletes", "false")
        .load()
    )
    assert raw.count() == even.count()


# ------------------------------------------------------------ MERGE INTO
def _merge_imports():
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        MergeClause,
        merge_into,
    )

    return MergeClause, merge_into


def test_merge_into_full_clause_surface(spark, table):
    """WHEN MATCHED AND cond DELETE / WHEN MATCHED UPDATE SET ... /
    WHEN NOT MATCHED AND cond INSERT, first-clause-wins ordering."""
    MergeClause, merge_into = _merge_imports()

    tgt = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"), (4, 40.0, "d")],
        "k int, v double, tag string",
    )
    table.append(tgt)
    src = spark.createDataFrame(
        [
            (2, -1.0, "del"),   # matched + negative → DELETE
            (3, 33.0, "upd"),   # matched → UPDATE
            (5, 50.0, "ins"),   # unmatched + v>0 → INSERT
            (6, -6.0, "skip"),  # unmatched + v<0 → no clause → dropped
        ],
        "k int, v double, tag string",
    )
    res = merge_into(
        table,
        src,
        ["k"],
        [
            MergeClause("delete", "src_v < 0"),
            MergeClause("update", None, {"v": "src_v", "tag": "concat(tag, '+', src_tag)"}),
            MergeClause("insert", "src_v > 0", "*"),
        ],
    )
    got = {r["k"]: (r["v"], r["tag"]) for r in table.read().collect()}
    assert got == {
        1: (10.0, "a"),        # untouched (no source match)
        3: (33.0, "c+upd"),    # updated with expression over both sides
        4: (40.0, "d"),
        5: (50.0, "ins"),      # inserted
    }
    assert 2 not in got and 6 not in got
    assert res["rewritten"] >= 1


def test_merge_into_clause_order_first_wins(spark, table):
    MergeClause, merge_into = _merge_imports()

    table.append(spark.createDataFrame([(1, 10.0)], "k int, v double"))
    src = spark.createDataFrame([(1, 99.0)], "k int, v double")
    # update listed BEFORE a condition-free delete: update wins
    merge_into(
        table,
        src,
        ["k"],
        [MergeClause("update", None, "*"), MergeClause("delete")],
    )
    assert [(r["k"], r["v"]) for r in table.read().collect()] == [(1, 99.0)]


def test_merge_into_file_granular_carryover(spark, table):
    """Files whose key range cannot match the source carry over by
    name — the 100-TB property: a point merge rewrites one file."""
    MergeClause, merge_into = _merge_imports()

    lo = spark.range(0, 100).selectExpr("id as k", "double(id) as v")
    hi = spark.range(1000, 1100).selectExpr("id as k", "double(id) as v")
    table.append(lo.repartition(1))
    table.append(hi.repartition(1))
    pre_files = set(table._load_snap(table.current_snapshot_id())["files"])
    res = merge_into(
        table,
        spark.createDataFrame([(1050, -1.0)], "k bigint, v double"),
        ["k"],
        [MergeClause("update", None, "*"), MergeClause("insert")],
    )
    assert res["carried"] >= 1  # the lo file(s) never rewritten
    post_files = set(table._load_snap(table.current_snapshot_id())["files"])
    assert pre_files & post_files, "untouched files must carry by name"
    assert table.read().filter("k = 1050").first()["v"] == -1.0
    assert table.read().count() == 200


def test_merge_into_insert_only_empty_table(spark, table):
    MergeClause, merge_into = _merge_imports()

    src = spark.createDataFrame(
        [(1, 5.0, "insert"), (2, -5.0, "delete")], "k int, v double, op string"
    )
    merge_into(
        table,
        src,
        ["k"],
        [
            MergeClause("delete", "src_op = 'delete'"),
            MergeClause("insert", "src_op = 'insert'", {"k": "src_k", "v": "src_v"}),
        ],
    )
    assert [(r["k"], r["v"]) for r in table.read().collect()] == [(1, 5.0)]


def test_merge_into_refuses_duplicate_source_keys(spark, table):
    MergeClause, merge_into = _merge_imports()

    table.append(spark.createDataFrame([(1, 1.0)], "k int, v double"))
    dup = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k int, v double")
    with pytest.raises(SnapshotError, match="key-unique"):
        merge_into(table, dup, ["k"], [MergeClause("update")])


def test_merge_into_epoch_extra_rides_commit(spark, table):
    MergeClause, merge_into = _merge_imports()

    table.append(spark.createDataFrame([(1, 1.0)], "k int, v double"))
    merge_into(
        table,
        spark.createDataFrame([(1, 2.0)], "k int, v double"),
        ["k"],
        [MergeClause("update")],
        extra={"epoch": 7, "stream_id": "s"},
    )
    assert ("s", 7) in table.committed_stream_epochs()


def test_changelog_over_positional_deletes(spark, table):
    """The changelog diffs deletion vectors EXACTLY by (file, pos)
    identity — Iceberg's changelog procedure refuses DV tables."""
    _, delete_where, delete_where_positional, read_with_deletes = _dv_imports()

    even, _ = halves(spark)
    s1 = table.append(even)
    s2 = delete_where_positional(table, "o_orderkey % 10 = 0")
    hidden = even.filter("o_orderkey % 10 = 0")
    log = table.read_changelog(s1, s2)
    assert log.filter("_change_type = 'insert'").count() == 0
    dels = log.filter("_change_type = 'delete'").drop("_change_type")
    assert dels.count() == hidden.count()
    assert dels.exceptAll(hidden).count() == 0
    # reverse diff: un-hiding emits the same rows as inserts
    rev = table.read_changelog(s2, s1)
    assert rev.filter("_change_type = 'delete'").count() == 0
    assert rev.filter("_change_type = 'insert'").count() == hidden.count()


def test_changelog_pos_hidden_both_sides_nets_zero(spark, table):
    """THE case the old refusal guarded: a row pos-hidden on BOTH sides
    must not appear in the diff even when equality-delete state flips
    around it."""
    _, delete_where, delete_where_positional, read_with_deletes = _dv_imports()

    even, _ = halves(spark)
    table.append(even)
    s2 = delete_where_positional(table, "o_orderkey % 10 = 0")
    s3 = delete_where(
        table, ["o_orderkey"], even.filter("o_orderkey % 4 = 2").select("o_orderkey")
    )
    log = table.read_changelog(s2, s3)
    assert log.filter("_change_type = 'insert'").count() == 0
    dels = log.filter("_change_type = 'delete'").drop("_change_type")
    # newly equality-hidden rows EXCLUDING those the vectors already hid
    expect = even.filter("o_orderkey % 4 = 2 AND o_orderkey % 10 != 0")
    assert dels.count() == expect.count()
    assert dels.exceptAll(expect).count() == 0
    # the pos-hidden-on-both-sides rows (o_orderkey % 20 = 10 are both
    # %10==0-hidden and %4==2-keyed) never surfaced
    assert dels.filter("o_orderkey % 10 = 0").count() == 0
    # and end-to-end: diff from pre-delete state covers both flavors
    full = table.read_changelog(1, s3).filter("_change_type = 'delete'")
    expect_full = even.filter("o_orderkey % 10 = 0 OR o_orderkey % 4 = 2")
    assert full.count() == expect_full.count()


def test_changelog_compaction_of_vectors_is_empty(spark, table):
    compact_deletes, _, delete_where_positional, _ = _dv_imports()

    even, _ = halves(spark)
    table.append(even)
    s2 = delete_where_positional(table, "o_orderkey % 10 = 0")
    s3 = compact_deletes(table)
    assert table.read_changelog(s2, s3).count() == 0


# ------------------------------------------------------------ delta manifests
def _raw_manifest(tbl, sid):
    import json as _json

    with open(tbl._snap_path(sid)) as f:
        return _json.load(f)


def test_delta_manifest_append_writes_o_changed_bytes(spark, table):
    """The round's scale contract: a 1-file append to an N-file table
    writes a DELTA manifest of O(1) entries (files_added only), not a
    re-serialization of all N files — and resolves identically."""
    wide = spark.range(0, 6000).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("v")
    ).repartition(60)
    s1 = table.append(wide)
    one = spark.range(9000, 9001).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    ).coalesce(1)
    s2 = table.append(one)
    raw1, raw2 = _raw_manifest(table, s1), _raw_manifest(table, s2)
    assert "delta_base" not in raw1 and len(raw1["files"]) == 60
    assert raw2["delta_base"] == s1
    assert "files" not in raw2
    assert len(raw2["files_added"]) == 1 and raw2["files_removed"] == []
    assert os.path.getsize(table._snap_path(s2)) < os.path.getsize(
        table._snap_path(s1)
    ) / 4
    # resolution: the delta-form head reads as the full 61-file union
    snap2 = table._load_snap(s2)
    assert len(snap2["files"]) == 61
    assert table.read().count() == 6001


def test_delta_manifest_chain_rebases_at_depth(table):
    """The resolution chain is bounded: after _REBASE_DEPTH consecutive
    delta commits a FULL manifest is written (the rebase point), and
    every id along the chain still resolves correctly."""
    from iceberg_catalog_migrator_spark.sources.snapshots import _REBASE_DEPTH

    files = [f"data/seed-{i:05d}.parquet" for i in range(40)]
    sid = table._commit(files, "append", None)
    for i in range(_REBASE_DEPTH + 3):
        files = files + [f"data/extra-{i:05d}.parquet"]
        sid = table._commit(files, "append", sid)
    forms = [
        "delta_base" in _raw_manifest(table, i) for i in table.history_ids()
    ]
    assert forms[0] is False            # root is full
    assert any(forms[1:])               # deltas engaged
    assert not all(forms[1:])           # ...and a rebase full appeared
    # every snapshot resolves to its exact cumulative file list
    for n, i in enumerate(table.history_ids()):
        assert len(table._load_snap(i)["files"]) == 40 + n


def test_delta_manifest_expiry_rebases_retained(table):
    """Expiring a delta chain's base materializes the retained deltas
    to full form first — retained history stays readable after the
    base manifests are gone."""
    files = [f"data/seed-{i:05d}.parquet" for i in range(30)]
    sid = table._commit(files, "append", None)
    for i in range(5):
        files = files + [f"data/extra-{i:05d}.parquet"]
        sid = table._commit(files, "append", sid)
    ids = table.history_ids()
    assert "delta_base" in _raw_manifest(table, ids[-1])
    out = table.expire_snapshots(keep_last=2)
    assert out["expired_snapshots"] == len(ids) - 2
    kept = table.history_ids()
    assert len(kept) == 2
    # the older retained manifest was rebased to full form; both resolve
    assert "delta_base" not in _raw_manifest(table, kept[0])
    assert len(table._load_snap(kept[0])["files"]) == 34
    assert len(table._load_snap(kept[1])["files"]) == 35
    with pytest.raises(SnapshotError):
        table._load_snap(ids[0])


def test_delta_manifest_inherits_delete_state(spark, table):
    """Pending MOR delete state flows through delta commits implicitly:
    the delete commit records the keys once; a later append's delta doc
    does NOT restate them, yet the resolved snapshot carries them and
    the read path still hides the deleted rows."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        read_with_deletes,
    )

    base = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(40)
    table.append(base)
    s2 = delete_where(
        table, ["k"], spark.range(0, 4000, 10).select(F.col("id").alias("k"))
    )
    more = spark.range(8000, 8010).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    ).coalesce(1)
    s3 = table.append(more)
    raw2, raw3 = _raw_manifest(table, s2), _raw_manifest(table, s3)
    assert "delta_base" in raw2 and "deletes" in raw2  # recorded once
    assert "delta_base" in raw3 and "deletes" not in raw3  # inherited
    snap3 = table._load_snap(s3)
    assert snap3["deletes"] == table._load_snap(s2)["deletes"]
    assert read_with_deletes(table).count() == 4000 - 400 + 10


def test_delta_manifest_pure_roundtrip():
    """Encoder/resolver round-trip over synthetic snapshots, including
    cleared scalar keys and per-file-map entry tombstones."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        _apply_delta,
        _encode_manifest,
    )

    base = {
        "snapshot_id": 7,
        "parent": 6,
        "timestamp_ms": 1,
        "operation": "append",
        "files": sorted(f"data/f{i}.parquet" for i in range(50)),
        "deletes": ["data/d0.parquet"],
        "delete_keys": ["k"],
        "file_stats": {f"data/f{i}.parquet": {"k": [i, i + 1]} for i in range(50)},
    }
    child = {
        "snapshot_id": 8,
        "parent": 7,
        "timestamp_ms": 2,
        "operation": "merge",
        "epoch": 3,
        # f0 rewritten to f50; f1 keeps its stats, f2's entry dropped
        "files": sorted(
            [f"data/f{i}.parquet" for i in range(1, 50)] + ["data/f50.parquet"]
        ),
        "file_stats": {
            **{f"data/f{i}.parquet": {"k": [i, i + 1]} for i in range(1, 50) if i != 2},
            "data/f50.parquet": {"k": [0, 99]},
        },
        # equality deletes consumed by the merge: key cleared entirely
    }
    doc = _encode_manifest(child, base, 0)
    assert doc["delta_base"] == 7 and "files" not in doc
    assert doc["files_added"] == ["data/f50.parquet"]
    assert doc["files_removed"] == ["data/f0.parquet"]
    assert set(doc["cleared"]) == {"deletes", "delete_keys"}
    assert doc["pf_cleared"] == {"file_stats": ["data/f2.parquet"]}
    assert doc["file_stats"] == {"data/f50.parquet": {"k": [0, 99]}}
    assert "epoch" in doc  # per-commit keys ride verbatim
    resolved = _apply_delta(base, doc)
    assert resolved == child
    # per-commit keys are NEVER inherited: the child of the merge does
    # not pick up its epoch marker
    child2 = {
        "snapshot_id": 9,
        "parent": 8,
        "timestamp_ms": 3,
        "operation": "append",
        "files": sorted(child["files"] + ["data/f51.parquet"]),
        "file_stats": child["file_stats"],
    }
    doc2 = _encode_manifest(child2, child, 1)
    assert "epoch" not in doc2 and "epoch" not in _apply_delta(child, doc2)
    # a wholesale rewrite falls back to FULL form
    rewrite = {
        "snapshot_id": 10,
        "parent": 9,
        "timestamp_ms": 4,
        "operation": "overwrite",
        "files": [f"data/g{i}.parquet" for i in range(50)],
    }
    assert "delta_base" not in _encode_manifest(rewrite, child2, 2)


# ------------------------------------------------------------ merge planning
def test_merge_plans_from_manifest_stats_zero_footer_reads(spark, table, monkeypatch):
    """MERGE pruning is STATS-SERVED: over a fully-statted table the
    planner makes zero plan-time footer reads (at 10^6 files on an
    object store, per-file footer opens would be 10^6 sequential GETs
    per merge) — and the merge records stats for its own rewritten
    files, so the NEXT merge is also zero-read (steady state)."""
    import iceberg_catalog_migrator_spark.sources.snapshots as S

    for lo in (0, 10_000, 20_000):
        table.append(
            spark.range(lo, lo + 1000).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("v")
            )
        )
    S.record_file_stats(table, ["k"])

    reads = {"n": 0}
    orig = S._file_key_range

    def counting(path, col):
        reads["n"] += 1
        return orig(path, col)

    monkeypatch.setattr(S, "_file_key_range", counting)
    delta = spark.range(10_100, 10_110).select(
        F.col("id").alias("k"), F.lit(99).cast("long").alias("v")
    )
    res = S.merge_upsert(table, delta, ["k"])
    assert reads["n"] == 0
    assert res["carried"] > 0 and res["rewritten"] > 0
    # the merge's own commit carries + harvests stats: steady state
    delta2 = spark.range(20_100, 20_105).select(
        F.col("id").alias("k"), F.lit(77).cast("long").alias("v")
    )
    res2 = S.merge_upsert(table, delta2, ["k"])
    assert reads["n"] == 0
    assert res2["carried"] > 0
    head = table._load_snap(table.current_snapshot_id())
    assert set(head["file_stats"]) == set(head["files"])  # fully statted
    got = table.read().filter("v = 99 OR v = 77").count()
    assert got == 15
    assert table.read().count() == 3000


def test_merge_discovers_and_records_footer_stats_once(spark, table, monkeypatch):
    """Files with NO recorded stats pay exactly one plan-time footer
    read — the discovered range is recorded in the merge's commit, so
    the second merge over the same carried files reads zero footers."""
    import iceberg_catalog_migrator_spark.sources.snapshots as S

    for lo in (0, 10_000, 20_000):
        table.append(
            spark.range(lo, lo + 1000).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("v")
            ).coalesce(1)
        )
    reads = {"n": 0}
    orig = S._file_key_range

    def counting(path, col):
        reads["n"] += 1
        return orig(path, col)

    monkeypatch.setattr(S, "_file_key_range", counting)
    delta = spark.range(10_100, 10_110).select(
        F.col("id").alias("k"), F.lit(99).cast("long").alias("v")
    )
    S.merge_upsert(table, delta, ["k"])
    first = reads["n"]
    assert first == 3  # one per unstatted file
    S.merge_upsert(
        table,
        spark.range(10_200, 10_205).select(
            F.col("id").alias("k"), F.lit(88).cast("long").alias("v")
        ),
        ["k"],
    )
    assert reads["n"] == first  # carried files' ranges were recorded


@pytest.mark.parametrize("key_type", ["long", "int"])
def test_merge_prunes_on_partition_buckets(spark, table, key_type):
    """A bucket[N]-partitioned table's merge touches only the matching
    bucket's files: recorded partition tuples prune where range stats
    cannot (every bucket spans the whole key domain). bucket's hash is
    type-sensitive, so an ``int`` source key must render at the
    table's ``bigint`` type or the matched row's file is carried and
    the row duplicates."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        merge_upsert,
    )

    rows = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    append_partitioned(table, rows, [("k", "bucket[8]")])
    n_files = len(table._load_snap(table.current_snapshot_id())["files"])
    assert n_files >= 8
    delta = spark.createDataFrame([(42, 999)], f"k {key_type}, v long")
    res = merge_upsert(table, delta, ["k"])
    # only the files of k=42's bucket are rewritten; the other 7
    # buckets carry over untouched
    assert res["rewritten"] < n_files / 4
    assert res["carried"] >= n_files - res["rewritten"]
    assert [r["v"] for r in table.read().filter("k = 42").collect()] == [999]
    assert table.read().count() == 4000


@pytest.mark.parametrize("tracked", [False, True])
def test_merge_writes_a_narrower_source_at_the_table_types(spark, table, tracked):
    """A source that touches no file is written as a new file; typed
    narrower than the table (int into bigint), that file must still be
    bigint, or an untracked table cannot read its files back. The
    append spreads 10 rows over 16 partitions: the empty ones must
    leave no zero-row file for the merge to count as touched."""
    from iceberg_catalog_migrator_spark.sources.snapshots import merge_upsert, track_schema

    table.append(spark.range(0, 10, 1, 16).select(F.col("id").alias("k"), F.lit(1).alias("v")))
    if tracked:
        track_schema(table)
    delta = spark.createDataFrame([(100, 7)], "k int, v int")
    res = merge_upsert(table, delta, ["k"])
    assert res["rewritten"] == 0
    got = table.read()
    assert [f.dataType.simpleString() for f in got.schema.fields] == ["bigint", "int"]
    assert sorted(tuple(r) for r in got.collect()) == [(k, 1) for k in range(10)] + [(100, 7)]


@pytest.mark.parametrize("tracked", [False, True])
def test_merge_into_touching_no_file_writes_every_table_column(spark, table, tracked):
    """Inserts that touch no file write every table column at its type:
    a literal assignment (an int) lands bigint and a column no clause
    assigns lands NULL."""
    from iceberg_catalog_migrator_spark.sources.snapshots import track_schema

    MergeClause, merge_into = _merge_imports()
    rows = [(1, 10, "a"), (2, 20, "b")]
    table.append(spark.createDataFrame(rows, "k bigint, v bigint, w string").coalesce(1))
    if tracked:
        track_schema(table)
    src = spark.createDataFrame([(100, 7)], "k int, v int")
    res = merge_into(table, src, ["k"], [MergeClause("insert", None, {"k": "src_k", "v": "0"})])
    assert res["rewritten"] == 0
    got = table.read()
    assert [f.dataType.simpleString() for f in got.schema.fields] == ["bigint", "bigint", "string"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, 10, "a"), (2, 20, "b"), (100, 0, None)]


def test_merge_empty_source_is_noop(spark, table):
    """An empty source fires no clause: head unchanged, no commit — an
    empty CDC micro-batch used to rewrite the WHOLE table (bounds.lo
    None marked every file touched) and spend a spurious snapshot."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        MergeClause,
        merge_into,
        merge_upsert,
    )

    even, _ = halves(spark)
    table.append(even)
    head = table.current_snapshot_id()
    empty = even.limit(0)
    res = merge_upsert(table, empty, ["o_orderkey"])
    assert res["rewritten"] == 0 and res["new_files"] == 0
    assert table.current_snapshot_id() == head
    res2 = merge_into(
        table, empty, ["o_orderkey"], [MergeClause("update"), MergeClause("insert")]
    )
    assert res2["rewritten"] == 0 and res2["new_files"] == 0
    assert table.current_snapshot_id() == head
    # an all-NULL-keyed source matches nothing: inserts only, no rewrite
    nulls = spark.createDataFrame(
        [(None, 1.0)], "o_orderkey bigint, o_totalprice double"
    )
    res3 = merge_upsert(table, nulls, ["o_orderkey"])
    assert res3["rewritten"] == 0
    assert table.current_snapshot_id() == head + 1
    assert table.read().count() == even.count() + 1


# ------------------------------------------------------ merge over MOR deletes
def test_merge_upsert_over_pending_equality_deletes(spark, table):
    """merge_upsert no longer demands compact_deletes: pending equality
    deletes (same key columns) are applied during the touched-file
    read, consumed entries are dropped in the same commit, and the
    rewrite stays delta-sized (untouched files carry over)."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        merge_upsert,
        read_with_deletes,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import delete_where

    for lo in (0, 10_000, 20_000):
        table.append(
            spark.range(lo, lo + 1000).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("v")
            ).coalesce(1)
        )
    # pending MOR deletes: 10_100..10_119 and 20_100..20_119
    doomed = spark.createDataFrame(
        [(k,) for k in list(range(10_100, 10_120)) + list(range(20_100, 20_120))],
        "k long",
    )
    delete_where(table, ["k"], doomed)
    # merge: re-insert two deleted keys, update a live key — all inside
    # the MIDDLE file's key range, so the other two files carry over
    # (with their own pending deletes intact)
    delta = spark.createDataFrame(
        [(10_100, 111), (10_105, 111), (10_200, 111)],
        "k long, v long",
    )
    res = merge_upsert(table, delta, ["k"])
    assert res["carried"] == 2  # files outside the delta range carried
    head = table._load_snap(table.current_snapshot_id())
    got = read_with_deletes(table)
    # re-inserted keys visible with the new value
    assert got.filter("v = 111").count() == 3
    # un-touched pending deletes still hide their rows
    assert got.filter("k = 10110").count() == 0
    assert got.filter("k = 20110").count() == 0
    # 3000 - 40 deleted + 2 re-inserted
    assert got.count() == 3000 - 40 + 2
    # consumed entries dropped: surviving delete files hold 38 keys
    assert head.get("deletes")
    surviving = table._read_files(head["deletes"]).distinct()
    assert surviving.count() == 38
    assert surviving.filter("k in (10100, 10105)").count() == 0


def test_merge_into_over_pending_vectors(spark, table):
    """Positional vectors: entries naming touched files are consumed by
    the rewrite; entries naming carried files are rewritten into a
    fresh vector file and keep hiding their rows."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        MergeClause,
        delete_where_positional,
        merge_into,
        read_with_deletes,
    )

    for lo in (0, 10_000, 20_000):
        table.append(
            spark.range(lo, lo + 1000).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("v")
            ).coalesce(1)
        )
    delete_where_positional(table, "k % 10 = 5")  # 300 rows across all files
    # a vector-hidden key is NOT MATCHED: the insert clause revives it;
    # both source keys sit in the MIDDLE file's range (others carried)
    src = spark.createDataFrame([(10_005, 7), (10_006, 7)], "k long, v long")
    res = merge_into(
        table,
        src,
        ["k"],
        [MergeClause("update"), MergeClause("insert")],
    )
    assert res["carried"] == 2
    head = table._load_snap(table.current_snapshot_id())
    assert head.get("pos_deletes")  # carried files' vectors survive
    vec = table._read_files(head["pos_deletes"])
    carried_set = set(head["files"])
    assert vec.count() == 200  # the two carried files' 100 each
    assert all(r["_file"] in carried_set for r in vec.select("_file").distinct().collect())
    got = read_with_deletes(table)
    assert got.filter("v = 7").count() == 2
    assert got.filter("k = 10005").first()["v"] == 7  # revived
    assert got.filter("k = 5").count() == 0  # carried vector still hides
    assert got.count() == 3000 - 300 + 1  # +revived 10_005


def test_merge_over_differently_keyed_deletes(spark, table):
    """Equality deletes keyed by DIFFERENT columns than the merge join
    compose via sequence numbers: the delete entries carry verbatim
    (still hiding carried-file rows), while the merge's output files
    are sequenced past them — an upserted row survives even when its
    values match a pending delete key."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        merge_upsert,
        read_with_deletes,
    )

    table.append(
        spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("v")
        )
    )
    # delete by VALUE column: hides the ~33 rows with v=1
    delete_where(table, ["v"], spark.createDataFrame([(1,)], "v long"))
    n_hidden = 100 - read_with_deletes(table).count()
    assert n_hidden > 0
    # merge on the KEY column; the upserted row's v=1 matches the
    # pending delete key but its file is sequenced after the delete
    res = merge_upsert(
        table, spark.createDataFrame([(5, 1)], "k long, v long"), ["k"]
    )
    assert res["new_files"] >= 1
    got = read_with_deletes(table)
    # k=5 had v=2 (visible) -> replaced, now visible with v=1;
    # all previously hidden v=1 rows stay hidden
    assert got.filter("k = 5").first()["v"] == 1
    assert got.count() == 100 - n_hidden
    head = table._load_snap(table.current_snapshot_id())
    assert head.get("deletes")  # carried verbatim, still applying


# ------------------------------------------------------------ row lineage
def test_row_lineage_stable_across_merge_update(spark, table):
    """Iceberg v3's row-id model: ids derive from per-file
    first_row_id + ordinal (no stored column for appends); a MERGE
    UPDATE keeps each updated row's id, inserts allocate fresh counter
    ids, and the rewrite materializes ids physically."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        MergeClause,
        enable_row_lineage,
        merge_into,
        read_with_lineage,
    )

    table.append(
        spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("v")
        )
    )
    enable_row_lineage(table)
    before = {
        r["k"]: r["_row_id"] for r in read_with_lineage(table).collect()
    }
    assert len(set(before.values())) == 1000  # unique ids
    src = spark.createDataFrame(
        [(5, 99), (700, 99), (2000, 99)], "k long, v long"
    )
    merge_into(table, src, ["k"], [MergeClause("update"), MergeClause("insert")])
    after = {r["k"]: (r["_row_id"], r["v"]) for r in read_with_lineage(table).collect()}
    assert len(after) == 1001
    # updated rows KEEP their ids
    assert after[5] == (before[5], 99)
    assert after[700] == (before[700], 99)
    # untouched rows keep theirs too (the whole mapping is stable)
    assert all(after[k][0] == rid for k, rid in before.items() if k not in (5, 700))
    # the insert got a fresh id beyond every pre-merge id
    assert after[2000][0] >= max(before.values()) + 1
    # plain read() hides the materialized column
    assert "_row_id" not in table.read().columns
    head = table._load_snap(table.current_snapshot_id())
    assert head.get("lineage_files")  # merge output is materialized


def test_row_lineage_survives_append_and_compaction(spark, table):
    """Appended files derive ids with NO stored column (metadata-only:
    first_row_id + ordinal); compaction and sort rewrites materialize
    the ids so they survive file churn; merge_upsert keeps updated
    rows' ids."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        compact_deletes,
        delete_where,
        enable_row_lineage,
        merge_upsert,
        read_with_lineage,
        rewrite_sorted,
    )

    table.append(
        spark.range(0, 500).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
    )
    enable_row_lineage(table)
    table.append(
        spark.range(500, 600).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
    )
    head = table._load_snap(table.current_snapshot_id())
    # the append stored NO physical ids — ranges only
    assert not head.get("lineage_files")
    assert set(head["file_first_row_ids"]) == set(head["files"])
    base = {r["k"]: r["_row_id"] for r in read_with_lineage(table).collect()}
    assert len(set(base.values())) == 600
    # MOR delete then compaction: survivors keep their ids
    delete_where(table, ["k"], spark.range(0, 50).select(F.col("id").alias("k")))
    compact_deletes(table)
    after_compact = {r["k"]: r["_row_id"] for r in read_with_lineage(table).collect()}
    assert len(after_compact) == 550
    assert all(after_compact[k] == base[k] for k in after_compact)
    # sort rewrite: same rows, same ids, clustered layout
    rewrite_sorted(table, ["k"])
    after_sort = {r["k"]: r["_row_id"] for r in read_with_lineage(table).collect()}
    assert after_sort == after_compact
    # merge_upsert: update keeps id, insert mints a fresh one
    merge_upsert(
        table,
        spark.createDataFrame([(100, 77), (900, 77)], "k long, v long"),
        ["k"],
    )
    final = {r["k"]: r["_row_id"] for r in read_with_lineage(table).collect()}
    assert final[100] == base[100]
    assert final[900] > max(base.values())
    # changelog between pre- and post-rewrite snapshots stays
    # content-level: the materializing rewrites diff to EMPTY
    ids = table.history_ids()
    compact_sid = next(
        i for i in ids if table._load_snap(i)["operation"] == "compact-deletes"
    )
    sort_sid = next(
        i for i in ids if table._load_snap(i)["operation"] == "rewrite-sorted"
    )
    assert table.read_changelog(compact_sid, sort_sid).count() == 0


def test_expiry_resolves_delta_chains_cold(spark, table):
    """Expiring a delta whose base is ALSO expiring must work in a cold
    process: every expiring manifest is resolved before any unlink (the
    in-process memo previously masked the ascending-unlink chain
    break)."""
    import iceberg_catalog_migrator_spark.sources.snapshots as S

    files = [f"data/seed-{i:05d}.parquet" for i in range(30)]
    sid = table._commit(files, "append", None)
    for i in range(6):
        files = files + [f"data/extra-{i:05d}.parquet"]
        sid = table._commit(files, "append", sid)
    # cold cache: what a fresh process sees
    S._MANIFEST_CACHE.clear()
    S._DEPTH_CACHE.clear()
    out = table.expire_snapshots(keep_last=1)
    assert out["expired_snapshots"] == 6
    assert len(table._load_snap(table.history_ids()[0])["files"]) == 36


def test_lineage_merge_upsert_duplicate_keyed_target(spark, table):
    """Duplicate-keyed TARGET rows collapse to ONE delta row under
    lineage exactly as without it — the matched-id mapping is made
    key-unique before the join."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        enable_row_lineage,
        merge_upsert,
        read_with_lineage,
    )

    table.append(
        spark.createDataFrame([(1, 10), (1, 11), (2, 20)], "k long, v long")
    )
    enable_row_lineage(table)
    merge_upsert(
        table, spark.createDataFrame([(1, 99)], "k long, v long"), ["k"]
    )
    rows = read_with_lineage(table).collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [(1, 99), (2, 20)]
    assert len({r["_row_id"] for r in rows}) == 2


def test_lineage_merge_advances_counter_without_footer_stats(spark, table, monkeypatch):
    """The id counter advances past every written _row_id even when the
    written files' footers carry no statistics."""
    from iceberg_catalog_migrator_spark.sources import snapshots

    table.append(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    snapshots.enable_row_lineage(table)
    monkeypatch.setattr(snapshots, "_footer_key_range", lambda path, col: None)
    delta = spark.createDataFrame([(2, 21), (3, 30), (4, 40)], "k long, v long")
    snapshots.merge_upsert(table, delta, ["k"])
    snap = table._load_snap(table.current_snapshot_id())
    ids = sorted(r["_row_id"] for r in snapshots.read_with_lineage(table).collect())
    assert ids == [0, 1, 2, 3]
    assert snap["next_row_id"] == 4


def test_rollback_restores_lineage_state(spark, table):
    """Rollback to a lineage snapshot restores the TARGET's id
    derivation (no silent re-minting after an intervening rewrite);
    rollback to a PRE-lineage snapshot restores the untracked state.
    The counter stays monotonic across both."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        enable_row_lineage,
        merge_upsert,
        read_with_lineage,
    )

    s_pre = table.append(
        spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
    )
    s_lin = enable_row_lineage(table)
    ids_before = {r["k"]: r["_row_id"] for r in read_with_lineage(table).collect()}
    # a full rewrite drops the original files from the head's maps
    merge_upsert(
        table,
        spark.range(0, 100).select(F.col("id").alias("k"), F.lit(7).cast("long").alias("v")),
        ["k"],
    )
    head_next = table._load_snap(table.current_snapshot_id())["next_row_id"]
    table.rollback(s_lin)
    ids_after = {r["k"]: r["_row_id"] for r in read_with_lineage(table).collect()}
    assert ids_after == ids_before  # restored, not re-minted
    head = table._load_snap(table.current_snapshot_id())
    assert head["next_row_id"] >= head_next  # counter monotonic
    # rollback to the pre-lineage snapshot: untracked state restored
    table.rollback(s_pre)
    assert not table._load_snap(table.current_snapshot_id()).get("row_lineage")
    assert table.read().count() == 100


def test_changelog_with_lineage_update_images(spark, table):
    """read_changelog(with_lineage=True): an UPDATE emits its
    delete+insert pair sharing ONE stable _row_id (Iceberg's changelog
    pre/post update images); inserts mint fresh ids; carried-identical
    rewritten rows and materializing maintenance still cancel."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        compact_deletes,
        delete_where,
        enable_row_lineage,
        merge_upsert,
    )

    table.append(
        spark.range(0, 400).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
    )
    s1 = enable_row_lineage(table)
    merge_upsert(
        table,
        spark.createDataFrame([(7, 99), (900, 99)], "k long, v long"),
        ["k"],
    )
    s2 = table.current_snapshot_id()
    log = table.read_changelog(s1, s2, with_lineage=True)
    assert "_row_id" in log.columns
    rows = log.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    # the update: delete(old) + insert(new) SHARING one _row_id
    pair = sorted(by_key[7], key=lambda r: r["_change_type"])
    assert [r["_change_type"] for r in pair] == ["delete", "insert"]
    assert pair[0]["_row_id"] == pair[1]["_row_id"]
    assert (pair[0]["v"], pair[1]["v"]) == (1, 99)
    # the insert: one fresh id past the pre-merge counter
    ins = by_key[900]
    assert len(ins) == 1 and ins[0]["_change_type"] == "insert"
    assert ins[0]["_row_id"] >= 400
    # carried-identical rewritten rows cancelled: only the 2 keys emit
    assert set(by_key) == {7, 900}
    # maintenance with lineage still nets to empty
    delete_where(table, ["k"], spark.createDataFrame([(1,)], "k long"))
    s3 = table.current_snapshot_id()
    compact_deletes(table)
    s4 = table.current_snapshot_id()
    assert table.read_changelog(s3, s4, with_lineage=True).count() == 0
    # and the delete itself carries the doomed row's id
    d = table.read_changelog(s2, s3, with_lineage=True).collect()
    assert len(d) == 1 and d[0]["_change_type"] == "delete" and d[0]["k"] == 1


def test_metadata_count_and_manifests_table(spark, table, monkeypatch):
    """COUNT(*) from metadata alone: per-file row counts recorded at
    commit time sum driver-side with ZERO footer reads on a recorded
    table; positional vectors subtract exactly (stacked duplicates
    once); pending equality deletes refuse. The manifests metadata
    table exposes the delta encoding per retained manifest."""
    import pyarrow.parquet as pq

    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        delete_where_positional,
        metadata_count,
        metadata_table,
    )

    table.append(
        spark.range(0, 3000).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v")).repartition(20)
    )
    table.append(
        spark.range(3000, 3100).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v")).coalesce(1)
    )
    # zero footer opens once recorded: count against a broken ParquetFile
    real = pq.ParquetFile

    def boom(*a, **k):
        raise AssertionError("metadata_count opened a footer on a recorded table")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    assert metadata_count(table) == 3100
    monkeypatch.setattr(pq, "ParquetFile", real)
    # stacked vectors subtract ONCE per coordinate (the second vector
    # records only still-visible coordinates, so its footer count IS
    # the delta)
    delete_where_positional(table, "k % 10 = 0")          # 310 rows
    delete_where_positional(table, "k % 10 = 0 OR k = 1") # nets to +1
    assert metadata_count(table) == 3100 - 310 - 1
    # equality deletes now count O(1) too: the delete commit measured
    # its newly-hidden rows (stats-pruned) into the visible summary
    delete_where(table, ["k"], spark.createDataFrame([(2,)], "k long"))
    assert metadata_count(table) == 3100 - 310 - 1 - 1
    # ... and again with the count still metadata-only (no footer opens)
    monkeypatch.setattr(pq, "ParquetFile", boom)
    assert metadata_count(table) == 3100 - 312
    monkeypatch.setattr(pq, "ParquetFile", real)
    # time travel still counts the pre-delete snapshot
    assert metadata_count(table, snapshot_id=2) == 3100
    # a LEGACY snapshot (no maintained summary) still refuses honestly
    legacy = {
        k: v
        for k, v in table._load_snap(table.current_snapshot_id()).items()
        if k != "visible_rows"
    }
    monkeypatch.setattr(table, "_load_snap", lambda sid: legacy)
    with pytest.raises(SnapshotError, match="equality deletes"):
        metadata_count(table)
    monkeypatch.undo()
    # manifests metadata table: the 1-file append rode a DELTA doc
    m = {r["snapshot_id"]: r for r in metadata_table(table, "manifests").collect()}
    assert m[1]["form"] == "full" and m[1]["n_files_full"] == 20
    assert m[2]["form"] == "delta" and m[2]["n_files_added"] == 1
    assert m[2]["delta_base"] == 1 and m[2]["size_bytes"] < m[1]["size_bytes"]


def test_delta_manifest_weight_rebase(table):
    """Churn-heavy tables rebase on ACCUMULATED weight, long before the
    depth cap: once the chain's total churn reaches the file count, the
    full rewrite has amortized to O(1) per changed entry."""
    files = [f"data/seed-{i:05d}.parquet" for i in range(30)]
    sid = table._commit(files, "append", None)
    forms = []
    for i in range(12):
        # swap two files per commit: weight ~4, delta-worthy each time
        files = files[2:] + [f"data/swap-{i}-a.parquet", f"data/swap-{i}-b.parquet"]
        sid = table._commit(sorted(files), "merge", sid)
        forms.append("delta_base" in _raw_manifest(table, sid))
    assert any(forms)          # deltas engaged
    assert not all(forms)      # ...and a weight-triggered rebase appeared
    # the rebase fired well before the 256-commit depth cap
    assert forms.index(False) < 12
    assert len(table._load_snap(sid)["files"]) == 30


# ------------------------------------------------------------ sequence numbers
def test_sequence_numbers_revive_reappended_keys(spark, table, tmp_path):
    """Iceberg's data-sequence rule end to end: an equality delete
    applies only to files sequenced before it, so re-appending a
    deleted key revives it — consistently across read_with_deletes,
    the batch changelog, the connector read, and compaction."""
    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        SNAPSHOT_STREAM_NAME,
        register_snapshot_stream_source,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        compact_deletes,
        delete_where,
        read_with_deletes,
    )

    s1 = table.append(
        spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
    )
    s2 = delete_where(
        table, ["k"], spark.range(0, 100, 10).select(F.col("id").alias("k"))
    )
    s3 = table.append(
        spark.range(0, 30, 10).select(F.col("id").alias("k"), F.lit(77).cast("long").alias("v"))
    )
    got = read_with_deletes(table)
    assert got.count() == 100 - 10 + 3
    assert sorted(r["k"] for r in got.filter("v = 77").collect()) == [0, 10, 20]
    assert got.filter("k = 30").count() == 0  # not re-appended: still hidden
    # the batch changelog agrees: the appended rows are inserts
    log = table.read_changelog(s2, s3)
    assert log.filter("_change_type = 'insert'").count() == 3
    # the connector read agrees
    register_snapshot_stream_source(spark)
    conn = spark.read.format(SNAPSHOT_STREAM_NAME).option("path", table.path).load()
    assert conn.count() == 93
    assert conn.filter("v = 77").count() == 3
    # compaction materializes the same visible set
    compact_deletes(table)
    assert table.read().count() == 93
    assert table.read().filter("v = 77").count() == 3


def test_sequence_numbers_merge_after_delete_after_append(spark, table):
    """Stacked deletes spanning an append keep PER-FILE scoping through
    a merge's hygiene rewrite: the younger delete still hides rows of
    the older append, the older delete never touches the newer one."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        merge_upsert,
        read_with_deletes,
    )

    table.append(  # seq 1
        spark.range(0, 50).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("v"))
    )
    delete_where(  # seq 2: hides k<5 of the first append
        table, ["k"], spark.range(0, 5).select(F.col("id").alias("k"))
    )
    table.append(  # seq 3: k 100..149 (plus re-appended k=0 revives)
        spark.range(100, 150).select(F.col("id").alias("k"), F.lit(3).cast("long").alias("v"))
    )
    delete_where(  # seq 4: hides k=100..104 of the SECOND append too
        table, ["k"], spark.range(100, 105).select(F.col("id").alias("k"))
    )
    assert read_with_deletes(table).count() == 50 - 5 + 50 - 5
    # a merge whose source consumes ONE key from each delete vintage:
    # hygiene rewrites each delete file separately, keeping its seq
    merge_upsert(
        table,
        spark.createDataFrame([(0, 9), (100, 9)], "k long, v long"),
        ["k"],
    )
    got = read_with_deletes(table)
    assert got.count() == 90 + 2
    assert got.filter("v = 9").count() == 2      # both revived
    assert got.filter("k = 1").count() == 0      # older delete still applies
    assert got.filter("k = 101").count() == 0    # younger delete still applies
    head = table._load_snap(table.current_snapshot_id())
    # surviving delete files keep their OWN sequence stamps
    dseqs = head.get("delete_seqs", {})
    assert sorted(set(dseqs.values())) == [2, 4]


def test_merge_adopts_legacy_unstamped_deletes(spark, table):
    """A table written before sequence stamping carries equality
    deletes with no delete_seqs entries — the legacy rule reads them as
    +infinity ("applies to everything"). A merge over such a table must
    not let the legacy delete hide the merge's OWN output: the carry
    ADOPTS unstamped differently-keyed entries at the merge commit's
    sequence, so they keep hiding every pre-merge file while the
    merge's output escapes."""
    import json

    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        load_manifest,
        merge_upsert,
        read_with_deletes,
    )

    table.append(
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("v")
        )
    )
    delete_where(  # keyed ["v"]: hides the 5 odd-k rows
        table, ["v"], spark.createDataFrame([(1,)], "v long")
    )
    assert read_with_deletes(table).count() == 5
    # simulate a legacy (pre-sequence) manifest: strip every sequence
    # stamp from the resolved head and write it back full-form
    head = table.current_snapshot_id()
    legacy = load_manifest(table.path, head)
    for key in ("delete_seqs", "file_seqs", "sequence_number"):
        legacy.pop(key, None)
    with open(table._snap_path(head), "w") as f:
        json.dump(legacy, f)
    assert read_with_deletes(table).count() == 5  # legacy rule: still hidden
    # merge keyed ["k"] (differently keyed than the pending delete);
    # the upserted row has v=1 — exactly the legacy delete's key value
    merge_upsert(
        table, spark.createDataFrame([(5, 1)], "k long, v long"), ["k"]
    )
    got = read_with_deletes(table)
    # the merge's output row survives the adopted delete...
    assert got.filter("k = 5 and v = 1").count() == 1
    # ...while the legacy delete keeps hiding every pre-merge v=1 row
    assert sorted(r["k"] for r in got.collect()) == [0, 2, 4, 5, 6, 8]
    # the adopted entry is now stamped (no +infinity left behind)
    new_head = table._load_snap(table.current_snapshot_id())
    dels = new_head.get("deletes", [])
    dseqs = new_head.get("delete_seqs", {})
    assert dels and all(d in dseqs for d in dels)


def test_rewrite_manifests_checkpoints_head_to_full_form(spark, table):
    """Iceberg's rewrite_manifests adapted to the delta-chain encoding:
    the head manifest rebases in place to full form — resolution is
    depth-0 afterwards, content (including pending MOR delete state)
    is identical, and the next commit's delta restarts the chain."""
    import json

    from iceberg_catalog_migrator_spark.sources.snapshots import (
        _manifest_depth,
        delete_where,
        load_manifest,
        read_with_deletes,
        rewrite_manifests,
    )

    # eight files per append whatever the core count: the manifest's
    # delta-vs-full choice depends on how many files each commit lists
    for lo in range(0, 40, 10):
        table.append(
            spark.range(lo, lo + 10, numPartitions=8).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("v")
            )
        )
    delete_where(table, ["k"], spark.range(0, 40, 8).select(F.col("id").alias("k")))
    head = table.current_snapshot_id()
    depth = _manifest_depth(table.path, head)[0]
    assert depth > 0  # a delta chain (weight-rule rebases may shorten it)
    before = load_manifest(table.path, head)
    visible_before = read_with_deletes(table).count()

    out = rewrite_manifests(table)
    assert out == {"rebased": True, "depth_before": depth, "snapshot_id": head}
    with open(table._snap_path(head)) as f:
        raw = json.load(f)
    assert "delta_base" not in raw  # full form on disk
    assert _manifest_depth(table.path, head) == (0, 0)
    assert load_manifest(table.path, head) == before  # content-identical
    assert read_with_deletes(table).count() == visible_before
    # idempotent: an already-full head is a no-op
    assert rewrite_manifests(table) == {
        "rebased": False,
        "depth_before": 0,
        "snapshot_id": head,
    }
    # the next commit's delta bases on the checkpoint: depth restarts
    table.append(
        spark.range(100, 105).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    )
    assert _manifest_depth(table.path, table.current_snapshot_id())[0] == 1


def test_add_files_registers_parquet_in_place(spark, table, tmp_path):
    """Iceberg's add_files procedure: existing parquet registers as one
    append commit with zero data movement — footer-only bookkeeping
    (row counts, sequence stamps), streams see a plain append, pending
    deletes never reach the added files, and schema conflicts refuse."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotError,
        add_files,
        delete_where,
        metadata_count,
        read_with_deletes,
    )

    table.append(
        spark.range(0, 20).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
    )
    delete_where(table, ["k"], spark.range(0, 20, 5).select(F.col("id").alias("k")))
    # foreign parquet written OUTSIDE the table
    ext = str(tmp_path / "ext")
    spark.range(100, 130).select(
        F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
    ).repartition(3).write.parquet(ext)

    out = add_files(table, [ext])
    assert out["added_files"] == 3
    got = read_with_deletes(table)
    # 20 - 4 deleted (k in 0,5,10,15) + 30 added
    assert got.count() == 16 + 30
    # adopted footers recorded per-file row counts and sequence stamps
    head = table._load_snap(table.current_snapshot_id())
    added = [f for f in head["files"] if "-added-" in f]
    assert len(added) == 3
    assert all(f in head["file_rows"] for f in added)
    assert all(f in head["file_seqs"] for f in added)
    # after materializing the pending delete, COUNT(*) is metadata-only
    from iceberg_catalog_migrator_spark.sources.snapshots import compact_deletes

    compact_deletes(table)
    assert metadata_count(table) == 46
    # a conflicting schema refuses
    bad = str(tmp_path / "bad")
    spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit("s").alias("v")  # v: string vs long
    ).write.parquet(bad)
    with pytest.raises(SnapshotError, match="do not unify"):
        add_files(table, [bad])
    # nothing matched refuses loudly
    with pytest.raises(SnapshotError, match="no parquet files matched"):
        add_files(table, [str(tmp_path / "nope" / "*.parquet")])


def test_plan_maintenance_recommends_and_clears(spark, table):
    """The metadata-only maintenance advisor: pending MOR deletes and
    small-file sprawl each surface a recommendation justified by a
    recorded observation, and running the recommended action clears
    it. Never reads a data file (pure manifest + directory listing)."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        compact_deletes,
        delete_where,
        plan_maintenance,
        rewrite_small_files,
    )

    for lo in range(0, 30, 10):
        table.append(
            spark.range(lo, lo + 10).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("v")
            )
        )
    delete_where(table, ["k"], spark.range(0, 5).select(F.col("id").alias("k")))
    plan = plan_maintenance(table)
    assert plan["n_equality_delete_files"] >= 1  # one per delete-DF partition
    assert plan["n_small_files"] >= 2
    assert "compact_deletes" in plan["recommended"]
    assert "rewrite_small_files" in plan["recommended"]
    compact_deletes(table)
    rewrite_small_files(table)
    cleared = plan_maintenance(table)
    assert cleared["n_equality_delete_files"] == 0
    assert "compact_deletes" not in cleared["recommended"]
    assert "rewrite_small_files" not in cleared["recommended"]
    # an empty table plans nothing
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable

    empty = SnapshotTable(spark, table.path + "_none")
    assert plan_maintenance(empty) == {"recommended": [], "head": None}


def test_add_files_checks_every_live_file_schema(spark, table, tmp_path):
    """A table holding heterogeneous (additively evolved) file schemas
    must refuse a foreign file that conflicts with ANY live file — not
    just whichever file sorts first — or every read of the new
    snapshot would die in mergeSchema."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotError,
        add_files,
    )

    table.append(spark.range(0, 5).select(F.col("id").alias("k")))
    table.append(  # additive evolution: second file carries v
        spark.range(5, 10).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
        )
    )
    bad = str(tmp_path / "bad")
    spark.range(0, 3).select(
        F.col("id").alias("k"), F.lit("s").alias("v")  # v conflicts with file 2
    ).write.parquet(bad)
    with pytest.raises(SnapshotError, match="do not unify"):
        add_files(table, [bad])
    assert table.read().count() == 10  # table unharmed


def test_history_metadata_table_flags_diverged_branches(spark, table):
    """Iceberg's history metadata table: snapshots staged on a diverged
    branch are retained but NOT ancestors of main's head (rollback here
    is a new commit CARRYING the old content, so the rolled-over
    snapshot stays in the lineage — the metadata-only rollback model);
    is_current_ancestor separates the live lineage, index-served."""
    from iceberg_catalog_migrator_spark.sources.snapshots import metadata_table

    even, odd = halves(spark)
    s1 = table.append(even)
    table.create_branch("audit")
    s2 = table.append(odd, ref="audit")  # staged: diverges from main
    s3 = table.append(odd.limit(5))      # main advances independently
    hist = {
        r["snapshot_id"]: r["is_current_ancestor"]
        for r in metadata_table(table, "history").collect()
    }
    assert hist == {s1: True, s2: False, s3: True}
    # tailing the branch flips the perspective
    hist_audit = {
        r["snapshot_id"]: r["is_current_ancestor"]
        for r in metadata_table(table, "history", ref="audit").collect()
    }
    assert hist_audit == {s1: True, s2: True, s3: False}
    ts = [r["made_current_at"] for r in metadata_table(table, "history").collect()]
    assert all(v > 0 for v in ts)


def test_attach_row_ids_refuses_empty_file_list(spark, table):
    """ADVICE r10: a head snapshot with zero data files (a merge or
    overwrite emptied the table) must raise SnapshotError from the
    lineage read path, not IndexError."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotError,
        _attach_row_ids,
    )

    with pytest.raises(SnapshotError, match="no data files"):
        _attach_row_ids(table, {}, [])


def test_add_column_defaults_engine_path(spark, tmp_path):
    """VERDICT round-14 stretch: v3 column-default semantics on the
    ENGINE's write path — add_column declares initial/write defaults;
    pre-addition files read initial_default, appends omitting the
    column get write_default PHYSICALLY written (the spec's writer
    rule), appends carrying it keep stored values."""
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotTable,
        add_column,
        track_schema,
    )

    t = SnapshotTable(spark, str(tmp_path / "defaults"))
    t.append(spark.range(0, 10).select(F.col("id").alias("k")))
    track_schema(t)
    pre_head = t.current_snapshot_id()
    add_column(t, "flag", "bigint", initial_default=7, write_default=9)
    # pre-addition rows read the initial default
    assert {r.flag for r in t.read().collect()} == {7}
    # an append OMITTING the column gets write_default, physically
    t.append(spark.range(10, 15).select(F.col("id").alias("k")))
    rows = {r.k: r.flag for r in t.read().collect()}
    assert all(rows[k] == 7 for k in range(10))
    assert all(rows[k] == 9 for k in range(10, 15))
    snap = t._load_snap(t.current_snapshot_id())
    # prove the fill is physically IN the new files, not a read fixup
    import pyarrow.parquet as pq

    carried = [
        f
        for f in snap["files"]
        if f not in t._load_snap(pre_head)["files"]
    ]
    assert carried
    for f in carried:
        assert "flag" in pq.read_schema(os.path.join(t.path, f)).names
    # an append CARRYING the column keeps stored values (incl. null)
    t.append(
        spark.createDataFrame([(20, 1), (21, None)], "k bigint, flag bigint")
    )
    rows = {r.k: r.flag for r in t.read().collect()}
    assert rows[20] == 1 and rows[21] is None
    # time travel BEFORE the add still reads the old shape
    assert "flag" not in t.read(snapshot_id=pre_head).columns


def test_add_column_refusals(spark, tmp_path):
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotError,
        SnapshotTable,
        add_column,
        track_schema,
    )

    t = SnapshotTable(spark, str(tmp_path / "dref"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    with pytest.raises(SnapshotError, match="track_schema"):
        add_column(t, "x", "bigint", initial_default=1)
    track_schema(t)
    with pytest.raises(SnapshotError, match="already exists"):
        add_column(t, "k", "bigint")
    with pytest.raises(SnapshotError, match="primitive scalars"):
        add_column(t, "m", "map<string,bigint>", initial_default=1)
    with pytest.raises(SnapshotError, match="JSON scalar"):
        add_column(t, "s", "bigint", initial_default={"a": 1})


def test_add_column_defaults_export_rules(spark, tmp_path):
    """initial-default cannot travel in v2 metadata (pre-addition files
    would silently read null in the exported tree) — the export refuses
    with the reason named; a write_default-only column exports v2 fine
    with the writer-side hint dropped."""
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        export_iceberg_metadata,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotError,
        SnapshotTable,
        add_column,
        track_schema,
    )

    t = SnapshotTable(spark, str(tmp_path / "dexp"))
    t.append(spark.range(5).select(F.col("id").alias("k")))
    track_schema(t)
    add_column(t, "wd_only", "bigint", write_default=3)
    t.append(spark.range(5, 8).select(F.col("id").alias("k")))
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    fld = next(
        f for f in meta["schemas"][0]["fields"] if f["name"] == "wd_only"
    )
    assert "write-default" not in fld and "initial-default" not in fld
    add_column(t, "flag", "bigint", initial_default=7)
    with pytest.raises(SnapshotError, match="initial-default"):
        export_iceberg_metadata(t)


def test_add_column_defaults_survive_schema_advancing_append(
    spark, tmp_path
):
    """Code-review round-14: a schema-advancing append that mints a NEW
    schema entry (reordered columns) must carry the field's
    initial/write defaults — dropping them would silently serve null
    for pre-addition files afterwards."""
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotTable,
        add_column,
        track_schema,
    )

    t = SnapshotTable(spark, str(tmp_path / "dreord"))
    t.append(spark.range(0, 5).select(F.col("id").alias("k")))
    track_schema(t)
    add_column(t, "flag", "bigint", initial_default=7, write_default=9)
    # append with columns REORDERED relative to the tracked schema:
    # (flag, k) instead of (k, flag) — mints a new schema entry
    t.append(
        spark.createDataFrame([(100, 10), (101, 11)], "flag bigint, k bigint")
    )
    snap = t._load_snap(t.current_snapshot_id())
    cur = next(
        s
        for s in snap["schemas"]
        if s["schema_id"] == snap["current_schema_id"]
    )
    fld = next(f for f in cur["fields"] if f["name"] == "flag")
    assert fld.get("initial_default") == 7
    assert fld.get("write_default") == 9
    # pre-addition rows still read 7, and a later omitting append
    # still gets 9
    t.append(spark.range(20, 22).select(F.col("id").alias("k")))
    rows = {r.k: r.flag for r in t.read().collect()}
    assert all(rows[k] == 7 for k in range(5))
    assert rows[10] == 100 and rows[11] == 101 and rows[20] == 9


def test_add_column_default_type_mismatch_refuses(spark, tmp_path):
    """Code-review round-14: a default whose JSON scalar does not match
    the column type would cast to a silent NULL — refuse at declare
    time instead."""
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotError,
        SnapshotTable,
        add_column,
        track_schema,
    )

    t = SnapshotTable(spark, str(tmp_path / "dmis"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    track_schema(t)
    with pytest.raises(SnapshotError, match="does not match column type"):
        add_column(t, "f", "bigint", initial_default="seven")
    with pytest.raises(SnapshotError, match="does not match column type"):
        add_column(t, "f", "boolean", write_default=1)
    with pytest.raises(SnapshotError, match="does not match column type"):
        add_column(t, "f", "date", initial_default="not-a-date")
    # calendar-invalid and out-of-range scalars refuse too (review
    # round-14b: the non-ANSI cast NULLs/wraps them silently)
    with pytest.raises(SnapshotError, match="does not match column type"):
        add_column(t, "f", "date", initial_default="2020-02-30")
    with pytest.raises(SnapshotError, match="does not match column type"):
        add_column(t, "f", "int", initial_default=2**35)
    # float32 overflow and huge-int-to-float overflow (review round-14c)
    with pytest.raises(SnapshotError, match="does not match column type"):
        add_column(t, "f", "float", initial_default=1e39)
    with pytest.raises(SnapshotError, match="does not match column type"):
        add_column(t, "f", "double", initial_default=10**400)
    # matching scalars pass
    add_column(t, "d", "date", initial_default="2020-01-02")
    assert str(t.read().select("d").first()[0]) == "2020-01-02"
