"""Migration-behavior parity suite.

Mirrors the reference's component scenarios
(``api/src/test/.../AbstractTestCatalogMigrator.java:113-341``),
parameterized over register/migrate (``delete_source`` bool), against
local catalogs — no services needed.
"""

import time

import pytest

from iceberg_catalog_migrator_spark.catalog import (
    CatalogMigrator,
    HadoopCatalog,
    SqlCatalog,
    TableIdentifier,
    identifiers_from_csv,
    identifiers_from_file,
)
from iceberg_catalog_migrator_spark.catalog.base import write_table_metadata

ID_SCHEMA = "struct<id:bigint>"


def make_source(tmp_path, kind="sql"):
    if kind == "hadoop":
        cat = HadoopCatalog("source", str(tmp_path / "src_wh"))
    else:
        cat = SqlCatalog("source", str(tmp_path / "src.db"))
    for ns, tbl in [("foo", "tbl1"), ("foo", "tbl2"), ("bar", "tbl3"), ("bar", "tbl4")]:
        tid = TableIdentifier.of(ns, tbl)
        if not cat.namespace_exists((ns,)):
            cat.create_namespace((ns,))
        loc = str(tmp_path / "src_wh" / ns / tbl)
        meta = write_table_metadata(loc, ID_SCHEMA, version=1)
        cat.register_table(tid, meta)
    return cat


def make_target(tmp_path, kind="sql"):
    if kind == "hadoop":
        return HadoopCatalog("target", str(tmp_path / "tgt_wh"))
    return SqlCatalog("target", str(tmp_path / "tgt.db"))


ALL_IDS = {
    TableIdentifier.of("foo", "tbl1"),
    TableIdentifier.of("foo", "tbl2"),
    TableIdentifier.of("bar", "tbl3"),
    TableIdentifier.of("bar", "tbl4"),
}


@pytest.mark.parametrize("delete_source", [False, True])
def test_register_all_tables(tmp_path, delete_source):
    src, tgt = make_source(tmp_path), make_target(tmp_path)
    m = CatalogMigrator(src, tgt, delete_entries_from_source_catalog=delete_source)
    ids = m.get_matching_table_identifiers(None)
    assert set(ids) == ALL_IDS
    m.register_tables(ids)
    result = m.result()
    assert set(result.registered_table_identifiers) == ALL_IDS
    assert result.failed_to_register_table_identifiers == []
    assert result.failed_to_delete_table_identifiers == []
    for tid in ALL_IDS:
        assert tgt.table_exists(tid)
        # migrate removes the source entry; register leaves it
        assert src.table_exists(tid) == (not delete_source)


@pytest.mark.parametrize("delete_source", [False, True])
def test_register_selected_by_regex(tmp_path, delete_source):
    src, tgt = make_source(tmp_path), make_target(tmp_path)
    m = CatalogMigrator(src, tgt, delete_entries_from_source_catalog=delete_source)
    # full-match semantics: "foo\..*" matches only the foo namespace
    ids = m.get_matching_table_identifiers(r"foo\..*")
    assert set(ids) == {TableIdentifier.of("foo", "tbl1"), TableIdentifier.of("foo", "tbl2")}
    # a find-style pattern that would match mid-string must NOT match
    assert m.get_matching_table_identifiers(r"tbl") == []


def test_register_no_such_table_records_failure(tmp_path):
    src, tgt = make_source(tmp_path), make_target(tmp_path)
    m = CatalogMigrator(src, tgt)
    missing = TableIdentifier.of("foo", "nope")
    m.register_table(missing)
    result = m.result()
    assert result.registered_table_identifiers == []
    assert result.failed_to_register_table_identifiers == [missing]


def test_double_register_fails_once(tmp_path):
    src, tgt = make_source(tmp_path), make_target(tmp_path)
    tid = TableIdentifier.of("foo", "tbl1")
    m = CatalogMigrator(src, tgt)
    m.register_table(tid)
    m.register_table(tid)  # AlreadyExists → failure record, pipeline continues
    result = m.result()
    assert result.registered_table_identifiers == [tid]
    assert result.failed_to_register_table_identifiers == [tid]


def test_partial_failure_retry_from_file_roundtrip(tmp_path):
    src, tgt = make_source(tmp_path), make_target(tmp_path)
    good = TableIdentifier.of("foo", "tbl1")
    bad = TableIdentifier.of("foo", "ghost")
    m = CatalogMigrator(src, tgt)
    m.register_tables([good, bad])
    result = m.result()
    assert result.failed_to_register_table_identifiers == [bad]
    # write failures to file; re-consume through the file source (O6/O14)
    f = tmp_path / "failed_identifiers.txt"
    f.write_text("\n".join(str(i) for i in result.failed_to_register_table_identifiers) + "\n")
    retry_ids = identifiers_from_file(str(f))
    assert retry_ids == [bad]


def test_nested_namespace_auto_create(tmp_path):
    src = SqlCatalog("source", str(tmp_path / "src.db"))
    for depth in range(1, 6):
        ns = tuple("abcde"[:depth])
        src.create_namespace(ns)
    tid = TableIdentifier.of("a", "b", "c", "d", "e", "tblz")
    meta = write_table_metadata(str(tmp_path / "t"), ID_SCHEMA, version=1)
    src.register_table(tid, meta)

    tgt = make_target(tmp_path)
    m = CatalogMigrator(src, tgt)
    m.register_table(tid)
    result = m.result()
    assert result.registered_table_identifiers == [tid]
    # prefix expansion created every level on the target
    for depth in range(1, 6):
        assert tgt.namespace_exists(tuple("abcde"[:depth]))


def test_scale_244_tables_with_progress(tmp_path):
    src = SqlCatalog("source", str(tmp_path / "src.db"))
    src.create_namespace(("foo",))
    ids = []
    for i in range(244):
        tid = TableIdentifier.of("foo", f"tblx{i}")
        meta = write_table_metadata(str(tmp_path / "wh" / f"tblx{i}"), ID_SCHEMA, version=1)
        src.register_table(tid, meta)
        ids.append(tid)
    tgt = make_target(tmp_path)
    m = CatalogMigrator(src, tgt)
    ticks = []
    m.register_tables(ids, progress=lambda done, total: ticks.append(done))
    result = m.result()
    assert len(result.registered_table_identifiers) == 244
    assert ticks == [100, 200, 244]  # reference progress points


def test_parallel_register_matches_sequential(tmp_path):
    src = SqlCatalog("source", str(tmp_path / "src.db"))
    src.create_namespace(("foo",))
    ids = []
    for i in range(50):
        tid = TableIdentifier.of("foo", f"t{i}")
        meta = write_table_metadata(str(tmp_path / "wh" / f"t{i}"), ID_SCHEMA, version=1)
        src.register_table(tid, meta)
        ids.append(tid)
    tgt = make_target(tmp_path)
    m = CatalogMigrator(src, tgt)
    m.register_tables(ids, parallelism=8)
    result = m.result()
    assert set(result.registered_table_identifiers) == set(ids)
    assert result.failed_to_register_table_identifiers == []


def test_parallel_register_creates_each_namespace_prefix_once(tmp_path):
    src = SqlCatalog("source", str(tmp_path / "src.db"))
    for depth in range(1, 4):
        src.create_namespace(tuple("abc"[:depth]))
    ids = []
    for i in range(40):
        tid = TableIdentifier.of("a", "b", "c", f"t{i}")
        src.register_table(tid, write_table_metadata(str(tmp_path / f"t{i}"), ID_SCHEMA, version=1))
        ids.append(tid)
    tgt = make_target(tmp_path)
    created = []
    create = tgt.create_namespace

    def slow_create(ns, *args, **kwargs):
        created.append(ns)
        time.sleep(0.005)  # widen the check-then-create window
        return create(ns, *args, **kwargs)

    tgt.create_namespace = slow_create
    m = CatalogMigrator(src, tgt)
    m.register_tables(ids, parallelism=8)
    assert len(m.result().registered_table_identifiers) == 40
    assert sorted(created) == [("a",), ("a", "b"), ("a", "b", "c")]


def test_hadoop_source_migrate_forbidden(tmp_path):
    src = HadoopCatalog("source", str(tmp_path / "wh"))
    tgt = make_target(tmp_path)
    with pytest.raises(ValueError, match="Hadoop catalog"):
        CatalogMigrator(src, tgt, delete_entries_from_source_catalog=True)


def test_hadoop_to_hadoop_register(tmp_path):
    src = make_source(tmp_path, kind="hadoop")
    tgt = make_target(tmp_path, kind="hadoop")
    m = CatalogMigrator(src, tgt)
    ids = m.get_matching_table_identifiers(None)
    assert set(ids) == ALL_IDS
    m.register_tables(ids)
    result = m.result()
    assert set(result.registered_table_identifiers) == ALL_IDS
    for tid in ALL_IDS:
        assert tgt.table_exists(tid)


def test_hive_rejects_multipart_namespace(tmp_path):
    src = SqlCatalog("source", str(tmp_path / "src.db"))
    src.create_namespace(("a",))
    src.create_namespace(("a", "b"))
    tid = TableIdentifier.of("a", "b", "t1")
    meta = write_table_metadata(str(tmp_path / "t1"), ID_SCHEMA, version=1)
    src.register_table(tid, meta)

    hive = SqlCatalog("target", str(tmp_path / "hive.db"), max_namespace_levels=1, allow_empty_namespace=False)
    m = CatalogMigrator(src, hive)
    m.register_table(tid)
    result = m.result()
    # multipart namespace is rejected by the hive-semantics target
    assert result.failed_to_register_table_identifiers == [tid]


def test_identifiers_from_csv_dedup_and_trim():
    ids = identifiers_from_csv(" abc.def , xx.yy ,abc.def, abc.def ,, xx.yy ")
    assert ids == [TableIdentifier.of("abc", "def"), TableIdentifier.of("xx", "yy")]


def test_identifiers_from_file_odd_names(tmp_path):
    f = tmp_path / "ids.txt"
    f.write_text("abc. def\n    abc 123 \n\n\n    xyz%n123\n")
    ids = identifiers_from_file(str(f))
    assert [str(i) for i in ids] == ["abc. def", "abc 123", "xyz%n123"]


def test_result_drains_and_resets(tmp_path):
    src, tgt = make_source(tmp_path), make_target(tmp_path)
    m = CatalogMigrator(src, tgt)
    m.register_table(TableIdentifier.of("foo", "tbl1"))
    first = m.result()
    assert len(first.registered_table_identifiers) == 1
    second = m.result()
    assert second.registered_table_identifiers == []
