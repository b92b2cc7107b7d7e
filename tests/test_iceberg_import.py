"""Iceberg-v2 metadata IMPORT: export → IcebergTable.read round-trips
the data exactly, snapshot selection (id / timestamp / ref) works,
stats pruning is metadata-only and exact, deflate-codec Avro and the
extended Avro types decode, and the documented refusals (non-parquet
files, unknown types, unknown format versions) are loud."""

from __future__ import annotations

import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.sources import load_table
from iceberg_catalog_migrator_spark.sources.iceberg_format import (
    export_iceberg_metadata,
    read_avro,
    write_avro,
)
from iceberg_catalog_migrator_spark.sources.iceberg_read import (
    IcebergTable,
    read_iceberg_table,
    value_from_bytes,
)
from iceberg_catalog_migrator_spark.sources.snapshots import (
    SnapshotError,
    SnapshotTable,
    record_file_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def exported(spark, tmp_path):
    """Two-commit orders table — lower half of the key space split
    range-wise across 2 files, then the upper half as 1 file — stats
    recorded, exported to Iceberg-shaped metadata. Range-disjoint
    files make stats pruning deterministic."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    mid = int(orders.agg(F.expr("percentile(o_orderkey, 0.5)")).first()[0])
    t.append(
        orders.filter(F.col("o_orderkey") < mid).repartitionByRange(
            2, "o_orderkey"
        )
    )
    t.append(orders.filter(F.col("o_orderkey") >= mid).coalesce(1))
    record_file_stats(t, ["o_orderkey"])
    out = export_iceberg_metadata(t)
    return t, out["metadata_location"], orders, mid


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_read_round_trips_exact_data(spark, exported):
    t, mpath, orders, mid = exported
    got = IcebergTable(spark, mpath).read()
    assert got.schema.simpleString() == (
        "struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"
    )
    assert _sorted_rows(got) == _sorted_rows(orders)


def test_directory_pointer_resolves_highest_version(spark, exported):
    _, mpath, orders, _mid = exported
    got = read_iceberg_table(spark, os.path.dirname(mpath))
    assert got.count() == orders.count()


def test_time_travel_by_snapshot_id_and_timestamp(spark, exported):
    t, mpath, orders, mid = exported
    it = IcebergTable(spark, mpath)
    lower = orders.filter(F.col("o_orderkey") < mid)
    first = it.read(snapshot_id=1)
    assert _sorted_rows(first) == _sorted_rows(lower)
    meta = json.load(open(mpath))
    ts1 = next(
        s["timestamp-ms"] for s in meta["snapshots"] if s["snapshot-id"] == 1
    )
    assert it.read(as_of_timestamp_ms=ts1).count() == lower.count()
    with pytest.raises(SnapshotError, match="at or before"):
        it.snapshot(as_of_timestamp_ms=ts1 - 10_000_000)
    assert it.read(ref="main").count() == orders.count()
    with pytest.raises(SnapshotError, match="no ref"):
        it.snapshot(ref="audit")
    with pytest.raises(SnapshotError, match="at most one"):
        it.snapshot(snapshot_id=1, ref="main")


def test_stats_pruning_is_metadata_only_and_exact(spark, exported):
    t, mpath, orders, mid = exported
    it = IcebergTable(spark, mpath)
    snap = it.snapshot()
    entries = it.data_files(snap)
    assert len(entries) == 3  # 2 range-split lower files + 1 upper file
    lo = int(orders.agg(F.min("o_orderkey")).first()[0])
    # a filter below every file's lower bound prunes ALL files
    kept, pruned = it.plan_files(snap, [("o_orderkey", "<", lo)])
    assert (len(kept), pruned) == (0, 3)
    empty = it.read(filters=[("o_orderkey", "<", lo)])
    assert empty.count() == 0 and len(empty.columns) == 3
    # equality on the table max sits in the upper file only: the two
    # range-disjoint lower files must both prune
    key = int(orders.agg(F.max("o_orderkey")).first()[0])
    kept, pruned = it.plan_files(snap, [("o_orderkey", "=", key)])
    assert (len(kept), pruned) == (1, 2)
    got = it.read(filters=[("o_orderkey", "=", key)])
    assert _sorted_rows(got) == _sorted_rows(
        orders.filter(F.col("o_orderkey") == key)
    )
    # conjunction: a range confined to the upper file's span still
    # returns exact rows (row-level residual applied after pruning)
    got = it.read(filters=[("o_orderkey", ">=", mid), ("o_orderkey", "<=", key)])
    assert _sorted_rows(got) == _sorted_rows(
        orders.filter(
            (F.col("o_orderkey") >= mid) & (F.col("o_orderkey") <= key)
        )
    )
    with pytest.raises(SnapshotError, match="no column"):
        it.plan_files(snap, [("nope", "=", 1)])


def test_missing_bounds_keep_the_file(spark, tmp_path):
    # no record_file_stats: the manifests carry NO bounds — a filter
    # must keep every file (absence never un-matches) and still be
    # row-exact
    t = SnapshotTable(spark, str(tmp_path / "nostats"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t.append(orders)
    mpath = export_iceberg_metadata(t)["metadata_location"]
    it = IcebergTable(spark, mpath)
    snap = it.snapshot()
    key = int(orders.agg(F.min("o_orderkey")).first()[0])
    kept, pruned = it.plan_files(snap, [("o_orderkey", "=", key)])
    assert pruned == 0
    assert it.read(filters=[("o_orderkey", "=", key)]).count() == 1


def test_deflate_avro_round_trip(tmp_path):
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
        ],
    }
    recs = [{"a": i, "b": f"s{i}"} for i in range(1000)]
    p = str(tmp_path / "d.avro")
    write_avro(p, schema, recs, codec="deflate")
    got_schema, got = read_avro(p)
    assert got == recs and got_schema == schema
    # deflate actually compressed the repetitive payload
    write_avro(str(tmp_path / "n.avro"), schema, recs)
    assert os.path.getsize(p) < os.path.getsize(str(tmp_path / "n.avro"))
    # zstandard writes through the codec table (libzstd); a
    # codec outside the table still refuses by name
    write_avro(p, schema, recs, codec="zstandard")
    got_schema, got = read_avro(p)
    assert got == recs and got_schema == schema
    with pytest.raises(ValueError, match="unsupported avro codec"):
        write_avro(p, schema, recs, codec="lz4")


def test_extended_avro_types_decode(tmp_path):
    # hand-encode float/double/fixed/enum/map values per the Avro spec
    # and decode through the package reader — write_avro cannot emit
    # these, so the bytes are constructed independently here
    import zlib
    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        _enc_bytes,
        _enc_long,
        _enc_str,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "x", "type": {"type": "fixed", "name": "x8", "size": 3}},
            {
                "name": "e",
                "type": {
                    "type": "enum",
                    "name": "col",
                    "symbols": ["RED", "GREEN"],
                },
            },
            {"name": "m", "type": {"type": "map", "values": "long"}},
        ],
    }
    body = (
        struct.pack("<f", 1.5)
        + struct.pack("<d", -2.25)
        + b"abc"
        + _enc_long(1)  # GREEN
        + _enc_long(1)  # map block of 1
        + _enc_str("k")
        + _enc_long(42)
        + _enc_long(0)  # map end
    )
    sync = b"\x00" * 16
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"deflate"}
    blob = b"Obj\x01" + _enc_long(len(meta))
    for k, v in meta.items():
        blob += _enc_str(k) + _enc_bytes(v)
    comp = zlib.compress(body)[2:-4]
    blob += _enc_long(0) + sync + _enc_long(1) + _enc_long(len(comp)) + comp + sync
    p = str(tmp_path / "x.avro")
    open(p, "wb").write(blob)
    _, (rec,) = read_avro(p)
    assert rec == {
        "f": 1.5,
        "d": -2.25,
        "x": b"abc",
        "e": "GREEN",
        "m": {"k": 42},
    }


def test_value_from_bytes_appendix_d():
    assert value_from_bytes("int", struct.pack("<i", -7)) == -7
    assert value_from_bytes("long", struct.pack("<q", 1 << 40)) == 1 << 40
    assert value_from_bytes("double", struct.pack("<d", 2.5)) == 2.5
    assert value_from_bytes("string", "héllo".encode()) == "héllo"
    assert value_from_bytes("boolean", b"\x01") is True
    import datetime

    assert value_from_bytes(
        "date", struct.pack("<i", 19000)
    ) == datetime.date(2022, 1, 8)  # days-since-epoch decoded to date
    assert value_from_bytes("binary", b"zz") is None  # not orderable here
    assert value_from_bytes("int", None) is None


def _rewrite_manifest_field(mpath, mutate):
    """Load the export tree, apply ``mutate`` to the head manifest-list
    record, and rewrite it — simulating a foreign writer's variant."""
    meta = json.load(open(mpath))
    head = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    schema, (ml,) = read_avro(head["manifest-list"])
    mutate(ml)
    write_avro(head["manifest-list"], schema, [ml])


def test_refusals_are_loud(spark, exported, tmp_path):
    t, mpath, _, _mid = exported
    # a DATA entry inside a delete manifest is malformed metadata
    _rewrite_manifest_field(mpath, lambda ml: ml.update(content=1))
    with pytest.raises(SnapshotError, match="data file entry in a delete"):
        IcebergTable(spark, mpath).read()
    _rewrite_manifest_field(mpath, lambda ml: ml.update(content=0))
    # non-parquet data file
    meta = json.load(open(mpath))
    head = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    schema, (ml,) = read_avro(head["manifest-list"])
    eschema, entries = read_avro(ml["manifest_path"])
    entries[0]["data_file"]["file_format"] = "ORC"
    write_avro(ml["manifest_path"], eschema, entries)
    with pytest.raises(SnapshotError, match="unsupported data file format"):
        IcebergTable(spark, mpath).read()
    entries[0]["data_file"]["file_format"] = "PARQUET"
    write_avro(ml["manifest_path"], eschema, entries)
    # v1 metadata now opens read-only (tests/test_iceberg_v1.py pins
    # its semantics); unknown future versions still refuse
    meta["format-version"] = 4
    p1 = str(tmp_path / "v4.metadata.json")
    json.dump(meta, open(p1, "w"))
    with pytest.raises(SnapshotError, match="format-version"):
        IcebergTable(spark, p1)
    # unknown column type
    meta["format-version"] = 2
    meta["schemas"][0]["fields"][0]["type"] = "variant"
    p2 = str(tmp_path / "v2.metadata.json")
    json.dump(meta, open(p2, "w"))
    with pytest.raises(SnapshotError, match="cannot import"):
        IcebergTable(spark, p2).read()
    # missing snapshot / empty dir
    with pytest.raises(SnapshotError, match="no snapshot 99"):
        IcebergTable(spark, mpath).snapshot(snapshot_id=99)
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(SnapshotError, match="no metadata.json"):
        IcebergTable(spark, str(empty))


def test_deleted_status_entries_are_dropped(spark, exported):
    t, mpath, orders, mid = exported
    # mark the upper-half file (highest file sequence number) DELETED
    # in the head manifest: the read must then return only the lower
    # half
    meta = json.load(open(mpath))
    head = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, (ml,) = read_avro(head["manifest-list"])
    eschema, entries = read_avro(ml["manifest_path"])
    assert len(entries) == 3
    upper = max(entries, key=lambda e: e["file_sequence_number"])
    upper["status"] = 2
    write_avro(ml["manifest_path"], eschema, entries)
    got = IcebergTable(spark, mpath).read()
    assert _sorted_rows(got) == _sorted_rows(
        orders.filter(F.col("o_orderkey") < mid)
    )


def test_migrated_iceberg_pointer_opens_from_target_catalog(
    spark, exported, tmp_path
):
    # the full reference story with GENUINELY Iceberg-shaped metadata:
    # export → register pointer in the source catalog → migrate by
    # pointer (CatalogMigrator) → open the TARGET entry with
    # IcebergTable; data, time travel and pruning all work, and no
    # data moved
    from iceberg_catalog_migrator_spark.catalog import (
        CatalogMigrator,
        SqlCatalog,
        TableIdentifier,
    )
    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        register_iceberg_metadata,
    )
    from iceberg_catalog_migrator_spark.sources.iceberg_read import (
        iceberg_table_from_catalog,
    )

    t, mpath, orders, mid = exported
    src = SqlCatalog("source", str(tmp_path / "src.db"))
    tgt = SqlCatalog("target", str(tmp_path / "tgt.db"))
    src.create_namespace(("lake",))
    tid = TableIdentifier.of("lake", "orders")
    registered = register_iceberg_metadata(t, src, tid)
    # the second export version-incremented past the fixture's v1
    assert registered.endswith("v2.metadata.json")
    meta2 = json.load(open(registered))
    assert [e["metadata-file"] for e in meta2["metadata-log"]] == [mpath]

    m = CatalogMigrator(src, tgt, delete_entries_from_source_catalog=True)
    m.register_tables(m.get_matching_table_identifiers(None))
    assert m.result().registered_table_identifiers == [tid]
    assert not src.table_exists(tid)

    it = iceberg_table_from_catalog(spark, tgt, tid)
    assert it.metadata_location == registered  # pointer moved verbatim
    assert _sorted_rows(it.read()) == _sorted_rows(orders)
    assert it.read(snapshot_id=1).count() == orders.filter(
        F.col("o_orderkey") < mid
    ).count()
    kept, pruned = it.plan_files(
        it.snapshot(), [("o_orderkey", ">=", mid)]
    )
    assert (len(kept), pruned) == (1, 2)


def test_export_refuses_renamed_unrewritten_files(spark, tmp_path):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        track_schema,
    )

    t = SnapshotTable(spark, str(tmp_path / "ren"))
    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    t.append(nation)
    track_schema(t)
    rename_column(t, "n_name", "nation_name")
    # the retained file still stores the column as n_name: name-based
    # export would serve silent NULLs through the rename
    with pytest.raises(SnapshotError, match="name-resolved export"):
        export_iceberg_metadata(t)


def test_export_after_expiry_keeps_retained_tail(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "exp"))
    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    t.append(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    t.expire_snapshots(keep_last=1)
    mpath = export_iceberg_metadata(t)["metadata_location"]
    meta = json.load(open(mpath))
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [2]
    got = IcebergTable(spark, mpath).read()
    assert _sorted_rows(got) == _sorted_rows(nation)


def test_directory_resolution_handles_iceberg_naming(spark, exported, tmp_path):
    import shutil

    _, mpath, orders, _mid = exported
    d = tmp_path / "icebergdir"
    d.mkdir()
    # Iceberg's own convention: zero-padded version + uuid
    shutil.copy(mpath, d / "00001-9c0e6f2a.metadata.json")
    shutil.copy(mpath, d / "00002-1b7d3c4e.metadata.json")
    got = IcebergTable(spark, str(d))
    assert got.metadata_location.endswith("00002-1b7d3c4e.metadata.json")
    assert got.read().count() == orders.count()
    (d / "garbage.metadata.json").write_text("{}")
    with pytest.raises(SnapshotError, match="cannot order metadata file"):
        IcebergTable(spark, str(d))


def test_version_allocation_skips_claimed_versions(spark, exported, tmp_path):
    # a racer's claimed-but-torn doc must not be clobbered: the next
    # export takes the following version and skips the torn log link
    t, mpath, orders, _mid = exported
    out_dir = os.path.dirname(mpath)
    torn = os.path.join(out_dir, "v2.metadata.json")
    open(torn, "w").write('{"half written')
    out = export_iceberg_metadata(t)
    assert out["metadata_location"].endswith("v3.metadata.json")
    meta = json.load(open(out["metadata_location"]))
    assert meta["metadata-log"] == []  # torn doc not linked
    assert open(torn).read() == '{"half written'  # never clobbered


def test_planning_is_metadata_only_at_thousands_of_files(spark, tmp_path):
    """5000 data files that DON'T EXIST on disk: export still emits
    manifests (footer-free — stats/rows come from the tracked
    manifest), and import planning prunes 4999 of them from bounds
    alone. Nonexistent files make 'no parquet footer was opened'
    true by construction, and the timing bound pins the 100-TB claim:
    planning cost scales with METADATA, not data."""
    import time as _time

    path = str(tmp_path / "big")
    meta = os.path.join(path, "metadata")
    os.makedirs(meta)
    n = 5000
    files = [f"data/f-{i:05d}.parquet" for i in range(n)]
    snap = {
        "snapshot_id": 1,
        "parent": None,
        "timestamp_ms": 1,
        "operation": "append",
        "files": files,
        "file_rows": {f: 1000 for f in files},
        "file_seqs": {f: 1 for f in files},
        "file_stats": {
            f: {"k": [i * 100, i * 100 + 99]} for i, f in enumerate(files)
        },
        "sequence_number": 1,
        "schemas": [
            {"schema_id": 0, "fields": [{"id": 1, "name": "k", "type": "bigint"}]}
        ],
        "current_schema_id": 0,
    }
    with open(os.path.join(meta, "snap-1.json"), "w") as f:
        json.dump(snap, f)
    with open(os.path.join(meta, "snapshot-hint.text"), "w") as f:
        f.write("1")

    t = SnapshotTable(spark, path)
    t0 = _time.monotonic()
    mpath = export_iceberg_metadata(t)["metadata_location"]
    export_s = _time.monotonic() - t0
    it = IcebergTable(spark, mpath)
    t0 = _time.monotonic()
    kept, pruned = it.plan_files(
        it.snapshot(), [("k", ">=", 424200), ("k", "<=", 424250)]
    )
    plan_s = _time.monotonic() - t0
    assert (len(kept), pruned) == (1, n - 1)
    assert kept[0]["file_path"].endswith("f-04242.parquet")
    assert kept[0]["record_count"] == 1000
    # generous even under load; a footer-reading plan can't pass at all
    assert export_s < 60 and plan_s < 10, (export_s, plan_s)


def test_mor_positional_deletes_roundtrip(spark, tmp_path):
    """Pending position deletes export as spec-shaped delete manifests
    (file_path/pos parquet, entry content=1) and the import's
    executor-side anti-join returns EXACTLY the visible rows — while
    pre-delete time travel still sees them."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where_positional,
        read_with_deletes,
    )

    t = SnapshotTable(spark, str(tmp_path / "mor"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t.append(orders.repartition(3))
    delete_where_positional(t, "o_orderkey % 10 = 3")
    n_deleted = orders.filter(F.col("o_orderkey") % 10 == 3).count()
    assert n_deleted > 0
    out = export_iceberg_metadata(t)
    it = IcebergTable(spark, out["metadata_location"])

    # the head manifest list carries a data manifest AND a delete one
    head = it.snapshot()
    _, ml = read_avro(head["manifest-list"])
    assert [m["content"] for m in ml] == [0, 1]
    assert ml[1]["added_rows_count"] == n_deleted
    dels = it.position_delete_files(head)
    assert dels and all(d in out["files"] for d in dels)

    expected = orders.filter(~(F.col("o_orderkey") % 10 == 3))
    got = it.read()
    assert got.count() == orders.count() - n_deleted
    assert _sorted_rows(got) == _sorted_rows(expected)
    assert _sorted_rows(got) == _sorted_rows(read_with_deletes(t))
    # pre-delete time travel: the vector scopes to snapshot 2 only
    assert it.read(snapshot_id=1).count() == orders.count()
    # pruning composes with delete application
    key = int(
        expected.agg(F.max("o_orderkey")).first()[0]
    )
    got_one = it.read(filters=[("o_orderkey", "=", key)])
    assert _sorted_rows(got_one) == _sorted_rows(
        expected.filter(F.col("o_orderkey") == key)
    )


def test_equality_delete_without_ids_refuses(spark, exported):
    t, mpath, _, _mid = exported
    # an equality-delete entry (content=2) carrying no equality_ids is
    # unappliable metadata: refuse, never guess the key columns
    meta = json.load(open(mpath))
    head = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    schema, (ml,) = read_avro(head["manifest-list"])
    eschema, entries = read_avro(ml["manifest_path"])
    ml["content"] = 1
    for e in entries:
        e["data_file"]["content"] = 2
    write_avro(ml["manifest_path"], eschema, entries)
    write_avro(head["manifest-list"], schema, [ml])
    with pytest.raises(SnapshotError, match="without equality_ids"):
        IcebergTable(spark, mpath).read()


def test_mor_equality_deletes_roundtrip_with_sequence_revive(spark, tmp_path):
    """Equality deletes export as content=2 entries scoped by their own
    sequence number; the import's sequence-aware anti-join matches the
    engine's read_with_deletes EXACTLY — including Iceberg's revive
    rule: re-appending a deleted key makes it visible again because the
    delete is sequenced before the new file."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        read_with_deletes,
    )

    t = SnapshotTable(spark, str(tmp_path / "eq"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t.append(orders)
    doomed = orders.filter(F.col("o_orderkey") % 7 == 0)
    delete_where(t, ["o_orderkey"], doomed.select("o_orderkey"))
    revived = orders.filter(F.col("o_orderkey") % 14 == 0)
    t.append(revived)  # sequenced AFTER the delete: these keys revive

    out = export_iceberg_metadata(t)
    it = IcebergTable(spark, out["metadata_location"])
    head = it.snapshot()
    eq = it.equality_delete_files(head)
    assert len(eq) == 1 and eq[0]["equality_ids"] == (1,)
    # the delete's stamp is BELOW the revived file's
    revived_seq = max(e["sequence"] for e in it.data_files(head))
    assert eq[0]["sequence"] < revived_seq

    got = it.read()
    assert _sorted_rows(got) == _sorted_rows(read_with_deletes(t))
    exp_n = (
        orders.count()
        - doomed.count()
        + revived.count()  # re-appended rows are visible
    )
    assert got.count() == exp_n
    # pre-delete time travel still sees everything
    assert it.read(snapshot_id=1).count() == orders.count()


def test_mor_stacked_equality_and_positional_deletes(spark, tmp_path):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        delete_where_positional,
        read_with_deletes,
    )

    t = SnapshotTable(spark, str(tmp_path / "mix"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t.append(orders.repartition(2))
    delete_where_positional(t, "o_orderkey % 10 = 3")
    delete_where(
        t,
        ["o_orderkey"],
        orders.filter(F.col("o_orderkey") % 10 == 6).select("o_orderkey"),
    )
    out = export_iceberg_metadata(t)
    got = IcebergTable(spark, out["metadata_location"]).read()
    assert _sorted_rows(got) == _sorted_rows(read_with_deletes(t))
    assert got.count() == orders.filter(
        ~((F.col("o_orderkey") % 10 == 3) | (F.col("o_orderkey") % 10 == 6))
    ).count()


def test_partitioned_export_import_prunes_by_transform(spark, tmp_path):
    """Hidden-partitioned tables export one data manifest PER SPEC with
    each file's partition tuple in the spec's struct; the import probes
    equality predicates through the same transform expressions and
    prunes whole files — plus spec evolution: each file prunes under
    ITS OWN spec, and unpartitioned-commit files group under the
    synthetic empty spec, conservatively scanned."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
    )

    t = SnapshotTable(spark, str(tmp_path / "part"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    append_partitioned(t, orders, [("o_custkey", "bucket[8]")])
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    specs = {s["spec-id"]: s for s in meta["partition-specs"]}
    assert specs[0]["fields"][0]["transform"] == "bucket[8]"
    assert specs[0]["fields"][0]["name"] == "o_custkey_bucket"
    assert specs[0]["fields"][0]["source-id"] == 2  # o_custkey
    assert meta["default-spec-id"] == 0

    it = IcebergTable(spark, out["metadata_location"])
    head = it.snapshot()
    entries = it.data_files(head)
    n_files = len(entries)
    assert n_files >= 4  # one file per non-empty bucket
    assert all(e["partition"].get("o_custkey_bucket") is not None for e in entries)

    key = int(orders.agg(F.min("o_custkey")).first()[0])
    kept, pruned = it.plan_files(head, [("o_custkey", "=", key)])
    # equality on the bucket column keeps exactly the one bucket's file
    assert pruned >= 1 and len(kept) < n_files
    got = it.read(filters=[("o_custkey", "=", key)])
    assert _sorted_rows(got) == _sorted_rows(
        orders.filter(F.col("o_custkey") == key)
    )
    # range predicates never partition-prune (transforms are lossy)
    kept_r, _ = it.plan_files(head, [("o_custkey", ">=", key)])
    assert len(kept_r) == n_files


def test_mixed_partitioned_and_plain_commits_roundtrip(spark, tmp_path):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
    )

    t = SnapshotTable(spark, str(tmp_path / "mixed"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    mid = 750
    append_partitioned(
        t,
        orders.filter(F.col("o_orderkey") < mid),
        [("o_custkey", "bucket[4]")],
    )
    t.append(orders.filter(F.col("o_orderkey") >= mid))  # unpartitioned
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    head_json = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, ml = read_avro(head_json["manifest-list"])
    spec_ids = sorted(m["partition_spec_id"] for m in ml)
    # one manifest for the bucket spec, one for the synthetic empty one
    assert len(spec_ids) == 2 and spec_ids[0] == 0
    empty_id = spec_ids[1]
    assert {"spec-id": empty_id, "fields": []} in meta["partition-specs"]

    it = IcebergTable(spark, out["metadata_location"])
    got = it.read()
    assert _sorted_rows(got) == _sorted_rows(orders)
    # pruning on the bucket column: partitioned files prune, the
    # unpartitioned-commit file is conservatively kept
    key = int(orders.agg(F.min("o_custkey")).first()[0])
    entries = it.data_files(it.snapshot())
    n_unpart = sum(1 for e in entries if not e["partition"])
    kept, pruned = it.plan_files(it.snapshot(), [("o_custkey", "=", key)])
    assert pruned >= 1
    assert sum(1 for e in kept if not e["partition"]) == n_unpart
    got = it.read(filters=[("o_custkey", "=", key)])
    assert _sorted_rows(got) == _sorted_rows(
        orders.filter(F.col("o_custkey") == key)
    )


def test_mor_deletes_apply_under_uri_hostile_table_path(spark, tmp_path):
    # a table path with a space: _metadata.file_path renders it
    # percent-escaped while manifests store the raw path — the
    # basename-keyed coordinate join must still apply both delete
    # flavors exactly
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        delete_where_positional,
        read_with_deletes,
    )

    t = SnapshotTable(spark, str(tmp_path / "my tables" / "t"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t.append(orders.repartition(2))
    delete_where_positional(t, "o_orderkey % 10 = 3")
    delete_where(
        t,
        ["o_orderkey"],
        orders.filter(F.col("o_orderkey") % 10 == 6).select("o_orderkey"),
    )
    out = export_iceberg_metadata(t)
    got = IcebergTable(spark, out["metadata_location"]).read()
    assert _sorted_rows(got) == _sorted_rows(read_with_deletes(t))
    assert got.count() == orders.filter(
        ~((F.col("o_orderkey") % 10 == 3) | (F.col("o_orderkey") % 10 == 6))
    ).count()


def test_delete_manifest_references_empty_spec_not_spec_zero(spark, tmp_path):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        delete_where_positional,
    )

    t = SnapshotTable(spark, str(tmp_path / "pdel"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    append_partitioned(t, orders, [("o_custkey", "bucket[4]")])
    delete_where_positional(t, "o_orderkey % 10 = 3")
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    head = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, ml = read_avro(head["manifest-list"])
    dm = next(m for m in ml if m["content"] == 1)
    # spec 0 is the bucket spec; the delete manifest (empty partition
    # struct) must reference the synthetic empty spec instead
    empty_ids = {
        s["spec-id"] for s in meta["partition-specs"] if not s["fields"]
    }
    assert dm["partition_spec_id"] != 0
    assert dm["partition_spec_id"] in empty_ids
    got = IcebergTable(spark, out["metadata_location"]).read()
    assert got.count() == orders.filter(
        ~(F.col("o_orderkey") % 10 == 3)
    ).count()


def test_reset_tail_reconverts_and_returns_no_orphans(spark, tmp_path):
    # chain: [1 append] [2 pos-delete] [3 eq-delete] [4 append]; then
    # snapshot 3's delete stamp is stripped (legacy form) — the export
    # must drop snapshots 1-3 like expired ancestry, unlink their
    # converted delete files, and return a files list that exists on
    # disk with no unreferenced delete parquet left behind
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        _MANIFEST_CACHE,
        delete_where,
        delete_where_positional,
    )

    t = SnapshotTable(spark, str(tmp_path / "orph"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t.append(orders)
    delete_where_positional(t, "o_orderkey % 10 = 3")
    delete_where(
        t,
        ["o_orderkey"],
        orders.filter(F.col("o_orderkey") % 10 == 6).select("o_orderkey"),
    )
    eq_sid = t.current_snapshot_id()
    t.append(orders.limit(5))
    doc_path = os.path.join(t.path, "metadata", f"snap-{eq_sid}.json")
    doc = json.load(open(doc_path))
    doc.pop("delete_seqs", None)
    json.dump(doc, open(doc_path, "w"))
    _MANIFEST_CACHE.clear()
    # head (snapshot 4) carries the unstamped delete too — it would
    # refuse; strip the delete state from the head so only the
    # ANCESTOR is the unstamped one
    head_sid = t.current_snapshot_id()
    hpath = os.path.join(t.path, "metadata", f"snap-{head_sid}.json")
    hdoc = json.load(open(hpath))
    for k in ("deletes", "delete_seqs", "delete_keys", "pos_deletes"):
        hdoc.pop(k, None)
    json.dump(hdoc, open(hpath, "w"))
    _MANIFEST_CACHE.clear()

    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [head_sid]
    for p in out["files"]:
        assert os.path.exists(p), p
    out_dir = os.path.dirname(out["metadata_location"])
    orphans = [
        f
        for f in os.listdir(out_dir)
        if f.startswith("delete-") and f.endswith(".parquet")
    ]
    assert orphans == []


def test_foreign_typed_partition_values_never_prune(spark, tmp_path):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
    )

    t = SnapshotTable(spark, str(tmp_path / "ftyped"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    append_partitioned(t, orders, [("o_custkey", "bucket[4]")])
    out = export_iceberg_metadata(t)
    it = IcebergTable(spark, out["metadata_location"])
    snap = it.snapshot()
    entries = it.data_files(snap)
    key = int(orders.agg(F.min("o_custkey")).first()[0])
    kept, pruned = it.plan_files(snap, [("o_custkey", "=", key)])
    assert pruned >= 1
    # simulate a foreign writer's TYPED bucket values (ints computed by
    # murmur3, not Spark hash): an int value must conservatively keep
    # the file, never string-compare
    for e in entries:
        e["partition"] = {
            k: int(v) for k, v in e["partition"].items()
        }
    kept_f, pruned_f = it._prune(entries, snap, [("o_custkey", "=", key)])
    assert pruned_f == 0 and len(kept_f) == len(entries)


def test_partition_spec_survives_source_column_rename(spark, tmp_path):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        rename_column,
        rewrite_sorted,
        track_schema,
    )

    t = SnapshotTable(spark, str(tmp_path / "renp"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    append_partitioned(t, orders, [("o_custkey", "bucket[4]")])
    track_schema(t)
    rename_column(t, "o_custkey", "cust_id")
    rewrite_sorted(t, ["o_orderkey"])  # files now carry cust_id
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    spec0 = next(s for s in meta["partition-specs"] if s["spec-id"] == 0)
    # the spec's source column was recorded pre-rename; its field ID
    # survives through the schema log
    assert spec0["fields"][0]["source-id"] == 2
    got = IcebergTable(spark, out["metadata_location"]).read()
    assert got.count() == orders.count()
    assert "cust_id" in got.columns


def test_adopt_iceberg_table_zero_copy(spark, exported, tmp_path):
    from iceberg_catalog_migrator_spark.sources.iceberg_read import (
        adopt_iceberg_table,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        metadata_count,
        planned_scan,
    )

    t, mpath, orders, mid = exported
    adopted = adopt_iceberg_table(spark, mpath, str(tmp_path / "adopted"))
    assert _sorted_rows(adopted.read()) == _sorted_rows(orders)
    # one append commit + one stats commit; COUNT(*) is metadata-only
    assert metadata_count(adopted) == orders.count()
    # source bounds columns were re-recorded: planning prunes
    key = int(orders.agg(F.max("o_orderkey")).first()[0])
    df, plan = planned_scan(adopted, "o_orderkey", key, key)
    assert plan["scanned_files"] < plan["total_files"]
    assert df.count() == 1
    # time-travel adoption: snapshot 1 = the lower half only
    older = adopt_iceberg_table(
        spark, mpath, str(tmp_path / "adopted1"), snapshot_id=1
    )
    assert older.read().count() == orders.filter(
        F.col("o_orderkey") < mid
    ).count()


def test_adopt_carries_pending_deletes_metadata_only(spark, tmp_path):
    """A live Iceberg pointer with BOTH pending delete flavors adopts
    without reading a data row: position coordinates re-key to the
    adopted file names, equality deletes land at their recorded
    sequence numbers, and the visible rows match the import reader's
    — including revive semantics for a key appended after its
    deletion."""
    from iceberg_catalog_migrator_spark.sources.iceberg_read import (
        adopt_iceberg_table,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        delete_where_positional,
        read_with_deletes,
    )

    t = SnapshotTable(spark, str(tmp_path / "srcdel"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t.append(orders)
    delete_where_positional(t, "o_orderkey % 10 = 3")
    delete_where(
        t,
        ["o_orderkey"],
        orders.filter(F.col("o_orderkey") % 10 == 6).select("o_orderkey"),
    )
    # revive one deleted key AFTER the delete: its rows must stay
    # visible through export, import, and adoption
    revived = orders.filter(F.col("o_orderkey") % 100 == 6).limit(1)
    t.append(revived)
    mpath = export_iceberg_metadata(t)["metadata_location"]
    expected = _sorted_rows(read_with_deletes(t))
    assert _sorted_rows(IcebergTable(spark, mpath).read()) == expected

    adopted = adopt_iceberg_table(spark, mpath, str(tmp_path / "dst"))
    assert _sorted_rows(read_with_deletes(adopted)) == expected
    # metadata-only: every adopted DATA file is a hard link (>1 nlink),
    # no data job ran for them
    snap = adopted._load_snap(adopted.history_ids()[0])
    data_files = [f for f in snap["files"]]
    assert data_files and all(
        os.stat(os.path.join(adopted.path, f)).st_nlink > 1
        for f in data_files
    )
    # the adopted table keeps composing: delete another key, both
    # delete vintages apply
    delete_where(
        adopted,
        ["o_orderkey"],
        orders.filter(F.col("o_orderkey") % 10 == 9).select("o_orderkey"),
    )
    got = read_with_deletes(adopted)
    assert got.filter(F.col("o_orderkey") % 10 == 9).count() == 0
    assert got.count() == len(
        [r for r in expected if r[0] % 10 != 9]
    )


def test_adopt_heterogeneous_delete_keys_materializes(spark, tmp_path):
    """Equality deletes with DIFFERENT key-column sets cannot express
    as one engine snapshot (one delete_keys per snapshot): adoption
    falls back to the one-job COW materialization of the visible
    rows."""
    from iceberg_catalog_migrator_spark.sources.iceberg_read import (
        adopt_iceberg_table,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        read_with_deletes,
    )

    t = SnapshotTable(spark, str(tmp_path / "srchet"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t.append(orders)
    delete_where(
        t,
        ["o_orderkey"],
        orders.filter(F.col("o_orderkey") % 10 == 6).select("o_orderkey"),
    )
    mpath = export_iceberg_metadata(t)["metadata_location"]
    expected = _sorted_rows(read_with_deletes(t))
    # forge a SECOND delete manifest keyed on a different column set
    meta = json.load(open(mpath))
    head = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    custkey_fid = next(
        f["id"]
        for f in meta["schemas"][0]["fields"]
        if f["name"] == "o_custkey"
    )
    schema, ml = read_avro(head["manifest-list"])
    dm = next(m for m in ml if m["content"] == 1)
    eschema, dentries = read_avro(dm["manifest_path"])
    import copy

    forged = copy.deepcopy(dentries[0])
    forged["data_file"]["equality_ids"] = [custkey_fid]
    # an empty key file on the other column: visible rows unchanged
    import pyarrow as pa
    import pyarrow.parquet as pq

    empty = os.path.join(os.path.dirname(mpath), "forged-empty.parquet")
    pq.write_table(
        pa.table({"o_custkey": pa.array([], pa.int64())}), empty
    )
    forged["data_file"]["file_path"] = empty
    forged["data_file"]["record_count"] = 0
    write_avro(dm["manifest_path"], eschema, dentries + [forged])

    adopted = adopt_iceberg_table(spark, mpath, str(tmp_path / "dsthet"))
    assert _sorted_rows(adopted.read()) == expected
    # COW path: no pending delete state carried
    snap = adopted._load_snap(adopted.current_snapshot_id())
    assert not snap.get("deletes") and not snap.get("pos_deletes")


def test_total_records_and_metadata_tables(spark, exported):
    t, mpath, orders, mid = exported
    it = IcebergTable(spark, mpath)
    # O(1) count from the summary, NET semantics proven elsewhere
    assert it.total_records() == orders.count()
    assert it.total_records(snapshot_id=1) == orders.filter(
        F.col("o_orderkey") < mid
    ).count()
    snaps = it.snapshots_table()
    assert snaps.count() == 3
    cur = snaps.filter("is_current").first()
    assert cur["snapshot_id"] == 3 and cur["total_records"] == orders.count()
    files = it.files_table()
    assert files.count() == 3
    assert files.agg(F.sum("record_count")).first()[0] == orders.count()
    # absent summary refuses honestly
    meta = json.load(open(mpath))
    for s in meta["snapshots"]:
        s["summary"].pop("total-records", None)
    # write OUTSIDE the export dir: a "v3.metadata.json.nosummary..."
    # sibling would tie with the real v3 in the version listing
    p = os.path.join(t.path, "nosummary.metadata.json")
    json.dump(meta, open(p, "w"))
    with pytest.raises(SnapshotError, match="no total-records"):
        IcebergTable(spark, p).total_records()


def test_export_reuse_returns_same_pointer_until_table_changes(
    spark, exported
):
    t, mpath, orders, mid = exported
    out1 = export_iceberg_metadata(t, reuse=True)
    assert out1["metadata_location"] == mpath  # unchanged table: reused
    for p in out1["files"]:
        assert os.path.exists(p)
    t.append(orders.limit(3))  # table changed: reuse must re-export
    out2 = export_iceberg_metadata(t, reuse=True)
    assert out2["metadata_location"] != mpath
    meta2 = json.load(open(out2["metadata_location"]))
    assert meta2["current-snapshot-id"] == t.current_snapshot_id()
    # and is itself reusable now
    out3 = export_iceberg_metadata(t, reuse=True)
    assert out3["metadata_location"] == out2["metadata_location"]


def test_export_reuse_invalidated_by_expiry(spark, tmp_path):
    # expiry unlinks data files WITHOUT committing a new snapshot id —
    # head-id equality alone would reuse a pointer referencing vanished
    # files; the data-file existence walk must force a re-export that
    # drops the expired ancestry
    t = SnapshotTable(spark, str(tmp_path / "expreuse"))
    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    t.append(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10).repartition(1))
    out1 = export_iceberg_metadata(t, reuse=True)
    assert len(json.load(open(out1["metadata_location"]))["snapshots"]) == 2
    # rewrite so old files become expirable, then expire
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rewrite_small_files,
    )

    rewrite_small_files(t)
    t.expire_snapshots(keep_last=1)
    out2 = export_iceberg_metadata(t, reuse=True)
    assert out2["metadata_location"] != out1["metadata_location"]
    meta2 = json.load(open(out2["metadata_location"]))
    assert [s["snapshot-id"] for s in meta2["snapshots"]] == [
        t.current_snapshot_id()
    ]
    got = IcebergTable(spark, out2["metadata_location"]).read()
    assert _sorted_rows(got) == _sorted_rows(nation)


def test_tags_and_inchain_branches_export_as_refs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "refs"))
    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    t.append(nation.filter(F.col("n_nationkey") < 10))
    t.create_tag("v1")  # tag on snapshot 1 (main ancestry)
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    t.create_branch("audit")  # branch at head: in-chain
    t.create_branch("diverged")
    t.append(nation.limit(2), ref="diverged")  # head OUTSIDE main chain

    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    refs = meta["refs"]
    assert refs["main"] == {"snapshot-id": 2, "type": "branch"}
    assert refs["v1"] == {"snapshot-id": 1, "type": "tag"}
    assert refs["audit"] == {"snapshot-id": 2, "type": "branch"}
    assert "diverged" not in refs  # would dangle: honestly omitted

    it = IcebergTable(spark, out["metadata_location"])
    assert it.read(ref="v1").count() == nation.filter(
        F.col("n_nationkey") < 10
    ).count()
    assert it.read(ref="audit").count() == nation.count()


def test_publish_iceberg_metadata_stream(spark, tmp_path):
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        publish_iceberg_metadata_stream,
    )

    t = SnapshotTable(spark, str(tmp_path / "pub"))
    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    t.append(nation.filter(F.col("n_nationkey") < 10))
    ckpt = str(tmp_path / "ckpt")
    out_dir = os.path.join(t.path, "metadata", "iceberg")

    q = publish_iceberg_metadata_stream(spark, t.path, ckpt)
    q.awaitTermination(120)
    v = sorted(f for f in os.listdir(out_dir) if f.endswith(".metadata.json"))
    assert v == ["v1.metadata.json"]
    it = IcebergTable(spark, out_dir)
    assert it.current_snapshot_id() == 1

    # no new commits: another trigger publishes NOTHING new
    q = publish_iceberg_metadata_stream(spark, t.path, ckpt)
    q.awaitTermination(120)
    v = sorted(f for f in os.listdir(out_dir) if f.endswith(".metadata.json"))
    assert v == ["v1.metadata.json"]

    # two more commits, one trigger: the pointer follows the head
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    t.append(nation.limit(3))
    q = publish_iceberg_metadata_stream(spark, t.path, ckpt)
    q.awaitTermination(120)
    it = IcebergTable(spark, out_dir)
    assert it.current_snapshot_id() == 3
    assert it.metadata_location.endswith("v2.metadata.json")
    got = it.read(snapshot_id=2)
    assert _sorted_rows(got) == _sorted_rows(nation)


def test_reset_tail_spares_prior_version_references(spark, tmp_path):
    """A later export that drops ancestry must NOT unlink files a prior
    vN.metadata.json still references: manifest and converted-delete
    names are deterministic and shared across versions, so the tail
    reset has to refcount against surviving docs or v1's metadata-log
    rollback silently breaks."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        _MANIFEST_CACHE,
        delete_where,
        delete_where_positional,
    )

    t = SnapshotTable(spark, str(tmp_path / "protect"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t.append(orders)
    delete_where_positional(t, "o_orderkey % 10 = 3")
    delete_where(
        t,
        ["o_orderkey"],
        orders.filter(F.col("o_orderkey") % 10 == 6).select("o_orderkey"),
    )
    eq_sid = t.current_snapshot_id()
    t.append(orders.limit(5))
    # v1: the full stamped chain, including converted delete parquet
    out1 = export_iceberg_metadata(t)
    v1 = out1["metadata_location"]
    expected = IcebergTable(spark, v1).read().count()
    # strip the eq-delete stamp on the ANCESTOR (legacy form) and the
    # delete state from the head, exactly like the orphan test — the
    # next export drops snapshots 1-3 via the tail reset
    doc_path = os.path.join(t.path, "metadata", f"snap-{eq_sid}.json")
    doc = json.load(open(doc_path))
    doc.pop("delete_seqs", None)
    json.dump(doc, open(doc_path, "w"))
    head_sid = t.current_snapshot_id()
    hpath = os.path.join(t.path, "metadata", f"snap-{head_sid}.json")
    hdoc = json.load(open(hpath))
    for k in ("deletes", "delete_seqs", "delete_keys", "pos_deletes"):
        hdoc.pop(k, None)
    json.dump(hdoc, open(hpath, "w"))
    _MANIFEST_CACHE.clear()

    out2 = export_iceberg_metadata(t)
    assert out2["metadata_location"] != v1
    meta2 = json.load(open(out2["metadata_location"]))
    assert [s["snapshot-id"] for s in meta2["snapshots"]] == [head_sid]
    # every file v1 references is still on disk, and v1 still READS —
    # the delete applies exactly as before the second export
    for p in out1["files"]:
        assert os.path.exists(p), f"v2 export unlinked v1's {p}"
    again = IcebergTable(spark, v1).read().count()
    assert again == expected


def test_foreign_date_bounds_prune_against_date_literals(spark, tmp_path):
    """Foreign metadata may carry bounds for a DATE column (this
    exporter omits them); the decoded days-since-epoch must order
    against the datetime.date literals filters carry — round 10 raised
    TypeError inside plan_files instead of pruning. Also pins the
    conservative keep when types genuinely cannot compare."""
    import datetime

    t = SnapshotTable(spark, str(tmp_path / "datebounds"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("o_odate")
    )
    t.append(orders.coalesce(1))
    out = export_iceberg_metadata(t)
    mpath = out["metadata_location"]
    meta = json.load(open(mpath))
    date_fid = next(
        f["id"]
        for f in meta["schemas"][0]["fields"]
        if f["name"] == "o_odate"
    )
    row = orders.agg(
        F.min("o_odate").alias("lo"), F.max("o_odate").alias("hi")
    ).first()
    lo_d, hi_d = row["lo"], row["hi"]
    epoch = datetime.date(1970, 1, 1)
    head = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    schema, (ml,) = read_avro(head["manifest-list"])
    eschema, entries = read_avro(ml["manifest_path"])
    for e in entries:
        e["data_file"]["lower_bounds"] = [
            {"key": date_fid, "value": struct.pack("<i", (lo_d - epoch).days)}
        ]
        e["data_file"]["upper_bounds"] = [
            {"key": date_fid, "value": struct.pack("<i", (hi_d - epoch).days)}
        ]
    write_avro(ml["manifest_path"], eschema, entries)

    it = IcebergTable(spark, mpath)
    snap = it.snapshot()
    # beyond the upper bound: the file prunes away on stats alone
    kept, pruned = it.plan_files(
        snap, [("o_odate", ">", hi_d + datetime.timedelta(days=1))]
    )
    assert (len(kept), pruned) == (0, 1)
    # inside the range: kept, and the read applies the residual filter
    kept, pruned = it.plan_files(snap, [("o_odate", "<=", hi_d)])
    assert (len(kept), pruned) == (1, 0)
    got = it.read(filters=[("o_odate", "=", lo_d)])
    assert got.count() == orders.filter(F.col("o_odate") == lo_d).count()
    # an unorderable literal keeps the file rather than raising
    from iceberg_catalog_migrator_spark.sources.pruning import overlaps

    assert overlaps("<", "not-a-date", datetime.date(2020, 1, 1), None)


def test_publish_wap_cycle_and_ref_coverage(spark, tmp_path):
    """Write-audit-publish against the publication loop: staged branch
    commits publish NOTHING (the staged branch is outside main's
    chain), the fast-forward publish mints a version carrying the
    branch as an in-chain ref, and a tag created WITHOUT a commit
    invalidates reuse so the next export carries it."""
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        publish_iceberg_metadata_stream,
    )

    t = SnapshotTable(spark, str(tmp_path / "wap"))
    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    t.append(nation.filter(F.col("n_nationkey") < 10))
    ckpt = str(tmp_path / "ckpt")
    out_dir = os.path.join(t.path, "metadata", "iceberg")

    q = publish_iceberg_metadata_stream(spark, t.path, ckpt)
    q.awaitTermination(120)
    versions = lambda: sorted(  # noqa: E731
        f for f in os.listdir(out_dir) if f.endswith(".metadata.json")
    )
    assert versions() == ["v1.metadata.json"]

    # WAP stage: commits on the audit branch move NOTHING published
    t.create_branch("audit")
    t.append(nation.filter(F.col("n_nationkey") >= 10), ref="audit")
    q = publish_iceberg_metadata_stream(spark, t.path, ckpt)
    q.awaitTermination(120)
    assert versions() == ["v1.metadata.json"]
    refs_v1 = json.load(open(os.path.join(out_dir, "v1.metadata.json")))[
        "refs"
    ]
    assert set(refs_v1) == {"main"}  # staged branch honestly omitted

    # publish: fast-forward moves main -> the next trigger mints v2
    # carrying the branch as an in-chain ref
    t.fast_forward("main", "audit")
    q = publish_iceberg_metadata_stream(spark, t.path, ckpt)
    q.awaitTermination(120)
    assert versions() == ["v1.metadata.json", "v2.metadata.json"]
    it = IcebergTable(spark, out_dir)
    assert it.current_snapshot_id() == t.current_snapshot_id()
    meta2 = it.metadata
    assert meta2["refs"]["audit"] == {
        "snapshot-id": t.current_snapshot_id(),
        "type": "branch",
    }
    assert _sorted_rows(it.read(ref="audit")) == _sorted_rows(nation)

    # a tag minted WITHOUT a commit: no epoch fires, but reuse is
    # invalidated — the next export (what any later trigger runs)
    # mints v3 carrying the tag instead of serving the stale doc
    t.create_tag("audited-release")
    out = export_iceberg_metadata(t, reuse=True)
    assert out["metadata_location"].endswith("v3.metadata.json")
    meta3 = json.load(open(out["metadata_location"]))
    assert meta3["refs"]["audited-release"]["type"] == "tag"
    # and with the ref state unchanged, reuse serves v3 verbatim
    again = export_iceberg_metadata(t, reuse=True)
    assert again["metadata_location"] == out["metadata_location"]


def test_plan_streams_chunked_manifests_memory_bounded(
    spark, tmp_path, monkeypatch
):
    """Exports chunk data manifests (Iceberg's many-bounded-manifests
    shape) and the import planner prunes manifest-at-a-time: a
    selective plan over a 20k-file tree peaks at O(one chunk), an
    order of magnitude under materializing every entry dict."""
    import tracemalloc

    from iceberg_catalog_migrator_spark.sources import iceberg_format

    monkeypatch.setattr(iceberg_format, "_MANIFEST_MAX_ENTRIES", 500)
    n = 20_000
    root = str(tmp_path / "big")
    os.makedirs(os.path.join(root, "metadata"))
    files = [f"data/f{i:06d}.parquet" for i in range(n)]
    snap = {
        "snapshot_id": 1,
        "parent": None,
        "timestamp_ms": 1,
        "operation": "append",
        "sequence_number": 1,
        "files": files,
        "file_seqs": {f: 1 for f in files},
        "file_rows": {f: 10 for f in files},
        "file_stats": {f: {"k": [i, i]} for i, f in enumerate(files)},
        "schemas": [
            {
                "schema_id": 0,
                "fields": [{"id": 1, "name": "k", "type": "bigint"}],
            }
        ],
        "current_schema_id": 0,
        "next_field_id": 2,
        "file_schema_ids": {f: 0 for f in files},
    }
    json.dump(snap, open(os.path.join(root, "metadata", "snap-1.json"), "w"))
    open(os.path.join(root, "metadata", "snapshot-hint.text"), "w").write("1")
    t = SnapshotTable(spark, root)
    out = export_iceberg_metadata(t)
    it = IcebergTable(spark, out["metadata_location"])
    head = it.snapshot()
    _, ml = read_avro(head["manifest-list"])
    assert len(ml) == 40  # 20k entries in 500-entry chunks
    assert all(m["added_files_count"] == 500 for m in ml)

    tracemalloc.start()
    full = it.data_files(head)
    full_peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert len(full) == n
    del full
    tracemalloc.start()
    kept, pruned = it.plan_files(head, [("k", "=", 12_345)])
    plan_peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert (len(kept), pruned) == (1, n - 1)
    assert kept[0]["file_path"].endswith("f012345.parquet")
    assert plan_peak * 10 < full_peak, (plan_peak, full_peak)
