"""Table statistics: distributed theta/KMV ndv sketches recorded as a
commit + puffin stats file, exported into the Iceberg ``statistics``
list, and read back by the importer (ndv property AND sketch-decode
fallback, ancestor resolution like real stats consumers)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.sources.iceberg_format import (
    export_iceberg_metadata,
)
from iceberg_catalog_migrator_spark.sources.iceberg_read import IcebergTable
from iceberg_catalog_migrator_spark.sources.snapshots import (
    SnapshotError,
    SnapshotTable,
    column_ndv,
    delete_where,
    record_table_statistics,
)


@pytest.fixture()
def stats_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "stats"))
    t.append(
        spark.range(0, 50_000)
        .select(
            (F.col("id") % 7_000).alias("k"),
            (F.col("id") % 13).cast("string").alias("s"),
        )
        .repartition(4)
    )
    return t


def test_record_and_read_ndv(stats_table):
    record_table_statistics(stats_table, ["k", "s"])
    k = column_ndv(stats_table, "k")
    assert abs(k - 7_000) <= 0.05 * 7_000
    assert column_ndv(stats_table, "s") == 13  # under k: exact
    # the puffin stats file physically exists
    snap = stats_table._load_snap(stats_table.current_snapshot_id())
    assert os.path.exists(
        os.path.join(stats_table.path, snap["table_stats"]["path"])
    )


def test_ndv_reflects_visible_rows(spark, stats_table):
    """Sketches are computed over read_with_deletes — a MOR delete
    shrinks the recorded ndv without any rewrite."""
    delete_where(
        stats_table,
        ["k"],
        spark.range(0, 3_000).select(F.col("id").alias("k")),
    )
    record_table_statistics(stats_table, ["k"])
    k = column_ndv(stats_table, "k")
    assert abs(k - 4_000) <= 0.05 * 4_000


def test_no_stats_refuses(stats_table):
    with pytest.raises(SnapshotError, match="record_table_statistics"):
        column_ndv(stats_table, "k")


def test_export_statistics_and_import(stats_table, spark):
    record_table_statistics(stats_table, ["k", "s"])
    out = export_iceberg_metadata(stats_table)
    meta = json.load(open(out["metadata_location"]))
    (entry,) = meta["statistics"]
    assert entry["snapshot-id"] in {
        s["snapshot-id"] for s in meta["snapshots"]
    }
    assert os.path.exists(entry["statistics-path"])
    assert entry["file-size-in-bytes"] == os.path.getsize(
        entry["statistics-path"]
    )
    assert 0 < entry["file-footer-size-in-bytes"] < entry["file-size-in-bytes"]
    types = {b["type"] for b in entry["blob-metadata"]}
    assert types == {"apache-datasketches-theta-v1"}
    got = IcebergTable(spark, out["metadata_location"]).ndv_estimates()
    assert got["s"] == 13 and abs(got["k"] - 7_000) <= 350


def test_import_ancestor_resolution(stats_table, spark):
    """Stats recorded two commits back still serve at head — the
    importer walks the snapshot ancestry like real stats consumers."""
    record_table_statistics(stats_table, ["s"])
    stats_table.append(
        stats_table.spark.range(1).select(
            F.lit(999_999).cast("bigint").alias("k"),
            F.lit("zz").alias("s"),
        )
    )
    out = export_iceberg_metadata(stats_table)
    got = IcebergTable(spark, out["metadata_location"]).ndv_estimates()
    assert got["s"] == 13  # the ancestor's recording


def test_import_sketch_decode_fallback(stats_table, spark):
    """Without the ndv property (foreign writers may omit it), the
    importer decodes the theta sketch bytes themselves."""
    record_table_statistics(stats_table, ["k", "s"])
    out = export_iceberg_metadata(stats_table)
    meta = json.load(open(out["metadata_location"]))
    for e in meta["statistics"]:
        for b in e["blob-metadata"]:
            b["properties"].pop("ndv", None)
    p2 = out["metadata_location"] + ".noprops.json"
    json.dump(meta, open(p2, "w"))
    got = IcebergTable(spark, p2).ndv_estimates()
    assert got["s"] == 13 and abs(got["k"] - 7_000) <= 350


def test_import_no_stats_refuses(stats_table, spark):
    out = export_iceberg_metadata(stats_table)
    with pytest.raises(SnapshotError, match="no statistics"):
        IcebergTable(spark, out["metadata_location"]).ndv_estimates()


def test_vacuum_reaps_orphaned_stats_keeps_live(stats_table):
    """A stats puffin whose recording lineage expired is an orphan;
    the one the retained head references must survive vacuum."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        vacuum_orphans,
    )

    record_table_statistics(stats_table, ["s"])
    old = stats_table._load_snap(stats_table.current_snapshot_id())[
        "table_stats"
    ]["path"]
    record_table_statistics(stats_table, ["k", "s"])
    live = stats_table._load_snap(stats_table.current_snapshot_id())[
        "table_stats"
    ]["path"]
    assert old != live
    stats_table.expire_snapshots(keep_last=1)
    # expiry removes the puffin only expired snapshots record
    assert not os.path.exists(os.path.join(stats_table.path, old))
    vacuum_orphans(stats_table, min_age_sec=0.0)
    assert os.path.exists(os.path.join(stats_table.path, live))
    assert column_ndv(stats_table, "k") > 0

def test_update_statistics_incremental_appends_only(spark, stats_table, monkeypatch):
    """Append-pure history refreshes stats by UNION: only the new
    files scan; the full-pass entry point must not be touched."""
    import iceberg_catalog_migrator_spark.sources.snapshots as S
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        update_table_statistics,
    )

    record_table_statistics(stats_table, ["k", "s"])
    stats_table.append(
        spark.range(0, 10_000)
        .select(
            (F.col("id") % 2_000 + 100_000).alias("k"),
            F.lit("zz").alias("s"),
        )
        .repartition(2)
    )

    def boom(*a, **kw):
        raise AssertionError("full recompute on an append-pure history")

    monkeypatch.setattr(S, "record_table_statistics", boom)
    update_table_statistics(stats_table)
    k = column_ndv(stats_table, "k")
    assert abs(k - 9_000) <= 0.05 * 9_000  # 7000 old + 2000 new
    assert column_ndv(stats_table, "s") == 14  # 13 + "zz"


def test_update_statistics_noop_when_current(stats_table):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        update_table_statistics,
    )

    record_table_statistics(stats_table, ["s"])
    head = stats_table.current_snapshot_id()
    assert update_table_statistics(stats_table) == head
    assert stats_table.current_snapshot_id() == head  # no commit minted


def test_update_statistics_full_pass_on_deletes(spark, stats_table, monkeypatch):
    """A delete in the window changes visible rows in ways a union
    cannot express: the update must take the full pass."""
    import iceberg_catalog_migrator_spark.sources.snapshots as S
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        update_table_statistics,
    )

    record_table_statistics(stats_table, ["k"])
    delete_where(
        stats_table,
        ["k"],
        spark.range(0, 3_000).select(F.col("id").alias("k")),
    )
    calls = {"full": 0}
    real = S.record_table_statistics

    def spy(*a, **kw):
        calls["full"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(S, "record_table_statistics", spy)
    update_table_statistics(stats_table)
    assert calls["full"] == 1
    k = column_ndv(stats_table, "k")
    assert abs(k - 4_000) <= 0.05 * 4_000


def test_run_maintenance_refreshes_stale_stats(spark, stats_table):
    """The advisor flags files added past the stats' base snapshot and
    run_maintenance refreshes them incrementally — the after-plan is
    clean and the ndv reflects the new data."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        plan_maintenance,
        run_maintenance,
    )

    record_table_statistics(stats_table, ["k"])
    stats_table.append(
        spark.range(0, 5_000)
        .select(
            (F.col("id") % 1_000 + 500_000).alias("k"),
            F.lit("zz").alias("s"),
        )
        .repartition(1)
    )
    before = plan_maintenance(stats_table)
    assert "update_table_statistics" in before["recommended"]
    assert before["n_stats_stale_files"] >= 1
    res = run_maintenance(stats_table)
    assert "update_table_statistics" in res["applied"]
    assert "update_table_statistics" not in res["after"]["recommended"]
    k = column_ndv(stats_table, "k")
    assert abs(k - 8_000) <= 0.05 * 8_000


def test_partition_statistics_export_import(spark, tmp_path):
    """The spec's partition-statistics file: per-(spec, tuple) record/
    file/byte aggregates from manifest metadata, with pre-partitioning
    files under the synthetic empty spec."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
    )

    t = SnapshotTable(spark, str(tmp_path / "pstats"))
    t.append(
        spark.range(0, 50)
        .select(F.col("id").alias("k"), F.lit("x").alias("p"))
        .coalesce(1)
    )
    append_partitioned(
        t,
        spark.range(0, 1_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"),
        ),
        [("p", "identity")],
    )
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    (entry,) = meta["partition-statistics"]
    assert entry["snapshot-id"] == meta["current-snapshot-id"]
    assert entry["file-size-in-bytes"] == os.path.getsize(
        entry["statistics-path"]
    )
    it = IcebergTable(spark, out["metadata_location"])
    rows = {
        (r.partition.p, r.spec_id): (
            r.data_record_count,
            r.data_file_count,
        )
        for r in it.partition_stats().collect()
    }
    parted = {k: v for k, v in rows.items() if k[0] is not None}
    assert sum(v[0] for v in parted.values()) == 1_000
    assert {k[0] for k in parted} == {"0", "1", "2"}
    # the 50 pre-partitioning rows land under the empty spec, NULL tuple
    (null_key,) = [k for k in rows if k[0] is None]
    assert rows[null_key][0] == 50
    # the empty spec it reports under is a real spec in the metadata
    assert null_key[1] in {s["spec-id"] for s in meta["partition-specs"]}


def test_partition_statistics_absent_for_unpartitioned(stats_table, spark):
    out = export_iceberg_metadata(stats_table)
    meta = json.load(open(out["metadata_location"]))
    assert "partition-statistics" not in meta
    with pytest.raises(SnapshotError, match="partition statistics"):
        IcebergTable(spark, out["metadata_location"]).partition_stats()


def test_export_writes_name_mapping(spark, tmp_path):
    """Spec-compliant readers resolve our id-less parquet through
    schema.name-mapping.default — every field id, every historical
    name (pre-rename files resolve too)."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        rewrite_small_files,
        track_schema,
    )

    t = SnapshotTable(spark, str(tmp_path / "nm"))
    t.append(
        spark.range(5).select(
            F.col("id").alias("a"), (F.col("id") * 2).alias("b")
        )
    )
    t.append(
        spark.range(5, 9).select(
            F.col("id").alias("a"), (F.col("id") * 2).alias("b")
        )
    )
    track_schema(t)
    rename_column(t, "a", "a2")
    # the exporter refuses rename-retaining file sets (our importer
    # reads by current name); rewriting makes the head exportable
    rewrite_small_files(t, target_bytes=1 << 30)
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    by_id = {e["field-id"]: set(e["names"]) for e in nm}
    fields = meta["schemas"][0]["fields"]
    assert set(by_id) == {f["id"] for f in fields}
    a2_id = next(f["id"] for f in fields if f["name"] == "a2")
    assert by_id[a2_id] == {"a", "a2"}  # historical name rides along


def test_rename_rekeys_table_stats(spark, stats_table):
    """column_ndv and the incremental refresh keep working after a
    rename — the recorded ndv map re-keys with the schema."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        track_schema,
        update_table_statistics,
    )

    record_table_statistics(stats_table, ["k", "s"])
    track_schema(stats_table)
    rename_column(stats_table, "k", "key")
    assert abs(column_ndv(stats_table, "key") - 7_000) <= 350
    with pytest.raises(SnapshotError):
        column_ndv(stats_table, "k")
    stats_table.append(
        spark.range(0, 1_000)
        .select(
            (F.col("id") + 900_000).alias("key"),
            F.lit("zz").alias("s"),
        )
        .repartition(1)
    )
    update_table_statistics(stats_table)
    assert abs(column_ndv(stats_table, "key") - 8_000) <= 0.05 * 8_000
    assert column_ndv(stats_table, "s") == 14


def test_sort_order_round_trips(spark, tmp_path):
    """rewrite_sorted's range clustering is visible to foreign
    readers: sort-orders in metadata.json, sort_order_id on exactly
    the rewritten files, later appends unsorted (order absent)."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rewrite_sorted,
    )

    t = SnapshotTable(spark, str(tmp_path / "so"))
    t.append(
        spark.range(0, 10_000)
        .select((F.col("id") * 37 % 10_000).alias("k"), F.lit(1.0).alias("v"))
        .repartition(4)
    )
    rewrite_sorted(t, ["k"], n_files=4)
    t.append(
        spark.range(10_000, 10_100)
        .select(F.col("id").alias("k"), F.lit(2.0).alias("v"))
        .coalesce(1)
    )
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    orders = {o["order-id"]: o for o in meta["sort-orders"]}
    assert meta["default-sort-order-id"] == 0 and orders[0]["fields"] == []
    k_id = next(
        f["id"] for f in meta["schemas"][0]["fields"] if f["name"] == "k"
    )
    assert orders[1]["fields"] == [
        {
            "transform": "identity",
            "source-id": k_id,
            "direction": "asc",
            "null-order": "nulls-first",
        }
    ]
    it = IcebergTable(spark, out["metadata_location"])
    entries = it.data_files(it.snapshot())
    by_order = {}
    for e in entries:
        by_order.setdefault(e["sort_order_id"], []).append(e)
    assert len(by_order[1]) == 4  # the rewritten, clustered files
    assert len(by_order[None]) == 1  # the later unsorted append
    # the clustered files' recorded bounds are narrow slices: every
    # sorted file spans < the full domain (that's the point)
    for e in by_order[1]:
        assert e["upper"][k_id] - e["lower"][k_id] < 9_999


def test_adopt_carries_statistics(spark, stats_table, tmp_path):
    """Adoption carries the recorded ndv inbound — the puffin copies
    verbatim and column_ndv answers on the adopted table."""
    from iceberg_catalog_migrator_spark.sources.iceberg_read import (
        adopt_iceberg_table,
    )

    record_table_statistics(stats_table, ["k", "s"])
    out = export_iceberg_metadata(stats_table)
    t2 = adopt_iceberg_table(
        spark, out["metadata_location"], str(tmp_path / "adopted-stats")
    )
    assert column_ndv(t2, "s") == 13
    assert abs(column_ndv(t2, "k") - 7_000) <= 350
    # and it's a real file the new table owns
    ts = t2._load_snap(t2.current_snapshot_id())["table_stats"]
    assert os.path.exists(os.path.join(t2.path, ts["path"]))


def test_adopt_skips_stale_statistics(spark, stats_table, tmp_path):
    """Stats recorded before MORE data landed describe older rows —
    adoption must NOT relabel them fresh on the new table."""
    from iceberg_catalog_migrator_spark.sources.iceberg_read import (
        adopt_iceberg_table,
    )

    record_table_statistics(stats_table, ["s"])
    stats_table.append(
        spark.range(0, 100)
        .select(
            (F.col("id") + 800_000).alias("k"), F.lit("NEW").alias("s")
        )
        .coalesce(1)
    )
    out = export_iceberg_metadata(stats_table)
    t2 = adopt_iceberg_table(
        spark, out["metadata_location"], str(tmp_path / "adopted-stale")
    )
    with pytest.raises(SnapshotError, match="record_table_statistics"):
        column_ndv(t2, "s")


def test_sort_order_survives_rename(spark, tmp_path):
    """Renaming the sort column re-keys the recorded order — the
    export keeps it resolvable instead of emitting a spec-invalid
    empty-fields order (or claiming the wrong column on name reuse)."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        rewrite_sorted,
        track_schema,
    )

    t = SnapshotTable(spark, str(tmp_path / "sorn"))
    t.append(
        spark.range(0, 2_000)
        .select((F.col("id") * 13 % 2_000).alias("k"), F.lit(1.0).alias("v"))
        .repartition(2)
    )
    track_schema(t)
    rewrite_sorted(t, ["k"], n_files=2)
    rename_column(t, "k", "key")
    # the rename retains files written as "k" — rewrite so the export
    # accepts the head, then export
    rewrite_sorted(t, ["key"], n_files=2)
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    key_id = next(
        f["id"] for f in meta["schemas"][0]["fields"] if f["name"] == "key"
    )
    nonzero = [o for o in meta["sort-orders"] if o["order-id"] != 0]
    assert nonzero, "the recorded order must export"
    for o in nonzero:
        assert o["fields"], "spec-invalid empty-fields order"
        assert all(f["source-id"] == key_id for f in o["fields"])


def test_adopt_rewrites_nonpositional_stat_field_ids(spark, tmp_path):
    """A foreign source whose schema field ids are NOT positional
    (evolved/reordered: column 'a' has id 2, 'b' has id 1) must have
    its carried stats puffin REWRITTEN into the engine's positional
    convention at adoption — carried verbatim, a later incremental
    update_table_statistics would decode blob[fields=[1]] as column
    'a' under the positional assumption and silently union column
    b's sketch with a's fresh hashes (and vice versa)."""
    import struct

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        write_avro,
    )
    from iceberg_catalog_migrator_spark.sources.iceberg_read import (
        adopt_iceberg_table,
    )
    from iceberg_catalog_migrator_spark.sources.puffin import (
        read_puffin_footer,
        write_puffin,
    )
    from iceberg_catalog_migrator_spark.sources.sketches import (
        THETA_BLOB_TYPE,
        ThetaSketch,
        hash63_longs,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        update_table_statistics,
    )
    from tests.test_iceberg_v3 import (
        _V3_ENTRY_SCHEMA,
        _V3_LIST_SCHEMA,
        _entry,
    )

    root = str(tmp_path / "swapped-src")
    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "metadata"))
    # a: 100 distinct, b: 3 distinct — far enough apart that a swap
    # is unmistakable after the incremental union
    fpath = os.path.join(root, "data", "d0.parquet")
    pq.write_table(
        pa.table(
            {
                "a": pa.array(list(range(100)), pa.int64()),
                "b": pa.array([i % 3 for i in range(100)], pa.int64()),
            }
        ),
        fpath,
    )
    m0 = os.path.join(root, "metadata", "m0.avro")
    write_avro(m0, _V3_ENTRY_SCHEMA, [_entry(fpath, 100)])
    ml = os.path.join(root, "metadata", "snap-1.avro")
    write_avro(
        ml,
        _V3_LIST_SCHEMA,
        [
            {
                "manifest_path": m0,
                "manifest_length": os.path.getsize(m0),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 1,
                "first_row_id": None,
            }
        ],
    )
    sk_a = ThetaSketch.from_hashes(
        hash63_longs(np.arange(100, dtype=np.int64)), k=4096
    )
    sk_b = ThetaSketch.from_hashes(
        hash63_longs(np.arange(3, dtype=np.int64)), k=4096
    )
    ppath = os.path.join(root, "metadata", "stats-1.puffin")
    descs = write_puffin(
        ppath,
        [
            # SOURCE id space: a -> 2, b -> 1 (swapped vs position)
            {
                "type": THETA_BLOB_TYPE,
                "fields": [2],
                "snapshot-id": 1,
                "sequence-number": 1,
                "payload": sk_a.to_bytes(),
                "properties": {"ndv": "100"},
            },
            {
                "type": THETA_BLOB_TYPE,
                "fields": [1],
                "snapshot-id": 1,
                "sequence-number": 1,
                "payload": sk_b.to_bytes(),
                "properties": {"ndv": "3"},
            },
        ],
    )
    size = os.path.getsize(ppath)
    with open(ppath, "rb") as f:
        f.seek(size - 12)
        (psize,) = struct.unpack("<I", f.read(4))
    mpath = os.path.join(root, "metadata", "v1.metadata.json")
    with open(mpath, "w") as f:
        json.dump(
            {
                "format-version": 2,
                "table-uuid": "00000000-0000-0000-0000-00000000002a",
                "location": root,
                "last-sequence-number": 1,
                "last-updated-ms": 1000,
                "last-column-id": 2,
                "current-schema-id": 0,
                "schemas": [
                    {
                        "type": "struct",
                        "schema-id": 0,
                        "fields": [
                            {
                                "id": 2,
                                "name": "a",
                                "required": False,
                                "type": "long",
                            },
                            {
                                "id": 1,
                                "name": "b",
                                "required": False,
                                "type": "long",
                            },
                        ],
                    }
                ],
                "default-spec-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": []}],
                "last-partition-id": 999,
                "properties": {},
                "current-snapshot-id": 1,
                "snapshots": [
                    {
                        "snapshot-id": 1,
                        "sequence-number": 1,
                        "timestamp-ms": 1000,
                        "manifest-list": ml,
                        "schema-id": 0,
                    }
                ],
                "snapshot-log": [
                    {"snapshot-id": 1, "timestamp-ms": 1000}
                ],
                "statistics": [
                    {
                        "snapshot-id": 1,
                        "statistics-path": ppath,
                        "file-size-in-bytes": size,
                        "file-footer-size-in-bytes": psize + 16,
                        "blob-metadata": descs,
                    }
                ],
            },
            f,
        )

    t2 = adopt_iceberg_table(spark, mpath, str(tmp_path / "swapped-dst"))
    # the ndv map binds by NAME through the source schema — right
    # either way
    assert column_ndv(t2, "a") == 100
    assert column_ndv(t2, "b") == 3
    # the carried puffin's blob field ids must now be POSITIONAL over
    # the adopted column order (a -> 1, b -> 2)
    ts = t2._load_snap(t2.current_snapshot_id())["table_stats"]
    fids = {
        b["fields"][0]
        for b in read_puffin_footer(
            os.path.join(t2.path, ts["path"])
        )["blobs"]
    }
    assert fids == {1, 2}
    by_fid = {
        b["fields"][0]: b["properties"]["ndv"]
        for b in read_puffin_footer(
            os.path.join(t2.path, ts["path"])
        )["blobs"]
    }
    assert by_fid == {1: "100", 2: "3"}
    # the incremental refresh now unions each column with ITS OWN
    # sketch: 50 new a-values, no new b-values
    t2.append(
        spark.range(100, 150)
        .select(
            F.col("id").alias("a"), (F.col("id") % 3).alias("b")
        )
        .coalesce(1)
    )
    update_table_statistics(t2)
    assert column_ndv(t2, "a") == 150
    assert column_ndv(t2, "b") == 3


def _parted_table(spark, tmp_path, name):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
    )

    t = SnapshotTable(spark, str(tmp_path / name))
    t.append(
        spark.range(0, 50)
        .select(F.col("id").alias("k"), F.lit("x").alias("p"))
        .coalesce(1)
    )
    append_partitioned(
        t,
        spark.range(0, 900).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"),
        ),
        [("p", "identity")],
    )
    return t


def test_partition_stats_incremental_matches_full_bytes(
    spark, tmp_path, monkeypatch
):
    """The round-12 stretch ask: an incremental partition-stats refresh
    (aggregating ONLY the files appended since the prior record) writes
    a file BYTE-IDENTICAL to a full recompute at the same head."""
    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        partition_stats_state,
        write_partition_stats_file,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        record_partition_statistics,
        update_partition_statistics,
    )

    import iceberg_catalog_migrator_spark.sources.snapshots as S

    t = _parted_table(spark, tmp_path, "psinc")
    record_partition_statistics(t)
    # new data on top: two appends under the same spec
    for lo in (900, 1200):
        append_partitioned(
            t,
            spark.range(lo, lo + 300).select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("p"),
            ),
            [("p", "identity")],
        )
    # prove the INCREMENTAL path runs: the full-pass fallback must not
    # fire (byte-identity alone cannot tell them apart — the fallback
    # writes the same bytes by design)
    real_record = S.record_partition_statistics
    calls = {"n": 0}

    def counting(*a, **k):
        calls["n"] += 1
        return real_record(*a, **k)

    monkeypatch.setattr(S, "record_partition_statistics", counting)
    sid = update_partition_statistics(t)
    assert calls["n"] == 0, "refresh fell back to the full pass"
    snap = t._load_snap(sid)
    ps = snap["partition_stats"]
    assert int(ps["snapshot_id"]) == t._load_snap(sid)["parent"]
    inc_path = os.path.join(t.path, ps["path"])
    inc_bytes = open(inc_path, "rb").read()
    # full recompute at the SAME head state, written independently
    head_snap = t._load_snap(int(ps["snapshot_id"]))
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        _partition_stats_inputs,
    )

    specs, unpart = _partition_stats_inputs(t, head_snap)
    field_names, fid_of, agg = partition_stats_state(
        t.path, head_snap, specs, unpart
    )
    os.makedirs(str(tmp_path / "full"), exist_ok=True)
    full_path, _ = write_partition_stats_file(
        str(tmp_path / "full"), int(ps["snapshot_id"]), field_names, fid_of, agg
    )
    assert open(full_path, "rb").read() == inc_bytes
    # and it is a real O(new files) merge, not a rescan: totals line up
    import pyarrow.parquet as pq

    tbl = pq.read_table(inc_path)
    assert sum(tbl.column("data_record_count").to_pylist()) == 50 + 900 + 600


def test_partition_stats_advisor_and_runner_close_the_loop(spark, tmp_path):
    """Advisor counts files landed since the record; run_maintenance
    refreshes; the after-plan is clean."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        plan_maintenance,
        record_partition_statistics,
        run_maintenance,
    )

    t = _parted_table(spark, tmp_path, "psadv")
    record_partition_statistics(t)
    assert plan_maintenance(t)["n_partition_stats_stale_files"] == 0
    append_partitioned(
        t,
        spark.range(900, 1100).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"),
        ),
        [("p", "identity")],
    )
    before = plan_maintenance(t)
    assert before["n_partition_stats_stale_files"] > 0
    assert "update_partition_statistics" in before["recommended"]
    res = run_maintenance(t, actions=["update_partition_statistics"])
    assert "update_partition_statistics" in res["applied"]
    assert res["after"]["n_partition_stats_stale_files"] == 0
    assert "update_partition_statistics" not in res["after"]["recommended"]


def test_partition_stats_export_serves_fresh_record(spark, tmp_path):
    """Export links the maintained file instead of recomputing, and
    the imported partition_stats() sees identical aggregates."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        record_partition_statistics,
    )

    t = _parted_table(spark, tmp_path, "psexp")
    sid = record_partition_statistics(t)
    ps = t._load_snap(sid)["partition_stats"]
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    (entry,) = meta["partition-statistics"]
    # same content-addressed basename: the export SERVED the record
    assert os.path.basename(entry["statistics-path"]) == os.path.basename(
        ps["path"]
    )
    it = IcebergTable(spark, out["metadata_location"])
    rows = {
        (r.partition.p, r.spec_id): r.data_record_count
        for r in it.partition_stats().collect()
    }
    assert sum(v for k, v in rows.items() if k[0] is not None) == 900
    (null_key,) = [k for k in rows if k[0] is None]
    assert rows[null_key] == 50
    # the synthetic empty spec the record flagged made it into the
    # exported spec list
    assert null_key[1] in {s["spec-id"] for s in meta["partition-specs"]}


def test_partition_stats_spec_change_full_passes(spark, tmp_path):
    """A spec change between record and refresh invalidates the merge
    vocabulary: the refresh silently takes the FULL pass and stays
    exact."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        record_partition_statistics,
        update_partition_statistics,
    )

    t = _parted_table(spark, tmp_path, "psspec")
    record_partition_statistics(t)
    append_partitioned(
        t,
        spark.range(900, 1000).select(
            F.col("id").alias("k"),
            (F.col("id") % 8).cast("string").alias("b"),
        ),
        [("b", "bucket[4]")],
    )
    sid = update_partition_statistics(t)
    import pyarrow.parquet as pq

    ps = t._load_snap(sid)["partition_stats"]
    tbl = pq.read_table(os.path.join(t.path, ps["path"]))
    assert sum(tbl.column("data_record_count").to_pylist()) == 50 + 900 + 100
    # the unified struct carries BOTH specs' field names
    names = [f.name for f in tbl.column("partition").type]
    assert set(names) == {"p", "b_bucket"}  # original spec-change test


def test_partition_stats_spec_change_same_files_goes_stale(spark, tmp_path):
    """A spec added with NO new files still moves the unified field
    names and the synthetic empty-spec id: the advisor must report the
    record stale and the export must NOT serve it (code-review
    round-13 findings #2/#3)."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        plan_maintenance,
        record_partition_statistics,
    )

    t = _parted_table(spark, tmp_path, "psvocab")
    record_partition_statistics(t)
    ps = t._load_snap(t.current_snapshot_id())["partition_stats"]
    # empty-frame append under a NEW spec: file set unchanged, spec
    # vocabulary moved
    append_partitioned(
        t,
        spark.range(0, 0).select(
            F.col("id").alias("k"), F.lit("x").alias("p")
        ),
        [("k", "bucket[4]")],
    )
    plan = plan_maintenance(t)
    assert plan["n_partition_stats_stale_files"] > 0
    assert "update_partition_statistics" in plan["recommended"]
    # export recomputes rather than serving the stale record
    out = export_iceberg_metadata(t)
    meta = json.load(open(out["metadata_location"]))
    (entry,) = meta["partition-statistics"]
    assert os.path.basename(entry["statistics-path"]) != os.path.basename(
        ps["path"]
    )
    # the fresh file's unified struct carries BOTH specs' field names
    import pyarrow.parquet as pq

    names = [
        f.name
        for f in pq.read_table(entry["statistics-path"])
        .column("partition")
        .type
    ]
    assert set(names) == {"p", "k_bucket"}


def test_update_partition_statistics_noop_when_current(spark, tmp_path):
    """A refresh with nothing new mints NO commit and writes NO
    duplicate stats file (code-review round-13 finding #4: the old
    sid-equality guard was dead — the record commit itself advances
    the head, so it never fired)."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        record_partition_statistics,
        update_partition_statistics,
    )

    t = _parted_table(spark, tmp_path, "psnoop")
    record_partition_statistics(t)
    head = t.current_snapshot_id()
    stats_dir = os.path.join(t._meta, "stats")
    n_files = len(os.listdir(stats_dir))
    assert update_partition_statistics(t) == head
    assert t.current_snapshot_id() == head  # no commit minted
    assert len(os.listdir(stats_dir)) == n_files  # no duplicate file


def test_partition_stats_removal_only_goes_stale(spark, tmp_path):
    """A removal-only commit leaves every surviving file in the
    recording base, but the recorded aggregates now OVERCOUNT the
    removed rows: the advisor must report staleness and the refresh
    must shrink the totals (code-review round-13 finding #5)."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        plan_maintenance,
        record_partition_statistics,
        run_maintenance,
    )

    t = _parted_table(spark, tmp_path, "psrm")
    record_partition_statistics(t)
    head = t.current_snapshot_id()
    snap = t._load_snap(head)
    dropped = snap["files"][-1]
    t._commit(
        [f for f in snap["files"] if f != dropped],
        "remove-one",
        head,
    )
    plan = plan_maintenance(t)
    assert plan["n_partition_stats_stale_files"] > 0
    assert "update_partition_statistics" in plan["recommended"]
    res = run_maintenance(t, actions=["update_partition_statistics"])
    assert res["after"]["n_partition_stats_stale_files"] == 0
    import pyarrow.parquet as pq

    ps = t._load_snap(t.current_snapshot_id())["partition_stats"]
    tbl = pq.read_table(os.path.join(t.path, ps["path"]))
    assert sum(tbl.column("data_record_count").to_pylist()) < 950


def test_rekeyed_retained_file_forces_full_partition_stats_pass(
    spark, tmp_path, monkeypatch
):
    """ADVICE round-13: append_pure compared file SETS and spec
    vocabulary but not per-file attributes of retained files — a commit
    kind that re-keys a surviving file's row count / partition tuple
    must force the FULL recompute, never a silent merge over stale
    per-file state."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        _retained_file_stats_unchanged,
        record_partition_statistics,
        update_partition_statistics,
    )

    import iceberg_catalog_migrator_spark.sources.snapshots as S

    t = _parted_table(spark, tmp_path, "psrk")
    record_partition_statistics(t)
    head = t.current_snapshot_id()
    snap = t._load_snap(head)
    victim = snap["files"][-1]
    rekeyed_rows = {**snap.get("file_rows", {}), victim: 999_999}
    t._commit(
        list(snap["files"]),
        "rekey-rows",
        head,
        extra={"file_rows": rekeyed_rows},
    )
    base = t._load_snap(int(snap["partition_stats"]["snapshot_id"]))
    assert not _retained_file_stats_unchanged(
        base, t._load_snap(t.current_snapshot_id())
    )
    real_record = S.record_partition_statistics
    calls = {"n": 0}

    def counting(*a, **k):
        calls["n"] += 1
        return real_record(*a, **k)

    monkeypatch.setattr(S, "record_partition_statistics", counting)
    update_partition_statistics(t)
    assert calls["n"] == 1, "re-keyed retained file must take the full pass"
    # the full pass aggregates the CURRENT snapshot's recorded per-file
    # metadata — so the re-keyed row count is reflected, not the stale
    # pre-rekey aggregate a silent merge would have served (950)
    import pyarrow.parquet as pq

    ps = t._load_snap(t.current_snapshot_id())["partition_stats"]
    tbl = pq.read_table(os.path.join(t.path, ps["path"]))
    total = sum(tbl.column("data_record_count").to_pylist())
    assert total != 950, "stale merge served the pre-rekey aggregate"
    assert total == sum(rekeyed_rows.values())


def test_retained_file_stats_guard_unit():
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        _retained_file_stats_unchanged,
    )

    base = {
        "files": ["a", "b"],
        "file_rows": {"a": 1, "b": 2},
        "file_partitions": {"a": ["x"], "b": ["y"]},
    }
    same = {
        "files": ["a", "b", "c"],
        "file_rows": {"a": 1, "b": 2, "c": 3},
        "file_partitions": {"a": ["x"], "b": ["y"], "c": ["z"]},
    }
    assert _retained_file_stats_unchanged(base, same)
    rekeyed = {**same, "file_rows": {"a": 1, "b": 7, "c": 3}}
    assert not _retained_file_stats_unchanged(base, rekeyed)
    retuple = {**same, "file_partitions": {"a": ["x"], "b": ["Z"], "c": ["z"]}}
    assert not _retained_file_stats_unchanged(base, retuple)
    # files only in ONE snapshot are out of scope for the guard
    dropped = {
        "files": ["a"],
        "file_rows": {"a": 1},
        "file_partitions": {"a": ["x"]},
    }
    assert _retained_file_stats_unchanged(base, dropped)
