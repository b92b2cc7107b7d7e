"""Columnar plan-index sidecar: equivalence with the dict planner,
the index every commit writes, staleness and unindexable fallbacks,
expiry cleanup.
The 10^6-file RSS harness lives in scripts/scale_plan_index.py (too
slow for the suite); this file pins the CORRECTNESS of the same code
path at test scale."""

import json
import os

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.sources import load_table
from iceberg_catalog_migrator_spark.sources.plan_index import (
    _fresh_doc,
    plan_paths,
    sidecar_path,
    write_plan_index,
)
from iceberg_catalog_migrator_spark.sources.snapshots import (
    SnapshotTable,
    load_manifest,
    planned_scan,
    record_file_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def stats_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "pidx"))
    for lo in (0, 10_000, 20_000, 30_000):
        t.append(
            spark.range(lo, lo + 1000).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("v")
            )
        )
    record_file_stats(t, ["k"])
    return t


def _dict_plan(snap, col, filters_lo_hi):
    lo, hi = filters_lo_hi
    stats = snap["file_stats"]
    return sorted(
        f
        for f in snap["files"]
        if stats.get(f, {}).get(col) is None
        or (stats[f][col][0] <= hi and stats[f][col][1] >= lo)
    )


def test_columnar_plan_matches_dict_plan(stats_table):
    t = stats_table
    sid = t.current_snapshot_id()
    snap = load_manifest(t.path, sid)
    doc = _fresh_doc(t.path, sid)
    for lo, hi in ((10_100, 10_200), (0, 50_000), (90_000, 99_000)):
        res = plan_paths(t.path, doc, [("k", ">=", lo), ("k", "<=", hi)])
        assert res is not None
        paths, summary = res
        assert sorted(paths) == _dict_plan(snap, "k", (lo, hi))
        assert summary["total_files"] == len(snap["files"])
        assert summary["columnar"] is True
    # a column with no recorded stats prunes nothing
    res = plan_paths(t.path, doc, [("v", ">=", 100)])
    assert sorted(res[0]) == sorted(snap["files"])


def test_planned_scan_uses_sidecar_and_matches(stats_table):
    t = stats_table
    df, plan = planned_scan(t, "k", 10_100, 10_200)
    assert plan.get("columnar") is True
    assert plan["scanned_files"] < plan["total_files"]
    assert df.count() == 101
    assert os.path.exists(sidecar_path(t.path, t.current_snapshot_id()))
    # empty plan keeps the schema without reading data
    df2, plan2 = planned_scan(t, "k", 90_000, 99_000)
    assert df2.count() == 0
    assert df2.columns == df.columns


def test_doc_rewrite_stales_the_index_until_the_next_commit(stats_table, spark):
    """A snapshot doc rewritten in place with OTHER content changes the
    fingerprint: plans stop serving the stale index and answer through
    the dict without rebuilding it, and the next commit indexes its
    snapshot afresh."""
    t = stats_table
    sid = t.current_snapshot_id()
    side = sidecar_path(t.path, sid)
    first = os.stat(side).st_mtime_ns
    snap_doc = os.path.join(t.path, "metadata", f"snap-{sid}.json")
    with open(snap_doc) as f:
        raw = json.load(f)
    with open(snap_doc, "w") as f:
        json.dump({**raw, "note": "edited"}, f)
    assert _fresh_doc(t.path, sid) is None
    df, plan = planned_scan(t, "k", 0, 100)
    assert "columnar" not in plan and df.count() == 101
    assert os.stat(side).st_mtime_ns == first
    t.append(spark.range(40_000, 40_010).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v")))
    df, plan = planned_scan(t, "k", 40_000, 40_004)
    assert plan.get("columnar") is True and df.count() == 5


def test_rebase_keeps_the_index_fresh(spark, tmp_path):
    """A content-identical rewrite of the head's doc (rewrite_manifests'
    rebase to full form, as expiry's) keeps its fresh index fresh: the
    head plans columnar and its next commit advances from that index."""
    from iceberg_catalog_migrator_spark.sources.snapshots import rewrite_manifests

    def rows(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))

    # 48 files, so a one-file append is delta-encoded
    t = SnapshotTable(spark, str(tmp_path / "rebase"))
    t.append(rows(0, 48_000).repartitionByRange(48, "k"))
    record_file_stats(t, ["k"])
    t.append(rows(50_000, 50_010).repartition(1))
    sid = t.current_snapshot_id()
    assert rewrite_manifests(t)["rebased"] is True
    doc = _fresh_doc(t.path, sid)
    assert doc is not None
    df, plan = planned_scan(t, "k", 50_000, 50_004)
    assert plan.get("columnar") is True and df.count() == 5
    t.append(rows(60_000, 60_010).repartition(1))
    nxt = _fresh_doc(t.path, t.current_snapshot_id())
    assert len(nxt["segments"]) == len(doc["segments"]) + 1


def test_unindexable_stat_column_falls_back(stats_table, spark):
    t = stats_table
    sid = t.current_snapshot_id()
    snap = load_manifest(t.path, sid)
    # poison one file's recorded range with a MIXED type (string next
    # to ints): that column must land in unindexed_cols and columnar
    # plans on it refuse (dict fallback stays exact)
    poisoned = dict(snap)
    stats = {f: dict(per) for f, per in snap["file_stats"].items()}
    any_file = snap["files"][0]
    stats[any_file] = dict(stats[any_file])
    stats[any_file]["k"] = ["zzz", "zzz"]
    poisoned["file_stats"] = stats
    assert write_plan_index(t.path, poisoned) is not None
    # the sidecar we just wrote matches the doc fingerprint, so it is
    # served verbatim with k unindexed
    meta = _fresh_doc(t.path, sid)
    assert "k" in meta["unindexed_cols"]
    assert plan_paths(t.path, meta, [("k", ">=", 0)]) is None
    # planned_scan still answers exactly through the dict path
    df, plan = planned_scan(t, "k", 10_100, 10_200)
    assert "columnar" not in plan
    assert df.count() == 101


def test_expiry_unlinks_sidecars(stats_table):
    t = stats_table
    ids = t.history_ids()
    for sid in ids:
        assert _fresh_doc(t.path, sid) is not None
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rewrite_small_files,
    )

    rewrite_small_files(t)
    t.expire_snapshots(keep_last=1)
    for sid in ids:
        assert not os.path.exists(sidecar_path(t.path, sid)), sid


def test_rows_and_seq_columns_round_trip(stats_table):
    t = stats_table
    sid = t.current_snapshot_id()
    from iceberg_catalog_migrator_spark.sources.plan_index import (
        current_rows_table,
    )

    snap = load_manifest(t.path, sid)
    tbl = current_rows_table(t.path, sid)
    by_path = {
        p: (r, s)
        for p, r, s in zip(
            tbl.column("path").to_pylist(),
            tbl.column("rows").to_pylist(),
            tbl.column("seq").to_pylist(),
        )
    }
    rows_map = snap.get("file_rows") or {}
    seqs_map = snap.get("file_seqs") or {}
    for f in snap["files"]:
        assert by_path[f] == (rows_map.get(f), seqs_map.get(f))


def test_connector_pushdown_prunes_via_sidecar(stats_table, spark):
    t = stats_table
    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        register_snapshot_stream_source,
    )

    register_snapshot_stream_source(spark)
    got = (
        spark.read.format("snapshot_commits")
        .option("path", t.path)
        .load()
        .filter((F.col("k") >= 10_100) & (F.col("k") <= 10_200))
    )
    assert got.count() == 101
    assert os.path.exists(sidecar_path(t.path, t.current_snapshot_id()))


from hypothesis import given, settings
from hypothesis import strategies as st


@pytest.mark.slow
@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.tuples(
                st.integers(-1000, 1000), st.integers(0, 2000)
            ).map(lambda t: [t[0], t[0] + t[1]]),
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from(["=", "<", "<=", ">", ">="]),
    st.integers(-1500, 3500),
)
def test_columnar_plan_equals_reference_rule(ranges, op, lit):
    """Property: for ANY mix of statted/unstatted files and any
    operator, the sidecar plan keeps exactly the files the reference
    overlap rule keeps (missing stats always keep)."""
    import tempfile

    def keep(rng):
        if rng is None:
            return True
        lo, hi = rng
        return {
            "=": lo <= lit <= hi,
            "<": lo < lit,
            "<=": lo <= lit,
            ">": hi > lit,
            ">=": hi >= lit,
        }[op]

    with tempfile.TemporaryDirectory() as root:
        meta_dir = os.path.join(root, "metadata")
        os.makedirs(meta_dir)
        files = [f"data/f{i:04d}.parquet" for i in range(len(ranges))]
        snap = {
            "snapshot_id": 1,
            "parent": None,
            "timestamp_ms": 0,
            "operation": "append",
            "files": files,
            "file_stats": {
                f: ({"k": r} if r is not None else {})
                for f, r in zip(files, ranges)
            },
        }
        json.dump(snap, open(os.path.join(meta_dir, "snap-1.json"), "w"))
        open(os.path.join(meta_dir, "snapshot-hint.text"), "w").write("1")
        write_plan_index(root, snap)
        res = plan_paths(root, _fresh_doc(root, 1), [("k", op, lit)])
        assert res is not None
        expected = sorted(
            f for f, r in zip(files, ranges) if keep(r)
        )
        assert sorted(res[0]) == expected


def test_partition_pruned_scan_goes_columnar_and_matches_dict(
    spark, tmp_path
):
    """The sidecar carries partition tuples + spec definitions, so
    partition_pruned_scan plans columnar; the dict path (forced by
    deleting the sidecar metadata key via an older-format sidecar)
    must choose the same files — including spec evolution and
    pre-partitioning conservative files."""
    from iceberg_catalog_migrator_spark.sources import plan_index
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        partition_pruned_scan,
    )

    t = SnapshotTable(spark, str(tmp_path / "ppart"))
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    even = orders.filter(F.col("o_orderkey") % 2 == 0)
    odd = orders.filter(F.col("o_orderkey") % 2 == 1)
    append_partitioned(t, even, [("o_custkey", "bucket[8]")])
    t.append(odd.limit(7))  # unpartitioned: conservative keep
    some_cust = even.select("o_custkey").first()["o_custkey"]

    df, summary = partition_pruned_scan(t, {"o_custkey": some_cust})
    assert summary.get("columnar") is True
    expected = (
        even.filter(F.col("o_custkey") == some_cust)
        .unionByName(odd.limit(7).filter(F.col("o_custkey") == some_cust))
        .count()
    )
    assert df.count() == expected
    # unpartitioned files kept + exactly one bucket of 8
    assert summary["scanned_files"] == summary["total_files"] - 7

    # dict path (columnar disabled) chooses the SAME files
    orig = plan_index.plan_partition_paths
    try:
        plan_index.plan_partition_paths = lambda *a, **k: None
        import iceberg_catalog_migrator_spark.sources.snapshots as S

        df2, summary2 = partition_pruned_scan(t, {"o_custkey": some_cust})
    finally:
        plan_index.plan_partition_paths = orig
    assert "columnar" not in summary2
    assert summary2["scanned_files"] == summary["scanned_files"]
    assert summary2["total_files"] == summary["total_files"]
    assert df2.count() == df.count()


def test_partition_pruning_tracked_vintages_columnar_and_dict(
    spark, tmp_path
):
    """Round-12 ask #3: the columnar partition planner is UNGATED for
    schema-tracked tables — per-vintage typed probes make bucket hashes
    match each file's recorded vintage (widen), spec columns resolve by
    field id (rename), and reads are id-resolved. The forced dict path
    chooses the same files and rows."""
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources import plan_index
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        partition_pruned_scan,
        rename_column,
        track_schema,
        widen_column,
    )

    t = SnapshotTable(spark, str(tmp_path / "vintage"))
    append_partitioned(
        t,
        spark.range(0, 1000).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 16).cast("int").alias("b"),
        ),
        [("b", "bucket[8]")],
    )
    track_schema(t)
    widen_column(t, "b", "bigint")  # old files hash under INT, new under BIGINT
    append_partitioned(
        t,
        spark.range(1000, 2000).select(
            F.col("id").cast("bigint").alias("k"),
            (F.col("id") % 16).cast("bigint").alias("b"),
        ),
        [("b", "bucket[8]")],
    )
    rename_column(t, "b", "bb")  # spec still says "b": field ids resolve it
    expected = sum(1 for k in range(2000) if k % 16 == 3)

    df, summary = partition_pruned_scan(t, {"bb": 3})
    assert summary.get("columnar") is True
    assert summary["scanned_files"] < summary["total_files"]
    assert df.count() == expected

    # forced dict path: same files, same rows
    orig = plan_index.plan_partition_paths
    try:
        plan_index.plan_partition_paths = lambda *a, **k: None
        df2, summary2 = partition_pruned_scan(t, {"bb": 3})
    finally:
        plan_index.plan_partition_paths = orig
    assert "columnar" not in summary2
    assert summary2["scanned_files"] == summary["scanned_files"]
    assert summary2["total_files"] == summary["total_files"]
    assert df2.count() == expected
