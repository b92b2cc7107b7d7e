"""Stats-served MERGE pruning through the segmented plan index
(round-12 verdict ask #2).

Pins: (a) the prune no longer reads the resolved dict's ``file_stats``
— stripping the map from the snapshot changes nothing; (b) steady-state
merges make zero footer reads (the existing counting contract) AND
zero dict-stat probes; (c) the columnar prune chooses exactly the dict
loop's files under stats + partition sets + footer fallback; (d) the
prune step's memory is an order of magnitude under the resolved dict
at 50k synthetic files (tracemalloc — memory only, never timed in the
same run)."""

import json
import os
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

import iceberg_catalog_migrator_spark.sources.snapshots as S
from iceberg_catalog_migrator_spark.sources import pruning
from iceberg_catalog_migrator_spark.sources.plan_index import (
    _fresh_doc,
    write_plan_index,
)
from iceberg_catalog_migrator_spark.sources.snapshots import (
    MergeClause,
    SnapshotTable,
    _merge_prune,
    merge_into,
    merge_upsert,
    record_file_stats,
)


@pytest.fixture()
def indexed_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "mcp"))
    t.append(
        spark.range(0, 24_000)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartitionByRange(24, "k")
    )
    record_file_stats(t, ["k"])
    return t


def _bounds(lo, hi):
    return SimpleNamespace(lo=lo, hi=hi, n=1)


def _sidecar_prune(monkeypatch, *args):
    """``_merge_prune`` with the manifest dict loop forbidden: what it
    returns is the sidecar's answer."""

    def no_dict(*a, **k):
        raise AssertionError("the sidecar did not answer")

    with monkeypatch.context() as m:
        m.setattr(pruning, "_plan_dict", no_dict)
        return _merge_prune(*args)


def test_prune_never_reads_dict_stats_or_footers(indexed_table, spark, monkeypatch):
    """The verdict's no-dict-materialization pin: with the index fresh,
    the prune answers with the snapshot's file_stats REMOVED and footer
    reads FORBIDDEN — so it provably reads neither."""
    t = indexed_table
    snap = t._load_snap(t.current_snapshot_id())
    src = spark.range(5_000, 5_050).select(
        F.col("id").alias("k"), F.lit(99).alias("v")
    )
    full = _merge_prune(t, snap, src, ["k"], _bounds(5_000, 5_049))

    def boom(path, col):
        raise AssertionError("footer read in steady-state prune")

    monkeypatch.setattr(S, "_file_key_range", boom)
    stripped = dict(snap)
    stripped.pop("file_stats")
    res = _merge_prune(t, stripped, src, ["k"], _bounds(5_000, 5_049))
    assert res[0] == full[0] and res[1] == full[1]
    assert len(res[0]) < len(snap["files"])  # actually pruned
    assert res[2] == {}  # nothing discovered: stats served by the index


def test_columnar_prune_equals_dict_prune(indexed_table, spark, monkeypatch):
    t = indexed_table
    sid = t.current_snapshot_id()
    snap = t._load_snap(sid)
    src = spark.range(10_000, 10_020).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    b = _bounds(10_000, 10_019)
    col = _sidecar_prune(monkeypatch, t, snap, src, ["k"], b)
    assert col is not None
    import iceberg_catalog_migrator_spark.sources.plan_index as P

    orig = P.plan_paths
    try:
        P.plan_paths = lambda *a, **k: None  # force the dict loop
        dict_res = _merge_prune(t, snap, src, ["k"], b)
    finally:
        P.plan_paths = orig
    assert col[0] == dict_res[0]
    assert col[1] == dict_res[1]
    assert col[2] == dict_res[2]


def test_columnar_prune_with_partitions_and_footer_fallback(spark, tmp_path, monkeypatch):
    """All three stages at once: bucket-partitioned files prune by the
    source's transformed sets, unstatted files pay exactly one footer
    read and ride the discovered map — identical to the dict loop."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
    )

    t = SnapshotTable(spark, str(tmp_path / "mpart"))
    append_partitioned(
        t,
        spark.range(0, 4_000).select(
            F.col("id").alias("k"), (F.col("id") % 16).alias("b")
        ),
        [("b", "bucket[8]")],
    )
    record_file_stats(t, ["k"])
    # unstatted conservative files (plain append, no stats recorded)
    t.append(
        spark.range(4_000, 4_100)
        .select(F.col("id").alias("k"), (F.col("id") % 16).alias("b"))
        .repartition(1)
    )
    sid = t.current_snapshot_id()
    snap = t._load_snap(sid)
    src = spark.range(100, 140).select(
        F.col("id").alias("k"), (F.col("id") % 16).alias("b")
    )
    b = _bounds(100, 139)
    col = _sidecar_prune(monkeypatch, t, snap, src, ["b", "k"], b)
    assert col is not None
    import iceberg_catalog_migrator_spark.sources.plan_index as P

    orig = P.plan_paths
    try:
        P.plan_paths = lambda *a, **k: None
        dict_res = _merge_prune(t, snap, src, ["b", "k"], b)
    finally:
        P.plan_paths = orig
    assert col[0] == dict_res[0]
    assert col[1] == dict_res[1]
    assert col[2] == dict_res[2]
    # and the end-to-end merge over the index is exact
    res = merge_into(
        t,
        src.withColumn("b", F.col("b").cast("bigint")),
        ["b", "k"],
        [MergeClause("update"), MergeClause("insert")],
    )
    assert res["rewritten"] >= 1
    got = t.read().filter((F.col("k") >= 100) & (F.col("k") < 140)).count()
    assert got == 40


def test_merge_keeps_zero_footer_reads_via_index(indexed_table, spark, monkeypatch):
    """The round-9 steady-state contract survives the columnar route:
    stats recorded → merge plans with zero footer reads AND the prune
    goes through the index (not the dict loop)."""
    t = indexed_table
    used = {"columnar": 0}
    real = pruning._plan_sidecar

    def spy(*a, **k):
        out = real(*a, **k)
        if out is not None:
            used["columnar"] += 1
        return out

    monkeypatch.setattr(pruning, "_plan_sidecar", spy)

    def boom(path, col):
        raise AssertionError("footer read in steady-state merge")

    monkeypatch.setattr(S, "_file_key_range", boom)
    src = spark.range(7_000, 7_010).select(
        F.col("id").alias("k"), F.lit(5).alias("v")
    )
    res = merge_upsert(t, src, ["k"])
    assert used["columnar"] == 1
    assert res["rewritten"] < 24
    got = t.read().filter(
        (F.col("k") >= 7_000) & (F.col("k") < 7_010) & (F.col("v") == 5)
    )
    assert got.count() == 10


def test_prune_memory_order_under_dict_at_50k(tmp_path, monkeypatch):
    """tracemalloc pin (memory only): pruning a one-file merge window
    over a 50k-file indexed snapshot peaks an order of magnitude under
    json-loading the resolved dict — the prune holds matching rows and
    the path lists, never the per-file stat maps."""
    import sys
    import tracemalloc

    sys.path.insert(0, "scripts")
    from scale_plan_index import build_table

    n = 50_000
    root = str(tmp_path / "mprune")
    build_table(root, n)
    with open(os.path.join(root, "metadata", "snap-1.json")) as f:
        snap = json.load(f)
    dummy = SimpleNamespace(path=root)
    lo, hi = (n // 2) * 100, (n // 2) * 100 + 50
    tracemalloc.start()
    res = _sidecar_prune(monkeypatch, dummy, snap, None, ["k"], _bounds(lo, hi))
    _, prune_peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert res is not None
    touched, carried, discovered = res
    assert len(touched) == 1 and discovered == {}
    assert len(carried) == n - 1
    tracemalloc.start()
    with open(os.path.join(root, "metadata", "snap-1.json")) as f:
        json.load(f)
    _, dict_peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert prune_peak * 4 < dict_peak, (prune_peak, dict_peak)


def test_merge_widened_bucket_tracked_updates_matched_rows(spark, tmp_path):
    """bucket's hash is TYPE-sensitive: a merge key written under a
    narrower vintage must still match after widening. A single-vintage
    partition probe renders only the source's (wide) type, wrongly
    carries the old file, and the MATCHED row duplicates as an insert
    — the probe must render one value per schema vintage, exactly
    like the scan path's probes."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        read_with_deletes,
        track_schema,
        widen_column,
    )

    t = SnapshotTable(spark, str(tmp_path / "wtr"))
    append_partitioned(
        t,
        spark.range(0, 100).select(
            F.col("id").cast("int").alias("k"), F.lit(1.0).alias("v")
        ),
        [("k", "bucket[8]")],
    )
    track_schema(t)
    widen_column(t, "k", "bigint")
    # k=5: bucket 2 under INT, bucket 4 under BIGINT — the vintages
    # disagree, so a source-typed-only probe misses the real file
    src = spark.createDataFrame([(5, 99.0)], "k bigint, v double")
    res = merge_upsert(t, src, ["k"])
    assert res["rewritten"] >= 1
    rows = read_with_deletes(t).filter("k = 5").collect()
    assert [(r.k, r.v) for r in rows] == [(5, 99.0)]
    assert read_with_deletes(t).count() == 100


def test_merge_tracked_columnar_equals_dict(spark, tmp_path, monkeypatch):
    """With the index built, a tracked table's merge prune goes
    COLUMNAR and chooses exactly the dict loop's files — multi-vintage
    bucket probes, renamed stats fallback and all."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        track_schema,
        widen_column,
    )

    t = SnapshotTable(spark, str(tmp_path / "wcol"))
    append_partitioned(
        t,
        spark.range(0, 2_000).select(
            F.col("id").cast("int").alias("k"), F.lit(1.0).alias("v")
        ),
        [("k", "bucket[8]")],
    )
    track_schema(t)
    widen_column(t, "k", "bigint")
    append_partitioned(
        t,
        spark.range(2_000, 3_000).select(
            F.col("id").cast("bigint").alias("k"), F.lit(2.0).alias("v")
        ),
        [("k", "bucket[8]")],
    )
    record_file_stats(t, ["k"])
    sid = t.current_snapshot_id()
    assert _fresh_doc(t.path, sid) is not None
    snap = t._load_snap(sid)
    src = spark.createDataFrame(
        [(5, 99.0), (2_500, 98.0)], "k bigint, v double"
    )
    b = _bounds(5, 2_500)
    col = _sidecar_prune(monkeypatch, t, snap, src, ["k"], b)
    assert col is not None, "tracked tables must plan columnar now"
    import iceberg_catalog_migrator_spark.sources.plan_index as P

    orig = P.plan_paths
    try:
        P.plan_paths = lambda *a, **k: None
        dict_res = _merge_prune(t, snap, src, ["k"], b)
    finally:
        P.plan_paths = orig
    assert col[0] == dict_res[0]
    assert col[1] == dict_res[1]
    assert col[2] == dict_res[2]
    # both vintages' owning files are touched (5 under int, 2500 under
    # bigint), and the full merge lands exactly
    res = merge_upsert(t, src, ["k"])
    assert res["rewritten"] >= 2
    got = {r.k: r.v for r in t.read().filter("k in (5, 2500)").collect()}
    assert got == {5: 99.0, 2500: 98.0}
    assert t.read().count() == 3_000


@pytest.mark.parametrize("evolve", ["rename", "widen_then_rename"])
def test_merge_tracked_evolution_matrix(spark, tmp_path, evolve, monkeypatch):
    """Columnar == dict across the evolution shapes that bend the
    probes: renamed merge keys resolve the spec's recorded (old)
    column name through field ids; widened vintages probe per type;
    stat-less files footer-fallback under their WRITTEN name. End to
    end, the merge updates exactly the matched rows."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        read_with_deletes,
        rename_column,
        track_schema,
        widen_column,
    )

    t = SnapshotTable(spark, str(tmp_path / f"ev-{evolve}"))
    append_partitioned(
        t,
        spark.range(0, 1_000).select(
            F.col("id").cast("int").alias("k"), F.lit(1.0).alias("v")
        ),
        [("k", "bucket[8]")],
    )
    track_schema(t)
    if evolve == "widen_then_rename":
        widen_column(t, "k", "bigint")
    rename_column(t, "k", "key")
    # post-evolution partitioned append under the new name (new spec)
    append_partitioned(
        t,
        spark.range(1_000, 1_500).select(
            F.col("id").cast("bigint" if evolve == "widen_then_rename" else "int").alias("key"),
            F.lit(2.0).alias("v"),
        ),
        [("key", "bucket[8]")],
    )
    record_file_stats(t, ["key"])
    # one more stat-less file: exercises the footer fallback under the
    # file's written (current) name
    t.append(
        spark.range(1_500, 1_520)
        .select(
            F.col("id").cast("bigint" if evolve == "widen_then_rename" else "int").alias("key"),
            F.lit(3.0).alias("v"),
        )
        .coalesce(1)
    )
    sid = t.current_snapshot_id()
    assert _fresh_doc(t.path, sid) is not None
    snap = t._load_snap(sid)
    ktype = "bigint" if evolve == "widen_then_rename" else "int"
    src = spark.createDataFrame(
        [(7, 99.0), (1_200, 98.0), (1_510, 97.0)], f"key {ktype}, v double"
    )
    b = _bounds(7, 1_510)
    col = _sidecar_prune(monkeypatch, t, snap, src, ["key"], b)
    assert col is not None
    import iceberg_catalog_migrator_spark.sources.plan_index as P

    orig = P.plan_paths
    try:
        P.plan_paths = lambda *a, **k: None
        dict_res = _merge_prune(t, snap, src, ["key"], b)
    finally:
        P.plan_paths = orig
    assert col[0] == dict_res[0] and col[1] == dict_res[1]
    assert col[2] == dict_res[2]
    res = merge_upsert(t, src, ["key"])
    assert res["rewritten"] >= 3
    got = {
        r.key: r.v
        for r in read_with_deletes(t)
        .filter("key in (7, 1200, 1510)")
        .collect()
    }
    assert got == {7: 99.0, 1200: 98.0, 1510: 97.0}
    assert read_with_deletes(t).count() == 1_520
