"""The file-pruning planner (``sources/pruning.py``): what its plans
cost in Spark jobs and in data-file reads, and its answer for bounds
or partition values that do not compare with the literal as written."""

from __future__ import annotations

import uuid
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.sources import pruning
from iceberg_catalog_migrator_spark.sources.plan_index import write_plan_index
from iceberg_catalog_migrator_spark.sources.snapshots import (
    SnapshotTable,
    _merge_prune,
    append_partitioned,
    partition_pruned_scan,
    planned_scan,
    record_file_stats,
    track_schema,
    widen_column,
)


def _jobs(spark, fn):
    """(result, exact number of Spark jobs ``fn`` ran)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("tests", "tests")
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _two_spec_table(spark, path, widened: bool) -> SnapshotTable:
    """``bucket[8](k)`` on an ``int`` k, then a second spec
    ``bucket[4](k), identity(tag)``; tracked and widened to bigint
    between the two appends when ``widened``."""
    t = SnapshotTable(spark, path)

    def rows(lo, hi, ktype):
        return spark.range(lo, hi, numPartitions=2).select(
            F.col("id").cast(ktype).alias("k"),
            (F.col("id") % 3).cast("string").alias("tag"),
            F.lit(1).alias("v"),
        )

    append_partitioned(t, rows(0, 60, "int"), [("k", "bucket[8]")])
    if widened:
        track_schema(t)
        widen_column(t, "k", "bigint")
    append_partitioned(
        t,
        rows(60, 120, "bigint" if widened else "int"),
        [("k", "bucket[4]"), ("tag", "identity")],
    )
    return t


def test_untracked_point_scan_plans_in_three_jobs(spark, tmp_path):
    t = _two_spec_table(spark, str(tmp_path / "t"), widened=False)
    (df, summary), jobs = _jobs(
        spark, lambda: partition_pruned_scan(t, {"k": 70, "tag": "1"})
    )
    assert jobs <= 3
    assert summary["scanned_files"] < summary["total_files"]
    assert [(r.k, r.tag) for r in df.collect()] == [(70, "1")]


def test_widened_two_key_merge_prune_plans_in_four_jobs(spark, tmp_path):
    t = _two_spec_table(spark, str(tmp_path / "t"), widened=True)
    snap = t._load_snap(t.current_snapshot_id())
    src = spark.createDataFrame(
        [(5, "2", 9), (70, "1", 9)], "k bigint, tag string, v int"
    )
    (touched, carried, _), jobs = _jobs(
        spark,
        lambda: _merge_prune(
            t, snap, src, ["k", "tag"], SimpleNamespace(lo=5, hi=70, n=2)
        ),
    )
    assert jobs <= 4
    assert carried
    # both keys' files are touched: 5 under the int vintage, 70 under
    # bigint
    hit = set(
        t.read()
        .filter("k IN (5, 70)")
        .select(F.element_at(F.split(F.input_file_name(), "/"), -1))
        .distinct()
        .toPandas()
        .iloc[:, 0]
    )
    assert hit <= {f.rsplit("/", 1)[-1] for f in touched}


def test_planned_scan_keeps_files_whose_stats_do_not_compare(spark, tmp_path):
    """A string column's recorded bounds do not order against int
    literals: the file is kept and the exact filter decides, exactly
    like Spark's own ``between`` over the same table."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(
        spark.range(0, 10, numPartitions=2).select(
            F.col("id").cast("string").alias("s")
        )
    )
    record_file_stats(t, ["s"])
    df, summary = planned_scan(t, "s", 1, 3)
    assert summary["scanned_files"] == summary["total_files"]
    want = t.read().filter(F.col("s").between(1, 3))
    assert sorted(df.collect()) == sorted(want.collect())
    assert df.count() == 3


def test_untracked_partition_probes_read_no_data_file(spark, tmp_path, monkeypatch):
    """append_partitioned records the key types on its spec, so merge
    and scan probes render at them without reading a data file; a spec
    without them (older metadata) reads the type from a footer and
    plans the same files."""
    t = _two_spec_table(spark, str(tmp_path / "t"), widened=False)
    snap = t._load_snap(t.current_snapshot_id())
    assert [s["types"] for s in snap["partition_specs"]] == [
        {"k": "int"},
        {"k": "int", "tag": "string"},
    ]
    src = spark.createDataFrame(
        [(5, "2", 9), (70, "1", 9)], "k bigint, tag string, v int"
    )
    bounds = SimpleNamespace(lo=5, hi=70, n=2)
    older = {
        **snap,
        "partition_specs": [
            {"spec_id": s["spec_id"], "spec": s["spec"]}
            for s in snap["partition_specs"]
        ],
    }
    reads = []
    real = pruning._file_schema
    # the older metadata is what the snapshot's index was written from too
    write_plan_index(t.path, older)
    with monkeypatch.context() as m:
        m.setattr(pruning, "_file_schema", lambda *a: reads.append(a) or real(*a))
        from_footer = _merge_prune(t, older, src, ["k", "tag"], bounds)
    assert reads
    write_plan_index(t.path, snap)

    def no_footer(*a, **k):
        raise AssertionError("data file read at plan time")

    with monkeypatch.context() as m:
        m.setattr(pruning, "_file_schema", no_footer)
        recorded = _merge_prune(t, snap, src, ["k", "tag"], bounds)
        df, summary = partition_pruned_scan(t, {"k": 70, "tag": "1"})
        assert [(r.k, r.tag) for r in df.collect()] == [(70, "1")]
    assert recorded == from_footer
    assert len(recorded[0]) < len(snap["files"])


@pytest.mark.parametrize("transform", ["identity", "truncate[2]"])
def test_non_string_literal_on_string_partition_keeps_files(
    spark, tmp_path, transform
):
    """Spark compares a string column with an int literal by casting the
    column, so ``s = 1`` matches "01" though 1 renders as "1": the
    position is not pruned on, and the plan returns the unplanned
    filter's rows — for a point scan and a merge source alike."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    append_partitioned(
        t,
        spark.createDataFrame(
            [("1", 1), ("01", 2), ("2", 3), ("002", 4)], "s string, v int"
        ),
        [("s", transform)],
    )
    df, summary = partition_pruned_scan(t, {"s": 1})
    want = t.read().filter(F.col("s") == 1)
    assert sorted(df.collect()) == sorted(want.collect())
    assert sorted(r.v for r in df.collect()) == [1, 2]

    snap = t._load_snap(t.current_snapshot_id())
    src = spark.createDataFrame([(2, 0)], "s int, v int")
    touched, _, _ = _merge_prune(
        t, snap, src, ["s"], SimpleNamespace(lo=2, hi=2, n=1)
    )
    hit = (
        t.read()
        .filter(F.col("s") == 2)
        .select(F.element_at(F.split(F.input_file_name(), "/"), -1))
        .distinct()
        .toPandas()
        .iloc[:, 0]
    )
    assert len(hit) == 2
    assert set(hit) <= {f.rsplit("/", 1)[-1] for f in touched}
