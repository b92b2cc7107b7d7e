"""The merge-on-read delete sides: one driver-side Arrow loader of
equality-delete keys feeds every read path, whichever writer produced
the delete files, and its cost in Spark jobs does not grow with their
number; positional coordinates load under a declared schema, so no
read over pending vectors pays a schema-inference job for them."""

from __future__ import annotations

import os
import uuid
from collections import Counter
from datetime import datetime, timedelta, timezone

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.sources import snapshots as S
from iceberg_catalog_migrator_spark.sources.iceberg_format import (
    export_iceberg_metadata,
)
from iceberg_catalog_migrator_spark.sources.iceberg_read import read_iceberg_table
from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
    register_snapshot_stream_source,
)
from iceberg_catalog_migrator_spark.sources.snapshots import (
    MergeClause,
    SnapshotTable,
    delete_where,
    delete_where_positional,
    enable_row_lineage,
    merge_into,
    merge_upsert,
    read_with_deletes,
)

SCHEMA = "k bigint, s string, t timestamp, v bigint"
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _rows(keys):
    return [(i, f"s{i}", T0 + timedelta(seconds=i), 10 * i) for i in keys]


def _rows_in(root, f):
    return pq.read_metadata(os.path.join(root, f)).num_rows


def _canon(df):
    return sorted(
        df.select("k", "s", F.col("t").cast("string"), "v").collect()
    )


def _spark_written(self, tbl):
    """The delete-file writer of earlier releases: a Spark parquet
    write (INT96 timestamps, Spark's own string and nullability)."""
    return self._write_data_files(self.spark.createDataFrame(tbl).coalesce(1))[0]


@pytest.mark.parametrize("key_cols", [["t"], ["k", "s", "t"]])
def test_spark_and_arrow_written_delete_files_read_identically(
    spark, tmp_path, monkeypatch, key_cols
):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame(_rows(range(0, 20)), SCHEMA))
    with monkeypatch.context() as m:
        m.setattr(SnapshotTable, "_write_arrow_file", _spark_written)
        delete_where(t, key_cols, spark.createDataFrame(_rows(range(0, 5)), SCHEMA))
    # keys 3 and 4 come back after their deletion: the sequence-aware
    # branch has to keep them visible
    t.append(spark.createDataFrame(_rows(range(3, 25)), SCHEMA))
    delete_where(
        t, key_cols, spark.createDataFrame(_rows([8, 9, 10, 11, 22]), SCHEMA)
    )
    dels = S.load_manifest(t.path, t.current_snapshot_id())["deletes"]
    layouts = {
        str(pq.read_schema(os.path.join(t.path, d)).field("t").type) for d in dels
    }
    assert len(dels) == 2 and len(layouts) == 2  # two writers, two layouts

    model = list(range(5, 20)) + list(range(3, 25))
    expected = sorted(
        spark.createDataFrame(
            _rows([i for i in model if i not in (8, 9, 10, 11, 22)]), SCHEMA
        )
        .select("k", "s", F.col("t").cast("string"), "v")
        .collect()
    )
    assert _canon(read_with_deletes(t)) == expected
    register_snapshot_stream_source(spark)
    assert (
        _canon(spark.read.format("snapshot_commits").option("path", t.path).load())
        == expected
    )
    out = export_iceberg_metadata(t)
    assert _canon(read_iceberg_table(spark, out["metadata_location"])) == expected


def _jobs(spark, fn, name=""):
    """(result, exact number of Spark jobs ``fn`` ran whose name starts
    with ``name``; ``"parquet at"`` counts the schema-inference jobs of
    ``spark.read.parquet`` calls)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("tests", "tests")
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    ids = sc.statusTracker().getJobIdsForGroup(group)
    return out, sum(1 for i in ids if store.job(i).name().startswith(name))


def test_sequence_aware_read_jobs_do_not_grow_with_delete_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))

    def keyed(lo, hi):
        return spark.range(lo, hi, numPartitions=2).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )

    t.append(keyed(0, 100))
    delete_where(t, ["k"], keyed(0, 5))
    t.append(keyed(100, 110))  # an append after a delete
    snap = S.load_manifest(t.path, t.current_snapshot_id())
    assert S._eq_exempt_files(snap, snap["files"])  # sequence-aware branch
    n1, jobs1 = _jobs(spark, lambda: read_with_deletes(t).count())
    for lo in (10, 20, 30):
        delete_where(t, ["k"], keyed(lo, lo + 5))
    t.append(keyed(110, 120))
    assert len(S.load_manifest(t.path, t.current_snapshot_id())["deletes"]) == 4
    n4, jobs4 = _jobs(spark, lambda: read_with_deletes(t).count())
    assert (n1, n4) == (105, 100)
    assert jobs1 == jobs4


def test_delete_where_key_bounds_launch_no_job(spark, tmp_path, monkeypatch):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(spark.range(0, 50).select(F.col("id").alias("k")))
    seen = []
    real = S._key_range_candidates

    def probe(*args):
        out, jobs = _jobs(spark, lambda: real(*args))
        seen.append(jobs)
        return out

    monkeypatch.setattr(S, "_key_range_candidates", probe)
    delete_where(t, ["k"], spark.range(10, 20).select(F.col("id").alias("k")))
    assert seen == [0]
    assert S.metadata_count(t) == 40


@pytest.mark.parametrize("key_cols", [["k"], ["k", "g"]])
def test_null_delete_key_hides_no_row_on_any_read_path(spark, tmp_path, key_cols):
    """Today's null-key rule, pinned on all three read paths: a null in
    a delete key never matches, so it hides no row — not even a row
    whose own key is null. Iceberg's spec matches a null delete key to
    null data keys; adopting it changes the Arrow key filter and the
    DataFrame kernel in ``sources/mor.py``, and this case with them."""
    schema = "k bigint, g string, v bigint"
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame([(None, "a", 0), (1, "a", 10), (2, "a", 20)], schema)
    )
    delete_where(
        t,
        key_cols,
        spark.createDataFrame([(None, "a", 0), (2, "a", 0)], schema).select(*key_cols),
    )
    # an append after a delete: reads take the sequence-aware branch
    t.append(spark.createDataFrame([(None, "a", 1), (3, "a", 30)], schema))
    delete_where(
        t, key_cols, spark.createDataFrame([(None, "a", 0)], schema).select(*key_cols)
    )
    expected = Counter([(None, 0), (None, 1), (1, 10), (3, 30)])

    def bag(df):
        return Counter((r["k"], r["v"]) for r in df.collect())

    assert bag(read_with_deletes(t)) == expected
    register_snapshot_stream_source(spark)
    assert (
        bag(spark.read.format("snapshot_commits").option("path", t.path).load())
        == expected
    )
    out = export_iceberg_metadata(t)
    assert bag(read_iceberg_table(spark, out["metadata_location"])) == expected


def test_positional_paths_pay_no_schema_inference(spark, tmp_path):
    """2,000 rows in 4 files under two pending positional vectors: the
    job counts of building each read, and of a merge over the vectors.
    What remains is data-side work: the data files' mergeSchema footer
    merge, the changelog's touched-file collect (two jobs under AQE),
    its broadcast stages and its flip checkpoint. A merge's total
    varies with AQE's broadcast timing; its one inference job is the
    touched data file's."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.range(0, 2000, numPartitions=4).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
    )
    first = t.current_snapshot_id()
    delete_where_positional(t, "k % 10 = 0")
    delete_where_positional(t, "k % 7 = 0")
    head = t.current_snapshot_id()
    assert len(S.load_manifest(t.path, first)["files"]) == 4
    visible = 2000 - (200 + 286 - 29)  # k % 10 = 0 or k % 7 = 0 is hidden

    df, jobs = _jobs(spark, lambda: read_with_deletes(t))
    assert (jobs, df.count()) == (1, visible)
    changes, jobs = _jobs(spark, lambda: t.read_changelog(first, head))
    assert (jobs, changes.count()) == (6, 2000 - visible)
    out = export_iceberg_metadata(t, format_version=2)
    loc = out["metadata_location"]
    df, jobs = _jobs(spark, lambda: read_iceberg_table(spark, loc))
    assert (jobs, df.count()) == (0, visible)

    # keys 0-39 upsert; 9 of them were hidden
    src = spark.range(0, 40).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    _, jobs = _jobs(spark, lambda: merge_upsert(t, src, ["k"]), name="parquet at")
    assert jobs == 1
    assert read_with_deletes(t).count() == visible + 9


@pytest.mark.parametrize(
    "keys, carried_rows, want_jobs",
    [(range(0, 40), 343, 2), ([0, 500, 1000, 1500], 0, 1)],
)
def test_merge_carries_vectors_in_one_write(
    spark, tmp_path, monkeypatch, keys, carried_rows, want_jobs
):
    """A merge over pending vectors runs the surviving-coordinate plan
    once: it writes the coordinates of the files it carries (the
    distinct's shuffle stage and the write) and drops an output with
    no row by its footers. Upserting keys 0-39 touches one of the 4
    files; the other three keep their 343 hidden rows. Touching all 4
    leaves no coordinate to carry, and the empty plan is one job."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.range(0, 2000, numPartitions=4).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
    )
    delete_where_positional(t, "k % 10 = 0")
    delete_where_positional(t, "k % 7 = 0")
    seen = []
    real = S._carry_deletes_after_merge

    def probe(*args):
        out, jobs = _jobs(spark, lambda: real(*args))
        seen.append((jobs, out))
        return out

    monkeypatch.setattr(S, "_carry_deletes_after_merge", probe)
    src = spark.createDataFrame([(k, -1) for k in keys], "k bigint, v bigint")
    merge_upsert(t, src, ["k"])
    [(jobs, out)] = seen
    assert jobs == want_jobs
    vectors = out.get("pos_deletes", [])
    assert bool(vectors) == bool(carried_rows)
    assert sum(_rows_in(t.path, f) for f in vectors) == carried_rows
    data = os.path.join(t.path, "data")
    assert all(_rows_in(data, f) for f in os.listdir(data))
    visible = 2000 - (200 + 286 - 29)
    hidden_in_keys = sum(1 for k in keys if k % 10 == 0 or k % 7 == 0)
    assert read_with_deletes(t).count() == visible + hidden_in_keys


def test_merge_entry_points_share_one_frame_job_budget(spark, tmp_path):
    """Both merge entry points run one frame: 4 files x 500 rows and a
    40-key source over keys 480-519, which touches 2 files. The
    key-uniqueness check rides the bounds aggregate (measured: no job
    over ``check_unique=False``, where a separate check cost 2), so
    ``update *`` + ``insert *`` through ``merge_into`` runs at most 7
    jobs (measured 6, 8 before the shared frame). Lineage merges (17
    and 16 before, measured 10 and 9) read the id counter's advance
    from the written footers, and a merge into a table without a
    parent runs no more jobs than its one write plus the check. Totals
    move with AQE's timing, so the other ceilings are the counts before
    the shared frame."""
    src = spark.range(480, 520).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    star = [MergeClause("update"), MergeClause("insert")]

    def jobs(entry, check_unique=True, lineage=False, parent=True):
        t = SnapshotTable(spark, str(tmp_path / uuid.uuid4().hex))
        if parent:
            t.append(
                spark.range(0, 2000, numPartitions=4).select(
                    F.col("id").alias("k"), (F.col("id") * 3).alias("v")
                )
            )
        if lineage:
            enable_row_lineage(t)
        if entry == "upsert":
            res, n = _jobs(spark, lambda: merge_upsert(t, src, ["k"]))
        else:
            res, n = _jobs(
                spark,
                lambda: merge_into(t, src, ["k"], star, check_unique=check_unique),
            )
        assert res["rewritten"] == (2 if parent else 0)
        return n

    checked = jobs("into")
    assert checked <= 7
    assert checked - jobs("into", check_unique=False) <= 1
    assert jobs("upsert", lineage=True) <= 17
    assert jobs("into", lineage=True) <= 16
    assert jobs("upsert", parent=False) <= 3
    assert jobs("into", parent=False) <= 3
    assert jobs("into", check_unique=False, parent=False) <= 1


@pytest.mark.parametrize("n_deletes", [2, 4])
def test_foreign_equality_deletes_pay_no_schema_inference(spark, tmp_path, n_deletes):
    """Building a read of an exported table over 2 or 4 equality-delete
    files reads each under the key's declared type: no inference job,
    whatever the number of delete files."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.append(
        spark.range(0, 200, numPartitions=2).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
    )
    for i in range(n_deletes):
        doomed = spark.range(10 * i, 10 * i + 5).select(F.col("id").alias("k"))
        delete_where(t, ["k"], doomed)
    loc = export_iceberg_metadata(t)["metadata_location"]
    df, jobs = _jobs(spark, lambda: read_iceberg_table(spark, loc), name="parquet at")
    assert jobs == 0
    assert _canon_kv(df) == _canon_kv(read_with_deletes(t))
    assert df.count() == 200 - 5 * n_deletes


def _canon_kv(df):
    return sorted(df.select("k", "v").collect())
