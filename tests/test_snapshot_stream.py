"""Streaming reads over snapshot tables: offsets are snapshot ids, a
micro-batch scans only added files, restarts resume from the checkpoint
with no duplicates, and non-append history fails loudly."""

import os

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.sources import load_table
from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
    SNAPSHOT_STREAM_NAME,
    register_snapshot_stream_source,
)
from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable

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


def _drain(spark, table, out_dir, ckpt, **options):
    register_snapshot_stream_source(spark)
    reader = spark.readStream.format(SNAPSHOT_STREAM_NAME).option("path", table.path)
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_drains_all_commits_once(spark, table, tmp_path):
    even, odd = halves(spark)
    table.append(even)
    table.append(odd)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, table, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == even.count() + odd.count()
    assert got.exceptAll(even.unionByName(odd)).count() == 0


def test_stream_restart_resumes_without_duplicates(spark, table, tmp_path):
    even, odd = halves(spark)
    table.append(even)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, table, out, ckpt)
    assert spark.read.parquet(out).count() == even.count()
    # new commit after the first drain: the restarted query reads ONLY it
    table.append(odd)
    _drain(spark, table, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == even.count() + odd.count()
    assert got.exceptAll(even.unionByName(odd)).count() == 0


def test_stream_rejects_rewrites_in_range(spark, table, tmp_path):
    even, odd = halves(spark)
    table.append(even)
    table.overwrite(odd.limit(10))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="append stream cannot represent"):
        _drain(spark, table, out, ckpt)
    # opting in streams the overwrite's files as if appended
    _drain(spark, table, str(tmp_path / "out2"), str(tmp_path / "ckpt2"),
           ignore_changes="true")
    assert spark.read.parquet(str(tmp_path / "out2")).count() >= 10


def test_stream_starting_snapshot_skips_history(spark, table, tmp_path):
    even, odd = halves(spark)
    s1 = table.append(even)
    table.append(odd)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, table, out, ckpt, starting_snapshot=str(s1))
    got = spark.read.parquet(out)
    assert got.count() == odd.count()
    assert got.exceptAll(odd).count() == 0


def test_stream_partitions_fan_out_per_file(spark, table, tmp_path):
    even, _ = halves(spark)
    table.append(even.repartition(4))
    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        _SnapshotStreamReader,
    )

    reader = _SnapshotStreamReader({"path": table.path})
    parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
    assert len(parts) == 4
    assert all(os.path.exists(p.value) for p in parts)


def test_streaming_wap_publish_on_branch(spark, table, tmp_path):
    """Streaming write-audit-publish: epochs land on a staging branch,
    main serves the pre-stream state until one fast-forward publish."""
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        write_stream_to_snapshot_table,
    )

    even, odd = halves(spark)
    table.append(even)
    table.create_branch("staging")
    published_before = table.read().count()

    src = str(tmp_path / "incoming")
    odd.repartition(3).write.parquet(src)
    stream = spark.readStream.schema(odd.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = write_stream_to_snapshot_table(
        stream, table, str(tmp_path / "ckpt"), ref="staging"
    )
    q.awaitTermination(120)

    # while staged: main unchanged, branch carries every epoch
    assert table.read().count() == published_before
    staged = table.read(ref="staging")
    assert staged.count() == even.count() + odd.count()
    # audit passes -> publish is one pointer move
    table.fast_forward("main", "staging")
    assert table.read().count() == even.count() + odd.count()
    # epoch ids recorded across the branch's snapshots
    epochs = [s.get("epoch") for s in table.history() if s.get("epoch") is not None]
    assert len(epochs) == len(set(epochs)) >= 1


def test_stream_tails_a_branch(spark, table, tmp_path):
    even, odd = halves(spark)
    table.append(even)
    table.create_branch("staging")
    table.append(odd, ref="staging")  # staged only
    out_m, out_b = str(tmp_path / "main_out"), str(tmp_path / "branch_out")
    _drain(spark, table, out_m, str(tmp_path / "ckpt_m"))
    _drain(spark, table, out_b, str(tmp_path / "ckpt_b"), ref="staging")
    assert spark.read.parquet(out_m).count() == even.count()
    assert spark.read.parquet(out_b).count() == even.count() + odd.count()


def test_stream_schema_follows_tailed_ref(spark, table, tmp_path):
    """The declared schema must come from the ref being TAILED: a
    staging branch whose head additively evolved ahead of main streams
    the new column; main-only readers are unaffected."""
    even, _ = halves(spark)
    table.append(even)
    table.create_branch("staging")
    evolved = even.limit(10).withColumn("audit_note", F.lit("staged"))
    table.append(evolved, ref="staging")

    register_snapshot_stream_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    df = (
        spark.readStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("ref", "staging")
        .load()
    )
    assert "audit_note" in df.columns
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == even.count() + 10
    assert got.filter(F.col("audit_note") == "staged").count() == 10


def test_stream_schema_branch_only_table(spark, table, tmp_path):
    """A table whose only commits live on a branch (main never written)
    must still resolve a schema when that branch is tailed."""
    even, _ = halves(spark)
    table.append(even)  # bootstrap main so the branch can fork...
    table.create_branch("dev")
    # ...then simulate branch-only by tailing dev after it advances
    table.append(even.limit(5), ref="dev")
    register_snapshot_stream_source(spark)
    df = (
        spark.readStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("ref", "dev")
        .load()
    )
    assert df.columns == ["o_orderkey", "o_totalprice"]


def test_changelog_stream_matches_batch_changelog(spark, table, tmp_path):
    """changelog=true: the drained stream over an append + delete +
    append history equals the concatenation of the per-commit batch
    changelogs — the tail IS a CDC stream, deletes included."""
    from iceberg_catalog_migrator_spark.sources.snapshots import delete_where

    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    s1 = table.append(base)
    # keys 200..216 don't exist yet: sequence-aware deletes only apply
    # to files sequenced BEFORE them, so these extra keys are no-ops
    doomed = spark.range(0, 220, 4).select(F.col("id").alias("k"))
    s2 = delete_where(table, ["k"], doomed)
    # second append re-uses deleted keys: its rows are sequenced after
    # the delete, stay visible, and surface as inserts in both diffs
    more = spark.range(198, 210).select(
        F.col("id").alias("k"), F.lit(99).cast("long").alias("v")
    )
    s3 = table.append(more)

    register_snapshot_stream_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("changelog", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    drained = spark.read.parquet(out)
    # rows carry the commit ordinal (Iceberg's _change_ordinal): the
    # delete commit's rows are stamped s2, each append its own sid
    assert set(drained.columns) >= {"_change_type", "_commit_snapshot_id"}
    by_sid = {
        r["_commit_snapshot_id"]: r["cnt"]
        for r in drained.groupBy("_commit_snapshot_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert set(by_sid) == {s1, s2, s3}
    assert (
        drained.filter("_change_type = 'delete'")
        .select("_commit_snapshot_id")
        .distinct()
        .collect()[0][0]
        == s2
    )
    got = drained.drop("_commit_snapshot_id")

    expected = (
        table.read_changelog(s1, s2)
        .unionByName(table.read_changelog(s2, s3))
        .unionByName(
            table.read(s1).withColumn("_change_type", F.lit("insert"))
        )
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # spot semantics: deletes are the newly-hidden rows (keys that
    # matched no row emit nothing), with values
    dels = got.filter("_change_type = 'delete'")
    assert dels.count() == 50  # k = 0, 4, ..., 196
    assert dels.filter(F.col("k") % 4 != 0).count() == 0
    assert dels.select("v").distinct().count() > 1  # full rows, not bare keys
    # keys "pre-deleted" before the second append do NOT hide its rows:
    # the append is sequenced after the delete (Iceberg's data-sequence
    # rule), so every row of it surfaces as an insert — in the stream
    # AND the batch diff alike (the equivalence above already held)
    ins3 = got.filter("_change_type = 'insert' AND v = 99")
    assert ins3.count() == more.count()


# ------------------------------------------------------------ batch IO
def test_batch_write_and_read_roundtrip(spark, table, tmp_path):
    """df.write.format('snapshot_commits'): each task stages one file,
    the driver commits one atomic snapshot; spark.read sees exactly the
    committed state, with time travel via snapshot_id."""
    even, odd = halves(spark)
    register_snapshot_stream_source(spark)
    (
        even.repartition(3)
        .write.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .mode("append")
        .save()
    )
    assert table.current_snapshot_id() == 1
    assert table.read().count() == even.count()
    (
        odd.write.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .mode("append")
        .save()
    )
    got = (
        spark.read.format(SNAPSHOT_STREAM_NAME).option("path", table.path).load()
    )
    assert got.count() == even.count() + odd.count()
    assert got.exceptAll(even.unionByName(odd)).count() == 0
    # time travel through the connector
    tt = (
        spark.read.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("snapshot_id", "1")
        .load()
    )
    assert tt.count() == even.count()
    # overwrite mode replaces content in one commit
    (
        odd.limit(10)
        .write.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .mode("overwrite")
        .save()
    )
    assert table.read().count() == 10
    assert table._load_snap(table.current_snapshot_id())["operation"] == "overwrite"


def test_batch_write_on_branch_and_mor_read(spark, table, tmp_path):
    """Connector writes stage on a ref; connector reads apply pending
    equality deletes (the table's real read contract) unless opted out."""
    from iceberg_catalog_migrator_spark.sources.snapshots import delete_where

    even, odd = halves(spark)
    register_snapshot_stream_source(spark)
    table.append(even)
    table.create_branch("stage")
    (
        odd.write.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("ref", "stage")
        .mode("append")
        .save()
    )
    assert table.read().count() == even.count()  # main untouched
    assert table.read(ref="stage").count() == even.count() + odd.count()
    # MOR deletes applied by the connector read
    doomed = even.filter(F.col("o_orderkey") % 10 == 0).select("o_orderkey")
    delete_where(table, ["o_orderkey"], doomed)
    got = (
        spark.read.format(SNAPSHOT_STREAM_NAME).option("path", table.path).load()
    )
    assert got.count() == even.count() - doomed.count()
    raw = (
        spark.read.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("apply_deletes", "false")
        .load()
    )
    assert raw.count() == even.count()


def test_batch_read_pushdown_prunes_files(spark, table, tmp_path):
    """pushFilters: range predicates intersect the manifest's per-file
    [min, max] envelopes, so a clustered table's pruned files are never
    opened — verified at the partition-planning level AND end-to-end."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        _SnapshotBatchReader,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import rewrite_sorted

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    table.append(orders.repartition(8))
    rewrite_sorted(table, ["o_totalprice"], n_files=8)
    reader = _SnapshotBatchReader(
        {"path": table.path},
        spark.createDataFrame([], "o_orderkey bigint, o_totalprice double").schema,
    )
    total = len(reader.partitions())
    kept = reader.pushFilters(
        [
            GreaterThanOrEqual(("o_totalprice",), 1000.0),
            LessThanOrEqual(("o_totalprice",), 5000.0),
        ]
    )
    assert len(list(kept)) == 2  # all filters returned: Spark re-applies
    pruned = len(reader.partitions())
    assert pruned < total // 2 + 1
    # end-to-end: the same predicate through spark.read matches a plain read
    register_snapshot_stream_source(spark)
    got = (
        spark.read.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .load()
        .filter("o_totalprice BETWEEN 1000 AND 5000")
    )
    want = orders.filter("o_totalprice BETWEEN 1000 AND 5000")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_batch_read_resolves_renamed_table(spark, table, tmp_path):
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        track_schema,
    )

    base = spark.range(0, 30).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    table.append(base)
    track_schema(table)
    rename_column(table, "v", "value")
    register_snapshot_stream_source(spark)
    got = (
        spark.read.format(SNAPSHOT_STREAM_NAME).option("path", table.path).load()
    )
    assert got.columns == ["k", "value"]
    assert got.agg(F.sum("value")).first()[0] == 30


def test_batch_and_stream_option_validation(spark, table, tmp_path):
    """Invalid option combinations fail loudly instead of silently
    null-filling: changelog is stream-only, snapshot_id is batch-only,
    and snapshot_id+ref together are rejected like read()'s API."""
    even, _ = halves(spark)
    table.append(even)
    register_snapshot_stream_source(spark)
    with pytest.raises(Exception, match="STREAMING option"):
        (
            spark.read.format(SNAPSHOT_STREAM_NAME)
            .option("path", table.path)
            .option("changelog", "true")
            .load()
            .count()
        )
    with pytest.raises(
        Exception, match="at most one of snapshot_id, ref, as_of_timestamp"
    ):
        (
            spark.read.format(SNAPSHOT_STREAM_NAME)
            .option("path", table.path)
            .option("snapshot_id", "1")
            .option("ref", "main")
            .load()
            .count()
        )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises((Exception, StreamingQueryException), match="BATCH option"):
        q = (
            spark.readStream.format(SNAPSHOT_STREAM_NAME)
            .option("path", table.path)
            .option("snapshot_id", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)


def test_changelog_stream_survives_maintenance(spark, table, tmp_path):
    """Row-preserving maintenance (compaction of deletes, bin-packing)
    diffs to empty — the CDC tail skips those commits instead of dying,
    and the drained stream still equals the concatenated per-commit
    batch changelogs."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        compact_deletes,
        delete_where,
        rewrite_small_files,
    )

    base = spark.range(0, 120).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("v")
    )
    s1 = table.append(base)
    s2 = delete_where(table, ["k"], spark.range(0, 120, 3).select(F.col("id").alias("k")))
    compact_deletes(table)  # row-preserving
    rewrite_small_files(table, target_bytes=1 << 30)  # row-preserving
    more = spark.range(200, 230).select(
        F.col("id").alias("k"), F.lit(9).cast("long").alias("v")
    )
    table.append(more)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    register_snapshot_stream_source(spark)
    q = (
        spark.readStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("changelog", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).drop("_commit_snapshot_id")
    # the two maintenance commits contribute NOTHING: expected is just
    # the first insert set, the delete diff, and the last insert set
    expected = (
        table.read(s1).withColumn("_change_type", F.lit("insert"))
        .unionByName(table.read_changelog(s1, s2))
        .unionByName(more.withColumn("_change_type", F.lit("insert")))
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cdc_replication_stream(spark, table, tmp_path):
    """Table mirroring through the changelog stream, drained after EACH
    source mutation so every replica apply path runs against real
    state: the empty-replica bootstrap, a delete-only epoch, an insert
    epoch, a mixed delete+insert epoch, and a restart no-op. Every
    epoch applies as ONE conditional merge commit (matched-delete /
    matched-update / not-matched-insert) carrying its own idempotence
    marker. Replica == source after every drain."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotTable,
        delete_where,
        read_with_deletes,
    )
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        replicate_snapshot_table_stream,
    )

    replica = SnapshotTable(spark, str(tmp_path / "replica"))
    ckpt = str(tmp_path / "ckpt")

    def drain_and_check():
        q = replicate_snapshot_table_stream(spark, table.path, replica, ["k"], ckpt)
        q.awaitTermination(300)
        src = read_with_deletes(table)
        dst = read_with_deletes(replica)
        assert dst.count() == src.count()
        assert dst.exceptAll(src).count() == 0 and src.exceptAll(dst).count() == 0

    # epoch 1: bootstrap (empty replica, append fast path)
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    table.append(base)
    drain_and_check()
    # epoch 2: DELETE-ONLY — applied as ONE merge commit (matched-
    # delete clause, copy-on-write): no pending MOR deletes, no
    # separate marker commit
    pre_head = replica.current_snapshot_id()
    delete_where(table, ["k"], spark.range(0, 100, 5).select(F.col("id").alias("k")))
    drain_and_check()
    head_snap = replica._load_snap(replica.current_snapshot_id())
    assert replica.current_snapshot_id() == pre_head + 1  # exactly one commit
    assert head_snap["operation"] == "merge"
    assert head_snap.get("epoch") is not None  # marker rides the merge
    assert not head_snap.get("deletes") and not head_snap.get("pos_deletes")
    # epoch 3: INSERT-only epoch, also one merge commit
    table.append(
        spark.range(300, 320).select(
            F.col("id").alias("k"), F.lit(42).cast("long").alias("v")
        )
    )
    drain_and_check()
    assert read_with_deletes(replica).filter("v = 42").count() == 20
    assert not replica._load_snap(replica.current_snapshot_id()).get("deletes")
    # epoch 4: MIXED — a delete and an insert land in one micro-batch;
    # the insert re-uses DELETED keys, which REVIVE on both sides:
    # equality deletes are sequence-aware (Iceberg's data-sequence
    # rule), so entries never apply to files appended after them — and
    # the changelog stream emits the revived rows as inserts, keeping
    # the replica exactly convergent
    delete_where(table, ["k"], spark.range(1, 50, 7).select(F.col("id").alias("k")))
    table.append(
        spark.range(200, 220).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
        ).unionAll(
            spark.range(0, 40, 5).select(
                F.col("id").alias("k"), F.lit(99).cast("long").alias("v")
            )
        )
    )
    drain_and_check()
    assert read_with_deletes(table).filter("v = 99").count() == 8
    assert read_with_deletes(replica).filter("v = 99").count() == 8
    assert read_with_deletes(replica).filter("v = 7").count() == 20
    # restart with the same checkpoint: nothing new, replica unchanged
    head = replica.current_snapshot_id()
    q2 = replicate_snapshot_table_stream(spark, table.path, replica, ["k"], ckpt)
    q2.awaitTermination(300)
    assert replica.current_snapshot_id() == head


def test_stream_raises_on_mid_stream_rename(spark, table, tmp_path):
    """A rename committed AFTER the stream bound its schema must fail
    the next planning cycle (restart-required), not silently null-fill
    the old-named column — Delta's non-additive-schema-change contract.
    Additive adds keep streaming (absorbed by the align path)."""
    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        _SnapshotStreamReader,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rename_column,
        track_schema,
        widen_column,
    )

    even, odd = halves(spark)
    table.append(even)
    track_schema(table)
    # bind the reader to the CURRENT schema, as a starting query would
    schema_now = table.read().schema
    reader = _SnapshotStreamReader({"path": table.path}, spark_schema=schema_now)
    head = table.current_snapshot_id()
    assert reader.partitions({"sid": 0}, {"sid": head})  # plans fine

    rename_column(table, "o_totalprice", "price")
    head = table.current_snapshot_id()
    with pytest.raises(RuntimeError, match="renamed or dropped"):
        reader.partitions({"sid": 0}, {"sid": head})

    # a widen after start is non-additive too (declared type is stale)
    table2 = SnapshotTable(spark, str(tmp_path / "tbl2"))
    table2.append(even.withColumn("o_totalprice", F.col("o_totalprice").cast("float")))
    track_schema(table2)
    r2 = _SnapshotStreamReader({"path": table2.path}, spark_schema=table2.read().schema)
    widen_column(table2, "o_totalprice", "double")
    with pytest.raises(RuntimeError, match="changed type"):
        r2.partitions({"sid": 0}, {"sid": table2.current_snapshot_id()})

    # additive evolution: new column appended mid-stream keeps planning
    table3 = SnapshotTable(spark, str(tmp_path / "tbl3"))
    table3.append(even)
    track_schema(table3)
    r3 = _SnapshotStreamReader({"path": table3.path}, spark_schema=table3.read().schema)
    table3.append(odd.withColumn("note", F.lit("x")))
    assert r3.partitions({"sid": 0}, {"sid": table3.current_snapshot_id()})


# ------------------------------------------------------------ DSv2 stream sink
def test_dsv2_stream_sink_equals_foreachbatch(spark, tmp_path):
    """writeStream.format('snapshot_commits') lands epochs with the
    same (stream_id, epoch) idempotence as the foreachBatch sink — the
    drained tables are row-identical and every commit carries its
    epoch marker."""
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        events_stream,
        prepare_stream_input,
        write_stream_to_snapshot_table,
    )

    inp = prepare_stream_input(spark, SF, str(tmp_path / "in"), chunks=3)
    # foreachBatch reference sink
    fb_tbl = SnapshotTable(spark, str(tmp_path / "fb"))
    q1 = write_stream_to_snapshot_table(
        events_stream(spark, inp), fb_tbl, str(tmp_path / "ckpt_fb")
    )
    q1.awaitTermination()
    # DSv2 sink
    register_snapshot_stream_source(spark)
    ds_tbl = SnapshotTable(spark, str(tmp_path / "ds"))
    q2 = (
        events_stream(spark, inp)
        .writeStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", ds_tbl.path)
        .option("checkpointLocation", str(tmp_path / "ckpt_ds"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    a, b = fb_tbl.read(), ds_tbl.read()
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # every DSv2 commit is an epoch-stamped append
    epochs = ds_tbl.committed_stream_epochs()
    assert epochs and all(s is not None for s, _ in epochs)


def test_dsv2_stream_sink_crash_replay_noop(spark, tmp_path):
    """A replayed epoch (same stream identity + batch id) must be a
    table-level no-op: the re-staged files are unlinked, no second
    snapshot appears. Simulated by re-running the drained query with
    the same checkpoint, and by a direct driver-side replay of commit()
    for an already-committed batch id."""
    import glob as _glob

    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        _SnapshotTableStreamWriter,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        events_stream,
        prepare_stream_input,
    )

    inp = prepare_stream_input(spark, SF, str(tmp_path / "in"), chunks=3)
    register_snapshot_stream_source(spark)
    tbl = SnapshotTable(spark, str(tmp_path / "tbl"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            events_stream(spark, inp)
            .writeStream.format(SNAPSHOT_STREAM_NAME)
            .option("path", tbl.path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    n = tbl.read().count()
    head = tbl.current_snapshot_id()
    assert n == spark.read.parquet(inp).count()
    # restart with the same checkpoint: no new input, no new commits
    run()
    assert tbl.current_snapshot_id() == head
    assert tbl.read().count() == n
    # crash-shaped replay: the engine re-delivers an already-committed
    # epoch (checkpoint lost the ack). The writer must unlink the
    # re-staged file and commit nothing.
    committed_epoch = max(e for _, e in tbl.committed_stream_epochs())
    w = _SnapshotTableStreamWriter(
        {"path": tbl.path, "checkpointLocation": ckpt}, None
    )
    import pyarrow as _pa

    staged = w.write(
        iter(_pa.table({"x": [1, 2, 3]}).to_batches())
    )  # the replayed task re-stages a file
    n_data_files = len(_glob.glob(os.path.join(tbl.path, "data", "*.parquet")))
    w.commit([staged], committed_epoch)
    assert tbl.current_snapshot_id() == head  # no-op at the table
    # the surplus staged file was cleaned up
    assert (
        len(_glob.glob(os.path.join(tbl.path, "data", "*.parquet")))
        == n_data_files - 1
    )
    # a second stream identity with the same batch ids is NOT a replay
    w2 = _SnapshotTableStreamWriter({"path": tbl.path, "stream_id": "other"}, None)
    staged2 = w2.write(iter(spark.read.parquet(inp).limit(3).toArrow().to_batches()))
    w2.commit([staged2], committed_epoch)
    assert tbl.current_snapshot_id() == head + 1
    assert tbl.read().count() == n + 3


def test_changelog_stream_over_positional_deletes(spark, table, tmp_path):
    """A pos-delete commit streams exactly its newly-hidden rows as
    deletes (Iceberg's changelog refuses DV tables); rows already
    hidden — by older vectors or by equality keys — never re-emit, and
    an equality delete stacked over pending vectors skips the
    vector-hidden rows."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where,
        delete_where_positional,
    )

    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    s1 = table.append(base)
    s2 = delete_where_positional(table, "k % 10 = 0")          # 20 rows
    s3 = delete_where_positional(table, "k % 10 = 0 OR k % 9 = 0")  # only k%9 new
    s4 = delete_where(
        table, ["k"], spark.range(0, 200, 4).select(F.col("id").alias("k"))
    )  # eq delete: k%4==0 minus already-vector-hidden

    register_snapshot_stream_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("changelog", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    drained = spark.read.parquet(out)
    dels = drained.filter("_change_type = 'delete'")
    by_sid = {
        r["_commit_snapshot_id"]: r["cnt"]
        for r in dels.groupBy("_commit_snapshot_id").agg(F.count("*").alias("cnt")).collect()
    }
    # s2: the 20 k%10==0 rows
    assert by_sid.get(s2) == 20
    # s3: only the newly-hidden k%9==0 rows (k%90==0 already hidden)
    expect_s3 = base.filter("k % 9 = 0 AND k % 10 != 0").count()
    assert by_sid.get(s3) == expect_s3
    # s4: eq-hidden rows minus those any vector already hid
    expect_s4 = base.filter("k % 4 = 0 AND k % 10 != 0 AND k % 9 != 0").count()
    assert by_sid.get(s4) == expect_s4
    # per-commit stream rows == batch changelog, commit by commit
    for lo, hi in ((s1, s2), (s2, s3), (s3, s4)):
        batch_dels = table.read_changelog(lo, hi).filter("_change_type = 'delete'")
        stream_dels = dels.filter(F.col("_commit_snapshot_id") == hi).drop(
            "_commit_snapshot_id"
        )
        assert (
            stream_dels.drop("_change_type").exceptAll(batch_dels.drop("_change_type")).count()
            == 0
        )
        assert stream_dels.count() == batch_dels.count()
    # the PLAIN tail over the same history emits only the append's rows
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    q2 = (
        spark.readStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out2).count() == 200


def test_changelog_stream_survives_vector_compaction(spark, table, tmp_path):
    """compact_deletes over PENDING POSITIONAL VECTORS is row-preserving
    (it materializes the vectors away), so a CDC tail whose uncommitted
    range includes it must skip it — not die on the vector-state guard.
    Regression: the pos-state check used to run before the
    row-preserving short-circuit, so the very action the error message
    recommended (compact_deletes) poisoned the stream permanently."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        compact_deletes,
        delete_where_positional,
    )

    base = spark.range(0, 150).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    s1 = table.append(base)
    s2 = delete_where_positional(table, "k % 3 = 0")  # 50 rows hidden
    compact_deletes(table)  # pos_deletes [] != parent's: row-preserving
    more = spark.range(300, 320).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    table.append(more)

    register_snapshot_stream_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("changelog", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).drop("_commit_snapshot_id")
    # compaction contributes NOTHING: insert set, vector-delete diff,
    # and the trailing insert set
    expected = (
        table.read(s1).withColumn("_change_type", F.lit("insert"))
        .unionByName(table.read_changelog(s1, s2))
        .unionByName(more.withColumn("_change_type", F.lit("insert")))
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cdc_replication_merges_over_pending_replica_deletes(spark, table, tmp_path):
    """A replica carrying pending MOR deletes (same key columns) no
    longer forces a full-table compaction before each epoch: the apply
    MERGEs straight over the delete state, consuming the entries its
    epoch touches — no compact-deletes commit ever appears."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotTable,
        delete_where,
        read_with_deletes,
    )
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        replicate_snapshot_table_stream,
    )

    replica = SnapshotTable(spark, str(tmp_path / "replica"))
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = replicate_snapshot_table_stream(spark, table.path, replica, ["k"], ckpt)
        q.awaitTermination(300)

    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    table.append(base)
    drain()
    # replica-local pending MOR deletes on the SAME key columns
    delete_where(replica, ["k"], spark.range(0, 10).select(F.col("id").alias("k")))
    # the source deletes those keys and appends fresh ones
    delete_where(table, ["k"], spark.range(0, 10).select(F.col("id").alias("k")))
    table.append(
        spark.range(200, 210).select(
            F.col("id").alias("k"), F.lit(55).cast("long").alias("v")
        )
    )
    drain()
    src = read_with_deletes(table)
    dst = read_with_deletes(replica)
    assert dst.count() == src.count() == 100
    assert dst.exceptAll(src).count() == 0 and src.exceptAll(dst).count() == 0
    assert dst.filter("v = 55").count() == 10
    ops = [e["operation"] for e in replica.commit_index().values()]
    assert "compact-deletes" not in ops  # merged straight over MOR state
    assert ops[-1] == "merge"
    # the epoch's keys consumed every pending replica delete entry
    assert not replica._load_snap(replica.current_snapshot_id()).get("deletes")


def test_dsv2_stream_sink_through_catalog_cas(spark, tmp_path):
    """A stream targeting a CATALOG-ARBITRATED table (catalog_type +
    catalog_table options, no path needed) commits every epoch through
    the catalog pointer's compare-and-swap — the pointer equals the
    table head after the drain, never a stale pre-stream id."""
    from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
    from iceberg_catalog_migrator_spark.catalog.base import read_table_metadata
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        CatalogArbitratedTable,
    )
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        events_stream,
        prepare_stream_input,
    )

    db = str(tmp_path / "cat.db")
    ident = TableIdentifier.of("lake", "stream_cas")
    cat = SqlCatalog("arbiter", db)
    cat.create_namespace(("lake",))
    tbl = CatalogArbitratedTable.create(spark, cat, ident, str(tmp_path / "tbl"))

    inp = prepare_stream_input(spark, SF, str(tmp_path / "in"), chunks=3)
    register_snapshot_stream_source(spark)
    q = (
        events_stream(spark, inp)
        .writeStream.format(SNAPSHOT_STREAM_NAME)
        .option("catalog_type", "JDBC")
        .option("catalog_properties", f"uri={db}")
        .option("catalog_table", str(ident))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    head = tbl.current_snapshot_id()  # reads the CATALOG pointer
    assert head is not None and head >= 1
    doc = read_table_metadata(cat.load_table_metadata_location(ident))
    assert doc["properties"]["snapshot-id"] == str(head)
    # every epoch commit is in the shared snapshot log with its marker
    assert tbl.committed_stream_epochs()
    assert tbl.read().count() > 0
    # the epochs CASed the pointer — a plain flock commit never moved it
    idx = tbl.commit_index()
    assert all(e.get("epoch") is not None for e in idx.values())
    cat.close()


def test_dsv2_stream_sink_cas_retries_lost_race(spark, tmp_path):
    """An epoch commit that loses the catalog CAS to a concurrent
    committer retries off the fresh head instead of failing the query:
    both the racer's snapshot and the epoch land."""
    import pyarrow as pa

    from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        _SnapshotTableStreamWriter,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        CatalogArbitratedTable,
    )

    db = str(tmp_path / "cat.db")
    ident = TableIdentifier.of("lake", "race_cas")
    cat = SqlCatalog("arbiter", db)
    cat.create_namespace(("lake",))
    tbl = CatalogArbitratedTable.create(spark, cat, ident, str(tmp_path / "tbl"))
    base = spark.range(0, 50).select(F.col("id").alias("k"))
    s1 = tbl.append(base)

    opts = {
        "catalog_type": "JDBC",
        "catalog_properties": f"uri={db}",
        "catalog_table": str(ident),
        "stream_id": "racing-stream",
    }
    w = _SnapshotTableStreamWriter(opts, None)
    staged = w.write(iter(spark.range(50, 60).select(F.col("id").alias("k")).toArrow().to_batches()))

    # interleave a concurrent committer between staging and commit by
    # making the FIRST head read trigger the racer exactly once
    real_target = w._task_writer._target_table
    fired = {"done": False}

    def racing_target():
        t, c = real_target()
        if not fired["done"]:
            fired["done"] = True
            orig_head = t.head

            def head_once(ref="main"):
                h = orig_head(ref)
                if not fired.get("raced"):
                    fired["raced"] = True
                    racer = CatalogArbitratedTable(spark, cat, ident)
                    racer.append(spark.range(100, 110).select(F.col("id").alias("k")))
                return h

            t.head = head_once
        return t, c

    w._task_writer._target_table = racing_target
    w.commit([staged], 0)
    head = tbl.current_snapshot_id()
    # racer's append AND the epoch both present
    assert head == s1 + 2
    assert ("racing-stream", 0) in tbl.committed_stream_epochs()
    assert tbl.read().count() == 70
    cat.close()


def test_dsv2_sink_zombie_epoch_lost_race_is_noop(spark, tmp_path):
    """A zombie instance of the SAME query losing the CAS to its
    replacement must NOT retry the epoch in: the replay check re-runs
    inside the retry loop, so the loser unlinks its staged files and
    the epoch's rows land exactly once."""
    import glob as _glob

    from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        _SnapshotTableStreamWriter,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        CatalogArbitratedTable,
    )

    db = str(tmp_path / "cat.db")
    ident = TableIdentifier.of("lake", "zombie_cas")
    cat = SqlCatalog("arbiter", db)
    cat.create_namespace(("lake",))
    tbl = CatalogArbitratedTable.create(spark, cat, ident, str(tmp_path / "tbl"))
    tbl.append(spark.range(0, 50).select(F.col("id").alias("k")))

    opts = {
        "catalog_type": "JDBC",
        "catalog_properties": f"uri={db}",
        "catalog_table": str(ident),
        "stream_id": "the-stream",
    }
    batch = spark.range(50, 60).select(F.col("id").alias("k"))
    w = _SnapshotTableStreamWriter(opts, None)
    staged = w.write(iter(batch.toArrow().to_batches()))

    # the replacement driver commits epoch 7 between the zombie's
    # staging and its first head read
    real_target = w._task_writer._target_table
    fired = {}

    def racing_target():
        t, c = real_target()
        orig_head = t.head

        def head_once(ref="main"):
            if not fired.get("raced"):
                fired["raced"] = True
                w2 = _SnapshotTableStreamWriter(opts, None)
                staged2 = w2.write(iter(batch.toArrow().to_batches()))
                w2.commit([staged2], 7)
            return orig_head(ref)

        t.head = head_once
        return t, c

    w._task_writer._target_table = racing_target
    w.commit([staged], 7)  # loses the race, detects the replay, aborts
    assert tbl.read().count() == 60  # epoch 7's ten rows exactly once
    assert ("the-stream", 7) in tbl.committed_stream_epochs()
    # the zombie's staged file was unlinked, not leaked
    n_files = len(_glob.glob(os.path.join(tbl.path, "data", "*.parquet")))
    assert n_files == len(tbl._load_snap(tbl.current_snapshot_id())["files"])
    cat.close()


def test_dsv2_sink_rejects_mismatched_path_and_catalog(spark, tmp_path):
    """'path' disagreeing with the catalog table's registered location
    is refused up front — tasks would stage under one root while the
    commit names the files under another."""
    from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier
    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        _SnapshotTableWriter,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        CatalogArbitratedTable,
    )

    db = str(tmp_path / "cat.db")
    ident = TableIdentifier.of("lake", "pathcheck")
    cat = SqlCatalog("arbiter", db)
    cat.create_namespace(("lake",))
    CatalogArbitratedTable.create(spark, cat, ident, str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="disagrees with the catalog"):
        _SnapshotTableWriter(
            {
                "path": str(tmp_path / "elsewhere"),
                "catalog_type": "JDBC",
                "catalog_properties": f"uri={db}",
                "catalog_table": str(ident),
            },
            None,
            False,
        )
    cat.close()


def test_connector_read_hides_materialized_row_id(spark, table, tmp_path):
    """After a lineage table's rewrite materializes _row_id physically,
    the connector batch read hides it (like the plain read); batches
    from materialized files align to the id-free schema."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        enable_row_lineage,
        merge_upsert,
    )

    table.append(
        spark.range(0, 200).select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
    )
    enable_row_lineage(table)
    merge_upsert(
        table, spark.createDataFrame([(5, 99)], "k long, v long"), ["k"]
    )
    register_snapshot_stream_source(spark)
    got = spark.read.format(SNAPSHOT_STREAM_NAME).option("path", table.path).load()
    assert "_row_id" not in got.columns
    assert got.count() == 201 or got.count() == 200  # upsert replaced or inserted
    assert got.filter("k = 5 AND v = 99").count() == 1


def test_changelog_stream_represents_merge_commits(spark, table, tmp_path):
    """A MERGE on the tailed source no longer kills the CDC stream: the
    rewrite commit streams as non-net delete+insert pairs (Iceberg's
    net_changes=false emission) whose per-key net — insert wins within
    a commit — equals the batch read_changelog's net diff."""
    from iceberg_catalog_migrator_spark.sources.snapshots import merge_upsert

    base = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    s1 = table.append(base)
    delta = spark.createDataFrame([(5, 99), (400, 99)], "k long, v long")
    merge_upsert(table, delta, ["k"])
    s2 = table.current_snapshot_id()

    register_snapshot_stream_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("changelog", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    drained = spark.read.parquet(out)
    merge_rows = drained.filter(F.col("_commit_snapshot_id") > s1)
    # non-net: every pre-merge row of the rewritten file(s) emits a
    # delete, every post-merge row an insert
    assert merge_rows.filter("_change_type = 'delete'").count() > 0
    assert merge_rows.filter("_change_type = 'insert'").count() > 0
    # per-key net (insert beats delete within the commit) == batch diff
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(
        F.col("_commit_snapshot_id").desc(), F.col("_change_type").desc()
    )
    net = (
        merge_rows.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn", "_commit_snapshot_id")
    )
    batch = table.read_changelog(s1, table.current_snapshot_id())
    # keys CHANGED by the merge agree exactly with the batch net diff
    changed_keys = {r["k"] for r in batch.select("k").distinct().collect()}
    net_changed = net.filter(F.col("k").isin(list(changed_keys)))
    b_ins = batch.filter("_change_type = 'insert'").drop("_change_type")
    n_ins = net_changed.filter("_change_type = 'insert'").drop("_change_type")
    assert n_ins.exceptAll(b_ins).count() == 0 and b_ins.exceptAll(n_ins).count() == 0
    # keys NOT changed net to their unchanged insert (carried pair)
    unchanged = net.filter(~F.col("k").isin(list(changed_keys)))
    assert unchanged.filter("_change_type = 'delete'").count() == 0


def test_cdc_replication_survives_source_merge(spark, table, tmp_path):
    """End to end: a replica tailing a source that receives appends,
    MOR deletes, AND a MERGE converges to the source after every drain
    — no stream poison, each epoch one merge commit."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        SnapshotTable,
        delete_where,
        merge_upsert,
        read_with_deletes,
    )
    from iceberg_catalog_migrator_spark.streaming.jobs import (
        replicate_snapshot_table_stream,
    )

    replica = SnapshotTable(spark, str(tmp_path / "replica"))
    ckpt = str(tmp_path / "ckpt")

    def drain_and_check():
        q = replicate_snapshot_table_stream(spark, table.path, replica, ["k"], ckpt)
        q.awaitTermination(300)
        src = read_with_deletes(table)
        dst = read_with_deletes(replica)
        assert dst.count() == src.count()
        assert dst.exceptAll(src).count() == 0 and src.exceptAll(dst).count() == 0

    table.append(
        spark.range(0, 120).select(F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
    )
    drain_and_check()
    # a MERGE on the source: updates + an insert, all in one commit
    merge_upsert(
        table,
        spark.createDataFrame([(3, 77), (60, 77), (500, 77)], "k long, v long"),
        ["k"],
    )
    drain_and_check()
    assert read_with_deletes(replica).filter("v = 77").count() == 3
    # and a MOR delete afterwards still replicates
    delete_where(table, ["k"], spark.range(0, 10).select(F.col("id").alias("k")))
    drain_and_check()


def test_changelog_stream_ignore_changes_skips_bad_vector_commit(
    spark, table, tmp_path
):
    """An append-class commit that changed vector state outside a
    pos-delete commit (a writer bypassing the API, a hand-edited
    manifest) is unrepresentable: the changelog stream dies loudly by
    default, but ``ignore_changes=true`` — the documented opt-out —
    skips the commit and keeps the stream alive."""
    import json

    from iceberg_catalog_migrator_spark.sources.snapshots import (
        delete_where_positional,
    )

    base = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("v")
    )
    table.append(base)
    s2 = delete_where_positional(table, "k % 10 = 0")  # 5 rows hidden
    # poison the commit: relabel the pos-delete as a plain append, so
    # an append-class commit now carries a vector-state change
    snap_path = table._snap_path(s2)
    with open(snap_path) as f:
        raw = json.load(f)
    raw["operation"] = "append"
    with open(snap_path, "w") as f:
        json.dump(raw, f)
    more = spark.range(100, 130).select(
        F.col("id").alias("k"), F.lit(9).cast("long").alias("v")
    )
    table.append(more)

    register_snapshot_stream_source(spark)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    def drain(out, ckpt, **opts):
        reader = (
            spark.readStream.format(SNAPSHOT_STREAM_NAME)
            .option("path", table.path)
            .option("changelog", "true")
        )
        for k2, v2 in opts.items():
            reader = reader.option(k2, v2)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises(
        StreamingQueryException, match="changed positional-delete state"
    ):
        drain(str(tmp_path / "out"), str(tmp_path / "ckpt"))
    # the explicit opt-out skips the unrepresentable commit and
    # streams every other commit's changes
    drain(
        str(tmp_path / "out2"), str(tmp_path / "ckpt2"), ignore_changes="true"
    )
    got = spark.read.parquet(str(tmp_path / "out2"))
    assert got.filter("_change_type = 'insert'").count() == 50 + 30
    assert got.filter("_change_type = 'delete'").count() == 0


def test_connector_as_of_timestamp_time_travel(spark, table, tmp_path):
    """AS OF <timestamp> on the batch connector: resolves the newest
    snapshot committed at or before the option (commit-log timestamps,
    same index read_as_of uses), mutually exclusive with snapshot_id
    and ref."""
    import time

    even, odd = halves(spark)
    table.append(even)
    time.sleep(0.05)
    between = int(time.time() * 1000)
    time.sleep(0.05)
    table.append(odd)

    register_snapshot_stream_source(spark)
    got = (
        spark.read.format(SNAPSHOT_STREAM_NAME)
        .option("path", table.path)
        .option("as_of_timestamp", str(between))
        .load()
    )
    assert got.count() == even.count()
    assert got.exceptAll(even).count() == 0
    # before every commit: loud error
    with pytest.raises(Exception, match="no snapshot at or before"):
        spark.read.format(SNAPSHOT_STREAM_NAME).option(
            "path", table.path
        ).option("as_of_timestamp", "1").load().count()
    # option combinations are rejected
    with pytest.raises(Exception, match="at most one of"):
        spark.read.format(SNAPSHOT_STREAM_NAME).option("path", table.path) \
            .option("as_of_timestamp", str(between)) \
            .option("snapshot_id", "1").load().count()
    # and it is a BATCH option: a stream tails a head, never an as-of
    with pytest.raises(Exception, match="as_of_timestamp is a BATCH option"):
        (
            spark.readStream.format(SNAPSHOT_STREAM_NAME)
            .option("path", table.path)
            .option("as_of_timestamp", str(between))
            .load()
            .writeStream.format("memory")
            .queryName("asof_stream_reject")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


# ------------------------------------------------ vectorized key filters
def test_filter_by_keys_semi_anti_single_and_multi_key():
    """The arrow semi/anti kernels (r17: replaced per-batch pandas
    merges) must preserve row order, handle single- and multi-key
    selections identically, and never match null keys (SQL semantics,
    same as the JVM read path's left_anti)."""
    import pyarrow as pa

    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        _filter_by_keys,
    )

    tbl = pa.table(
        {
            "k": [3, 1, None, 2, 1],
            "g": ["a", "b", "a", "b", "a"],
            "v": [30, 10, 99, 20, 11],
        }
    )
    keys1 = pa.table({"k": [1, 2]})
    semi = _filter_by_keys(tbl, keys1, ["k"], keep_matching=True)
    assert semi["v"].to_pylist() == [10, 20, 11]  # order preserved
    anti = _filter_by_keys(tbl, keys1, ["k"], keep_matching=False)
    # null key never matches -> survives the anti side
    assert anti["v"].to_pylist() == [30, 99]
    # a null IN THE KEY SET must not start matching null rows either
    keys_null = pa.table({"k": pa.array([1, None], type=pa.int64())})
    anti2 = _filter_by_keys(tbl, keys_null, ["k"], keep_matching=False)
    assert 99 in anti2["v"].to_pylist()
    # multi-key goes through the arrow hash-join path
    keys2 = pa.table({"k": [1, 2], "g": ["a", "b"]})
    semi2 = _filter_by_keys(tbl, keys2, ["k", "g"], keep_matching=True)
    assert semi2["v"].to_pylist() == [20, 11]
    anti3 = _filter_by_keys(tbl, keys2, ["k", "g"], keep_matching=False)
    assert anti3["v"].to_pylist() == [30, 10, 99]


def test_keys_table_distinct_union():
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_catalog_migrator_spark.sources.snapshot_stream import (
        _keys_table,
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        p1, p2 = os.path.join(tmp, "a.parquet"), os.path.join(tmp, "b.parquet")
        pq.write_table(pa.table({"k": [1, 2, 2], "x": [0, 0, 0]}), p1)
        pq.write_table(pa.table({"k": [2, 3], "x": [0, 0]}), p2)
        out = _keys_table([p1, p2], ["k"])
        assert sorted(out["k"].to_pylist()) == [1, 2, 3]
        assert out.column_names == ["k"]
        # a file written before a key widening (int32) joins the int64
        # ones under one key schema; with per-file sequence numbers
        # each key carries the newest file listing it
        p3 = os.path.join(tmp, "c.parquet")
        pq.write_table(pa.table({"k": pa.array([3, 4], pa.int32())}), p3)
        out = _keys_table([p1, p2, p3], ["k"], [1, 2, float("inf")])
        assert out.schema == pa.schema([("k", pa.int64()), ("_dseq", pa.float64())])
        assert sorted(zip(out["k"].to_pylist(), out["_dseq"].to_pylist())) == [
            (1, 1.0),
            (2, 2.0),
            (3, float("inf")),
            (4, float("inf")),
        ]
