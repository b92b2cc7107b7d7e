"""Focused pins for the r16 optimization round's internal changes.

Each test targets an operator whose INTERNALS were restructured for
performance (results are separately pinned by the oracle gate): the
load_table DataFrame memo, the fused first round of min-label
propagation, and the one-pass grouped CDC snapshot diff.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.operators import dedup as D
from iceberg_catalog_migrator_spark.sources import tables as T

SF = "/root/testdata/sf0.01"
SF_SMALL = "/root/testdata/sf0.001"


# ------------------------------------------------------ load_table memo
def test_load_table_memoizes_within_session(spark):
    a = T.load_table(spark, SF, "orders")
    b = T.load_table(spark, SF, "orders")
    assert a is b, "same (app, sf_dir, table) must return the memoized DataFrame"


def test_load_table_memo_keys_on_sf_dir_and_table(spark):
    a = T.load_table(spark, SF, "orders")
    assert T.load_table(spark, SF_SMALL, "orders") is not a
    assert T.load_table(spark, SF, "lineitem") is not a


def test_load_table_memo_returns_live_readable_frame(spark):
    n1 = T.load_table(spark, SF, "region").count()
    n2 = T.load_table(spark, SF, "region").count()
    assert n1 == n2 == 5


# ------------------------------------- fused round-1 min-label propagate
def _sym(spark, pairs):
    df = spark.createDataFrame(pairs, "src bigint, dst bigint")
    return df.unionByName(
        df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def test_min_label_propagate_empty_edges(spark):
    edges = _sym(spark, []).filter(F.lit(False))
    out = D._min_label_propagate(edges, 50)
    assert out is not None and out.count() == 0


def test_min_label_propagate_single_edge(spark):
    out = D._min_label_propagate(_sym(spark, [(7, 3)]), 50)
    assert {(r.node, r.lbl) for r in out.collect()} == {(7, 3), (3, 3)}


def test_min_label_propagate_long_chain_converges(spark):
    # a path graph stresses the pointer jumping: diameter 31, so the
    # O(log d) loop must converge well inside the bound, with every
    # node labeled by the chain minimum
    pairs = [(i, i + 1) for i in range(40, 71)]
    out = D._min_label_propagate(_sym(spark, pairs), 50)
    got = {(r.node, r.lbl) for r in out.collect()}
    assert got == {(i, 40) for i in range(40, 72)}


def test_min_label_propagate_respects_round_bound(spark):
    # a long path graph cannot finish in 2 rounds, so the helper must
    # report non-convergence (None), never wrong labels
    pairs = [(i, i + 1) for i in range(0, 12)]
    assert D._min_label_propagate(_sym(spark, pairs), 2) is None
    # bound 1 would skip the loop entirely and could return None even
    # for an empty edge list: refused with an exception that survives -O
    with pytest.raises(ValueError, match=">= 2 rounds"):
        D._min_label_propagate(_sym(spark, pairs), 1)


def test_pin_reads_disable_list_at_call_time(spark, monkeypatch):
    df = spark.range(3)
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_PINS", "other, probe")
    assert D._pin(df, "probe") is df
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_PINS", "all")
    assert D._pin(df, "probe") is df
    monkeypatch.delenv("SPARK_GRAFT_DISABLE_PINS")
    pinned = D._pin(df, "probe")
    assert pinned is not df and pinned.count() == 3


# ------------------------------------------------- grouped CDC snapshot
def test_cdc_snapshot_diff_matches_window_rendering(spark):
    """The grouped max_by rewrite must reproduce the two-window + join
    rendering row for row (including the old-state-missing => 'new'
    classification)."""
    from pyspark.sql import Window

    from iceberg_catalog_migrator_spark.queries.mining import events_cdc_snapshot_diff
    from iceberg_catalog_migrator_spark.sources import load_table

    got = {
        tuple(r)
        for r in events_cdc_snapshot_diff(spark, SF).collect()
    }

    ev = load_table(spark, SF, "events")
    cutoff = ev.agg(F.expr("max(ts) - INTERVAL 1 DAY").alias("cut"))
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def latest(df, prefix):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias(f"{prefix}_type"),
                F.col("value").alias(f"{prefix}_value"),
            )
        )

    old_snap = latest(
        ev.crossJoin(F.broadcast(cutoff)).filter(F.col("ts") <= F.col("cut")), "old"
    )
    new_snap = latest(ev, "new")
    expected = {
        tuple(r)
        for r in (
            new_snap.join(old_snap, "user_id", "left")
            .filter(
                F.col("old_type").isNull()
                | (F.col("old_type") != F.col("new_type"))
                | (F.col("old_value") != F.col("new_value"))
            )
            .select(
                "user_id",
                "old_type",
                "new_type",
                "old_value",
                "new_value",
                F.when(F.col("old_type").isNull(), "new")
                .otherwise("changed")
                .alias("change_kind"),
            )
        ).collect()
    }
    assert got == expected and len(got) > 0
