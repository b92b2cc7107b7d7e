"""Plan-index maintenance: every commit writes its snapshot's index.

Pins the steady-state contract: every commit advances the index from
the parent index + the commit's raw delta doc
— touching O(changed files) rows and materializing NO O(files)
resolved dict — and the advanced index plans exactly like the dict
planner at every snapshot. The 10^6-file wall-clock/memory numbers
live in scripts/scale_plan_index.py (SCALE.local.json "plan_index").
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_migrator_spark.sources import plan_index, pruning
from iceberg_catalog_migrator_spark.sources.plan_index import (
    _fresh_doc,
    advance_plan_index,
    current_rows_table,
    plan_partition_paths,
    plan_paths,
    sidecar_path,
    write_plan_index,
)
from iceberg_catalog_migrator_spark.sources.snapshots import (
    CatalogArbitratedTable,
    MergeClause,
    SnapshotTable,
    compact_deletes,
    delete_where,
    delete_where_positional,
    load_manifest,
    merge_into,
    merge_upsert,
    planned_scan,
    record_file_stats,
)


def _dict_plan(snap, col, lo, hi):
    stats = snap.get("file_stats") or {}
    return sorted(
        f
        for f in snap["files"]
        if stats.get(f, {}).get(col) is None
        or (stats[f][col][0] <= hi and stats[f][col][1] >= lo)
    )


def _segments(table_path, sid):
    return _fresh_doc(table_path, sid)["segments"]


def _plan(root, sid, filters):
    """The range plan over ``sid``'s fresh index doc."""
    return plan_paths(root, _fresh_doc(root, sid), filters)


def _ppp(root, sid, wanted):
    """The partition plan over ``sid``'s fresh index doc."""
    return plan_partition_paths(root, _fresh_doc(root, sid), wanted)


@pytest.fixture()
def indexed_table(spark, tmp_path):
    # 48 range-clustered files, so the later 1-file commits are far
    # under the manifest encoder's delta-weight rule and genuinely
    # DELTA-encode (tiny tables otherwise re-encode full form, which
    # exercises the full-build path instead of advance)
    t = SnapshotTable(spark, str(tmp_path / "adv"))
    t.append(
        spark.range(0, 48_000)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartitionByRange(48, "k")
    )
    record_file_stats(t, ["k"])
    return t


def test_commit_advances_index_without_dict_materialization(
    indexed_table, spark, monkeypatch
):
    """The verdict's steady-state pin: commit→plan on an indexed table
    never calls the dict resolver from the index layer, and the new
    segment holds only the commit's changed files."""
    t = indexed_table
    sid0 = t.current_snapshot_id()
    assert os.path.exists(sidecar_path(t.path, sid0))
    n_seg0 = len(_segments(t.path, sid0))

    t.append(
        spark.range(50_000, 50_100)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartition(1)
    )
    sid1 = t.current_snapshot_id()
    # the commit hook advanced eagerly: the index doc exists and is
    # fresh BEFORE any plan asks for it
    doc = plan_index._fresh_doc(t.path, sid1)
    assert doc is not None
    segs = doc["segments"]
    assert len(segs) == n_seg0 + 1
    # O(delta): the new segment holds exactly the appended files
    raw = json.load(open(os.path.join(t.path, "metadata", f"snap-{sid1}.json")))
    assert segs[-1]["rows"] == len(raw["files_added"])
    assert not raw.get("files_removed")

    # the plan itself never re-materializes the resolved dict
    import iceberg_catalog_migrator_spark.sources.snapshots as S

    calls = {"n": 0}
    real = S.load_manifest

    def counting(path, sid):
        calls["n"] += 1
        return real(path, sid)

    monkeypatch.setattr(S, "load_manifest", counting)
    df, summary = planned_scan(t, "k", 50_000, 50_050)
    assert summary["columnar"] is True
    assert calls["n"] == 0, "plan re-materialized the resolved dict"
    assert df.count() == 51


def test_advanced_index_plans_equal_dict_plans_across_commit_mix(
    indexed_table, spark
):
    """Equivalence through a realistic commit mix: append, delete
    (COW), merge, re-recorded stats — at EVERY retained snapshot the
    columnar plan equals the dict rule."""
    t = indexed_table
    t.append(
        spark.range(50_000, 50_500)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartition(1)
    )
    # MOR delete: per-file state untouched, scalar delete keys ride the
    # delta doc
    delete_where(
        t,
        ["k"],
        spark.range(20_000, 20_050).select(F.col("id").alias("k")),
    )
    # merge: touched files removed + rewrites added in one delta commit
    src = spark.range(10_100, 10_200).select(
        F.col("id").alias("k"), F.lit(99).alias("v")
    )
    merge_upsert(t, src, ["k"])
    record_file_stats(t, ["k", "v"])
    for sid in t.history_ids():
        snap = load_manifest(t.path, sid)
        for lo, hi in ((0, 5_000), (10_050, 10_150), (20_400, 20_600), (90_000, 99_000)):
            res = _plan(t.path, sid, [("k", ">=", lo), ("k", "<=", hi)])
            assert res is not None
            paths, summary = res
            assert sorted(paths) == _dict_plan(snap, "k", lo, hi), (sid, lo, hi)
            assert summary["total_files"] == len(snap["files"])


def _live_rows(table_path, sid):
    """``sid``'s live index rows by path, null and false cells dropped:
    a segment written before a column existed reads null there, where a
    full build writes the column's empty value."""
    tbl = current_rows_table(table_path, sid)
    return {
        r["path"]: {k: v for k, v in r.items() if v is not None and v is not False}
        for r in tbl.to_pylist()
    }


def _assert_exact_index(table_path, sid, scratch):
    """``sid`` has a fresh index doc whose live rows equal a full build
    from the resolved manifest (written under ``scratch``)."""
    assert _fresh_doc(table_path, sid) is not None, sid
    snap = load_manifest(table_path, sid)
    ref = os.path.join(scratch, str(sid))
    os.makedirs(os.path.join(ref, "metadata"))
    with open(os.path.join(ref, "metadata", f"snap-{sid}.json"), "w") as f:
        json.dump(snap, f)
    assert write_plan_index(ref, snap) is not None
    assert _live_rows(table_path, sid) == _live_rows(ref, sid), sid


def _rows(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartition(1)
    )


def test_every_commit_kind_leaves_an_exact_index(spark, tmp_path):
    """Every commit writes its snapshot's index, whether or not anything
    ever planned on the table: after each commit kind the new snapshot
    has a fresh doc, mostly advanced from its parent's, that holds the
    rows a full build from the resolved manifest holds."""
    t = SnapshotTable(spark, str(tmp_path / "kinds"))
    t.append(_rows(spark, 0, 48_000).repartitionByRange(48, "k"))
    scratch = str(tmp_path / "full")
    _assert_exact_index(t.path, t.current_snapshot_id(), scratch)

    def branch_commit():
        t.create_branch("b")
        t.append(_rows(spark, 60_000, 60_010), ref="b")

    commits = [
        ("append", lambda: t.append(_rows(spark, 50_000, 50_100))),
        ("equality delete", lambda: delete_where(t, ["k"], _rows(spark, 20_000, 20_050).select("k"))),
        ("positional delete", lambda: delete_where_positional(t, "k < 30")),
        ("merge_upsert", lambda: merge_upsert(t, _rows(spark, 10_100, 10_200), ["k"])),
        (
            "merge_into",
            lambda: merge_into(
                t, _rows(spark, 30_000, 30_020), ["k"], [MergeClause("update"), MergeClause("insert")]
            ),
        ),
        ("compact", lambda: compact_deletes(t)),
        ("record_file_stats", lambda: record_file_stats(t, ["k", "v"])),
        ("rollback", lambda: t.rollback(t.history_ids()[-3])),
        ("branch", branch_commit),
        ("overwrite", lambda: t.overwrite(_rows(spark, 0, 500))),
    ]
    advanced = []
    for kind, commit in commits:
        n = len(t.history_ids())
        commit()
        assert len(t.history_ids()) == n + 1, kind
        sid = t.history_ids()[-1]
        _assert_exact_index(t.path, sid, scratch)
        if len(_segments(t.path, sid)) > 1:
            advanced.append(kind)
    # a delta commit advances its parent's index, the branch append
    # after the rollback included (the rollback carried the stats map
    # even with no entry left, so the append clears no per-file key);
    # a full-form doc (the stats commit, the compaction, the overwrite)
    # writes in full
    assert set(advanced) >= {"append", "equality delete", "positional delete", "merge_into", "branch"}


def test_cas_commits_leave_an_exact_index(spark, tmp_path):
    """A catalog-arbitrated commit indexes its snapshot like any other."""
    from iceberg_catalog_migrator_spark.catalog import SqlCatalog, TableIdentifier

    cat = SqlCatalog("arbiter", str(tmp_path / "cat.db"))
    cat.create_namespace(("lake",))
    try:
        t = CatalogArbitratedTable.create(
            spark, cat, TableIdentifier.of("lake", "t"), str(tmp_path / "cas")
        )
        t.append(_rows(spark, 0, 4_000).repartitionByRange(16, "k"))
        t.append(_rows(spark, 5_000, 5_010))
        merge_upsert(t, _rows(spark, 100, 110), ["k"])
        for sid in t.history_ids():
            _assert_exact_index(t.path, sid, str(tmp_path / "full"))
    finally:
        cat.close()


def test_planning_without_a_doc_writes_nothing(indexed_table):
    """A snapshot whose doc is gone plans through the dict, and the plan
    leaves the table directory as it found it."""
    t = indexed_table
    sid = t.current_snapshot_id()
    os.unlink(sidecar_path(t.path, sid))

    def listing():
        return sorted(
            os.path.join(d, f) for d, _, files in os.walk(t.path) for f in files
        )

    before = listing()
    ranges = [("k", ">=", 10_100), ("k", "<=", 10_200)]
    plan = pruning.plan_files(t, sid, ranges)
    df, summary = planned_scan(t, "k", 10_100, 10_200)
    assert df.count() == 101 and "columnar" not in summary
    assert listing() == before
    snap = load_manifest(t.path, sid)
    assert plan.doc is None
    assert plan.files == pruning._plan_dict(snap, ranges, None, None, None).files


def test_compaction_folds_segments_and_keeps_plans_exact(
    indexed_table, spark, monkeypatch
):
    monkeypatch.setattr(plan_index, "_MAX_SEGMENTS", 4)
    t = indexed_table
    for i in range(7):
        t.append(
            spark.range(60_000 + i * 100, 60_000 + i * 100 + 50)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
            .repartition(1)
        )
    sid = t.current_snapshot_id()
    doc = _fresh_doc(t.path, sid)
    assert len(doc["segments"]) <= 5, [s["rows"] for s in doc["segments"]]
    # at least one fold happened (7 delta commits over a 1-segment base)
    assert any(s["rows"] > 48 for s in doc["segments"])
    snap = load_manifest(t.path, sid)
    for lo, hi in ((60_250, 60_280), (0, 100)):
        res = _plan(t.path, sid, [("k", ">=", lo), ("k", "<=", hi)])
        assert sorted(res[0]) == _dict_plan(snap, "k", lo, hi)
        assert res[1]["total_files"] == len(snap["files"])


def _synthetic_table(root: str, n_files: int) -> list[str]:
    meta = os.path.join(root, "metadata")
    os.makedirs(meta, exist_ok=True)
    files = [f"data/f{i:04d}.parquet" for i in range(n_files)]
    snap = {
        "snapshot_id": 1,
        "parent": None,
        "timestamp_ms": 0,
        "operation": "append",
        "files": files,
        "file_stats": {
            f: {"k": [i * 100, i * 100 + 99]} for i, f in enumerate(files)
        },
    }
    with open(os.path.join(meta, "snap-1.json"), "w") as f:
        json.dump(snap, f)
    write_plan_index(root, snap)
    return files


def test_dead_row_threshold_compacts(tmp_path, monkeypatch):
    """Churn accumulates superseded rows across segments; once dead
    rows reach the live count the advance folds them away — the
    sidecar analogue of the manifest encoder's accumulated-weight
    rebase. Synthetic raw docs keep each commit delta-form at any
    scale."""
    monkeypatch.setattr(plan_index, "_MIN_DEAD_FOR_COMPACT", 4)
    root = str(tmp_path / "churn")
    files = _synthetic_table(root, 40)
    meta = os.path.join(root, "metadata")
    stats = {f: {"k": [i * 100, i * 100 + 99]} for i, f in enumerate(files)}
    compacted_at = None
    for step in range(4):  # each updates 30 of 40 rows: dead piles up
        sid = step + 2
        upd = {f: {"k": [i * 100, i * 100 + 99 + step]} for i, f in
               enumerate(files) if i < 30}
        stats.update(upd)
        raw = {
            "snapshot_id": sid,
            "delta_base": sid - 1,
            "delta_depth": step + 1,
            "delta_accum": 0,
            "timestamp_ms": sid,
            "operation": "record-stats",
            "files_added": [],
            "files_removed": [],
            "file_stats": upd,
        }
        with open(os.path.join(meta, f"snap-{sid}.json"), "w") as f:
            json.dump(raw, f)
        doc = advance_plan_index(root, sid, raw=raw)
        assert doc is not None
        dead = sum(s["rows"] for s in doc["segments"]) - doc["live_files"]
        if doc["cur"] == {} and len(doc["segments"]) == 1 and step > 0:
            compacted_at = step
        assert dead <= max(doc["live_files"], 4), (step, dead)
    assert compacted_at is not None, "dead-row threshold never compacted"
    # plans stay exact after the fold
    res = _plan(root, 5, [("k", ">=", 150), ("k", "<=", 260)])
    assert sorted(res[0]) == sorted(
        f
        for f in files
        if stats[f]["k"][0] <= 260 and stats[f]["k"][1] >= 150
    )


def test_spec_evolution_advances_without_rebuild(spark, tmp_path):
    """Spec evolution is a DOC-SCALAR advance in v4 (rows store only
    explicit spec entries; the current-spec default resolves at plan
    time), so introducing or changing a partition spec advances
    incrementally — no refusal, no full rebuild — and the plans stay
    exact across the mixed-spec table (round-12 verdict ask #2)."""
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        append_partitioned,
        partition_pruned_scan,
    )

    t = SnapshotTable(spark, str(tmp_path / "spec"))
    t.append(
        spark.range(0, 500).select(
            F.col("id").alias("k"), (F.col("id") % 16).alias("b")
        )
    )
    record_file_stats(t, ["k"])
    # introducing a partition spec is a structural change — v4
    # advances it from the parent index + the delta alone
    append_partitioned(
        t,
        spark.range(500, 1500).select(
            F.col("id").alias("k"), (F.col("id") % 16).alias("b")
        ),
        [("b", "bucket[4]")],
    )
    sid = t.current_snapshot_id()
    raw = json.load(open(os.path.join(t.path, "metadata", f"snap-{sid}.json")))
    if "delta_base" in raw:
        doc = advance_plan_index(t.path, sid, raw=raw)
        assert doc is not None
        pm = doc["partition_specs"]
        assert [s["spec"] for s in pm["specs"]] == [[["b", "bucket[4]"]]]
        assert pm["current_spec_id"] == 0
    df, summary = partition_pruned_scan(t, {"b": 3})
    assert summary.get("columnar") is True
    # every b=3 row across both the partitioned and the conservative files
    assert df.count() == sum(1 for k in range(1500) if k % 16 == 3)
    # a SECOND evolution (different transform → new spec id) advances
    # too, and each file still prunes against ITS OWN spec
    append_partitioned(
        t,
        spark.range(1500, 2000).select(
            F.col("id").alias("k"), (F.col("id") % 16).alias("b")
        ),
        [("b", "bucket[8]")],
    )
    sid2 = t.current_snapshot_id()
    raw2 = json.load(
        open(os.path.join(t.path, "metadata", f"snap-{sid2}.json"))
    )
    if "delta_base" in raw2:
        doc2 = advance_plan_index(t.path, sid2, raw=raw2)
        assert doc2 is not None
        assert doc2["partition_specs"]["current_spec_id"] == 1
        assert len(doc2["partition_specs"]["specs"]) == 2
    df2, summary2 = partition_pruned_scan(t, {"b": 3})
    assert summary2.get("columnar") is True
    assert df2.count() == sum(1 for k in range(2000) if k % 16 == 3)


def test_structural_clear_still_refuses_advance(tmp_path):
    """A delta CLEARING a structural scalar (wholesale restructure) is
    still the full build's job — advance refuses rather than guess."""
    root = str(tmp_path / "clr")
    meta = os.path.join(root, "metadata")
    os.makedirs(meta)
    snap = {
        "snapshot_id": 1,
        "parent": None,
        "timestamp_ms": 0,
        "operation": "append",
        "files": ["data/f1.parquet"],
        "file_stats": {"data/f1.parquet": {"k": [0, 9]}},
        "partition_specs": [{"spec_id": 0, "spec": [["b", "identity"]]}],
        "current_spec_id": 0,
        "file_partitions": {"data/f1.parquet": ["3"]},
        "file_spec_ids": {"data/f1.parquet": 0},
    }
    with open(os.path.join(meta, "snap-1.json"), "w") as f:
        json.dump(snap, f)
    assert write_plan_index(root, snap) is not None
    raw = {
        "snapshot_id": 2,
        "delta_base": 1,
        "delta_depth": 1,
        "timestamp_ms": 1,
        "operation": "restructure",
        "files_added": [],
        "files_removed": [],
        "cleared": ["partition_specs", "current_spec_id"],
    }
    with open(os.path.join(meta, "snap-2.json"), "w") as f:
        json.dump(raw, f)
    assert advance_plan_index(root, 2, raw=raw) is None


def test_expiry_gcs_unreferenced_segments(indexed_table, spark):
    t = indexed_table
    for i in range(3):
        t.append(
            spark.range(60_000 + i * 100, 60_000 + i * 100 + 50).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("v")
            )
        )
    meta = os.path.join(t.path, "metadata")
    import glob

    assert glob.glob(os.path.join(meta, "plan-seg-*.parquet"))
    from iceberg_catalog_migrator_spark.sources.snapshots import (
        rewrite_small_files,
    )

    rewrite_small_files(t)
    t.expire_snapshots(keep_last=1)
    head = t.current_snapshot_id()
    # only the retained head may hold an index doc
    docs = glob.glob(os.path.join(meta, "plan-index-*.json"))
    assert all(p == sidecar_path(t.path, head) for p in docs)
    # every remaining segment is referenced by a remaining doc
    referenced = set()
    for p in docs:
        referenced.update(s["name"] for s in json.load(open(p))["segments"])
    for seg in glob.glob(os.path.join(meta, "plan-seg-*.parquet")):
        assert os.path.basename(seg) in referenced
    # and planning still works at the head
    snap = load_manifest(t.path, head)
    res = _plan(t.path, head, [("k", ">=", 0), ("k", "<=", 100)])
    assert res is not None and sorted(res[0]) == _dict_plan(snap, "k", 0, 100)


def test_segment_loss_plans_through_the_dict_until_the_next_commit(
    indexed_table, spark
):
    """A GC race or torn segment must not leave a doc that keeps
    failing: the failing plan drops the doc, planning answers through
    the dict and writes nothing, and the next commit writes its
    successor's index in full."""
    t = indexed_table
    sid = t.current_snapshot_id()
    doc = _fresh_doc(t.path, sid)
    os.unlink(os.path.join(t.path, "metadata", doc["segments"][0]["name"]))
    assert plan_paths(t.path, doc, [("k", ">=", 0)]) is None  # drops the doc
    assert _fresh_doc(t.path, sid) is None
    ranges = [("k", ">=", 0), ("k", "<=", 100)]
    plan = pruning.plan_files(t, sid, ranges)
    assert plan.doc is None and _fresh_doc(t.path, sid) is None
    assert sorted(plan.files) == _dict_plan(load_manifest(t.path, sid), "k", 0, 100)
    t.append(
        spark.range(50_000, 50_010)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
        .repartition(1)
    )
    head = t.current_snapshot_id()
    assert len(_segments(t.path, head)) == 1  # the full build
    res = _plan(t.path, head, ranges)
    assert sorted(res[0]) == _dict_plan(load_manifest(t.path, head), "k", 0, 100)


def test_advance_memory_order_under_full_build(tmp_path):
    """tracemalloc pin at 20k files: advancing a 3-file delta costs an
    order of magnitude less memory than the full dict build. (Never
    time and memory in the same run — this test only measures memory.)"""
    import sys
    import tracemalloc

    sys.path.insert(0, "scripts")
    from scale_plan_index import build_table, delta_commit

    n = 20_000
    root = str(tmp_path / "advmem")
    build_table(root, n)
    raw2 = delta_commit(root, n)
    tracemalloc.start()
    doc = advance_plan_index(root, 2, raw=raw2)
    _, adv_peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert doc is not None
    snap = json.load(open(os.path.join(root, "metadata", "snap-1.json")))
    tracemalloc.start()
    write_plan_index(root, snap)
    _, full_peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert adv_peak * 10 < full_peak, (adv_peak, full_peak)
    # and the advanced index is exact
    res = _plan(root, 2, [("k", ">=", 300), ("k", "<=", 310)])
    assert sorted(res[0]) == ["data/part-0000003.parquet"]


from hypothesis import given, settings
from hypothesis import strategies as st


@pytest.mark.slow
@settings(max_examples=25, deadline=None)
@given(st.data())
def test_advance_chain_equals_full_rebuild(data):
    """Property: over ANY random chain of delta commits (adds, removes,
    stat updates, stat drops via pf_cleared), the incrementally
    advanced index plans exactly like a fresh full build from the
    resolved state — for every snapshot in the chain, across range and
    no-op predicates."""
    import tempfile

    from iceberg_catalog_migrator_spark.sources.plan_index import (
        advance_plan_index as _advance,
    )
    from iceberg_catalog_migrator_spark.sources.plan_index import (
        write_plan_index as _full,
    )

    with tempfile.TemporaryDirectory() as root:
        meta = os.path.join(root, "metadata")
        os.makedirs(meta)
        n0 = data.draw(st.integers(1, 12), label="n0")
        live = {
            f"data/f{i:04d}.parquet": [i * 10, i * 10 + 9] for i in range(n0)
        }
        counter = n0
        snap = {
            "snapshot_id": 1,
            "parent": None,
            "timestamp_ms": 0,
            "operation": "append",
            "files": sorted(live),
            "file_stats": {f: {"k": r} for f, r in live.items()},
        }
        with open(os.path.join(meta, "snap-1.json"), "w") as f:
            json.dump(snap, f)
        assert _full(root, snap) is not None
        states = {1: dict(live)}
        n_commits = data.draw(st.integers(1, 6), label="n_commits")
        for step in range(n_commits):
            sid = step + 2
            removed = (
                data.draw(
                    st.lists(
                        st.sampled_from(sorted(live)),
                        max_size=min(3, len(live)),
                        unique=True,
                    ),
                    label=f"removed{sid}",
                )
                if live
                else []
            )
            n_add = data.draw(st.integers(0, 3), label=f"nadd{sid}")
            added = []
            for _ in range(n_add):
                name = f"data/f{counter:04d}.parquet"
                counter += 1
                added.append(name)
            survivors = [f for f in live if f not in removed]
            upd = (
                data.draw(
                    st.lists(
                        st.sampled_from(survivors), max_size=2, unique=True
                    ),
                    label=f"upd{sid}",
                )
                if survivors
                else []
            )
            droppable = [f for f in survivors if f not in upd]
            dropped_stats = (
                data.draw(
                    st.lists(
                        st.sampled_from(droppable), max_size=1, unique=True
                    ),
                    label=f"drop{sid}",
                )
                if droppable
                else []
            )
            for f in removed:
                live.pop(f)
            stats_delta = {}
            for f in added:
                lo = data.draw(st.integers(-100, 2000), label=f"lo{f}")
                live[f] = [lo, lo + data.draw(st.integers(0, 50))]
                stats_delta[f] = {"k": live[f]}
            for f in upd:
                lo = data.draw(st.integers(-100, 2000), label=f"ulo{f}")
                live[f] = [lo, lo + 5]
                stats_delta[f] = {"k": live[f]}
            for f in dropped_stats:
                live[f] = None  # no stats: conservative keep
            raw = {
                "snapshot_id": sid,
                "delta_base": sid - 1,
                "delta_depth": step + 1,
                "delta_accum": 0,
                "timestamp_ms": sid,
                "operation": "merge",
                "files_added": sorted(added),
                "files_removed": sorted(removed),
                "file_stats": stats_delta,
                **(
                    {"pf_cleared": {"file_stats": sorted(dropped_stats)}}
                    if dropped_stats
                    else {}
                ),
            }
            with open(os.path.join(meta, f"snap-{sid}.json"), "w") as f:
                json.dump(raw, f)
            assert _advance(root, sid, raw=raw) is not None
            states[sid] = dict(live)
        for sid, state in states.items():
            for lo, hi in ((0, 40), (500, 600), (-1000, 5000), (10_000, 10_001)):
                res = _plan(root, sid, [("k", ">=", lo), ("k", "<=", hi)])
                assert res is not None
                expected = sorted(
                    f
                    for f, r in state.items()
                    if r is None or (r[0] <= hi and r[1] >= lo)
                )
                assert sorted(res[0]) == expected, (sid, lo, hi)
                assert res[1]["total_files"] == len(state)


def test_advance_widens_part_k_for_longer_tuples(tmp_path):
    """A delta adding files whose tuples are LONGER than any the full
    build saw (the longer spec existed but had no live files) must
    widen the new segment's partition columns — a frozen max_k would
    truncate them and plan_partition_paths would silently prune files
    whose tuples DO match (code-review round-12 finding #1)."""
    root = str(tmp_path / "widen")
    meta = os.path.join(root, "metadata")
    os.makedirs(meta, exist_ok=True)
    specs = [
        {"spec_id": 5, "spec": [["a", "identity"]]},
        {"spec_id": 7, "spec": [["a", "identity"], ["b", "identity"]]},
    ]
    snap = {
        "snapshot_id": 1,
        "parent": None,
        "timestamp_ms": 0,
        "operation": "append",
        "files": ["data/f1.parquet", "data/f2.parquet"],
        "file_stats": {},
        "partition_specs": specs,
        "current_spec_id": 7,
        "partition_spec": [["a", "identity"]],
        "file_partitions": {
            "data/f1.parquet": ["x"],
            "data/f2.parquet": ["y"],
        },
        "file_spec_ids": {
            "data/f1.parquet": 5,
            "data/f2.parquet": 5,
        },
    }
    with open(os.path.join(meta, "snap-1.json"), "w") as f:
        json.dump(snap, f)
    write_plan_index(root, snap)
    raw2 = {
        "snapshot_id": 2,
        "parent": 1,
        "timestamp_ms": 1,
        "operation": "append",
        "delta_base": 1,
        "delta_depth": 1,
        "files_added": ["data/f3.parquet"],
        "files_removed": [],
        "file_partitions": {"data/f3.parquet": ["x", "z"]},
        "file_spec_ids": {"data/f3.parquet": 7},
    }
    with open(os.path.join(meta, "snap-2.json"), "w") as f:
        json.dump(raw2, f)
    doc = advance_plan_index(root, 2, raw2)
    assert doc is not None
    assert doc["partition_specs"]["max_k"] >= 2
    # the 2-tuple file matches the spec-7 probe and MUST be kept
    res = _ppp(root, 2, {7: {0: {None: {"x"}}, 1: {None: {"z"}}}})
    assert res is not None
    assert "data/f3.parquet" in res[0]
    # and a non-matching probe still prunes it
    res2 = _ppp(root, 2, {7: {0: {None: {"x"}}, 1: {None: {"QQ"}}}})
    assert "data/f3.parquet" not in res2[0]


@pytest.mark.slow
@settings(max_examples=25, deadline=None)
@given(st.data())
def test_advance_chain_with_evolution_equals_full_rebuild(data):
    """Property (round-12 verdict ask #2): over ANY random chain mixing
    plain deltas with STRUCTURAL commits — partition-spec evolution,
    schema tracking/evolution, files with and without explicit spec
    entries — the incrementally advanced index answers partition and
    stats plans exactly like a fresh full build from the resolved
    state (which derives from the dict), at every snapshot."""
    import shutil
    import tempfile

    from iceberg_catalog_migrator_spark.sources.plan_index import (
        advance_plan_index as _advance,
    )
    from iceberg_catalog_migrator_spark.sources.plan_index import (
        write_plan_index as _full,
    )

    vals = ["0", "1", "2", "3"]
    with tempfile.TemporaryDirectory() as root:
        meta = os.path.join(root, "metadata")
        os.makedirs(meta)
        specs = [{"spec_id": 0, "spec": [["b", "identity"]]}]
        cur_spec = 0
        schemas = None
        cur_schema = None
        files: dict[str, dict] = {}
        counter = 0

        def _resolved(sid):
            snap = {
                "snapshot_id": sid,
                "parent": None,
                "timestamp_ms": sid,
                "operation": "append",
                "files": sorted(files),
                "file_stats": {
                    f: {"k": d["stats"]}
                    for f, d in files.items()
                    if d["stats"] is not None
                },
                "partition_specs": [
                    {"spec_id": s["spec_id"], "spec": [list(p) for p in s["spec"]]}
                    for s in specs
                ],
                "current_spec_id": cur_spec,
                "file_partitions": {
                    f: list(d["part"])
                    for f, d in files.items()
                    if d["part"] is not None
                },
                "file_spec_ids": {
                    f: d["spec"]
                    for f, d in files.items()
                    if d["spec"] is not None and d["part"] is not None
                },
            }
            if schemas is not None:
                snap["schemas"] = schemas
                snap["current_schema_id"] = cur_schema
                snap["file_schema_ids"] = {
                    f: d["schema"]
                    for f, d in files.items()
                    if d["schema"] is not None
                }
            return snap

        def _add_files(n, sid, explicit_prob):
            nonlocal counter
            added = {}
            for _ in range(n):
                name = f"data/f{counter:04d}.parquet"
                counter += 1
                spec_for = cur_spec
                part = [
                    data.draw(st.sampled_from(vals), label=f"pv{name}")
                    for _ in range(
                        len(
                            next(
                                s["spec"]
                                for s in specs
                                if s["spec_id"] == spec_for
                            )
                        )
                    )
                ]
                explicit = data.draw(
                    st.booleans(), label=f"explicit{name}"
                ) if explicit_prob else False
                lo = data.draw(st.integers(0, 900), label=f"lo{name}")
                files[name] = {
                    "stats": [lo, lo + 30],
                    "part": part,
                    "spec": spec_for if explicit else None,
                    "schema": cur_schema,
                }
                added[name] = files[name]
            return added

        # seed snapshot (full form)
        _add_files(data.draw(st.integers(1, 6), label="n0"), 1, True)
        snap1 = _resolved(1)
        with open(os.path.join(meta, "snap-1.json"), "w") as f:
            json.dump(snap1, f)
        assert _full(root, snap1) is not None
        model = {1: ({f: dict(d) for f, d in files.items()}, list(specs), cur_spec)}
        n_commits = data.draw(st.integers(1, 5), label="n_commits")
        for step in range(n_commits):
            sid = step + 2
            op = data.draw(
                st.sampled_from(["delta", "spec_evolve", "schema_evolve"]),
                label=f"op{sid}",
            )
            raw = {
                "snapshot_id": sid,
                "delta_base": sid - 1,
                "delta_depth": step + 1,
                "delta_accum": 0,
                "timestamp_ms": sid,
                "operation": op,
                "files_added": [],
                "files_removed": [],
            }
            if op == "spec_evolve":
                new_spec = [
                    ["b", "identity"],
                    ["c", "identity"],
                ][: data.draw(st.integers(1, 2), label=f"speck{sid}")]
                match = next(
                    (s["spec_id"] for s in specs if s["spec"] == new_spec),
                    None,
                )
                if match is None:
                    match = max(s["spec_id"] for s in specs) + 1
                    specs = specs + [{"spec_id": match, "spec": new_spec}]
                cur_spec = match
                raw["partition_specs"] = [
                    {"spec_id": s["spec_id"], "spec": [list(p) for p in s["spec"]]}
                    for s in specs
                ]
                raw["current_spec_id"] = cur_spec
                added = _add_files(
                    data.draw(st.integers(0, 2), label=f"nadd{sid}"), sid, True
                )
            elif op == "schema_evolve":
                if schemas is None:
                    schemas = [
                        {
                            "schema_id": 0,
                            "fields": [{"id": 1, "name": "k", "type": "int"}],
                        }
                    ]
                    cur_schema = 0
                    # tracking assigns every file its vintage
                    for d in files.values():
                        d["schema"] = 0
                    raw["file_schema_ids"] = {f: 0 for f in files}
                else:
                    nsid = max(s["schema_id"] for s in schemas) + 1
                    schemas = schemas + [
                        {
                            "schema_id": nsid,
                            "fields": [
                                {"id": 1, "name": "k", "type": "bigint"}
                            ],
                        }
                    ]
                    cur_schema = nsid
                raw["schemas"] = schemas
                raw["current_schema_id"] = cur_schema
                added = {}
            else:
                removed = (
                    data.draw(
                        st.lists(
                            st.sampled_from(sorted(files)),
                            max_size=min(2, len(files)),
                            unique=True,
                        ),
                        label=f"rm{sid}",
                    )
                    if files
                    else []
                )
                for f in removed:
                    files.pop(f)
                raw["files_removed"] = sorted(removed)
                added = _add_files(
                    data.draw(st.integers(0, 3), label=f"nadd{sid}"), sid, True
                )
            raw["files_added"] = sorted(added)
            if added:
                raw["file_stats"] = {
                    f: {"k": d["stats"]} for f, d in added.items()
                }
                raw["file_partitions"] = {
                    f: list(d["part"]) for f, d in added.items()
                }
                fsi = {
                    f: d["spec"]
                    for f, d in added.items()
                    if d["spec"] is not None
                }
                if fsi:
                    raw["file_spec_ids"] = fsi
                if schemas is not None:
                    raw.setdefault("file_schema_ids", {}).update(
                        {f: d["schema"] for f, d in added.items()}
                    )
            with open(os.path.join(meta, f"snap-{sid}.json"), "w") as f:
                json.dump(raw, f)
            assert _advance(root, sid, raw=raw) is not None, (sid, op)
            model[sid] = (
                {f: dict(d) for f, d in files.items()},
                [dict(s) for s in specs],
                cur_spec,
            )

        for sid, (state, st_specs, st_cur) in model.items():
            # stats plans agree with the dict rule
            for lo, hi in ((0, 100), (400, 500), (-5, 2000)):
                res = _plan(root, sid, [("k", ">=", lo), ("k", "<=", hi)])
                assert res is not None
                expected = sorted(
                    f
                    for f, d in state.items()
                    if d["stats"] is None
                    or (d["stats"][0] <= hi and d["stats"][1] >= lo)
                )
                assert sorted(res[0]) == expected, (sid, lo, hi)
            # partition plans agree with the dict rule
            # file_spec_ids.get(f, current_spec_id) under probes on a
            # random subset of specs
            probe_ids = data.draw(
                st.lists(
                    st.sampled_from([s["spec_id"] for s in st_specs]),
                    min_size=1,
                    max_size=len(st_specs),
                    unique=True,
                ),
                label=f"probe{sid}",
            )
            v = data.draw(st.sampled_from(vals), label=f"probeval{sid}")
            # the value set applies to every vintage in the state
            vintages = {d["schema"] for d in state.values()} | {None}
            wanted = {
                pid: {0: dict.fromkeys(vintages, frozenset([v]))}
                for pid in probe_ids
            }
            res = _ppp(root, sid, wanted)
            assert res is not None
            expected = sorted(
                f
                for f, d in state.items()
                if d["part"] is None
                or (d["spec"] if d["spec"] is not None else st_cur)
                not in wanted
                or d["part"][0] == v
            )
            assert sorted(res[0]) == expected, (sid, wanted)
            # and exactly like a FULL rebuild from the resolved state
            with tempfile.TemporaryDirectory() as root2:
                os.makedirs(os.path.join(root2, "metadata"))
                # rebuild the resolved snapshot for THIS sid from model
                files2, specs2, cur2 = (
                    {f: dict(d) for f, d in state.items()},
                    st_specs,
                    st_cur,
                )
                snap_doc = {
                    "snapshot_id": sid,
                    "parent": None,
                    "timestamp_ms": sid,
                    "operation": "append",
                    "files": sorted(files2),
                    "file_stats": {
                        f: {"k": d["stats"]}
                        for f, d in files2.items()
                        if d["stats"] is not None
                    },
                    "partition_specs": specs2,
                    "current_spec_id": cur2,
                    "file_partitions": {
                        f: list(d["part"])
                        for f, d in files2.items()
                        if d["part"] is not None
                    },
                    "file_spec_ids": {
                        f: d["spec"]
                        for f, d in files2.items()
                        if d["spec"] is not None and d["part"] is not None
                    },
                }
                with open(
                    os.path.join(root2, "metadata", f"snap-{sid}.json"), "w"
                ) as f:
                    json.dump(snap_doc, f)
                assert _full(root2, snap_doc) is not None
                res2 = _ppp(root2, sid, wanted)
                assert res2 is not None
                assert sorted(res2[0]) == sorted(res[0]), (sid, wanted)


def test_rename_shaped_delta_advances_and_rekeys_stat_plans(tmp_path):
    """A rename commit re-keys every file's recorded stats (the delta
    carries one replacement entry per file) and bumps the schema log —
    v4 advances through it: plans on the NEW name prune exactly, plans
    on the retired name keep conservatively, and the doc's schema
    scalars move to the new vintage."""
    root = str(tmp_path / "ren")
    meta = os.path.join(root, "metadata")
    os.makedirs(meta)
    files = [f"data/f{i:04d}.parquet" for i in range(6)]
    snap = {
        "snapshot_id": 1,
        "parent": None,
        "timestamp_ms": 0,
        "operation": "append",
        "files": files,
        "file_stats": {
            f: {"k": [i * 100, i * 100 + 99]} for i, f in enumerate(files)
        },
        "schemas": [
            {
                "schema_id": 0,
                "fields": [{"id": 1, "name": "k", "type": "bigint"}],
            }
        ],
        "current_schema_id": 0,
        "file_schema_ids": {f: 0 for f in files},
    }
    with open(os.path.join(meta, "snap-1.json"), "w") as f:
        json.dump(snap, f)
    assert write_plan_index(root, snap) is not None
    raw = {
        "snapshot_id": 2,
        "delta_base": 1,
        "delta_depth": 1,
        "delta_accum": 0,
        "timestamp_ms": 1,
        "operation": "rename-k-to-j",
        "files_added": [],
        "files_removed": [],
        "schemas": snap["schemas"]
        + [
            {
                "schema_id": 1,
                "fields": [{"id": 1, "name": "j", "type": "bigint"}],
            }
        ],
        "current_schema_id": 1,
        "file_stats": {
            f: {"j": [i * 100, i * 100 + 99]} for i, f in enumerate(files)
        },
    }
    with open(os.path.join(meta, "snap-2.json"), "w") as f:
        json.dump(raw, f)
    doc = advance_plan_index(root, 2, raw=raw)
    assert doc is not None
    assert doc["current_schema_id"] == 1
    assert doc["schema_tracked"] is True
    res = _plan(root, 2, [("j", ">=", 150), ("j", "<=", 210)])
    assert sorted(res[0]) == ["data/f0001.parquet", "data/f0002.parquet"]
    # retired name: no file records it any more -> conservative keep-all
    res_old = _plan(root, 2, [("k", ">=", 150), ("k", "<=", 210)])
    assert sorted(res_old[0]) == files
    # snapshot 1 still answers under the OLD name
    res1 = _plan(root, 1, [("k", ">=", 150), ("k", "<=", 210)])
    assert sorted(res1[0]) == ["data/f0001.parquet", "data/f0002.parquet"]


def test_reselected_spec_keeps_every_spec_in_the_index(tmp_path):
    """A delta that re-selects an existing spec moves ``partition_spec``
    and ``current_spec_id`` but not the spec list: the index must keep
    every spec under its own id, not read the current spec as spec 0
    (that pruned a bucket-spec file holding a matching key)."""
    from iceberg_catalog_migrator_spark.sources.plan_index import index_commit

    root = str(tmp_path / "resel")
    meta = os.path.join(root, "metadata")
    os.makedirs(meta)
    specs = [
        {"spec_id": 0, "spec": [["k", "bucket[4]"]]},
        {"spec_id": 1, "spec": [["k", "truncate[1]"]]},
    ]
    snap = {
        "snapshot_id": 1,
        "parent": None,
        "timestamp_ms": 0,
        "operation": "append",
        "files": ["data/f0.parquet", "data/f1.parquet"],
        "partition_spec": [["k", "truncate[1]"]],
        "partition_specs": specs,
        "current_spec_id": 1,
        "file_partitions": {"data/f0.parquet": ["3"], "data/f1.parquet": ["1"]},
        "file_spec_ids": {"data/f0.parquet": 0, "data/f1.parquet": 1},
    }
    with open(os.path.join(meta, "snap-1.json"), "w") as f:
        json.dump(snap, f)
    assert write_plan_index(root, snap) is not None
    raw = {
        "snapshot_id": 2,
        "parent": 1,
        "delta_base": 1,
        "delta_depth": 1,
        "timestamp_ms": 1,
        "operation": "append",
        "files_added": ["data/f2.parquet"],
        "files_removed": [],
        "partition_spec": [["k", "bucket[4]"]],
        "current_spec_id": 0,
        "file_partitions": {"data/f2.parquet": ["2"]},
        "file_spec_ids": {"data/f2.parquet": 0},
    }
    with open(os.path.join(meta, "snap-2.json"), "w") as f:
        json.dump(raw, f)
    index_commit(root, 2)
    pm = _fresh_doc(root, 2)["partition_specs"]
    assert [(s["spec_id"], s["spec"]) for s in pm["specs"]] == [
        (s["spec_id"], s["spec"]) for s in load_manifest(root, 2)["partition_specs"]
    ]
    assert pm["current_spec_id"] == 0
