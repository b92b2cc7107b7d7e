"""The registered on-disk fixture helper (queries/registry.py).

The helper tests use trivial non-Spark builders under a ``tmp_path``
root; the order test runs the even/odd snapshot family at sf0.001 in
two orders, each from its own empty root, and checks every result
against its DuckDB oracle and the shared base fixture's history.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import threading
import time

import duckdb
import pandas as pd
import pytest

from iceberg_catalog_migrator_spark.queries import registry


@pytest.fixture
def fixture_root(tmp_path, monkeypatch):
    root = tmp_path / "fixtures"
    monkeypatch.setattr(registry, "FIXTURE_ROOT", str(root))
    monkeypatch.setattr(registry, "FIXTURES", {})
    return root


@pytest.fixture
def dataset(tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "orders.parquet").write_bytes(b"not really parquet")
    return sf


def _recording_builder(calls: list):
    def build(spark, sf_dir, root):
        calls.append(root)
        with open(os.path.join(root, "table.txt"), "w") as f:
            f.write("built")

    return build


def test_second_call_reuses_the_fixture(fixture_root, dataset):
    calls: list[str] = []
    fixture = registry.register_fixture("toy")(_recording_builder(calls))
    root = fixture(None, str(dataset))
    assert fixture(None, str(dataset)) == root
    assert calls == [root]
    assert os.path.dirname(os.path.dirname(root)) == str(fixture_root)
    assert os.path.basename(os.path.dirname(root)) == "toy"
    with open(os.path.join(root, registry._MARKER)) as f:
        assert f.read() == os.path.basename(root)


def test_duplicate_fixture_name_is_refused(fixture_root):
    registry.register_fixture("toy")(_recording_builder([]))
    with pytest.raises(ValueError, match="duplicate fixture name"):
        registry.register_fixture("toy")(_recording_builder([]))


def test_input_mtime_change_rebuilds(fixture_root, dataset):
    calls: list[str] = []
    fixture = registry.register_fixture("toy")(_recording_builder(calls))
    first = fixture(None, str(dataset))
    st = os.stat(dataset / "orders.parquet")
    os.utime(dataset / "orders.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    second = fixture(None, str(dataset))
    assert second != first
    assert calls == [first, second]


_BUILDER_SOURCE = '''
CALLS = []


def build(spark, sf_dir, root):
    CALLS.append(root)
    with open(root + "/table.txt", "w") as f:
        f.write({payload!r})
'''


def _load_builder(path, payload: str, calls: list):
    path.write_text(_BUILDER_SOURCE.format(payload=payload))
    spec = importlib.util.spec_from_file_location(f"toy_builder_{payload}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.CALLS = calls
    return mod.build


def test_builder_source_edit_rebuilds(fixture_root, dataset, tmp_path):
    calls: list[str] = []
    src = tmp_path / "toy_builder.py"
    build = _load_builder(src, "v1", calls)
    first = registry.ensure_fixture("toy", build, None, str(dataset))
    assert registry.ensure_fixture("toy", build, None, str(dataset)) == first
    edited = _load_builder(src, "version-2", calls)
    second = registry.ensure_fixture("toy", edited, None, str(dataset))
    assert second != first
    assert calls == [first, second]
    with open(os.path.join(second, "table.txt")) as f:
        assert f.read() == "version-2"


def test_failed_build_leaves_no_marker_and_rebuilds_from_empty(fixture_root, dataset):
    seen: list[list[str]] = []

    def build(spark, sf_dir, root):
        seen.append(sorted(os.listdir(root)))
        with open(os.path.join(root, "half.txt"), "w") as f:
            f.write("partial")
        if len(seen) == 1:
            raise RuntimeError("builder died midway")

    fixture = registry.register_fixture("toy")(build)
    with pytest.raises(RuntimeError, match="midway"):
        fixture(None, str(dataset))
    (key_dir,) = [p for p in (fixture_root / "toy").iterdir() if p.is_dir()]
    assert not (key_dir / registry._MARKER).exists()
    root = fixture(None, str(dataset))
    assert root == str(key_dir)
    assert seen == [[], []]
    assert (key_dir / registry._MARKER).exists()


def test_concurrent_callers_build_once(fixture_root, dataset):
    calls: list[str] = []
    started = threading.Barrier(8)

    def build(spark, sf_dir, root):
        calls.append(root)
        time.sleep(0.2)  # hold the build open while the others arrive

    fixture = registry.register_fixture("toy")(build)
    roots: list[str] = []

    def call():
        started.wait(timeout=10)
        roots.append(fixture(None, str(dataset)))

    threads = [threading.Thread(target=call) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert len(roots) == 8 and len(set(roots)) == 1
    assert calls == roots[:1]


# --------------------------------------------------------------- stages
_ROUNDS = 3


class _Context:
    def __init__(self, app: str):
        self.applicationId = app


class _Session:
    def __init__(self, app: str):
        self.sparkContext = _Context(app)


@pytest.fixture
def stages(monkeypatch):
    monkeypatch.setattr(registry, "STAGES", {})
    monkeypatch.setattr(registry, "_STAGE_NAMES", set())
    monkeypatch.setattr(registry, "CACHE_STATS", {})


def test_stage_counts_a_miss_a_hit_and_a_rebuild(stages, dataset):
    stage = registry.register_stage("toy")(lambda spark, sf_dir, n: n * _ROUNDS)
    session = _Session("app-1")
    assert stage(session, str(dataset), 2) == 6
    assert stage(session, str(dataset), 2) == 6
    (dataset / "orders.parquet").write_bytes(b"regenerated, longer input")
    assert stage(session, str(dataset), 2) == 6
    stats = registry.CACHE_STATS["toy"]
    assert (stats["hits"], stats["misses"]) == (1, 2)
    assert stats["build_s"] >= 0.0


def test_stage_rebuilds_on_a_patched_constant_and_a_new_session(stages, dataset, monkeypatch):
    calls: list[int] = []

    def build(spark, sf_dir):
        calls.append(_ROUNDS)
        return _ROUNDS

    stage = registry.register_stage("toy")(build)
    first = _Session("app-1")
    assert stage(first, str(dataset)) == 3
    monkeypatch.setattr(sys.modules[__name__], "_ROUNDS", 0)
    assert stage(first, str(dataset)) == 0
    assert stage(first, str(dataset)) == 0
    assert stage(_Session("app-2"), str(dataset)) == 0
    assert calls == [3, 0, 0]
    with pytest.raises(ValueError, match="duplicate stage name"):
        registry.register_stage("toy")(build)


def test_replaced_stage_frame_is_unpersisted(spark, stages, monkeypatch):
    stage = registry.register_stage("toy")(
        lambda spark, sf_dir: spark.range(_ROUNDS).persist()
    )
    old = stage(spark, "/nonexistent")
    assert old.count() == 3 and old.is_cached
    monkeypatch.setattr(sys.modules[__name__], "_ROUNDS", 5)
    new = stage(spark, "/nonexistent")
    assert new.count() == 5 and new.is_cached
    assert not old.is_cached
    registry.clear_stages()
    assert not new.is_cached and registry.STAGES == {}


def test_regenerated_input_serves_new_rows(spark, stages, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_catalog_migrator_spark.sources import load_table

    def write_docs(n: int) -> None:
        ids = list(range(n))
        pq.write_table(
            pa.table({"doc_id": ids, "text": [f"doc {i}" for i in ids]}),
            str(tmp_path / "documents.parquet"),
        )

    stage = registry.register_stage("toy")(
        lambda spark, sf_dir: load_table(spark, sf_dir, "documents").persist()
    )
    write_docs(20)
    assert load_table(spark, str(tmp_path), "documents").count() == 20
    assert stage(spark, str(tmp_path)).count() == 20
    write_docs(200)
    assert load_table(spark, str(tmp_path), "documents").count() == 200
    assert stage(spark, str(tmp_path)).count() == 200
    registry.clear_stages()


# ---------------------------------------------------------------- order


_FAMILY = [
    "snapshot_incremental_orders",
    "snapshot_mor_delete_read",
    "snapshot_changelog_orders",
    "snapshot_stream_drain_orders",
]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def test_snapshot_family_is_order_independent(spark, sf_dir, tmp_path, monkeypatch):
    from iceberg_catalog_migrator_spark.queries import all_queries
    from iceberg_catalog_migrator_spark.sources import TABLES
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable

    queries = all_queries()
    base = registry.FIXTURES["orders_even_odd"]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    histories = []
    for label, order in (("forward", _FAMILY), ("reverse", _FAMILY[::-1])):
        monkeypatch.setattr(registry, "FIXTURE_ROOT", str(tmp_path / label))
        for name in order:
            got = _normalize(queries[name].fn(spark, sf_dir).toPandas())
            want = _normalize(con.sql(queries[name].oracle).df())
            pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-9)
        histories.append(SnapshotTable(spark, base(spark, sf_dir)).history_ids())
    con.close()
    assert histories == [[1, 2], [1, 2]]
