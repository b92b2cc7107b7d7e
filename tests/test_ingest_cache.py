"""Ingest-cache contract: splittable re-chunk for big fixtures, pass-
through for dims, byte-identical rows, env kill-switch."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from iceberg_catalog_migrator_spark.sources import tables as T


@pytest.fixture()
def cache_dir(tmp_path, monkeypatch):
    d = str(tmp_path / "ingest")
    monkeypatch.setattr(T, "INGEST_CACHE_DIR", d)
    return d


def test_small_table_passes_through(cache_dir, sf_dir):
    p = T._ingested_path(sf_dir, "nation")
    assert p == os.path.join(sf_dir, "nation.parquet")
    assert not os.path.exists(cache_dir)


def test_large_table_rechunked_and_identical(cache_dir):
    sf = "/root/testdata/sf0.1"
    p = T._ingested_path(sf, "lineitem")
    assert p.startswith(cache_dir)
    md = pq.ParquetFile(p).metadata
    src_md = pq.ParquetFile(os.path.join(sf, "lineitem.parquet")).metadata
    assert md.num_rows == src_md.num_rows
    assert md.num_row_groups == T.TARGET_SPLITS
    # same logical content
    assert pq.read_table(p).equals(pq.read_table(os.path.join(sf, "lineitem.parquet")))


def test_cache_reused_not_rewritten(cache_dir):
    sf = "/root/testdata/sf0.1"
    p1 = T._ingested_path(sf, "orders")
    mtime = os.path.getmtime(p1)
    p2 = T._ingested_path(sf, "orders")
    assert p1 == p2
    assert os.path.getmtime(p2) == mtime


def test_copy_follows_target_splits(cache_dir, sf_dir, monkeypatch):
    # a copy chunked for fewer cores must not be served to more
    monkeypatch.setattr(T, "TARGET_SPLITS", 4)
    T._ingested_path(sf_dir, "orders")
    monkeypatch.setattr(T, "TARGET_SPLITS", 8)
    p = T._ingested_path(sf_dir, "orders")
    assert pq.ParquetFile(p).metadata.num_row_groups == 8


def test_kill_switch(cache_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NO_INGEST_CACHE", "1")
    sf = "/root/testdata/sf0.1"
    assert T._ingested_path(sf, "lineitem") == os.path.join(sf, "lineitem.parquet")


def test_events_loader_handles_both_ts_generations(spark, sf_dir, tmp_path, monkeypatch):
    # fixtures have shipped ts as TIMESTAMP(NANOS) (read as nanos-long
    # via the legacy conf) and as plain timestamp[us]; the loader must
    # normalize BOTH to identical TimestampType values
    import pyarrow as pa

    from pyspark.sql import types as PT

    monkeypatch.setenv("SPARK_GRAFT_NO_INGEST_CACHE", "1")
    current = T.load_table(spark, sf_dir, "events")
    assert isinstance(current.schema["ts"].dataType, PT.TimestampType)
    want = {(r.event_id, r.ts) for r in current.select("event_id", "ts").collect()}

    # re-materialize the same events with ts as TIMESTAMP(NANOS)
    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    idx = src.schema.get_field_index("ts")
    nanos = src.set_column(idx, "ts", src.column("ts").cast(pa.timestamp("ns")))
    legacy_dir = tmp_path / "legacy_sf"
    os.makedirs(legacy_dir)
    pq.write_table(nanos, str(legacy_dir / "events.parquet"))

    legacy = T.load_table(spark, str(legacy_dir), "events")
    assert isinstance(legacy.schema["ts"].dataType, PT.TimestampType)
    got = {(r.event_id, r.ts) for r in legacy.select("event_id", "ts").collect()}
    assert got == want
