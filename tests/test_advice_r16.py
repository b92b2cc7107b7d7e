"""Pins for the four ADVICE r15 fixes taken in the r16 round.

1. a large zstd payload is written under a bounded window, well inside
   the 128 MiB default window limit stock decoders enforce.
2. codec_tag normalizes 'zstandard' to the historical 'zstd-' family.
3. _latest_reusable skips a torn newest candidate instead of
   disabling reuse.
4. REST stage-create over a table whose metadata file is corrupt
   falls back to a fresh uuid instead of a 500.
"""

from __future__ import annotations

import json
import os

import pytest

from iceberg_catalog_migrator_spark.sources.codecs import compress, decompress

SF = "/root/testdata/sf0.01"


def _zstd_window_size(frame: bytes) -> int:
    """Window_Size a zstd frame header declares (RFC 8878 3.1.1.1.2):
    the content size of a single-segment frame, else the window
    descriptor's exponent and mantissa."""
    fhd = frame[4]
    if fhd & 0x20:  # Single_Segment_flag
        fcs_len = {0: 1, 1: 2, 2: 4, 3: 8}[fhd >> 6]
        did_len = {0: 0, 1: 1, 2: 2, 3: 4}[fhd & 3]
        at = 5 + did_len
        fcs = int.from_bytes(frame[at : at + fcs_len], "little")
        return fcs + 256 if fcs_len == 2 else fcs
    wd = frame[5]
    base = 1 << (10 + (wd >> 3))
    return base + (base // 8) * (wd & 7)


def test_compress_bounds_window_for_large_payloads():
    # a 16 MiB payload: libzstd picks its window from the level, not
    # from the content size, so no payload outgrows stock decoders
    data = bytes(range(251)) * (16 * 1024 * 1024 // 251)
    z = compress("zstd", data)
    assert _zstd_window_size(z) <= 8 << 20
    assert decompress("zstd", z) == data
    # a small payload stays one single-segment frame
    assert _zstd_window_size(compress("zstd", b"a" * 1024)) == 1024


def test_codec_tag_zstandard_aliases_to_zstd_family(spark, tmp_path):
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources import load_table
    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        export_iceberg_metadata,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "alias"))
    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    t.append(nation)
    out = export_iceberg_metadata(t, compression="zstandard")
    avros = [os.path.basename(f) for f in out["files"] if f.endswith(".avro")]
    assert avros and all("-zstd-" in b for b in avros), avros
    # byte-identical codec under the other spelling: the reuse check
    # must hand back the SAME doc, not mint a second family
    out2 = export_iceberg_metadata(t, compression="zstd", reuse=True)
    assert out2["metadata_location"] == out["metadata_location"]


def test_latest_reusable_skips_torn_candidate(spark, tmp_path):
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources import load_table
    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        export_iceberg_metadata,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "torn"))
    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    t.append(nation)
    out1 = export_iceberg_metadata(t, reuse=True)
    v1 = out1["metadata_location"]
    # a torn write from a crashed exporter: newest candidate unreadable
    torn = os.path.join(os.path.dirname(v1), "v99.metadata.json")
    with open(torn, "w") as f:
        f.write('{"current-snapshot-id": ')
    out2 = export_iceberg_metadata(t, reuse=True)
    assert out2["metadata_location"] == v1, (
        "older valid doc must still be reused past the torn candidate"
    )


def test_rest_stage_create_with_corrupt_live_metadata(tmp_path):
    from iceberg_catalog_migrator_spark.catalog import (
        SqlCatalog,
        TableIdentifier,
    )
    from iceberg_catalog_migrator_spark.catalog.rest_server import (
        IcebergRestCatalogServer,
    )

    from test_rest_foreign_client import SCHEMA, ForeignClient

    store = SqlCatalog("store", str(tmp_path / "store.db"))
    server = IcebergRestCatalogServer(
        store, owns_store=True, warehouse=str(tmp_path / "wh")
    )
    uri = server.start()
    try:
        fc = ForeignClient(uri)
        assert fc.create_namespace(("db",))[0] == 200
        status, created = fc.create_table("db", {"name": "t", "schema": SCHEMA})
        assert status == 200
        loc = store.load_table_metadata_location(
            TableIdentifier.of("db", "t")
        )
        with open(loc, "w") as f:
            f.write("{torn")
        status, staged = fc.create_table(
            "db", {"name": "t", "schema": SCHEMA, "stage-create": True}
        )
        # catalog-shaped staged response with a fresh uuid, not a 500
        assert status == 200, staged
        assert staged["metadata"]["table-uuid"]
        assert staged["metadata"]["table-uuid"] != created["metadata"]["table-uuid"]
    finally:
        server.close()
