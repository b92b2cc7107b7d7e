"""Puffin container + portable roaring codec — property round-trips
plus HAND-CRAFTED byte fixtures built directly from the public specs
(RoaringFormatSpec, Puffin spec, Iceberg v3 DV framing), so the
encoder and decoder cannot share a wrong assumption."""

import os
import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_catalog_migrator_spark.sources.puffin import (
    DV_MAGIC,
    PUFFIN_MAGIC,
    PuffinError,
    deserialize_positions,
    dv_blob,
    dv_positions,
    read_blob,
    read_puffin_footer,
    serialize_positions,
    write_puffin,
)


# ------------------------------------------------------ round trips
@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40),
        max_size=300,
    )
)
def test_roaring64_roundtrip_sparse(vals):
    arr = np.array(sorted(set(vals)), dtype=np.int64)
    out = deserialize_positions(serialize_positions(np.array(vals, np.int64)))
    assert np.array_equal(out, arr)


def test_roaring64_roundtrip_dense_bitset():
    # >4096 values inside one 65536 block forces the bitset container
    rng = np.random.default_rng(7)
    vals = rng.choice(65536, size=9000, replace=False).astype(np.int64)
    out = deserialize_positions(serialize_positions(vals))
    assert np.array_equal(out, np.sort(vals))


def test_roaring64_roundtrip_multibucket():
    # values straddling several 2^32 buckets and several 2^16 keys
    base = np.array([0, 1, 2**16, 2**32, 2**32 + 5, 5 * 2**32 + 123], np.int64)
    dense = (7 * 2**32) + np.arange(5000, dtype=np.int64)  # bitset far bucket
    vals = np.concatenate([base, dense])
    out = deserialize_positions(serialize_positions(vals))
    assert np.array_equal(out, np.sort(vals))


def test_roaring64_empty():
    assert len(deserialize_positions(serialize_positions(np.array([], np.int64)))) == 0


def test_negative_position_refused():
    with pytest.raises(PuffinError):
        serialize_positions(np.array([-1], np.int64))


# ----------------------------------------- hand-crafted byte fixtures
def test_handcrafted_array_container():
    """{1, 3, 5*65536+10} under high bucket 0, written by hand:
    64-bit header (1 bucket, key 0), cookie 12346, 2 containers."""
    stream = struct.pack("<II", 12346, 2)
    stream += struct.pack("<HH", 0, 1)  # key 0, card-1 = 1
    stream += struct.pack("<HH", 5, 0)  # key 5, card-1 = 0
    off0 = 8 + 8 + 8  # header + descriptors + offsets
    stream += struct.pack("<II", off0, off0 + 4)
    stream += struct.pack("<HH", 1, 3)  # container 0: values 1, 3
    stream += struct.pack("<H", 10)  # container 1: value 10
    data = struct.pack("<Q", 1) + struct.pack("<I", 0) + stream
    assert deserialize_positions(data).tolist() == [1, 3, 5 * 65536 + 10]


def test_handcrafted_run_container():
    """Cookie 12347 with ONE run container [100..104] — a form the
    encoder never emits, so only a hand fixture covers it."""
    n = 1
    cookie = 12347 | ((n - 1) << 16)
    stream = struct.pack("<I", cookie)
    stream += b"\x01"  # run-flag bitset: container 0 is a run
    stream += struct.pack("<HH", 0, 4)  # key 0, card-1 = 4
    # < NO_OFFSET_THRESHOLD containers: no offset header
    stream += struct.pack("<H", 1)  # 1 run
    stream += struct.pack("<HH", 100, 4)  # start 100, length-1 = 4
    data = struct.pack("<Q", 1) + struct.pack("<I", 0) + stream
    assert deserialize_positions(data).tolist() == [100, 101, 102, 103, 104]


def test_handcrafted_run_container_block_boundary():
    """A run ending exactly at position 65535 — the uint16 wraparound
    trap (numpy 2's NEP-50 scalar semantics would wrap s+len+1 to 0
    and silently drop the run's positions)."""
    n = 1
    cookie = 12347 | ((n - 1) << 16)
    stream = struct.pack("<I", cookie)
    stream += b"\x01"
    stream += struct.pack("<HH", 0, 5)  # card-1 = 5
    stream += struct.pack("<H", 1)
    stream += struct.pack("<HH", 65530, 5)  # 65530..65535
    data = struct.pack("<Q", 1) + struct.pack("<I", 0) + stream
    assert deserialize_positions(data).tolist() == [
        65530, 65531, 65532, 65533, 65534, 65535,
    ]


def test_handcrafted_bitset_container():
    """A hand-written 8 KiB bitset holding {0, 64, 65} ... padded to
    >4096 cardinality via a solid run of bits 8192..12999."""
    bits = np.zeros(65536, dtype=bool)
    bits[[0, 64, 65]] = True
    bits[8192:13000] = True
    card = int(bits.sum())
    assert card > 4096
    stream = struct.pack("<II", 12346, 1)
    stream += struct.pack("<HH", 0, card - 1)
    stream += struct.pack("<I", 8 + 4 + 4)
    stream += np.packbits(bits, bitorder="little").tobytes()
    data = struct.pack("<Q", 1) + struct.pack("<I", 0) + stream
    out = deserialize_positions(data)
    assert np.array_equal(out, np.nonzero(bits)[0].astype(np.int64))


def test_handcrafted_highbucket_key():
    """Bucket key 2 means positions start at 2*2^32."""
    stream = struct.pack("<II", 12346, 1)
    stream += struct.pack("<HH", 0, 0)
    stream += struct.pack("<I", 8 + 4 + 4)
    stream += struct.pack("<H", 7)
    data = struct.pack("<Q", 1) + struct.pack("<I", 2) + stream
    assert deserialize_positions(data).tolist() == [2 * 2**32 + 7]


def test_trailing_garbage_refused():
    data = serialize_positions(np.array([1, 2], np.int64)) + b"\x00"
    with pytest.raises(PuffinError):
        deserialize_positions(data)


# ------------------------------------------------------------ DV blob
def test_dv_blob_framing():
    vals = np.array([3, 7, 9], np.int64)
    blob = dv_blob(vals)
    (length,) = struct.unpack_from(">I", blob, 0)
    assert blob[4:8] == DV_MAGIC
    assert len(blob) == 4 + length + 4
    body = blob[4 : 4 + length]
    (crc,) = struct.unpack_from(">I", blob, 4 + length)
    assert crc == zlib.crc32(body)
    assert dv_positions(blob).tolist() == [3, 7, 9]


def test_dv_blob_crc_validated():
    blob = bytearray(dv_blob(np.array([1], np.int64)))
    blob[-1] ^= 0xFF
    with pytest.raises(PuffinError, match="CRC"):
        dv_positions(bytes(blob))


def test_dv_blob_bad_magic():
    blob = bytearray(dv_blob(np.array([1], np.int64)))
    blob[4] = 0x00
    # magic corruption also breaks the CRC; either refusal is loud
    with pytest.raises(PuffinError):
        dv_positions(bytes(blob))


def test_dv_blob_length_mismatch():
    blob = dv_blob(np.array([1], np.int64)) + b"\x00"
    with pytest.raises(PuffinError, match="length"):
        dv_positions(blob)


# ----------------------------------------------------------- container
def test_puffin_write_read(tmp_path):
    p1 = dv_blob(np.array([1, 5], np.int64))
    p2 = dv_blob(np.arange(10_000, dtype=np.int64))
    path = str(tmp_path / "x.puffin")
    descs = write_puffin(
        path,
        [
            {
                "type": "deletion-vector-v1",
                "snapshot-id": 11,
                "sequence-number": 2,
                "payload": p1,
                "properties": {"referenced-data-file": "/d/a.parquet", "cardinality": "2"},
            },
            {
                "type": "deletion-vector-v1",
                "snapshot-id": 11,
                "sequence-number": 2,
                "payload": p2,
                "properties": {"referenced-data-file": "/d/b.parquet", "cardinality": "10000"},
            },
        ],
        properties={"created-by": "iceberg-catalog-migrator-spark"},
    )
    assert descs[0]["offset"] == 4 and descs[0]["length"] == len(p1)
    assert descs[1]["offset"] == 4 + len(p1)
    footer = read_puffin_footer(path)
    assert footer["properties"]["created-by"].startswith("iceberg")
    assert [b["properties"]["referenced-data-file"] for b in footer["blobs"]] == [
        "/d/a.parquet",
        "/d/b.parquet",
    ]
    for desc, payload, want in (
        (footer["blobs"][0], p1, [1, 5]),
        (footer["blobs"][1], p2, list(range(10_000))),
    ):
        raw = read_blob(path, desc["offset"], desc["length"])
        assert raw == payload
        assert dv_positions(raw).tolist() == want
    with open(path, "rb") as f:
        assert f.read(4) == PUFFIN_MAGIC


def test_puffin_bad_magic(tmp_path):
    path = str(tmp_path / "bad.puffin")
    with open(path, "wb") as f:
        f.write(b"NOPE" + b"\x00" * 40)
    with pytest.raises(PuffinError, match="magic"):
        read_puffin_footer(path)


def test_puffin_compressed_footer_refused(tmp_path):
    path = str(tmp_path / "c.puffin")
    payload = b"{}"
    with open(path, "wb") as f:
        f.write(PUFFIN_MAGIC + PUFFIN_MAGIC + payload)
        f.write(struct.pack("<I", len(payload)))
        f.write(b"\x01\x00\x00\x00")  # compressed-footer flag
        f.write(PUFFIN_MAGIC)
    with pytest.raises(PuffinError, match="compressed"):
        read_puffin_footer(path)


def test_read_blob_truncation(tmp_path):
    path = str(tmp_path / "t.bin")
    with open(path, "wb") as f:
        f.write(b"abc")
    with pytest.raises(PuffinError, match="truncated"):
        read_blob(path, 0, 10)
    assert not os.path.exists(path + ".tmp")


def test_full_block_and_max_positions():
    """A COMPLETELY full 2^16 block (cardinality 65536: card-1 still
    fits u16, bitset all-ones) plus positions near the i64 top."""
    full = np.arange(65536, dtype=np.int64) + 3 * 65536
    high = np.array([2**62, 2**62 + 1], dtype=np.int64)
    vals = np.concatenate([full, high])
    out = deserialize_positions(serialize_positions(vals))
    assert np.array_equal(out, np.sort(vals))
    # and through the DV framing
    assert np.array_equal(dv_positions(dv_blob(vals)), np.sort(vals))


def _zstd_raw_frame(data: bytes) -> bytes:
    """A legal zstd frame of raw blocks around arbitrary bytes —
    spec-layout assembly (RFC 8878), no encoder involved."""
    out = bytearray(struct.pack("<I", 0xFD2FB528))
    out += bytes([0x00, 0x30])  # fhd: no flags; window descriptor 64 KiB
    chunks = [data[i : i + 65536] for i in range(0, len(data), 65536)] or [
        b""
    ]
    for i, c in enumerate(chunks):
        last = int(i == len(chunks) - 1)
        out += struct.pack("<I", (len(c) << 3) | last)[:3] + c
    return bytes(out)


def _puffin_with_codec(path, payload, codec):
    """Hand-assemble a one-blob Puffin file whose footer declares
    ``compression-codec`` (write_puffin deliberately has no compression
    support — the house fixture rule)."""
    import json as _json

    magic = b"PFA1"
    desc = {
        "type": "apache-datasketches-theta-v1",
        "fields": [1],
        "offset": 4,
        "length": len(payload),
    }
    if codec is not None:
        desc["compression-codec"] = codec
    footer = _json.dumps({"blobs": [desc]}).encode()
    with open(path, "wb") as f:
        f.write(magic + payload + magic + footer)
        f.write(struct.pack("<I", len(footer)) + b"\x00\x00\x00\x00" + magic)
    return desc


def test_read_blob_decoded_codecs(tmp_path):
    """The spec's per-blob compression-codec: absent = raw bytes, zstd
    decodes through libzstd, lz4 refuses loudly, corrupt zstd
    surfaces as PuffinError (round 14)."""
    from iceberg_catalog_migrator_spark.sources.puffin import (
        read_blob_decoded,
    )

    body = b"sketch-bytes-" * 50
    p = str(tmp_path / "raw.puffin")
    desc = _puffin_with_codec(p, body, None)
    assert read_blob_decoded(p, desc) == body

    pz = str(tmp_path / "z.puffin")
    descz = _puffin_with_codec(pz, _zstd_raw_frame(body), "zstd")
    assert read_blob_decoded(pz, descz) == body

    pl = str(tmp_path / "l.puffin")
    descl = _puffin_with_codec(pl, body, "lz4")
    with pytest.raises(PuffinError, match="lz4"):
        read_blob_decoded(pl, descl)

    pbad = str(tmp_path / "bad.puffin")
    descbad = _puffin_with_codec(pbad, b"\x00\x01\x02\x03garbage", "zstd")
    with pytest.raises(PuffinError, match="zstd blob"):
        read_blob_decoded(pbad, descbad)


def test_zstd_compressed_theta_blob_serves_ndv(tmp_path, spark):
    """End-to-end: a FOREIGN puffin whose theta blob is zstd-compressed
    feeds the statistics import — the sketch decodes to the same
    estimate as its uncompressed twin."""
    from iceberg_catalog_migrator_spark.sources.puffin import (
        read_blob_decoded,
    )
    from iceberg_catalog_migrator_spark.sources.sketches import (
        ThetaSketch,
        hash63_bytes,
    )

    sk = ThetaSketch.from_hashes(
        hash63_bytes([str(i).encode() for i in range(1000)])
    )
    payload = sk.to_bytes()
    pz = str(tmp_path / "theta-z.puffin")
    desc = _puffin_with_codec(pz, _zstd_raw_frame(payload), "zstd")
    got = ThetaSketch.from_bytes(read_blob_decoded(pz, desc))
    assert round(got.estimate()) == round(sk.estimate())
