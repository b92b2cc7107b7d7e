"""Puffin container + portable roaring-bitmap codec for Iceberg v3
deletion vectors — pure numpy/stdlib, written from the PUBLIC specs:

- Puffin file format (iceberg.apache.org/puffin-spec): ``PFA1`` magic,
  raw blobs, then a footer = magic + UTF-8 JSON payload + payload size
  (4 bytes little-endian) + 4 flag bytes + magic.
- RoaringBitmap portable serialization (RoaringFormatSpec): 32-bit
  streams open with cookie 12346 (no run containers; container count
  follows) or 12347 (run-capable; count packed in the cookie's high 16
  bits, then a run-flag bitset), then per-container ``(key u16,
  cardinality-1 u16)`` descriptors, an optional offset header, and the
  container bodies (sorted u16 arrays / 8 KiB bitsets / run lists).
  The 64-bit "portable" extension prefixes a little-endian u64 bucket
  count, then per bucket a little-endian u32 high-key followed by a
  32-bit stream.
- Iceberg v3 deletion-vector blob (``deletion-vector-v1``): big-endian
  u32 length of (magic + vector), magic ``D1 D3 39 64``, the 64-bit
  portable bitmap, then a big-endian CRC-32 of magic + vector.

Reference parity: projectnessie/iceberg-catalog-migrator registers
tables by metadata pointer and never opens data or delete files
(CatalogMigrator.java:243 registerTable) — so DV support lives
entirely in THIS engine's analytics extension (import/export/adopt),
not the ported migration plane.

Everything decodes vectorized (``np.frombuffer`` / ``unpackbits``);
the expansion of DV blobs into (file, position) delete rows happens
executor-side via ``mapInPandas`` (see iceberg_read), so a table with
billions of deleted positions never materializes them on the driver.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np

from .codecs import CodecError, compress, decompress

PUFFIN_MAGIC = b"PFA1"
DV_MAGIC = b"\xd1\xd3\x39\x64"
DV_BLOB_TYPE = "deletion-vector-v1"

_SERIAL_COOKIE = 12347
_SERIAL_COOKIE_NO_RUN = 12346
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096  # cardinality above this serializes as a bitset


class PuffinError(ValueError):
    """Malformed or unsupported Puffin / roaring / DV bytes."""


# --------------------------------------------------------- roaring 32
def _serialize_roaring32(values: np.ndarray) -> bytes:
    """Portable bytes for sorted unique uint32 ``values`` — always the
    run-less cookie (12346): arrays for cardinality <= 4096, bitsets
    above, offset header always present (that cookie requires it)."""
    values = np.asarray(values, dtype=np.uint32)
    keys_all = (values >> np.uint32(16)).astype(np.uint16)
    lows_all = values.astype(np.uint16)  # truncating cast: low 16 bits
    keys, starts = np.unique(keys_all, return_index=True)
    n = len(keys)
    bounds = np.append(starts, len(values))
    header = struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)
    desc = bytearray()
    bodies: list[bytes] = []
    sizes: list[int] = []
    for i in range(n):
        lows = lows_all[bounds[i] : bounds[i + 1]]
        card = len(lows)
        desc += struct.pack("<HH", int(keys[i]), card - 1)
        if card <= _ARRAY_MAX:
            body = lows.tobytes()
        else:
            bits = np.zeros(65536, dtype=bool)
            bits[lows] = True
            body = np.packbits(bits, bitorder="little").tobytes()
        bodies.append(body)
        sizes.append(len(body))
    # offset header: absolute byte positions from the stream start
    off0 = 8 + 4 * n + 4 * n
    offsets = np.cumsum([off0] + sizes[:-1]).astype("<u4") if n else []
    return (
        header
        + bytes(desc)
        + (offsets.tobytes() if n else b"")
        + b"".join(bodies)
    )


def _deserialize_roaring32(buf: memoryview, pos: int) -> tuple[np.ndarray, int]:
    """Decode one 32-bit portable stream at ``pos``; returns (sorted
    uint32 values, position past the stream). Handles both cookies and
    all three container forms; ignores the offset header (containers
    decode sequentially — sizes follow from the descriptors)."""
    if pos + 4 > len(buf):
        raise PuffinError("roaring: truncated cookie")
    (cookie,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    run_flags = None
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        nbytes = (n + 7) // 8
        run_flags = np.unpackbits(
            np.frombuffer(buf, np.uint8, nbytes, pos), bitorder="little"
        )[:n]
        pos += nbytes
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        if pos + 4 > len(buf):
            raise PuffinError("roaring: truncated container count")
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        has_offsets = True
    else:
        raise PuffinError(f"roaring: unknown cookie {cookie & 0xFFFF}")
    if pos + 4 * n > len(buf):
        raise PuffinError("roaring: truncated descriptors")
    desc = np.frombuffer(buf, "<u2", 2 * n, pos).reshape(n, 2)
    pos += 4 * n
    if has_offsets:
        pos += 4 * n  # decoded sequentially; the offsets are redundant
    out: list[np.ndarray] = []
    for i in range(n):
        key = np.uint32(desc[i, 0]) << np.uint32(16)
        card = int(desc[i, 1]) + 1
        if run_flags is not None and run_flags[i]:
            (nruns,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = np.frombuffer(buf, "<u2", 2 * nruns, pos).reshape(
                nruns, 2
            )
            pos += 4 * nruns
            # int() before the arithmetic: under numpy 2 (NEP 50) the
            # uint16 scalars would wrap at a run ending on 65535 and
            # silently drop deleted positions
            lows = np.concatenate(
                [
                    np.arange(int(s), int(s) + int(ln) + 1, dtype=np.uint32)
                    for s, ln in runs
                ]
            ) if nruns else np.empty(0, np.uint32)
        elif card > _ARRAY_MAX:
            words = np.frombuffer(buf, np.uint8, 8192, pos)
            pos += 8192
            lows = np.nonzero(
                np.unpackbits(words, bitorder="little")
            )[0].astype(np.uint32)
            if len(lows) != card:
                raise PuffinError(
                    "roaring: bitset cardinality mismatch "
                    f"({len(lows)} set bits, descriptor says {card})"
                )
        else:
            lows = np.frombuffer(buf, "<u2", card, pos).astype(np.uint32)
            pos += 2 * card
        out.append(key | lows)
    if not out:
        return np.empty(0, np.uint32), pos
    return np.concatenate(out), pos


# --------------------------------------------------------- roaring 64
def serialize_positions(positions: np.ndarray) -> bytes:
    """64-bit 'portable' bytes for non-negative int64 ``positions``
    (need not be sorted/unique — normalized here)."""
    positions = np.unique(np.asarray(positions, dtype=np.int64))
    if len(positions) and positions[0] < 0:
        raise PuffinError("deletion-vector positions must be >= 0")
    highs_all = (positions >> 32).astype(np.uint32)
    lows_all = (positions & 0xFFFFFFFF).astype(np.uint32)
    highs, starts = np.unique(highs_all, return_index=True)
    bounds = np.append(starts, len(positions))
    parts = [struct.pack("<Q", len(highs))]
    for i, h in enumerate(highs):
        parts.append(struct.pack("<I", int(h)))
        parts.append(
            _serialize_roaring32(lows_all[bounds[i] : bounds[i + 1]])
        )
    return b"".join(parts)


def deserialize_positions(data: bytes) -> np.ndarray:
    """Sorted int64 positions from 64-bit portable bytes."""
    buf = memoryview(data)
    if len(buf) < 8:
        raise PuffinError("roaring64: truncated bucket count")
    (n,) = struct.unpack_from("<Q", buf, 0)
    pos = 8
    out: list[np.ndarray] = []
    for _ in range(n):
        if pos + 4 > len(buf):
            raise PuffinError("roaring64: truncated bucket key")
        (high,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        lows, pos = _deserialize_roaring32(buf, pos)
        out.append((np.int64(high) << np.int64(32)) | lows.astype(np.int64))
    if pos != len(buf):
        raise PuffinError(
            f"roaring64: {len(buf) - pos} trailing bytes after the last "
            "bucket"
        )
    if not out:
        return np.empty(0, np.int64)
    return np.concatenate(out)


# ------------------------------------------------------------ DV blob
def dv_blob(positions: np.ndarray) -> bytes:
    """Spec-framed ``deletion-vector-v1`` blob bytes: u32-BE length of
    (magic + vector), the DV magic, the portable bitmap, then a u32-BE
    CRC-32 of magic + vector."""
    vec = serialize_positions(positions)
    body = DV_MAGIC + vec
    return struct.pack(">I", len(body)) + body + struct.pack(
        ">I", zlib.crc32(body)
    )


def dv_positions(blob: bytes) -> np.ndarray:
    """Decode one DV blob (as framed by :func:`dv_blob`) to sorted
    int64 positions; validates magic, length and CRC."""
    if len(blob) < 12:
        raise PuffinError("deletion vector blob: too short")
    (length,) = struct.unpack_from(">I", blob, 0)
    if len(blob) != 4 + length + 4:
        raise PuffinError(
            f"deletion vector blob: framed length {length} does not "
            f"match {len(blob)} blob bytes"
        )
    body = blob[4 : 4 + length]
    if body[:4] != DV_MAGIC:
        raise PuffinError("deletion vector blob: bad magic")
    (crc,) = struct.unpack_from(">I", blob, 4 + length)
    if crc != zlib.crc32(body):
        raise PuffinError("deletion vector blob: CRC mismatch")
    return deserialize_positions(body[4:])


# ----------------------------------------------------------- container
def write_puffin(
    path: str,
    blobs: list[dict],
    properties: dict | None = None,
) -> list[dict]:
    """Write a Puffin file atomically. Each input blob dict carries
    ``payload`` (bytes) plus footer metadata (``type``, optional
    ``fields``/``snapshot-id``/``sequence-number``/``properties``,
    and optional ``compression-codec`` — ``zstd`` compresses the
    payload with libzstd (:mod:`.codecs`) and records the codec in the
    descriptor; the v3 spec forbids compressing deletion vectors, so
    DV callers never pass one). Returns the footer's blob descriptors
    (with assigned offset/length), in order."""
    descriptors = []
    payloads = []
    off = len(PUFFIN_MAGIC)
    for b in blobs:
        payload = b["payload"]
        codec = b.get("compression-codec")
        if codec == "zstd":
            payload = compress(codec, payload)
        elif codec is not None:
            raise PuffinError(
                f"unsupported blob compression-codec {codec!r} on "
                "write (zstd only)"
            )
        payloads.append(payload)
        descriptors.append(
            {
                "type": b["type"],
                "fields": b.get("fields", []),
                "snapshot-id": b.get("snapshot-id", -1),
                "sequence-number": b.get("sequence-number", -1),
                "offset": off,
                "length": len(payload),
                **({"compression-codec": codec} if codec else {}),
                **(
                    {"properties": b["properties"]}
                    if b.get("properties")
                    else {}
                ),
            }
        )
        off += len(payload)
    footer = {"blobs": descriptors}
    if properties:
        footer["properties"] = properties
    payload_json = json.dumps(footer, separators=(",", ":")).encode()
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(PUFFIN_MAGIC)
        for payload in payloads:
            f.write(payload)
        f.write(PUFFIN_MAGIC)
        f.write(payload_json)
        f.write(struct.pack("<I", len(payload_json)))
        f.write(b"\x00\x00\x00\x00")  # flags: footer not compressed
        f.write(PUFFIN_MAGIC)
    os.replace(tmp, path)
    return descriptors


def read_puffin_footer(path: str) -> dict:
    """The footer payload JSON of a Puffin file (validates both magics
    and the flag bytes; refuses compressed footers loudly — this
    environment carries no LZ4)."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        head = f.read(4)
        if head != PUFFIN_MAGIC:
            raise PuffinError(f"{path}: not a Puffin file (bad magic)")
        f.seek(size - 12)
        tail = f.read(12)
        if tail[8:] != PUFFIN_MAGIC:
            raise PuffinError(f"{path}: bad trailing Puffin magic")
        (payload_size,) = struct.unpack_from("<I", tail, 0)
        flags = tail[4:8]
        if flags[0] & 0x01:
            raise PuffinError(
                f"{path}: compressed Puffin footer is not supported"
            )
        f.seek(size - 12 - payload_size - 4)
        magic2 = f.read(4)
        if magic2 != PUFFIN_MAGIC:
            raise PuffinError(f"{path}: bad footer-start Puffin magic")
        payload = f.read(payload_size)
    try:
        return json.loads(payload.decode())
    except ValueError as e:
        raise PuffinError(f"{path}: malformed footer JSON: {e}") from e


def read_blob_decoded(path: str, descriptor: dict) -> bytes:
    """A footer-described blob's UNCOMPRESSED bytes: honors the spec's
    per-blob ``compression-codec`` (absent = raw; ``zstd`` decoded by
    libzstd through :mod:`.codecs`; ``lz4`` refuses loudly — not
    served here).
    Deletion-vector blobs never route through this (the v3 spec forbids
    compressing them, and DV entries locate blobs WITHOUT the footer)."""
    raw = read_blob(
        path, int(descriptor["offset"]), int(descriptor["length"])
    )
    codec = descriptor.get("compression-codec")
    if codec is None:
        return raw
    if codec == "zstd":
        try:
            return decompress(codec, raw)
        except CodecError as e:
            raise PuffinError(
                f"{path}: zstd blob at {descriptor['offset']} failed to "
                f"decode: {e}"
            ) from e
    raise PuffinError(
        f"{path}: unsupported blob compression-codec {codec!r} "
        "(uncompressed and zstd are served; lz4 is not implemented)"
    )


def read_blob(path: str, offset: int, length: int) -> bytes:
    """Raw blob bytes at (offset, length) — how a DV entry's
    ``content_offset``/``content_size_in_bytes`` reads, no footer
    round-trip needed."""
    with open(path, "rb") as f:
        f.seek(offset)
        data = f.read(length)
    if len(data) != length:
        raise PuffinError(
            f"{path}: blob at {offset} truncated "
            f"({len(data)} of {length} bytes)"
        )
    return data
