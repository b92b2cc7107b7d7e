"""The block codecs of Avro containers and Puffin blobs: one table from
codec name to a compress/decompress pair.

zstd and snappy run on the libzstd and libsnappy that pyarrow links;
deflate, bzip2 and xz on the standard library. The keys are the Avro
spec's codec names, plus Puffin's ``zstd`` spelling of ``zstandard``.
Avro's big-endian CRC32 after a snappy block is container framing and
stays in :mod:`.iceberg_format`.

Reference parity: the reference migrator ships no compression code; it
leaves manifest and Puffin I/O to Iceberg core, which links the same
native libraries."""

from __future__ import annotations

import bz2
import lzma
import struct
import zlib
from typing import Callable, NamedTuple

import pyarrow as pa


class CodecError(ValueError):
    """Input a codec refuses; the message names the codec."""

    def __init__(self, codec: str, reason: str):
        super().__init__(f"{codec}: {reason}")
        self.codec = codec


class Codec(NamedTuple):
    name: str  # the Avro spelling, for aliases too
    compress: Callable[[bytes], bytes]
    decompress: Callable[[bytes], bytes]


_X1 = 0x9E3779B185EBCA87
_X2 = 0xC2B2AE3D27D4EB4F
_X3 = 0x165667B19E3779F9
_X4 = 0x85EBCA77C2B2AE63
_X5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """xxHash64, whose low 32 bits are a zstd frame's content checksum
    (pinned in tests against the published vectors)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _X1 + _X2) & _M64
        v2 = (seed + _X2) & _M64
        v3 = seed & _M64
        v4 = (seed - _X1) & _M64
        while i + 32 <= n:
            k1, k2, k3, k4 = struct.unpack_from("<QQQQ", data, i)
            v1 = (_rotl((v1 + k1 * _X2) & _M64, 31) * _X1) & _M64
            v2 = (_rotl((v2 + k2 * _X2) & _M64, 31) * _X1) & _M64
            v3 = (_rotl((v3 + k3 * _X2) & _M64, 31) * _X1) & _M64
            v4 = (_rotl((v4 + k4 * _X2) & _M64, 31) * _X1) & _M64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _X2) & _M64, 31) * _X1) & _M64
            h = (h * _X1 + _X4) & _M64
    else:
        h = (seed + _X5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h ^= (_rotl((k * _X2) & _M64, 31) * _X1) & _M64
        h = (_rotl(h, 27) * _X1 + _X4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * _X1) & _M64
        h = (_rotl(h, 23) * _X2 + _X3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _X5) & _M64
        h = (_rotl(h, 11) * _X1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _X2) & _M64
    h ^= h >> 29
    h = (h * _X3) & _M64
    h ^= h >> 32
    return h


def _zstd_compress(data: bytes) -> bytes:
    """One frame at libzstd's default level, with the content checksum
    libzstd's one-shot API leaves out: set the Frame_Header_Descriptor's
    Content_Checksum_flag and append the low 32 bits of xxHash64."""
    frame = bytearray(pa.Codec("zstd").compress(data, asbytes=True))
    frame[4] |= 0x04
    return bytes(frame) + struct.pack("<I", xxh64(data) & 0xFFFFFFFF)


def _zstd_decompress(data: bytes) -> bytes:
    # the streaming reader: Avro's Java writer omits the frame content
    # size, which Codec.decompress needs; it also reads skippable and
    # concatenated frames, and verifies a content checksum when present
    if not data:
        raise CodecError("zstandard", "empty input")
    return pa.CompressedInputStream(pa.BufferReader(data), "zstd").read()


def _snappy_decompress(data: bytes) -> bytes:
    # the block's varint preamble is its uncompressed length: pyarrow
    # returns a buffer of whatever size it is given, libsnappy refuses
    # a block that disagrees with its preamble
    size = 0
    for pos, shift in enumerate(range(0, 35, 7)):
        if pos >= len(data):
            raise CodecError("snappy", "truncated varint preamble")
        size |= (data[pos] & 0x7F) << shift
        if not data[pos] & 0x80:
            break
    return pa.Codec("snappy").decompress(
        data, decompressed_size=size, asbytes=True
    )


_ZSTD = Codec("zstandard", _zstd_compress, _zstd_decompress)
CODECS: dict[str, Codec] = {
    "null": Codec("null", bytes, bytes),
    "deflate": Codec(  # raw deflate: no zlib header, no adler32
        "deflate",
        lambda b: zlib.compress(b)[2:-4],
        lambda b: zlib.decompress(b, -15),
    ),
    "snappy": Codec(
        "snappy",
        lambda b: pa.Codec("snappy").compress(b, asbytes=True),
        _snappy_decompress,
    ),
    "bzip2": Codec("bzip2", bz2.compress, bz2.decompress),
    "xz": Codec(
        "xz", lambda b: lzma.compress(b, format=lzma.FORMAT_XZ), lzma.decompress
    ),
    "zstandard": _ZSTD,
    "zstd": _ZSTD,  # Puffin's spelling
}


def _lookup(codec: str) -> Codec:
    if codec not in CODECS:
        raise CodecError(codec, "unsupported codec")
    return CODECS[codec]


def compress(codec: str, data: bytes) -> bytes:
    """``data`` compressed by the named codec; an unknown name raises
    :class:`CodecError`."""
    return _lookup(codec).compress(data)


def decompress(codec: str, data: bytes) -> bytes:
    """``data`` decompressed by the named codec; an unknown name or
    input the codec refuses raises :class:`CodecError`."""
    c = _lookup(codec)
    try:
        return c.decompress(data)
    except CodecError:
        raise
    except (OSError, EOFError, ValueError, zlib.error, lzma.LZMAError) as exc:
        raise CodecError(c.name, str(exc)) from exc
