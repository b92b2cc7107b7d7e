"""zstd through the codec table (libzstd via pyarrow), both directions.

DECODER section: HAND-CRAFTED byte fixtures assembled from the RFC 8878
layout (the tests/test_puffin.py house rule — no fixture here is
produced by any encoder): each must decode, or be refused with
:class:`CodecError` and libzstd's reason.

ENCODER section (from ``test_encoder_roundtrip_corpus`` down): the
frames the engine writes round-trip, carry the xxHash64 content
checksum libzstd verifies, and decode through libzstd's one-shot API.

Fixture toolkit: a backward-bitstream assembler (items in READ order,
sentinel on top) and a forward LSB-first assembler for FSE table
descriptions, plus a reimplementation of the RFC's FSE spread used to
pick fixture states."""

import json
import os
import struct

import pytest

from iceberg_catalog_migrator_spark.sources import codecs
from iceberg_catalog_migrator_spark.sources.codecs import CodecError, xxh64


def decompress(data: bytes) -> bytes:
    return codecs.decompress("zstandard", data)


def compress(data: bytes) -> bytes:
    return codecs.compress("zstandard", data)

MAGIC = struct.pack("<I", 0xFD2FB528)


def back(items):
    """Backward bitstream: items in READ order, each (value, nbits)."""
    total = sum(n for _, n in items)
    acc = 1  # sentinel
    for v, n in items:
        assert 0 <= v < (1 << n) or n == 0
        acc = (acc << n) | v
    return acc.to_bytes((total + 8) // 8, "little")


def fwd(items):
    """Forward LSB-first bitstream (FSE table descriptions)."""
    acc = 0
    pos = 0
    for v, n in items:
        acc |= (v & ((1 << n) - 1)) << pos
        pos += n
    return acc.to_bytes((pos + 7) // 8, "little")


def block_hdr(size, btype, last):
    return struct.pack("<I", (size << 3) | (btype << 1) | last)[:3]


# ------------------------------------------------- independent FSE impl
def spread(freqs, accuracy_log):
    """The RFC's symbol-spread + state-table build."""
    size = 1 << accuracy_log
    symbols = [0] * size
    desc = [0] * len(freqs)
    high = size
    for s, f in enumerate(freqs):
        if f == -1:
            high -= 1
            symbols[high] = s
            desc[s] = 1
    step = (size >> 1) + (size >> 3) + 3
    pos = 0
    for s, f in enumerate(freqs):
        if f <= 0:
            continue
        desc[s] = f
        for _ in range(f):
            symbols[pos] = s
            pos = (pos + step) & (size - 1)
            while pos >= high:
                pos = (pos + step) & (size - 1)
    assert pos == 0
    nbits, base = [0] * size, [0] * size
    for i in range(size):
        s = symbols[i]
        x = desc[s]
        desc[s] += 1
        nb = accuracy_log - (x.bit_length() - 1)
        nbits[i] = nb
        base[i] = (x << nb) - size
    return symbols, nbits, base


LL_FREQS = [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
            2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
            -1, -1, -1, -1]
ML_FREQS = [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
            1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
            1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
            -1, -1, -1, -1, -1]
OF_FREQS = [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
            1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1]


# ----------------------------------------------------------- primitives
def test_xxh64_published_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert (
        xxh64(b"Nobody inspects the spammish repetition")
        == 0xFBCEA83C8A378BF1
    )
    # >=32-byte path (four accumulator lanes + merge)
    long = b"Nobody inspects the spammish repetition" * 4
    assert xxh64(long) != xxh64(long[:-1])


def test_raw_and_rle_blocks():
    f = MAGIC + bytes([0x20, 5]) + block_hdr(5, 0, 1) + b"hello"
    assert decompress(f) == b"hello"
    f = MAGIC + bytes([0x20, 7]) + block_hdr(7, 1, 1) + b"z"
    assert decompress(f) == b"zzzzzzz"


def test_multi_block_and_skippable_and_multi_frame():
    f1 = (
        MAGIC
        + bytes([0x20, 4])
        + block_hdr(2, 0, 0)
        + b"ab"
        + block_hdr(2, 1, 1)
        + b"c"
    )
    sk = struct.pack("<I", 0x184D2A53) + struct.pack("<I", 3) + b"pad"
    f2 = MAGIC + bytes([0x20, 1]) + block_hdr(1, 0, 1) + b"!"
    assert decompress(f1 + sk + f2) == b"abcc!"


def test_content_checksum_good_and_bad():
    body = b"checked-content"
    base = (
        MAGIC
        + bytes([0x24, len(body)])
        + block_hdr(len(body), 0, 1)
        + body
    )
    good = base + struct.pack("<I", xxh64(body) & 0xFFFFFFFF)
    assert decompress(good) == body
    bad = base + struct.pack("<I", (xxh64(body) ^ 1) & 0xFFFFFFFF)
    with pytest.raises(CodecError, match="doesn't match checksum"):
        decompress(bad)


def test_refusals():
    with pytest.raises(CodecError, match="Unknown frame descriptor"):
        decompress(b"\x00\x01\x02\x03rest")
    with pytest.raises(CodecError, match="empty input"):
        decompress(b"")
    # reserved block type
    f = MAGIC + bytes([0x20, 1]) + block_hdr(1, 3, 1) + b"x"
    with pytest.raises(CodecError, match="corruption"):
        decompress(f)
    # reserved frame-header bit
    with pytest.raises(CodecError, match="Unsupported frame parameter"):
        decompress(MAGIC + bytes([0x28, 0]))
    # a dictionary id refuses: no dictionary is ever supplied
    f = MAGIC + bytes([0x21, 0x2A, 1]) + block_hdr(1, 0, 1) + b"x"
    with pytest.raises(CodecError, match="Dictionary mismatch"):
        decompress(f)
    # declared content size mismatch
    f = MAGIC + bytes([0x20, 9]) + block_hdr(1, 0, 1) + b"x"
    with pytest.raises(CodecError, match="corruption"):
        decompress(f)
    # truncated raw block
    f = MAGIC + bytes([0x20, 5]) + block_hdr(5, 0, 1) + b"hi"
    with pytest.raises(CodecError, match="Truncated"):
        decompress(f)
    # a block larger than its frame's window (RFC 8878: Block_Maximum_Size
    # is the smaller of Window_Size and 128 KiB): 5,000 raw bytes under a
    # 1 KiB window descriptor (0x00)
    f = MAGIC + bytes([0x00, 0x00]) + block_hdr(5000, 0, 1) + b"x" * 5000
    with pytest.raises(CodecError, match="corruption"):
        decompress(f)
    # ...and the same block under a 64 KiB window (0x30) decodes
    f = MAGIC + bytes([0x00, 0x30]) + block_hdr(5000, 0, 1) + b"x" * 5000
    assert decompress(f) == b"x" * 5000


# --------------------------------------------------- compressed blocks
def _seq_block_predefined():
    """Raw literals ``abcdef`` + one predefined-mode sequence
    (ll=4, of_code=2 extra=1 -> offset 2, ml=3) -> ``abcdcdcef``."""
    ll_sym, _, _ = spread(LL_FREQS, 6)
    of_sym, _, _ = spread(OF_FREQS, 5)
    ml_sym, _, _ = spread(ML_FREQS, 6)
    bs = back(
        [
            (ll_sym.index(4), 6),
            (of_sym.index(2), 5),
            (ml_sym.index(0), 6),
            (1, 2),  # offset extra: (1<<2)+1 = 5 -> offset 2
        ]
    )
    return bytes([6 << 3]) + b"abcdef" + bytes([1, 0x00]) + bs


def test_predefined_sequence_block():
    blk = _seq_block_predefined()
    f = MAGIC + bytes([0x20, 9]) + block_hdr(len(blk), 2, 1) + blk
    assert decompress(f) == b"abcdcdcef"


def test_two_sequences_with_state_updates():
    """Two sequences force the state-update path (read LL, ML, OF
    update bits between sequences, none after the last)."""
    ll_sym, ll_nb, ll_ba = spread(LL_FREQS, 6)
    of_sym, of_nb, of_ba = spread(OF_FREQS, 5)
    ml_sym, ml_nb, ml_ba = spread(ML_FREQS, 6)

    def pick_update(symbols, nbits, base, state, want):
        for v in range(1 << nbits[state]):
            if symbols[base[state] + v] == want:
                return v, nbits[state]
        raise AssertionError("no transition found")

    s_ll, s_of, s_ml = ll_sym.index(2), of_sym.index(2), ml_sym.index(0)
    # seq1: ll=2 ("ab"), offset 2 (extra 1), ml=3 -> "ab"+"aba"
    items = [(s_ll, 6), (s_of, 5), (s_ml, 6), (1, 2)]
    # updates toward seq2 codes: ll=1, of_code=2, ml=1 (ml=4)
    v, n = pick_update(ll_sym, ll_nb, ll_ba, s_ll, 1)
    items.append((v, n))
    s_ll2 = ll_ba[s_ll] + v
    v, n = pick_update(ml_sym, ml_nb, ml_ba, s_ml, 1)
    items.append((v, n))
    s_ml2 = ml_ba[s_ml] + v
    v, n = pick_update(of_sym, of_nb, of_ba, s_of, 2)
    items.append((v, n))
    s_of2 = of_ba[s_of] + v
    assert ll_sym[s_ll2] == 1 and ml_sym[s_ml2] == 1 and of_sym[s_of2] == 2
    # seq2 extras: offset extra 0 -> offset_value 4 -> offset 1
    items.append((0, 2))
    bs = back(items)
    lits = b"abZ"
    blk = bytes([len(lits) << 3]) + lits + bytes([2, 0x00]) + bs
    f = MAGIC + bytes([0x20, 10]) + block_hdr(len(blk), 2, 1) + blk
    # seq1: "ab" + offset2/ml3 -> "aba"; seq2: ll=1 -> "Z",
    # offset1/ml4 -> "ZZZZ"
    assert decompress(f) == b"ab" + b"aba" + b"Z" + b"ZZZZ"


def test_rle_literals_and_rle_sequence_tables():
    """RLE literals block + RLE-mode FSE tables (one byte per table)."""
    # literals: 6 x 'q'; tables: ll=4, of_code=2, ml=0 like above
    bs = back([(1, 2)])  # only the offset extra: states read 0 bits
    blk = (
        bytes([(6 << 3) | 1])  # RLE literals, 1-byte size format
        + b"q"
        + bytes([1, 0x54])  # 1 sequence; LL/OF/ML all RLE mode
        + bytes([4, 2, 0])  # the three RLE symbols, in ll/of/ml order
        + bs
    )
    f = MAGIC + bytes([0x20, 9]) + block_hdr(len(blk), 2, 1) + blk
    # "qqqq" + offset2/ml3 -> "qqq" + trailing "qq"
    assert decompress(f) == b"qqqqqqqqq"


def test_repeat_table_mode_reuses_previous_tables():
    """Block 2 reuses block 1's RLE tables via Repeat mode (0xFC): it
    carries no table bytes, and a literals budget inconsistent with
    the inherited ll symbol refuses honestly."""
    bs1 = back([(3, 2)])  # of_sym=2: offset_value 4+3=7 -> offset 4
    blk1 = (
        bytes([6 << 3])
        + b"abcdef"
        + bytes([1, 0x54])
        + bytes([4, 2, 0])  # RLE tables: ll=4, of_code=2, ml=0
        + bs1
    )
    # block1: "abcd" + (offset4, ml3)="abc" + "ef" = "abcdabcef"
    bs2 = back([(3, 2)])
    blk2_short = bytes([2 << 3]) + b"xy" + bytes([1, 0xFC]) + bs2
    f = (
        MAGIC
        + bytes([0x20, 0])
        + block_hdr(len(blk1), 2, 0)
        + blk1
        + block_hdr(len(blk2_short), 2, 1)
        + blk2_short
    )
    # inherited ll=4 but only 2 literals decoded -> honest refusal
    with pytest.raises(CodecError, match="corruption"):
        decompress(f)
    blk2 = bytes([4 << 3]) + b"wxyz" + bytes([1, 0xFC]) + bs2
    f = (
        MAGIC
        + bytes([0x20, 16])
        + block_hdr(len(blk1), 2, 0)
        + blk1
        + block_hdr(len(blk2), 2, 1)
        + blk2
    )
    # block2: "wxyz" + (offset4, ml3) = "wxy"
    assert decompress(f) == b"abcdabcef" + b"wxyz" + b"wxy"


def test_match_reaches_across_blocks():
    """A compressed block's match may copy from a PREVIOUS block's
    output — the window is frame-wide, not per-block."""
    ll_sym, _, _ = spread(LL_FREQS, 6)
    of_sym, _, _ = spread(OF_FREQS, 5)
    ml_sym, _, _ = spread(ML_FREQS, 6)
    bs = back(
        [
            (ll_sym.index(2), 6),
            (of_sym.index(3), 5),
            (ml_sym.index(0), 6),
            (3, 3),  # offset_value 8+3=11 -> offset 8
        ]
    )
    blk = bytes([2 << 3]) + b"xy" + bytes([1, 0x00]) + bs
    f = (
        MAGIC
        + bytes([0x20, 11])
        + block_hdr(6, 0, 0)
        + b"ABCDEF"
        + block_hdr(len(blk), 2, 1)
        + blk
    )
    # raw "ABCDEF" + literals "xy" -> offset 8 reaches "A": copy "ABC"
    assert decompress(f) == b"ABCDEF" + b"xy" + b"ABC"


def test_repeat_offsets_and_ll_zero_special_case():
    """offset_value 1 reuses rep1; with literals_length == 0 it means
    rep2 instead (RFC 8878 §3.1.1.5)."""
    # block1: RLE tables ll=2, of=0 (offset_value 1 -> rep1 = 1), ml=0
    bs1 = back([])
    blk1 = (
        bytes([2 << 3]) + b"ab" + bytes([1, 0x54]) + bytes([2, 0, 0]) + bs1
    )
    # out: "ab" + offset1/ml3 = "bbb" -> "abbbb"
    # block2: ll=0 -> offset_value 1 now means rep2 (initial rep2 = 4)
    bs2 = back([])
    blk2 = (
        bytes([0 << 3]) + b"" + bytes([1, 0x54]) + bytes([0, 0, 1]) + bs2
    )
    f = (
        MAGIC
        + bytes([0x20, 9])
        + block_hdr(len(blk1), 2, 0)
        + blk1
        + block_hdr(len(blk2), 2, 1)
        + blk2
    )
    out = decompress(f)
    # block2: ml_sym=1 -> ml=4; offset = rep2 = 4 -> start 1 -> "bbbb"
    assert out == b"abbbb" + b"bbbb"


def test_offset_before_frame_start_refuses():
    bs = back([(3, 3)])  # of_sym=3 RLE: 8+3=11 -> offset 8 > out
    blk = bytes([2 << 3]) + b"ab" + bytes([1, 0x54]) + bytes([2, 3, 0]) + bs
    f = MAGIC + bytes([0x20, 0]) + block_hdr(len(blk), 2, 1) + blk
    with pytest.raises(CodecError, match="corruption"):
        decompress(f)


# --------------------------------------------------------- Huffman paths
HUF_TREE = bytes([130, 0x21, 0x10])  # direct weights: 2,1,1 (+implied 3)
# table (max_bits 3): [sym1, sym2, sym0, sym0, sym3 x4]


def _huf_block(stream, regen, lbt=2, nseq0=True):
    comp = (len(HUF_TREE) if lbt == 2 else 0) + len(stream)
    h = lbt | (0 << 2) | (regen << 4) | (comp << 14)
    body = struct.pack("<I", h)[:3]
    if lbt == 2:
        body += HUF_TREE
    body += stream
    if nseq0:
        body += b"\x00"
    return body


def test_huffman_direct_weights_and_treeless():
    s_ad = back([(3, 3)])  # a's code 01 + d's code 1 = 3 real bits
    blk1 = _huf_block(s_ad, 2)
    s_db = back([(4, 3), (0, 1)])  # d's code 1 + b's code 000
    blk2 = _huf_block(s_db, 2, lbt=3)
    f = (
        MAGIC
        + bytes([0x20, 4])
        + block_hdr(len(blk1), 2, 0)
        + blk1
        + block_hdr(len(blk2), 2, 1)
        + blk2
    )
    assert decompress(f) == bytes([0, 3, 3, 1])


def test_huffman_four_streams():
    s_ad = back([(3, 3)])
    jump = struct.pack("<HHH", len(s_ad), len(s_ad), len(s_ad))
    payload = HUF_TREE + jump + s_ad * 4
    h = 2 | (1 << 2) | (8 << 4) | (len(payload) << 14)
    blk = struct.pack("<I", h)[:3] + payload + b"\x00"
    f = MAGIC + bytes([0x20, 8]) + block_hdr(len(blk), 2, 1) + blk
    assert decompress(f) == bytes([0, 3] * 4)


def test_treeless_without_previous_table_refuses():
    s = back([(0, 3)])
    blk = _huf_block(s, 1, lbt=3)
    f = MAGIC + bytes([0x20, 1]) + block_hdr(len(blk), 2, 1) + blk
    with pytest.raises(CodecError, match="Dictionary is corrupted"):
        decompress(f)


def test_fse_compressed_huffman_weights():
    """Weights carried as an FSE stream (header byte < 128): a
    hand-built accuracy-log-5 weight table with two symbols (1 and 2,
    16/32 each) decoding the weight list [1,2,1,2] (+implied 2)."""
    freqs = [0, 16, 16]  # symbol 1 and symbol 2 equally likely
    # header: AL-5=0 (4 bits); sym0: remaining 32, bits 6,
    # threshold 63-33=30, proba 0 -> val 1 < 30 -> 5 bits; zero-run
    # bits "00" follow a zero probability; sym1: remaining 32 ->
    # proba 16 -> val 17 < thresh 30 -> 5 bits; sym2: remaining 16,
    # bits 5, thresh 31-17=14, proba 16 -> val 17 > lower_mask 15 ->
    # write 17+14=31 in 5 bits
    header = fwd([(0, 4), (1, 5), (0, 2), (17, 5), (31, 5)])
    symbols, nbits, base = spread(freqs, 5)

    def pick(state, want):
        for v in range(1 << nbits[state]):
            if symbols[base[state] + v] == want:
                return v
        return None

    # choose states that can ALSO transition back to their own symbol
    # (third weight stays 1, flushed fourth weight stays 2)
    s1 = next(
        s
        for s in range(32)
        if symbols[s] == 1 and pick(s, 1) is not None
    )
    s2 = next(
        s
        for s in range(32)
        if symbols[s] == 2 and pick(s, 2) is not None
    )
    items = [(s1, 5), (s2, 5)]
    v = pick(s1, 1)  # third weight = 1 via s1's update
    items.append((v, nbits[s1]))
    s1b = base[s1] + v
    v = pick(s2, 2)  # keeps s2 pointing at weight 2 for the flush
    items.append((v, nbits[s2]))
    s2b = base[s2] + v
    assert symbols[s1b] == 1 and symbols[s2b] == 2
    # next s1 update overshoots -> flush s2's pending symbol (2) & stop
    weights_stream = back(items)
    payload = weights_stream
    tree = bytes([len(header) + len(payload)]) + header + payload
    # weights [1,2,1,2] + implied 2 -> total 8, max_bits 3,
    # table: sym0(w1,3b) sym2(w1,3b) sym1(w2,2b)x2 sym3(w2)x2 sym4(w2)x2
    lit_stream = back([(0, 3), (2, 3), (1, 1)])  # [0, 1, 1]: 7 code bits
    comp = len(tree) + len(lit_stream)
    h = 2 | (0 << 2) | (3 << 4) | (comp << 14)
    blk = struct.pack("<I", h)[:3] + tree + lit_stream + b"\x00"
    f = MAGIC + bytes([0x20, 3]) + block_hdr(len(blk), 2, 1) + blk
    assert decompress(f) == bytes([0, 1, 1])


# --------------------------------------------------- Avro integration
def _zstd_raw_frame(data: bytes) -> bytes:
    """Any payload is a legal zstd frame of raw blocks — how the Avro
    integration is exercised without an encoder."""
    out = bytearray(MAGIC)
    out += bytes([0x00])  # no single-segment: window descriptor follows
    out += bytes([0x30])  # window descriptor: 64 KiB, covers each block
    chunks = [data[i : i + 65536] for i in range(0, len(data), 65536)] or [b""]
    for i, c in enumerate(chunks):
        out += block_hdr(len(c), 0, int(i == len(chunks) - 1))
        out += c
    return bytes(out)


def _vint(buf, pos):
    shift = val = 0
    while True:
        c = buf[pos]
        pos += 1
        val |= (c & 0x7F) << shift
        if not c & 0x80:
            break
        shift += 7
    return (val >> 1) ^ -(val & 1), pos


def _zint(n):
    z = (n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _transplant_to_zstd(null_path: str, out_path: str) -> None:
    """Re-frame a null-codec Avro container as codec=zstandard with
    each block body wrapped in a raw-block zstd frame — pure spec-
    layout surgery, no encoder involved."""
    buf = open(null_path, "rb").read()
    assert buf[:4] == b"Obj\x01"
    pos = 4
    n, pos = _vint(buf, pos)
    meta = {}
    while n != 0:
        if n < 0:
            _, pos = _vint(buf, pos)
            n = -n
        for _ in range(n):
            kl, pos = _vint(buf, pos)
            k = buf[pos : pos + kl].decode()
            pos += kl
            vl, pos = _vint(buf, pos)
            meta[k] = buf[pos : pos + vl]
            pos += vl
        n, pos = _vint(buf, pos)
    sync = buf[pos : pos + 16]
    pos += 16
    blocks = []
    while pos < len(buf):
        cnt, pos = _vint(buf, pos)
        size, pos = _vint(buf, pos)
        blocks.append((cnt, buf[pos : pos + size]))
        pos += size
        assert buf[pos : pos + 16] == sync
        pos += 16
    meta["avro.codec"] = b"zstandard"
    out = bytearray(b"Obj\x01")
    out += _zint(len(meta))
    for k, v in meta.items():
        out += _zint(len(k)) + k.encode() + _zint(len(v)) + v
    out += _zint(0)
    out += sync
    for cnt, body in blocks:
        z = _zstd_raw_frame(body)
        out += _zint(cnt) + _zint(len(z)) + z + sync
    open(out_path, "wb").write(bytes(out))


def test_avro_container_zstandard(tmp_path):
    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        read_avro,
        write_avro,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
        ],
    }
    recs = [{"a": i, "b": f"s{i}" * (i % 5)} for i in range(500)]
    p0 = str(tmp_path / "t.null.avro")
    write_avro(p0, schema, recs, codec="null")
    p = str(tmp_path / "t.zstd.avro")
    _transplant_to_zstd(p0, p)
    got_schema, got = read_avro(p)
    assert got == recs
    # corrupting the frame magic must surface, not silently misdecode
    raw = bytearray(open(p, "rb").read())
    idx = raw.rfind(MAGIC)
    assert idx > 0
    raw[idx] ^= 0xFF
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError):
        read_avro(p)


def test_foreign_tree_with_zstd_manifests_imports(spark, tmp_path):
    """A foreign Iceberg tree whose manifest list AND manifests are
    zstandard-compressed imports end-to-end (VERDICT round-13 ask #2)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        write_avro,
    )
    from iceberg_catalog_migrator_spark.sources.iceberg_read import (
        IcebergTable,
    )
    from tests.test_iceberg_v3 import (
        _V3_ENTRY_SCHEMA,
        _V3_LIST_SCHEMA,
        _entry,
    )

    root = str(tmp_path / "zstd-tree")
    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "metadata"))
    fpath = os.path.join(root, "data", "d0.parquet")
    pq.write_table(
        pa.table({"k": pa.array(list(range(300)), pa.int64())}), fpath
    )

    def zavro(path, schema, recs):
        tmp = path + ".null"
        write_avro(tmp, schema, recs, codec="null")
        _transplant_to_zstd(tmp, path)
        os.unlink(tmp)

    m0 = os.path.join(root, "metadata", "m0.avro")
    zavro(m0, _V3_ENTRY_SCHEMA, [_entry(fpath, 300)])
    ml = os.path.join(root, "metadata", "snap-1.avro")
    zavro(
        ml,
        _V3_LIST_SCHEMA,
        [
            {
                "manifest_path": m0,
                "manifest_length": os.path.getsize(m0),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 1,
                "first_row_id": None,
            }
        ],
    )
    mpath = os.path.join(root, "metadata", "v1.metadata.json")
    with open(mpath, "w") as f:
        json.dump(
            {
                "format-version": 2,
                "table-uuid": "00000000-0000-0000-0000-0000000000z1",
                "location": root,
                "last-sequence-number": 1,
                "last-updated-ms": 1000,
                "last-column-id": 1,
                "current-schema-id": 0,
                "schemas": [
                    {
                        "type": "struct",
                        "schema-id": 0,
                        "fields": [
                            {
                                "id": 1,
                                "name": "k",
                                "required": False,
                                "type": "long",
                            }
                        ],
                    }
                ],
                "default-spec-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": []}],
                "last-partition-id": 999,
                "properties": {},
                "current-snapshot-id": 1,
                "snapshots": [
                    {
                        "snapshot-id": 1,
                        "sequence-number": 1,
                        "timestamp-ms": 1000,
                        "manifest-list": ml,
                        "schema-id": 0,
                    }
                ],
                "snapshot-log": [{"snapshot-id": 1, "timestamp-ms": 1000}],
            },
            f,
        )
    it = IcebergTable(spark, mpath)
    df = it.read()
    assert df.count() == 300
    assert {r.k for r in df.collect()} == set(range(300))


def test_match_cannot_reach_previous_frame():
    """Code-review round-14: the window is FRAME-wide — a second
    frame's match may not copy bytes the first frame produced (real
    zstd reports corruption; silently serving them would mask it)."""
    f1 = MAGIC + bytes([0x20, 6]) + block_hdr(6, 0, 1) + b"ABCDEF"
    ll_sym, _, _ = spread(LL_FREQS, 6)
    of_sym, _, _ = spread(OF_FREQS, 5)
    ml_sym, _, _ = spread(ML_FREQS, 6)
    bs = back(
        [
            (ll_sym.index(2), 6),
            (of_sym.index(3), 5),
            (ml_sym.index(0), 6),
            (3, 3),  # offset 8: fine within ONE frame, not across two
        ]
    )
    blk = bytes([2 << 3]) + b"xy" + bytes([1, 0x00]) + bs
    f2 = MAGIC + bytes([0x20, 0]) + block_hdr(len(blk), 2, 1) + blk
    with pytest.raises(CodecError, match="corruption"):
        decompress(f1 + f2)


def test_huffman_stream_truncation_refuses():
    """Code-review round-14: a Huffman literal stream shorter than its
    symbols need decodes from zero padding — must refuse, not serve
    garbage (content checksums are optional)."""
    # 8 symbols traced through the direct-weight table
    # (symbols [1,2,0,0,3,3,3,3], nbits [3,3,2,2,1,1,1,1]):
    # 3 -> sym0 (rd 2b) -> 4 -> sym3 (rd 1b) -> 0 -> sym1 x6 (rd 3b)
    s8 = back([(3, 3), (0, 2), (0, 1)] + [(0, 3)] * 5)
    blk = _huf_block(s8, 8)
    f = MAGIC + bytes([0x20, 8]) + block_hdr(len(blk), 2, 1) + blk
    assert decompress(f) == bytes([0, 3, 1, 1, 1, 1, 1, 1])
    # drop the stream's first (lowest-address) byte: same sentinel,
    # fewer real bits -> padding-decoded symbols
    assert len(s8) >= 2
    truncated = s8[1:]
    blk_t = _huf_block(truncated, 8)
    f_t = MAGIC + bytes([0x20, 8]) + block_hdr(len(blk_t), 2, 1) + blk_t
    with pytest.raises(CodecError, match="corruption"):
        decompress(f_t)
    # extra unread bytes refuse too
    padded = b"\xff" + s8
    blk_p = _huf_block(padded, 2)
    f_p = MAGIC + bytes([0x20, 2]) + block_hdr(len(blk_p), 2, 1) + blk_p
    with pytest.raises(CodecError, match="corruption"):
        decompress(f_p)


def test_long_form_sequence_count_adds_0x7f00():
    """ADVICE round-15 (high): the 255-prefix sequence count is
    byte1 + (byte2<<8) + 0x7F00 (RFC 8878 3.1.1.3.2.1) — ADDITION,
    not OR. nseq = 0x8000 = 32768 encodes as [255, 0x00, 0x01];
    an OR-based decode misreads it as 0x7F00 = 32512 and either
    under-produces or refuses. 32768 sequences of (ll=1, offset 1,
    ml=3) over RLE tables regenerate exactly 128 KiB of 'q'."""
    nseq = 0x8000
    lit_hdr = bytes([1 | (3 << 2) | ((nseq & 0xF) << 4),
                     (nseq >> 4) & 0xFF, nseq >> 12])
    bs = back([(0, 2)] * nseq)  # of_code=2 extra bits; states read 0
    blk = (
        lit_hdr
        + b"q"  # RLE literal byte, repeated nseq times
        + bytes([255, nseq & 0xFF, (nseq - 0x7F00) >> 8])
        + bytes([0x54])  # LL/OF/ML all RLE mode
        + bytes([1, 2, 0])  # ll=1, of_code=2 (offset_value 4 -> off 1), ml=0
        + bs
    )
    out_len = nseq * 4  # 1 literal + 3-byte match per sequence
    f = (
        MAGIC
        + bytes([0xA0])  # single-segment, 4-byte FCS, no checksum
        + struct.pack("<I", out_len)
        + block_hdr(len(blk), 2, 1)
        + blk
    )
    assert decompress(f) == b"q" * out_len


def test_bitstream_trailing_zero_byte_refuses():
    """ADVICE round-15 (low): RFC 8878 puts the sentinel 1-bit in the
    LAST byte of a backward bitstream; trailing zero padding is
    corruption the reference decoder rejects, not slack to scan past."""
    bs = back([(1, 2)]) + b"\x00"  # valid stream + a zero pad byte
    blk = (
        bytes([(6 << 3) | 1])
        + b"q"
        + bytes([1, 0x54])
        + bytes([4, 2, 0])
        + bs
    )
    f = MAGIC + bytes([0x20, 9]) + block_hdr(len(blk), 2, 1) + blk
    with pytest.raises(CodecError, match="corruption"):
        decompress(f)


# ----------------------------------------------------------- the encoder
def test_encoder_roundtrip_corpus():
    """Shape sweep: empty, single byte, RLE runs, incompressible
    random bytes, long repetitive text, >128 KiB multi-block frames with
    matches reaching across the block boundary, and period-256 data."""
    import random

    rng = random.Random(15)
    rand5k = bytes(rng.randrange(256) for _ in range(5000))
    rec = b'{"path":"data/part-%06d.parquet","rows":%d}'
    manifesty = b"\n".join(rec % (i, i * 37) for i in range(4000))
    cases = [
        b"",
        b"Z",
        b"q" * 200000,  # one-byte runs over two 128 KiB blocks
        rand5k,  # incompressible
        manifesty,  # structured
        (manifesty[:100000] + manifesty[:100000]),  # cross-block match
        bytes(range(256)) * 600,  # period-256 matches
    ]
    for i, c in enumerate(cases):
        z = compress(c)
        assert decompress(z) == c, f"case {i}"
    # every match in 'manifesty' beats its raw size
    assert len(compress(manifesty)) < len(manifesty) // 3


def test_encoder_frames_carry_verified_checksum():
    """Every frame the engine writes sets Content_Checksum_flag and ends
    in the low 32 bits of xxHash64, and libzstd refuses a frame whose
    checksum was altered."""
    for data in (b"", b"Z", b"manifest-entry " * 500):
        z = compress(data)
        assert z[4] & 0x04, "Content_Checksum_flag"
        assert z[-4:] == struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
        bad = z[:-1] + bytes([z[-1] ^ 1])
        with pytest.raises(CodecError, match="doesn't match checksum"):
            decompress(bad)


def test_encoder_against_reference_libzstd():
    """The checksum-flagged frames the engine writes pass libzstd's
    one-shot API, and frames libzstd writes at other levels decode."""
    import pyarrow as pa

    rec = b'{"snapshot-id":%d,"manifest":"m-%04d.avro","rows":%d}'
    data = b"\n".join(rec % (i, i, i * 11) for i in range(3000))
    codec = pa.Codec("zstd")
    # ours -> libzstd
    assert (
        codec.decompress(
            compress(data), decompressed_size=len(data)
        ).to_pybytes()
        == data
    )
    # libzstd (several levels) -> ours
    for level in (1, 3, 9, 19):
        z = pa.Codec("zstd", compression_level=level).compress(
            data
        ).to_pybytes()
        assert decompress(z) == data, f"level {level}"


def test_puffin_blob_zstd_write_roundtrip(tmp_path):
    """write_puffin honors per-blob compression-codec='zstd' (encoded
    by libzstd, decoded back via the read path), refuses unknown
    codecs by name, and the stored length is the COMPRESSED length."""
    from iceberg_catalog_migrator_spark.sources.puffin import (
        PuffinError,
        read_blob_decoded,
        read_puffin_footer,
        write_puffin,
    )

    payload = b"theta-sketch-ish payload " * 200
    p = str(tmp_path / "stats.puffin")
    descs = write_puffin(
        p,
        [
            {
                "type": "apache-datasketches-theta-v1",
                "payload": payload,
                "compression-codec": "zstd",
            },
            {"type": "some-raw-blob", "payload": b"raw bytes"},
        ],
    )
    assert descs[0]["compression-codec"] == "zstd"
    assert descs[0]["length"] < len(payload)
    assert "compression-codec" not in descs[1]
    footer = read_puffin_footer(p)
    assert read_blob_decoded(p, footer["blobs"][0]) == payload
    assert read_blob_decoded(p, footer["blobs"][1]) == b"raw bytes"
    with pytest.raises(PuffinError, match="lz4"):
        write_puffin(
            p + "2",
            [{"type": "x", "payload": b"y", "compression-codec": "lz4"}],
        )


def test_export_zstd_manifests_roundtrip(spark, tmp_path):
    """export_iceberg_metadata(compression='zstd') end to end: every
    minted manifest/manifest-list Avro container carries the
    'zstandard' codec, and the import path reads the rows back."""
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        export_iceberg_metadata,
        read_avro,
    )
    from iceberg_catalog_migrator_spark.sources.iceberg_read import IcebergTable
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 500).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    t.append(df.filter(F.col("id") < 250))
    t.append(df.filter(F.col("id") >= 250))
    out = export_iceberg_metadata(t, compression="zstd")
    avros = [f for f in out["files"] if f.endswith(".avro")]
    assert avros
    for f in avros:
        head = open(f, "rb").read(8192)  # header: schema + codec meta
        assert b"avro.codec\x12zstandard" in head, f
        assert "-zstd-" in os.path.basename(f)
        schema, records = read_avro(f)  # the import decoder reads it
        assert records
    got = IcebergTable(spark, out["metadata_location"]).read()
    assert got.count() == 500
    assert got.agg(F.sum("id")).collect()[0][0] == 500 * 499 // 2


def test_export_codec_aware_reuse(spark, tmp_path):
    """Review round-15: reuse matches the codec recorded in the doc's
    write.avro.compression-codec property — same-codec re-exports
    return the SAME pointer, alternating codecs each keep their own
    doc (no ping-pong minting, no serving the other codec's tree)."""
    from pyspark.sql import functions as F

    from iceberg_catalog_migrator_spark.sources.iceberg_format import (
        export_iceberg_metadata,
    )
    from iceberg_catalog_migrator_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 100).select(F.col("id")))
    z1 = export_iceberg_metadata(t, reuse=True, compression="zstd")
    n1 = export_iceberg_metadata(t, reuse=True)  # default null codec
    assert n1["metadata_location"] != z1["metadata_location"]
    with open([f for f in n1["files"] if f.endswith(".avro")][0], "rb") as fh:
        assert b"zstandard" not in fh.read(8192)
    # the stock property rides each doc in the stock vocabulary
    with open(z1["metadata_location"]) as fh:
        assert (
            json.load(fh)["properties"]["write.avro.compression-codec"]
            == "zstd"
        )
    with open(n1["metadata_location"]) as fh:
        assert (
            json.load(fh)["properties"]["write.avro.compression-codec"]
            == "uncompressed"
        )
    # alternating reuse serves each codec its OWN doc, minting nothing
    assert (
        export_iceberg_metadata(t, reuse=True, compression="zstd")[
            "metadata_location"
        ]
        == z1["metadata_location"]
    )
    assert (
        export_iceberg_metadata(t, reuse=True)["metadata_location"]
        == n1["metadata_location"]
    )
    out_dir = os.path.dirname(z1["metadata_location"])
    docs = [f for f in os.listdir(out_dir) if f.endswith(".metadata.json")]
    assert len(docs) == 2  # one per codec, not one per invocation


def test_encoder_roundtrip_property():
    """Hypothesis sweep: arbitrary byte strings — including
    adversarial repetition/period shapes the shrinker gravitates to —
    round-trip."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(
        st.one_of(
            st.binary(max_size=4096),
            # repetitive: periodic tiles of a small alphabet (match-
            # heavy, exercises sequences + repeat structure)
            st.builds(
                lambda tile, reps: tile * reps,
                st.binary(min_size=1, max_size=64),
                st.integers(min_value=1, max_value=200),
            ),
            # mixed: junk separated by repeated delimiters (exercises
            # the skip ramp and the far-minimal-match rejection)
            st.lists(st.binary(max_size=24), max_size=60).map(
                b"|SEP|".join
            ),
        )
    )
    def roundtrip(data):
        assert decompress(compress(data)) == data

    roundtrip()
