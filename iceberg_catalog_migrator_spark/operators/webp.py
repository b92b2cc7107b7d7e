"""Pure-Python WebP-LOSSLESS (VP8L) codec.

Decoder implements the public "WebP Lossless Bitstream Specification"
in full: LSB-first bit reader, canonical (DEFLATE-convention) Huffman
codes with the simple/normal code-length forms, meta-Huffman entropy
images, color cache, LZ77 backward references with the 2D distance
map, and all four transforms (predictor with its 14 modes, cross-color,
subtract-green, color-indexing with sub-byte pixel packing). Lossy
WebP (``VP8 `` chunks) stays refused — DCT video intra-frames are out
of the engine's pure-Python scope, like inter-frame H.264.

Encoder emits a spec-legal productive subset: the subtract-green
transform, an 8-bit color cache (maintained exactly as the decoder
replays it), and greedy LZ77 over the two distances that dominate
image data (horizontal runs, copy-the-row-above) with plain distance
codes — under real per-channel Huffman codes (normal form with
RLE-coded code lengths, simple form for the constant alpha tree). The
round trip is LOSSLESS-EXACT, the same oracle contract as the PNG and
GIF codecs, and drives the decoder's transform/cache/backref paths on
every random image. The remaining decoder-only features (predictor +
cross-color + palette transforms, meta-Huffman) are pinned by
hand-crafted bitstreams in tests/test_webp_codec.py.

Work is bounded by the header's declared pixel count (``max_pixels``
cap, same bomb stance as the PNG/GIF decoders: a kilobyte of 0-bit
codes may legally describe megapixels — the cap refuses before
allocating).

Reference parity anchor: the reference repo has no data plane; this
module extends the mandated multimodal surface (SURVEY.md §2) the same
way the QOI/JPEG/PNG/GIF codecs did.
"""

from __future__ import annotations

import struct

import numpy as np

# code-length-code read order (spec section "Huffman code lengths")
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]

# 2D locality map for the first 120 distance codes: (xoffset, yoffset)
_DISTANCE_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5),
    (8, 4), (3, 8), (-3, 8), (8, 5), (4, 8), (-4, 8), (6, 7), (-6, 7),
    (7, 6), (-7, 6), (8, 6), (5, 8), (-5, 8), (8, 7), (6, 8), (-6, 8),
    (7, 7), (-7, 7), (8, 8),
]

_HASH_MUL = 0x1E35A7BD


# ------------------------------------------------------------- bits


class _BitReader:
    """LSB-first bit reader (DEFLATE convention, unlike JPEG's MSB)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte_i, bit_i = divmod(self.pos, 8)
            if byte_i >= len(self.data):
                raise ValueError("truncated VP8L bitstream")
            v |= ((self.data[byte_i] >> bit_i) & 1) << i
            self.pos += 1
        return v

    def read_bit(self) -> int:
        byte_i, bit_i = divmod(self.pos, 8)
        if byte_i >= len(self.data):
            raise ValueError("truncated VP8L bitstream")
        self.pos += 1
        return (self.data[byte_i] >> bit_i) & 1


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            self.bits.append((value >> i) & 1)

    def write_code(self, code: int, length: int) -> None:
        # Huffman codes pack MSB-of-code first (DEFLATE convention)
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def bytes(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            if b:
                out[i >> 3] |= 1 << (i & 7)
        return bytes(out)


# ------------------------------------------------------------- huffman


class _Huffman:
    """Canonical prefix code: decode bit-by-bit (code = code<<1 | bit),
    DEFLATE canonical assignment. A zero-cost code (single symbol)
    reads no bits."""

    def __init__(self, lengths: list[int]):
        self.single: int | None = None
        nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("empty huffman code")
        if len(nz) == 1:
            self.single = nz[0][1]
            return
        kraft = sum(1 / (1 << ln) for ln, _ in nz)
        if kraft > 1 + 1e-9:
            raise ValueError("over-subscribed huffman code")
        self.table: dict[tuple[int, int], int] = {}
        code = 0
        prev_len = 0
        for ln, sym in sorted(nz):
            code <<= ln - prev_len
            prev_len = ln
            self.table[(code, ln)] = sym
            code += 1

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        length = 0
        while length <= 15:
            code = (code << 1) | br.read_bit()
            length += 1
            sym = self.table.get((code, length))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code in VP8L stream")


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical assignment (encode side)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for ln, sym in sorted(
        (ln, sym) for sym, ln in enumerate(lengths) if ln > 0
    ):
        code <<= ln - prev_len
        prev_len = ln
        out[sym] = (code, ln)
        code += 1
    return out


def _read_code_lengths(br: _BitReader, alphabet_size: int) -> list[int]:
    """One Huffman code in either spec form, as code lengths."""
    if br.read_bit():  # simple
        num_symbols = br.read_bit() + 1
        if br.read_bit():
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        lengths = [0] * alphabet_size
        if sym0 >= alphabet_size:
            raise ValueError("simple code symbol out of range")
        if num_symbols == 2:
            sym1 = br.read(8)
            if sym1 >= alphabet_size:
                raise ValueError("simple code symbol out of range")
            lengths[sym0] = 1
            lengths[sym1] = 1
        else:
            lengths[sym0] = 1  # single symbol: zero-cost in practice
        return lengths
    # normal: code lengths are themselves huffman-coded with RLE
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl = _Huffman(cl_lengths)
    if br.read_bit():
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        code_length = cl.read(br)
        if code_length < 16:
            lengths[symbol] = code_length
            symbol += 1
            if code_length:
                prev = code_length
        elif code_length == 16:
            repeat = 3 + br.read(2)
            for _ in range(repeat):
                if symbol >= alphabet_size:
                    raise ValueError("code length repeat overflow")
                lengths[symbol] = prev
                symbol += 1
        elif code_length == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
        if symbol > alphabet_size:
            raise ValueError("code length repeat overflow")
    return lengths


# --------------------------------------------------------- entropy image


def _prefix_value(code: int, br: _BitReader) -> int:
    """LZ77 length / distance prefix decoding (spec)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_image_stream(
    br: _BitReader, w: int, h: int, top_level: bool, max_pixels: int
):
    """(pixels uint32 ARGB array of length w*h, transforms list) —
    transforms only populate at the top level."""
    if w * h > max_pixels:
        raise ValueError(
            f"declared {w}x{h} exceeds the {max_pixels}-pixel decode cap"
        )
    transforms = []
    xsize = w
    if top_level:
        used = set()
        while br.read_bit():
            ttype = br.read(2)
            if ttype in used:
                raise ValueError("transform type repeated")
            used.add(ttype)
            if ttype == 0:  # PREDICTOR
                size_bits = br.read(3) + 2
                tw = (xsize + (1 << size_bits) - 1) >> size_bits
                th = (h + (1 << size_bits) - 1) >> size_bits
                tiles, _ = _decode_image_stream(br, tw, th, False, max_pixels)
                transforms.append(("predictor", size_bits, tiles, tw))
            elif ttype == 1:  # cross-color
                size_bits = br.read(3) + 2
                tw = (xsize + (1 << size_bits) - 1) >> size_bits
                th = (h + (1 << size_bits) - 1) >> size_bits
                tiles, _ = _decode_image_stream(br, tw, th, False, max_pixels)
                transforms.append(("color", size_bits, tiles, tw))
            elif ttype == 2:  # subtract green
                transforms.append(("subtract_green",))
            else:  # color indexing
                n_colors = br.read(8) + 1
                palette, _ = _decode_image_stream(
                    br, n_colors, 1, False, max_pixels
                )
                # palette entries are component-wise delta-coded
                pal = np.zeros(n_colors, dtype=np.uint32)
                acc = np.zeros(4, dtype=np.uint32)
                for i in range(n_colors):
                    px = int(palette[i])
                    comp = np.array(
                        [
                            (px >> 24) & 0xFF,
                            (px >> 16) & 0xFF,
                            (px >> 8) & 0xFF,
                            px & 0xFF,
                        ],
                        dtype=np.uint32,
                    )
                    acc = (acc + comp) & 0xFF
                    pal[i] = (
                        (int(acc[0]) << 24)
                        | (int(acc[1]) << 16)
                        | (int(acc[2]) << 8)
                        | int(acc[3])
                    )
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append(("palette", pal, width_bits, xsize))
                xsize = (xsize + (1 << width_bits) - 1) >> width_bits
    # color cache
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"invalid color cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    # meta-huffman (top level only)
    meta = None
    n_groups = 1
    if top_level and br.read_bit():
        mbits = br.read(3) + 2
        mw = (xsize + (1 << mbits) - 1) >> mbits
        mh = (h + (1 << mbits) - 1) >> mbits
        mimg, _ = _decode_image_stream(br, mw, mh, False, max_pixels)
        meta_codes = ((mimg >> 8) & 0xFFFF).astype(np.int64)
        n_groups = int(meta_codes.max()) + 1
        meta = (meta_codes, mbits, mw)
    green_size = 256 + 24 + cache_size
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _Huffman(_read_code_lengths(br, green_size)),
                _Huffman(_read_code_lengths(br, 256)),
                _Huffman(_read_code_lengths(br, 256)),
                _Huffman(_read_code_lengths(br, 256)),
                _Huffman(_read_code_lengths(br, 40)),
            )
        )
    n = xsize * h
    out = np.zeros(n, dtype=np.uint32)
    pos = 0
    while pos < n:
        if meta is not None:
            meta_codes, mbits, mw = meta
            x, y = pos % xsize, pos // xsize
            g = groups[int(meta_codes[(y >> mbits) * mw + (x >> mbits)])]
        else:
            g = groups[0]
        green_t, red_t, blue_t, alpha_t, dist_t = g
        s = green_t.read(br)
        if s < 256:
            green = s
            red = red_t.read(br)
            blue = blue_t.read(br)
            alpha = alpha_t.read(br)
            px = (alpha << 24) | (red << 16) | (green << 8) | blue
            out[pos] = px
            if cache_size:
                cache[(_HASH_MUL * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
        elif s < 256 + 24:
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(dist_t.read(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DISTANCE_MAP[dist_code - 1]
                dist = dx + dy * xsize
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("LZ77 reference out of range")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                if cache_size:
                    cache[
                        (_HASH_MUL * px & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = px
                pos += 1
        else:
            out[pos] = cache[s - 256 - 24]
            pos += 1
    return out, transforms


# --------------------------------------------------------- transforms


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (a.astype(np.int32) + b.astype(np.int32)) // 2


def _predict(mode: int, L, T, TL) -> np.ndarray:
    if mode == 0:
        return np.array([0xFF, 0, 0, 0], dtype=np.int32)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TL["TR"]
    if mode == 4:
        return TL["TL"]
    if mode == 5:
        return _avg2(_avg2(L, TL["TR"]), T)
    if mode == 6:
        return _avg2(L, TL["TL"])
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL["TL"], T)
    if mode == 9:
        return _avg2(T, TL["TR"])
    if mode == 10:
        return _avg2(_avg2(L, TL["TL"]), _avg2(T, TL["TR"]))
    if mode == 11:  # Select
        tl = TL["TL"]
        p = L + T - tl
        pl = int(np.abs(p - L).sum())
        pt = int(np.abs(p - T).sum())
        return L if pl < pt else T
    if mode == 12:  # ClampAddSubtractFull
        return np.clip(L + T - TL["TL"], 0, 255)
    if mode == 13:  # ClampAddSubtractHalf
        a = _avg2(L, T)
        d = a - TL["TL"]
        # C-style truncation toward zero
        half = np.where(d >= 0, d // 2, -((-d) // 2))
        return np.clip(a + half, 0, 255)
    raise ValueError(f"invalid predictor mode {mode}")


def _apply_inverse_transforms(
    pixels: np.ndarray, w: int, h: int, transforms: list
) -> tuple[np.ndarray, int]:
    """Inverse transforms, last-read first. Returns (pixels, width)."""
    for t in reversed(transforms):
        kind = t[0]
        if kind == "palette":
            _, pal, width_bits, full_w = t
            if width_bits:
                packed_w = (full_w + (1 << width_bits) - 1) >> width_bits
                per = 1 << width_bits
                bits = 8 >> width_bits
                mask = (1 << bits) - 1
                grid = pixels.reshape(h, packed_w)
                out = np.zeros((h, full_w), dtype=np.uint32)
                greens = (grid >> 8) & 0xFF
                for sub in range(per):
                    idx = (greens >> (sub * bits)) & mask
                    cols = np.arange(packed_w) * per + sub
                    keep = cols < full_w
                    out[:, cols[keep]] = idx[:, keep]
                idx_flat = out.reshape(-1).astype(np.int64)
            else:
                idx_flat = ((pixels >> 8) & 0xFF).astype(np.int64)
            bad = idx_flat >= len(pal)
            idx_flat = np.where(bad, 0, idx_flat)
            looked = pal[idx_flat]
            looked = np.where(bad, np.uint32(0), looked)
            pixels = looked.astype(np.uint32)
            w = full_w
        elif kind == "subtract_green":
            g = (pixels >> 8) & 0xFF
            r = (((pixels >> 16) & 0xFF) + g) & 0xFF
            b = ((pixels & 0xFF) + g) & 0xFF
            pixels = (
                (pixels & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b
            ).astype(np.uint32)
        elif kind == "color":
            _, size_bits, tiles, tw = t
            grid = pixels.reshape(h, w)
            out = grid.astype(np.uint32).copy()
            for y in range(h):
                for x in range(w):
                    te = int(tiles[(y >> size_bits) * tw + (x >> size_bits)])
                    g2r = _i8(te & 0xFF)
                    g2b = _i8((te >> 8) & 0xFF)
                    r2b = _i8((te >> 16) & 0xFF)
                    px = int(out[y, x])
                    a = (px >> 24) & 0xFF
                    r = (px >> 16) & 0xFF
                    g = (px >> 8) & 0xFF
                    b = px & 0xFF
                    r = (r + ((g2r * _i8(g)) >> 5)) & 0xFF
                    b = (b + ((g2b * _i8(g)) >> 5)) & 0xFF
                    b = (b + ((r2b * _i8(r)) >> 5)) & 0xFF
                    out[y, x] = (a << 24) | (r << 16) | (g << 8) | b
            pixels = out.reshape(-1)
        elif kind == "predictor":
            _, size_bits, tiles, tw = t
            grid = pixels.reshape(h, w)
            out = np.zeros((h, w, 4), dtype=np.int32)
            res = np.stack(
                [
                    (grid >> 24) & 0xFF,
                    (grid >> 16) & 0xFF,
                    (grid >> 8) & 0xFF,
                    grid & 0xFF,
                ],
                axis=-1,
            ).astype(np.int32)
            for y in range(h):
                for x in range(w):
                    if x == 0 and y == 0:
                        pred = np.array([0xFF, 0, 0, 0], dtype=np.int32)
                    elif y == 0:
                        pred = out[0, x - 1]
                    elif x == 0:
                        pred = out[y - 1, 0]
                    else:
                        mode = (
                            int(
                                tiles[
                                    (y >> size_bits) * tw + (x >> size_bits)
                                ]
                            )
                            >> 8
                        ) & 0xFF
                        ctx = {
                            "TL": out[y - 1, x - 1],
                            # rightmost column: the spec substitutes
                            # the CURRENT row's leftmost pixel for TR
                            # (the row-above buffer wraps to it in
                            # contiguous ARGB memory)
                            "TR": out[y - 1, x + 1]
                            if x + 1 < w
                            else out[y, 0],
                        }
                        pred = _predict(mode, out[y, x - 1], out[y - 1, x], ctx)
                    out[y, x] = (res[y, x] + pred) & 0xFF
            pixels = (
                (out[..., 0].astype(np.uint32) << 24)
                | (out[..., 1].astype(np.uint32) << 16)
                | (out[..., 2].astype(np.uint32) << 8)
                | out[..., 3].astype(np.uint32)
            ).reshape(-1)
        else:
            raise ValueError(f"unknown transform {kind!r}")
    return pixels, w


def _i8(v: int) -> int:
    return v - 256 if v >= 128 else v


# ------------------------------------------------------------- decode


def decode_webp(content: bytes, max_pixels: int = 1 << 26) -> np.ndarray:
    """Decode a lossless WebP (VP8L) to an (h, w, 3) uint8 RGB array.
    Alpha is DROPPED (the engine's image contract is RGB, same as the
    PNG decoder). Lossy ``VP8 `` payloads refuse with
    NotImplementedError; malformed containers raise ValueError."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) container")
    pos = 12
    payload = None
    while pos + 8 <= len(content):
        fourcc = content[pos : pos + 4]
        size = struct.unpack("<I", content[pos + 4 : pos + 8])[0]
        body = content[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated WebP chunk")
        if fourcc == b"VP8L":
            payload = body
            break
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy WebP (VP8 intra-frame DCT) is not carried; only "
                "VP8L lossless decodes pure-Python"
            )
        pos += 8 + size + (size & 1)
    if payload is None:
        raise ValueError("no VP8L chunk in WebP container")
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read_bit()  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    pixels, transforms = _decode_image_stream(br, w, h, True, max_pixels)
    pixels, w2 = _apply_inverse_transforms(
        pixels, len(pixels) // h, h, transforms
    )
    if w2 != w:
        raise ValueError("width mismatch after inverse transforms")
    grid = pixels.reshape(h, w)
    rgb = np.stack(
        [(grid >> 16) & 0xFF, (grid >> 8) & 0xFF, grid & 0xFF], axis=-1
    )
    return rgb.astype(np.uint8)


# ------------------------------------------------------------- encode


def _build_lengths(freqs: np.ndarray, max_len: int = 15) -> list[int]:
    """Huffman code lengths from symbol frequencies, depth-limited.
    Kraft sum stays <= 1, so the canonical code always decodes."""
    import heapq

    syms = [s for s in range(len(freqs)) if freqs[s] > 0]
    if not syms:
        raise ValueError("no symbols")
    if len(syms) == 1:
        lengths = [0] * len(freqs)
        lengths[syms[0]] = 1
        return lengths
    heap = [(int(freqs[s]), s, (s,)) for s in syms]
    heapq.heapify(heap)
    depth = dict.fromkeys(syms, 0)
    while len(heap) > 1:
        fa, _, a = heapq.heappop(heap)
        fb, _, b = heapq.heappop(heap)
        for s in a + b:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, min(a + b), a + b))
    if max(depth.values()) > max_len:
        # rare pathological skew: flatten to a fixed-width code
        fixed = max(1, (len(syms) - 1).bit_length())
        depth = dict.fromkeys(syms, fixed)
    lengths = [0] * len(freqs)
    for s, d in depth.items():
        lengths[s] = d
    return lengths


def _write_code_lengths(bw: _BitWriter, lengths: list[int]) -> None:
    """The 'normal' code form: lengths RLE-compressed (0/16/17/18)
    under their own Huffman code, full alphabet (no max_symbol)."""
    bw.write(0, 1)  # not simple
    # RLE the lengths
    tokens: list[tuple[int, int]] = []  # (symbol, extra)
    i = 0
    while i < len(lengths):
        ln = lengths[i]
        run = 1
        while i + run < len(lengths) and lengths[i + run] == ln:
            run += 1
        if ln == 0:
            left = run
            while left >= 11:
                take = min(left, 138)
                tokens.append((18, take - 11))
                left -= take
            while left >= 3:
                take = min(left, 10)
                tokens.append((17, take - 3))
                left -= take
            for _ in range(left):
                tokens.append((0, -1))
        else:
            tokens.append((ln, -1))
            left = run - 1
            while left >= 3:
                take = min(left, 6)
                tokens.append((16, take - 3))
                left -= take
            for _ in range(left):
                tokens.append((ln, -1))
        i += run
    cl_freq = np.zeros(19, dtype=np.int64)
    for sym, _ in tokens:
        cl_freq[sym] += 1
    cl_lengths = _build_lengths(cl_freq, max_len=7)
    # trailing-trim the 3-bit lengths in spec order (min 4 entries)
    order_lengths = [cl_lengths[s] for s in _CL_ORDER]
    num_cl = max(
        4, max(i + 1 for i, v in enumerate(order_lengths) if v > 0)
    )
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(order_lengths[i], 3)
    codes = _canonical_codes(cl_lengths)
    single = sum(1 for v in cl_lengths if v > 0) == 1
    bw.write(0, 1)  # no max_symbol cap
    for sym, extra in tokens:
        if not single:
            c, ln = codes[sym]
            bw.write_code(c, ln)
        if sym == 16:
            bw.write(extra, 2)
        elif sym == 17:
            bw.write(extra, 3)
        elif sym == 18:
            bw.write(extra, 7)


def _write_simple_single(bw: _BitWriter, symbol: int) -> None:
    bw.write(1, 1)  # simple
    bw.write(0, 1)  # one symbol
    if symbol < 2:
        bw.write(0, 1)
        bw.write(symbol, 1)
    else:
        bw.write(1, 1)
        bw.write(symbol, 8)


def _prefix_code(v: int) -> tuple[int, int, int]:
    """Inverse of :func:`_prefix_value`: (code, n_extra_bits, extra)."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    extra = x.bit_length() - 2
    rem = x - (1 << (extra + 1))
    if rem >= (1 << extra):
        return 2 * extra + 3, extra, rem - (1 << extra)
    return 2 * extra + 2, extra, rem


_MAX_MATCH = 4096  # length prefix alphabet (24 codes) tops out here


def _tokenize(px: np.ndarray, w: int, cache_bits: int) -> list[tuple]:
    """Greedy LZ77 + color-cache tokenization of the ARGB pixel array.
    The matcher tries the two distances that dominate image data —
    1 (horizontal runs) and w (copy the row above) — and falls back to
    a cache hit, then a literal; the cache is maintained exactly as
    the decoder will (every EMITTED pixel inserts). Tokens:
    ('lit', pixel) / ('cache', index) / ('copy', length, distance)."""
    n = len(px)
    cache_size = 1 << cache_bits
    cache = np.zeros(cache_size, dtype=np.uint32)
    cache_used = np.zeros(cache_size, dtype=bool)
    tokens: list[tuple] = []
    i = 0
    while i < n:
        best_len, best_d = 0, 0
        for d in (1, w):
            if d == 0 or d > i:
                continue
            ln = 0
            limit = min(_MAX_MATCH, n - i)
            while ln < limit and px[i + ln] == px[i + ln - d]:
                ln += 1
            if ln > best_len:
                best_len, best_d = ln, d
        if best_len >= 3:
            for k in range(i, i + best_len):
                slot = (_HASH_MUL * int(px[k]) & 0xFFFFFFFF) >> (
                    32 - cache_bits
                )
                cache[slot] = px[k]
                cache_used[slot] = True
            tokens.append(("copy", best_len, best_d))
            i += best_len
            continue
        v = int(px[i])
        slot = (_HASH_MUL * v & 0xFFFFFFFF) >> (32 - cache_bits)
        if cache_used[slot] and int(cache[slot]) == v:
            tokens.append(("cache", slot))
        else:
            tokens.append(("lit", v))
        cache[slot] = v
        cache_used[slot] = True
        i += 1
    return tokens


def encode_webp_lossless(img: np.ndarray) -> bytes:
    """Lossless WebP bytes for ``img`` ((h, w, 3) uint8 RGB or (h, w)
    grayscale). Emits the subtract-green transform, a color cache,
    and greedy LZ77 (run + copy-row-above matches, plain distance
    codes) under real per-channel Huffman codes — so every round-trip
    test drives the decoder's transform/cache/backref paths, and flat
    or striped images compress to a handful of copy tokens. Alpha is
    constant 255 (zero-cost simple code)."""
    img = np.asarray(img)
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    h, w, _ = img.shape
    if not (0 < w <= 16384 and 0 < h <= 16384):
        raise ValueError(f"unencodable dimensions {h}x{w}")
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version
    bw.write(1, 1)  # transform present
    bw.write(2, 2)  # SUBTRACT_GREEN (no payload)
    bw.write(0, 1)  # end of transforms
    g = img[..., 1].reshape(-1).astype(np.uint32)
    r = (img[..., 0].reshape(-1).astype(np.uint32) - g) & 0xFF
    b = (img[..., 2].reshape(-1).astype(np.uint32) - g) & 0xFF
    px = (
        np.uint32(0xFF000000) | (r << np.uint32(16)) | (g << np.uint32(8)) | b
    ).astype(np.uint32)
    cache_bits = 8
    bw.write(1, 1)  # color cache ON
    bw.write(cache_bits, 4)
    bw.write(0, 1)  # no meta-huffman
    cache_size = 1 << cache_bits
    tokens = _tokenize(px, w, cache_bits)
    green_size = 256 + 24 + cache_size
    green_freq = np.zeros(green_size, dtype=np.int64)
    red_freq = np.zeros(256, dtype=np.int64)
    blue_freq = np.zeros(256, dtype=np.int64)
    dist_freq = np.zeros(40, dtype=np.int64)
    for t in tokens:
        if t[0] == "lit":
            v = t[1]
            green_freq[(v >> 8) & 0xFF] += 1
            red_freq[(v >> 16) & 0xFF] += 1
            blue_freq[v & 0xFF] += 1
        elif t[0] == "cache":
            green_freq[256 + 24 + t[1]] += 1
        else:
            lcode, _, _ = _prefix_code(t[1])
            green_freq[256 + lcode] += 1
            dcode, _, _ = _prefix_code(t[2] + 120)
            dist_freq[dcode] += 1
    # the first token is always a literal (nothing precedes pixel 0 to
    # copy or cache), so every channel histogram is non-empty here
    gl = _build_lengths(green_freq)
    rl = _build_lengths(red_freq)
    bl = _build_lengths(blue_freq)
    _write_code_lengths(bw, gl)
    _write_code_lengths(bw, rl)
    _write_code_lengths(bw, bl)
    _write_simple_single(bw, 255)  # alpha: constant, zero-cost
    if dist_freq.any():
        dl = _build_lengths(dist_freq)
        _write_code_lengths(bw, dl)
        dc = _canonical_codes(dl)
        d_single = sum(1 for v in dl if v > 0) == 1
    else:
        _write_simple_single(bw, 0)  # distance: unused
        dc, d_single = {}, True
    gc, rc, bc = (
        _canonical_codes(gl),
        _canonical_codes(rl),
        _canonical_codes(bl),
    )
    g_single = sum(1 for v in gl if v > 0) == 1
    r_single = sum(1 for v in rl if v > 0) == 1
    b_single = sum(1 for v in bl if v > 0) == 1

    def emit_green(sym: int) -> None:
        if not g_single:
            c, ln = gc[sym]
            bw.write_code(c, ln)

    for t in tokens:
        if t[0] == "lit":
            v = t[1]
            emit_green((v >> 8) & 0xFF)
            if not r_single:
                c, ln = rc[(v >> 16) & 0xFF]
                bw.write_code(c, ln)
            if not b_single:
                c, ln = bc[v & 0xFF]
                bw.write_code(c, ln)
            # alpha: zero-cost single symbol
        elif t[0] == "cache":
            emit_green(256 + 24 + t[1])
        else:
            _, length, dist = t
            lcode, lbits, lextra = _prefix_code(length)
            emit_green(256 + lcode)
            if lbits:
                bw.write(lextra, lbits)
            dcode, dbits, dextra = _prefix_code(dist + 120)
            if not d_single:
                c, ln = dc[dcode]
                bw.write_code(c, ln)
            if dbits:
                bw.write(dextra, dbits)
    payload = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
