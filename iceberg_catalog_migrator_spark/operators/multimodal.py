"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed by Arrow-batched Pandas UDFs over ``mapInPandas``.

The container has no image/audio codec *libraries*; the engine
carries its OWN real decoders, and ``decode_image`` routes to them by
magic bytes (formats it doesn't carry — lossy WebP, inter-frame
video — refuse with ``NotImplementedError`` unless a decoder is
injected):
pure-numpy binary PPM (P6), 24-bit uncompressed BMP (bottom-up/BGR/
padded rows), RIFF/WAVE 16-bit PCM, the QOI compressed codec, a
standard-conforming baseline JPEG codec (`operators/jpeg.py`), a
PNG codec (stdlib zlib DEFLATE + scanline unfiltering,
`operators/png.py`), and a real ISO-BMFF (MP4) container walker
carrying Motion-JPEG frames (`operators/mp4.py`), and a GIF codec
(variable-width LZW, palettes, interlace, frame disposal,
`operators/gif.py`), and a lossless-WebP VP8L codec (canonical
Huffman + LZ77 + color cache + all four transforms,
`operators/webp.py`) — all injected through the same seam and
oracle-verified on synthesized format bytes. Only lossy WebP (VP8
DCT intra-frames) and inter-frame video codecs (H.264/H.265) remain
out of scope. What
matters at 100 TB is the Spark-side plumbing this module exercises
end-to-end:

- schema: ``(doc_id, content binary, meta struct<format,width,height>)``;
- partition-parallel ``mapInPandas`` with bounded Arrow batches (the
  worker never materializes more than one batch of blobs);
- feature extraction emits a narrow row per blob, so downstream
  aggregation shuffles features, never payloads.

Swapping the fake decoder for PIL/ffmpeg changes one injected function.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.registry import register_query
from ..sources import load_table

FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, content_md5 string, format string"


def attach_binary_content(docs: DataFrame) -> DataFrame:
    """Materialize an opaque binary payload column + typed metadata.

    Real pipelines read blobs from object storage; here the payload is
    the utf-8 text (deterministic, so the oracle can recompute it)."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("fake/blob").alias("format"),
            F.length("text").cast("int").alias("width"),
            F.lit(1).cast("int").alias("height"),
        ).alias("meta"),
    )


def detect_image_format(content: bytes) -> str | None:
    """Magic-byte sniff for the formats the engine decodes itself."""
    if content[:2] == b"P6":
        return "ppm"
    if content[:2] == b"BM":
        return "bmp"
    if content[:4] == b"qoif":
        return "qoi"
    if content[:2] == b"\xff\xd8":
        return "jpeg"
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        return "webp"
    return None


def decode_image(content: bytes, decoder: Callable[[bytes], object] | None = None):
    """Decode an image payload to an (h, w, 3) uint8 RGB array.

    With no injected ``decoder``, routes by magic bytes to the
    engine's OWN pure-numpy decoders (P6 PPM, 24-bit BMP, QOI,
    baseline JPEG, PNG, GIF, lossless-WebP). Formats the engine
    doesn't carry a decoder for (lossy WebP, ...) raise
    ``NotImplementedError`` — inject a decoder (e.g. PIL.Image.open)
    on a cluster with codec libraries."""
    if decoder is not None:
        return decoder(content)
    fmt = detect_image_format(content)
    if fmt == "ppm":
        return decode_ppm(content)
    if fmt == "bmp":
        return decode_bmp(content)
    if fmt == "qoi":
        return decode_qoi(content)
    if fmt == "jpeg":
        from .jpeg import decode_jpeg

        return decode_jpeg(content)
    if fmt == "png":
        from .png import decode_png

        return decode_png(content)
    if fmt == "gif":
        from .gif import decode_gif

        return decode_gif(content)
    if fmt == "webp":
        from .webp import decode_webp

        # lossless VP8L decodes; lossy VP8 raises NotImplementedError
        # inside (DCT intra-frames stay out of pure-Python scope)
        return decode_webp(content)
    raise NotImplementedError(
        "no built-in decoder for this payload (built-ins: PPM/BMP/QOI/"
        "JPEG/PNG/GIF/WebP-lossless; lossy WebP and inter-frame video "
        "are not carried); inject a decoder (e.g. PIL.Image.open) to "
        "enable"
    )


def extract_features(blobs: DataFrame, batch_size_conf: str = "1000") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The fake 'decode' derives (n_bytes, md5) — deterministic stand-ins
    for (pixels, perceptual hash). Batches stream through the Python
    worker; peak memory is one Arrow batch of blobs per core."""

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["content"].map(len).astype("int64"),
                    "content_md5": pdf["content"].map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                    "format": pdf["meta"].map(lambda m: m["format"]),
                }
            )

    return blobs.mapInPandas(extract, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = "doc_id bigint, format string, width int, height int, content_md5 string"
FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_md5 string"
FRAME_CHARS = 64  # fake frame = 64 chars of payload
FRAME_STRIDE = 4  # sample every 4th frame


def resize_blobs(blobs: DataFrame) -> DataFrame:
    """'Resize' each blob to half width (fake: keep the first half of
    the payload; a real kernel calls PIL.Image.resize). Same
    ``mapInPandas`` batch shape as a real resampler: blob in, smaller
    blob + updated metadata out, one Arrow batch resident per core."""

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            widths = pdf["meta"].map(lambda m: m["width"]).astype("int64")
            new_w = -(-widths // 2)  # ceil(width/2)
            resized = [
                c.decode("utf-8")[:w].encode("utf-8")
                for c, w in zip(pdf["content"], new_w)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": pdf["meta"].map(lambda m: m["format"]),
                    "width": new_w.astype("int32"),
                    "height": pdf["meta"].map(lambda m: m["height"]).astype("int32"),
                    "content_md5": [hashlib.md5(r).hexdigest() for r in resized],
                }
            )

    return blobs.mapInPandas(resize, schema=RESIZE_SCHEMA)


def sample_frames(blobs: DataFrame) -> DataFrame:
    """Frame sampling: split each payload into fixed-size 'frames' and
    keep every ``FRAME_STRIDE``-th — the UDTF shape (one input row →
    many output rows) a video pipeline needs, as ``mapInPandas``."""

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                text = content.decode("utf-8")
                for fi in range(0, len(text) // FRAME_CHARS, FRAME_STRIDE):
                    frame = text[fi * FRAME_CHARS : (fi + 1) * FRAME_CHARS]
                    ids.append(doc_id)
                    idxs.append(fi)
                    hashes.append(hashlib.md5(frame.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_md5": pd.Series(hashes, dtype="object"),
                }
            )

    return blobs.mapInPandas(sample, schema=FRAME_SCHEMA)


@register_query(
    "multimodal_resize",
    oracle="""
    SELECT doc_id, 'fake/blob' AS format,
           CAST(CEIL(LEN(text) / 2.0) AS INT) AS width,
           1 AS height,
           MD5(SUBSTR(text, 1, CAST(CEIL(LEN(text) / 2.0) AS INT))) AS content_md5
    FROM documents
    """,
    description="blob resize plumbing: mapInPandas blob->smaller blob + updated metadata (kernel stubbed deterministically)",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return resize_blobs(attach_binary_content(docs))


@register_query(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT d.doc_id, CAST(fi AS INT) AS frame_idx,
           MD5(SUBSTR(d.text, CAST(fi AS INT) * {FRAME_CHARS} + 1, {FRAME_CHARS})) AS frame_md5
    FROM documents d,
         LATERAL UNNEST(GENERATE_SERIES(0, CAST(FLOOR(LEN(d.text) / {FRAME_CHARS}) AS INT) - 1, {FRAME_STRIDE})) AS g(fi)
    """,
    description=f"frame sampling plumbing: one blob -> every {FRAME_STRIDE}th {FRAME_CHARS}-char frame via mapInPandas (UDTF shape)",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_binary_content(docs))


@register_query(
    "multimodal_feature_extract",
    oracle="""
    SELECT doc_id,
           CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           MD5(text) AS content_md5,
           'fake/blob' AS format
    FROM documents
    """,
    description="binary-column pipeline: attach blob + metadata, Arrow-batched mapInPandas feature extraction (decode stubbed)",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_binary_content(docs))


# --------------------------------------------------- audio windowing
AUDIO_WINDOW = 64  # fake samples (chars) per analysis window
AUDIO_HOP = 32  # hop < window: 50% overlap, the audio-pipeline shape
AUDIO_SCHEMA = "doc_id bigint, win_idx int, win_md5 string"


def window_audio(blobs: DataFrame) -> DataFrame:
    """Overlapping-window extraction — the access pattern audio feature
    pipelines (STFT/mel frames) need, distinct from video frame sampling
    because hop < window duplicates payload regions. Runs as the same
    bounded-batch mapInPandas; each input blob emits ~len/hop narrow
    rows, never payload bytes."""

    def windows(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                text = content.decode("utf-8")
                n = (len(text) - AUDIO_WINDOW) // AUDIO_HOP
                for wi in range(0, n + 1):
                    win = text[wi * AUDIO_HOP : wi * AUDIO_HOP + AUDIO_WINDOW]
                    ids.append(doc_id)
                    idxs.append(wi)
                    hashes.append(hashlib.md5(win.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "win_idx": pd.Series(idxs, dtype="int32"),
                    "win_md5": pd.Series(hashes, dtype="object"),
                }
            )

    return blobs.mapInPandas(windows, schema=AUDIO_SCHEMA)


# ------------------------------------------- real decode (PPM / WAV)
# Below are a REAL binary P6 PPM decoder and a REAL RIFF/WAVE PCM
# decoder in pure numpy — two of the built-ins `decode_image` routes
# to by magic bytes (the compressed siblings live in jpeg.py/png.py
# and the QOI section below). The fixture synthesizes valid format
# bytes from the (all-ASCII) document text, so the DuckDB oracle can
# recompute every decoded statistic.
IMG_W, IMG_H = 4, 3
IMG_PIXEL_BYTES = IMG_W * IMG_H * 3  # 36 bytes of raw RGB
WAV_SAMPLES = 64
WAV_RATE = 16000


def _docs_at_least(spark: SparkSession, sf_dir: str, n_chars: int) -> DataFrame:
    """(doc_id, text) of the documents long enough to synthesize from."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.filter(F.length("text") >= n_chars)


def _pixel_stats_oracle(width: int, height: int, n_bytes: int) -> str:
    """The oracle of every lossless decode-stats query: pixel codes are
    the text's first ``n_bytes`` characters."""
    return f"""
    SELECT doc_id,
           {width} AS width, {height} AS height,
           CAST(LIST_SUM(codes) AS BIGINT) AS px_sum,
           CAST(LIST_MIN(codes) AS INT) AS px_min,
           CAST(LIST_MAX(codes) AS INT) AS px_max
    FROM (
      SELECT doc_id,
             LIST_TRANSFORM(GENERATE_SERIES(1, {n_bytes}),
                            i -> UNICODE(SUBSTR(text, i, 1))) AS codes
      FROM documents WHERE LEN(text) >= {n_bytes}
    )
    """


def synthesize_ppm(text: str) -> bytes:
    """A real binary PPM (P6) payload: ASCII header (with a comment, to
    exercise the parser) + raw RGB bytes = the doc's first 36 bytes."""
    header = f"P6\n# synthetic\n{IMG_W} {IMG_H}\n255\n".encode("ascii")
    return header + text[:IMG_PIXEL_BYTES].encode("ascii")


def decode_ppm(content: bytes):
    """REAL image decode for the uncompressed P6 format: parse the
    whitespace/comment-tolerant header, then ``np.frombuffer`` the pixel
    plane into an (h, w, 3) uint8 array. This is the injectable
    replacement for ``PIL.Image.open`` that needs no codec library."""
    import numpy as np

    if not content.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(content[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from pixels
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, got maxval={maxval}")
    n = w * h * 3
    if len(content) - pos < n:
        raise ValueError("truncated PPM pixel data")
    return np.frombuffer(content, dtype=np.uint8, count=n, offset=pos).reshape(h, w, 3)


def synthesize_wav(text: str) -> bytes:
    """A real RIFF/WAVE container: 16-bit mono PCM at 16 kHz, samples
    derived from the doc's first 64 bytes as ``(byte - 96) * 256``."""
    import struct

    import numpy as np

    codes = np.frombuffer(
        text[:WAV_SAMPLES].encode("ascii"), dtype=np.uint8
    ).astype(np.int16)
    samples = ((codes - 96) * 256).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(content: bytes):
    """REAL audio decode: walk the RIFF chunk list, parse the ``fmt ``
    chunk, return ``(sample_rate, int16 sample array)``. Pure numpy."""
    import struct

    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sample_rate, samples = 12, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (sz,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        body = content[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            audio_fmt, channels, sample_rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1 or bits != 16 or channels != 1:
                raise ValueError("only 16-bit mono PCM supported")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
    if sample_rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return sample_rate, samples


IMAGE_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, px_sum bigint, px_min int, px_max int"
)
AUDIO_STATS_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples int, amp_sum bigint, amp_max int"
)


def attach_ppm_content(docs: DataFrame) -> DataFrame:
    """Synthesize the PPM payload column. Runs as mapInPandas so payload
    bytes are born on the executors — the driver never sees a blob."""

    def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": pdf["text"].map(synthesize_ppm)}
            )

    return docs.mapInPandas(synth, schema="doc_id bigint, content binary")


def decode_image_stats(blobs: DataFrame, decoder=decode_ppm) -> DataFrame:
    """Decode every blob through the injectable seam and emit narrow
    per-image statistics (exact integer sums — no float drift)."""

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "width", "height", "px_sum", "px_min", "px_max")}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                img = decode_image(bytes(content), decoder=decoder)
                h, w, _ = img.shape
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["px_sum"].append(int(img.sum()))
                rows["px_min"].append(int(img.min()))
                rows["px_max"].append(int(img.max()))
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(stats, schema=IMAGE_STATS_SCHEMA)


@register_query(
    "multimodal_image_decode_stats",
    oracle=_pixel_stats_oracle(IMG_W, IMG_H, IMG_PIXEL_BYTES),
    description="REAL image decode: synthesized binary P6 PPM parsed by a pure-numpy decoder via the injectable decode seam; exact integer pixel stats",
)
def multimodal_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_at_least(spark, sf_dir, IMG_PIXEL_BYTES)
    return decode_image_stats(attach_ppm_content(docs), decoder=decode_ppm)


# ---------------------------------------------- real decode (BMP)
# A third REAL decoder, again pure numpy: 24-bit uncompressed Windows
# BMP. Unlike PPM this exercises binary little-endian headers,
# bottom-up row order, BGR channel order, and 4-byte row padding —
# the classic portability traps. BMP_W is chosen so each row needs a
# pad byte (5*3 = 15 -> stride 16).
BMP_W, BMP_H = 5, 3
BMP_PIXEL_BYTES = BMP_W * BMP_H * 3  # 45 logical RGB bytes
_BMP_STRIDE = (BMP_W * 3 + 3) & ~3  # 16: rows padded to 4-byte boundary


def synthesize_bmp(text: str) -> bytes:
    """A real BMP file: BITMAPFILEHEADER + 40-byte BITMAPINFOHEADER +
    bottom-up, BGR, row-padded 24-bit pixel data. The logical image
    (top-down RGB) is the doc's first 45 bytes, so decode(synthesize(t))
    round-trips to exactly those codes and the oracle can recompute
    every statistic from the text."""
    import struct

    import numpy as np

    codes = np.frombuffer(text[:BMP_PIXEL_BYTES].encode("ascii"), dtype=np.uint8)
    img = codes.reshape(BMP_H, BMP_W, 3)  # top-down RGB
    rows = []
    pad = b"\x00" * (_BMP_STRIDE - BMP_W * 3)
    for r in range(BMP_H - 1, -1, -1):  # bottom-up
        rows.append(img[r, :, ::-1].tobytes() + pad)  # RGB -> BGR
    pixels = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, BMP_W, BMP_H, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + info + pixels


def decode_bmp(content: bytes):
    """REAL image decode for 24-bit uncompressed BMP: parse both
    little-endian headers, honor the pixel-data offset, bottom-up or
    top-down row order (height sign), BGR channel order, and the
    4-byte row stride. Returns an (h, w, 3) uint8 RGB array — the same
    contract as ``decode_ppm``, injectable through ``decode_image``."""
    import struct

    import numpy as np

    if content[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(content) < 54:
        raise ValueError("truncated BMP header")
    (px_off,) = struct.unpack("<I", content[10:14])
    size, w, h_signed, planes, bits, compression = struct.unpack(
        "<IiiHHI", content[14:34]
    )
    if size < 40:
        raise ValueError(f"unsupported BMP header size {size}")
    if bits != 24 or compression != 0:
        raise ValueError("only 24-bit uncompressed BMP supported")
    if w <= 0 or h_signed == 0:
        raise ValueError(f"invalid BMP dimensions {w}x{h_signed}")
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    if len(content) - px_off < stride * h:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(content, dtype=np.uint8, count=stride * h, offset=px_off)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:
        rows = rows[::-1]  # bottom-up file -> top-down image
    return rows[:, :, ::-1]  # BGR -> RGB


def attach_bmp_content(docs: DataFrame) -> DataFrame:
    def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": pdf["text"].map(synthesize_bmp)}
            )

    return docs.mapInPandas(synth, schema="doc_id bigint, content binary")


@register_query(
    "multimodal_bmp_decode_stats",
    oracle=_pixel_stats_oracle(BMP_W, BMP_H, BMP_PIXEL_BYTES),
    description="REAL image decode #2: synthesized 24-bit BMP (bottom-up, BGR, padded rows) parsed by a pure-numpy decoder via the injectable seam",
)
def multimodal_bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_at_least(spark, sf_dir, BMP_PIXEL_BYTES)
    return decode_image_stats(attach_bmp_content(docs), decoder=decode_bmp)


def attach_wav_content(docs: DataFrame) -> DataFrame:
    def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": pdf["text"].map(synthesize_wav)}
            )

    return docs.mapInPandas(synth, schema="doc_id bigint, content binary")


def decode_audio_stats(blobs: DataFrame) -> DataFrame:
    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "sample_rate", "n_samples", "amp_sum", "amp_max")}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                rate, samples = decode_wav(bytes(content))
                amp = abs(samples.astype("int64"))
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(len(samples))
                rows["amp_sum"].append(int(amp.sum()))
                rows["amp_max"].append(int(amp.max()))
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(stats, schema=AUDIO_STATS_SCHEMA)


@register_query(
    "multimodal_audio_decode_stats",
    oracle=f"""
    SELECT doc_id,
           {WAV_RATE} AS sample_rate,
           {WAV_SAMPLES} AS n_samples,
           CAST(LIST_SUM(amps) AS BIGINT) AS amp_sum,
           CAST(LIST_MAX(amps) AS INT) AS amp_max
    FROM (
      SELECT doc_id,
             LIST_TRANSFORM(GENERATE_SERIES(1, {WAV_SAMPLES}),
                            i -> ABS((UNICODE(SUBSTR(text, i, 1)) - 96) * 256)) AS amps
      FROM documents WHERE LEN(text) >= {WAV_SAMPLES}
    )
    """,
    description="REAL audio decode: synthesized RIFF/WAVE 16-bit PCM parsed by a pure-numpy chunk-walking decoder; exact integer amplitude stats",
)
def multimodal_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_at_least(spark, sf_dir, WAV_SAMPLES)
    return decode_audio_stats(attach_wav_content(docs))


@register_query(
    "multimodal_audio_windows",
    oracle=f"""
    SELECT d.doc_id, CAST(wi AS INT) AS win_idx,
           MD5(SUBSTR(d.text, CAST(wi AS INT) * {AUDIO_HOP} + 1, {AUDIO_WINDOW})) AS win_md5
    FROM documents d,
         LATERAL UNNEST(GENERATE_SERIES(0,
           CAST(FLOOR((LEN(d.text) - {AUDIO_WINDOW}) / {AUDIO_HOP}) AS INT))) AS g(wi)
    WHERE LEN(d.text) >= {AUDIO_WINDOW}
    """,
    description=f"audio windowing plumbing: overlapping {AUDIO_WINDOW}-sample windows at hop {AUDIO_HOP} via mapInPandas",
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return window_audio(attach_binary_content(docs))


# ---------------------------------------------- perceptual-hash dedup
# dHash over the REAL-decoded PPM pixels: integer luma (299r+587g+114b —
# scaled BT.601 with no division, so it is exact in both engines), one
# bit per horizontally adjacent luma pair, row-major bit order. The
# 4x3 fixture image gives a (W-1)*H = 9-bit hash. Because the fixture
# synthesizes pixels from the document text, the DuckDB oracle
# recomputes the identical hash from character codes — a fully
# value-checked image-dedup path with a real binary decode in the loop.
PHASH_BITS = (IMG_W - 1) * IMG_H


def phash_images(blobs: DataFrame, decoder=decode_ppm) -> DataFrame:
    """(doc_id, phash): difference-hash each decoded image. Map-side
    only; the downstream census groups by the 2^bits-bounded hash."""

    def hashes(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, hs = [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                img = decode_image(bytes(content), decoder=decoder).astype(np.int64)
                gray = img[:, :, 0] * 299 + img[:, :, 1] * 587 + img[:, :, 2] * 114
                bits = (gray[:, :-1] > gray[:, 1:]).astype(np.int64).ravel()
                ids.append(doc_id)
                hs.append(int((bits << np.arange(bits.size, dtype=np.int64)).sum()))
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "phash": pd.Series(hs, dtype="int64")}
            )

    return blobs.mapInPandas(hashes, schema="doc_id bigint, phash bigint")


@register_query(
    "multimodal_phash_groups",
    oracle=f"""
    SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM (
      SELECT doc_id,
             CAST(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(0, {PHASH_BITS - 1}), b ->
               CASE WHEN g[(b // {IMG_W - 1}) * {IMG_W} + (b % {IMG_W - 1}) + 1]
                       > g[(b // {IMG_W - 1}) * {IMG_W} + (b % {IMG_W - 1}) + 2]
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS phash
      FROM (
        SELECT doc_id,
               LIST_TRANSFORM(GENERATE_SERIES(0, {IMG_W * IMG_H - 1}), m ->
                   299 * UNICODE(SUBSTR(text, 3 * m + 1, 1))
                 + 587 * UNICODE(SUBSTR(text, 3 * m + 2, 1))
                 + 114 * UNICODE(SUBSTR(text, 3 * m + 3, 1))) AS g
        FROM documents WHERE LEN(text) >= {IMG_PIXEL_BYTES}
      ) luma
    ) hashed
    GROUP BY phash
    """,
    description=(
        f"image near-dup census: {PHASH_BITS}-bit dHash over REAL-decoded PPM pixels "
        "(integer luma, adjacent-pixel gradient signs), grouped by hash"
    ),
)
def multimodal_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup: decode every blob through the real
    PPM decoder, dHash the pixel plane, and census the hash space —
    images with identical gradient structure land in one group, the
    image-side analogue of ``dedup_exact_groups``.

    Scale shape: decode+hash is a map-side Arrow batch pass (binary
    never shuffles); the only shuffle is the groupBy on a hash key
    bounded by 2^bits, with map-side partial aggregation. At 100 TB the
    hash would widen to 64 bits and the census becomes a bucket join —
    the same plan, a bigger key space."""
    docs = _docs_at_least(spark, sf_dir, IMG_PIXEL_BYTES)
    hashed = phash_images(attach_ppm_content(docs), decoder=decode_ppm)
    return hashed.groupBy("phash").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# ---------------------------------------------- ViT patch grid
# Patch extraction is the first step of every vision-transformer
# pipeline: split the decoded image into PxP tiles and reduce each to
# features. Exact integer patch sums keep the oracle replicable; the
# Spark side is one Arrow map pass over the decoded arrays.
PATCH = 2
_PATCH_ROWS = IMG_H // PATCH
_PATCH_COLS = IMG_W // PATCH


def _patch_sum_oracle_sql() -> str:
    cells = PATCH * PATCH * 3
    # flat code index for patch (pr, pc), intra-patch cell k:
    # dy = k // (PATCH*3's row span) ... generated explicitly per k to
    # keep the SQL free of engine-specific integer-division quirks
    terms = []
    for k in range(cells):
        dy, rem = divmod(k, PATCH * 3)
        dx, ch = divmod(rem, 3)
        terms.append(
            f"c[((pr * {PATCH} + {dy}) * {IMG_W} + (pc * {PATCH} + {dx})) * 3 + {ch} + 1]"
        )
    return f"""
    WITH codes AS (
      SELECT doc_id,
             LIST_TRANSFORM(GENERATE_SERIES(1, {IMG_PIXEL_BYTES}),
                            i -> UNICODE(SUBSTR(text, i, 1))) AS c
      FROM documents WHERE LEN(text) >= {IMG_PIXEL_BYTES}
    )
    SELECT doc_id,
           CAST(pr AS INT) AS patch_row, CAST(pc AS INT) AS patch_col,
           CAST({' + '.join(terms)} AS BIGINT) AS patch_sum
    FROM codes,
         GENERATE_SERIES(0, {_PATCH_ROWS - 1}) g1(pr),
         GENERATE_SERIES(0, {_PATCH_COLS - 1}) g2(pc)
    """


@register_query(
    "multimodal_patch_grid",
    oracle=_patch_sum_oracle_sql(),
    description=f"ViT patch extraction: real PPM decode split into {PATCH}x{PATCH} tiles, exact integer per-patch sums",
)
def multimodal_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch-grid reduction over the REAL PPM decode path. Each decoded
    (h, w, 3) array is tiled into PATCH x PATCH windows (edge remainder
    truncated, the standard ViT convention) and reduced to an exact
    integer sum per tile — the plumbing (Arrow batches, decode seam,
    per-patch numpy reduce) is exactly what a real patch-embedding
    stage needs, with the embedding matmul swapped for a checksummable
    reduce."""
    docs = _docs_at_least(spark, sf_dir, IMG_PIXEL_BYTES)
    blobs = attach_ppm_content(docs)

    def patches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "patch_row", "patch_col", "patch_sum")}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                img = decode_image(bytes(content), decoder=decode_ppm).astype(np.int64)
                for pr in range(_PATCH_ROWS):
                    for pc in range(_PATCH_COLS):
                        tile = img[
                            pr * PATCH : (pr + 1) * PATCH,
                            pc * PATCH : (pc + 1) * PATCH,
                        ]
                        rows["doc_id"].append(doc_id)
                        rows["patch_row"].append(pr)
                        rows["patch_col"].append(pc)
                        rows["patch_sum"].append(int(tile.sum()))
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(
        patches, schema="doc_id bigint, patch_row int, patch_col int, patch_sum bigint"
    )


# ---------------------------------------------- real video container
# A minimal multi-frame container over the REAL BMP decoder: magic +
# frame count, then each frame as a complete BMP file. The walker reads
# every frame's own declared file size from its BITMAPFILEHEADER (never
# assumes fixed-size frames), decodes the sampled ones with decode_bmp,
# and reduces to exact integer stats — the frame-sampling plumbing of a
# video pipeline with the codec swapped for the portable real decoder.
VIDEO_FRAMES = 4
VIDEO_STRIDE = 2  # decode frames 0 and 2 of 4: the sparse-sample shape
VIDEO_TEXT_BYTES = VIDEO_FRAMES * BMP_PIXEL_BYTES


def synthesize_bmp_video(text: str) -> bytes:
    """Container: ``VID0`` + uint32 frame count + concatenated real BMP
    files; frame f's logical pixels are the doc's bytes
    [f*45, (f+1)*45) so the oracle can recompute any frame's stats."""
    import struct

    frames = [
        synthesize_bmp(text[f * BMP_PIXEL_BYTES : (f + 1) * BMP_PIXEL_BYTES])
        for f in range(VIDEO_FRAMES)
    ]
    return struct.pack("<4sI", b"VID0", VIDEO_FRAMES) + b"".join(frames)


def decode_video_frames(content: bytes, stride: int = VIDEO_STRIDE):
    """Yield (frame_idx, rgb_array) for every stride-th frame. Walks the
    container by each embedded BMP's declared file size."""
    import struct

    if content[:4] != b"VID0":
        raise ValueError("not a VID0 container")
    (n_frames,) = struct.unpack("<I", content[4:8])
    pos = 8
    for f in range(n_frames):
        if len(content) < pos + 6:
            raise ValueError(f"truncated container at frame {f}")
        (file_size,) = struct.unpack("<I", content[pos + 2 : pos + 6])
        frame_bytes = content[pos : pos + file_size]
        if f % stride == 0:
            yield f, decode_bmp(frame_bytes)
        pos += file_size


@register_query(
    "multimodal_video_frame_stats",
    oracle=f"""
    {' UNION ALL '.join(
        f'''SELECT doc_id, {f} AS frame_idx,
           CAST(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES({f * BMP_PIXEL_BYTES + 1},
                {(f + 1) * BMP_PIXEL_BYTES}), i -> UNICODE(SUBSTR(text, i, 1)))) AS BIGINT)
             AS px_sum,
           CAST(LIST_MIN(LIST_TRANSFORM(GENERATE_SERIES({f * BMP_PIXEL_BYTES + 1},
                {(f + 1) * BMP_PIXEL_BYTES}), i -> UNICODE(SUBSTR(text, i, 1)))) AS INT)
             AS px_min,
           CAST(LIST_MAX(LIST_TRANSFORM(GENERATE_SERIES({f * BMP_PIXEL_BYTES + 1},
                {(f + 1) * BMP_PIXEL_BYTES}), i -> UNICODE(SUBSTR(text, i, 1)))) AS INT)
             AS px_max
        FROM documents WHERE LEN(text) >= {VIDEO_TEXT_BYTES}'''
        for f in range(0, VIDEO_FRAMES, VIDEO_STRIDE)
    )}
    """,
    description=f"REAL video-container decode: VID0 wrapper over {VIDEO_FRAMES} BMP frames, every {VIDEO_STRIDE}nd frame decoded to exact integer stats",
)
def multimodal_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_at_least(spark, sf_dir, VIDEO_TEXT_BYTES)

    def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["text"].map(synthesize_bmp_video),
                }
            )

    blobs = docs.mapInPandas(synth, schema="doc_id bigint, content binary")

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "frame_idx", "px_sum", "px_min", "px_max")}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                for f, img in decode_video_frames(bytes(content)):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(f)
                    rows["px_sum"].append(int(img.sum()))
                    rows["px_min"].append(int(img.min()))
                    rows["px_max"].append(int(img.max()))
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(
        stats,
        schema="doc_id bigint, frame_idx int, px_sum bigint, px_min int, px_max int",
    )


# ---------------------------------------------- real decode (QOI)
# A real COMPRESSED image codec, pure Python/numpy: QOI ("Quite OK
# Image", qoiformat.org — public spec). Unlike PPM/BMP/WAV above this
# is not a raw-bytes container: the byte stream interleaves run-length
# (QOI_OP_RUN), 64-slot color-index (QOI_OP_INDEX), small-delta
# (QOI_OP_DIFF / QOI_OP_LUMA) and literal (QOI_OP_RGB) ops, so the
# decoder maintains real codec state. ASCII document text produces
# repeated characters and small byte deltas, so the encoder genuinely
# compresses — every op path is exercised by the fixture corpus and the
# property test round-trips random images. This retires the "no real
# compressed codec" caveat without any external library; JPEG/MP4 and
# friends stay behind the injection seam.


def _qoi_hash(r: int, g: int, b: int) -> int:
    return (r * 3 + g * 5 + b * 7 + 255 * 11) % 64


def encode_qoi(img) -> bytes:
    """Real QOI encoder for (h, w, 3) uint8 arrays: emits RUN for
    repeats, INDEX for seen colors, DIFF/LUMA for small deltas, RGB
    literals otherwise — the full 3-channel op set."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError(
            f"encode_qoi takes (h, w, 3) RGB arrays, got shape {img.shape}"
        )
    h, w, _ = img.shape
    out = bytearray(b"qoif" + struct.pack(">IIBB", w, h, 3, 0))
    index = [(0, 0, 0)] * 64
    prev = (0, 0, 0)
    run = 0
    for r, g, b in img.reshape(-1, 3):
        px = (int(r), int(g), int(b))
        if px == prev:
            run += 1
            if run == 62:
                out.append(0b11000000 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0b11000000 | (run - 1))
            run = 0
        slot = _qoi_hash(*px)
        if index[slot] == px:
            out.append(slot)  # QOI_OP_INDEX (top bits 00)
        else:
            index[slot] = px
            dr = (px[0] - prev[0] + 128) % 256 - 128
            dg = (px[1] - prev[1] + 128) % 256 - 128
            db = (px[2] - prev[2] + 128) % 256 - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(0b01000000 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            elif (
                -32 <= dg <= 31 and -8 <= dr - dg <= 7 and -8 <= db - dg <= 7
            ):
                out.append(0b10000000 | (dg + 32))
                out.append(((dr - dg + 8) << 4) | (db - dg + 8))
            else:
                out.append(0xFE)  # QOI_OP_RGB
                out.extend(px)
        prev = px
    if run:
        out.append(0b11000000 | (run - 1))
    out.extend(b"\x00" * 7 + b"\x01")
    return bytes(out)


def decode_qoi(content: bytes):
    """Real QOI decoder (3-channel): parses the big-endian header and
    replays the op stream with the spec's running pixel, 64-slot index,
    and run-length state. Injectable through the same seam as
    ``decode_ppm``; needs no library."""
    import struct

    import numpy as np

    if content[:4] != b"qoif":
        raise ValueError("not a QOI payload")
    w, h, channels, _cs = struct.unpack(">IIBB", content[4:14])
    if channels != 3:
        raise ValueError(f"only 3-channel QOI supported, got {channels}")
    n = w * h
    px = np.empty((n, 3), dtype=np.uint8)
    index = [(0, 0, 0)] * 64
    prev = (0, 0, 0)
    pos, i = 14, 0
    try:
        return _qoi_replay(content, pos, i, n, w, h, px, index, prev)
    except IndexError:
        raise ValueError("truncated QOI stream") from None


def _qoi_replay(content, pos, i, n, w, h, px, index, prev):
    while i < n:
        byte = content[pos]
        pos += 1
        if byte == 0xFE:  # QOI_OP_RGB
            prev = (content[pos], content[pos + 1], content[pos + 2])
            pos += 3
        elif byte == 0xFF:
            raise ValueError("QOI_OP_RGBA in a 3-channel stream")
        else:
            tag = byte >> 6
            if tag == 0b00:  # QOI_OP_INDEX
                prev = index[byte & 0x3F]
            elif tag == 0b01:  # QOI_OP_DIFF
                prev = (
                    (prev[0] + ((byte >> 4) & 3) - 2) % 256,
                    (prev[1] + ((byte >> 2) & 3) - 2) % 256,
                    (prev[2] + (byte & 3) - 2) % 256,
                )
            elif tag == 0b10:  # QOI_OP_LUMA
                dg = (byte & 0x3F) - 32
                second = content[pos]
                pos += 1
                prev = (
                    (prev[0] + dg + ((second >> 4) & 0xF) - 8) % 256,
                    (prev[1] + dg) % 256,
                    (prev[2] + dg + (second & 0xF) - 8) % 256,
                )
            else:  # QOI_OP_RUN
                run = (byte & 0x3F) + 1
                px[i : i + run] = prev
                i += run
                index[_qoi_hash(*prev)] = prev
                continue
        index[_qoi_hash(*prev)] = prev
        px[i] = prev
        i += 1
    if content[pos : pos + 8] != b"\x00" * 7 + b"\x01":
        raise ValueError("missing QOI end marker")
    return px.reshape(h, w, 3)


def synthesize_qoi(text: str) -> bytes:
    """QOI-encode the same text-derived image the PPM fixture uses, so
    the oracle SQL is shared: decoded pixels == the doc's first 36
    character codes."""
    import numpy as np

    codes = np.frombuffer(
        text[:IMG_PIXEL_BYTES].encode("ascii"), dtype=np.uint8
    ).reshape(IMG_H, IMG_W, 3)
    return encode_qoi(codes)


@register_query(
    "multimodal_qoi_decode_stats",
    oracle=_pixel_stats_oracle(IMG_W, IMG_H, IMG_PIXEL_BYTES),
    description=(
        "REAL compressed-codec decode: text-derived images QOI-encoded "
        "(run/index/diff/luma/literal ops) and decoded by the pure-Python "
        "codec through the injectable seam; exact integer pixel stats"
    ),
)
def multimodal_qoi_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_at_least(spark, sf_dir, IMG_PIXEL_BYTES)

    def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": pdf["text"].map(synthesize_qoi)}
            )

    blobs = docs.mapInPandas(synth, schema="doc_id bigint, content binary")
    return decode_image_stats(blobs, decoder=decode_qoi)


# --------------------------------------------------------------- JPEG
# The pure-numpy BASELINE JPEG codec (operators/jpeg.py) closes the
# "compressed codec" gap for real: DCT, quantization, Huffman entropy
# coding, byte stuffing — a standard-conforming JFIF stream, no
# external library. JPEG is LOSSY, so the oracle contract is designed
# to survive quantization exactly: each 8x8 block is FLAT at a gray
# level that is a multiple of 32 — a flat block is DC-only, the DC
# quantization error at quality 90 is < 2 gray levels, so rounding the
# decoded block back to the nearest multiple of 32 recovers the
# original code exactly and DuckDB can recompute every statistic from
# the text.

JPEG_BLOCKS = 12  # one per leading text char
JPEG_BH, JPEG_BW = 2, 6  # block grid: image is 16 x 48
JPEG_H, JPEG_W = JPEG_BH * 8, JPEG_BW * 8


def _jpeg_gray_levels(text: str):
    import numpy as np

    codes = np.frombuffer(text[:JPEG_BLOCKS].encode("ascii"), dtype=np.uint8)
    return (codes.astype(np.int64) % 6) * 32 + 16  # flat levels 16..176


def _snap_levels(img):
    """Recover the flat-block gray levels from a decoded frame: snap
    channel 0 to the 16 + 32k grid. The offset grid is LOAD-BEARING —
    the levels sit exactly halfway between multiples of 32, so a bare
    round-to-32 would banker-round the ties astray; snapping to the
    grid the levels actually live on is exact by the quality-90 DC
    quantization-error bound. Single source of truth for the oracle
    contract (queries and tests both import this)."""
    import numpy as np

    return (np.round((img[..., 0].astype(np.float64) - 16) / 32) * 32 + 16).astype(
        np.int64
    )


def synthesize_jpeg(text: str) -> bytes:
    """A real baseline JFIF stream whose 8x8 blocks are flat gray
    levels derived from the doc's first 12 chars (see module note:
    flat + multiple-of-32 makes the lossy round trip exactly
    recoverable)."""
    import numpy as np

    from .jpeg import encode_jpeg

    levels = _jpeg_gray_levels(text).reshape(JPEG_BH, JPEG_BW)
    img = np.repeat(np.repeat(levels, 8, axis=0), 8, axis=1).astype(np.uint8)
    return encode_jpeg(img, quality=90)


def attach_jpeg_content(docs: DataFrame) -> DataFrame:
    def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": pdf["text"].map(synthesize_jpeg)}
            )

    return docs.mapInPandas(synth, schema="doc_id bigint, content binary")


@register_query(
    "multimodal_jpeg_decode_stats",
    oracle=f"""
    SELECT doc_id,
           {JPEG_W} AS width, {JPEG_H} AS height,
           CAST(64 * LIST_SUM(levels) AS BIGINT) AS px_sum,
           CAST(LIST_MIN(levels) AS INT) AS px_min,
           CAST(LIST_MAX(levels) AS INT) AS px_max
    FROM (
      SELECT doc_id,
             LIST_TRANSFORM(GENERATE_SERIES(1, {JPEG_BLOCKS}),
                            i -> (UNICODE(SUBSTR(text, i, 1)) % 6) * 32 + 16)
               AS levels
      FROM documents WHERE LEN(text) >= {JPEG_BLOCKS}
    )
    """,
    description=(
        "REAL compressed-codec decode: baseline JPEG (DCT + quantization "
        "+ Huffman, pure numpy) synthesized per doc and decoded "
        "executor-side; flat multiple-of-32 blocks make the lossy round "
        "trip exactly recoverable, so the oracle recomputes every "
        "statistic from the text"
    ),
)
def multimodal_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the synthesized JPEGs through the injectable seam and
    emit per-image stats over the recovered block levels (decoded
    pixels rounded to the nearest multiple of 32 — exact by the DC
    quantization-error bound)."""

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        from .jpeg import decode_jpeg

        for pdf in batches:
            rows = {
                k: []
                for k in ("doc_id", "width", "height", "px_sum", "px_min", "px_max")
            }
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                img = decode_jpeg(bytes(content))
                h, w, _ = img.shape
                levels = _snap_levels(img)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["px_sum"].append(int(levels.sum()))
                rows["px_min"].append(int(levels.min()))
                rows["px_max"].append(int(levels.max()))
            yield pd.DataFrame(rows)

    docs = _docs_at_least(spark, sf_dir, JPEG_BLOCKS)
    return attach_jpeg_content(docs).mapInPandas(stats, schema=IMAGE_STATS_SCHEMA)


# ---------------------------------------------------------------- MP4
# REAL ISO-BMFF container (operators/mp4.py) wrapping Motion-JPEG
# frames from the real JPEG codec: the walker locates frames through
# the actual sample tables (stsz/stco) exactly like a production
# demuxer, and every frame is a flat-block JPEG whose levels DuckDB
# recovers exactly (same lossless-by-construction contract as
# multimodal_jpeg_decode_stats). Only inter-frame codecs (H.264/5)
# remain out of scope — the stsd fourcc gate refuses them loudly.

MP4_FRAMES = 4
MP4_STRIDE = 2
MP4_TEXT_CHARS = MP4_FRAMES * JPEG_BLOCKS  # 48


def synthesize_mp4_mjpeg(text: str) -> bytes:
    """A real single-track MJPEG-in-MP4 movie; frame f's block levels
    derive from text chars [f*12, (f+1)*12)."""
    from .mp4 import encode_mp4

    samples = [
        synthesize_jpeg(text[f * JPEG_BLOCKS : (f + 1) * JPEG_BLOCKS])
        for f in range(MP4_FRAMES)
    ]
    return encode_mp4(samples, JPEG_W, JPEG_H)


def _mp4_frame_oracle_sql() -> str:
    parts = []
    for f in range(0, MP4_FRAMES, MP4_STRIDE):
        lo = f * JPEG_BLOCKS + 1
        hi = (f + 1) * JPEG_BLOCKS
        lvl = (
            f"LIST_TRANSFORM(GENERATE_SERIES({lo}, {hi}), "
            "i -> (UNICODE(SUBSTR(text, i, 1)) % 6) * 32 + 16)"
        )
        parts.append(
            f"""SELECT doc_id, {f} AS frame_idx,
           CAST(64 * LIST_SUM({lvl}) AS BIGINT) AS px_sum,
           CAST(LIST_MIN({lvl}) AS INT) AS px_min,
           CAST(LIST_MAX({lvl}) AS INT) AS px_max
        FROM documents WHERE LEN(text) >= {MP4_TEXT_CHARS}"""
        )
    return " UNION ALL ".join(parts)


@register_query(
    "multimodal_mp4_frame_stats",
    oracle=_mp4_frame_oracle_sql(),
    description=(
        "REAL MP4 decode end to end: ISO-BMFF box walk + stsz/stco "
        "sample extraction + Motion-JPEG frame decode (pure numpy); "
        "every strided frame's stats recomputed exactly by the oracle"
    ),
)
def multimodal_mp4_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every MP4_STRIDEth frame of each doc's synthesized movie,
    decoded executor-side through the real container + codec path."""

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        from .jpeg import decode_jpeg
        from .mp4 import decode_mp4_samples

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "frame_idx", "px_sum", "px_min", "px_max")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                content = synthesize_mp4_mjpeg(text)
                for f, sample in enumerate(decode_mp4_samples(content)):
                    if f % MP4_STRIDE:
                        continue
                    img = decode_jpeg(sample)
                    levels = _snap_levels(img)
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(f)
                    rows["px_sum"].append(int(levels.sum()))
                    rows["px_min"].append(int(levels.min()))
                    rows["px_max"].append(int(levels.max()))
            yield pd.DataFrame(rows)

    docs = _docs_at_least(spark, sf_dir, MP4_TEXT_CHARS)
    return docs.mapInPandas(
        stats, schema="doc_id bigint, frame_idx int, px_sum bigint, px_min int, px_max int"
    )


# ---------------------------------------------------------------- PNG
# Third real compressed image codec (operators/png.py — stdlib zlib
# DEFLATE + numpy unfiltering). PNG is LOSSLESS, so the oracle
# contract is the BMP one: the image's logical pixels ARE the doc's
# leading bytes and DuckDB recomputes every statistic from the text.

PNG_W, PNG_H = 5, 3
PNG_PIXEL_BYTES = PNG_W * PNG_H * 3  # 45 logical RGB bytes


def synthesize_png(text: str) -> bytes:
    """A real 8-bit RGB PNG whose pixels are the doc's first 45
    ASCII codes."""
    import numpy as np

    from .png import encode_png

    codes = np.frombuffer(text[:PNG_PIXEL_BYTES].encode("ascii"), dtype=np.uint8)
    return encode_png(codes.reshape(PNG_H, PNG_W, 3))


@register_query(
    "multimodal_png_decode_stats",
    oracle=_pixel_stats_oracle(PNG_W, PNG_H, PNG_PIXEL_BYTES),
    description=(
        "REAL compressed-codec decode #3: PNG (DEFLATE via stdlib zlib + "
        "scanline unfiltering, pure Python/numpy) synthesized per doc, "
        "decoded executor-side through the magic-byte router; lossless, "
        "so the oracle recomputes exact stats from the text"
    ),
)
def multimodal_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": pdf["text"].map(synthesize_png)}
            )

    docs = _docs_at_least(spark, sf_dir, PNG_PIXEL_BYTES)
    blobs = docs.mapInPandas(synth, schema="doc_id bigint, content binary")
    # decoder=None: the magic-byte router finds the PNG decoder itself
    return decode_image_stats(blobs, decoder=None)


# ---------------------------------------------------------------- GIF
# Fourth real compressed codec (operators/gif.py): animated GIF with
# real variable-width LZW, a grayscale identity palette, and one
# interlaced frame — pixels are the doc's leading ASCII codes, GIF is
# lossless, so DuckDB recomputes every statistic from the text. All
# frames are full-canvas (disposal composition == frame content), so
# the animation walk is inside the oracle-checked path.

GIF_W, GIF_H, GIF_FRAMES = 6, 4, 3
GIF_CHARS = GIF_W * GIF_H * GIF_FRAMES  # 72 leading chars per doc


def synthesize_gif(text: str) -> bytes:
    """A real animated GIF89a whose frame pixels are the doc's first
    72 ASCII codes (24 per frame), frame 1 interlaced."""
    import numpy as np

    from .gif import encode_gif

    codes = np.frombuffer(text[:GIF_CHARS].encode("ascii"), dtype=np.uint8)
    frames = [
        codes[f * GIF_W * GIF_H : (f + 1) * GIF_W * GIF_H].reshape(GIF_H, GIF_W)
        for f in range(GIF_FRAMES)
    ]
    return encode_gif(frames, interlace_frames=(1,))


@register_query(
    "multimodal_gif_decode_stats",
    oracle=f"""
    SELECT doc_id,
           {GIF_W} AS width, {GIF_H} AS height,
           {GIF_FRAMES} AS n_frames,
           CAST(3 * LIST_SUM(codes) AS BIGINT) AS px_sum,
           CAST(LIST_MIN(codes) AS INT) AS px_min,
           CAST(LIST_MAX(codes) AS INT) AS px_max
    FROM (
      SELECT doc_id,
             LIST_TRANSFORM(GENERATE_SERIES(1, {GIF_CHARS}),
                            i -> UNICODE(SUBSTR(text, i, 1))) AS codes
      FROM documents WHERE LEN(text) >= {GIF_CHARS}
    )
    """,
    description=(
        "REAL compressed-codec decode #4: animated GIF (variable-width "
        "LZW, grayscale palette, one interlaced frame) synthesized per "
        "doc and composited executor-side through the disposal model; "
        "lossless, so the oracle recomputes exact stats from the text"
    ),
)
def multimodal_gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        from .gif import decode_gif_frames

        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "doc_id", "width", "height", "n_frames",
                    "px_sum", "px_min", "px_max",
                )
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                content = synthesize_gif(text)
                px_sum, px_min, px_max, n_frames, h, w = 0, 255, 0, 0, 0, 0
                for frame in decode_gif_frames(content):
                    h, w, _ = frame.shape
                    n_frames += 1
                    px_sum += int(frame.sum())
                    px_min = min(px_min, int(frame.min()))
                    px_max = max(px_max, int(frame.max()))
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_frames"].append(n_frames)
                rows["px_sum"].append(px_sum)
                rows["px_min"].append(px_min)
                rows["px_max"].append(px_max)
            yield pd.DataFrame(rows)

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= GIF_CHARS)
    )
    return docs.mapInPandas(
        stats,
        schema=(
            "doc_id bigint, width int, height int, n_frames int, "
            "px_sum bigint, px_min int, px_max int"
        ),
    )


# --------------------------------------------------------------- WebP
# Fifth real compressed codec (operators/webp.py): lossless WebP —
# VP8L canonical-Huffman literals under this encoder, with the decoder
# carrying the full spec (LZ77, color cache, all four transforms).
# Lossless, so the oracle contract is the PNG one: the pixels ARE the
# doc's leading bytes and DuckDB recomputes every statistic from text.

WEBP_W, WEBP_H = 4, 4
WEBP_PIXEL_BYTES = WEBP_W * WEBP_H * 3  # 48 logical RGB bytes


def synthesize_webp(text: str) -> bytes:
    """A real lossless WebP (VP8L) whose pixels are the doc's first 48
    ASCII codes."""
    import numpy as np

    from .webp import encode_webp_lossless

    codes = np.frombuffer(
        text[:WEBP_PIXEL_BYTES].encode("ascii"), dtype=np.uint8
    )
    return encode_webp_lossless(codes.reshape(WEBP_H, WEBP_W, 3))


@register_query(
    "multimodal_webp_decode_stats",
    oracle=_pixel_stats_oracle(WEBP_W, WEBP_H, WEBP_PIXEL_BYTES),
    description=(
        "REAL compressed-codec decode #5: lossless WebP (VP8L canonical "
        "Huffman; decoder carries LZ77 + color cache + all 4 spec "
        "transforms) synthesized per doc, decoded executor-side through "
        "the magic-byte router; lossless, so the oracle recomputes "
        "exact stats from the text"
    ),
)
def multimodal_webp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": pdf["text"].map(synthesize_webp),
                }
            )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= WEBP_PIXEL_BYTES)
    )
    blobs = docs.mapInPandas(synth, schema="doc_id bigint, content binary")
    # decoder=None: the magic-byte router finds the VP8L decoder itself
    return decode_image_stats(blobs, decoder=None)
