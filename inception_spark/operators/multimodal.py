"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

Extends the engine beyond the reference's text-only surface (per the build
brief): the Spark-side plumbing — schemas, Arrow batch shapes, partitioning,
UDF signatures — is real and tested.  Decoding is REAL where zero-dependency
codecs exist — uncompressed BMP, binary netpbm (P6 PPM / P5 PGM), 8-bit
PNG (stdlib ``zlib`` inflate + scanline unfilter), GIF (pure-Python LZW),
baseline JPEG (operators/jpeg.py), strip TIFF with LZW/predictor
(operators/tiff.py) and 16-bit PCM WAV decode, re-encode,
resize/resample and featurize with actual pixels/samples.  MP4 and MP3
expose real CONTAINER metadata (box walk / frame-header scan — duration,
dims, rates) without decoding; frame/sample decode for them stays behind
``DecoderUnavailable`` with a deterministic fake used by tests (this
container has no ffmpeg).

Design for 100 TB of media:

* binary payloads ride in parquet ``binary`` columns next to a typed
  ``media_meta`` struct (modality, mime, width/height/duration, byte size)
  so metadata predicates prune without touching payload bytes (parquet
  column pruning: a filter on ``media_meta.modality`` never reads blobs);
* decode / feature-extract run in ``mapInPandas`` — per-partition Arrow
  batches, so one Python worker init per partition and bounded memory via
  the session's ``maxRecordsPerBatch`` (payloads are MBs — keep batches
  small);
* frame sampling / resizing emit *rows per frame* (posexplode-style) so the
  downstream embedding stage rebalances with a repartition, the same skew
  strategy as the text chunker (SURVEY.md §4a).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inception_spark.sources import fanout

MEDIA_META = T.StructType(
    [
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)

MEDIA_DOCUMENTS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("media_meta", MEDIA_META, False),
    ]
)


class DecoderUnavailable(NotImplementedError):
    """Raised by the real decode path when no decoder can handle the
    payload: JPEG/WebP/video need PIL/ffmpeg, which are not installed in
    this environment.  BMP, binary netpbm, 8-bit PNG and 16-bit PCM WAV
    decode NATIVELY (struct/zlib/wave + numpy, below) — so the real path
    is exercised end to end on real pixels/samples; the ``fake=True``
    decoders remain for format-agnostic plumbing tests."""


# ---------------------------------------------------------------------------
# native BMP codec — zero dependencies, real pixels
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bpp BMP → (h, w, 3) uint8 RGB array.

    BMP is a fixed little-endian header + raw BGR(A) rows padded to 4
    bytes, bottom-up — fully parseable with struct/numpy, no PIL."""
    import struct

    if payload[:2] != b"BM":
        raise DecoderUnavailable("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise DecoderUnavailable(
            f"only uncompressed 24/32-bpp BMP decodes natively "
            f"(bpp={bpp}, compression={compression})"
        )
    bottom_up, h = h > 0, abs(h)
    nch = bpp // 8
    row_size = ((w * nch + 3) // 4) * 4
    arr = np.frombuffer(
        payload, dtype=np.uint8, count=row_size * h, offset=data_offset
    ).reshape(h, row_size)[:, : w * nch].reshape(h, w, nch)
    if bottom_up:
        arr = arr[::-1]
    return np.ascontiguousarray(arr[:, :, [2, 1, 0]])  # BGR(A)→RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → uncompressed 24-bpp BMP bytes."""
    import struct

    h, w, _ = img.shape
    row_size = ((w * 3 + 3) // 4) * 4
    pad = b"\x00" * (row_size - w * 3)
    bgr = img[:, :, [2, 1, 0]]
    body = b"".join(bytes(r.tobytes()) + pad for r in bgr[::-1])
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    off = 14 + 40
    return struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off) + info + body


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize by integer index maps — deterministic."""
    src_h, src_w = img.shape[:2]
    yi = np.arange(height) * src_h // height
    xi = np.arange(width) * src_w // width
    return np.ascontiguousarray(img[yi][:, xi])


def image_features(img: np.ndarray, dim: int) -> np.ndarray:
    """Deterministic real image features: per-channel mean/std + a 4×4
    grayscale thumbnail grid, L2-normalized and padded/truncated to
    ``dim`` — the library-free analogue of an image-embedding model."""
    gray = img.astype(np.float64).mean(axis=2)
    grid = resize_nearest(gray[..., None], 4, 4)[..., 0].ravel() / 255.0
    feats = np.concatenate(
        [
            img.astype(np.float64).mean(axis=(0, 1)) / 255.0,
            img.astype(np.float64).std(axis=(0, 1)) / 255.0,
            grid,
        ]
    )
    feats = (
        np.pad(feats, (0, dim - len(feats)))
        if len(feats) < dim
        else feats[:dim]
    )
    n = float(np.linalg.norm(feats))
    return (feats / (n or 1.0)).astype(np.float32)


def _le_uint(payload_col: str, pos: int, n: int):
    """Little-endian unsigned integer from ``n`` bytes at 1-based
    ``pos``, JVM-side and BYTE-SAFE: each byte is hexed individually
    (``hex`` on BinaryType is a pure byte transcode) and recombined
    arithmetically.  ``reverse`` must never touch a binary column — it
    implicitly casts to a UTF-8 STRING first, so every byte >= 0x80
    becomes U+FFFD before the hex and any multi-byte field is silently
    corrupted (caught by the wav_meta_stats oracle entry: sample rate
    16000 = 0x3E80 misread; 8000 = 0x1F40 happened to be all-ASCII,
    which is why the earlier fixtures never tripped it)."""
    total = None
    for i in range(n):
        b = (
            F.conv(
                F.hex(F.substring(F.col(payload_col), pos + i, 1)),
                16,
                10,
            ).cast("long")
            * F.lit(256**i)
        )
        total = b if total is None else total + b
    return total


def probe_bmp_dims(
    df: DataFrame, *, payload_col: str = "payload"
) -> DataFrame:
    """Fill media_meta.width/height by parsing the BMP header JVM-SIDE
    (per-byte substring → hex → conv recombination): metadata probing
    over 100 TB of blobs must not round-trip payloads through Python.
    The height field is SIGNED (negative = top-down row order) — the
    probe reports |height| like :func:`decode_bmp` reports abs(h)
    rows; a raw unsigned cast to int would ANSI-overflow-throw on the
    first top-down bitmap and kill the whole scan."""

    def _le32(pos: int):  # 1-based substring position
        u = _le_uint(payload_col, pos, 4)
        signed = F.when(
            u >= F.lit(1 << 31), u - F.lit(1 << 32)
        ).otherwise(u)
        return F.abs(signed).cast("int")

    is_bmp = F.substring(F.col(payload_col), 1, 2) == F.lit(b"BM")
    return df.withColumn(
        "media_meta",
        F.struct(
            F.col("media_meta.modality").alias("modality"),
            F.col("media_meta.mime").alias("mime"),
            F.when(is_bmp, _le32(19)).alias("width"),
            F.when(is_bmp, _le32(23)).alias("height"),
            F.col("media_meta.duration_ms").alias("duration_ms"),
            F.col("media_meta.n_bytes").alias("n_bytes"),
        ),
    )


def decode_netpbm(payload: bytes) -> np.ndarray:
    """Binary netpbm (P6 RGB / P5 grayscale) → (h, w, 3) uint8 RGB.

    Second zero-dependency image codec next to BMP: magic, then
    whitespace/``#``-comment-separated width/height/maxval tokens, one
    whitespace byte, then raw samples.  Grayscale replicates to 3
    channels so every native decoder feeds the same (h, w, 3) contract."""
    if payload[:2] not in (b"P5", b"P6"):
        raise DecoderUnavailable("not a binary netpbm payload")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise DecoderUnavailable("truncated netpbm header")
        vals.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates header from samples
    w, h, maxval = vals
    if maxval > 255 or maxval <= 0:
        raise DecoderUnavailable(
            f"only 8-bit netpbm decodes natively (maxval={maxval})"
        )
    nch = 3 if payload[:2] == b"P6" else 1
    if len(payload) - pos < w * h * nch:
        # np.frombuffer would raise a bare ValueError; keep the codec
        # layer's refusal contract instead
        raise DecoderUnavailable("truncated netpbm samples")
    arr = np.frombuffer(
        payload, np.uint8, count=w * h * nch, offset=pos
    ).reshape(h, w, nch)
    if maxval != 255:
        # netpbm samples are 0..maxval; the (h, w, 3) contract is uint8
        # 0..255 — rescale with round-half-up integer division
        arr = (
            (arr.astype(np.uint32) * 255 + maxval // 2) // maxval
        ).astype(np.uint8)
    if nch == 1:
        arr = np.repeat(arr, 3, axis=2)
    return np.ascontiguousarray(arr)


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → binary P6 PPM bytes."""
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(img).tobytes()


# ---------------------------------------------------------------------------
# native PNG codec — stdlib zlib, real pixels, zero dependencies
# ---------------------------------------------------------------------------
# The most common training-corpus image format.  PNG is chunked
# (len/type/data/crc), pixels are zlib-deflated scanlines, each prefixed
# with a filter byte (None/Sub/Up/Average/Paeth) — all reachable with
# stdlib zlib + numpy, unlike JPEG's DCT pipeline.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, w: int, h: int, nch: int) -> np.ndarray:
    """Reverse per-scanline filtering: ``raw`` is h rows of
    (1 filter byte + w*nch sample bytes); returns (h, w*nch) uint8."""
    stride = w * nch
    if len(raw) < h * (1 + stride):
        raise DecoderUnavailable("truncated PNG scanlines")
    rows = np.frombuffer(raw, np.uint8, count=h * (1 + stride)).reshape(
        h, 1 + stride
    )
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype, cur = int(rows[y, 0]), rows[y, 1:].astype(np.int32)
        up = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:  # None
            line = cur
        elif ftype == 1:  # Sub — sequential in x, vectorized per pixel col
            line = cur.copy()
            for x in range(nch, stride):
                line[x] = (line[x] + line[x - nch]) & 0xFF
        elif ftype == 2:  # Up
            line = (cur + up) & 0xFF
        elif ftype == 3:  # Average
            line = cur.copy()
            for x in range(stride):
                left = line[x - nch] if x >= nch else 0
                line[x] = (line[x] + ((left + up[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            line = cur.copy()
            for x in range(stride):
                a = int(line[x - nch]) if x >= nch else 0
                b = int(up[x])
                c = int(up[x - nch]) if x >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        else:
            raise DecoderUnavailable(f"unknown PNG filter type {ftype}")
        out[y] = line.astype(np.uint8)
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit non-interlaced PNG (gray / gray+alpha / RGB / RGBA / palette)
    → (h, w, 3) uint8 RGB.  stdlib zlib inflate + per-scanline unfilter;
    alpha is dropped (same contract as 32-bpp BMP), palette indices are
    resolved through PLTE."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise DecoderUnavailable("not a PNG payload")
    pos, w = len(_PNG_SIG), 0
    h = depth = ctype = interlace = 0
    idat, plte = [], None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        ctag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if ctag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctag == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctag == b"IDAT":
            idat.append(data)
        elif ctag == b"IEND":
            break
        pos += 12 + ln  # len + type + data + crc
    if not idat or w == 0:
        raise DecoderUnavailable("PNG missing IHDR/IDAT")
    if depth != 8 or interlace != 0:
        raise DecoderUnavailable(
            f"only 8-bit non-interlaced PNG decodes natively "
            f"(depth={depth}, interlace={interlace})"
        )
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise DecoderUnavailable(f"unknown PNG color type {ctype}")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise DecoderUnavailable(f"corrupt PNG deflate stream: {exc}")
    px = _png_unfilter(raw, w, h, nch).reshape(h, w, nch)
    if ctype == 3:  # palette
        if plte is None:
            raise DecoderUnavailable("palette PNG without PLTE chunk")
        return np.ascontiguousarray(plte[px[:, :, 0]])
    if nch == 1:  # gray
        return np.ascontiguousarray(np.repeat(px, 3, axis=2))
    if nch == 2:  # gray + alpha → drop alpha
        return np.ascontiguousarray(np.repeat(px[:, :, :1], 3, axis=2))
    return np.ascontiguousarray(px[:, :, :3])  # RGB / RGBA


def encode_png(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → PNG bytes (color type 2, filter 0 rows)."""
    import struct
    import zlib

    h, w, _ = img.shape
    body = b"".join(
        b"\x00" + np.ascontiguousarray(img[y]).tobytes() for y in range(h)
    )

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )


def probe_png_dims(
    df: DataFrame, *, payload_col: str = "payload"
) -> DataFrame:
    """Fill media_meta.width/height from the PNG IHDR JVM-SIDE (IHDR is
    mandated first chunk: big-endian u32 pair at bytes 17-24) — same
    no-Python-round-trip rule as probe_bmp_dims."""

    def _be32(pos: int):  # 1-based substring position
        return F.conv(
            F.hex(F.substring(F.col(payload_col), pos, 4)), 16, 10
        ).cast("int")

    is_png = F.substring(F.col(payload_col), 1, 8) == F.lit(_PNG_SIG)
    return df.withColumn(
        "media_meta",
        F.struct(
            F.col("media_meta.modality").alias("modality"),
            F.col("media_meta.mime").alias("mime"),
            F.when(is_png, _be32(17)).alias("width"),
            F.when(is_png, _be32(21)).alias("height"),
            F.col("media_meta.duration_ms").alias("duration_ms"),
            F.col("media_meta.n_bytes").alias("n_bytes"),
        ),
    )


# GIF — the other zero-dependency compressed format: LZW is specified
# fully in GIF89a and needs no codec library.  Decodes the FIRST image
# frame (training corpora treat animated GIFs as stills) with global or
# local color table and interlace handling.


def _gif_lzw(data: bytes, min_size: int, expect: int) -> bytes:
    """GIF-variant LZW: variable-width codes, LSB-first bit packing,
    clear/EOI codes, dictionary capped at 12 bits."""
    clear = 1 << min_size
    eoi = clear + 1
    code_size = min_size + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = eoi + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    nbits = len(data) * 8
    while bitpos + code_size <= nbits and len(out) < expect:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_size + 1
            table = {i: bytes([i]) for i in range(clear)}
            next_code = eoi + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code not in table:
                raise DecoderUnavailable("corrupt GIF LZW stream")
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]
            else:
                raise DecoderUnavailable("corrupt GIF LZW stream")
            if next_code < 4096:
                table[next_code] = prev + entry[:1]
                next_code += 1
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
        out += entry
        prev = entry
    if len(out) < expect:
        raise DecoderUnavailable("truncated GIF pixel data")
    return bytes(out[:expect])


def decode_gif(payload: bytes) -> np.ndarray:
    """GIF87a/89a → (h, w, 3) uint8 RGB: first image frame, global or
    local palette, interlace deshuffle.  Pure stdlib (LZW in Python)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise DecoderUnavailable("not a GIF payload")
    if len(payload) < 13:
        raise DecoderUnavailable("truncated GIF header")
    flags = payload[10]
    pos = 13
    gct = None
    if flags >> 7:
        n = 2 ** ((flags & 7) + 1)
        gct = payload[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension block — skip sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise DecoderUnavailable("truncated GIF image descriptor")
            w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            lflags = payload[pos + 9]
            pos += 10
            palette = gct
            if lflags >> 7:
                n = 2 ** ((lflags & 7) + 1)
                palette = payload[pos : pos + 3 * n]
                pos += 3 * n
            if palette is None:
                raise DecoderUnavailable("GIF image without color table")
            if pos >= len(payload):
                raise DecoderUnavailable("truncated GIF image data")
            min_code_size = payload[pos]
            pos += 1
            if not 2 <= min_code_size <= 11:
                raise DecoderUnavailable(
                    f"bad GIF LZW min code size {min_code_size}"
                )
            data = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                n = payload[pos]
                data += payload[pos + 1 : pos + 1 + n]
                pos += 1 + n
            idx = np.frombuffer(
                _gif_lzw(bytes(data), min_code_size, w * h), dtype=np.uint8
            )
            if int(idx.max(initial=0)) * 3 + 2 >= len(palette):
                raise DecoderUnavailable("GIF index outside color table")
            pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
            img = pal[idx].reshape(h, w, 3)
            if (lflags >> 6) & 1:  # interlaced: 4-pass row shuffle
                order = np.concatenate(
                    [
                        np.arange(0, h, 8),
                        np.arange(4, h, 8),
                        np.arange(2, h, 4),
                        np.arange(1, h, 2),
                    ]
                )
                out = np.empty_like(img)
                out[order] = img
                img = out
            return np.ascontiguousarray(img)
        elif b == 0x3B:  # trailer
            break
        else:
            raise DecoderUnavailable(f"unknown GIF block 0x{b:02x}")
    raise DecoderUnavailable("GIF contains no image block")


def encode_gif(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → GIF89a bytes.  Palette = the image's unique
    colors (≤ 256 required); LZW stream uses the spec's clear-code-per-
    pixel degenerate form — valid GIF, zero compression, tiny encoder.
    Exists so decode_gif has a real round-trip partner in tests."""
    h, w, _ = img.shape
    flat = img.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("encode_gif supports <= 256 unique colors")
    cbits = max(2, int(len(colors) - 1).bit_length())
    psize = 1 << cbits
    pal = np.zeros((psize, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    header = (
        b"GIF89a"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0x80 | (cbits - 1), 0, 0])
        + pal.tobytes()
    )
    desc = (
        b"\x2c"
        + b"\x00\x00\x00\x00"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + b"\x00"
    )
    min_size = cbits
    clear = 1 << min_size
    eoi = clear + 1
    code_size = min_size + 1
    bits = bytearray()
    acc = 0
    nacc = 0

    def put(code: int):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += code_size
        while nacc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    for v in inverse.ravel():
        put(clear)  # reset before every pixel: code width never grows
        put(int(v))
    put(eoi)
    if nacc:
        bits.append(acc & 0xFF)
    sub = b"".join(
        bytes([len(bits[i : i + 255])]) + bytes(bits[i : i + 255])
        for i in range(0, len(bits), 255)
    )
    return header + desc + bytes([min_size]) + sub + b"\x00" + b"\x3b"


def decode_image(payload: bytes) -> np.ndarray:
    """Real decode: native BMP / binary netpbm / PNG (stdlib zlib) /
    GIF (pure-Python LZW) / TIFF (operators/tiff.py) / baseline JPEG
    (operators/jpeg.py) first; PIL fallback for other compressed
    formats when installed; DecoderUnavailable otherwise."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] in (b"P5", b"P6"):
        return decode_netpbm(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:2] == b"\xff\xd8":
        from inception_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from inception_spark.operators.vp8l import decode_webp

        return decode_webp(payload)[..., :3]  # lossless VP8L; VP8 refuses
    if payload[:4] == b"qoif":
        from inception_spark.operators.qoi import decode_qoi

        out = decode_qoi(payload)
        if out.shape[2] == 4:
            out = out[..., :3]
        return out
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from inception_spark.operators.tiff import decode_tiff

        return decode_tiff(payload)
    try:
        import io

        from PIL import Image  # import-gated

        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    except ImportError:
        raise DecoderUnavailable(
            "decode requires PIL — not installed; BMP, netpbm, PNG, "
            "GIF, TIFF, baseline JPEG and lossless WebP decode natively"
        )


def attach_media_meta(
    df: DataFrame, *, modality: str, mime: str | None = None,
    payload_col: str = "payload",
) -> DataFrame:
    """Wrap a binary column with the typed metadata struct."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(mime).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.col(payload_col)).cast("long").alias("n_bytes"),
        ),
    )


def _fake_feature(payload: bytes, dim: int) -> np.ndarray:
    # the shared deterministic contract — see encoding.seeded_unit_vector
    from inception_spark.operators.encoding import seeded_unit_vector

    return seeded_unit_vector(payload, dim)


def extract_features(
    df: DataFrame, *, dim: int = 64, fake: bool = True,
    id_col: str = "id", payload_col: str = "payload",
) -> DataFrame:
    """binary payload → feature vector (image-embedding analogue).

    ``mapInPandas`` so each Arrow batch is one decode loop with worker-
    level init; output schema (id, media_meta, feature) keeps metadata for
    downstream filtering.  ``fake=False`` decodes REAL pixels (native BMP,
    PIL when installed) and extracts :func:`image_features`; unsupported
    formats raise DecoderUnavailable."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("media_meta", MEDIA_META, True),
            T.StructField("feature", T.ArrayType(T.FloatType()), False),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fake:
                feats = [
                    _fake_feature(bytes(p), dim).tolist()
                    for p in pdf[payload_col]
                ]
            else:
                feats = [
                    image_features(decode_image(bytes(p)), dim).tolist()
                    for p in pdf[payload_col]
                ]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "media_meta": pdf["media_meta"],
                    "feature": feats,
                }
            )

    return df.mapInPandas(mapper, out_schema)


# ---------------------------------------------------------------------------
# Oracle-checkable corpus stats over synthesized binary payloads.
#
# The multimodal layer had exactly one driver-visible oracle entry
# (hamming64_dup_pairs) against ~2,900 LoC of codec code (r9 verdict
# ask 6).  These operators close that: each synthesizes a deterministic
# binary corpus worker-side (payload parameters are pure functions of
# doc_id, so an engine-independent SQL oracle can recompute every
# expected statistic from the documents table alone), then pushes the
# REAL bytes through the probe/decode paths — a header-parse or decode
# bug shows up as an oracle hash mismatch, driver-visibly.
# ---------------------------------------------------------------------------


def synth_bmp_corpus(
    df: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic per-document BMP payload: width = (id mod 13)+1,
    height = (id mod 7)+1, pixel (y, x, c) = (7x + 11y + 29c + id)
    mod 256 — (doc_id, payload).  Built under ``mapInPandas`` so the
    binary never transits the driver and synthesis parallelizes with
    the scan (the same worker-side discipline as the decode ops)."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for i in ids:
                w, h = int(i % 13) + 1, int(i % 7) + 1
                xx = np.arange(w, dtype=np.int64)[None, :, None]
                yy = np.arange(h, dtype=np.int64)[:, None, None]
                cc = np.arange(3, dtype=np.int64)[None, None, :]
                img = (
                    (7 * xx + 11 * yy + 29 * cc + int(i)) % 256
                ).astype(np.uint8)
                payloads.append(encode_bmp(img))
            yield pd.DataFrame(
                {"doc_id": ids.to_numpy(), "payload": payloads}
            )

    # fan the id-only projection out BEFORE the Python synthesis pass:
    # a single-file (one row group) documents scan otherwise runs the
    # whole per-record synthesis at effective parallelism 1 (the r12
    # MIME-cliff shape, guide §2.5); the shuffle moves ids only.
    return fanout(df.select(id_col)).mapInPandas(gen, out_schema)


def synth_wav_corpus(
    df: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic per-document 16-bit mono WAV payload: sample_rate
    = 8000·((id mod 3)+1), n_samples = 50·((id mod 11)+1), sample i a
    rational sawtooth ((i mod 41) − 20)/20 — integer-derived, NO
    transcendentals, so an engine-independent oracle can reproduce the
    encoder's exact int16 values (sin() would put libm last-ulp
    differences in front of a rounding boundary).  (doc_id, payload),
    worker-side like :func:`synth_bmp_corpus`."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for i in ids:
                rate = 8000 * (int(i % 3) + 1)
                n = 50 * (int(i % 11) + 1)
                ramp = ((np.arange(n, dtype=np.int64) % 41) - 20) / 20.0
                payloads.append(encode_wav(ramp, rate))
            yield pd.DataFrame(
                {"doc_id": ids.to_numpy(), "payload": payloads}
            )

    # fan the id-only projection out BEFORE the Python synthesis pass:
    # a single-file (one row group) documents scan otherwise runs the
    # whole per-record synthesis at effective parallelism 1 (the r12
    # MIME-cliff shape, guide §2.5); the shuffle moves ids only.
    return fanout(df.select(id_col)).mapInPandas(gen, out_schema)


def media_meta_partials(corpus: DataFrame) -> DataFrame:
    """Mergeable per-width partials for the LIVE image-metadata rollup:
    probe the binary headers JVM-side and reduce to (width, n_images,
    sum_height, sum_pixels, sum_bytes) — pure sums, so any regrouping
    of payloads into micro-batches re-merges exactly; state is
    distinct-width bounded (the streaming sketch-quartet discipline
    applied to the multimodal family)."""
    media = probe_bmp_dims(
        attach_media_meta(corpus, modality="image", mime="image/bmp")
    )
    return (
        media.groupBy(
            F.col("media_meta.width").cast("long").alias("width")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum("media_meta.height").cast("long").alias("sum_height"),
            F.sum(
                F.col("media_meta.width").cast("long")
                * F.col("media_meta.height").cast("long")
            )
            .cast("long")
            .alias("sum_pixels"),
            F.sum("media_meta.n_bytes").cast("long").alias("sum_bytes"),
        )
    )


def media_meta_from_partials(parts: DataFrame) -> DataFrame:
    """Re-merge (width, ...) count partials — identical output to
    :func:`media_meta_stats`, shared finalize for the streaming twin."""
    return parts.groupBy("width").agg(
        F.sum("n_images").cast("long").alias("n_images"),
        F.sum("sum_height").cast("long").alias("sum_height"),
        F.sum("sum_pixels").cast("long").alias("sum_pixels"),
        F.sum("sum_bytes").cast("long").alias("sum_bytes"),
    )


def media_meta_stats(docs: DataFrame) -> DataFrame:
    """Corpus-level image metadata rollup over REAL BMP bytes: synthesize
    the corpus, probe width/height JVM-SIDE from the binary headers
    (:func:`probe_bmp_dims` — never trusting the synthesis parameters),
    and aggregate per probed width: (width, n_images, sum_height,
    sum_pixels, sum_bytes).  The oracle recomputes every column from
    doc_id arithmetic plus the BMP spec's size formula
    (54 + h·ceil(3w/4)·4), so a header-layout or probe-parse bug
    hash-mismatches.  Plan: one mapInPandas synthesis pass, JVM probe
    projection, 13-key aggregate — no Python on the probe path.  Built
    on the shared partial/finalize pair so the streaming twin
    (``streaming_media_meta``) is ≡ by construction; the finalize
    re-merge costs one pass over ≤13 width keys."""
    return media_meta_from_partials(
        media_meta_partials(synth_bmp_corpus(docs))
    )


def wav_meta_stats(docs: DataFrame) -> DataFrame:
    """Corpus-level audio metadata rollup over REAL WAV bytes — the
    audio twin of :func:`media_meta_stats`: synthesize, probe
    sample-rate/duration JVM-SIDE from the RIFF headers
    (:func:`probe_wav_meta`), aggregate per probed rate:
    (sample_rate, n_clips, sum_duration_ms, sum_bytes).  Oracle =
    doc_id arithmetic + the canonical 44-byte-header size formula +
    the same integer duration rule the probe evaluates.  Built on the
    shared partial/finalize pair so the streaming twin
    (``streaming_wav_meta``) is ≡ by construction."""
    return wav_meta_from_partials(
        wav_meta_partials(synth_wav_corpus(docs))
    )


def wav_meta_partials(corpus: DataFrame) -> DataFrame:
    """Mergeable per-rate partials for the LIVE audio-metadata rollup —
    the WAV face of :func:`media_meta_partials`: JVM header probe, then
    (sample_rate, n_clips, sum_duration_ms, sum_bytes) pure sums;
    state is distinct-rate bounded."""
    media = probe_wav_meta(
        attach_media_meta(corpus, modality="audio", mime="audio/wav")
    )
    return (
        media.groupBy(
            F.col("media_meta.width").cast("long").alias("sample_rate")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.sum("media_meta.duration_ms")
            .cast("long")
            .alias("sum_duration_ms"),
            F.sum("media_meta.n_bytes").cast("long").alias("sum_bytes"),
        )
    )


def wav_meta_from_partials(parts: DataFrame) -> DataFrame:
    """Re-merge (sample_rate, ...) count partials — identical output to
    :func:`wav_meta_stats`, shared finalize for the streaming twin."""
    return parts.groupBy("sample_rate").agg(
        F.sum("n_clips").cast("long").alias("n_clips"),
        F.sum("sum_duration_ms").cast("long").alias("sum_duration_ms"),
        F.sum("sum_bytes").cast("long").alias("sum_bytes"),
    )


def audio_sample_stats(docs: DataFrame) -> DataFrame:
    """REAL audio decode round-trip, driver-visibly oracle-checked — the
    WAV twin of :func:`image_pixel_stats`: synthesize the ramp corpus,
    DECODE the 16-bit PCM back worker-side (:func:`decode_wav` under
    ``mapInPandas``), and aggregate the exact int16 sample sums per
    rate: (sample_rate, n_clips, sum_samples, sum_pcm_value).  The
    oracle regenerates every sample from the synthesis formula
    round(((i mod 41) − 20)/20 · 32767) over an explicit grid — a
    decode defect (byte order, channel layout, the /32768
    normalization) changes the sum and hash-mismatches.  The only
    rounding tie the ramp can produce is ±16383.5, where half-even
    (numpy) and half-away (DuckDB) agree — by construction, see
    :func:`synth_wav_corpus`."""
    corpus = synth_wav_corpus(docs)
    out_schema = T.StructType(
        [
            T.StructField("sample_rate", T.LongType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("pcm_sum", T.LongType(), False),
        ]
    )

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates, ns, sums = [], [], []
            for p in pdf["payload"]:
                x, rate = decode_wav(bytes(p))
                # decode divides by 32768 (a power of two — exact), so
                # multiplying back recovers the stored int16s exactly
                pcm = np.rint(x * 32768.0).astype(np.int64)
                rates.append(int(rate))
                ns.append(int(len(pcm)))
                sums.append(int(pcm.sum()))
            yield pd.DataFrame(
                {"sample_rate": rates, "n_samples": ns, "pcm_sum": sums}
            )

    return (
        corpus.mapInPandas(dec, out_schema)
        .groupBy("sample_rate")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.sum("n_samples").cast("long").alias("sum_samples"),
            F.sum("pcm_sum").cast("long").alias("sum_pcm_value"),
        )
    )


def synth_tiff_corpus(
    df: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic per-document strip TIFF payload: width =
    (id mod 11)+1, height = (id mod 6)+2, rows_per_strip=2 (every
    image is MULTI-strip so the strip walk is always exercised),
    pixel (y, x, c) = (5x + 13y + 31c + id) mod 256 — (doc_id,
    payload).  Worker-side synthesis, the synth_bmp_corpus
    discipline."""
    from inception_spark.operators.tiff import encode_tiff

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for i in ids:
                w, h = int(i % 11) + 1, int(i % 6) + 2
                xx = np.arange(w, dtype=np.int64)[None, :, None]
                yy = np.arange(h, dtype=np.int64)[:, None, None]
                cc = np.arange(3, dtype=np.int64)[None, None, :]
                img = (
                    (5 * xx + 13 * yy + 31 * cc + int(i)) % 256
                ).astype(np.uint8)
                payloads.append(encode_tiff(img, rows_per_strip=2))
            yield pd.DataFrame(
                {"doc_id": ids.to_numpy(), "payload": payloads}
            )

    # fan the id-only projection out BEFORE the Python synthesis pass:
    # a single-file (one row group) documents scan otherwise runs the
    # whole per-record synthesis at effective parallelism 1 (the r12
    # MIME-cliff shape, guide §2.5); the shuffle moves ids only.
    return fanout(df.select(id_col)).mapInPandas(gen, out_schema)


def tiff_pixel_stats(docs: DataFrame) -> DataFrame:
    """The image_pixel_stats protocol applied to the new TIFF codec
    (operators/tiff.py): synthesize multi-strip TIFF bytes, DECODE
    them back worker-side through the decode_image dispatch, and
    aggregate per-width pixel sums the oracle recomputes from the
    synthesis formula alone — a strip-walk, IFD-parse or row-order
    defect hash-mismatches driver-visibly."""
    corpus = synth_tiff_corpus(docs)
    out_schema = T.StructType(
        [
            T.StructField("width", T.LongType(), False),
            T.StructField("pixel_sum", T.LongType(), False),
        ]
    )

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, sums = [], []
            for p in pdf["payload"]:
                arr = decode_image(bytes(p))
                widths.append(int(arr.shape[1]))
                sums.append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame({"width": widths, "pixel_sum": sums})

    return (
        corpus.mapInPandas(dec, out_schema)
        .groupBy("width")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum("pixel_sum").cast("long").alias("sum_pixels_value"),
        )
    )


def tiff_pixel_partials(corpus: DataFrame) -> DataFrame:
    """Mergeable state for :func:`tiff_pixel_stats`: per-width
    (n_images, pixel_sum) counters from REAL decodes of one batch of
    TIFF payloads — pure sums, so any micro-batching re-merges to the
    batch aggregate exactly."""
    out_schema = T.StructType(
        [
            T.StructField("width", T.LongType(), False),
            T.StructField("pixel_sum", T.LongType(), False),
        ]
    )

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, sums = [], []
            for p in pdf["payload"]:
                arr = decode_image(bytes(p))
                widths.append(int(arr.shape[1]))
                sums.append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame({"width": widths, "pixel_sum": sums})

    return (
        corpus.mapInPandas(dec, out_schema)
        .groupBy("width")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum("pixel_sum").cast("long").alias("sum_pixels_value"),
        )
    )


def tiff_pixel_from_partials(parts: DataFrame) -> DataFrame:
    """Re-merge (possibly duplicated per width) partial counters."""
    return parts.groupBy("width").agg(
        F.sum("n_images").cast("long").alias("n_images"),
        F.sum("sum_pixels_value").cast("long").alias("sum_pixels_value"),
    )


def image_pixel_stats(docs: DataFrame) -> DataFrame:
    """REAL decode round-trip, driver-visibly oracle-checked: synthesize
    BMP bytes, DECODE them back to pixels worker-side
    (:func:`decode_image` under ``mapInPandas``), and aggregate the
    per-image pixel sums per width: (width, n_images, sum_pixels_value).
    The oracle recomputes the expected pixel sums from the synthesis
    formula over an explicit (x, y, c) grid — any decode defect
    (row order, BGR swizzle dropped, padding read as pixels)
    changes the sum and hash-mismatches."""
    corpus = synth_bmp_corpus(docs)
    out_schema = T.StructType(
        [
            T.StructField("width", T.LongType(), False),
            T.StructField("pixel_sum", T.LongType(), False),
        ]
    )

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, sums = [], []
            for p in pdf["payload"]:
                arr = decode_image(bytes(p))
                widths.append(int(arr.shape[1]))
                sums.append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame({"width": widths, "pixel_sum": sums})

    return (
        corpus.mapInPandas(dec, out_schema)
        .groupBy("width")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum("pixel_sum").cast("long").alias("sum_pixels_value"),
        )
    )


def sample_frames(
    df: DataFrame, *, every_ms: int = 1000, fake: bool = True,
    id_col: str = "id", payload_col: str = "payload",
) -> DataFrame:
    """video payload → one row per sampled frame (frame_number, frame
    payload).  Fake decoder derives a deterministic frame count from
    duration_ms (1 frame per ``every_ms``, ≥1) and slices payload bytes —
    the row-explosion shape is exactly what a real ffmpeg sampler emits."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("frame_number", T.IntegerType(), False),
            T.StructField("frame", T.BinaryType(), False),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise DecoderUnavailable("frame sampling requires ffmpeg")
            ids, nums, frames = [], [], []
            for _, row in pdf.iterrows():
                payload = bytes(row[payload_col])
                meta = row["media_meta"]
                dur = (meta.get("duration_ms") if isinstance(meta, dict)
                       else meta["duration_ms"]) or every_ms
                n = max(1, int(dur) // every_ms)
                step = max(1, len(payload) // n)
                for i in range(n):
                    ids.append(row[id_col])
                    nums.append(i + 1)
                    frames.append(payload[i * step : (i + 1) * step])
            yield pd.DataFrame(
                {"id": ids, "frame_number": nums, "frame": frames}
            )

    return df.mapInPandas(mapper, out_schema)


def resize_images(
    df: DataFrame, *, width: int, height: int, fake: bool = True,
    payload_col: str = "payload",
) -> DataFrame:
    """image payload → resized payload + updated metadata.

    ``fake=False`` is a REAL resize: decode (native BMP / PIL), nearest-
    neighbor index-map resample, re-encode as 24-bpp BMP.  Fake resize
    re-hashes the payload to a deterministic pseudo-image of the target
    size (w*h bytes, capped) so byte-size accounting stays testable for
    formats the environment can't decode."""

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf[payload_col]:
                if fake:
                    seed = hashlib.md5(bytes(p)).digest()
                    n = min(width * height, 4096)
                    out.append((seed * (n // len(seed) + 1))[:n])
                else:
                    out.append(
                        encode_bmp(
                            resize_nearest(
                                decode_image(bytes(p)), width, height
                            )
                        )
                    )
            pdf = pdf.copy()
            pdf[payload_col] = out
            meta = pd.json_normalize(pdf["media_meta"]).to_dict("records")
            for m, p in zip(meta, out):
                m["width"], m["height"], m["n_bytes"] = width, height, len(p)
            pdf["media_meta"] = meta
            yield pdf

    return df.mapInPandas(mapper, df.schema)


# ---------------------------------------------------------------------------
# native WAV codec — stdlib `wave`, real samples, zero dependencies
# ---------------------------------------------------------------------------
# The audio analogue of the BMP path: canonical 16-bit PCM WAV decodes,
# re-encodes, resamples and featurizes for real; compressed formats stay
# behind DecoderUnavailable (no ffmpeg in this container).


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV → (mono float64 samples in [-1, 1], sample_rate).  16-bit
    PCM via stdlib ``wave``; G.711 mu-law/A-law and mono IMA ADPCM via
    operators/g711.py (stdlib ``wave`` refuses non-PCM fmt tags — the
    telephony/speech-corpus formats PCM-only ingestion silently
    drops).  Stereo is averaged to mono."""
    import io
    import wave

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise DecoderUnavailable("not a WAV payload")
    try:
        with wave.open(io.BytesIO(payload)) as w:
            if w.getsampwidth() != 2:
                # 8/24/32-bit PCM widths go through the RIFF walk too
                raise wave.Error("non-16-bit width")
            rate = w.getframerate()
            ch = w.getnchannels()
            raw = w.readframes(w.getnframes())
    except wave.Error:
        # non-PCM fmt tags (G.711, IMA ADPCM) and non-16-bit PCM widths
        from inception_spark.operators.g711 import decode_wav_any

        x16, rate = decode_wav_any(payload)
        return x16.astype(np.float64) / 32768.0, rate
    x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    return x, rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """mono float samples in [-1, 1] → canonical 16-bit PCM WAV bytes."""
    import io
    import wave

    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm16 = (pcm * 32767.0).round().astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(int(rate))
        w.writeframes(pcm16.tobytes())
    return buf.getvalue()


def audio_features(samples: np.ndarray, rate: int, dim: int) -> np.ndarray:
    """Deterministic audio descriptor: [duration_s, rms, zero-crossing
    rate] + (dim-3) log-energy spectral bands from one rFFT."""
    if dim < 4:
        raise ValueError("dim must be >= 4")
    x = np.asarray(samples, dtype=np.float64)
    dur = len(x) / float(rate) if rate else 0.0
    rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
    zcr = (
        float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8)))))
        if len(x) > 1
        else 0.0
    )
    spec = np.abs(np.fft.rfft(x)) if len(x) else np.zeros(1)
    bands = np.array_split(spec, dim - 3)
    band_e = [float(np.log1p(np.sum(b * b))) for b in bands]
    return np.asarray([dur, rms, zcr] + band_e, dtype=np.float32)


def resample_audio_np(
    samples: np.ndarray, src_rate: int, dst_rate: int
) -> np.ndarray:
    """Linear-interpolation resample (deterministic; no scipy)."""
    if src_rate == dst_rate or len(samples) == 0:
        return np.asarray(samples, dtype=np.float64)
    n_out = max(1, int(round(len(samples) * dst_rate / src_rate)))
    src_t = np.arange(len(samples), dtype=np.float64) / src_rate
    dst_t = np.arange(n_out, dtype=np.float64) / dst_rate
    return np.interp(dst_t, src_t, np.asarray(samples, dtype=np.float64))


def probe_wav_meta(
    df: DataFrame, *, payload_col: str = "payload"
) -> DataFrame:
    """Fill media_meta.duration_ms (and width := sample_rate) by parsing
    the canonical WAV header JVM-SIDE — the audio analogue of
    probe_bmp_dims: metadata probing over 100 TB of blobs must not
    round-trip payloads through Python.  Assumes the canonical layout
    this module's encoder produces (fmt chunk at byte 13, data chunk at
    byte 37)."""

    def _le32(pos: int):  # 1-based substring position
        return _le_uint(payload_col, pos, 4)

    def _le16(pos: int):
        return _le_uint(payload_col, pos, 2)

    is_wav = (
        (F.substring(F.col(payload_col), 1, 4) == F.lit(b"RIFF"))
        & (F.substring(F.col(payload_col), 9, 4) == F.lit(b"WAVE"))
        & (F.substring(F.col(payload_col), 37, 4) == F.lit(b"data"))
    )
    rate = _le32(25)
    channels = _le16(23)
    bps = _le16(35)
    data_bytes = _le32(41)
    # a file can carry valid RIFF/WAVE/data magics with zeroed fmt fields;
    # under ANSI mode the division would throw, so gate on a positive
    # denominator and emit NULL duration for such degenerate headers
    byte_rate = rate * channels * bps
    dur_ms = F.when(
        byte_rate > 0,
        F.floor(data_bytes * F.lit(8000) / byte_rate).cast("long"),
    )
    return df.withColumn(
        "media_meta",
        F.struct(
            F.col("media_meta.modality").alias("modality"),
            F.col("media_meta.mime").alias("mime"),
            F.when(is_wav, rate.cast("int")).alias("width"),
            F.col("media_meta.height").alias("height"),
            F.when(is_wav, dur_ms).alias("duration_ms"),
            F.col("media_meta.n_bytes").alias("n_bytes"),
        ),
    )


def extract_audio_features(
    df: DataFrame, *, dim: int = 16, fake: bool = True,
    id_col: str = "id", payload_col: str = "payload",
) -> DataFrame:
    """binary WAV payload → audio feature vector.  Same mapInPandas
    batch shape as extract_features; ``fake=False`` decodes REAL samples
    (native 16-bit PCM WAV) and computes :func:`audio_features`."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("media_meta", MEDIA_META, True),
            T.StructField("feature", T.ArrayType(T.FloatType()), False),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fake:
                feats = [
                    _fake_feature(bytes(p), dim).tolist()
                    for p in pdf[payload_col]
                ]
            else:
                feats = [
                    audio_features(*decode_wav(bytes(p)), dim).tolist()
                    for p in pdf[payload_col]
                ]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "media_meta": pdf["media_meta"],
                    "feature": feats,
                }
            )

    return df.mapInPandas(mapper, out_schema)


def resample_audio(
    df: DataFrame, *, rate: int, fake: bool = True,
    id_col: str = "id", payload_col: str = "payload",
) -> DataFrame:
    """WAV payload → payload resampled to ``rate`` (re-encoded 16-bit PCM
    mono), metadata updated — the audio analogue of resize_images.  Fake
    mode passes bytes through untouched (plumbing-only environments)."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
            T.StructField("media_meta", MEDIA_META, True),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for p in pdf[payload_col]:
                if fake:
                    outs.append(bytes(p))
                else:
                    x, src = decode_wav(bytes(p))
                    outs.append(encode_wav(resample_audio_np(x, src, rate), rate))
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "payload": outs,
                    "media_meta": pdf["media_meta"],
                }
            )

    return df.mapInPandas(mapper, out_schema)


# ---------------------------------------------------------------------------
# container-metadata probes: MP4 boxes, MP3 frame headers (no decode)
# ---------------------------------------------------------------------------
# A training pipeline needs duration/dimensions/rate for filtering and
# budgeting long before (or instead of) decoding: these walk the
# CONTAINER structure only — stdlib struct parsing, no codec — so the
# "video/audio metadata" columns are real even though frame/sample
# decode honestly refuses without ffmpeg.

_MP3_BITRATES = {  # kbps, MPEG1 Layer III
    1: 32, 2: 40, 3: 48, 4: 56, 5: 64, 6: 80, 7: 96,
    8: 112, 9: 128, 10: 160, 11: 192, 12: 224, 13: 256, 14: 320,
}
_MP3_RATES = {0: 44100, 1: 48000, 2: 32000}


def probe_mp4_meta(payload: bytes) -> dict:
    """Walk the ISO-BMFF box tree: ftyp brand, mvhd timescale/duration,
    first video tkhd width/height.  Returns {} keys None when absent;
    raises DecoderUnavailable when the payload is not an MP4."""
    import struct as _s

    n = len(payload)
    if n < 16 or payload[4:8] != b"ftyp":
        raise DecoderUnavailable("mp4: missing ftyp box")
    out = {
        "brand": payload[8:12].decode("latin1"),
        "duration_ms": None,
        "width": None,
        "height": None,
        "n_tracks": 0,
    }

    def walk(lo: int, hi: int, depth: int = 0):
        pos = lo
        while pos + 8 <= hi:
            size = _s.unpack(">I", payload[pos:pos + 4])[0]
            tag = payload[pos + 4:pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                if body + 8 > hi:
                    break
                size = _s.unpack(">Q", payload[body:body + 8])[0]
                body += 8
            elif size == 0:
                size = hi - pos
            if size < 8 or pos + size > hi:
                break
            if tag == b"moov":
                walk(body, pos + size, depth + 1)
            elif tag == b"trak":
                out["n_tracks"] += 1
                walk(body, pos + size, depth + 1)
            elif tag == b"mvhd" and body + 4 <= hi:
                ver = payload[body]
                if ver == 1:
                    ts, dur = _s.unpack(
                        ">IQ", payload[body + 20:body + 32]
                    )
                else:
                    ts, dur = _s.unpack(
                        ">II", payload[body + 12:body + 20]
                    )
                if ts:
                    out["duration_ms"] = int(dur * 1000 // ts)
            elif tag == b"tkhd" and out["width"] is None:
                ver = payload[body]
                off = body + (88 if ver == 1 else 76)
                if off + 8 <= hi:
                    w16, h16 = _s.unpack(
                        ">II", payload[off:off + 8]
                    )
                    if w16 and h16:  # 16.16 fixed point
                        out["width"] = w16 >> 16
                        out["height"] = h16 >> 16
            pos += size

    walk(0, n)
    return out


def probe_mp3_meta(payload: bytes) -> dict:
    """Find the first MPEG-1 Layer III frame header (skipping any ID3v2
    tag), return bitrate/sample-rate and a CBR duration estimate.
    Raises DecoderUnavailable when no valid frame sync exists."""
    pos = 0
    n = len(payload)
    if payload[:3] == b"ID3" and n >= 10:
        sz = 0
        for b in payload[6:10]:  # syncsafe 28-bit
            sz = (sz << 7) | (b & 0x7F)
        pos = 10 + sz
    while pos + 4 <= n:
        b0, b1, b2, _b3 = payload[pos:pos + 4]
        if (
            b0 == 0xFF
            and (b1 & 0xE0) == 0xE0
            and (b1 & 0x18) == 0x18  # MPEG-1
            and (b1 & 0x06) == 0x02  # Layer III
        ):
            br_i = (b2 >> 4) & 0xF
            sr_i = (b2 >> 2) & 0x3
            if br_i in _MP3_BITRATES and sr_i in _MP3_RATES:
                kbps = _MP3_BITRATES[br_i]
                rate = _MP3_RATES[sr_i]
                audio = n - pos
                return {
                    "bitrate_kbps": kbps,
                    "sample_rate": rate,
                    "duration_ms": int(audio * 8 // kbps),
                    "frame_bytes": (144 * kbps * 1000 // rate)
                    + ((b2 >> 1) & 1),
                }
        pos += 1
    raise DecoderUnavailable("mp3: no MPEG-1 Layer III frame sync found")


def enrich_media_meta(
    df: DataFrame, *, payload_col: str = "payload"
) -> DataFrame:
    """Fill media_meta's width/height/duration_ms from the PAYLOAD via
    the native probes (image headers, MP4 boxes, MP3 frame headers,
    WAV) — mapInPandas, one pass, unknown formats keep their NULLs."""
    out_fields = [f for f in df.schema.fields]
    out_schema = T.StructType(out_fields)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for _, row in pdf.iterrows():
                m = row["media_meta"]
                meta = dict(m) if isinstance(m, dict) else m.asDict()
                p = bytes(row[payload_col])
                try:
                    if p[4:8] == b"ftyp":
                        m = probe_mp4_meta(p)
                        meta["duration_ms"] = m["duration_ms"]
                        meta["width"] = m["width"]
                        meta["height"] = m["height"]
                    elif p[:3] == b"ID3" or (
                        len(p) > 1 and p[0] == 0xFF and (p[1] & 0xE0) == 0xE0
                    ):
                        meta["duration_ms"] = probe_mp3_meta(p)[
                            "duration_ms"
                        ]
                    elif p[:4] == b"RIFF":
                        rate, n_samp, _ch = probe_wav_meta_py(p)
                        meta["duration_ms"] = int(n_samp * 1000 // rate)
                    else:
                        img = decode_image(p)
                        meta["height"], meta["width"] = (
                            int(img.shape[0]), int(img.shape[1])
                        )
                except DecoderUnavailable:
                    pass
                metas.append(meta)
            pdf = pdf.copy()
            pdf["media_meta"] = metas
            yield pdf

    return df.mapInPandas(mapper, out_schema)


def probe_wav_meta_py(payload: bytes) -> tuple[int, int, int]:
    """(sample_rate, n_samples, n_channels) from the RIFF/fmt headers —
    worker-side twin of the JVM probe."""
    import struct as _s

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise DecoderUnavailable("wav: not RIFF/WAVE")
    pos = 12
    rate = ch = bits = None
    data_len = None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        sz = _s.unpack("<I", payload[pos + 4:pos + 8])[0]
        if tag == b"fmt ":
            ch, rate = _s.unpack("<HI", payload[pos + 10:pos + 16])
            bits = _s.unpack("<H", payload[pos + 22:pos + 24])[0]
        elif tag == b"data":
            data_len = sz
        pos += 8 + sz + (sz & 1)
    if not rate or not ch or not bits or data_len is None:
        raise DecoderUnavailable("wav: missing fmt/data chunks")
    return rate, data_len // (ch * (bits // 8)), ch


# ---------------------------------------------------------------------------
# perceptual-hash image dedup: the multimodal member of the dedup family
# ---------------------------------------------------------------------------

def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash: integer-luma grayscale → 9×8 nearest
    thumbnail → row-major adjacent-column comparisons.  Every step is
    integer arithmetic, so the hash is bit-identical across platforms
    (no float resize, no library luma).  Returned as the two's-complement
    int64 so it stores in a Spark ``long``."""
    if img.ndim == 3:
        r = img[..., 0].astype(np.int64)
        g = img[..., 1].astype(np.int64)
        b = img[..., 2].astype(np.int64)
        gray = (299 * r + 587 * g + 114 * b) // 1000
    else:
        gray = img.astype(np.int64)
    thumb = resize_nearest(gray[..., None], 9, 8)[..., 0]
    bits = (thumb[:, 1:] > thumb[:, :-1]).ravel()  # 8 rows × 8 diffs
    acc = np.uint64(0)
    for i, bit in enumerate(bits):
        if bit:
            acc |= np.uint64(1) << np.uint64(i)
    return int(acc.astype(np.int64))


def phash_images(
    df: DataFrame, *, id_col: str = "id", payload_col: str = "payload"
) -> DataFrame:
    """→ (id, phash): 64-bit dHash per image via one ``mapInPandas``
    decode pass (native BMP/netpbm/PNG/GIF/baseline-JPEG codecs; other
    formats raise DecoderUnavailable like every decode path here).

    The hash computation is the ONLY Python step in the image-dedup
    pipeline — everything downstream (banding, blocking, verification)
    is relational, same discipline as text SimHash."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("phash", T.LongType(), False),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "phash": [
                        dhash64(decode_image(bytes(p)))
                        for p in pdf[payload_col]
                    ],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(mapper, out_schema)


def hamming64_dup_pairs(
    hashes: DataFrame,
    *,
    hash_col: str,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    id_col: str = "id",
    observation=None,
) -> DataFrame:
    """Shared banded-Hamming blocking over any 64-bit fingerprint column:
    4×16-bit band keys → bucket-capped equi self-join → exact
    ``bit_count(xor) ≤ max_hamming`` verify.  The text-SimHash recipe
    (``dedup.simhash_dup_pairs``) as a reusable primitive, so every
    modality's near-dup detector (image dHash, audio spectral prints)
    scales the same way: the only quadratic term is within band buckets.

    Pigeonhole over 4 bands guarantees recall for hamming ≤ 3; larger
    radii warn (heuristic recall).  → (id_a, id_b, hamming).

    ``observation``: optional ``pyspark.sql.Observation`` — records
    ``rows_in_dropped_buckets`` (band rows discarded by the bucket cap)
    and ``band_rows`` (total band rows), the same observed-drop contract
    as the text ancestors (``dedup.simhash_dup_pairs``), so a 100 TB run
    can see what the cap cost instead of a silent filter.  Caveat shared
    with that ancestor: if the final pair set is EMPTY Spark may prune
    the whole subtree (empty-relation propagation) and the Observation
    never materializes — read it only after a non-empty action, or
    attach the observation to a count over the band table instead."""
    if max_hamming > 3:
        import warnings

        warnings.warn(
            f"hamming64_dup_pairs(max_hamming={max_hamming}): 4-band "
            "blocking only guarantees recall for hamming <= 3; pairs with "
            "more differing bits spread across all bands will be missed",
            stacklevel=3,
        )
    from pyspark.sql import Window

    bands = hashes.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("_h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col(hash_col), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "_h", "bk.band", "bk.key")
    bw = Window.partitionBy("band", "key")
    bands = bands.withColumn("_bn", F.count(F.lit(1)).over(bw))
    # Lazy checkpoint UNCONDITIONALLY (the simhash_dup_pairs contract):
    # the band table feeds both self-join sides and AQE's broadcast
    # conversion defeats ReusedExchange, so without the cut the whole
    # upstream fingerprint pipeline — the DECODE pass for image/audio
    # callers — evaluates twice (plan-pinned by
    # test_image_phash_dedup_plan_shape).  Checkpoint BEFORE observe:
    # materialization bypasses CollectMetrics, and a duplicated metrics
    # node would collect twice and fail Observation.get.
    bands = bands.localCheckpoint(eager=False)
    if observation is not None:
        bands = bands.observe(
            observation,
            F.sum(
                F.when(F.col("_bn") > max_bucket, 1).otherwise(0)
            ).alias("rows_in_dropped_buckets"),
            F.count(F.lit(1)).alias("band_rows"),
        )
    bands = bands.filter(F.col("_bn") <= max_bucket).drop("_bn")
    a = bands.select(
        F.col("band"), F.col("key"),
        F.col("id").alias("id_a"), F.col("_h").alias("h_a"),
    )
    b = bands.select(
        F.col("band"), F.col("key"),
        F.col("id").alias("id_b"), F.col("_h").alias("h_b"),
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def image_dup_pairs(
    df: DataFrame,
    *,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    id_col: str = "id",
    payload_col: str = "payload",
) -> DataFrame:
    """Near-duplicate image pairs: block on the 4 sixteen-bit bands of
    the 64-bit dHash, verify with exact ``bit_count(xor) ≤ max_hamming``
    — the text SimHash recipe (``dedup.simhash_dup_pairs``) applied to
    pixels, so image dedup scales exactly like text dedup: the only
    quadratic term is within band buckets, and ``max_bucket`` drops
    pathological buckets (solid-color thumbnails are the image analogue
    of boilerplate) before the self-join.

    Pigeonhole over 4 bands guarantees recall for hamming ≤ 3; larger
    ``max_hamming`` is heuristic recall (same warning contract as
    SimHash).  → (id_a, id_b, hamming)."""
    ph = phash_images(df, id_col=id_col, payload_col=payload_col)
    return hamming64_dup_pairs(
        ph, hash_col="phash", max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def phash_codeword(cls: int) -> int:
    """The dHash value :func:`synth_phash_corpus` class ``cls`` realizes:
    byte ``cls`` repeated in all 8 row-bytes (``cls * 0x0101010101010101``
    as the two's-complement int64).  Distinct classes differ in at least
    one bit per byte, so pairwise Hamming distance is ≥ 8 — cross-class
    pairs can never pass a ``max_hamming ≤ 3`` verify, by construction
    rather than by measurement."""
    word = (cls & 0xFF) * 0x0101010101010101
    return int(np.uint64(word).astype(np.int64))


def synth_phash_corpus(
    df: DataFrame, *, id_col: str = "doc_id", n_classes: int = 64
) -> DataFrame:
    """Deterministic per-document 9×8 grayscale BMP engineered so its
    64-bit dHash is a CLOSED-FORM function of the id — the image corpus
    that makes perceptual-hash dedup oracle-checkable end-to-end.

    Construction: class ``c = id mod n_classes`` picks the 8-bit
    codeword; row ``y`` starts at luma ``100 + δ`` and walks the 8
    column steps of the dHash grid, stepping +1 where bit ``x`` of
    ``c`` is set and −1 where clear, so dHash bit ``8y + x`` equals
    codeword bit ``x`` exactly and the full hash is
    :func:`phash_codeword`.  ``δ = (id // n_classes) mod 100`` is a
    per-document global brightness shift: all three channels move by
    exactly δ, the integer luma ``(299r+587g+114b)//1000`` moves by
    exactly δ (the weights sum to 1000 and values stay in [92, 207] —
    no clipping, no wraparound), and every adjacent-column comparison
    is unchanged — so same-class documents are EXACT perceptual
    duplicates (Hamming 0) despite byte-distinct payloads.  The 9×8
    canvas matches the dHash thumbnail so ``resize_nearest`` is the
    identity map and no resampling blurs the engineered gradients.

    → (doc_id, payload); built under ``mapInPandas`` like
    :func:`synth_bmp_corpus` so payload bytes never transit the driver."""
    if not 2 <= n_classes <= 256:
        raise ValueError("n_classes must be in [2, 256]")
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for i in ids:
                c = int(i) % n_classes
                delta = (int(i) // n_classes) % 100
                v = np.empty((8, 9), dtype=np.int64)
                v[:, 0] = 100 + delta
                for x in range(8):
                    step = 1 if (c >> x) & 1 else -1
                    v[:, x + 1] = v[:, x] + step
                img = np.repeat(
                    v.astype(np.uint8)[..., None], 3, axis=2
                )
                payloads.append(encode_bmp(img))
            yield pd.DataFrame(
                {"doc_id": ids.to_numpy(), "payload": payloads}
            )

    # fan the id-only projection out BEFORE the Python synthesis pass:
    # a single-file (one row group) documents scan otherwise runs the
    # whole per-record synthesis at effective parallelism 1 (the r12
    # MIME-cliff shape, guide §2.5); the shuffle moves ids only.
    return fanout(df.select(id_col)).mapInPandas(gen, out_schema)


def image_phash_dedup_stats(
    docs: DataFrame, *, n_classes: int = 64
) -> DataFrame:
    """The full perceptual-hash image-dedup path, driver-visibly
    oracle-checked: synthesize the engineered corpus
    (:func:`synth_phash_corpus`), run the REAL pipeline — BMP decode →
    :func:`dhash64` under ``mapInPandas`` → 4×16-bit band blocking →
    bucket-capped equi self-join → exact ``bit_count(xor)`` verify
    (:func:`image_dup_pairs`, the same code path a real corpus takes) —
    and roll the surviving pairs up per class:
    (phash_class, n_pairs, sum_hamming).

    The oracle recomputes all three columns from id arithmetic alone:
    within a class every pair is an exact perceptual duplicate
    (``n_pairs = n·(n−1)/2``, ``sum_hamming = 0``) and cross-class
    Hamming is ≥ 8 by codeword construction, so ANY defect — decode
    swizzle, luma rounding, band-key extraction, a lost or phantom
    pair, brightness sensitivity — changes a count and hash-mismatches.

    Scale shape: one synthesis pass, one decode/hash pass (the only
    Python), then the relational SimHash recipe — band self-join
    bucket-capped at 1000, never all-pairs.  Class populations are
    n/n_classes, so at 100 TB the cap is governed by ``n_classes``
    exactly as text-SimHash buckets are governed by band width."""
    pairs = image_dup_pairs(
        synth_phash_corpus(docs, n_classes=n_classes),
        max_hamming=3,
        id_col="doc_id",
    )
    return (
        pairs.groupBy(
            (F.col("id_a") % n_classes).cast("long").alias("phash_class")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("hamming").cast("long").alias("sum_hamming"),
        )
    )


def image_phash_partials(corpus: DataFrame) -> DataFrame:
    """Mergeable per-fingerprint counts for the LIVE perceptual-hash
    rollup: decode + dHash each image once (the only Python), reduce to
    (phash, n_images) — pure sums, so any micro-batch regrouping
    re-merges exactly; state is distinct-fingerprint bounded."""
    ph = phash_images(corpus, id_col="doc_id")
    return ph.groupBy("phash").agg(
        F.count(F.lit(1)).cast("long").alias("n_images")
    )


def image_phash_from_partials(parts: DataFrame) -> DataFrame:
    """Finalize: the engineered corpus realizes
    ``phash = class · 0x0101010101010101``, so the class is the low
    byte of the hash — extracted RELATIONALLY (no Python) and
    re-summed: (phash_class, n_images)."""
    return (
        parts.groupBy(
            F.col("phash").bitwiseAND(F.lit(255)).cast("long")
            .alias("phash_class")
        )
        .agg(F.sum("n_images").cast("long").alias("n_images"))
    )


def afp_codeword(cls: int) -> int:
    """The spectral fingerprint :func:`synth_afp_corpus` class ``cls``
    realizes: band nibble ``cls`` in all 16 frame slots
    (``cls * 0x1111...``) as the two's-complement int64.  Distinct
    classes differ in ≥ 1 bit per nibble × 16 frames → pairwise
    Hamming ≥ 16, so cross-class pairs can never pass a
    ``max_hamming ≤ 3`` verify."""
    word = (cls & 0xF) * 0x1111111111111111
    return int(np.uint64(word).astype(np.int64))


def synth_afp_corpus(
    df: DataFrame, *, id_col: str = "doc_id", n_classes: int = 16
) -> DataFrame:
    """Deterministic per-document 1 s / 8 kHz WAV engineered so its
    spectral fingerprint is a CLOSED-FORM function of the id — the
    audio twin of :func:`synth_phash_corpus`.

    Construction: class ``b = id mod n_classes`` picks the dominant
    band; every 500-sample frame carries a pure sine at the rfft bin
    centered in band ``b`` (integer cycles per frame → the peak lands
    exactly on that bin), so all 16 frame nibbles read ``b`` and the
    fingerprint is :func:`afp_codeword`.  Per-document amplitude
    ``0.3 + 0.05·((id // n_classes) mod 10)`` is the brightness-shift
    analogue: scaling never moves an argmax (the signal bin carries
    ~10⁵× the int16 quantization noise floor), so same-class clips are
    EXACT fingerprint duplicates despite byte-distinct payloads.  The
    clip is synthesized AT the canonical 8 kHz so the resample step is
    the identity and no interpolation blurs the engineered spectrum.

    → (doc_id, payload); worker-side like :func:`synth_wav_corpus`."""
    if not 2 <= n_classes <= 16:
        raise ValueError("n_classes must be in [2, 16] (4-bit bands)")
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = np.arange(500, dtype=np.float64) / 500.0
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for i in ids:
                b = int(i) % n_classes
                amp = 0.3 + 0.05 * ((int(i) // n_classes) % 10)
                # 0-based index into spec[1:] at the center of band b,
                # +1 back to the rfft bin = cycles per frame
                k = (250 * b + 125) // 16 + 1
                frame = amp * np.sin(2 * np.pi * k * t)
                payloads.append(encode_wav(np.tile(frame, 16), 8000))
            yield pd.DataFrame(
                {"doc_id": ids.to_numpy(), "payload": payloads}
            )

    # fan the id-only projection out BEFORE the Python synthesis pass:
    # a single-file (one row group) documents scan otherwise runs the
    # whole per-record synthesis at effective parallelism 1 (the r12
    # MIME-cliff shape, guide §2.5); the shuffle moves ids only.
    return fanout(df.select(id_col)).mapInPandas(gen, out_schema)


def audio_afp_dedup_stats(
    docs: DataFrame, *, n_classes: int = 16
) -> DataFrame:
    """The full audio-fingerprint dedup path, driver-visibly
    oracle-checked — the audio twin of :func:`image_phash_dedup_stats`:
    synthesize the engineered corpus, run the REAL pipeline (WAV decode
    → :func:`afp64` FFT fingerprint under ``mapInPandas`` → banded
    Hamming blocking → exact verify) and roll surviving pairs up per
    class: (afp_class, n_pairs, sum_hamming).  The oracle recomputes
    all three from id arithmetic (within-class pairs are exact
    duplicates, cross-class Hamming ≥ 16 by codeword construction).

    Scale shape: one synthesis pass, one decode/FFT pass (the only
    Python), then the shared relational blocking — never all-pairs."""
    pairs = audio_dup_pairs(
        synth_afp_corpus(docs, n_classes=n_classes),
        max_hamming=3,
        id_col="doc_id",
    )
    return (
        pairs.groupBy(
            (F.col("id_a") % n_classes).cast("long").alias("afp_class")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("hamming").cast("long").alias("sum_hamming"),
        )
    )


def afp64(samples: np.ndarray, rate: int) -> int:
    """64-bit audio spectral fingerprint: resample to a canonical 8 kHz
    (so the print is rate-invariant), split into 16 equal frames, and
    record each frame's dominant-frequency band quantized to 4 bits
    (16 log-ish bands over 0–4 kHz) — a miniature Shazam-style
    constellation collapsed to one word.  Amplitude scaling never moves
    an argmax, so volume-normalized re-encodes fingerprint identically;
    mild edits move few frames → small Hamming distance."""
    x = resample_audio_np(
        np.asarray(samples, dtype=np.float64), int(rate), 8000
    )
    if len(x) < 16:
        x = np.pad(x, (0, 16 - len(x)))
    acc = np.uint64(0)
    frames = np.array_split(x, 16)
    for fi, fr in enumerate(frames):
        spec = np.abs(np.fft.rfft(fr))
        if len(spec) > 1:
            spec = spec[1:]  # drop DC: silence/offset should not vote
        peak = int(np.argmax(spec))
        # quantize peak position to 4 bits of its frame's band space
        band = peak * 16 // max(1, len(spec))
        acc |= np.uint64(band & 0xF) << np.uint64(4 * fi)
    return int(acc.astype(np.int64))


def fingerprint_audio(
    df: DataFrame, *, id_col: str = "id", payload_col: str = "payload"
) -> DataFrame:
    """→ (id, afp): 64-bit spectral fingerprint per clip via one
    ``mapInPandas`` decode pass (native 16-bit PCM WAV codec; other
    formats raise DecoderUnavailable).  Python touches each payload
    once; everything downstream is relational."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("afp", T.LongType(), False),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            prints = []
            for p in pdf[payload_col]:
                samples, rate = decode_wav(bytes(p))
                prints.append(afp64(samples, rate))
            yield pd.DataFrame(
                {"id": pdf[id_col].astype("int64"), "afp": prints}
            )

    return df.select(id_col, payload_col).mapInPandas(mapper, out_schema)


def audio_dup_pairs(
    df: DataFrame,
    *,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    id_col: str = "id",
    payload_col: str = "payload",
) -> DataFrame:
    """Near-duplicate audio pairs — :func:`fingerprint_audio` feeding the
    shared :func:`hamming64_dup_pairs` blocking, so audio dedup scales
    exactly like image and text dedup.  → (id_a, id_b, hamming)."""
    fp = fingerprint_audio(df, id_col=id_col, payload_col=payload_col)
    return hamming64_dup_pairs(
        fp, hash_col="afp", max_hamming=max_hamming, max_bucket=max_bucket
    )


def synth_g711_corpus(df: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-document G.711 WAV payload: docs alternate
    mu-law / A-law by parity, n = 40·((id mod 5)+1) code bytes with
    code i = (3·i + id) mod 256, rate 8000 — (doc_id, law, payload).
    Worker-side synthesis, the synth_bmp_corpus discipline."""
    from inception_spark.operators.g711 import encode_g711_wav

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("law", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            laws, payloads = [], []
            for i in ids:
                n = 40 * (int(i) % 5 + 1)
                codes = ((3 * np.arange(n, dtype=np.int64) + int(i))
                         % 256).astype(np.uint8)
                law = "ulaw" if int(i) % 2 == 0 else "alaw"
                laws.append(law)
                payloads.append(encode_g711_wav(codes, 8000, law=law))
            yield pd.DataFrame(
                {"doc_id": ids.to_numpy(), "law": laws,
                 "payload": payloads}
            )

    # fan the id-only projection out BEFORE the Python synthesis pass:
    # a single-file (one row group) documents scan otherwise runs the
    # whole per-record synthesis at effective parallelism 1 (the r12
    # MIME-cliff shape, guide §2.5); the shuffle moves ids only.
    return fanout(df.select(id_col)).mapInPandas(gen, out_schema)


def g711_audio_stats(docs: DataFrame) -> DataFrame:
    """REAL G.711 decode round-trip, driver-visibly oracle-checked:
    synthesize mu-law/A-law WAV containers, decode them back to linear
    int16 worker-side (the full RIFF walk + expander path), and
    aggregate per law: (law, n_clips, n_samples, sum_linear).  The
    oracle replays the G.711 expansion formulas in pure SQL integer
    arithmetic over the synthesis grid — a companding-table or
    container-parse defect hash-mismatches."""
    corpus = synth_g711_corpus(docs)
    out_schema = T.StructType(
        [
            T.StructField("law", T.StringType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("lin_sum", T.LongType(), False),
        ]
    )

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            laws, ns, sums = [], [], []
            for law, p in zip(pdf["law"], pdf["payload"]):
                x, rate = decode_wav(bytes(p))
                assert rate == 8000
                lin16 = np.round(x * 32768.0).astype(np.int64)
                laws.append(law)
                ns.append(int(x.size))
                sums.append(int(lin16.sum()))
            yield pd.DataFrame(
                {"law": laws, "n_samples": ns, "lin_sum": sums}
            )

    return (
        corpus.mapInPandas(dec, out_schema)
        .groupBy("law")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.sum("n_samples").cast("long").alias("sum_samples"),
            F.sum("lin_sum").cast("long").alias("sum_linear"),
        )
    )


def g711_partials(corpus: DataFrame) -> DataFrame:
    """Mergeable state for :func:`g711_audio_stats`: per-law
    (n_clips, sum_samples, sum_linear) counters from REAL decodes of
    one batch — pure sums, any micro-batching re-merges exactly."""
    out_schema = T.StructType(
        [
            T.StructField("law", T.StringType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("lin_sum", T.LongType(), False),
        ]
    )

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            laws, ns, sums = [], [], []
            for law, p in zip(pdf["law"], pdf["payload"]):
                x, _rate = decode_wav(bytes(p))
                lin16 = np.round(x * 32768.0).astype(np.int64)
                laws.append(law)
                ns.append(int(x.size))
                sums.append(int(lin16.sum()))
            yield pd.DataFrame(
                {"law": laws, "n_samples": ns, "lin_sum": sums}
            )

    return (
        corpus.mapInPandas(dec, out_schema)
        .groupBy("law")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.sum("n_samples").cast("long").alias("sum_samples"),
            F.sum("lin_sum").cast("long").alias("sum_linear"),
        )
    )


def g711_from_partials(parts: DataFrame) -> DataFrame:
    """Re-merge (possibly duplicated per law) partial counters."""
    return parts.groupBy("law").agg(
        F.sum("n_clips").cast("long").alias("n_clips"),
        F.sum("sum_samples").cast("long").alias("sum_samples"),
        F.sum("sum_linear").cast("long").alias("sum_linear"),
    )
