"""Bounded, typed decompression for the ingest sources.

One entry point, :func:`decompress`, over the codecs pyarrow bundles in
C — zstd, LZ4 frame, Brotli and Snappy block — plus zstd with a shared
dictionary through ``libzstd.so.1`` (pyarrow has no dictionary API).

Every failure — truncation, trailing junk, corrupt bytes, an empty
payload, output past ``max_output`` — raises :class:`CodecError`, so a
reader maps exactly one exception type to its own format error
(strict) or to a quarantine (lenient).  ``max_output`` bounds the
decoded bytes of one call, which is what keeps decode memory bounded
per record.
"""

from __future__ import annotations

import ctypes
import functools

import pyarrow as pa

_STREAM_CODECS = ("zstd", "lz4", "brotli")
_READ_STEP = 1 << 20

# A snappy element emits at most 64 bytes from 3 input bytes (a 2-byte
# offset copy), so a declared length past 22x the input is forged.
_SNAPPY_MAX_RATIO = 22


class CodecError(ValueError):
    """Corrupt, truncated, empty or oversized compressed input."""


def decompress(
    data: bytes,
    codec: str,
    *,
    max_output: int = 1 << 31,
    dictionary: bytes | None = None,
) -> bytes:
    """Decode ``data`` compressed with ``codec`` (``"zstd"``, ``"lz4"``
    frame, ``"brotli"`` or ``"snappy"`` block) into at most
    ``max_output`` bytes.  Concatenated frames and leading zstd
    skippable frames decode as one payload.  ``dictionary`` (zstd only)
    is a raw or trained zstd dictionary."""
    if not data:
        raise CodecError(f"empty {codec} payload")
    if dictionary is not None:
        if codec != "zstd":
            raise ValueError(f"dictionaries are zstd-only, not {codec!r}")
        return _zstd_with_dict(data, dictionary, max_output)
    if codec == "snappy":
        return _snappy(data, max_output)
    if codec not in _STREAM_CODECS:
        raise ValueError(f"unsupported codec {codec!r}")
    # Read in bounded steps: one read(max_output + 1) reserves that much
    # address space per call, and failed decodes leave it behind.
    out = bytearray()
    try:
        stream = pa.CompressedInputStream(pa.BufferReader(data), codec)
        while step := stream.read(_READ_STEP):
            out += step
            if len(out) > max_output:
                raise CodecError(
                    f"{codec} output exceeds max_output={max_output}"
                )
    except (OSError, pa.ArrowException) as exc:
        raise CodecError(f"corrupt {codec} payload: {exc}") from exc
    return bytes(out)


def _snappy(data: bytes, max_output: int) -> bytes:
    # pyarrow has no streaming snappy decoder, and its one-shot decoder
    # needs the EXACT decoded size: read it from the varint preamble.
    size = shift = 0
    for b in data[:5]:
        size |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
    else:
        raise CodecError("truncated or overlong snappy length preamble")
    if size > max_output or size > _SNAPPY_MAX_RATIO * len(data):
        raise CodecError(f"snappy preamble declares {size} bytes")
    try:
        return pa.decompress(
            data, decompressed_size=size, codec="snappy", asbytes=True
        )
    except (OSError, pa.ArrowException) as exc:
        raise CodecError(f"corrupt snappy payload: {exc}") from exc


class _Buffer(ctypes.Structure):
    # ZSTD_inBuffer and ZSTD_outBuffer share this layout
    _fields_ = [
        ("ptr", ctypes.c_void_p),
        ("size", ctypes.c_size_t),
        ("pos", ctypes.c_size_t),
    ]


@functools.cache
def _libzstd():
    """Process-cached ``libzstd.so.1`` handle, or None where absent."""
    try:
        z = ctypes.CDLL("libzstd.so.1")
    except OSError:
        return None
    z.ZSTD_compressBound.restype = ctypes.c_size_t
    z.ZSTD_compressBound.argtypes = [ctypes.c_size_t]
    z.ZSTD_isError.restype = ctypes.c_uint
    z.ZSTD_isError.argtypes = [ctypes.c_size_t]
    z.ZSTD_getErrorName.restype = ctypes.c_char_p
    z.ZSTD_getErrorName.argtypes = [ctypes.c_size_t]
    z.ZSTD_DStreamOutSize.restype = ctypes.c_size_t
    z.ZSTD_DStreamOutSize.argtypes = []
    z.ZSTD_createDCtx.restype = ctypes.c_void_p
    z.ZSTD_createDCtx.argtypes = []
    z.ZSTD_freeDCtx.restype = ctypes.c_size_t
    z.ZSTD_freeDCtx.argtypes = [ctypes.c_void_p]
    z.ZSTD_DCtx_loadDictionary.restype = ctypes.c_size_t
    z.ZSTD_DCtx_loadDictionary.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
    ]
    z.ZSTD_decompressStream.restype = ctypes.c_size_t
    z.ZSTD_decompressStream.argtypes = [
        ctypes.c_void_p, ctypes.POINTER(_Buffer), ctypes.POINTER(_Buffer),
    ]
    return z


def _zstd_with_dict(data: bytes, dictionary: bytes, max_output: int) -> bytes:
    """Streaming dictionary decode, so frames without a declared content
    size decode too and the cap is checked after every output chunk."""
    z = _libzstd()
    if z is None:
        raise CodecError("zstd dictionary frames need libzstd.so.1")

    def check(ret: int) -> int:
        if z.ZSTD_isError(ret):
            name = z.ZSTD_getErrorName(ret).decode()
            raise CodecError(f"corrupt zstd payload: {name}")
        return ret

    dctx = z.ZSTD_createDCtx()
    try:
        check(z.ZSTD_DCtx_loadDictionary(dctx, dictionary, len(dictionary)))
        src = ctypes.create_string_buffer(data, len(data))
        inb = _Buffer(ctypes.addressof(src), len(data), 0)
        step = z.ZSTD_DStreamOutSize()
        chunk = ctypes.create_string_buffer(step)
        out = bytearray()
        while True:
            outb = _Buffer(ctypes.addressof(chunk), step, 0)
            pending = check(z.ZSTD_decompressStream(dctx, outb, inb))
            out += ctypes.string_at(chunk, outb.pos)
            if len(out) > max_output:
                raise CodecError(
                    f"zstd output exceeds max_output={max_output}"
                )
            if inb.pos == inb.size and (not pending or outb.pos < step):
                break  # input consumed and nothing left to flush
        if pending:
            raise CodecError("truncated zstd frame")
        return bytes(out)
    finally:
        z.ZSTD_freeDCtx(dctx)
