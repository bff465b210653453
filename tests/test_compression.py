"""Bounded, typed decompression (``inception_spark.sources.compression``),
one table over every codec: round trips, every truncation, seeded bit
flips, empty input, the ``max_output`` cap, forged snappy preambles,
and zstd dictionary frames with and without a declared content size.

The contract every reader relies on: a decode returns the original
bytes or raises :class:`CodecError` — never an untyped ``OSError`` /
``ArrowException``, never more than ``max_output`` bytes."""

import ctypes
import random
import struct

import pyarrow as pa
import pytest

from inception_spark.sources import compression
from inception_spark.sources.compression import CodecError, decompress

CODECS = ["zstd", "lz4", "brotli", "snappy"]
_LEVELS = {"zstd": 3, "brotli": 5}

SRC = b"".join(b"line %d with shared prefix material\n" % i for i in range(300))


def _compress(codec: str, raw: bytes) -> bytes:
    return pa.Codec(codec, compression_level=_LEVELS.get(codec)).compress(
        raw, asbytes=True
    )


def _flip(data: bytes, i: int, bit: int) -> bytes:
    return data[:i] + bytes([data[i] ^ bit]) + data[i + 1 :]


@pytest.mark.parametrize("codec", CODECS)
@pytest.mark.parametrize(
    "raw",
    [b"", b"x", SRC, bytes(range(256)) * 64, random.Random(3).randbytes(5000)],
    ids=["empty", "one-byte", "text", "binary", "incompressible"],
)
def test_round_trip(codec, raw):
    assert decompress(_compress(codec, raw), codec) == raw


@pytest.mark.parametrize("codec", CODECS)
def test_every_truncation_decodes_or_raises_typed(codec):
    frame = _compress(codec, SRC)
    for cut in range(len(frame)):
        try:
            got = decompress(frame[:cut], codec)
        except CodecError:
            continue
        assert got == SRC, f"cut {cut} decoded to different bytes"


@pytest.mark.parametrize("codec", CODECS)
def test_bit_flips_decode_or_raise_typed(codec):
    """200 seeded single-bit flips: the decode returns bytes or raises
    CodecError, and stays under the cap.  These frames carry no content
    checksum, so a flip inside a literal run can decode to different
    bytes of the same length; what must never happen is an untyped
    exception escaping to a reader."""
    frame = _compress(codec, SRC)
    rng = random.Random(1234)
    for _ in range(200):
        i, bit = rng.randrange(len(frame)), 1 << rng.randrange(8)
        try:
            got = decompress(_flip(frame, i, bit), codec, max_output=1 << 22)
        except CodecError:
            continue
        assert isinstance(got, bytes) and len(got) <= 1 << 22


@pytest.mark.parametrize("codec", CODECS)
def test_empty_and_garbage_input_raise_typed(codec):
    with pytest.raises(CodecError, match="empty"):
        decompress(b"", codec)
    with pytest.raises(CodecError):
        decompress(b"\xff" * 64, codec)


@pytest.mark.parametrize("codec", ["zstd", "lz4", "brotli"])
def test_trailing_junk_raises(codec):
    with pytest.raises(CodecError):
        decompress(_compress(codec, SRC) + b"junk", codec)


@pytest.mark.parametrize("codec", CODECS)
def test_output_cap(codec):
    cap = 1 << 20
    with pytest.raises(CodecError):
        decompress(_compress(codec, bytes(64 << 20)), codec, max_output=cap)
    exact = decompress(_compress(codec, bytes(cap)), codec, max_output=cap)
    assert exact == bytes(cap)


def test_failed_decodes_leave_no_address_space_behind():
    """A corrupt record must cost nothing once its decode has failed.
    A single read(max_output + 1) reserves 2 GiB of address space per
    call and a failed read leaves it mapped, so a worker that met a
    few thousand corrupt records could no longer fork."""
    import os
    import re

    if not os.path.exists("/proc/self/status"):
        pytest.skip("needs /proc/self/status")

    def vm_kib() -> int:
        with open("/proc/self/status") as fh:
            return int(re.search(r"VmSize:\s+(\d+)", fh.read()).group(1))

    truncated = _compress("zstd", SRC)[:-1]
    before = vm_kib()
    for _ in range(500):
        with pytest.raises(CodecError):
            decompress(truncated, "zstd")
    assert vm_kib() - before < 1 << 20  # KiB: under 1 GiB of growth


@pytest.mark.parametrize(
    "preamble, body_len",
    [
        (b"\xff\xff\xff\xff\x0f", 16),  # declares 0xFFFFFFFF > max_output
        (b"\xe8\x07", 10),  # declares 1000 bytes from a 12-byte block
        (b"\x80\x80\x80\x80\x80", 4),  # overlong varint
        (b"\x80\x80", 0),  # truncated varint
    ],
    ids=["over-max-output", "over-ratio", "overlong-varint", "truncated-varint"],
)
def test_forged_snappy_preamble_raises_before_allocating(
    monkeypatch, preamble, body_len
):
    def boom(*a, **k):
        raise AssertionError("pa.decompress reached with a forged size")

    monkeypatch.setattr(compression.pa, "decompress", boom)
    with pytest.raises(CodecError, match="snappy"):
        decompress(preamble + bytes(body_len), "snappy")


def test_zstd_concatenated_and_skippable_frames():
    a = _compress("zstd", b"first frame ")
    skip = struct.pack("<II", 0x184D2A53, 5) + b"meta!"
    b = pa.Codec("zstd", compression_level=19).compress(
        b"second frame", asbytes=True
    )
    want = b"first frame second frame"
    assert decompress(skip + a + b, "zstd") == want
    assert decompress(a + skip + b, "zstd") == want
    # a skippable frame whose declared size overruns the buffer
    short_skip = struct.pack("<II", 0x184D2A50, 100) + b"x" * 4
    with pytest.raises(CodecError):
        decompress(a + short_skip, "zstd")


def test_unknown_codec_is_a_caller_error():
    with pytest.raises(ValueError, match="unsupported"):
        decompress(b"abc", "lzo")
    with pytest.raises(ValueError, match="zstd-only"):
        decompress(b"abc", "lz4", dictionary=b"dict")


# ---------------------------------------------------------------------------
# zstd dictionary frames (libzstd through ctypes)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def zstd_dict():
    z = compression._libzstd()
    if z is None:
        pytest.skip("libzstd.so.1 not present")
    z.ZDICT_trainFromBuffer.restype = ctypes.c_size_t
    z.ZDICT_isError.restype = ctypes.c_uint
    z.ZSTD_createCCtx.restype = ctypes.c_void_p
    z.ZSTD_freeCCtx.argtypes = [ctypes.c_void_p]
    z.ZSTD_CCtx_setParameter.restype = ctypes.c_size_t
    z.ZSTD_CCtx_setParameter.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.c_int,
    ]
    z.ZSTD_CCtx_loadDictionary.restype = ctypes.c_size_t
    z.ZSTD_CCtx_loadDictionary.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
    ]
    z.ZSTD_compress2.restype = ctypes.c_size_t
    z.ZSTD_compress2.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t,
    ]
    samples = [
        (
            "user=%d;name=test%d;lang=en;theme=dark;path=/it/%d\n"
            % (i, i * 7, i % 13)
        ).encode() * 3
        for i in range(200)
    ]
    sizes = (ctypes.c_size_t * len(samples))(*map(len, samples))
    buf = ctypes.create_string_buffer(20000)
    n = z.ZDICT_trainFromBuffer(
        buf, 20000, b"".join(samples), sizes, len(samples)
    )
    if z.ZDICT_isError(n):
        pytest.skip("ZDICT training unavailable in this build")
    d = buf.raw[:n]

    def compress(src: bytes, *, content_size: bool, level: int = 3) -> bytes:
        c = z.ZSTD_createCCtx()
        try:
            z.ZSTD_CCtx_setParameter(c, 100, level)  # ZSTD_c_compressionLevel
            z.ZSTD_CCtx_setParameter(c, 200, int(content_size))  # ZSTD_c_contentSizeFlag
            assert not z.ZSTD_isError(z.ZSTD_CCtx_loadDictionary(c, d, len(d)))
            cap = z.ZSTD_compressBound(len(src))
            dst = ctypes.create_string_buffer(cap)
            k = z.ZSTD_compress2(c, dst, cap, src, len(src))
            assert not z.ZSTD_isError(k)
            return dst.raw[:k]
        finally:
            z.ZSTD_freeCCtx(c)

    return d, samples, compress


@pytest.mark.parametrize("content_size", [True, False])
def test_zstd_dictionary_frames(zstd_dict, content_size):
    d, samples, compress = zstd_dict
    cases = [samples[17], b"no template at all", b"", b"x" * 300_000]
    for level in (1, 19):
        for src in cases:
            frame = compress(src, content_size=content_size, level=level)
            assert decompress(frame, "zstd", dictionary=d) == src
    # twenty concatenated dictionary frames decode as one payload
    frames = b"".join(
        compress(s, content_size=content_size) for s in samples[:20]
    )
    assert decompress(frames, "zstd", dictionary=d) == b"".join(samples[:20])
    # a dictionary-requiring frame without its dictionary is rejected
    with pytest.raises(CodecError):
        decompress(compress(samples[0], content_size=content_size), "zstd")


def test_zstd_dictionary_truncations_flips_and_cap(zstd_dict):
    d, samples, compress = zstd_dict
    src = b"".join(samples[:40])
    frame = compress(src, content_size=False)
    for cut in range(1, len(frame)):
        with pytest.raises(CodecError):
            decompress(frame[:cut], "zstd", dictionary=d)
    rng = random.Random(1234)
    for _ in range(200):
        i, bit = rng.randrange(len(frame)), 1 << rng.randrange(8)
        try:
            decompress(_flip(frame, i, bit), "zstd", dictionary=d)
        except CodecError:
            pass
    big = compress(bytes(4 << 20), content_size=False)
    with pytest.raises(CodecError, match="max_output"):
        decompress(big, "zstd", dictionary=d, max_output=1 << 20)
    assert len(decompress(big, "zstd", dictionary=d)) == 4 << 20
