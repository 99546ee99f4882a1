"""Adversarial-stream hardening for the whole codec stack.

Two contracts a 10^12-image ingest needs from its decoders, beyond
"valid files decode correctly":

1. **Corruption is always DATA.** Whatever a fuzzer does to the
   bytes, decode_image either succeeds or raises from the NAMED
   exception set validate_images catches (NotImplementedError,
   ValueError incl. JpegError/DimensionMismatchError, IndexError,
   struct.error, zlib.error). Any other type (KeyError,
   AssertionError, TypeError, ...) would surface as InternalError at
   the table level — i.e. a decoder bug misfiled as a data error —
   and an uncaught MemoryError would kill the executor outright.

2. **Corruption cannot demand memory.** Stream dim fields are 14-16
   bits wide, so a handful of flipped bytes can declare a 65535 x
   65535 image (~12 GB of planes) or a deflate/LZW/PackBits bomb
   (KBs inflating to GBs). Every decoder checks header dims against
   the table metadata BEFORE sizing buffers from them
   (DimensionMismatchError, codec_errors.py) and caps decompressed
   output at the metadata-derived pixel-data size.

Mirrors the reference's errors-as-data posture (errors.rs:5-47:
malformed input is a typed value, never a crash)."""

import struct
import zlib

import numpy as np
import pytest

from segment_rtree_spark.codec_errors import DimensionMismatchError
from segment_rtree_spark.imageio import (
    decode_image,
    encode_bmp,
    encode_gif,
    encode_png,
    encode_raw,
    encode_tiff,
    encode_webp,
)
from segment_rtree_spark.jpegio import JpegError, encode_jpeg

# the payload validators' named catch set (operators/validate.py
# _decode_error_code):
# JpegError and DimensionMismatchError are ValueError subclasses
ALLOWED = (NotImplementedError, ValueError, IndexError, struct.error,
           zlib.error)

W, H = 24, 16


def _fixture(fmt):
    rng = np.random.default_rng(7)
    if fmt == "gif":  # palette-sized content (<= 256 distinct colors)
        px = (rng.integers(0, 6, size=(H, W, 3)) * 40).astype(np.uint8)
    else:
        px = rng.integers(0, 256, size=(H, W, 3)).astype(np.uint8)
    enc = {"raw": encode_raw, "png": encode_png, "jpeg": encode_jpeg,
           "bmp": encode_bmp, "gif": encode_gif, "tiff": encode_tiff,
           "webp": encode_webp}[fmt]
    return bytes(enc(px))


@pytest.mark.parametrize(
    "fmt", ["raw", "png", "jpeg", "bmp", "gif", "tiff", "webp"]
)
def test_corruption_never_escapes_the_taxonomy(fmt):
    """Truncations, bit flips, and byte-run stomps on a valid stream
    of every format: decode succeeds or raises from ALLOWED — no
    other exception type, no runaway allocation (the 2s/decode scale
    of this loop is itself evidence nothing tried to build GBs)."""
    buf = _fixture(fmt)
    rng = np.random.default_rng(zlib.crc32(fmt.encode()))
    cases = []
    # truncations: every eighth of the stream plus the first bytes
    for k in (1, 2, 4, 8, 12) + tuple(
        len(buf) * i // 8 for i in range(1, 8)
    ):
        cases.append(buf[:k])
    # single bit flips across the whole stream (headers included)
    for _ in range(160):
        i = int(rng.integers(0, len(buf)))
        b = bytearray(buf)
        b[i] ^= 1 << int(rng.integers(0, 8))
        cases.append(bytes(b))
    # 4-byte random stomps (dim fields, counts, lengths)
    for _ in range(40):
        i = int(rng.integers(0, max(1, len(buf) - 4)))
        b = bytearray(buf)
        b[i : i + 4] = bytes(rng.integers(0, 256, size=4, dtype=np.uint8))
        cases.append(bytes(b))
    escaped = []
    for c in cases:
        try:
            px = decode_image(c, fmt, W, H)
            assert px.dtype == np.uint8  # decoded fine: also well-typed
        except ALLOWED:
            pass
        except Exception as e:  # noqa: BLE001 — the point of the test
            escaped.append((type(e).__name__, str(e)[:60]))
    assert not escaped, escaped


def test_dim_bombs_rejected_before_allocation():
    """Headers rewritten to declare 65535x65535 (~12 GB of pixels)
    raise DimensionMismatchError against the 24x16 table metadata —
    instantly, which is only possible if no decoder sized a buffer
    from the corrupt fields."""
    big = 65535
    # png: IHDR width/height at offsets 16/20 (decoder ignores CRCs)
    b = bytearray(_fixture("png"))
    struct.pack_into(">II", b, 16, big, big)
    with pytest.raises(DimensionMismatchError):
        decode_image(bytes(b), "png", W, H)
    # gif: logical screen dims at offset 6 (checked before the canvas
    # allocation in _decode_gif, not after _gif_canvas_frames)
    b = bytearray(_fixture("gif"))
    struct.pack_into("<HH", b, 6, big, big)
    with pytest.raises(DimensionMismatchError):
        decode_image(bytes(b), "gif", W, H)
    # bmp: DIB dims at offset 18
    b = bytearray(_fixture("bmp"))
    struct.pack_into("<ii", b, 18, big, big)
    with pytest.raises(DimensionMismatchError):
        decode_image(bytes(b), "bmp", W, H)
    # jpeg: SOF0 height/width right after the marker's precision byte
    b = bytearray(_fixture("jpeg"))
    sof = b.find(b"\xff\xc0")
    assert sof > 0
    struct.pack_into(">HH", b, sof + 5, big, big)
    with pytest.raises(DimensionMismatchError):
        decode_image(bytes(b), "jpeg", W, H)
    # tiff / webp dim fields are bit/entry-packed; same guard, driven
    # through the metadata side instead of a byte patch
    for fmt in ("tiff", "webp"):
        with pytest.raises(DimensionMismatchError):
            decode_image(_fixture(fmt), fmt, W + 1, H)


def test_jpeg_dim_mismatch_classifies_dimension_mismatch(spark):
    """Table-level twin of the guard: a valid jpeg whose metadata
    disagrees keeps the DimensionMismatch tier (not CorruptStream),
    now decided at the SOF header instead of after a full decode."""
    from segment_rtree_spark.operators.images import validate_images

    rows = [("d0", bytearray(_fixture("jpeg")), "jpeg", W + 3, H, 0)]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int, phash long"
    )
    got = validate_images(df).collect()[0]
    assert (got["ok"], got["err_code"]) == (False, "DimensionMismatch")
    assert "SOF" in got["err_detail"]


def _raised(fn):
    try:
        fn()
    except Exception as e:  # the exception a real decoder call raises
        return e
    raise AssertionError("no exception")


@pytest.mark.parametrize(
    "exc, code",
    [
        (NotImplementedError("lossy VP8"), "CodecUnavailable"),
        (DimensionMismatchError("IHDR 9x9 != metadata 8x8"), "DimensionMismatch"),
        (JpegError("bad marker"), "CorruptStream"),
        (ValueError("truncated"), "CorruptStream"),
        (_raised(lambda: b""[3]), "CorruptStream"),
        (_raised(lambda: struct.unpack_from("<I", b"\x00")), "CorruptStream"),
        (_raised(lambda: zlib.decompress(b"not deflate")), "CorruptStream"),
        (KeyError("tag"), "InternalError"),
    ],
    ids=["NotImplementedError", "DimensionMismatchError", "JpegError", "ValueError",
         "IndexError", "struct.error", "zlib.error", "KeyError"],
)
def test_decode_error_code_taxonomy(exc, code):
    """The one exception-to-code map both payload validators apply
    (no Spark): a declined codec, a header/metadata disagreement (a
    ValueError subclass, so it must win over CorruptStream), malformed
    bytes, and anything else as InternalError."""
    from segment_rtree_spark.operators.validate import _decode_error_code

    assert _decode_error_code(exc) == code


def test_png_idat_bomb_rejected_at_cap():
    """A 16x16 PNG whose IDAT inflates to 8 MB is rejected at the
    metadata-derived cap (h * (1 + row_bytes) bytes), not buffered."""
    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * (8 << 20), 9)  # ~8 KB compressed

    def chunk(tag, payload):
        return struct.pack(">I", len(payload)) + tag + payload + b"\0\0\0\0"

    buf = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="inflates beyond"):
        decode_image(buf, "png", 16, 16)


def test_tiff_inflate_bombs_rejected_at_cap():
    """Deflate / LZW / PackBits strips that inflate far past
    w*h*spp are rejected at the cap; honest small overshoot (a
    padded final strip) stays within the slack and decodes."""
    from tests.test_imageio_synth import (
        _build_tiff,
        _packbits_enc,
        _tiff_lzw_enc,
    )

    px = np.zeros((8, 8, 3), np.uint8)
    for comp, enc in ((8, zlib.compress), (5, _tiff_lzw_enc),
                      (32773, _packbits_enc)):
        fx = bytearray(_build_tiff(px, compression=comp, strip_rows=8))
        # swap the single strip's payload for a bomb: the cap is
        # need + 64 KB slack, so 256 KB of inflated zeros overshoots
        # it 3x (kept small because the test-side encoders are
        # per-byte Python)
        payload = enc(bytes(256 << 10))
        # rebuild: find the original strip bytes at the tail and grow
        # the counted size — easier to just append and repoint tags
        old = enc(px.tobytes())
        off = bytes(fx).rfind(old)
        assert off > 0
        fx[off : off + len(old)] = payload
        # patch StripByteCounts (tag 279) value
        n_ent = struct.unpack_from("<H", fx, 8)[0]
        for k in range(n_ent):
            e = 10 + 12 * k
            tag = struct.unpack_from("<H", fx, e)[0]
            if tag == 279:
                struct.pack_into("<I", fx, e + 8, len(payload))
        with pytest.raises(ValueError, match="exceeds|beyond|corrupt"):
            decode_image(bytes(fx), "tiff", 8, 8)


def test_truncated_deflate_still_corrupt():
    """The bounded-inflate path must not silently accept a deflate
    stream that ends before its trailer (decompressobj+max_length
    skips trailer/checksum verification unless completion is checked
    via d.eof — fuzz regression from the bomb-cap change)."""
    from tests.test_imageio_synth import _build_tiff

    px = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    fx = bytearray(_build_tiff(px, compression=8, strip_rows=8))
    # stomp the deflate stream's tail IN PLACE (strip length and IFD
    # untouched, so the failure must come from the stream itself)
    strip = zlib.compress(px.tobytes())
    off = bytes(fx).rfind(strip)
    assert off > 0
    fx[off + len(strip) - 6 : off + len(strip)] = b"\x00" * 6
    with pytest.raises(ValueError, match="Deflate"):
        decode_image(bytes(fx), "tiff", 8, 8)

def _mutations(buf, seed):
    rng = np.random.default_rng(seed)
    cases = []
    for k in (1, 2, 4, 8, 12) + tuple(len(buf) * i // 8 for i in range(1, 8)):
        cases.append(buf[:k])
    for _ in range(160):
        i = int(rng.integers(0, len(buf)))
        b = bytearray(buf)
        b[i] ^= 1 << int(rng.integers(0, 8))
        cases.append(bytes(b))
    for _ in range(40):
        i = int(rng.integers(0, max(1, len(buf) - 4)))
        b = bytearray(buf)
        b[i : i + 4] = bytes(rng.integers(0, 256, size=4, dtype=np.uint8))
        cases.append(bytes(b))
    return cases


def test_ccitt_corruption_never_escapes():
    """The round-7 CCITT fax paths under the same fire: G4 (T.6),
    T.4 1D with fill bits, and Modified Huffman framings all stay
    inside the named taxonomy — truncations and flips either decode
    to SOME well-typed bilevel image (fax has no checksum) or raise
    a data error; allocation stays pinned to the metadata dims."""
    from segment_rtree_spark.ccitt import encode_ccitt_g4
    from tests.test_ccitt import _mask_runs, _pack, _runs_bits, _tiff

    rng = np.random.default_rng(53)
    mask = rng.random((H, W)) < 0.45
    t4bits = ""
    mhbytes = b""
    for y in range(H):
        t4bits += "000000000001" + _runs_bits(_mask_runs(mask[y]))
        mhbytes += _pack(_runs_bits(_mask_runs(mask[y])))
    fixtures = [
        _tiff([encode_ccitt_g4(mask)], W, H, 4),
        _tiff([_pack(t4bits)], W, H, 3, extra=[(292, 4, 1, 0)]),
        _tiff([mhbytes], W, H, 2),
    ]
    escaped = []
    for j, buf in enumerate(fixtures):
        for c in _mutations(buf, 4000 + j):
            try:
                out = decode_image(c, "tiff", W, H)
                assert out.dtype == np.uint8
            except ALLOWED:
                pass
            except Exception as e:  # noqa: BLE001 — the point
                escaped.append((j, type(e).__name__, str(e)[:60]))
    assert not escaped, escaped


def test_audio_corruption_never_escapes():
    """The audio decoder under the same fire as the image stack:
    WAV containers across every supported codec lane (PCM widths,
    IEEE float, G.711) plus the headerless pcm lane — truncations,
    bit flips and stomps decode or raise from the named set, and
    header dims are pinned to the metadata before any buffer math."""
    from segment_rtree_spark.audioio import decode_audio, encode_wav
    from segment_rtree_spark.codec_errors import DimensionMismatchError as _DM

    rng = np.random.default_rng(71)
    x = rng.integers(-30000, 30000, size=(200, 2)).astype(np.int32)
    fixtures = [
        ("wav", encode_wav(x, 8000, "i16"), 200, 2),
        ("wav", encode_wav(x * 128, 8000, "i24"), 200, 2),
        ("wav", encode_wav((x / 32768).astype(np.float32), 8000, "f32"),
         200, 2),
        ("wav", encode_wav(x[:, :1], 8000, "mulaw"), 200, 1),
        ("wav", encode_wav(x[:, :1], 8000, "alaw"), 200, 1),
        ("wav", encode_wav(x, 8000, "ima"), 200, 2),
        ("pcm", x.astype("<i2").tobytes(), 200, 2),
    ]
    escaped = []
    for j, (fmt, buf, n, ch) in enumerate(fixtures):
        for c in _mutations(bytes(buf), 7000 + j):
            try:
                out = decode_audio(c, fmt, 8000, n, ch)
                assert out.dtype in (np.int32, np.float32)
            except (_DM,) + ALLOWED:
                pass
            except Exception as e:  # noqa: BLE001 — the point
                escaped.append((j, type(e).__name__, str(e)[:60]))
    assert not escaped, escaped


def test_round7_decode_surfaces_never_escape():
    """Same corruption sweep over the round-7 decode paths the
    encoder-built fixtures above never reach: BI_RLE4 and 16-bit
    BI_BITFIELDS BMPs, and an animated (ANIM/ANMF VP8L) webp — the
    RLE escape machine, the mask validator and the ANMF compositor
    all stay inside the named taxonomy under fire."""
    from tests.test_imageio_synth import _build_16bit_bmp, _build_rle4_bmp
    from tests.test_webp import build_anim_webp

    rng = np.random.default_rng(67)
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, size=(H, W)).astype(np.uint8)
    idx[:, : W // 2] = idx[0, 0]
    px = rng.integers(0, 256, size=(H, W, 3)).astype(np.uint8)
    fixtures = {
        "bmp": [
            _build_rle4_bmp(idx, pal),
            _build_16bit_bmp(px),
            _build_16bit_bmp(px, (0xF800, 0x07E0, 0x001F), 3),
        ],
        "webp": [
            build_anim_webp(
                (W, H),
                [(0, 0, px, True, False),
                 (2, 4, px[:8, :6], False, True)],
                bg=(1, 2, 3, 255),
            )
        ],
    }
    escaped = []
    for fmt, bufs in fixtures.items():
        for j, buf in enumerate(bufs):
            for c in _mutations(buf, 1000 + j):
                try:
                    out = decode_image(c, fmt, W, H)
                    assert out.dtype == np.uint8
                except ALLOWED:
                    pass
                except Exception as e:  # noqa: BLE001 — the point
                    escaped.append((fmt, j, type(e).__name__, str(e)[:60]))
    assert not escaped, escaped
