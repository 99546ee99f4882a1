"""VP8L webp codec: self round-trips, libwebp conformance (both
directions — the independent implementation this sandbox ships as
libwebp.so.7), the empirical distance-map gate, and the
CodecUnavailable/CorruptStream taxonomy."""

import ctypes
import struct

import numpy as np
import pytest

from segment_rtree_spark.imageio import decode_image
from segment_rtree_spark.webp import decode_webp, encode_webp


def _libwebp():
    try:
        lib = ctypes.CDLL("libwebp.so.7")
    except OSError:
        pytest.skip("libwebp not present in this container")
    lib.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
    lib.WebPEncodeLosslessRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.c_void_p),
    ]
    lib.WebPEncodeRGB.restype = ctypes.c_size_t
    lib.WebPEncodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.c_float, ctypes.POINTER(ctypes.c_void_p),
    ]
    lib.WebPDecodeRGB.restype = ctypes.POINTER(ctypes.c_ubyte)
    lib.WebPDecodeRGB.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.POINTER(ctypes.c_int),
        ctypes.POINTER(ctypes.c_int),
    ]
    return lib


def _lw_encode(lib, px, lossless=True):
    h, w, _ = px.shape
    out = ctypes.c_void_p()
    if lossless:
        n = lib.WebPEncodeLosslessRGB(px.tobytes(), w, h, w * 3,
                                      ctypes.byref(out))
    else:
        n = lib.WebPEncodeRGB(px.tobytes(), w, h, w * 3, 75.0,
                              ctypes.byref(out))
    assert n > 0, "libwebp encode failed"
    buf = ctypes.string_at(out, n)
    lib.WebPFree(out)
    return buf


def _lw_decode(lib, buf):
    w = ctypes.c_int()
    h = ctypes.c_int()
    p = lib.WebPDecodeRGB(buf, len(buf), ctypes.byref(w), ctypes.byref(h))
    assert p, "libwebp decode failed"
    arr = np.ctypeslib.as_array(p, shape=(h.value, w.value, 3)).copy()
    lib.WebPFree(ctypes.cast(p, ctypes.c_void_p))
    return arr


def test_roundtrip_own_codec():
    rng = np.random.default_rng(7)
    for h, w in ((1, 1), (5, 7), (16, 24), (33, 13)):
        px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert (decode_webp(encode_webp(px)) == px).all(), (h, w)
    ramp = (np.arange(40 * 50 * 3, dtype=np.uint32) // 11 % 256).astype(
        np.uint8).reshape(40, 50, 3)
    assert (decode_webp(encode_webp(ramp)) == ramp).all()
    const = np.full((9, 9, 3), 200, np.uint8)  # simple codes everywhere
    assert (decode_webp(encode_webp(const)) == const).all()


def test_our_encoder_decodes_in_libwebp():
    lib = _libwebp()
    rng = np.random.default_rng(11)
    for h, w in ((5, 7), (16, 24), (33, 13)):
        px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert (_lw_decode(lib, encode_webp(px)) == px).all(), (h, w)


def test_libwebp_encodes_decode_in_engine():
    """The full-spec decode gate: libwebp's lossless encoder picks
    transforms/cache/LZ77/meta codes per content class; every class
    must decode bit-exact."""
    lib = _libwebp()
    rng = np.random.default_rng(11)
    for h, w in ((1, 1), (5, 7), (16, 24), (64, 48), (37, 53)):
        px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert (decode_webp(_lw_encode(lib, px)) == px).all(), ("rand", h, w)
    y, x = np.mgrid[0:64, 0:80]
    grad = np.stack(
        [(y * 255 // 63), (x * 255 // 79), ((x + y) * 255 // 142)], axis=-1
    ).astype(np.uint8)
    assert (decode_webp(_lw_encode(lib, grad)) == grad).all(), "gradient"
    noise = (grad.astype(np.int16)
             + rng.integers(-6, 7, size=grad.shape)).clip(0, 255).astype(np.uint8)
    assert (decode_webp(_lw_encode(lib, noise)) == noise).all(), "noisy"
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    for ncol in (2, 4, 7, 16):  # all sub-byte packing widths
        pp = pal[:ncol][rng.integers(0, ncol, size=(33, 29))]
        assert (decode_webp(_lw_encode(lib, pp)) == pp).all(), ("pal", ncol)
    tile = rng.integers(0, 256, size=(8, 8, 3)).astype(np.uint8)
    tex = np.tile(tile, (12, 10, 1))  # LZ77 + color-cache heavy
    assert (decode_webp(_lw_encode(lib, tex)) == tex).all(), "texture"


def _vp8l_riff(bw):
    payload = b"\x2f" + bw.done()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _vp8l_header(bw, w, h):
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache


def test_simple_code_with_equal_symbols_matches_libwebp():
    """A simple prefix code may name the same symbol twice; libwebp
    reads it as a one-symbol, 0-bit code. Green {7, 7} (8-bit first
    symbol) and {1, 1} (1-bit first symbol), every other channel a
    one-symbol code: the 4x3 image needs no pixel bits at all."""
    lib = _libwebp()
    from segment_rtree_spark.webp import _BitWriter, _write_prefix_code

    for g in (7, 1):
        bw = _BitWriter()
        _vp8l_header(bw, 4, 3)
        bw.write(0, 1)  # no meta prefix codes
        bw.write(1, 1)  # green: simple code
        bw.write(1, 1)  # ... of two symbols
        bw.write(int(g > 1), 1)  # first symbol 8 bits wide, or 1
        bw.write(g, 8 if g > 1 else 1)
        bw.write(g, 8)  # second symbol = first
        for sym, size in ((9, 256), (11, 256), (255, 256), (0, 40)):
            _write_prefix_code(bw, {sym: 1}, size)  # red, blue, alpha, dist
        buf = _vp8l_riff(bw)
        want = np.broadcast_to(np.array([9, g, 11], np.uint8), (3, 4, 3))
        assert (_lw_decode(lib, buf) == want).all(), g
        assert (decode_webp(buf) == want).all(), g


def _many_group_stream():
    """A hostile VP8L stream (110 KB) whose 1x1 meta prefix image names
    only the last of 512 groups, each of five 16-symbol codes with
    lengths 1..15, and no pixel data."""
    from segment_rtree_spark.webp import _BitWriter, _write_prefix_code

    n_groups = 512
    bw = _BitWriter()
    _vp8l_header(bw, 4, 4)
    bw.write(1, 1)  # meta prefix codes, 4x4 blocks: a 1x1 entropy image
    bw.write(0, 3)
    # the entropy image: no color cache, one group of one-symbol codes
    # whose single pixel holds the largest group index
    bw.write(0, 1)
    g = n_groups - 1
    for sym, size in ((g & 0xFF, 280), (g >> 8, 256), (0, 256), (0, 256), (0, 40)):
        _write_prefix_code(bw, {sym: 1}, size)
    lengths = {s: min(s + 1, 15) for s in range(16)}
    for _ in range(n_groups):
        for size in (280, 256, 256, 256, 40):
            _write_prefix_code(bw, lengths, size)
    return _vp8l_riff(bw)


def _traced_peak_of_failed_decode(buf):
    import tracemalloc

    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="truncated"):
            decode_webp(buf)
        return tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def test_many_group_stream_memory_is_bounded():
    """The 512-group stream raises ValueError, and the peak traced
    allocation while it reads 2,560 codes stays within 2x of the
    4,747,454 bytes the per-bit dict-walk decoder peaked at on this
    stream (CPython 3.11). One flat 2^15-entry table per code would
    take hundreds of MB here."""
    peak = _traced_peak_of_failed_decode(_many_group_stream())
    assert peak <= 2 * 4_747_454, peak


def test_unreferenced_groups_keep_no_tables():
    """Only the one group the meta image names keeps its tables; the
    other 511 are read, checked and dropped. The decoder that kept a
    table for every group from 0 to the largest index peaked at
    4,288,960 traced bytes on this stream (CPython 3.11.7); keeping one
    group peaks at 131,960, mostly copies of the 110 KB stream. The
    bound is an eighth of the former."""
    peak = _traced_peak_of_failed_decode(_many_group_stream())
    assert peak < 4_288_960 // 8, peak


def _unused_group_stream():
    """An 8x4 VP8L image in two 4x4 entropy blocks that use groups 3
    and 1 of four. Groups 0 and 2 hold valid codes no pixel reads (one
    of them a normal code with lengths 1..15). Returns the RIFF bytes
    and the RGB pixels written."""
    from segment_rtree_spark.webp import _BitWriter, _write_prefix_code

    rng = np.random.default_rng(5)
    want = np.zeros((4, 8, 3), np.uint8)
    want[:, :, 0] = rng.integers(0, 4, size=(4, 8)) * 60  # red
    want[:, :, 1] = rng.integers(0, 16, size=(4, 8))      # green
    want[:, :, 2] = np.where(rng.random((4, 8)) < 0.5, 17, 200)  # blue
    block_group = (3, 1)
    bw = _BitWriter()
    _vp8l_header(bw, 8, 4)
    bw.write(1, 1)  # meta prefix codes, 4x4 blocks: a 2x1 entropy image
    bw.write(0, 3)
    bw.write(0, 1)  # the entropy image: no color cache
    meta = _write_prefix_code(bw, {3: 1, 1: 1}, 280)  # green = index
    for size in (256, 256, 256, 40):
        _write_prefix_code(bw, {0: 1}, size)
    meta_code = {s: (c, l) for s, c, l in meta}
    for g in block_group:
        bw.code(*meta_code[g])
    used = {}
    for g in range(4):
        if g in block_group:
            green = _write_prefix_code(bw, {s: 4 for s in range(16)}, 280)
            red = _write_prefix_code(bw, {0: 2, 60: 2, 120: 2, 180: 2}, 256)
            blue = _write_prefix_code(bw, {17: 1, 200: 1}, 256)
            _write_prefix_code(bw, {255: 1}, 256)  # alpha
            _write_prefix_code(bw, {0: 1}, 40)
            used[g] = [{s: (c, l) for s, c, l in code}
                       for code in (green, red, blue)]
        else:
            for size in (280, 256, 256, 256, 40):
                _write_prefix_code(
                    bw, {s: min(s + 1, 15) for s in range(16)} if g == 2
                    else {7: 1}, size)
    for y in range(4):
        for x in range(8):
            green, red, blue = used[block_group[x // 4]]
            r, gr, b = (int(v) for v in want[y, x])
            bw.code(*green[gr])
            bw.code(*red[r])
            bw.code(*blue[b])
    return _vp8l_riff(bw), want


def test_stream_with_unused_groups_decodes_exactly():
    buf, want = _unused_group_stream()
    assert (decode_webp(buf) == want).all()


def test_stream_with_unused_groups_matches_libwebp():
    lib = _libwebp()
    buf, want = _unused_group_stream()
    assert (_lw_decode(lib, buf) == want).all()


def _craft_backref_stream(dist_code, w=17, h=10, n_lit=160, n_ref=10):
    """Hand-build a VP8L stream: n_lit literals whose RED channel
    encodes their position, then n_ref length-1 backrefs at the given
    distance code — the probe that reveals which source pixel the
    code maps to."""
    from segment_rtree_spark.webp import _BitWriter, _write_prefix_code

    # length/dist prefix symbol + extra bits for a target value
    def sym_extra(v):
        if v <= 4:
            return v - 1, 0, 0
        s = 4
        while True:
            extra = (s - 2) >> 1
            lo = ((2 + (s & 1)) << extra) + 1
            if lo <= v <= lo + (1 << extra) - 1:
                return s, v - lo, extra
            s += 1

    dsym, dval, dbits = sym_extra(dist_code)
    bw = _BitWriter()
    _vp8l_header(bw, w, h)
    bw.write(0, 1)  # no meta
    green = _write_prefix_code(bw, {0: 1, 256: 1}, 280)
    red = _write_prefix_code(bw, {s: 8 for s in range(256)}, 256)
    _write_prefix_code(bw, {0: 1}, 256)    # blue: single, 0 bits
    _write_prefix_code(bw, {255: 1}, 256)  # alpha
    _write_prefix_code(bw, {dsym: 1}, 40)  # distance: single symbol
    gc, rc = ({s: (c, l) for s, c, l in codes} for codes in (green, red))
    for pos in range(n_lit):
        c, l = gc[0]
        bw.code(c, l)
        c, l = rc[pos & 0xFF]
        bw.code(c, l)
    for _ in range(n_ref):
        c, l = gc[256]  # length symbol 0 -> length 1, no extra bits
        bw.code(c, l)
        bw.write(dval, dbits)  # distance extra bits
    return _vp8l_riff(bw)


def test_distance_map_matches_libwebp():
    """The 120-entry 2D distance map, empirically: for every code
    1..120 (and a plain-distance code beyond), a crafted stream's
    backref must copy the SAME source pixel in our decoder and in
    libwebp."""
    lib = _libwebp()
    from segment_rtree_spark.webp import _DIST_MAP

    w, n_lit = 17, 160
    for code in list(range(1, 121)) + [121, 130, 200]:
        buf = _craft_backref_stream(code, w=w, n_lit=n_lit)
        ours = decode_webp(buf).reshape(-1, 3)
        theirs = _lw_decode(lib, buf).reshape(-1, 3)
        assert (ours == theirs).all(), f"dist code {code} diverges from libwebp"
        if code <= 120:
            dx, dy = _DIST_MAP[code - 1]
            dist = max(1, dy * w + dx)
        else:
            dist = code - 120
        # the first backref pixel copies position n_lit - dist, whose
        # red channel encodes its index
        assert ours[n_lit][0] == (n_lit - dist) & 0xFF, f"code {code}"


def test_lossy_declines_as_codec_unavailable():
    # handcrafted container markers: no codec needed
    vp8 = (b"RIFF" + struct.pack("<I", 16) + b"WEBP"
           + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4)
    with pytest.raises(NotImplementedError, match="lossy VP8"):
        decode_webp(vp8)
    # a bare ANIM chunk with no VP8X/ANMF is a malformed container
    # (round 7: animated VP8L DECODES, so this is no longer a codec
    # gap — it is a stream with no image data at all)
    anim = (b"RIFF" + struct.pack("<I", 18) + b"WEBP"
            + b"ANIM" + struct.pack("<I", 6) + b"\x00" * 6)
    with pytest.raises(ValueError, match="without image data"):
        decode_webp(anim)
    # and a REAL lossy stream from the reference encoder
    try:
        lib = _libwebp()
    except BaseException:
        return
    px = np.random.default_rng(3).integers(0, 256, size=(16, 16, 3)).astype(
        np.uint8)
    with pytest.raises(NotImplementedError, match="lossy VP8"):
        decode_webp(_lw_encode(lib, px, lossless=False))


def test_corrupt_streams_raise_value_error():
    px = np.random.default_rng(5).integers(0, 256, size=(9, 11, 3)).astype(
        np.uint8)
    good = encode_webp(px)
    with pytest.raises(ValueError, match="signature"):
        decode_webp(b"XXXX" + good[4:])
    with pytest.raises(ValueError, match="truncated|corrupt|image data"):
        decode_webp(good[:-6])
    bad = bytearray(good)
    bad[30:] = b"\xff" * (len(bad) - 30)  # trash the entropy stream
    with pytest.raises(ValueError):
        decode_webp(bytes(bad))


def test_decode_image_integration_and_validate_taxonomy(spark):
    """fmt='webp' through the engine surfaces: decode_image round
    trip + dimension check, validate_images classifying valid VP8L as
    ok, lossy VP8 as CodecUnavailable, bad signature and corrupt
    stream as their taxonomy rows, mp4 as the codec-less class."""
    from segment_rtree_spark.imageio import phash64
    from segment_rtree_spark.operators.images import validate_images

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, size=(12, 15, 3)).astype(np.uint8)
    buf = encode_webp(px)
    assert (decode_image(buf, "webp", 15, 12) == px).all()
    with pytest.raises(ValueError, match="metadata"):
        decode_image(buf, "webp", 16, 12)

    vp8 = (b"RIFF" + struct.pack("<I", 16) + b"WEBP"
           + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4)
    corrupt = bytearray(buf)
    corrupt[30:] = b"\xff" * (len(corrupt) - 30)
    rows = [
        ("w0", buf, "webp", 15, 12, phash64(px)),
        ("w1", vp8, "webp", 15, 12, None),
        ("w2", b"\x00" * 8 + buf[8:], "webp", 15, 12, None),
        ("w3", bytes(corrupt), "webp", 15, 12, None),
        ("w4", buf, "mp4", 15, 12, None),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int, phash long"
    )
    got = {r["image_id"]: r for r in validate_images(df, check_phash=True).collect()}
    assert got["w0"]["ok"] and got["w0"]["err_code"] is None
    assert got["w1"]["err_code"] == "CodecUnavailable"
    assert got["w2"]["err_code"] == "BadSignature"
    assert got["w3"]["err_code"] == "CorruptStream"
    assert got["w4"]["err_code"] == "CodecUnavailable"


def test_resize_reencodes_webp(spark):
    from segment_rtree_spark.operators.images import resize_images

    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=(16, 16, 3)).astype(np.uint8)
    import pandas as pd

    pdf = pd.DataFrame(
        {"image_id": ["a"], "bytes": [encode_webp(px)], "w": np.int32(16),
         "h": np.int32(16), "fmt": "webp"}
    )
    out = resize_images(spark.createDataFrame(pdf), 8, 8, fmt="webp").collect()
    assert out[0]["fmt"] == "webp"
    got = decode_webp(bytes(out[0]["bytes"]))
    assert got.shape == (8, 8, 3)
    # nearest-neighbor: every output pixel exists in the source
    src = {tuple(c) for c in px.reshape(-1, 3)}
    assert all(tuple(c) in src for c in got.reshape(-1, 3))


# -- round 7: VP8X-extended container taxonomy ----------------------------

def _chunk(fourcc: bytes, body: bytes) -> bytes:
    """RIFF chunk with the even-size padding rule (RFC 9649 §2.2)."""
    return fourcc + struct.pack("<I", len(body)) + body + (
        b"\x00" if len(body) & 1 else b""
    )


def _riff(*chunks: bytes) -> bytes:
    payload = b"WEBP" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _vp8x(w: int, h: int, alpha=False, anim=False) -> bytes:
    """VP8X extended-format header (RFC 9649 §2.5): flags byte is
    Rsv(2) I L E X A R — L = alpha hint, A = animation."""
    flags = (0x10 if alpha else 0) | (0x02 if anim else 0)
    dims = struct.pack("<I", w - 1)[:3] + struct.pack("<I", h - 1)[:3]
    return _chunk(b"VP8X", bytes([flags, 0, 0, 0]) + dims)


def test_vp8x_extended_taxonomy(spark):
    """Seal the webp branch the way round 6 sealed jpeg's: every
    VP8X-extended layout a real web corpus ships classifies
    CodecUnavailable (valid file, codec gap) — never CorruptStream —
    while VP8X wrapping plain VP8L still DECODES (the skip loop
    honors odd-size ALPH padding), and a VP8X whose canvas disagrees
    with the table metadata cannot smuggle an allocation."""
    from segment_rtree_spark.imageio import phash64
    from segment_rtree_spark.operators.images import validate_images

    rng = np.random.default_rng(21)
    px = rng.integers(0, 256, size=(10, 13, 3)).astype(np.uint8)
    plain = encode_webp(px)
    vp8l_body = plain[20 : 20 + struct.unpack_from("<I", plain, 16)[0]]
    assert plain[12:16] == b"VP8L"

    # ALPH body with an ODD length exercises the chunk-padding rule
    alph = _chunk(b"ALPH", b"\x00" * 7)
    lossy = _chunk(b"VP8 ", b"\x9d\x01\x2a" + b"\x00" * 9)

    def _anmf(fw, fh, payload):
        # frame at (0,0), duration 40ms, no-blend
        hdr = (struct.pack("<I", 0)[:3] * 2
               + struct.pack("<I", fw - 1)[:3] + struct.pack("<I", fh - 1)[:3]
               + struct.pack("<I", 40)[:3] + bytes([0x02]))
        return _chunk(b"ANMF", hdr + payload)

    fixtures = {
        # alpha-extended lossy: VP8X(L) + ALPH + VP8 — the single most
        # common extended layout in a web corpus
        "alpha_lossy": _riff(_vp8x(13, 10, alpha=True), alph, lossy),
        # bare lossy inside VP8X (no alpha)
        "lossy_x": _riff(_vp8x(13, 10), lossy),
        # animated whose frame is LOSSY: still a codec gap
        "anim_lossy": _riff(
            _vp8x(13, 10, anim=True), _chunk(b"ANIM", b"\x00" * 6),
            _anmf(13, 10, lossy),
        ),
    }
    for name, buf in fixtures.items():
        with pytest.raises(NotImplementedError):
            decode_webp(buf)

    # animated VP8L (round 7): well-formed single-frame animation
    # DECODES to its first composited canvas
    anim_ok = _riff(
        _vp8x(13, 10, anim=True), _chunk(b"ANIM", b"\x00" * 6),
        _anmf(13, 10, _chunk(b"VP8L", vp8l_body)),
    )
    assert (decode_webp(anim_ok) == px).all()
    # ANMF frame dims disagreeing with the VP8L header inside it is an
    # INTERNAL container inconsistency: CorruptStream, never a codec
    # gap and never DimensionMismatch (the table metadata is not at
    # fault)
    anim_dims_lie = _riff(
        _vp8x(13, 10, anim=True), _chunk(b"ANIM", b"\x00" * 6),
        _anmf(1, 1, _chunk(b"VP8L", vp8l_body)),
    )
    with pytest.raises(ValueError, match="disagree"):
        decode_webp(anim_dims_lie)

    # VP8X + (spec-discouraged) ALPH + VP8L: the VP8L stream decodes —
    # unknown/irrelevant chunks skip cleanly, odd-size padding honored
    ext_lossless = _riff(
        _vp8x(13, 10, alpha=True), alph, _chunk(b"VP8L", vp8l_body)
    )
    assert (decode_webp(ext_lossless) == px).all()

    # through the gated operator: CodecUnavailable for the three
    # lossy/extended layouts, ok for extended-lossless AND the
    # well-formed animation (round 7), CorruptStream for the
    # internally-inconsistent animation, DimensionMismatch
    # (pre-allocation, from the VP8L/VP8X header vs metadata) when the
    # table lies about dims
    rows = [(k, v, "webp", 13, 10, None) for k, v in fixtures.items()]
    rows.append(("ext_lossless", ext_lossless, "webp", 13, 10, phash64(px)))
    rows.append(("dim_lie", ext_lossless, "webp", 14, 10, None))
    rows.append(("anim_ok", anim_ok, "webp", 13, 10, phash64(px)))
    rows.append(("anim_bad", anim_dims_lie, "webp", 13, 10, None))
    rows.append(("anim_dim_lie", anim_ok, "webp", 14, 10, None))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int, phash long"
    )
    got = {r["image_id"]: r for r in validate_images(df, check_phash=True).collect()}
    for name in fixtures:
        assert got[name]["err_code"] == "CodecUnavailable", got[name]
    assert got["ext_lossless"]["ok"] and got["ext_lossless"]["err_code"] is None
    assert got["dim_lie"]["err_code"] == "DimensionMismatch", got["dim_lie"]
    assert got["anim_ok"]["ok"] and got["anim_ok"]["err_code"] is None
    assert got["anim_bad"]["err_code"] == "CorruptStream", got["anim_bad"]
    assert got["anim_dim_lie"]["err_code"] == "DimensionMismatch", (
        got["anim_dim_lie"])

# -- round 7: animated webp (ANIM/ANMF, VP8L frames) ----------------------

def build_anim_webp(canvas_wh, frames_spec, bg=(0, 0, 0, 0)):
    """Animation fixture: frames_spec = [(x, y, rgb, no_blend,
    dispose_bg)], frame pixels through the engine's own VP8L encoder
    (opaque alpha). bg is RGBA."""
    cw, ch = canvas_wh
    body = bytearray()
    body += _vp8x(cw, ch, anim=True)
    anim = bytes([bg[2], bg[1], bg[0], bg[3]]) + struct.pack("<H", 0)
    body += _chunk(b"ANIM", anim)
    for (x, y, px, no_blend, dispose) in frames_spec:
        fh, fw, _ = px.shape
        still = encode_webp(px)
        vp8l = still[20 : 20 + struct.unpack_from("<I", still, 16)[0]]
        hdr = (struct.pack("<I", x // 2)[:3] + struct.pack("<I", y // 2)[:3]
               + struct.pack("<I", fw - 1)[:3] + struct.pack("<I", fh - 1)[:3]
               + struct.pack("<I", 40)[:3]
               + bytes([(0x02 if no_blend else 0) | (0x01 if dispose else 0)]))
        body += _chunk(b"ANMF", hdr + _chunk(b"VP8L", vp8l))
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + bytes(body)


def test_animated_webp_compositing():
    """ANIM/ANMF compositing per the container spec: sub-rect
    placement at even offsets, no-blend replace (== opaque alpha
    blend), dispose-to-background applied to the NEXT frame, canvas
    snapshots per frame; frame rects exceeding the canvas are
    CorruptStream."""
    from segment_rtree_spark.webp import webp_canvas_frames

    rng = np.random.default_rng(11)
    cw, ch = 20, 14
    f0 = rng.integers(0, 256, size=(ch, cw, 3)).astype(np.uint8)
    f1 = rng.integers(0, 256, size=(6, 8, 3)).astype(np.uint8)
    f2 = rng.integers(0, 256, size=(4, 4, 3)).astype(np.uint8)
    buf = build_anim_webp(
        (cw, ch),
        [(0, 0, f0, True, False),
         (4, 2, f1, True, False),     # replace sub-rect
         (10, 8, f2, False, False)],  # opaque alpha-blend == replace
        bg=(9, 8, 7, 255),
    )
    w, h, frames = webp_canvas_frames(buf)
    assert (w, h) == (cw, ch) and len(frames) == 3
    assert (frames[0] == f0).all()
    exp1 = f0.copy()
    exp1[2:8, 4:12] = f1
    assert (frames[1] == exp1).all()
    exp2 = exp1.copy()
    exp2[8:12, 10:14] = f2
    assert (frames[2] == exp2).all()
    # still-decode of an animation = first composited frame
    assert (decode_webp(buf, expect=(cw, ch)) == f0).all()

    # dispose-to-background fills the frame rect AFTER its snapshot
    buf = build_anim_webp(
        (cw, ch),
        [(0, 0, f0, True, True), (4, 2, f1, True, False)],
        bg=(9, 8, 7, 255),
    )
    _, _, frames = webp_canvas_frames(buf)
    assert (frames[0] == f0).all()
    exp = np.broadcast_to(np.array([9, 8, 7], np.uint8), (ch, cw, 3)).copy()
    exp[2:8, 4:12] = f1
    assert (frames[1] == exp).all()

    # still VP8L through the frames API
    w, h, frames = webp_canvas_frames(encode_webp(f0), expect=(cw, ch))
    assert len(frames) == 1 and (frames[0] == f0).all()

    # frame rect exceeding the canvas -> CorruptStream
    bad = build_anim_webp((cw, ch), [(16, 10, f1, True, False)])
    with pytest.raises(ValueError, match="exceeds canvas"):
        webp_canvas_frames(bad)

    # canvas disagreeing with table metadata -> pre-allocation guard
    from segment_rtree_spark.codec_errors import DimensionMismatchError

    good = build_anim_webp((cw, ch), [(0, 0, f0, True, False)])
    with pytest.raises(DimensionMismatchError):
        webp_canvas_frames(good, expect=(cw + 1, ch))


def test_animated_webp_snapshot_bounds():
    """Round 8 memory posture: snapshot RETENTION is bounded, decode
    is not. max_frames keeps only the leading snapshots while later
    frames still decode (corrupt tails raise identically), and the
    snapshot byte budget rejects animations whose retained frames
    would amplify memory past the cap."""
    from segment_rtree_spark.webp import decode_webp, webp_canvas_frames

    rng = np.random.default_rng(5)
    cw, ch = 16, 12
    f0 = rng.integers(0, 256, size=(ch, cw, 3)).astype(np.uint8)
    f1 = rng.integers(0, 256, size=(4, 4, 3)).astype(np.uint8)
    buf = build_anim_webp(
        (cw, ch), [(0, 0, f0, True, False), (4, 2, f1, True, False)]
    )
    # max_frames=1 retains only the first snapshot...
    w, h, frames = webp_canvas_frames(buf, max_frames=1)
    assert len(frames) == 1 and (frames[0] == f0).all()
    assert (decode_webp(buf) == f0).all()
    # ...but later frames still DECODE: corrupt a later frame's VP8L
    # payload and the still-decode path must still raise
    anmf2 = buf.rindex(b"ANMF")
    vp8l2 = buf.index(b"VP8L", anmf2)
    bad = bytearray(buf)
    bad[vp8l2 + 12 :vp8l2 + 20] = b"\xff" * 8
    with pytest.raises(ValueError):
        decode_webp(bytes(bad))
    # snapshot byte budget: a second retained frame over the cap is
    # rejected loudly (budget below two canvases, above one)
    with pytest.raises(ValueError, match="snapshot budget"):
        webp_canvas_frames(buf, snapshot_budget=cw * ch * 3 + 1)
    # one frame fits the same budget
    _, _, frames = webp_canvas_frames(
        buf, max_frames=1, snapshot_budget=cw * ch * 3 + 1
    )
    assert len(frames) == 1
