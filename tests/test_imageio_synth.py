"""Codec round-trips, phash determinism, synthetic-table invariants."""

import numpy as np

from segment_rtree_spark.imageio import (
    decode_image,
    encode_png,
    encode_raw,
    hamming64,
    phash64,
    psnr,
)
from segment_rtree_spark.synth import synth_image, synth_partition


def test_raw_roundtrip():
    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, (16, 32, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_raw(px), "raw", 32, 16), px)


def test_png_roundtrip_and_standard_decoder():
    rng = np.random.default_rng(2)
    px = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    buf = encode_png(px)
    assert np.array_equal(decode_image(buf, "png", 24, 24), px)
    # cross-check with zlib-level inspection: our own decoder suffices,
    # but the signature/IHDR must be spec-correct
    assert buf[:8] == b"\x89PNG\r\n\x1a\n"
    assert buf[12:16] == b"IHDR"


def test_phash_deterministic_and_locality():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    h1, h2 = phash64(px), phash64(px.copy())
    assert h1 == h2
    # small perturbation -> small hamming distance
    px2 = px.copy()
    px2[0, 0, 0] ^= 1
    assert hamming64(h1, phash64(px2))[0] <= 4
    # int64-representable
    assert -(1 << 63) <= h1 < (1 << 63)


def test_psnr():
    a = np.zeros((8, 8, 3), np.uint8)
    assert psnr(a, a) == float("inf")
    b = a.copy()
    b[0, 0, 0] = 255
    assert 20 < psnr(a, b) < 40


def test_synth_deterministic():
    w, h, fmt, px, ph, buf = synth_image(7)
    w2, h2, fmt2, px2, ph2, buf2 = synth_image(7)
    assert (w, h, fmt, ph, buf) == (w2, h2, fmt2, ph2, buf2)
    assert np.array_equal(px, px2)
    # decoded pixels equal original (lossless invariant)
    assert np.array_equal(decode_image(buf, fmt, w, h), px)


def test_synth_partition_schema_and_slicing():
    full = synth_partition(0, 50)
    part = synth_partition(20, 30)
    assert list(full.columns) == [
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lat", "lng",
    ]
    # slice-independence: rows 20..30 identical whether generated alone or not
    a = full.iloc[20:30].reset_index(drop=True)
    b = part.reset_index(drop=True)
    assert a.equals(b)
    assert (full["lat"].between(-90, 90)).all()
    assert (full["lng"].between(-180, 180)).all()
    assert full["image_id"].is_unique


def test_synth_skew_mode():
    df = synth_partition(0, 1000, skew_frac=0.2)
    hot = df["lat"].between(48.8, 48.9) & df["lng"].between(2.3, 2.4)
    assert 150 <= hot.sum() <= 250


def _filter_scanlines(px: np.ndarray, fts) -> bytes:
    """Forward-filter pixels per RFC 2083 (the encoder side our engine
    does not ship) to build test fixtures for every filter type."""
    import struct
    import zlib

    h, w, _ = px.shape
    px = px.astype(np.int64)
    flat = px.reshape(h, w * 3)
    lines = bytearray()
    for y in range(h):
        ft = fts[y % len(fts)]
        raw = flat[y]
        prior = flat[y - 1] if y > 0 else np.zeros(w * 3, np.int64)
        left = np.concatenate([np.zeros(3, np.int64), raw[:-3]])
        ul = np.concatenate([np.zeros(3, np.int64), prior[:-3]])
        if ft == 0:
            filt = raw
        elif ft == 1:
            filt = raw - left
        elif ft == 2:
            filt = raw - prior
        elif ft == 3:
            filt = raw - ((left + prior) >> 1)
        else:
            p = left + prior - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prior, ul))
            filt = raw - pred
        lines.append(ft)
        lines += (filt & 0xFF).astype(np.uint8).tobytes()

    def chunk(tag, body):
        c = struct.pack(">I", len(body)) + tag + body
        return c + struct.pack(">I", zlib.crc32(tag + body))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(lines), 6))
            + chunk(b"IEND", b""))


def test_png_defilter_all_types():
    """Filters 1-4 (and mixed per-row schedules) reconstruct exactly:
    hand-filtered scanlines of a gradient+noise image decode back to
    the original pixels."""
    rng = np.random.default_rng(3)
    h, w = 21, 17
    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    for fts in ([1], [2], [3], [4], [0, 1, 2, 3, 4], [4, 3, 2, 1]):
        buf = _filter_scanlines(px, fts)
        got = decode_image(buf, "png", w, h)
        assert (got == px).all(), f"filter schedule {fts} mismatched"
    # invalid filter type -> loud ValueError (CorruptStream tier)
    import pytest

    bad = _filter_scanlines(px, [0])
    # rebuild with filter byte 7 on row 0
    import struct
    import zlib

    raw = np.concatenate(
        [np.full((h, 1), 0, np.uint8), px.reshape(h, w * 3)], axis=1
    )
    raw[0, 0] = 7
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)

    def chunk(tag, body):
        c = struct.pack(">I", len(body)) + tag + body
        return c + struct.pack(">I", zlib.crc32(tag + body))

    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="filter type 7"):
        decode_image(bad, "png", w, h)


def _png_chunks(ihdr_args, body):
    import struct
    import zlib

    def chunk(tag, b):
        return (struct.pack(">I", len(b)) + tag + b
                + struct.pack(">I", zlib.crc32(tag + b)))

    ihdr = struct.pack(">IIBBBBB", *ihdr_args)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + body
            + chunk(b"IEND", b"")), chunk


def test_png_color_types_and_depths():
    """External-world PNG coverage: gray (8/16/1-bit), palette (8/4),
    gray+alpha, RGBA — each decodes to the documented uint8[h,w,3]
    conversion (gray replicated, palette via PLTE, alpha stripped,
    16-bit high byte)."""
    import zlib

    rng = np.random.default_rng(5)
    h, w = 13, 9

    def idat(rows_u8):
        import struct
        import zlib as z

        def chunk(tag, b):
            return (struct.pack(">I", len(b)) + tag + b
                    + struct.pack(">I", z.crc32(tag + b)))

        return chunk(b"IDAT", z.compress(rows_u8.tobytes()))

    def with_filter0(payload):
        return np.concatenate(
            [np.zeros((h, 1), np.uint8), payload.reshape(h, -1)], axis=1
        )

    # gray 8-bit
    g = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
    buf, _ = _png_chunks((w, h, 8, 0, 0, 0, 0), idat(with_filter0(g)))
    assert (decode_image(buf, "png", w, h)
            == np.repeat(g[:, :, None], 3, axis=2)).all()

    # gray 16-bit: high byte kept
    g16 = rng.integers(0, 65536, size=(h, w)).astype(np.uint16)
    buf, _ = _png_chunks(
        (w, h, 16, 0, 0, 0, 0),
        idat(with_filter0(g16.astype(">u2").view(np.uint8).reshape(h, w * 2))),
    )
    assert (decode_image(buf, "png", w, h)[:, :, 0]
            == (g16 >> 8).astype(np.uint8)).all()

    # gray 1-bit: packed scanlines, scaled to 0/255
    b1 = rng.integers(0, 2, size=(h, w)).astype(np.uint8)
    buf, _ = _png_chunks(
        (w, h, 1, 0, 0, 0, 0), idat(with_filter0(np.packbits(b1, axis=1)))
    )
    assert (decode_image(buf, "png", w, h)[:, :, 0] == b1 * 255).all()

    # palette 8-bit
    import struct
    import zlib as z

    def chunk(tag, b):
        return (struct.pack(">I", len(b)) + tag + b
                + struct.pack(">I", z.crc32(tag + b)))

    plte = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, size=(h, w)).astype(np.uint8)
    buf, _ = _png_chunks(
        (w, h, 8, 3, 0, 0, 0),
        chunk(b"PLTE", plte.tobytes()) + idat(with_filter0(idx)),
    )
    assert (decode_image(buf, "png", w, h) == plte[idx]).all()

    # palette with an out-of-range index -> loud (CorruptStream tier)
    import pytest

    bad_idx = idx.copy()
    bad_idx[0, 0] = 200
    buf, _ = _png_chunks(
        (w, h, 8, 3, 0, 0, 0),
        chunk(b"PLTE", plte.tobytes()) + idat(with_filter0(bad_idx)),
    )
    with pytest.raises(ValueError, match="palette index"):
        decode_image(buf, "png", w, h)

    # RGBA: alpha stripped
    rgba = rng.integers(0, 256, size=(h, w, 4)).astype(np.uint8)
    buf, _ = _png_chunks((w, h, 8, 6, 0, 0, 0), idat(with_filter0(rgba)))
    assert (decode_image(buf, "png", w, h) == rgba[:, :, :3]).all()

    # gray+alpha: alpha stripped, gray replicated
    ga = rng.integers(0, 256, size=(h, w, 2)).astype(np.uint8)
    buf, _ = _png_chunks((w, h, 8, 4, 0, 0, 0), idat(with_filter0(ga)))
    assert (decode_image(buf, "png", w, h)
            == np.repeat(ga[:, :, :1], 3, axis=2)).all()


def test_png_adam7_interlace():
    """Adam7: seven independently-filtered sub-images scatter back to
    the full grid bit-exactly — including non-trivial per-pass filter
    schedules and dimensions that leave some passes empty."""
    import struct
    import zlib as z

    from segment_rtree_spark.imageio import _ADAM7

    def chunk(tag, b):
        return (struct.pack(">I", len(b)) + tag + b
                + struct.pack(">I", z.crc32(tag + b)))

    rng = np.random.default_rng(11)
    for h, w in ((13, 9), (4, 4), (1, 17)):
        px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        stream = bytearray()
        for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub = px[y0::dy, x0::dx].reshape(ph, pw * 3).astype(np.int64)
            # alternate per-pass filters: pass 0 none, odd passes Sub,
            # even passes Up (forward-filtered here, defiltered by the
            # decoder)
            ft = 0 if pi == 0 else (1 if pi % 2 else 2)
            for y in range(ph):
                raw = sub[y]
                if ft == 1:
                    left = np.concatenate([np.zeros(3, np.int64), raw[:-3]])
                    out = raw - left
                elif ft == 2:
                    prior = sub[y - 1] if y > 0 else np.zeros(pw * 3, np.int64)
                    out = raw - prior
                else:
                    out = raw
                stream.append(ft)
                stream += (out & 0xFF).astype(np.uint8).tobytes()
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
        buf = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", z.compress(bytes(stream)))
               + chunk(b"IEND", b""))
        got = decode_image(buf, "png", w, h)
        assert (got == px).all(), f"adam7 mismatch at {h}x{w}"


def _build_gif(W, H, gct, frames, interlace_flags=None, transparents=None):
    """Minimal GIF89a writer for fixtures: uncompressed-style LZW
    (literal codes with periodic CLEARs), optional per-frame interlace
    and transparency."""
    import struct

    n = len(gct)
    size_bits = max(1, (n - 1).bit_length()) - 1

    def lzw(indices, min_cs):
        clear = 1 << min_cs
        end = clear + 1
        cs = min_cs + 1
        out = bytearray()
        acc = nb = 0

        def put(code):
            nonlocal acc, nb
            acc |= code << nb
            nb += cs
            while nb >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nb -= 8

        put(clear)
        budget = (1 << cs) - clear - 2
        used = 0
        for v in indices:
            if used == budget:
                put(clear)
                used = 0
            put(int(v))
            used += 1
        put(end)
        if nb:
            out.append(acc & 0xFF)
        return bytes(out)

    def subblocks(data):
        out = bytearray()
        for i in range(0, len(data), 255):
            c = data[i : i + 255]
            out.append(len(c))
            out += c
        out.append(0)
        return bytes(out)

    out = bytearray(b"GIF89a") + struct.pack("<HH", W, H)
    out.append(0x80 | size_bits)
    out += b"\x00\x00" + gct.tobytes()
    for k, (left, top, fw, fh, idx) in enumerate(frames):
        tr = transparents[k] if transparents else None
        if tr is not None:
            out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, tr, 0])
        out += bytes([0x2C]) + struct.pack("<HHHH", left, top, fw, fh)
        inter = interlace_flags[k] if interlace_flags else False
        out.append(0x40 if inter else 0x00)
        seq = idx
        if inter:
            order = []
            for off, step in [(0, 8), (4, 8), (2, 4), (1, 2)]:
                order += list(range(off, fh, step))
            seq = idx[order]
        min_cs = max(2, size_bits + 1)
        out.append(min_cs)
        out += subblocks(lzw(seq.ravel(), min_cs))
    out.append(0x3B)
    return bytes(out)


def test_gif_decode_and_animation():
    """GIF: palette mapping, 4-pass interlace, and animated sub-rect
    frames with transparency compositing onto a persistent canvas —
    all exact against a local recomputation."""
    from segment_rtree_spark.imageio import _gif_canvas_frames

    rng = np.random.default_rng(8)
    W, H = 11, 7
    gct = rng.integers(0, 256, size=(8, 3)).astype(np.uint8)
    idx = rng.integers(0, 8, size=(H, W)).astype(np.uint8)

    buf = _build_gif(W, H, gct, [(0, 0, W, H, idx)])
    assert (decode_image(buf, "gif", W, H) == gct[idx]).all()

    buf = _build_gif(W, H, gct, [(0, 0, W, H, idx)], interlace_flags=[True])
    assert (decode_image(buf, "gif", W, H) == gct[idx]).all()

    idx2 = rng.integers(0, 8, size=(3, 4)).astype(np.uint8)
    idx2[0, 0] = 5
    buf = _build_gif(
        W, H, gct, [(0, 0, W, H, idx), (2, 1, 4, 3, idx2)],
        transparents=[None, 5],
    )
    _, _, frames = _gif_canvas_frames(buf)
    assert len(frames) == 2
    want = gct[idx].copy()
    region = want[1:4, 2:6]
    region[...] = np.where((idx2 != 5)[:, :, None], gct[idx2], region)
    assert (frames[0] == gct[idx]).all()
    assert (frames[1] == want).all()

    import pytest

    with pytest.raises(ValueError):
        decode_image(buf[:20], "gif", W, H)  # truncated
    with pytest.raises(ValueError, match="signature"):
        decode_image(b"NOTGIF" + buf[6:], "gif", W, H)


def test_bmp_decode():
    """BMP: 24-bit bottom-up with 4-byte row padding (the standard
    layout) and 32-bit top-down, plus unsupported-variant and
    truncation errors."""
    import struct

    import pytest

    rng = np.random.default_rng(9)
    h, w = 6, 5  # w*3=15 -> stride 16: exercises padding

    def bmp(px, bpp, top_down):
        hh = -h if top_down else h
        nb = bpp // 8
        stride = (w * nb + 3) & ~3
        hdr = b"BM" + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
        hdr += struct.pack("<IiiHHIIiiII", 40, w, hh, 1, bpp, 0,
                           stride * h, 0, 0, 0, 0)
        rows = bytearray()
        data = px if top_down else px[::-1]
        for y in range(h):
            if bpp == 24:
                line = data[y, :, ::-1].tobytes()  # RGB -> BGR
            else:
                line = np.concatenate(
                    [data[y, :, ::-1], np.full((w, 1), 7, np.uint8)], axis=1
                ).tobytes()  # BGRA
            rows += line + b"\x00" * (stride - len(line))
        return hdr + bytes(rows)

    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    assert (decode_image(bmp(px, 24, False), "bmp", w, h) == px).all()
    assert (decode_image(bmp(px, 32, True), "bmp", w, h) == px).all()

    rle = bytearray(bmp(px, 24, False))
    struct.pack_into("<I", rle, 30, 1)  # compression=BI_RLE8
    with pytest.raises(NotImplementedError, match="compression=1"):
        decode_image(bytes(rle), "bmp", w, h)
    with pytest.raises(ValueError, match="truncated"):
        decode_image(bmp(px, 24, False)[:-8], "bmp", w, h)
    with pytest.raises(ValueError, match="signature"):
        decode_image(b"XX" + bmp(px, 24, False)[2:], "bmp", w, h)


def test_encode_bmp_gif_roundtrip_and_guard():
    """The engine's own BMP/GIF writers round-trip bit-exactly through
    its decoders at assorted shapes; encode_gif refuses quantization
    (over-256-color images raise instead of silently degrading)."""
    import pytest

    from segment_rtree_spark.imageio import encode_bmp, encode_gif

    rng = np.random.default_rng(17)
    for h, w in ((7, 5), (16, 24), (1, 1), (3, 33)):
        px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert (decode_image(encode_bmp(px), "bmp", w, h) == px).all()
        cols = rng.integers(0, 256, size=(200, 3)).astype(np.uint8)
        pp = cols[rng.integers(0, 200, size=(h, w))]
        assert (decode_image(encode_gif(pp), "gif", w, h) == pp).all()

    many = rng.integers(0, 256, size=(20, 20, 3)).astype(np.uint8)
    assert len(np.unique(many.reshape(-1, 3), axis=0)) > 256
    with pytest.raises(ValueError, match="exceed GIF"):
        encode_gif(many)


def _packbits_enc(data: bytes) -> bytes:
    """Literal-only PackBits (valid per TIFF 6.0 §9)."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i : i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    return bytes(out)


def _tiff_lzw_enc(data: bytes) -> bytes:
    """Literal-only TIFF LZW, MSB-first: periodic CLEARs keep the
    decoder's table below the early-change point so the code width
    stays 9 bits throughout (the encoder twin of the uncompressed-GIF
    trick, for fixture generation)."""
    out = bytearray()
    acc = nb = 0

    def put(code):
        nonlocal acc, nb
        acc = (acc << 9) | code
        nb += 9
        while nb >= 8:
            out.append((acc >> (nb - 8)) & 0xFF)
            nb -= 8

    put(256)
    cnt = 0
    for b in data:
        if cnt == 200:  # decoder table: 258 + 199 entries < 511
            put(256)
            cnt = 0
        put(b)
        cnt += 1
    put(257)
    if nb:
        out.append((acc << (8 - nb)) & 0xFF)
    return bytes(out)


def _build_tiff(px, eo="<", photometric=2, strip_rows=4,
                compression=1, predictor=1):
    """Minimal TIFF writer for fixtures: either endian, multi-strip,
    gray or chunky RGB(A); compression none/LZW/Deflate/PackBits
    with optional horizontal-differencing predictor."""
    import struct
    import zlib

    h, w, spp = px.shape
    row_bytes = w * spp

    def pack_strip(rows_px):
        if predictor == 2:
            d = rows_px.copy()
            d[:, 1:] = rows_px[:, 1:] - rows_px[:, :-1]  # uint8 wraps
            rows_px = d
        raw = rows_px.tobytes()
        if compression == 5:
            return _tiff_lzw_enc(raw)
        if compression in (8, 32946):
            return zlib.compress(raw)
        if compression == 32773:
            return _packbits_enc(raw)
        return raw

    strips = []
    i = 0
    while i < h:
        rows = min(strip_rows, h - i)
        strips.append(pack_strip(px[i : i + rows]))
        i += rows
    entries = [
        (256, 3, [w]), (257, 3, [h]), (258, 3, [8] * spp),
        (259, 3, [compression]), (262, 3, [photometric]), (273, 4, None),
        (277, 3, [spp]), (278, 3, [strip_rows]),
        (279, 4, [len(c) for c in strips]),
    ]
    if predictor == 2:
        entries.append((317, 3, [2]))
    ifd_off = 8
    after_ifd = ifd_off + 2 + 12 * len(entries) + 4

    def pack_vals(typ, vals):
        return struct.pack(eo + {3: "H", 4: "I"}[typ] * len(vals), *vals)

    sizes = sum(
        len(pack_vals(t, v)) for _, t, v in entries
        if v is not None and len(pack_vals(t, v)) > 4
    )
    so_size = 4 * len(strips) if len(strips) > 1 else 0
    strips_off = after_ifd + sizes + so_size
    sofs = []
    p = strips_off
    for c in strips:
        sofs.append(p)
        p += len(c)
    out = bytearray(
        (b"II\x2a\x00" if eo == "<" else b"MM\x00\x2a")
        + struct.pack(eo + "I", ifd_off)
    )
    ifd = struct.pack(eo + "H", len(entries))
    extra = bytearray()
    eoff = after_ifd
    for tag, typ, vals in entries:
        if tag == 273:
            vals = sofs
        b = pack_vals(typ, vals)
        if len(b) <= 4:
            ifd += (struct.pack(eo + "HHI", tag, typ, len(vals)) + b
                    + b"\x00" * (4 - len(b)))
        else:
            ifd += struct.pack(eo + "HHII", tag, typ, len(vals), eoff)
            extra += b
            eoff += len(b)
    ifd += struct.pack(eo + "I", 0)
    out += ifd + extra
    for c in strips:
        out += c
    return bytes(out)


def test_tiff_decode_and_writer():
    """TIFF: both byte orders, multi-strip RGB, grayscale (incl. the
    WhiteIsZero inversion), RGBA alpha-strip, the engine's own writer
    round trip, and the unsupported-variant / corruption errors."""
    import pytest

    from segment_rtree_spark.imageio import encode_tiff

    rng = np.random.default_rng(31)
    h, w = 11, 7
    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    for eo in ("<", ">"):
        assert (decode_image(_build_tiff(px, eo), "tiff", w, h) == px).all()
    g = rng.integers(0, 256, size=(h, w, 1)).astype(np.uint8)
    assert (decode_image(_build_tiff(g, photometric=1), "tiff", w, h)[:, :, 0]
            == g[:, :, 0]).all()
    assert (decode_image(_build_tiff(g, photometric=0), "tiff", w, h)[:, :, 0]
            == 255 - g[:, :, 0]).all()
    rgba = rng.integers(0, 256, size=(h, w, 4)).astype(np.uint8)
    assert (decode_image(_build_tiff(rgba), "tiff", w, h) == rgba[:, :, :3]).all()
    assert (decode_image(encode_tiff(px), "tiff", w, h) == px).all()

    ccitt = bytearray(_build_tiff(px))
    # compression entry (tag 259) value -> 4 (CCITT T.6): valid,
    # out of this decoder's scope (LZW/Deflate/PackBits ARE in scope
    # as of round 6 — see test_tiff_compressions)
    import struct

    for k in range(9):
        off = 8 + 2 + 12 * k
        if struct.unpack_from("<H", ccitt, off)[0] == 259:
            struct.pack_into("<H", ccitt, off + 8, 4)
    with pytest.raises(NotImplementedError, match="compression=4"):
        decode_image(bytes(ccitt), "tiff", w, h)
    with pytest.raises(ValueError, match="signature"):
        decode_image(b"XXXX" + _build_tiff(px)[4:], "tiff", w, h)
    with pytest.raises(ValueError, match="truncated"):
        decode_image(_build_tiff(px)[:-5], "tiff", w, h)


def test_tiff_compressions():
    """Round-6 codec tails: LZW (MSB-first early-change), Deflate
    (both codes), PackBits, each per-strip, with and without the
    horizontal-differencing predictor — decode equals the source
    pixels exactly; corrupt compressed strips stay CorruptStream."""
    import pytest

    rng = np.random.default_rng(41)
    h, w = 13, 9
    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    # a smooth ramp exercises predictor deltas + LZW repeats
    ramp = (np.arange(h * w * 3, dtype=np.uint32) // 7 % 256).astype(
        np.uint8).reshape(h, w, 3)
    for compression in (5, 8, 32946, 32773):
        for predictor in (1, 2):
            for src in (px, ramp):
                fx = _build_tiff(src, compression=compression,
                                 predictor=predictor, strip_rows=5)
                assert (decode_image(fx, "tiff", w, h) == src).all(), (
                    compression, predictor)
    # grayscale + big-endian through a compressed path
    g = rng.integers(0, 256, size=(h, w, 1)).astype(np.uint8)
    fx = _build_tiff(g, eo=">", photometric=1, compression=8)
    assert (decode_image(fx, "tiff", w, h)[:, :, 0] == g[:, :, 0]).all()

    # corrupt Deflate payload -> CorruptStream tier (ValueError)
    bad = bytearray(_build_tiff(px, compression=8))
    bad[-10:] = b"\xff" * 10
    with pytest.raises(ValueError, match="Deflate|short of pixels"):
        decode_image(bytes(bad), "tiff", w, h)
    # truncated LZW stream -> short of pixels
    short = _build_tiff(px, compression=5, strip_rows=64)
    with pytest.raises(ValueError, match="short of pixels|truncated"):
        decode_image(short[:-20], "tiff", w, h)


def _build_pal_bmp(idx, pal, bpp, rle=False, top_down=False):
    """Paletted BMP fixture: 1/4/8-bit indices (MSB-first packing),
    BGRX color table, optional BI_RLE8 with encoded runs + absolute
    mode + EOL/EOD escapes."""
    import struct

    h, w = idx.shape
    ncol = len(pal)
    quads = np.zeros((ncol, 4), np.uint8)
    quads[:, :3] = pal[:, ::-1]  # RGB -> BGR
    if rle:
        body = bytearray()
        rows = idx if top_down else idx[::-1]
        for y in range(h):
            x = 0
            while x < w:
                run = 1
                while x + run < w and rows[y, x + run] == rows[y, x] and run < 255:
                    run += 1
                if run >= 3 or x + run == w:
                    body += bytes([run, rows[y, x]])
                    x += run
                else:  # absolute mode for short mixed spans
                    end = min(w, x + 4)
                    vals = rows[y, x:end].tobytes()
                    if len(vals) >= 3:
                        body += bytes([0, len(vals)]) + vals
                        if len(vals) & 1:
                            body += b"\x00"
                        x = end
                    else:
                        for v in vals:
                            body += bytes([1, v])
                        x = end
            body += b"\x00\x00"  # EOL
        body = bytes(body[:-2]) + b"\x00\x01"  # final EOL -> EOD
        compression, data = 1, body
    else:
        stride = ((w * bpp + 7) // 8 + 3) & ~3
        rows = np.zeros((h, stride), np.uint8)
        src = idx if top_down else idx[::-1]
        if bpp == 8:
            rows[:, :w] = src
        else:
            per = 8 // bpp
            padw = (w + per - 1) // per * per
            padded = np.zeros((h, padw), np.uint8)
            padded[:, :w] = src
            shifts = np.arange(per - 1, -1, -1) * bpp
            packed = (padded.reshape(h, -1, per) << shifts).sum(axis=2)
            rows[:, : padw // per] = packed.astype(np.uint8)
        compression, data = 0, rows.tobytes()
    data_off = 54 + 4 * ncol
    hh = -h if top_down else h
    hdr = b"BM" + struct.pack("<IHHI", data_off + len(data), 0, 0, data_off)
    hdr += struct.pack("<IiiHHIIiiII", 40, w, hh, 1, bpp, compression,
                       len(data), 0, 0, ncol, 0)
    return hdr + quads.tobytes() + data


def test_bmp_paletted_and_rle8():
    """Round-6 codec tails: 1/4/8-bit paletted BMPs (color table,
    MSB-first packing, bottom-up and top-down) and BI_RLE8 (runs,
    absolute mode, EOL/EOD) decode exactly; invalid bpp/compression
    combos decline and structural breakage stays CorruptStream."""
    import struct

    import pytest

    rng = np.random.default_rng(43)
    h, w = 9, 11
    pal = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    for bpp in (1, 4, 8):
        ncol = 1 << bpp
        idx = rng.integers(0, ncol, size=(h, w)).astype(np.uint8)
        for td in (False, True):
            fx = _build_pal_bmp(idx, pal[:ncol], bpp, top_down=td)
            assert (decode_image(fx, "bmp", w, h) == pal[:ncol][idx]).all(), (
                bpp, td)
    # RLE8: runs + mixed spans, both orientations
    idx = np.concatenate(
        [np.full((h, 6), 3, np.uint8),
         rng.integers(0, 200, size=(h, w - 6)).astype(np.uint8)], axis=1
    )
    for td in (False, True):
        fx = _build_pal_bmp(idx, pal, 8, rle=True, top_down=td)
        assert (decode_image(fx, "bmp", w, h) == pal[idx]).all(), td

    # RLE8 claimed at bpp=4 (spec-invalid combo): declined
    fx = bytearray(_build_pal_bmp(rng.integers(0, 16, size=(h, w)).astype(
        np.uint8), pal[:16], 4))
    struct.pack_into("<HI", fx, 28, 4, 1)  # bpp=4, compression=BI_RLE8
    with pytest.raises(NotImplementedError, match="compression=1"):
        decode_image(bytes(fx), "bmp", w, h)
    # out-of-range palette index -> CorruptStream
    small = _build_pal_bmp(np.full((h, w), 5, np.uint8), pal[:4], 8)
    with pytest.raises(ValueError, match="palette index"):
        decode_image(small, "bmp", w, h)
    # truncated color table -> CorruptStream
    fx = _build_pal_bmp(np.zeros((h, w), np.uint8), pal, 8)
    with pytest.raises(ValueError, match="truncated BMP color table"):
        decode_image(fx[:60], "bmp", w, h)

def _rle4_body(idx, top_down=False):
    """BI_RLE4 stream for idx rows: alternating-nibble encoded runs,
    absolute spans (word-aligned), EOL per row, final EOD."""
    out = bytearray()
    h, w = idx.shape
    rows = idx if top_down else idx[::-1]
    for y in range(h):
        x = 0
        while x < w:
            a = int(rows[y, x])
            b = int(rows[y, x + 1]) if x + 1 < w else a
            run = 0
            while (x + run < w and run < 255
                   and int(rows[y, x + run]) == (a if run % 2 == 0 else b)):
                run += 1
            if run >= 3:
                out += bytes([run, (a << 4) | b])
                x += run
            else:
                span = min(w - x, 254)
                if span < 3:  # absolute minimum is 3: emit unit runs
                    for k in range(span):
                        out += bytes([1, int(rows[y, x + k]) << 4])
                else:
                    out += bytes([0, span])
                    nb = (span + 1) // 2
                    pk = bytearray(nb)
                    for k in range(span):
                        pk[k // 2] |= int(rows[y, x + k]) << (
                            4 if k % 2 == 0 else 0)
                    out += pk
                    if nb % 2:
                        out += b"\x00"
                x += span
        out += b"\x00\x00"  # EOL
    out[-1:] = b"\x01"  # final EOL -> EOD
    return bytes(out)


def _build_rle4_bmp(idx, pal, top_down=False, body=None):
    import struct

    h, w = idx.shape
    ncol = len(pal)
    quads = np.zeros((ncol, 4), np.uint8)
    quads[:, :3] = pal[:, ::-1]
    data = _rle4_body(idx, top_down) if body is None else body
    data_off = 54 + 4 * ncol
    hh = -h if top_down else h
    hdr = b"BM" + struct.pack("<IHHI", data_off + len(data), 0, 0, data_off)
    hdr += struct.pack("<IiiHHIIiiII", 40, w, hh, 1, 4, 2,
                       len(data), 0, 0, ncol, 0)
    return hdr + quads.tobytes() + data


def test_bmp_rle4():
    """BI_RLE4 (round 7): alternating-nibble encoded runs, absolute
    mode with word alignment, delta escapes (skipped pixels stay
    index 0), EOL/EOD, both row orders — plus the CorruptStream
    taxonomy for structural breakage."""
    import pytest

    rng = np.random.default_rng(47)
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    h, w = 9, 13
    for trial in range(6):
        idx = rng.integers(0, 16, size=(h, w)).astype(np.uint8)
        if trial % 2:  # flat spans exercise the encoded-run path
            idx[:, : w // 2] = idx[0, 0]
        for td in (False, True):
            fx = _build_rle4_bmp(idx, pal, top_down=td)
            assert (decode_image(fx, "bmp", w, h) == pal[idx]).all(), (
                trial, td)
    # delta escape: run at origin, delta (+3, +2), run — holes stay 0
    body = bytes([4, 0x5A]) + b"\x00\x02\x03\x02" + bytes([2, 0x77]) + b"\x00\x01"
    expect = np.zeros((h, w), np.uint8)
    expect[h - 1, 0:4] = [5, 10, 5, 10]
    expect[h - 3, 7:9] = [7, 7]
    fx = _build_rle4_bmp(expect, pal, body=body)
    assert (decode_image(fx, "bmp", w, h) == pal[expect]).all()
    # run exceeding the row -> CorruptStream
    fx = _build_rle4_bmp(expect, pal, body=bytes([255, 0x11]) + b"\x00\x01")
    with pytest.raises(ValueError, match="RLE4 run exceeds row"):
        decode_image(fx, "bmp", w, h)
    # missing end-of-data -> CorruptStream
    fx = _build_rle4_bmp(expect, pal, body=bytes([4, 0x5A]))
    with pytest.raises(ValueError, match="RLE4 stream missing end-of-data"):
        decode_image(fx, "bmp", w, h)


def _build_16bit_bmp(px, masks=None, compression=0, top_down=False):
    """uint8[h,w,3] -> 16-bit BMP bytes; masks None = BI_RGB 5-5-5,
    else BI_BITFIELDS with the three DWORD masks after the header."""
    import struct

    h, w, _ = px.shape
    use = masks or (0x7C00, 0x03E0, 0x001F)
    v = np.zeros((h, w), np.uint32)
    for c, mask in enumerate(use):
        shift = (mask & -mask).bit_length() - 1
        top = mask >> shift
        v |= ((px[:, :, c].astype(np.uint32) * top + 127) // 255) << shift
    stride = (w * 2 + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 2] = v.astype("<u2").view(np.uint8).reshape(h, w * 2)
    if not top_down:
        rows = rows[::-1]
    extra = struct.pack("<III", *use) if compression == 3 else b""
    data = rows.tobytes()
    data_off = 54 + len(extra)
    hh = -h if top_down else h
    hdr = b"BM" + struct.pack("<IHHI", data_off + len(data), 0, 0, data_off)
    hdr += struct.pack("<IiiHHIIiiII", 40, w, hh, 1, 16, compression,
                       len(data), 0, 0, 0, 0)
    return hdr + extra + data


def _quantize(px, masks):
    out = np.empty_like(px)
    for c, mask in enumerate(masks):
        shift = (mask & -mask).bit_length() - 1
        top = mask >> shift
        q = (px[:, :, c].astype(np.uint32) * top + 127) // 255
        out[:, :, c] = ((q * 255 + top // 2) // top).astype(np.uint8)
    return out


def test_bmp_16bit_and_bitfields():
    """16-bit BMPs (round 7): BI_RGB default 5-5-5 and BI_BITFIELDS
    (5-6-5 and 5-5-5 masks), both row orders, channels rescaled
    max->255; malformed masks are CorruptStream and spec-invalid
    16-bit compression combos decline."""
    import struct

    import pytest

    rng = np.random.default_rng(53)
    h, w = 9, 11
    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    m555 = (0x7C00, 0x03E0, 0x001F)
    m565 = (0xF800, 0x07E0, 0x001F)
    for masks, comp in ((None, 0), (m555, 3), (m565, 3)):
        for td in (False, True):
            fx = _build_16bit_bmp(px, masks, comp, top_down=td)
            got = decode_image(fx, "bmp", w, h)
            assert (got == _quantize(px, masks or m555)).all(), (masks, td)
    # overlapping masks -> CorruptStream
    fx = bytearray(_build_16bit_bmp(px, m565, 3))
    struct.pack_into("<III", fx, 54, 0xF800, 0x0FE0, 0x001F)
    with pytest.raises(ValueError, match="masks overlap"):
        decode_image(bytes(fx), "bmp", w, h)
    # zero mask -> CorruptStream
    struct.pack_into("<III", fx, 54, 0xF800, 0x07E0, 0)
    with pytest.raises(ValueError, match="mask out of range"):
        decode_image(bytes(fx), "bmp", w, h)
    # non-contiguous mask -> CorruptStream
    struct.pack_into("<III", fx, 54, 0xF800, 0x07E0, 0x0015)
    with pytest.raises(ValueError, match="not contiguous"):
        decode_image(bytes(fx), "bmp", w, h)
    # 16-bit + RLE8 (spec-invalid): declined
    fx = bytearray(_build_16bit_bmp(px))
    struct.pack_into("<I", fx, 30, 1)
    with pytest.raises(NotImplementedError, match="compression=1"):
        decode_image(bytes(fx), "bmp", w, h)
    # truncated pixel data -> CorruptStream
    fx = _build_16bit_bmp(px)
    with pytest.raises(ValueError, match="truncated BMP pixel data"):
        decode_image(fx[:-40], "bmp", w, h)


def _codec_pixels(seed, i):
    """A smooth row of the benchmark's validate corpus
    (perfbench.workloads.codec_pixels, non-palette formats)."""
    rng = np.random.default_rng([seed, i])
    w, h = (int(v) for v in rng.integers(96, 161, 2))
    a, b = rng.uniform(0.4, 1.0, 2)
    off = rng.integers(0, 64, 3)
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([off[0] + a * 191 * yy / (h - 1),
                     off[1] + b * 191 * xx / (w - 1),
                     off[2] + 191 * (yy + xx) / (h + w - 2)],
                    axis=-1).astype(np.uint8)


# sha256 of each encoder's output on _codec_pixels(7, 0..2), taken from
# the encoders as they stood before the shared prefix-code module
# (numpy with OpenBLAS on x86-64: the JPEG DCT runs through BLAS).
ENCODER_SHA256 = {
    "webp": (
        "2039989b8e67c379e66ef02594fdc7fe72588600016fa0ab27ebe56dfd577512",
        "d3e02954645f8750636c73a691792f71f1a78ed2fae759738864e1f0f22b5d5b",
        "b3d8cedf7ab647bfd77df492d13dc98eda35330168e0fedeedbf69ae4636013e",
    ),
    "jpeg": (
        "63e056c7385f60d80e0f1bc2a545df32acd8371b15a1ffb2c00a5709381d94be",
        "820775356762e48c1b534433fe1259dc7c2cd5b065d0aa5986e5b932b3d88694",
        "7aadad817005485554b60d8d3568480f39ed4d7d60534cff9d2b0f2ed667789f",
    ),
    "jpeg_prog": (
        "20266f1826b8a5ad535dc55ea3ebfdcc55541650854572baae24a96787c484ed",
        "7206838ede261cc1c918e69bf147e2830a5a8acf432d1ccef74460a85190ad20",
        "a8148c955a8918055ee53c73a1ca61d173001d75580db2a191f5542aeb9cc4d8",
    ),
    "tiff_g4": (
        "2d983a2129d6888b8496514b4ed9527badeef7617a5d8da4564ff5a0c8136c29",
        "c608c23fefdf400276234df4351f52680d16ab700fa1cac470741b7674151093",
        "f1001a81a91af1d880b483e9c72f725044d8b19f3532cc20a8578faeda6c638d",
    ),
}


def test_encoder_bytes_pinned():
    """The prefix-coded encoders' output, byte for byte: the ingest
    corpus and the payload oracles are built from these bytes, and
    the encoders read their codes from the shared prefix module."""
    import hashlib

    from segment_rtree_spark.ccitt import encode_tiff_g4
    from segment_rtree_spark.jpegio import encode_jpeg
    from segment_rtree_spark.webp import encode_webp

    encoders = {
        "webp": encode_webp,
        "jpeg": lambda p: encode_jpeg(p, 90),
        "jpeg_prog": lambda p: encode_jpeg(p, 90, progressive=True),
        "tiff_g4": lambda p: encode_tiff_g4(  # bilevel, as codec_pixels
            np.repeat(((p[:, :, :1] >= 128) * 255).astype(np.uint8), 3, axis=2)),
    }
    for fmt, enc in encoders.items():
        got = tuple(hashlib.sha256(enc(_codec_pixels(7, i))).hexdigest()
                    for i in range(3))
        assert got == ENCODER_SHA256[fmt], fmt
