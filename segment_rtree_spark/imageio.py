"""Image codec + perceptual-hash kernels (pure NumPy + stdlib zlib).

No image library exists in this container, and the graft's synthetic
corpus is controlled end-to-end, so the engine defines two LOSSLESS
wire formats for the `bytes:binary` column (decoded-pixel equality is
therefore exact; the PSNR>=40dB gate only applies if a lossy format is
ever added — `psnr` is provided for that check):

  * fmt='raw': w*h*3 little-endian uint8 RGB, row-major;
  * fmt='png': a real, spec-compliant PNG (8-bit RGB, filter 0), built
    with stdlib zlib — readable by any standard decoder.

fmt='jpeg' is REAL as of round 4: a pure-NumPy baseline JFIF codec
(`jpegio.py` — encoder + decoder, tables embedded per spec, round
trip PSNR>=40dB at quality>=90 on smooth content; progressive decode
since round 6). Round 5 added DECODE for the remaining common crawl
formats: fmt='png' covers the full external spec (all color types,
depths 1-16, Adam7), fmt='bmp' (BI_RGB 24/32-bit; round 6 adds
1/4/8-bit paletted + RLE8; round 7 adds RLE4 and 16/32-bit
BI_BITFIELDS) and fmt='gif' (LZW, palettes, interlace, animated via
_gif_canvas_frames); round 6 adds compressed TIFF
(LZW/Deflate/PackBits + predictor) and fmt='webp' lossless (full
VP8L decode + a literal-only encoder, webp.py — libwebp-conformance
tested); round 7 adds animated webp (ANIM/ANMF compositing,
webp.webp_canvas_frames) and CCITT fax TIFF (Modified Huffman /
T.4 Group 3 1D+2D / T.6 Group 4 bilevel strips, ccitt.py, with a G4
encoder — javax-conformance-tested over every run-length code). Only
inter-frame video (mp4/h264) and lossy VP8 stay
stubbed behind NotImplementedError: the Spark-side plumbing (binary
column + typed metadata, one arrow_map.row_map kernel per operator)
is identical, only the per-image codec body differs.

`phash64` is a 64-bit average-hash: downsample to 8x8 luma by block
mean, threshold at the mean. Deterministic, pure NumPy.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .codec_errors import DimensionMismatchError

__all__ = [
    "encode_raw",
    "encode_png",
    "encode_jpeg",
    "encode_bmp",
    "encode_gif",
    "encode_tiff",
    "encode_webp",
    "decode_image",
    "decode_batch",
    "phash64",
    "psnr",
    "hamming64",
]


def encode_jpeg(pixels: np.ndarray, quality: int = 90) -> bytes:
    """uint8[h,w,3] -> baseline JFIF bytes (see jpegio for the scope)."""
    from .jpegio import encode_jpeg as _enc

    return _enc(pixels, quality)


def encode_webp(pixels: np.ndarray) -> bytes:
    """uint8[h,w,3] -> lossless VP8L webp (see webp.py for the scope)."""
    from .webp import encode_webp as _enc

    return _enc(pixels)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_raw(pixels: np.ndarray) -> bytes:
    """uint8[h,w,3] -> raw RGB bytes."""
    return np.ascontiguousarray(pixels, dtype=np.uint8).tobytes()


def encode_png(pixels: np.ndarray) -> bytes:
    """uint8[h,w,3] -> minimal spec-compliant PNG (color type 2, filter 0)."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # prepend filter byte 0 to each row
    raw = np.concatenate([np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def encode_bmp(pixels: np.ndarray) -> bytes:
    """uint8[h,w,3] -> 24-bit BI_RGB bottom-up BMP (the standard
    layout: BGR byte order, rows padded to 4 bytes). Lossless."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    hdr = b"BM" + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
    hdr += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                       2835, 2835, 0, 0)
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    return hdr + rows.tobytes()


def encode_gif(pixels: np.ndarray) -> bytes:
    """uint8[h,w,3] -> single-frame GIF89a. The palette is built from
    the image's distinct colors (ValueError beyond 256 — quantization
    is a modeling choice this engine does not make silently), so the
    round trip is LOSSLESS for palette-sized imagery. The LZW layer
    emits literal codes with periodic CLEARs (spec-compliant
    'uncompressed GIF'): simple, deterministic, and decoded by every
    conformant reader — compression ratio is the trade."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    flat = px.reshape(-1, 3)
    pal, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(pal) > 256:
        raise ValueError(f"{len(pal)} distinct colors exceed GIF's 256")
    size_bits = max(0, (max(2, len(pal)) - 1).bit_length() - 1)
    ncol = 2 << size_bits
    table = np.zeros((ncol, 3), np.uint8)
    table[: len(pal)] = pal
    min_cs = max(2, size_bits + 1)
    clear = 1 << min_cs
    end = clear + 1
    cs = min_cs + 1
    budget = (1 << cs) - clear - 2  # table slots before the width bumps
    # Vectorized emit: every code in the literal scheme is exactly cs
    # bits (the periodic CLEARs keep the decoder's table — and hence
    # its code width — from ever growing), so the stream is one
    # fixed-width LSB-first bit-pack of [CLEAR, block, CLEAR, block,
    # ..., END] with blocks of `budget` literals. Replaces a
    # per-pixel Python loop.
    nidx = idx.astype(np.uint32)
    chunks = [np.array([clear], np.uint32)]
    for s in range(0, len(nidx), budget):
        if s:
            chunks.append(np.array([clear], np.uint32))
        chunks.append(nidx[s : s + budget])
    chunks.append(np.array([end], np.uint32))
    codes = np.concatenate(chunks)
    bits = ((codes[:, None] >> np.arange(cs)) & 1).astype(np.uint8)
    # packbits zero-pads the final partial byte, as the spec's
    # byte-aligned sub-block framing expects
    out = np.packbits(bits.ravel(), bitorder="little").tobytes()
    gif = bytearray(b"GIF89a") + struct.pack("<HH", w, h)
    gif.append(0x80 | size_bits)
    gif += b"\x00\x00" + table.tobytes()
    gif += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h) + bytes([0x00, min_cs])
    for i in range(0, len(out), 255):
        part = out[i : i + 255]
        gif.append(len(part))
        gif += part
    gif += bytes([0, 0x3B])
    return bytes(gif)


def encode_tiff(pixels: np.ndarray) -> bytes:
    """uint8[h,w,3] -> uncompressed little-endian baseline TIFF (one
    chunky RGB strip, the minimal spec-compliant layout). Lossless."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    data = px.tobytes()
    entries = [
        (256, 3, [w]), (257, 3, [h]), (258, 3, [8, 8, 8]),
        (259, 3, [1]), (262, 3, [2]), (273, 4, None),  # strip offset later
        (277, 3, [3]), (278, 3, [h]), (279, 4, [len(data)]),
    ]
    ifd_off = 8
    after_ifd = ifd_off + 2 + 12 * len(entries) + 4
    extra = bytearray()
    # BitsPerSample (3 shorts = 6 bytes) is the only out-of-line value
    strips_off = after_ifd + 6
    out = bytearray(b"II\x2a\x00") + struct.pack("<I", ifd_off)
    ifd = struct.pack("<H", len(entries))
    eoff = after_ifd
    for tag, typ, vals in entries:
        if tag == 273:
            vals = [strips_off]
        fmtc = {3: "H", 4: "I"}[typ]
        b = struct.pack("<" + fmtc * len(vals), *vals)
        if len(b) <= 4:
            ifd += struct.pack("<HHI", tag, typ, len(vals)) + b + b"\x00" * (4 - len(b))
        else:
            ifd += struct.pack("<HHII", tag, typ, len(vals), eoff)
            extra += b
            eoff += len(b)
    ifd += struct.pack("<I", 0)
    return bytes(out + ifd + extra + data)


def decode_image(buf: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """binary + metadata -> uint8[h,w,3]."""
    if fmt == "raw":
        return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "png":
        return _decode_png(buf, w, h)
    if fmt == "jpeg":
        from .jpegio import decode_jpeg

        return decode_jpeg(buf, expect=(w, h))
    if fmt == "bmp":
        return _decode_bmp(buf, w, h)
    if fmt == "gif":
        return _decode_gif(buf, w, h)
    if fmt == "tiff":
        return _decode_tiff(buf, w, h)
    if fmt == "webp":
        from .webp import decode_webp

        px = decode_webp(buf, expect=(w, h))
        if px.shape != (h, w, 3):
            raise DimensionMismatchError(
                f"WEBP {px.shape[1]}x{px.shape[0]} != metadata {w}x{h}"
            )
        return px
    # inter-frame video decode needs codecs not present in this
    # container — the distributed plumbing is identical; only this
    # per-batch body changes.
    raise NotImplementedError(f"codec for fmt={fmt!r} not available in this environment")


def _decode_bmp(buf: bytes, w: int, h: int) -> np.ndarray:
    """Windows BMP -> uint8[h,w,3]: uncompressed (BI_RGB) 24/32-bit
    DIBs, paletted 1/4/8-bit DIBs (BGRX color table), RLE8 and RLE4
    (round 7), and 16/32-bit masked pixels (BI_RGB 5-5-5 default or
    BI_BITFIELDS masks, round 7) — bottom-up or top-down, with the
    4-byte row padding the format requires. Spec-invalid
    bpp/compression combos raise NotImplementedError (CodecUnavailable
    tier)."""
    if buf[:2] != b"BM":
        raise ValueError("missing BMP signature")
    if len(buf) < 54:
        raise ValueError("truncated BMP header")
    (data_off,) = struct.unpack_from("<I", buf, 10)
    (hdr_size,) = struct.unpack_from("<I", buf, 14)
    if hdr_size < 40:
        raise NotImplementedError(f"BMP core header {hdr_size} unsupported")
    bw_, bh_ = struct.unpack_from("<ii", buf, 18)
    planes, bpp = struct.unpack_from("<HH", buf, 26)
    (compression,) = struct.unpack_from("<I", buf, 30)
    (clr_used,) = struct.unpack_from("<I", buf, 46)
    top_down = bh_ < 0
    bh = -bh_ if top_down else bh_
    if (bw_, bh) != (w, h):
        raise DimensionMismatchError(f"BMP {bw_}x{bh} != metadata {w}x{h}")
    if bpp in (1, 4, 8):
        pal = _bmp_palette(buf, hdr_size, bpp, clr_used)
        if compression == 0:
            idx = _bmp_unpack_indices(buf, data_off, w, h, bpp)
        elif compression == 1 and bpp == 8:
            idx = _bmp_rle8(buf, data_off, w, h)
        elif compression == 2 and bpp == 4:
            idx = _bmp_rle4(buf, data_off, w, h)
        else:
            # spec-invalid combos (RLE8 at bpp!=8, RLE4 at bpp!=4):
            # declined, not treated as corruption
            raise NotImplementedError(
                f"BMP bpp={bpp} compression={compression} unsupported"
            )
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("BMP palette index out of range")
        px = pal[idx]
        return px if top_down else px[::-1]
    if bpp == 16 or (bpp == 32 and compression == 3):
        if compression not in (0, 3):
            raise NotImplementedError(
                f"BMP bpp={bpp} compression={compression} unsupported"
            )
        masks = _bmp_bitfield_masks(buf, compression, bpp)
        px = _bmp_bitfields(buf, data_off, w, h, bpp, masks)
        return px if top_down else px[::-1]
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"BMP bpp={bpp} compression={compression} unsupported"
        )
    nbytes = bpp // 8
    stride = (w * nbytes + 3) & ~3  # rows pad to 4-byte boundaries
    need = data_off + stride * h
    if len(buf) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(buf, np.uint8, count=stride * h, offset=data_off)
    px = rows.reshape(h, stride)[:, : w * nbytes].reshape(h, w, nbytes)
    if not top_down:
        px = px[::-1]
    return px[:, :, 2::-1]  # BGR(A) -> RGB, alpha dropped


def _bmp_palette(buf: bytes, hdr_size: int, bpp: int, clr_used: int) -> np.ndarray:
    """BGRX color table following the info header -> uint8[n,3] RGB."""
    ncol = clr_used or (1 << bpp)
    if ncol > 256:
        raise ValueError(f"BMP color table of {ncol} entries")
    off = 14 + hdr_size
    if off + 4 * ncol > len(buf):
        raise ValueError("truncated BMP color table")
    quads = np.frombuffer(buf, np.uint8, count=4 * ncol, offset=off).reshape(
        ncol, 4
    )
    return quads[:, 2::-1].copy()  # BGRX -> RGB


def _bmp_unpack_indices(buf: bytes, data_off: int, w: int, h: int,
                        bpp: int) -> np.ndarray:
    """Uncompressed paletted rows -> uint8[h,w] indices (bottom-up row
    order preserved; caller flips). 1/4-bit pixels pack MSB-first."""
    stride = ((w * bpp + 7) // 8 + 3) & ~3
    if data_off + stride * h > len(buf):
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(buf, np.uint8, count=stride * h, offset=data_off)
    rows = rows.reshape(h, stride)
    if bpp == 8:
        return rows[:, :w]
    bits = np.unpackbits(np.ascontiguousarray(rows), axis=1)[:, : w * bpp]
    vals = bits.reshape(h, w, bpp)
    weights = (1 << np.arange(bpp - 1, -1, -1)).astype(np.uint8)
    return (vals * weights).sum(axis=2).astype(np.uint8)


def _bmp_rle8(buf: bytes, data_off: int, w: int, h: int) -> np.ndarray:
    """BI_RLE8 -> uint8[h,w] indices in the file's bottom-up row order
    (caller flips). Encoded runs (count, value), escapes 0x00: 0=EOL,
    1=EOD, 2=delta(dx,dy) — skipped pixels stay index 0 — else
    absolute mode padded to a word boundary."""
    idx = np.zeros((h, w), np.uint8)
    x = y = 0
    i, n = data_off, len(buf)
    while i + 1 < n:
        cnt, val = buf[i], buf[i + 1]
        i += 2
        if cnt:  # encoded run
            if x + cnt > w or y >= h:
                raise ValueError("BMP RLE8 run exceeds row")
            idx[y, x : x + cnt] = val
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of data
            return idx
        elif val == 2:  # delta
            if i + 2 > n:
                raise ValueError("truncated BMP RLE8 delta")
            x += buf[i]
            y += buf[i + 1]
            i += 2
            if x > w or y > h:
                raise ValueError("BMP RLE8 delta out of bounds")
        else:  # absolute mode, word-aligned
            if x + val > w or y >= h or i + val > n:
                raise ValueError("BMP RLE8 absolute run exceeds row")
            idx[y, x : x + val] = np.frombuffer(buf, np.uint8, count=val, offset=i)
            x += val
            i += val + (val & 1)
    raise ValueError("BMP RLE8 stream missing end-of-data")


def _bmp_rle4(buf: bytes, data_off: int, w: int, h: int) -> np.ndarray:
    """BI_RLE4 -> uint8[h,w] indices in the file's bottom-up row order
    (caller flips). Encoded runs repeat the value byte's TWO nibbles
    alternating (high first); escapes 0x00: 0=EOL, 1=EOD, 2=delta —
    skipped pixels stay index 0 — else absolute mode: `val` nibbles
    packed two per byte, the byte span padded to a word boundary."""
    idx = np.zeros((h, w), np.uint8)
    x = y = 0
    i, n = data_off, len(buf)
    while i + 1 < n:
        cnt, val = buf[i], buf[i + 1]
        i += 2
        if cnt:  # encoded run of alternating nibbles
            if x + cnt > w or y >= h:
                raise ValueError("BMP RLE4 run exceeds row")
            pair = np.array([val >> 4, val & 0xF], np.uint8)
            idx[y, x : x + cnt] = np.tile(pair, (cnt + 1) // 2)[:cnt]
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of data
            return idx
        elif val == 2:  # delta
            if i + 2 > n:
                raise ValueError("truncated BMP RLE4 delta")
            x += buf[i]
            y += buf[i + 1]
            i += 2
            if x > w or y > h:
                raise ValueError("BMP RLE4 delta out of bounds")
        else:  # absolute mode: val nibbles, word-aligned byte span
            nb = (val + 1) // 2
            if x + val > w or y >= h or i + nb > n:
                raise ValueError("BMP RLE4 absolute run exceeds row")
            packed = np.frombuffer(buf, np.uint8, count=nb, offset=i)
            nibbles = np.empty(nb * 2, np.uint8)
            nibbles[0::2] = packed >> 4
            nibbles[1::2] = packed & 0xF
            idx[y, x : x + val] = nibbles[:val]
            x += val
            i += (nb + 1) & ~1
    raise ValueError("BMP RLE4 stream missing end-of-data")


def _bmp_bitfield_masks(buf: bytes, compression: int,
                        bpp: int) -> tuple:
    """(r, g, b) channel masks for 16/32-bit pixels. BI_BITFIELDS
    stores three DWORDs at absolute offset 54 — immediately after a
    40-byte info header, and at the same position INSIDE a V4/V5
    header (bV4RedMask starts at header byte 40). BI_RGB 16-bit
    defaults to X1R5G5B5. Masks must be nonzero, contiguous and
    non-overlapping (CorruptStream otherwise)."""
    if compression != 3:
        return 0x7C00, 0x03E0, 0x001F
    if len(buf) < 66:
        raise ValueError("truncated BMP bitfield masks")
    r, g, b = struct.unpack_from("<III", buf, 54)
    full = (1 << bpp) - 1
    for m in (r, g, b):
        if not m or m > full:
            raise ValueError("BMP bitfield mask out of range")
        span = m >> ((m & -m).bit_length() - 1)
        if span & (span + 1):
            raise ValueError("BMP bitfield mask not contiguous")
    if r & g or g & b or r & b:
        raise ValueError("BMP bitfield masks overlap")
    return r, g, b


def _bmp_bitfields(buf: bytes, data_off: int, w: int, h: int, bpp: int,
                   masks: tuple) -> np.ndarray:
    """16/32-bit masked pixels -> uint8[h,w,3] in file row order
    (caller flips bottom-up). Channels rescale max-value -> 255 with
    rounding — the DirectColorModel conversion javax.imageio applies,
    so the interop tests compare bit-exact."""
    nbytes = bpp // 8
    stride = (w * nbytes + 3) & ~3
    if data_off + stride * h > len(buf):
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(buf, np.uint8, count=stride * h, offset=data_off)
    rows = rows.reshape(h, stride)[:, : w * nbytes]
    dt = "<u2" if bpp == 16 else "<u4"
    v = np.ascontiguousarray(rows).reshape(h, w, nbytes).view(dt)[
        ..., 0].astype(np.uint32)
    out = np.empty((h, w, 3), np.uint8)
    for c, mask in enumerate(masks):
        shift = (mask & -mask).bit_length() - 1
        top = mask >> shift
        ch = (v & mask) >> shift
        out[:, :, c] = ((ch * 255 + top // 2) // top).astype(np.uint8)
    return out


def _decode_tiff(buf: bytes, w: int, h: int) -> np.ndarray:
    """TIFF -> uint8[h,w,3]: chunky strips, either byte order, 8-bit
    grayscale (photometric 0/1, inverted handled) and RGB/RGBA (alpha
    stripped); compressions none (1), LZW (5, MSB-first early-change
    variant of the GIF core), Deflate (8 / legacy 32946, stdlib
    zlib) and PackBits (32773), each strip an independent stream,
    with horizontal-differencing predictor 2 undone per row; CCITT
    fax compressions (2 = Modified Huffman, 3 = T.4, 4 = T.6) route
    to the bilevel decoder in ccitt.py.
    Paletted / 16-bit / planar variants are valid files this
    decoder declines (NotImplementedError -> CodecUnavailable);
    structural breakage raises ValueError (CorruptStream)."""
    if buf[:4] == b"II\x2a\x00":
        eo = "<"
    elif buf[:4] == b"MM\x00\x2a":
        eo = ">"
    else:
        raise ValueError("missing TIFF signature")
    (ifd_off,) = struct.unpack_from(eo + "I", buf, 4)
    if ifd_off + 2 > len(buf):
        raise ValueError("truncated TIFF IFD")
    (n_ent,) = struct.unpack_from(eo + "H", buf, ifd_off)
    tags: dict[int, list[int]] = {}
    type_size = {1: 1, 3: 2, 4: 4}
    for k in range(n_ent):
        off = ifd_off + 2 + 12 * k
        if off + 12 > len(buf):
            raise ValueError("truncated TIFF IFD entry")
        tag, typ = struct.unpack_from(eo + "HH", buf, off)
        (cnt,) = struct.unpack_from(eo + "I", buf, off + 4)
        if typ not in type_size:
            continue  # rationals etc: not needed for the baseline set
        sz = type_size[typ]
        if sz * cnt <= 4:
            vo = off + 8
        else:
            (vo,) = struct.unpack_from(eo + "I", buf, off + 8)
        if vo + sz * cnt > len(buf):
            raise ValueError("truncated TIFF tag values")
        fmtc = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack_from(eo + fmtc * cnt, buf, vo))

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    tw, th = one(256), one(257)
    if (tw, th) != (w, h):
        raise DimensionMismatchError(f"TIFF {tw}x{th} != metadata {w}x{h}")
    compression = one(259, 1)
    photometric = one(262)
    spp = one(277, 1)
    bits = tags.get(258, [1])  # TIFF default BitsPerSample = 1
    planar = one(284, 1)
    predictor = one(317, 1)
    if compression in (2, 3, 4):
        # CCITT fax strips: bilevel only (that IS the codec's domain)
        if planar != 1 or bits != [1] or spp != 1 or predictor != 1 or \
                photometric not in (0, 1):
            raise NotImplementedError(
                f"TIFF CCITT compression={compression} with "
                f"photometric={photometric} spp={spp} bits={bits} "
                f"planar={planar} predictor={predictor} unsupported "
                "(1-bit single-sample bilevel only)"
            )
        return _tiff_ccitt(buf, tags, one, w, h, compression, photometric)
    if compression not in (1, 5, 8, 32773, 32946) or planar != 1 or \
            any(b != 8 for b in bits) or predictor not in (1, 2) or \
            photometric not in (0, 1, 2) or spp not in (1, 3, 4):
        raise NotImplementedError(
            f"TIFF compression={compression} photometric={photometric} "
            f"spp={spp} bits={bits} planar={planar} predictor={predictor} "
            "unsupported (8-bit chunky gray/RGB, compression "
            "none/LZW/Deflate/PackBits/CCITT only)"
        )
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip layout")
    data = bytearray()
    # bounded inflate: the dims are already pinned to the table
    # metadata, so the decompressed total is known (plus slack for
    # writers that pad the last strip to full rows-per-strip) — a
    # compression bomb strip is rejected at the cap instead of
    # exhausting executor memory
    need = w * h * spp
    cap = need + 65536
    for o, c in zip(offsets, counts):
        if o + c > len(buf):
            raise ValueError("truncated TIFF strip")
        strip = buf[o : o + c]
        room = cap - len(data)
        if compression in (8, 32946):
            d = zlib.decompressobj()
            try:
                strip = d.decompress(strip, room + 1)
            except zlib.error as e:
                raise ValueError(f"corrupt TIFF Deflate strip: {e}") from e
            if len(strip) <= room and not d.eof:
                # output stopped before the trailer without hitting
                # the cap: truncated/unterminated deflate stream
                raise ValueError(
                    "corrupt TIFF Deflate strip: truncated stream"
                )
        elif compression == 5:
            strip = _tiff_lzw(strip, limit=room + 1)
        elif compression == 32773:
            strip = _packbits(strip, limit=room + 1)
        data += strip
        if len(data) > cap:
            raise ValueError("TIFF strips inflate beyond the pixel-data size")
    if len(data) < need:
        raise ValueError("TIFF strips short of pixels")
    px = np.frombuffer(bytes(data[:need]), np.uint8).reshape(h, w, spp)
    if predictor == 2:  # horizontal differencing: undo per row
        px = np.cumsum(px.astype(np.uint32), axis=1).astype(np.uint8)
    if spp == 1:
        if photometric == 0:  # WhiteIsZero: invert
            px = 255 - px
        return np.repeat(px, 3, axis=2)
    return px[:, :, :3]  # RGBA: strip alpha


def _tiff_ccitt(buf, tags, one, w, h, compression, photometric):
    """CCITT-compressed bilevel TIFF strips -> uint8[h,w,3].

    Compression 2 (Modified Huffman), 3 (T.4 Group 3, T4Options bit 0
    selects 2D), 4 (T.6 Group 4). Each strip restarts the coder per
    the TIFF independent-strip contract; FillOrder 2 (LSB-first
    bytes) honored. Output allocation is pinned by the already-
    validated metadata dims; the row decoder carries its own
    no-advance budget, so a hostile stream can neither spin nor
    inflate (same posture as the LZW/Deflate caps above)."""
    from .ccitt import decode_ccitt_strip

    t4opt = one(292, 0)
    t6opt = one(293, 0)
    fill_order = one(266, 1)
    if (compression == 3 and t4opt & 2) or (compression == 4 and t6opt & 2):
        raise NotImplementedError("CCITT uncompressed mode unsupported")
    if fill_order not in (1, 2):
        raise ValueError(f"bad TIFF FillOrder {fill_order}")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip layout")
    rps = one(278, h)
    if rps <= 0 or len(offsets) != -(-h // rps):
        raise ValueError("TIFF strip count does not cover the image")
    parts = []
    for k, (o, c) in enumerate(zip(offsets, counts)):
        if o + c > len(buf):
            raise ValueError("truncated TIFF strip")
        n_rows = min(rps, h - k * rps)
        parts.append(
            decode_ccitt_strip(
                buf[o : o + c], w, n_rows, compression,
                t4_2d=bool(t4opt & 1), fill_order=fill_order,
            )
        )
    black = np.concatenate(parts)
    # photometric 0 (MinIsWhite, the fax norm): white runs image as
    # 255; photometric 1 inverts the visual mapping
    gray = np.where(black, 0, 255) if photometric == 0 else \
        np.where(black, 255, 0)
    return np.repeat(gray.astype(np.uint8)[:, :, None], 3, axis=2)


def _tiff_lzw(data: bytes, limit: int | None = None) -> bytes:
    """TIFF-flavor LZW -> bytes: the MSB-first variant of the GIF core
    (_gif_lzw) with fixed 8-bit roots, CLEAR=256/EOI=257, and the
    spec's 'early change' — the code width bumps one entry EARLIER
    than the table fills (TIFF 6.0 §13). Per-strip streams. `limit`
    caps the output (LZW expands up to ~4000x, so the caller's
    pixel-count bound is the only thing standing between a small
    malicious strip and a multi-GB allocation)."""
    clear, eoi = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    cs = 9
    acc = nb = 0
    pos = 0
    prev = None
    out = bytearray()
    n = len(data)
    while True:
        while nb < cs:
            if pos >= n:
                # strips may end mid-code after the last full symbol
                return bytes(out)
            acc = (acc << 8) | data[pos]
            pos += 1
            nb += 8
        code = (acc >> (nb - cs)) & ((1 << cs) - 1)
        nb -= cs
        if code == clear:
            table = list(base)
            cs = 9
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:  # first code after a clear: literal only
            if code > 255:
                raise ValueError("corrupt TIFF LZW stream")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt TIFF LZW code")
        out += entry
        if limit is not None and len(out) > limit:
            raise ValueError("TIFF LZW output exceeds the pixel-data size")
        prev = entry
        if len(table) == (1 << cs) - 1 and cs < 12:  # early change
            cs += 1


def _packbits(data: bytes, limit: int | None = None) -> bytes:
    """Apple PackBits -> bytes (TIFF 6.0 §9): n<128 -> n+1 literals,
    n>128 -> 257-n repeats of the next byte, n==128 no-op. `limit`
    caps the output (repeat runs expand up to 128x)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        if b < 128:
            cnt = b + 1
            if i + cnt > n:
                raise ValueError("truncated PackBits literal run")
            out += data[i : i + cnt]
            i += cnt
        elif b > 128:
            if i >= n:
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[i]]) * (257 - b)
            i += 1
        if limit is not None and len(out) > limit:
            raise ValueError("PackBits output exceeds the pixel-data size")
    return bytes(out)


def _gif_lzw(data: bytes, min_cs: int, n_px: int) -> np.ndarray:
    """GIF-flavor LZW -> uint8 palette indices (LSB-first codes,
    variable width up to 12 bits, CLEAR/END control codes)."""
    clear = 1 << min_cs
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    cs = min_cs + 1
    acc = 0
    nb = 0
    pos = 0
    prev = None
    out = bytearray()
    n = len(data)
    while len(out) < n_px:
        while nb < cs:
            if pos >= n:
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nb
            pos += 1
            nb += 8
        code = acc & ((1 << cs) - 1)
        acc >>= cs
        nb -= cs
        if code == clear:
            table = list(base)
            cs = min_cs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:  # first code after a clear: literal only
            if code >= clear:
                raise ValueError("corrupt GIF LZW stream")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt GIF LZW code")
        out += entry
        prev = entry
        if len(table) == (1 << cs) and cs < 12:
            cs += 1
    if len(out) < n_px:
        raise ValueError("GIF frame short of pixels")
    return np.frombuffer(bytes(out[:n_px]), np.uint8)


# GIF 4-pass interlace: (row offset, row step) per pass
_GIF_INTERLACE = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _parse_gif(buf: bytes):
    """-> (W, H, frames) where each frame is (left, top, fw, fh,
    palette, transparent_index | None, uint8[fh,fw] indices)."""
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("missing GIF signature")
    W, H = struct.unpack_from("<HH", buf, 6)
    packed = buf[10]
    pos = 13
    gct = None
    if packed & 0x80:
        ncol = 2 << (packed & 7)
        gct = np.frombuffer(buf, np.uint8, count=3 * ncol, offset=pos).reshape(
            ncol, 3
        )
        pos += 3 * ncol
    frames = []
    transparent = None
    while pos < len(buf):
        b0 = buf[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: read GCE fields, skip sub-blocks
            label = buf[pos + 1]
            pos += 2
            if label == 0xF9 and pos + 5 < len(buf) and buf[pos] == 4:
                transparent = buf[pos + 4] if (buf[pos + 1] & 1) else None
            while True:
                if pos >= len(buf):
                    raise ValueError("truncated GIF extension")
                bs = buf[pos]
                pos += 1
                if bs == 0:
                    break
                pos += bs
        elif b0 == 0x2C:  # image descriptor
            left, top, fw, fh = struct.unpack_from("<HHHH", buf, pos + 1)
            pk = buf[pos + 9]
            pos += 10
            pal = gct
            if pk & 0x80:
                ncol = 2 << (pk & 7)
                pal = np.frombuffer(
                    buf, np.uint8, count=3 * ncol, offset=pos
                ).reshape(ncol, 3)
                pos += 3 * ncol
            if pal is None:
                raise ValueError("GIF frame without a color table")
            if left + fw > W or top + fh > H:
                raise ValueError("GIF frame exceeds logical screen")
            min_cs = buf[pos]
            pos += 1
            data = bytearray()
            while True:
                if pos >= len(buf):
                    raise ValueError("truncated GIF image data")
                bs = buf[pos]
                pos += 1
                if bs == 0:
                    break
                data += buf[pos : pos + bs]
                pos += bs
            idx = _gif_lzw(bytes(data), min_cs, fw * fh).reshape(fh, fw)
            if pk & 0x40:  # interlaced: scatter pass rows back
                de = np.empty_like(idx)
                src = 0
                for off, step in _GIF_INTERLACE:
                    nrows = len(range(off, fh, step))
                    de[off::step] = idx[src : src + nrows]
                    src += nrows
                idx = de
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("GIF index out of palette range")
            frames.append((left, top, fw, fh, pal, transparent, idx))
            transparent = None
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
    if not frames:
        raise ValueError("GIF with no image data")
    return W, H, frames


def _gif_canvas_frames(buf: bytes):
    """-> (W, H, [uint8[H,W,3] canvas snapshots]). Frames composite
    onto a persistent canvas at their (left, top) sub-rect with
    transparent indices keeping the underlying pixels — GIF disposal
    method 1 ('do not dispose') semantics, the common animation shape;
    exotic disposal modes (restore-to-background/previous) render as
    their do-not-dispose approximation, deterministically."""
    W, H, frames = _parse_gif(buf)
    canvas = np.zeros((H, W, 3), np.uint8)
    out = []
    for left, top, fw, fh, pal, tr, idx in frames:
        rgb = pal[idx]
        region = canvas[top : top + fh, left : left + fw]
        if tr is not None:
            region[...] = np.where((idx != tr)[:, :, None], rgb, region)
        else:
            region[...] = rgb
        out.append(canvas.copy())
    return W, H, out


def _decode_gif(buf: bytes, w: int, h: int) -> np.ndarray:
    """GIF -> first frame composited on the logical screen (animated
    GIFs: use sample_video_frames for the full frame stream).

    The logical-screen dims are peeked from the fixed header and
    checked against the table metadata BEFORE _gif_canvas_frames
    allocates the canvas: the header fields are 16-bit, so a corrupt
    stream could otherwise demand a ~12 GB canvas from four flipped
    bytes (frame sub-rects are bounded by the canvas inside
    _parse_gif, so this one check bounds every allocation)."""
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("missing GIF signature")
    if len(buf) < 10:
        raise ValueError("truncated GIF header")
    W0, H0 = struct.unpack_from("<HH", buf, 6)
    if (W0, H0) != (w, h):
        raise DimensionMismatchError(f"GIF {W0}x{H0} != metadata {w}x{h}")
    _W, _H, frames = _gif_canvas_frames(buf)
    return frames[0]


# samples per pixel by PNG color type: 0 gray, 2 RGB, 3 palette index,
# 4 gray+alpha, 6 RGBA
_PNG_SAMPLES = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# legal bit depths per color type (RFC 2083 §4.1.1)
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}
# Adam7 pass grid: (x0, y0, dx, dy) per pass
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _png_raw_size(w: int, h: int, depth: int, samples: int,
                  interlace: int) -> int:
    """Exact filtered-scanline byte count the IDAT stream must inflate
    to (per-row filter byte included), for the inflate cap above."""
    if interlace == 0:
        return h * (1 + (w * samples * depth + 7) // 8)
    total = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            total += ph * (1 + (pw * samples * depth + 7) // 8)
    return total


def _decode_png(buf: bytes, w: int, h: int) -> np.ndarray:
    """External-world PNG -> uint8[h,w,3]: all five scanline filter
    types (RFC 2083 §6), all five color types (gray / truecolor /
    palette / gray+alpha / RGBA), bit depths 1-16, and Adam7
    interlacing. Our own encoder only emits filter-0 8-bit truecolor,
    but externally-encoded PNGs use the rest of the spec freely —
    without this coverage, real-world ingest would land them in the
    errors-as-data path.

    Conversion contract (deterministic, stated): gray replicates to
    RGB; palette maps through PLTE; ALPHA IS STRIPPED, not composited
    (the pipeline treats pixels as features, and compositing would
    invent a background color); 16-bit samples keep the high byte
    (the spec's own 8-bit reduction)."""
    # a ValueError, not an assert: the signature check is part of the
    # errors-as-data taxonomy (CorruptStream), must survive python -O,
    # and AssertionError is outside the validator's named catch set
    if buf[:8] != _PNG_SIG:
        raise ValueError("missing PNG signature")
    pos = 8
    idat = bytearray()
    plte = None
    depth = ctype = interlace = None
    while pos < len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4 : pos + 8]
        if tag == b"IHDR":
            iw, ih, depth, ctype, _comp, _filt, interlace = struct.unpack_from(
                ">IIBBBBB", buf, pos + 8
            )
            if (iw, ih) != (w, h):
                raise DimensionMismatchError(
                    f"IHDR {iw}x{ih} != metadata {w}x{h}"
                )
            if ctype not in _PNG_SAMPLES or depth not in _PNG_DEPTHS[ctype]:
                raise ValueError(
                    f"invalid PNG depth/type combination {depth}/{ctype}"
                )
            if interlace not in (0, 1):
                raise ValueError(f"invalid interlace method {interlace}")
        elif tag == b"PLTE":
            plte = np.frombuffer(
                buf[pos + 8 : pos + 8 + length], np.uint8
            ).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += buf[pos + 8 : pos + 8 + length]
        pos += 12 + length
    if depth is None:
        raise ValueError("PNG missing IHDR")
    if ctype == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    samples = _PNG_SAMPLES[ctype]
    # bounded inflate: with IHDR dims pinned to the table metadata the
    # exact filtered-raw size is known up front, so a deflate bomb (a
    # few KB inflating to GBs) is rejected at the cap instead of
    # exhausting executor memory — decompression bombs are DATA at
    # ingest scale, not a crash
    expected = _png_raw_size(w, h, depth, samples, interlace)
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat), expected + 1)
    if len(raw) > expected:
        raise ValueError("PNG IDAT inflates beyond the pixel-data size")
    if not d.eof:
        # max_length skips the trailer when output stops early, so a
        # truncated/unterminated stream must be flagged explicitly —
        # plain zlib.decompress would have raised here
        raise ValueError("PNG IDAT truncated or unterminated")

    scale_gray = ctype == 0 and depth < 8  # palette indices stay raw
    if interlace == 0:
        px = _decode_png_pass(raw, 0, w, h, depth, samples, scale_gray)[0]
    else:  # Adam7: seven independently-filtered sub-images, scattered
        px = np.zeros((h, w, samples), np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, off = _decode_png_pass(raw, off, pw, ph, depth, samples,
                                        scale_gray)
            px[y0::dy, x0::dx] = sub

    if ctype == 3:
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of range")
        return plte[idx]
    if ctype == 0:
        return np.repeat(px, 3, axis=2)
    if ctype == 2:
        return px
    if ctype == 4:  # gray + alpha: strip alpha, replicate gray
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]  # RGBA: strip alpha


def _decode_png_pass(raw: bytes, off: int, w: int, h: int,
                     depth: int, samples: int, scale_gray: bool = False):
    """Decode one (sub-)image's scanlines starting at byte `off` of the
    decompressed stream -> (uint8[h,w,samples], next offset). Handles
    defiltering at the correct filter unit, 16->8 reduction, and
    sub-byte bit unpacking with left-justified sample scaling."""
    row_bytes = (w * samples * depth + 7) // 8
    need = h * (1 + row_bytes)
    if len(raw) - off < need:
        raise ValueError("truncated PNG pixel data")
    rows = np.frombuffer(raw, np.uint8, count=need, offset=off).reshape(
        h, 1 + row_bytes
    )
    fu = max(1, samples * depth // 8)  # filter unit (RFC 2083 §6.2)
    if (rows[:, 0] == 0).all():  # our encoder's output: zero-copy path
        flat = rows[:, 1:]
    else:
        flat = _defilter_png(rows, row_bytes, fu)
    if depth == 8:
        px = flat.reshape(h, w, samples)
    elif depth == 16:  # keep the high byte (spec 8-bit reduction)
        px = flat.reshape(h, w, samples, 2)[:, :, :, 0]
    else:  # 1/2/4-bit (always 1 sample/px): unpack MSB-first, group
        bits = np.unpackbits(np.ascontiguousarray(flat), axis=1)[:, : w * depth]
        vals = bits.reshape(h, w, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
        v = (vals * weights).sum(axis=2).astype(np.uint16)
        if scale_gray:  # gray expands to [0,255] (255/(2^d-1) is exact)
            v = v * (255 // ((1 << depth) - 1))
        # palette indices stay raw; caller range-checks against PLTE
        px = v.astype(np.uint8)[:, :, None]
    return px, off + need


def _defilter_png(rows: np.ndarray, row_bytes: int, fu: int) -> np.ndarray:
    """Undo per-scanline filtering at filter unit `fu` bytes. Rows are
    inherently sequential (Up/Average/Paeth reference the prior
    RECONSTRUCTED row); within a row, None/Up are one vectorized add,
    Sub is a per-channel prefix sum (recon[x] = raw[x] + recon[x-fu]
    mod 256 == cumsum mod 256), and Average/Paeth — whose
    left-neighbor term breaks the prefix structure — walk pixels with
    fu-wide vector steps. Unknown filter types raise ValueError
    (CorruptStream in the validate taxonomy)."""
    h = rows.shape[0]
    out = np.empty((h, row_bytes), np.uint8)
    prior = np.zeros(row_bytes, np.int64)
    for y in range(h):
        ft = int(rows[y, 0])
        raw = rows[y, 1:].astype(np.int64)
        if ft == 0:  # None
            rec = raw
        elif ft == 1:  # Sub
            rec = (raw.reshape(-1, fu).cumsum(axis=0) & 0xFF).reshape(-1)
        elif ft == 2:  # Up
            rec = (raw + prior) & 0xFF
        elif ft == 3:  # Average
            rec = np.empty(row_bytes, np.int64)
            rec[:fu] = (raw[:fu] + (prior[:fu] >> 1)) & 0xFF
            for x in range(fu, row_bytes, fu):
                rec[x : x + fu] = (
                    raw[x : x + fu] + ((rec[x - fu : x] + prior[x : x + fu]) >> 1)
                ) & 0xFF
        elif ft == 4:  # Paeth
            rec = np.empty(row_bytes, np.int64)
            rec[:fu] = (raw[:fu] + prior[:fu]) & 0xFF  # paeth(0, b, 0) = b
            for x in range(fu, row_bytes, fu):
                a = rec[x - fu : x]
                b = prior[x : x + fu]
                c = prior[x - fu : x]
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                rec[x : x + fu] = (raw[x : x + fu] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ft} on row {y}")
        out[y] = rec
        prior = rec
    return out


def decode_batch(bufs, fmts, ws, hs):
    """Decode a batch of images -> list of uint8[h,w,3] arrays.

    The loop is per-IMAGE (not per-pixel) — decode cost is dominated by
    zlib/np.frombuffer on whole buffers, which is the right altitude
    for an Arrow kernel's batch body.
    """
    return [
        decode_image(b, f, int(w), int(h)) for b, f, w, h in zip(bufs, fmts, ws, hs)
    ]


def phash64(pixels: np.ndarray) -> int:
    """64-bit average-hash of uint8[h,w,3]: 8x8 block-mean luma,
    threshold at the global mean, MSB-first row-major bit order."""
    p = pixels.astype(np.float64)
    luma = 0.299 * p[:, :, 0] + 0.587 * p[:, :, 1] + 0.114 * p[:, :, 2]
    h, w = luma.shape
    # block-mean resample to 8x8 via index binning (works for any h,w >= 8)
    yi = (np.arange(h) * 8 // h).astype(np.int64)
    xi = (np.arange(w) * 8 // w).astype(np.int64)
    sums = np.zeros((8, 8))
    counts = np.zeros((8, 8))
    np.add.at(sums, (yi[:, None], xi[None, :]), luma)
    np.add.at(counts, (yi[:, None], xi[None, :]), 1.0)
    grid = sums / counts
    bits = (grid > grid.mean()).ravel()
    val = 0
    for b in bits:  # 64 iterations, per image
        val = (val << 1) | int(b)
    # interpret as signed int64 for parquet/Spark LongType
    return val - (1 << 64) if val >= (1 << 63) else val


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def hamming64(a, b):
    """Vectorized Hamming distance between int64 hash arrays:
    popcount of the XOR via unpackbits on the byte view."""
    x = (np.asarray(a, np.int64) ^ np.asarray(b, np.int64)).astype(np.uint64)
    x = np.atleast_1d(x)
    return np.unpackbits(x.view(np.uint8).reshape(len(x), 8), axis=-1).sum(axis=-1)
