"""WebP lossless (VP8L) codec — pure Python/NumPy, from the public
WebP Lossless Bitstream Specification (RFC 9649).

Scope mirrors the engine's errors-as-data taxonomy
(reference: errors.rs:5-47 — valid-but-out-of-scope inputs are typed
data, not crashes):

  * decode: full VP8L — all four transforms (predictor, color,
    subtract-green, color-indexing incl. sub-byte packing), color
    cache, LZ77 backrefs with the 120-entry 2D distance map, meta
    prefix groups, simple and normal prefix codes. Alpha is decoded
    and stripped (the engine's stated conversion contract).
  * encode: a spec-compliant literal-only VP8L stream (no transforms,
    no LZ77) with real canonical prefix codes — losslessly readable
    by any conformant decoder (libwebp-verified in tests); fixture
    and writer grade, compression ratio is the trade (same posture
    as encode_gif's uncompressed-LZW layer).
  * lossy VP8 / animated / ALPH-extended streams raise
    NotImplementedError -> CodecUnavailable (valid files the engine
    declines); structural breakage raises ValueError -> CorruptStream.

Throughput note: the symbol stream is inherently sequential (each
prefix code's boundary depends on the previous symbol), decoded here
per-symbol in Python — fixture/tail grade, parallelized per-image by
Spark like the jpeg path (jpegio.py documents the same floor).
"""

from __future__ import annotations

import struct
from array import array

import numpy as np

from .codec_errors import DimensionMismatchError
from .prefix import canonical, table

__all__ = ["decode_webp", "encode_webp"]

# code-length-code read order (RFC 9649 §4.6.2.2)
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# LZ77 distance codes 1..120 map to 2D pixel neighborhood offsets
# (dx, dy) (RFC 9649 §4.6.2.5); verified empirically against libwebp
# in tests/test_webp.py::test_distance_map_matches_libwebp.
_DIST_MAP = [
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
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


class _Bits:
    """LSB-first bit reader (VP8L bit order)."""

    __slots__ = ("data", "pos", "acc", "nb")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nb = 0

    def read(self, n: int) -> int:
        acc, nb, pos = self.acc, self.nb, self.pos
        data = self.data
        while nb < n:
            if pos >= len(data):
                raise ValueError("truncated VP8L stream")
            acc |= data[pos] << nb
            pos += 1
            nb += 8
        v = acc & ((1 << n) - 1)
        self.acc = acc >> n
        self.nb = nb - n
        self.pos = pos
        return v

    def sym(self, code) -> int:
        """One prefix-coded symbol through a (table, root) pair from
        _prefix. At the stream tail the peek is zero-padded, and only a
        code that runs past the end raises. VP8L codes are complete, so
        no table entry is invalid."""
        tab, root = code
        acc, nb, pos, data = self.acc, self.nb, self.pos, self.data
        while nb < 15 and pos < len(data):  # 15: the longest VP8L code
            acc |= data[pos] << nb
            pos += 1
            nb += 8
        e = tab[acc & ((1 << root) - 1)]
        n = e & 31
        if n > root:  # link: the next bits index a second-level table
            e = tab[(e >> 5) + ((acc >> root) & ((1 << (n - root)) - 1))]
            n = e & 31
        if n > nb:
            raise ValueError("truncated VP8L stream")
        self.acc, self.nb, self.pos = acc >> n, nb - n, pos
        return e >> 5


def _codes(lengths) -> list:
    """VP8L lengths -> canonical code list. A one-symbol code reads
    and writes 0 bits whatever its length, as in libwebp."""
    codes = canonical(lengths)
    return [(codes[0][0], 0, 0)] if len(codes) == 1 else codes


def _prefix(lengths):
    """VP8L lengths -> (table, root) for _Bits.sym. The root is 8 bits,
    narrowed to the longest code; a longer code links to one
    second-level table per 8-bit prefix. A stream may declare 65,536
    groups of five codes, so tables stay small: no 2^15-entry table
    per code, and uint32 entries at half the bytes of a list."""
    codes = _codes(lengths)
    root = min(8, codes[-1][2])
    return array("I", table(codes, root, lsb_first=True)), root


def _read_prefix_code(br: _Bits, alphabet_size: int):
    """One prefix code from the stream: simple (1-2 explicit symbols)
    or normal (code-length-coded lengths, RFC 9649 §4.6.2.2)."""
    if br.read(1):  # simple: 1 or 2 symbols, the first 1 or 8 bits wide
        two = br.read(1)
        syms = [br.read(8 if br.read(1) else 1)]
        # a second symbol equal to the first leaves a one-symbol code,
        # as libwebp reads it
        if two:
            syms.append(br.read(8))
        if max(syms) >= alphabet_size:
            raise ValueError("VP8L simple-code symbol out of alphabet")
        lengths = [0] * alphabet_size
        for s in syms:
            lengths[s] = 1
        return _prefix(lengths)
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _prefix(cl_lengths)
    if br.read(1):  # limited number of coded symbols
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = br.sym(cl_code)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev = cl
        else:
            if cl == 16:
                repeat, fill = 3 + br.read(2), prev
            elif cl == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("VP8L code-length repeat overruns alphabet")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _prefix(lengths)


def _lz77_val(br: _Bits, sym: int) -> int:
    """Length/distance prefix value: symbol + extra bits (§4.6.2.4)."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_image_stream(br: _Bits, xsize: int, ysize: int,
                         is_level0: bool) -> list[int]:
    """Entropy-coded ARGB image -> flat row-major list of packed
    0xAARRGGBB ints. Sub-images (transform data, meta entropy image,
    palette) recurse with is_level0=False (no transforms read here;
    no meta prefix; own optional color cache)."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not (1 <= cache_bits <= 11):
            raise ValueError(f"invalid VP8L color-cache bits {cache_bits}")
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0

    meta_idx = None
    meta_w = sb = 0
    n_groups = 1
    if is_level0 and br.read(1):
        sb = br.read(3) + 2
        meta_w = (xsize + (1 << sb) - 1) >> sb
        meta_h = (ysize + (1 << sb) - 1) >> sb
        meta = _decode_image_stream(br, meta_w, meta_h, False)
        meta_idx = [(p >> 8) & 0xFFFF for p in meta]  # (red<<8)|green
        n_groups = max(meta_idx) + 1

    # Every group's five codes are read and checked, but only the
    # groups the meta image references keep their tables; the others
    # are built into one scratch slot and dropped, as in libwebp, so a
    # meta image naming group 65,535 does not hold 327,680 tables.
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    used = set(meta_idx) if meta_idx is not None else {0}
    groups = {}
    for gi in range(n_groups):
        codes = (
            _read_prefix_code(br, green_size),
            _read_prefix_code(br, 256),   # red
            _read_prefix_code(br, 256),   # blue
            _read_prefix_code(br, 256),   # alpha
            _read_prefix_code(br, 40),    # distance
        )
        if gi in used:
            groups[gi] = codes

    n = xsize * ysize
    out = [0] * n
    pos = 0
    g0 = groups.get(0)
    sym = br.sym
    while pos < n:
        if meta_idx is None:
            g = g0
        else:
            x = pos % xsize
            y = pos // xsize
            g = groups[meta_idx[(y >> sb) * meta_w + (x >> sb)]]
        s = sym(g[0])
        if s < 256:  # literal: green first, then red, blue, alpha
            r = sym(g[1])
            b = sym(g[2])
            a = sym(g[3])
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            pos += 1
            if cache_bits:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> cache_shift] = px
        elif s < 280:  # LZ77 backref
            length = _lz77_val(br, s - 256)
            dcode = _lz77_val(br, sym(g[4]))
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dy * xsize + dx
                if dist < 1:
                    dist = 1
            if dist > pos:
                raise ValueError("VP8L backref before image start")
            if pos + length > n:
                raise ValueError("VP8L backref overruns image")
            if cache_bits:
                for _ in range(length):
                    px = out[pos - dist]
                    out[pos] = px
                    pos += 1
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> cache_shift] = px
            else:
                for _ in range(length):
                    out[pos] = out[pos - dist]
                    pos += 1
        else:  # color-cache hit
            if not cache_bits:
                raise ValueError("VP8L cache symbol without a color cache")
            out[pos] = cache[s - 280]
            pos += 1
    return out


def _read_transform(br: _Bits, xsize: int, ysize: int):
    """One transform header (+ its data image). Returns (record,
    new_xsize): color-indexing with <=16 colors packs multiple pixels
    per green byte, shrinking the coded width for everything after."""
    t = br.read(2)
    if t in (0, 1):  # predictor / color transform
        size_bits = br.read(3) + 2
        bw = (xsize + (1 << size_bits) - 1) >> size_bits
        bh = (ysize + (1 << size_bits) - 1) >> size_bits
        data = _decode_image_stream(br, bw, bh, False)
        return (t, size_bits, bw, data), xsize
    if t == 2:  # subtract green
        return (2,), xsize
    n_colors = br.read(8) + 1
    deltas = _decode_image_stream(br, n_colors, 1, False)
    # palette entries are per-channel deltas vs the previous entry
    pal = []
    prev = 0
    for d in deltas:
        a = ((prev >> 24) + (d >> 24)) & 0xFF
        r = ((prev >> 16) + (d >> 16)) & 0xFF
        g = ((prev >> 8) + (d >> 8)) & 0xFF
        b = (prev + d) & 0xFF
        prev = (a << 24) | (r << 16) | (g << 8) | b
        pal.append(prev)
    if n_colors <= 2:
        width_bits = 3
    elif n_colors <= 4:
        width_bits = 2
    elif n_colors <= 16:
        width_bits = 1
    else:
        width_bits = 0
    new_xsize = (xsize + (1 << width_bits) - 1) >> width_bits
    return (3, width_bits, pal), new_xsize


def _argb_planes(flat: list[int], xsize: int, ysize: int) -> np.ndarray:
    """packed ints -> int32[ysize, xsize, 4] channel planes (A,R,G,B)."""
    arr = np.array(flat, dtype=np.uint32).reshape(ysize, xsize)
    return np.stack(
        [(arr >> 24) & 0xFF, (arr >> 16) & 0xFF, (arr >> 8) & 0xFF,
         arr & 0xFF], axis=-1
    ).astype(np.int32)


def _avg2(a, b):
    return [(x + y) >> 1 for x, y in zip(a, b)]


def _clip255(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _inv_predictor(px: np.ndarray, size_bits: int, bw: int,
                   modes: list[int]) -> np.ndarray:
    """Undo the predictor transform (§4.4.2): residuals + prediction
    mod 256 per ARGB channel; pixel (0,0) predicts opaque black, row 0
    predicts left, column 0 predicts top; TR at the right edge wraps
    to the first (already reconstructed) pixel of the current row —
    the spec's contiguous-buffer rule."""
    h, w, _ = px.shape
    out = px.copy()
    for y in range(h):
        row = out[y]
        above = out[y - 1] if y else None
        for x in range(w):
            if y == 0 and x == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = row[x - 1]
            elif x == 0:
                pred = above[0]
            else:
                mode = (modes[(y >> size_bits) * bw + (x >> size_bits)]
                        >> 8) & 0xFF  # mode lives in the green channel
                left = row[x - 1]
                top = above[x]
                if mode == 0:
                    pred = (255, 0, 0, 0)
                elif mode == 1:
                    pred = left
                elif mode == 2:
                    pred = top
                elif mode == 3:
                    pred = above[x + 1] if x + 1 < w else row[0]
                elif mode == 4:
                    pred = above[x - 1]
                elif mode == 5:
                    tr = above[x + 1] if x + 1 < w else row[0]
                    pred = _avg2(_avg2(left, tr), top)
                elif mode == 6:
                    pred = _avg2(left, above[x - 1])
                elif mode == 7:
                    pred = _avg2(left, top)
                elif mode == 8:
                    pred = _avg2(above[x - 1], top)
                elif mode == 9:
                    tr = above[x + 1] if x + 1 < w else row[0]
                    pred = _avg2(top, tr)
                elif mode == 10:
                    tr = above[x + 1] if x + 1 < w else row[0]
                    pred = _avg2(_avg2(left, above[x - 1]), _avg2(top, tr))
                elif mode == 11:  # Select
                    tl = above[x - 1]
                    d = 0
                    for c in range(4):
                        d += abs(int(left[c]) - int(tl[c])) - abs(
                            int(top[c]) - int(tl[c]))
                    pred = top if d <= 0 else left
                elif mode == 12:  # ClampAddSubtractFull
                    tl = above[x - 1]
                    pred = [_clip255(int(left[c]) + int(top[c]) - int(tl[c]))
                            for c in range(4)]
                elif mode == 13:  # ClampAddSubtractHalf
                    tl = above[x - 1]
                    ave = _avg2(left, top)
                    pred = []
                    for c in range(4):
                        d = int(ave[c]) - int(tl[c])
                        # C truncating division: toward zero
                        half = abs(d) >> 1
                        pred.append(_clip255(int(ave[c]) + (half if d >= 0
                                                            else -half)))
                else:
                    raise ValueError(f"invalid VP8L predictor mode {mode}")
            for c in range(4):
                row[x][c] = (int(row[x][c]) + int(pred[c])) & 0xFF
    return out


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _inv_color_transform(px: np.ndarray, size_bits: int, bw: int,
                         elems: list[int]) -> np.ndarray:
    """Undo the color transform (§4.4.3): per-block green_to_red /
    green_to_blue / red_to_blue deltas, each (int8*int8)>>5 with
    arithmetic shift; blue's red term uses the ALREADY-restored red."""
    h, w, _ = px.shape
    out = px
    for y in range(h):
        for x in range(w):
            e = elems[(y >> size_bits) * bw + (x >> size_bits)]
            # channel packing per spec: green_to_red lives in the BLUE
            # channel, green_to_blue in GREEN, red_to_blue in RED
            # (libwebp-conformance-tested)
            g2r, g2b, r2b = _s8(e & 0xFF), _s8((e >> 8) & 0xFF), _s8(
                (e >> 16) & 0xFF)
            g = _s8(int(out[y, x, 2]))
            r = (int(out[y, x, 1]) + ((g2r * g) >> 5)) & 0xFF
            b = (int(out[y, x, 3]) + ((g2b * g) >> 5)
                 + ((r2b * _s8(r)) >> 5)) & 0xFF
            out[y, x, 1] = r
            out[y, x, 3] = b
    return out


def _inv_color_indexing(px: np.ndarray, width_bits: int, pal: list[int],
                        true_w: int) -> np.ndarray:
    """Undo color indexing (§4.4.4): green bytes hold palette indices,
    sub-byte-packed LSB-first when the palette allows; out-of-range
    indices are corrupt."""
    h, packed_w, _ = px.shape
    npal = len(pal)
    pal_planes = np.array(
        [[(p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF]
         for p in pal], dtype=np.int32
    )
    out = np.zeros((h, true_w, 4), np.int32)
    if width_bits == 0:
        idx = px[:, :, 2]
        if int(idx.max(initial=0)) >= npal:
            raise ValueError("VP8L palette index out of range")
        return pal_planes[idx][:, :true_w]
    ppb = 1 << width_bits       # pixels per packed byte
    bpp = 8 >> width_bits       # bits per pixel
    mask = (1 << bpp) - 1
    for y in range(h):
        for x in range(true_w):
            g = int(px[y, x >> width_bits, 2])
            i = (g >> ((x & (ppb - 1)) * bpp)) & mask
            if i >= npal:
                raise ValueError("VP8L palette index out of range")
            out[y, x] = pal_planes[i]
    return out


def _inv_subtract_green(px: np.ndarray) -> np.ndarray:
    g = px[:, :, 2]
    px[:, :, 1] = (px[:, :, 1] + g) & 0xFF
    px[:, :, 3] = (px[:, :, 3] + g) & 0xFF
    return px


def _decode_vp8l(payload: bytes, expect=None, rgba: bool = False) -> np.ndarray:
    """VP8L chunk payload -> uint8[h,w,3] RGB (alpha stripped), or
    uint8[h,w,4] RGBA with `rgba=True` (the animation compositor
    needs the alpha plane for ANMF blending).

    `expect=(w, h)` (table metadata) is validated against the header
    dims BEFORE any pixel buffer is sized from them, so a corrupt or
    adversarial header cannot force a large allocation — the same
    pre-allocation discipline as the png/bmp/gif/tiff decoders."""
    if not payload or payload[0] != 0x2F:
        raise ValueError("missing VP8L signature byte")
    br = _Bits(payload, 1)
    w = br.read(14) + 1
    h = br.read(14) + 1
    if expect is not None and (w, h) != expect:
        raise DimensionMismatchError(
            f"VP8L {w}x{h} != metadata {expect[0]}x{expect[1]}"
        )
    br.read(1)  # alpha-is-used hint
    version = br.read(3)
    if version != 0:
        raise ValueError(f"VP8L version {version} != 0")
    transforms = []
    seen = set()
    xsize = w
    while br.read(1):
        rec, xsize = _read_transform(br, xsize, h)
        if rec[0] in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(rec[0])
        transforms.append(rec)
    flat = _decode_image_stream(br, xsize, h, True)
    px = _argb_planes(flat, xsize, h)
    for rec in reversed(transforms):
        if rec[0] == 0:
            px = _inv_predictor(px, rec[1], rec[2], rec[3])
        elif rec[0] == 1:
            px = _inv_color_transform(px, rec[1], rec[2], rec[3])
        elif rec[0] == 2:
            px = _inv_subtract_green(px)
        else:
            px = _inv_color_indexing(px, rec[1], rec[2], w)
    if px.shape[1] != w:
        raise ValueError("VP8L decoded width mismatch")
    if rgba:
        return px[:, :, [1, 2, 3, 0]].astype(np.uint8)  # ARGB -> RGBA
    return px[:, :, 1:4].astype(np.uint8)  # ARGB -> RGB


def _u24(b: bytes, off: int) -> int:
    return b[off] | (b[off + 1] << 8) | (b[off + 2] << 16)


def _blend_over(dst: np.ndarray, src: np.ndarray) -> np.ndarray:
    """Alpha-composite src OVER dst (uint8 RGBA, the container spec's
    'alpha blending' method), integer math with rounding."""
    sa = src[:, :, 3].astype(np.uint32)
    da = dst[:, :, 3].astype(np.uint32)
    oa = sa * 255 + da * (255 - sa)  # output alpha, x255 scale
    out = np.zeros_like(dst)
    out[:, :, 3] = ((oa + 127) // 255).astype(np.uint8)
    num = (src[:, :, :3].astype(np.uint32) * (sa * 255)[:, :, None]
           + dst[:, :, :3].astype(np.uint32) * (da * (255 - sa))[:, :, None])
    nz = oa > 0
    for c in range(3):
        ch = out[:, :, c]
        ch[nz] = ((num[:, :, c][nz] + oa[nz] // 2) // oa[nz]).astype(np.uint8)
    return out


def webp_canvas_frames(buf: bytes, expect=None, max_frames: int | None = None,
                       snapshot_budget: int = 1 << 28):
    """RIFF/WEBP -> (w, h, [uint8[h,w,3] canvas snapshots]) — the
    animated twin of imageio._gif_canvas_frames (round 7).

    Memory posture (round 8): snapshot RETENTION is bounded, decode
    is not — every ANMF frame is still fully parsed, decoded and
    composited (so corrupt later frames raise exactly as before),
    but only the first `max_frames` canvas snapshots are kept
    (None = all), and total retained snapshot bytes are capped at
    `snapshot_budget` (default 256 MB) — a hostile animation of many
    tiny frames on a metadata-approved large canvas can no longer
    amplify memory to n_frames x canvas; past the budget the stream
    is rejected as ValueError (CorruptStream tier).

    Animated containers (VP8X with the A flag + ANIM + ANMF*)
    composite each VP8L frame onto a persistent RGBA canvas per the
    container spec: sub-rect placement at even offsets, alpha-blend
    vs replace per the ANMF blending bit, dispose-to-background
    applied AFTER the frame's snapshot. Transparent canvas regions
    snapshot as black, deterministically. Still containers return one
    frame. Lossy VP8 frames decline as NotImplementedError; an ANMF
    whose declared dims disagree with the VP8L header inside it is an
    INTERNAL inconsistency -> ValueError (CorruptStream), never
    DimensionMismatch (the table metadata is not at fault).

    `expect=(w, h)` guards the canvas allocation against the table
    metadata; without it the canvas is capped to the VP8L dimension
    range (16384) so a hostile VP8X 24-bit dim field cannot force a
    multi-GB allocation."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WEBP":
        raise ValueError("missing WEBP signature")
    pos = 12
    canvas_wh = None
    animated = False
    bg = np.zeros(4, np.uint8)
    frames = []
    canvas = None
    saw = []
    while pos + 8 <= len(buf):
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WEBP chunk")
        if fourcc == b"VP8X":
            if size < 10:
                raise ValueError("truncated VP8X header")
            animated = bool(body[0] & 0x02)
            canvas_wh = (_u24(body, 4) + 1, _u24(body, 7) + 1)
            if expect is not None and canvas_wh != expect:
                raise DimensionMismatchError(
                    f"WEBP canvas {canvas_wh[0]}x{canvas_wh[1]} != "
                    f"metadata {expect[0]}x{expect[1]}"
                )
            if max(canvas_wh) > 1 << 14:
                raise ValueError("WEBP canvas exceeds VP8L dimension range")
        elif fourcc == b"ANIM":
            if size < 6:
                raise ValueError("truncated ANIM chunk")
            bg = np.array([body[2], body[1], body[0], body[3]],
                          np.uint8)  # BGRA -> RGBA
        elif fourcc == b"ANMF":
            if not animated or canvas_wh is None:
                raise ValueError("ANMF outside an animated VP8X container")
            if size < 16:
                raise ValueError("truncated ANMF chunk")
            fx = _u24(body, 0) * 2
            fy = _u24(body, 3) * 2
            fw = _u24(body, 6) + 1
            fh = _u24(body, 9) + 1
            flags = body[15]
            cw, ch = canvas_wh
            if fx + fw > cw or fy + fh > ch:
                raise ValueError("ANMF frame rect exceeds canvas")
            if canvas is None:
                canvas = np.zeros((ch, cw, 4), np.uint8)
            src = _anmf_frame_rgba(body[16:], fw, fh)
            rect = canvas[fy : fy + fh, fx : fx + fw]
            if flags & 0x02:  # blending method 1: do not blend
                canvas[fy : fy + fh, fx : fx + fw] = src
            else:
                canvas[fy : fy + fh, fx : fx + fw] = _blend_over(rect, src)
            if max_frames is None or len(frames) < max_frames:
                if (len(frames) + 1) * cw * ch * 3 > snapshot_budget:
                    raise ValueError(
                        "WEBP animation snapshot budget exceeded "
                        f"({len(frames) + 1} frames at {cw}x{ch})"
                    )
                frames.append(canvas[:, :, :3].copy())
            if flags & 0x01:  # disposal method 1: dispose to background
                canvas[fy : fy + fh, fx : fx + fw] = bg
        elif fourcc == b"VP8L":
            px = _decode_vp8l(body, expect)
            return px.shape[1], px.shape[0], [px]
        elif fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 webp unsupported (VP8L lossless only)"
            )
        else:
            saw.append(fourcc)
        pos += 8 + size + (size & 1)  # chunks pad to even
    if frames:
        return canvas_wh[0], canvas_wh[1], frames
    raise ValueError(f"WEBP container without image data (chunks: {saw})")


def _anmf_frame_rgba(data: bytes, fw: int, fh: int) -> np.ndarray:
    """ANMF frame payload ([ALPH] VP8|VP8L) -> uint8[fh,fw,4].

    The VP8L header dims must equal the ANMF-declared dims; a
    disagreement is container-internal corruption (ValueError), so
    the DimensionMismatchError the inner decoder raises for
    metadata-vs-file conflicts is remapped here."""
    pos = 0
    while pos + 8 <= len(data):
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated ANMF frame chunk")
        if fourcc == b"VP8L":
            try:
                return _decode_vp8l(body, (fw, fh), rgba=True)
            except DimensionMismatchError as e:
                raise ValueError(
                    f"ANMF frame dims disagree with VP8L header: {e}"
                ) from e
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 webp unsupported (VP8L lossless only)"
            )
        pos += 8 + size + (size & 1)  # skips ALPH (discouraged w/ VP8L)
    raise ValueError("ANMF frame without VP8L/VP8 payload")


def decode_webp(buf: bytes, expect=None) -> np.ndarray:
    """RIFF/WEBP container -> uint8[h,w,3]. VP8L (lossless) decodes —
    including animated VP8L, which returns the FIRST composited
    canvas frame (round 7; use webp_canvas_frames /
    sample_video_frames for the full stream, mirroring the GIF
    contract). Lossy VP8 declines as NotImplementedError
    (CodecUnavailable tier). `expect=(w, h)` bounds allocations by
    the table metadata (checked against the VP8L/VP8X header before
    buffers are sized from it). Only the FIRST snapshot is retained
    (max_frames=1 — later frames still decode so corrupt tails raise
    identically, but the still-decode path holds one canvas, not
    n_frames of them)."""
    _, _, frames = webp_canvas_frames(buf, expect, max_frames=1)
    return frames[0]


# ---------------------------------------------------------------- encode


class _BitWriter:
    """LSB-first bit writer (the encoder twin of _Bits)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nb = 0

    def write(self, val: int, n: int) -> None:
        self.acc |= (val & ((1 << n) - 1)) << self.nb
        self.nb += n
        while self.nb >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nb -= 8

    def code(self, c: int, l: int) -> None:
        """Prefix-code bits go MSB-of-code-first into the LSB-first
        stream (DEFLATE convention, which VP8L follows)."""
        for i in range(l - 1, -1, -1):
            self.write((c >> i) & 1, 1)

    def done(self) -> bytes:
        if self.nb:
            self.out.append(self.acc & 0xFF)
            self.acc = self.nb = 0
        return bytes(self.out)


def _huff_lengths(counts: dict[int, int], max_len: int) -> dict[int, int]:
    """Canonical code lengths from symbol counts: heap Huffman, then
    depth-limit fixup keeping Kraft EXACTLY complete (the decoder
    rejects incomplete codes). >= 2 distinct symbols required (the
    0/1-symbol cases take the simple-code path)."""
    import heapq

    syms = sorted(counts)
    heap = [(c, i, (s,)) for i, (s, c) in enumerate(sorted(counts.items()))]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    while len(heap) > 1:
        c1, _, g1 = heapq.heappop(heap)
        c2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (c1 + c2, len(depth) + len(heap), g1 + g2))
    lengths = {s: min(d, max_len) for s, d in depth.items()}
    target = 1 << max_len

    def kraft():
        return sum(1 << (max_len - l) for l in lengths.values())

    total = kraft()
    while total > target:  # clamping over-subscribed: push codes deeper
        s = max((s for s, l in lengths.items() if l < max_len),
                key=lambda s: lengths[s])
        total -= 1 << (max_len - lengths[s] - 1)
        lengths[s] += 1
    while total < target:  # tighten back to exact completeness
        s = max((s for s, l in lengths.items()
                 if l > 1 and total + (1 << (max_len - l)) <= target),
                key=lambda s: lengths[s])
        total += 1 << (max_len - lengths[s])
        lengths[s] -= 1
    return lengths


def _write_prefix_code(bw: _BitWriter, lengths_by_sym: dict[int, int],
                       alphabet_size: int) -> list:
    """Emit one prefix code (simple when <=2 symbols and they fit 8
    bits, else normal with literal-only code-length coding) and return
    its code list for symbol emission."""
    syms = sorted(lengths_by_sym)
    lengths = [0] * alphabet_size
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)                      # simple
        bw.write(len(syms) - 1, 1)
        first = syms[0]
        if first >= 2:
            bw.write(1, 1)
            bw.write(first, 8)
        else:
            bw.write(0, 1)
            bw.write(first, 1)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        for s in syms:
            lengths[s] = 1
        return _codes(lengths)
    bw.write(0, 1)                          # normal
    for s in syms:
        lengths[s] = lengths_by_sym[s]
    cl_hist: dict[int, int] = {}
    for l in lengths:
        cl_hist[l] = cl_hist.get(l, 0) + 1
    if len(cl_hist) == 1:
        # degenerate: one distinct length value — a 2-symbol CL code
        # (the value + a never-used partner) keeps the code complete
        only = next(iter(cl_hist))
        partner = 0 if only != 0 else 1
        cl_lens = {only: 1, partner: 1}
    else:
        cl_lens = _huff_lengths(cl_hist, 7)
    cl_arr = [0] * 19
    for v, l in cl_lens.items():
        cl_arr[v] = l
    last = max(i for i in range(19) if cl_arr[_CL_ORDER[i]]) + 1
    num_cl = max(4, last)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_arr[_CL_ORDER[i]], 3)
    bw.write(0, 1)                          # no max_symbol shortcut
    cl_code = {s: (c, l) for s, c, l in _codes(cl_arr)}
    for l in lengths:
        c, cl = cl_code[l]
        bw.code(c, cl)
    return _codes(lengths)


def encode_webp(pixels: np.ndarray) -> bytes:
    """uint8[h,w,3] -> lossless RIFF/WEBP (VP8L), literal-only with
    per-channel canonical prefix codes. Bit-exact round trip through
    any conformant decoder (libwebp-verified in tests)."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError(f"VP8L dimensions {w}x{h} out of range")
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)   # no alpha
    bw.write(0, 3)   # version
    bw.write(0, 1)   # no transforms
    bw.write(0, 1)   # no color cache
    bw.write(0, 1)   # no meta prefix codes

    def hist(vals):
        v, c = np.unique(vals, return_counts=True)
        return {int(s): int(n) for s, n in zip(v, c)}

    g_hist = hist(px[:, :, 1])
    r_hist = hist(px[:, :, 0])
    b_hist = hist(px[:, :, 2])

    def lengths_for(hst, limit=15):
        if len(hst) <= 2:
            return {s: 1 for s in hst}
        return _huff_lengths(hst, limit)

    green = _write_prefix_code(bw, lengths_for(g_hist), 256 + 24)
    red = _write_prefix_code(bw, lengths_for(r_hist), 256)
    blue = _write_prefix_code(bw, lengths_for(b_hist), 256)
    alpha = _write_prefix_code(bw, {255: 1}, 256)
    _write_prefix_code(bw, {0: 1}, 40)  # distance: present but unused
    del alpha  # single-symbol codes emit no bits per pixel

    # Vectorized literal emission (the hot path — everything above is
    # O(alphabet), this is O(pixels)). Per channel a (code, length) LUT
    # from the code list, codes left-aligned to 15 bits; every symbol's
    # start offset comes from one cumsum, and the j-th sent bit of all
    # codes (bit 14-j: bw.code sends codes MSB first) is scattered at
    # once (<= 15 passes). Replaces a per-pixel Python loop (~30x on
    # 256x256).
    flat = px.reshape(-1, 3).astype(np.int64)
    n = flat.shape[0]
    # symbol order per pixel: G, R, B (alpha: single-symbol, zero bits)
    scode = np.empty(3 * n, np.uint32)
    slen = np.empty(3 * n, np.int64)
    for k, (ch, codes) in enumerate(((1, green), (0, red), (2, blue))):
        s, c, l = np.array(codes, np.int64).T
        lut = np.zeros((2, 256 + 24), np.int64)
        lut[:, s] = c << (15 - l), l
        scode[k::3], slen[k::3] = lut[:, flat[:, ch]]
    offs = np.cumsum(slen) - slen
    head = np.unpackbits(
        np.frombuffer(bytes(bw.out), np.uint8), bitorder="little"
    )
    head = np.concatenate(
        [head, ((bw.acc >> np.arange(bw.nb)) & 1).astype(np.uint8)]
    )
    bits = np.zeros(len(head) + int(slen.sum()), np.uint8)
    bits[: len(head)] = head
    base = len(head)
    for j in range(int(slen.max(initial=0))):
        m = slen > j
        bits[base + offs[m] + j] = (scode[m] >> (14 - j)) & 1
    # np.packbits zero-pads the final partial byte, same as bw.done()
    payload = b"\x2f" + np.packbits(bits, bitorder="little").tobytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
