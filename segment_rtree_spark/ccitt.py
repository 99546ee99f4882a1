"""CCITT Group 3/4 bilevel codec (ITU-T T.4 / T.6) for the TIFF path.

Closes the last declined TIFF tail: fax-compressed bilevel strips
(TIFF Compression 2 = Modified Huffman, 3 = T.4 Group 3 1D/2D,
4 = T.6 Group 4). Built from the public ITU-T T.4 (07/2003) code
tables and coding procedure and TIFF 6.0 §section-10/11 framing;
every table entry is conformance-verified against javax.imageio's
CCITT encoder via exhaustive run-length fixtures (one row per run
length 0..2600, both colors, all three compressions) in
tests/test_codec_interop.py — the same empirical-probe discipline the
VP8L distance map used against libwebp.

Reference parity note: the reference engine (jagill/segment-rtree)
has no raster I/O; this module extends the image-ingest surface the
graft's input_hint demands, with the reference's errors-as-data
posture (errors.rs:5-47): structural breakage raises ValueError
(-> CorruptStream), valid-but-out-of-scope variants raise
NotImplementedError (-> CodecUnavailable).

Scale posture: a per-image sequential entropy decode, like the
jpeg/webp entropy layers — the documented codec floor, parallelized
per-image by Spark. All loops are bounded by the pinned metadata
dims (a code budget per row rejects non-advancing corrupt streams),
so a hostile stream cannot spin or allocate beyond the row buffer.
"""

from __future__ import annotations

import struct

import numpy as np

from .prefix import table

# --- ITU-T T.4 run-length code tables ------------------------------
# (code_bits_string, run_length). Terminating codes 0..63, then
# makeup codes 64..1728 per color, then the shared extended makeups
# 1792..2560 (T.4 Table 3/3a/3b).

_WHITE_CODES = [
    ("00110101", 0), ("000111", 1), ("0111", 2), ("1000", 3),
    ("1011", 4), ("1100", 5), ("1110", 6), ("1111", 7),
    ("10011", 8), ("10100", 9), ("00111", 10), ("01000", 11),
    ("001000", 12), ("000011", 13), ("110100", 14), ("110101", 15),
    ("101010", 16), ("101011", 17), ("0100111", 18), ("0001100", 19),
    ("0001000", 20), ("0010111", 21), ("0000011", 22), ("0000100", 23),
    ("0101000", 24), ("0101011", 25), ("0010011", 26), ("0100100", 27),
    ("0011000", 28), ("00000010", 29), ("00000011", 30), ("00011010", 31),
    ("00011011", 32), ("00010010", 33), ("00010011", 34), ("00010100", 35),
    ("00010101", 36), ("00010110", 37), ("00010111", 38), ("00101000", 39),
    ("00101001", 40), ("00101010", 41), ("00101011", 42), ("00101100", 43),
    ("00101101", 44), ("00000100", 45), ("00000101", 46), ("00001010", 47),
    ("00001011", 48), ("01010010", 49), ("01010011", 50), ("01010100", 51),
    ("01010101", 52), ("00100100", 53), ("00100101", 54), ("01011000", 55),
    ("01011001", 56), ("01011010", 57), ("01011011", 58), ("01001010", 59),
    ("01001011", 60), ("00110010", 61), ("00110011", 62), ("00110100", 63),
    # makeup
    ("11011", 64), ("10010", 128), ("010111", 192), ("0110111", 256),
    ("00110110", 320), ("00110111", 384), ("01100100", 448),
    ("01100101", 512), ("01101000", 576), ("01100111", 640),
    ("011001100", 704), ("011001101", 768), ("011010010", 832),
    ("011010011", 896), ("011010100", 960), ("011010101", 1024),
    ("011010110", 1088), ("011010111", 1152), ("011011000", 1216),
    ("011011001", 1280), ("011011010", 1344), ("011011011", 1408),
    ("010011000", 1472), ("010011001", 1536), ("010011010", 1600),
    ("011000", 1664), ("010011011", 1728),
]

_BLACK_CODES = [
    ("0000110111", 0), ("010", 1), ("11", 2), ("10", 3),
    ("011", 4), ("0011", 5), ("0010", 6), ("00011", 7),
    ("000101", 8), ("000100", 9), ("0000100", 10), ("0000101", 11),
    ("0000111", 12), ("00000100", 13), ("00000111", 14),
    ("000011000", 15), ("0000010111", 16), ("0000011000", 17),
    ("0000001000", 18), ("00001100111", 19), ("00001101000", 20),
    ("00001101100", 21), ("00000110111", 22), ("00000101000", 23),
    ("00000010111", 24), ("00000011000", 25), ("000011001010", 26),
    ("000011001011", 27), ("000011001100", 28), ("000011001101", 29),
    ("000001101000", 30), ("000001101001", 31), ("000001101010", 32),
    ("000001101011", 33), ("000011010010", 34), ("000011010011", 35),
    ("000011010100", 36), ("000011010101", 37), ("000011010110", 38),
    ("000011010111", 39), ("000001101100", 40), ("000001101101", 41),
    ("000011011010", 42), ("000011011011", 43), ("000001010100", 44),
    ("000001010101", 45), ("000001010110", 46), ("000001010111", 47),
    ("000001100100", 48), ("000001100101", 49), ("000001010010", 50),
    ("000001010011", 51), ("000000100100", 52), ("000000110111", 53),
    ("000000111000", 54), ("000000100111", 55), ("000000101000", 56),
    ("000001011000", 57), ("000001011001", 58), ("000000101011", 59),
    ("000000101100", 60), ("000001011010", 61), ("000001100110", 62),
    ("000001100111", 63),
    # makeup
    ("0000001111", 64), ("000011001000", 128), ("000011001001", 192),
    ("000001011011", 256), ("000000110011", 320), ("000000110100", 384),
    ("000000110101", 448), ("0000001101100", 512), ("0000001101101", 576),
    ("0000001001010", 640), ("0000001001011", 704), ("0000001001100", 768),
    ("0000001001101", 832), ("0000001110010", 896), ("0000001110011", 960),
    ("0000001110100", 1024), ("0000001110101", 1088),
    ("0000001110110", 1152), ("0000001110111", 1216),
    ("0000001010010", 1280), ("0000001010011", 1344),
    ("0000001010100", 1408), ("0000001010101", 1472),
    ("0000001011010", 1536), ("0000001011011", 1600),
    ("0000001100100", 1664), ("0000001100101", 1728),
]

# extended makeup codes, shared by both colors (T.4 Table 3b)
_EXT_CODES = [
    ("00000001000", 1792), ("00000001100", 1856), ("00000001101", 1920),
    ("000000010010", 1984), ("000000010011", 2048), ("000000010100", 2112),
    ("000000010101", 2176), ("000000010110", 2240), ("000000010111", 2304),
    ("000000011100", 2368), ("000000011101", 2432), ("000000011110", 2496),
    ("000000011111", 2560),
]

_PEEK = 13  # longest run code is 13 bits (black makeups)

# 2D coding modes (T.4 §4.2.1.3.7 / T.6), peeked 7 bits wide; modes:
# 1..7 = vertical a1 = b1 + (mode - 4) (V_L3..V_R3), 8 = horizontal,
# 9 = pass.
_MODE_CODES = [
    ("1", 4), ("011", 5), ("010", 3), ("000011", 6), ("000010", 2),
    ("0000011", 7), ("0000010", 1), ("001", 8), ("0001", 9),
]


def _table(codes, peek):
    """(bit string, value) list -> MSB-first prefix.table, `peek` wide."""
    return table([(v, int(b, 2), len(b)) for b, v in codes], peek, False)


_WHITE_LUT = _table(_WHITE_CODES + _EXT_CODES, _PEEK)
_BLACK_LUT = _table(_BLACK_CODES + _EXT_CODES, _PEEK)
_MODE_LUT = _table(_MODE_CODES, 7)


class _Bits:
    """MSB-first bit reader over one strip, with precomputed sliding
    13-bit windows so every Huffman peek is one array load."""

    def __init__(self, data: bytes, fill_order: int = 1):
        # FillOrder 2: bits within each byte are LSB-first
        bits = np.unpackbits(np.frombuffer(data, np.uint8),
                             bitorder="little" if fill_order == 2 else "big")
        self.n = bits.size
        padded = np.concatenate([bits, np.zeros(_PEEK, np.uint8)])
        win = padded[: self.n + _PEEK - 1].astype(np.uint16)
        kern = (1 << np.arange(_PEEK - 1, -1, -1)).astype(np.uint16)
        # windows[i] = int of bits[i:i+13]; strides trick keeps this
        # one vectorized pass per strip
        sw = np.lib.stride_tricks.sliding_window_view(
            np.concatenate([win, np.zeros(1, np.uint16)]), _PEEK
        )[: self.n]
        self.win = (sw * kern).sum(axis=1).astype(np.uint16)
        self.pos = 0

    def peek13(self) -> int:
        if self.pos >= self.n:
            raise ValueError("CCITT stream exhausted")
        return int(self.win[self.pos])

    def run(self, black: bool) -> int:
        """One run-length code word (terminating, or makeup +
        continuation handled by the caller)."""
        e = (_BLACK_LUT if black else _WHITE_LUT)[self.peek13()]
        if e == 0:
            raise ValueError("invalid CCITT run code")
        self.pos += e & 31
        return e >> 5

    def full_run(self, black: bool, limit: int) -> int:
        """Makeup codes accumulate until a terminating code (< 64)
        lands; `limit` bounds hostile makeup chains."""
        total = 0
        while True:
            r = self.run(black)
            total += r
            if total > limit:
                raise ValueError("CCITT run exceeds row width")
            if r < 64:  # terminating code (0..63) ends the run
                return total

    def mode(self) -> int:
        if self.pos >= self.n:
            raise ValueError("CCITT stream exhausted")
        e = _MODE_LUT[self.win[self.pos] >> (_PEEK - 7)]
        if e == 0:
            raise ValueError("invalid CCITT 2D mode code")
        self.pos += e & 31
        return e >> 5

    def expect_eol(self) -> None:
        """Consume fill zeros + one EOL (000000000001)."""
        start = self.pos
        while self.pos + 12 <= self.n:
            v = int(self.win[self.pos]) >> 1  # 12-bit window
            if v == 1:
                self.pos += 12
                return
            if v != 0:
                raise ValueError("expected CCITT EOL")
            # 12 zeros: fill — advance to the last zero and rescan
            self.pos += 1
            if self.pos - start > 4096:
                raise ValueError("runaway CCITT fill")
        raise ValueError("truncated CCITT stream at EOL")

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def take(self, k: int) -> int:
        if self.pos + k > self.n:
            raise ValueError("truncated CCITT stream")
        v = int(self.win[self.pos]) >> (_PEEK - k)
        self.pos += k
        return v


def _decode_1d_row(bits: _Bits, w: int):
    """One MH-coded row -> changing-element positions (transitions
    alternate white->black, black->white, starting from white). The
    code budget bounds hostile streams that alternate zero-length
    runs at one position forever (the same non-advance posture as
    the 2D loop)."""
    changes = []
    pos = 0
    black = False
    budget = 2 * w + 64
    while pos < w:
        budget -= 1
        if budget < 0:
            raise ValueError("CCITT 1D row does not advance")
        r = bits.full_run(black, w - pos)
        pos += r
        changes.append(pos)
        black = not black
    if pos != w:
        raise ValueError("CCITT 1D row overruns width")
    return changes


def _decode_2d_row(bits: _Bits, ref, w: int):
    """One 2D-coded row against reference transitions `ref`."""
    changes = []
    a0 = -1
    black = False
    budget = 2 * w + 64
    while a0 < w:
        budget -= 1
        if budget < 0:
            raise ValueError("CCITT 2D row does not advance")
        # b1: first ref transition > a0 with opposite color of a0's
        # run = transition with the same parity as len(changes)
        i = np.searchsorted(ref, a0, side="right")
        if (i ^ len(changes)) & 1:
            i += 1
        b1 = ref[i] if i < len(ref) else w
        m = bits.mode()
        if m == 9:  # pass: a0 jumps under b2, color unchanged
            b2 = ref[i + 1] if i + 1 < len(ref) else w
            a0 = b2
        elif m == 8:  # horizontal: two 1D runs from max(a0, 0)
            s = max(a0, 0)
            r1 = bits.full_run(black, w - s)
            r2 = bits.full_run(not black, w - s - r1)
            changes.append(s + r1)
            changes.append(s + r1 + r2)
            a0 = s + r1 + r2
        else:  # vertical: a1 = b1 + (m - 4), -3..3
            a1 = b1 + (m - 4)
            if a1 < 0 or a1 > w or (changes and a1 < changes[-1]):
                raise ValueError("CCITT vertical mode out of range")
            changes.append(a1)
            a0 = a1
            black = not black
    if changes and changes[-1] > w:
        raise ValueError("CCITT 2D row overruns width")
    return changes


def _row_pixels(changes, w: int) -> np.ndarray:
    """Transitions -> bool[w] black mask (row starts white)."""
    if not changes:
        return np.zeros(w, bool)
    d = np.zeros(w + 1, np.int32)  # int32: a budget-bounded row can
    # still stack ~2w coincident transitions, past int16 at w > 16k
    ch = np.minimum(np.asarray(changes, np.int64), w)
    np.add.at(d, ch[0::2], 1)
    np.add.at(d, ch[1::2], -1)
    return np.cumsum(d[:w]) > 0


def decode_ccitt_strip(
    data: bytes,
    w: int,
    n_rows: int,
    compression: int,
    t4_2d: bool = False,
    fill_order: int = 1,
) -> np.ndarray:
    """One TIFF strip -> bool[n_rows, w] black mask.

    compression: 2 = Modified Huffman (each row 1D, byte-aligned),
    3 = T.4 Group 3 (EOL-framed rows; `t4_2d` per T4Options bit 0),
    4 = T.6 Group 4 (pure 2D, imaginary white reference line).
    Strips restart the coder: this matches TIFF's independent-strip
    contract, which is also what makes fax decode parallelizable
    per-strip at scale.
    """
    if w <= 0 or n_rows <= 0:
        raise ValueError("empty CCITT strip geometry")
    bits = _Bits(data, fill_order)
    out = np.zeros((n_rows, w), bool)
    ref = [w, w]
    for y in range(n_rows):
        if compression == 2:
            changes = _decode_1d_row(bits, w)
            bits.byte_align()
        elif compression == 3:
            bits.expect_eol()
            if t4_2d:
                one_d = bits.take(1)
                changes = (
                    _decode_1d_row(bits, w)
                    if one_d
                    else _decode_2d_row(bits, ref, w)
                )
            else:
                changes = _decode_1d_row(bits, w)
        else:  # T.6
            changes = _decode_2d_row(bits, ref, w)
        out[y] = _row_pixels(changes, w)
        ref = changes if changes else [w, w]
    return out


# --- G4 (T.6) encoder: round-trip + foreign-decoder interop ---------

_WHITE_ENC = {run: bits for bits, run in _WHITE_CODES + _EXT_CODES}
_BLACK_ENC = {run: bits for bits, run in _BLACK_CODES + _EXT_CODES}
_MODE_ENC = {m: bits for bits, m in _MODE_CODES}


def _emit_run(out: list, run: int, black: bool) -> None:
    enc = _BLACK_ENC if black else _WHITE_ENC
    while run >= 64:
        mk = min(2560, run & ~63 if run < 2624 else 2560)
        # a makeup must leave a valid terminating remainder (0..63)
        out.append(enc[mk])
        run -= mk
    out.append(enc[run])


def _transitions(row: np.ndarray, w: int):
    idx = np.flatnonzero(np.diff(row.astype(np.int8))) + 1
    t = idx.tolist()
    if row[0]:
        t = [0] + t
    return t


def encode_ccitt_g4(mask: np.ndarray) -> bytes:
    """bool[h,w] black mask -> T.6 (Group 4) bitstream + EOFB,
    byte-padded. The exact inverse of decode_ccitt_strip(comp=4)."""
    h, w = mask.shape
    out: list[str] = []
    ref = [w, w]
    for y in range(h):
        cur = _transitions(mask[y], w)
        a0 = -1
        black = False
        ci = 0
        while a0 < w:
            i = np.searchsorted(ref, a0, side="right")
            if (i ^ ci) & 1:
                i += 1
            b1 = ref[i] if i < len(ref) else w
            b2 = ref[i + 1] if i + 1 < len(ref) else w
            a1 = cur[ci] if ci < len(cur) else w
            if b2 < a1:  # pass
                out.append(_MODE_ENC[9])
                a0 = b2
            elif abs(a1 - b1) <= 3:  # vertical
                out.append(_MODE_ENC[4 + a1 - b1])
                a0 = a1
                ci += 1
                black = not black
            else:  # horizontal
                a2 = cur[ci + 1] if ci + 1 < len(cur) else w
                s = max(a0, 0)
                out.append(_MODE_ENC[8])
                _emit_run(out, a1 - s, black)
                _emit_run(out, a2 - a1, not black)
                a0 = a2
                ci += 2
        ref = cur if cur else [w, w]
    out.append("000000000001" * 2)  # EOFB
    s = "".join(out)
    s += "0" * (-len(s) % 8)
    return int(s, 2).to_bytes(len(s) // 8, "big") if s else b""


def encode_tiff_g4(pixels: np.ndarray) -> bytes:
    """uint8[h,w,3] strictly bilevel (every channel 0 or 255, gray)
    -> single-strip little-endian TIFF, Compression 4, MinIsWhite."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected [h,w,3] pixels")
    gray = pixels[:, :, 0]
    if not (
        np.array_equal(pixels[:, :, 1], gray)
        and np.array_equal(pixels[:, :, 2], gray)
        and np.isin(gray, (0, 255)).all()
    ):
        raise ValueError("G4 encoder requires strictly bilevel gray pixels")
    h, w = gray.shape
    strip = encode_ccitt_g4(gray == 0)  # black mask
    n_tags = 9
    strip_off = 8 + 2 + 12 * n_tags + 4
    tags = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 1), (259, 3, 1, 4),
        (262, 3, 1, 0), (273, 4, 1, strip_off),
        (277, 3, 1, 1), (278, 3, 1, h), (279, 4, 1, len(strip)),
    ]
    ifd = struct.pack("<H", len(tags))
    for tag, typ, cnt, val in tags:
        ifd += struct.pack("<HHII", tag, typ, cnt, val)
    ifd += struct.pack("<I", 0)
    return b"II\x2a\x00" + struct.pack("<I", 8) + ifd + strip
