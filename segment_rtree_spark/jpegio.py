"""Pure-NumPy JPEG codec (baseline + progressive, no external libs).

Closes the engine's last codec gap honestly: `fmt='jpeg'` payloads are
real ITU T.81 JFIF files — baseline-sequential or progressive —
produced and consumed by this module with stdlib + NumPy only.

Scope (stated, not hidden):
  * encode: 8-bit RGB, baseline sequential (SOF0), 4:4:4 (no chroma
    subsampling), Annex-K quantization tables scaled by `quality`
    (libjpeg's 5000/Q | 200-2Q rule), Annex-K Huffman tables. The DQT
    and DHT segments are embedded in the stream per the spec, so ANY
    compliant decoder reads our files regardless of table choice.
    progressive=True emits an SOF2 spectral-selection scan script
    (same coefficients, multi-scan layout).
  * decode: baseline sequential (SOF0/1) AND progressive (SOF2, T.81
    Annex G: spectral selection + successive approximation, DC/AC
    first and refinement scans, EOB runs), 8-bit, 1 or 3 components,
    GENERAL sampling factors (4:4:4, 4:2:0, 4:2:2, any dividing
    Hi,Vi <= 4 — nearest-neighbor chroma upsample), restart markers
    honored (DC predictors + EOB runs reset). The error taxonomy is
    two-typed: corrupt streams raise JpegError (-> CorruptStream in
    the validator); VALID streams outside scope — arithmetic coding,
    lossless/hierarchical, 12-bit precision — raise
    NotImplementedError (-> CodecUnavailable), mirroring the
    reference's errors-as-data discipline (errors.rs:5-47). Interop
    is TESTED against the JVM's javax.imageio codec in both
    directions (our encoder -> Java decoder, Java 4:2:0 and
    progressive encoders -> our decoder).

The DCT/IDCT are the orthonormal matrix form as batched GEMMs over all
blocks per component (BLAS, no per-pixel Python). The entropy layer is
table-driven: one C-speed destuffing pass, then per-symbol decode is a
16-bit peek into memoized canonical-code LUTs with a libjpeg-style
combined run/size+value fast path (measured 3.5-5x the per-bit dict
walk it replaced, BENCH/jpeg_codec.json) — the symbol stream is
inherently sequential, so each step is O(1) but the loop remains
per-coefficient Python: the right altitude for a per-image Arrow
kernel (arrow_map.row_map) on thumbnail-scale corpora. For production-scale photography,
swap a native codec behind the same decode_image() seam.

Lossy contract: round trip at quality>=90 holds PSNR>=40dB on smooth
content (asserted in tests), matching the graft's per-row invariant
for lossy formats.
"""

from __future__ import annotations

import itertools
import struct

import numpy as np

from .codec_errors import DimensionMismatchError
from .prefix import canonical, table

__all__ = ["encode_jpeg", "decode_jpeg", "JpegError", "JPEG_SOI"]

JPEG_SOI = b"\xff\xd8"


class JpegError(ValueError):
    """Corrupt or unsupported JPEG stream (errors-as-data friendly)."""


# -- tables ------------------------------------------------------------

_QT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    np.float64,
)
_QT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    np.float64,
)

_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """Flat indices of the 8x8 zigzag scan (generated, not typed)."""
    idx = np.arange(64).reshape(8, 8)
    zz = []
    for s in range(15):
        pts = [(y, s - y) for y in range(8) if 0 <= s - y < 8]
        if s % 2 == 0:
            pts = pts[::-1]
        zz += [idx[y, x] for y, x in pts]
    return np.array(zz, np.int64)


_ZZ = _zigzag_order()
_UNZZ = np.argsort(_ZZ)

# orthonormal DCT-II matrix: FDCT X = D @ B @ D.T, IDCT B = D.T @ X @ D
_D = np.array(
    [
        [
            (np.sqrt(0.5) if k == 0 else 1.0)
            * np.cos((2 * n + 1) * k * np.pi / 16.0)
            / 2.0
            for n in range(8)
        ]
        for k in range(8)
    ],
    np.float64,
)


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _codes(bits, vals):
    """(BITS, HUFFVAL) -> canonical (symbol, code, length) list. HUFFVAL
    lists symbols in code order (T.81 C.2), so the k-th symbol takes
    the code canonical() assigns to position k. T.81 codes need not be
    complete; oversubscribed BITS counts raise ValueError."""
    lens = [l for l in range(1, 17) for _ in range(bits[l - 1])]
    return [(vals[k], c, l) for k, c, l in canonical(lens, complete=False)]


# -- bit IO ------------------------------------------------------------
# (the encode-side bit writer is inlined in encode_jpeg's entropy loop
# as local (acc, nb) state — per-symbol method calls measured ~30% of
# encode)

class _BitReader:
    """Entropy-segment reader, table-driven: ONE destuffing pass over
    the whole segment up front (bytes.find hops between FF bytes;
    stuffed zeros and restart markers removed, boundaries recorded),
    then per-symbol decode is a 16-bit MSB-first peek into the shared
    prefix table (prefix.table at root 16: every code length fits, so
    no entry links). This is the codec's decode floor: the symbol
    stream is inherently sequential (each boundary depends on the
    previous symbol), so the win comes from making each step O(1) on a
    flat buffer, not from parallelism."""

    def __init__(self, buf: bytes, pos: int):
        n = len(buf)
        data = bytearray()
        bounds: list[int] = []  # restart boundaries, destuffed coords
        p = pos
        end = n  # original-buf position of the terminating marker's FF
        # destuff by hopping between FF bytes (C-speed find; FF density
        # in entropy data is ~1/256, so iterations stay few at any size)
        while True:
            f = buf.find(0xFF, p)
            if f < 0:
                data += buf[p:]
                break
            data += buf[p:f]
            if f + 1 >= n:
                end = f
                break
            m = buf[f + 1]
            if m == 0x00:          # stuffed zero: keep the FF
                data.append(0xFF)
                p = f + 2
            elif 0xD0 <= m <= 0xD7:  # RSTn: drop, record boundary
                bounds.append(len(data))
                p = f + 2
            else:                  # real marker ends the scan
                end = f
                break
        self.end = end  # where marker parsing resumes (multi-scan streams)
        self.data = bytes(data)
        self.bounds = bounds
        self.bi = 0  # next entry of bounds to honor
        self.limit = bounds[0] if bounds else len(self.data)
        self.i = 0
        self.acc = 0
        self.n = 0

    def _starved(self):
        if self.limit < len(self.data):
            raise JpegError("restart marker inside coefficient read")
        raise JpegError("truncated entropy stream")

    def decode_block(self, dct, act, pred):
        """Decode one 8x8 block: DC diff + AC run-lengths -> (64-list
        in zig-zag order, new DC predictor). The whole block runs on
        LOCAL variables — per-symbol attribute loads/stores measured
        comparable to the decode arithmetic itself — with reader state
        written back once per block (and before every raise, so error
        paths observe a consistent reader).

        Symbol decode is a 16-bit peek into the prefix table;
        when fewer than 16 real bits remain the window is virtually
        1-padded (the encoder's flush fill) WITHOUT consuming, so a
        final short symbol still decodes while consuming past the end
        raises."""
        atab, afb, afr, afv = act
        acc, nb, i = self.acc, self.n, self.i
        data, lim = self.data, self.limit
        zz = [0] * 64
        k = 0
        while True:
            while nb < 16 and i < lim:
                acc = (acc << 8) | data[i]
                i += 1
                nb += 8
            if nb >= 16:
                idx = (acc >> (nb - 16)) & 0xFFFF
            else:
                pad = 16 - nb
                idx = ((acc << pad) | ((1 << pad) - 1)) & 0xFFFF
            if k:  # AC fast path: code + value in one peek
                fb = afb[idx]
                if fb and fb <= nb:
                    r = afr[idx]
                    if r >= 0:
                        k += r
                        if k > 63:
                            self.acc, self.n, self.i = acc, nb, i
                            raise JpegError("AC coefficient index overflow")
                        nb -= fb
                        acc &= (1 << nb) - 1
                        zz[k] = afv[idx]
                        k += 1
                        if k > 63:
                            break
                        continue
                    nb -= fb
                    acc &= (1 << nb) - 1
                    if r == -1:  # EOB
                        break
                    k += 16  # ZRL
                    if k > 63:
                        break
                    continue
            # DC, or the AC slow path (long code + wide value, or tail)
            e = atab[idx] if k else dct[idx]
            length = e & 31
            if length == 0:
                self.acc, self.n, self.i = acc, nb, i
                raise JpegError("invalid Huffman code")
            if length > nb:
                self.acc, self.n, self.i = acc, nb, i
                self._starved()
            nb -= length
            acc &= (1 << nb) - 1
            if k == 0:
                s = e >> 5
                if s:
                    while nb < s:
                        if i >= lim:
                            self.acc, self.n, self.i = acc, nb, i
                            self._starved()
                        acc = (acc << 8) | data[i]
                        i += 1
                        nb += 8
                    nb -= s
                    v = (acc >> nb) & ((1 << s) - 1)
                    acc &= (1 << nb) - 1
                    pred += v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                zz[0] = pred
                k = 1
                continue
            r, s = e >> 9, (e >> 5) & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    if k > 63:
                        break
                    continue
                break  # EOB
            k += r
            if k > 63:
                self.acc, self.n, self.i = acc, nb, i
                raise JpegError("AC coefficient index overflow")
            while nb < s:
                if i >= lim:
                    self.acc, self.n, self.i = acc, nb, i
                    self._starved()
                acc = (acc << 8) | data[i]
                i += 1
                nb += 8
            nb -= s
            v = (acc >> nb) & ((1 << s) - 1)
            acc &= (1 << nb) - 1
            zz[k] = v - (1 << s) + 1 if v < (1 << (s - 1)) else v
            k += 1
            if k > 63:
                break
        self.acc, self.n, self.i = acc, nb, i
        return zz, pred

    def align_restart(self):
        """Consume an RSTn marker at a restart interval boundary: the
        reader must sit exactly at the recorded marker position once
        partial-byte padding bits are discarded."""
        self.acc = 0
        self.n = 0
        if self.bi >= len(self.bounds) or self.i != self.bounds[self.bi]:
            raise JpegError("expected restart marker")
        self.bi += 1
        self.limit = (
            self.bounds[self.bi] if self.bi < len(self.bounds) else len(self.data)
        )

    # -- per-symbol primitives (progressive scans) ---------------------
    # Progressive scans interleave Huffman symbols, raw refinement bits
    # and EOB-run lengths in data-dependent order, so they decode through
    # these three primitives instead of the baseline full-block kernel.
    # Each is O(1) on the destuffed flat buffer; the per-call overhead is
    # the documented cost of the multi-scan format (see module docstring).

    def read_bit(self) -> int:
        if self.n == 0:
            if self.i >= self.limit:
                self._starved()
            self.acc = self.data[self.i]
            self.i += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive(self, s: int) -> int:
        """Read s raw bits MSB-first (T.81 RECEIVE)."""
        acc, nb, i = self.acc, self.n, self.i
        data, lim = self.data, self.limit
        while nb < s:
            if i >= lim:
                self.acc, self.n, self.i = acc, nb, i
                self._starved()
            acc = (acc << 8) | data[i]
            i += 1
            nb += 8
        nb -= s
        v = (acc >> nb) & ((1 << s) - 1)
        self.acc, self.n, self.i = acc & ((1 << nb) - 1), nb, i
        return v

    def decode_sym(self, tab) -> int:
        """One Huffman symbol via a 16-bit peek into the prefix table
        (same virtual 1-padding tail rule as decode_block)."""
        acc, nb, i = self.acc, self.n, self.i
        data, lim = self.data, self.limit
        while nb < 16 and i < lim:
            acc = (acc << 8) | data[i]
            i += 1
            nb += 8
        if nb >= 16:
            idx = (acc >> (nb - 16)) & 0xFFFF
        else:
            pad = 16 - nb
            idx = ((acc << pad) | ((1 << pad) - 1)) & 0xFFFF
        e = tab[idx]
        length = e & 31
        if length == 0:
            self.acc, self.n, self.i = acc, nb, i
            raise JpegError("invalid Huffman code")
        if length > nb:
            self.acc, self.n, self.i = acc, nb, i
            self._starved()
        nb -= length
        self.acc, self.n, self.i = acc & ((1 << nb) - 1), nb, i
        return e >> 5


_LUT_CACHE: dict = {}


def _decode_tables(bits, vals, ac: bool = False):
    """(BITS, HUFFVAL) -> the prefix table over a 16-bit MSB-first peek
    (prefix.table; entry (symbol << 5) | length, 0 = invalid prefix).
    For AC tables, built on top of it: (fast_bits, fast_run,
    fast_val): when the run/size code AND its s value bits both fit
    in the window, one peek yields the fully-extended coefficient
    (fast_bits = total bits to consume; run -1 = EOB, -2 = ZRL;
    fast_bits 0 falls back to the two-step path) — the libjpeg-style
    combined LUT. Built once per distinct table CONTENT and memoized:
    every image embedding the Annex-K tables (ours do, per spec)
    shares one build."""
    key = (bytes(bits), bytes(vals), ac)
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    if not ac and any(v > 15 for v in vals):
        # DC symbols are magnitude CATEGORIES (T.81 F.1.2.1: 0-11 for
        # 8-bit precision; 15 is the family-wide ceiling). A corrupt
        # DHT can declare up to 255, and receive(255 bits) builds
        # Python ints past 2^63 — which escapes the errors-as-data
        # taxonomy as OverflowError at the np.fromiter boundary
        # (fuzzer-found). Reject at table build, covering baseline
        # and progressive decode alike.
        raise JpegError("invalid DC category in DHT (> 15)")
    try:
        tab = table(_codes(bits, vals), 16, lsb_first=False)
    except ValueError as e:  # oversubscribed BITS counts
        raise JpegError(f"invalid DHT: {e}") from None
    out = tab
    if ac:
        t = np.array(tab, np.int64)
        ln, r, s = t & 31, t >> 9, (t >> 5) & 0xF
        fits = (ln > 0) & (ln + s <= 16)
        v = (np.arange(1 << 16) >> np.maximum(16 - ln - s, 0)) & ((1 << s) - 1)
        fbits = np.where(fits, ln + s, 0)
        frun = np.where(fits, np.where(s > 0, r, np.where(r == 15, -2, -1)), 0)
        fval = np.where(fits & (v < (1 << s) >> 1), v - (1 << s) + 1, v)
        out = (tab, fbits.tolist(), frun.tolist(), np.where(fits, fval, 0).tolist())
    if len(_LUT_CACHE) >= 16:  # bound worker-lifetime memory
        _LUT_CACHE.clear()
    _LUT_CACHE[key] = out
    return out


class _BitWriter:
    """Byte-stuffing bit accumulator for the progressive encoder's
    per-scan entropy blobs. The baseline encoder keeps its inlined
    (acc, nb) local-variable loop — per-symbol method calls measured
    ~30% of encode there; the progressive writer is a test/interop
    path where clarity wins."""

    __slots__ = ("acc", "nb", "data")

    def __init__(self):
        self.acc = 0
        self.nb = 0
        self.data = bytearray()

    def put(self, code: int, ln: int):
        self.acc = (self.acc << ln) | code
        self.nb += ln
        if self.nb >= 64:
            self.flush()

    def flush(self):
        acc, nb, data = self.acc, self.nb, self.data
        while nb >= 8:
            b = (acc >> (nb - 8)) & 0xFF
            data.append(b)
            if b == 0xFF:  # byte stuffing
                data.append(0x00)
            nb -= 8
        self.acc = acc & ((1 << nb) - 1)
        self.nb = nb

    def align_1s(self):
        pad = (-self.nb) % 8
        self.acc = (self.acc << pad) | ((1 << pad) - 1)
        self.nb += pad
        self.flush()

    def restart(self, rst: int):
        self.align_1s()
        self.data += bytes([0xFF, 0xD0 + (rst % 8)])


def _put_dc(bw: _BitWriter, tab, diff: int):
    s = (diff if diff > 0 else -diff).bit_length()
    code, ln = tab[s]
    bw.put(code, ln)
    if s:
        bw.put(
            (diff if diff >= 0 else diff + (1 << s) - 1) & ((1 << s) - 1), s
        )


def _encode_prog_scans(samp, grids, glists, nzlists, dcl, acl,
                       restart_interval, nmy, nmx, hmax, vmax, h, w):
    """Entropy blobs for the spectral-selection progressive script:
    [(sos_body, bytes)] — scan 1 codes every DC coefficient in
    interleaved MCU order (A.2.3), then one AC scan per component over
    band 1..63 in non-interleaved raster order covering the ceil
    sub-grid (A.2.2). Coefficients and Huffman tables are identical to
    the baseline scan; only the layout differs."""
    n_comp = len(samp)
    out = []
    bw = _BitWriter()
    preds = [0] * n_comp
    rst = 0
    for mi in range(nmy * nmx):
        if restart_interval and mi and mi % restart_interval == 0:
            bw.restart(rst)
            rst += 1
            preds = [0] * n_comp
        my, mx = divmod(mi, nmx)
        for c in range(n_comp):
            hi, vi = samp[c]
            tab = dcl[0 if c == 0 else 1]
            cols_c = grids[c].shape[1]
            glist = glists[c]
            for v in range(vi):
                for u in range(hi):
                    d0 = glist[(my * vi + v) * cols_c + mx * hi + u][0]
                    _put_dc(bw, tab, d0 - preds[c])
                    preds[c] = d0
    bw.align_1s()
    sos_comps = b"".join(
        bytes([c + 1, (0 if c == 0 else 1) << 4]) for c in range(n_comp)
    )
    out.append((bytes([n_comp]) + sos_comps + bytes([0, 0, 0]), bytes(bw.data)))
    for c in range(n_comp):
        bw = _BitWriter()
        hi, vi = samp[c]
        cols_c = grids[c].shape[1]
        # non-interleaved scans cover ceil(comp_dim/8) blocks, which for
        # Hi>1 at odd sizes is FEWER columns than the MCU-padded grid
        bwn = -(-(-(-w * hi // hmax)) // 8)
        bhn = -(-(-(-h * vi // vmax)) // 8)
        t = 0 if c == 0 else 1
        act_ = acl[t]
        glist, nzl = glists[c], nzlists[c]
        rst = 0
        cnt = 0
        for by in range(bhn):
            for bx in range(bwn):
                if restart_interval and cnt and cnt % restart_interval == 0:
                    bw.restart(rst)
                    rst += 1
                cnt += 1
                bi = by * cols_c + bx
                zz = glist[bi]
                prev = 0
                for i in nzl[bi]:
                    run = i - prev
                    prev = i + 1
                    while run > 15:
                        code, ln = act_[0xF0]  # ZRL
                        bw.put(code, ln)
                        run -= 16
                    val = zz[1 + i]
                    s = (val if val > 0 else -val).bit_length()
                    code, ln = act_[(run << 4) | s]
                    bw.put(code, ln)
                    bw.put(
                        (val if val >= 0 else val + (1 << s) - 1)
                        & ((1 << s) - 1),
                        s,
                    )
                if prev < 63:
                    code, ln = act_[0x00]  # EOB0
                    bw.put(code, ln)
        bw.align_1s()
        out.append((bytes([1, c + 1, t, 1, 63, 0]), bytes(bw.data)))
    return out


# -- color -------------------------------------------------------------

def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    p = px.astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """[H, W] (multiples of 8) -> [n_blocks, 8, 8] in raster block order."""
    hh, ww = plane.shape
    return (
        plane.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, hh: int, ww: int) -> np.ndarray:
    return (
        blocks.reshape(hh // 8, ww // 8, 8, 8).transpose(0, 2, 1, 3).reshape(hh, ww)
    )


# -- encoder -----------------------------------------------------------

def encode_jpeg(pixels: np.ndarray, quality: int = 90,
                restart_interval: int = 0,
                grayscale: bool = False,
                subsample: bool = False,
                progressive: bool = False) -> bytes:
    """uint8[h,w,3] -> baseline JFIF bytes (quality-scaled Annex-K
    tables; see module docstring for the exact scope).

    restart_interval > 0 emits a DRI segment and an RSTn marker every
    that many MCUs (DC predictors reset, stream byte-aligned) — the
    resync structure long streams carry so one bit error cannot
    corrupt everything after it. grayscale=True writes a 1-component
    (luma-only) frame; the decoder returns it replicated to RGB.
    subsample=True writes 4:2:0 (Y at 2x2, chroma box-mean downsampled
    2x in each axis — the default trade every production encoder
    makes; ~35-40% smaller streams, chroma detail halved).
    progressive=True writes an SOF2 stream with the spectral-selection
    scan script (interleaved DC scan, then one AC 1..63 scan per
    component) — same coefficients, multi-scan layout; successive
    approximation is decode-only (javax fixtures cover it)."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_jpeg expects uint8[h,w,3]")
    h, w, _ = px.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    qt = [_scaled_qt(_QT_LUMA, quality), _scaled_qt(_QT_CHROMA, quality)]
    if grayscale:
        samp = [(1, 1)]
    elif subsample:
        samp = [(2, 2), (1, 1), (1, 1)]  # 4:2:0
    else:
        samp = [(1, 1)] * 3
    n_comp = len(samp)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    # pad to MCU multiples by edge replication
    ph, pw = -h % (8 * vmax), -w % (8 * hmax)
    padded = np.pad(px, ((0, ph), (0, pw), (0, 0)), mode="edge")
    ycc = _rgb_to_ycbcr(padded)

    # per component: (rows, cols, 64) zigzag block grid — FDCT +
    # quantize vectorized over all blocks, subsampled chroma planes
    # box-mean reduced first
    grids = []
    for c in range(n_comp):
        t = 0 if c == 0 else 1
        hi, vi = samp[c]
        plane = ycc[..., c]
        ry, rx = vmax // vi, hmax // hi
        if ry > 1 or rx > 1:
            hh0, ww0 = plane.shape
            plane = plane.reshape(hh0 // ry, ry, ww0 // rx, rx).mean(axis=(1, 3))
        blocks = _to_blocks(plane) - 128.0
        # FDCT as two batched GEMMs (D @ block @ D^T): BLAS, ~5x the
        # generic einsum contraction (same swap as the decode IDCT)
        coef = _D @ blocks @ _D.T
        q = np.round(coef / qt[t]).astype(np.int64)
        rows, cols = plane.shape[0] // 8, plane.shape[1] // 8
        grids.append(q.reshape(-1, 64)[:, _ZZ].reshape(rows, cols, 64))

    # entropy layer on LOCAL variables, mirroring the decode kernel's
    # discipline: block grids become plain Python lists once, per-block
    # AC nonzero schedules come from ONE vectorized np.nonzero over the
    # whole grid (a per-block nonzero() call measured ~15% of encode),
    # and bits accumulate in a local (acc, nb) pair flushed with byte
    # stuffing per block
    dcl = [{s: (c, l) for s, c, l in _codes(*t)} for t in (
        (_DC_LUMA_BITS, _DC_LUMA_VALS), (_DC_CHROMA_BITS, _DC_CHROMA_VALS))]
    acl = [{s: (c, l) for s, c, l in _codes(*t)} for t in (
        (_AC_LUMA_BITS, _AC_LUMA_VALS), (_AC_CHROMA_BITS, _AC_CHROMA_VALS))]
    glists = []
    nzlists = []
    for c in range(n_comp):
        g = grids[c].reshape(-1, 64)
        glists.append(g.tolist())
        nzr, nzc = np.nonzero(g[:, 1:])
        splits = np.searchsorted(nzr, np.arange(1, g.shape[0]))
        nzlists.append([a.tolist() for a in np.split(nzc, splits)])

    preds = [0] * n_comp
    nmy = padded.shape[0] // (8 * vmax)
    nmx = padded.shape[1] // (8 * hmax)
    scan_blobs = (
        _encode_prog_scans(samp, grids, glists, nzlists, dcl, acl,
                           restart_interval, nmy, nmx, hmax, vmax, h, w)
        if progressive else None
    )
    mcu_range = range(0 if progressive else nmy * nmx)
    rst = 0
    acc = 0
    nb = 0
    data = bytearray()

    def _flush_bytes():
        nonlocal acc, nb
        while nb >= 8:
            b = (acc >> (nb - 8)) & 0xFF
            data.append(b)
            if b == 0xFF:  # byte stuffing
                data.append(0x00)
            nb -= 8
        acc &= (1 << nb) - 1

    def _align_1s():
        nonlocal acc, nb
        pad = (-nb) % 8
        acc = (acc << pad) | ((1 << pad) - 1)
        nb += pad
        _flush_bytes()

    for mi in mcu_range:  # interleaved MCU order (T.81 A.2.3)
        if restart_interval and mi and mi % restart_interval == 0:
            _align_1s()  # byte-align, then RSTn, then fresh predictors
            data += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            preds = [0] * n_comp
        my, mx = divmod(mi, nmx)
        for c in range(n_comp):
            hi, vi = samp[c]
            t = 0 if c == 0 else 1
            dct_, act_ = dcl[t], acl[t]
            glist, nzl = glists[c], nzlists[c]
            cols_c = grids[c].shape[1]
            for v in range(vi):
                for u in range(hi):
                    bi = (my * vi + v) * cols_c + mx * hi + u
                    zz = glist[bi]
                    d0 = zz[0]
                    diff = d0 - preds[c]
                    preds[c] = d0
                    s = (diff if diff > 0 else -diff).bit_length()
                    code, ln = dct_[s]
                    acc = (acc << ln) | code
                    nb += ln
                    if s:
                        acc = (acc << s) | (
                            (diff if diff >= 0 else diff + (1 << s) - 1)
                            & ((1 << s) - 1)
                        )
                        nb += s
                    prev = 0
                    for i in nzl[bi]:
                        run = i - prev
                        prev = i + 1
                        while run > 15:
                            code, ln = act_[0xF0]  # ZRL
                            acc = (acc << ln) | code
                            nb += ln
                            run -= 16
                        val = zz[1 + i]
                        s = (val if val > 0 else -val).bit_length()
                        code, ln = act_[(run << 4) | s]
                        acc = (acc << ln) | code
                        nb += ln
                        acc = (acc << s) | (
                            (val if val >= 0 else val + (1 << s) - 1)
                            & ((1 << s) - 1)
                        )
                        nb += s
                    if prev < 63:
                        code, ln = act_[0x00]  # EOB
                        acc = (acc << ln) | code
                        nb += ln
                    if nb >= 64:
                        _flush_bytes()
    _align_1s()

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(JPEG_SOI)
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for t in range(1 if grayscale else 2):
        out += seg(0xDB, bytes([t]) + bytes(qt[t].ravel()[_ZZ].astype(np.uint8)))
    sof_comps = b"".join(
        bytes([c + 1, (samp[c][0] << 4) | samp[c][1], 0 if c == 0 else 1])
        for c in range(n_comp)
    )
    out += seg(
        0xC2 if progressive else 0xC0,
        struct.pack(">BHHB", 8, h, w, n_comp) + sof_comps,
    )
    tables = [
        (0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS),
    ]
    if not grayscale:
        tables += [
            (0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
            (1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
        ]
    for cls, tid, bits, vals in tables:
        out += seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    if progressive:
        for sos_body, blob in scan_blobs:
            out += seg(0xDA, sos_body)
            out += blob
    else:
        if grayscale:
            out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        else:
            out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        out += data
    out += b"\xff\xd9"
    return bytes(out)


# -- decoder -----------------------------------------------------------

def decode_jpeg(buf: bytes, expect: tuple[int, int] | None = None) -> np.ndarray:
    """JFIF bytes -> uint8[h,w,3].

    Baseline-sequential (SOF0/1) and progressive (SOF2) streams decode;
    valid-but-out-of-scope family members (lossless/hierarchical SOF3+,
    arithmetic coding SOF9-11, 12-bit precision) raise
    NotImplementedError — a codec GAP the validator routes to
    CodecUnavailable; corrupt streams raise JpegError (CorruptStream).
    The split mirrors the reference's errors-as-data taxonomy
    (errors.rs:5-47: a valid-but-unhandled input is typed apart from a
    malformed one).

    `expect=(w, h)` (table metadata, used by every table-level call
    site) is validated against the SOF dims BEFORE the component
    planes / progressive coefficient grids are sized from them: SOF
    carries 16-bit dims, so without the check a corrupt header can
    demand a ~12 GB allocation from a few flipped bytes — at ingest
    scale that is an executor OOM, not an errors-as-data row."""
    if len(buf) < 4 or buf[:2] != JPEG_SOI:
        raise JpegError("missing JPEG SOI")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    sof = None
    progressive = False
    grids = None  # progressive: cid -> flat list of 64-lists (zigzag)
    scans_done = 0
    restart_interval = 0
    while pos + 2 <= len(buf):
        if buf[pos] != 0xFF:
            raise JpegError(f"expected marker at {pos}")
        marker = buf[pos + 1]
        if marker == 0xD9:  # EOI
            if scans_done:  # progressive: all scans in, reconstruct
                return _reconstruct_progressive(sof, grids, qts)
            raise JpegError("no scan data")
        if pos + 4 > len(buf):
            raise JpegError("truncated stream")
        (length,) = struct.unpack_from(">H", buf, pos + 2)
        body = buf[pos + 4 : pos + 2 + length]
        if len(body) != length - 2:
            raise JpegError("truncated segment")
        if marker == 0xDB:  # DQT (possibly several tables)
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                if pq != 0:
                    raise JpegError("16-bit quant tables unsupported")
                tbl = np.frombuffer(body[o + 1 : o + 65], np.uint8).astype(np.int64)
                if len(tbl) != 64:
                    raise JpegError("short DQT")
                qts[tq] = tbl[_UNZZ].reshape(8, 8)
                o += 65
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(body):
                cls, tid = body[o] >> 4, body[o] & 0xF
                bits = list(body[o + 1 : o + 17])
                if len(bits) != 16:
                    raise JpegError("short DHT")
                n = sum(bits)
                vals = list(body[o + 17 : o + 17 + n])
                if len(vals) != n:
                    raise JpegError("short DHT")
                (dc_tabs if cls == 0 else ac_tabs)[tid] = _decode_tables(
                    bits, vals, ac=cls != 0
                )
                o += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / progressive SOF
            if len(body) < 6:
                raise JpegError("short SOF")
            prec, hh, ww, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                # 12-bit is a VALID T.81 stream this codec declines
                raise NotImplementedError(
                    "12-bit JPEG precision unsupported (8-bit only)"
                )
            # declared segment length can be self-consistent yet too
            # small for nc components — validate before slicing so a
            # corrupt stream raises JpegError, not a bare ValueError
            if len(body) < 6 + 3 * nc:
                raise JpegError("short SOF component list")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                hi, vi = samp >> 4, samp & 0xF
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise JpegError(f"invalid sampling factors {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            if expect is not None and (ww, hh) != expect:
                raise DimensionMismatchError(
                    f"SOF {ww}x{hh} != metadata {expect[0]}x{expect[1]}"
                )
            sof = (hh, ww, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "lossless/hierarchical JPEG unsupported"
            )
        elif marker in (0xC9, 0xCA, 0xCB):
            raise NotImplementedError("arithmetic-coded JPEG unsupported")
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise JpegError("short DRI")
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if sof is None:
                raise JpegError("SOS before SOF")
            if len(body) < 1 or len(body) < 1 + 2 * body[0]:
                raise JpegError("short SOS header")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                scan.append((cs, tt >> 4, tt & 0xF))
            if not progressive:
                return _decode_scan(
                    buf, pos + 2 + length, sof, scan, qts, dc_tabs, ac_tabs,
                    restart_interval,
                )
            # progressive: Ss/Se/AhAl select the scan's spectral band
            # and bit plane; entropy data accumulates into the shared
            # coefficient grids, marker parsing resumes after it
            if len(body) < 4 + 2 * ns:
                raise JpegError("short SOS header")
            ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            if grids is None:
                grids = _alloc_prog_grids(sof)
            pos = _progressive_scan(
                buf, pos + 2 + length, sof, grids, scan,
                ss, se, a >> 4, a & 0xF, dc_tabs, ac_tabs, restart_interval,
            )
            scans_done += 1
            continue
        pos += 2 + length
    if scans_done:
        raise JpegError("missing EOI")
    raise JpegError("no SOS marker")


def _decode_scan(buf, pos, sof, scan, qts, dc_tabs, ac_tabs, restart_interval):
    """Interleaved baseline scan with GENERAL sampling factors: an MCU
    holds Hi x Vi blocks per component (raster order within the MCU);
    subsampled chroma planes upsample by pixel replication. 4:4:4
    (what our encoder emits), 4:2:0 / 4:2:2 (what libjpeg-family
    encoders emit by default) and any Hi,Vi <= 4 with Hmax % Hi == 0
    all decode through the same path."""
    hh, ww, comps = sof
    if len(scan) != len(comps):
        raise JpegError("scan/frame component mismatch")
    by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    for _, hi, vi, _ in comps:
        if hmax % hi or vmax % vi:
            raise JpegError(f"non-dividing sampling factors {hi}x{vi}")
    nmx = -(-ww // (8 * hmax))  # MCUs per row
    nmy = -(-hh // (8 * vmax))
    n_mcu = nmx * nmy
    br = _BitReader(buf, pos)
    # per scan component: block grid (rows = nmy*Vi, cols = nmx*Hi);
    # coefficients land in plain Python lists (one 64-list per block)
    # and become ONE np.array per component at the end — per-element
    # numpy scalar writes in the MCU loop measured ~2x the whole
    # entropy layer
    geo = []
    shapes = []
    blk_lists = []
    for cs, td, ta in scan:
        if cs not in by_id:
            raise JpegError("unknown scan component")
        hi, vi, tq = by_id[cs]
        geo.append((hi, vi, tq))
        rows, cols = nmy * vi, nmx * hi
        shapes.append((rows, cols))
        blk_lists.append([None] * (rows * cols))
    preds = [0] * len(scan)
    try:
        for mi in range(n_mcu):
            if restart_interval and mi and mi % restart_interval == 0:
                br.align_restart()
                preds = [0] * len(scan)
            my, mx = divmod(mi, nmx)
            for ci, (cs, td, ta) in enumerate(scan):
                hi, vi, _ = geo[ci]
                dct = dc_tabs.get(td)
                act = ac_tabs.get(ta)
                if dct is None or act is None:
                    raise JpegError("missing Huffman table")
                _, cols = shapes[ci]
                blks = blk_lists[ci]
                for v in range(vi):
                    for u in range(hi):
                        zz, preds[ci] = br.decode_block(dct, act, preds[ci])
                        blks[(my * vi + v) * cols + mx * hi + u] = zz
    except IndexError as e:  # defensive: malformed stream indexing
        raise JpegError(f"malformed stream: {e}") from None
    coefs = [
        np.fromiter(
            itertools.chain.from_iterable(blks), np.int64, count=rows * cols * 64
        ).reshape(rows, cols, 64)
        for blks, (rows, cols) in zip(blk_lists, shapes)
    ]

    return _reconstruct(coefs, geo, hmax, vmax, hh, ww, qts)


def _reconstruct(coefs, geo, hmax, vmax, hh, ww, qts):
    """Shared decode tail (baseline + progressive): dequantize, batched
    BLAS IDCT, chroma upsample, crop, color convert."""
    planes = []
    for (hi, vi, tq), grid in zip(geo, coefs):
        qt = qts.get(tq)
        if qt is None:
            raise JpegError("missing quant table")
        cph, cpw = grid.shape[0] * 8, grid.shape[1] * 8
        c = grid.reshape(-1, 64)[:, _UNZZ].reshape(-1, 8, 8) * qt[None, :, :]
        # IDCT as two batched GEMMs (D^T @ c @ D): dispatches to BLAS,
        # measured ~5x the generic einsum contraction it replaces
        blocks = _D.T @ c.astype(np.float64) @ _D + 128.0
        plane = _from_blocks(blocks, cph, cpw)
        ry, rx = vmax // vi, hmax // hi
        if ry > 1 or rx > 1:  # nearest-neighbor chroma upsample
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:hh, :ww])
    if len(planes) == 1:
        y = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    if len(planes) != 3:
        raise JpegError(f"{len(planes)}-component JPEG unsupported")
    return _ycbcr_to_rgb(np.stack(planes, axis=-1))


# -- progressive mode (T.81 Annex G) -----------------------------------
#
# A progressive stream carries the SAME quantized DCT coefficients as a
# baseline one, split across multiple scans: by spectral band (Ss..Se)
# and by bit plane (successive approximation, Ah/Al). Scans accumulate
# into per-component coefficient grids; reconstruction after EOI is the
# baseline tail (_reconstruct). Mirrors the reference's posture of
# covering every variant of its chosen wire formats
# (from_wkt.rs:105-289 parses all WKT forms incl. empties).


def _prog_geometry(sof):
    hh, ww, comps = sof
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    for _, hi, vi, _ in comps:
        if hmax % hi or vmax % vi:
            raise JpegError(f"non-dividing sampling factors {hi}x{vi}")
    nmx = -(-ww // (8 * hmax))  # MCUs per row
    nmy = -(-hh // (8 * vmax))
    return hmax, vmax, nmx, nmy


def _alloc_prog_grids(sof):
    """Per component: MCU-padded block grid (rows=nmy*Vi, cols=nmx*Hi)
    of zigzag 64-lists. Non-interleaved scans cover only the ceil
    sub-grid (bw x bh blocks, T.81 A.2.2) of this allocation."""
    hh, ww, comps = sof
    hmax, vmax, nmx, nmy = _prog_geometry(sof)
    return {
        cid: [[0] * 64 for _ in range(nmy * vi * nmx * hi)]
        for cid, hi, vi, _ in comps
    }


def _prog_sched(sof, grids, scan):
    """Block schedule for one scan: a list of restart-counted units,
    each a list of block 64-lists. Interleaved (Ns>1): one unit per
    MCU, Hi x Vi blocks per component in raster order (A.2.3).
    Non-interleaved (Ns=1): one unit per block, raster over the
    component's ceil(comp_dim/8) sub-grid (A.2.2) — NOT the padded
    grid; for e.g. 4:2:0 luma at odd sizes the two differ."""
    hh, ww, comps = sof
    by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
    hmax, vmax, nmx, nmy = _prog_geometry(sof)
    for cs, _, _ in scan:
        if cs not in by_id:
            raise JpegError("unknown scan component")
    units = []
    if len(scan) > 1:
        geo = []
        for ci, (cs, _, _) in enumerate(scan):
            hi, vi, _ = by_id[cs]
            geo.append((grids[cs], nmx * hi, hi, vi))
        for mi in range(nmy * nmx):
            my, mx = divmod(mi, nmx)
            unit = []
            for ci in range(len(scan)):
                g, cols, hi, vi = geo[ci]
                for v in range(vi):
                    for u in range(hi):
                        unit.append(
                            (ci, g[(my * vi + v) * cols + mx * hi + u])
                        )
            units.append(unit)
    else:
        cs = scan[0][0]
        hi, vi, _ = by_id[cs]
        g = grids[cs]
        cols = nmx * hi
        bw = -(-(-(-ww * hi // hmax)) // 8)  # ceil(ceil(ww*Hi/Hmax)/8)
        bh = -(-(-(-hh * vi // vmax)) // 8)
        for by in range(bh):
            base = by * cols
            for bx in range(bw):
                units.append([(0, g[base + bx])])
    return units


def _progressive_scan(buf, pos, sof, grids, scan, ss, se, ah, al,
                      dc_tabs, ac_tabs, restart_interval):
    """Decode one progressive scan into the coefficient grids; returns
    the original-buf position where marker parsing resumes.

    Four scan kinds (G.1.2): DC first (diff-coded at Al precision),
    DC refine (one bit per block), AC first (run/size over band Ss..Se
    with EOB-run symbols), AC refine (correction bits on nonzero
    history + sign bits on new coefficients)."""
    if ss == 0 and se != 0:
        raise JpegError("progressive DC scan must have Se=0")
    if ss > 0 and len(scan) != 1:
        raise JpegError("progressive AC scan must be single-component")
    if not (ss <= se <= 63) or ah > 13 or al > 13:
        raise JpegError("invalid spectral selection")
    units = _prog_sched(sof, grids, scan)
    br = _BitReader(buf, pos)
    ri = restart_interval
    try:
        if ss == 0:
            if ah == 0:  # DC first: Huffman tables required
                tabs = []
                for cs, td, _ in scan:
                    t = dc_tabs.get(td)
                    if t is None:
                        raise JpegError("missing Huffman table")
                    tabs.append(t)
                preds = [0] * len(scan)
                for mi, unit in enumerate(units):
                    if ri and mi and mi % ri == 0:
                        br.align_restart()
                        preds = [0] * len(scan)
                    for ci, b in unit:
                        s = br.decode_sym(tabs[ci])
                        if s > 11:
                            raise JpegError("bad DC symbol")
                        if s:
                            v = br.receive(s)
                            preds[ci] += (
                                v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                            )
                        b[0] = preds[ci] << al
            else:  # DC refine: raw bit per block, no tables
                for mi, unit in enumerate(units):
                    if ri and mi and mi % ri == 0:
                        br.align_restart()
                    for _, b in unit:
                        if br.read_bit():
                            b[0] |= 1 << al  # infinite two's complement |=
        else:
            t = ac_tabs.get(scan[0][2])
            if t is None:
                raise JpegError("missing Huffman table")
            tab = t[0]
            eobrun = 0
            if ah == 0:  # AC first
                for bi, unit in enumerate(units):
                    if ri and bi and bi % ri == 0:
                        br.align_restart()
                        eobrun = 0
                    if eobrun:
                        eobrun -= 1
                        continue
                    b = unit[0][1]
                    k = ss
                    while k <= se:
                        rs = br.decode_sym(tab)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            eobrun = (1 << r) - 1  # EOBn: this block ends
                            if r:
                                eobrun += br.receive(r)
                            break
                        k += r
                        if k > se:
                            raise JpegError("AC coefficient index overflow")
                        v = br.receive(s)
                        b[k] = (
                            v - (1 << s) + 1 if v < (1 << (s - 1)) else v
                        ) << al
                        k += 1
            else:  # AC refine (G.2): the correction-bit automaton
                p1, m1 = 1 << al, -1 << al
                for bi, unit in enumerate(units):
                    if ri and bi and bi % ri == 0:
                        br.align_restart()
                        eobrun = 0
                    b = unit[0][1]
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = br.decode_sym(tab)
                            r, s = rs >> 4, rs & 0xF
                            newval = 0
                            if s == 0:
                                if r != 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += br.receive(r)
                                    break
                                # r == 15: skip 16 zero-history coeffs
                            else:
                                if s != 1:
                                    raise JpegError(
                                        "invalid AC refinement symbol"
                                    )
                                newval = p1 if br.read_bit() else m1
                            while k <= se:
                                if b[k] != 0:
                                    # nonzero history: append correction
                                    # bit if this plane's bit not yet set
                                    if br.read_bit() and not (b[k] & p1):
                                        b[k] += p1 if b[k] >= 0 else m1
                                else:
                                    if r == 0:
                                        break  # new coefficient lands here
                                    r -= 1
                                k += 1
                            if newval and k <= se:
                                b[k] = newval
                            k += 1
                    if eobrun:
                        # EOB run: remaining band gets correction bits
                        # on nonzero history only
                        while k <= se:
                            if b[k] != 0:
                                if br.read_bit() and not (b[k] & p1):
                                    b[k] += p1 if b[k] >= 0 else m1
                            k += 1
                        eobrun -= 1
    except IndexError as e:  # defensive: malformed stream indexing
        raise JpegError(f"malformed stream: {e}") from None
    return br.end


def _reconstruct_progressive(sof, grids, qts):
    hh, ww, comps = sof
    if grids is None:
        raise JpegError("no scan data")
    hmax, vmax, nmx, nmy = _prog_geometry(sof)
    coefs, geo = [], []
    for cid, hi, vi, tq in comps:
        rows, cols = nmy * vi, nmx * hi
        coefs.append(np.array(grids[cid], np.int64).reshape(rows, cols, 64))
        geo.append((hi, vi, tq))
    return _reconstruct(coefs, geo, hmax, vmax, hh, ww, qts)
