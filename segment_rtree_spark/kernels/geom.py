"""Vectorized NumPy geometry kernels.

Re-implements the scalar geometry primitives of the reference
(jagill/segment-rtree) as batch kernels over NumPy arrays — the
vectorized-execution layer that all Spark pandas/Arrow UDFs call into.
No per-row Python in any hot path.

Semantics references (behavioral parity, not code translation):
  - segment envelopes:        reference src/utils.rs:3-8
  - winding_number:           reference src/utils.rs:35-60
  - intersect_segments:       reference src/utils.rs:73-126
  - Rectangle ops:            reference src/rectangle.rs:46-115
  - Liang-Barsky segment clip reference src/rectangle.rs:120-165

Float discipline (correctness-critical, see SURVEY.md §1.3):
  * All comparisons are EXACT (`==`), no epsilons — the reference relies
    on exact float equality for boundary/collinearity decisions.
  * "Empty" rectangles are all-NaN; envelope merges must use np.fmin /
    np.fmax (which ignore NaN like Rust's f64::min/max), NEVER
    np.minimum/np.maximum (which propagate NaN).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "segment_envelopes",
    "envelope_of",
    "rect_intersects",
    "rect_contains",
    "rect_contains_point",
    "winding_position",
    "WN_ON",
    "WN_LEFT",
    "WN_RIGHT",
    "WN_OFF",
    "intersect_segments",
    "clip_segments",
]

# Winding classification codes (reference src/utils.rs:28-33).
WN_RIGHT = np.int8(-1)
WN_OFF = np.int8(0)
WN_LEFT = np.int8(1)
WN_ON = np.int8(2)


def segment_envelopes(xs: np.ndarray, ys: np.ndarray):
    """Per-segment AABBs of a packed coordinate array.

    n coords -> n-1 envelopes (reference src/utils.rs:3-8).
    Returns (xmin, ymin, xmax, ymax) float64 arrays.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    return (
        np.minimum(xs[:-1], xs[1:]),
        np.minimum(ys[:-1], ys[1:]),
        np.maximum(xs[:-1], xs[1:]),
        np.maximum(ys[:-1], ys[1:]),
    )


def envelope_of(xs: np.ndarray, ys: np.ndarray):
    """Envelope of a coordinate array (reference src/rectangle.rs:69-74).

    Empty input -> all-NaN empty rectangle.
    """
    if len(xs) == 0:
        return (np.nan, np.nan, np.nan, np.nan)
    return (np.min(xs), np.min(ys), np.max(xs), np.max(ys))


def rect_intersects(axmin, aymin, axmax, aymax, bxmin, bymin, bxmax, bymax):
    """Closed AABB overlap test; touching counts (src/rectangle.rs:83-89)."""
    return (
        (axmin <= bxmax) & (axmax >= bxmin) & (aymin <= bymax) & (aymax >= bymin)
    )


def rect_contains(axmin, aymin, axmax, aymax, bxmin, bymin, bxmax, bymax):
    """Closed AABB containment of b in a (src/rectangle.rs:91-97)."""
    return (
        (axmin <= bxmin) & (axmax >= bxmax) & (aymin <= bymin) & (aymax >= bymax)
    )


def rect_contains_point(xmin, ymin, xmax, ymax, px, py):
    """Point-in-rectangle, closed (point treated as degenerate AABB)."""
    return (xmin <= px) & (xmax >= px) & (ymin <= py) & (ymax >= py)


def winding_position(px, py, sx, sy, ex, ey):
    """Winding contribution of segment (s->e) relative to point p.

    Vectorized port of reference src/utils.rs:35-60. Returns int8 array:
    WN_ON (2) if the point is collinear with the segment's support line
    (lx == rx, EXACT equality), WN_LEFT (+1) on upward crossing with the
    point strictly left, WN_RIGHT (-1) on downward crossing, else WN_OFF.
    """
    px = np.asarray(px, dtype=np.float64)
    lx = (ex - sx) * (py - sy)
    rx = (ey - sy) * (px - sx)

    on = lx == rx
    up = (sy <= py) & (ey > py) & (lx > rx)
    down = (sy > py) & (ey <= py) & (lx < rx)

    out = np.zeros(np.broadcast(px, sx).shape, dtype=np.int8)
    out[up] = WN_LEFT
    out[down] = WN_RIGHT
    out[on] = WN_ON  # On wins over crossing classes, as in the reference
    return out


def intersect_segments(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
    """Exact segment x segment intersection, vectorized.

    Port of reference src/utils.rs:73-126 branch-for-branch:
      1. identical / reversed segments fast path -> whole segment A;
      2. parallel (cross == 0): disjoint unless offset also parallel, in
         which case project B onto A (t in units of A) and clamp the
         overlap to [0,1]; empty overlap -> miss;
      3. general: solve for (ta, tb); hit iff both in [0,1] inclusive —
         returns a degenerate (point) interval.

    Returns (hit, x0, y0, x1, y1); non-hit lanes hold NaN. Point hits
    have x0 == x1 and y0 == y1. Like the reference, no envelope
    prefilter is done here — callers prefilter.
    """
    ax0, ay0, ax1, ay1, bx0, by0, bx1, by1 = np.broadcast_arrays(
        *(np.asarray(a, dtype=np.float64) for a in (ax0, ay0, ax1, ay1, bx0, by0, bx1, by1))
    )
    shape = ax0.shape

    dax = ax1 - ax0
    day = ay1 - ay0
    dbx = bx1 - bx0
    dby = by1 - by0
    offx = bx0 - ax0
    offy = by0 - ay0

    da_x_db = dax * dby - day * dbx
    off_x_da = offx * day - offy * dax

    same = ((ax0 == bx0) & (ay0 == by0) & (ax1 == bx1) & (ay1 == by1)) | (
        (ax0 == bx1) & (ay0 == by1) & (ax1 == bx0) & (ay1 == by0)
    )

    hit = np.zeros(shape, dtype=bool)
    x0 = np.full(shape, np.nan)
    y0 = np.full(shape, np.nan)
    x1 = np.full(shape, np.nan)
    y1 = np.full(shape, np.nan)

    with np.errstate(divide="ignore", invalid="ignore"):
        # --- parallel, collinear branch ---
        par = (da_x_db == 0.0) & (off_x_da == 0.0) & ~same
        if par.any():
            da_2 = dax * dax + day * day
            t0 = (offx * dax + offy * day) / da_2
            t1 = t0 + (dax * dbx + day * dby) / da_2
            t_min = np.minimum(t0, t1)
            t_max = np.maximum(t0, t1)
            overlap = par & ~(t_min > 1.0) & ~(t_max < 0.0)
            # fmax/fmin mirror Rust f64::max/min: NaN operands (possible
            # only for degenerate zero-length segments) yield the bound
            ts = np.fmax(t_min, 0.0)
            te = np.fmin(t_max, 1.0)
            hit |= overlap
            x0 = np.where(overlap, ax0 + dax * ts, x0)
            y0 = np.where(overlap, ay0 + day * ts, y0)
            x1 = np.where(overlap, ax0 + dax * te, x1)
            y1 = np.where(overlap, ay0 + day * te, y1)

        # --- general (non-parallel) branch ---
        gen = (da_x_db != 0.0) & ~same
        if gen.any():
            off_x_db = offx * dby - offy * dbx
            ta = off_x_db / da_x_db
            tb = off_x_da / da_x_db
            pt = gen & (ta >= 0.0) & (ta <= 1.0) & (tb >= 0.0) & (tb <= 1.0)
            ix = ax0 + dax * ta
            iy = ay0 + day * ta
            hit |= pt
            x0 = np.where(pt, ix, x0)
            y0 = np.where(pt, iy, y0)
            x1 = np.where(pt, ix, x1)
            y1 = np.where(pt, iy, y1)

    # --- identical/reversed fast path (wins over other branches) ---
    if same.any():
        hit |= same
        x0 = np.where(same, ax0, x0)
        y0 = np.where(same, ay0, y0)
        x1 = np.where(same, ax1, x1)
        y1 = np.where(same, ay1, y1)

    return hit, x0, y0, x1, y1


def clip_segments(xmin, ymin, xmax, ymax, sx, sy, ex, ey):
    """Liang-Barsky segment-to-rectangle clip, vectorized.

    Port of reference src/rectangle.rs:120-165. Side order Top, Right,
    Bottom, Left matters to the scalar loop but the net effect is
    t0 = max(0, r for inward-facing p<0 sides), t1 = min(1, r for p>0
    sides), reject when t0 > t1 or any side has p==0 and q<0 (segment
    parallel to and outside that side); the staged early-exits of the
    reference loop are subsumed by the final t0<=t1 test.

    Fast paths mirrored from the reference: both endpoints inside ->
    unclipped segment; zero-length segment not fully inside -> miss.

    Returns (hit, cx0, cy0, cx1, cy1); non-hit lanes hold NaN.
    """
    xmin, ymin, xmax, ymax, sx, sy, ex, ey = np.broadcast_arrays(
        *(np.asarray(a, dtype=np.float64) for a in (xmin, ymin, xmax, ymax, sx, sy, ex, ey))
    )
    shape = sx.shape

    inside_s = rect_contains_point(xmin, ymin, xmax, ymax, sx, sy)
    inside_e = rect_contains_point(xmin, ymin, xmax, ymax, ex, ey)
    both_in = inside_s & inside_e
    degenerate = (sx == ex) & (sy == ey) & ~both_in

    x_delta = ex - sx
    y_delta = ey - sy

    t0 = np.zeros(shape)
    t1 = np.ones(shape)
    reject = np.zeros(shape, dtype=bool)

    # (p, q) per side: Top (-dy, sy - ymin), Right (dx, xmax - sx),
    # Bottom (dy, ymax - sy), Left (-dx, sx - xmin)  [src/rectangle.rs:136-142]
    sides = (
        (-y_delta, -(ymin - sy)),
        (x_delta, xmax - sx),
        (y_delta, ymax - sy),
        (-x_delta, -(xmin - sx)),
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        for p, q in sides:
            r = q / p
            reject |= (p == 0.0) & (q < 0.0)
            t0 = np.where((p < 0.0) & (r > t0), r, t0)
            t1 = np.where((p > 0.0) & (r < t1), r, t1)

    hit = both_in | (~degenerate & ~reject & (t0 <= t1))

    cx0 = np.where(hit, np.where(both_in, sx, sx + t0 * x_delta), np.nan)
    cy0 = np.where(hit, np.where(both_in, sy, sy + t0 * y_delta), np.nan)
    cx1 = np.where(hit, np.where(both_in, ex, sx + t1 * x_delta), np.nan)
    cy1 = np.where(hit, np.where(both_in, ey, sy + t1 * y_delta), np.nan)
    return hit, cx0, cy0, cx1, cy1
