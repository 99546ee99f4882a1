"""Batched winding-number point-in-polygon over packed segment R-trees.

The flagship kernel: classifies a whole ARRAY of points against one
ring / polygon per call with a level-synchronous frontier descent —
no per-point Python. Behavioral parity with the reference
(jagill/segment-rtree):

  * 3-valued result (exterior / boundary / interior):
      src/algorithms/point_in_polygon.rs:5-10
  * envelope pre-reject:                      point_in_polygon.rs:27-29
  * check_point_rect (in rect or left of it): point_in_polygon.rs:77-79
  * Claim-1 monotone-chain shortcut — a node wholly right of the point
    contributes the winding number of the single VIRTUAL segment
    coords[low] -> coords[high]:              point_in_polygon.rs:42-51,
    proof in reference segment_rtree.md:56-83
  * leaf winding with Boundary early-exit:    point_in_polygon.rs:52-58
  * hole logic (in-hole -> Exterior, on-hole -> Boundary):
      point_in_polygon.rs:12-24

Relation encoding: int8 0=exterior, 1=boundary, 2=interior
(RELATION_NAMES maps to the string column used at table level).
"""

from __future__ import annotations

import numpy as np

from .geom import winding_position, WN_ON, WN_LEFT, WN_RIGHT
from .segtree import PackedSegTree

__all__ = [
    "EXTERIOR",
    "BOUNDARY",
    "INTERIOR",
    "RELATION_NAMES",
    "PreparedRing",
    "PreparedPolygon",
    "points_in_ring",
    "points_in_polygon",
]

EXTERIOR = np.int8(0)
BOUNDARY = np.int8(1)
INTERIOR = np.int8(2)
RELATION_NAMES = np.array(["exterior", "boundary", "interior"])


class PreparedRing:
    """A closed ring with its packed segment tree (Prepared/Validated state).

    Mirrors LinearRing<Prepared> (reference src/linear_ring.rs,
    src/line_string.rs:34-44): coords + degree-16 SegRTree built over
    the ring's segments in chain order.
    """

    __slots__ = ("xs", "ys", "tree")

    def __init__(self, xs, ys, degree: int = 16):
        self.xs = np.ascontiguousarray(xs, dtype=np.float64)
        self.ys = np.ascontiguousarray(ys, dtype=np.float64)
        if len(self.xs) < 3 or self.xs[0] != self.xs[-1] or self.ys[0] != self.ys[-1]:
            raise ValueError("ring must be closed with >= 3 distinct coordinates")
        self.tree = PackedSegTree.from_coords(self.xs, self.ys, degree=degree)

    def envelope(self):
        return self.tree.envelope()


class PreparedPolygon:
    """Shell + holes, each a PreparedRing (reference src/polygon.rs:7-26)."""

    __slots__ = ("shell", "holes")

    def __init__(self, shell: PreparedRing, holes=()):
        self.shell = shell
        self.holes = list(holes)

    @classmethod
    def from_arrays(cls, rings, degree: int = 16):
        """rings: iterable of (xs, ys); first is the shell."""
        rings = [PreparedRing(xs, ys, degree=degree) for xs, ys in rings]
        return cls(rings[0], rings[1:])

    def envelope(self):
        return self.shell.envelope()


def points_in_ring(px, py, ring: PreparedRing) -> np.ndarray:
    """Batched point_in_loop (parity: point_in_polygon.rs:26-74).

    Returns int8[len(px)] relations. Level-synchronous frontier:
    each iteration classifies every live (point, node) pair at once —
    right-of-point shortcut / leaf winding / child expansion are all
    vectorized masks; winding sums accumulate via np.add.at.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = len(px)
    out = np.full(n, EXTERIOR, dtype=np.int8)
    if n == 0 or ring.tree.is_empty:
        return out

    xmin, ymin, xmax, ymax = ring.envelope()
    live = (xmin <= px) & (px <= xmax) & (ymin <= py) & (py <= ymax)
    if not live.any():
        return out

    t = ring.tree
    xs, ys = ring.xs, ring.ys
    wn = np.zeros(n, dtype=np.int64)
    boundary = np.zeros(n, dtype=bool)

    # frontier: (point id, node offset) at the current level
    pid = np.nonzero(live)[0].astype(np.int64)
    level = t.height
    # root check_point_rect: x <= xmax && ymin <= y <= ymax
    ridx = int(t.level_indices[level])
    keep = (
        (px[pid] <= t.xmax[ridx]) & (py[pid] >= t.ymin[ridx]) & (py[pid] <= t.ymax[ridx])
    )
    pid = pid[keep]
    off = np.zeros(len(pid), np.int64)
    d = t.degree

    while len(pid) > 0:
        idx = t.level_indices[level] + off
        # Claim-1 shortcut: node strictly right of the point -> winding
        # of virtual segment coords[low] -> coords[high]
        right = t.xmin[idx] > px[pid]
        if right.any():
            rp = pid[right]
            low, high = t.get_low_high(level, off[right])
            w = winding_position(px[rp], py[rp], xs[low], ys[low], xs[high], ys[high])
            np.add.at(wn, rp[w == WN_LEFT], 1)
            np.add.at(wn, rp[w == WN_RIGHT], -1)
            # WN_ON is unreachable here (point strictly left of node)
            pid, off = pid[~right], off[~right]
            if len(pid) == 0:
                break

        if level == 0:
            w = winding_position(px[pid], py[pid], xs[off], ys[off], xs[off + 1], ys[off + 1])
            boundary[pid[w == WN_ON]] = True
            np.add.at(wn, pid[w == WN_LEFT], 1)
            np.add.at(wn, pid[w == WN_RIGHT], -1)
            break

        # expand children passing check_point_rect
        child_level = level - 1
        cp = np.repeat(pid, d)
        co = (off[:, None] * d + np.arange(d, dtype=np.int64)).ravel()
        cap = int(t.level_indices[child_level + 1]) - int(t.level_indices[child_level])
        valid = co < cap
        cp, co = cp[valid], co[valid]
        cidx = t.level_indices[child_level] + co
        keep = (
            (px[cp] <= t.xmax[cidx]) & (py[cp] >= t.ymin[cidx]) & (py[cp] <= t.ymax[cidx])
        )
        # drop points already known to be on the boundary
        keep &= ~boundary[cp]
        pid, off = cp[keep], co[keep]
        level = child_level

    out[(wn != 0) & ~boundary] = INTERIOR
    out[boundary] = BOUNDARY
    return out


def points_in_polygon(px, py, polygon: PreparedPolygon) -> np.ndarray:
    """Batched point_in_polygon (parity: point_in_polygon.rs:12-24).

    Shell relation first; only shell-Interior points consult holes:
    hole-Interior flips to Exterior, hole-Boundary to Boundary.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    rel = points_in_ring(px, py, polygon.shell)
    interior = rel == INTERIOR
    if interior.any() and polygon.holes:
        sel = np.nonzero(interior)[0]
        for hole in polygon.holes:
            if len(sel) == 0:
                break
            hrel = points_in_ring(px[sel], py[sel], hole)
            rel[sel[hrel == INTERIOR]] = EXTERIOR
            rel[sel[hrel == BOUNDARY]] = BOUNDARY
            # points still Interior w.r.t. the polygon keep checking holes
            sel = sel[hrel == EXTERIOR]
    return rel


def _point_segment_dist2(px, py, x0, y0, x1, y1):
    """Vectorized squared distance from points to segments."""
    dx, dy = x1 - x0, y1 - y0
    d2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x0) * dx + (py - y0) * dy) / d2
    t = np.where(d2 == 0.0, 0.0, np.clip(t, 0.0, 1.0))
    cx, cy = x0 + t * dx, y0 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


class RingArena:
    """All rings of a layer packed into ONE node arena.

    The per-ring PackedSegTree layout is unchanged (same arithmetic
    addressing, reference rtree.rs:235-248); rings simply concatenate,
    with per-ring offsets, so a single level-synchronous frontier can
    descend EVERY (point, ring) candidate pair of a batch at once —
    kernel cost scales with total pairs, never with ring count. This is
    what keeps per-call NumPy overhead amortized when a batch spans
    hundreds of polygons.
    """

    __slots__ = (
        "degree", "cxs", "cys", "coord_off", "txmin", "tymin", "txmax", "tymax",
        "tree_off", "li_flat", "li_off", "height", "size",
    )

    def __init__(self, rings, degree: int = 16):
        self.degree = int(degree)
        trees = [
            r.tree if isinstance(r, PreparedRing) and r.tree.degree == degree
            else PackedSegTree.from_coords(r.xs, r.ys, degree=degree)
            for r in rings
        ]
        self.cxs = np.concatenate([r.xs for r in rings]) if rings else np.empty(0)
        self.cys = np.concatenate([r.ys for r in rings]) if rings else np.empty(0)
        self.coord_off = np.cumsum([0] + [len(r.xs) for r in rings]).astype(np.int64)
        self.txmin = np.concatenate([t.xmin for t in trees]) if trees else np.empty(0)
        self.tymin = np.concatenate([t.ymin for t in trees]) if trees else np.empty(0)
        self.txmax = np.concatenate([t.xmax for t in trees]) if trees else np.empty(0)
        self.tymax = np.concatenate([t.ymax for t in trees]) if trees else np.empty(0)
        self.tree_off = np.cumsum([0] + [len(t.xmin) for t in trees]).astype(np.int64)
        self.li_flat = (
            np.concatenate([t.level_indices for t in trees]) if trees else np.empty(0, np.int64)
        )
        self.li_off = np.cumsum([0] + [len(t.level_indices) for t in trees]).astype(np.int64)
        self.height = np.array([t.height for t in trees], dtype=np.int64)
        self.size = np.array([t.size for t in trees], dtype=np.int64)

    def __len__(self):
        return len(self.height)

    def _node_idx(self, ring, lvl, off):
        return self.tree_off[ring] + self.li_flat[self.li_off[ring] + lvl] + off

    def _children(self, ring, lvl, off):
        """Child nodes of (ring, lvl, off) nodes that fit their level's
        capacity: (parent index, ring, lvl - 1, child offset) arrays."""
        d = self.degree
        src = np.repeat(np.arange(len(ring), dtype=np.int64), d)
        co = (off[:, None] * d + np.arange(d, dtype=np.int64)).ravel()
        cr, clv = ring[src], lvl[src] - 1
        base = self.li_off[cr] + clv
        valid = co < self.li_flat[base + 1] - self.li_flat[base]
        return src[valid], cr[valid], clv[valid], co[valid]

    def query_pairs(self, px, py, pair_pt, pair_ring) -> np.ndarray:
        """3-valued PIP for candidate pairs, all at once.

        px, py: point coords; pair_pt/pair_ring: int64 pair arrays.
        Returns int8[len(pairs)] relations (same semantics as
        points_in_ring, incl. Claim-1 shortcut and Boundary early drop).
        """
        px = np.asarray(px, np.float64)
        py = np.asarray(py, np.float64)
        pair_pt = np.asarray(pair_pt, np.int64)
        pair_ring = np.asarray(pair_ring, np.int64)
        n = len(pair_pt)
        wn = np.zeros(n, np.int64)
        boundary = np.zeros(n, bool)
        if n == 0:
            return np.zeros(0, np.int8)

        d = self.degree
        ppx = px[pair_pt]
        ppy = py[pair_pt]

        # envelope pre-reject at the root + root check_point_rect
        root_idx = self._node_idx(pair_ring, self.height[pair_ring], 0)
        inside_env = (
            (self.txmin[root_idx] <= ppx) & (ppx <= self.txmax[root_idx])
            & (self.tymin[root_idx] <= ppy) & (ppy <= self.tymax[root_idx])
        )
        pid = np.nonzero(inside_env)[0]
        lvl = self.height[pair_ring[pid]]
        off = np.zeros(len(pid), np.int64)

        while len(pid) > 0:
            ring = pair_ring[pid]
            pt = pair_pt[pid]
            idx = self.tree_off[ring] + self.li_flat[self.li_off[ring] + lvl] + off

            # Claim-1: node strictly right of the point -> chord winding
            right = self.txmin[idx] > px[pt]
            if right.any():
                rp, rr, ro, rl = pid[right], ring[right], off[right], lvl[right]
                width = d ** rl
                low = width * ro
                high = np.minimum(self.size[rr], width * (ro + 1))
                c0 = self.coord_off[rr]
                w = winding_position(
                    px[pair_pt[rp]], py[pair_pt[rp]],
                    self.cxs[c0 + low], self.cys[c0 + low],
                    self.cxs[c0 + high], self.cys[c0 + high],
                )
                np.add.at(wn, rp[w == WN_LEFT], 1)
                np.add.at(wn, rp[w == WN_RIGHT], -1)
                keep = ~right
                pid, ring, off, lvl = pid[keep], ring[keep], off[keep], lvl[keep]
                if len(pid) == 0:
                    break
                pt = pair_pt[pid]

            # leaves: real segment winding (may set Boundary)
            leaf = lvl == 0
            if leaf.any():
                lp, lr, lo = pid[leaf], ring[leaf], off[leaf]
                c0 = self.coord_off[lr]
                w = winding_position(
                    px[pair_pt[lp]], py[pair_pt[lp]],
                    self.cxs[c0 + lo], self.cys[c0 + lo],
                    self.cxs[c0 + lo + 1], self.cys[c0 + lo + 1],
                )
                boundary[lp[w == WN_ON]] = True
                np.add.at(wn, lp[w == WN_LEFT], 1)
                np.add.at(wn, lp[w == WN_RIGHT], -1)
                keep = ~leaf
                pid, ring, off, lvl = pid[keep], ring[keep], off[keep], lvl[keep]
                if len(pid) == 0:
                    break

            # expand children passing check_point_rect
            src, cr, clv, co = self._children(ring, lvl, off)
            cp = pid[src]
            cidx = self._node_idx(cr, clv, co)
            cx = px[pair_pt[cp]]
            cy = py[pair_pt[cp]]
            keep = (
                (cx <= self.txmax[cidx]) & (cy >= self.tymin[cidx]) & (cy <= self.tymax[cidx])
                & ~boundary[cp]
            )
            pid, ring, off, lvl = cp[keep], cr[keep], co[keep], clv[keep]

        out = np.zeros(n, np.int8)
        out[(wn != 0) & ~boundary] = INTERIOR
        out[boundary] = BOUNDARY
        return out

    def query_rect_pairs(self, qxmin, qymin, qxmax, qymax, pair_q, pair_ring):
        """Closed-rect segment query for candidate (rect, ring) pairs,
        all at once — the rect twin of query_pairs.

        One level-synchronous descent keeps every node whose envelope
        meets its pair's rect (touching counts, as in
        PackedSegTree.query_rect). Returns (rect, ring, leaf) int64
        arrays: segment coords[leaf] -> coords[leaf + 1] of `ring` has an
        envelope meeting rect `rect`.
        """
        q = np.asarray(pair_q, np.int64)
        ring = np.asarray(pair_ring, np.int64)
        lvl = self.height[ring]
        off = np.zeros(len(q), np.int64)
        out_q, out_r, out_o = [q[:0]], [ring[:0]], [off[:0]]

        while len(q) > 0:
            idx = self._node_idx(ring, lvl, off)
            # NaN padding slots fail every comparison
            keep = (
                (self.txmin[idx] <= qxmax[q]) & (self.txmax[idx] >= qxmin[q])
                & (self.tymin[idx] <= qymax[q]) & (self.tymax[idx] >= qymin[q])
            )
            leaf = keep & (lvl == 0)
            out_q.append(q[leaf])
            out_r.append(ring[leaf])
            out_o.append(off[leaf])
            keep &= ~leaf
            src, ring, lvl, off = self._children(ring[keep], lvl[keep], off[keep])
            q = q[keep][src]

        return np.concatenate(out_q), np.concatenate(out_r), np.concatenate(out_o)

    def dist2_pairs(self, px, py, pair_pt, pair_ring, pair_grp, n_grp):
        """Squared point-to-boundary distance of candidate (point, ring)
        entries, minimised per group, all at once: the distance twin of
        query_pairs (the reference's Flatbush::query_within descent,
        flatbush_impl.rs:154-157, applied to distance).

        Entry i measures point pair_pt[i] against ring pair_ring[i] and
        folds into group pair_grp[i] (one group per (point, polygon) pair
        over its shell and holes). Returns float64[n_grp]; +inf for a
        group without entries.

        One level-synchronous branch-and-bound over every (entry, node)
        frontier pair. A node's clamped box distance is a LOWER bound of
        its segments' distances; its chain-start vertex coords[low] is a
        real boundary point, so its distance is an UPPER bound of the
        group's minimum. Upper bounds and leaf distances tighten one
        bound per group, shared by all rings of the group, before nodes
        with lower bound > bound drop. Leaves take the exact
        _point_segment_dist2, and the result is the minimum over leaves
        only: the dense points x segments fold's value, since the
        descent only drops segments provably farther than a boundary
        point.
        """
        pt = np.asarray(pair_pt, np.int64)
        ring = np.asarray(pair_ring, np.int64)
        grp = np.asarray(pair_grp, np.int64)
        best = np.full(n_grp, np.inf)
        bound = np.full(n_grp, np.inf)
        lvl = self.height[ring]
        off = np.zeros(len(pt), np.int64)

        while len(pt) > 0:
            idx = self._node_idx(ring, lvl, off)
            x, y = px[pt], py[pt]
            ddx = np.maximum(0.0, np.maximum(self.txmin[idx] - x, x - self.txmax[idx]))
            ddy = np.maximum(0.0, np.maximum(self.tymin[idx] - y, y - self.tymax[idx]))
            lb = ddx * ddx + ddy * ddy
            low = self.degree ** lvl * off
            real = low < self.size[ring]  # padding nodes hold no segment
            c = self.coord_off[ring[real]] + low[real]
            ex, ey = self.cxs[c] - x[real], self.cys[c] - y[real]
            np.minimum.at(bound, grp[real], ex * ex + ey * ey)
            # NaN padding envelopes compare False and drop here too
            keep = lb <= bound[grp]
            leaf = keep & (lvl == 0)
            if leaf.any():
                c = self.coord_off[ring[leaf]] + off[leaf]
                d2 = _point_segment_dist2(
                    x[leaf], y[leaf], self.cxs[c], self.cys[c], self.cxs[c + 1], self.cys[c + 1]
                )
                np.minimum.at(best, grp[leaf], d2)
                np.minimum(bound, best, out=bound)
                keep &= ~leaf
            src, ring, lvl, off = self._children(ring[keep], lvl[keep], off[keep])
            pt, grp = pt[keep][src], grp[keep][src]

        return best
