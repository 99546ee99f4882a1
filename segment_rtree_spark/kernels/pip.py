"""Batched winding-number point-in-polygon over packed segment R-trees.

The flagship kernel: every ring of a layer lives in ONE node arena
(RingArena), and a whole array of (point, ring) pairs is classified in
one level-synchronous frontier descent — no per-point or per-ring
Python. Behavioral parity with the reference (jagill/segment-rtree):

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
      point_in_polygon.rs:12-24, in PolygonLayer._relations

Relation encoding: int8 0=exterior, 1=boundary, 2=interior
(RELATION_NAMES maps to the string column used at table level).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .geom import winding_position, WN_ON, WN_LEFT, WN_RIGHT
from .segtree import PackedSegTree

__all__ = [
    "EXTERIOR",
    "BOUNDARY",
    "INTERIOR",
    "RELATION_NAMES",
    "Ring",
    "RingArena",
    "points_in_polygon",
]

EXTERIOR = np.int8(0)
BOUNDARY = np.int8(1)
INTERIOR = np.int8(2)
RELATION_NAMES = np.array(["exterior", "boundary", "interior"])


class Ring(NamedTuple):
    """One closed ring of an arena: its coordinates and its packed
    segment tree (the reference's LinearRing<Prepared>,
    src/line_string.rs:34-44), all zero-copy slices of the arena."""

    xs: np.ndarray
    ys: np.ndarray
    tree: PackedSegTree


def points_in_polygon(px, py, polygon) -> np.ndarray:
    """Batched point_in_polygon (parity: point_in_polygon.rs:12-24) of
    every point against one polygon of a layer (a PolygonLayer polygon
    view): the layer's pair relation on its own arena. Returns
    int8[len(px)] relations."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    q = np.arange(len(px), dtype=np.int64)
    return polygon.layer._relations(px, py, q, np.full(len(px), polygon.pos, np.int64))


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
        """Pack `rings`, (xs, ys) coordinate pairs: each closed (first
        coordinate equals the last) with >= 3 coordinates."""
        self.degree = int(degree)
        xs = [np.ascontiguousarray(r[0], dtype=np.float64) for r in rings]
        ys = [np.ascontiguousarray(r[1], dtype=np.float64) for r in rings]
        for x, y in zip(xs, ys):
            if len(x) < 3 or x[0] != x[-1] or y[0] != y[-1]:
                raise ValueError("ring must be closed with >= 3 coordinates")
        trees = [PackedSegTree.from_coords(x, y, degree=degree) for x, y in zip(xs, ys)]
        self.cxs = np.concatenate(xs) if xs else np.empty(0)
        self.cys = np.concatenate(ys) if ys else np.empty(0)
        self.coord_off = np.cumsum([0] + [len(x) for x in xs]).astype(np.int64)
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

    @classmethod
    def concat(cls, arenas):
        """One arena of the rings of `arenas` (of one tree degree), in
        order: their coordinate and node arrays concatenated and their
        offsets shifted, no tree rebuilt (an arena is never modified,
        so one arena is its own concatenation)."""
        if len(arenas) < 2:
            return arenas[0] if arenas else cls([])
        out = cls.__new__(cls)
        out.degree = arenas[0].degree
        for name in ("cxs", "cys", "txmin", "tymin", "txmax", "tymax", "li_flat", "height", "size"):
            setattr(out, name, np.concatenate([getattr(a, name) for a in arenas]))
        for name in ("coord_off", "tree_off", "li_off"):
            parts, shift = [np.zeros(1, np.int64)], 0
            for a in arenas:
                off = getattr(a, name)
                parts.append(off[1:] + shift)
                shift += int(off[-1])
            setattr(out, name, np.concatenate(parts))
        return out

    def ring(self, r: int) -> Ring:
        """Ring r as zero-copy slices of the arena: its coordinates and a
        PackedSegTree over its node slice (equal to a tree built afresh
        from those coordinates)."""
        c0, c1 = self.coord_off[r], self.coord_off[r + 1]
        t0, t1 = self.tree_off[r], self.tree_off[r + 1]
        tree = PackedSegTree(
            self.degree, self.size[r], self.li_flat[self.li_off[r]:self.li_off[r + 1]],
            self.txmin[t0:t1], self.tymin[t0:t1], self.txmax[t0:t1], self.tymax[t0:t1],
        )
        return Ring(self.cxs[c0:c1], self.cys[c0:c1], tree)

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
        Returns int8[len(pairs)] relations of point vs ring, with the
        Claim-1 shortcut and the Boundary early drop.
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
