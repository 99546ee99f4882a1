"""PolygonLayer: the polygon side of every join, stored as ONE ring arena.

Mirrors the reference's Raw -> Prepared -> Validated typestate pipeline
(src/geometry_state.rs, src/line_string.rs:34-44) at TABLE altitude:
every ring of the layer (each polygon's shell, then its holes) is
packed once into one RingArena, coordinates and segment-tree nodes
alike, beside a layer-level envelope index (the reference's Flatbush,
src/flatbush/flatbush_impl.rs:40-63: Hilbert-sort by envelope center,
then bottom-up pack — here reusing PackedSegTree for the packing). No
per-polygon object is stored: a polygon is its layer position, and
`polygons` / `by_id` build (layer, position) views on demand whose
rings are zero-copy arena slices.

Small layers broadcast whole (sc.broadcast of the layer: its NumPy
arrays); large layers ship as the exploded (polygon_id, cell) cover
table for the cell-partitioned join path. Both paths produce identical
output rows (asserted in tests — the broadcast==partitioned equality
gate).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .kernels.hilbert import HilbertScaler
from .kernels.pip import BOUNDARY, EXTERIOR, INTERIOR, RingArena
from .kernels.segtree import PackedSegTree

__all__ = ["PolygonLayer", "Polygon"]


def _ragged_arange(cnt):
    """0..cnt[i]-1 for each i, concatenated: the within-group index of a
    np.repeat(..., cnt) expansion."""
    starts = np.cumsum(cnt) - cnt
    return np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(starts, cnt)


class Polygon(NamedTuple):
    """Polygon `pos` of `layer`: a view that holds no geometry of its
    own (reference src/polygon.rs:7-26 at layer altitude)."""

    layer: "PolygonLayer"
    pos: int

    @property
    def ring_ids(self) -> range:
        """The polygon's arena rings: its shell, then its holes."""
        off = self.layer.hole_off
        return range(self.pos + int(off[self.pos]), self.pos + 1 + int(off[self.pos + 1]))

    @property
    def rings(self) -> list:
        """The polygon's rings as RingArena.ring views, shell first."""
        return [self.layer.arena.ring(r) for r in self.ring_ids]


class PolygonLayer:
    """Polygon collection: ids, one ring arena, hole offsets, envelope
    index.

    ids: sorted, unique int64 polygon ids, one per layer position.
    arena: every ring, polygon by polygon, each shell followed by its
    holes; polygon k has hole_off[k+1] - hole_off[k] holes and its
    shell is arena ring shell_ring[k] = k + hole_off[k].
    xmin/ymin/xmax/ymax: polygon envelopes, read from each shell tree's
    root node. The envelope index keeps Hilbert-sorted order with a
    permutation back to layer positions (the reference Flatbush's
    node_indices, flatbush_impl.rs:15-21).
    """

    def __init__(self, ids, arena: RingArena, n_holes, hilbert_sort: bool = True):
        """ids: sorted unique polygon ids; arena: their rings, shell
        then holes per polygon; n_holes: each polygon's hole count."""
        self.ids = np.asarray(ids, dtype=np.int64)
        if (self.ids[1:] <= self.ids[:-1]).any():
            raise ValueError("polygon ids must be sorted and unique")
        self.arena = arena
        n = len(self.ids)
        self.hole_off = np.zeros(n + 1, np.int64)
        np.cumsum(np.asarray(n_holes, np.int64), out=self.hole_off[1:])
        self.shell_ring = np.arange(n, dtype=np.int64) + self.hole_off[:-1]
        root = arena._node_idx(self.shell_ring, arena.height[self.shell_ring], 0)
        self.xmin, self.ymin, self.xmax, self.ymax = (
            v[root] for v in (arena.txmin, arena.tymin, arena.txmax, arena.tymax)
        )

        if hilbert_sort and n > 1:
            exmin, eymin = self.xmin.min(), self.ymin.min()
            exmax, eymax = self.xmax.max(), self.ymax.max()
            scaler = HilbertScaler(exmin, eymin, exmax, eymax)
            keys = scaler.hilbert((self.xmin + self.xmax) / 2, (self.ymin + self.ymax) / 2)
            self.order = np.argsort(keys, kind="stable").astype(np.int64)
        else:
            self.order = np.arange(n, dtype=np.int64)

        self.index = PackedSegTree.build(
            self.xmin[self.order], self.ymin[self.order],
            self.xmax[self.order], self.ymax[self.order], degree=arena.degree,
        )

    # -- construction -------------------------------------------------

    @classmethod
    def from_ring_rows(cls, rows, degree: int = 16, hilbert_sort: bool = True):
        """rows: iterable of (polygon_id, part_id, xs, ys); part 0 = shell.
        Every ring must be closed with >= 3 coordinates (ValueError)."""
        grouped: dict[int, list] = {}
        for pid, part, xs, ys in rows:
            grouped.setdefault(int(pid), []).append((int(part), xs, ys))
        ids = sorted(grouped)
        polys = [sorted(grouped[pid], key=lambda t: t[0]) for pid in ids]
        arena = RingArena([(xs, ys) for p in polys for _, xs, ys in p], degree=degree)
        return cls(ids, arena, [len(p) - 1 for p in polys], hilbert_sort=hilbert_sort)

    @classmethod
    def from_wkt_file(cls, path: str, degree: int = 16):
        """Load polygons from a reference-style WKT corpus file."""
        from .sources.wkt import parse_wkt_file_polygons

        return cls.from_ring_rows(parse_wkt_file_polygons(path), degree=degree)

    def __len__(self):
        return len(self.ids)

    @property
    def polygons(self) -> list:
        """Every polygon as a view, in layer position order."""
        return [Polygon(self, k) for k in range(len(self))]

    def by_id(self, pid: int) -> Polygon:
        """The view of polygon `pid` (KeyError if the layer has none)."""
        k = int(np.searchsorted(self.ids, pid))
        if k == len(self.ids) or self.ids[k] != pid:
            raise KeyError(pid)
        return Polygon(self, k)

    # -- query --------------------------------------------------------

    def candidates(self, px, py):
        """Envelope-index probe: (point_idx, layer_pos) candidate pairs."""
        q, s = self.index.query_point(px, py)
        return q, self.order[s]

    def pip(self, px, py):
        """Full PIP of a point batch against the whole layer.

        Returns (point_idx, polygon_id, relation int8) arrays for pairs
        with relation != exterior. Candidate
        pruning via the envelope index, then the pair relation
        (`_relations`) — kernel cost scales with pair count, not
        polygon count.
        """
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        q, pos = self.candidates(px, py)
        if len(q) == 0:
            return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int8))
        rel = self._relations(px, py, q, pos)
        keep = rel != 0
        return q[keep], self.ids[pos[keep]], rel[keep]

    def _relations(self, px, py, q, pos):
        """int8 relation of each (point q, layer position pos) pair: ONE
        arena descent for all shell pairs and one for all hole pairs.

        Hole combination is order-free (any hole Interior -> Exterior,
        else any hole Boundary -> Boundary), equivalent to the
        reference's first-hole-wins loop on VALID polygons (two holes
        of a valid polygon cannot both claim a point except at a shared
        touch point, where both say Boundary).
        """
        rel = self.arena.query_pairs(px, py, q, self.shell_ring[pos])

        need = (rel == INTERIOR) & (self.hole_off[pos + 1] > self.hole_off[pos])
        if need.any():
            sel = np.nonzero(need)[0]
            ring, rep = self._pair_rings(pos[sel], holes_only=True)
            rep = sel[rep]
            hrel = self.arena.query_pairs(px, py, q[rep], ring)
            hmax = np.zeros(len(q), np.int8)
            np.maximum.at(hmax, rep, hrel)
            rel = np.where(hmax == INTERIOR, EXTERIOR, np.where(hmax == BOUNDARY, BOUNDARY, rel)).astype(np.int8)
        return rel

    def _distances(self, px, py, q, pos):
        """Boundary distance (all rings) of each (point q, layer position
        pos) pair: ONE arena descent (RingArena.dist2_pairs) over every
        shell and hole entry, with one bound per pair."""
        ring, pair = self._pair_rings(pos)
        q = np.asarray(q, np.int64)
        return np.sqrt(self.arena.dist2_pairs(px, py, q[pair], ring, pair, len(q)))

    def _pair_rings(self, pos, holes_only: bool = False):
        """(arena ring, pair index) of every ring of each pair's polygon,
        shell first, then its holes (consecutive arena rings): a ragged
        gather."""
        first = self.shell_ring[pos] + int(holes_only)
        cnt = self.hole_off[pos + 1] - self.hole_off[pos] + (0 if holes_only else 1)
        pair = np.repeat(np.arange(len(pos), dtype=np.int64), cnt)
        return first[pair] + _ragged_arange(cnt), pair

    def cover_cells(self, res: int):
        """(polygon_id, cell) cover rows at resolution res — the equi-join
        side of the partitioned PIP path. Every polygon's cells come
        from the one layer-wide BFS (`_cover`), sorted by layer
        position, then cell."""
        pos, cells = self._cover(res, "intersect", np.arange(len(self), dtype=np.int64))
        return self.ids[pos], cells

    def _cover(self, res: int, mode: str, pos):
        """(layer position, cell) pairs of the polyfill cover at res of
        the polygons at layer positions `pos`.

        ONE level-synchronous BFS from the res-0 world cell over every
        (polygon, cell) frontier pair of the layer at once, the quadtree
        analog of the reference's tree descent (contained node -> emit
        whole subtree, cf. the clip descent in reference
        src/algorithms/clip.rs:81-107). Per level:

          * cell envelope disjoint from the polygon envelope -> prune;
          * a ring segment of the polygon clips the cell (closed-rect
            arena descent + Liang-Barsky refine) -> "crossed";
          * the polygon boundary does not cross the cell and the cell
            center is not exterior -> the whole cell (and all its
            descendants) is inside: emit its descendants at target res
            without further tests;
          * at target res: keep if crossed or center not exterior
            (mode='intersect'), or only the uncrossed ones
            (mode='contained');
          * else crossed cells split into 4 children.

        Returns int64 (position, cell) arrays sorted by position, then
        cell; a pair occurs once (each cell has one ancestor chain).
        ValueError for res outside [0, MAX_RES] or another mode.
        """
        from .kernels.geom import clip_segments, rect_intersects
        from .tiles import MAX_RES, cell_bounds, cell_children

        if not 0 <= res <= MAX_RES:
            raise ValueError(f"res must be in [0, {MAX_RES}]")
        if mode not in ("intersect", "contained"):
            raise ValueError(f"mode must be 'intersect' or 'contained', got {mode!r}")
        a = self.arena
        pos = np.asarray(pos, dtype=np.int64)
        cell = np.zeros(len(pos), np.int64)  # the res-0 world cell
        out_pos, out_cell = [pos[:0]], [cell[:0]]

        for r in range(res + 1):
            lngmin, latmin, lngmax, latmax = cell_bounds(cell)
            # envelope prune (lng ~ x, lat ~ y)
            alive = rect_intersects(
                lngmin, latmin, lngmax, latmax,
                self.xmin[pos], self.ymin[pos], self.xmax[pos], self.ymax[pos],
            )
            pos, cell = pos[alive], cell[alive]
            if len(pos) == 0:
                break
            lngmin, latmin, lngmax, latmax = (v[alive] for v in (lngmin, latmin, lngmax, latmax))

            # boundary-crossing pairs: every ring of the pair's polygon
            # (shell, then its holes: consecutive arena rings)
            pair = np.arange(len(pos), dtype=np.int64)
            ring, rpair = self._pair_rings(pos)
            k, ring, leaf = a.query_rect_pairs(lngmin, latmin, lngmax, latmax, rpair, ring)
            c = a.coord_off[ring] + leaf
            hit, *_ = clip_segments(
                lngmin[k], latmin[k], lngmax[k], latmax[k],
                a.cxs[c], a.cys[c], a.cxs[c + 1], a.cys[c + 1],
            )
            crossed = np.zeros(len(pos), bool)
            crossed[k[hit]] = True

            cx = (lngmin + lngmax) / 2.0
            cy = (latmin + latmax) / 2.0
            center_in = self._relations(cx, cy, pair, pos) != EXTERIOR
            interior = ~crossed & center_in

            if r == res:
                keep = interior if mode == "contained" else crossed | center_in
                out_pos.append(pos[keep])
                out_cell.append(cell[keep])
                break

            # fully-interior cells expand without further testing
            if interior.any():
                sub = cell[interior]
                for _ in range(res - r):
                    sub = cell_children(sub).ravel()
                out_pos.append(np.repeat(pos[interior], 4 ** (res - r)))
                out_cell.append(sub)

            pos = np.repeat(pos[crossed], 4)
            cell = cell_children(cell[crossed]).ravel()

        pos, cell = np.concatenate(out_pos), np.concatenate(out_cell)
        order = np.lexsort((cell, pos))
        return pos[order], cell[order]
