"""Rectangle clipping of linestrings/rings — the raster<->vector
extraction primitive.

Behavioral parity with the reference clip pipeline:
  * find_relevant_segments — tree descent: nodes fully CONTAINED in the
    clip rect contribute their whole coordinate span in O(1)
    (SegmentUnion), boundary-crossing leaves queue for exact clipping
    (reference src/algorithms/clip.rs:81-107, design overlay.md:62-82)
  * SegmentUnion — XOR-multiset of span endpoints; draining yields
    maximal merged (low, high) runs ascending
    (src/seg_rtree/segment_union.rs:15-51)
  * build_output — merge the two streams ascending by segment index;
    contained runs are bulk slice copies ("memcopy is practically
    free", segment_rtree.md:177-187); crossing segments Liang-Barsky
    clipped and stitched via last_index endpoint dedup
    (clip.rs:109-163)
  * reconnect_loop — a ring cut into >= 2 pieces whose first piece
    starts where the last ends gets spliced (clip.rs:165-177)
"""

from __future__ import annotations

import numpy as np

from .geom import clip_segments, rect_contains_point
from .segtree import PackedSegTree

__all__ = ["segment_union_merge", "clip_path", "clip_ring_to_rect"]


def segment_union_merge(lows: np.ndarray, highs: np.ndarray):
    """Merge (low, high) index spans XOR-multiset style: endpoints
    appearing an even number of times cancel; survivors, sorted,
    pair up into maximal runs (segment_union.rs semantics)."""
    if len(lows) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    pts = np.concatenate([lows, highs])
    vals, counts = np.unique(pts, return_counts=True)
    odd = vals[counts % 2 == 1]
    # odd count is guaranteed even in total (each add inserts 2 entries)
    return odd[0::2], odd[1::2]


def _relevant_segments(tree: PackedSegTree, xmin, ymin, xmax, ymax):
    """Single-rect descent -> (contained (low,high) spans, crossing leaf
    indices), all NumPy (level-synchronous frontier, one query)."""
    if tree.is_empty:
        return (np.empty(0, np.int64),) * 2 + (np.empty(0, np.int64),)
    c_lo, c_hi = [], []
    leaves = []
    level = tree.height
    offs = np.zeros(1, np.int64)
    while len(offs) > 0:
        idx = tree.level_indices[level] + offs
        inter = (
            (tree.xmin[idx] <= xmax) & (tree.xmax[idx] >= xmin)
            & (tree.ymin[idx] <= ymax) & (tree.ymax[idx] >= ymin)
        )
        offs = offs[inter]
        if len(offs) == 0:
            break
        idx = tree.level_indices[level] + offs
        cont = (
            (tree.xmin[idx] >= xmin) & (tree.xmax[idx] <= xmax)
            & (tree.ymin[idx] >= ymin) & (tree.ymax[idx] <= ymax)
        )
        if cont.any():
            lo, hi = tree.get_low_high(level, offs[cont])
            c_lo.append(lo)
            c_hi.append(hi)
        offs = offs[~cont]
        if level == 0:
            leaves.append(offs)
            break
        d = tree.degree
        children = (offs[:, None] * d + np.arange(d, dtype=np.int64)).ravel()
        cap = int(tree.level_indices[level]) - int(tree.level_indices[level - 1])
        offs = children[children < cap]
        level -= 1
    lo = np.concatenate(c_lo) if c_lo else np.empty(0, np.int64)
    hi = np.concatenate(c_hi) if c_hi else np.empty(0, np.int64)
    lv = np.concatenate(leaves) if leaves else np.empty(0, np.int64)
    return lo, hi, lv


def clip_path(xmin, ymin, xmax, ymax, xs, ys, tree: PackedSegTree | None = None,
              degree: int = 16):
    """Clip one path to a rect -> list of (xs, ys) coordinate arrays.

    Parity: reference clip_path (clip.rs:181-184) including output path
    ordering, endpoint stitching and ring reconnection.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) < 2:
        return []
    if tree is None:
        tree = PackedSegTree.from_coords(xs, ys, degree=degree)

    lo, hi, leaf = _relevant_segments(tree, xmin, ymin, xmax, ymax)
    runs_lo, runs_hi = segment_union_merge(lo, hi)
    leaf = np.sort(leaf)

    # pre-clip all crossing leaves in one vectorized call
    hit, cx0, cy0, cx1, cy1 = clip_segments(
        xmin, ymin, xmax, ymax, xs[leaf], ys[leaf], xs[leaf + 1], ys[leaf + 1]
    )

    # merged drain of the two ascending streams (clip.rs:116-133)
    out_xs: list[np.ndarray] = []   # growing coordinate buffer
    out_ys: list[np.ndarray] = []
    flush_at: list[int] = []        # section boundaries (coord counts)
    count = 0
    last_index = -1                 # reference's Option<usize>

    def flush():
        if count > 0 and (not flush_at or flush_at[-1] != count):
            flush_at.append(count)

    ri = li = 0
    while ri < len(runs_lo) or li < len(leaf):
        take_run = ri < len(runs_lo) and (
            li >= len(leaf) or runs_lo[ri] < leaf[li]
        )
        if take_run:
            low, high = int(runs_lo[ri]), int(runs_hi[ri])
            ri += 1
            if low == last_index:
                low += 1
            else:
                flush()
            out_xs.append(xs[low : high + 1])
            out_ys.append(ys[low : high + 1])
            count += high + 1 - low
            last_index = high
        else:
            k = li
            li += 1
            if not hit[k]:
                continue
            seg_lo = int(leaf[k])
            if seg_lo != last_index:
                flush()
                out_xs.append(cx0[k : k + 1])
                out_ys.append(cy0[k : k + 1])
                count += 1
            if cx1[k] != cx0[k] or cy1[k] != cy0[k]:
                out_xs.append(cx1[k : k + 1])
                out_ys.append(cy1[k : k + 1])
                count += 1
            if cx1[k] == xs[seg_lo + 1] and cy1[k] == ys[seg_lo + 1]:
                last_index = seg_lo + 1
    flush()

    if count == 0:
        return []
    bx = np.concatenate(out_xs)
    by = np.concatenate(out_ys)
    paths = []
    prev = 0
    for f in flush_at:
        paths.append((bx[prev:f], by[prev:f]))
        prev = f

    # reconnect_loop (clip.rs:165-177)
    if len(paths) > 1:
        fx, fy = paths[0]
        lx, ly = paths[-1]
        if len(fx) and len(lx) and fx[0] == lx[-1] and fy[0] == ly[-1]:
            spliced = (
                np.concatenate([lx[:-1], fx]),
                np.concatenate([ly[:-1], fy]),
            )
            paths = [spliced] + paths[1:-1]
    return paths


def clip_ring_to_rect(ring, xmin, ymin, xmax, ymax):
    """Clip a ring view (kernels.pip.Ring, from RingArena.ring) using
    its arena tree."""
    return clip_path(xmin, ymin, xmax, ymax, ring.xs, ring.ys, tree=ring.tree)
