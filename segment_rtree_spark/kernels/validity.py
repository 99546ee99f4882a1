"""Geometry validity kernels with exact reference error semantics.

Errors are DATA here (a result struct column at table level), not
exceptions — the reference's 11-variant ValidationError enum
(src/errors.rs:5-47) maps to (code, first_index, second_index, x, y)
tuples; None means valid.

Parity map:
  * linestring validation & precedence: reference src/line_string.rs:52-78
    (SinglePathCoordinate -> per-segment Degenerate/NonFinite scan ->
    self-intersection candidates refined in tree order)
  * pair classification: check_intersection, line_string.rs:93-143
    (collinear overlap; adjacent segments may touch only at the shared
    endpoint; first+last may close a ring; everything else is a
    SelfIntersection)
  * ring predicate: linear_ring.rs:13-21 (>=3 coords, closed)
  * polygon validation: polygon_validation.rs:12-146 (hole-in-shell
    envelopes, <=1 intersection point per ring pair, containment
    probes, intersection-graph acyclicity)

The reference SHORT-CIRCUITS on the first error found while draining
the candidate stack. Its LIFO dual-descent emits pairs in DESCENDING
(first_index, second_index) order (children are pushed low-to-high and
popped high-to-low, rtree.rs:178-196), so this engine reports the
error with the LARGEST (first_index, second_index) — reproducing the
reference's reported error on every fixture (e.g. the figure-touch
case line_string.rs:204-211 reports (2,4), not the equally-real (1,4)).
"""

from __future__ import annotations

from typing import NamedTuple, Optional

import numpy as np

from .geom import intersect_segments
from .segtree import PackedSegTree

__all__ = [
    "ValidationIssue",
    "validate_linestring",
    "validate_ring",
    "as_ring",
    "validate_polygon",
    "has_cycle",
]


class ValidationIssue(NamedTuple):
    code: str
    first_index: int = -1
    second_index: int = -1
    x: float = np.nan
    y: float = np.nan
    # overlap errors carry a second coordinate
    x2: float = np.nan
    y2: float = np.nan


def validate_linestring(xs, ys, tree: PackedSegTree | None = None,
                        degree: int = 16) -> Optional[ValidationIssue]:
    """LineString validity (reference line_string.rs:52-78).

    Returns None when valid. Empty linestrings are valid (the reference
    constructs them fine, line_string.rs:150-154).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = len(xs)
    if n == 0:
        return None
    if n == 1:
        return ValidationIssue("SinglePathCoordinate")

    # per-segment scan: degenerate beats non-finite at the same index,
    # except index 0 checks its start coord too (line_string.rs:56-66)
    same = (xs[:-1] == xs[1:]) & (ys[:-1] == ys[1:])
    fin_end = np.isfinite(xs[1:]) & np.isfinite(ys[1:])
    fin_start0 = bool(np.isfinite(xs[0]) & np.isfinite(ys[0]))
    bad_fin = ~fin_end
    if not fin_start0:
        bad_fin = bad_fin.copy()
        bad_fin[0] = True
    first_deg = int(np.argmax(same)) if same.any() else n
    first_fin = int(np.argmax(bad_fin)) if bad_fin.any() else n
    if first_deg < n or first_fin < n:
        if first_deg <= first_fin:
            return ValidationIssue(
                "DegenerateSegment", first_deg, -1, float(xs[first_deg]), float(ys[first_deg])
            )
        return ValidationIssue("NonFiniteCoordinate")

    if tree is None:
        tree = PackedSegTree.from_coords(xs, ys, degree=degree)
    ia, ib = tree.query_self_intersections()
    if len(ia) == 0:
        return None
    issue = _classify_pairs(ia, ib, xs, ys, xs, ys, n, ring_closure=True)
    return issue


def _classify_pairs(ia, ib, axs, ays, bxs, bys, n_coords, ring_closure):
    """check_intersection (line_string.rs:93-143) vectorized over
    candidate pairs of ONE linestring; returns the error the reference
    stack order would hit first (descending pair order, see module
    docstring) or None."""
    first = np.minimum(ia, ib)
    second = np.maximum(ia, ib)
    order = np.lexsort((second, first))[::-1]
    first, second = first[order], second[order]

    hit, x0, y0, x1, y1 = intersect_segments(
        axs[first], ays[first], axs[first + 1], ays[first + 1],
        bxs[second], bys[second], bxs[second + 1], bys[second + 1],
    )
    for k in range(len(first)):
        if not hit[k]:
            continue
        fi, si = int(first[k]), int(second[k])
        if x0[k] != x1[k] or y0[k] != y1[k]:
            return ValidationIssue(
                "OverlappingSegments", fi, si, float(x0[k]), float(y0[k]), float(x1[k]), float(y1[k])
            )
        if fi == si - 1:
            # adjacent: may touch only at the shared endpoint
            if x0[k] == bxs[si] and y0[k] == bys[si]:
                continue
        elif ring_closure and fi == 0 and si == n_coords - 2:
            # first & last segment of a closed ring touch at the closure
            if x0[k] == axs[0] and y0[k] == ays[0] and x0[k] == bxs[si + 1] and y0[k] == bys[si + 1]:
                continue
        return ValidationIssue("SelfIntersection", fi, si, float(x0[k]), float(y0[k]))
    return None


def validate_ring(xs, ys) -> Optional[ValidationIssue]:
    """Ring predicate (linear_ring.rs:13-21) + linestring validity."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) < 3:
        return ValidationIssue("TooFewCoordinates")
    if xs[0] != xs[-1] or ys[0] != ys[-1]:
        return ValidationIssue("NotClosed")
    return validate_linestring(xs, ys)


def as_ring(xs, ys) -> Optional[ValidationIssue]:
    """Path -> ring conversion check. Distinct from validate_ring's
    NotClosed: a PATH that fails to form a loop reports NotARing
    ("Path is not a loop", reference errors.rs:31 — the enum's loop
    variant, vs NotClosed for declared rings, errors.rs:43-47).
    A path needs >= 2 coordinates before loop-ness is even a question
    (SinglePathCoordinate, errors.rs:9-10)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) < 2:
        return ValidationIssue("SinglePathCoordinate")
    if xs[0] != xs[-1] or ys[0] != ys[-1]:
        return ValidationIssue("NotARing")
    if len(xs) < 4:
        return ValidationIssue("TooFewCoordinates")
    return validate_linestring(xs, ys)


def has_cycle(edges) -> bool:
    """Undirected cycle detection over ring-intersection pairs
    (polygon_validation.rs:112-146). edges: iterable of (u, v)."""
    edges = list(edges)
    if not edges:
        return False
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    seen: set[int] = set()
    for base in adj:
        if base in seen:
            continue
        stack = [(base, base)]
        while stack:
            node, parent = stack.pop()
            seen.add(node)
            for nxt in adj[node]:
                if nxt not in seen:
                    stack.append((nxt, node))
                elif nxt != parent:
                    return True
    return False


def _find_intersecting_point(ring_a, ring_b):
    """0 or 1 distinct intersection points between two validated rings,
    else an error (polygon_validation.rs:67-98)."""
    ia, ib = ring_a.tree.query_other_intersections(ring_b.tree)
    if len(ia) == 0:
        return None, None
    hit, x0, y0, x1, y1 = intersect_segments(
        ring_a.xs[ia], ring_a.ys[ia], ring_a.xs[ia + 1], ring_a.ys[ia + 1],
        ring_b.xs[ib], ring_b.ys[ib], ring_b.xs[ib + 1], ring_b.ys[ib + 1],
    )
    overlap = hit & ((x0 != x1) | (y0 != y1))
    if overlap.any():
        k = int(np.argmax(overlap))
        return None, ValidationIssue(
            "OverlappingSegments", int(ia[k]), int(ib[k]),
            float(x0[k]), float(y0[k]), float(x1[k]), float(y1[k]),
        )
    pts = np.stack([x0[hit], y0[hit]], axis=1)
    if len(pts) == 0:
        return None, None
    distinct = np.unique(pts, axis=0)
    if len(distinct) > 1:
        return None, ValidationIssue("MultipleIntersections")
    return (float(distinct[0, 0]), float(distinct[0, 1])), None


def _find_nonequal_point(ring, needle):
    """A ring coordinate != needle (polygon_validation.rs:102-110)."""
    if needle is None:
        return float(ring.xs[0]), float(ring.ys[0])
    mask = (ring.xs != needle[0]) | (ring.ys != needle[1])
    k = int(np.argmax(mask))
    return float(ring.xs[k]), float(ring.ys[k])


def validate_polygon(polygon) -> Optional[ValidationIssue]:
    """Polygon-level validity, assuming each ring already validated
    (polygon_validation.rs:12-63). polygon: a PolygonLayer polygon
    view; its rings are arena ring views, and a probe point's relation
    to one ring is a one-pair arena descent (RingArena.query_pairs)."""
    from .pip import EXTERIOR, INTERIOR

    arena = polygon.layer.arena
    ring_ids = polygon.ring_ids
    shell, *holes = (arena.ring(r) for r in ring_ids)

    def relation(x, y, k):
        """Relation of point (x, y) to the polygon's ring k (0 = shell)."""
        one = np.zeros(1, np.int64)
        return arena.query_pairs(np.array([x]), np.array([y]), one, one + ring_ids[k])[0]

    sxmin, symin, sxmax, symax = shell.tree.envelope()
    intersections: set[tuple[int, int]] = set()

    for i, hole in enumerate(holes):
        hxmin, hymin, hxmax, hymax = hole.tree.envelope()
        same_env = (sxmin == hxmin and symin == hymin and sxmax == hxmax and symax == hymax)
        contained = (sxmin <= hxmin and sxmax >= hxmax and symin <= hymin and symax >= hymax)
        if same_env or not contained:
            return ValidationIssue("HoleNotValid")

        isxn, err = _find_intersecting_point(hole, shell)
        if err is not None:
            return err
        if isxn is not None:
            intersections.add((0, i + 1))

        px, py = _find_nonequal_point(hole, isxn)
        if relation(px, py, 0) == EXTERIOR:
            return ValidationIssue("HoleNotValid")

        for j in range(i):
            other = holes[j]
            oxmin, oymin, oxmax, oymax = other.tree.envelope()
            if not (hxmin <= oxmax and hxmax >= oxmin and hymin <= oymax and hymax >= oymin):
                continue
            isxn2, err = _find_intersecting_point(hole, other)
            if err is not None:
                return err
            if isxn2 is not None:
                intersections.add((i + 1, j + 1))
            px, py = _find_nonequal_point(hole, isxn2)
            if relation(px, py, j + 1) == INTERIOR:
                return ValidationIssue("HoleNotValid")
            px, py = _find_nonequal_point(other, isxn2)
            if relation(px, py, i + 1) == INTERIOR:
                return ValidationIssue("HoleNotValid")

    if has_cycle(intersections):
        return ValidationIssue("InteriorDisconnected")
    return None
