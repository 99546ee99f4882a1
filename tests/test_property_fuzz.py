"""Hypothesis property fuzz: kernels vs brute force / invariants.

Generators build geometry the cheap-to-verify way (star polygons are
simple by construction), then check the packed-tree kernels against
segment-by-segment brute force and against themselves at different
tree degrees — the tree/descent logic is what these catch; the scalar
math is pinned by the golden fixtures. The codecs' prefix-code module
is fuzzed the same way: canonical codes against RFC 1951's assignment,
peek tables against a brute bit walk.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from segment_rtree_spark.kernels.clip import clip_path
from segment_rtree_spark.kernels.pip import BOUNDARY, EXTERIOR, INTERIOR
from segment_rtree_spark.kernels.segtree import PackedSegTree
from segment_rtree_spark.kernels.validity import validate_ring
from segment_rtree_spark.layer import PolygonLayer
from segment_rtree_spark.prefix import canonical, table
from tests.test_kernels_pip import ring_relation


def star_ring(seed: int, n: int):
    """Simple (non-self-intersecting) closed ring: points at strictly
    increasing angles around a center, positive radii."""
    rng = np.random.default_rng(seed)
    # strictly increasing angles with a REAL minimum gap: near-equal
    # angles make adjacent segments near-collinear, where the float
    # intersection point of the adjacent pair no longer lands exactly
    # on the shared vertex and the validator (faithfully) flags it
    gaps = rng.uniform(0.2, 1.0, n)
    ang = 2 * np.pi * np.cumsum(gaps) / gaps.sum()
    r = rng.uniform(0.5, 10.0, n)
    # snap to a 2^-10 grid: coordinates then round-trip EXACTLY through
    # start + (end - start), which the adjacent-touch check requires —
    # the reference's intersect_segments (utils.rs:74-126) computes the
    # touch point as start_a + da * 1.0 with no endpoint snapping, so
    # coordinates that don't round-trip get (faithfully) flagged as
    # self-intersections by both engines
    xs = np.round(r * np.cos(ang) * 1024) / 1024
    ys = np.round(r * np.sin(ang) * 1024) / 1024
    return np.append(xs, xs[0]), np.append(ys, ys[0])


def brute_relation(px, py, xs, ys):
    """Reference-semantics PIP, zero cleverness: full winding sum plus
    collinear-and-within-bbox boundary test per segment (the same
    closed forms as the SQL oracle)."""
    n = len(px)
    rel = np.zeros(n, np.int8)
    wn = np.zeros(n, np.int64)
    on_b = np.zeros(n, bool)
    for i in range(len(xs) - 1):
        sx, sy, ex, ey = xs[i], ys[i], xs[i + 1], ys[i + 1]
        cross = (ex - sx) * (py - sy) - (ey - sy) * (px - sx)
        on_seg = (
            (cross == 0.0)
            & (px >= min(sx, ex)) & (px <= max(sx, ex))
            & (py >= min(sy, ey)) & (py <= max(sy, ey))
        )
        on_b |= on_seg
        up = (sy <= py) & (ey > py) & (cross > 0.0)
        dn = (sy > py) & (ey <= py) & (cross < 0.0)
        wn += np.where(cross == 0.0, 0, up.astype(np.int64) - dn.astype(np.int64))
    rel[wn != 0] = INTERIOR
    rel[on_b] = BOUNDARY
    return rel


def star_holes(rng, xs, ys, k: int):
    """k (0-2) star holes inside the star ring (xs, ys), as (xs, ys)
    rings. When the ring holds its centre, the disc of radius d (the
    centre's distance to the ring) lies inside it; hole j sits at
    +-0.45d on the x axis with radius <= 0.4d, so the holes are
    disjoint, inside, and clear of the centre. No holes when the
    centre is not interior (no such disc)."""
    from segment_rtree_spark.kernels.pip import _point_segment_dist2

    if brute_relation(np.zeros(1), np.zeros(1), xs, ys)[0] != INTERIOR:
        return []
    d = np.sqrt(_point_segment_dist2(0.0, 0.0, xs[:-1], ys[:-1], xs[1:], ys[1:]).min())
    holes = []
    for j in range(k):
        m = int(rng.integers(3, 12))
        ang = 2 * np.pi * (np.arange(m) + rng.uniform(-0.3, 0.3, m)) / m
        r = rng.uniform(0.1, 0.4, m) * d
        hx = np.round(((-1) ** j * 0.45 * d + r * np.cos(ang)) * 2**20) / 2**20
        hy = np.round(r * np.sin(ang) * 2**20) / 2**20
        holes.append((np.append(hx, hx[0]), np.append(hy, hy[0])))
    return holes


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(4, 120), n_holes=st.integers(0, 2))
def test_pip_matches_brute_winding(seed, n, n_holes):
    """points_in_polygon on a star ring, and PolygonLayer.pip (the
    arena pair relation every PIP join runs) on that ring with 0-2 star
    holes at tree degrees 2 and 16, equal the brute-force winding
    relation."""
    xs, ys = star_ring(seed, n)
    rng = np.random.default_rng(seed + 1)
    holes = star_holes(rng, xs, ys, n_holes)
    px = rng.uniform(-12, 12, 200)
    py = rng.uniform(-12, 12, 200)
    # include exact vertices (boundary hits), the center (interior), and
    # per hole its first vertices (boundary) and centre (exterior)
    px = np.concatenate([px, xs[:3], [0.0], *(h[0][:3] for h in holes),
                         [h[0][:-1].mean() for h in holes]])
    py = np.concatenate([py, ys[:3], [0.0], *(h[1][:3] for h in holes),
                         [h[1][:-1].mean() for h in holes]])
    got = ring_relation(px, py, xs, ys)
    want = brute_relation(px, py, xs, ys)
    assert np.array_equal(got, want)

    if holes:
        hmax = np.max([brute_relation(px, py, hx, hy) for hx, hy in holes], axis=0)
        inside = want == INTERIOR
        want = np.where(inside & (hmax == INTERIOR), EXTERIOR,
                        np.where(inside & (hmax == BOUNDARY), BOUNDARY, want))
    rows = [(7, part, rx, ry) for part, (rx, ry) in enumerate([(xs, ys), *holes])]
    for degree in (2, 16):
        qi, pid, rel = PolygonLayer.from_ring_rows(rows, degree=degree).pip(px, py)
        got = np.zeros(len(px), np.int8)
        got[qi] = rel
        assert np.array_equal(got, want)
        assert (pid == 7).all() and len(np.unique(qi)) == len(qi)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(4, 120))
def test_pip_degree_invariance(seed, n):
    xs, ys = star_ring(seed, n)
    rng = np.random.default_rng(seed + 2)
    px = rng.uniform(-12, 12, 300)
    py = rng.uniform(-12, 12, 300)
    a = ring_relation(px, py, xs, ys, degree=2)
    b = ring_relation(px, py, xs, ys, degree=16)
    assert np.array_equal(a, b)


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    n=st.integers(4, 100),
    x0=st.floats(-8, 6),
    y0=st.floats(-8, 6),
    w=st.floats(0.5, 12),
    h=st.floats(0.5, 12),
)
def test_clip_invariants_and_degree_invariance(seed, n, x0, y0, w, h):
    xs, ys = star_ring(seed, n)
    x1, y1 = x0 + w, y0 + h
    paths2 = clip_path(x0, y0, x1, y1, xs, ys, degree=2)
    paths16 = clip_path(x0, y0, x1, y1, xs, ys, degree=16)
    # tree degree must not change the output AT ALL (bitwise)
    assert len(paths2) == len(paths16)
    for (ax, ay), (bx, by) in zip(paths2, paths16):
        assert np.array_equal(ax, bx) and np.array_equal(ay, by)
    eps = 1e-9
    for cx, cy in paths16:
        assert len(cx) >= 1
        # every output coordinate lies in the (slightly padded) rect
        assert (cx >= x0 - eps).all() and (cx <= x1 + eps).all()
        assert (cy >= y0 - eps).all() and (cy <= y1 + eps).all()
        # non-original coordinates sit on the rect boundary (NEAR an
        # original vertex also counts: an inside endpoint cut at t=1.0
        # is sx + 1.0*(ex-sx), which is the vertex up to 1 ulp)
        for X, Y in zip(cx.tolist(), cy.tolist()):
            near_orig = (np.abs(xs - X) + np.abs(ys - Y)).min() < 1e-9
            if not near_orig:
                on_edge = (
                    abs(X - x0) < 1e-7 or abs(X - x1) < 1e-7
                    or abs(Y - y0) < 1e-7 or abs(Y - y1) < 1e-7
                )
                assert on_edge, (X, Y)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(4, 80))
def test_star_rings_validate_clean(seed, n):
    xs, ys = star_ring(seed, n)
    assert validate_ring(xs, ys) is None


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(6, 80), i=st.integers(1, 4))
def test_scrambled_star_validation_degree_invariant(seed, n, i):
    """Scrambling vertices often (not always) breaks simplicity; either
    way the reported issue is a function of the GEOMETRY alone — the
    candidate tree's degree (hence candidate ORDER) must not change
    which error precedence picks."""
    xs, ys = star_ring(seed, n)
    j = i + 2
    xs[[i, j]] = xs[[j, i]]
    ys[[i, j]] = ys[[j, i]]
    from segment_rtree_spark.kernels.validity import validate_linestring

    a = validate_linestring(xs, ys, degree=2)
    b = validate_linestring(xs, ys, degree=16)
    c = validate_linestring(xs, ys, degree=5)
    assert a == b == c


def test_bowtie_always_flagged():
    """Deterministic broken ring: the classic bowtie self-intersection."""
    issue = validate_ring(
        np.array([0.0, 10.0, 10.0, 0.0, 0.0]), np.array([0.0, 10.0, 0.0, 10.0, 0.0])
    )
    assert issue is not None and issue.code == "SelfIntersection"


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(1, 200))
def test_segtree_query_rect_matches_brute(seed, n):
    rng = np.random.default_rng(seed)
    xs = rng.uniform(-100, 100, n + 1)
    ys = rng.uniform(-100, 100, n + 1)
    tree = PackedSegTree.from_coords(xs, ys, degree=4)
    qx0, qy0 = rng.uniform(-120, 80, 5), rng.uniform(-120, 80, 5)
    qx1, qy1 = qx0 + rng.uniform(0, 80, 5), qy0 + rng.uniform(0, 80, 5)
    q, s = tree.query_rect(qx0, qy0, qx1, qy1)
    got = set(zip(q.tolist(), s.tolist()))
    want = set()
    ex0, ex1 = np.minimum(xs[:-1], xs[1:]), np.maximum(xs[:-1], xs[1:])
    ey0, ey1 = np.minimum(ys[:-1], ys[1:]), np.maximum(ys[:-1], ys[1:])
    for k in range(5):
        hit = (ex0 <= qx1[k]) & (ex1 >= qx0[k]) & (ey0 <= qy1[k]) & (ey1 >= qy0[k])
        want |= {(k, int(i)) for i in np.nonzero(hit)[0]}
    assert got == want


def star_polygon_rows(rng, pid: int):
    """Ring rows of one star polygon with 0-2 star holes, snapped to a
    1/32-degree grid (so vertices can sit exactly on cell edges). Shell
    vertices keep radius >= 0.8R at near-even angles, so the shell
    stays outside 0.65R; holes sit 0.3R off-center with radius <= 0.25R,
    on opposite sides: valid by construction."""

    def star(cx, cy, rmin, rmax, n):
        ang = 2 * np.pi * (np.arange(n) + rng.uniform(-0.3, 0.3, n)) / n
        r = rng.uniform(rmin, rmax, n)
        xs = np.round((cx + r * np.cos(ang)) * 32) / 32
        ys = np.round((cy + r * np.sin(ang)) * 32) / 32
        return np.append(xs, xs[0]), np.append(ys, ys[0])

    R = rng.uniform(2.0, 30.0)
    cx, cy = rng.uniform(-150, 150), rng.uniform(-55, 55)
    rows = [(pid, 0, *star(cx, cy, 0.8 * R, R, int(rng.integers(8, 40))))]
    phi = rng.uniform(0, 2 * np.pi)
    for part in range(1, int(rng.integers(0, 3)) + 1):
        a = phi + np.pi * (part - 1)
        hx, hy = cx + 0.3 * R * np.cos(a), cy + 0.3 * R * np.sin(a)
        rows.append((pid, part, *star(hx, hy, 0.1 * R, 0.25 * R, int(rng.integers(8, 20)))))
    return rows


def brute_cover(rows, res: int, mode: str):
    """(polygon_id, cell) pairs by enumerating all 4^res cells: a cell
    is crossed if any ring segment clips it; kept when crossed or its
    center is not exterior (intersect), or when not crossed and its
    center is inside (contained). Holes: any hole Interior -> Exterior,
    else any hole Boundary -> Boundary."""
    from segment_rtree_spark.kernels.geom import clip_segments
    from segment_rtree_spark.tiles import cell_bounds, cell_of

    n = 1 << res
    iy, ix = np.divmod(np.arange(n * n), n)
    cells = cell_of((iy + 0.5) / n * 180.0 - 90.0, (ix + 0.5) / n * 360.0 - 180.0, res)
    x0, y0, x1, y1 = cell_bounds(cells)
    cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
    polys: dict = {}
    for pid, part, xs, ys in rows:
        polys.setdefault(pid, []).append((part, xs, ys))
    out = set()
    for pid, parts in polys.items():
        crossed = np.zeros(len(cells), bool)
        rels = []
        for _, xs, ys in sorted(parts, key=lambda t: t[0]):
            for i in range(len(xs) - 1):
                crossed |= clip_segments(x0, y0, x1, y1, xs[i], ys[i], xs[i + 1], ys[i + 1])[0]
            rels.append(brute_relation(cx, cy, xs, ys))
        rel = rels[0].copy()
        if len(rels) > 1:
            hmax = np.max(rels[1:], axis=0)
            inside = rel == INTERIOR
            rel[inside & (hmax == BOUNDARY)] = BOUNDARY
            rel[inside & (hmax == INTERIOR)] = EXTERIOR
        center_in = rel != EXTERIOR
        keep = (~crossed & center_in) if mode == "contained" else (crossed | center_in)
        out |= {(pid, int(c)) for c in cells[keep]}
    return out


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000), res=st.integers(3, 7), degree=st.sampled_from([2, 4, 16]))
def test_layer_cover_matches_brute_force(seed, res, degree):
    """The one layer-wide cover BFS (cover_cells, polyfill) equals the
    brute-force definition of the cover, in both modes, on seeded
    multi-polygon layers of star polygons with holes."""
    from segment_rtree_spark.tiles import polyfill

    rng = np.random.default_rng(seed)
    rows = [r for pid in range(int(rng.integers(1, 5))) for r in star_polygon_rows(rng, pid)]
    layer = PolygonLayer.from_ring_rows(rows, degree=degree)

    pids, cells = layer.cover_cells(res)
    assert set(zip(pids.tolist(), cells.tolist())) == brute_cover(rows, res, "intersect")
    assert len(set(zip(pids.tolist(), cells.tolist()))) == len(cells)

    contained = {
        (int(pid), int(c))
        for pid, poly in zip(layer.ids, layer.polygons)
        for c in polyfill(poly, res, "contained")
    }
    assert contained == brute_cover(rows, res, "contained")


def dense_boundary_dist(px, py, rings):
    """Point-to-boundary distance by the dense points x segments fold
    over every segment of every ring."""
    from segment_rtree_spark.kernels.pip import _point_segment_dist2

    best = np.full(len(px), np.inf)
    for xs, ys in rings:
        d2 = _point_segment_dist2(
            px[:, None], py[:, None], xs[None, :-1], ys[None, :-1], xs[None, 1:], ys[None, 1:]
        )
        best = np.minimum(best, d2.min(axis=1))
    return np.sqrt(best)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000), degree=st.sampled_from([2, 4, 16]))
def test_arena_distance_matches_dense_fold(seed, degree):
    """The pair distance descent (PolygonLayer._distances over
    RingArena.dist2_pairs, and boundary_distance on one polygon) is
    bit-equal to the dense points x segments fold, on seeded layers of
    star polygons with 0-2 holes, for points on every vertex, on edges
    and spread over (and around) the layer."""
    from segment_rtree_spark.operators.knn_join import boundary_distance

    rng = np.random.default_rng(seed)
    rows = [r for pid in range(int(rng.integers(1, 5))) for r in star_polygon_rows(rng, pid)]
    layer = PolygonLayer.from_ring_rows(rows, degree=degree)
    xs = np.concatenate([r[2] for r in rows])
    ys = np.concatenate([r[3] for r in rows])
    t = rng.uniform(0.0, 1.0, len(xs) - 1)
    x0, x1 = np.nanmin(layer.xmin) - 5, np.nanmax(layer.xmax) + 5
    y0, y1 = np.nanmin(layer.ymin) - 5, np.nanmax(layer.ymax) + 5
    px = np.concatenate([xs, xs[:-1] + t * (xs[1:] - xs[:-1]), rng.uniform(x0, x1, 200)])
    py = np.concatenate([ys, ys[:-1] + t * (ys[1:] - ys[:-1]), rng.uniform(y0, y1, 200)])

    rings: dict = {}
    for pid, _, rx, ry in rows:
        rings.setdefault(pid, []).append((rx, ry))
    want = np.stack([dense_boundary_dist(px, py, rings[int(pid)]) for pid in layer.ids])
    assert (want[:, : len(xs)] == 0.0).any(axis=0).all()  # every vertex is on a boundary

    n, m = len(px), len(layer)
    q, pos = np.repeat(np.arange(n), m), np.tile(np.arange(m), n)
    got = layer._distances(px, py, q, pos).reshape(n, m).T
    assert np.array_equal(got, want)
    for j, poly in enumerate(layer.polygons):
        assert np.array_equal(boundary_distance(px, py, poly), want[j])


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000), degree=st.sampled_from([2, 4, 16]))
def test_arena_ring_views_equal_fresh_trees(seed, degree):
    """Every arena ring view (RingArena.ring: zero-copy slices) equals a
    PackedSegTree built afresh from its coordinates, NaN padding
    included, and the dual-tree query between two views equals the same
    query between fresh trees, on seeded layers of star polygons with
    0-2 holes. RingArena.concat of per-polygon arenas (the partitioned
    refine's group arena) equals the arena built in one go."""
    from segment_rtree_spark.kernels.pip import RingArena

    rng = np.random.default_rng(seed)
    rows = [r for pid in range(int(rng.integers(1, 5))) for r in star_polygon_rows(rng, pid)]
    layer = PolygonLayer.from_ring_rows(rows, degree=degree)
    a = layer.arena
    assert len(a) == len(rows)
    parts = [RingArena([r[2:] for r in rows if r[0] == pid], degree) for pid in layer.ids]
    joined = RingArena.concat(parts)
    for name in RingArena.__slots__:
        assert np.array_equal(getattr(joined, name), getattr(a, name), equal_nan=True), name
    fresh = []
    for r, (_, _, xs, ys) in enumerate(rows):  # rows are in arena order
        view = a.ring(r)
        assert np.array_equal(view.xs, xs) and np.array_equal(view.ys, ys)
        t = PackedSegTree.from_coords(xs, ys, degree=degree)
        assert view.tree.degree == t.degree and view.tree.size == t.size
        assert view.tree.height == t.height
        assert np.array_equal(view.tree.level_indices, t.level_indices)
        for name in ("xmin", "ymin", "xmax", "ymax"):
            assert np.array_equal(getattr(view.tree, name), getattr(t, name), equal_nan=True)
        fresh.append(t)
    for i in range(len(rows)):
        for j in (i, int(rng.integers(len(rows)))):
            got = a.ring(i).tree.query_other_intersections(a.ring(j).tree)
            want = fresh[i].query_other_intersections(fresh[j])
            assert len(want[0]) or i != j
            assert all(np.array_equal(g, w) for g, w in zip(got, want))


def random_code_lengths(rng, alphabet: int, max_len: int):
    """A complete code-length vector (Kraft sum exactly 1) over
    `alphabet` symbols with no length above max_len: split leaves of a
    one-leaf code tree, often the newest one so that long codes occur,
    then scatter the leaf depths over random symbols. A one-leaf draw
    is the one-symbol code, at a random length."""
    n = int(rng.integers(1, min(alphabet, 1 << max_len) + 1))
    depths = [int(rng.integers(1, max_len + 1))] if n == 1 else [0]
    while len(depths) < n:
        i = len(depths) - 1 if rng.random() < 0.5 else int(rng.integers(len(depths)))
        if depths[i] < max_len:
            depths[i] += 1
            depths.append(depths[i])
    lengths = [0] * alphabet
    for s, d in zip(rng.choice(alphabet, n, replace=False), depths):
        lengths[int(s)] = d
    return lengths


def rfc1951_codes(lengths):
    """symbol -> (code, length) by RFC 1951 §3.2.2 (bl_count, next_code)."""
    bl_count = [0] * 17
    for l in lengths:
        bl_count[l] += 1
    bl_count[0] = 0
    next_code, code = [0] * 17, 0
    for l in range(1, 17):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    out = {}
    for s, l in enumerate(lengths):
        if l:
            out[s] = (next_code[l], l)
            next_code[l] += 1
    return out


def table_decode(tab, root, lsb_first, bits, count):
    """Read `count` symbols from a 0/1 bit list through a prefix.table,
    one root peek and at most one link per symbol."""
    padded = bits + [0] * 32

    def peek(at, width):
        chunk = padded[at:at + width]
        if lsb_first:
            return sum(b << i for i, b in enumerate(chunk))
        return sum(b << (width - 1 - i) for i, b in enumerate(chunk))

    out, pos = [], 0
    for _ in range(count):
        e = tab[peek(pos, root)]
        n = e & 31
        if n > root:
            e = tab[(e >> 5) + peek(pos + root, n - root)]
            n = e & 31
        assert n, "invalid prefix"
        out.append(e >> 5)
        pos += n
    assert pos == len(bits)
    return out


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), alphabet=st.integers(1, 2328),
       max_len=st.integers(1, 16))
def test_prefix_table_decodes_canonical_codes(seed, alphabet, max_len):
    """prefix.canonical on a random complete length vector equals the
    RFC 1951 assignment; a random symbol sequence encoded with its code
    list decodes back through prefix.table (built from the list in
    random order) at roots 7, 8, 13 and 16 in both bit orders, and
    through a brute bit walk."""
    rng = np.random.default_rng(seed)
    lengths = random_code_lengths(rng, alphabet, max_len)
    codes = canonical(lengths)
    want = rfc1951_codes(lengths)
    assert {s: (c, l) for s, c, l in codes} == want
    assert [l for _, _, l in codes] == sorted(l for l in lengths if l)
    msg = [int(s) for s in rng.choice([s for s, _, _ in codes], 200)]
    bits = [(want[s][0] >> (want[s][1] - 1 - i)) & 1
            for s in msg for i in range(want[s][1])]
    by_code = {v: s for s, v in want.items()}
    walked, code, l = [], 0, 0
    for b in bits:  # brute bit walk
        code, l = (code << 1) | b, l + 1
        if (code, l) in by_code:
            walked.append(by_code[(code, l)])
            code = l = 0
    assert walked == msg and l == 0
    shuffled = [codes[i] for i in rng.permutation(len(codes))]  # any order
    for root in (7, 8, 13, 16):
        for lsb_first in (False, True):
            tab = table(shuffled, root, lsb_first)
            assert table_decode(tab, root, lsb_first, bits, len(msg)) == msg


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), alphabet=st.integers(3, 2328),
       max_len=st.integers(2, 15))
def test_prefix_canonical_rejects_bad_lengths(seed, alphabet, max_len):
    """A complete vector with one length raised is incomplete; with one
    length lowered, or one symbol added, it is oversubscribed.
    canonical raises ValueError for both, and with complete=False (the
    T.81 rule) for the second only, as for an empty code. Overlapping
    explicit codes make prefix.table raise."""
    rng = np.random.default_rng(seed)
    lengths = random_code_lengths(rng, alphabet, max_len)
    used = [s for s, l in enumerate(lengths) if l]
    if len(used) < 2:  # a one-symbol code is always accepted
        lengths = [0] * alphabet
        used = [int(s) for s in rng.choice(alphabet, 2, replace=False)]
        for s in used:
            lengths[s] = 1
    s = int(rng.choice(used))
    longer = [l + (i == s) for i, l in enumerate(lengths)]
    deep = [i for i in used if lengths[i] > 1]
    if deep:
        t = int(rng.choice(deep))
        shorter = [l - (i == t) for i, l in enumerate(lengths)]
    else:  # two 1-bit codes: add a third
        shorter = list(lengths)
        shorter[next(i for i, l in enumerate(lengths) if not l)] = 1
    for bad, oversubscribed in ((longer, False), (shorter, True)):
        with pytest.raises(ValueError):
            canonical(bad)
        if oversubscribed:
            with pytest.raises(ValueError, match="oversubscribed"):
                canonical(bad, complete=False)
        else:
            canonical(bad, complete=False)
    free = [i for i, l in enumerate(lengths) if not l]
    if free:
        extra = list(lengths)
        extra[free[0]] = max_len
        with pytest.raises(ValueError, match="oversubscribed"):
            canonical(extra, complete=False)
    with pytest.raises(ValueError):
        canonical([0] * alphabet)
    assert canonical([0] * alphabet, complete=False) == []
    with pytest.raises(ValueError, match="overlap"):
        table([(0, 0b0, 1), (1, 0b01, 2)], 8, lsb_first=bool(seed & 1))
