"""Validity goldens — reference line_string.rs:176-227 (F4),
polygon_validation.rs:148-178 + semantics (F11), linear_ring.rs:13-21."""

import numpy as np

from segment_rtree_spark.kernels.validity import (
    has_cycle,
    validate_linestring,
    validate_polygon,
    validate_ring,
)
from tests.test_kernels_pip import polygon as P


def V(coords):
    xs = np.array([c[0] for c in coords], dtype=np.float64)
    ys = np.array([c[1] for c in coords], dtype=np.float64)
    return validate_linestring(xs, ys)


class TestLineString:
    def test_empty_ok(self):
        assert V([]) is None

    def test_basic_ok(self):
        assert V([(0, 0), (1, 1)]) is None
        assert V([(0, 0), (1, 1), (2, 2)]) is None
        assert V([(0, 0), (1, 0), (0, 1), (0, 0)]) is None

    def test_single_coordinate(self):
        assert V([(0, 0)]).code == "SinglePathCoordinate"

    def test_self_intersection_cross(self):
        err = V([(0, 0), (1, 1), (1, 0), (0, 1)])
        assert (err.code, err.first_index, err.second_index, err.x, err.y) == (
            "SelfIntersection", 0, 2, 0.5, 0.5,
        )

    def test_overlapping_segments(self):
        err = V([(0, 0), (0, 1), (0, 0.5)])
        assert err.code == "OverlappingSegments"
        assert (err.first_index, err.second_index) == (0, 1)
        # reference asserts start=(0,0.5), end=(0,1) (line_string.rs:195-203)
        assert (err.x, err.y, err.x2, err.y2) == (0.0, 0.5, 0.0, 1.0)

    def test_figure_touch(self):
        err = V([(0, 0), (0, 1), (0.5, 0), (1, 1), (1, 0), (0, 0)])
        assert (err.code, err.first_index, err.second_index, err.x, err.y) == (
            "SelfIntersection", 2, 4, 0.5, 0.0,
        )

    def test_figure_eight(self):
        err = V([(0, 0), (0, 1), (0.5, 0.5), (1, 1), (1, 0), (0.5, 0.5)])
        assert (err.code, err.first_index, err.second_index, err.x, err.y) == (
            "SelfIntersection", 2, 4, 0.5, 0.5,
        )

    def test_degenerate_segment(self):
        err = V([(0, 0), (0, 0), (1, 1)])
        assert (err.code, err.first_index, err.x, err.y) == ("DegenerateSegment", 0, 0.0, 0.0)

    def test_non_finite(self):
        assert V([(0, 0), (np.nan, 1)]).code == "NonFiniteCoordinate"
        assert V([(np.inf, 0), (1, 1)]).code == "NonFiniteCoordinate"


class TestRing:
    def test_too_few(self):
        assert validate_ring([0, 1], [0, 1]).code == "TooFewCoordinates"

    def test_not_closed(self):
        assert validate_ring([0, 1, 2], [0, 1, 0]).code == "NotClosed"

    def test_ok(self):
        assert validate_ring([0, 1, 0, 0], [0, 0, 1, 0]) is None

    def test_as_ring_not_a_ring(self):
        # a PATH that isn't a loop: NotARing (errors.rs:31), distinct
        # from the declared-ring NotClosed code (errors.rs:43-47)
        from segment_rtree_spark.kernels.validity import as_ring

        assert as_ring([0, 1, 2], [0, 1, 0]).code == "NotARing"
        assert as_ring([0], [0]).code == "SinglePathCoordinate"
        # closed but too short to be a real ring
        assert as_ring([0, 1, 0], [0, 1, 0]).code == "TooFewCoordinates"
        assert as_ring([0, 1, 0, 0], [0, 0, 1, 0]) is None
        # NotARing wins over coordinate-count for open paths
        assert as_ring([0, 1], [0, 1]).code == "NotARing"


class TestCycle:
    # reference polygon_validation.rs:152-178
    def test_no_cycle(self):
        edges = []
        assert not has_cycle(edges)
        for e in [(0, 1), (1, 2), (2, 3), (4, 5)]:
            edges.append(e)
            assert not has_cycle(edges)

    def test_cycle(self):
        edges = [(0, 1), (1, 2), (2, 3), (0, 2)]
        assert has_cycle(edges)
        for extra in [(0, 3), (1, 3)]:
            edges.append(extra)
            assert has_cycle(edges)


SHELL = ([0.0, 0.0, 10.0, 10.0, 0.0], [0.0, 10.0, 10.0, 0.0, 0.0])


class TestPolygon:
    def test_valid_no_holes(self):
        assert validate_polygon(P([SHELL])) is None

    def test_valid_one_hole(self):
        hole = ([2.0, 2.0, 4.0, 4.0, 2.0], [2.0, 4.0, 4.0, 2.0, 2.0])
        assert validate_polygon(P([SHELL, hole])) is None

    def test_hole_outside_shell(self):
        hole = ([20.0, 20.0, 22.0, 22.0, 20.0], [2.0, 4.0, 4.0, 2.0, 2.0])
        assert validate_polygon(P([SHELL, hole])).code == "HoleNotValid"

    def test_hole_equals_shell_envelope(self):
        hole = ([0.0, 0.0, 10.0, 10.0, 0.0], [0.0, 10.0, 10.0, 0.0, 0.0])
        assert validate_polygon(P([SHELL, hole])).code == "HoleNotValid"

    def test_hole_in_hole(self):
        h1 = ([1.0, 1.0, 6.0, 6.0, 1.0], [1.0, 6.0, 6.0, 1.0, 1.0])
        h2 = ([2.0, 2.0, 4.0, 4.0, 2.0], [2.0, 4.0, 4.0, 2.0, 2.0])
        assert validate_polygon(P([SHELL, h1, h2])).code == "HoleNotValid"

    def test_crossing_holes(self):
        h1 = ([1.0, 1.0, 5.0, 5.0, 1.0], [1.0, 5.0, 5.0, 1.0, 1.0])
        h2 = ([3.0, 3.0, 7.0, 7.0, 3.0], [3.0, 7.0, 7.0, 3.0, 3.0])
        err = validate_polygon(P([SHELL, h1, h2]))
        assert err.code in ("MultipleIntersections", "OverlappingSegments")

    def test_touching_chain_ok(self):
        # two holes touching the shell at single distinct points: fine
        h1 = ([0.0, 2.0, 1.0, 0.0], [0.0, 2.0, 3.0, 0.0])  # touches shell at (0,0)
        h2 = ([10.0, 8.0, 9.0, 10.0], [10.0, 8.0, 7.0, 10.0])  # touches at (10,10)
        assert validate_polygon(P([SHELL, h1, h2])) is None

    def test_touching_cycle_disconnects(self):
        # shell + 2 holes forming a cycle of touch points:
        # hole A touches shell at (0,5) and hole B at (5,5);
        # hole B touches shell at (10,5) -> path shell-A-B-shell = cycle
        hA = ([0.0, 5.0, 3.0, 0.0], [5.0, 5.0, 2.0, 5.0])
        hB = ([5.0, 10.0, 7.0, 5.0], [5.0, 5.0, 8.0, 5.0])
        err = validate_polygon(P([SHELL, hA, hB]))
        assert err is not None
        assert err.code == "InteriorDisconnected"
