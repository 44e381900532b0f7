"""Exact-touch semantics of the J9 refine kernel (VERDICT r5 #7):
``polygons_intersect_udf`` must give deterministic strict-interior
answers on boundary-degenerate configurations (integer grids, shared
borders) — boundary contact never pairs."""

import numpy as np
import pandas as pd
import pytest

from osm_addr_tools_spark.operators.joins import polygons_intersect_udf


def edges(*rings):
    segs = []
    for v in rings:
        v = np.asarray(v, dtype=np.float64)
        nxt = np.roll(v, -1, axis=0)
        segs.append(np.concatenate([v, nxt], axis=1).ravel())
    return np.concatenate(segs).tolist()


def rect(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def run(kernel, pairs):
    ea = pd.Series([a for a, _ in pairs])
    eb = pd.Series([b for _, b in pairs])
    return kernel(ea, eb).tolist()


@pytest.fixture(scope="module")
def kernel(spark):
    return polygons_intersect_udf().func


# the pinned policy: strict-interior sharing, boundary contact never pairs
CASES = [
    # shared full edge, disjoint interiors -> False
    ("shared_edge", rect(0, 0, 1, 1), rect(1, 0, 2, 1), False),
    # shared corner point only -> False
    ("shared_corner", rect(0, 0, 1, 1), rect(1, 1, 2, 2), False),
    # identical rectangles -> True (interiors coincide)
    ("identical", rect(0, 0, 2, 2), rect(0, 0, 2, 2), True),
    # T-touch (vertex of B lies on A's edge), interiors disjoint -> False
    ("t_touch", rect(0, 0, 2, 2), [(1, 2), (3, 4), (-1, 4)], False),
    # contained, sharing one full edge -> True
    ("contained_shared_edge", rect(0, 0, 2, 1), rect(0, 0, 1, 1), True),
    # partial edge overlap WITH interior overlap (B slides over A) -> True
    ("partial_overlap", rect(0, 0, 2, 2), rect(1, 0, 3, 2), True),
    # collinear partial edge touch, disjoint interiors -> False
    ("collinear_touch", rect(0, 0, 1, 1), rect(1, 0.25, 2, 0.75), False),
    # A strictly inside B (no contact) -> True (decided by the vertex probe)
    ("nested_clear", rect(0.5, 0.5, 1.5, 1.5), rect(0, 0, 2, 2), True),
    # nested with all four corners of A on B's boundary (diamond in square)
    ("diamond_in_square", [(1, 0), (2, 1), (1, 2), (0, 1)], rect(0, 0, 2, 2), True),
    # clearly disjoint -> False
    ("disjoint", rect(0, 0, 1, 1), rect(3, 3, 4, 4), False),
]


def test_strict_touch_fixtures(kernel):
    pairs = [(edges(a), edges(b)) for _, a, b, _ in CASES]
    got = run(kernel, pairs)
    for (name, _, _, want), g in zip(CASES, got):
        assert g == want, name
    # symmetry: swapping the operands never changes the answer
    got_sw = run(kernel, [(b, a) for a, b in pairs])
    assert got_sw == got


def test_strict_touch_hole_semantics(kernel):
    """B sits entirely INSIDE A's hole, sharing the hole's boundary edge:
    even-odd interiors are disjoint -> False; a polygon overlapping the
    solid part stays True."""
    a_with_hole = edges(rect(0, 0, 4, 4), rect(1, 1, 3, 3))
    in_hole = edges(rect(1, 1, 2, 2))  # shares hole corner + edges
    overlapping = edges(rect(-1, -1, 0.5, 0.5))
    got = run(kernel, [(a_with_hole, in_hole), (a_with_hole, overlapping)])
    assert got == [False, True]


def test_strict_touch_random_grid_rectangles(kernel):
    """Seeded property: integer-grid axis-aligned rectangles — shared
    edges, shared corners, collinear overlaps, nesting with shared sides —
    each with a random start vertex and winding. The kernel must equal
    strict open-interval overlap on both axes."""
    rng = np.random.default_rng(7)
    pairs, want, drawn = [], [], []
    for _ in range(3000):
        boxes = []
        for _ in range(2):
            x0, x1 = sorted(rng.choice(6, 2, replace=False).tolist())
            y0, y1 = sorted(rng.choice(6, 2, replace=False).tolist())
            boxes.append((x0, y0, x1, y1))
        drawn.append(boxes)
        (ax0, ay0, ax1, ay1), (bx0, by0, bx1, by1) = boxes
        want.append(max(ax0, bx0) < min(ax1, bx1) and max(ay0, by0) < min(ay1, by1))
        rings = []
        for b in boxes:
            v = rect(*b)
            k = int(rng.integers(4))
            v = v[k:] + v[:k]
            if rng.integers(2):
                v = v[::-1]
            rings.append(edges(v))
        pairs.append(tuple(rings))
    got = run(kernel, pairs)
    bad = [i for i, (g, w) in enumerate(zip(got, want)) if g != w]
    assert not bad, (len(bad), drawn[bad[0]], want[bad[0]])
