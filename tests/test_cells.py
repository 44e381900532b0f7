"""C1–C5 kernel invariants (SURVEY.md §5.1). The encoder is validated by
spec-derived structural invariants: face-center ids, encode/decode
roundtrips, parent containment, Hilbert locality, neighbor symmetry, and
face-seam behavior — plus randomized (seeded) property checks."""

import numpy as np
import pytest

from osm_addr_tools_spark.functions import cells as C
from tests.reference import cell_contains, cell_range_max, cell_range_min, ring_edges_loop

RNG = np.random.default_rng(42)
LON = RNG.uniform(-180, 180, 3000)
LAT = RNG.uniform(-90, 90, 3000)


def test_face_center_level0_ids():
    # spec: level-0 cell of face f is (f << 61) | (1 << 60)
    pts = [(0, 0, 0), (90, 0, 1), (0, 90, 2), (180, 0, 3), (-90, 0, 4), (0, -90, 5)]
    for lon, lat, f in pts:
        cid = C.cell_encode(np.array([lon]), np.array([lat]), 0)[0]
        assert cid == np.uint64((f << 61) | (1 << 60)).astype(np.int64)


def test_leaf_roundtrip():
    c30 = C.cell_encode(LON, LAT, 30)
    lon2, lat2 = C.cell_center_lonlat(c30)
    assert (C.cell_encode(lon2, lat2, 30) == c30).all()


def test_face_ij_roundtrip():
    face = RNG.integers(0, 6, 2000)
    i = RNG.integers(0, C.MAX_SIZE, 2000)
    j = RNG.integers(0, C.MAX_SIZE, 2000)
    ids = C.cell_from_face_ij(face, i, j)
    f2, i2, j2 = C.cell_to_face_ij(ids)
    assert (f2 == face).all() and (i2 == i).all() and (j2 == j).all()


@pytest.mark.parametrize("level", [0, 5, 10, 14, 16, 20, 29])
def test_parent_contains_leaf(level):
    c30 = C.cell_encode(LON, LAT, 30)
    cp = C.cell_encode(LON, LAT, level)
    assert (C.cell_level(cp.view(np.uint64)) == level).all()
    assert cell_contains(cp.view(np.uint64), c30.view(np.uint64)).all()
    # parent-of-leaf == direct encode at level
    assert (C.cell_parent(c30.view(np.uint64), level).astype(np.int64) == cp).all()


def test_mid_level_center_roundtrip():
    for level in (8, 14, 19):
        c = C.cell_encode(LON, LAT, level)
        lonc, latc = C.cell_center_lonlat(c)
        assert (C.cell_encode(lonc, latc, level) == c).all()


def test_hilbert_locality_consecutive_positions_adjacent():
    # consecutive leaf ids within a face are ij-adjacent (Hilbert property)
    base = C.cell_encode(np.array([21.0]), np.array([52.2]), 30).view(np.uint64)
    seq = (base + np.arange(1000, dtype=np.uint64) * np.uint64(2)).astype(np.int64)
    f, i, j = C.cell_to_face_ij(seq)
    step = np.abs(np.diff(i)) + np.abs(np.diff(j))
    assert (step[np.diff(f) == 0] == 1).all()


def test_neighbors_symmetric_and_count():
    cells = C.cell_encode(LON[:300], LAT[:300], 12)
    nbrs = C.cell_neighbors(cells)
    assert nbrs.shape == (300, 8)
    for row, c in zip(nbrs[:50], cells[:50]):
        for n in np.unique(row):
            assert c in C.cell_neighbors(np.array([n]))[0] or n == c


def test_neighbors_across_face_seam():
    # lon=45° is the face0/face1 edge; cells straddling it must see each other
    seam = C.cell_encode(np.array([44.99999, 45.00001]), np.array([0.0, 0.0]), 14)
    faces = seam.view(np.uint64) >> np.uint64(61)
    assert set(faces.tolist()) == {0, 1}
    n0 = set(C.cell_neighbors(seam[:1])[0].tolist())
    assert int(seam[1]) in n0


def test_cover_is_superset_of_interior_point_cells():
    ring = [(21.000, 52.200), (21.002, 52.200), (21.002, 52.201), (21.000, 52.201)]
    for level in (14, 16, 18):
        cov = set(C.cover_polygon([ring], level).tolist())
        glon = RNG.uniform(21.0001, 21.0019, 300)
        glat = RNG.uniform(52.2001, 52.2009, 300)
        pts = C.cell_encode(glon, glat, level)
        assert set(pts.tolist()) <= cov


def test_cover_excludes_hole_interior():
    outer = [(21.0, 52.2), (21.004, 52.2), (21.004, 52.203), (21.0, 52.203)]
    hole = [(21.0015, 52.2011), (21.0025, 52.2011), (21.0025, 52.2019), (21.0015, 52.2019)]
    cov_with_hole = set(C.cover_polygon([outer, hole], 19).tolist())
    cov_no_hole = set(C.cover_polygon([outer], 19).tolist())
    # hole-center cell must be excluded; boundary-straddling cells retained
    hole_center = int(C.cell_encode(np.array([21.002]), np.array([52.2015]), 19)[0])
    assert hole_center in cov_no_hole
    assert hole_center not in cov_with_hole
    assert cov_with_hole < cov_no_hole


def test_read_polygons_sliced_batch_with_masked_null_slot():
    """The Arrow reader on a sliced batch whose null slot is backed by a
    non-empty range of rings: every polygon's cover and edges equal
    C.cover_polygon / C.ring_edges of that polygon alone, and null, [],
    [[]] and a polygon with an empty hole are defined."""
    import pyarrow as pa

    outer = [(21.0, 52.2), (21.004, 52.2), (21.005, 52.2015), (21.004, 52.203), (21.0, 52.203)]
    hole = [(21.0015, 52.2011), (21.0025, 52.2011), (21.0025, 52.2019), (21.0015, 52.2019)]
    tri = [(21.02, 52.22), (21.0203, 52.22), (21.0203, 52.2202)]
    slots = [[tri], [outer, hole], [tri], [], [[]], [outer, []], [hole, tri, outer]]
    null = [False, False, True, False, False, False, False]
    ring_t = pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())]))
    rings = pa.array([[{"lon": x, "lat": y} for x, y in r] for s in slots for r in s], ring_t)
    offsets = pa.array(np.cumsum([0] + [len(s) for s in slots]), pa.int32())
    arr = pa.ListArray.from_arrays(offsets, rings, mask=pa.array(null)).slice(1)
    want = [None if n else s for s, n in zip(slots, null)][1:]

    xy, ring_off, poly_off = C.read_polygons(arr)
    ids, id_off = C.cover_batch(xy, ring_off, poly_off, 19)
    edges, edge_off = C.polygon_edges(xy, ring_off, poly_off)
    assert len(id_off) == len(edge_off) == len(want) + 1
    for k, poly in enumerate(want):
        assert ids[id_off[k]:id_off[k + 1]].tolist() == C.cover_polygon(poly or [], 19).tolist()
        assert edges[edge_off[k]:edge_off[k + 1]].tolist() == C.ring_edges(poly or []).tolist()
    assert C.cover_polygon([outer, []], 19).tolist() == C.cover_polygon([outer], 19).tolist()
    assert C.cover_polygon([outer, hole], 19).size and not C.cover_polygon([[]], 19).size


def test_ring_edges_vs_per_vertex_reference():
    """The vectorized edge builder against a per-vertex loop on random
    polygons with rings of different lengths, empty rings, and rings that
    cross lon ±180 or start on the other side of it than the outer ring."""
    rng = np.random.default_rng(3)
    for _ in range(300):
        cx = rng.choice([21.0, 179.9999, -179.9999])
        rings = []
        for _ in range(rng.integers(1, 4)):
            n = int(rng.integers(0, 7))
            lon = cx + rng.uniform(-3e-4, 3e-4, n)
            rings.append(list(zip((lon + 180.0) % 360.0 - 180.0, rng.uniform(10, 10.001, n))))
        assert C.ring_edges(rings).tolist() == ring_edges_loop(rings)


def test_cover_seam_polygon_touches_both_faces():
    seam_ring = [(44.9998, 10.0), (45.0002, 10.0), (45.0002, 10.0003), (44.9998, 10.0003)]
    cov = C.cover_polygon([seam_ring], 16)
    faces = set((cov.view(np.uint64) >> np.uint64(61)).tolist())
    assert faces == {0, 1}


def test_cells_to_polygon_roundtrip():
    ring = [(21.000, 52.200), (21.002, 52.200), (21.002, 52.201), (21.000, 52.201)]
    cov = C.cover_polygon([ring], 17)
    back = C.cells_to_polygon(cov)
    assert len(back) >= 1
    # traced boundary must contain all interior sample points
    from osm_addr_tools_spark.functions import geo as G

    glon = RNG.uniform(21.0001, 21.0019, 100)
    glat = RNG.uniform(52.2001, 52.2009, 100)
    outer = np.array(back[0])
    assert G.points_in_ring(glon, glat, outer).all()


def test_level_for_max_distance_bound():
    for d in (1.0, 10.0, 100.0, 5000.0):
        lvl = C.level_for_max_distance(d)
        assert C.min_cell_edge_meters(lvl) >= d
        if lvl < C.MAX_LEVEL:
            assert C.min_cell_edge_meters(lvl + 1) < d


def test_cell_children_partition_parent():
    # C2: children are level+1, parent() inverts, ranges tile the parent
    pts = C.cell_encode(np.array([21.0, 16.9, 45.0]), np.array([52.2, 52.4, 35.26]), 14)
    ch = C.cell_children(pts)
    assert ch.shape == (3, 4)
    for row, parent in zip(ch, pts):
        lv = C.cell_level(np.asarray(row, dtype=np.int64))
        assert (lv == 15).all()
        back = C.cell_parent(np.asarray(row, dtype=np.int64), 14).astype(np.int64)
        assert (back == parent).all()
        # the 4 child ranges exactly tile the parent range (leaf ids are
        # odd, so consecutive ranges step by 2)
        mins = np.sort(cell_range_min(np.asarray(row, dtype=np.uint64)))
        maxs = np.sort(cell_range_max(np.asarray(row, dtype=np.uint64)))
        assert mins[0] == cell_range_min(np.asarray([parent], dtype=np.uint64))[0]
        assert maxs[-1] == cell_range_max(np.asarray([parent], dtype=np.uint64))[0]
        assert (mins[1:] == maxs[:-1] + np.uint64(2)).all()


def test_cell_children_refines_cover():
    # children of a cover at L are a cover at L+1 (coarse-to-fine refinement)
    ring = [(21.0000, 52.2000), (21.0008, 52.2000), (21.0008, 52.2005), (21.0000, 52.2005)]
    cov15 = C.cover_polygon([ring], 15)
    refined = np.unique(C.cell_children(cov15).ravel())
    cov16 = C.cover_polygon([ring], 16)
    assert set(cov16.tolist()) <= set(refined.tolist())


def test_cell_children_leaf_raises():
    leaf = C.cell_encode(np.array([21.0]), np.array([52.2]), C.MAX_LEVEL)
    try:
        C.cell_children(leaf)
        assert False, "expected ValueError for leaf cells"
    except ValueError:
        pass


def test_min_cell_edge_is_true_s2_min_width():
    # the bound must not exceed the true quadratic-projection minimum
    # width (2*sqrt(2)/3 * 2^-level radians), attained at face corners
    for lvl in (10, 16, 19):
        assert C.min_cell_edge_meters(lvl) <= 6371008.8 * (2 * np.sqrt(2) / 3) * 2.0**-lvl * 1.0000001
