"""Operator-level join properties (SURVEY.md §5.4): salted ≡ unsalted,
kNN exactness vs a naive cross-join, PIP exactness vs brute force."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_addr_tools_spark.functions import geo as G
from osm_addr_tools_spark.operators.joins import knn_join, pip_join, salted_join, with_cell
from osm_addr_tools_spark.sources import synth as S


def _points(spark, n, salt_base=0, town_frac_hot=0.5):
    ids = np.arange(n)
    lon = 21.0 + (S.h01(ids, 100 + salt_base) - 0.5) * 0.01
    lat = 52.2 + (S.h01(ids, 200 + salt_base) - 0.5) * 0.006
    # concentrate half the rows into a hot micro-box
    hot = S.h01(ids, 300 + salt_base) < town_frac_hot
    lon = np.where(hot, 21.0 + (S.h01(ids, 400 + salt_base) - 0.5) * 0.0004, lon)
    lat = np.where(hot, 52.2 + (S.h01(ids, 500 + salt_base) - 0.5) * 0.0003, lat)
    return pd.DataFrame({"pid": ids + salt_base * 10**6, "lon": lon, "lat": lat})


def test_salted_join_equals_unsalted(spark):
    a = spark.createDataFrame(_points(spark, 800))
    b = spark.createDataFrame(
        _points(spark, 300, salt_base=1).rename(
            columns={"pid": "cid", "lon": "c_lon", "lat": "c_lat"}
        )
    )
    a = with_cell(a, 15)
    b = with_cell(b, 15, "c_lon", "c_lat")
    plain = a.join(b, "cell").select("pid", "cid").toPandas()
    salted = salted_join(
        a, b, "cell", F.col("pid"), hot_threshold=10, rows_per_task=7, max_salt=8
    ).select("pid", "cid").toPandas()
    key = lambda d: sorted(map(tuple, d.to_numpy()))
    assert key(plain) == key(salted)
    assert len(plain) > 0


def test_knn_join_exact_vs_bruteforce(spark):
    q = _points(spark, 400)
    c = _points(spark, 400, salt_base=1).rename(
        columns={"pid": "cid", "lon": "c_lon", "lat": "c_lat"}
    )
    d_max, k = 25.0, 3
    got = (
        knn_join(
            spark.createDataFrame(q),
            spark.createDataFrame(c),
            query_id="pid", cand_id="cid", d_max_m=d_max, k=k,
        )
        .select("pid", "cid", "dist_m")
        .toPandas()
    )
    # brute force in numpy
    d = G.haversine_np(
        q.lon.to_numpy()[:, None], q.lat.to_numpy()[:, None],
        c.c_lon.to_numpy()[None, :], c.c_lat.to_numpy()[None, :],
    )
    expect = []
    for i in range(len(q)):
        within = np.flatnonzero(d[i] <= d_max)
        order = np.lexsort((c.cid.to_numpy()[within], d[i][within]))
        for j in order[:k]:
            expect.append((int(q.pid[i]), int(c.cid.iloc[within[j]])))
    got_set = sorted(map(tuple, got[["pid", "cid"]].to_numpy()))
    assert got_set == sorted(expect)
    assert len(expect) > 50  # scenario non-trivial


def test_pip_join_exact_vs_bruteforce(spark):
    n = 300
    pts = _points(spark, n)
    b = S.buildings_pdf(np.arange(400), 200)
    import json

    polys = [(int(r.building_id), json.loads(r.rings_json)) for r in b.itertuples()]
    bdf = S.synth_buildings(spark, 200, include_special=False).select("building_id", "rings")
    got = (
        pip_join(spark.createDataFrame(pts), bdf, level=16)
        .select("pid", "building_id")
        .toPandas()
    )
    expect = []
    for i in range(n):
        for bid, rings in polys:
            if G.points_in_polygon(
                np.array([pts.lon[i]]), np.array([pts.lat[i]]),
                [np.array(r) for r in rings],
            )[0]:
                expect.append((int(pts.pid[i]), bid))
    assert sorted(map(tuple, got.to_numpy())) == sorted(expect)


def test_pip_join_salted_equals_plain(spark):
    pts = spark.createDataFrame(_points(spark, 300))
    bdf = S.synth_buildings(spark, 200, include_special=False).select("building_id", "rings")
    plain = pip_join(pts, bdf, 16).select("pid", "building_id").toPandas()
    salted = pip_join(
        pts, bdf, 16, salt=True, hot_threshold=5, rows_per_task=3
    ).select("pid", "building_id").toPandas()
    key = lambda d: sorted(map(tuple, d.to_numpy()))
    assert key(plain) == key(salted)


def test_non_finite_coordinates_get_null_cell(spark):
    """Null, NaN and ±inf lon/lat get a null cell and a null ring, so the
    cell equi-joins drop them instead of pairing every such row on one
    shared cell; ordinary points in the same batch keep their cell ids and
    their kNN / PIP results."""
    from osm_addr_tools_spark.functions import cells as C
    from osm_addr_tools_spark.operators.joins import cell_ring_udf

    nan, inf = float("nan"), float("inf")
    bad = [(None, 52.2), (21.0, None), (None, None), (nan, 52.2),
           (21.0, nan), (inf, 52.2), (-inf, 52.2), (21.0, -inf)]
    good = _points(spark, 200)
    rows = [(int(r.pid), float(r.lon), float(r.lat)) for r in good.itertuples()]
    rows += [(10_000 + i, *bad[i % len(bad)]) for i in range(40)]
    schema = "pid long, lon double, lat double"
    # one partition: ordinary and non-finite rows share every Arrow batch
    mixed = spark.createDataFrame(rows, schema).coalesce(1)
    plain = spark.createDataFrame(good)

    lvl = C.level_for_max_distance(10.0)
    got = with_cell(mixed, lvl, out="_cell").withColumn(
        "_ring", cell_ring_udf(1)("_cell")
    ).toPandas().set_index("pid")
    nulls = got.loc[got.index >= 10_000]
    assert nulls["_cell"].isna().all() and nulls["_ring"].isna().all()
    ok = got.loc[good.pid.to_numpy()]
    want = C.cell_encode(good.lon.to_numpy(), good.lat.to_numpy(), lvl)
    assert [int(v) for v in ok["_cell"]] == want.tolist()
    assert all(
        list(r) == list(w) for r, w in zip(ok["_ring"], C.cell_ring(want, 1))
    )

    # 40 null-coordinate queries × 40 null-coordinate candidates: no pairs
    nq = mixed.where(F.col("pid") >= 10_000)
    nc = nq.select(F.col("pid").alias("cid"), F.col("lon").alias("c_lon"),
                   F.col("lat").alias("c_lat"))
    assert with_cell(nq, lvl, out="_cell").join(
        with_cell(nc, lvl, "c_lon", "c_lat", "_cell"), "_cell"
    ).count() == 0

    key = lambda d: sorted(map(tuple, d.to_numpy()))
    cands = lambda df: df.select(F.col("pid").alias("cid"), F.col("lon").alias("c_lon"),
                                 F.col("lat").alias("c_lat"))
    for expand in ("queries", "candidates"):
        knn = lambda q: knn_join(
            q, cands(q), query_id="pid", cand_id="cid", d_max_m=10.0, k=2,
            expand=expand,
        ).select("pid", "cid").toPandas()
        base = knn(plain)
        assert len(base) > 0 and key(knn(mixed)) == key(base), expand
    bdf = S.synth_buildings(spark, 200, include_special=False).select("building_id", "rings")
    pip = lambda p: pip_join(p, bdf, 16).select("pid", "building_id").toPandas()
    base = pip(plain)
    assert len(base) > 0 and key(pip(mixed)) == key(base)


def test_knn_join_ring_variants_equal_bruteforce(spark):
    """Ring generalization (VERDICT r2 #1): (2r+1)×(2r+1) at the finer
    level picked by d_max/r, with the explode on either side, must return
    the identical pair set as r=1 and as brute force."""
    q = _points(spark, 250)
    c = _points(spark, 250, salt_base=1).rename(
        columns={"pid": "cid", "lon": "c_lon", "lat": "c_lat"}
    )
    d_max, k = 25.0, 2
    d = G.haversine_np(
        q.lon.to_numpy()[:, None], q.lat.to_numpy()[:, None],
        c.c_lon.to_numpy()[None, :], c.c_lat.to_numpy()[None, :],
    )
    expect = []
    for i in range(len(q)):
        within = np.flatnonzero(d[i] <= d_max)
        order = np.lexsort((c.cid.to_numpy()[within], d[i][within]))
        for j in order[:k]:
            expect.append((int(q.pid[i]), int(c.cid.iloc[within[j]])))
    expect = sorted(expect)
    assert len(expect) > 30
    for ring_r, expand in ((2, "queries"), (3, "candidates"), (1, "candidates")):
        got = (
            knn_join(
                spark.createDataFrame(q), spark.createDataFrame(c),
                query_id="pid", cand_id="cid", d_max_m=d_max, k=k,
                ring_r=ring_r, expand=expand,
            )
            .select("pid", "cid")
            .toPandas()
        )
        assert sorted(map(tuple, got.to_numpy())) == expect, (ring_r, expand)


def test_knn_join_exact_at_face_corner(spark):
    """Regression (ADVICE r1): the min-cell-width bound must hold at cube-face
    corners, where quadratic-projection cells are narrowest. Points straddle
    the face-0/1/2 corner (lon 45, lat atan(1/sqrt(2)) = 35.2644), d_max in
    the top band of the level the sizing rule picks."""
    ids = np.arange(300)
    q = pd.DataFrame({
        "pid": ids,
        "lon": 45.0 + (S.h01(ids, 700) - 0.5) * 0.004,
        "lat": 35.2644 + (S.h01(ids, 701) - 0.5) * 0.003,
    })
    c = pd.DataFrame({
        "cid": ids,
        "c_lon": 45.0 + (S.h01(ids, 702) - 0.5) * 0.004,
        "c_lat": 35.2644 + (S.h01(ids, 703) - 0.5) * 0.003,
    })
    from osm_addr_tools_spark.functions import cells as C
    # 95 m sits between the TRUE level-16 min width (91.7 m) and the old
    # over-estimated bound (101.8 m): the pre-fix sizing picked level 16
    # here and could miss corner-area neighbors; the fix picks 15.
    d_max = 95.0
    assert C.level_for_max_distance(d_max) == 15
    got = (
        knn_join(
            spark.createDataFrame(q), spark.createDataFrame(c),
            query_id="pid", cand_id="cid", d_max_m=d_max, k=1,
        )
        .select("pid", "cid")
        .toPandas()
    )
    d = G.haversine_np(
        q.lon.to_numpy()[:, None], q.lat.to_numpy()[:, None],
        c.c_lon.to_numpy()[None, :], c.c_lat.to_numpy()[None, :],
    )
    want = {}
    for i in range(len(q)):
        within = np.flatnonzero(d[i] <= d_max)
        if len(within):
            j = within[np.lexsort((c.cid.to_numpy()[within], d[i][within]))][0]
            want[int(q.pid[i])] = int(c.cid[j])
    got_map = dict(zip(got.pid, got.cid))
    assert got_map == want
    assert len(want) > 10  # the scenario actually exercises matches
    # the ring generalization must stay exact in the same worst-case
    # corner geometry, both explode sides (VERDICT r2 #1)
    for ring_r, expand in ((3, "candidates"), (2, "queries")):
        got_r = (
            knn_join(
                spark.createDataFrame(q), spark.createDataFrame(c),
                query_id="pid", cand_id="cid", d_max_m=d_max, k=1,
                ring_r=ring_r, expand=expand,
            )
            .select("pid", "cid")
            .toPandas()
        )
        assert dict(zip(got_r.pid, got_r.cid)) == want, (ring_r, expand)


def test_knn_join_exact_across_antimeridian_and_poles(spark):
    """The cell ring must hold where lon/lat coordinates break: points
    straddling lon ±180, and points within 0.0005° of either pole (all
    longitudes). Every pair within d_max — haversine brute force — must
    come back at every ring radius."""
    ids = np.arange(600)

    def cloud(salt):
        u = lambda k: S.h01(ids, salt + k)
        grp = ids % 3
        lon = np.where(grp == 0, 180.0 + (u(0) - 0.5) * 0.002, (u(0) - 0.5) * 360.0)
        lon = np.where(lon > 180.0, lon - 360.0, lon)
        lat = np.select(
            [grp == 0, grp == 1],
            [40.0 + (u(1) - 0.5) * 0.002, 90.0 - u(1) * 0.0005],
            -90.0 + u(1) * 0.0005,
        )
        return lon, lat

    qlon, qlat = cloud(800)
    clon, clat = cloud(900)
    d_max = 30.0
    d = G.haversine_np(qlon[:, None], qlat[:, None], clon[None, :], clat[None, :])
    want = sorted(map(tuple, np.argwhere(d <= d_max).tolist()))
    # all three regions contribute pairs
    assert {i % 3 for i, _ in want} == {0, 1, 2}
    q = spark.createDataFrame(pd.DataFrame({"pid": ids, "lon": qlon, "lat": qlat}))
    c = spark.createDataFrame(pd.DataFrame({"cid": ids, "c_lon": clon, "c_lat": clat}))
    for ring_r in (1, 2, 3):
        got = knn_join(
            q, c, query_id="pid", cand_id="cid", d_max_m=d_max, k=None, ring_r=ring_r
        ).select("pid", "cid").collect()
        assert sorted(map(tuple, got)) == want, ring_r


def test_asof_latest_deterministic_on_duplicate_ts(spark):
    """Duplicate (key, ts) rows must resolve to the same winner on every
    run/partitioning (VERDICT r2 #5)."""
    import datetime

    from osm_addr_tools_spark.operators.joins import asof_latest

    t = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t, "b"), (1, t, "a"), (1, t - datetime.timedelta(1), "z"),
        (2, t, "y"), (2, t, "x"),
    ]
    df = spark.createDataFrame(rows, "key int, ts timestamp, val string")
    for parts in (1, 7):
        got = (
            asof_latest(df.repartition(parts), "key", "ts")
            .orderBy("key").toPandas()
        )
        assert list(got.val) == ["a", "x"], got


def test_band_join_matches_naive(spark):
    """J8 band join == brute-force |l-r| <= band, including boundary-exact
    pairs (values chosen to land exactly band apart)."""
    import pandas as pd

    from osm_addr_tools_spark.operators.joins import band_join

    vals = [0.0, 0.25, 0.5, 1.0, 1.25, 3.0, 3.25, 100.0, -0.25, -1.0, 7.75, 8.0]
    pdf = pd.DataFrame({"id": range(len(vals)), "v": vals})
    df = spark.createDataFrame(pdf)
    lhs = df.select(F.col("id").alias("a"), F.col("v").alias("va"))
    rhs = df.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    band = 0.25
    got = {
        (r.a, r.b)
        for r in band_join(lhs, rhs, "va", "vb", band).collect()
    }
    want = {
        (i, j)
        for i, vi in enumerate(vals)
        for j, vj in enumerate(vals)
        if abs(vi - vj) <= band
    }
    assert got == want
    plan = band_join(lhs, rhs, "va", "vb", band)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_band_join_requires_dyadic_band(spark):
    from osm_addr_tools_spark.operators.joins import band_join

    df = spark.range(3).select(F.col("id"), F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="power of two"):
        band_join(df, df, "v", "v", 0.1)


def test_knn_ring_sufficiency_raises_not_asserts(monkeypatch):
    """The ring-sufficiency proof must survive `python -O` (VERDICT r3 #4):
    a level too fine for the ring radius raises ValueError at plan-build
    time, before any DataFrame is touched."""
    from osm_addr_tools_spark.functions import cells as C

    monkeypatch.setattr(C, "level_for_max_distance", lambda d: C.MAX_LEVEL)
    with pytest.raises(ValueError, match="sufficiency violated"):
        knn_join(None, None, "qid", "cid", d_max_m=5000.0)


def _poly_df(spark, items):
    """items: [(id, [[(lon,lat), ...] ring, ...])] → (id, rings) DataFrame."""
    data = [
        (pid, [[{"lon": float(x), "lat": float(y)} for (x, y) in ring] for ring in rings])
        for pid, rings in items
    ]
    return spark.createDataFrame(
        data, "id long, rings array<array<struct<lon:double,lat:double>>>"
    )


def test_polygon_join_concave_holes_vs_geometry_truth(spark):
    """J9 on the shapes a bbox join gets WRONG: a rect in an L-shape's
    concave notch (bbox overlaps, no shared interior), a bar properly
    crossing the arm (no vertex containment either way), a rect inside a
    hole (covered by the outer bbox, inside no-man's land), and a rect
    straddling the hole edge."""
    from osm_addr_tools_spark.operators.joins import polygon_join

    u = 0.0004
    b = lambda x0, y0, x1, y1: [
        (10 + x0 * u, 50 + y0 * u), (10 + x1 * u, 50 + y0 * u),
        (10 + x1 * u, 50 + y1 * u), (10 + x0 * u, 50 + y1 * u),
    ]
    L = [[(10, 50), (10 + 3 * u, 50), (10 + 3 * u, 50 + u),
          (10 + u, 50 + u), (10 + u, 50 + 3 * u), (10, 50 + 3 * u)]]
    holed = [b(5, 5, 9, 9), b(6, 6, 8, 8)]
    left = _poly_df(spark, [(1, L), (2, holed)])
    right = _poly_df(spark, [
        (10, [b(1.5, 1.5, 2.5, 2.5)]),   # in the notch: bbox hit, no interior
        (11, [b(-0.5, 1.8, 1.5, 2.2)]),  # bar crossing the vertical arm
        (12, [b(1.5, 0.25, 2.5, 0.75)]), # inside the bottom arm
        (13, [b(10, 10, 11, 11)]),       # far away
        (14, [b(6.5, 6.5, 7.5, 7.5)]),   # fully inside the hole
        (15, [b(5.5, 6.5, 6.5, 7.5)]),   # straddles the hole edge
    ])
    left = left.withColumnRenamed("id", "lid")
    right = right.withColumnRenamed("id", "rid")
    got = polygon_join(left, right, "lid", "rid", level=18).toPandas()
    pairs = set(zip(got.lid, got.rid))
    assert pairs == {(1, 11), (1, 12), (2, 15)}, pairs


def test_pip_and_polygon_join_across_antimeridian(spark):
    """Containment and polygon intersection on rings crossing lon ±180:
    an edge from 179.9999 to -179.9999 is 0.0002° long, not a line
    around the globe. Cover cells were already right (xyz projection);
    the exact refines ran on raw lon/lat and missed both interior points,
    missed a square inside the ring and paired a disjoint one."""
    from osm_addr_tools_spark.operators.joins import polygon_join

    box = lambda x0, y0, x1, y1: [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    square = [box(179.9999, 10.0, -179.9999, 10.0002)]
    # hole ring starts on the other side of ±180 than its outer ring
    holed = [
        box(179.9997, 20.0, -179.9997, 20.0006),
        box(-179.9999, 20.0002, 179.9999, 20.0004),
    ]
    polys = _poly_df(spark, [(1, square), (2, holed)])
    pts = spark.createDataFrame(
        [
            (10, 179.99995, 10.0001), (11, -179.99995, 10.0001),  # in 1
            (12, 179.9998, 10.0001), (13, -179.9998, 10.0001),    # out
            (20, 179.99985, 20.0003), (21, -179.99985, 20.0003),  # in 2
            (22, 179.99995, 20.0003), (23, -179.99995, 20.0003),  # in hole
        ],
        "pid long, lon double, lat double",
    )
    got = pip_join(pts, polys, level=19).select("pid", "id").collect()
    assert sorted(map(tuple, got)) == [(10, 1), (11, 1), (20, 2), (21, 2)]

    right = _poly_df(spark, [
        (30, [box(179.99992, 10.00005, 179.99998, 10.00015)]),    # inside
        (31, [box(-179.99998, 10.00005, -179.99992, 10.00015)]),  # inside
        (32, [box(-179.99989, 10.00005, -179.99985, 10.00015)]),  # disjoint
        (33, [box(179.99985, 10.00005, 179.99989, 10.00015)]),    # disjoint
    ]).withColumnRenamed("id", "rid")
    left = polys.where("id = 1").withColumnRenamed("id", "lid")
    got = polygon_join(left, right, "lid", "rid", level=19).collect()
    assert sorted((r.lid, r.rid) for r in got) == [(1, 30), (1, 31)]


def test_polygons_intersect_kernel_vs_convex_clip_reference(spark):
    """Property gate for the J9 refine kernel: on random CONVEX polygon
    pairs, shared-interior truth is computable independently by
    Sutherland–Hodgman clipping (intersection area > 0). The kernel must
    agree exactly away from degenerate boundary-touch configurations
    (random reals: measure zero)."""
    import numpy as np

    from osm_addr_tools_spark.operators.joins import polygons_intersect_udf

    def convex(rng, cx, cy, r, k):
        # distinct angles on a circle, in order -> always strictly convex
        # (random radii would give a star-shaped polygon, which breaks the
        # Sutherland–Hodgman convexity precondition)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        return np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)

    def clip_area(subject, clipper):
        # Sutherland–Hodgman: clip subject by each clipper half-plane
        def inside(p, a, b):
            return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0]) >= 0
        def line_isect(p, q, a, b):
            x1, y1, x2, y2 = p[0], p[1], q[0], q[1]
            x3, y3, x4, y4 = a[0], a[1], b[0], b[1]
            den = (x1 - x2) * (y3 - y4) - (y1 - y2) * (x3 - x4)
            t = ((x1 - x3) * (y3 - y4) - (y1 - y3) * (x3 - x4)) / den
            return (x1 + t * (x2 - x1), y1 + t * (y2 - y1))
        # ensure ccw clipper
        cp = clipper
        if np.cross(cp[1] - cp[0], cp[2] - cp[0]) < 0:
            cp = cp[::-1]
        out = [tuple(p) for p in subject]
        for i in range(len(cp)):
            a, b = cp[i], cp[(i + 1) % len(cp)]
            inp, out = out, []
            if not inp:
                break
            for j in range(len(inp)):
                p, q = inp[j], inp[(j + 1) % len(inp)]
                pi, qi = inside(p, a, b), inside(q, a, b)
                if pi and qi:
                    out.append(q)
                elif pi and not qi:
                    out.append(line_isect(p, q, a, b))
                elif not pi and qi:
                    out.append(line_isect(p, q, a, b))
                    out.append(q)
        if len(out) < 3:
            return 0.0
        v = np.array(out)
        x, y = v[:, 0], v[:, 1]
        return 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))

    def edges_flat(v):
        nxt = np.roll(v, -1, axis=0)
        return np.concatenate([v, nxt], axis=1).ravel().tolist()

    rng = np.random.default_rng(17)
    kernel = polygons_intersect_udf().func  # unwrap the pandas_udf
    import pandas as pd

    ea, eb, want = [], [], []
    for _ in range(250):
        a = convex(rng, rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(0.2, 1.0), int(rng.integers(3, 9)))
        b = convex(rng, rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(0.2, 1.0), int(rng.integers(3, 9)))
        ea.append(edges_flat(a))
        eb.append(edges_flat(b))
        want.append(clip_area(a, b) > 1e-12)
    got = kernel(pd.Series(ea), pd.Series(eb)).tolist()
    assert got == want


@pytest.mark.parametrize("level", [16, 19])
def test_cover_udfs_split_mixed_batch_per_row(spark, level):
    """One Arrow batch mixing None, empty, empty-ring, holed, seam,
    ragged (a 5-vertex outer ring with a 4-vertex hole) and ordinary
    polygons: the batch-wide cell encode must split back to the right
    rows. Each row's cover (cover_polygon_udf and
    cover_and_edges_udf) equals C.cover_polygon of that polygon alone, and
    its edges equal C.ring_edges; None, [] and [[]] cover nothing."""
    from osm_addr_tools_spark.functions import cells as C
    from osm_addr_tools_spark.operators.joins import cover_and_edges_udf, cover_polygon_udf

    outer = [(21.0, 52.2), (21.004, 52.2), (21.004, 52.203), (21.0, 52.203)]
    hole = [(21.0015, 52.2011), (21.0025, 52.2011), (21.0025, 52.2019), (21.0015, 52.2019)]
    seam = [(44.9998, 10.0), (45.0002, 10.0), (45.0002, 10.0003), (44.9998, 10.0003)]
    small = [(21.01, 52.21), (21.0102, 52.21), (21.0102, 52.2101), (21.01, 52.2101)]
    tri = [(21.02, 52.22), (21.0203, 52.22), (21.0203, 52.2202)]
    pent = outer[:2] + [(21.005, 52.2015)] + outer[2:]
    polys = [None, [outer, hole], [], [seam], [small], [[]], None, [outer], [tri], [pent, hole]]
    data = [
        (pid, None if rings is None
         else [[{"lon": x, "lat": y} for (x, y) in ring] for ring in rings])
        for pid, rings in enumerate(polys)
    ]
    df = spark.createDataFrame(
        data, "id long, rings array<array<struct<lon:double,lat:double>>>"
    ).coalesce(1)
    got = (
        df.select("id", cover_polygon_udf(level)("rings").alias("cov"),
                  cover_and_edges_udf(level)("rings").alias("ce"))
        .orderBy("id").collect()
    )
    assert [r.id for r in got] == list(range(len(polys)))
    for r, rings in zip(got, polys):
        rings = [np.array(x, dtype=np.float64).reshape(-1, 2) for x in rings or []]
        want_cov = C.cover_polygon(rings, level).tolist()
        want_edges = C.ring_edges(rings).tolist()
        assert list(r.cov) == want_cov, r.id
        assert list(r.ce.cover) == want_cov, r.id
        assert list(r.ce.edges) == want_edges, r.id
        assert (len(want_cov) > 0) == bool(rings and len(rings[0])), r.id


def test_ragged_holed_building_end_to_end(spark):
    """A building whose outer ring and hole differ in vertex count goes
    through pip_join and run_tile_polygons: a point in the hole pairs with
    nothing, a point between hole and wall pairs, and its tiles equal
    C.cover_polygon. One pip_udf batch mixing null, empty and non-empty
    edges rows gives False for the null and empty ones."""
    from osm_addr_tools_spark.functions import cells as C
    from osm_addr_tools_spark.operators.joins import pip_udf
    from osm_addr_tools_spark.plans.tile import run_tile_polygons

    outer = [(21.0, 52.2), (21.004, 52.2), (21.005, 52.2015), (21.004, 52.203), (21.0, 52.203)]
    hole = [(21.0015, 52.2011), (21.0025, 52.2011), (21.0025, 52.2019), (21.0015, 52.2019)]
    polys = _poly_df(spark, [(7, [outer, hole])]).withColumnRenamed("id", "building_id")
    # decimal coordinates, as SQL arithmetic gives them (geo_pip_customer_in_rect)
    pts = spark.createDataFrame(
        [(1, 21.002, 52.2015), (2, 21.0005, 52.2005), (3, 21.006, 52.2015)],
        "pid long, lon double, lat double",
    ).select("pid", *(F.col(c).cast("decimal(10,6)").alias(c) for c in ("lon", "lat")))
    joined = pip_join(pts, polys, level=19)
    # enc reads them as doubles: one cast at the UDF boundary
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"enc\(cast\(lon#\d+ as double\), cast\(lat#\d+ as double\)\)", plan)
    got = joined.select("pid", "building_id").collect()
    assert sorted(map(tuple, got)) == [(2, 7)]

    tiles = run_tile_polygons(polys, level=19).collect()
    assert sorted(r.tile_id for r in tiles) == C.cover_polygon([outer, hole], 19).tolist()
    assert {r.feature_id for r in tiles} == {7}

    edges = C.ring_edges([outer, hole]).tolist()
    batch = spark.createDataFrame(
        [(0, 21.0005, 52.2005, None), (1, 21.0005, 52.2005, []),
         (2, 21.0005, 52.2005, edges), (3, 21.002, 52.2015, edges),
         (4, 21.0005, 52.2005, None), (5, 21.0005, 52.2005, edges)],
        "k long, lon double, lat double, edges array<double>",
    ).coalesce(1)
    got = batch.select("k", pip_udf()("lon", "lat", "edges").alias("hit")).orderBy("k").collect()
    assert [r.hit for r in got] == [False, False, True, False, False, True]
