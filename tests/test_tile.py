"""EP3 tiling: assignment exactness properties + raster→vector roundtrip +
golden tile counts for the fixture buildings."""

import numpy as np
from pyspark.sql import functions as F

from osm_addr_tools_spark.functions import cells as C
from osm_addr_tools_spark.plans.tile import (
    run_tile_points,
    run_tile_polygons,
    run_untile,
)
from osm_addr_tools_spark.sources import synth as S

LEVEL = 16


def test_point_tiles_match_kernel(spark):
    rng = np.random.default_rng(42)
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "feature_id": np.arange(500),
            "lon": rng.uniform(-179, 179, 500),
            "lat": rng.uniform(-85, 85, 500),
        }
    )
    got = run_tile_points(spark.createDataFrame(pdf), LEVEL).toPandas()
    expect = C.cell_encode(pdf.lon.to_numpy(), pdf.lat.to_numpy(), LEVEL)
    got = got.sort_values("feature_id").tile_id.to_numpy()
    assert (got == expect).all()


def test_polygon_tiles_cover_interior_points(spark):
    bld = S.synth_buildings(spark, 200)
    tiles = run_tile_polygons(bld, LEVEL).toPandas()
    by_feature = tiles.groupby("feature_id").tile_id.apply(set).to_dict()
    # every building's centroid cell must be assigned to it
    rows = bld.select("building_id", "rings").collect()
    for r in rows:
        outer = np.array([(p["lon"], p["lat"]) for p in r.rings[0]])
        cx, cy = outer[:, 0].mean(), outer[:, 1].mean()
        cell = int(C.cell_encode(np.array([cx]), np.array([cy]), LEVEL)[0])
        assert cell in by_feature[r.building_id], r.building_id


def test_seam_building_tiles_both_faces(spark):
    bld = S.synth_buildings(spark, 10)  # includes special buildings
    tiles = run_tile_polygons(bld.where(F.col("building_id") == 10**9 + 4), 16)
    faces = {
        int(np.uint64(t.tile_id) >> np.uint64(61)) & 7
        for t in tiles.collect()
    }
    assert faces == {0, 1}


def test_untile_roundtrip_contains_centroids(spark):
    bld = S.synth_buildings(spark, 100, include_special=False)
    tiles = run_tile_polygons(bld, 19)
    back = run_untile(tiles).collect()
    assert len(back) == bld.count()
    from osm_addr_tools_spark.functions import geo as G

    centroids = {
        r.building_id: np.array([(p["lon"], p["lat"]) for p in r.rings[0]]).mean(axis=0)
        for r in bld.select("building_id", "rings").collect()
    }
    for r in back[:20]:
        cx, cy = centroids[r.feature_id]
        outer = np.array([(p["lon"], p["lat"]) for p in r.rings[0]])
        assert G.points_in_ring(np.array([cx]), np.array([cy]), outer)[0]


def test_untile_roundtrip_multiface_seam(spark):
    """C5 on a cell set spanning two cube faces (seam building): per-face
    rings whose union contains exactly the input cells' centers."""
    import numpy as np

    from osm_addr_tools_spark.functions import cells as C
    from osm_addr_tools_spark.functions import geo as G

    # straddle the face 0/1 boundary at lon=45
    lon = np.array([44.9995, 44.9999, 45.0001, 45.0005])
    lat = np.full(4, 10.0)
    cells = np.unique(C.cell_encode(lon, lat, 16))
    faces = (cells.astype(np.uint64) >> np.uint64(C.POS_BITS))
    assert len(set(faces.tolist())) == 2  # genuinely multi-face
    rings = C.cells_to_polygon(cells)
    assert len(rings) >= 2
    clon, clat = C.cell_center_lonlat(cells)
    # each center inside (even-odd over all rings)
    for x, y in zip(clon, clat):
        parity = 0
        for ring in rings:
            parity += G.points_in_ring(np.array([x]), np.array([y]),
                                       np.array(ring))[0]
        assert parity % 2 == 1, (x, y)
    # neighbors outside the union stay outside
    nb = np.setdiff1d(C.cell_neighbors(cells).ravel(), cells)
    nlon, nlat = C.cell_center_lonlat(nb)
    for x, y in zip(nlon, nlat):
        parity = 0
        for ring in rings:
            parity += G.points_in_ring(np.array([x]), np.array([y]),
                                       np.array(ring))[0]
        assert parity % 2 == 0, (x, y)
