"""EP3 — tile: features → raster tile assignments (SURVEY.md §3 EP3).

Vector→raster: points map narrowly (one pandas-UDF stage, zero shuffle);
polygons rasterize via the C4 scanline cover then explode. Raster→vector
(C5) reassembles a cell set into boundary rings via grouped applyInPandas.
Tile-assignment exactness is a gated metric (BASELINE.json) — goldens are
pinned against the pure-Python oracle in tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_addr_tools_spark.functions import cells as C
from osm_addr_tools_spark.operators.joins import cell_encode_udf, cover_polygon_udf


def run_tile_points(points: DataFrame, level: int) -> DataFrame:
    """(feature_id, tile_id) for (feature_id, lon, lat) point features —
    narrow, no shuffle."""
    return points.select(
        "feature_id",
        cell_encode_udf(level)(F.col("lon"), F.col("lat")).alias("tile_id"),
    )


def run_tile_polygons(polygons: DataFrame, level: int) -> DataFrame:
    """(feature_id, tile_id) pairs: every tile intersecting each
    (building_id, rings) polygon."""
    return polygons.select(
        F.col("building_id").alias("feature_id"),
        F.explode(cover_polygon_udf(level)(F.col("rings"))).alias("tile_id"),
    )


def run_untile(assignments: DataFrame) -> DataFrame:
    """C5 raster→vector: per feature, union its tiles back into boundary
    rings (grouped applyInPandas — one group per feature). ``tile_id``
    must not be null: a null int64 reaches pandas as float64, which loses
    cell-id bits (polygon tiles are never null; ``run_tile_points`` tiles
    of non-finite points are)."""

    def trace(pdf: pd.DataFrame) -> pd.DataFrame:
        fid = pdf["feature_id"].iloc[0]
        rings = C.cells_to_polygon(pdf["tile_id"].to_numpy())
        return pd.DataFrame(
            {
                "feature_id": [int(fid)],
                "rings": [[[{"lon": float(x), "lat": float(y)} for x, y in r] for r in rings]],
            }
        )

    return assignments.groupBy("feature_id").applyInPandas(
        trace,
        schema="feature_id long, rings array<array<struct<lon:double,lat:double>>>",
    )
