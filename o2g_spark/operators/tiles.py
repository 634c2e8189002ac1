"""Raster↔vector tile assignment (BASELINE.json B8).

Per-page tile assignment is **pure column math** (Web-Mercator floor
transform, ``o2g_spark.functions.geo``) — no UDF, fully inside
whole-stage codegen. The raster→vector direction (which zones claim a
page's tile) is ``pip.pip_join`` followed by :func:`assign_tiles`.

Reference parity: o2g assigns each stop to exactly the routes whose
relations reference it (SURVEY.md §2.A A6 [o2g-PK]); the graft's
per-page tile assignment must be exact and partition-invariant
(BASELINE.json north_rule "matching ... tile assignments").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo


def assign_tiles(
    points: DataFrame,
    zoom: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """points → + (tile_x, tile_y, tile_id) at ``zoom``. JVM-only."""
    return (
        points.withColumn("tile_x", geo.tile_x(lon_col, zoom))
        .withColumn("tile_y", geo.tile_y(lat_col, zoom))
        .withColumn("tile_id", geo.tile_id(lat_col, lon_col, zoom))
    )


def tile_density(
    points: DataFrame,
    zoom: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-tile page counts (the rollup the reference's per-region
    extract statistics map onto). Partial aggregation is map-side."""
    return (
        assign_tiles(points, zoom, lat_col, lon_col)
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
    )
