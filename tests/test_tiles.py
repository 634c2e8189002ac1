"""Tile math + raster↔vector assignment exactness (SURVEY.md §2.B B8)."""

import math

import numpy as np
import pandas as pd

from o2g_spark.kernels import geometry
from o2g_spark.operators import pip, tiles
from o2g_spark.sources import synth


def _ref_tile(lat, lon, zoom):
    """Scalar reference implementation (OSM slippy-map formula)."""
    n = 1 << zoom
    lat = min(max(lat, -geometry.MERCATOR_LAT_MAX), geometry.MERCATOR_LAT_MAX)
    tx = int((lon + 180.0) / 360.0 * n)
    ty = int((1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n)
    return min(max(tx, 0), n - 1), min(max(ty, 0), n - 1)


def test_assign_tiles_matches_reference_formula(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(500),
            "lat": rng.uniform(-85, 85, 500),
            "lon": rng.uniform(-180, 180, 500),
        }
    )
    for zoom in (3, 8, 12):
        out = tiles.assign_tiles(spark.createDataFrame(pdf), zoom).collect()
        for r in out:
            ex, ey = _ref_tile(r.lat, r.lon, zoom)
            assert (r.tile_x, r.tile_y) == (ex, ey), (r.lat, r.lon, zoom)
            assert r.tile_id == (zoom << 58) | (ex << 29) | ey


def test_tilef_roundtrip():
    rng = np.random.default_rng(5)
    lon = rng.uniform(-179, 179, 200)
    lat = rng.uniform(-84, 84, 200)
    tx, ty = geometry.lonlat_to_tilef(lon, lat, 10)
    lon2, lat2 = geometry.tilef_to_lonlat(tx, ty, 10)
    assert np.allclose(lon, lon2, atol=1e-9)
    assert np.allclose(lat, lat2, atol=1e-9)


def test_tile_cover_classification():
    """Interior tiles: all contained points inside. Excluded tiles: none."""
    rng = np.random.default_rng(3)
    ring = np.array(
        [(2.0, 40.0), (9.0, 41.5), (11.0, 47.0), (5.0, 49.5), (1.0, 45.0), (2.0, 40.0)]
    )
    zoom = 8
    interior, boundary = geometry.tile_cover([ring], zoom)
    interior, boundary = set(interior.tolist()), set(boundary.tolist())
    assert interior and boundary and not (interior & boundary)

    lon = rng.uniform(0.0, 12.0, 4000)
    lat = rng.uniform(39.0, 50.5, 4000)
    inside = geometry.points_in_polygon(lon, lat, [ring])
    tx, ty = geometry.lonlat_to_tilef(lon, lat, zoom)
    n = 1 << zoom
    keys = (
        (np.int64(zoom) << np.int64(58))
        | (np.clip(tx.astype(np.int64), 0, n - 1) << np.int64(29))
        | np.clip(ty.astype(np.int64), 0, n - 1)
    )
    for k, ins in zip(keys.tolist(), inside.tolist()):
        if k in interior:
            assert ins, "point in interior tile must be inside polygon"
        elif k not in boundary:
            assert not ins, "point in excluded tile must be outside polygon"


def test_tiled_pip_matches_numpy(spark, pages_truth, zones_pdf):
    """The raster→vector direction (pip_join, then assign_tiles) equals
    a numpy brute force: ray cast per zone, Mercator tile floor."""
    _, truth = pages_truth
    pdf = truth[["url", "lat", "lon"]].drop_duplicates()
    rings = synth.zone_rings(zones_pdf)
    zoom = 9
    got = sorted(
        (r.url, r.lat, r.lon, r.zone_id, r.tile_x, r.tile_y, r.tile_id)
        for r in tiles.assign_tiles(
            pip.pip_join(spark.createDataFrame(pdf), rings, res=9), zoom
        ).collect()
    )
    lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
    n = 1 << zoom
    tx, ty = geometry.lonlat_to_tilef(lon, lat, zoom)
    tx = np.clip(np.floor(tx).astype(np.int64), 0, n - 1)
    ty = np.clip(np.floor(ty).astype(np.int64), 0, n - 1)
    exp = sorted(
        (u, la, lo, int(z), int(x), int(y), (zoom << 58) | (int(x) << 29) | int(y))
        for z, rg in rings.items()
        for u, la, lo, x, y, inside in zip(
            pdf["url"], lat, lon, tx, ty, geometry.points_in_polygon(lon, lat, rg)
        )
        if inside
    )
    assert got and got == exp


def test_tile_density_counts(spark):
    pdf = pd.DataFrame(
        {
            "pid": range(6),
            "lat": [10.0, 10.0, 10.0, -40.0, -40.0, 80.0],
            "lon": [5.0, 5.0, 5.0, 100.0, 100.0, -170.0],
        }
    )
    out = {
        (r.tile_x, r.tile_y): r.n_points
        for r in tiles.tile_density(spark.createDataFrame(pdf), zoom=6).collect()
    }
    assert sorted(out.values()) == [1, 2, 3]
