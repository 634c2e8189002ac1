"""PIP join (B5) vs brute-force pandas oracle — exact row counts."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from o2g_spark.functions import cellfns
from o2g_spark.kernels import geometry
from o2g_spark.operators import pip
from o2g_spark.sources import synth

rng = np.random.default_rng(99)


def _brute_force(points_pdf, rings):
    rows = []
    for zid, rg in rings.items():
        inside = geometry.points_in_polygon(
            points_pdf["lon"].to_numpy(), points_pdf["lat"].to_numpy(), rg
        )
        for pid in points_pdf.loc[inside, "pid"]:
            rows.append((int(pid), int(zid)))
    return pd.DataFrame(rows, columns=["pid", "zone_id"]).sort_values(
        ["pid", "zone_id"]
    ).reset_index(drop=True)


def _points(n=8000):
    return pd.DataFrame(
        {
            "pid": np.arange(n),
            "lat": np.round(rng.uniform(-32, 62, n), 5),
            "lon": np.round(rng.uniform(-32, 32, n), 5),
        }
    )


def _run_pip(spark, zones_pdf, res, n=8000, **kw):
    rings = synth.zone_rings(zones_pdf)
    pts_pdf = _points(n)
    pts = spark.createDataFrame(pts_pdf)
    got = (
        pip.pip_join(pts, rings, res=res, **kw)
        .select("pid", "zone_id")
        .toPandas()
        .sort_values(["pid", "zone_id"])
        .reset_index(drop=True)
    )
    exp = _brute_force(pts_pdf, rings)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    return pts, pts_pdf, rings, got


def test_pip_exact_vs_bruteforce(spark, zones_pdf):
    _run_pip(spark, zones_pdf, res=8)


def test_pip_res_invariance(spark, zones_pdf):
    """Row set must not depend on cover resolution (correctness knob only)."""
    _run_pip(spark, zones_pdf, res=6, n=3000)
    _run_pip(spark, zones_pdf, res=10, n=3000)


def test_pip_overlapping_zones_two_rows(spark, zones_pdf):
    """A point inside two overlapping hot-city zones yields 2 rows."""
    rings = synth.zone_rings(zones_pdf)
    clon, clat = synth.HOT_CITIES[0]
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [0], "lat": [clat], "lon": [clon]})
    )
    got = pip.pip_join(pts, rings, res=8).select("zone_id").toPandas()
    assert len(got) >= 2  # city box + overlapping second box


def test_pip_anti_audit(spark, zones_pdf):
    rings = synth.zone_rings(zones_pdf)
    pts_pdf = _points(2000)
    pts = spark.createDataFrame(pts_pdf)
    matched = pip.pip_join(pts, rings, res=8).select("pid").distinct()
    orphans = pip.pip_anti(pts, rings, res=8)
    assert matched.count() + orphans.count() == 2000
    # orphans truly outside every zone
    opdf = orphans.toPandas()
    for zid, rg in rings.items():
        inside = geometry.points_in_polygon(
            opdf["lon"].to_numpy(), opdf["lat"].to_numpy(), rg
        )
        assert not inside.any()


def test_pip_deterministic_across_partitionings(spark, zones_pdf):
    rings = synth.zone_rings(zones_pdf)
    pts_pdf = _points(3000)
    a = (
        pip.pip_join(spark.createDataFrame(pts_pdf), rings, res=8)
        .select("pid", "zone_id").toPandas()
        .sort_values(["pid", "zone_id"]).reset_index(drop=True)
    )
    b = (
        pip.pip_join(spark.createDataFrame(pts_pdf).repartition(17), rings, res=8)
        .select("pid", "zone_id").toPandas()
        .sort_values(["pid", "zone_id"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_pip_thin_zone_budget_break(spark):
    """Regression: a tile-thin zone whose adaptive cover hits the
    boundary_budget break leaves boundary cells COARSER than `res`;
    zone_covers must derive the resolution list from the actual cells
    or interior points silently vanish (advisor repro: 60x0.001-degree
    sliver -> boundary stops at res 12, old res_list=[14])."""
    rings = {0: [np.array(
        [(0.0, 10.0), (60.0, 10.0), (60.0, 10.001), (0.0, 10.001), (0.0, 10.0)]
    )]}
    covers, res_list = pip.zone_covers(spark, rings, res=14)
    kinds = {r["kind"] for r in covers.select("kind").distinct().collect()}
    # boundary cells exist and their resolution is in the encode list
    assert "boundary" in kinds
    from o2g_spark.kernels import cells as cellk
    bres = {
        int(cellk.cell_res(r["cell_id"]))
        for r in covers.filter(F.col("kind") == "boundary").collect()
    }
    assert bres <= set(res_list)
    # a point inside the sliver must match
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [0], "lat": [10.0005], "lon": [30.0]})
    )
    got = pip.pip_join(pts, rings, res=14).select("pid", "zone_id").collect()
    assert [(r["pid"], r["zone_id"]) for r in got] == [(0, 0)]


def test_pip_join_and_anti_partition_points_with_nulls(spark, zones_pdf):
    """Every point row lands in exactly one of pip_join and pip_anti —
    also a matched point whose attribute column is null (a plain `=`
    anti join keeps it), a duplicated row, and null coordinates."""
    rings = synth.zone_rings(zones_pdf)
    clon, clat = synth.HOT_CITIES[0]
    far = (-170.0, -60.0)
    for rg in rings.values():
        assert not geometry.points_in_polygon(
            np.array([far[0]]), np.array([far[1]]), rg).any()
    pts = spark.createDataFrame(
        [(1, clat, clon, None), (2, clat, clon, "a"), (2, clat, clon, "a"),
         (3, far[1], far[0], None), (4, None, None, "b"), (5, None, clon, None),
         (6, clat, None, None)],
        "pid long, lat double, lon double, tag string",
    )
    joined = {r.pid for r in pip.pip_join(pts, rings, res=8).collect()}
    anti = sorted(r.pid for r in pip.pip_anti(pts, rings, res=8).collect())
    assert joined == {1, 2} and anti == [3, 4, 5, 6]


def test_pip_null_and_nan_coordinates_in_no_zone(spark):
    """Every point lands where the numpy ray cast puts it, whatever its
    coordinates: a null, NaN or infinite coordinate is in no zone (the
    grid clamps such a point onto a corner cell that zone 7 covers), and
    a point off the grid (lon 200, lat -95, or inside zone 7's margin past
    the grid edge) is decided by the ray cast alone, never by the clamped
    edge cell. Zone 8 touches lon 180 from inside the grid. The kernel
    raises no numpy warning on any of them."""
    import warnings

    inf = float("inf")
    ring = np.array([(-180.5, -90.5), (180.5, -90.5), (180.5, -60.0), (-180.5, -60.0)])
    edge = np.array([(170.0, -10.0), (180.0, -10.0), (180.0, 10.0), (170.0, 10.0)])
    rings = {7: [ring], 8: [edge]}
    pts = spark.createDataFrame(
        [(1, None, 1.0), (2, float("nan"), 1.0), (3, -70.0, None),
         (4, 1.0, float("nan")), (5, None, None), (6, -70.0, 1.0),
         (7, -70.0, inf), (8, -70.0, -inf), (9, inf, 1.0), (10, -70.0, 200.0),
         (11, -95.0, 1.0), (12, 0.0, 200.0), (13, 0.0, inf), (14, 0.0, 175.0),
         (15, -70.0, 180.25), (16, -90.25, 1.0)],
        "pid long, lat double, lon double",
    )
    pdf = pts.toPandas()
    x, y = pdf["lon"].to_numpy(float), pdf["lat"].to_numpy(float)
    exp = sorted(
        (int(p), z) for z, rg in rings.items()
        for p in pdf.pid[geometry.points_in_polygon(x, y, rg)]
    )
    assert exp == [(6, 7), (14, 8), (15, 7), (16, 7)]
    for res in (8, 14):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            offsets, zones = pip._point_zones(pip._build_index(rings, res, None), x, y)
        got = sorted(
            (int(pdf.pid[i]), int(z))
            for i in range(len(x)) for z in zones[offsets[i]:offsets[i + 1]]
        )
        assert got == exp, res
        joined = sorted((r.pid, r.zone_id) for r in pip.pip_join(pts, rings, res=res).collect())
        anti = sorted(r.pid for r in pip.pip_anti(pts, rings, res=res).collect())
        assert joined == exp, res
        assert anti == sorted(set(pdf.pid) - {p for p, _ in exp}), res


def test_pip_plan_is_map_only(spark, zones_pdf):
    """pip_join and pip_anti are map-only over the points: no join, no
    exchange, exactly one ArrowEvalPython (below the explode for
    pip_join), and the optimized plan calls the pip UDF once — no
    inferred pre-explode Filter re-evaluating it (the
    InferFiltersFromGenerate exclusion in session.py). The UDF encodes
    the points itself: no JVM cell expression (FLOOR, shiftleft) is
    left in the plan."""
    rings = synth.zone_rings(zones_pdf)
    pts = spark.createDataFrame(_points(100))
    for df, below in (
        (pip.pip_join(pts, rings, res=8), "Generate"),
        (pip.pip_anti(pts, rings, res=8), "Filter"),
    ):
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "Join" not in plan and "Exchange" not in plan
        assert plan.count("ArrowEvalPython") == 1
        assert plan.index(below) < plan.index("ArrowEvalPython")
        optimized = qe.optimizedPlan().toString()
        assert optimized.count("pip_zones(") == 1
        assert "FLOOR(" not in optimized and "shiftleft(" not in optimized


def test_cell_encode_hierarchy(spark):
    """The interval lookup's exactness argument: for every r <= R the
    resolution-r code is the resolution-R code shifted right by 2(R-r)
    with r in the resolution bits — at the clamped world edges, exactly
    on (and one ulp below) resolution-R cell edges, and for NaN and null
    coordinates."""
    R = 14
    n = 1 << R
    k = rng.integers(0, n, 40).astype(np.float64)
    on_lon = k * (360.0 / n) - 180.0
    on_lat = k * (180.0 / n) - 90.0
    lon = np.concatenate([
        rng.uniform(-180, 180, 200), [-180.0, 180.0, 180.0, -180.0, 0.0],
        on_lon, np.nextafter(on_lon, -np.inf), [np.nan, 1.0, np.nan],
    ])
    lat = np.concatenate([
        rng.uniform(-90, 90, 200), [-90.0, 90.0, -90.0, 90.0, 0.0],
        on_lat, np.nextafter(on_lat, -np.inf), [1.0, np.nan, np.nan],
    ])
    rows = [(float(a), float(b)) for a, b in zip(lat, lon)]
    rows += [(None, 1.0), (1.0, None), (None, None)]
    df = spark.createDataFrame(rows, "lat double, lon double")
    got = df.select(
        *[cellfns.cell_encode("lat", "lon", r).alias(f"r{r}") for r in range(R + 1)]
    ).collect()
    assert len(got) == len(rows)
    for row in got:
        top = row[f"r{R}"]
        for r in range(R + 1):
            exp = None if top is None else (
                ((top & ((1 << 58) - 1)) >> (2 * (R - r))) | (r << 58))
            assert row[f"r{r}"] == exp, (row, r)


def _hole_and_triangle_rings():
    outer = np.array([(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)])
    hole = np.array([(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)])
    tri = np.array([(3.0, 3.0), (6.0, 3.5), (3.5, 6.0), (3.0, 3.0)])
    return {100: [outer, hole], 101: [tri]}


def test_pip_degenerate_inputs_vs_numpy(spark, zones_pdf):
    """pip_join equals the numpy ray cast and pip_anti is its exact
    complement on points at every vertex and on every edge, inside and
    on holes, in the overlapping hot-city zones, and duplicated."""
    rings = {**synth.zone_rings(zones_pdf), **_hole_and_triangle_rings()}
    lon, lat = [], []
    for rg in rings.values():
        for ring in rg:
            v = np.asarray(ring, dtype=np.float64)
            w = np.roll(v, -1, axis=0)
            for t in (0.0, 0.25, 0.5):
                p = v + t * (w - v)
                lon += p[:, 0].tolist()
                lat += p[:, 1].tolist()
    for clon, clat in synth.HOT_CITIES:
        lon += (clon + rng.uniform(-0.12, 0.12, 300)).tolist()
        lat += (clat + rng.uniform(-0.12, 0.12, 300)).tolist()
    lon += [2.0, 0.5, 2.0] + lon[:50]  # hole middle, ring band, duplicates
    lat += [2.0, 0.5, 2.0] + lat[:50]
    pdf = pd.DataFrame({"pid": np.arange(len(lon)), "lat": lat, "lon": lon})
    exp = _brute_force(pdf, rings)
    for res in (10, 14):
        got = (
            pip.pip_join(spark.createDataFrame(pdf), rings, res=res)
            .select("pid", "zone_id").toPandas()
            .sort_values(["pid", "zone_id"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)
        anti = pip.pip_anti(spark.createDataFrame(pdf), rings, res=res)
        assert {r.pid for r in anti.collect()} == set(pdf.pid) - set(exp.pid)


def test_pip_empty_zone_set(spark):
    pts = spark.createDataFrame(_points(50))
    assert pip.pip_join(pts, {}).count() == 0
    assert pip.pip_anti(pts, {}).count() == 50


def test_zone_index_built_once_per_zone_set(spark, zones_pdf):
    """Same rings build once; a changed ring or res rebuilds; a frame
    built before its index is evicted still collects correctly after
    five other zone sets; clear_caches drops the session's entries."""
    from o2g_spark import session

    rings = synth.zone_rings(zones_pdf)
    idx = pip._zone_index(spark, rings, 8, None)
    assert pip._zone_index(spark, dict(rings), 8, None) is idx
    moved = {**rings, 0: [np.asarray(rings[0][0]) + 0.5]}
    assert pip._zone_index(spark, moved, 8, None) is not idx
    assert pip._zone_index(spark, rings, 9, None) is not idx

    pts_pdf = _points(1500)
    pts = spark.createDataFrame(pts_pdf)
    df = pip.pip_join(pts, rings, res=8)
    for k in range(1, 6):
        other = {z: [np.asarray(r) + 0.01 * k for r in rg] for z, rg in rings.items()}
        pip._zone_index(spark, other, 8, None)
    got = (
        df.select("pid", "zone_id").toPandas()
        .sort_values(["pid", "zone_id"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, _brute_force(pts_pdf, rings), check_dtype=False)
    rebuilt = pip._zone_index(spark, rings, 8, None)
    assert rebuilt is not idx
    session.clear_caches(spark)
    assert pip._zone_index(spark, rings, 8, None) is not rebuilt
