"""PIP join (B5) vs brute-force pandas oracle — exact row counts."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

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


def test_pip_shuffle_join_variant(spark, zones_pdf):
    """broadcast_covers=False (shuffle join) must give identical rows."""
    _run_pip(spark, zones_pdf, res=8, n=3000, broadcast_covers=False)


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
    anti join keeps it), and a duplicated row."""
    rings = synth.zone_rings(zones_pdf)
    clon, clat = synth.HOT_CITIES[0]
    far = (-170.0, -60.0)
    for rg in rings.values():
        assert not geometry.points_in_polygon(
            np.array([far[0]]), np.array([far[1]]), rg).any()
    pts = spark.createDataFrame(
        [(1, clat, clon, None), (2, clat, clon, "a"), (2, clat, clon, "a"),
         (3, far[1], far[0], None)],
        "pid long, lat double, lon double, tag string",
    )
    joined = {r.pid for r in pip.pip_join(pts, rings, res=8).collect()}
    anti = [r.pid for r in pip.pip_anti(pts, rings, res=8).collect()]
    assert joined == {1, 2} and anti == [3]


def test_pip_plan_is_broadcast(spark, zones_pdf):
    """The cover join must be a broadcast hash join, not a shuffle."""
    rings = synth.zone_rings(zones_pdf)
    pts = spark.createDataFrame(_points(100))
    plan = (
        pip.pip_join(pts, rings, res=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
