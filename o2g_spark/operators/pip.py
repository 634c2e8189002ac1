"""Point-in-polygon join (BASELINE.json B5) — cell covers + ray-cast refine.

Semantics parity with the reference: o2g resolves route members against
the node dict with an inner join that silently drops dangling refs
(SURVEY.md §2.A A6–A7 [o2g-PK]); here a point joins a zone iff it lies
inside the zone polygon, points covered by no zone drop out, and a point
inside two overlapping zones yields two rows. Exact row counts are the
graft's correctness bar (BASELINE.json north_rule).

Two-phase plan (the "prepared-geometry cell covers" design):

1. **cover join** — points carry a cell id (pure-JVM Morton encode);
   zones are precomputed into ``(zone_id, cell_id, kind)`` covers.
   ``kind='interior'`` cells are *proven* inside → accepted with no
   geometry test. ``kind='boundary'`` cells are candidates.
   The cover table is tiny relative to points (≈ zones × cells/zone) →
   broadcast hash join, no shuffle of the point side at all.
2. **refine** — boundary candidates get an exact even-odd ray cast in
   one Arrow pandas UDF whose zone geometry arrives via a Spark
   broadcast variable (zones are a dimension; the candidate stream
   stays distributed and never collects to the driver).

Scale notes (100 TB): phase 1 is a map-only stage over the point table;
phase 2 touches only the boundary sliver (fraction shrinks as cover
``res`` rises — adaptive: pick res so interior cells dominate). For
zone sets too large to broadcast, pass ``broadcast_covers=False`` to
fall back to a shuffle join on ``cell_id`` — same semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cellfns
from ..kernels import geometry


def zone_covers(
    spark: SparkSession,
    rings_by_zone: dict[int, list[np.ndarray]],
    res: int,
    base_res: int | None = None,
) -> tuple[DataFrame, list[int]]:
    """Precompute hierarchical (zone_id, cell_id, kind) covers
    driver-side (numpy) and the sorted list of resolutions present.

    Zones are a dimension table (SURVEY.md §4.3); the cover runs once
    per job and broadcasts. ``kind`` ∈ {interior, boundary}; interior
    cells are MIXED resolution (coarse in the fat middle, fine near
    the boundary — geometry.polygon_cover_adaptive). Boundary cells
    usually sit at ``res`` but the refine loop's boundary_budget can
    stop a zone COARSER than ``res`` — so the returned resolution list
    is derived from the actual cell ids of BOTH kinds, never assumed.
    (Assuming ``res`` silently dropped every point of a tile-thin zone
    whose boundary stopped at a resolution no interior cell shared.)
    """
    if base_res is None:
        base_res = max(2, res - 5)
    zids, cids, kinds = [], [], []
    res_seen: set[int] = set()
    for zid, rings in rings_by_zone.items():
        interior, boundary = geometry.polygon_cover_adaptive(rings, base_res, res)
        n_i, n_b = len(interior), len(boundary)
        zids.append(np.full(n_i + n_b, int(zid), dtype=np.int64))
        cids.append(interior)
        cids.append(boundary)
        kinds.append(np.concatenate([np.zeros(n_i, bool), np.ones(n_b, bool)]))
        res_seen.update(np.unique(geometry.cells.cell_res(interior)).tolist())
        if n_b:
            res_seen.update(np.unique(geometry.cells.cell_res(boundary)).tolist())
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "zone_id": np.concatenate(zids) if zids else np.empty(0, np.int64),
            "cell_id": np.concatenate(cids) if cids else np.empty(0, np.int64),
            "kind": np.where(
                np.concatenate(kinds) if kinds else np.empty(0, bool),
                "boundary", "interior",
            ),
        }
    )
    # Arrow path: ~10× faster than a python-tuple createDataFrame for
    # the ~10⁵-row covers of realistic zone sets
    return (
        spark.createDataFrame(pdf, "zone_id long, cell_id long, kind string"),
        sorted(res_seen),
    )


def _raycast_udf(spark: SparkSession, rings_by_zone: dict[int, list[np.ndarray]]):
    """BooleanType Arrow UDF: exact PIP for (zone_id, lon, lat) batches.

    Zone geometry ships once per executor via a broadcast variable
    (closures would re-pickle per task — guide §Pitfalls). Inside a
    batch, points are grouped per zone and ray-cast vectorized.
    """
    bc = spark.sparkContext.broadcast(
        {int(z): [np.asarray(r, dtype=np.float64) for r in rings] for z, rings in rings_by_zone.items()}
    )

    @F.pandas_udf(T.BooleanType())
    def _inside(zone_id: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        rings = bc.value
        out = np.zeros(len(zone_id), dtype=bool)
        # null zone_id = caller pre-masked the row out (interior hit):
        # skip it for free instead of ray-casting
        valid = zone_id.notna().to_numpy()
        if not valid.any():
            return pd.Series(out)
        zid_arr = zone_id.to_numpy(dtype=np.float64, na_value=np.nan)
        lon_arr = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        lat_arr = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        for z in pd.unique(zid_arr[valid]):
            m = valid & (zid_arr == z)
            out[m] = geometry.points_in_polygon(lon_arr[m], lat_arr[m], rings[int(z)])
        return pd.Series(out)

    return _inside


def pip_join(
    points: DataFrame,
    rings_by_zone: dict[int, list[np.ndarray]],
    res: int = 14,
    base_res: int | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    broadcast_covers: bool = True,
) -> DataFrame:
    """points ⋈ zones (point-in-polygon). Output: point columns + zone_id.

    Exact (not approximate): interior-cell hits skip geometry, boundary
    hits are ray-cast. Deterministic and partition-invariant — the
    kernel is a pure per-row function.

    Plan shape: the point side computes its cell id at each resolution
    the (mixed-res) covers contain — a small literal array, exploded —
    then ONE broadcast hash equi-join on cell_id. Cell ids embed their
    resolution, so cross-res collisions are impossible and a point can
    hit at most one cover cell per zone. Map-only over the point table.
    Catalyst hoists the refine UDF over every joined row, so its inputs
    are null-masked for interior hits — only the boundary sliver pays
    actual ray-cast work.
    """
    spark = points.sparkSession
    covers, res_list = zone_covers(spark, rings_by_zone, res, base_res)
    cov = F.broadcast(covers) if broadcast_covers else covers

    cell_arr = F.array(
        *[cellfns.cell_encode(lat_col, lon_col, r) for r in res_list]
    )
    # materialize the array in a Project BEFORE exploding: GenerateExec
    # evaluates its generator expression interpreted (no subexpression
    # elimination), which makes explode(computed-array) ~20× slower
    # than project-then-explode (measured on the Morton encode tree)
    pts = (
        points.withColumn("__cells", cell_arr)
        .withColumn("__cell", F.explode("__cells"))
        .drop("__cells")
    )
    joined = pts.join(cov, pts["__cell"] == cov["cell_id"], "inner")

    # single pass: interior hits accept on the flag, boundary hits get
    # the exact ray cast. (A union of two filtered branches would
    # re-execute the whole explode+join per branch — measured 2×; the
    # point stream itself, e.g. a regex geotag extraction, is usually
    # the expensive part.) Zone geometry ships once per executor as a
    # Spark broadcast; Catalyst hoists the pandas UDF out of the OR
    # into an ArrowEvalPython over EVERY joined row, so the inputs are
    # pre-masked to null for interior hits — Python then skips them and
    # only the boundary sliver pays the (numpy-vectorized) ray cast.
    # (A pure-JVM unrolled-edge refine measured 2× slower: 8.6 s vs
    # 3.8 s at 64M pages.)
    inside = _raycast_udf(spark, rings_by_zone)
    is_boundary = F.col("kind") == "boundary"
    keep = (F.col("kind") == "interior") | F.coalesce(
        inside(
            F.when(is_boundary, F.col("zone_id")),
            F.when(is_boundary, F.col(lon_col)),
            F.when(is_boundary, F.col(lat_col)),
        ),
        F.lit(False),
    )
    out_cols = [c for c in points.columns] + ["zone_id"]
    return joined.filter(keep).select(*out_cols)


def pip_anti(
    points: DataFrame,
    rings_by_zone: dict[int, list[np.ndarray]],
    res: int = 12,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Points inside NO zone — the dangling-ref audit (o2g A7 parity:
    members whose ref resolves nowhere are dropped, and the audit path
    counts them via an anti join). The anti join is null-safe on every
    point column: a matched point with a null attribute must not
    survive it."""
    cols = points.columns
    matched = pip_join(
        points, rings_by_zone, res, lat_col=lat_col, lon_col=lon_col
    ).select(*cols).toDF(*[f"__m{i}" for i in range(len(cols))])
    on = [points[c].eqNullSafe(matched[f"__m{i}"]) for i, c in enumerate(cols)]
    return points.join(matched, on=on, how="left_anti")
