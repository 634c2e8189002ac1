"""Point-in-polygon join (BASELINE.json B5) — sorted-interval lookup +
ray-cast refine.

A point joins a zone iff it lies inside the zone polygon (even-odd
rule, holes are extra rings); points covered by no zone drop out and a
point inside two overlapping zones yields two rows (o2g A6–A7 parity,
SURVEY.md §2.A). Exact row counts are the correctness bar.

**Zone index, built once per zone set** (the interval form of *Raster
Intervals*, SIGMOD 2023). Each zone's adaptive Morton cover has
*interior* cells (proven inside) and *boundary* cells (candidates).
With ``R`` the finest resolution of any cover cell, a cell at ``r``
with Morton part ``m`` is exactly the half-open range
``[m << 2(R−r), (m+1) << 2(R−r))`` of resolution-R codes: the grid
index at ``r`` is ``floor(q·2^r)`` of the same quotient ``q``, and
scaling by a power of two is exact. Ranges merge per (zone, kind), are
cut at every range end into sorted breakpoints, and a CSR table lists
each elementary segment's ``(zone_id, is_boundary)`` entries (zones may
overlap). One broadcast ships it with the rings, memoised per session.

**One Arrow UDF per point.** The JVM computes the resolution-R code
(``cellfns.cell_encode``); an iterator Arrow UDF finds its segment with
one ``searchsorted``, accepts interior entries, ray-casts boundary ones
and returns the zone ids as ``array<bigint>``. ``pip_join`` explodes
them; ``pip_anti`` keeps the points whose list is empty, so each point
row lands in exactly one of the two. The plan is map-only over the
points: no join, no exchange; only the boundary sliver pays geometry.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session
from ..functions import cellfns
from ..kernels import cells, geometry

_MORTON_MASK = (1 << 58) - 1


def _cover_arrays(
    rings_by_zone: dict[int, list[np.ndarray]],
    res: int,
    base_res: int | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(zone_id, cell_id, is_boundary) arrays of every zone's adaptive
    cover — the one cover computation behind both the index and
    :func:`zone_covers`."""
    if base_res is None:
        base_res = max(2, res - 5)
    zids, cids = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    bnd = [np.empty(0, bool)]
    for zid, rings in rings_by_zone.items():
        interior, boundary = geometry.polygon_cover_adaptive(rings, base_res, res)
        zids.append(np.full(len(interior) + len(boundary), int(zid), np.int64))
        cids += [interior, boundary]
        bnd += [np.zeros(len(interior), bool), np.ones(len(boundary), bool)]
    return np.concatenate(zids), np.concatenate(cids), np.concatenate(bnd)


def _expand(start: np.ndarray, cnt: np.ndarray):
    """CSR expansion: for each i, ``cnt[i]`` consecutive positions from
    ``start[i]``. Returns ``(owner i, position)`` per expanded entry."""
    pos = np.repeat(start - (np.cumsum(cnt) - cnt), cnt) + np.arange(cnt.sum())
    return np.repeat(np.arange(len(cnt)), cnt), pos


def zone_covers(
    spark: SparkSession,
    rings_by_zone: dict[int, list[np.ndarray]],
    res: int,
    base_res: int | None = None,
) -> tuple[DataFrame, list[int]]:
    """The (zone_id, cell_id, kind) covers ``pip_join`` indexes, as a
    DataFrame, and the sorted resolutions of their cells. Interior cells
    are mixed-resolution, and the boundary budget can stop a zone's
    boundary coarser than ``res``, so the list comes from the cell ids."""
    zids, cids, bnd = _cover_arrays(rings_by_zone, res, base_res)
    kind = np.where(bnd, "boundary", "interior")
    pdf = pd.DataFrame({"zone_id": zids, "cell_id": cids, "kind": kind})
    return (
        spark.createDataFrame(pdf, "zone_id long, cell_id long, kind string"),
        sorted(np.unique(cells.cell_res(cids)).tolist()),
    )


def _interval_index(zids: np.ndarray, cids: np.ndarray, bnd: np.ndarray):
    """Covers → ``(R, bp, indptr, ent_zone, ent_bnd)``.

    ``bp`` are the sorted unique range ends in resolution-R Morton
    space. A code ``c`` looks up ``j = searchsorted(bp, c, 'right')``;
    its entries are ``ent_*[indptr[j]:indptr[j+1]]`` (``j = 0`` and
    ``j = len(bp)`` lie outside every range and have none).
    """
    res = cells.cell_res(cids)
    R = int(res.max()) if len(cids) else 0
    shift = 2 * (R - res)
    morton = cids & _MORTON_MASK
    lo, hi = morton << shift, (morton + 1) << shift

    # merge adjacent ranges of one (zone, kind); a zone's cells are disjoint
    order = np.lexsort((lo, bnd, zids))
    zids, bnd, lo, hi = zids[order], bnd[order], lo[order], hi[order]
    first = np.ones(len(lo), bool)
    first[1:] = (zids[1:] != zids[:-1]) | (bnd[1:] != bnd[:-1]) | (lo[1:] != hi[:-1])
    last = np.ones(len(lo), bool)
    last[:-1] = first[1:]
    zids, bnd, lo, hi = zids[first], bnd[first], lo[first], hi[last]

    # cut every range at every breakpoint: range i covers lookups
    # j in [s_i, e_i), one CSR entry per (segment, range)
    bp = np.unique(np.concatenate([lo, hi]))
    s = np.searchsorted(bp, lo, "right")
    rng, seg = _expand(s, np.searchsorted(bp, hi, "right") - s)
    by_seg = np.argsort(seg, kind="stable")
    indptr = np.zeros(len(bp) + 2, np.int64)
    np.cumsum(np.bincount(seg, minlength=len(bp) + 1), out=indptr[1:])
    return R, bp, indptr, zids[rng[by_seg]], bnd[rng[by_seg]]


def _digest(rings_by_zone, res: int, base_res: int | None) -> str:
    h = hashlib.sha1(repr((res, base_res)).encode())
    for zid, rings in rings_by_zone.items():
        h.update(repr((int(zid), len(rings))).encode())
        for ring in rings:
            r = np.ascontiguousarray(ring, dtype=np.float64)
            h.update(repr(r.shape).encode() + r.tobytes())
    return h.hexdigest()


def _zone_index(
    spark: SparkSession,
    rings_by_zone: dict[int, list[np.ndarray]],
    res: int,
    base_res: int | None,
):
    """``(R, broadcast)`` for a zone set, built once per (session, zone
    set). The broadcast holds ``(bp, indptr, ent_zone, ent_bnd, rings)``."""

    def build():
        R, *index = _interval_index(*_cover_arrays(rings_by_zone, res, base_res))
        rings = {
            int(z): [np.asarray(r, dtype=np.float64) for r in rs]
            for z, rs in rings_by_zone.items()
        }
        return R, spark.sparkContext.broadcast((*index, rings))

    key = ("pip.zone_index", _digest(rings_by_zone, res, base_res))
    return session.session_memo(spark, key, build)


def _zones_udf(bc):
    """Iterator Arrow UDF: (code, lon, lat) → array<bigint> of the zones
    containing each point (empty for a null code)."""

    def pip_zones(
        batches: Iterator[Tuple[pa.Array, pa.Array, pa.Array]],
    ) -> Iterator[pa.Array]:
        bp, indptr, ent_zone, ent_bnd, rings = bc.value  # once per task
        for code, lon, lat in batches:
            n = len(code)
            valid = code.is_valid().to_numpy(zero_copy_only=False)
            c = code.fill_null(0).to_numpy() & _MORTON_MASK
            j = np.where(valid, np.searchsorted(bp, c, "right"), 0)
            row, ent = _expand(indptr[j], indptr[j + 1] - indptr[j])
            zone, keep = ent_zone[ent], ~ent_bnd[ent]
            refine = np.flatnonzero(ent_bnd[ent])
            if len(refine):
                x = lon.fill_null(np.nan).to_numpy(zero_copy_only=False)
                y = lat.fill_null(np.nan).to_numpy(zero_copy_only=False)
                rz = zone[refine]
                for z in np.unique(rz):
                    idx = refine[rz == z]
                    pr = row[idx]
                    keep[idx] = geometry.points_in_polygon(x[pr], y[pr], rings[int(z)])
            offsets = np.zeros(n + 1, np.int32)
            np.cumsum(np.bincount(row[keep], minlength=n), out=offsets[1:])
            yield pa.ListArray.from_arrays(pa.array(offsets), pa.array(zone[keep]))

    return F.arrow_udf(pip_zones, T.ArrayType(T.LongType()))


def _with_zones(points, rings_by_zone, res, base_res, lat_col, lon_col):
    R, bc = _zone_index(points.sparkSession, rings_by_zone, res, base_res)
    lat, lon = F.col(lat_col), F.col(lon_col)
    # cell_encode clamps a null or NaN coordinate onto the grid edge;
    # such a point is in no zone, so it gets a null code (no zones)
    located = lat.isNotNull() & lon.isNotNull() & ~F.isnan(lat) & ~F.isnan(lon)
    code = F.when(located, cellfns.cell_encode(lat, lon, R))
    zones = _zones_udf(bc)(code, lon, lat)
    return points.withColumn("__zones", zones)


def pip_join(
    points: DataFrame,
    rings_by_zone: dict[int, list[np.ndarray]],
    res: int = 14,
    base_res: int | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """points ⋈ zones (point-in-polygon). Output: point columns + zone_id.

    Exact, deterministic and partition-invariant (a pure per-row
    kernel). ``res`` is the finest cover resolution: it trades index
    size against ray-cast work and never changes the row set.
    """
    return (
        _with_zones(points, rings_by_zone, res, base_res, lat_col, lon_col)
        .withColumn("zone_id", F.explode("__zones"))
        .select(*points.columns, "zone_id")
    )


def pip_anti(
    points: DataFrame,
    rings_by_zone: dict[int, list[np.ndarray]],
    res: int = 12,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Points inside NO zone — the dangling-ref audit (o2g A7 parity).
    The row-by-row complement of :func:`pip_join`, including rows with
    null attributes or coordinates and duplicates."""
    return (
        _with_zones(points, rings_by_zone, res, None, lat_col, lon_col)
        .filter(F.size("__zones") == 0)
        .select(*points.columns)
    )
