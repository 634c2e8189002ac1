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

**One Arrow UDF per point.** The UDF receives only ``lon`` and ``lat``.
It encodes each point's resolution-R code with the same numpy kernel
that built the covers (``kernels.cells.encode``), so the codes match the
ranges by construction. It finds each point's segment with one
``searchsorted``, accepts interior entries, ray-casts boundary ones and
returns the zone ids as ``array<bigint>``. A point with a null, NaN or
infinite coordinate is in no zone. A finite point off the grid is
ray-cast against the zones whose rings reach past the grid, the only
ones that can hold it. ``pip_join`` explodes the lists; ``pip_anti``
keeps the points whose list is empty, so each point row lands in
exactly one of the two. The plan is map-only over the points: no join,
no exchange, no JVM cell expression; only the boundary sliver pays
geometry.
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


def _build_index(rings_by_zone, res: int, base_res: int | None):
    """``(R, bp, indptr, ent_zone, ent_bnd, rings, outer)`` of a zone set:
    the interval index at resolution ``R``, the rings, and the ids of the
    zones that reach past the grid (``outer``), the only zones a point
    off the grid can lie in."""
    R, *lookup = _interval_index(*_cover_arrays(rings_by_zone, res, base_res))
    rings = {
        int(z): [np.asarray(r, dtype=np.float64) for r in rs]
        for z, rs in rings_by_zone.items()
    }
    outer = [
        z for z, rs in rings.items()
        if any((np.abs(r) > (180.0, 90.0)).any() for r in rs)
    ]
    return (R, *lookup, rings, np.asarray(outer, np.int64))


def _zone_index(
    spark: SparkSession,
    rings_by_zone: dict[int, list[np.ndarray]],
    res: int,
    base_res: int | None,
):
    """The broadcast :func:`_build_index` of a zone set, built once per
    (session, zone set)."""
    key = ("pip.zone_index", _digest(rings_by_zone, res, base_res))
    return session.session_memo(
        spark, key,
        lambda: spark.sparkContext.broadcast(_build_index(rings_by_zone, res, base_res)),
    )


def _point_zones(index, x: np.ndarray, y: np.ndarray):
    """Zones containing each point (``x`` lon, ``y`` lat, NaN for null)
    as CSR ``(offsets, zone_ids)``. A point with a non-finite coordinate
    is in no zone; a point off the grid is ray-cast against the ``outer``
    zones; every other point looks up the segment of its resolution-R
    code. No NaN or infinity reaches an integer cast."""
    R, bp, indptr, ent_zone, ent_bnd, rings, outer = index
    n = len(x)
    finite = np.isfinite(x) & np.isfinite(y)
    grid = finite & (np.abs(x) <= 180.0) & (np.abs(y) <= 90.0)
    j = np.zeros(n, np.int64)
    code = cells.encode(y[grid], x[grid], R) & _MORTON_MASK
    j[grid] = np.searchsorted(bp, code, "right")
    row, ent = _expand(indptr[j], indptr[j + 1] - indptr[j])
    zone, bnd = ent_zone[ent], ent_bnd[ent]
    off = np.flatnonzero(finite & ~grid)
    if len(off) and len(outer):
        row = np.concatenate([row, np.repeat(off, len(outer))])
        zone = np.concatenate([zone, np.tile(outer, len(off))])
        bnd = np.concatenate([bnd, np.ones(len(off) * len(outer), bool)])
        order = np.argsort(row, kind="stable")
        row, zone, bnd = row[order], zone[order], bnd[order]
    keep, refine = ~bnd, np.flatnonzero(bnd)
    rz = zone[refine]
    for z in np.unique(rz):
        idx = refine[rz == z]
        keep[idx] = geometry.points_in_polygon(x[row[idx]], y[row[idx]], rings[int(z)])
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(np.bincount(row[keep], minlength=n), out=offsets[1:])
    return offsets, zone[keep]


def _zones_udf(bc):
    """Iterator Arrow UDF: (lon, lat) → array<bigint> of the zones
    containing each point (empty for a null or non-finite coordinate)."""

    def pip_zones(
        batches: Iterator[Tuple[pa.Array, pa.Array]],
    ) -> Iterator[pa.Array]:
        index = bc.value  # once per task
        for lon, lat in batches:
            offsets, zones = _point_zones(
                index,
                lon.to_numpy(zero_copy_only=False),  # nulls → NaN
                lat.to_numpy(zero_copy_only=False),
            )
            yield pa.ListArray.from_arrays(pa.array(offsets), pa.array(zones))

    return F.arrow_udf(pip_zones, T.ArrayType(T.LongType()))


def _with_zones(points, rings_by_zone, res, base_res, lat_col, lon_col):
    bc = _zone_index(points.sparkSession, rings_by_zone, res, base_res)
    lon, lat = (F.col(c).cast(T.DoubleType()) for c in (lon_col, lat_col))
    return points.withColumn("__zones", _zones_udf(bc)(lon, lat))


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
