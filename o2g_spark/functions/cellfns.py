"""Cell-index functions for DataFrames.

The primary implementation is **pure Column expressions** (Morton bit
spread by byte-table lookup), so cell encoding runs inside whole-stage
codegen on the JVM — zero Python/Arrow crossings in the hot path. Where
the only other work is JVM work, this beats the Arrow-UDF variant the
spec floats ("vectorized Arrow UDF, never per-row Python",
BASELINE.json): batching is still columnar, but without serialization.
Inside a UDF that already crosses to Python the numpy kernel
(:func:`o2g_spark.kernels.cells.encode`) is free, and a Column encode
only adds plan and codegen cost — point-in-polygon encodes there. The
pandas-UDF variant is kept (``cell_encode_pandas``) for A/B benchmarking
and as the template for kernels that genuinely need numpy.

Bit layout must stay identical to :mod:`o2g_spark.kernels.cells`
(tests assert all three implementations — Column, numpy, DuckDB SQL —
agree bit-for-bit).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import cells

# bit i of a byte moves to bit 2i: the Morton spread of every byte value
_SPREAD8 = "array({})".format(", ".join(
    f"{sum(((b >> i) & 1) << (2 * i) for i in range(8))}L" for b in range(256)
))


def _spread_col(v: Column, res: int) -> Column:
    """Spread the low ``res`` bits of ``v`` (``0 <= v < 2^res``) to the
    even bit positions, one table lookup per byte. ``v`` appears once per
    byte: the shift-and-mask rounds of :mod:`o2g_spark.kernels.cells`
    read it twice per round, which doubles the tree 5 times (32 copies of
    ``v`` to build, analyse and optimise)."""
    v, table = v.cast(T.LongType()), F.expr(_SPREAD8)
    out = table[v.bitwiseAND(F.lit(255))]
    for k in range(1, -(-res // 8)):
        byte = F.shiftright(v, 8 * k).bitwiseAND(F.lit(255))
        out = out.bitwiseOR(F.shiftleft(table[byte], 16 * k))
    return out


def _scaled_floor(v: Column, offset: float, extent: float, res: int) -> Column:
    n = 1 << res
    idx = F.floor((v + F.lit(offset)) / F.lit(extent) * F.lit(n)).cast(T.LongType())
    return F.least(F.greatest(idx, F.lit(0)), F.lit(n - 1))


def grid_ix(lon: Column | str, res: int) -> Column:
    """Grid x index at ``res`` — pure JVM (matches kernels.cells.latlon_to_ixiy)."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    return _scaled_floor(lon, 180.0, 360.0, res)


def grid_iy(lat: Column | str, res: int) -> Column:
    """Grid y index at ``res`` — pure JVM."""
    lat = F.col(lat) if isinstance(lat, str) else lat
    return _scaled_floor(lat, 90.0, 180.0, res)


def cell_from_ixiy(ix: Column, iy: Column, res: int) -> Column:
    """(ix, iy) integer Columns in ``[0, 2^res)`` → int64 cell id — pure
    JVM Morton encode."""
    morton = _spread_col(ix, res).bitwiseOR(F.shiftleft(_spread_col(iy, res), 1))
    return morton.bitwiseOR(F.lit(res << 58))


def cell_encode(lat: Column | str, lon: Column | str, res: int) -> Column:
    """lat/lon Columns → int64 cell id at ``res`` — pure JVM expression."""
    if not 0 <= res <= cells.MAX_RES:
        raise ValueError(f"res must be in [0, {cells.MAX_RES}]")
    lat = F.col(lat) if isinstance(lat, str) else lat
    lon = F.col(lon) if isinstance(lon, str) else lon
    ix = _scaled_floor(lon, 180.0, 360.0, res)
    iy = _scaled_floor(lat, 90.0, 180.0, res)
    morton = _spread_col(ix, res).bitwiseOR(F.shiftleft(_spread_col(iy, res), 1))
    return morton.bitwiseOR(F.lit(res << 58)).alias(f"cell_r{res}")


def cell_parent(cell: Column | str, child_res: int, parent_res: int) -> Column:
    """Ancestor cell id — pure JVM expression (static resolutions)."""
    if not 0 <= parent_res <= child_res <= cells.MAX_RES:
        raise ValueError("need 0 <= parent_res <= child_res <= MAX_RES")
    cell = F.col(cell) if isinstance(cell, str) else cell
    morton = cell.bitwiseAND(F.lit((1 << 58) - 1))
    shifted = F.shiftrightunsigned(morton, 2 * (child_res - parent_res))
    return shifted.bitwiseOR(F.lit(parent_res << 58))


def cell_encode_pandas(res: int):
    """Arrow pandas-UDF variant of :func:`cell_encode` (bench A/B only)."""

    @F.pandas_udf(T.LongType())
    def _encode(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(cells.encode(lat.to_numpy(), lon.to_numpy(), res))

    return _encode
