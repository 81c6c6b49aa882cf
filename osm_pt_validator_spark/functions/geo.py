"""Geospatial column expressions — the G3/G7/G8 primitives.

Everything here is pure ``pyspark.sql.functions`` algebra: JVM-side,
whole-stage-codegen, and (deliberately) 1:1 expressible in ANSI SQL so
the DuckDB oracle can replay it. A numpy Morton/Z-order encoder is also
provided (Arrow pandas UDF) for 1-D hierarchical range pruning; the
packed grid cell below is the default join key because parent/k-ring
are trivial integer ops on it.

Cell scheme ("S2-style" equal-angle grid):
    i = clamp(floor((lat +  90) / 180 * 2^res), 0, 2^res - 1)
    j = clamp(floor((lon + 180) / 360 * 2^res), 0, 2^res - 1)
    cell = (i << 32) | j
Parent at coarser resolution dr levels up: ((i >> dr) << 32) | (j >> dr)
k-ring: the (2k+1)^2 grid neighbourhood, clipped at the grid edge.

This is the only module that knows the packed layout: every other
operator packs with ``pack_cell``, unpacks with ``cell_to_ij`` and
enumerates an (i, j) box with ``cells_in_box`` / ``cell_window``.

At res=16 a cell is ~300 m of latitude — the right granularity for
stop-mention joins; res is a parameter everywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

DEFAULT_RES = 16
EARTH_RADIUS_M = 6371000.0


def _clamp(raw: Column, n: int) -> Column:
    """Clamp a long index column to the grid [0, n - 1]."""
    return F.greatest(F.lit(0).cast("long"), F.least(F.lit(n - 1).cast("long"), raw))


def _clamped_idx(value: Column, offset: float, span: float, res: int) -> Column:
    n = 1 << res
    raw = F.floor((value + F.lit(offset)) / F.lit(span) * F.lit(n)).cast("long")
    return _clamp(raw, n)


def cell_i(lat: Column, res: int = DEFAULT_RES) -> Column:
    return _clamped_idx(lat, 90.0, 180.0, res)


def cell_j(lon: Column, res: int = DEFAULT_RES) -> Column:
    return _clamped_idx(lon, 180.0, 360.0, res)


def pack_cell(i: Column, j: Column) -> Column:
    """The packed cell id (i << 32) | j."""
    return F.shiftleft(i, 32).bitwiseOR(j)


def cell(lat: Column, lon: Column, res: int = DEFAULT_RES) -> Column:
    """G3: packed grid cell id (i << 32 | j)."""
    return pack_cell(cell_i(lat, res), cell_j(lon, res))


def cell_to_ij(c: Column) -> tuple[Column, Column]:
    return F.shiftright(c, 32), c.bitwiseAND(F.lit(0xFFFFFFFF))


def cell_parent(c: Column, dr: int) -> Column:
    """Coarsen a cell by dr resolution levels — the cell-prefix join key
    (G4)."""
    i, j = cell_to_ij(c)
    return pack_cell(F.shiftright(i, dr), F.shiftright(j, dr))


def cells_in_box(i_lo: Column, i_hi: Column, j_lo: Column, j_hi: Column) -> Column:
    """Array of the packed cells of the (i, j) box, bounds inclusive, in
    row-major order (i outer, j inner). Pure array algebra — explode it
    to get one row per cell."""
    return F.flatten(
        F.transform(
            F.sequence(i_lo, i_hi),
            lambda i: F.transform(F.sequence(j_lo, j_hi), lambda j: pack_cell(i, j)),
        )
    )


def cell_window(i: Column, j: Column, ki, kj, res: int) -> Column:
    """The (2ki+1) x (2kj+1) box around (i, j), clipped at the grid edge
    — :func:`cells_in_box` between clamped bounds. ``ki``/``kj`` may be
    ints or per-row columns."""
    n = 1 << res
    return cells_in_box(
        _clamp(i - ki, n), _clamp(i + ki, n), _clamp(j - kj, n), _clamp(j + kj, n)
    )


def kring_cells(c: Column, k: int, res: int = DEFAULT_RES) -> Column:
    """G7: array of the (2k+1)^2 neighbourhood cells, grid-clipped, in
    row-major order (NULL for a NULL cell) — explode the result on the
    probe side of a kNN join."""
    i, j = cell_to_ij(c)
    return F.when(c.isNotNull(), cell_window(i, j, k, k, res))


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters — built-in trig only (stays in
    whole-stage codegen; used as the exact re-rank after cell joins)."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


# ---------------------------------------------------------------------------
# G8: web-mercator tiles (slippy z/x/y), pure column math
# ---------------------------------------------------------------------------


def tile_x(lon: Column, z: int) -> Column:
    n = 1 << z
    return _clamp(F.floor((lon + 180.0) / 360.0 * F.lit(n)).cast("long"), n)


def tile_y(lat: Column, z: int) -> Column:
    n = 1 << z
    lat_r = F.radians(lat)
    raw = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / F.lit(float(np.pi)))
        / 2.0
        * F.lit(n)
    ).cast("long")
    return _clamp(raw, n)


# ---------------------------------------------------------------------------
# Morton/Z-order encoder (numpy, Arrow-batched) — 1-D hierarchical key
# for range pruning; parent = cell >> 2*dr
# ---------------------------------------------------------------------------


def _interleave_bits_u32(v: np.ndarray) -> np.ndarray:
    """Spread the low 31 bits of v so they occupy even bit positions."""
    x = v.astype(np.uint64)
    x = (x | (x << 16)) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << 8)) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << 4)) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << 2)) & np.uint64(0x3333333333333333)
    x = (x | (x << 1)) & np.uint64(0x5555555555555555)
    return x


def make_morton_udf(res: int = DEFAULT_RES):
    """Vectorized Morton cell encoder at `res` bits/axis (res <= 31)."""

    from pyspark.sql import types as T

    @pandas_udf(T.LongType())
    def morton_cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
        n = 1 << res
        i = np.clip(((lat.to_numpy() + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
        j = np.clip(((lon.to_numpy() + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
        z = (_interleave_bits_u32(i) << np.uint64(1)) | _interleave_bits_u32(j)
        return pd.Series(z.astype(np.int64))

    return morton_cell


def morton_parent(c: Column, dr: int) -> Column:
    return F.shiftright(c, 2 * dr)


def udeg(v: Column) -> Column:
    """Micro-degree integer quantization — THE shared spelling
    (`round(v * 1e6)` as long) used by every exact-integer geometry
    operator (trajectory, hull, intersect, zone_geometry) and replayed
    in oracles as CAST(round(x * 1e6) AS BIGINT)."""
    return F.round(v * 1e6).cast("long")
