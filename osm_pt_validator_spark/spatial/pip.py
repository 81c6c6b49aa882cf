"""G6: point-in-polygon (ray casting) for route-corridor containment.

Polygons table: (polygon_id LONG, xs ARRAY<DOUBLE> (lon), ys
ARRAY<DOUBLE> (lat)) — open rings (last vertex != first; closing edge
implied).

Plan: candidate pairs come from a coarse cell join against each
polygon's bbox cell cover (set algebra, pushdown-friendly), then the
exact even-odd crossing test runs vectorized (numpy, points × edges).

Two execution shapes:
  * broadcast (default) — the polygon table is a dim (route corridors,
    admin areas): ship {polygon_id: ring} to every worker via a Spark
    broadcast and stream candidates through ONE mapInPandas pass. No
    shuffle, no per-polygon task, no xs/ys duplicated onto candidate
    rows — a city-sized polygon's 10^7 candidates stay spread across
    whatever partitioning the points already have.
  * salted groupBy — when the polygon table itself is too big to
    broadcast: crossings are per-point independent, so the group key is
    (polygon_id, pmod(hash(point_id), salt_buckets)) and a hot polygon
    fans out over salt_buckets tasks instead of serializing through one.

Why a numpy kernel beside spatial/polyfill.py's JVM crossing fold
(``_crossing_parity``): the same even-odd test as a filter on that fold
matches all four PIP/zonal/polyfill oracle keys, but it is slower on
every size measured (local[4], median of 5): 10^5 points x a 7-vertex
ring take 2.13 s vs 0.77 s here, and 2x10^6 points x 7 or 256 vertices
had not finished after 900 s, against 2.55 s and 9.78 s here. The fold
evaluates a per-edge lambda per candidate row; numpy tests a batch of
points against all edges at once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.geo import (
    DEFAULT_RES,
    cell_i,
    cell_j,
    cells_in_box,
)


def polygon_cell_cover(polygons: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(polygon_id, cell) for every grid cell intersecting the
    polygon's bbox — coarse but safe cover, pure column algebra."""
    cells = cells_in_box(
        cell_i(F.array_min("ys"), res), cell_i(F.array_max("ys"), res),
        cell_j(F.array_min("xs"), res), cell_j(F.array_max("xs"), res),
    )
    return polygons.select("polygon_id", F.explode(cells).alias("cell"))


def _inside_mask(
    xs: np.ndarray, ys: np.ndarray, px: np.ndarray, py: np.ndarray
) -> np.ndarray:
    """Even-odd crossing count, numpy over (points, edges)."""
    x1, y1 = xs, ys
    x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
    # edge straddles the horizontal ray through py?
    py_b = py[:, None]
    straddle = (y1[None, :] > py_b) != (y2[None, :] > py_b)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at_y = x1[None, :] + (py_b - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    crossings = (straddle & (px[:, None] < x_at_y)).sum(axis=1)
    return (crossings % 2) == 1


def _ray_cast(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped form: one polygon per group (xs/ys constant columns)."""
    xs = np.asarray(pdf["xs"].iloc[0], dtype=np.float64)
    ys = np.asarray(pdf["ys"].iloc[0], dtype=np.float64)
    inside = _inside_mask(
        xs,
        ys,
        pdf["lon"].to_numpy(dtype=np.float64),
        pdf["lat"].to_numpy(dtype=np.float64),
    )
    return pdf.loc[inside, ["polygon_id", "point_id", "lat", "lon"]]


_OUT_SCHEMA = "polygon_id long, point_id long, lat double, lon double"


def points_in_polygons(
    points: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    point_id: str = "point_id",
    broadcast_polygons: bool = True,
    salt_buckets: int = 32,
) -> DataFrame:
    """(polygon_id, point_id, lat, lon) for contained points."""
    from osm_pt_validator_spark.functions.geo import cell

    cover = polygon_cell_cover(polygons, res)
    candidates = (
        points.withColumn("cell", cell(F.col("lat"), F.col("lon"), res))
        .join(cover, "cell", "inner")
        .select("polygon_id", F.col(point_id).alias("point_id"), "lat", "lon")
    )

    if broadcast_polygons:
        spark = points.sparkSession
        rings = {
            r["polygon_id"]: (
                np.asarray(r["xs"], dtype=np.float64),
                np.asarray(r["ys"], dtype=np.float64),
            )
            # driver-side materialisation is the point: you cannot
            # sc.broadcast without driver-side data
            for r in polygons.select(
                "polygon_id", "xs", "ys"
            ).collect()  # collect-ok: dim-table materialisation for broadcast
        }
        lut = spark.sparkContext.broadcast(rings)

        def ray_cast_stream(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                outs = []
                for pid, sub in pdf.groupby("polygon_id", sort=False):
                    xs, ys = lut.value[pid]
                    inside = _inside_mask(
                        xs,
                        ys,
                        sub["lon"].to_numpy(dtype=np.float64),
                        sub["lat"].to_numpy(dtype=np.float64),
                    )
                    outs.append(sub.loc[inside])
                if outs:
                    yield pd.concat(outs)

        return candidates.mapInPandas(ray_cast_stream, schema=_OUT_SCHEMA)

    # polygon table too big to broadcast: duplicate rings onto candidate
    # rows via the join, but salt the group key so a hot polygon fans
    # out over salt_buckets tasks (crossings are per-point independent).
    with_geom = candidates.join(polygons.select("polygon_id", "xs", "ys"), "polygon_id")
    salt = F.pmod(F.hash("point_id"), F.lit(salt_buckets)).alias("__salt")
    return with_geom.groupBy(F.col("polygon_id"), salt).applyInPandas(
        _ray_cast, schema=_OUT_SCHEMA
    )
