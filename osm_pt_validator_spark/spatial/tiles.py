"""G8: raster<->vector tile assignment + failure heatmap.

Web-mercator (slippy) z/x/y tile math is pure column algebra
(functions/geo.py tile_x/tile_y); the heatmap is a plain
groupBy(z, x, y) count — partial aggregation (map-side combine) makes
this scale linearly, and the output is tiny (bounded by 4^z).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.elements import OSM_URL
from osm_pt_validator_spark.functions.geo import tile_x, tile_y


def assign_tiles(df: DataFrame, z: int, lat: str = "lat", lon: str = "lon") -> DataFrame:
    return df.withColumn("tile_z", F.lit(z)).withColumn(
        "tile_x", tile_x(F.col(lon), z)
    ).withColumn("tile_y", tile_y(F.col(lat), z))


def failure_heatmap(points: DataFrame, z: int, lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Tile-bucketed counts — e.g. of validation failures located at
    their stop coordinates."""
    return (
        assign_tiles(points, z, lat, lon)
        .groupBy("tile_z", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tile_pyramid(
    points: DataFrame,
    z_max: int,
    z_min: int = 0,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Multi-zoom heatmap pyramid (z_min..z_max) from ONE full-data pass.

    The raw points shuffle exactly once — the base heatmap at z_max.
    Every coarser zoom is derived from the already-aggregated raster by
    the slippy parent identity (x >> dz, y >> dz): the raster is
    bounded by the number of OCCUPIED z_max tiles, so the explode over
    (z_max - z_min + 1) levels and the second groupBy touch only
    raster-sized data, never the corpus. At 100 TB this is the only
    viable pyramid shape — re-tiling the corpus per zoom would be
    (levels x) full scans + shuffles; this is 1 + epsilon.

    Output: (tile_z, tile_x, tile_y, n) for every occupied tile at
    every zoom in [z_min, z_max]. shiftright keeps the math integral
    and bit-exact (same operator DuckDB spells `>>`).
    """
    base = failure_heatmap(points, z_max, lat, lon)
    return (
        base.select(
            "tile_x",
            "tile_y",
            "n",
            F.explode(F.sequence(F.lit(z_min), F.lit(z_max))).alias("z"),
        )
        .groupBy(
            F.col("z").alias("tile_z"),
            F.expr(f"shiftright(tile_x, {z_max} - z)").alias("tile_x"),
            F.expr(f"shiftright(tile_y, {z_max} - z)").alias("tile_y"),
        )
        .agg(F.sum("n").alias("n"))
    )


def verdict_failure_heatmap(
    verdicts: DataFrame, nodes: DataFrame, z: int
) -> DataFrame:
    """North-star heatmap: validation failures located at the stop
    coordinates embedded in their verdict URLs.

    Verdict messages carry the canonical element URL
    (``elements.element_url``); node-shaped URLs are
    parsed back to ids, joined to the nodes dim (broadcast when small),
    and tiled. Way-shaped verdicts have no point geometry and are
    excluded (corridor-level rollups use PIP, spatial/pip.py).
    """
    node_id = F.regexp_extract(F.col("url"), re.escape(OSM_URL) + r"node/(\d+)", 1)
    located = (
        verdicts.filter(node_id != "")
        .withColumn("node_id", node_id.cast("long"))
        .join(nodes.select("node_id", "lat", "lon"), "node_id")
    )
    return failure_heatmap(located, z)


def tile_bounds(z: int, x: Column, y: Column) -> dict[str, Column]:
    """Raster -> vector: the inverse slippy transform. Maps a z/x/y
    tile back to its geographic bbox (west/east lon, north/south lat)
    — pure column math, codegen, no Python.

    sinh is spelled (exp(t) - exp(-t))/2 so the DuckDB oracle replays
    the identical expression tree (quantized to 6 dp downstream)."""
    import math

    n = float(1 << z)

    def _lat(yy: Column) -> Column:
        t = F.lit(math.pi) * (1.0 - F.lit(2.0) * yy / F.lit(n))
        return F.degrees(F.atan((F.exp(t) - F.exp(-t)) / 2.0))

    return {
        "west": x / F.lit(n) * 360.0 - 180.0,
        "east": (x + 1) / F.lit(n) * 360.0 - 180.0,
        "north": _lat(y),
        "south": _lat(y + 1),
    }


def heatmap_vector(
    points: DataFrame, z: int, lat: str = "lat", lon: str = "lon"
) -> DataFrame:
    """The full raster<->vector round trip: points -> tile raster
    (failure_heatmap) -> vector bbox features, one row per occupied
    tile with its count and geographic bounds. The bbox math is a
    per-row projection over the (tiny, <=4^z) aggregated raster, so
    the vectorization step adds zero shuffles."""
    heat = failure_heatmap(points, z, lat, lon)
    b = tile_bounds(z, F.col("tile_x"), F.col("tile_y"))
    return heat.select(
        "tile_z",
        "tile_x",
        "tile_y",
        "n",
        *[c.alias(k) for k, c in b.items()],
    )


def focal_mean(
    cells: DataFrame,
    res: int,
    value_col: str = "n",
    cell_col: str = "cell",
    mean_scale: int = 100,
) -> DataFrame:
    """3x3 focal (neighborhood) smoothing over a sparse cell raster —
    the raster convolution step between a raw heatmap and contouring /
    hotspot thresholds, computed WITHOUT densifying the grid.

    Every input cell scatters its value to its 9-neighborhood
    (kring_cells, grid-clipped); one map-side-combining groupBy sums
    the contributions per target cell. Absent cells count as zero, and
    the divisor is the target's CLIPPED kernel size (6 on an edge, 4 in
    a corner), the size of its own clipped 3x3 ring — so edge cells are
    true means, not zero-padded underestimates. Output rows cover
    exactly the cells with at least one present neighbor (the support
    of the convolution).

    Integer contract: mean_x{scale} = sum * scale div kernel_size
    (truncating) — exact, engine-identical.

    Output: (cell, n_present, sum_val, mean_x{scale} as mean_scaled).
    """
    from osm_pt_validator_spark.functions.geo import kring_cells

    scattered = cells.select(
        F.explode(kring_cells(F.col(cell_col), 1, res)).alias("cell"),
        F.col(value_col).alias("__v"),
    )
    agg = scattered.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum("__v").alias("sum_val"),
    )
    ksize = F.size(kring_cells(F.col("cell"), 1, res)).cast("long")
    # FLOOR division in pure int64: pmod is non-negative, the adjusted
    # numerator is exactly divisible, and `div` never leaves the
    # integer domain — no 2^53 float-precision ceiling. NOTE: DuckDB's
    # bare `//` TRUNCATES toward zero (-7 // 2 = -3, not -4), so the
    # oracle replays the same non-negative-mod adjustment rather than
    # dividing directly (SQL_FOCAL_HEATMAP)
    with_k = agg.withColumn("__num", F.col("sum_val") * mean_scale).withColumn(
        "__k", ksize
    )
    mean_scaled = F.expr("(__num - pmod(__num, __k)) div __k")
    return with_k.select(
        "cell", "n_present", "sum_val", mean_scaled.alias("mean_scaled")
    )
