"""Polygon -> covering-cell-set ("polyfill", the H3 `polygonToCells`
analog) for the packed equal-angle grid of functions/geo.py.

The reference stops at point->tile assignment (pkg/validation verdicts
rendered as heatmap tiles); a spatial engine also needs the inverse
rasterization — given a polygon (route corridor, admin zone), the set
of grid cells it covers — so that zone membership becomes an equi-join
on ``cell`` instead of a per-point ray-cast. Semantics match H3's
polyfill: a cell belongs to the polygon iff its CENTER is inside
(even-odd / crossing-parity rule), so polyfills of adjacent polygons
partition the grid with no double-coverage.

100 TB shape: pure map-side column algebra — bbox index ranges from
``array_min``/``array_max``, candidate cells from one explode of
``geo.cells_in_box`` (bounded by bbox area / cell area, not by data
volume), crossing parity as an integer ``F.aggregate`` fold over the
vertex arrays. ZERO shuffles, zero
Python rows: the whole operator is one whole-stage-codegen projection
per polygon. For very large polygons at fine resolution, compose with
:func:`osm_pt_validator_spark.spatial.compact.compact_cells`: polyfill
coarse, compact, then refine only the boundary cells one level down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.geo import (
    DEFAULT_RES,
    cell_i,
    cell_j,
    cell_to_ij,
    cells_in_box,
)


def _crossing_parity(px: Column, py: Column, xs: Column, ys: Column) -> Column:
    """Even-odd crossing count of the ray x -> +inf from (px, py)
    against the closed ring (xs, ys) — integer fold, same per-edge
    expression as spatial/pip.py's numpy kernel and the DuckDB oracle
    (reference semantics: ray-cast PIP per BASELINE.json north_star)."""
    n = F.size(xs)
    rot = lambda a: F.concat(F.slice(a, 2, n - 1), F.slice(a, 1, 1))  # noqa: E731
    edges = F.arrays_zip(
        xs.alias("x1"), ys.alias("y1"), rot(xs).alias("x2"), rot(ys).alias("y2")
    )
    return F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            ((e["y1"] > py) != (e["y2"] > py))
            & (
                px
                < e["x1"]
                + (py - e["y1"]) / (e["y2"] - e["y1"]) * (e["x2"] - e["x1"])
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def cell_polyfill(
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    polygon_id: str = "polygon_id",
    xs_col: str = "xs",
    ys_col: str = "ys",
) -> DataFrame:
    """(polygon_id, cell) for every res-level cell whose center falls
    inside the polygon (even-odd rule).

    ``polygons`` carries one ring per row as parallel vertex arrays
    ``xs`` (lon) / ``ys`` (lat), closed implicitly (last->first edge is
    added). Cells on the bbox but with outside centers are dropped; a
    polygon thinner than a cell everywhere may produce zero rows
    (center rule — same contract as H3 polyfill).
    """
    n = 1 << res
    xs, ys = F.col(xs_col), F.col(ys_col)
    cands = polygons.select(
        F.col(polygon_id), xs, ys,
        F.explode(
            cells_in_box(
                cell_i(F.array_min(ys), res), cell_i(F.array_max(ys), res),
                cell_j(F.array_min(xs), res), cell_j(F.array_max(xs), res),
            )
        ).alias("cell"),
    )
    i, j = cell_to_ij(F.col("cell"))
    # center coordinates: EXACTLY this operation order in the oracle SQL
    py = (i.cast("double") + F.lit(0.5)) / F.lit(float(n)) * F.lit(180.0) - F.lit(90.0)
    px = (j.cast("double") + F.lit(0.5)) / F.lit(float(n)) * F.lit(360.0) - F.lit(180.0)
    parity = _crossing_parity(px, py, xs, ys)
    return cands.filter(parity % 2 == 1).select(F.col(polygon_id), "cell")


def areal_interpolation(
    source_zones: DataFrame,
    target_zones: DataFrame,
    value_col: str = "value_c",
    res: int = DEFAULT_RES,
    source_id: str = "polygon_id",
    target_id: str = "polygon_id",
) -> DataFrame:
    """Areal interpolation: re-aggregate a quantity known per SOURCE
    polygon (census tracts, admin zones) onto a DIFFERENT target
    partition (service areas, grid districts) proportionally to
    overlap — the classic GIS re-zoning operator, with overlap
    measured in shared polyfill cells (so accuracy is res-controlled
    and everything stays an equi-join: polygon x polygon intersection
    never happens geometrically).

    Integer contract: each source's value (integer units) is split as
    value * n_shared_cells div n_source_cells (truncating) per target
    — exact, engine-replayable; the truncation remainder stays with no
    target (documented conservation bound: per source at most
    n_targets units lost, tighten with finer res).

    Output: (target_id, est_value) — targets overlapping no source are
    absent. Both polyfills are map-only; the work is two bounded cell
    tables joined on cell plus one rollup.
    """
    src = cell_polyfill(
        source_zones, res=res, polygon_id=source_id
    ).withColumnRenamed(source_id, "__src")
    sizes = src.groupBy("__src").agg(F.count(F.lit(1)).alias("__n_src"))
    tgt = cell_polyfill(
        target_zones, res=res, polygon_id=target_id
    ).withColumnRenamed(target_id, "__tgt")
    vals = source_zones.select(
        F.col(source_id).alias("__src"), F.col(value_col).alias("__v")
    )
    shared = (
        src.join(tgt, "cell")
        .groupBy("__src", "__tgt")
        .agg(F.count(F.lit(1)).alias("__n_shared"))
        .join(sizes, "__src")
        .join(vals, "__src")
    )
    part = F.expr("(__v * __n_shared) div __n_src")
    return (
        shared.select(F.col("__tgt").alias(target_id), part.alias("__p"))
        .groupBy(target_id)
        .agg(F.sum("__p").alias("est_value"))
    )
