"""Segment-intersection join — which route/way segments cross?

The reference reasons about way CONNECTIVITY (shared end nodes,
route_relation.go's gap checks); a spatial engine also needs the
geometric complement: pairs of segments that CROSS, regardless of node
identity (level-crossing detection, route-network conflation,
map-error candidates).

Exactness contract: endpoints quantize to integer micro-degrees, and
the intersection predicate is the classic four-orientation test with
collinear-touch handling — every term an int64 cross product, so there
is no epsilon anywhere and a DuckDB oracle replays it bit-for-bit.
(Products are bounded by (2*360e6)^2 < 2^60 — no overflow.)

100 TB shape: candidates come from covering each segment's bbox with
grid cells at ``res`` and equi-joining on cell (the same
cell-candidates-then-exact-test shape as spatial/pip.py and
distance_join) — never a cartesian. A pair sharing several cover cells
is deduplicated BEFORE the exact test: both covers are dense bbox
rectangles, so the minimum shared cell is (max of the i-los, max of
the j-los), computable per-row from the cover bounds each side already
carries — a pure projection filter, no distinct shuffle, and the exact
test runs once per pair. ``res`` trades cover-explode fan-out (finer =
more cells per segment) against candidate selectivity (coarser = more
false candidates per cell); pick so a cell is ~ the median segment
length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.geo import (
    cell_i,
    cell_j,
    cell_to_ij,
    cells_in_box,
    udeg,
)

_UD = 1e6


def _cover_cells(
    df: DataFrame, res: int, lat1: str, lon1: str, lat2: str, lon2: str
) -> DataFrame:
    """Explode each segment into the cells of its bbox cover at res,
    carrying µdeg integer endpoints and the cover's (i_lo, j_lo).

    The cover indexes are derived from the QUANTIZED coordinates (µdeg
    ints divided back to degrees), never the raw doubles: the exact
    test runs on quantized endpoints, so candidate generation must see
    the same geometry — a raw-coordinate cover can put a segment whose
    quantization crossed a cell boundary in the wrong row and silently
    miss a touching pair."""
    q = lambda c: udeg(F.col(c))  # noqa: E731
    qlat1, qlat2 = q(lat1) / _UD, q(lat2) / _UD
    qlon1, qlon2 = q(lon1) / _UD, q(lon2) / _UD
    i_lo = F.least(cell_i(qlat1, res), cell_i(qlat2, res))
    i_hi = F.greatest(cell_i(qlat1, res), cell_i(qlat2, res))
    j_lo = F.least(cell_j(qlon1, res), cell_j(qlon2, res))
    j_hi = F.greatest(cell_j(qlon1, res), cell_j(qlon2, res))
    return df.select(
        "*",
        q(lat1).alias("__y1"), q(lon1).alias("__x1"),
        q(lat2).alias("__y2"), q(lon2).alias("__x2"),
        F.explode(cells_in_box(i_lo, i_hi, j_lo, j_hi)).alias("__cell"),
        i_lo.alias("__ilo"), j_lo.alias("__jlo"),
    )


def _segments_cross(
    p1x: Column, p1y: Column, p2x: Column, p2y: Column,
    q1x: Column, q1y: Column, q2x: Column, q2y: Column,
) -> Column:
    """True iff segments p and q share at least one point (proper
    crossing OR collinear/endpoint touch). Integer orientation tests."""

    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    def on_seg(ax, ay, bx, by, px, py):
        # p collinear with a-b assumed; true iff p within the bbox
        return (
            (px >= F.least(ax, bx)) & (px <= F.greatest(ax, bx))
            & (py >= F.least(ay, by)) & (py <= F.greatest(ay, by))
        )

    d1 = cross(q1x, q1y, q2x, q2y, p1x, p1y)
    d2 = cross(q1x, q1y, q2x, q2y, p2x, p2y)
    d3 = cross(p1x, p1y, p2x, p2y, q1x, q1y)
    d4 = cross(p1x, p1y, p2x, p2y, q2x, q2y)
    proper = (
        (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    )
    touch = (
        ((d1 == 0) & on_seg(q1x, q1y, q2x, q2y, p1x, p1y))
        | ((d2 == 0) & on_seg(q1x, q1y, q2x, q2y, p2x, p2y))
        | ((d3 == 0) & on_seg(p1x, p1y, p2x, p2y, q1x, q1y))
        | ((d4 == 0) & on_seg(p1x, p1y, p2x, p2y, q2x, q2y))
    )
    return proper | touch


def segment_intersection_join(
    left: DataFrame,
    right: DataFrame,
    res: int = 13,
    left_id: str = "seg_id",
    right_id: str = "seg_id",
    coords: tuple[str, str, str, str] = ("lat1", "lon1", "lat2", "lon2"),
) -> DataFrame:
    """(<left_id>_l, <right_id>_r) for every intersecting segment pair.

    Candidates share a bbox-cover cell at ``res``; multi-cell
    duplicates are removed by keeping only the minimum shared cover
    cell per pair (see module docstring) so the exact orientation test
    runs exactly once per candidate pair.
    """
    la = _cover_cells(
        left.select(F.col(left_id).alias("__lid"), *coords), res, *coords
    ).select(
        "__lid", "__cell",
        F.col("__y1").alias("ly1"), F.col("__x1").alias("lx1"),
        F.col("__y2").alias("ly2"), F.col("__x2").alias("lx2"),
        F.col("__ilo").alias("lilo"), F.col("__jlo").alias("ljlo"),
    )
    rb = _cover_cells(
        right.select(F.col(right_id).alias("__rid"), *coords), res, *coords
    ).select(
        "__rid", "__cell",
        F.col("__y1").alias("ry1"), F.col("__x1").alias("rx1"),
        F.col("__y2").alias("ry2"), F.col("__x2").alias("rx2"),
        F.col("__ilo").alias("rilo"), F.col("__jlo").alias("rjlo"),
    )
    cand = la.join(rb, "__cell")
    li, lj = cell_to_ij(F.col("__cell"))
    first_shared = (li == F.greatest(F.col("lilo"), F.col("rilo"))) & (
        lj == F.greatest(F.col("ljlo"), F.col("rjlo"))
    )
    hit = _segments_cross(
        F.col("lx1"), F.col("ly1"), F.col("lx2"), F.col("ly2"),
        F.col("rx1"), F.col("ry1"), F.col("rx2"), F.col("ry2"),
    )
    return (
        cand.filter(first_shared)
        .filter(hit)
        .select(
            F.col("__lid").alias(left_id + "_l"),
            F.col("__rid").alias(right_id + "_r"),
        )
    )
