"""Stop-to-route proximity: point-to-polyline distance, set-based.

The north-star check the reference implies but never computes directly
(it infers proximity violations from ordering): is every stop/platform
member within ``max_m`` meters of the polyline formed by its route's
way members?  (Reference context: pkg/validation/route_relation.go
orders stops against way geometry; this operator answers the metric
question those orderings presuppose.)

Shape for 100 TB:

* ``segments_from_polylines`` — posexplode + one window ``lead`` per
  polyline key: one shuffle keyed by the polyline id, output one row
  per segment.  No Python.
* ``point_to_segment_m`` — closed-form equirectangular projection
  (exact enough at stop-to-route scales, < 0.1% error under 10 km)
  entirely in column algebra: codegen, vectorized, SQL-replayable.
* ``stop_route_proximity`` — equi-join stops x segments on the route
  key (shuffle hash join on route_id; per-route blowup is bounded by
  members-per-route, the same bound the validation automaton already
  carries), partial-agg ``min`` map-side, one row per stop.

The join is never all-pairs: stops only meet segments of their OWN
route.  Skewed mega-routes can reuse spatial/joins.py salting, but a
route's member count is bounded (OSM caps relation size in practice),
so the default plan is the right one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.geo import EARTH_RADIUS_M


def segments_from_polylines(
    points: DataFrame,
    line_key: str,
    seq_col: str,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """(line_key, seq, lat, lon) vertex rows -> one row per segment
    (line_key, seg_idx, lat1, lon1, lat2, lon2).

    ONE shuffle (the window partition by line_key); the trailing
    vertex of each line drops out via the lead-null filter.
    """
    w = Window.partitionBy(line_key).orderBy(seq_col)
    return (
        points.select(
            line_key,
            F.col(seq_col).alias("seg_idx"),
            F.col(lat).alias("lat1"),
            F.col(lon).alias("lon1"),
            F.lead(lat).over(w).alias("lat2"),
            F.lead(lon).over(w).alias("lon2"),
        )
        .filter(F.col("lat2").isNotNull())
    )


def point_to_segment_m(
    plat: Column, plon: Column,
    lat1: Column, lon1: Column,
    lat2: Column, lon2: Column,
) -> Column:
    """Meters from point P to segment AB, equirectangular projection
    centered on A's latitude.  Pure column algebra (no UDF): project
    to a local tangent plane, clamp the parametric foot t to [0, 1],
    return the Euclidean distance to the clamped foot.  Degenerate
    segments (A == B) fall out naturally via the t=0 clamp guard.
    """
    return _segment_frame(plat, plon, lat1, lon1, lat2, lon2)["dist_m"]


def stop_route_proximity(
    stops: DataFrame,
    segments: DataFrame,
    route_key: str,
    stop_key: str,
    max_m: float,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Min distance from each stop to its route's polyline + verdict.

    stops:    (route_key, stop_key, lat, lon)
    segments: (route_key, seg_idx, lat1, lon1, lat2, lon2)
    Output:   (route_key, stop_key, dist_m, too_far)

    Equi-join on route_key only (never cartesian across routes); the
    min() aggregates map-side before the final shuffle, so the
    exchange carries one row per (route, stop), not per candidate
    segment pair.
    """
    d = point_to_segment_m(
        F.col("__plat"), F.col("__plon"),
        F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
    )
    pairs = (
        stops.select(
            route_key,
            stop_key,
            F.col(lat).alias("__plat"),
            F.col(lon).alias("__plon"),
        )
        .join(segments, route_key)
        .select(route_key, stop_key, d.alias("__d"))
    )
    return (
        pairs.groupBy(route_key, stop_key)
        .agg(F.min("__d").alias("dist_m"))
        .withColumn("too_far", F.col("dist_m") > F.lit(max_m))
    )


def _segment_frame(
    plat: Column, plon: Column,
    lat1: Column, lon1: Column, lat2: Column, lon2: Column,
) -> dict[str, Column]:
    """Local-tangent-plane quantities shared by distance and chainage:
    segment vector (bx, by), point vector (px, py), clamped parametric
    foot t, and segment length — one expression spelling for
    point_to_segment_m and candidate_frame, so oracles replay them
    bit-for-bit."""
    coslat = F.cos(F.radians(lat1))
    bx = F.radians(lon2 - lon1) * coslat * EARTH_RADIUS_M
    by = F.radians(lat2 - lat1) * EARTH_RADIUS_M
    px = F.radians(plon - lon1) * coslat * EARTH_RADIUS_M
    py = F.radians(plat - lat1) * EARTH_RADIUS_M
    seg2 = bx * bx + by * by
    t_raw = F.when(seg2 > 0.0, (px * bx + py * by) / seg2).otherwise(F.lit(0.0))
    t = F.greatest(F.lit(0.0), F.least(F.lit(1.0), t_raw))
    dx = px - (F.lit(0.0) + t * bx)
    dy = py - (F.lit(0.0) + t * by)
    return {
        "t": t,
        "dist_m": F.sqrt(dx * dx + dy * dy),
        "len_m": F.sqrt(bx * bx + by * by),
    }


def candidate_frame(
    stops: DataFrame,
    segments: DataFrame,
    route_key: str,
    stop_key: str,
    lat: str = "lat",
    lon: str = "lon",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """One row per (stop, candidate segment of its route):
    (route_key, stop_key, carry..., seg_idx, dist_mm, chainage_mm) —
    the shared candidate projection under BOTH linear_reference
    (argmin) and spatial/match.py's Viterbi top-k. Keeping it in one
    place keeps the expression spelling bit-identical for every
    oracle that replays it (the mm quantization and the prefix-sum
    chainage must not drift between callers)."""
    carry = list(carry_cols or [])
    wseg = Window.partitionBy(route_key).orderBy("seg_idx")
    seg_geo = _segment_frame(
        F.lit(0.0), F.lit(0.0),
        F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
    )
    segs = segments.select(
        route_key, "seg_idx", "lat1", "lon1", "lat2", "lon2",
        F.round(seg_geo["len_m"] * 1000.0).cast("long").alias("__len_mm"),
    ).withColumn(
        "__chain0_mm",
        F.coalesce(
            F.sum("__len_mm").over(
                wseg.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ),
    )
    g = _segment_frame(
        F.col("__plat"), F.col("__plon"),
        F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
    )
    return (
        stops.select(
            route_key, stop_key, *carry,
            F.col(lat).alias("__plat"), F.col(lon).alias("__plon"),
        )
        .join(segs, route_key)
        .select(
            route_key, stop_key, *carry, "seg_idx",
            F.round(g["dist_m"] * 1000.0).cast("long").alias("dist_mm"),
            (
                F.col("__chain0_mm")
                + F.round(g["t"] * g["len_m"] * 1000.0).cast("long")
            ).alias("chainage_mm"),
        )
    )


def linear_reference(
    stops: DataFrame,
    segments: DataFrame,
    route_key: str,
    stop_key: str,
    lat: str = "lat",
    lon: str = "lon",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Chainage of each stop along its route: millimeters from the
    polyline start to the stop's nearest projected point — the linear
    referencing that turns geometric stop-order questions into integer
    comparisons.

    segments: output of :func:`segments_from_polylines` (seg_idx must
    be ordered along the route). Output: (route_key, stop_key,
    carry_cols..., dist_mm, seg_idx, chainage_mm).

    Determinism: per-segment lengths quantize to mm BEFORE the
    cumulative sum (exact integer prefix sum, engine-independent);
    the best segment per stop is the lexicographic min of
    (dist_mm, seg_idx, chainage_mm) via min(struct(...)) — a MAP-SIDE
    partial aggregate, so the shuffle carries one row per stop, not
    one per candidate segment (the k=1 kNN shape).
    """
    carry = list(carry_cols or [])
    cand = candidate_frame(
        stops, segments, route_key, stop_key, lat=lat, lon=lon,
        carry_cols=carry,
    ).select(
        route_key, stop_key, *carry,
        F.struct(
            F.col("dist_mm").alias("dist_mm"),
            F.col("seg_idx").alias("seg_idx"),
            F.col("chainage_mm").alias("chainage_mm"),
        ).alias("__c"),
    )
    return (
        cand.groupBy(route_key, stop_key)
        .agg(
            *[F.first(c).alias(c) for c in carry],
            F.min("__c").alias("__best"),
        )
        .select(
            route_key, stop_key, *carry,
            F.col("__best.dist_mm").alias("dist_mm"),
            F.col("__best.seg_idx").alias("seg_idx"),
            F.col("__best.chainage_mm").alias("chainage_mm"),
        )
    )


def stop_geometry_order(
    stops: DataFrame,
    segments: DataFrame,
    route_key: str,
    stop_key: str,
    seq_col: str,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Geometric stop-order audit — the set-based generalization of the
    reference's per-relation stop-order scan (pkg/validation
    stop_order_test.go expectations; run_stop_order replays it exactly
    for verdict parity): does the stops' MEMBER order (seq_col) agree
    with their projected order ALONG the route geometry?

    A stop is flagged out_of_order when its chainage is strictly less
    than the running maximum chainage of all earlier-sequence stops —
    i.e. the route would have to double back to serve it in member
    order. Integer mm comparisons only.

    Output: (route_key, stop_key, seq, dist_mm, chainage_mm,
    out_of_order INT).
    """
    ref = linear_reference(
        stops, segments, route_key, stop_key, lat=lat, lon=lon,
        carry_cols=[seq_col],
    )
    w = Window.partitionBy(route_key).orderBy(seq_col, stop_key)
    prev_max = F.max("chainage_mm").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    return ref.select(
        route_key, stop_key,
        F.col(seq_col).alias("seq"),
        "dist_mm", "chainage_mm",
        F.when(F.col("chainage_mm") < F.coalesce(prev_max, F.lit(0).cast("long")), 1)
        .otherwise(0)
        .cast("int")
        .alias("out_of_order"),
    )
