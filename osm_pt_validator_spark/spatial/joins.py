"""Spatial joins — G4 (cell-prefix shuffle join with explicit hot-cell
salting) and G5 (broadcast spatial join).

Why explicit salting when AQE has skew handling: urban cells are
Zipfian; the probe side (mentions from 10^12 pages) can put billions of
rows in one cell. AQE's skew-join splitting only kicks in at shuffle
materialization and not for all join types; salting the *key itself*
spreads the build of the hash table too. We measure, not assume: hot
keys come from a cheap sampled frequency estimate of the probe side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from osm_pt_validator_spark.functions.geo import (
    DEFAULT_RES,
    EARTH_RADIUS_M,
    cell,
    cell_i,
    cell_j,
    cell_window,
    haversine_m,
)

METERS_PER_DEG_LAT = EARTH_RADIUS_M * math.pi / 180.0
#: seeded probe-side sample used to estimate hot keys
_HOT_SAMPLE_FRACTION = 0.01
#: cap on distance_join's per-row longitude ring (pathological rows)
_MAX_LON_RING = 64


def with_cell(df: DataFrame, lat: str = "lat", lon: str = "lon", res: int = DEFAULT_RES,
              out: str = "cell") -> DataFrame:
    return df.withColumn(out, cell(F.col(lat), F.col(lon), res))


def broadcast_cell_join(
    probe: DataFrame, build: DataFrame, res: int = DEFAULT_RES,
    probe_lat: str = "lat", probe_lon: str = "lon",
    build_lat: str = "lat", build_lon: str = "lon",
) -> DataFrame:
    """G5: equi-join on cell with the small side broadcast — zero
    shuffle on the probe side. Use when the build side (e.g. the stops
    dim) fits in the broadcast threshold."""
    p = with_cell(probe, probe_lat, probe_lon, res, "cell")
    b = with_cell(build, build_lat, build_lon, res, "cell")
    return p.join(broadcast(b.withColumnRenamed("cell", "b_cell")),
                  p["cell"] == F.col("b_cell"), "inner").drop("b_cell")


def hot_keys(probe: DataFrame, key: str, threshold: int) -> DataFrame:
    """Estimate keys whose probe-side frequency exceeds `threshold`
    from a 1% sample (seeded — deterministic). Returns a single-column
    DF of hot key values, intended for broadcast."""
    scaled = max(1.0, threshold * _HOT_SAMPLE_FRACTION)
    return (
        probe.sample(fraction=_HOT_SAMPLE_FRACTION, seed=42)
        .groupBy(key)
        .count()
        .filter(F.col("count") >= scaled)
        .select(key)
    )


def salted_equi_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    salt_factor: int = 16,
    hot: DataFrame | None = None,
    hot_threshold: int = 1_000_000,
    probe_salt_col: str | None = None,
) -> DataFrame:
    """Skew-safe inner equi-join on `key`.

    * hot keys (measured on the probe side unless given): probe rows get
      ``salt = pmod(hash(<salt source>), salt_factor)``; build rows for
      hot keys are replicated salt_factor times via explode(sequence).
    * cold keys: salt = 0 on both sides (no replication).

    The salt source defaults to a deterministic hash of all probe
    columns; pass `probe_salt_col` (e.g. 'url') for a stable identity
    column — required for reproducible lineage.

    The build side is hinted SHUFFLE_HASH. NB the hint is resolved
    BEFORE size-based broadcast selection, so it FORCES a shuffled hash
    join — it is never upgraded to broadcast, and the probe side always
    shuffles. That is the right trade here because salting exists
    precisely for probe sides too hot/large for broadcast to matter and
    build slices that are per-partition small by construction (hashing
    the build skips sort-merge's O(n log n) sort of the huge probe).

    NB when `hot` (or the default probe-frequency estimate) derives
    from `probe` and `probe` is itself an expensive pipeline (e.g.
    freshly-extracted mentions), persist `probe` first — otherwise the
    hot-key scan and the join each recompute it.
    """
    if hot is None:
        hot = hot_keys(probe, key, hot_threshold)
    hot_b = broadcast(hot.withColumn("__is_hot", F.lit(True)))

    salt_src = (
        F.col(probe_salt_col)
        if probe_salt_col
        else F.concat_ws("\x1f", *[F.col(c).cast("string") for c in probe.columns])
    )
    p = (
        probe.join(hot_b, key, "left")
        .withColumn(
            "__salt",
            F.when(
                F.col("__is_hot").isNotNull(),
                F.pmod(F.xxhash64(salt_src), F.lit(salt_factor)),
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("__is_hot")
    )
    b = (
        build.join(hot_b, key, "left")
        .withColumn(
            "__salts",
            F.when(
                F.col("__is_hot").isNotNull(),
                F.sequence(F.lit(0), F.lit(salt_factor - 1)).cast("array<long>"),
            ).otherwise(F.array(F.lit(0).cast("long"))),
        )
        .drop("__is_hot")
        .withColumn("__salt", F.explode("__salts"))
        .drop("__salts")
        .hint("SHUFFLE_HASH")
    )
    return p.join(b, [key, "__salt"], "inner").drop("__salt")


def resolution_for_distance(max_dist_m: float) -> int:
    """Largest grid resolution whose cell HEIGHT still covers
    ``max_dist_m`` — the latitude ring of :func:`distance_join` is then
    always 1 cell, so candidate fan-out stays at its minimum."""
    res = int(math.floor(math.log2(180.0 * METERS_PER_DEG_LAT / max_dist_m)))
    return max(0, min(28, res))


def distance_join(
    left: DataFrame,
    right: DataFrame,
    max_dist_m: float,
    res: int | None = None,
    left_lat: str = "lat",
    left_lon: str = "lon",
    right_lat: str = "lat",
    right_lon: str = "lon",
    broadcast_right: bool = False,
) -> DataFrame:
    """All (left, right) pairs within ``max_dist_m`` meters (inclusive)
    — the radius join that kNN does not express (kNN bounds the COUNT
    per probe; this bounds the DISTANCE, with 0..n matches per row).

    Plan shape: candidate generation is a per-row neighbourhood of grid
    cells on the left side (array algebra, no shuffle), an equi-join on
    the packed cell (one shuffle, or zero with ``broadcast_right``),
    then the exact haversine filter. Never a cartesian product, never a
    theta-join: at 100 TB the only thing that moves is (left rows ×
    small constant fan-out) through a hash join.

    Correctness of candidate recall:

    * latitude: cells at resolution ``res`` span ``cell_h_m`` meters of
      latitude; the i-ring is ``ceil(max_dist_m / cell_h_m)`` cells, so
      any pair within the budget shares an i window. With the default
      auto-resolution the ring is exactly 1.
    * longitude: a cell's WIDTH in meters shrinks with cos(lat), so the
      j-ring must widen per row — computed from the worst-case latitude
      the pair can reach (|row lat| + the distance budget in degrees),
      clamped at 85°. Polar-cap data (|lat| > 85°) is outside the
      recall contract — use a coarser ``res`` there.

    The per-row j-ring is also the skew story: equatorial rows fan out
    to 3 cells, arctic rows to more — paying the fan-out only where
    geometry demands it instead of sizing the whole grid for the worst
    latitude. The ring is capped at 64 cells for pathological rows.

    Right-side columns whose names collide with left's are suffixed
    ``_r`` in the output. Output adds ``distance_m``.
    """
    if res is None:
        res = resolution_for_distance(max_dist_m)
    cell_h_m = 180.0 / (1 << res) * METERS_PER_DEG_LAT
    ki = max(1, math.ceil(max_dist_m / cell_h_m))
    dlat_deg = max_dist_m / METERS_PER_DEG_LAT

    lat_c = F.col(left_lat)
    worst_lat = F.least(F.abs(lat_c) + F.lit(dlat_deg), F.lit(85.0))
    cell_w_m = F.lit(2.0 * cell_h_m) * F.cos(F.radians(worst_lat))
    kj = F.least(
        F.ceil(F.lit(float(max_dist_m)) / cell_w_m), F.lit(_MAX_LON_RING)
    ).cast("int")

    i, j = cell_i(lat_c, res), cell_j(F.col(left_lon), res)
    lf = left.withColumn("__cell", F.explode(cell_window(i, j, ki, kj, res)))

    renames = {c: (c + "_r" if c in left.columns else c) for c in right.columns}
    rt = right.select([F.col(c).alias(renames[c]) for c in right.columns])
    r_lat, r_lon = renames[right_lat], renames[right_lon]
    rt = rt.withColumn("__cell", cell(F.col(r_lat), F.col(r_lon), res))
    if broadcast_right:
        rt = broadcast(rt)

    return (
        lf.join(rt, "__cell", "inner")
        .withColumn(
            "distance_m",
            haversine_m(F.col(left_lat), F.col(left_lon), F.col(r_lat), F.col(r_lon)),
        )
        .filter(F.col("distance_m") <= F.lit(float(max_dist_m)))
        .drop("__cell")
    )
