"""Recall check for the bench kNN legs' grid resolution.

knn_join's contract (spatial/knn.py) is exact top-k *given* that the
k-ring covers the k-th-neighbour distance; `res` only controls the
candidate volume. This script checks, for the bench dims
(`bench._knn_dims`) at a given sf_dir, that each resolution returns the
SAME rows as a brute-force reference — cross join of the two dims,
haversine, rank by (distance, stop_id) — with a full sorted-tuple
compare at k=1 and k=2. It also prints the ring's margin per axis: the
degrees of latitude and of longitude a ring=1 window is guaranteed to
cover beyond the probe's cell (one whole cell), against the extent on
that axis of the largest k-th-neighbour distance (its disk must fit in
the window for top-k recall).

    python scripts/knn_res_check.py [sf_dir] [res ...]   # default sf0.1, 13 14

Exit code 0 iff every resolution matches brute force.
"""

from __future__ import annotations

import math
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    resolutions = [int(r) for r in sys.argv[2:]] or [13, 14]

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from osm_pt_validator_spark.functions.geo import haversine_m
    from osm_pt_validator_spark.session import get_spark
    from osm_pt_validator_spark.spatial.joins import METERS_PER_DEG_LAT
    from osm_pt_validator_spark.spatial.knn import knn_join

    import bench

    spark = get_spark("knn-res-check")
    spark.sparkContext.setLogLevel("ERROR")
    c, s = bench._knn_dims(spark, sf)

    def brute_force(k: int):
        b = s.select(
            "stop_id", F.col("lat").alias("slat"), F.col("lon").alias("slon")
        )
        w = Window.partitionBy("c_custkey").orderBy("distance_m", "stop_id")
        ranked = (
            c.crossJoin(b)
            .withColumn(
                "distance_m",
                haversine_m(F.col("lat"), F.col("lon"), F.col("slat"), F.col("slon")),
            )
            .withColumn("knn_rank", F.row_number().over(w))
            .filter(F.col("knn_rank") <= k)
        )
        rows = ranked.select(
            "c_custkey", "stop_id", "knn_rank", "distance_m", "lat"
        ).collect()
        want = sorted((r.c_custkey, r.stop_id, r.knn_rank) for r in rows)
        # the k-th-neighbour disk in degrees per axis; longitude at the
        # most poleward latitude the disk reaches
        d_max = max(r.distance_m for r in rows)
        dlat = d_max / METERS_PER_DEG_LAT
        lat_max = max(abs(r.lat) for r in rows) + dlat
        dlon = dlat / math.cos(math.radians(lat_max))
        return want, d_max, dlat, dlon

    def run(res: int, k: int):
        df = knn_join(
            c, s, probe_key="c_custkey", build_key="stop_id", k=k, ring=1, res=res
        ).select("c_custkey", "stop_id", "knn_rank")
        t0 = time.time()
        rows = df.collect()
        dt = time.time() - t0
        return sorted((r.c_custkey, r.stop_id, r.knn_rank) for r in rows), dt

    ok = True
    for k in (1, 2):
        want, d_max, dlat, dlon = brute_force(k)
        print(
            f"k={k} brute force: {len(want)} rows; largest k-th-neighbour distance "
            f"{d_max:.0f} m = {dlat:.5f} deg lat, {dlon:.5f} deg lon",
            flush=True,
        )
        for res in resolutions:
            got, t = run(res, k)
            same = got == want
            ok = ok and same
            # a ring=1 window reaches at least one whole cell past the
            # probe's own cell on each axis
            cell_lat, cell_lon = 180.0 / (1 << res), 360.0 / (1 << res)
            print(
                f"  res{res}: {len(got)} rows {t:.2f}s | matches brute force={same} | "
                f"ring covers {cell_lat:.5f} deg lat ({cell_lat / dlat:.2f}x), "
                f"{cell_lon:.5f} deg lon ({cell_lon / dlon:.2f}x)",
                flush=True,
            )
            if not same:
                print(f"    first diffs: {sorted(set(got) ^ set(want))[:10]}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
