"""Engine-exact k-means (Lloyd) — the "train the IVF index" step.

operators/similarity.py's IVF search partitions by centroid but derives
its centroids from md5 (deterministic, not data-adaptive). This module
supplies real Lloyd iterations with a twist that matters for a
verifiable engine: ALL arithmetic is integer-exact, so the result is
bit-reproducible across engines, partitionings, and runs — a DuckDB
oracle replays every iteration to the same centroids.

* embeddings quantize to fixed-point int64 (``round(x * SCALE)``);
* squared distance is a sum of int64 products (64 dims at |q| <= 2e6
  keeps |v-c|^2 <= 2.6e14, far inside int64 — and inside double's 2^53
  exact-integer range, so even a dot-product-based replay is exact);
* assignment is argmin with ties broken on centroid id (min(struct));
* the new centroid is floor(sum / count) per dimension — exact integer
  division, no float summation order to disagree about.

:func:`lloyd` is the one Lloyd loop: kmeans_fixed_point runs it over
one space, operators/pq.py's pq_train over one space per subspace.

Scale shape per iteration: assignment is a broadcast join (k centroids
are always a dim table) followed by the same min(struct) partial
aggregation as the kNN k=1 fast path — the shuffle carries ONE row per
vector, not k. Recompute is posexplode -> map-side-combining sum/count
on (cid, dim) — shuffle bounded by k x dim, not the corpus. Float
k-means would need the same plan; fixed-point costs nothing extra and
buys exactness.

Empty clusters (possible in Lloyd) simply drop out of the next round —
the standard behaviour; callers wanting constant k re-seed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

# fixed-point scale: 6 decimal digits, the precision every oracle replays
SCALE = 1e6


def quantize(vec):
    """array<float> -> array<long> fixed-point (round half away from
    zero — the rounding both Spark and DuckDB apply)."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * F.lit(SCALE)).cast("long")
    )


def sq_dist(a, b):
    """Integer-exact squared L2 between two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def lloyd(
    points: DataFrame, space: tuple[str, ...], k: int, iters: int
) -> tuple[DataFrame, DataFrame | None]:
    """``iters`` integer Lloyd rounds over ``points`` (id, *space,
    v array<long>), each space clustered on its own; init per space:
    the k smallest ids, cid in id order. Returns (centroids (*space,
    cid, cv, n), last-round assignments (id, *space, cid, v)); with
    iters < 1, the seeds (no n) and None. Space columns join, group and
    partition only when there are any: one space is a plain cross join
    grouped by id."""
    w = Window.partitionBy(*space).orderBy("id")
    cents = (
        points.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(*space, (F.col("__rn") - 1).alias("cid"), F.col("v").alias("cv"))
    )
    assigned = None
    for _ in range(iters):
        c = broadcast(cents.select(*space, "cid", "cv"))
        scored = points.join(c, list(space)) if space else points.crossJoin(c)
        assigned = (
            scored.withColumn("__d", sq_dist(F.col("v"), F.col("cv")))
            .groupBy("id", *space)
            .agg(F.min(F.struct("__d", "cid", "v")).alias("__best"))
            .select(
                "id",
                *space,
                F.col("__best.cid").alias("cid"),
                F.col("__best.v").alias("v"),
            )
        )
        cents = (
            assigned.select(*space, "cid", F.posexplode("v").alias("pos", "val"))
            .groupBy(*space, "cid", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn(
                "cval", F.floor(F.col("s").cast("double") / F.col("n")).cast("long")
            )
            .groupBy(*space, "cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "cval"))),
                    lambda st: st["cval"],
                ).alias("cv"),
                F.first("n").alias("n"),
            )
        )
    return cents, assigned


def kmeans_fixed_point(
    vectors: DataFrame, k: int = 4, iters: int = 2
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) after ``iters`` Lloyd rounds over
    (vec_id, embedding).

    centroids: (cid, cv array<long>, n) — n the member count of the
    round that produced the centroid. assignments: (id, cid) for every
    input vector. Init: the k smallest ids, cid in id order.
    """
    if iters < 1:
        raise ValueError(f"kmeans_fixed_point needs iters >= 1, got {iters}")
    points = vectors.select(
        F.col("vec_id").alias("id"), quantize(F.col("embedding")).alias("v")
    )
    centroids, assigned = lloyd(points, (), k, iters)
    return centroids, assigned.select("id", "cid")


def centroids_for_ivf(centroids: DataFrame) -> DataFrame:
    """Bridge to the IVF search path: de-quantize trained centroids to
    the (centroid_id, centroid_vec array<double>) shape
    operators/similarity.py:ivf_assign consumes."""
    return centroids.select(
        F.col("cid").alias("centroid_id"),
        F.transform(
            F.col("cv"), lambda x: x.cast("double") / F.lit(SCALE)
        ).alias("centroid_vec"),
    )
