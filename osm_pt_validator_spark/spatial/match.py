"""Map matching: snap noisy GPS trajectories to route geometries via
Viterbi over per-point candidate segments.

Nearest-segment snapping (spatial/proximity.py:linear_reference) fails
on the classic case: a noisy point sits nearer to a DIFFERENT part of
the route (a parallel leg, a loop) than to the leg the vehicle is on.
Map matching fixes it with sequence context — pick the candidate PATH
minimizing emission (point-to-segment distance) plus transition
(disagreement between along-route movement and straight-line GPS
movement), the standard HMM formulation (Newson-Krumm) with integer
costs.

Engine shape:
  * candidate generation is SET-BASED: stops x their route's segments
    (equi-join on the route key — never cross-route), per-point top-k
    by (dist_mm, seg_idx) — a WindowGroupLimit-pruned rank window;
  * the Viterbi DP is sequential per trajectory — the data-dependent
    engine class of way_order/simplify/hull: group-level Python over
    Arrow batches after ONE trajectory shuffle.

Determinism: every cost is int64 (mm) — emission = dist_mm,
transition = |chainage_move - gps_move_mm| — and ties break by the
smallest candidate seg_idx at every argmin, so the matched path is
unique and replayable (the contract oracle unrolls the same DP as
chained SQL CTEs for fixed-length trajectories).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.geo import EARTH_RADIUS_M, udeg


def match_candidates(
    stops: DataFrame,
    segments: DataFrame,
    route_key: str,
    stop_key: str,
    k: int = 3,
) -> DataFrame:
    """Top-k candidate segments per point: (route_key, stop_key,
    cand_rank, seg_idx, dist_mm, chainage_mm). The candidate
    projection is proximity.candidate_frame — the SAME expression tree
    linear_reference argmins over — with a WindowGroupLimit-pruned
    rank window keeping k candidates instead of one."""
    from osm_pt_validator_spark.spatial.proximity import candidate_frame

    cand = candidate_frame(stops, segments, route_key, stop_key)
    w = Window.partitionBy(route_key, stop_key).orderBy(
        F.col("dist_mm").asc(), F.col("seg_idx").asc()
    )
    return (
        cand.withColumn("cand_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("cand_rank") <= k)
    )


def viterbi_match(
    points: DataFrame,
    segments: DataFrame,
    route_key: str,
    point_key: str,
    seq_col: str,
    k: int = 3,
    emission_weight: int = 2,
    transition_weight: int = 1,
) -> DataFrame:
    """Viterbi map matching of each route's point sequence.

    points:   (route_key, point_key, seq_col, lat, lon)
    segments: (route_key, seg_idx, lat1, lon1, lat2, lon2) ordered
    Output:   (route_key, point_key, seq, matched_seg_idx, dist_mm,
               chainage_mm, path_cost_mm — the trajectory's total).

    Cost model (all int64 mm): emission(point, cand) = dist_mm *
    emission_weight; transition(prev_cand, cand) =
    |(chainage - prev_chainage) - gps_move_mm| * transition_weight,
    where gps_move is the straight-line haversine between consecutive
    GPS points — the integer analog of Newson-Krumm's Gaussian-emission
    / exponential-transition weighting (their sigma/beta ratio becomes
    the integer weight ratio; the default 2:1 keeps a noisy point on
    its leg instead of detouring to a parallel leg). Ties at every
    argmin break by smaller seg_idx (then smaller prev seg_idx), so
    the matched path is unique.
    """
    cands = match_candidates(points, segments, route_key, point_key, k=k)
    pts = points.select(
        route_key, point_key, F.col(seq_col).alias("__seq"),
        udeg(F.col("lat")).alias("__la"), udeg(F.col("lon")).alias("__lo"),
    )
    joined = pts.join(cands, [route_key, point_key]).select(
        route_key, point_key, "__seq", "__la", "__lo",
        "cand_rank", "seg_idx", "dist_mm", "chainage_mm",
    )
    per_traj = joined.groupBy(route_key).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "__seq", F.col(point_key).alias("pk"), "cand_rank",
                    "seg_idx", "dist_mm", "chainage_mm", "__la", "__lo",
                )
            )
        ).alias("rows")
    )
    key_type = points.schema[route_key].dataType.simpleString()
    pk_type = points.schema[point_key].dataType.simpleString()
    seq_type = points.schema[seq_col].dataType.simpleString()
    out_schema = (
        f"{route_key} {key_type}, {point_key} {pk_type}, seq {seq_type}, "
        "matched_seg_idx long, dist_mm long, chainage_mm long, "
        "path_cost_mm long"
    )

    import math

    def gps_mm(a, b) -> int:
        la1, lo1 = a[0] / 1e6, a[1] / 1e6
        la2, lo2 = b[0] / 1e6, b[1] / 1e6
        dlat = math.radians(la2 - la1)
        dlon = math.radians(lo2 - lo1)
        x = (
            math.sin(dlat / 2) ** 2
            + math.cos(math.radians(la1))
            * math.cos(math.radians(la2))
            * math.sin(dlon / 2) ** 2
        )
        return round(2.0 * EARTH_RADIUS_M * math.asin(math.sqrt(x)) * 1000.0)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rk, rows in zip(pdf[pdf.columns[0]], pdf["rows"]):
                # group candidate rows by point, in seq order
                by_pt: dict = {}
                order = []
                for s in rows:
                    key = (s["__seq"], s["pk"])
                    if key not in by_pt:
                        by_pt[key] = []
                        order.append(key)
                    by_pt[key].append(
                        (
                            int(s["seg_idx"]),
                            int(s["dist_mm"]),
                            int(s["chainage_mm"]),
                            (int(s["__la"]), int(s["__lo"])),
                        )
                    )
                if not order:
                    continue
                # candidates per point sorted by seg_idx for stable ties
                seqs = [sorted(by_pt[kk]) for kk in order]
                # Viterbi
                we, wt = emission_weight, transition_weight
                cost = [c[1] * we for c in seqs[0]]
                back: list[list[int]] = []
                for i in range(1, len(seqs)):
                    move = gps_mm(seqs[i - 1][0][3], seqs[i][0][3])
                    ncost, nback = [], []
                    for seg, emis, chain, _ in seqs[i]:
                        best, bidx = None, 0
                        for p, (pseg, _, pchain, _) in enumerate(seqs[i - 1]):
                            trans = abs((chain - pchain) - move) * wt
                            c = cost[p] + trans
                            if best is None or c < best or (
                                c == best and seqs[i - 1][p][0] < seqs[i - 1][bidx][0]
                            ):
                                best, bidx = c, p
                        ncost.append(best + emis * we)
                        nback.append(bidx)
                    cost = ncost
                    back.append(nback)
                # backtrack from the min terminal cost (tie: min seg_idx)
                last = min(
                    range(len(seqs[-1])), key=lambda c: (cost[c], seqs[-1][c][0])
                )
                total = cost[last]
                picks = [0] * len(seqs)
                picks[-1] = last
                for i in range(len(seqs) - 1, 0, -1):
                    picks[i - 1] = back[i - 1][picks[i]]
                for i, kk in enumerate(order):
                    seg, emis, chain, _ = seqs[i][picks[i]]
                    out.append((rk, kk[1], kk[0], seg, emis, chain, total))
            yield pd.DataFrame(
                out,
                columns=[
                    route_key, point_key, "seq", "matched_seg_idx",
                    "dist_mm", "chainage_mm", "path_cost_mm",
                ],
            )

    return per_traj.mapInPandas(run, schema=out_schema)
