"""Spatial layer vs independent Python oracles."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.geo import (
    cell,
    cell_parent,
    haversine_m,
    kring_cells,
    make_morton_udf,
    morton_parent,
    tile_x,
    tile_y,
)
from osm_pt_validator_spark.spatial.joins import (
    broadcast_cell_join,
    salted_equi_join,
)
from osm_pt_validator_spark.spatial.knn import knn_join
from osm_pt_validator_spark.spatial.pip import points_in_polygons
from osm_pt_validator_spark.spatial.tiles import failure_heatmap

PTS = [
    (1, 55.95, -3.19),  # Edinburgh
    (2, 51.5074, -0.1278),  # London
    (3, -33.8688, 151.2093),  # Sydney
    (4, 90.0, 180.0),  # grid edge
    (5, -90.0, -180.0),
]


def oracle_cell(lat, lon, res):
    n = 1 << res
    i = min(n - 1, max(0, math.floor((lat + 90) / 180 * n)))
    j = min(n - 1, max(0, math.floor((lon + 180) / 360 * n)))
    return (i << 32) | j


def oracle_tile(lat, lon, z):
    n = 1 << z
    x = min(n - 1, max(0, math.floor((lon + 180) / 360 * n)))
    lr = math.radians(lat)
    y = min(
        n - 1,
        max(0, math.floor((1 - math.log(math.tan(lr) + 1 / math.cos(lr)) / math.pi) / 2 * n)),
    )
    return x, y


def oracle_haversine(lat1, lon1, lat2, lon2):
    r = 6371000.0
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * r * math.asin(math.sqrt(a))


@pytest.fixture(scope="module")
def pts_df(spark):
    return spark.createDataFrame(PTS, "point_id long, lat double, lon double")


def test_cell_vs_oracle(spark, pts_df):
    rows = pts_df.withColumn("c", cell(F.col("lat"), F.col("lon"), 16)).collect()
    for r in rows:
        assert r.c == oracle_cell(r.lat, r.lon, 16), r.point_id


def test_cell_parent_consistency(spark, pts_df):
    rows = (
        pts_df.withColumn("c16", cell(F.col("lat"), F.col("lon"), 16))
        .withColumn("c12", cell(F.col("lat"), F.col("lon"), 12))
        .withColumn("p", cell_parent(F.col("c16"), 4))
        .collect()
    )
    for r in rows:
        assert r.p == r.c12


def test_kring_contains_self_and_clips(spark, pts_df):
    rows = pts_df.withColumn("c", cell(F.col("lat"), F.col("lon"), 16)).withColumn(
        "ring", kring_cells(F.col("c"), 1, 16)
    ).collect()
    for r in rows:
        assert r.c in r.ring
        # interior points get the full 9; edge points get clipped
        assert len(r.ring) in (4, 6, 9)
        assert len(set(r.ring)) == len(r.ring)


@pytest.mark.parametrize("k", [1, 2])
def test_kring_is_the_row_major_clipped_window(spark, k):
    """Every cell of the res-2 grid (corners, edges, interior): the ring
    equals the Python row-major enumeration of the clipped window,
    element for element."""
    n = 4
    cells = [(i << 32) | j for i in range(n) for j in range(n)]
    df = spark.createDataFrame([(c,) for c in cells], "c long")
    got = {
        r.c: r.ring
        for r in df.select("c", kring_cells(F.col("c"), k, 2).alias("ring")).collect()
    }
    for c in cells:
        i, j = c >> 32, c & 0xFFFFFFFF
        want = [
            (a << 32) | b
            for a in range(i - k, i + k + 1)
            if 0 <= a < n
            for b in range(j - k, j + k + 1)
            if 0 <= b < n
        ]
        assert got[c] == want, (i, j)


def test_kring_of_null_cell_is_empty(spark):
    df = spark.createDataFrame([(None,)], "c long")
    assert df.select(F.explode(kring_cells(F.col("c"), 1, 16))).count() == 0


def test_haversine_vs_oracle(spark):
    df = spark.createDataFrame(
        [(55.95, -3.19, 51.5074, -0.1278)], "a double, b double, c double, d double"
    )
    got = df.select(
        haversine_m(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("m")
    ).collect()[0].m
    exp = oracle_haversine(55.95, -3.19, 51.5074, -0.1278)
    assert abs(got - exp) < 1e-6
    assert 530_000 < got < 545_000  # sanity: Edinburgh-London ~535 km


def test_tiles_vs_oracle(spark, pts_df):
    z = 12
    rows = pts_df.filter(F.col("lat").between(-85, 85)).withColumn(
        "x", tile_x(F.col("lon"), z)
    ).withColumn("y", tile_y(F.col("lat"), z)).collect()
    for r in rows:
        x, y = oracle_tile(r.lat, r.lon, z)
        assert (r.x, r.y) == (x, y), r.point_id


def test_morton_parent_hierarchy(spark, pts_df):
    m16 = make_morton_udf(16)
    m12 = make_morton_udf(12)
    rows = (
        pts_df.withColumn("z16", m16(F.col("lat"), F.col("lon")))
        .withColumn("z12", m12(F.col("lat"), F.col("lon")))
        .withColumn("p", morton_parent(F.col("z16"), 4))
        .collect()
    )
    for r in rows:
        assert r.p == r.z12, r.point_id


def _grid_points(spark, n=200):
    rows = [
        (i, 55.90 + (i % 20) * 1e-3, -3.30 + (i // 20) * 1e-3) for i in range(n)
    ]
    return rows, spark.createDataFrame(rows, "point_id long, lat double, lon double")


def test_knn_vs_bruteforce(spark):
    probe_rows, probe = _grid_points(spark, 60)
    build_rows = [(100 + i, 55.90 + i * 1.7e-3, -3.30 + i * 1.3e-3) for i in range(12)]
    build = spark.createDataFrame(build_rows, "stop_id long, lat double, lon double")

    got = knn_join(
        probe, build, probe_key="point_id", build_key="stop_id", k=2, ring=3, res=14
    ).select("point_id", "stop_id", "knn_rank").collect()
    got_map: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r.point_id, r.knn_rank)):
        got_map.setdefault(r.point_id, []).append(r.stop_id)

    # brute force oracle (only checks points whose true 2NN are within
    # the ring radius — ring=3 at res=14 covers ~2km here, all of them)
    for pid, plat, plon in probe_rows:
        dists = sorted(
            (oracle_haversine(plat, plon, blat, blon), bid)
            for bid, blat, blon in build_rows
        )
        expected = [bid for _, bid in dists[:2]]
        assert got_map.get(pid, []) == expected, pid


def test_knn_probe_partitions_parity_and_plan(spark):
    # probe_partitions is a pure physical knob: it must add a
    # round-robin exchange BEFORE the ring explosion (so a one-split
    # probe scan can't serialize the candidate work) without changing
    # a single output row.
    probe_rows, probe = _grid_points(spark, 60)
    build_rows = [(100 + i, 55.90 + i * 1.7e-3, -3.30 + i * 1.3e-3) for i in range(12)]
    build = spark.createDataFrame(build_rows, "stop_id long, lat double, lon double")

    kwargs = dict(probe_key="point_id", build_key="stop_id", k=2, ring=3, res=14)
    base = knn_join(probe, build, **kwargs)
    spread = knn_join(probe, build, probe_partitions=8, **kwargs)

    key = lambda r: (r.point_id, r.knn_rank, r.stop_id)
    assert sorted(map(key, base.select("point_id", "stop_id", "knn_rank").collect())) == \
        sorted(map(key, spread.select("point_id", "stop_id", "knn_rank").collect()))

    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning(8" in plan


def test_pip_vs_oracle(spark):
    # a concave polygon (arrow shape) around the fixture area
    xs = [-3.300, -3.290, -3.290, -3.295, -3.290, -3.290, -3.300]
    ys = [55.900, 55.900, 55.904, 55.905, 55.906, 55.910, 55.910]
    polygons = spark.createDataFrame(
        [(1, xs, ys)], "polygon_id long, xs array<double>, ys array<double>"
    )
    pts_rows, pts = _grid_points(spark, 200)

    def oracle_pip(px, py):
        inside = False
        n = len(xs)
        for a in range(n):
            b = (a + 1) % n
            x1, y1, x2, y2 = xs[a], ys[a], xs[b], ys[b]
            if (y1 > py) != (y2 > py):
                x_at = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
                if px < x_at:
                    inside = not inside
        return inside

    got = {
        r.point_id
        for r in points_in_polygons(pts, polygons, res=12).collect()
    }
    expected = {pid for pid, lat, lon in pts_rows if oracle_pip(lon, lat)}
    assert expected, "oracle found no inside points — bad test setup"
    assert got == expected


def test_broadcast_cell_join_and_heatmap(spark):
    rows, probe = _grid_points(spark, 50)
    build = spark.createDataFrame(
        [(1, rows[0][1], rows[0][2])], "stop_id long, lat double, lon double"
    )
    j = broadcast_cell_join(probe, build, res=18)
    assert j.count() >= 1
    hm = failure_heatmap(probe, z=15).collect()
    assert sum(r.n for r in hm) == 50


def test_salted_join_matches_plain_join(spark):
    rows, probe = _grid_points(spark, 200)
    probe = probe.withColumn("k", (F.col("point_id") % 3).cast("long"))
    build = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "c"), (2, "d")], "k long, v string"
    )
    hot = spark.createDataFrame([(0,)], "k long")  # force key 0 hot
    salted = salted_equi_join(
        probe, build, "k", salt_factor=4, hot=hot, probe_salt_col="point_id"
    )
    plain = probe.join(build, "k")
    a = sorted((r.point_id, r.v) for r in salted.collect())
    b = sorted((r.point_id, r.v) for r in plain.collect())
    assert a == b


def test_pip_broadcast_and_salted_paths_agree(spark):
    """De-skew contract: a single polygon containing 10^5 candidate
    points completes on BOTH paths with identical output — the
    broadcast path with no grouping shuffle at all, the salted path
    fanned out over salt_buckets tasks instead of one."""
    xs = [-3.300, -3.290, -3.290, -3.295, -3.290, -3.290, -3.300]
    ys = [55.900, 55.900, 55.904, 55.905, 55.906, 55.910, 55.910]
    polygons = spark.createDataFrame(
        [(1, xs, ys)], "polygon_id long, xs array<double>, ys array<double>"
    )
    n = 100_000
    pts = spark.range(n).select(
        F.col("id").alias("point_id"),
        (55.900 + (F.col("id") % 317) * (0.010 / 317)).alias("lat"),
        (-3.300 + ((F.col("id") * 7) % 331) * (0.010 / 331)).alias("lon"),
    )

    bcast = points_in_polygons(pts, polygons, res=12, broadcast_polygons=True)
    salted = points_in_polygons(
        pts, polygons, res=12, broadcast_polygons=False, salt_buckets=16
    )

    # plan shape: broadcast path streams (MapInPandas), no
    # per-polygon grouped exchange; salted path groups on the salted key
    bplan = bcast._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in bplan
    assert "MapInPandas" in bplan
    splan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in splan

    got_b = {r.point_id for r in bcast.collect()}
    got_s = {r.point_id for r in salted.collect()}
    assert got_b == got_s
    assert 0 < len(got_b) < n


def test_knn_k1_fast_path_parity_and_plan(spark):
    """k=1 routes through the min(struct) partial aggregation: results
    must equal brute-force nearest (same tie-break), and the plan must
    be a HashAggregate — not a rank Window, which cannot partial-reduce."""
    from osm_pt_validator_spark.spatial.knn import knn_join

    rows, probe = _grid_points(spark, 120)
    build_rows = [(i, 55.9 + i * 2.3e-4, -3.3 + i * 1.7e-4) for i in range(25)]
    build = spark.createDataFrame(build_rows, "stop_id long, lat double, lon double")

    out = knn_join(probe, build, "point_id", "stop_id", k=1, ring=1, res=14)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the load-bearing property: a partial min BEFORE the exchange, so
    # the shuffle carries one row per probe, not every candidate.
    # (min(struct) plans as SortAggregate — struct buffers aren't
    # hash-aggregable — but partial aggregation is what matters here.)
    assert "partial_min" in plan, plan

    got = {r.point_id: (r.stop_id, r.distance_m) for r in out.collect()}
    assert got, "no matches — bad test geometry"

    import math

    def hav(lat1, lon1, lat2, lon2):
        return 2 * 6371000.0 * math.asin(math.sqrt(
            math.sin(math.radians(lat2 - lat1) / 2) ** 2
            + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
            * math.sin(math.radians(lon2 - lon1) / 2) ** 2))

    for pid, plat, plon in rows:
        if pid not in got:
            continue  # nearest build cell outside the k-ring — allowed
        best = min((round(hav(plat, plon, blat, blon), 6), bid)
                   for bid, blat, blon in build_rows)
        assert got[pid][0] == best[1], (pid, got[pid], best)


def test_tile_bounds_roundtrip_contains_point(spark):
    """Raster->vector inverse: every point must lie inside the bbox of
    the tile it rasterized into (west<=lon<east, south<lat<=north)."""
    from pyspark.sql import functions as F

    from osm_pt_validator_spark.spatial.tiles import heatmap_vector

    pts = spark.createDataFrame(
        [(55.95, -3.19), (51.5074, -0.1278), (-33.8688, 151.2093), (0.0, 0.0)],
        "lat double, lon double",
    )
    v = heatmap_vector(pts, z=12)
    feats = v.collect()
    assert sum(r["n"] for r in feats) == 4
    # join points back to their tile bbox and assert containment
    joined = pts.crossJoin(v).filter(
        (F.col("lon") >= F.col("west")) & (F.col("lon") < F.col("east"))
        & (F.col("lat") > F.col("south")) & (F.col("lat") <= F.col("north"))
    )
    assert joined.count() == 4
    for r in feats:
        assert r["west"] < r["east"] and r["south"] < r["north"]


def test_tile_pyramid_invariants(spark, tmp_path):
    """Pyramid rollup: (a) every zoom level's counts sum to the total
    point count; (b) each child tile's parent at the next-coarser zoom
    is present with n >= child n; (c) the corpus is scanned once."""
    import re

    from osm_pt_validator_spark.spatial.tiles import tile_pyramid
    from tests.test_plans import plan_of

    _, pts = _grid_points(spark, n=300)
    path = str(tmp_path / "pyr_pts")
    pts.write.mode("overwrite").parquet(path)
    pyr = tile_pyramid(spark.read.parquet(path), z_max=12, z_min=8)
    rows = pyr.collect()
    by_z = {}
    for r in rows:
        by_z.setdefault(r.tile_z, {})[(r.tile_x, r.tile_y)] = r.n
    assert sorted(by_z) == [8, 9, 10, 11, 12]
    for z, tiles in by_z.items():
        assert sum(tiles.values()) == 300, z
    for z in range(12, 8, -1):
        for (x, y), n in by_z[z].items():
            assert by_z[z - 1][(x >> 1, y >> 1)] >= n
    plan = plan_of(pyr)
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 1, f"pyramid must scan the input once:\n{plan}"


def test_point_to_segment_distance_geometry(spark):
    """Closed-form point-to-segment distance: on-line points -> ~0;
    perpendicular offsets -> ~haversine of the offset; beyond an
    endpoint the clamp measures to the endpoint, not the infinite
    line."""
    from pyspark.sql import functions as F

    from osm_pt_validator_spark.spatial.proximity import point_to_segment_m

    lat0 = 55.95
    # 1 deg lon at lat0 ~ 62.3 km; use small offsets
    cases = [
        # (plat, plon, lat1, lon1, lat2, lon2, expected_m, tol_m)
        (lat0, -3.10, lat0, -3.20, lat0, -3.00, 0.0, 0.01),       # on the line
        (lat0 + 0.001, -3.10, lat0, -3.20, lat0, -3.00, 111.2, 0.5),  # perp ~111 m
        (lat0, -3.30, lat0, -3.20, lat0, -3.00, 6232.0, 40.0),    # beyond A -> clamp
        (lat0, -3.20, lat0, -3.20, lat0, -3.20, 0.0, 0.01),       # degenerate A==B
        (lat0 + 0.001, -3.20, lat0, -3.20, lat0, -3.20, 111.2, 0.5),
    ]
    df = spark.createDataFrame(
        [c[:6] for c in cases],
        "plat double, plon double, lat1 double, lon1 double, lat2 double, lon2 double",
    )
    got = df.select(
        point_to_segment_m(
            F.col("plat"), F.col("plon"),
            F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
        ).alias("d")
    ).collect()
    for (exp, tol), r in zip([(c[6], c[7]) for c in cases], got):
        assert abs(r.d - exp) < tol, (exp, r.d)


def test_stop_route_proximity_fixture_routes(spark):
    """A two-segment route with one on-route stop and one offset stop:
    only the offset stop is flagged, and its distance matches the
    perpendicular offset."""
    from pyspark.sql import functions as F  # noqa: F401

    from osm_pt_validator_spark.spatial.proximity import (
        segments_from_polylines,
        stop_route_proximity,
    )

    verts = spark.createDataFrame(
        [(1, 0, 55.95, -3.20), (1, 1, 55.95, -3.10), (1, 2, 55.96, -3.10)],
        "route_id long, seq long, lat double, lon double",
    )
    segs = segments_from_polylines(verts, "route_id", "seq")
    assert segs.count() == 2
    stops = spark.createDataFrame(
        [(1, 10, 55.95, -3.15),        # mid first segment -> 0 m
         (1, 11, 55.9545, -3.15)],     # 0.0045 deg (~500 m) north of it
        "route_id long, stop_id long, lat double, lon double",
    )
    out = {
        r.stop_id: r
        for r in stop_route_proximity(
            stops, segs, "route_id", "stop_id", max_m=25.0
        ).collect()
    }
    assert out[10].dist_m < 0.01 and not out[10].too_far
    assert 495.0 < out[11].dist_m < 505.0 and out[11].too_far


def test_distance_join_vs_bruteforce(spark):
    from osm_pt_validator_spark.spatial.joins import distance_join

    probe_rows, probe = _grid_points(spark, 80)
    build_rows = [(100 + i, 55.90 + i * 1.7e-3, -3.30 + i * 1.3e-3) for i in range(12)]
    build = spark.createDataFrame(build_rows, "stop_id long, blat double, blon double")

    d = 250.0
    got = sorted(
        (r.point_id, r.stop_id, round(r.distance_m, 6))
        for r in distance_join(
            probe, build, d, right_lat="blat", right_lon="blon"
        ).collect()
    )
    want = sorted(
        (pid, bid, round(oracle_haversine(plat, plon, blat, blon), 6))
        for pid, plat, plon in probe_rows
        for bid, blat, blon in build_rows
        if oracle_haversine(plat, plon, blat, blon) <= d
    )
    assert got == want and len(want) > 10


def test_distance_join_high_latitude_widens_lon_ring(spark):
    """At 84°N a fixed 1-cell j-ring would MISS an eastward neighbour
    ~4 narrow cells away; the per-row cos(lat)-adaptive ring must catch
    it (and brute force agrees)."""
    from osm_pt_validator_spark.spatial.joins import distance_join

    # 500 m east at 84°N is 500 / (111194.93 * cos(84°)) ≈ 0.043° lon
    left = spark.createDataFrame(
        [(1, 84.0, 20.0)], "lid long, lat double, lon double"
    )
    right = spark.createDataFrame(
        [(10, 84.0, 20.043), (11, 84.0, 20.30)],
        "rid long, lat double, lon double",
    )
    got = sorted(
        r.rid for r in distance_join(left, right, 600.0).collect()
    )
    assert got == [10]
    # sanity: the match really is several cells east at the auto res
    from osm_pt_validator_spark.spatial.joins import (
        METERS_PER_DEG_LAT,
        resolution_for_distance,
    )
    res = resolution_for_distance(600.0)
    n = 1 << res
    cells_east = 0.043 / (360.0 / n)
    assert cells_east > 2.0


def test_distance_join_no_cartesian_in_plan(spark):
    from osm_pt_validator_spark.spatial.joins import distance_join

    _, probe = _grid_points(spark, 20)
    build = spark.createDataFrame(
        [(1, 55.9, -3.3)], "stop_id long, blat double, blon double"
    )
    plan = distance_join(
        probe, build, 300.0, right_lat="blat", right_lon="blon",
        broadcast_right=True,
    )._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_zonal_stats_vs_python_oracle(spark):
    from osm_pt_validator_spark.spatial.zones import zonal_stats

    # two disjoint rectangles over the fixture grid
    zones = [
        (1, [-3.300, -3.295, -3.295, -3.300], [55.900, 55.900, 55.905, 55.905]),
        (2, [-3.294, -3.290, -3.290, -3.294], [55.905, 55.905, 55.912, 55.912]),
    ]
    polygons = spark.createDataFrame(
        zones, "polygon_id long, xs array<double>, ys array<double>"
    )
    rows, pts = _grid_points(spark, 200)
    pts = pts.withColumn("val", F.col("point_id") * 10)

    got = {
        r.polygon_id: (r.n_points, r.value_sum)
        for r in zonal_stats(pts, polygons, value_col="val", res=12).collect()
    }

    def inside(px, py, xs, ys):
        c, n = False, len(xs)
        for a in range(n):
            b = (a + 1) % n
            if (ys[a] > py) != (ys[b] > py) and px < xs[a] + (py - ys[a]) / (
                ys[b] - ys[a]
            ) * (xs[b] - xs[a]):
                c = not c
        return c

    want = {}
    for pid, plat, plon in rows:
        for zid, xs, ys in zones:
            if inside(plon, plat, xs, ys):
                n, s = want.get(zid, (0, 0))
                want[zid] = (n + 1, s + pid * 10)
    assert got == want and len(want) == 2


def test_hotspot_clusters_vs_python_oracle(spark):
    from osm_pt_validator_spark.spatial.zones import hotspot_clusters

    # three dense blobs: two touching diagonally (merge via 8-adjacency),
    # one far away; plus a sparse singleton point below min_count
    base = []
    for k, (la, lo) in enumerate([(55.900, -3.300), (55.9017, -3.2983), (55.95, -3.20)]):
        base += [(100 * k + i, la + (i % 2) * 1e-4, lo + (i // 2) * 1e-4) for i in range(4)]
    base.append((999, 55.88, -3.35))  # alone, below min_count
    pts = spark.createDataFrame(base, "point_id long, lat double, lon double")

    res = 15
    got = sorted(
        (r.n_cells, r.n_points)
        for r in hotspot_clusters(pts, res=res, min_count=2).collect()
    )

    # python oracle: same grid, same adjacency, same min_count
    def enc(la, lo):
        n = 1 << res
        i = min(n - 1, max(0, int((la + 90.0) / 180.0 * n)))
        j = min(n - 1, max(0, int((lo + 180.0) / 360.0 * n)))
        return (i, j)

    from collections import Counter

    counts = Counter(enc(la, lo) for _, la, lo in base)
    hot = {c for c, n in counts.items() if n >= 2}
    parent = {c: c for c in hot}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (i, j) in hot:
        for di in (-1, 0, 1):
            for dj in (-1, 0, 1):
                nb = (i + di, j + dj)
                if nb != (i, j) and nb in hot:
                    ra, rb = find((i, j)), find(nb)
                    if ra != rb:
                        parent[rb] = ra
    clusters = {}
    for c in hot:
        r = find(c)
        ncells, npts = clusters.get(r, (0, 0))
        clusters[r] = (ncells + 1, npts + counts[c])
    want = sorted(clusters.values())
    assert got == want and len(want) >= 2


def test_compact_uncompact_roundtrip_and_minimality(spark):
    from osm_pt_validator_spark.spatial.compact import (
        compact_cells,
        uncompact_cells,
    )

    res = 6
    # a full 4x4 block (compacts two levels), a full 2x2 block (one
    # level), plus two stragglers that must stay at res
    cells = set()
    for i in range(8, 12):
        for j in range(16, 20):
            cells.add((i << 32) | j)
    cells |= {(20 << 32) | 30, (20 << 32) | 31, (21 << 32) | 30, (21 << 32) | 31}
    cells |= {(40 << 32) | 2, (50 << 32) | 63}
    df = spark.createDataFrame([(c,) for c in cells], "cell long")

    compacted = compact_cells(df, res=res, min_res=3)
    got = {(r.cell, r.res) for r in compacted.collect()}

    # the 4x4 block is one res-4 cell (8>>2=2, 16>>2=4), the 2x2 block
    # one res-5 cell (20>>1=10, 30>>1=15), stragglers stay at res 6
    assert got == {
        ((2 << 32) | 4, 4),
        ((10 << 32) | 15, 5),
        ((40 << 32) | 2, 6),
        ((50 << 32) | 63, 6),
    }

    # uncompact is the exact preimage
    back = {r.cell for r in uncompact_cells(compacted, res=res).collect()}
    assert back == cells

    # idempotence: compacting an already-minimal cover changes nothing
    again = {
        (r.cell, r.res)
        for r in compact_cells(
            compacted.select("cell"), res=res, min_res=3
        ).collect()
        if r.res == 6
    }
    assert ((40 << 32) | 2, 6) in again


def test_zone_geometry_square_exact(spark):
    import math

    from osm_pt_validator_spark.spatial.zones import zone_geometry

    # 0.01-degree square at the origin and its reversed (CW) twin:
    # area must be orientation-independent, centroid exact
    xs = [0.0, 0.01, 0.01, 0.0]
    ys = [0.0, 0.0, 0.01, 0.01]
    polys = spark.createDataFrame(
        [(1, xs, ys), (2, list(reversed(xs)), list(reversed(ys)))],
        "polygon_id long, xs array<double>, ys array<double>",
    )
    got = {r["polygon_id"]: r for r in zone_geometry(polys).collect()}
    for pid in (1, 2):
        r = got[pid]
        assert r["n_vertices"] == 4
        # shoelace x2 of a 10000x10000 micro-degree square
        assert r["area2_udeg2"] == 2 * 10000 * 10000
        assert r["centroid_lon_udeg"] == 5000
        assert r["centroid_lat_udeg"] == 5000

    def hav(y1, x1, y2, x2):
        dlat = math.radians(y2 - y1)
        dlon = math.radians(x2 - x1)
        a = (
            math.sin(dlat / 2) ** 2
            + math.cos(math.radians(y1))
            * math.cos(math.radians(y2))
            * math.sin(dlon / 2) ** 2
        )
        return 2 * 6371000.0 * math.asin(math.sqrt(a))

    want_mm = sum(
        round(
            hav(ys[a], xs[a], ys[(a + 1) % 4], xs[(a + 1) % 4]) * 1000.0
        )
        for a in range(4)
    )
    # python round is half-even vs Spark's half-up; edges here are not
    # on .5 boundaries so the totals agree exactly
    assert got[1]["perimeter_mm"] == want_mm


def test_simplify_polylines_dp_properties(spark):
    import numpy as np

    from osm_pt_validator_spark.spatial.simplify import (
        dp_keep_mask,
        simplify_polylines,
    )

    # pure-python recursive reference (independent implementation)
    def ref_dp(xs, ys, eps):
        n = len(xs)
        keep = [False] * n
        keep[0] = keep[-1] = True

        def rec(a, b):
            if b - a < 2:
                return
            ax, ay, bx, by = xs[a], ys[a], xs[b], ys[b]
            dx, dy = bx - ax, by - ay
            seg2 = dx * dx + dy * dy
            best, bd2 = -1, eps * eps
            for m in range(a + 1, b):
                if seg2 > 0:
                    c = (xs[m] - ax) * dy - (ys[m] - ay) * dx
                    d2 = c * c / seg2
                else:
                    d2 = (xs[m] - ax) ** 2 + (ys[m] - ay) ** 2
                if d2 > bd2:
                    best, bd2 = m, d2
            if best >= 0:
                keep[best] = True
                rec(a, best)
                rec(best, b)

        rec(0, n - 1)
        return keep

    rng = np.random.RandomState(3)
    for trial in range(20):
        n = rng.randint(2, 40)
        xs = np.cumsum(rng.rand(n)).tolist()
        ys = (rng.randn(n) * rng.choice([0.1, 1.0])).tolist()
        eps = float(rng.choice([0.05, 0.5, 2.0]))
        got = dp_keep_mask(
            np.asarray(xs), np.asarray(ys), eps
        ).tolist()
        assert got == ref_dp(xs, ys, eps), (trial, xs, ys, eps)

    # Spark path: idempotence + endpoint invariants on a fixed line
    lines = spark.createDataFrame(
        [(1, [0.0, 1.0, 2.0, 3.0, 4.0], [0.0, 0.0, 2.0, 0.0, 0.0])],
        "line_id long, xs array<double>, ys array<double>",
    )
    once = simplify_polylines(lines, eps_deg=0.8).collect()[0]
    assert once["n_in"] == 5 and once["n_out"] == 3
    assert once["xs"][0] == 0.0 and once["xs"][-1] == 4.0
    again = simplify_polylines(
        spark.createDataFrame(
            [(1, once["xs"], once["ys"])],
            "line_id long, xs array<double>, ys array<double>",
        ),
        eps_deg=0.8,
    ).collect()[0]
    assert again["xs"] == once["xs"] and again["ys"] == once["ys"]


def test_simplify_polylines_string_id_and_custom_names(spark):
    from osm_pt_validator_spark.spatial.simplify import simplify_polylines

    lines = spark.createDataFrame(
        [("shape:42", [0.0, 1.0, 2.0], [0.0, 5.0, 0.0])],
        "shape_id string, lons array<double>, lats array<double>",
    )
    out = simplify_polylines(
        lines, eps_deg=0.5, line_id="shape_id", xs_col="lons", ys_col="lats"
    ).collect()[0]
    assert out["shape_id"] == "shape:42"
    assert out["n_out"] == 3 and out["lons"] == [0.0, 1.0, 2.0]


def test_cell_polyfill_vs_python_oracle(spark):
    from osm_pt_validator_spark.spatial.polyfill import cell_polyfill

    # rectangle + non-axis-aligned triangle (exercises the slanted-edge
    # crossing terms) at a res where each spans a handful of cells
    polys = [
        (1, [-3.300, -3.260, -3.260, -3.300], [55.900, 55.900, 55.950, 55.950]),
        (2, [-3.250, -3.190, -3.220], [55.900, 55.900, 55.960]),
    ]
    res = 15
    df = spark.createDataFrame(
        polys, "polygon_id long, xs array<double>, ys array<double>"
    )
    got = {(r.polygon_id, r.cell) for r in cell_polyfill(df, res=res).collect()}

    def inside(px, py, xs, ys):
        c, n = False, len(xs)
        for a in range(n):
            b = (a + 1) % n
            if (ys[a] > py) != (ys[b] > py) and px < xs[a] + (py - ys[a]) / (
                ys[b] - ys[a]
            ) * (xs[b] - xs[a]):
                c = not c
        return c

    n = 1 << res

    def idx(v, off, span):
        return max(0, min(n - 1, int(math.floor((v + off) / span * n))))

    want = set()
    for pid, xs, ys in polys:
        for i in range(idx(min(ys), 90.0, 180.0), idx(max(ys), 90.0, 180.0) + 1):
            for j in range(idx(min(xs), 180.0, 360.0), idx(max(xs), 180.0, 360.0) + 1):
                py = (i + 0.5) / n * 180.0 - 90.0
                px = (j + 0.5) / n * 360.0 - 180.0
                if inside(px, py, xs, ys):
                    want.add((pid, (i << 32) | j))
    assert got == want and len(want) > 20
    # adjacent-polygon partition property: center rule assigns each cell
    # to at most one of two edge-sharing polygons
    shared = [
        (1, [-3.300, -3.260, -3.260, -3.300], [55.900, 55.900, 55.950, 55.950]),
        (2, [-3.260, -3.220, -3.220, -3.260], [55.900, 55.900, 55.950, 55.950]),
    ]
    sdf = spark.createDataFrame(
        shared, "polygon_id long, xs array<double>, ys array<double>"
    )
    cells = cell_polyfill(sdf, res=res).groupBy("cell").count().collect()
    assert all(r["count"] == 1 for r in cells)


def test_cell_polyfill_map_only_plan(spark):
    from osm_pt_validator_spark.spatial.polyfill import cell_polyfill

    df = spark.createDataFrame(
        [(1, [-3.3, -3.2, -3.2, -3.3], [55.9, 55.9, 56.0, 56.0])],
        "polygon_id long, xs array<double>, ys array<double>",
    )
    plan = (
        cell_polyfill(df, res=12)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # polyfill is a pure generator+projection pipeline: zero shuffles
    assert "Exchange" not in plan


def test_shared_segments_vs_python_oracle(spark):
    from osm_pt_validator_spark.spatial.trajectory import shared_segments

    # 20 trajectories over a 4x4 street grid — deterministic pseudo-walk
    rows = []
    for u in range(20):
        gi, gj = u % 4, (u * 3) % 4
        for t in range(10):
            gi = (gi + (u + t) % 3 - 1) % 4
            gj = (gj + (u * t) % 3 - 1) % 4
            rows.append((u, t, 55.9 + gi * 0.001, -3.3 + gj * 0.001))
    pts = spark.createDataFrame(rows, "u long, ts long, lat double, lon double")
    got = {
        (r.la1, r.lo1, r.la2, r.lo2): r.n_trajs
        for r in shared_segments(pts, "u", ["ts"]).collect()
    }

    per_user: dict[int, list[tuple[int, int]]] = {}
    for u, t, la, lo in sorted(rows):
        per_user.setdefault(u, []).append((round(la * 1e6), round(lo * 1e6)))
    counts: dict[tuple, int] = {}
    for u, path in per_user.items():
        segs = set()
        for a, b in zip(path, path[1:]):
            if a != b:
                segs.add(tuple(min(a, b) + max(a, b)))
        for s in segs:
            counts[s] = counts.get(s, 0) + 1
    want = {k: v for k, v in counts.items() if v >= 2}
    assert got == want and len(want) > 5


def test_turn_profile_hand_case(spark):
    from osm_pt_validator_spark.spatial.trajectory import turn_profile

    rows = [
        # L-shaped walk: stationary ping (collapsed), right turn, reversal
        (1, 1, 55.900, -3.300), (1, 2, 55.901, -3.300), (1, 3, 55.901, -3.300),
        (1, 4, 55.902, -3.300), (1, 5, 55.902, -3.299), (1, 6, 55.902, -3.300),
        # straight north walk
        (2, 1, 55.902, -3.300), (2, 2, 55.901, -3.300), (2, 3, 55.900, -3.300),
        # single point: zero-length path, no turns
        (3, 1, 55.9, -3.3),
    ]
    pts = spark.createDataFrame(rows, "u long, ts long, lat double, lon double")
    out = {r.u: r for r in turn_profile(pts, "u", ["ts"]).collect()}
    r1 = out[1]
    assert (r1.n_points, r1.n_left, r1.n_right, r1.n_straight, r1.n_reversals) == (
        5, 0, 1, 1, 1
    )
    assert r1.path_mm > r1.chord_mm > 0
    r2 = out[2]
    assert (r2.n_points, r2.n_straight, r2.n_reversals) == (3, 1, 0)
    assert r2.path_mm == r2.chord_mm  # straight line: tortuosity 1
    r3 = out[3]
    assert (r3.n_points, r3.path_mm, r3.chord_mm) == (1, 0, 0)


def test_trajectory_single_shuffle_plan(spark):
    from osm_pt_validator_spark.spatial.trajectory import turn_profile

    pts = spark.createDataFrame(
        [(1, 1, 55.9, -3.3)], "u long, ts long, lat double, lon double"
    )
    plan = (
        turn_profile(pts, "u", ["ts"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # ONE exchange (the traj_id groupBy); everything after is array algebra
    assert plan.count("Exchange") == 1


def test_segment_intersection_vs_brute_python(spark):
    import itertools

    from osm_pt_validator_spark.spatial.intersect import segment_intersection_join

    def mksegs(n, mula, mulb, base):
        out = []
        for i in range(n):
            la = 55.9 + ((i * mula) % 89) * 0.001
            lo = -3.3 + ((i * mulb) % 97) * 0.001
            dla = (((i * 7) % 5) - 2) * 0.0008
            dlo = (((i * 11) % 5) - 2) * 0.0008
            out.append((base + i, la, lo, la + dla, lo + dlo))
        return out

    A, B = mksegs(150, 13, 29, 0), mksegs(80, 17, 23, 1000)
    schema = "seg_id long, lat1 double, lon1 double, lat2 double, lon2 double"
    a, b = spark.createDataFrame(A, schema), spark.createDataFrame(B, schema)
    got = sorted(tuple(r) for r in segment_intersection_join(a, b, res=13).collect())

    def q(v):
        return round(v * 1e6)

    def crossp(o, p, r):
        return (p[0] - o[0]) * (r[1] - o[1]) - (p[1] - o[1]) * (r[0] - o[0])

    def on_seg(p, r, x):
        return (
            min(p[0], r[0]) <= x[0] <= max(p[0], r[0])
            and min(p[1], r[1]) <= x[1] <= max(p[1], r[1])
        )

    def inter(s, t):
        p1 = (q(s[2]), q(s[1]))
        p2 = (q(s[4]), q(s[3]))
        q1 = (q(t[2]), q(t[1]))
        q2 = (q(t[4]), q(t[3]))
        d1, d2 = crossp(q1, q2, p1), crossp(q1, q2, p2)
        d3, d4 = crossp(p1, p2, q1), crossp(p1, p2, q2)
        if ((d1 > 0) != (d2 > 0) and d1 != 0 and d2 != 0) and (
            (d3 > 0) != (d4 > 0) and d3 != 0 and d4 != 0
        ):
            return True
        return (
            (d1 == 0 and on_seg(q1, q2, p1))
            or (d2 == 0 and on_seg(q1, q2, p2))
            or (d3 == 0 and on_seg(p1, p2, q1))
            or (d4 == 0 and on_seg(p1, p2, q2))
        )

    want = sorted((s[0], t[0]) for s, t in itertools.product(A, B) if inter(s, t))
    assert got == want and len(want) >= 5
    # coarser res (bigger cells, more candidates, fewer cover cells)
    # must give identical output — candidate generation is res-invariant
    got12 = sorted(
        tuple(r) for r in segment_intersection_join(a, b, res=12).collect()
    )
    assert got12 == want


def test_segment_intersection_touch_and_collinear_cases(spark):
    from osm_pt_validator_spark.spatial.intersect import segment_intersection_join

    schema = "seg_id long, lat1 double, lon1 double, lat2 double, lon2 double"
    a = spark.createDataFrame(
        [
            (1, 55.900, -3.300, 55.910, -3.300),  # vertical
            (2, 55.905, -3.310, 55.905, -3.290),  # horizontal: proper cross w/1
            (3, 55.920, -3.300, 55.930, -3.300),  # collinear with 1, disjoint
            (4, 55.910, -3.300, 55.915, -3.295),  # endpoint-touches 1
        ],
        schema,
    )
    got = sorted(
        tuple(r)
        for r in segment_intersection_join(a, a, res=13, left_id="seg_id", right_id="seg_id").collect()
    )
    pairs = {(l, r) for l, r in got if l < r}
    assert (1, 2) in pairs  # proper crossing
    assert (1, 4) in pairs  # endpoint touch counts
    assert (1, 3) not in pairs  # collinear but disjoint
    # every segment intersects itself (self-join sanity)
    assert all((i, i) in got for i in (1, 2, 3, 4))


def test_segment_intersection_no_cartesian_plan(spark):
    from osm_pt_validator_spark.spatial.intersect import segment_intersection_join

    schema = "seg_id long, lat1 double, lon1 double, lat2 double, lon2 double"
    a = spark.createDataFrame([(1, 55.9, -3.3, 55.91, -3.29)], schema)
    plan = (
        segment_intersection_join(a, a, res=13)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_linear_reference_and_stop_order_hand_case(spark):
    from osm_pt_validator_spark.spatial.proximity import (
        linear_reference,
        segments_from_polylines,
        stop_geometry_order,
    )

    # straight east route along lat 55.9, 4 vertices 0.001 deg apart
    verts = [(1, i, 55.9, -3.3 + i * 0.001) for i in range(4)]
    vdf = spark.createDataFrame(verts, "route_id long, seq long, lat double, lon double")
    segs = segments_from_polylines(vdf, "route_id", "seq")
    stops = spark.createDataFrame(
        [
            (1, 101, 1, 55.9001, -3.29985),  # ~9 m along
            (1, 102, 2, 55.9001, -3.2976),  # ~150 m along
            (1, 103, 3, 55.9001, -3.29855),  # ~90 m: doubles back
            (1, 104, 4, 55.8999, -3.29725),  # ~171 m along
        ],
        "route_id long, stop_id long, mseq long, lat double, lon double",
    )
    ref = {
        r.stop_id: r
        for r in linear_reference(
            stops, segs, "route_id", "stop_id", carry_cols=["mseq"]
        ).collect()
    }
    # chainage is monotone in true along-position and lands on the
    # right segment (62.3 m per segment)
    assert ref[101].seg_idx == 0 and 8_000 < ref[101].chainage_mm < 11_000
    assert ref[102].seg_idx == 2 and 148_000 < ref[102].chainage_mm < 151_000
    assert ref[103].seg_idx == 1 and 89_000 < ref[103].chainage_mm < 92_000
    # all stops are 0.0001 deg off the line: ~11.1 m
    assert all(11_000 < r.dist_mm < 11_300 for r in ref.values())

    order = {
        r.stop_id: r.out_of_order
        for r in stop_geometry_order(
            stops, segs, "route_id", "stop_id", "mseq"
        ).collect()
    }
    assert order == {101: 0, 102: 0, 103: 1, 104: 0}


def test_linear_reference_partial_agg_plan(spark):
    from osm_pt_validator_spark.spatial.proximity import (
        linear_reference,
        segments_from_polylines,
    )

    verts = [(1, i, 55.9, -3.3 + i * 0.001) for i in range(3)]
    vdf = spark.createDataFrame(verts, "route_id long, seq long, lat double, lon double")
    stops = spark.createDataFrame(
        [(1, 9, 55.9, -3.2995)], "route_id long, stop_id long, lat double, lon double"
    )
    plan = (
        linear_reference(
            stops, segments_from_polylines(vdf, "route_id", "seq"),
            "route_id", "stop_id",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # min(struct) must partial-aggregate (HashAggregate pair), never a
    # rank window over all candidate segments
    assert "partial_min" in plan or "partial_first" in plan


def test_convex_hull_vs_python_properties(spark):
    from osm_pt_validator_spark.spatial.hull import convex_hull, monotone_chain

    # pure-function sanity: square with interior + collinear edge point
    sq = [(0, 0), (10, 0), (10, 10), (0, 10), (5, 5), (5, 0)]
    assert monotone_chain(sq) == [(0, 0), (10, 0), (10, 10), (0, 10)]
    # all-collinear degenerates to the two extremes
    assert monotone_chain([(0, 0), (2, 2), (5, 5), (1, 1)]) == [(0, 0), (5, 5)]

    # dataframe path: every input point lies inside-or-on the hull,
    # every hull vertex is an input point, hull is convex (CCW turns)
    rows = [
        (g, i, 55.9 + ((i * 13 + g) % 50) * 1e-3, -3.3 + ((i * 7 + 2 * g) % 60) * 1e-3)
        for g in range(3)
        for i in range(40)
    ]
    pts = spark.createDataFrame(rows, "g long, i long, lat double, lon double")
    hull_rows = convex_hull(pts, "g").collect()
    by_g: dict[int, list[tuple[int, int]]] = {}
    for r in sorted(hull_rows, key=lambda r: (r.g, r.hull_seq)):
        by_g.setdefault(r.g, []).append((r.x_udeg, r.y_udeg))
    inputs = {
        g: {(round(lon * 1e6), round(lat * 1e6)) for gg, _, lat, lon in rows if gg == g}
        for g in range(3)
    }

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    for g, hull in by_g.items():
        assert set(hull) <= inputs[g]
        n = len(hull)
        assert n >= 3
        # strictly convex and CCW: every consecutive turn is a left turn
        for k in range(n):
            assert cross(hull[k], hull[(k + 1) % n], hull[(k + 2) % n]) > 0
        # containment: every input point is left-of-or-on every edge
        for p in inputs[g]:
            for k in range(n):
                assert cross(hull[k], hull[(k + 1) % n], p) >= 0
        # starts at the lexicographic minimum
        assert hull[0] == min(hull)


def test_focal_mean_vs_python_oracle(spark):
    from osm_pt_validator_spark.spatial.tiles import focal_mean

    res = 4  # tiny grid (16x16) so corner/edge clipping is exercised
    n = 1 << res
    raw = [(0, 0, 5), (0, 1, 7), (1, 0, 1), (8, 8, 9), (15, 15, 4)]
    rows = [((i << 32) | j, v) for i, j, v in raw]
    df = spark.createDataFrame(rows, "cell long, n long")
    got = {
        r.cell: (r.n_present, r.sum_val, r.mean_scaled)
        for r in focal_mean(df, res=res, value_col="n").collect()
    }

    want_sum: dict[int, list] = {}
    for i, j, v in raw:
        for di in (-1, 0, 1):
            for dj in (-1, 0, 1):
                ti, tj = i + di, j + dj
                if 0 <= ti < n and 0 <= tj < n:
                    c = (ti << 32) | tj
                    s = want_sum.setdefault(c, [0, 0])
                    s[0] += 1
                    s[1] += v
    want = {}
    for c, (cnt, s) in want_sum.items():
        ti, tj = c >> 32, c & 0xFFFFFFFF
        ki = 3 - (ti == 0) - (ti == n - 1)
        kj = 3 - (tj == 0) - (tj == n - 1)
        want[c] = (cnt, s, (s * 100) // (ki * kj))
    assert got == want
    # corner cell (0,0) has kernel 4: mean of {5,7,1} + implicit 0
    assert got[0] == (3, 13, 325)


def test_convex_hull_string_group_key(spark):
    from osm_pt_validator_spark.spatial.hull import convex_hull

    pts = spark.createDataFrame(
        [("r1", 55.9, -3.3), ("r1", 55.91, -3.3), ("r1", 55.9, -3.29), ("r1", 55.905, -3.295)],
        "route string, lat double, lon double",
    )
    out = convex_hull(pts, "route").collect()
    assert {r.route for r in out} == {"r1"} and len(out) == 3


def test_segment_intersection_cover_uses_quantized_coords(spark):
    """A segment whose µdeg quantization crosses a cell boundary must
    still meet its touching partner (regression: covers derived from
    raw doubles missed the pair the quantized exact test accepts)."""
    from osm_pt_validator_spark.spatial.intersect import segment_intersection_join

    res = 13
    boundary = 6645 * 180.0 / (1 << res) - 90.0  # an exact row boundary
    schema = "seg_id long, lat1 double, lon1 double, lat2 double, lon2 double"
    # L sits 2e-7 BELOW the boundary (raw cover row 6644) but rounds UP
    # to it in µdeg; R starts just above the boundary — quantized they touch
    l_lat = boundary - 2e-7
    a = spark.createDataFrame([(1, l_lat, -3.31, l_lat, -3.29)], schema)
    b = spark.createDataFrame(
        [(2, boundary + 1e-7, -3.30, boundary + 0.002, -3.30)], schema
    )
    got = [tuple(r) for r in segment_intersection_join(a, b, res=res).collect()]
    # the quantized geometries share the point (round both lats to µdeg)
    assert round(l_lat * 1e6) == round((boundary + 1e-7) * 1e6)
    assert got == [(1, 2)]


def _py_viterbi(cands_by_pt, moves, we=2, wt=1):
    """Independent Viterbi replay: cands_by_pt = [[(seg, emis, chain)]],
    moves = gps mm between consecutive points."""
    cost = [c[1] * we for c in cands_by_pt[0]]
    back = []
    for i in range(1, len(cands_by_pt)):
        ncost, nback = [], []
        for seg, emis, chain in cands_by_pt[i]:
            best, bidx = None, 0
            for p, (pseg, _, pchain) in enumerate(cands_by_pt[i - 1]):
                c = cost[p] + abs((chain - pchain) - moves[i - 1]) * wt
                if best is None or c < best or (
                    c == best and pseg < cands_by_pt[i - 1][bidx][0]
                ):
                    best, bidx = c, p
            ncost.append(best + emis * we)
            nback.append(bidx)
        cost = ncost
        back.append(nback)
    last = min(range(len(cost)), key=lambda c: (cost[c], cands_by_pt[-1][c][0]))
    picks = [0] * len(cands_by_pt)
    picks[-1] = last
    for i in range(len(cands_by_pt) - 1, 0, -1):
        picks[i - 1] = back[i - 1][picks[i]]
    return picks, cost[last]


def test_viterbi_map_match_beats_nearest_and_replays(spark):
    from osm_pt_validator_spark.spatial.match import (
        match_candidates,
        viterbi_match,
    )
    from osm_pt_validator_spark.spatial.proximity import (
        linear_reference,
        segments_from_polylines,
    )

    # out-and-back route: outbound east on lat 55.900 (segs 0-2),
    # connector north (seg 3), return west on lat 55.902 (segs 4-6)
    verts = [(1, i, 55.900, -3.300 + i * 0.001) for i in range(4)] + [
        (1, 4 + i, 55.902, -3.297 - i * 0.001) for i in range(4)
    ]
    vdf = spark.createDataFrame(verts, "route_id long, seq long, lat double, lon double")
    segs = segments_from_polylines(vdf, "route_id", "seq")
    pts = spark.createDataFrame(
        [
            (1, 1, 1, 55.9000, -3.2998),
            (1, 2, 2, 55.9011, -3.2988),  # noisy: return leg is NEARER
            (1, 3, 3, 55.9001, -3.2978),
        ],
        "route_id long, pid long, ts long, lat double, lon double",
    )
    nearest = {r.pid: r.seg_idx for r in linear_reference(pts, segs, "route_id", "pid").collect()}
    assert nearest[2] >= 4  # nearest-segment jumps to the return leg
    got = {
        r.pid: (r.matched_seg_idx, r.dist_mm, r.chainage_mm, r.path_cost_mm)
        for r in viterbi_match(pts, segs, "route_id", "pid", "ts", k=5).collect()
    }
    assert [got[p][0] for p in (1, 2, 3)] == [0, 1, 2]  # stays outbound

    # exact parity with the independent python DP on the engine's own
    # candidate table
    cand_rows = match_candidates(pts, segs, "route_id", "pid", k=5).collect()
    cbp: dict[int, list] = {}
    for r in cand_rows:
        cbp.setdefault(r.pid, []).append((r.seg_idx, r.dist_mm, r.chainage_mm))
    cands = [sorted(cbp[p]) for p in (1, 2, 3)]

    import math

    def mv(a, b):
        q = lambda v: round(v * 1e6) / 1e6  # noqa: E731
        la1, lo1, la2, lo2 = q(a[0]), q(a[1]), q(b[0]), q(b[1])
        dlat, dlon = math.radians(la2 - la1), math.radians(lo2 - lo1)
        x = (
            math.sin(dlat / 2) ** 2
            + math.cos(math.radians(la1)) * math.cos(math.radians(la2))
            * math.sin(dlon / 2) ** 2
        )
        return round(2.0 * 6371000.0 * math.asin(math.sqrt(x)) * 1000.0)

    coords = [(55.9000, -3.2998), (55.9011, -3.2988), (55.9001, -3.2978)]
    moves = [mv(coords[0], coords[1]), mv(coords[1], coords[2])]
    picks, total = _py_viterbi(cands, moves)
    for i, p in enumerate((1, 2, 3)):
        seg, emis, chain = cands[i][picks[i]]
        assert got[p] == (seg, emis, chain, total)


def test_od_flows_vs_python_oracle(spark):
    from osm_pt_validator_spark.spatial.trajectory import od_flows

    rows = []
    for u in range(6):
        gi, gj = u % 3, (u * 2) % 3
        for t in range(6):
            gi = (gi + (u + t) % 2) % 3
            gj = (gj + (u * t) % 2) % 3
            rows.append((u, t, 55.9 + gi * 0.05, -3.3 + gj * 0.05))
    pts = spark.createDataFrame(rows, "u long, ts long, lat double, lon double")
    res = 12
    got = {
        (r.cell_from, r.cell_to): r.n_moves
        for r in od_flows(pts, "u", ["ts"], res=res).collect()
    }

    import math

    n = 1 << res

    def cell_of(la, lo):
        i = max(0, min(n - 1, math.floor((la + 90) / 180 * n)))
        j = max(0, min(n - 1, math.floor((lo + 180) / 360 * n)))
        return (i << 32) | j

    want: dict = {}
    per_u: dict = {}
    for u, t, la, lo in sorted(rows):
        per_u.setdefault(u, []).append(cell_of(la, lo))
    for u, cells in per_u.items():
        for a, b in zip(cells, cells[1:]):
            if a != b:
                want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want and len(want) >= 4
    # directionality has teeth: a one-way commuter guarantees an
    # asymmetric pair (A->B twice, B->A never)
    one_way = [
        (100, 0, 55.9, -3.3), (100, 1, 55.95, -3.3),
        (101, 0, 55.9, -3.3), (101, 1, 55.95, -3.3),
    ]
    pts2 = spark.createDataFrame(
        rows + one_way, "u long, ts long, lat double, lon double"
    )
    got2 = {
        (r.cell_from, r.cell_to): r.n_moves
        for r in od_flows(pts2, "u", ["ts"], res=res).collect()
    }
    a_cell, b_cell = cell_of(55.9, -3.3), cell_of(55.95, -3.3)
    fwd = got2.get((a_cell, b_cell), 0) - want.get((a_cell, b_cell), 0)
    rev = got2.get((b_cell, a_cell), 0) - want.get((b_cell, a_cell), 0)
    assert (fwd, rev) == (2, 0)


def test_segments_cross_column_expr_exhaustive_mini_grid(spark):
    """Drive the PRODUCT _segments_cross Column expression (not a
    python copy) over an exhaustive mini-grid of segment pairs and
    compare with the exact-rational reference — one Spark job."""
    from fractions import Fraction
    from itertools import product

    from osm_pt_validator_spark.spatial.intersect import _segments_cross

    coords = [-1, 0, 2]
    segs = list(product(coords, repeat=4))  # 81 segments incl. degenerate
    pairs = [
        (i, j, *a, *b)
        for i, a in enumerate(segs)
        for j, b in enumerate(segs)
        if i <= j
    ]
    df = spark.createDataFrame(
        pairs,
        "i long, j long, p1x long, p1y long, p2x long, p2y long, "
        "q1x long, q1y long, q2x long, q2y long",
    )
    got = {
        (r.i, r.j): r.hit
        for r in df.select(
            "i", "j",
            _segments_cross(
                F.col("p1x"), F.col("p1y"), F.col("p2x"), F.col("p2y"),
                F.col("q1x"), F.col("q1y"), F.col("q2x"), F.col("q2y"),
            ).alias("hit"),
        ).collect()
    }

    def ref(p1, p2, q1, q2):
        rx, ry = p2[0] - p1[0], p2[1] - p1[1]
        sx, sy = q2[0] - q1[0], q2[1] - q1[1]
        den = rx * sy - ry * sx
        qpx, qpy = q1[0] - p1[0], q1[1] - p1[1]
        if den != 0:
            u = Fraction(qpx * sy - qpy * sx, den)
            v = Fraction(qpx * ry - qpy * rx, den)
            return 0 <= u <= 1 and 0 <= v <= 1
        if qpx * ry - qpy * rx != 0:
            return False
        if rx == 0 and ry == 0:
            if sx == 0 and sy == 0:
                return p1 == q1
            t_den = sx * sx + sy * sy
            t = Fraction((p1[0] - q1[0]) * sx + (p1[1] - q1[1]) * sy, t_den)
            return (
                0 <= t <= 1
                and q1[0] + t * sx == p1[0]
                and q1[1] + t * sy == p1[1]
            )
        den2 = rx * rx + ry * ry
        t0 = Fraction((q1[0] - p1[0]) * rx + (q1[1] - p1[1]) * ry, den2)
        t1 = Fraction((q2[0] - p1[0]) * rx + (q2[1] - p1[1]) * ry, den2)
        return max(t0, t1) >= 0 and min(t0, t1) <= 1

    bad = []
    for (i, j, *c) in pairs:
        p1, p2, q1, q2 = (c[0], c[1]), (c[2], c[3]), (c[4], c[5]), (c[6], c[7])
        if got[(i, j)] != ref(p1, p2, q1, q2):
            bad.append((p1, p2, q1, q2, got[(i, j)]))
    assert not bad, bad[:5]


def test_areal_interpolation_vs_python_oracle(spark):
    from osm_pt_validator_spark.spatial.polyfill import (
        areal_interpolation,
        cell_polyfill,
    )

    # two source tracts with known values; targets: one fully inside
    # source 1, one straddling both, one outside everything
    src = [
        (1, [-3.300, -3.260, -3.260, -3.300], [55.900, 55.900, 55.940, 55.940], 10_000),
        (2, [-3.260, -3.220, -3.220, -3.260], [55.900, 55.900, 55.940, 55.940], 5_000),
    ]
    tgt = [
        (10, [-3.295, -3.285, -3.285, -3.295], [55.905, 55.905, 55.915, 55.915]),
        (20, [-3.270, -3.250, -3.250, -3.270], [55.910, 55.910, 55.930, 55.930]),
        (30, [-3.100, -3.090, -3.090, -3.100], [55.905, 55.905, 55.915, 55.915]),
    ]
    res = 15
    sdf = spark.createDataFrame(
        src, "polygon_id long, xs array<double>, ys array<double>, value_c long"
    )
    tdf = spark.createDataFrame(
        tgt, "polygon_id long, xs array<double>, ys array<double>"
    )
    got = {
        r.polygon_id: r.est_value
        for r in areal_interpolation(sdf, tdf, res=res).collect()
    }

    # python replay from the ENGINE's own polyfills (polyfill itself is
    # independently oracled); the arithmetic is replayed independently
    sc = {}
    for r in cell_polyfill(sdf.drop("value_c"), res=res).collect():
        sc.setdefault(r.polygon_id, set()).add(r.cell)
    tc = {}
    for r in cell_polyfill(tdf, res=res).collect():
        tc.setdefault(r.polygon_id, set()).add(r.cell)
    vals = {1: 10_000, 2: 5_000}
    want: dict = {}
    for s_id, s_cells in sc.items():
        for t_id, t_cells in tc.items():
            shared = len(s_cells & t_cells)
            if shared:
                want[t_id] = want.get(t_id, 0) + (vals[s_id] * shared) // len(s_cells)
    assert got == want
    assert 30 not in got and 10 in got and 20 in got
    # target 20 straddles both sources: both contribute
    assert got[20] > 0
    # conservation bound: total transferred never exceeds total value
    assert sum(got.values()) <= sum(vals.values())


def test_focal_mean_negative_values_floor_division(spark):
    """Regression for the review finding: focal_mean's mean is FLOOR
    division, and DuckDB's bare `//` truncates toward zero (-7 // 2 =
    -3, floor = -4) — the oracle's non-negative-mod spelling must
    agree with Spark on rasters with NEGATIVE cell values (e.g. a
    diff/anomaly raster)."""
    import math

    import duckdb

    from osm_pt_validator_spark.spatial.tiles import focal_mean

    # two adjacent interior cells, one negative: kernel sums go negative
    cells = {(10, 10): -9, (10, 11): 2}
    rows = [(((i << 32) | j), v) for (i, j), v in cells.items()]
    df = spark.createDataFrame(rows, "cell long, n long")
    got = {
        r.cell: (r.n_present, r.sum_val, r.mean_scaled)
        for r in focal_mean(df, res=8, value_col="n").collect()
    }
    # python floor replay over the scattered 3x3 neighborhoods
    want = {}
    for (i, j), v in cells.items():
        for di in (-1, 0, 1):
            for dj in (-1, 0, 1):
                ti, tj = i + di, j + dj
                if not (0 <= ti <= 255 and 0 <= tj <= 255):
                    continue
                key = (ti << 32) | tj
                np_, sv = want.get(key, (0, 0))
                want[key] = (np_ + 1, sv + v)
    for key, (np_, sv) in want.items():
        ti, tj = key >> 32, key & 0xFFFFFFFF
        ki = 3 - (ti == 0) - (ti == 255)
        kj = 3 - (tj == 0) - (tj == 255)
        assert got[key] == (np_, sv, math.floor(sv * 100 / (ki * kj)))
    assert len(got) == len(want)
    # at least one kernel sum must actually be negative for the pin
    assert any(sv < 0 for _, sv in want.values())
    # and the oracle's floor-div spelling agrees with python for both signs
    for num, k in ((-700, 9), (-700, 6), (200, 9), (-7, 2)):
        (v,) = duckdb.sql(
            f"SELECT ({num} - (({num} % {k}) + {k}) % {k}) // {k}"
        ).fetchone()
        assert v == math.floor(num / k), (num, k, v)
