"""Benchmark harness — prints ONE JSON line per the driver contract.

Headline suite (the engine's scale-critical paths):
  * extract_mentions : G1+G2 Arrow extraction over ~600k synthesized
                       pages (drives the docs/min headline metric)
  * validation       : full validator pipeline over ~N synthetic route
                       relations (frontier automaton at scale —
                       one mapInPandas hop across relations)
  * spatial_join     : salted cell join, lineitem-derived points x
                       supplier stops (drives join rows/sec)
  * knn_match        : k-ring kNN customers -> supplier stops
  * pricing_summary  : relational agg baseline (whole-stage codegen)
  * minhash_pairs    : MinHash LSH near-dup over documents
  * embedding_topk   : brute-force cosine top-k over embeddings

Environment:
  SPARK_GRAFT_SF_DIR  input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[<n>] parallelism (default: the CPUs this
                      process may run on)

Scaling-efficiency evidence (BASELINE.md protocol): run twice —
SPARK_GRAFT_CPUS=8 and =32 — on the same input; E = (T_8/T_32)/4.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F


def _pages_from_lineitem(spark, sf_dir):
    # the sf0.1 lineitem parquet is ~3 files of one row group each, so
    # the scan yields only ~3 tasks — repartition the narrow source
    # columns (before the wide html is synthesized) or the Arrow
    # extraction runs on 3 of N cores
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(_N_PARTS)
    pid = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    return l.select(
        F.format_string("https://pages.example.org/l/%d", pid).alias("url"),
        F.encode(
            F.format_string(
                "<html><head><title>item %d</title></head><body>"
                "<p>order %d shipped flag %s status %s qty %.2f price %.2f</p>"
                "<p>STOP:%d@%.4f,%.4f ROUTE:%d</p></body></html>",
                pid,
                F.col("l_orderkey"),
                F.col("l_returnflag"),
                F.col("l_linestatus"),
                F.col("l_quantity"),
                F.col("l_extendedprice"),
                pid % 5000 + 100,
                55.9 + ((pid % 5000) + 100) * 1e-5,
                -3.3 + ((pid % 5000) + 100) * 1e-5,
                F.col("l_orderkey") % 1000,
            ),
            "utf-8",
        ).alias("html"),
    )


def _build_extract(spark, sf_dir):
    from osm_pt_validator_spark.sources.pages import extract_text_udf

    pages = _pages_from_lineitem(spark, sf_dir)
    return pages.select(
        "url", extract_text_udf(F.col("html")).alias("text")
    ).select(
        F.sum(F.length("text")).alias("chars"),
        F.count(F.lit(1)).alias("docs"),
    )


def bench_extract_mentions(spark, sf_dir):
    # G1 extraction + G2-shaped mention count in one pass
    n_pages = _pages_from_lineitem(spark, sf_dir).count()
    extracted = _build_extract(spark, sf_dir).collect()[0]
    return {"docs": n_pages, "chars": int(extracted.chars)}


_N_RELS = 100_000
_WAYS_PER_REL = 8
# fixed so the synthetic scans have the same partitioning at every
# parallelism level (scaling_bench compares identical plans)
_N_PARTS = int(os.environ.get("SPARK_GRAFT_BENCH_PARTITIONS", "64"))


def _synth_osm(spark):
    """Deterministic synthetic network: chain ways (way w: nodes
    [w, w+1]); every 13th way reversed (oneway violations), every 7th
    tagged oneway=yes. Relation r: 2 stops + ways r*4+1 .. r*4+8."""
    n_ways = _N_RELS * 4 + _WAYS_PER_REL + 1
    ways = spark.range(1, n_ways, 1, numPartitions=_N_PARTS).select(
        F.col("id").alias("way_id"),
        F.lit(1).alias("version"),
        F.when(
            F.col("id") % 13 == 0, F.array(F.col("id") + 1, F.col("id"))
        ).otherwise(F.array(F.col("id"), F.col("id") + 1)).alias("nodes"),
        F.when(
            F.col("id") % 7 == 0, F.create_map(F.lit("oneway"), F.lit("yes"))
        ).otherwise(F.create_map().cast("map<string,string>")).alias("tags"),
    )
    nodes = spark.range(1, n_ways + 2, 1, numPartitions=_N_PARTS).select(
        F.col("id").alias("node_id"),
        (55.0 + (F.col("id") % 100000) * 1e-5).alias("lat"),
        (-3.0 + (F.col("id") % 100000) * 1e-5).alias("lon"),
        F.lit(1).alias("version"),
        F.create_map(
            F.lit("public_transport"), F.lit("stop_position"),
            F.lit("bus"), F.lit("yes"),
            F.lit("name"), F.format_string("Stop %d", F.col("id")),
        ).alias("tags"),
    )
    first_way = F.col("id") * 4 + 1
    stops = F.array(
        F.struct(F.lit("node").alias("type"), first_way.alias("ref"), F.lit("stop").alias("role")),
        F.struct(
            F.lit("node").alias("type"),
            (first_way + _WAYS_PER_REL).alias("ref"),
            F.lit("stop_exit_only").alias("role"),
        ),
    )
    way_ms = F.transform(
        F.sequence(first_way, first_way + _WAYS_PER_REL - 1),
        lambda w: F.struct(
            F.lit("way").alias("type"), w.alias("ref"), F.lit("").alias("role")
        ),
    )
    relations = spark.range(0, _N_RELS, 1, numPartitions=_N_PARTS).select(
        (F.col("id") + 1).alias("relation_id"),
        F.lit(1).alias("version"),
        F.concat(stops, way_ms).alias("members"),
        F.create_map(
            F.lit("type"), F.lit("route"),
            F.lit("public_transport:version"), F.lit("2"),
            F.lit("from"), F.lit("A"), F.lit("to"), F.lit("B"),
            F.lit("name"), F.format_string("Route %d", F.col("id") + 1),
            F.lit("operator"), F.lit("Op"), F.lit("ref"), F.lit("R"),
        ).alias("tags"),
    )
    return nodes, ways, relations


def _build_validation(spark):
    from osm_pt_validator_spark.config import ValidationConfig
    from osm_pt_validator_spark.operators.pipeline import validate_route_relations

    nodes, ways, relations = _synth_osm(spark)
    verdicts, _errors = validate_route_relations(
        relations, nodes, ways, ValidationConfig()
    )
    return verdicts


def bench_validation(spark, sf_dir):
    return {"relations": _N_RELS, "verdicts": _build_validation(spark).count()}


def _build_spatial_join(spark, sf_dir):
    from osm_pt_validator_spark.functions.geo import cell
    from osm_pt_validator_spark.spatial.joins import salted_equi_join

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pid = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    points = l.select(
        pid.alias("point_id"),
        cell(55.9 + (pid % 40) * 0.002, -3.3 + ((pid * 3) % 40) * 0.002, 12).alias("cell"),
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    sk = F.col("s_suppkey")
    stops = s.select(
        sk.alias("stop_id"),
        cell(55.9 + (sk % 40) * 0.002, -3.3 + ((sk * 3) % 40) * 0.002, 12).alias("cell"),
    )
    hot = points.groupBy("cell").count().filter(F.col("count") > 20000).select("cell")
    return salted_equi_join(points, stops, "cell", salt_factor=8, hot=hot,
                            probe_salt_col="point_id")


def bench_spatial_join(spark, sf_dir):
    return {"join_rows": _build_spatial_join(spark, sf_dir).count()}


def _knn_dims(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey",
        (55.9 + (F.col("c_custkey") % 97) * 0.001).alias("lat"),
        (-3.3 + ((F.col("c_custkey") * 13) % 89) * 0.001).alias("lon"),
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("stop_id"),
        (55.9 + ((F.col("s_suppkey") * 7) % 97) * 0.00097).alias("lat"),
        (-3.3 + ((F.col("s_suppkey") * 11) % 89) * 0.00103).alias("lon"),
    )
    return c, s


def _build_knn(spark, sf_dir, k):
    from osm_pt_validator_spark.spatial.knn import knn_join

    c, s = _knn_dims(spark, sf_dir)
    # res=14: a cell is 0.01099 deg of latitude by 0.02197 deg of
    # longitude, and ring=1 reaches at least one whole cell past the
    # probe's cell on each axis. The largest k=2 neighbour distance of
    # the sf0.1 dims is 770 m = 0.00693 deg lat and 0.01239 deg lon at
    # ~56 N, a margin of 1.59x in latitude and 1.77x in longitude; k=1
    # (763 m) gives 1.60x / 1.79x. (At sf0.01, with fewer suppliers, the
    # k=2 margin is 0.97x lat / 1.09x lon.) Candidates drop ~3x vs
    # res=13. scripts/knn_res_check.py checks res 13 and 14 against a
    # brute-force cross join at k=1 and k=2 and prints these margins:
    # both match at sf0.1 and sf0.01; res 15 (0.79x lat) is not covered
    # and res 16 misses rows at sf0.1. (res=8 put the whole box in ONE
    # cell — a full cross join through one partition.)
    # probe_partitions: the sf dims are single-row-group parquet, i.e.
    # one non-empty scan partition; spread the probe rows before the
    # ring explosion so candidate work uses every core.
    return knn_join(
        c, s, probe_key="c_custkey", build_key="stop_id", k=k, ring=1, res=14,
        probe_partitions=spark.sparkContext.defaultParallelism,
    )


def bench_knn(spark, sf_dir):
    return {"knn_rows": _build_knn(spark, sf_dir, k=2).count()}


def bench_knn_nearest(spark, sf_dir):
    """k=1 fast path: min(struct) partial aggregation instead of the
    rank window — the shuffle carries one row per probe, not every
    k-ring candidate."""
    return {"nearest_rows": _build_knn(spark, sf_dir, k=1).count()}


def _build_pricing(spark, sf_dir):
    import __spark_entry__ as e

    return e.q_pricing_summary(spark, sf_dir)


def bench_pricing(spark, sf_dir):
    return {"groups": _build_pricing(spark, sf_dir).count()}


def _build_minhash(spark, sf_dir):
    from osm_pt_validator_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(d, num_hashes=16, bands=4)


def bench_minhash(spark, sf_dir):
    return {"candidate_pairs": _build_minhash(spark, sf_dir).count()}


def _build_embedding_topk(spark, sf_dir):
    from osm_pt_validator_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(e, q, k=10)


def bench_embedding_topk(spark, sf_dir):
    return {"topk_rows": _build_embedding_topk(spark, sf_dir).count()}


BENCHES = {
    "extract_mentions": bench_extract_mentions,
    "validation": bench_validation,
    "spatial_join": bench_spatial_join,
    "knn_match": bench_knn,
    "knn_nearest": bench_knn_nearest,
    "pricing_summary": bench_pricing,
    "minhash_pairs": bench_minhash,
    "embedding_topk": bench_embedding_topk,
}

#: plan builders for the fingerprint section of the emitted JSON — the
#: same subtrees the timed benches execute, analyzed without running
PLAN_TARGETS = {
    "extract_mentions": lambda spark, sf: _build_extract(spark, sf),
    "validation": lambda spark, sf: _build_validation(spark),
    "spatial_join": _build_spatial_join,
    "knn_match": lambda spark, sf: _build_knn(spark, sf, k=2),
    "knn_nearest": lambda spark, sf: _build_knn(spark, sf, k=1),
    "pricing_summary": _build_pricing,
    "minhash_pairs": _build_minhash,
    "embedding_topk": _build_embedding_topk,
}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from osm_pt_validator_spark.hostprobe import (
        cpu_times,
        parallel_probe,
        plan_fingerprint,
        spin_probe,
        steal_pct,
    )
    from osm_pt_validator_spark.session import default_cores, ensure_py_files, get_spark

    cpus = default_cores()
    # host-window evidence, sampled BEFORE the JVM exists: the sandbox
    # host's deliverable CPU swings ~2x between minutes, and without
    # this a slow suite number is indistinguishable from a regression
    spin_before = spin_probe()
    par_before = parallel_probe(cpus)
    stat0 = cpu_times()

    spark = get_spark("osm-pt-validator-bench", cores=cpus,
                      shuffle_partitions=max(cpus, 8))
    ensure_py_files(spark)
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/Arrow paths so per-query numbers measure the engine
    spark.range(1000).select(F.sum("id")).collect()

    # best-of-K per query: the sandbox host's deliverable CPU swings
    # ~2x between minutes, so a single pass measures the host's mood;
    # the min approximates uncontended engine capability (iteration 1
    # additionally pays python-worker import + JIT warmup).
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "2"))
    timings: dict[str, float] = {}
    extras: dict[str, dict] = {}
    t_total0 = time.time()
    for name, fn in BENCHES.items():
        best = float("inf")
        for _ in range(iters):
            t0 = time.time()
            extras[name] = fn(spark, sf_dir)
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)
    wall = round(time.time() - t_total0, 3)

    stat1 = cpu_times()
    spin_after = spin_probe()
    par_after = parallel_probe(cpus)
    host = {
        # single-thread Mops/sec before/after — compare against other
        # records of THIS probe (identical code)
        "spin_mops_before": spin_before,
        "spin_mops_after": spin_after,
        # aggregate Mops/sec of `cpus` simultaneous spinners — the
        # MULTI-CORE capacity yardstick. Measured round 3 on this host:
        # ~700+ at 32-way in good windows (validation leg ~5-7 s);
        # ~520-600 in degraded windows (same plan, 9-16 s). The
        # 1-thread probe stays flat through these swings, so par_mops
        # is the number that certifies the window.
        "par_mops_before": par_before,
        "par_mops_after": par_after,
        "par_nproc": cpus,
        # hypervisor-withheld cycles across the suite window
        "steal_pct": steal_pct(stat0, stat1),
    }
    # operator-class counts of each initial physical plan: a slower
    # wall-clock with IDENTICAL fingerprints ran the same plan on a
    # worse host window; a changed fingerprint marks a real plan change
    plans = {}
    for name, builder in PLAN_TARGETS.items():
        try:
            plans[name] = plan_fingerprint(builder(spark, sf_dir))
        except Exception as exc:  # pragma: no cover - diagnostics only
            plans[name] = {"error": str(exc)[:120]}

    docs = extras["extract_mentions"]["docs"]
    docs_per_min = round(docs / timings["extract_mentions"] * 60.0, 1)
    join_rows_per_sec = round(
        extras["spatial_join"]["join_rows"] / timings["spatial_join"], 1
    )
    relations_per_sec = round(
        extras["validation"]["relations"] / timings["validation"], 1
    )

    sf = (
        0.1 if "sf0.1" in sf_dir
        else 0.01 if "sf0.01" in sf_dir
        else 1.0 if "sf1" in sf_dir
        else 0.001
    )
    print(
        json.dumps(
            {
                "metric": "headline suite wall-clock (extraction, validation, spatial join, knn, agg, minhash, topk; best of %d)" % iters,
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "wall_incl_repeats": wall,
                "docs_per_min": docs_per_min,
                "join_rows_per_sec": join_rows_per_sec,
                "relations_per_sec": relations_per_sec,
                "counters": extras,
                "host": host,
                "plan_fingerprints": plans,
            }
        )
    )


if __name__ == "__main__":
    main()
