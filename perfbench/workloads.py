"""The three workloads: input sizes, the program call each one times,
and the checks of its outputs against the generator's ground truth.

A workload's ``job`` is what a user of the engine runs: for the two
validation workloads the production entry point ``jobs.main``, for
``pages_to_stops`` the pages -> mentions -> stops pipeline composed from
the package's public functions. Each job writes its outputs under
``out_dir`` and returns them read back, so its time covers the writes.
"""

from __future__ import annotations

import contextlib
import os
import sys
from collections import Counter
from dataclasses import dataclass
from typing import Callable

import numpy as np

import gen

#: validate_routes: short PTv2 routes (2 stops, 8 ways, 10 members each)
N_SHORT_ROUTES = 20_000
#: validate_long_routes: way counts geometric from 50 to 20,000
N_LONG_ROUTES = 80
#: pages_to_stops: pages with two stop mentions each, over 5k stops
N_PAGES = 120_000
KNN_RES = 16
HEATMAP_Z = 15
HOT_THRESHOLD = 2_000
SALT_FACTOR = 8


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def _run_quiet(fn: Callable, *args):
    """The program prints progress to stdout; the benchmark's stdout is
    reserved for its result line."""
    with contextlib.redirect_stdout(sys.stderr):
        return fn(*args)


# ---------------------------------------------------------------------------
# validation workloads
# ---------------------------------------------------------------------------

VERDICT_COLS = ("relation_id", "stage_no", "seq", "url", "message")


def gen_routes(data_dir: str, seed: int) -> gen.OsmTruth:
    return gen.write_osm(
        data_dir, seed, gen.short_route_counts(N_SHORT_ROUTES),
        stop_every=8, defect_rate=0.35, n_masters=10,
    )


def gen_long_routes(data_dir: str, seed: int) -> gen.OsmTruth:
    return gen.write_osm(
        data_dir, seed, gen.long_route_counts(N_LONG_ROUTES),
        stop_every=25, defect_rate=0.6, n_masters=3, max_defect_ways=1_000,
    )


def validation_job(spark, data_dir: str, out_dir: str) -> dict:
    from osm_pt_validator_spark import jobs

    _run_quiet(jobs.main, ["--tables", data_dir, "--out", out_dir, "--cpus", "4"])
    verdicts = spark.read.parquet(os.path.join(out_dir, "verdicts"))
    invalid = spark.read.parquet(os.path.join(out_dir, "invalid_relations"))
    return {
        "verdicts": [tuple(r) for r in verdicts.select(*VERDICT_COLS).collect()],
        "invalid": [tuple(r) for r in invalid.select("relation_id", "error_count").collect()],
    }


def check_validation(out: dict, truth: gen.OsmTruth) -> list[Check]:
    rows = out["verdicts"]
    got_counts = Counter((r[1], r[4]) for r in rows)
    want_counts = truth.counts()
    diff = {
        f"{k[0]}:{k[1]}": (got_counts.get(k, 0), want_counts.get(k, 0))
        for k in set(got_counts) | set(want_counts)
        if got_counts.get(k, 0) != want_counts.get(k, 0)
    }
    per_rel = Counter(r[0] for r in truth.verdicts)
    got_invalid = dict(out["invalid"])
    return [
        Check("verdict_counts", not diff, f"(got, want) per stage:message {diff}"),
        Check("verdict_digest", gen.verdict_digest(rows) == truth.digest()),
        Check(
            "invalid_relations",
            got_invalid == dict(per_rel),
            f"{len(got_invalid)} relations vs {len(per_rel)} expected",
        ),
    ]


# ---------------------------------------------------------------------------
# pages -> stops
# ---------------------------------------------------------------------------


def gen_pages(data_dir: str, seed: int) -> gen.PagesTruth:
    return gen.write_pages(data_dir, seed, N_PAGES)


def pages_inputs(spark, data_dir: str):
    from osm_pt_validator_spark.sources.pages import read_pages

    pages = read_pages(spark, os.path.join(data_dir, "pages.parquet"))
    stops = spark.read.parquet(os.path.join(data_dir, "stops.parquet"))
    return pages, stops


def knn_nearest(mentions, stops):
    from osm_pt_validator_spark.spatial.knn import knn_join

    return knn_join(
        mentions, stops, probe_key=["url", "mention_idx"], build_key="stop_id",
        k=1, ring=1, res=KNN_RES,
    ).select("url", "mention_idx", "entity_id", "stop_id", "distance_m")


def cell_tables(mentions, stops):
    from osm_pt_validator_spark.spatial.joins import with_cell

    mc = with_cell(mentions, res=KNN_RES).select("url", "mention_idx", "cell")
    sc = with_cell(stops, res=KNN_RES).select("stop_id", "cell")
    return mc, sc


def cell_join(mc, sc, hot):
    from osm_pt_validator_spark.spatial.joins import salted_equi_join

    return salted_equi_join(mc, sc, "cell", salt_factor=SALT_FACTOR, hot=hot).select(
        "url", "mention_idx", "stop_id"
    )


def pages_job(spark, data_dir: str, out_dir: str) -> dict:
    from osm_pt_validator_spark.plans.checkpoint import run_stage
    from osm_pt_validator_spark.sources.pages import extract_mentions
    from osm_pt_validator_spark.spatial.joins import hot_keys
    from osm_pt_validator_spark.spatial.tiles import failure_heatmap

    pages, stops = pages_inputs(spark, data_dir)
    mentions = run_stage(
        spark, out_dir, "mentions", lambda: extract_mentions(pages, from_html=True)
    )
    knn_nearest(mentions, stops).write.parquet(os.path.join(out_dir, "nearest"))
    mc, sc = cell_tables(mentions, stops)
    hot = hot_keys(mc, "cell", HOT_THRESHOLD)
    cell_join(mc, sc, hot).write.parquet(os.path.join(out_dir, "cell_join"))
    failure_heatmap(mentions, HEATMAP_Z).write.parquet(os.path.join(out_dir, "heatmap"))

    def back(name, *cols):
        df = spark.read.parquet(os.path.join(out_dir, name))
        return df.select(*cols).toPandas()

    return {
        "mentions": back("mentions", "url", "mention_idx", "kind", "entity_id", "lat", "lon"),
        "nearest": back("nearest", "url", "mention_idx", "entity_id", "stop_id"),
        "cell_join": back("cell_join", "url", "mention_idx", "stop_id"),
        "heatmap": back("heatmap", "tile_z", "tile_x", "tile_y", "n"),
    }


def _mention_frame(truth: gen.PagesTruth):
    import pandas as pd

    return pd.DataFrame({
        "url": truth.mention_url,
        "mention_idx": truth.mention_idx,
        "stop": truth.mention_stop,
        "lat": truth.mention_lat,
        "lon": truth.mention_lon,
    })


def check_pages(out: dict, truth: gen.PagesTruth) -> list[Check]:
    want = _mention_frame(truth)
    key = ["url", "mention_idx"]

    m = out["mentions"].merge(want, on=key, how="outer", indicator=True)
    mentions_ok = (
        len(out["mentions"]) == truth.mentions
        and bool((m["_merge"] == "both").all())
        and bool((m["entity_id"] == m["stop"]).all())
        and bool((m["lat_x"] == m["lat_y"]).all() and (m["lon_x"] == m["lon_y"]).all())
        and bool((m["kind"] == "stop").all())
    )

    n = out["nearest"].merge(want, on=key, how="inner")
    nearest_ok = (
        len(out["nearest"]) == truth.mentions
        and len(n) == truth.mentions
        and bool((n["stop_id"] == n["stop"]).all())
    )

    # a mention shares a grid cell with at most its own stop (stops are
    # further apart than a cell is wide), so the join keeps exactly the
    # mentions whose cell is their stop's cell
    mcell = gen.np_cell(truth.mention_lat, truth.mention_lon, KNN_RES)
    scell = gen.np_cell(
        truth.stop_lat[truth.mention_stop], truth.stop_lon[truth.mention_stop], KNN_RES
    )
    same = mcell == scell
    want_pairs = set(
        zip(
            np.asarray(truth.mention_url, dtype=object)[same],
            truth.mention_idx[same].tolist(),
            truth.mention_stop[same].tolist(),
        )
    )
    cj = out["cell_join"]
    got_pairs = set(zip(cj["url"], cj["mention_idx"].tolist(), cj["stop_id"].tolist()))
    join_ok = len(cj) == len(want_pairs) and got_pairs == want_pairs

    heat = out["heatmap"]
    heat_ok = int(heat["n"].sum()) == truth.mentions and bool((heat["n"] > 0).all())
    return [
        Check("mention_count", mentions_ok, f"{len(out['mentions'])} vs {truth.mentions}"),
        Check("nearest_stop_ids", nearest_ok, f"{len(out['nearest'])} rows"),
        Check("cell_join_pairs", join_ok, f"{len(cj)} vs {len(want_pairs)} pairs"),
        Check("heatmap_total", heat_ok, f"{int(heat['n'].sum())} vs {truth.mentions}"),
    ]


def check_text(spark, data_dir: str) -> Check:
    """G1 extraction must reproduce the stored ``text`` column byte for
    byte, per url."""
    from pyspark.sql import functions as F

    from osm_pt_validator_spark.sources.pages import with_extracted_text

    pages, _ = pages_inputs(spark, data_dir)
    bad = (
        with_extracted_text(pages)
        .filter(~F.col("extracted_text").eqNullSafe(F.col("text")))
        .count()
    )
    return Check("g1_text_bytes", bad == 0, f"{bad} urls differ")


@dataclass(frozen=True)
class Workload:
    generate: Callable
    job: Callable
    check: Callable
    #: work units of one job: relation members or pages
    units: Callable
    #: checks that call the program once more, after the timed job
    spark_checks: Callable = lambda spark, data: []


WORKLOADS = {
    "validate_routes": Workload(gen_routes, validation_job, check_validation, lambda t: t.members),
    "validate_long_routes": Workload(
        gen_long_routes, validation_job, check_validation, lambda t: t.members
    ),
    "pages_to_stops": Workload(
        gen_pages, pages_job, check_pages, lambda t: t.pages,
        lambda spark, data: [check_text(spark, data)],
    ),
}
