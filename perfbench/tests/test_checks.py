"""The output checks accept the ground truth and reject perturbations."""

import pandas as pd
import pytest

import gen
import workloads


@pytest.fixture(scope="module")
def osm(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("osm"))
    return gen.write_osm(d, 11, gen.short_route_counts(300), 8, 0.5, 4)


def _validation_out(truth, rows=None):
    rows = list(truth.verdicts if rows is None else rows)
    per_rel = {}
    for r in rows:
        per_rel[r[0]] = per_rel.get(r[0], 0) + 1
    return {"verdicts": rows, "invalid": list(per_rel.items())}


def _failed(checks):
    return {c.name for c in checks if not c.ok}


def test_validation_truth_passes(osm):
    assert _failed(workloads.check_validation(_validation_out(osm), osm)) == set()


def test_validation_rejects_changed_message(osm):
    rows = list(osm.verdicts)
    rid, stage, seq, url, _msg = rows[0]
    rows[0] = (rid, stage, seq, url, "ways are incorrectly ordered!")
    failed = _failed(workloads.check_validation(_validation_out(osm, rows), osm))
    assert {"verdict_counts", "verdict_digest"} <= failed


def test_validation_rejects_moved_verdict(osm):
    # same counts per (stage, message), different relation
    rows = list(osm.verdicts)
    rid, stage, seq, url, msg = rows[0]
    rows[0] = (rid + 100_000, stage, seq, url, msg)
    failed = _failed(workloads.check_validation(_validation_out(osm, rows), osm))
    assert failed == {"verdict_digest", "invalid_relations"}


def test_validation_rejects_dropped_verdict(osm):
    failed = _failed(workloads.check_validation(_validation_out(osm, osm.verdicts[1:]), osm))
    assert {"verdict_counts", "verdict_digest"} <= failed


@pytest.fixture(scope="module")
def pages(tmp_path_factory):
    return gen.write_pages(str(tmp_path_factory.mktemp("pages")), 11, 150)


def _pages_out(t, heat_n=None):
    key = pd.DataFrame({"url": t.mention_url, "mention_idx": t.mention_idx})
    mentions = key.assign(kind="stop", entity_id=t.mention_stop, lat=t.mention_lat, lon=t.mention_lon)
    nearest = key.assign(entity_id=t.mention_stop, stop_id=t.mention_stop)
    same = gen.np_cell(t.mention_lat, t.mention_lon, workloads.KNN_RES) == gen.np_cell(
        t.stop_lat[t.mention_stop], t.stop_lon[t.mention_stop], workloads.KNN_RES
    )
    cell_join = nearest[same][["url", "mention_idx", "stop_id"]]
    n = [t.mentions - 10, 10] if heat_n is None else heat_n
    heatmap = pd.DataFrame({"tile_z": 15, "tile_x": [1, 2], "tile_y": [1, 1], "n": n})
    return {"mentions": mentions, "nearest": nearest, "cell_join": cell_join, "heatmap": heatmap}


def test_pages_truth_passes(pages):
    assert _failed(workloads.check_pages(_pages_out(pages), pages)) == set()


def test_pages_rejects_perturbed_heatmap(pages):
    out = _pages_out(pages, heat_n=[pages.mentions - 10, 9])
    assert _failed(workloads.check_pages(out, pages)) == {"heatmap_total"}


def test_pages_rejects_wrong_nearest_stop(pages):
    out = _pages_out(pages)
    out["nearest"].loc[0, "stop_id"] += 1
    assert _failed(workloads.check_pages(out, pages)) == {"nearest_stop_ids"}


def test_pages_rejects_lost_mention(pages):
    out = _pages_out(pages)
    out["mentions"] = out["mentions"].iloc[1:]
    assert "mention_count" in _failed(workloads.check_pages(out, pages))
