"""Generators: a seed fixes the inputs and the ground truth."""

import hashlib
import os

import numpy as np

import gen


def _digest_dir(path):
    h = hashlib.sha256()
    for dp, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(dp, f), path).encode())
            with open(os.path.join(dp, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _osm(tmp_path, name, seed):
    d = str(tmp_path / name)
    truth = gen.write_osm(d, seed, gen.long_route_counts(6, 50, 400), 25, 0.8, 3)
    return _digest_dir(d), truth


def _pages(tmp_path, name, seed):
    d = str(tmp_path / name)
    return _digest_dir(d) if gen.write_pages(d, seed, 200) else None


def test_same_seed_same_osm_inputs(tmp_path):
    a, ta = _osm(tmp_path, "a", 7)
    b, tb = _osm(tmp_path, "b", 7)
    assert a == b
    assert ta.digest() == tb.digest() and ta.members == tb.members
    c, tc = _osm(tmp_path, "c", 8)
    assert c != a and tc.digest() != ta.digest()


def test_same_seed_same_pages_inputs(tmp_path):
    assert _pages(tmp_path, "a", 7) == _pages(tmp_path, "b", 7)
    assert _pages(tmp_path, "c", 8) != _pages(tmp_path, "a", 7)


def test_planted_defects_have_verdicts(tmp_path):
    truth = gen.write_osm(str(tmp_path / "d"), 3, gen.short_route_counts(400), 8, 0.5, 4)
    counts = truth.counts()
    assert sum(truth.defects.values()) > 100
    # one verdict per planted defect, except missing_node (aborted)
    routes = sum(n for k, n in counts.items() if k[0] != 0 or k[1] == gen.MSG_PTV2)
    assert routes == sum(truth.defects.values()) - truth.defects["missing_node"]
    assert counts[(4, gen.MSG_BAD_ORDER)] == truth.defects["gap"]


def test_mentions_lie_next_to_their_stop(tmp_path):
    t = gen.write_pages(str(tmp_path / "p"), 5, 300)
    assert t.mentions == 600
    d_lat = np.abs(t.mention_lat - t.stop_lat[t.mention_stop])
    d_lon = np.abs(t.mention_lon - t.stop_lon[t.mention_stop])
    assert d_lat.max() < 3e-4 and d_lon.max() < 4e-4
