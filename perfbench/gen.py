"""Seeded input generators and their ground truth.

Every generator is a pure function of its seed (numpy ``default_rng``):
the same seed writes byte-identical parquet files and returns the same
expected outputs. No Spark here; the program only ever sees the files.

Validation workloads (``routes`` / ``long_routes``) write the three OSM
tables ``jobs.main`` reads (``nodes``, ``ways``, ``relations``) and
return the exact verdict rows the reference semantics produce for the
defects the seed planted. ``pages`` writes a Common-Crawl-shaped pages
table plus a stops dim and returns, per mention, the stop it was placed
around.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# verdict messages, spelled exactly as the validator emits them
MSG_PTV2 = "tag 'public_transport:version' should have value '2'"
MSG_BAD_ORDER = "ways are incorrectly ordered"
MSG_ONEWAY = "way with oneway tag is traversed in wrong direction"
MSG_STOP_BAD_ORDER = "stop is incorrectly ordered"
MSG_BUS_YES = "node should have bus=yes"
MSG_NOT_RELATION = "member is not a relation"
MSG_GONE = "relation no longer exists"

_OSM = "https://www.openstreetmap.org"
_RE_TAGS = ("from", "to", "name", "operator", "ref")
_RM_TAGS = ("name", "ref", "operator")
#: node-check seq stride (operators/node_checks.py) and the route-master
#: tail offset (operators/route_master.py)
_NODE_SEQ_STRIDE = 8
_RM_TAIL_SEQ = 1_000_000_000

#: one defect (or none) per route; "missing_node" also plants a gap that
#: the stage-3 abort must suppress
DEFECTS = (
    "gap",
    "oneway_reversed",
    "stops_swapped",
    "non_ptv2",
    "missing_tag",
    "missing_node",
    "stop_tag",
)

_MAP = pa.map_(pa.string(), pa.string())
_MEMBER = pa.struct(
    [("type", pa.string()), ("ref", pa.int64()), ("role", pa.string())]
)


def verdict_digest(rows) -> str:
    """sha256 over the sorted (relation_id, stage_no, seq, url, message)
    rows — the order-free fingerprint of a verdict table."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update("\x1f".join(str(v) for v in r).encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class OsmTruth:
    """What the validation job must write for a generated network."""

    verdicts: list[tuple] = field(default_factory=list)
    members: int = 0  # relation members across all relations (work units)
    defects: dict[str, int] = field(default_factory=dict)

    def counts(self) -> dict[tuple[int, str], int]:
        out: dict[tuple[int, str], int] = {}
        for _rid, stage, _seq, _url, msg in self.verdicts:
            out[(stage, msg)] = out.get((stage, msg), 0) + 1
        return out

    def digest(self) -> str:
        return verdict_digest(self.verdicts)


#: files per table: a scan gets one task per file or so, as it would on
#: a real multi-file table, instead of one task for the whole input
N_FILES = 8


def _write(table: pa.Table, path: str) -> None:
    """Write ``table`` as a directory of ``N_FILES`` parquet files."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="snappy",
        )


def _route_tags(rid: int) -> dict[str, str]:
    return {
        "type": "route",
        "route": "bus",
        "public_transport:version": "2",
        "from": "A",
        "to": "B",
        "name": f"Route {rid}",
        "operator": "Op",
        "ref": str(rid % 997),
    }


def write_osm(
    out_dir: str, seed: int, way_counts: list[int], stop_every: int,
    defect_rate: float, n_masters: int, max_defect_ways: int | None = None,
) -> OsmTruth:
    """Write nodes/ways/relations parquet for one route per entry of
    ``way_counts`` and return the verdicts the job must produce.

    Route r is a chain of ``way_counts[r]`` three-node ways (way j ends
    on the node way j+1 starts with). Its stops are the middle nodes of
    ways 0, stop_every, 2*stop_every, ... and of the last way; stop
    members come first, then the ways, so member order is clean. Each
    route carries at most one planted defect; routes of more than
    ``max_defect_ways`` ways carry none, so that a defect which skips
    later stages (a non-PTv2 tag, a gap) cannot make the seed change how
    much work the biggest routes take.
    """
    rng = np.random.default_rng(seed)
    truth = OsmTruth(defects={d: 0 for d in DEFECTS})
    v = truth.verdicts

    node_ids: list[int] = []
    node_tags: list[list[tuple[str, str]]] = []
    way_ids: list[int] = []
    way_nodes: list[list[int]] = []
    way_tags: list[list[tuple[str, str]]] = []
    rel_ids: list[int] = []
    rel_members: list[list[dict]] = []
    rel_tags: list[list[tuple[str, str]]] = []

    next_node = 1
    next_way = 1
    stop_nodes: list[int] = []
    for r, n_ways in enumerate(way_counts):
        rid = r + 1
        eligible = max_defect_ways is None or n_ways <= max_defect_ways
        defect = (
            DEFECTS[int(rng.integers(len(DEFECTS)))]
            if eligible and rng.random() < defect_rate
            else None
        )
        if defect:
            truth.defects[defect] += 1
        first_node, first_way = next_node, next_way
        next_node += 2 * n_ways + 1
        next_way += n_ways
        chain = [
            [first_node + 2 * j, first_node + 2 * j + 1, first_node + 2 * j + 2]
            for j in range(n_ways)
        ]
        ow = (rng.random(n_ways) < 0.15).tolist()  # forward oneways: no verdict
        stop_ways = list(range(0, n_ways, stop_every))
        if stop_ways[-1] != n_ways - 1:
            stop_ways.append(n_ways - 1)
        stops = [chain[j][1] for j in stop_ways]
        roles = ["stop"] * (len(stops) - 1) + ["stop_exit_only"]

        member_ways = list(range(n_ways))
        tags = _route_tags(rid)
        missing_stop = None
        bad_bus_stop = None
        url = f"{_OSM}/relation/{rid}"
        if defect in ("gap", "missing_node"):
            g = int(rng.integers(1, n_ways - 1))
            member_ways.remove(g)
            if defect == "gap":
                v.append((rid, 4, 0, f"{_OSM}/way/{first_way + g + 1}", MSG_BAD_ORDER))
            else:
                # a stop that fails to load aborts stages 3-7: no verdicts
                missing_stop = stops[int(rng.integers(len(stops)))]
        elif defect == "oneway_reversed":
            o = int(rng.integers(n_ways))
            chain[o] = chain[o][::-1]
            ow[o] = True
            v.append((rid, 5, 0, f"{_OSM}/way/{first_way + o}", MSG_ONEWAY))
        elif defect == "stops_swapped":
            i = int(rng.integers(len(stops) - 1))
            v.append((rid, 6, 0, f"{_OSM}/node/{stops[i]}", MSG_STOP_BAD_ORDER))
            stops[i], stops[i + 1] = stops[i + 1], stops[i]
        elif defect == "non_ptv2":
            tags["public_transport:version"] = "1"
            v.append((rid, 0, 0, url, MSG_PTV2))
        elif defect == "missing_tag":
            k = _RE_TAGS[int(rng.integers(len(_RE_TAGS)))]
            del tags[k]
            v.append((rid, 1, 0, url, f"missing tag '{k}'"))
        elif defect == "stop_tag":
            i = int(rng.integers(len(stops)))
            bad_bus_stop = stops[i]
            # stop i is member i; the bus check is check 1 of a stop node
            v.append((rid, 3, i * _NODE_SEQ_STRIDE + 1, f"{_OSM}/node/{stops[i]}", MSG_BUS_YES))

        stop_set = set(stops)
        for j, nodes in enumerate(chain):
            way_ids.append(first_way + j)
            way_nodes.append(nodes)
            wt = [("highway", "residential")]
            if ow[j]:
                wt.append(("oneway", "yes"))
            way_tags.append(wt)
        for nid in range(first_node, first_node + 2 * n_ways + 1):
            if nid == missing_stop:
                continue
            node_ids.append(nid)
            if nid in stop_set:
                node_tags.append([
                    ("public_transport", "stop_position"),
                    ("bus", "no" if nid == bad_bus_stop else "yes"),
                    ("name", f"Stop {nid}"),
                ])
            else:
                node_tags.append([])
        stop_nodes.extend(s for s in stops if s != missing_stop)

        members = [{"type": "node", "ref": s, "role": ro} for s, ro in zip(stops, roles)]
        members += [{"type": "way", "ref": first_way + j, "role": ""} for j in member_ways]
        rel_ids.append(rid)
        rel_members.append(members)
        rel_tags.append(list(tags.items()))

    # route masters: a few existing routes, sometimes a relation that is
    # gone, a node member, or a missing tag
    n_routes = len(way_counts)
    next_gone = n_routes + n_masters + 1_000_000
    for m in range(n_masters):
        mid = n_routes + m + 1
        url = f"{_OSM}/relation/{mid}"
        members = [
            {"type": "relation", "ref": int(x) + 1, "role": ""}
            for x in rng.choice(n_routes, size=min(3, n_routes), replace=False)
        ]
        if rng.random() < 0.5:
            members.append({"type": "relation", "ref": next_gone, "role": ""})
            v.append((next_gone, 0, 0, "", MSG_GONE))
            next_gone += 1
        if rng.random() < 0.5:
            s = stop_nodes[int(rng.integers(len(stop_nodes)))]
            members.append({"type": "node", "ref": s, "role": "platform"})
            v.append((mid, 0, len(members) - 1, f"{_OSM}/node/{s}", MSG_NOT_RELATION))
        tags = {"type": "route_master", "name": f"Line {mid}", "ref": str(m), "operator": "Op"}
        if rng.random() < 0.5:
            k = _RM_TAGS[int(rng.integers(len(_RM_TAGS)))]
            del tags[k]
            v.append((mid, 0, _RM_TAIL_SEQ, url, f"missing tag '{k}'"))
        rel_ids.append(mid)
        rel_members.append(members)
        rel_tags.append(list(tags.items()))

    os.makedirs(out_dir, exist_ok=True)
    _write(
        pa.table({
            "node_id": pa.array(node_ids, pa.int64()),
            "lat": pa.array([55.0 + (n % 100_000) * 1e-5 for n in node_ids], pa.float64()),
            "lon": pa.array([-3.0 + (n % 100_000) * 1e-5 for n in node_ids], pa.float64()),
            "version": pa.array([1] * len(node_ids), pa.int32()),
            "tags": pa.array(node_tags, _MAP),
        }),
        os.path.join(out_dir, "nodes.parquet"),
    )
    _write(
        pa.table({
            "way_id": pa.array(way_ids, pa.int64()),
            "version": pa.array([1] * len(way_ids), pa.int32()),
            "nodes": pa.array(way_nodes, pa.list_(pa.int64())),
            "tags": pa.array(way_tags, _MAP),
        }),
        os.path.join(out_dir, "ways.parquet"),
    )
    _write(
        pa.table({
            "relation_id": pa.array(rel_ids, pa.int64()),
            "version": pa.array([1] * len(rel_ids), pa.int32()),
            "members": pa.array(rel_members, pa.list_(_MEMBER)),
            "tags": pa.array(rel_tags, _MAP),
        }),
        os.path.join(out_dir, "relations.parquet"),
    )
    truth.members = sum(len(m) for m in rel_members)
    return truth


def short_route_counts(n_routes: int) -> list[int]:
    """The ``validate_routes`` shape: many routes of 8 ways (2 stops)."""
    return [8] * n_routes


def long_route_counts(n_routes: int, lo: int = 50, hi: int = 20_000) -> list[int]:
    """The ``validate_long_routes`` shape: way counts growing
    geometrically from ``lo`` to ``hi``."""
    return [int(round(x)) for x in np.geomspace(lo, hi, n_routes)]


# ---------------------------------------------------------------------------
# pages -> stops
# ---------------------------------------------------------------------------

_WORDS = (
    "bus", "tram", "late", "early", "queue", "shelter", "timetable", "ticket",
    "driver", "route", "change", "service", "morning", "evening", "rain",
)


@dataclass
class PagesTruth:
    pages: int
    #: per mention, in (url, mention_idx) order: the stop it was placed
    #: around (its nearest stop) and its coordinates as written
    mention_url: list[str]
    mention_idx: np.ndarray
    mention_stop: np.ndarray
    mention_lat: np.ndarray
    mention_lon: np.ndarray
    stop_lat: np.ndarray  # indexed by stop_id
    stop_lon: np.ndarray

    @property
    def mentions(self) -> int:
        return len(self.mention_url)


def np_cell(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """functions.geo.cell in numpy: the same IEEE operations in the same
    order, so the packed ids are identical."""
    n = 1 << res
    i = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    j = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    return (i << 32) | j


def write_pages(
    out_dir: str, seed: int, n_pages: int, n_stops: int = 5000,
    zipf_s: float = 1.0,
) -> PagesTruth:
    """Pages with two ``STOP:<id>@<lat>,<lon>`` mentions each, plus the
    stops dim.

    Stops sit on a jittered lattice (>= ~440 m apart); a mention lies
    within ~25 m of the stop it names, so that stop is its nearest.
    Mention popularity is Zipf(``zipf_s``) over the stops, with the
    ranks scattered over the lattice, so a few grid cells are hot.
    """
    rng = np.random.default_rng(seed)
    cols = 100
    sid = np.arange(n_stops)
    stop_lat = 55.80 + (sid // cols) * 0.006 + rng.uniform(-0.001, 0.001, n_stops)
    stop_lon = -3.50 + (sid % cols) * 0.010 + rng.uniform(-0.001, 0.001, n_stops)

    w = 1.0 / np.arange(1, n_stops + 1) ** zipf_s
    by_rank = rng.permutation(n_stops)
    picks = by_rank[rng.choice(n_stops, size=2 * n_pages, p=w / w.sum())]
    # round to the 6 decimals written into the page: the parsed value
    # is then exactly this float
    m_lat = np.round(stop_lat[picks] + rng.uniform(-2e-4, 2e-4, picks.size), 6)
    m_lon = np.round(stop_lon[picks] + rng.uniform(-3e-4, 3e-4, picks.size), 6)
    words = rng.integers(len(_WORDS), size=(n_pages, 6))

    urls, htmls, texts = [], [], []
    for p in range(n_pages):
        a, b = 2 * p, 2 * p + 1
        w6 = [_WORDS[k] for k in words[p]]
        paras = [
            f"{w6[0]} {w6[1]} near STOP:{picks[a]}@{m_lat[a]:.6f},{m_lon[a]:.6f} today",
            f"{w6[2]} {w6[3]} {w6[4]}",
            f"then STOP:{picks[b]}@{m_lat[b]:.6f},{m_lon[b]:.6f} {w6[5]}",
        ]
        urls.append(f"https://pages.example.org/{seed}/{p}")
        htmls.append(
            (
                f"<html><head><title>page {p}</title></head><body>"
                f"<div>nav</div><p>{paras[0]}</p><p>{paras[1]}</p>"
                f"<div>ad</div><p>{paras[2]}</p></body></html>"
            ).encode()
        )
        texts.append("\n".join(paras))

    os.makedirs(out_dir, exist_ok=True)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 86_400_000_000, n_pages
    ).astype("timedelta64[us]")
    _write(
        pa.table({
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_pages, pa.string()),
        }),
        os.path.join(out_dir, "pages.parquet"),
    )
    _write(
        pa.table({
            "stop_id": pa.array(sid, pa.int64()),
            "lat": pa.array(stop_lat, pa.float64()),
            "lon": pa.array(stop_lon, pa.float64()),
        }),
        os.path.join(out_dir, "stops.parquet"),
    )
    return PagesTruth(
        pages=n_pages,
        mention_url=[u for u in urls for _ in (0, 1)],
        mention_idx=np.tile(np.array([0, 1], np.int32), n_pages),
        mention_stop=picks.astype(np.int64),
        mention_lat=m_lat,
        mention_lon=m_lon,
        stop_lat=stop_lat,
        stop_lon=stop_lon,
    )
