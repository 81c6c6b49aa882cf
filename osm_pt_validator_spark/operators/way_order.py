"""Way-ordering / continuity / one-way traversal + stop-order operator.

This is the one check in the engine that is genuinely sequential per
relation (the frontier automaton's state depends on the full prefix of
the member-way list, and the greedy stop matcher on a running index), so
it is NOT set-expressible. The Spark mapping (``run_automaton``) is one
``mapInPandas`` hop over the pipeline's one row per relation: ``ws`` is
the route ways and stops the automaton reads, ``vs`` the relation's
verdicts built in Spark, passed through so that every verdict and
engine error leaves one operator. Per-relation work is tiny; parallelism
comes from the *millions of relations* spread across executors, many
relations per Arrow batch, no per-row Python UDFs.

Semantics transcribed from the reference (studied, not copied):
  * frontier automaton     pkg/validation/way_order.go:11-98
  * direction backfill     way_order.go:113-164
  * oneway check           way_order.go:102-108,166-190
  * gap => skip oneway     way_order.go:95-98
  * stop order (greedy)    pkg/validation/stop_order.go:7-74
  * way-load failure       way_order.go:25-30 (engine error channel)

The pure-Python cores (`run_way_order`, `run_stop_order`) are exposed
for direct unit testing against every case in way_order_test.go and
stop_order_test.go.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.elements import (
    VERDICT_TYPE,
    element_url_str,
    is_stop_role,
)
from osm_pt_validator_spark.operators.members import member_rows, way_elements
from osm_pt_validator_spark.schemas import (
    STAGE_ENGINE_ERROR,
    STAGE_ONEWAY,
    STAGE_STOP_ORDER,
    STAGE_WAY_ORDER,
    VERDICT_SCHEMA,
)

FORWARD = "forward"
REVERSE = "reverse"
ANY = "any"
TBC = "tbc"
ERROR = "error"

MSG_BAD_ORDER = "ways are incorrectly ordered"
MSG_ONEWAY = "way with oneway tag is traversed in wrong direction"
MSG_STOP_NOT_ON_ROUTE = "stop is not on route"
MSG_STOP_BAD_ORDER = "stop is incorrectly ordered"


# ---------------------------------------------------------------------------
# pure cores (unit-testable without Spark)
# ---------------------------------------------------------------------------


def run_way_order(
    ways: Sequence[tuple[int, Sequence[int], str | None]],
    ignore_ids: frozenset[int] | set[int] = frozenset(),
) -> tuple[list[tuple[str, str]], list[tuple[int, str, Sequence[int]]], bool]:
    """Frontier scan over the ordered member ways.

    ways: [(way_id, nodes, resolved_oneway_tag_or_None)] in member order.
    Returns (verdicts [(url, message)], way_directs
    [(way_id, direction, nodes)], has_gap). When has_gap, way_directs is
    empty and oneway checking is skipped (way_order.go:95-98).
    """
    verdicts: list[tuple[str, str]] = []
    directs: list[list] = []  # [way_id, direction, nodes, oneway]
    allowed: set[int] = set()
    has_gap = False

    for way_id, nodes, ow in ways:
        first, last = nodes[0], nodes[-1]
        circular = first == last

        if not allowed:
            # first way (or nothing reachable yet): seed the frontier
            if circular:
                allowed = set(nodes)
                directs.append([way_id, ANY, nodes, ow])
            else:
                allowed = {first, last}
                directs.append([way_id, TBC, nodes, ow])
            continue

        way_dir = ANY
        next_allowed: set[int] = set()
        matches = 0
        node_set = set(nodes)
        for an in allowed:
            if circular:
                if an in node_set:
                    next_allowed = set(nodes)
                    matches += 1
            elif an == first:
                next_allowed.add(last)
                way_dir = FORWARD
                matches += 1
            elif an == last:
                next_allowed.add(first)
                way_dir = REVERSE
                matches += 1

        if matches == 0:
            verdicts.append((element_url_str("way", way_id), MSG_BAD_ORDER))
            allowed = set(nodes)  # reset frontier to this way
            has_gap = True
            way_dir = ANY  # stays at its init value in the reference
        elif matches == 1:
            allowed = next_allowed
        else:
            way_dir = TBC
            allowed = next_allowed

        directs.append([way_id, way_dir, nodes, ow])

    if has_gap:
        return verdicts, [], True

    _fill_in_missing_directions(directs)

    for way_id, direction, nodes, ow in directs:
        if not _check_oneway(ow, direction, way_id in ignore_ids):
            verdicts.append((element_url_str("way", way_id), MSG_ONEWAY))

    return verdicts, [(d[0], d[1], d[2]) for d in directs], False


def _fill_in_missing_directions(directs: list[list]) -> None:
    """Backward pass resolving 'tbc' from the following way
    (way_order.go:113-164). A trailing 'tbc' (no next way) is left
    as-is — unreachable in the reference (it would panic on the
    zero-value Way)."""
    prev: list | None = None
    for i in range(len(directs) - 1, -1, -1):
        if directs[i][1] == TBC and prev is not None:
            nxt_nodes = prev[2]
            if nxt_nodes[0] == nxt_nodes[-1]:  # next is circular
                directs[i][1] = _direction_join_circular(nxt_nodes, directs[i][2])
            else:
                directs[i][1] = _direction_join_linear(nxt_nodes, prev[1], directs[i][2])
        prev = directs[i]


def _direction_join_circular(circle_nodes: Sequence[int], joining_nodes: Sequence[int]) -> str:
    """First occurrence in the circle of the joining way's first node
    => reverse; of its last node => forward (way_order.go:138-151)."""
    start, last = joining_nodes[0], joining_nodes[-1]
    for nid in circle_nodes:
        if nid == start:
            return REVERSE
        if nid == last:
            return FORWARD
    return ERROR


def _direction_join_linear(
    next_nodes: Sequence[int], next_direction: str, joining_nodes: Sequence[int]
) -> str:
    """Compare the joining way's last node with the next way's entry
    node (way_order.go:153-164)."""
    compare = next_nodes[-1] if next_direction == REVERSE else next_nodes[0]
    return FORWARD if joining_nodes[-1] == compare else REVERSE


def _check_oneway(ow: str | None, direction: str, ignored: bool) -> bool:
    """checkOneway (way_order.go:166-190). Returns True when OK."""
    if ow is None or ow == "":
        return True
    if ignored:
        return True
    if ow in ("no", "alternating", "reversible"):
        return True
    if ow in ("yes", "true", "1"):
        return direction in (FORWARD, ANY)
    if ow in ("-1", "directionReverse"):
        return direction in (REVERSE, ANY)
    return False  # unknown oneway value => violation


def run_stop_order(
    way_directs: Iterable[tuple[int, str, Sequence[int]]],
    stops: Sequence[int],
) -> list[tuple[str, str]]:
    """Greedy monotone matching of member-ordered stops against the
    oriented global node sequence (stop_order.go:7-74)."""
    if len(stops) < 2:
        return []

    stop_positions: dict[int, list[int]] = {s: [] for s in stops}
    pos = 0
    for _, direction, nodes in way_directs:
        ordered = nodes if direction in (FORWARD, ANY) else list(reversed(nodes))
        for nid in ordered:
            if nid in stop_positions:
                stop_positions[nid].append(pos)
            pos += 1

    verdicts: list[tuple[str, str]] = []
    last_index = -1
    for stop in stops:
        indices = stop_positions[stop]
        if not indices:
            verdicts.append((element_url_str("node", stop), MSG_STOP_NOT_ON_ROUTE))
            continue
        greater = [i for i in indices if i > last_index]
        if not greater:
            verdicts.append((element_url_str("node", stop), MSG_STOP_BAD_ORDER))
            continue
        last_index = greater[0]
    return verdicts


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

def _validate_relation(rel_id: int, members: list) -> list[tuple]:
    """Run automaton + oneway + stop order for one relation.

    members: dicts (type, ref, nodes, oneway, ignored) of its route ways
    and stops, in member order (``automaton_members``).
    Returns rows (relation_id, stage_no, seq, url, message).
    """
    out: list[tuple] = []
    ways_m = [m for m in members if m["type"] == "way"]
    stops = [int(m["ref"]) for m in members if m["type"] == "node"]

    # W5: any member way that failed to load => engine error, and the
    # way-order scan yields no verdicts/directions (way_order.go:25-30).
    missing = [m for m in ways_m if m["nodes"] is None]
    for m in missing:
        out.append(
            (rel_id, STAGE_ENGINE_ERROR, 0, None, f"failed to load way {int(m['ref'])}")
        )

    way_verdicts: list[tuple[str, str]] = []
    directs: list[tuple[int, str, Sequence[int]]] = []
    if not missing:
        ways = [
            (
                int(m["ref"]),
                [int(n) for n in m["nodes"]],
                m["oneway"] if isinstance(m["oneway"], str) else None,
            )
            for m in ways_m
        ]
        ignore = {int(m["ref"]) for m in ways_m if m["ignored"]}
        way_verdicts, directs, _ = run_way_order(ways, ignore)
        for i, (url, msg) in enumerate(way_verdicts):
            stage = STAGE_WAY_ORDER if msg == MSG_BAD_ORDER else STAGE_ONEWAY
            out.append((rel_id, stage, i, url, msg))

    # stop order runs only when way order produced zero verdicts
    # (route_relation.go:38-41). NB after a way-load failure the
    # reference still reaches this point with empty wayDirects — stops
    # then all report "stop is not on route"; we mirror that.
    if not way_verdicts:
        for i, (url, msg) in enumerate(run_stop_order(directs, stops)):
            out.append((rel_id, STAGE_STOP_ORDER, i, url, msg))
    return out


def automaton_members(ms: Column, ignore_ways: Column) -> Column:
    """The automaton's input from a relation's ``ms`` (members.member_rows):
    its route ways (role '') and stop-role nodes in member order, as
    (type, ref, nodes, oneway, ignored). A way that failed to load has
    NULL nodes; ``ignored`` marks one in ``ignore_ways`` (no oneway check)."""
    kept = F.filter(
        ms,
        lambda m: ((m["type"] == "way") & (m["role"] == ""))
        | ((m["type"] == "node") & is_stop_role(m["role"])),
    )
    return F.transform(
        kept,
        lambda m: F.struct(
            *[m[f].alias(f) for f in ("type", "ref", "nodes", "oneway")],
            F.array_contains(ignore_ways, m["ref"]).alias("ignored"),
        ),
    )


def _validate_rows(batches):
    """mapInPandas body: one row per relation with its verdicts ``vs``
    and automaton input ``ws`` (NULL: stages 3-7 are aborted). A row is
    self-contained, so Arrow batch boundaries need no carry-over."""
    cols = ["relation_id", "stage_no", "seq", "url", "message"]
    for pdf in batches:
        out: list[tuple] = []
        for rel_id, vs, ws in zip(pdf["relation_id"], pdf["vs"], pdf["ws"]):
            rel_id = int(rel_id)
            out.extend((rel_id, v["stage_no"], v["seq"], v["url"], v["message"]) for v in vs)
            if ws is not None:
                out.extend(_validate_relation(rel_id, list(ws)))
        yield pd.DataFrame(out, columns=cols).astype(
            {"relation_id": "int64", "stage_no": "int32", "seq": "int64"}
        )


def run_automaton(rows: DataFrame, vs: Column, ws: Column) -> DataFrame:
    """The one Arrow hop: every VERDICT row of ``rows`` — the verdict
    array ``vs`` passed through, then the stage 4/5/6 verdicts and
    stage -1 way-load errors of the automaton over ``ws``.

    Batch bound: one relation = one Arrow row, so the per-row payload
    is ~(members × mean nodes-per-way × 8B). Arrow's per-buffer limit
    is 2 GiB per column chunk, i.e. the design holds to relations of
    ~10^7-10^8 members — OSM's largest PT relations are ~10^3-10^4 and
    a 10^5-member relation is covered by test.
    """
    return rows.select("relation_id", vs.alias("vs"), ws.alias("ws")).mapInPandas(
        _validate_rows, schema=VERDICT_SCHEMA
    )


def validate_way_and_stop_order(
    members: DataFrame,
    ways: DataFrame,
    ignore_ways: Sequence[int] = (),
) -> DataFrame:
    """Stage 4/5/6 verdicts + stage -1 engine errors for all relations.

    members: exploded (relation_id, member_idx, type, ref, role).
    """
    rows = member_rows(members, way_elements(ways))
    no_verdicts = F.array().cast(f"array<{VERDICT_TYPE}>")
    ignore = F.lit(list(ignore_ways)).cast("array<long>")
    return run_automaton(rows, no_verdicts, automaton_members(F.col("ms"), ignore))


def cheap_gap_prefilter(members: DataFrame, ways: DataFrame) -> DataFrame:
    """Set-based pre-filter for the common case (SURVEY §2.5 W1 note):
    flag relations where some consecutive pair of member ways shares no
    endpoint. Catches most gaps without the automaton; exact verdicts
    still come from `validate_way_and_stop_order`. Useful at scale to
    route the (vast) clean majority around the Python stage cheaply
    when only gap detection is needed.
    """
    from pyspark.sql import Window

    w = (
        members.filter((F.col("type") == "way") & (F.col("role") == ""))
        .join(ways, F.col("ref") == F.col("way_id"), "inner")
        .select(
            "relation_id",
            "member_idx",
            F.array_union(
                F.array(F.element_at("nodes", 1)), F.array(F.element_at("nodes", -1))
            ).alias("endpoints"),
            F.col("nodes"),
            (F.element_at("nodes", 1) == F.element_at("nodes", -1)).alias("circular"),
        )
    )
    win = Window.partitionBy("relation_id").orderBy("member_idx")
    prev_nodes = F.lag("nodes").over(win)
    prev_circ = F.lag("circular").over(win)
    # comparable node sets: full node list when either side is circular
    left = F.when(prev_circ | F.col("circular"), prev_nodes).otherwise(
        F.array_union(
            F.array(F.element_at(prev_nodes, 1)), F.array(F.element_at(prev_nodes, -1))
        )
    )
    right = F.when(prev_circ | F.col("circular"), F.col("nodes")).otherwise(
        F.col("endpoints")
    )
    disjoint = F.size(F.array_intersect(left, right)) == 0
    return (
        w.withColumn("maybe_gap", F.when(prev_nodes.isNull(), F.lit(False)).otherwise(disjoint))
        .groupBy("relation_id")
        .agg(F.max("maybe_gap").alias("maybe_gap"))
    )
