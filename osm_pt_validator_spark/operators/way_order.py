"""Way-ordering / continuity / one-way traversal + stop-order operator.

This is the one check in the engine that is genuinely sequential per
relation (the frontier automaton's state depends on the full prefix of
the member-way list, and the greedy stop matcher on a running index), so
it is NOT set-expressible. The Spark mapping is:

    route_detail (one row per way/stop member, shuffled on relation_id)
        .groupBy("relation_id")
        .applyInPandas(_validate_group, VERDICT-shaped schema)

Per-relation work is tiny (≤ hundreds of members); parallelism — and
the 100 TB story — comes from the *millions of relations* spread across
executors, one Arrow batch per group, no per-row Python UDFs.

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
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_pt_validator_spark.functions.elements import (
    element_url_str,
    is_stop_role,
    oneway_tag,
)
from osm_pt_validator_spark.schemas import (
    STAGE_ONEWAY,
    STAGE_STOP_ORDER,
    STAGE_WAY_ORDER,
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

_DETAIL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("relation_id", T.LongType(), False),
        T.StructField("stage_no", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("message", T.StringType(), False),
    ]
)

STAGE_ENGINE_ERROR = -1


def _validate_relation(rel_id: int, members: list) -> list[tuple]:
    """Run automaton + oneway + stop order for one relation.

    members: dicts with (member_idx, kind, ref, nodes, oneway,
    ignore_oneway), already sorted by member_idx.
    Returns rows (relation_id, stage_no, seq, url, message).
    """
    out: list[tuple] = []
    ways_m = [m for m in members if m["kind"] == "way"]
    stops = [int(m["ref"]) for m in members if m["kind"] == "stop"]

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
        ignore = {int(m["ref"]) for m in ways_m if m["ignore_oneway"]}
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


def route_detail(
    members: DataFrame,
    ways: DataFrame,
    ignore_ways: Sequence[int] = (),
) -> DataFrame:
    """Build the per-relation detail rows the automaton consumes.

    members: exploded relation members
    (relation_id, member_idx, type, ref, role).

    Plan shape (scale notes):
      * route ways join `ways` on ref=way_id — a shuffle hash join on
        way_id; when the ways dim is small enough Catalyst/AQE picks
        broadcast. Left join so missing ways surface as engine errors
        instead of vanishing (way_order.go:25-30 parity).
      * stops need no join — they carry only the ref.
    """
    is_way = (F.col("type") == "way") & (F.col("role") == "")
    is_stop = (F.col("type") == "node") & is_stop_role(F.col("role"))
    # ONE pass over the exploded members (a union of separate way/stop
    # branches would scan + explode the relations table twice — 2x the
    # read at 100 TB). The ways join keys on ref=way_id with the
    # kind='way' predicate folded into the join condition, so stop rows
    # null-extend even if a node ref collides with a way id.
    # No join hint: a SHUFFLE_HASH hint would force SHJ and forgo the
    # broadcast plan even for a tiny ways dim (hints resolve before
    # size-based selection). The session's preferSortMergeJoin=false
    # still avoids sort-merge's two sorts (node arrays sort expensively)
    # whenever the ways build side is partition-small, and degrades to
    # the spill-safe sort-merge only for a genuinely huge dim.
    return (
        members.filter(is_way | is_stop)
        .select(
            "relation_id",
            "member_idx",
            F.when(F.col("type") == "way", F.lit("way")).otherwise(F.lit("stop")).alias("kind"),
            "ref",
        )
        .join(
            ways,
            (F.col("ref") == F.col("way_id")) & (F.col("kind") == "way"),
            "left",
        )
        .select(
            "relation_id",
            "member_idx",
            "kind",
            "ref",
            "nodes",
            F.when(F.col("kind") == "way", oneway_tag(F.col("tags"))).alias("oneway"),
            (
                ((F.col("kind") == "way") & F.col("ref").isin([int(w) for w in ignore_ways]))
                if ignore_ways
                else F.lit(False)
            ).alias("ignore_oneway"),
        )
    )


def _validate_rows(batches):
    """mapInPandas body over PRE-GROUPED rows: one row per relation,
    members as a sorted ARRAY<STRUCT>. Every relation is self-contained
    in its row, so Arrow batch boundaries need no carry-over, and the
    per-group cost is a plain Python call (~50us) instead of one
    applyInPandas UDF invocation per group (~2ms) — a 20-40x win when
    relations are small and numerous (the 100 TB shape)."""
    cols = ["relation_id", "stage_no", "seq", "url", "message"]
    for pdf in batches:
        out: list[tuple] = []
        for rel_id, ms in zip(pdf["relation_id"], pdf["ms"]):
            out.extend(_validate_relation(int(rel_id), list(ms)))
        yield pd.DataFrame(out, columns=cols).astype(
            {"relation_id": "int64", "stage_no": "int32", "seq": "int64"}
        )


def validate_way_and_stop_order(
    members: DataFrame,
    ways: DataFrame,
    ignore_ways: Sequence[int] = (),
) -> DataFrame:
    """Stage 4/5/6 verdicts + stage -1 engine errors for all relations.

    Plan: groupBy(relation_id).agg(sort_array(collect_list(struct)))
    packs each relation into ONE row (hash aggregate — the required
    distribution is part of the operator, so AQE local shuffle reads
    cannot break co-location, unlike a bare repartition()), then a
    single mapInPandas Arrow hop runs the automaton per row.

    Batch bound: one relation = one Arrow row, so the per-row payload
    is ~(members × mean nodes-per-way × 8B). Arrow's per-buffer limit
    is 2 GiB per column chunk, i.e. the design holds to relations of
    ~10^7-10^8 members — OSM's largest PT relations are ~10^3-10^4 and
    a 10^5-member relation is covered by test. Relations are
    independent, so a pathological input could be row-capped upstream
    (filter size(members) > cap into the engine-error channel) without
    touching this plan.
    """
    detail = route_detail(members, ways, ignore_ways)
    grouped = detail.groupBy("relation_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "member_idx", "kind", "ref", "nodes", "oneway", "ignore_oneway"
                )
            )
        ).alias("ms")
    )
    return grouped.mapInPandas(_validate_rows, schema=_DETAIL_OUT_SCHEMA)


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
