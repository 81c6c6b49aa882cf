"""Platform/stop node tag validators (T4/T5) — set-based.

validateRelationNodes (pkg/validation/nodes.go:10-42) fetches every
node member then checks platform-role nodes (nodes.go:44-76) and
stop-role nodes (nodes.go:78-100). Our plan: explode members, filter to
stop/platform roles, hash-join the `nodes` dim on ref=node_id (AQE
broadcasts when the dim is small), and build the per-node check array
in one projection.

Load-failure parity: a node member with no match in `nodes` makes the
reference return an error and DISCARDS the relation's node verdicts and
all later stages (route_relation.go:29-33) — callers get those
relation_ids + engine-error rows from `missing_node_errors`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.elements import (
    check,
    element_url,
    is_platform_role,
    is_stop_role,
)
from osm_pt_validator_spark.schemas import STAGE_NODES

#: max checks per node — seq = member_idx * _SEQ_STRIDE + check_no keeps
#: verdict order (member order, then check order within the node)
_SEQ_STRIDE = 8


def _checked_node_members(members: DataFrame, nodes: DataFrame) -> DataFrame:
    nm = members.filter(
        (F.col("type") == "node")
        & (is_stop_role(F.col("role")) | is_platform_role(F.col("role")))
    )
    # No join hint: a SHUFFLE_HASH hint would force SHJ even for a tiny
    # dim (hints resolve before size-based broadcast selection). The
    # session's preferSortMergeJoin=false gives the intended ladder:
    # small nodes dim -> broadcast (zero shuffle), bigger -> shuffled
    # hash (skips sorting the tags-map rows), huge -> sort-merge.
    return nm.join(nodes, nm["ref"] == nodes["node_id"], "left")


def missing_node_errors(members: DataFrame, nodes: DataFrame) -> DataFrame:
    """Engine-error channel: (relation_id, message) for node members
    absent from the nodes table (reference error 'failed to load node
    %d', nodes.go:24-28)."""
    j = _checked_node_members(members, nodes)
    return j.filter(F.col("node_id").isNull()).select(
        "relation_id",
        F.format_string("failed to load node %d", F.col("ref")).alias("message"),
    )


def _platform_checks(tags: Column, url: Column, naptan: bool) -> list[Column]:
    """nodes.go:44-76, in emission order."""
    pt = tags.getItem("public_transport")
    highway = tags.getItem("highway")
    checks = [
        F.when(pt.isNull(), check(url, F.lit("node is missing public_transport tag"))).when(
            pt != "platform", check(url, F.lit("node should have public_transport=platform"))
        ),
        F.when(
            F.map_contains_key(tags, F.lit("disused:highway")),
            check(url, F.lit("node has disused:highway tag")),
        ),
        F.when(
            highway.isNotNull() & (highway != "bus_stop"),
            check(url, F.lit("node should have highway=bus_stop")),
        ),
        F.when(
            ~F.map_contains_key(tags, F.lit("name")),
            check(url, F.lit("node is missing name tag")),
        ),
    ]
    if naptan:
        checks.append(
            F.when(
                ~F.map_contains_key(tags, F.lit("naptan:AtcoCode")),
                check(url, F.lit("missing tag 'naptan:AtcoCode'")),
            )
        )
    return checks


def _stop_checks(tags: Column, url: Column) -> list[Column]:
    """nodes.go:78-100, in emission order."""
    pt = tags.getItem("public_transport")
    bus = tags.getItem("bus")
    return [
        F.when(pt.isNull(), check(url, F.lit("node is missing public_transport tag"))).when(
            pt != "stop_position",
            check(url, F.lit("node should have public_transport=stop_position")),
        ),
        F.when(bus.isNotNull() & (bus != "yes"), check(url, F.lit("node should have bus=yes"))),
    ]


def validate_relation_nodes(
    members: DataFrame, nodes: DataFrame, naptan_platform_tags: bool
) -> DataFrame:
    """Stage-3 verdicts for the node members that resolved.

    members: exploded (relation_id, member_idx, type, ref, role).
    A relation with a missing node keeps its other nodes' verdicts here;
    the caller must discard them (the reference does), as the pipeline's
    abort filter does.
    """
    j = _checked_node_members(members, nodes).filter(F.col("node_id").isNotNull())
    url = element_url(F.lit("node"), "ref")
    tags = F.col("tags")

    def pad(checks: list[Column]) -> Column:
        padded = checks + [F.lit(None).cast("struct<url:string,message:string>")] * (
            _SEQ_STRIDE - len(checks)
        )
        return F.array(*padded)

    arr = F.when(is_platform_role(F.col("role")), pad(_platform_checks(tags, url, naptan_platform_tags))).otherwise(
        pad(_stop_checks(tags, url))
    )
    return (
        j.select(
            "relation_id",
            "member_idx",
            F.posexplode(arr).alias("check_no", "v"),
        )
        .filter(F.col("v").isNotNull())
        .select(
            "relation_id",
            F.lit(STAGE_NODES).alias("stage_no"),
            (F.col("member_idx").cast("long") * _SEQ_STRIDE + F.col("check_no")).alias("seq"),
            F.col("v.url").alias("url"),
            F.col("v.message").alias("message"),
        )
    )
