"""Platform/stop node tag validators (T4/T5) — set-based.

validateRelationNodes (pkg/validation/nodes.go:10-42) loads EVERY node
member, whatever its role (nodes.go:15-20), then checks platform-role
nodes (nodes.go:44-76) and stop-role nodes (nodes.go:78-100). Each
builder here is a Column over a relation's ``ms`` (members.member_rows).
A missing node member makes the reference return an error that DISCARDS
the relation's node verdicts and all later stages
(route_relation.go:29-33): ``is_missing_node`` / ``node_load_errors``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.elements import (
    check,
    element_url,
    explode_verdicts,
    is_platform_role,
    is_stoplike_role,
    verdict,
)
from osm_pt_validator_spark.operators.members import member_rows, node_elements
from osm_pt_validator_spark.schemas import STAGE_ENGINE_ERROR, STAGE_NODES

#: max checks per node — seq = member_idx * _SEQ_STRIDE + check_no keeps
#: verdict order (member order, then check order within the node)
_SEQ_STRIDE = 8


def is_missing_node(m: Column) -> Column:
    """A node member that failed to load: it aborts stages 3-7."""
    return (m["type"] == "node") & ~m["loaded"]


def node_load_errors(ms: Column) -> Column:
    """Engine-error verdicts (stage -1) 'failed to load node %d'
    (nodes.go:24-28), one per node member absent from the dim."""
    return F.transform(
        F.filter(ms, is_missing_node),
        lambda m: verdict(
            STAGE_ENGINE_ERROR,
            F.lit(0),
            F.lit(None).cast("string"),
            F.format_string("failed to load node %d", m["ref"]),
        ),
    )


def _platform_checks(tags: Column, url: Column, naptan: Column) -> list[Column]:
    """nodes.go:44-76, in emission order."""
    pt = tags["public_transport"]
    highway = tags["highway"]
    return [
        F.when(pt.isNull(), check(url, F.lit("node is missing public_transport tag"))).when(
            pt != "platform", check(url, F.lit("node should have public_transport=platform"))
        ),
        F.when(
            tags["disused:highway"].isNotNull(),
            check(url, F.lit("node has disused:highway tag")),
        ),
        F.when(
            highway.isNotNull() & (highway != "bus_stop"),
            check(url, F.lit("node should have highway=bus_stop")),
        ),
        F.when(tags["name"].isNull(), check(url, F.lit("node is missing name tag"))),
        F.when(
            naptan & tags["naptan:AtcoCode"].isNull(),
            check(url, F.lit("missing tag 'naptan:AtcoCode'")),
        ),
    ]


def _stop_checks(tags: Column, url: Column) -> list[Column]:
    """nodes.go:78-100, in emission order."""
    pt = tags["public_transport"]
    bus = tags["bus"]
    return [
        F.when(pt.isNull(), check(url, F.lit("node is missing public_transport tag"))).when(
            pt != "stop_position",
            check(url, F.lit("node should have public_transport=stop_position")),
        ),
        F.when(bus.isNotNull() & (bus != "yes"), check(url, F.lit("node should have bus=yes"))),
    ]


def node_verdicts(ms: Column, naptan_platform_tags: Column | bool) -> Column:
    """Stage-3 verdict array of the loaded stop/platform node members."""
    naptan = F.lit(naptan_platform_tags)

    def member_verdicts(m: Column) -> Column:
        tags, url = m["node_tags"], element_url(F.lit("node"), m["ref"])
        checks = F.when(
            is_platform_role(m["role"]),
            F.array(*_platform_checks(tags, url, naptan)),
        ).otherwise(F.array(*_stop_checks(tags, url)))
        seq = m["member_idx"].cast("long") * _SEQ_STRIDE
        return F.transform(
            checks,
            lambda v, i: F.when(
                v.isNotNull(), verdict(STAGE_NODES, seq + i, v["url"], v["message"])
            ),
        )

    checked = F.filter(
        ms, lambda m: (m["type"] == "node") & m["loaded"] & is_stoplike_role(m["role"])
    )
    return F.filter(F.flatten(F.transform(checked, member_verdicts)), lambda v: v.isNotNull())


def missing_node_errors(members: DataFrame, nodes: DataFrame) -> DataFrame:
    """Engine-error channel: (relation_id, message) for node members
    absent from the nodes table.

    members: exploded (relation_id, member_idx, type, ref, role).
    """
    rows = member_rows(members, node_elements(nodes))
    return explode_verdicts(rows, node_load_errors(F.col("ms"))).select(
        "relation_id", "message"
    )


def validate_relation_nodes(
    members: DataFrame, nodes: DataFrame, naptan_platform_tags: bool
) -> DataFrame:
    """Stage-3 verdicts for the node members that resolved.

    members: exploded (relation_id, member_idx, type, ref, role).
    A relation with a missing node keeps its other nodes' verdicts here;
    the caller must discard them (the reference does), as the pipeline's
    abort does.
    """
    rows = member_rows(members, node_elements(nodes))
    return explode_verdicts(rows, node_verdicts(F.col("ms"), naptan_platform_tags))
