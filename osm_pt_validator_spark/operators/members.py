"""One row per route relation: each member next to its loaded element.

Explode the members with their position, left-join them ONCE to one
element dim keyed by (type, ref) — nodes ∪ ways — and group back to one
row per relation. Its ``ms`` holds the member structs sorted by
member_idx: (member_idx, type, ref, role, loaded) plus the dim's
element columns — node_tags of a node, nodes and oneway of a way;
``loaded`` is false for a load failure. Node tags are a struct
of the keys stage 3 reads: ``sort_array`` rejects a map inside its
element type (INVALID_ORDERING_TYPE). The join has no hint: with
preferSortMergeJoin=false a small dim broadcasts, a bigger one plans a
shuffled hash join, only a huge one sort-merges.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.config import config_cols
from osm_pt_validator_spark.functions.elements import oneway_tag

#: the node tags stage 3 reads (node_checks._platform_checks/_stop_checks)
NODE_TAG_KEYS = ("public_transport", "highway", "bus", "name", "disused:highway", "naptan:AtcoCode")
_MEMBER_COLS = ("relation_id", "member_idx", "type", "ref", "role")


def explode_members(relations: DataFrame) -> DataFrame:
    """(relation_id, member_idx, type, ref, role) — posexplode keeps the
    semantic member order as an explicit column."""
    return relations.select(
        "relation_id", F.posexplode("members").alias("member_idx", "m")
    ).select("relation_id", "member_idx", "m.type", "m.ref", "m.role")


def node_elements(nodes: DataFrame) -> DataFrame:
    """The nodes half of the element dim."""
    return nodes.select(
        F.lit("node").alias("type"),
        F.col("node_id").alias("ref"),
        F.lit(True).alias("loaded"),
        F.struct(*[F.col("tags").getItem(k).alias(k) for k in NODE_TAG_KEYS]).alias("node_tags"),
    )


def way_elements(ways: DataFrame) -> DataFrame:
    """The ways half of the element dim."""
    return ways.select(
        F.lit("way").alias("type"),
        F.col("way_id").alias("ref"),
        F.lit(True).alias("loaded"),
        "nodes",
        oneway_tag(F.col("tags")).alias("oneway"),
    )


def member_rows(members: DataFrame, *elements: DataFrame) -> DataFrame:
    """Join each member to the union of ``elements``; group to one row
    per relation (and config, if carried): its keys, ``any_value`` of
    each other non-member column (e.g. the relation's tags) and ``ms``.
    A NULL member_idx (an outer explode of an empty member list) keeps
    its relation's row but adds no struct."""
    dim = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), elements)
    keys = ["relation_id", *config_cols(members)]
    carried = [c for c in members.columns if c not in (*_MEMBER_COLS, *keys)]
    m = F.struct(
        "member_idx", "type", "ref", "role",
        F.coalesce("loaded", F.lit(False)).alias("loaded"),
        *[c for c in dim.columns if c not in ("type", "ref", "loaded")],
    )
    joined = members.join(dim, ["type", "ref"], "left")
    # a grouping aggregate, not repartition(): the distribution is part of
    # the operator, so AQE's local shuffle reads cannot split a relation
    return joined.groupBy(*keys).agg(
        *[F.any_value(c).alias(c) for c in carried],
        F.sort_array(F.collect_list(F.when(F.col("member_idx").isNotNull(), m))).alias("ms"),
    )
