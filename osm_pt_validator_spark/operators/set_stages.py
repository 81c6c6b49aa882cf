"""Set-based validator stages 0/1/2/7 — pure column algebra over
(relation_id, members, tags).

The stage-0 gate and node-count verdict-array builders live here.
`pipeline.validate_route_relations` uses them in its one projection over
one row per relation; `set_based_verdicts` builds stages 0/1/2/7
straight from the relations table: one scan, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.config import ValidationConfig
from osm_pt_validator_spark.functions.elements import (
    VERDICT_TYPE,
    explode_verdicts,
    is_ptv2,
    relation_url,
    verdict,
)
from osm_pt_validator_spark.operators.member_order import member_order_verdicts
from osm_pt_validator_spark.operators.tags import re_tag_verdicts
from osm_pt_validator_spark.schemas import STAGE_NODE_COUNT, STAGE_PTV2

MSG_PTV2 = "tag 'public_transport:version' should have value '2'"
MSG_NOT_ENOUGH = "relation does not have enough node members"


def node_count_verdicts(members: Column, url: Column, minimum: Column | int) -> Column:
    """A1 — validateNodeMembersCount (node_count.go:7-21);
    ``minimum < 1`` disables the check (node_count.go:9-11)."""
    minimum = F.lit(minimum)
    node_count = F.size(F.filter(members, lambda m: m["type"] == "node"))
    return F.when(
        (minimum >= 1) & (node_count < minimum),
        F.array(verdict(STAGE_NODE_COUNT, F.lit(0), url, F.lit(MSG_NOT_ENOUGH))),
    ).otherwise(F.array().cast(f"array<{VERDICT_TYPE}>"))


def ptv2_gate(tags: Column, url: Column, checks: Column) -> Column:
    """Stage 0 (route_relation.go:18-21): a non-PTv2 relation gets ONLY
    the gate verdict; a PTv2 one gets ``checks``."""
    return F.when(
        ~is_ptv2(tags), F.array(verdict(STAGE_PTV2, F.lit(0), url, F.lit(MSG_PTV2)))
    ).otherwise(checks)


def set_based_verdicts(
    relations: DataFrame, config: ValidationConfig
) -> DataFrame:
    """Stages 0 + 1 + 2 + 7 in one pass over the relations table."""
    tags = F.col("tags")
    members = F.col("members")
    url = relation_url("relation_id")
    checks = F.concat(
        re_tag_verdicts(tags, url),
        member_order_verdicts(members),
        node_count_verdicts(members, url, config.minimum_node_members),
    )
    return explode_verdicts(relations, ptv2_gate(tags, url, checks))
