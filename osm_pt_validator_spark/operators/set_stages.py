"""Fused set-based validator stages — ONE projection pass.

`pipeline.validate_route_relations` composes stages 0/1/2/7 (PTv2
gate, RE tags, member order, node count) which are all pure column
algebra over (relation_id, members, tags). Computing them as separate
DataFrame branches re-scans the relations table once per stage — fine
at test scale, 4x wasted I/O at 100 TB. This module concatenates the
stages' verdict-array builders (tags.re_tag_verdicts,
member_order.member_order_verdicts, node_count_verdicts) into ONE
ARRAY<STRUCT<stage_no,seq,url,message>> per relation in a single
select, then explodes: one scan, zero shuffles, whole-stage codegen.
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


def node_count_verdicts(members: Column, url: Column, minimum: int) -> Column:
    """A1 — validateNodeMembersCount (node_count.go:7-21);
    ``minimum < 1`` disables the check (node_count.go:9-11)."""
    if minimum < 1:
        return F.array().cast(f"array<{VERDICT_TYPE}>")
    node_count = F.size(F.filter(members, lambda m: m["type"] == "node"))
    return F.filter(
        F.array(
            F.when(
                node_count < minimum,
                verdict(STAGE_NODE_COUNT, F.lit(0), url, F.lit(MSG_NOT_ENOUGH)),
            )
        ),
        lambda v: v.isNotNull(),
    )


def set_based_verdicts(
    relations: DataFrame, config: ValidationConfig
) -> DataFrame:
    """Stages 0 + 1 + 2 + 7 in one pass over the relations table."""
    tags = F.col("tags")
    members = F.col("members")
    url = relation_url("relation_id")
    # stage 0 gate: non-PTv2 relations emit ONLY the gate verdict
    checks = F.when(
        ~is_ptv2(tags),
        F.array(verdict(STAGE_PTV2, F.lit(0), url, F.lit(MSG_PTV2))),
    ).otherwise(
        F.concat(
            re_tag_verdicts(tags, url),
            member_order_verdicts(members),
            node_count_verdicts(members, url, config.minimum_node_members),
        )
    )
    return explode_verdicts(relations, checks)
