"""Route-master validator (A2 + T6) — RouteMaster
(pkg/validation/route_master.go:7-27), set-based single pass.

Emission order (mirrored via seq): per-member "member is not a
relation" in member order, then "not enough route variants", then
missing name/ref/operator tags.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.config import config_cols
from osm_pt_validator_spark.functions.elements import (
    TAIL_SEQ_BASE,
    check,
    element_url,
    explode_verdicts,
    number_checks,
    relation_url,
    verdict,
)
from osm_pt_validator_spark.operators.tags import (
    RM_REQUIRED_TAGS,
    missing_tag_checks,
)

#: route-master verdicts use their own single stage (the reference has
#: no multi-stage pipeline for masters)
STAGE_MASTER = 0

MSG_NOT_RELATION = "member is not a relation"
MSG_NOT_ENOUGH_VARIANTS = "not enough route variants"


def validate_route_masters(
    relations: DataFrame, minimum_route_variants: Column | int
) -> DataFrame:
    members = F.col("members")
    url = relation_url("relation_id")
    minimum = F.lit(minimum_route_variants)
    per_member = F.filter(
        F.transform(
            members,
            lambda m, i: F.when(
                m["type"] != "relation",
                verdict(STAGE_MASTER, i, element_url(m["type"], m["ref"]), F.lit(MSG_NOT_RELATION)),
            ),
        ),
        lambda v: v.isNotNull(),
    )
    rel_count = F.size(F.filter(members, lambda m: m["type"] == "relation"))
    tail = [
        F.when(
            (minimum > 0) & (rel_count < minimum), check(url, F.lit(MSG_NOT_ENOUGH_VARIANTS))
        ),
        *missing_tag_checks(F.col("tags"), url, RM_REQUIRED_TAGS),
    ]
    return explode_verdicts(
        relations,
        F.concat(per_member, number_checks(STAGE_MASTER, tail, seq_base=TAIL_SEQ_BASE)),
    )


def split_route_master_members(route_masters: DataFrame) -> DataFrame:
    """O2 — every relation-type member of a route_master becomes a new
    work-list row (cmd/validate-rm/main.go:118-168; one level deep, no
    fixpoint needed). Returns (master_id, relation_id), plus the
    master's config when it carries one."""
    cfg = config_cols(route_masters)
    return (
        route_masters.select(
            F.col("relation_id").alias("master_id"), *cfg, F.explode("members").alias("m")
        )
        .filter(F.col("m.type") == "relation")
        .select("master_id", F.col("m.ref").alias("relation_id"), *cfg)
    )
