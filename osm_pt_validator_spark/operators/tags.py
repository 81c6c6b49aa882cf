"""Tag validators — the T-family (SURVEY §2.3), fully set-based.

Every check is a ``when``-guarded ``check(url, message)`` over the
tags map; the stage builder numbers the fired ones by position
(``elements.number_checks``), so the whole family is one projection:
no joins, no shuffles, whole-stage codegen throughout.

Reference semantics:
  * checkTagsPresent / checkTagValue   pkg/validation/tags.go:5-29
  * validateRETags                      route_relation.go:108-125
    (required tags from,to,name,operator,ref; type=route;
     public_transport:version=2)
  * RouteMaster tag checks              route_master.go:24-25
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.elements import check, number_checks
from osm_pt_validator_spark.schemas import STAGE_TAGS

RE_REQUIRED_TAGS = ("from", "to", "name", "operator", "ref")
RM_REQUIRED_TAGS = ("name", "ref", "operator")


def missing_tag_checks(tags: Column, url: Column, keys: Sequence[str]) -> list[Column]:
    """checkTagsPresent (tags.go:5-18): one verdict per absent key, in
    the given key order."""
    return [
        F.when(~F.map_contains_key(tags, F.lit(k)), check(url, F.lit(f"missing tag '{k}'")))
        for k in keys
    ]


def tag_value_check(tags: Column, url: Column, key: str, expected: str) -> Column:
    """checkTagValue (tags.go:20-29): absent => missing-tag verdict;
    wrong value => should-have-value verdict."""
    val = tags.getItem(key)
    return F.when(val.isNull(), check(url, F.lit(f"missing tag '{key}'"))).when(
        val != F.lit(expected),
        check(url, F.lit(f"tag '{key}' should have value '{expected}'")),
    )


def re_tag_verdicts(tags: Column, url: Column) -> Column:
    """T3 — stage-1 verdict array of the route-relation tag
    requirements (route_relation.go:108-125).

    Check order is fixed (missing from/to/name/operator/ref, then
    type=route, then public_transport:version=2); the reference
    iterates a Go map for the two value checks (random order) so any
    fixed order is conformant — verdict sort keys make ours stable.
    """
    checks = missing_tag_checks(tags, url, RE_REQUIRED_TAGS)
    checks.append(tag_value_check(tags, url, "type", "route"))
    checks.append(tag_value_check(tags, url, "public_transport:version", "2"))
    return number_checks(STAGE_TAGS, checks)
