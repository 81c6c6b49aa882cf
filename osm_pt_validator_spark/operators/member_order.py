"""Member-order validator (A3) — validateREMemberOrder re-expressed as
pure array/column algebra over the members array. Zero shuffles: the
sequential Go scan (route_relation.go:50-106) reduces exactly to
min/max index comparisons over the members array.

Flag semantics (proved equivalent to the scan):
  * routeBeforeStops — set when a non-stoplike member is seen while no
    stoplike member has been seen yet (route_relation.go:73-78)
    <=> exists(non-stoplike) AND (no stoplike OR
        min_idx(non-stoplike) < min_idx(stoplike))
  * stopAfterRoute — set when a stoplike member is seen after any
    non-stoplike member (route_relation.go:67-72)
    <=> exists(both) AND max_idx(stoplike) > min_idx(non-stoplike)
  * !startedStops  <=> no stoplike member   => "route does not contain
    a stop/platform"
  * !startedRoute  <=> no non-stoplike member => "route does not
    contain any route ways"

Per-member verdicts (emitted first, seq = member position):
  * node with role ''            => "stop/platform with empty role"
  * role not '' and not in enum  => "element has unexpected role '<r>'"

The four flag verdicts follow with url '' and seq from TAIL_SEQ_BASE.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.elements import (
    TAIL_SEQ_BASE,
    check,
    element_url,
    is_stoplike_role,
    number_checks,
    verdict,
)
from osm_pt_validator_spark.schemas import STAGE_MEMBER_ORDER

MSG_EMPTY_ROLE = "stop/platform with empty role"
MSG_ROUTE_BEFORE_STOPS = "route way appears before stop/platform"
MSG_STOP_AFTER_ROUTE = "stop/platform appears after route ways"
MSG_NO_STOPS = "route does not contain a stop/platform"
MSG_NO_WAYS = "route does not contain any route ways"


def member_order_verdicts(members: Column) -> Column:
    """Stage-2 verdict array of one relation's members."""
    def member_verdict(m: Column, i: Column) -> Column:
        url = element_url(m["type"], m["ref"])
        return F.when(
            (m["type"] == "node") & (m["role"] == ""),
            verdict(STAGE_MEMBER_ORDER, i, url, F.lit(MSG_EMPTY_ROLE)),
        ).when(
            (m["role"] != "") & ~is_stoplike_role(m["role"]),
            verdict(
                STAGE_MEMBER_ORDER,
                i,
                url,
                F.format_string("element has unexpected role '%s'", m["role"]),
            ),
        )

    per_member = F.filter(F.transform(members, member_verdict), lambda v: v.isNotNull())

    # indices of stoplike / non-stoplike members
    idx = F.transform(members, lambda m, i: i)
    stoplike_at = lambda i: is_stoplike_role(F.element_at(members, i + 1)["role"])  # noqa: E731
    stop_idx = F.filter(idx, stoplike_at)
    nonstop_idx = F.filter(idx, lambda i: ~stoplike_at(i))
    has_stop = F.size(stop_idx) > 0
    has_nonstop = F.size(nonstop_idx) > 0
    route_before_stops = has_nonstop & (
        ~has_stop | (F.array_min(nonstop_idx) < F.array_min(stop_idx))
    )
    stop_after_route = has_stop & has_nonstop & (
        F.array_max(stop_idx) > F.array_min(nonstop_idx)
    )
    no_url = F.lit("")
    flags = number_checks(
        STAGE_MEMBER_ORDER,
        [
            F.when(route_before_stops, check(no_url, F.lit(MSG_ROUTE_BEFORE_STOPS))),
            F.when(stop_after_route, check(no_url, F.lit(MSG_STOP_AFTER_ROUTE))),
            F.when(~has_stop, check(no_url, F.lit(MSG_NO_STOPS))),
            F.when(~has_nonstop, check(no_url, F.lit(MSG_NO_WAYS))),
        ],
        seq_base=TAIL_SEQ_BASE,
    )
    return F.concat(per_member, flags)
