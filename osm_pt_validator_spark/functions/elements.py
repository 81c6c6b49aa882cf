"""Scalar column expressions over OSM-shaped columns.

Every Column helper here is a pure ``pyspark.sql.functions``
composition — JVM-side, whole-stage-codegen friendly, no Python on the
hot path.

This is the one module that knows the OSM URL format and the
verdict-array format: every
validator stage builds an ``ARRAY<STRUCT<stage_no,seq,url,message>>``
per relation from ``check``/``verdict``/``number_checks`` and
``explode_verdicts`` turns it into VERDICT rows.

Reference semantics:
  * element URL: ``https://www.openstreetmap.org/{type}/{id}``
    (pkg/osm/node.go:18-20, way.go:17-19, relation.go:19-21,41-43)
  * role enums (pkg/osm/role.go:3-10; relation.go:45-53)
  * oneway tag precedence (pkg/validation/way_order.go:192-206)
  * PTv2 gate (pkg/osm/relation.go:23-29)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROLE_STOPS = ("stop", "stop_entry_only", "stop_exit_only")
ROLE_PLATFORMS = ("platform", "platform_entry_only", "platform_exit_only")
ROLES_STOPLIKE = ROLE_STOPS + ROLE_PLATFORMS

OSM_URL = "https://www.openstreetmap.org/"

VERDICT_TYPE = "struct<stage_no:int,seq:bigint,url:string,message:string>"

#: seq base for checks that follow a stage's per-member verdicts, so
#: they sort after every member position
TAIL_SEQ_BASE = 1_000_000_000


def element_url(elem_type: Column | str, ref: Column | str) -> Column:
    """Canonical OSM element URL; must be byte-identical to the
    reference's ``fmt.Sprintf`` so verdicts compare byte-equal."""
    t = F.col(elem_type) if isinstance(elem_type, str) else elem_type
    r = F.col(ref) if isinstance(ref, str) else ref
    return F.format_string(OSM_URL + "%s/%d", t, r)


def relation_url(relation_id: Column | str) -> Column:
    """``element_url`` of a relation."""
    r = F.col(relation_id) if isinstance(relation_id, str) else relation_id
    return F.format_string(OSM_URL + "relation/%d", r)


def element_url_str(elem_type: str, ref: int) -> str:
    """``element_url`` for pure-Python callers (Arrow-worker cores)."""
    return f"{OSM_URL}{elem_type}/{ref}"


def check(url: Column, message: Column) -> Column:
    """A fired check, not yet numbered; NULL-guard it with ``F.when``."""
    return F.struct(url.alias("url"), message.alias("message"))


def verdict(stage: int, seq: Column, url: Column, message: Column) -> Column:
    """One VERDICT_TYPE element."""
    return F.struct(
        F.lit(stage).cast("int").alias("stage_no"),
        seq.cast("long").alias("seq"),
        url.alias("url"),
        message.alias("message"),
    )


def number_checks(stage: int, checks: Sequence[Column], seq_base: int = 0) -> Column:
    """Drop the NULL (not fired) checks and number the rest by position
    from ``seq_base`` — the reference's append-order emission."""
    fired = F.filter(F.array(*checks), lambda v: v.isNotNull())
    return F.transform(
        fired, lambda v, i: verdict(stage, i + F.lit(seq_base), v["url"], v["message"])
    )


def explode_verdicts(df: DataFrame, arr: Column) -> DataFrame:
    """One VERDICT row (relation_id, stage_no, seq, url, message) per
    element of ``arr``; ``df`` must carry relation_id."""
    return df.select("relation_id", F.explode(arr).alias("v")).select(
        "relation_id",
        F.col("v.stage_no").alias("stage_no"),
        F.col("v.seq").alias("seq"),
        F.col("v.url").alias("url"),
        F.col("v.message").alias("message"),
    )


def render_verdict(message: Column | str, url: Column | str) -> Column:
    """ValidationError.String() parity (pkg/validation/validator.go:31-33):
    ``fmt.Sprintf("%s - %s", Message, URL)`` — note the trailing
    ``" - "`` survives when URL is empty, exactly like the Go."""
    m = F.col(message) if isinstance(message, str) else message
    u = F.col(url) if isinstance(url, str) else url
    return F.format_string("%s - %s", m, F.coalesce(u, F.lit("")))


def is_stop_role(role: Column) -> Column:
    """Member.RoleIsStop (relation.go:45-48)."""
    return role.isin(*ROLE_STOPS)


def is_platform_role(role: Column) -> Column:
    """Member.RoleIsPlatform (relation.go:50-53)."""
    return role.isin(*ROLE_PLATFORMS)


def is_stoplike_role(role: Column) -> Column:
    """The 6-role set used by validateREMemberOrder
    (route_relation.go:57-64)."""
    return role.isin(*ROLES_STOPLIKE)


def is_ptv2(tags: Column) -> Column:
    """Relation.IsPTv2 (relation.go:23-29): tag present AND == '2'."""
    return F.coalesce(tags.getItem("public_transport:version") == F.lit("2"), F.lit(False))


def oneway_tag(tags: Column) -> Column:
    """getOnewayTag precedence (way_order.go:192-206):
    oneway:psv > oneway:bus > oneway > (junction=roundabout -> 'yes');
    NULL means no oneway restriction (Go returns "")."""
    return F.coalesce(
        tags.getItem("oneway:psv"),
        tags.getItem("oneway:bus"),
        tags.getItem("oneway"),
        F.when(tags.getItem("junction") == "roundabout", F.lit("yes")),
    )
