"""Full route-relation validation pipeline — the reference's hard-coded
stage order (pkg/validation/route_relation.go:10-48) as one declarative
plan.

Stage order and gating (all load-bearing for verdict parity):
  0. PTv2 gate — non-PTv2 relations get exactly ONE verdict and skip
     everything else (route_relation.go:18-21).
  1. RE tag checks (route_relation.go:23-24).
  2. member order (route_relation.go:26-27).
  3. platform/stop node tag checks (route_relation.go:29-33); a node
     member that fails to load aborts stages 3-7 for that relation and
     emits an engine error.
  4/5. way order + oneway, 6. stop order (gated on zero way-order
     verdicts), inside one Arrow-batched per-relation pass.
  7. node-member count (route_relation.go:43-46).

Scale notes: the route set's members are joined once to the nodes ∪
ways element dim and grouped to ONE row per relation
(members.member_rows). One projection over that row builds stages 0-3
and 7 and decides the node-load abort; one mapInPandas hop passes those
verdicts through and adds stages 4-6. Verdict order inside a relation
is reconstructed by sorting on (stage_no, seq).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.config import DEFAULT_CONFIG, ValidationConfig, config_cols, with_config
from osm_pt_validator_spark.functions.elements import (
    is_ptv2,
    relation_url,
    render_verdict,
)
from osm_pt_validator_spark.operators.member_order import member_order_verdicts
from osm_pt_validator_spark.operators.members import explode_members  # noqa: F401 (public)
from osm_pt_validator_spark.operators.members import member_rows, node_elements, way_elements
from osm_pt_validator_spark.operators.node_checks import (
    is_missing_node,
    node_load_errors,
    node_verdicts,
)
from osm_pt_validator_spark.operators.route_master import (
    split_route_master_members,
    validate_route_masters,
)
from osm_pt_validator_spark.operators.set_stages import node_count_verdicts, ptv2_gate
from osm_pt_validator_spark.operators.tags import re_tag_verdicts
from osm_pt_validator_spark.operators.way_order import automaton_members, run_automaton
from osm_pt_validator_spark.schemas import STAGE_ENGINE_ERROR


def validate_route_relations(
    relations: DataFrame,
    nodes: DataFrame,
    ways: DataFrame,
    config: ValidationConfig = DEFAULT_CONFIG,
) -> tuple[DataFrame, DataFrame]:
    """Validate route relations; returns (verdicts, engine_errors).

    verdicts: (relation_id, stage_no, seq, url, message) — sort by
    (relation_id, stage_no, seq) to reproduce the reference's
    within-relation emission order.
    engine_errors: (relation_id, message) — the reference's Go-error
    channel (load failures), distinct from verdicts.
    A relation is validated under its row's own ``config`` if it has
    one, else under ``config``: a literal added after the member group,
    where Catalyst folds it into the checks.
    """
    tags = F.col("tags")
    # outer explode: a relation with no members — or gated off by stage
    # 0, whose members no stage reads — keeps its row
    members = relations.select(
        "relation_id",
        "tags",
        *config_cols(relations),
        F.posexplode_outer(F.when(is_ptv2(tags), F.col("members"))).alias("member_idx", "m"),
    ).select("*", "m.*").drop("m")
    rows = with_config(member_rows(members, node_elements(nodes), way_elements(ways)), config)

    ms, cfg = F.col("ms"), F.col("config")
    url = relation_url("relation_id")
    # a node member that fails to load discards stages 3-7 of its
    # relation, way loads included (route_relation.go:29-33)
    aborted = F.exists(ms, is_missing_node)
    stages_3_7 = F.when(aborted, node_load_errors(ms)).otherwise(
        F.concat(
            node_verdicts(ms, cfg["naptan_platform_tags"]),
            node_count_verdicts(ms, url, cfg["minimum_node_members"]),
        )
    )
    vs = ptv2_gate(
        tags, url, F.concat(re_tag_verdicts(tags, url), member_order_verdicts(ms), stages_3_7)
    )
    ws = F.when(~aborted, automaton_members(ms, cfg["ignore_traversal_direction_ways"]))
    out = run_automaton(rows, vs, ws)
    is_error = F.col("stage_no") == STAGE_ENGINE_ERROR
    return out.filter(~is_error), out.filter(is_error).select("relation_id", "message")


def missing_relation_verdicts(work: DataFrame, relations: DataFrame) -> DataFrame:
    """HTTP-410 parity: any CheckRelationEvent whose relation is gone
    gets a 'relation no longer exists' verdict — for route-master
    members AND top-level work-list ids alike
    (cmd/validate-rm/main.go:59-63,77-96). Keyed by relation_id and
    the config ``work`` may carry, as the reference's runs are.

    Plan shape for scale: the work list is a job manifest (small), so
    probe the big relations table with a broadcast SEMI join (no
    shuffle, relation_id column-pruned scan), then anti-join the two
    now-small id sets.
    """
    work_ids = work.select("relation_id", *config_cols(work)).distinct()
    present = relations.select("relation_id").join(
        F.broadcast(work_ids.select("relation_id")), "relation_id", "left_semi"
    )
    return (
        work_ids.join(present, "relation_id", "left_anti")
        .select(
            "relation_id",
            F.lit(0).alias("stage_no"),
            F.lit(0).cast("long").alias("seq"),
            F.lit("").alias("url"),
            F.lit("relation no longer exists").alias("message"),
        )
    )


def validate_all(
    relations: DataFrame,
    nodes: DataFrame,
    ways: DataFrame,
    config: ValidationConfig = DEFAULT_CONFIG,
    requested: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """O1 type dispatch (scripts/validate/main.go:128-138) +
    O2 route_master split (cmd/validate-rm/main.go:118-168).

    relations: the FULL relations table — master members are looked up
    in it and presence is checked against it.
    requested: the work list, broadcast — relation_id, plus a
    CONFIG_TYPE ``config`` on rows that bring their own (a routes
    file's rows do); None validates every relation. ``config`` applies
    to every row without one.

    A requested route, and every relation a requested route_master
    lists (whatever its type, one level deep), is validated once per
    config it is listed under (a master's, for what it lists) as a
    route. Requested masters get the master checks; requested relations
    of any other type go to the engine-error channel ("unknown relation
    type"). Each requested or master-listed (id, config) with no
    relation row gets ONE "relation no longer exists" verdict — the
    HTTP-410 path (cmd/validate-rm/main.go:59-63,77-96).
    """
    rel_type = F.col("tags").getItem("type")
    is_route = F.coalesce(rel_type == "route", F.lit(False))
    chosen = relations
    if requested is not None:
        requested = with_config(requested, config).select("relation_id", "config").distinct()
        chosen = relations.join(F.broadcast(requested), "relation_id")
    masters = with_config(chosen.filter(rel_type == "route_master"), config)
    unknown = chosen.filter(rel_type.isNull() | ~rel_type.isin("route", "route_master"))

    master_verdicts = validate_route_masters(masters, F.col("config.minimum_route_variants"))

    # split: master members become route work items, looked up in the
    # full relations table
    listed = split_route_master_members(masters).select("relation_id", "config")
    gone = missing_relation_verdicts(
        listed if requested is None else listed.unionByName(requested), relations
    )
    # the route set as a disjoint union: every chosen route, plus every
    # OTHER item a master lists (a nested master is validated as a
    # route too). A listed item that is also a chosen route is in the
    # first half only, so it is validated once where the reference
    # would validate it twice (two SQS events) — no dedup shuffle needed.
    routes = chosen.filter(is_route)
    if requested is None:
        # every item has the literal config, which validate_route_relations
        # adds after the member group, so that Catalyst folds it
        others = relations.join(F.broadcast(listed), "relation_id", "left_semi").filter(
            ~is_route
        )
    else:
        others = relations.join(F.broadcast(listed.distinct()), "relation_id").join(
            F.broadcast(routes.select("relation_id", "config")),
            ["relation_id", "config"],
            "left_anti",
        )

    route_verdicts, engine_errors = validate_route_relations(
        routes.unionByName(others), nodes, ways, config
    )
    unknown_errors = unknown.select(
        "relation_id", F.lit("unknown relation type").alias("message")
    )
    verdicts = route_verdicts.unionByName(master_verdicts).unionByName(gone)
    return verdicts, engine_errors.unionByName(unknown_errors)


def collect_invalid(verdicts: DataFrame) -> DataFrame:
    """Sink shape parity with InvalidRelationEvent
    (pkg/snsEvents/types.go:5-10): verdicts grouped per relation, in
    emission order, plus the reference's printed form per verdict
    ("{message} - {url}", validator.go:31-33) as `rendered`."""
    sorted_vs = F.sort_array(
        F.collect_list(F.struct("stage_no", "seq", "url", "message"))
    )
    return (
        verdicts.groupBy("relation_id")
        .agg(
            F.transform(
                sorted_vs,
                lambda v: F.struct(v["url"].alias("url"), v["message"].alias("message")),
            ).alias("validation_errors"),
            F.count(F.lit(1)).alias("error_count"),
        )
        .withColumn(
            "rendered",
            F.transform(
                F.col("validation_errors"),
                lambda v: render_verdict(v["message"], v["url"]),
            ),
        )
        .withColumn("relation_url", relation_url("relation_id"))
    )
