"""Incremental validation: re-validate ONLY what changed between two
snapshots of the relations table.

The reference re-validates its whole routes file every run (daily batch,
stack/lambda-trigger.tf) — affordable at O(10^2) routes, not at crawl
scale.  At 10^12 documents / 10^8 relations the dominant cost is the
validation fan-out, and between consecutive crawls almost nothing
changes, so the scalable job is:

    changed = content-diff(snapshot_t, snapshot_t+1)   # cheap, set-based
    verdicts = validate_all(snapshot_t+1, requested=new + changed + gone)

Content hashing happens scan-side (md5 of a canonical member/tag
serialization), so the diff join carries (relation_id, 32-byte hash)
rows — never the member arrays.  The full-outer diff join shuffles both
slim sides on relation_id; at production scale both snapshots would be
bucketed on relation_id, making the diff shuffle-free.

The canonical serialization is order-sensitive for members (member
order IS route semantics, route_relation.go:50-106) and order-
INsensitive for tags (map semantics): members joined ``type:ref:role``
with '|', tags sorted by key joined ``k=v`` with '|', both md5'd.
Every step is column algebra a DuckDB oracle replays exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.config import DEFAULT_CONFIG, ValidationConfig


def relation_content_hash(members: Column, tags: Column) -> Column:
    """md5 over the canonical validation-relevant content: ordered
    member triples + key-sorted tag pairs. Pure column algebra."""
    mem = F.array_join(
        F.transform(
            members,
            lambda m: F.concat_ws(":", m["type"], m["ref"].cast("string"), m["role"]),
        ),
        "|",
    )
    tag = F.array_join(
        F.transform(
            F.array_sort(F.map_entries(tags)),
            lambda kv: F.concat_ws("=", kv["key"], kv["value"]),
        ),
        "|",
    )
    return F.md5(F.concat_ws("#", mem, tag))


def incremental_workset(old_rels: DataFrame, new_rels: DataFrame) -> DataFrame:
    """(relation_id, status) for every relation in either snapshot:
    'new' (only in new), 'gone' (only in old), 'changed' (content hash
    differs), 'unchanged'."""
    o = old_rels.select(
        "relation_id",
        relation_content_hash(F.col("members"), F.col("tags")).alias("__h_old"),
    )
    n = new_rels.select(
        "relation_id",
        relation_content_hash(F.col("members"), F.col("tags")).alias("__h_new"),
    )
    j = n.join(o, "relation_id", "full_outer")
    return j.select(
        "relation_id",
        F.when(F.col("__h_old").isNull(), F.lit("new"))
        .when(F.col("__h_new").isNull(), F.lit("gone"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def validate_incremental(
    old_rels: DataFrame,
    new_rels: DataFrame,
    nodes: DataFrame,
    ways: DataFrame,
    config: ValidationConfig = DEFAULT_CONFIG,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Validate only new/changed relations of the new snapshot, plus
    every member of a new/changed route master (the reference's fan-out,
    cmd/validate-rm/main.go:118-168) — unchanged members included;
    gone relations get validate_all's HTTP-410 verdict.

    Returns (verdicts, engine_errors, workset).  An unchanged relation
    that no new/changed master lists produces NO verdict rows — the
    caller keeps the previous snapshot's verdicts for it (checkpointed
    by plans/checkpoint.py), which is exactly the resume-from-lineage
    contract.
    """
    from osm_pt_validator_spark.operators.pipeline import validate_all

    ws = incremental_workset(old_rels, new_rels)
    todo = ws.filter(F.col("status") != "unchanged")
    verdicts, errors = validate_all(new_rels, nodes, ways, config, requested=todo)
    return verdicts, errors, ws
