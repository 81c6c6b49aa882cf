"""Routes-file reader (reference S7/S8/F6).

The reference reads job manifests — JSON RoutesFiles of shape
``{"config": {...}, "routes": {"<group>": [{"name", "relation_id",
"skip"}...]}}`` (pkg/routes/types.go:7-16, schema/routefile.schema.json)
— from a local path (scripts/validate/main.go:54-75) or an S3 prefix
listing (cmd/trigger/main.go:86-151). Spark's native globbing replaces
the S3 pagination loop: pass a directory/glob and every file becomes
rows of one work-list DataFrame.

Reading is strict, as Go's typed unmarshalling is: any schema violation
fails the whole read, and ids and counts must be JSON integers
(``9001.5`` and ``1e3`` are floats, rejected rather than truncated).
Rows with ``relation_id < 1`` or ``skip`` are dropped (F6,
scripts/validate/main.go:82-84; cmd/trigger/main.go:143-147).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import astuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_pt_validator_spark.config import CONFIG_TYPE, ValidationConfig

WORKLIST_SCHEMA = (
    f"`group` string, name string, relation_id bigint, skip boolean, config {CONFIG_TYPE}"
)


class RoutesFileError(ValueError):
    """A routes manifest violates schema/routefile.schema.json.

    Carries every problem found across every file (``problems``), not
    just the first — a malformed work list should fail the job loudly
    and completely, the error channel the reference gets implicitly
    from Go's typed JSON unmarshalling."""

    def __init__(self, problems: list[str]):
        self.problems = problems
        super().__init__(
            f"{len(problems)} routes-file schema violation(s):\n  "
            + "\n  ".join(problems)
        )


def _is_int(v: object) -> bool:
    """A JSON integer that fits Go's int64 (a bool is not one)."""
    return isinstance(v, int) and not isinstance(v, bool) and -(2**63) <= v < 2**63


#: JSON config key -> (ValidationConfig field, JSON type, check): the four
#: properties of schema/routefile.schema.json:10-29, typed as
#: pkg/validation/config.go:3-9 unmarshals them
_CONFIG = {
    "naptanPlatformTags": ("naptan_platform_tags", "a boolean", lambda v: isinstance(v, bool)),
    "minimumNodeMembers": ("minimum_node_members", "an integer", _is_int),
    "ignoreTraversalDirectionWays": (
        "ignore_traversal_direction_ways",
        "an array of integers",
        lambda v: isinstance(v, list) and all(map(_is_int, v)),
    ),
    "minimumRouteVariants": ("minimum_route_variants", "an integer", _is_int),
}


def validate_routes_doc(doc: object, source: str) -> list[str]:
    """Schema-contract check of one parsed manifest
    (schema/routefile.schema.json:33-64): required top-level `routes`,
    no unknown top-level/config/route keys, config values typed per
    ``_CONFIG``, and per-route required `name` (string) + `relation_id`
    (integer), optional `comment` (string) / `skip` (boolean). Returns
    human-readable problems; empty list = valid."""
    errs: list[str] = []
    if not isinstance(doc, dict):
        return [f"{source}: top level must be an object"]
    for k in doc:
        if k not in ("config", "routes"):
            errs.append(f"{source}: unknown top-level key {k!r}")
    if "routes" not in doc:
        errs.append(f"{source}: missing required key 'routes'")
    cfg = doc.get("config", {})
    if cfg is not None and not isinstance(cfg, dict):
        errs.append(f"{source}: 'config' must be an object")
    elif cfg:
        for k, v in cfg.items():
            if k not in _CONFIG:
                errs.append(f"{source}: unknown config key {k!r}")
            elif not _CONFIG[k][2](v):
                errs.append(f"{source}: config.{k} must be {_CONFIG[k][1]}")
    routes = doc.get("routes")
    if routes is not None and not isinstance(routes, dict):
        errs.append(f"{source}: 'routes' must be an object of groups")
    elif isinstance(routes, dict):
        for group, entries in routes.items():
            if not isinstance(entries, list):
                errs.append(f"{source}: routes[{group!r}] must be an array")
                continue
            for i, r in enumerate(entries):
                where = f"{source}: routes[{group!r}][{i}]"
                errs.extend(f"{where}{p}" for p in _entry_problems(r))
    return errs


def _entry_problems(r: object) -> list[str]:
    """Problems for ONE route entry (schema/routefile.schema.json:38-61);
    `relation_id` must be an integer, as Go's int64 is."""
    if not isinstance(r, dict):
        return [" must be an object"]
    errs = []
    for k in r:
        if k not in ("name", "relation_id", "comment", "skip"):
            errs.append(f": unknown key {k!r}")
    if not isinstance(r.get("name"), str):
        errs.append(": 'name' is required and must be a string")
    if not _is_int(r.get("relation_id")):
        errs.append(": 'relation_id' is required and must be an integer")
    if "comment" in r and not isinstance(r["comment"], str):
        errs.append(": 'comment' must be a string")
    if "skip" in r and not isinstance(r["skip"], bool):
        errs.append(": 'skip' must be a boolean")
    return errs


def parse_config(raw: dict) -> tuple:
    """A valid JSON config block -> its CONFIG_TYPE row value; absent
    keys keep the ValidationConfig defaults."""
    return astuple(ValidationConfig(**{_CONFIG[k][0]: v for k, v in raw.items()}))


def read_routes_files(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Read one or many RoutesFiles.

    Returns the work list filtered per F6: one row per route entry
    (WORKLIST_SCHEMA), whose ``config`` is its own file's config block
    (config.CONFIG_TYPE). The manifest files are small (driver-side
    parse is correct here — they're job *descriptions*, not data;
    the reference's trigger lambda does the same S3-side).

    Every manifest is checked against the schema contract first
    (validate_routes_doc); any violation raises RoutesFileError
    enumerating every problem in every file, and nothing is read — a
    typo'd manifest must fail the job, not silently drop or truncate
    rows (the behaviour Go's typed unmarshalling gives the reference).
    """
    if os.path.isdir(path_or_glob):
        paths = sorted(glob.glob(os.path.join(path_or_glob, "**", "*.json"), recursive=True))
    else:
        paths = sorted(glob.glob(path_or_glob))
    problems: list[str] = []
    docs: list[dict] = []
    for p in paths:
        with open(p) as f:
            try:
                doc = json.load(f)
            except json.JSONDecodeError as exc:
                problems.append(f"{p}: not valid JSON ({exc})")
                continue
        problems.extend(validate_routes_doc(doc, p))
        docs.append(doc)
    if problems:
        raise RoutesFileError(problems)
    rows = [
        (group, r["name"], r["relation_id"], r.get("skip", False), config)
        for doc in docs
        for config in [parse_config(doc.get("config") or {})]
        for group, entries in (doc["routes"] or {}).items()
        for r in entries
    ]
    df = spark.createDataFrame(rows, WORKLIST_SCHEMA)
    return df.filter((F.col("relation_id") >= 1) & ~F.col("skip"))


def parent_relations(relations: DataFrame) -> DataFrame:
    """S2 — GetRelationRelations (osm.go:82-114) as a set operation:
    (relation_id, parent_relation_id) for every relation-type
    membership, i.e. the member->parent edge list reversed."""
    return (
        relations.select(
            F.col("relation_id").alias("parent_relation_id"),
            F.explode("members").alias("m"),
        )
        .filter(F.col("m.type") == "relation")
        .select(F.col("m.ref").alias("relation_id"), "parent_relation_id")
    )
