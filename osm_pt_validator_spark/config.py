"""Validation config (reference: pkg/validation/config.go:3-13).

A tiny driver-side value object. The plans read it as data: one
``config`` struct column (``CONFIG_TYPE``) on the rows it applies to. A
routes file's rows carry their own file's config; every other row gets
``config_col(cfg)``, a literal that Catalyst folds, so a disabled check
leaves the plan (e.g. ``minimum_node_members < 1`` folds the node count
away, mirroring node_count.go:9-11).
"""

from __future__ import annotations

from dataclasses import astuple, dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ValidationConfig:
    naptan_platform_tags: bool = False
    minimum_node_members: int = 0
    ignore_traversal_direction_ways: tuple[int, ...] = ()
    minimum_route_variants: int = 0


#: reference default: {NaptanPlatformTags: true} (config.go:11-13)
DEFAULT_CONFIG = ValidationConfig(naptan_platform_tags=True)

#: a ValidationConfig as a row value (DDL), its fields in declaration order
CONFIG_TYPE = (
    "struct<naptan_platform_tags: boolean, minimum_node_members: bigint,"
    " ignore_traversal_direction_ways: array<bigint>, minimum_route_variants: bigint>"
)


def config_col(cfg: ValidationConfig) -> Column:
    """``cfg`` as a literal CONFIG_TYPE column."""
    values = (list(v) if isinstance(v, tuple) else v for v in astuple(cfg))
    return F.struct(*map(F.lit, values)).cast(CONFIG_TYPE)


def config_cols(df: DataFrame) -> list[str]:
    """``["config"]`` if ``df``'s rows carry a config, else ``[]``."""
    return [c for c in df.columns if c == "config"]


def with_config(df: DataFrame, cfg: ValidationConfig) -> DataFrame:
    """``df`` with a ``config`` column: its own, else the literal ``cfg``."""
    return df if "config" in df.columns else df.withColumn("config", config_col(cfg))
