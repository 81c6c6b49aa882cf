"""Table schemas for the engine.

OSM-shaped dimension tables mirror the reference's Go structs
(reference: pkg/osm/node.go:5-12, pkg/osm/way.go:5-11,
pkg/osm/relation.go:7-35) re-expressed as columnar Spark types; the
``pages`` fact table follows the graft input hint
(url, warc_ts, html, text, lang).
"""

from __future__ import annotations

from pyspark.sql import types as T

NODE_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("version", T.IntegerType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

WAY_SCHEMA = T.StructType(
    [
        T.StructField("way_id", T.LongType(), False),
        T.StructField("version", T.IntegerType(), True),
        # ordered — the array order IS the geometry (way.go:21-27)
        T.StructField("nodes", T.ArrayType(T.LongType()), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("ref", T.LongType(), False),
        T.StructField("role", T.StringType(), False),
    ]
)

RELATION_SCHEMA = T.StructType(
    [
        T.StructField("relation_id", T.LongType(), False),
        T.StructField("version", T.IntegerType(), True),
        # ordered — member order is semantic (route_relation.go:50-106)
        T.StructField("members", T.ArrayType(MEMBER_SCHEMA), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# verdict rows carry deterministic sort keys so output order can
# reproduce the reference's within-relation emission order
# (stage pipeline order route_relation.go:10-48; member order within
# a stage).
VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("relation_id", T.LongType(), False),
        T.StructField("stage_no", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("message", T.StringType(), False),
    ]
)

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("mention_idx", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),  # 'stop' | 'route'
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
    ]
)

#: a verdict row on this stage is an engine error, not a verdict — the
#: reference returns Go errors (e.g. "failed to load way %d",
#: way_order.go:25-30) distinct from []ValidationError.
STAGE_ENGINE_ERROR = -1
STAGE_PTV2 = 0
STAGE_TAGS = 1
STAGE_MEMBER_ORDER = 2
STAGE_NODES = 3
STAGE_WAY_ORDER = 4
STAGE_ONEWAY = 5
STAGE_STOP_ORDER = 6
STAGE_NODE_COUNT = 7
