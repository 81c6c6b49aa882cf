"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship pipeline (pages -> extraction ->
spatial join -> heatmap) on sf0.001. `queries()` exposes one callable
per implemented operator (SURVEY.md §2 + graft G-operators);
`oracle_sql()` gives the DuckDB-replayable ANSI SQL for EVERY entry
(identical column names & quantised numeric types so value hashes match
bit-for-bit). Even the non-SQL-expressible operators are oracle'd: the
frontier automaton family against golden VALUES transcribed from the
reference's Go test expectations, the hash/sketch paths (SimHash, LSH,
IVF, KMV, Bloom) by replaying the same md5-derived arithmetic in SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _prep(spark: SparkSession) -> None:
    from osm_pt_validator_spark.session import ensure_py_files

    ensure_py_files(spark)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _cents(c):
    return F.round(c * 100).cast("long")


# deterministic synthetic coordinates derived from key columns — the
# same arithmetic is rendered in SQL for the oracle side.
def _cust_lat(c):
    return 55.9 + (c % 97) * 0.001


def _cust_lon(c):
    return -3.3 + ((c * 13) % 89) * 0.001


def _supp_lat(s):
    return 55.9 + ((s * 7) % 97) * 0.00097


def _supp_lon(s):
    return -3.3 + ((s * 11) % 89) * 0.00103


_SQL_CUST_LAT = "55.9 + (c_custkey % 97) * 0.001"
_SQL_CUST_LON = "-3.3 + ((c_custkey * 13) % 89) * 0.001"
_SQL_SUPP_LAT = "55.9 + ((s_suppkey * 7) % 97) * 0.00097"
_SQL_SUPP_LON = "-3.3 + ((s_suppkey * 11) % 89) * 0.00103"


def _sql_cell(lat: str, lon: str, res: int) -> str:
    n = 1 << res
    i = f"GREATEST(0, LEAST({n - 1}, CAST(floor((({lat}) + 90.0) / 180.0 * {n}) AS BIGINT)))"
    j = f"GREATEST(0, LEAST({n - 1}, CAST(floor((({lon}) + 180.0) / 360.0 * {n}) AS BIGINT)))"
    return f"(({i} << 32) | {j})"


def _sql_floor_div(x: str, d) -> str:
    """FLOOR division for any sign of `x` (d > 0), as Spark's
    (x - pmod(x, d)) div d and its window starts compute it: DuckDB's
    bare `//` truncates toward zero (-7 // 2 = -3), so subtract the
    non-negative mod first to make the numerator exactly divisible."""
    return f"({x} - (({x} % {d}) + {d}) % {d}) // {d}"


def _sql_tile_x(lon: str, z: int) -> str:
    n = 1 << z
    return f"GREATEST(0, LEAST({n - 1}, CAST(floor((({lon}) + 180.0) / 360.0 * {n}) AS BIGINT)))"


def _sql_tile_y(lat: str, z: int) -> str:
    n = 1 << z
    return (
        f"GREATEST(0, LEAST({n - 1}, CAST(floor((1.0 - ln(tan(radians({lat})) "
        f"+ 1.0/cos(radians({lat})))/pi())/2.0 * {n}) AS BIGINT)))"
    )


def _sql_haversine(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"2.0 * 6371000.0 * asin(sqrt(pow(sin(radians(({lat2})-({lat1}))/2.0),2) "
        f"+ cos(radians({lat1}))*cos(radians({lat2}))"
        f"*pow(sin(radians(({lon2})-({lon1}))/2.0),2)))"
    )


_SQL_TOKENS = (
    "list_filter(string_split_regex(lower({t}), '[^a-z0-9'']+'), x -> len(x) > 0)"
)


# ---------------------------------------------------------------------------
# validator fixture literals (shared by the Spark callables and the
# rendered VALUES in the oracle SQL — single source of truth)
# ---------------------------------------------------------------------------

V_TAG_RELS: dict[int, dict[str, str]] = {
    101: {
        "from": "A", "to": "B", "name": "N", "operator": "O", "ref": "R",
        "type": "route", "public_transport:version": "2",
    },
    102: {"to": "B", "name": "N", "ref": "R", "type": "route", "public_transport:version": "2"},
    103: {
        "from": "A", "to": "B", "name": "N", "operator": "O", "ref": "R",
        "type": "multipolygon", "public_transport:version": "2",
    },
    104: {},
}

V_MEMBERS: list[tuple[int, int, str, int, str]] = [
    (201, 0, "node", 1234, "stop"), (201, 1, "way", 34567, ""),
    (202, 0, "way", 1, ""), (202, 1, "node", 2, "stop"), (202, 2, "way", 3, ""),
    (203, 0, "node", 100, ""), (203, 1, "way", 1, ""),
    (204, 0, "way", 1, ""),
    (205, 0, "node", 100, "platform_exit_only"),
    (206, 0, "node", 100, "stop_entry_only"), (206, 1, "way", 98712, "forward"),
]

V_COUNT_MEMBERS: list[tuple[int, int, str, int, str]] = [
    (301, 0, "node", 1, "stop"),
    (302, 0, "way", 1, ""),
]

V_MASTERS: dict[int, tuple[list[tuple[str, int, str]], dict[str, str]]] = {
    401: ([("way", 1, ""), ("relation", 9001, "")], {"name": "X", "ref": "X"}),
    402: ([("relation", 9001, ""), ("relation", 9002, "")],
          {"name": "X", "ref": "X", "operator": "O"}),
}

V_CHECK_NODES: dict[int, dict[str, str]] = {
    501: {"public_transport": "stop_position", "disused:highway": "yes", "highway": "primary"},
    502: {"public_transport": "platform", "highway": "bus_stop", "name": "P",
          "naptan:AtcoCode": "636X"},
    503: {"bus": "no"},
    504: {"public_transport": "stop_position", "bus": "yes"},
}
V_CHECK_MEMBERS: list[tuple[int, int, int, str]] = [
    (601, 0, 501, "platform"),
    (601, 1, 502, "platform_entry_only"),
    (601, 2, 503, "stop"),
    (601, 3, 504, "stop_exit_only"),
]

ONEWAY_EXTRA_WAYS: dict[int, tuple[list[int], dict[str, str]]] = {
    11: ([1, 2], {"oneway": "yes", "oneway:bus": "-1"}),
    12: ([1, 2], {}),
}


def _values(rows: list[tuple]) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    return ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)


def _tag_values(d: dict[int, dict[str, str]]) -> str:
    rows = [(rid, k, v) for rid, tags in d.items() for k, v in tags.items()]
    return _values(rows)


def _mk_relations(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    from osm_pt_validator_spark.schemas import RELATION_SCHEMA

    return spark.createDataFrame(rows, RELATION_SCHEMA)


# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize Common-Crawl-style pages from sf0.001
    documents, run G1/G2 extraction, kNN-match stop mentions to the
    fixture stops dim, and emit the z=15 tile heatmap of matches."""
    _prep(spark)
    from osm_pt_validator_spark.fixtures import nodes_df
    from osm_pt_validator_spark.sources.pages import extract_mentions
    from osm_pt_validator_spark.spatial.knn import knn_join
    from osm_pt_validator_spark.spatial.tiles import failure_heatmap

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    pages = docs.select(
        F.format_string("https://pages.example.org/doc/%d", "doc_id").alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.format_string(
                "<html><head><title>doc %d</title></head><body><p>%s</p>"
                "<p>STOP:%d@%.4f,%.4f</p></body></html>",
                F.col("doc_id"),
                F.col("text"),
                (F.col("doc_id") % 15) + 100,
                55.90 + ((F.col("doc_id") % 15) + 100) * 1e-4,
                -3.30 + ((F.col("doc_id") % 15) + 100) * 1e-4,
            ),
            "utf-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    mentions = extract_mentions(pages, from_html=True).filter(F.col("kind") == "stop")
    stops = nodes_df(spark).select(F.col("node_id").alias("stop_id"), "lat", "lon")
    matched = knn_join(
        mentions, stops, probe_key=["url", "mention_idx"], build_key="stop_id",
        k=1, ring=1, res=16,
    )
    return failure_heatmap(matched, z=15).orderBy("tile_x", "tile_y")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf):
    l = _t(spark, sf, "lineitem")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_c"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_c"),
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_c"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# DuckDB SUM(BIGINT) returns HUGEINT (int128) which pandas/Arrow
# materializes as float64, breaking the driver's value hash against
# Spark's LongType — every SUM must be wrapped in CAST(... AS BIGINT).
SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
  CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
  COUNT(*) AS count_order
FROM lineitem GROUP BY 1, 2
"""


def q_top_customers(spark, sf):
    o, c, n = _t(spark, sf, "orders"), _t(spark, sf, "customer"), _t(spark, sf, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("revenue_c"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("revenue_c").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c,
  COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2, 3
ORDER BY revenue_c DESC, c_custkey ASC
LIMIT 20
"""


def q_part_brand_stats(spark, sf):
    l, p = _t(spark, sf, "lineitem"), _t(spark, sf, "part")
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_c"))
    )


SQL_PART_BRAND = """
SELECT p_brand, COUNT(*) AS n_items,
  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def q_customer_order_ranks(spark, sf):
    from pyspark.sql import Window

    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


SQL_ORDER_RANKS = """
SELECT o_custkey, o_orderkey, CAST(rnk AS INT) AS rnk FROM (
  SELECT o_custkey, o_orderkey,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rnk
  FROM orders)
WHERE rnk <= 3
"""


def q_events_hourly(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(_cents(F.col("value"))).alias("sum_value_c"))
    )


SQL_EVENTS_HOURLY = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
  COUNT(*) AS n, CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
FROM events GROUP BY 1, 2
"""


# --- validator family (fixture VALUES both sides) --------------------------


def q_v_tags(spark, sf):
    from osm_pt_validator_spark.functions.elements import explode_verdicts, relation_url
    from osm_pt_validator_spark.operators.tags import re_tag_verdicts

    rels = _mk_relations(
        spark, [(rid, 1, [], tags) for rid, tags in V_TAG_RELS.items()]
    )
    verdicts = re_tag_verdicts(F.col("tags"), relation_url("relation_id"))
    return explode_verdicts(rels, verdicts).select("relation_id", "url", "message")


SQL_V_TAGS = f"""
WITH rel(relation_id) AS (VALUES {_values([(r,) for r in V_TAG_RELS])}),
tags(relation_id, k, v) AS (VALUES {_tag_values(V_TAG_RELS)}),
req(k) AS (VALUES ('from'), ('to'), ('name'), ('operator'), ('ref')),
missing AS (
  SELECT r.relation_id,
    'https://www.openstreetmap.org/relation/' || r.relation_id AS url,
    'missing tag ''' || q.k || '''' AS message
  FROM rel r CROSS JOIN req q
  LEFT JOIN tags t ON t.relation_id = r.relation_id AND t.k = q.k
  WHERE t.relation_id IS NULL),
val_checks AS (
  SELECT relation_id, url, message FROM (
    SELECT r.relation_id,
      'https://www.openstreetmap.org/relation/' || r.relation_id AS url,
      CASE WHEN t.v IS NULL THEN 'missing tag ''type'''
           WHEN t.v <> 'route' THEN 'tag ''type'' should have value ''route''' END AS message
    FROM rel r LEFT JOIN tags t ON t.relation_id = r.relation_id AND t.k = 'type')
  WHERE message IS NOT NULL
  UNION ALL
  SELECT relation_id, url, message FROM (
    SELECT r.relation_id,
      'https://www.openstreetmap.org/relation/' || r.relation_id AS url,
      CASE WHEN t.v IS NULL THEN 'missing tag ''public_transport:version'''
           WHEN t.v <> '2' THEN 'tag ''public_transport:version'' should have value ''2''' END AS message
    FROM rel r LEFT JOIN tags t ON t.relation_id = r.relation_id AND t.k = 'public_transport:version')
  WHERE message IS NOT NULL)
SELECT CAST(relation_id AS BIGINT) AS relation_id, url, message
FROM (SELECT * FROM missing UNION ALL SELECT * FROM val_checks)
"""


def _members_df(spark, rows):
    return spark.createDataFrame(
        rows, "relation_id long, member_idx int, type string, ref long, role string"
    )


def _rels_from_members(spark, rows, tags_by_rel=None):
    by_rel: dict[int, list] = {}
    for rid, idx, t, ref, role in sorted(rows):
        by_rel.setdefault(rid, []).append((t, ref, role))
    tags_by_rel = tags_by_rel or {}
    return _mk_relations(
        spark,
        [(rid, 1, ms, tags_by_rel.get(rid, {})) for rid, ms in sorted(by_rel.items())],
    )


def q_v_member_order(spark, sf):
    from osm_pt_validator_spark.functions.elements import explode_verdicts
    from osm_pt_validator_spark.operators.member_order import member_order_verdicts

    rels = _rels_from_members(spark, V_MEMBERS)
    verdicts = member_order_verdicts(F.col("members"))
    return explode_verdicts(rels, verdicts).select("relation_id", "url", "message")


_STOPLIKE_SQL = ("role IN ('stop','stop_entry_only','stop_exit_only',"
                 "'platform','platform_entry_only','platform_exit_only')")

SQL_V_MEMBER_ORDER = f"""
WITH m(relation_id, member_idx, type, ref, role) AS (VALUES {_values(V_MEMBERS)}),
s AS (SELECT *, {_STOPLIKE_SQL} AS stoplike FROM m),
per_member AS (
  SELECT relation_id,
    'https://www.openstreetmap.org/' || type || '/' || ref AS url,
    CASE WHEN type = 'node' AND role = '' THEN 'stop/platform with empty role'
         WHEN role <> '' AND NOT stoplike
           THEN 'element has unexpected role ''' || role || '''' END AS message
  FROM s),
agg AS (
  SELECT relation_id,
    min(CASE WHEN stoplike THEN member_idx END) AS min_stop,
    max(CASE WHEN stoplike THEN member_idx END) AS max_stop,
    min(CASE WHEN NOT stoplike THEN member_idx END) AS min_nonstop,
    count(CASE WHEN stoplike THEN 1 END) AS n_stop,
    count(CASE WHEN NOT stoplike THEN 1 END) AS n_nonstop
  FROM s GROUP BY relation_id),
flags AS (
  SELECT relation_id, '' AS url, 'route way appears before stop/platform' AS message
  FROM agg WHERE n_nonstop > 0 AND (n_stop = 0 OR min_nonstop < min_stop)
  UNION ALL
  SELECT relation_id, '', 'stop/platform appears after route ways'
  FROM agg WHERE n_stop > 0 AND n_nonstop > 0 AND max_stop > min_nonstop
  UNION ALL
  SELECT relation_id, '', 'route does not contain a stop/platform' FROM agg WHERE n_stop = 0
  UNION ALL
  SELECT relation_id, '', 'route does not contain any route ways' FROM agg WHERE n_nonstop = 0)
SELECT CAST(relation_id AS BIGINT) AS relation_id, url, message
FROM (SELECT * FROM per_member WHERE message IS NOT NULL UNION ALL SELECT * FROM flags)
"""


def q_v_node_count(spark, sf):
    from osm_pt_validator_spark.functions.elements import explode_verdicts, relation_url
    from osm_pt_validator_spark.operators.set_stages import node_count_verdicts

    rels = _rels_from_members(spark, V_COUNT_MEMBERS)
    verdicts = node_count_verdicts(F.col("members"), relation_url("relation_id"), 1)
    return explode_verdicts(rels, verdicts).select("relation_id", "url", "message")


SQL_V_NODE_COUNT = f"""
WITH m(relation_id, member_idx, type, ref, role) AS (VALUES {_values(V_COUNT_MEMBERS)})
SELECT CAST(relation_id AS BIGINT) AS relation_id,
  'https://www.openstreetmap.org/relation/' || relation_id AS url,
  'relation does not have enough node members' AS message
FROM m GROUP BY relation_id
HAVING count(CASE WHEN type = 'node' THEN 1 END) < 1
"""


def q_v_route_master(spark, sf):
    from osm_pt_validator_spark.operators.route_master import validate_route_masters

    rels = _mk_relations(
        spark, [(rid, 1, ms, tags) for rid, (ms, tags) in V_MASTERS.items()]
    )
    return validate_route_masters(rels, minimum_route_variants=2).select(
        "relation_id", "url", "message"
    )


_VRM_MEMBER_ROWS = [
    (rid, i, t, ref, role)
    for rid, (ms, _tags) in V_MASTERS.items()
    for i, (t, ref, role) in enumerate(ms)
]
_VRM_TAGS = {rid: tags for rid, (_ms, tags) in V_MASTERS.items()}

SQL_V_ROUTE_MASTER = f"""
WITH m(relation_id, member_idx, type, ref, role) AS (VALUES {_values(_VRM_MEMBER_ROWS)}),
tags(relation_id, k, v) AS (VALUES {_tag_values(_VRM_TAGS)}),
rel(relation_id) AS (SELECT DISTINCT relation_id FROM m),
member_v AS (
  SELECT relation_id,
    'https://www.openstreetmap.org/' || type || '/' || ref AS url,
    'member is not a relation' AS message
  FROM m WHERE type <> 'relation'),
variants AS (
  SELECT relation_id,
    'https://www.openstreetmap.org/relation/' || relation_id AS url,
    'not enough route variants' AS message
  FROM m GROUP BY relation_id
  HAVING count(CASE WHEN type = 'relation' THEN 1 END) < 2),
req(k) AS (VALUES ('name'), ('ref'), ('operator')),
missing AS (
  SELECT r.relation_id,
    'https://www.openstreetmap.org/relation/' || r.relation_id AS url,
    'missing tag ''' || q.k || '''' AS message
  FROM rel r CROSS JOIN req q
  LEFT JOIN tags t ON t.relation_id = r.relation_id AND t.k = q.k
  WHERE t.relation_id IS NULL)
SELECT CAST(relation_id AS BIGINT) AS relation_id, url, message
FROM (SELECT * FROM member_v UNION ALL SELECT * FROM variants UNION ALL SELECT * FROM missing)
"""


def q_v_node_checks(spark, sf):
    from osm_pt_validator_spark.operators.node_checks import validate_relation_nodes
    from osm_pt_validator_spark.schemas import NODE_SCHEMA

    members = _members_df(
        spark, [(rid, i, "node", ref, role) for rid, i, ref, role in V_CHECK_MEMBERS]
    )
    nodes = spark.createDataFrame(
        [(nid, 0.0, 0.0, 1, tags) for nid, tags in V_CHECK_NODES.items()], NODE_SCHEMA
    )
    return validate_relation_nodes(members, nodes, naptan_platform_tags=True).select(
        "relation_id", "url", "message"
    )


_VNC_MEMBER_ROWS = [(rid, i, ref, role) for rid, i, ref, role in V_CHECK_MEMBERS]

SQL_V_NODE_CHECKS = f"""
WITH m(relation_id, member_idx, ref, role) AS (VALUES {_values(_VNC_MEMBER_ROWS)}),
nt(node_id, k, v) AS (VALUES {_tag_values(V_CHECK_NODES)}),
plat AS (SELECT * FROM m WHERE role IN ('platform','platform_entry_only','platform_exit_only')),
stp AS (SELECT * FROM m WHERE role IN ('stop','stop_entry_only','stop_exit_only')),
checks AS (
  SELECT relation_id, ref, message FROM (
    SELECT p.relation_id, p.ref,
      CASE WHEN t.v IS NULL THEN 'node is missing public_transport tag'
           WHEN t.v <> 'platform' THEN 'node should have public_transport=platform' END AS message
    FROM plat p LEFT JOIN nt t ON t.node_id = p.ref AND t.k = 'public_transport')
  WHERE message IS NOT NULL
  UNION ALL
  SELECT p.relation_id, p.ref, 'node has disused:highway tag'
  FROM plat p JOIN nt t ON t.node_id = p.ref AND t.k = 'disused:highway'
  UNION ALL
  SELECT p.relation_id, p.ref, 'node should have highway=bus_stop'
  FROM plat p JOIN nt t ON t.node_id = p.ref AND t.k = 'highway' AND t.v <> 'bus_stop'
  UNION ALL
  SELECT p.relation_id, p.ref, 'node is missing name tag'
  FROM plat p LEFT JOIN nt t ON t.node_id = p.ref AND t.k = 'name' WHERE t.node_id IS NULL
  UNION ALL
  SELECT p.relation_id, p.ref, 'missing tag ''naptan:AtcoCode'''
  FROM plat p LEFT JOIN nt t ON t.node_id = p.ref AND t.k = 'naptan:AtcoCode' WHERE t.node_id IS NULL
  UNION ALL
  SELECT relation_id, ref, message FROM (
    SELECT s.relation_id, s.ref,
      CASE WHEN t.v IS NULL THEN 'node is missing public_transport tag'
           WHEN t.v <> 'stop_position' THEN 'node should have public_transport=stop_position' END AS message
    FROM stp s LEFT JOIN nt t ON t.node_id = s.ref AND t.k = 'public_transport')
  WHERE message IS NOT NULL
  UNION ALL
  SELECT s.relation_id, s.ref, 'node should have bus=yes'
  FROM stp s JOIN nt t ON t.node_id = s.ref AND t.k = 'bus' AND t.v <> 'yes')
SELECT CAST(relation_id AS BIGINT) AS relation_id,
  'https://www.openstreetmap.org/node/' || ref AS url, message
FROM checks
"""


def q_v_oneway_url(spark, sf):
    from osm_pt_validator_spark.fixtures import NETWORK_WAYS
    from osm_pt_validator_spark.functions.elements import element_url, oneway_tag
    from osm_pt_validator_spark.schemas import WAY_SCHEMA

    all_ways = dict(NETWORK_WAYS)
    all_ways.update(ONEWAY_EXTRA_WAYS)
    ways = spark.createDataFrame(
        [(wid, 1, nodes, tags) for wid, (nodes, tags) in sorted(all_ways.items())],
        WAY_SCHEMA,
    )
    return ways.select(
        "way_id",
        oneway_tag(F.col("tags")).alias("oneway"),
        element_url(F.lit("way"), F.col("way_id")).alias("url"),
    )


def _oneway_fixture_tag_values():
    from osm_pt_validator_spark.fixtures import NETWORK_WAYS

    all_ways = dict(NETWORK_WAYS)
    all_ways.update(ONEWAY_EXTRA_WAYS)
    ids = _values([(wid,) for wid in sorted(all_ways)])
    tag_rows = [(wid, k, v) for wid, (_n, tags) in sorted(all_ways.items())
                for k, v in tags.items()]
    return ids, _values(tag_rows)


def _sql_v_oneway() -> str:
    ids, tag_rows = _oneway_fixture_tag_values()
    return f"""
WITH w(way_id) AS (VALUES {ids}),
t(way_id, k, v) AS (VALUES {tag_rows})
SELECT CAST(w.way_id AS BIGINT) AS way_id,
  COALESCE(psv.v, bus.v, ow.v, CASE WHEN j.v = 'roundabout' THEN 'yes' END) AS oneway,
  'https://www.openstreetmap.org/way/' || w.way_id AS url
FROM w
LEFT JOIN t psv ON psv.way_id = w.way_id AND psv.k = 'oneway:psv'
LEFT JOIN t bus ON bus.way_id = w.way_id AND bus.k = 'oneway:bus'
LEFT JOIN t ow ON ow.way_id = w.way_id AND ow.k = 'oneway'
LEFT JOIN t j ON j.way_id = w.way_id AND j.k = 'junction'
"""


# cheap gap-prefilter cases over the fixture 10-way network: ways per
# relation (all known ways; the prefilter inner-joins the ways dim)
GAP_CASES: dict[int, list[int]] = {
    1: [1, 2, 3],   # valid chain
    2: [1, 3],      # no shared endpoint -> gap
    3: [3, 4, 5],   # circular way in the middle -> full-node compare
    4: [5, 6],      # oneway pair, connected
    5: [2, 10],     # roundabout neighbour sharing node 101
}


def q_gap_prefilter(spark, sf):
    """W1 set-based pre-filter (SURVEY §2.5): flag relations where some
    consecutive member-way pair shares no endpoint — the cheap plan that
    routes the clean majority around the Python automaton at scale."""
    from osm_pt_validator_spark.fixtures import ways_df
    from osm_pt_validator_spark.operators.way_order import cheap_gap_prefilter

    members = _members_df(
        spark,
        [
            (rid, i, "way", wid, "")
            for rid, wids in GAP_CASES.items()
            for i, wid in enumerate(wids)
        ],
    )
    # INT not BOOLEAN: pandas materializes DuckDB booleans as
    # numpy.bool_, which the value hashers serialize differently from
    # Python bools — integers are unambiguous
    return cheap_gap_prefilter(members, ways_df(spark)).select(
        "relation_id", F.col("maybe_gap").cast("int").alias("maybe_gap")
    )


def _sql_gap_prefilter() -> str:
    from osm_pt_validator_spark.fixtures import NETWORK_WAYS

    ways_vals = ", ".join(
        f"({wid}, [{', '.join(str(n) for n in nodes)}])"
        for wid, (nodes, _tags) in sorted(NETWORK_WAYS.items())
    )
    member_vals = _values(
        [
            (rid, i, wid)
            for rid, wids in GAP_CASES.items()
            for i, wid in enumerate(wids)
        ]
    )
    return f"""
WITH w(way_id, nodes) AS (VALUES {ways_vals}),
m(relation_id, member_idx, ref) AS (VALUES {member_vals}),
j AS (
  SELECT m.relation_id, m.member_idx, w.nodes,
    list_distinct([w.nodes[1], w.nodes[-1]]) AS endpoints,
    w.nodes[1] = w.nodes[-1] AS circular
  FROM m JOIN w ON m.ref = w.way_id),
l AS (
  SELECT relation_id, nodes, endpoints, circular,
    lag(nodes) OVER win AS prev_nodes,
    lag(endpoints) OVER win AS prev_endpoints,
    lag(circular) OVER win AS prev_circ
  FROM j WINDOW win AS (PARTITION BY relation_id ORDER BY member_idx)),
p AS (
  SELECT relation_id,
    CASE WHEN prev_nodes IS NULL THEN FALSE
         ELSE len(list_intersect(
           CASE WHEN prev_circ OR circular THEN prev_nodes ELSE prev_endpoints END,
           CASE WHEN prev_circ OR circular THEN nodes ELSE endpoints END)) = 0
    END AS maybe_gap
  FROM l)
SELECT CAST(relation_id AS BIGINT) AS relation_id,
  CAST(max(maybe_gap) AS INT) AS maybe_gap
FROM p GROUP BY 1
"""


S2_MEMBERS: list[tuple[int, int, str, int, str]] = [
    (701, 0, "relation", 801, ""), (701, 1, "way", 5, ""),
    (702, 0, "relation", 801, ""), (702, 1, "relation", 802, ""),
    (703, 0, "node", 9, "stop"),
]


def q_parent_relations(spark, sf):
    """S2 GetRelationRelations (osm.go:82-114) as the reversed
    member->parent edge list."""
    from osm_pt_validator_spark.sources.routes_file import parent_relations

    return parent_relations(_rels_from_members(spark, S2_MEMBERS))


SQL_PARENT_RELATIONS = f"""
WITH m(relation_id, member_idx, type, ref, role) AS (VALUES {_values(S2_MEMBERS)})
SELECT CAST(ref AS BIGINT) AS relation_id,
  CAST(m.relation_id AS BIGINT) AS parent_relation_id
FROM m WHERE type = 'relation'
"""


# --- spatial ---------------------------------------------------------------


def q_cell_counts_events(spark, sf):
    from osm_pt_validator_spark.functions.geo import cell

    e = _t(spark, sf, "events")
    lat = (F.col("user_id") % 1700) / 10.0 - 85.0
    lon = (F.col("event_id") % 3600) / 10.0 - 180.0
    return (
        e.select(cell(lat, lon, 8).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_CELL_COUNTS = f"""
SELECT {_sql_cell("(user_id % 1700) / 10.0 - 85.0", "(event_id % 3600) / 10.0 - 180.0", 8)} AS cell,
  COUNT(*) AS n
FROM events GROUP BY 1
"""


def q_focal_heatmap(spark, sf):
    """Raster focal smoothing (spatial/tiles.py:focal_mean): each hot
    cell of the events heatmap scatters to its 9-neighborhood, one
    map-side-combining sum per target cell, clipped kernel size at
    grid edges — convolution without densifying the grid."""
    from osm_pt_validator_spark.functions.geo import cell
    from osm_pt_validator_spark.spatial.tiles import focal_mean

    e = _t(spark, sf, "events")
    lat = (F.col("user_id") % 1700) / 10.0 - 85.0
    lon = (F.col("event_id") % 3600) / 10.0 - 180.0
    heat = (
        e.select(cell(lat, lon, 8).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return focal_mean(heat, res=8, value_col="n")


SQL_FOCAL_HEATMAP = f"""
WITH h AS (
  SELECT {_sql_cell("(user_id % 1700) / 10.0 - 85.0", "(event_id % 3600) / 10.0 - 180.0", 8)} AS cell,
         COUNT(*) AS n
  FROM events GROUP BY 1),
o AS (SELECT di.di, dj.dj
      FROM (VALUES (-1), (0), (1)) di(di), (VALUES (-1), (0), (1)) dj(dj)),
sc AS (
  SELECT ((((h.cell >> 32) + o.di) << 32) | ((h.cell & 4294967295) + o.dj)) AS cell, h.n
  FROM h, o
  WHERE (h.cell >> 32) + o.di BETWEEN 0 AND 255
    AND (h.cell & 4294967295) + o.dj BETWEEN 0 AND 255),
a AS (SELECT cell, COUNT(*) AS n_present, CAST(SUM(n) AS BIGINT) AS sum_val
      FROM sc GROUP BY 1),
kk AS (SELECT cell, n_present, sum_val, sum_val * 100 AS num,
  CAST((3 - CASE WHEN (cell >> 32) = 0 THEN 1 ELSE 0 END
          - CASE WHEN (cell >> 32) = 255 THEN 1 ELSE 0 END) AS BIGINT)
  * (3 - CASE WHEN (cell & 4294967295) = 0 THEN 1 ELSE 0 END
       - CASE WHEN (cell & 4294967295) = 255 THEN 1 ELSE 0 END) AS k
  FROM a)
SELECT cell, n_present, sum_val,
  {_sql_floor_div("num", "k")} AS mean_scaled
FROM kk
"""
# mean_scaled replays focal_mean's FLOOR division (tiles.py) for any sign.


ZONE_POLYS = [
    (1, [-3.300, -3.260, -3.260, -3.300], [55.900, 55.900, 55.950, 55.950]),
    (2, [-3.250, -3.210, -3.210, -3.250], [55.940, 55.940, 56.000, 56.000]),
]


def q_zonal_stats(spark, sf):
    """Zonal statistics (spatial/zones.py): count + balance-sum of the
    customers contained in each of two literal polygons — cell-cover
    candidates -> exact ray-cast, then one aggregation per zone."""
    from osm_pt_validator_spark.spatial.zones import zonal_stats

    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("point_id"),
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
        _cents(F.col("c_acctbal")).alias("val"),
    )
    polygons = spark.createDataFrame(
        ZONE_POLYS, "polygon_id long, xs array<double>, ys array<double>"
    )
    return zonal_stats(c, polygons, value_col="val", res=10).select(
        "polygon_id", "n_points", F.col("value_sum").cast("long").alias("value_sum")
    )


def _sql_crossing_parity(xs, ys, px: str, py: str) -> str:
    """Sum of even-odd crossing terms for one polygon, rendered in the
    numpy expression order (same contract as _sql_pip)."""
    n = len(xs)
    terms = []
    for a in range(n):
        b = (a + 1) % n
        d = "CAST({} AS DOUBLE)"
        x1, y1 = d.format(repr(xs[a])), d.format(repr(ys[a]))
        x2, y2 = d.format(repr(xs[b])), d.format(repr(ys[b]))
        terms.append(
            f"(CASE WHEN (({y1} > {py}) <> ({y2} > {py})) AND "
            f"{px} < {x1} + ({py} - {y1}) / ({y2} - {y1}) * ({x2} - {x1}) "
            f"THEN 1 ELSE 0 END)"
        )
    return " + ".join(terms)


def _sql_zonal_stats() -> str:
    zones = " UNION ALL ".join(
        f"SELECT {zid} AS polygon_id, point_id, val FROM pts "
        f"WHERE ({_sql_crossing_parity(xs, ys, 'px', 'py')}) % 2 = 1"
        for zid, xs, ys in ZONE_POLYS
    )
    return f"""
WITH pts AS (
  -- coordinates computed IN double (not DECIMAL-then-cast): the
  -- crossing comparisons must see the same float64s numpy sees
  SELECT c_custkey AS point_id, CAST(round(c_acctbal * 100) AS BIGINT) AS val,
         CAST(55.9 AS DOUBLE) + (c_custkey % 97) * CAST(0.001 AS DOUBLE) AS py,
         CAST(-3.3 AS DOUBLE) + ((c_custkey * 13) % 89) * CAST(0.001 AS DOUBLE) AS px
  FROM customer)
SELECT polygon_id, COUNT(*) AS n_points, CAST(SUM(val) AS BIGINT) AS value_sum
FROM ({zones}) GROUP BY 1
"""


# zone_geometry gets a triangle on top of the two zonal rectangles so
# the shoelace/centroid paths see a non-axis-aligned ring
GEO_POLYS = ZONE_POLYS + [
    (3, [-3.200, -3.150, -3.180], [55.910, 55.915, 55.960]),
]


def q_zone_geometry(spark, sf):
    """Polygon geometry profile (spatial/zones.py:zone_geometry):
    integer-exact shoelace area (vertices quantized to micro-degrees
    first — the cross-term sum is int64, order-independent),
    mm-quantized haversine perimeter, truncating-div vertex centroid.
    Pure per-row column algebra over the vertex arrays: no explode, no
    shuffle."""
    from osm_pt_validator_spark.spatial.zones import zone_geometry

    polys = spark.createDataFrame(
        GEO_POLYS, "polygon_id long, xs array<double>, ys array<double>"
    )
    return zone_geometry(polys)


def _sql_zone_geometry() -> str:
    def d(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    def q(v: float) -> str:  # micro-degree quantized vertex
        return f"CAST(round({d(v)} * 1e6) AS BIGINT)"

    rows = []
    for pid, xs, ys in GEO_POLYS:
        nv = len(xs)
        cross = " + ".join(
            f"({q(xs[a])} * {q(ys[(a + 1) % nv])}"
            f" - {q(xs[(a + 1) % nv])} * {q(ys[a])})"
            for a in range(nv)
        )
        per = " + ".join(
            "CAST(round(("
            + _sql_haversine(
                d(ys[a]), d(xs[a]), d(ys[(a + 1) % nv]), d(xs[(a + 1) % nv])
            )
            + ") * 1000.0) AS BIGINT)"
            for a in range(nv)
        )
        cx = "(" + " + ".join(q(x) for x in xs) + f") // {nv}"
        cy = "(" + " + ".join(q(y) for y in ys) + f") // {nv}"
        rows.append(
            f"SELECT CAST({pid} AS BIGINT) AS polygon_id,"
            f" CAST({nv} AS INT) AS n_vertices,"
            f" abs({cross}) AS area2_udeg2,"
            f" ({per}) AS perimeter_mm,"
            f" {cx} AS centroid_lon_udeg, {cy} AS centroid_lat_udeg"
        )
    return " UNION ALL ".join(rows)


def q_stop_geometry_order(spark, sf):
    """Geometric stop-order audit (spatial/proximity.py:
    stop_geometry_order): linear-reference each stop to mm chainage
    along its route polyline (min(struct) partial agg — one shuffle row
    per stop), then flag stops whose member order would force the
    route to double back. The set-based generalization of the
    reference's per-relation stop-order scan."""
    from osm_pt_validator_spark.spatial.proximity import (
        segments_from_polylines,
        stop_geometry_order,
    )

    sv = _t(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("route_id"),
        F.col("s_suppkey").alias("seq"),
        _supp_lat(F.col("s_suppkey")).alias("lat"),
        _supp_lon(F.col("s_suppkey")).alias("lon"),
    )
    segs = segments_from_polylines(sv, "route_id", "seq")
    st = _t(spark, sf, "customer").select(
        F.col("c_nationkey").alias("route_id"),
        "c_custkey",
        F.col("c_custkey").alias("mseq"),
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
    )
    return stop_geometry_order(
        st, segs, route_key="route_id", stop_key="c_custkey", seq_col="mseq"
    )


def _sql_stop_geometry_order() -> str:
    return f"""
WITH sv AS (
  SELECT s_nationkey AS route_id, s_suppkey AS seq,
         {_SQL_SUPP_LAT} AS lat, {_SQL_SUPP_LON} AS lon
  FROM supplier
),
seg AS (
  SELECT route_id, seq AS seg_idx, lat AS lat1, lon AS lon1,
         lead(lat) OVER (PARTITION BY route_id ORDER BY seq) AS lat2,
         lead(lon) OVER (PARTITION BY route_id ORDER BY seq) AS lon2
  FROM sv
),
seg2 AS (
  SELECT route_id, seg_idx, lat1, lon1, lat2, lon2,
    CAST(round(sqrt(
      (radians(lon2 - lon1) * cos(radians(lat1)) * 6371000.0)
        * (radians(lon2 - lon1) * cos(radians(lat1)) * 6371000.0)
      + (radians(lat2 - lat1) * 6371000.0)
        * (radians(lat2 - lat1) * 6371000.0)) * 1000.0) AS BIGINT) AS len_mm
  FROM seg WHERE lat2 IS NOT NULL
),
seg3 AS (
  SELECT *, CAST(COALESCE(SUM(len_mm) OVER (PARTITION BY route_id ORDER BY seg_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chain0_mm
  FROM seg2
),
st AS (
  SELECT c_nationkey AS route_id, c_custkey, c_custkey AS mseq,
         {_SQL_CUST_LAT} AS plat, {_SQL_CUST_LON} AS plon
  FROM customer
),
proj AS (
  SELECT st.route_id, st.c_custkey, st.mseq, seg3.seg_idx, seg3.chain0_mm,
    radians(lon2 - lon1) * cos(radians(lat1)) * 6371000.0 AS bx,
    radians(lat2 - lat1) * 6371000.0 AS by,
    radians(plon - lon1) * cos(radians(lat1)) * 6371000.0 AS px,
    radians(plat - lat1) * 6371000.0 AS py
  FROM st JOIN seg3 ON st.route_id = seg3.route_id
),
tt AS (
  SELECT route_id, c_custkey, mseq, seg_idx, chain0_mm, bx, by, px, py,
    greatest(0.0, least(1.0, CASE WHEN (bx * bx + by * by) > 0.0
      THEN (px * bx + py * by) / (bx * bx + by * by) ELSE 0.0 END)) AS t
  FROM proj
),
cand AS (
  SELECT route_id, c_custkey, mseq,
    CAST(round({_SQL_PROX_D} * 1000.0) AS BIGINT) AS dist_mm,
    seg_idx,
    chain0_mm + CAST(round(t * sqrt(bx * bx + by * by) * 1000.0) AS BIGINT)
      AS chainage_mm
  FROM tt
),
best AS (
  SELECT route_id, c_custkey, mseq, dist_mm, seg_idx, chainage_mm,
    row_number() OVER (PARTITION BY route_id, c_custkey
      ORDER BY dist_mm, seg_idx, chainage_mm) AS rk
  FROM cand
),
ref AS (SELECT route_id, c_custkey, mseq, dist_mm, chainage_mm
        FROM best WHERE rk = 1)
SELECT route_id, c_custkey, mseq AS seq, dist_mm, chainage_mm,
  CAST(CASE WHEN chainage_mm < COALESCE(
      MAX(chainage_mm) OVER (PARTITION BY route_id ORDER BY mseq, c_custkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    THEN 1 ELSE 0 END AS INT) AS out_of_order
FROM ref
"""


VITERBI_L = 4  # fixed trajectory length => the oracle DP unrolls
VITERBI_K = 2


def q_viterbi_match(spark, sf):
    """HMM map matching (spatial/match.py:viterbi_match): per nation,
    the supplier polyline is the route and the first 4 customers (by
    key) are a GPS trace; Viterbi picks the candidate path minimizing
    integer emission (2x dist_mm) + transition (|chainage move - gps
    move|). Candidates are a set-based top-k rank window; the DP is
    the sequential engine class (Arrow batches). The oracle UNROLLS
    the same DP as chained SQL CTEs (possible because the trace length
    is fixed), including the backtrack — a full semantic replay, not a
    golden."""
    from pyspark.sql import Window as W

    from osm_pt_validator_spark.spatial.match import viterbi_match
    from osm_pt_validator_spark.spatial.proximity import segments_from_polylines

    sv = _t(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("route_id"),
        F.col("s_suppkey").alias("seq"),
        _supp_lat(F.col("s_suppkey")).alias("lat"),
        _supp_lon(F.col("s_suppkey")).alias("lon"),
    )
    segs = segments_from_polylines(sv, "route_id", "seq")
    w = W.partitionBy("c_nationkey").orderBy("c_custkey")
    pts = (
        _t(spark, sf, "customer")
        .select(
            F.col("c_nationkey").alias("route_id"),
            "c_custkey",
            _cust_lat(F.col("c_custkey")).alias("lat"),
            _cust_lon(F.col("c_custkey")).alias("lon"),
            F.row_number().over(w).alias("pseq"),
        )
        .filter(F.col("pseq") <= VITERBI_L)
        # the oracle DP unrolls for EXACTLY L points: a route with
        # fewer (possible at tiny SFs) would yield engine rows but no
        # oracle rows — require full-length traces on both sides
        .withColumn(
            "__np", F.count(F.lit(1)).over(W.partitionBy("route_id"))
        )
        .filter(F.col("__np") == VITERBI_L)
        .drop("__np")
    )
    return viterbi_match(
        pts, segs, "route_id", "c_custkey", "pseq", k=VITERBI_K
    )


def _sql_viterbi_match() -> str:
    L, K, WE, WT = VITERBI_L, VITERBI_K, 2, 1
    hav_pts = _sql_haversine("a.qla", "a.qlo", "b.qla", "b.qlo")
    c_ctes, p_ctes = [], []
    # forward DP: cN(route, seg_idx, dist_mm, chainage_mm, cost)
    c_ctes.append(
        f"c1 AS (SELECT route_id, seg_idx, dist_mm, chainage_mm,"
        f" dist_mm * {WE} AS cost FROM cand WHERE pseq = 1)"
    )
    for i in range(2, L + 1):
        c_ctes.append(
            f"c{i} AS (SELECT route_id, seg_idx, dist_mm, chainage_mm,"
            f" cost + dist_mm * {WE} AS cost FROM ("
            f"SELECT cur.route_id, cur.seg_idx, cur.dist_mm, cur.chainage_mm,"
            f" MIN(prev.cost + ABS((cur.chainage_mm - prev.chainage_mm)"
            f" - mv.move_mm) * {WT}) AS cost"
            f" FROM (SELECT * FROM cand WHERE pseq = {i}) cur"
            f" JOIN c{i - 1} prev ON cur.route_id = prev.route_id"
            f" JOIN mv ON mv.route_id = cur.route_id AND mv.i = {i - 1}"
            f" GROUP BY 1, 2, 3, 4))"
        )
    # backtrack: pick_i = argmin over c_i of (cost + trans to pick_{i+1})
    p_ctes.append(
        f"p{L} AS (SELECT route_id, seg_idx, dist_mm, chainage_mm, cost,"
        f" cost AS path_cost FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY route_id"
        f" ORDER BY cost ASC, seg_idx ASC) AS rk FROM c{L}) WHERE rk = 1)"
    )
    for i in range(L - 1, 0, -1):
        p_ctes.append(
            f"p{i} AS (SELECT route_id, seg_idx, dist_mm, chainage_mm, cost,"
            f" path_cost FROM ("
            f"SELECT c.route_id, c.seg_idx, c.dist_mm, c.chainage_mm, c.cost,"
            f" n.path_cost,"
            f" row_number() OVER (PARTITION BY c.route_id ORDER BY"
            f" c.cost + ABS((n.chainage_mm - c.chainage_mm) - mv.move_mm) * {WT} ASC,"
            f" c.seg_idx ASC) AS rk"
            f" FROM c{i} c JOIN p{i + 1} n ON c.route_id = n.route_id"
            f" JOIN mv ON mv.route_id = c.route_id AND mv.i = {i}) WHERE rk = 1)"
        )
    out_rows = " UNION ALL ".join(
        f"SELECT route_id, {i} AS pseq, seg_idx, dist_mm, chainage_mm,"
        f" path_cost FROM p{i}"
        for i in range(1, L + 1)
    )
    return f"""
WITH sv AS (
  SELECT s_nationkey AS route_id, s_suppkey AS seq,
         {_SQL_SUPP_LAT} AS lat, {_SQL_SUPP_LON} AS lon
  FROM supplier),
seg AS (
  SELECT route_id, seq AS seg_idx, lat AS lat1, lon AS lon1,
         lead(lat) OVER (PARTITION BY route_id ORDER BY seq) AS lat2,
         lead(lon) OVER (PARTITION BY route_id ORDER BY seq) AS lon2
  FROM sv),
seg2 AS (
  SELECT route_id, seg_idx, lat1, lon1, lat2, lon2,
    CAST(round(sqrt(
      (radians(lon2 - lon1) * cos(radians(lat1)) * 6371000.0)
        * (radians(lon2 - lon1) * cos(radians(lat1)) * 6371000.0)
      + (radians(lat2 - lat1) * 6371000.0)
        * (radians(lat2 - lat1) * 6371000.0)) * 1000.0) AS BIGINT) AS len_mm
  FROM seg WHERE lat2 IS NOT NULL),
seg3 AS (
  SELECT *, CAST(COALESCE(SUM(len_mm) OVER (PARTITION BY route_id
      ORDER BY seg_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      0) AS BIGINT) AS chain0_mm
  FROM seg2),
st AS (
  SELECT route_id, c_custkey, plat, plon, pseq FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY route_id) AS np FROM (
      SELECT c_nationkey AS route_id, c_custkey,
             {_SQL_CUST_LAT} AS plat, {_SQL_CUST_LON} AS plon,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey)
               AS pseq
      FROM customer) WHERE pseq <= {L})
  WHERE np = {L}),
stq AS (
  SELECT route_id, c_custkey, pseq, plat, plon,
         CAST(round(plat * 1e6) AS BIGINT) / 1000000.0 AS qla,
         CAST(round(plon * 1e6) AS BIGINT) / 1000000.0 AS qlo
  FROM st),
mv AS (
  SELECT a.route_id, a.pseq AS i,
         CAST(round(({hav_pts}) * 1000.0) AS BIGINT) AS move_mm
  FROM stq a JOIN stq b ON a.route_id = b.route_id AND b.pseq = a.pseq + 1),
proj AS (
  SELECT stq.route_id, stq.c_custkey, stq.pseq,
         seg3.seg_idx, seg3.chain0_mm,
    radians(lon2 - lon1) * cos(radians(lat1)) * 6371000.0 AS bx,
    radians(lat2 - lat1) * 6371000.0 AS by,
    radians(plon - lon1) * cos(radians(lat1)) * 6371000.0 AS px,
    radians(plat - lat1) * 6371000.0 AS py
  FROM stq JOIN seg3 ON stq.route_id = seg3.route_id),
tt AS (
  SELECT route_id, c_custkey, pseq, seg_idx, chain0_mm, bx, by, px, py,
    greatest(0.0, least(1.0, CASE WHEN (bx * bx + by * by) > 0.0
      THEN (px * bx + py * by) / (bx * bx + by * by) ELSE 0.0 END)) AS t
  FROM proj),
cand_all AS (
  SELECT route_id, c_custkey, pseq,
    CAST(round({_SQL_PROX_D} * 1000.0) AS BIGINT) AS dist_mm,
    seg_idx,
    chain0_mm + CAST(round(t * sqrt(bx * bx + by * by) * 1000.0) AS BIGINT)
      AS chainage_mm
  FROM tt),
cand AS (
  SELECT route_id, c_custkey, pseq, seg_idx, dist_mm, chainage_mm FROM (
    SELECT *, row_number() OVER (PARTITION BY route_id, c_custkey
        ORDER BY dist_mm ASC, seg_idx ASC) AS rk
    FROM cand_all) WHERE rk <= {K}),
{", ".join(c_ctes)},
{", ".join(p_ctes)},
out_rows AS ({out_rows})
SELECT o.route_id, s.c_custkey, CAST(o.pseq AS INT) AS seq,
       o.seg_idx AS matched_seg_idx, o.dist_mm, o.chainage_mm,
       o.path_cost AS path_cost_mm
FROM out_rows o JOIN (SELECT DISTINCT route_id, pseq, c_custkey FROM st) s
  ON o.route_id = s.route_id AND o.pseq = s.pseq
"""


# segment fixtures: short customer/supplier segments with key-derived
# headings so the two sets genuinely cross
_SEG_D = 0.0008


def _cust_segs(spark, sf):
    c = _t(spark, sf, "customer").select("c_custkey")
    k = F.col("c_custkey")
    la, lo = _cust_lat(k), _cust_lon(k)
    return c.select(
        k.alias("cust_seg"),
        la.alias("lat1"), lo.alias("lon1"),
        (la + (((k * 7) % 5) - 2) * _SEG_D).alias("lat2"),
        (lo + (((k * 11) % 5) - 2) * _SEG_D).alias("lon2"),
    )


def _supp_segs(spark, sf):
    s = _t(spark, sf, "supplier").select("s_suppkey")
    k = F.col("s_suppkey")
    la, lo = _supp_lat(k), _supp_lon(k)
    return s.select(
        k.alias("supp_seg"),
        la.alias("lat1"), lo.alias("lon1"),
        (la + (((k * 3) % 5) - 2) * _SEG_D).alias("lat2"),
        (lo + (((k * 13) % 5) - 2) * _SEG_D).alias("lon2"),
    )


def q_segment_intersections(spark, sf):
    """Segment-intersection join (spatial/intersect.py): bbox-cover
    cell candidates (never a cartesian), min-shared-cell pair dedup as
    a pure projection filter, exact integer four-orientation test with
    collinear-touch handling on µdeg endpoints."""
    from osm_pt_validator_spark.spatial.intersect import segment_intersection_join

    return segment_intersection_join(
        _cust_segs(spark, sf),
        _supp_segs(spark, sf),
        res=13,
        left_id="cust_seg",
        right_id="supp_seg",
    )


def _sql_segment_intersections() -> str:
    def udeg(e: str) -> str:
        return f"CAST(round(({e}) * 1e6) AS BIGINT)"

    cust = f"""
  SELECT c_custkey AS cust_seg,
    {udeg(_SQL_CUST_LAT)} AS ly1, {udeg(_SQL_CUST_LON)} AS lx1,
    {udeg(f"({_SQL_CUST_LAT}) + (((c_custkey * 7) % 5) - 2) * {_SEG_D!r}")} AS ly2,
    {udeg(f"({_SQL_CUST_LON}) + (((c_custkey * 11) % 5) - 2) * {_SEG_D!r}")} AS lx2
  FROM customer"""
    supp = f"""
  SELECT s_suppkey AS supp_seg,
    {udeg(_SQL_SUPP_LAT)} AS ry1, {udeg(_SQL_SUPP_LON)} AS rx1,
    {udeg(f"({_SQL_SUPP_LAT}) + (((s_suppkey * 3) % 5) - 2) * {_SEG_D!r}")} AS ry2,
    {udeg(f"({_SQL_SUPP_LON}) + (((s_suppkey * 13) % 5) - 2) * {_SEG_D!r}")} AS rx2
  FROM supplier"""

    def cross(ox, oy, ax, ay, bx, by):
        return f"(({ax} - {ox}) * ({by} - {oy}) - ({ay} - {oy}) * ({bx} - {ox}))"

    def on_seg(ax, ay, bx, by, px, py):
        return (
            f"({px} >= LEAST({ax}, {bx}) AND {px} <= GREATEST({ax}, {bx})"
            f" AND {py} >= LEAST({ay}, {by}) AND {py} <= GREATEST({ay}, {by}))"
        )

    d1 = cross("rx1", "ry1", "rx2", "ry2", "lx1", "ly1")
    d2 = cross("rx1", "ry1", "rx2", "ry2", "lx2", "ly2")
    d3 = cross("lx1", "ly1", "lx2", "ly2", "rx1", "ry1")
    d4 = cross("lx1", "ly1", "lx2", "ly2", "rx2", "ry2")
    proper = (
        f"((({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0))"
        f" AND (({d3} > 0 AND {d4} < 0) OR ({d3} < 0 AND {d4} > 0)))"
    )
    touch = (
        f"(({d1} = 0 AND {on_seg('rx1','ry1','rx2','ry2','lx1','ly1')})"
        f" OR ({d2} = 0 AND {on_seg('rx1','ry1','rx2','ry2','lx2','ly2')})"
        f" OR ({d3} = 0 AND {on_seg('lx1','ly1','lx2','ly2','rx1','ry1')})"
        f" OR ({d4} = 0 AND {on_seg('lx1','ly1','lx2','ly2','rx2','ry2')}))"
    )
    return f"""
WITH c AS ({cust}), s AS ({supp})
SELECT c.cust_seg AS cust_seg_l, s.supp_seg AS supp_seg_r
FROM c CROSS JOIN s
WHERE {proper} OR {touch}
"""


def q_convex_hull_membership(spark, sf):
    """Per-group convex hull (spatial/hull.py, monotone chain in Arrow
    batches — the data-dependent-stack engine class of way_order /
    simplify): 120 customers in 5 groups; output flags which points
    are hull vertices. The oracle is INDEPENDENT mathematics, not a
    chain replay: p is a hull vertex iff p is not in the convex hull
    of the others (Caratheodory: no containing triangle and no
    collinear segment), checked exhaustively in SQL on the same
    integer µdeg coordinates."""
    from osm_pt_validator_spark.spatial.hull import convex_hull

    c = _t(spark, sf, "customer").filter(F.col("c_custkey") <= 120)
    pts = c.select(
        (F.col("c_custkey") % 5).alias("g"),
        "c_custkey",
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
    )
    hull = convex_hull(pts, "g").select(
        "g", F.col("x_udeg").alias("__hx"), F.col("y_udeg").alias("__hy")
    )
    keyed = pts.select(
        "g",
        "c_custkey",
        F.round(F.col("lon") * 1e6).cast("long").alias("__x"),
        F.round(F.col("lat") * 1e6).cast("long").alias("__y"),
    )
    return (
        keyed.join(
            hull,
            (keyed["g"] == hull["g"])
            & (F.col("__x") == F.col("__hx"))
            & (F.col("__y") == F.col("__hy")),
            "left",
        )
        .select(
            keyed["g"],
            "c_custkey",
            F.when(F.col("__hx").isNotNull(), 1).otherwise(0).cast("int").alias("on_hull"),
        )
    )


def _sql_convex_hull_membership() -> str:
    def cr(ax, ay, bx, by, px, py):
        return f"(({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax}))"

    d1 = cr("a.x", "a.y", "b.x", "b.y", "pt.x", "pt.y")
    d2 = cr("b.x", "b.y", "c.x", "c.y", "pt.x", "pt.y")
    d3 = cr("c.x", "c.y", "a.x", "a.y", "pt.x", "pt.y")
    nondeg = cr("a.x", "a.y", "b.x", "b.y", "c.x", "c.y")
    seg_cr = cr("a.x", "a.y", "b.x", "b.y", "pt.x", "pt.y")
    return f"""
WITH p AS (
  SELECT c_custkey % 5 AS g, c_custkey AS id,
    CAST(round(({_SQL_CUST_LON}) * 1e6) AS BIGINT) AS x,
    CAST(round(({_SQL_CUST_LAT}) * 1e6) AS BIGINT) AS y
  FROM customer WHERE c_custkey <= 120)
SELECT pt.g, pt.id AS c_custkey,
  CAST(NOT (
    EXISTS (
      SELECT 1 FROM p a, p b, p c
      WHERE a.g = pt.g AND b.g = pt.g AND c.g = pt.g
        AND a.id < b.id AND b.id < c.id
        AND a.id != pt.id AND b.id != pt.id AND c.id != pt.id
        AND {nondeg} != 0
        AND (({d1} >= 0 AND {d2} >= 0 AND {d3} >= 0)
          OR ({d1} <= 0 AND {d2} <= 0 AND {d3} <= 0)))
    OR EXISTS (
      SELECT 1 FROM p a, p b
      WHERE a.g = pt.g AND b.g = pt.g AND a.id < b.id
        AND a.id != pt.id AND b.id != pt.id
        AND {seg_cr} = 0
        AND pt.x >= LEAST(a.x, b.x) AND pt.x <= GREATEST(a.x, b.x)
        AND pt.y >= LEAST(a.y, b.y) AND pt.y <= GREATEST(a.y, b.y))
  ) AS INT) AS on_hull
FROM p pt
"""


POLYFILL_RES = 15


def q_polyfill_zones(spark, sf):
    """Polygon -> covering cells (spatial/polyfill.py:cell_polyfill,
    the H3 polygonToCells analog): bbox index ranges -> candidate cells
    from chained sequence explodes -> center-containment crossing
    parity as an integer F.aggregate fold. Zero shuffles, zero Python:
    one codegen generator+projection pipeline per polygon (map-only
    plan asserted in tests)."""
    from osm_pt_validator_spark.spatial.polyfill import cell_polyfill

    polys = spark.createDataFrame(
        GEO_POLYS, "polygon_id long, xs array<double>, ys array<double>"
    )
    return cell_polyfill(polys, res=POLYFILL_RES)


def _sql_polyfill_parts(polys, res: int) -> str:
    """UNION ALL of per-literal-polygon (polygon_id, cell) polyfill
    selects — shared by the polyfill oracle and areal interpolation."""
    n = 1 << res

    def idx(v: float, off: float, span: float) -> str:
        return (
            f"GREATEST(0, LEAST({n - 1}, CAST(floor((CAST({v!r} AS DOUBLE)"
            f" + {off}) / {span} * {n}) AS BIGINT)))"
        )

    parts = []
    for pid, xs, ys in polys:
        # center coords in the SAME float-op order as the Spark side
        py = f"((CAST(i AS DOUBLE) + 0.5) / {float(n)!r} * 180.0 - 90.0)"
        px = f"((CAST(j AS DOUBLE) + 0.5) / {float(n)!r} * 360.0 - 180.0)"
        parity = _sql_crossing_parity(xs, ys, px, py)
        parts.append(
            f"SELECT CAST({pid} AS BIGINT) AS polygon_id,"
            f" ((i << 32) | j) AS cell"
            f" FROM generate_series({idx(min(ys), 90.0, 180.0)},"
            f" {idx(max(ys), 90.0, 180.0)}) AS gi(i),"
            f" generate_series({idx(min(xs), 180.0, 360.0)},"
            f" {idx(max(xs), 180.0, 360.0)}) AS gj(j)"
            f" WHERE ({parity}) % 2 = 1"
        )
    return " UNION ALL ".join(parts)


def _sql_polyfill_zones() -> str:
    return _sql_polyfill_parts(GEO_POLYS, POLYFILL_RES)


# areal interpolation: GEO_POLYS are the sources (with literal values);
# targets are offset rectangles straddling them
AREAL_VALUES = {1: 10000, 2: 5000, 3: 7000}
AREAL_TARGETS = [
    (10, [-3.295, -3.285, -3.285, -3.295], [55.905, 55.905, 55.915, 55.915]),
    (20, [-3.270, -3.240, -3.240, -3.270], [55.930, 55.930, 55.970, 55.970]),
    (30, [-3.190, -3.160, -3.160, -3.190], [55.920, 55.920, 55.950, 55.950]),
    (40, [-3.100, -3.090, -3.090, -3.100], [55.905, 55.905, 55.915, 55.915]),
]


def q_areal_interpolation(spark, sf):
    """Areal interpolation (spatial/polyfill.py:areal_interpolation):
    source-zone values re-aggregated onto a different target partition
    proportional to shared polyfill cells — polygon x polygon overlap
    as a pure cell equi-join, integer truncating splits."""
    from osm_pt_validator_spark.spatial.polyfill import areal_interpolation

    src = spark.createDataFrame(
        [(pid, xs, ys, AREAL_VALUES[pid]) for pid, xs, ys in GEO_POLYS],
        "polygon_id long, xs array<double>, ys array<double>, value_c long",
    )
    tgt = spark.createDataFrame(
        AREAL_TARGETS, "polygon_id long, xs array<double>, ys array<double>"
    )
    return areal_interpolation(src, tgt, res=POLYFILL_RES)


def _sql_areal_interpolation() -> str:
    vals = ", ".join(f"({pid}, {v})" for pid, v in sorted(AREAL_VALUES.items()))
    return f"""
WITH sc AS ({_sql_polyfill_parts(GEO_POLYS, POLYFILL_RES)}),
tc AS ({_sql_polyfill_parts(AREAL_TARGETS, POLYFILL_RES)}),
sizes AS (SELECT polygon_id AS src, COUNT(*) AS n_src FROM sc GROUP BY 1),
vals(src, v) AS (VALUES {vals}),
shared AS (
  SELECT sc.polygon_id AS src, tc.polygon_id AS tgt, COUNT(*) AS n_shared
  FROM sc JOIN tc ON sc.cell = tc.cell GROUP BY 1, 2)
SELECT tgt AS polygon_id,
  CAST(SUM((v * n_shared) // n_src) AS BIGINT) AS est_value
FROM shared JOIN sizes ON shared.src = sizes.src
JOIN vals ON shared.src = vals.src
GROUP BY 1
"""


# trajectory fixtures: events walk a coarse 8x8 street grid so distinct
# users traverse coincident segments (the corridor-detection setup)
_TRAJ_LAT = "55.9 + ((event_id * 7) % 8) * 0.001"
_TRAJ_LON = "-3.3 + ((event_id * 13) % 8) * 0.001"


def _traj_points(spark, sf):
    e = _t(spark, sf, "events")
    return e.select(
        "user_id",
        "ts",
        "event_id",
        (55.9 + ((F.col("event_id") * 7) % 8) * 0.001).alias("lat"),
        (-3.3 + ((F.col("event_id") * 13) % 8) * 0.001).alias("lon"),
    )


_SQL_TRAJ_PTS = f"""
  SELECT user_id, ts, event_id,
         CAST(round(({_TRAJ_LAT}) * 1e6) AS BIGINT) AS la,
         CAST(round(({_TRAJ_LON}) * 1e6) AS BIGINT) AS lo
  FROM events
"""


def q_shared_segments(spark, sf):
    """Co-traversed corridor detection (spatial/trajectory.py:
    shared_segments): per-user time-sorted paths -> direction-agnostic
    canonical segments (exact µdeg integer identity, per-row
    array_distinct so no count-distinct shuffle) -> map-side-combining
    count per segment. Two shuffles total (traj_id, segment key)."""
    from osm_pt_validator_spark.spatial.trajectory import shared_segments

    return shared_segments(
        _traj_points(spark, sf), "user_id", ["ts", "event_id"], min_trajs=2
    )


SQL_SHARED_SEGMENTS = f"""
WITH pts AS ({_SQL_TRAJ_PTS}),
seq AS (
  SELECT user_id, la, lo, lead(la) OVER w AS nla, lead(lo) OVER w AS nlo
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, la, lo)),
segs AS (
  SELECT DISTINCT user_id,
    CASE WHEN (la < nla) OR (la = nla AND lo <= nlo) THEN la ELSE nla END AS la1,
    CASE WHEN (la < nla) OR (la = nla AND lo <= nlo) THEN lo ELSE nlo END AS lo1,
    CASE WHEN (la < nla) OR (la = nla AND lo <= nlo) THEN nla ELSE la END AS la2,
    CASE WHEN (la < nla) OR (la = nla AND lo <= nlo) THEN nlo ELSE lo END AS lo2
  FROM seq WHERE nla IS NOT NULL AND (la != nla OR lo != nlo))
SELECT la1, lo1, la2, lo2, COUNT(*) AS n_trajs
FROM segs GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2
"""


def q_trajectory_turns(spark, sf):
    """Per-trajectory turn/tortuosity profile (spatial/trajectory.py:
    turn_profile): consecutive-duplicate collapse, exact int64
    cross/dot turn classification, mm-quantized haversine path vs
    chord. ONE shuffle (traj_id); everything after is array algebra."""
    from osm_pt_validator_spark.spatial.trajectory import turn_profile

    return turn_profile(_traj_points(spark, sf), "user_id", ["ts", "event_id"])


def _sql_trajectory_turns() -> str:
    hav_mm = (
        "CAST(round(("
        + _sql_haversine(
            "(la / 1000000.0)", "(lo / 1000000.0)",
            "(nla / 1000000.0)", "(nlo / 1000000.0)",
        )
        + ") * 1000.0) AS BIGINT)"
    )
    chord_mm = (
        "CAST(round(("
        + _sql_haversine(
            "(fla / 1000000.0)", "(flo / 1000000.0)",
            "(lla / 1000000.0)", "(llo / 1000000.0)",
        )
        + ") * 1000.0) AS BIGINT)"
    )
    return f"""
WITH pts AS ({_SQL_TRAJ_PTS}),
ord_pts AS (
  SELECT user_id, ts, event_id, la, lo,
         lag(la) OVER w AS pla, lag(lo) OVER w AS plo
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, la, lo)),
ded AS (
  SELECT user_id, ts, event_id, la, lo FROM ord_pts
  WHERE pla IS NULL OR la != pla OR lo != plo),
vec AS (
  SELECT user_id, ts, event_id, la, lo,
         lead(la) OVER w2 AS nla, lead(lo) OVER w2 AS nlo
  FROM ded WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
vv AS (
  SELECT user_id, la, lo, nla, nlo, (nla - la) AS dy, (nlo - lo) AS dx,
         lead(nla - la) OVER w3 AS dy2, lead(nlo - lo) OVER w3 AS dx2
  FROM vec WHERE nla IS NOT NULL
  WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id)),
pstats AS (
  SELECT user_id, CAST(COUNT(*) AS INT) AS n_points,
         first(la ORDER BY ts, event_id) AS fla,
         first(lo ORDER BY ts, event_id) AS flo,
         last(la ORDER BY ts, event_id) AS lla,
         last(lo ORDER BY ts, event_id) AS llo
  FROM ded GROUP BY user_id),
vstats AS (
  SELECT user_id, CAST(SUM({hav_mm}) AS BIGINT) AS path_mm,
    CAST(SUM(CASE WHEN dy2 IS NOT NULL AND dx * dy2 - dy * dx2 > 0 THEN 1 ELSE 0 END) AS INT) AS n_left,
    CAST(SUM(CASE WHEN dy2 IS NOT NULL AND dx * dy2 - dy * dx2 < 0 THEN 1 ELSE 0 END) AS INT) AS n_right,
    CAST(SUM(CASE WHEN dy2 IS NOT NULL AND dx * dy2 - dy * dx2 = 0 AND dx * dx2 + dy * dy2 > 0 THEN 1 ELSE 0 END) AS INT) AS n_straight,
    CAST(SUM(CASE WHEN dy2 IS NOT NULL AND dx * dy2 - dy * dx2 = 0 AND dx * dx2 + dy * dy2 < 0 THEN 1 ELSE 0 END) AS INT) AS n_reversals
  FROM vv GROUP BY user_id)
SELECT p.user_id, p.n_points,
       COALESCE(v.n_left, 0) AS n_left,
       COALESCE(v.n_right, 0) AS n_right,
       COALESCE(v.n_straight, 0) AS n_straight,
       COALESCE(v.n_reversals, 0) AS n_reversals,
       COALESCE(v.path_mm, 0) AS path_mm,
       {chord_mm} AS chord_mm
FROM pstats p LEFT JOIN vstats v USING (user_id)
"""


# OD flows use a wider city-scale grid (0.01-degree steps) so the
# res-14 cells (~0.011 deg) actually separate the stations
_OD_LAT = "55.9 + ((event_id * 7) % 8) * 0.01"
_OD_LON = "-3.3 + ((event_id * 13) % 8) * 0.01"


def q_od_flows(spark, sf):
    """Origin-destination flow matrix (spatial/trajectory.py:od_flows):
    directional cell-to-cell movement counts from the event
    trajectories — one traj shuffle, map-side-combining count on the
    (from, to) key."""
    from osm_pt_validator_spark.spatial.trajectory import od_flows

    e = _t(spark, sf, "events")
    pts = e.select(
        "user_id", "ts", "event_id",
        (55.9 + ((F.col("event_id") * 7) % 8) * 0.01).alias("lat"),
        (-3.3 + ((F.col("event_id") * 13) % 8) * 0.01).alias("lon"),
    )
    return od_flows(pts, "user_id", ["ts", "event_id"], res=14, min_moves=2)


SQL_OD_FLOWS = f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
    {_sql_cell(_OD_LAT, _OD_LON, 14)} AS c
  FROM events),
seq AS (
  SELECT user_id, c, lead(c) OVER w AS nc
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, c)),
mv AS (SELECT c AS cell_from, nc AS cell_to FROM seq
       WHERE nc IS NOT NULL AND c != nc)
SELECT cell_from, cell_to, COUNT(*) AS n_moves
FROM mv GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


SSSP_ROUNDS = 8


def q_transit_reach(spark, sf):
    """Multi-source shortest paths (operators/graph.py, fixed-round
    integer Bellman-Ford): the distinct segments traversed by event
    trajectories form a street graph (mm haversine weights); distances
    from the minimum node = the K-hop transit-reach isochrone. Edges
    shuffle once (persisted pre-partitioned); only the dist table
    exchanges per round."""
    from osm_pt_validator_spark.operators.graph import shortest_paths
    from osm_pt_validator_spark.spatial.trajectory import shared_segments

    segs = shared_segments(
        _traj_points(spark, sf), "user_id", ["ts", "event_id"], min_trajs=1
    )
    key = lambda la, lo: F.col(la) * F.lit(10_000_000_000) + F.col(lo)  # noqa: E731
    mm = F.round(
        _hav_mm_expr(
            F.col("la1") / 1e6, F.col("lo1") / 1e6,
            F.col("la2") / 1e6, F.col("lo2") / 1e6,
        )
        * 1000.0
    ).cast("long")
    edges = segs.select(
        key("la1", "lo1").alias("src"),
        key("la2", "lo2").alias("dst"),
        mm.alias("w_mm"),
    )
    sources = edges.agg(
        F.min(F.least(F.col("src"), F.col("dst"))).alias("node")
    )
    return shortest_paths(
        edges, sources, rounds=SSSP_ROUNDS, directed=False
    )


def _hav_mm_expr(lat1, lon1, lat2, lon2):
    from osm_pt_validator_spark.functions.geo import haversine_m

    return haversine_m(lat1, lon1, lat2, lon2)


def _sql_transit_reach() -> str:
    hav = _sql_haversine(
        "(la1 / 1000000.0)", "(lo1 / 1000000.0)",
        "(la2 / 1000000.0)", "(lo2 / 1000000.0)",
    )
    # AS MATERIALIZED is load-bearing: each round references the
    # previous one TWICE (carry + relax), and DuckDB inlines plain
    # CTEs, re-evaluating the whole chain per reference — 2^rounds
    # evaluations of the base query (measured: ~25-50 s vs ~0.5 s
    # materialized at sf0.01).
    rounds = []
    for r in range(1, SSSP_ROUNDS + 1):
        prev = f"d{r - 1}"
        rounds.append(
            f"d{r} AS MATERIALIZED (SELECT node, CAST(MIN(dist_mm) AS BIGINT) AS dist_mm FROM ("
            f"SELECT node, dist_mm FROM {prev}"
            f" UNION ALL SELECT e.dst AS node, {prev}.dist_mm + e.w_mm AS dist_mm"
            f" FROM {prev} JOIN e ON {prev}.node = e.src) GROUP BY 1)"
        )
    chain = ",\n".join(rounds)
    return f"""
WITH pts AS ({_SQL_TRAJ_PTS}),
seq AS (
  SELECT user_id, la, lo, lead(la) OVER w AS nla, lead(lo) OVER w AS nlo
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, la, lo)),
segs AS (
  SELECT DISTINCT
    CASE WHEN (la < nla) OR (la = nla AND lo <= nlo) THEN la ELSE nla END AS la1,
    CASE WHEN (la < nla) OR (la = nla AND lo <= nlo) THEN lo ELSE nlo END AS lo1,
    CASE WHEN (la < nla) OR (la = nla AND lo <= nlo) THEN nla ELSE la END AS la2,
    CASE WHEN (la < nla) OR (la = nla AND lo <= nlo) THEN nlo ELSE lo END AS lo2
  FROM seq WHERE nla IS NOT NULL AND (la != nla OR lo != nlo)),
w AS (
  SELECT la1 * 10000000000 + lo1 AS n1, la2 * 10000000000 + lo2 AS n2,
         CAST(round(({hav}) * 1000.0) AS BIGINT) AS w_mm
  FROM segs),
e AS (SELECT n1 AS src, n2 AS dst, w_mm FROM w
      UNION ALL SELECT n2 AS src, n1 AS dst, w_mm FROM w),
srcs AS (SELECT MIN(LEAST(src, dst)) AS node FROM e),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist_mm FROM srcs),
{chain}
SELECT node, dist_mm FROM d{SSSP_ROUNDS}
"""


# simplify fixture: four hand-derivable polylines at eps=0.8 degrees.
# Expected outputs below are derived BY HAND (perpendicular distances
# computed from the cross-product formula on paper), so the oracle is
# independent of the engine: L1 wiggle (max dev 0.1) collapses to its
# endpoints; L2 spike keeps the apex (dev 2.0) and drops the 0.707-dev
# shoulders; L3 is a 2-point segment; L4's square exercises the
# first-max tie-break (two vertices at dev 2.0) and keeps everything.
SIMPLIFY_LINES = [
    (1, [0.0, 1.0, 2.0, 3.0, 4.0], [0.0, 0.1, -0.1, 0.05, 0.0]),
    (2, [0.0, 1.0, 2.0, 3.0, 4.0], [0.0, 0.0, 2.0, 0.0, 0.0]),
    (3, [0.0, 5.0], [0.0, 5.0]),
    (4, [0.0, 2.0, 2.0, 0.0], [0.0, 0.0, 2.0, 2.0]),
]

SIMPLIFY_GOLDEN = [
    (1, 5, 2, 0, 0.0, 0.0), (1, 5, 2, 1, 4.0, 0.0),
    (2, 5, 3, 0, 0.0, 0.0), (2, 5, 3, 1, 2.0, 2.0), (2, 5, 3, 2, 4.0, 0.0),
    (3, 2, 2, 0, 0.0, 0.0), (3, 2, 2, 1, 5.0, 5.0),
    (4, 4, 4, 0, 0.0, 0.0), (4, 4, 4, 1, 2.0, 0.0),
    (4, 4, 4, 2, 2.0, 2.0), (4, 4, 4, 3, 0.0, 2.0),
]


def q_route_simplify(spark, sf):
    """Douglas-Peucker polyline simplification (spatial/simplify.py):
    eps=0.8deg over the four fixture shapes, kept vertices exploded to
    rows. DP's data-dependent recursion is not column algebra (same
    engine class as the frontier automaton) — mapInPandas, zero
    shuffle; the oracle is hand-derived golden VALUES."""
    from osm_pt_validator_spark.spatial.simplify import simplify_polylines

    lines = spark.createDataFrame(
        SIMPLIFY_LINES, "line_id long, xs array<double>, ys array<double>"
    )
    out = simplify_polylines(lines, eps_deg=0.8)
    return out.select(
        "line_id",
        "n_in",
        "n_out",
        F.posexplode(F.arrays_zip(F.col("xs").alias("x"), F.col("ys").alias("y"))).alias(
            "seq", "v"
        ),
    ).select(
        "line_id",
        "n_in",
        "n_out",
        F.col("seq").cast("int").alias("seq"),
        F.col("v.x").alias("x"),
        F.col("v.y").alias("y"),
    )


def _sql_route_simplify() -> str:
    return (
        "SELECT CAST(c0 AS BIGINT) AS line_id, CAST(c1 AS INT) AS n_in,"
        " CAST(c2 AS INT) AS n_out, CAST(c3 AS INT) AS seq,"
        " CAST(c4 AS DOUBLE) AS x, CAST(c5 AS DOUBLE) AS y"
        " FROM (VALUES " + _values(SIMPLIFY_GOLDEN) + ") t(c0, c1, c2, c3, c4, c5)"
    )


def q_hotspot_clusters(spark, sf):
    """Grid-DBSCAN hotspot clustering (spatial/zones.py): cells with
    >= 10 events are core; 8-neighbor-adjacent cores merge via the
    iterative min-label connected-components loop. The oracle replays
    the fixpoint with a recursive CTE."""
    from osm_pt_validator_spark.spatial.zones import hotspot_clusters

    e = _t(spark, sf, "events").select(
        ((F.col("user_id") % 1700) / 10.0 - 85.0).alias("lat"),
        ((F.col("event_id") % 3600) / 10.0 - 180.0).alias("lon"),
    )
    return hotspot_clusters(e, res=7, min_count=10, max_iter=80).select(
        "cluster_id",
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_points").cast("long").alias("n_points"),
    )


SQL_HOTSPOT_CLUSTERS = f"""
WITH RECURSIVE hot AS (
  SELECT {_sql_cell("(user_id % 1700) / 10.0 - 85.0", "(event_id % 3600) / 10.0 - 180.0", 7)} AS cell,
    COUNT(*) AS n
  FROM events GROUP BY 1 HAVING COUNT(*) >= 10),
edges AS (
  SELECT a.cell AS a, b.cell AS b FROM hot a JOIN hot b
  ON a.cell <> b.cell
  AND abs((a.cell >> 32) - (b.cell >> 32)) <= 1
  AND abs((a.cell & 4294967295) - (b.cell & 4294967295)) <= 1),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
comp AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
lab AS (
  SELECT h.cell, h.n, COALESCE(c.cluster_id, h.cell) AS cluster_id
  FROM hot h LEFT JOIN comp c ON c.node = h.cell)
SELECT cluster_id, COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS n_points
FROM lab GROUP BY 1
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_daily_pivot(spark, sf):
    """Wide reshape (pivot): one row per day, one count column per
    event type. The explicit value list keeps the plan a single
    aggregation pass — pivot without it costs an extra distinct-values
    job, which at 100 TB is a full extra scan."""
    e = _t(spark, sf, "events")
    day = F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_epoch")
    out = e.groupBy(day).pivot("event_type", _EVENT_TYPES).agg(
        F.count(F.lit(1))
    )
    return out.select(
        "day_epoch", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES]
    )


SQL_EVENTS_PIVOT = f"""
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
  {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in _EVENT_TYPES)}
FROM events GROUP BY 1
"""


def q_orders_rollup(spark, sf):
    """Grouping sets (rollup): order totals at (year, priority),
    (year), and grand-total levels in ONE aggregation pass — the
    subtotal lattice Spark and any warehouse compute with partial
    aggregation, not three scans. grouping_id disambiguates NULL-as-
    subtotal from NULL-as-value."""
    o = _t(spark, sf, "orders")
    rolled = o.rollup(
        F.year("o_orderdate").alias("order_year"), F.col("o_orderpriority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).alias("total_c"),
        F.grouping_id().alias("gid"),
    )
    # Subtotal rows carry NULL keys; coalesce to sentinels (gid already
    # disambiguates) so the nullable-int column survives the pandas
    # int->float promotion in the compare harness.
    return rolled.select(
        F.coalesce("order_year", F.lit(-1)).alias("order_year"),
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
        "n_orders",
        "total_c",
        "gid",
    )


SQL_ORDERS_ROLLUP = """
SELECT COALESCE(order_year, -1) AS order_year,
  COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(price_c) AS BIGINT) AS total_c,
  CAST(GROUPING(order_year) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
FROM (SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders)
GROUP BY ROLLUP (order_year, o_orderpriority)
"""


def q_events_cube(spark, sf):
    """Full CUBE grouping sets: event counts + value sums at every
    subset of (event_type, hour-of-day) — all four lattice levels in
    ONE aggregation pass (the cube complement of q_orders_rollup's
    rollup and q_events_daily_pivot's pivot)."""
    e = _t(spark, sf, "events")
    cubed = e.cube(
        F.col("event_type"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_cents(F.col("value"))).alias("value_c"),
        F.grouping_id().alias("gid"),
    )
    return cubed.select(
        F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
        F.coalesce("hod", F.lit(-1)).alias("hod"),
        "n",
        "value_c",
        "gid",
    )


SQL_EVENTS_CUBE = """
SELECT COALESCE(event_type, '(all)') AS event_type,
  COALESCE(hod, -1) AS hod,
  COUNT(*) AS n,
  CAST(SUM(value_c) AS BIGINT) AS value_c,
  CAST(GROUPING(event_type) * 2 + GROUPING(hod) AS BIGINT) AS gid
FROM (SELECT event_type, CAST(hour(ts) AS INT) AS hod,
             CAST(round(value * 100) AS BIGINT) AS value_c
      FROM events)
GROUP BY CUBE (event_type, hod)
"""


def q_event_props_stats(spark, sf):
    """Semi-structured extraction: the events `props` column is a JSON
    string; parse it JVM-side (from_json with an explicit schema — no
    schema inference pass, no Python) and aggregate the extracted field
    per event type. The operator class every telemetry/crawl-metadata
    pipeline needs at the scan edge."""
    from pyspark.sql import types as T

    e = _t(spark, sf, "events")
    k = F.from_json(F.col("props"), T.StructType([T.StructField("k", T.LongType())]))["k"]
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


SQL_EVENT_PROPS = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
  MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY 1
"""


def q_compact_cover(spark, sf):
    """Hierarchical cell-cover compaction (spatial/compact.py): a dense
    lineitem-derived cell set at res 10 compacts to the minimal
    multi-resolution covering down to res 7 — complete sibling quads
    collapse into parents, recursively. The oracle replays each round
    as a CTE level."""
    from osm_pt_validator_spark.spatial.compact import compact_cells

    li = _t(spark, sf, "lineitem").select(
        F.shiftleft((F.col("l_orderkey") % 120) + 100, 32)
        .bitwiseOR((F.col("l_partkey") % 120) + 200)
        .alias("cell")
    )
    return compact_cells(li, res=10, min_res=7).select(
        "cell", F.col("res").cast("int").alias("res")
    )


def _sql_compact_cover() -> str:
    base = "(((l_orderkey % 120) + 100) << 32) | ((l_partkey % 120) + 200)"
    parent = "(((cell >> 33) << 32) | ((cell & 4294967295) >> 1))"
    parts = [f"l10 AS (SELECT DISTINCT {base} AS cell FROM lineitem)"]
    selects = []
    for r in range(10, 7, -1):
        parts.append(
            f"p{r} AS (SELECT {parent} AS parent FROM l{r} "
            f"GROUP BY 1 HAVING COUNT(*) = 4)"
        )
        parts.append(
            f"o{r} AS (SELECT cell, {r} AS res FROM l{r} "
            f"WHERE {parent} NOT IN (SELECT parent FROM p{r}))"
        )
        parts.append(f"l{r - 1} AS (SELECT parent AS cell FROM p{r})")
        selects.append(f"SELECT cell, res FROM o{r}")
    selects.append("SELECT cell, 7 AS res FROM l7")
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT cell, CAST(res AS INT) AS res FROM ("
        + " UNION ALL ".join(selects) + ")"
    )


def q_tile_heatmap_customers(spark, sf):
    from osm_pt_validator_spark.spatial.tiles import failure_heatmap

    c = _t(spark, sf, "customer").select(
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
    )
    return failure_heatmap(c, z=12).select(
        F.col("tile_z").cast("int").alias("tile_z"), "tile_x", "tile_y", "n"
    )


SQL_TILE_HEATMAP = f"""
SELECT CAST(12 AS INT) AS tile_z,
  {_sql_tile_x(_SQL_CUST_LON, 12)} AS tile_x,
  {_sql_tile_y(_SQL_CUST_LAT, 12)} AS tile_y,
  COUNT(*) AS n
FROM customer GROUP BY 1, 2, 3
"""


def q_tile_pyramid(spark, sf):
    """Multi-zoom tile pyramid (z 6..12) over customer points: the
    corpus shuffles ONCE (base z=12 heatmap); coarser zooms are
    bit-shift parent rollups of the aggregated raster
    (spatial/tiles.py:tile_pyramid)."""
    from osm_pt_validator_spark.spatial.tiles import tile_pyramid

    c = _t(spark, sf, "customer").select(
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
    )
    return tile_pyramid(c, z_max=12, z_min=6).select(
        F.col("tile_z").cast("int").alias("tile_z"),
        "tile_x",
        "tile_y",
        F.col("n").cast("bigint").alias("n"),
    )


SQL_TILE_PYRAMID = f"""
WITH base AS (
  SELECT {_sql_tile_x(_SQL_CUST_LON, 12)} AS tile_x,
         {_sql_tile_y(_SQL_CUST_LAT, 12)} AS tile_y,
         COUNT(*) AS n
  FROM customer GROUP BY 1, 2
)
SELECT CAST(lv.z AS INT) AS tile_z,
       base.tile_x >> (12 - lv.z) AS tile_x,
       base.tile_y >> (12 - lv.z) AS tile_y,
       CAST(SUM(base.n) AS BIGINT) AS n
FROM base CROSS JOIN (SELECT CAST(range AS BIGINT) AS z FROM range(6, 13)) lv
GROUP BY 1, 2, 3
"""


def q_stop_route_proximity(spark, sf):
    """Stop-to-route proximity (north-star check): suppliers ordered by
    key within nation form route polylines, customers are that nation's
    stops; min point-to-segment distance per stop, flagged > 150 m
    (spatial/proximity.py — equi-join on route key, map-side min)."""
    from osm_pt_validator_spark.spatial.proximity import (
        segments_from_polylines,
        stop_route_proximity,
    )

    sv = _t(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("route_id"),
        F.col("s_suppkey").alias("seq"),
        _supp_lat(F.col("s_suppkey")).alias("lat"),
        _supp_lon(F.col("s_suppkey")).alias("lon"),
    )
    segs = segments_from_polylines(sv, "route_id", "seq")
    st = _t(spark, sf, "customer").select(
        F.col("c_nationkey").alias("route_id"),
        "c_custkey",
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
    )
    prox = stop_route_proximity(
        st, segs, route_key="route_id", stop_key="c_custkey", max_m=150.0
    )
    return prox.select(
        "route_id",
        "c_custkey",
        F.round(F.col("dist_m") * 1000.0).cast("long").alias("dist_mm"),
        F.col("too_far").cast("int").alias("too_far"),
    )


# the SQL replays the identical expression tree (same association order,
# same clamp spelling) so doubles agree bit-for-bit before mm rounding
_SQL_PROX_D = (
    "sqrt((px - (0.0 + t * bx)) * (px - (0.0 + t * bx)) "
    "+ (py - (0.0 + t * by)) * (py - (0.0 + t * by)))"
)

SQL_STOP_ROUTE_PROXIMITY = f"""
WITH sv AS (
  SELECT s_nationkey AS route_id, s_suppkey AS seq,
         {_SQL_SUPP_LAT} AS lat, {_SQL_SUPP_LON} AS lon
  FROM supplier
),
seg AS (
  SELECT route_id,
         lat AS lat1, lon AS lon1,
         lead(lat) OVER (PARTITION BY route_id ORDER BY seq) AS lat2,
         lead(lon) OVER (PARTITION BY route_id ORDER BY seq) AS lon2
  FROM sv
),
seg2 AS (SELECT * FROM seg WHERE lat2 IS NOT NULL),
st AS (
  SELECT c_nationkey AS route_id, c_custkey,
         {_SQL_CUST_LAT} AS plat, {_SQL_CUST_LON} AS plon
  FROM customer
),
proj AS (
  SELECT st.route_id, st.c_custkey,
    radians(lon2 - lon1) * cos(radians(lat1)) * 6371000.0 AS bx,
    radians(lat2 - lat1) * 6371000.0 AS by,
    radians(plon - lon1) * cos(radians(lat1)) * 6371000.0 AS px,
    radians(plat - lat1) * 6371000.0 AS py
  FROM st JOIN seg2 ON st.route_id = seg2.route_id
),
tt AS (
  SELECT route_id, c_custkey, bx, by, px, py,
    greatest(0.0, least(1.0, CASE WHEN (bx * bx + by * by) > 0.0
      THEN (px * bx + py * by) / (bx * bx + by * by) ELSE 0.0 END)) AS t
  FROM proj
),
dist AS (
  SELECT route_id, c_custkey, min({_SQL_PROX_D}) AS dist_m
  FROM tt GROUP BY 1, 2
)
SELECT route_id, c_custkey,
       CAST(round(dist_m * 1000.0) AS BIGINT) AS dist_mm,
       CAST(dist_m > 150.0 AS INT) AS too_far
FROM dist
"""


def q_decontaminate(spark, sf):
    """Benchmark decontamination: docs with doc_id % 97 == 0 act as the
    eval set; every other doc sharing >= 1 word-trigram is reported,
    contaminated iff >= 2 distinct shared trigrams
    (operators/curation.py:decontaminate — broadcast eval shingles, so
    the corpus never shuffles for the join)."""
    from osm_pt_validator_spark.operators.curation import decontaminate

    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = decontaminate(corpus, bench, shingle_n=3, min_overlap=2)
    return out.select(
        "doc_id",
        F.col("n_overlap").cast("long").alias("n_overlap"),
        "contaminated",
    )


SQL_DECONTAMINATE = f"""
WITH d AS (SELECT doc_id, {_SQL_TOKENS.format(t="text")} AS toks FROM documents),
sh AS (SELECT doc_id,
  list_distinct(CASE WHEN len(toks) >= 3
    THEN list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [] END) AS sh
  FROM d),
bench AS (SELECT DISTINCT unnest(sh) AS gram FROM sh WHERE doc_id % 97 = 0),
corp AS (SELECT doc_id, unnest(sh) AS gram FROM sh WHERE doc_id % 97 <> 0),
hit AS (SELECT doc_id, count(DISTINCT gram) AS n_overlap
        FROM corp JOIN bench USING (gram) GROUP BY 1)
SELECT doc_id, CAST(n_overlap AS BIGINT) AS n_overlap,
       CAST(n_overlap >= 2 AS INT) AS contaminated
FROM hit
"""


# two relation snapshots for the incremental diff: rel 1 unchanged,
# rel 2 role edited, rel 3 only in new, rel 4 only in old, rel 5 tag
# edited, rel 6 member order swapped (order IS semantics)
_INC_OLD_MEMBERS: list[tuple[int, int, str, int, str]] = [
    (1, 0, "node", 102, "stop"), (1, 1, "way", 3, ""),
    (2, 0, "node", 102, "stop"), (2, 1, "way", 3, ""),
    (4, 0, "way", 5, ""),
    (5, 0, "way", 4, ""),
    (6, 0, "node", 102, "stop"), (6, 1, "node", 104, "stop"),
]
_INC_NEW_MEMBERS: list[tuple[int, int, str, int, str]] = [
    (1, 0, "node", 102, "stop"), (1, 1, "way", 3, ""),
    (2, 0, "node", 102, "stop"), (2, 1, "way", 3, "forward"),
    (3, 0, "way", 7, ""),
    (5, 0, "way", 4, ""),
    (6, 0, "node", 104, "stop"), (6, 1, "node", 102, "stop"),
]
_INC_OLD_TAGS = {1: {"type": "route"}, 5: {"name": "A", "ref": "22"}}
_INC_NEW_TAGS = {1: {"type": "route"}, 5: {"name": "B", "ref": "22"}}


def q_incremental_workset(spark, sf):
    """Snapshot diff for incremental validation: canonical member/tag
    content hash per relation, full-outer diff -> new / gone / changed
    / unchanged (operators/incremental.py)."""
    from osm_pt_validator_spark.operators.incremental import incremental_workset

    old = _rels_from_members(spark, _INC_OLD_MEMBERS, _INC_OLD_TAGS)
    new = _rels_from_members(spark, _INC_NEW_MEMBERS, _INC_NEW_TAGS)
    return incremental_workset(old, new)


def _sql_inc_hash(mem_cte: str, tag_cte: str) -> str:
    """Canonical content string per relation, replayed in SQL: ordered
    member triples + key-sorted tags, same separators as
    relation_content_hash."""
    return f"""
SELECT m.relation_id,
       md5(m.mem || '#' || COALESCE(t.tag, '')) AS h
FROM (SELECT relation_id,
             string_agg(t || ':' || CAST(ref AS VARCHAR) || ':' || role,
                        '|' ORDER BY member_idx) AS mem
      FROM {mem_cte} GROUP BY 1) m
LEFT JOIN (SELECT relation_id,
                  string_agg(k || '=' || v, '|' ORDER BY k) AS tag
           FROM {tag_cte} GROUP BY 1) t
ON m.relation_id = t.relation_id
"""


SQL_INCREMENTAL_WORKSET = f"""
WITH mo(relation_id, member_idx, t, ref, role) AS (VALUES {_values(_INC_OLD_MEMBERS)}),
mn(relation_id, member_idx, t, ref, role) AS (VALUES {_values(_INC_NEW_MEMBERS)}),
tago(relation_id, k, v) AS (VALUES {_tag_values(_INC_OLD_TAGS)}),
tagn(relation_id, k, v) AS (VALUES {_tag_values(_INC_NEW_TAGS)}),
oh AS ({_sql_inc_hash("mo", "tago")}),
nh AS ({_sql_inc_hash("mn", "tagn")})
SELECT COALESCE(nh.relation_id, oh.relation_id) AS relation_id,
  CASE WHEN oh.h IS NULL THEN 'new'
       WHEN nh.h IS NULL THEN 'gone'
       WHEN oh.h <> nh.h THEN 'changed'
       ELSE 'unchanged' END AS status
FROM nh FULL OUTER JOIN oh ON nh.relation_id = oh.relation_id
"""


def q_knn_customers_suppliers(spark, sf):
    from osm_pt_validator_spark.spatial.knn import knn_join

    c = _t(spark, sf, "customer").select(
        "c_custkey",
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
    )
    s = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("stop_id"),
        _supp_lat(F.col("s_suppkey")).alias("lat"),
        _supp_lon(F.col("s_suppkey")).alias("lon"),
    )
    return knn_join(
        c, s, probe_key="c_custkey", build_key="stop_id", k=2, ring=1, res=8
    ).select("c_custkey", F.col("stop_id").alias("s_suppkey"), F.col("knn_rank").cast("int").alias("knn_rank"))


SQL_KNN = f"""
SELECT c_custkey, s_suppkey, CAST(rnk AS INT) AS knn_rank FROM (
  SELECT c.c_custkey, s.s_suppkey,
    row_number() OVER (PARTITION BY c.c_custkey ORDER BY
      {_sql_haversine(_SQL_CUST_LAT.replace("c_custkey", "c.c_custkey"),
                      _SQL_CUST_LON.replace("c_custkey", "c.c_custkey"),
                      _SQL_SUPP_LAT.replace("s_suppkey", "s.s_suppkey"),
                      _SQL_SUPP_LON.replace("s_suppkey", "s.s_suppkey"))} ASC,
      s.s_suppkey ASC) AS rnk
  FROM customer c CROSS JOIN supplier s)
WHERE rnk <= 2
"""


def q_distance_within_pairs(spark, sf):
    """Radius join (spatial/joins.py:distance_join): every (customer,
    supplier) pair within 400 m — cell-neighborhood candidate join with
    a per-row cos(lat)-adaptive longitude ring, then exact haversine.
    The oracle is an independent brute-force cross join, so a recall
    miss in the candidate ring fails the hash compare."""
    from osm_pt_validator_spark.spatial.joins import distance_join

    c = _t(spark, sf, "customer").select(
        "c_custkey",
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
    )
    s = _t(spark, sf, "supplier").select(
        "s_suppkey",
        _supp_lat(F.col("s_suppkey")).alias("lat"),
        _supp_lon(F.col("s_suppkey")).alias("lon"),
    )
    return distance_join(c, s, 400.0, broadcast_right=True).select(
        "c_custkey",
        "s_suppkey",
        F.round(F.col("distance_m") * 1000.0).cast("long").alias("dist_mm"),
    )


SQL_DISTANCE_WITHIN = f"""
SELECT c_custkey, s_suppkey, CAST(round(d * 1000.0) AS BIGINT) AS dist_mm
FROM (
  SELECT c.c_custkey, s.s_suppkey,
    {_sql_haversine(_SQL_CUST_LAT.replace("c_custkey", "c.c_custkey"),
                    _SQL_CUST_LON.replace("c_custkey", "c.c_custkey"),
                    _SQL_SUPP_LAT.replace("s_suppkey", "s.s_suppkey"),
                    _SQL_SUPP_LON.replace("s_suppkey", "s.s_suppkey"))} AS d
  FROM customer c CROSS JOIN supplier s)
WHERE d <= 400.0
"""


def q_transfer_candidates(spark, sf):
    """Transfer-opportunity detection: pairs of stops on DIFFERENT
    routes within 250 m — the self-join shape of the radius join
    (route = nation, stops = customers). The network-analysis question
    a PT validator's downstream consumers ask of the verdict corpus."""
    from osm_pt_validator_spark.spatial.joins import distance_join

    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("stop_id"),
        F.col("c_nationkey").alias("route_id"),
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
    )
    return (
        distance_join(c, c, 250.0)
        .filter(
            (F.col("route_id") != F.col("route_id_r"))
            & (F.col("stop_id") < F.col("stop_id_r"))
        )
        .select(
            F.col("stop_id").alias("stop_a"),
            F.col("stop_id_r").alias("stop_b"),
            F.col("route_id").alias("route_a"),
            F.col("route_id_r").alias("route_b"),
            F.round(F.col("distance_m") * 1000.0).cast("long").alias("dist_mm"),
        )
    )


SQL_TRANSFER_CANDIDATES = f"""
WITH c AS (
  SELECT c_custkey AS stop_id, c_nationkey AS route_id,
         {_SQL_CUST_LAT} AS lat, {_SQL_CUST_LON} AS lon
  FROM customer)
SELECT a.stop_id AS stop_a, b.stop_id AS stop_b,
  a.route_id AS route_a, b.route_id AS route_b,
  CAST(round({_sql_haversine('a.lat', 'a.lon', 'b.lat', 'b.lon')} * 1000.0) AS BIGINT) AS dist_mm
FROM c a JOIN c b
  ON a.stop_id < b.stop_id AND a.route_id <> b.route_id
WHERE {_sql_haversine('a.lat', 'a.lon', 'b.lat', 'b.lon')} <= 250.0
"""


def q_salted_cell_join(spark, sf):
    from osm_pt_validator_spark.functions.geo import cell
    from osm_pt_validator_spark.spatial.joins import salted_equi_join

    pid = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    points = _t(spark, sf, "lineitem").select(
        pid.alias("point_id"),
        cell(55.9 + (pid % 40) * 0.002, -3.3 + ((pid * 3) % 40) * 0.002, 12).alias("cell"),
    )
    sk = F.col("s_suppkey")
    stops = _t(spark, sf, "supplier").select(
        sk.alias("stop_id"),
        cell(55.9 + (sk % 40) * 0.002, -3.3 + ((sk * 3) % 40) * 0.002, 12).alias("cell"),
    )
    hot = points.groupBy("cell").count().filter(F.col("count") > 2000).select("cell")
    return salted_equi_join(
        points, stops, "cell", salt_factor=4, hot=hot, probe_salt_col="point_id"
    ).select("point_id", "stop_id")


_SQL_PID = "(l_orderkey * 10 + l_linenumber)"
SQL_SALTED_JOIN = f"""
WITH points AS (
  SELECT {_SQL_PID} AS point_id,
    {_sql_cell(f"55.9 + ({_SQL_PID} % 40) * 0.002", f"-3.3 + (({_SQL_PID} * 3) % 40) * 0.002", 12)} AS cell
  FROM lineitem),
stops AS (
  SELECT s_suppkey AS stop_id,
    {_sql_cell("55.9 + (s_suppkey % 40) * 0.002", "-3.3 + ((s_suppkey * 3) % 40) * 0.002", 12)} AS cell
  FROM supplier)
SELECT p.point_id, s.stop_id FROM points p JOIN stops s ON p.cell = s.cell
"""


# --- text / dedup / similarity ----------------------------------------------


def q_doc_stats(spark, sf):
    from osm_pt_validator_spark.operators.text import (
        bpe_ish_token_count,
        fingerprint,
        lang_id,
        token_count,
    )

    d = _t(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        lang_id(t).alias("lang_guess"),
        fingerprint(t).alias("fp"),
    )


def _sql_stop_count(lang_words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in lang_words)
    return f"len(list_filter(toks, x -> x IN ({inlist})))"


def _sql_lang_case(c_en: str, c_de: str, c_fr: str, c_es: str) -> str:
    """The lang_id argmax replay (und/en/de/fr/es priority ties) —
    single source of truth shared by every oracle that needs the
    language guess (doc_stats, curation_funnel). Takes the four
    stopword-count EXPRESSIONS (column names or inline list_filter
    counts)."""
    return (
        f"CASE WHEN {c_en} = 0 AND {c_de} = 0 AND {c_fr} = 0"
        f" AND {c_es} = 0 THEN 'und'\n"
        f"       WHEN {c_en} >= {c_de} AND {c_en} >= {c_fr}"
        f" AND {c_en} >= {c_es} THEN 'en'\n"
        f"       WHEN {c_de} >= {c_fr} AND {c_de} >= {c_es} THEN 'de'\n"
        f"       WHEN {c_fr} >= {c_es} THEN 'fr'\n"
        f"       ELSE 'es' END"
    )


def _sql_doc_stats() -> str:
    from osm_pt_validator_spark.operators.text import LANG_STOPWORDS

    toks = _SQL_TOKENS.format(t="text")
    c_en = _sql_stop_count(LANG_STOPWORDS["en"])
    c_de = _sql_stop_count(LANG_STOPWORDS["de"])
    c_fr = _sql_stop_count(LANG_STOPWORDS["fr"])
    c_es = _sql_stop_count(LANG_STOPWORDS["es"])
    return f"""
WITH d AS (SELECT doc_id, text, {toks} AS toks FROM documents),
c AS (SELECT doc_id, text, toks,
  {c_en} AS c_en, {c_de} AS c_de, {c_fr} AS c_fr, {c_es} AS c_es FROM d)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(COALESCE(list_sum(list_transform(toks, x -> CAST(ceil(len(x) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe_tokens,
  {_sql_lang_case("c_en", "c_de", "c_fr", "c_es")} AS lang_guess,
  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
FROM c
"""


def q_doc_quality(spark, sf):
    from osm_pt_validator_spark.operators.text import quality_features, quality_score

    d = _t(spark, sf, "documents")
    t = F.col("text")
    f = quality_features(t)
    ppm = lambda c: F.round(c * 1e6).cast("long")  # noqa: E731
    return d.select(
        "doc_id",
        quality_score(t).alias("quality"),
        ppm(f["alpha_ratio"]).alias("alpha_ppm"),
        ppm(f["digit_ratio"]).alias("digit_ppm"),
        ppm(f["punct_ratio"]).alias("punct_ppm"),
        ppm(f["stopword_ratio"]).alias("stop_ppm"),
    )


def _sql_quality_ctes() -> str:
    """CTE chain d -> feat -> qual(doc_id, quality + 6-dp ratios),
    shared by the doc_quality and lang_quota oracles (single source of
    truth for the quality_score replay)."""
    from osm_pt_validator_spark.operators.text import LANG_STOPWORDS

    toks = _SQL_TOKENS.format(t="text")
    c_en = _sql_stop_count(LANG_STOPWORDS["en"])
    return f"""
d AS (SELECT doc_id, text, {toks} AS toks FROM documents),
feat AS (
  SELECT doc_id,
    CAST(len(text) AS DOUBLE) AS n,
    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
    CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digit,
    CAST(len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
    CAST(len(toks) AS DOUBLE) AS toks_n,
    CAST({c_en} AS DOUBLE) AS stop_en
  FROM d),
r AS (
  SELECT doc_id,
    round(alpha / (CASE WHEN n > 0 THEN n ELSE 1.0 END), 6) AS alpha_ratio,
    round(digit / (CASE WHEN n > 0 THEN n ELSE 1.0 END), 6) AS digit_ratio,
    round(punct / (CASE WHEN n > 0 THEN n ELSE 1.0 END), 6) AS punct_ratio,
    round(stop_en / (CASE WHEN toks_n > 0 THEN toks_n ELSE 1.0 END), 6) AS stopword_ratio,
    round(alpha / (CASE WHEN toks_n > 0 THEN toks_n ELSE 1.0 END), 6) AS mean_token_len
  FROM feat),
qual AS (
  SELECT doc_id,
    CAST(round(40.0 * alpha_ratio
      + 30.0 * LEAST(stopword_ratio * 2, 1.0)
      + 15.0 * (CASE WHEN mean_token_len BETWEEN 3.0 AND 9.0 THEN 1.0 ELSE 0.0 END)
      + 15.0 * (1.0 - LEAST(digit_ratio * 5, 1.0))) AS INT) AS quality,
    alpha_ratio, digit_ratio, punct_ratio, stopword_ratio
  FROM r)"""


def _sql_doc_quality() -> str:
    return f"""
WITH {_sql_quality_ctes()}
SELECT doc_id, quality,
  CAST(round(alpha_ratio * 1e6) AS BIGINT) AS alpha_ppm,
  CAST(round(digit_ratio * 1e6) AS BIGINT) AS digit_ppm,
  CAST(round(punct_ratio * 1e6) AS BIGINT) AS punct_ppm,
  CAST(round(stopword_ratio * 1e6) AS BIGINT) AS stop_ppm
FROM qual
"""


def q_corpus_sample(spark, sf):
    """Deterministic 25% Bernoulli sample (curation.hash_sample):
    membership is a pure function of (salt, doc_id) — reproducible
    across runs, engines, and repartitionings, unlike df.sample()."""
    from osm_pt_validator_spark.operators.curation import hash_sample

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return hash_sample(d, 0.25)


def _sql_corpus_sample() -> str:
    from osm_pt_validator_spark.functions.hashing import md5_i64_sql

    bucket = md5_i64_sql("CAST(doc_id AS VARCHAR)", "sample")
    return f"""
SELECT doc_id, lang FROM documents
WHERE {bucket} % 1000000 < 250000
"""


def q_dsir_weights(spark, sf):
    """DSIR importance weights (curation.dsir_weights): hashed
    unigram+bigram importance of every document against a
    deterministic 10% target sample — the data-selection scorer an
    LM pipeline runs between dedup and sampling. Integer micro-nat
    quantization of the per-bucket log-ratios makes the per-doc sum
    exact integer algebra, replayed bit-for-bit by the oracle."""
    from osm_pt_validator_spark.operators.curation import (
        dsir_weights,
        hash_sample,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    tgt = hash_sample(d, 0.1, salt="dsir_tgt")
    return dsir_weights(d, tgt).select(
        "doc_id",
        F.col("weight_micro").cast("long").alias("weight_micro"),
        "n_grams",
    )


def _sql_dsir_weights() -> str:
    from osm_pt_validator_spark.functions.hashing import md5_i64_sql

    toks = _SQL_TOKENS.format(t="text")
    gbucket = md5_i64_sql("gram", "dsir")
    tbucket = md5_i64_sql("CAST(doc_id AS VARCHAR)", "dsir_tgt")
    return f"""
WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
g AS (
  SELECT doc_id, t.g AS gram FROM d,
    UNNEST(list_concat(
      toks,
      list_transform(range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i + 1]))) AS t(g)),
b AS (SELECT doc_id, ({gbucket}) % 256 AS bucket FROM g),
dc AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
rh AS (SELECT bucket, SUM(c) AS r FROM dc GROUP BY 1),
tgt AS (SELECT doc_id FROM documents WHERE ({tbucket}) % 1000000 < 100000),
th AS (SELECT bucket, SUM(c) AS t FROM dc JOIN tgt USING (doc_id) GROUP BY 1),
tot AS (SELECT (SELECT SUM(r) FROM rh) AS rn,
               (SELECT COALESCE(SUM(t), 0) FROM th) AS tn),
ratio AS (
  SELECT rh.bucket,
    CAST(round((ln((COALESCE(th.t, 0) + 1.0) / (tot.tn + 256))
              - ln((rh.r + 1.0) / (tot.rn + 256))) * 1e6) AS BIGINT)
      AS lr_micro
  FROM rh LEFT JOIN th ON rh.bucket = th.bucket, tot)
SELECT dc.doc_id,
  CAST(SUM(dc.c * ratio.lr_micro) AS BIGINT) AS weight_micro,
  CAST(SUM(dc.c) AS BIGINT) AS n_grams
FROM dc JOIN ratio ON dc.bucket = ratio.bucket
GROUP BY 1
"""


def q_bigram_lm_scores(spark, sf):
    """CCNet-style LM-fluency scoring (text.bigram_lm_scores): add-one
    bigram LM trained on a deterministic 10% target sample, every doc
    scored by total NLL in integer micro-nats — the perplexity-filter
    stage of a pretraining pipeline, exactly replayed by the oracle
    (per-bigram NLL constants from integer counts, integer per-doc
    sum)."""
    from osm_pt_validator_spark.operators.curation import hash_sample
    from osm_pt_validator_spark.operators.text import bigram_lm_scores

    d = _t(spark, sf, "documents").select("doc_id", "text")
    tgt = hash_sample(d, 0.1, salt="lm_tgt")
    return bigram_lm_scores(d, tgt).select(
        "doc_id",
        F.col("nll_micro").cast("long").alias("nll_micro"),
        "n_bigrams",
    )


def _sql_bigram_lm_scores() -> str:
    from osm_pt_validator_spark.functions.hashing import md5_i64_sql

    toks = _SQL_TOKENS.format(t="text")
    tbucket = md5_i64_sql("CAST(doc_id AS VARCHAR)", "lm_tgt")
    bigrams = "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])"
    return f"""
WITH tgt AS (SELECT {toks} AS toks FROM documents
             WHERE ({tbucket}) % 1000000 < 100000),
tb AS (SELECT t.g AS g, COUNT(*) AS c12
       FROM tgt, UNNEST({bigrams}) AS t(g) GROUP BY 1),
tp AS (SELECT split_part(g, ' ', 1) AS w1, SUM(c12) AS c1 FROM tb GROUP BY 1),
vv AS (SELECT GREATEST(COUNT(DISTINCT t.w), 1) AS v
       FROM tgt, UNNEST(toks) AS t(w)),
d AS (SELECT doc_id, {toks} AS toks FROM documents),
db AS (SELECT doc_id, t.g AS g, COUNT(*) AS c
       FROM d, UNNEST({bigrams}) AS t(g) GROUP BY 1, 2),
s AS (SELECT db.doc_id, db.c,
        CAST(round(-ln((COALESCE(tb.c12, 0) + 1.0)
                       / (COALESCE(tp.c1, 0) + vv.v)) * 1e6) AS BIGINT) AS nm
      FROM db LEFT JOIN tb USING (g)
              LEFT JOIN tp ON split_part(db.g, ' ', 1) = tp.w1, vv)
SELECT doc_id, CAST(SUM(c * nm) AS BIGINT) AS nll_micro,
  CAST(SUM(c) AS BIGINT) AS n_bigrams
FROM s GROUP BY 1
"""


def q_curation_funnel(spark, sf):
    """FineWeb-style filtering funnel (curation.curation_funnel):
    every doc tagged with the FIRST stage it fails — lang, quality,
    repetition, exact-duplicate — or 'kept'; per-stage removal counts
    are one groupBy away. One corpus scan + one fingerprint window."""
    from osm_pt_validator_spark.operators.curation import curation_funnel

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return curation_funnel(d, lang="en", min_quality=65, max_rep=0.6)


def _sql_curation_funnel() -> str:
    from osm_pt_validator_spark.operators.text import LANG_STOPWORDS

    c_en = _sql_stop_count(LANG_STOPWORDS["en"])
    c_de = _sql_stop_count(LANG_STOPWORDS["de"])
    c_fr = _sql_stop_count(LANG_STOPWORDS["fr"])
    c_es = _sql_stop_count(LANG_STOPWORDS["es"])
    return f"""
WITH {_sql_quality_ctes()},
sig AS (
  SELECT d.doc_id,
    {_sql_lang_case(c_en, c_de, c_fr, c_es)} AS lg,
    qual.quality AS q,
    CASE WHEN len(d.toks) > 0
         THEN round(1.0 - len(list_distinct(d.toks)) * 1.0 / len(d.toks), 6)
         ELSE 0.0 END AS rep,
    md5(lower(regexp_replace(trim(d.text), '\\s+', ' ', 'g'))) AS fp
  FROM d JOIN qual USING (doc_id)),
k AS (
  SELECT sig.*,
    MIN(CASE WHEN lg = 'en' AND q >= 65 AND rep <= 0.6 THEN doc_id END)
      OVER (PARTITION BY fp) AS keeper
  FROM sig)
SELECT doc_id,
  CASE WHEN lg <> 'en' THEN 'lang'
       WHEN q < 65 THEN 'quality'
       WHEN rep > 0.6 THEN 'repetition'
       WHEN doc_id <> keeper THEN 'duplicate'
       ELSE 'kept' END AS stage
FROM k
"""


BM25_TERMS = ["spark", "join", "fast", "window"]


def q_bm25_scores(spark, sf):
    """Retrieve-to-curate BM25 (text.bm25_scores): score every doc
    against a literal query term set — integer tf/df/dl/N statistics
    through the standard Robertson weighting, each (doc, term)
    contribution quantized to micro-units before the exact integer
    per-doc sum (constant literals are python-folded once and
    interpolated into BOTH engines, so the float expression shapes
    are identical)."""
    from osm_pt_validator_spark.operators.text import bm25_scores

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return bm25_scores(d, BM25_TERMS, k1=1.2, b=0.75).select(
        "doc_id",
        F.col("score_micro").cast("long").alias("score_micro"),
        "n_terms_hit",
    )


def _sql_bm25_scores(k1: float = 1.2, b: float = 0.75) -> str:
    toks = _SQL_TOKENS.format(t="text")
    in_list = ", ".join(f"'{t}'" for t in BM25_TERMS)
    k1p1 = repr(k1 + 1.0)
    one_m_b = repr(1.0 - b)
    return f"""
WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
base AS (SELECT doc_id, len(toks) AS dl, t.tok AS t
         FROM d, UNNEST(toks) AS t(tok)
         WHERE t.tok IN ({in_list})),
tf AS (SELECT doc_id, t, dl, COUNT(*) AS tf FROM base GROUP BY 1, 2, 3),
dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
st AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS sum_dl FROM d),
s AS (SELECT tf.doc_id,
  CAST(round(
    ln(1.0 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))
    * ((tf.tf * {k1p1}) / (tf.tf + {repr(k1)} * ({one_m_b} + {repr(b)}
        * (tf.dl / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))))
    * 1e6) AS BIGINT) AS cm
  FROM tf JOIN dft USING (t), st)
SELECT doc_id, CAST(SUM(cm) AS BIGINT) AS score_micro,
  CAST(COUNT(*) AS BIGINT) AS n_terms_hit
FROM s GROUP BY 1
"""


def q_corpus_split(spark, sf):
    """Leakage-safe train/val/test split (curation.grouped_split): the
    split is a pure function of the `source` (site) key, so a site's
    near-identical pages can never straddle the train/eval boundary.
    Pure projection — no shuffle."""
    from osm_pt_validator_spark.operators.curation import grouped_split

    d = _t(spark, sf, "documents").select("doc_id", "source")
    return grouped_split(d, "source")


def _sql_corpus_split() -> str:
    from osm_pt_validator_spark.functions.hashing import md5_i64_sql

    bucket = f"({md5_i64_sql('CAST(source AS VARCHAR)', 'split')} % 1000000)"
    return f"""
SELECT doc_id, source,
  CASE WHEN {bucket} < 900000 THEN 'train'
       WHEN {bucket} < 950000 THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""


def q_lang_quota(spark, sf):
    """Language rebalancing (curation.lang_quota): keep the top-60
    docs per language by quality score — trims the en-heavy skew to a
    uniform per-language cap, deterministic tie-break on doc_id."""
    from osm_pt_validator_spark.operators.curation import lang_quota

    d = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    return lang_quota(d, quota=60).select("doc_id", "lang", "quality")


def _sql_lang_quota() -> str:
    return f"""
WITH {_sql_quality_ctes()}
SELECT doc_id, lang, quality FROM (
  SELECT m.doc_id, m.lang, q.quality,
    row_number() OVER (PARTITION BY m.lang
                       ORDER BY q.quality DESC, m.doc_id ASC) AS rk
  FROM documents m JOIN qual q ON q.doc_id = m.doc_id)
WHERE rk <= 60
"""


def q_pack_chunks(spark, sf):
    """Concat-and-chunk packing layout (curation.pack_chunks): docs
    hash-sharded then packed into 512-token chunks per shard — the
    (doc -> chunk span) assignment a sequence-packing writer consumes."""
    from osm_pt_validator_spark.operators.curation import pack_chunks

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return pack_chunks(d, budget=512, num_shards=8)


def _sql_pack_chunks() -> str:
    from osm_pt_validator_spark.functions.hashing import md5_i64_sql

    toks = _SQL_TOKENS.format(t="text")
    shard = md5_i64_sql("CAST(doc_id AS VARCHAR)", "shard")
    return f"""
WITH t AS (
  SELECT doc_id, {shard} % 8 AS shard,
    COALESCE(CAST(list_sum(list_transform({toks},
      x -> CAST(ceil(len(x) / 4.0) AS BIGINT))) AS BIGINT), 0) AS n_tokens
  FROM documents),
s AS (
  SELECT doc_id, shard, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
  FROM t)
SELECT doc_id, shard, n_tokens, start_tok,
  CAST(floor(start_tok / 512.0) AS BIGINT) AS chunk_first,
  CAST(floor((start_tok + n_tokens - 1) / 512.0) AS BIGINT) AS chunk_last
FROM s
"""


def q_fingerprint_groups(spark, sf):
    from osm_pt_validator_spark.operators.text import fingerprint

    d = _t(spark, sf, "documents")
    return (
        d.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


SQL_FINGERPRINT_GROUPS = """
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
  MIN(doc_id) AS keep_doc_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_ngram_counts(spark, sf):
    """Corpus bigram occurrence counts (LM data prep)."""
    from osm_pt_validator_spark.operators.text import ngram_counts

    return ngram_counts(_t(spark, sf, "documents"), n=2, min_count=3)


def _sql_ngram_counts() -> str:
    toks = _SQL_TOKENS.format(t="text")
    return f"""
WITH d AS (SELECT {toks} AS toks FROM documents),
g AS (
  SELECT toks[i] || ' ' || toks[i+1] AS ngram
  FROM d, UNNEST(CASE WHEN len(toks) >= 2 THEN range(1, len(toks)) ELSE [] END) AS t(i))
SELECT ngram, COUNT(*) AS n FROM g GROUP BY 1 HAVING COUNT(*) >= 3
"""


def q_passage_windows(spark, sf):
    """Retrieval chunking (text.passage_windows): overlapping 64-token
    windows at stride 32, final window pinned to the last token. Pure
    array algebra, map-only."""
    from osm_pt_validator_spark.operators.text import passage_windows

    return passage_windows(
        _t(spark, sf, "documents"), window_tokens=64, stride=32
    )


def _sql_passage_windows(window_tokens: int = 64, stride: int = 32) -> str:
    toks = _SQL_TOKENS.format(t="text")
    return f"""
WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
st AS (
  SELECT doc_id, toks,
         GREATEST(1, len(toks) - {window_tokens - 1}) AS last_start
  FROM d WHERE len(toks) > 0),
starts AS (
  SELECT doc_id, toks,
    CASE WHEN (last_start - 1) % {stride} = 0
         THEN range(1, last_start + 1, {stride})
         ELSE list_append(range(1, last_start + 1, {stride}), last_start)
    END AS ss
  FROM st),
w AS (
  SELECT doc_id, UNNEST(ss) AS start_tok, toks FROM starts),
p AS (
  SELECT doc_id, start_tok,
         toks[start_tok : start_tok + {window_tokens - 1}] AS win
  FROM w)
SELECT doc_id,
  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok) - 1 AS INT)
    AS window_idx,
  CAST(start_tok AS INT) AS start_tok,
  CAST(len(win) AS INT) AS n_tokens,
  array_to_string(win, ' ') AS passage
FROM p WHERE len(win) > 0
"""


def q_jaccard_join(spark, sf):
    """Exact set-similarity join (dedup.jaccard_similarity_join,
    PPJoin-style prefix filtering): lossless all-pairs Jaccard >= 0.5
    — candidates only from rarity-ordered prefix tokens, never the
    frequent-token explosion; the brute cross-join DuckDB oracle is
    the exact ground truth the prefix filter must reproduce."""
    from osm_pt_validator_spark.operators.dedup import jaccard_similarity_join

    return jaccard_similarity_join(
        _t(spark, sf, "documents"), threshold=0.5
    ).select(
        "doc_a", "doc_b",
        F.col("inter_n").cast("int").alias("inter_n"),
        F.col("union_n").cast("int").alias("union_n"),
        "jac_ppm",
    )


def _sql_jaccard_join(threshold: float = 0.5) -> str:
    toks = _SQL_TOKENS.format(t="text")
    # ground truth stays ALL pairs; the intersection is computed
    # relationally (explode -> equi-join -> count) instead of
    # list_intersect per pair — identical values (token sets are
    # distinct; union = |A| + |B| - inter; inter = 0 pairs cannot reach
    # a positive threshold), and d is MATERIALIZED so the tokenize runs
    # once, not once per join side
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, list_distinct({toks}) AS s FROM documents
  -- token-empty docs never reach the engine's explode; and
  -- 0/0 Jaccard is undefined anyway
  WHERE len({toks}) > 0),
sz AS MATERIALIZED (SELECT doc_id, len(s) AS n FROM d),
tx AS MATERIALIZED (SELECT doc_id, unnest(s) AS t FROM d),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_n
  FROM tx a JOIN tx b ON a.t = b.t AND b.doc_id > a.doc_id
  GROUP BY 1, 2),
p AS (
  SELECT i.doc_a, i.doc_b, i.inter_n,
    sa.n + sb.n - i.inter_n AS union_n
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.doc_a
  JOIN sz sb ON sb.doc_id = i.doc_b)
SELECT doc_a, doc_b, CAST(inter_n AS INT) AS inter_n,
  CAST(union_n AS INT) AS union_n,
  CAST(round(CAST(inter_n AS DOUBLE) / CAST(union_n AS DOUBLE) * 1e6)
       AS BIGINT) AS jac_ppm
FROM p WHERE CAST(inter_n AS DOUBLE) >= {threshold!r} * union_n
"""


BPE_ROUNDS = 3


def q_bpe_merges(spark, sf):
    """BPE tokenizer induction (text.bpe_merges): the first 3 merge
    rules learned from the documents corpus — per round one
    map-side-combining pair count, one tiny argmax action, one
    map-only array rewrite (the l != r restriction makes the greedy
    rewrite per-position algebra, replayed exactly by the oracle's
    chained CTEs)."""
    from osm_pt_validator_spark.operators.text import bpe_merges

    return bpe_merges(_t(spark, sf, "documents"), rounds=BPE_ROUNDS)


def _sql_bpe_ctes() -> list[str]:
    """Chained BPE trainer CTEs over `documents`: t0 = tokenized corpus
    (doc_id carried), per round r: c{r} pair counts, m{r} the argmax
    merge rule, t{r} the rewritten corpus. The t CTEs are MATERIALIZED —
    each is referenced twice (next round's count AND rewrite), and
    DuckDB inlines twice-referenced CTEs, which would re-evaluate the
    whole chain 2^rounds times (the SSSP-oracle lesson)."""
    toks = _SQL_TOKENS.format(t="text")
    ctes = [
        f"t0 AS MATERIALIZED (SELECT doc_id, {toks} AS toks FROM documents)"
    ]
    for r in range(1, BPE_ROUNDS + 1):
        prev = f"t{r - 1}"
        ctes.append(
            f"c{r} AS (SELECT l, r, COUNT(*) AS n FROM ("
            f"SELECT toks[i] AS l, toks[i + 1] AS r FROM {prev},"
            f" UNNEST(CASE WHEN len(toks) >= 2 THEN range(1, len(toks))"
            f" ELSE [] END) AS u(i)) WHERE l != r GROUP BY 1, 2)"
        )
        ctes.append(
            f"m{r} AS (SELECT l, r, n FROM c{r}"
            f" ORDER BY n DESC, l ASC, r ASC LIMIT 1)"
        )
        ctes.append(
            f"t{r} AS MATERIALIZED (SELECT doc_id,"
            f" list_filter(list_transform(toks, (x, i) ->"
            f" CASE WHEN x = m.l AND i < len(toks) AND toks[i + 1] = m.r"
            f" THEN m.l || '_' || m.r"
            f" WHEN i > 1 AND toks[i - 1] = m.l AND x = m.r THEN NULL"
            f" ELSE x END), y -> y IS NOT NULL) AS toks"
            f" FROM {prev} CROSS JOIN m{r} m)"
        )
    return ctes


def _sql_bpe_merges() -> str:
    outs = [
        f"SELECT {r} AS round, l AS left, r AS right,"
        f" CAST(n AS BIGINT) AS pair_n FROM m{r}"
        for r in range(1, BPE_ROUNDS + 1)
    ]
    return "WITH " + ",\n".join(_sql_bpe_ctes()) + "\n" + " UNION ALL ".join(outs)


def q_bpe_tokenize(spark, sf):
    """The apply half of the tokenizer loop (text.bpe_apply): train the
    3-rule merge table, then tokenize the WHOLE corpus with it — one
    map-only chained array rewrite (zero shuffle; the arrow method is
    the production shape for 10^4-rule vocabularies). Output one row
    per (doc, token position) so the oracle value-hash checks every
    produced token, not just counts."""
    from osm_pt_validator_spark.operators.text import bpe_apply, bpe_merges

    d = _t(spark, sf, "documents")
    merges = bpe_merges(d, rounds=BPE_ROUNDS)
    toked = bpe_apply(d, merges)
    return toked.select(
        "doc_id", F.posexplode("toks").alias("token_idx", "token")
    ).select(
        "doc_id", F.col("token_idx").cast("int").alias("token_idx"), "token"
    )


def _sql_bpe_tokenize() -> str:
    final = f"t{BPE_ROUNDS}"
    return (
        "WITH " + ",\n".join(_sql_bpe_ctes()) + "\n"
        f"SELECT doc_id, CAST(i - 1 AS INT) AS token_idx, toks[i] AS token"
        f" FROM {final}, UNNEST(CASE WHEN len(toks) >= 1 THEN"
        f" range(1, len(toks) + 1) ELSE [] END) AS u(i)"
    )


def q_pack_chunks_bpe(spark, sf):
    """pack_chunks driven by TRUE token counts: bpe_apply tokenizes the
    corpus with the trained merge table and its n_tokens feeds the
    packing layout (closing the gap where packing budgeted on the
    bpe_ish proxy instead of the tokenizer's actual output)."""
    from osm_pt_validator_spark.operators.curation import pack_chunks
    from osm_pt_validator_spark.operators.text import bpe_apply, bpe_merges

    d = _t(spark, sf, "documents").select("doc_id", "text")
    merges = bpe_merges(d, rounds=BPE_ROUNDS)
    toked = bpe_apply(d, merges)
    return pack_chunks(
        toked.select("doc_id", "n_tokens"),
        budget=512,
        num_shards=8,
        n_tokens_col="n_tokens",
    )


def _sql_pack_chunks_bpe() -> str:
    from osm_pt_validator_spark.functions.hashing import md5_i64_sql

    shard = md5_i64_sql("CAST(doc_id AS VARCHAR)", "shard")
    final = f"t{BPE_ROUNDS}"
    return (
        "WITH " + ",\n".join(_sql_bpe_ctes()) + ",\n"
        f"tt AS (SELECT doc_id, {shard} % 8 AS shard,"
        f" CAST(len(toks) AS BIGINT) AS n_tokens FROM {final}),\n"
        "s AS (SELECT doc_id, shard, n_tokens,"
        " CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"
        " AS start_tok FROM tt)\n"
        "SELECT doc_id, shard, n_tokens, start_tok,"
        " CAST(floor(start_tok / 512.0) AS BIGINT) AS chunk_first,"
        " CAST(floor((start_tok + n_tokens - 1) / 512.0) AS BIGINT) AS chunk_last"
        " FROM s"
    )


def q_trending_topk(spark, sf):
    """Batch replay of the streaming trending operator
    (streaming/trending.py): the SAME streaming_token_counts +
    top_k_per_window composition, run in batch (withWatermark is a
    documented no-op on a batch frame) over documents with a
    synthesized event time. The pytest stream≡batch test proves the
    STREAMING execution emits exactly these rows for closed windows;
    this key makes the shared logic driver-oracle-checkable."""
    from osm_pt_validator_spark.streaming.trending import (
        streaming_token_counts,
        top_k_per_window,
    )

    d = _t(spark, sf, "documents")
    timed = d.select(
        F.timestamp_seconds(
            F.lit(1700000000) + (F.col("doc_id") % 180) * 60
        ).alias("ts"),
        "text",
    )
    counts = streaming_token_counts(timed, window_duration="10 minutes")
    return top_k_per_window(counts, k=3).select(
        F.unix_timestamp("window_start").cast("long").alias("window_epoch"),
        "token",
        F.col("n").cast("long").alias("n"),
        F.col("rank").cast("int").alias("rank"),
    )


def _sql_trending_topk() -> str:
    toks = _SQL_TOKENS.format(t="text")
    return f"""
WITH d AS (
  SELECT (1700000000 + (doc_id % 180) * 60) AS ts_epoch, {toks} AS toks
  FROM documents),
tok AS (
  SELECT ts_epoch // 600 * 600 AS window_epoch, t.token
  FROM d, UNNEST(toks) AS t(token)),
c AS (
  SELECT window_epoch, token, COUNT(*) AS n FROM tok GROUP BY 1, 2),
r AS (
  SELECT window_epoch, token, n,
    row_number() OVER (PARTITION BY window_epoch
                       ORDER BY n DESC, token ASC) AS rank
  FROM c)
SELECT CAST(window_epoch AS BIGINT) AS window_epoch, token,
  CAST(n AS BIGINT) AS n, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""


def q_streaming_heatmap_replay(spark, sf):
    """Batch replay of the streaming tile heatmap
    (streaming/heatmap.py:tile_window_counts): the SAME windowed
    tile-count transformation the watermarked stream runs — F.window
    plus the slippy-tile encoders are plain Catalyst expressions, so
    the identical plan executes on the batch events table (with the
    standard deterministic geo derivation). The pytest availableNow
    drain proves the streaming execution emits these rows for closed
    windows; this key makes the shared plan driver-oracle-checkable."""
    from osm_pt_validator_spark.streaming.heatmap import tile_window_counts

    e = _t(spark, sf, "events")
    pts = e.select(
        "ts",
        ((F.col("event_id") % 3600) / 10.0 - 180.0).alias("lon"),
        ((F.col("user_id") % 1700) / 10.0 - 85.0).alias("lat"),
    )
    out = tile_window_counts(pts, z=7, window_duration="6 hours")
    return out.select(
        F.unix_timestamp("window_start").cast("long").alias("window_epoch"),
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        F.col("n").cast("long").alias("n"),
    )


def _sql_streaming_heatmap_replay() -> str:
    lat = "(user_id % 1700) / 10.0 - 85.0"
    lon = "(event_id % 3600) / 10.0 - 180.0"
    return f"""
SELECT CAST({_sql_floor_div("epoch_us(ts)", 21600000000)} * 21600 AS BIGINT)
    AS window_epoch,
  {_sql_tile_x(lon, 7)} AS tile_x,
  {_sql_tile_y(lat, 7)} AS tile_y,
  CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2, 3
"""


def q_streaming_sessions_replay(spark, sf):
    """Batch replay of the streaming sessionizer
    (streaming/sessions.py:session_stats_frame): the SAME
    F.session_window rollup the watermarked stream runs, on the batch
    events table. Pins the engine's inclusive merge rule: a session
    breaks only when the gap to the previous event is STRICTLY
    GREATER than `gap` (an event at exactly prev+gap merges —
    asserted by the boundary test in test_checkpoint_streaming.py),
    at microsecond precision (the oracle replays that rule with
    epoch_us and a windowed break-flag cumulative sum)."""
    from osm_pt_validator_spark.streaming.sessions import (
        session_stats_frame,
    )

    e = _t(spark, sf, "events")
    out = session_stats_frame(
        e, key_col="user_id", ts_col="ts", gap="30 minutes"
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("start_epoch").cast("long").alias("start_epoch"),
        F.col("end_epoch").cast("long").alias("end_epoch"),
    )


def _sql_streaming_sessions_replay() -> str:
    # breaks are computed over DISTINCT (user_id, us): identical
    # timestamps always share a session, and pre-grouping them makes
    # the cumulative break-sum's ORDER BY us tie-free (row-level lag
    # would order tied rows arbitrarily and could split a boundary
    # pair nondeterministically). The epoch seconds TRUNCATE toward
    # zero on purpose, unlike the window starts: Spark's unix_timestamp
    # of a timestamp is micros / 10^6 in Java long division, so a
    # pre-1970 sub-second event maps to the second nearer the epoch.
    return """
WITH e AS (SELECT user_id, epoch_us(ts) AS us, COUNT(*) AS cnt
           FROM events GROUP BY 1, 2),
m AS (
  SELECT user_id, us, cnt,
    CASE WHEN lag(us) OVER w IS NULL
           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
s AS (
  SELECT user_id, us, cnt,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT CAST(user_id AS BIGINT) AS user_id,
  CAST(SUM(cnt) AS BIGINT) AS n_events,
  CAST(MIN(us) // 1000000 AS BIGINT) AS start_epoch,
  CAST(MAX(us) // 1000000 AS BIGINT) AS end_epoch
FROM s GROUP BY user_id, sid
"""


def q_interval_join_replay(spark, sf):
    """Batch replay of the stream-stream interval join
    (streaming/enrich.py:interval_join_streams): the SAME join
    function — equi-key + mandatory time-range bound, an ordinary
    Catalyst join on batch frames since the watermark attaches at the
    source (stream_from_dir). Enriches each click event with the view
    events the same user produced in the preceding 2 hours; also
    exercises the r_<name> collision renaming (both sides carry
    event_id and ts)."""
    from osm_pt_validator_spark.streaming.enrich import (
        interval_join_streams,
    )

    e = _t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    j = interval_join_streams(
        clicks,
        views,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        lag="2 hours",
    )
    return j.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("click_event_id"),
        F.col("r_event_id").cast("long").alias("view_event_id"),
        F.unix_timestamp("ts").cast("long").alias("click_epoch"),
        F.unix_timestamp("r_ts").cast("long").alias("view_epoch"),
    )


def _sql_interval_join_replay() -> str:
    return """
SELECT CAST(l.user_id AS BIGINT) AS user_id,
  CAST(l.event_id AS BIGINT) AS click_event_id,
  CAST(r.event_id AS BIGINT) AS view_event_id,
  CAST(epoch_us(l.ts) // 1000000 AS BIGINT) AS click_epoch,
  CAST(epoch_us(r.ts) // 1000000 AS BIGINT) AS view_epoch
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'view'
 AND r.ts >= l.ts - INTERVAL 2 HOUR AND r.ts <= l.ts
"""


def q_pmi_collocations(spark, sf):
    """PMI collocation mining (operators/text.py:pmi_collocations):
    ONE corpus scan emits (token, successor-or-NULL), so the pair-count
    table doubles as the unigram multiset (sum-rollup) — unigrams, the
    token total, and the PMI join all run vocabulary-bounded."""
    from osm_pt_validator_spark.operators.text import pmi_collocations

    return pmi_collocations(_t(spark, sf, "documents"), min_pair_count=5)


def _sql_pmi_collocations() -> str:
    toks = _SQL_TOKENS.format(t="text")
    return f"""
WITH d AS (SELECT {toks} AS toks FROM documents),
pr AS (
  SELECT toks[i] AS w1, CASE WHEN i < len(toks) THEN toks[i + 1] END AS w2
  FROM d, UNNEST(CASE WHEN len(toks) >= 1 THEN range(1, len(toks) + 1)
                 ELSE [] END) AS t(i)),
p AS (SELECT w1, w2, COUNT(*) AS pair_n FROM pr GROUP BY 1, 2),
uni AS (SELECT w1 AS w, CAST(SUM(pair_n) AS BIGINT) AS c FROM p GROUP BY 1),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni)
SELECT p.w1, p.w2, p.pair_n,
  CAST(round(round(ln((CAST(p.pair_n AS DOUBLE) * n.n_tokens)
    / (CAST(u1.c AS DOUBLE) * u2.c)), 6) * 1e6) AS BIGINT) AS pmi_ppm
FROM p
JOIN uni u1 ON p.w1 = u1.w
JOIN uni u2 ON p.w2 = u2.w
CROSS JOIN n
WHERE p.w2 IS NOT NULL AND p.pair_n >= 5
"""


def q_tfidf_top_terms(spark, sf):
    """Top-5 TF-IDF terms per document (smoothed idf, 6-dp tie
    stability)."""
    from osm_pt_validator_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf, "documents"), k=5)


def _sql_tfidf() -> str:
    toks = _SQL_TOKENS.format(t="text")
    return f"""
WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
tf AS (
  SELECT doc_id, t.term, COUNT(*) AS tf
  FROM d, UNNEST(toks) AS t(term) GROUP BY 1, 2),
df_t AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
    round(tf.tf * (ln((n.n_docs + 1) / CAST(df_t.df + 1 AS DOUBLE)) + 1.0), 6) AS score
  FROM tf JOIN df_t USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, score,
    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, term, CAST(rank AS INT) AS rank,
  CAST(round(score * 1e6) AS BIGINT) AS score_ppm
FROM ranked WHERE rank <= 5
"""


def q_dedup_kept(spark, sf):
    """Exact dedup survivors: documents minus exact duplicates (keep
    the min doc_id per normalized-text fingerprint)."""
    from osm_pt_validator_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf, "documents")).select("doc_id")


SQL_DEDUP_KEPT = """
SELECT doc_id FROM (
  SELECT doc_id,
    row_number() OVER (
      PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
  FROM documents)
WHERE rn = 1
"""


def q_corpus_curate(spark, sf):
    """End-to-end curation pass (the training-data pipeline composed):
    exact-dedup survivors, language-ID == 'en', quality score >= 50.
    One scan; every predicate is column algebra over existing ops."""
    from osm_pt_validator_spark.operators.dedup import exact_dedup
    from osm_pt_validator_spark.operators.text import lang_id, quality_score

    d = exact_dedup(_t(spark, sf, "documents"))
    t = F.col("text")
    return d.filter((lang_id(t) == "en") & (quality_score(t) >= 50)).select("doc_id")


def _sql_corpus_curate() -> str:
    from osm_pt_validator_spark.operators.text import LANG_STOPWORDS

    toks = _SQL_TOKENS.format(t="text")
    c_en = _sql_stop_count(LANG_STOPWORDS["en"])
    c_de = _sql_stop_count(LANG_STOPWORDS["de"])
    c_fr = _sql_stop_count(LANG_STOPWORDS["fr"])
    c_es = _sql_stop_count(LANG_STOPWORDS["es"])
    return f"""
WITH kept AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, row_number() OVER (
      PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
d AS (SELECT doc_id, text, {toks} AS toks FROM kept),
c AS (SELECT doc_id, text, toks,
  {c_en} AS c_en, {c_de} AS c_de, {c_fr} AS c_fr, {c_es} AS c_es FROM d),
feat AS (
  SELECT doc_id, c_en, c_de, c_fr, c_es,
    CAST(len(text) AS DOUBLE) AS n,
    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
    CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digit,
    CAST(len(toks) AS DOUBLE) AS toks_n
  FROM c),
r AS (
  SELECT doc_id, c_en, c_de, c_fr, c_es,
    round(alpha / (CASE WHEN n > 0 THEN n ELSE 1.0 END), 6) AS alpha_ratio,
    round(digit / (CASE WHEN n > 0 THEN n ELSE 1.0 END), 6) AS digit_ratio,
    round(CAST(c_en AS DOUBLE) / (CASE WHEN toks_n > 0 THEN toks_n ELSE 1.0 END), 6) AS stopword_ratio,
    round(alpha / (CASE WHEN toks_n > 0 THEN toks_n ELSE 1.0 END), 6) AS mean_token_len
  FROM feat),
q AS (
  SELECT doc_id, c_en, c_de, c_fr, c_es,
    CAST(round(40.0 * alpha_ratio
      + 30.0 * LEAST(stopword_ratio * 2, 1.0)
      + 15.0 * (CASE WHEN mean_token_len BETWEEN 3.0 AND 9.0 THEN 1.0 ELSE 0.0 END)
      + 15.0 * (1.0 - LEAST(digit_ratio * 5, 1.0))) AS INT) AS quality
  FROM r)
SELECT doc_id FROM q
WHERE quality >= 50
  AND NOT (c_en = 0 AND c_de = 0 AND c_fr = 0 AND c_es = 0)
  AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es
"""


def q_minhash_sigs(spark, sf):
    from osm_pt_validator_spark.operators.dedup import (
        minhash_signature_from_hashes,
        shingle_hashes,
    )

    d = _t(spark, sf, "documents").select(
        "doc_id", shingle_hashes(F.col("text"), 3).alias("sh")
    )
    # repartition inserts an exchange so the shingle-hash projection
    # cannot be collapsed back into the 8 min-hash expressions
    d = d.repartition(4, "doc_id")
    return d.select(
        "doc_id",
        F.posexplode(minhash_signature_from_hashes(F.col("sh"), num_hashes=8)).alias(
            "hash_idx", "min_hash"
        ),
    ).select("doc_id", F.col("hash_idx").cast("int").alias("hash_idx"), "min_hash")


def _sql_minhash() -> str:
    from osm_pt_validator_spark.operators.dedup import MINHASH_P, minhash_params

    toks = _SQL_TOKENS.format(t="text")
    params = _values([(m, *minhash_params(m)) for m in range(8)])
    return f"""
WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
sh AS (SELECT doc_id,
  list_transform(
    list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END),
    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {MINHASH_P}) AS hs
  FROM d),
par(m, a, b) AS (VALUES {params})
SELECT s.doc_id, CAST(p.m AS INT) AS hash_idx,
  list_min(list_transform(s.hs, x -> (x * p.a + p.b) % {MINHASH_P})) AS min_hash
FROM sh s CROSS JOIN par p
"""


def q_near_dup_pairs(spark, sf, min_ppm: int = 500000):
    from osm_pt_validator_spark.operators.dedup import shingles

    # precompute shingle arrays once per doc (re-tokenising inside the
    # pair join would re-evaluate the split per candidate pair)
    d = _t(spark, sf, "documents").select(
        "doc_id", shingles(F.col("text"), 3).alias("sh")
    )
    # band the range join into an equi-join: doc_a probes buckets
    # [floor(a/20), floor(a/20)+1]; a nested-loop join would evaluate
    # the jaccard for every one of the n^2/2 pairs.
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sha"),
        F.explode(
            F.array(F.floor(F.col("doc_id") / 20), F.floor(F.col("doc_id") / 20) + 1)
        ).alias("bucket"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("shb"),
        F.floor(F.col("doc_id") / 20).alias("bucket"),
    )
    pairs = a.join(b, "bucket").filter(
        (F.col("doc_b") > F.col("doc_a")) & (F.col("doc_b") - F.col("doc_a") <= 20)
    )
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb"))).cast("double")
    union = F.size(F.array_union(F.col("sha"), F.col("shb"))).cast("double")
    jac = F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6)
    return (
        pairs.select(
            "doc_a", "doc_b", F.round(jac * 1e6).cast("long").alias("jaccard_ppm")
        )
        .filter(F.col("jaccard_ppm") >= min_ppm)
    )


def _sql_near_dup(min_ppm: int = 500000) -> str:
    toks = _SQL_TOKENS.format(t="text")
    # relational intersection (explode -> equi-join -> count) instead of
    # per-pair list_intersect over ~500-element lists: identical values
    # (shingle sets are distinct, union = |A| + |B| - |A∩B|; zero-
    # intersection pairs have jaccard 0 and can never pass the >= ppm
    # floor), ~6x faster on the 10k banded pairs at sf0.01
    return f"""
WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
sh AS MATERIALIZED (SELECT doc_id,
  list_distinct(CASE WHEN len(toks) >= 3
    THEN list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [] END) AS sh
  FROM d),
sz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM sh),
shx AS MATERIALIZED (SELECT doc_id, unnest(sh) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM shx a JOIN shx b
    ON a.s = b.s AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 20
  GROUP BY 1, 2),
pairs AS (
  SELECT i.doc_a, i.doc_b,
    CAST(round(round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) * 1e6)
         AS BIGINT) AS jaccard_ppm
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.doc_a
  JOIN sz sb ON sb.doc_id = i.doc_b
  WHERE sa.n + sb.n - i.i > 0)
SELECT doc_a, doc_b, jaccard_ppm FROM pairs WHERE jaccard_ppm >= {min_ppm}
"""


def q_split_leakage(spark, sf):
    """Cross-split contamination audit (curation.split_leakage): the
    n-gram-Jaccard near-dup pairs that straddle the grouped
    train/val/test boundary — the leakage a site-level split cannot
    prevent (cross-site mirrors/syndication) and the audit a training
    pipeline runs before the corpus ships."""
    from osm_pt_validator_spark.operators.curation import split_leakage

    docs = _t(spark, sf, "documents").select("doc_id", "source")
    # audit at a LOOSER floor (2% Jaccard) than dedup's 50%: leakage
    # review wants candidate recall, not dedup precision
    pairs = q_near_dup_pairs(spark, sf, min_ppm=20000).select("doc_a", "doc_b")
    return split_leakage(docs, pairs)


def _sql_split_leakage() -> str:
    from osm_pt_validator_spark.functions.hashing import md5_i64_sql

    bucket = f"({md5_i64_sql('CAST(source AS VARCHAR)', 'split')} % 1000000)"
    return f"""
WITH nd AS (SELECT doc_a, doc_b FROM ({_sql_near_dup(min_ppm=20000)})),
sp AS (
  SELECT doc_id,
    CASE WHEN {bucket} < 900000 THEN 'train'
         WHEN {bucket} < 950000 THEN 'val'
         ELSE 'test' END AS split
  FROM documents)
SELECT nd.doc_a, nd.doc_b, sa.split AS split_a, sb.split AS split_b
FROM nd
JOIN sp sa ON sa.doc_id = nd.doc_a
JOIN sp sb ON sb.doc_id = nd.doc_b
WHERE sa.split <> sb.split
"""


def q_near_dup_clusters(spark, sf):
    """Cluster stage of the dedup pipeline over the REAL LSH path:
    MinHash-LSH candidates -> exact-Jaccard verify -> connected
    components (operators/clusters.py). The oracle replays the whole
    chain in DuckDB — md5 shingle hashes, the affine signature family,
    band md5s, bucket pairs, Jaccard verify — then computes the same
    min-label fixpoint with a recursive CTE."""
    from osm_pt_validator_spark.operators.clusters import near_dup_clusters

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return near_dup_clusters(d, threshold=0.5)


def q_dedup_clusters_kept(spark, sf):
    """Post-dedup corpus ids: one canonical (min-id) member per
    near-dup cluster plus every unclustered document."""
    from osm_pt_validator_spark.operators.clusters import (
        keep_canonical,
        near_dup_clusters,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return keep_canonical(d, near_dup_clusters(d, threshold=0.5)).select("doc_id")


def _sql_lsh_clusters_body() -> str:
    """Shared CTE chain: documents -> shingles -> minhash signatures ->
    LSH bands -> candidate pairs -> verified edges -> connected
    components via recursive min-label CTE (the same fixpoint the
    iterative Spark loop converges to)."""
    from osm_pt_validator_spark.operators.dedup import MINHASH_P, minhash_params

    toks = _SQL_TOKENS.format(t="text")
    params = _values([(m, *minhash_params(m)) for m in range(16)])
    return f"""
d AS (SELECT doc_id, {toks} AS toks FROM documents),
sh AS MATERIALIZED (SELECT doc_id,
  list_distinct(CASE WHEN len(toks) >= 3
    THEN list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [] END) AS sh
  FROM d),
hs AS (SELECT doc_id,
  list_transform(sh, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {MINHASH_P}) AS hs
  FROM sh WHERE len(sh) > 0),
par(m, a, b) AS (VALUES {params}),
sigrow AS (SELECT h.doc_id, p.m,
    list_min(list_transform(h.hs, x -> (x * p.a + p.b) % {MINHASH_P})) AS mh
  FROM hs h CROSS JOIN par p),
sig AS (SELECT doc_id, list(mh ORDER BY m) AS sig FROM sigrow GROUP BY doc_id),
banded AS MATERIALIZED (SELECT doc_id, b.band_idx,
    md5(array_to_string(sig[b.band_idx * 4 + 1 : b.band_idx * 4 + 4], ',')) AS band_hash
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band_idx) b),
okb AS (SELECT band_idx, band_hash FROM banded
        GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 256),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND b.doc_id > a.doc_id
  JOIN okb o ON o.band_idx = a.band_idx AND o.band_hash = a.band_hash),
verified AS (SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b
  WHERE round(CASE WHEN len(list_distinct(sa.sh || sb.sh)) > 0
      THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(list_distinct(sa.sh || sb.sh))
      ELSE 0.0 END, 6) >= 0.5),
edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
          UNION SELECT doc_b, doc_a FROM verified),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node)"""


def _sql_near_dup_clusters() -> str:
    return f"""
WITH RECURSIVE {_sql_lsh_clusters_body()}
SELECT doc_id, cluster_id FROM comp
"""


def _sql_dedup_clusters_kept() -> str:
    return f"""
WITH RECURSIVE {_sql_lsh_clusters_body()}
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
"""


def q_embedding_topk(spark, sf):
    from osm_pt_validator_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(e, queries, k=5).select(
        "query_id",
        "vec_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("sim") * 1e6).cast("long").alias("sim_ppm"),
    )


SQL_EMBEDDING_TOPK = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
sims AS (
  SELECT q.query_id, e.vec_id,
    round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)) > 0
      THEN list_dot_product(e.v, q.qv) /
           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
      ELSE 0.0 END, 6) AS sim
  FROM e CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
  CAST(round(sim * 1e6) AS BIGINT) AS sim_ppm
FROM ranked WHERE rank <= 5
"""


def q_kmeans_centroids(spark, sf):
    """IVF index training (operators/kmeans.py): 2 Lloyd rounds, k=4,
    in fixed-point int64 — every add/multiply is integer-exact, so the
    oracle replays both iterations to bit-identical centroids (floats
    would diverge on summation order alone). Output: exploded
    (cid, n, pos, val)."""
    from osm_pt_validator_spark.operators.kmeans import kmeans_fixed_point

    e = _t(spark, sf, "embeddings")
    cents, _assign = kmeans_fixed_point(e, k=4, iters=2)
    return cents.select(
        F.col("cid").cast("int").alias("cid"),
        F.col("n").cast("long").alias("n"),
        F.posexplode("cv").alias("pos", "val"),
    ).select("cid", "n", F.col("pos").cast("int").alias("pos"), "val")


def _sql_kmeans_parts(dim: int = 64, k: int = 4, iters: int = 2) -> list:
    """The Lloyd-round CTE chain shared by the kmeans_centroids oracle
    and every oracle that composes on its assignments (semdedup)."""
    dist = (
        "list_sum(list_transform(generate_series(1, {d}), "
        "i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))"
    ).format(d=dim)
    parts = [
        "q AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv "
        "FROM embeddings)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, "
        f"qv AS cv FROM q ORDER BY vec_id LIMIT {k})",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"a{t} AS (SELECT vec_id, cid, qv FROM ("
            f"SELECT q.vec_id, c.cid, q.qv, "
            f"row_number() OVER (PARTITION BY q.vec_id "
            f"ORDER BY {dist}, c.cid) AS rn "
            f"FROM q CROSS JOIN c{t - 1} c) WHERE rn = 1)"
        )
        parts.append(
            f"dim{t} AS (SELECT cid, i, qv[i] AS val FROM a{t} "
            f"CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i))"
        )
        parts.append(
            f"c{t} AS (SELECT cid, MIN(n) AS n, list(cval ORDER BY i) AS cv FROM ("
            f"SELECT cid, i, CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval, "
            f"COUNT(*) AS n FROM dim{t} GROUP BY cid, i) GROUP BY cid)"
        )
    return parts


def _sql_kmeans(dim: int = 64, k: int = 4, iters: int = 2) -> str:
    parts = _sql_kmeans_parts(dim, k, iters)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT CAST(cid AS INT) AS cid, CAST(n AS BIGINT) AS n, "
        f"CAST(i - 1 AS INT) AS pos, cv[i] AS val "
        f"FROM c{iters} CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i)"
    )


def q_semantic_dedup(spark, sf):
    """SemDeDup (similarity.semantic_dedup): integer-exact k-means
    partitions the embedding space, then within-cluster cosine >= 0.35
    drops every vector with a lower-id near-duplicate — the semantic
    dedup pass lexical minhash/simhash cannot perform. The oracle
    replays the full chain: both Lloyd rounds bit-exactly (shared
    _sql_kmeans_parts CTEs), then the same deterministic left-fold
    cosine the other similarity oracles use."""
    from osm_pt_validator_spark.operators.similarity import semantic_dedup

    e = _t(spark, sf, "embeddings")
    return semantic_dedup(e, k=4, iters=2, threshold=0.35)


def _sql_semantic_dedup(dim: int = 64, k: int = 4, iters: int = 2) -> str:
    parts = _sql_kmeans_parts(dim, k, iters)
    cos = (
        "round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * "
        "sqrt(list_dot_product(b.v, b.v)) > 0 "
        "THEN list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) "
        "ELSE 0.0 END, 6)"
    )
    return (
        "WITH " + ",\n".join(parts) + f""",
asg AS (SELECT vec_id, cid FROM a{iters}),
ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       FROM embeddings),
m AS (SELECT asg.vec_id, asg.cid, ev.v FROM asg JOIN ev USING (vec_id)),
losers AS (
  SELECT DISTINCT b.vec_id
  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {cos} >= 0.35)
SELECT m.vec_id, CAST(m.cid AS INT) AS cid,
  CAST(CASE WHEN losers.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM m LEFT JOIN losers ON m.vec_id = losers.vec_id
"""
    )


def q_pq_ann_topk(spark, sf):
    """Product-quantization ANN (operators/pq.py): per-subspace
    fixed-point Lloyd codebooks -> zero-shuffle encode -> ADC top-k
    via broadcast lookup tables. Integer-exact end to end, so the
    oracle replays train+encode+search to identical rows."""
    from osm_pt_validator_spark.operators.pq import pq_adc_topk, pq_train

    e = _t(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cb = pq_train(e, m=4, k=8, iters=1)
    return pq_adc_topk(e, queries, cb, k=5, m=4)


def _sql_pq(dim: int = 64, m: int = 4, k: int = 8, topk: int = 5) -> str:
    """Replays pq_train (1 Lloyd round per subspace), pq_encode
    (argmin with ties on cid) and pq_adc_topk (LUT sum) in DuckDB —
    all integer arithmetic, bit-identical to the Spark plan."""
    ds = dim // m

    def dist(a, b):
        return (
            f"list_sum(list_transform(generate_series(1, {ds}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    return f"""
WITH q AS (SELECT vec_id, list_transform(embedding,
    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv FROM embeddings),
sub AS (SELECT vec_id, j AS m, list_slice(qv, j * {ds} + 1, (j + 1) * {ds}) AS sv
    FROM q CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS j)),
c0 AS (SELECT m, rn - 1 AS cid, sv AS cv FROM (
    SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn FROM sub)
    WHERE rn <= {k}),
a1 AS (SELECT vec_id, m, cid, sv FROM (
    SELECT s.vec_id, s.m, c.cid, s.sv,
      row_number() OVER (PARTITION BY s.vec_id, s.m
        ORDER BY {dist('s.sv', 'c.cv')}, c.cid) AS rn
    FROM sub s JOIN c0 c ON s.m = c.m) WHERE rn = 1),
dim1 AS (SELECT m, cid, i, sv[i] AS val FROM a1
    CROSS JOIN (SELECT unnest(generate_series(1, {ds})) AS i)),
c1 AS (SELECT m, cid, list(cval ORDER BY i) AS cv FROM (
    SELECT m, cid, i,
      CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
    FROM dim1 GROUP BY m, cid, i) GROUP BY m, cid),
enc AS (SELECT vec_id, m, cid FROM (
    SELECT s.vec_id, s.m, c.cid,
      row_number() OVER (PARTITION BY s.vec_id, s.m
        ORDER BY {dist('s.sv', 'c.cv')}, c.cid) AS rn
    FROM sub s JOIN c1 c ON s.m = c.m) WHERE rn = 1),
lut AS (SELECT s.vec_id AS query_id, s.m, c.cid, {dist('s.sv', 'c.cv')} AS d
    FROM sub s JOIN c1 c ON s.m = c.m WHERE s.vec_id < 3),
adc AS (SELECT l.query_id, e.vec_id, SUM(l.d) AS adc_dist
    FROM enc e JOIN lut l ON e.m = l.m AND e.cid = l.cid
    GROUP BY 1, 2)
SELECT query_id, vec_id, CAST(adc_dist AS BIGINT) AS adc_dist,
       CAST(rnk AS INT) AS rank
FROM (SELECT query_id, vec_id, adc_dist,
        row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
      FROM adc)
WHERE rnk <= {topk}
"""


def q_cosine_pairs(spark, sf):
    """Embedding-cosine near-dup, brute-force baseline (all pairs above
    threshold) — exact counterpart of the LSH-bucketed scale path.
    BLAS-batched (operators/similarity.cosine_all_pairs): one matmul per
    Arrow batch vs a broadcast normalized corpus, not N^2 interpreted
    zip_with/aggregate dots."""
    from osm_pt_validator_spark.operators.similarity import cosine_all_pairs

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    return cosine_all_pairs(e, threshold=0.35).select(
        "vec_a", "vec_b", F.round(F.col("sim") * 1e6).cast("long").alias("sim_ppm")
    )


def q_cosine_bucketed(spark, sf):
    """Embedding-cosine near-dup via the SCALE path: hyperplane-bucket
    self-join + exact verify (operators/similarity.py
    cosine_near_dup_pairs) — the bucketed counterpart of the brute
    `cosine_pairs` baseline, value-checked by replaying the sin-literal
    hyperplane buckets in SQL."""
    from osm_pt_validator_spark.operators.similarity import cosine_near_dup_pairs

    e = _t(spark, sf, "embeddings")
    return cosine_near_dup_pairs(e, threshold=0.35, dim=64, num_planes=6).select(
        "vec_a",
        "vec_b",
        F.round(F.col("sim") * 1e6).cast("long").alias("sim_ppm"),
    )


def _sql_hyperplane_terms(dim: int, num_planes: int) -> str:
    """The hyperplane-LSH bucket expression replay (sign-bit fold over
    the deterministic sin() pseudo-planes) — single source of truth for
    every oracle that must reproduce hyperplane_bucket's buckets
    (cosine_bucketed, diverse_sample, lsh_ann)."""
    from osm_pt_validator_spark.operators.similarity import hyperplane_coeffs

    return " + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(c) for c in plane)
        + f"]) > 0 THEN {1 << m} ELSE 0 END)"
        for m, plane in enumerate(hyperplane_coeffs(dim, num_planes))
    )


def _sql_cosine_bucketed() -> str:
    """Replays hyperplane_bucket exactly (same driver-computed sin()
    literals, same left-to-right dot fold), then the bucket equi-join +
    exact cosine verify — candidate semantics identical to the Spark
    plan, so survivors match bit-for-bit."""
    terms = _sql_hyperplane_terms(64, 6)
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
b AS (SELECT vec_id, v, {terms} AS bucket FROM e),
sims AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
      THEN list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      ELSE 0.0 END, 6) AS sim
  FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, CAST(round(sim * 1e6) AS BIGINT) AS sim_ppm
FROM sims WHERE sim >= 0.35
"""


def q_diverse_sample(spark, sf):
    """Embedding-space-balanced subsample (operators/curation.py:
    diverse_sample): 2^6 hyperplane-LSH buckets, 3 min-md5
    representatives each — WindowGroupLimit prunes per map task before
    the few-key shuffle."""
    from osm_pt_validator_spark.operators.curation import diverse_sample

    e = _t(spark, sf, "embeddings")
    return diverse_sample(e, dim=64, per_bucket=3, num_planes=6)


def _sql_diverse_sample() -> str:
    terms = _sql_hyperplane_terms(64, 6)
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
b AS (SELECT vec_id, {terms} AS bucket FROM e),
r AS (
  SELECT vec_id, bucket,
    CAST(row_number() OVER (PARTITION BY bucket
         ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS INT) AS pick_rank
  FROM b)
SELECT vec_id, bucket, pick_rank FROM r WHERE pick_rank <= 3
"""


SQL_COSINE_PAIRS = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
sims AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0
      THEN list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      ELSE 0.0 END, 6) AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT vec_a, vec_b, CAST(round(sim * 1e6) AS BIGINT) AS sim_ppm
FROM sims WHERE sim >= 0.35
"""


# G1+G2 replicated in SQL: same <p>…</p> extraction (non-DOTALL regex,
# paragraphs joined by \n) and the same mention grammar, so the oracle
# checks the full extract pipeline value-for-value.
SQL_MENTIONS = r"""
WITH pages AS (
  SELECT printf('https://pages.example.org/doc/%d', doc_id) AS url,
         '<html><body><p>' || text || '</p><p>' ||
         printf('STOP:%d@55.9500,-3.1900 ROUTE:%d', doc_id % 50 + 100, doc_id) ||
         '</p></body></html>' AS html
  FROM documents),
txt AS (
  SELECT url,
    list_aggregate(regexp_extract_all(html, '<p>(.*?)</p>', 1), 'string_agg', chr(10)) AS text
  FROM pages),
m AS (
  SELECT url,
    regexp_extract_all(text, '(STOP|ROUTE):(\d+)(?:@(-?\d+\.\d+),(-?\d+\.\d+))?', 1) AS kinds,
    regexp_extract_all(text, '(STOP|ROUTE):(\d+)(?:@(-?\d+\.\d+),(-?\d+\.\d+))?', 2) AS ids
  FROM txt)
SELECT url, CAST(i - 1 AS INT) AS mention_idx, lower(kinds[i]) AS kind,
       CAST(ids[i] AS BIGINT) AS entity_id
FROM m, UNNEST(range(1, len(kinds) + 1)) AS t(i)
"""


def q_pipeline_heatmap(spark, sf):
    """Flagship end-to-end chain, fully oracle-checked: synthesize
    pages from documents -> G1 html->text (Arrow UDF) -> G2 mention
    extraction -> G3 cell encode -> G4 cell equi-join vs a stops dim
    -> G8 web-mercator tile heatmap. The coordinates round-trip through
    the formatted page text (%.4f) so the oracle replays the exact
    string-parse path, not just the arithmetic."""
    from osm_pt_validator_spark.functions.geo import cell
    from osm_pt_validator_spark.sources.pages import extract_mentions
    from osm_pt_validator_spark.spatial.tiles import tile_x, tile_y

    docs = _t(spark, sf, "documents")
    pages = docs.select(
        F.format_string("https://pages.example.org/doc/%d", "doc_id").alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.format_string(
                "<html><body><p>%s</p><p>STOP:%d@%.4f,%.4f</p></body></html>",
                F.col("text"),
                F.col("doc_id") % 50 + 100,
                55.9 + (F.col("doc_id") % 50) * 0.01,
                -3.3 + (F.col("doc_id") % 40) * 0.01,
            ),
            "utf-8",
        ).alias("html"),
        F.col("text"), F.col("lang"),
    )
    m = extract_mentions(pages, from_html=True).filter(F.col("kind") == "stop")
    m = m.withColumn("cell", cell(F.col("lat"), F.col("lon"), 14))
    s = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("stop_id"),
        cell(
            55.9 + (F.col("s_suppkey") % 50) * 0.01,
            -3.3 + (F.col("s_suppkey") % 40) * 0.01,
            14,
        ).alias("cell"),
    )
    joined = m.join(s, "cell")
    return (
        joined.groupBy(
            tile_x(F.col("lon"), 12).alias("tile_x"),
            tile_y(F.col("lat"), 12).alias("tile_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("stop_id").alias("n_stops"),
        )
        .select("tile_x", "tile_y", "n", "n_stops")
    )


def _sql_pipeline_heatmap() -> str:
    mention_re = r"(STOP|ROUTE):(\d+)(?:@(-?\d+\.\d+),(-?\d+\.\d+))?"
    cell_m = _sql_cell("lat", "lon", 14)
    cell_s = _sql_cell("55.9 + (s_suppkey % 50) * 0.01", "-3.3 + (s_suppkey % 40) * 0.01", 14)
    return f"""
WITH pages AS (
  SELECT printf('https://pages.example.org/doc/%d', doc_id) AS url,
         '<html><body><p>' || text || '</p><p>' ||
         printf('STOP:%d@%.4f,%.4f', doc_id % 50 + 100,
                55.9 + (doc_id % 50) * 0.01, -3.3 + (doc_id % 40) * 0.01) ||
         '</p></body></html>' AS html
  FROM documents),
txt AS (
  SELECT url,
    list_aggregate(regexp_extract_all(html, '<p>(.*?)</p>', 1), 'string_agg', chr(10)) AS text
  FROM pages),
raw AS (
  SELECT url,
    regexp_extract_all(text, '{mention_re}', 1) AS kinds,
    regexp_extract_all(text, '{mention_re}', 3) AS lats,
    regexp_extract_all(text, '{mention_re}', 4) AS lons
  FROM txt),
m AS (
  SELECT url, CAST(lats[i] AS DOUBLE) AS lat, CAST(lons[i] AS DOUBLE) AS lon
  FROM raw, UNNEST(range(1, len(kinds) + 1)) AS t(i)
  WHERE lower(kinds[i]) = 'stop'),
mc AS (SELECT url, lat, lon, {cell_m} AS cell FROM m),
s AS (SELECT s_suppkey AS stop_id, {cell_s} AS cell FROM supplier)
SELECT {_sql_tile_x("lon", 12)} AS tile_x, {_sql_tile_y("lat", 12)} AS tile_y,
  COUNT(*) AS n, COUNT(DISTINCT stop_id) AS n_stops
FROM mc JOIN s USING (cell)
GROUP BY 1, 2
"""


# --- rows-only (non-SQL-expressible) ----------------------------------------


def q_way_order_verdicts(spark, sf):
    """Frontier automaton over ALL fixture way-order cases — the exact
    relations way_order_test.go builds (way members only, no stops —
    setupWays, way_order_test.go:160-166). The oracle is a golden
    VALUES table generated from the SAME ported Go expectations the
    fixtures carry — an independent source (the reference's test
    expectations), not a replay of this engine."""
    from osm_pt_validator_spark.config import ValidationConfig
    from osm_pt_validator_spark.fixtures import (
        WAY_ORDER_CASES,
        nodes_df,
        relation_row,
        relations_df,
        route_tags,
        way_members,
        ways_df,
    )
    from osm_pt_validator_spark.operators.pipeline import validate_route_relations

    rows = [
        relation_row(9000 + i, way_members(*way_ids), route_tags())
        for i, (_n, way_ids, ignore, _e) in enumerate(WAY_ORDER_CASES)
        if not ignore
    ]
    verdicts, _ = validate_route_relations(
        relations_df(spark, rows), nodes_df(spark), ways_df(spark), ValidationConfig()
    )
    return verdicts.filter(F.col("stage_no").isin(4, 5)).select(
        "relation_id", "stage_no", "seq", "url", "message"
    )


def _sql_way_order_verdicts() -> str:
    """Golden VALUES oracle built from the fixture-carried Go
    expectations (way_order_test.go:34-137): stage 4 = ordering errors,
    stage 5 = oneway errors; each failing case emits exactly one
    verdict, so seq = 0."""
    from osm_pt_validator_spark.fixtures import WAY_ORDER_CASES

    ord_msg = "ways are incorrectly ordered"
    rows = []
    for i, (_name, _way_ids, ignore, expected) in enumerate(WAY_ORDER_CASES):
        if ignore:
            continue
        for url, msg in expected:
            stage = 4 if msg == ord_msg else 5
            rows.append(
                f"(CAST({9000 + i} AS BIGINT), {stage}, CAST(0 AS BIGINT), "
                f"'{url}', '{msg}')"
            )
    values = ",\n  ".join(rows)
    return (
        "SELECT * FROM (VALUES\n  "
        + values
        + "\n) AS t(relation_id, stage_no, seq, url, message)"
    )


def q_validate_pipeline(spark, sf):
    """Full dispatch pipeline (routes + masters) over a mixed fixture."""
    from osm_pt_validator_spark.config import ValidationConfig
    from osm_pt_validator_spark.fixtures import (
        member,
        nodes_df,
        relation_row,
        relations_df,
        route_tags,
        stop_members,
        way_members,
        ways_df,
    )
    from osm_pt_validator_spark.operators.pipeline import validate_all

    rows = [
        relation_row(1, stop_members(102, 104) + way_members(3, 4), route_tags()),
        relation_row(2, stop_members(100, 102) + way_members(1, 3), route_tags()),
        relation_row(3, way_members(5, 7), route_tags(**{"public_transport:version": "1"})),
        relation_row(
            4, [member("relation", 1), member("way", 5)],
            {"type": "route_master", "name": "M", "ref": "M"},
        ),
    ]
    verdicts, _ = validate_all(
        relations_df(spark, rows), nodes_df(spark), ways_df(spark),
        ValidationConfig(minimum_route_variants=2),
    )
    return verdicts.select("relation_id", "stage_no", "seq", "url", "message")


#: Golden oracle for validate_pipeline, hand-derived from the
#: reference's semantics (NOT by running this engine):
#:   rel 1 valid route -> none; rel 2 ways 1,3 share no node -> the
#:   gap verdict on way 3 (way_order.go:36-98, test case "invalid
#:   route"); rel 3 PTv2=1 -> exactly the version verdict and nothing
#:   else (route_relation.go:18-21); rel 4 master -> way member at
#:   member_idx 1 is not a relation, 1 variant < 2, operator tag
#:   missing (route_master.go:7-27, emission order member->variants->
#:   tags mirrored by seq with the tail block at 1e9).
SQL_VALIDATE_PIPELINE = """
SELECT * FROM (VALUES
  (CAST(2 AS BIGINT), 4, CAST(0 AS BIGINT),
   'https://www.openstreetmap.org/way/3', 'ways are incorrectly ordered'),
  (CAST(3 AS BIGINT), 0, CAST(0 AS BIGINT),
   'https://www.openstreetmap.org/relation/3',
   'tag ''public_transport:version'' should have value ''2'''),
  (CAST(4 AS BIGINT), 0, CAST(1 AS BIGINT),
   'https://www.openstreetmap.org/way/5', 'member is not a relation'),
  (CAST(4 AS BIGINT), 0, CAST(1000000000 AS BIGINT),
   'https://www.openstreetmap.org/relation/4', 'not enough route variants'),
  (CAST(4 AS BIGINT), 0, CAST(1000000001 AS BIGINT),
   'https://www.openstreetmap.org/relation/4', 'missing tag ''operator''')
) AS t(relation_id, stage_no, seq, url, message)
"""


PIP_XS = [-3.30, -3.26, -3.26, -3.28, -3.30]
PIP_YS = [55.90, 55.90, 55.94, 55.92, 55.94]


def q_pip_contained(spark, sf):
    """Ray-cast PIP over a literal concave polygon. The even-odd
    crossing test is replayed edge-by-edge in the oracle (identical
    float64 expression order), so the numpy path is value-checked."""
    from osm_pt_validator_spark.spatial.pip import points_in_polygons

    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("point_id"),
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
    )
    polygons = spark.createDataFrame(
        [(1, PIP_XS, PIP_YS)],
        "polygon_id long, xs array<double>, ys array<double>",
    )
    return points_in_polygons(c, polygons, res=10).select("polygon_id", "point_id")


def _sql_pip() -> str:
    """Even-odd crossings with one term per edge (closing edge
    included), every literal CAST to DOUBLE so DuckDB does not slip
    into DECIMAL arithmetic, and x_at_y rendered in the numpy
    expression order x1 + (py-y1)/(y2-y1)*(x2-x1)."""
    n = len(PIP_XS)
    terms = []
    for a in range(n):
        b = (a + 1) % n
        x1, y1 = repr(PIP_XS[a]), repr(PIP_YS[a])
        x2, y2 = repr(PIP_XS[b]), repr(PIP_YS[b])
        d = "CAST({} AS DOUBLE)"
        x1, y1, x2, y2 = d.format(x1), d.format(y1), d.format(x2), d.format(y2)
        terms.append(
            f"(CASE WHEN (({y1} > py) <> ({y2} > py)) AND "
            f"px < {x1} + (py - {y1}) / ({y2} - {y1}) * ({x2} - {x1}) "
            f"THEN 1 ELSE 0 END)"
        )
    crossings = " + ".join(terms)
    return f"""
WITH pts AS (
  -- literals forced to DOUBLE *inside* the expression: DuckDB would
  -- otherwise evaluate (k % 97) * 0.001 in exact DECIMAL and only
  -- cast at the end, while Spark/numpy round each double op — a
  -- boundary point then flips sides of an edge
  SELECT c_custkey AS point_id,
    CAST(55.9 AS DOUBLE) + (c_custkey % 97) * CAST(0.001 AS DOUBLE) AS py,
    CAST(-3.3 AS DOUBLE) + ((c_custkey * 13) % 89) * CAST(0.001 AS DOUBLE) AS px
  FROM customer)
SELECT CAST(1 AS BIGINT) AS polygon_id, point_id
FROM pts WHERE ({crossings}) % 2 = 1
"""


def _sql_simhash() -> str:
    """Replays the SimHash path bit-for-bit: token hash = first 8 md5
    bytes big-endian (= first 16 hex chars as UBIGINT), ±1 votes per
    bit, sig bit set iff vote sum > 0, then the same 4×16-bit chunk
    candidate join + hamming verify. All arithmetic stays unsigned in
    DuckDB; Spark's signed shiftright+mask reads the same bit fields."""
    toks = _SQL_TOKENS.format(t="text")
    return f"""
WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS hv FROM tok),
bits AS (SELECT unnest(range(64)) AS b),
votes AS (
  SELECT doc_id, b,
    SUM(CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN bits GROUP BY 1, 2),
sig0 AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN v > 0 THEN (1::UBIGINT << b)::HUGEINT ELSE 0::HUGEINT END) AS UBIGINT) AS sig
  FROM votes GROUP BY 1),
sigs AS (
  SELECT d.doc_id, COALESCE(s.sig, 0::UBIGINT) AS sig
  FROM d LEFT JOIN sig0 s USING (doc_id)),
chunks AS (
  SELECT doc_id, sig, c AS chunk_idx, (sig >> (16*c)) & 65535 AS chunk
  FROM sigs, UNNEST(range(4)) AS t(c)),
okc AS (SELECT chunk_idx, chunk FROM chunks
        GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 256),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b, a.sig AS sa, b2.sig AS sb
  FROM chunks a
  JOIN chunks b2 ON a.chunk_idx = b2.chunk_idx AND a.chunk = b2.chunk
                AND a.doc_id < b2.doc_id
  JOIN okc o ON o.chunk_idx = a.chunk_idx AND o.chunk = a.chunk)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 8
"""


def q_simhash_pairs(spark, sf):
    from osm_pt_validator_spark.operators.dedup import simhash_near_duplicates

    return simhash_near_duplicates(_t(spark, sf, "documents"), max_hamming=8).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


def _sql_lsh_ann() -> str:
    """Replays hyperplane_bucket exactly: the SAME driver-computed
    sin() literals are rendered here, and both engines fold the dot
    product left-to-right, so buckets (and therefore candidates and
    ranks) agree bit-for-bit."""
    terms = _sql_hyperplane_terms(64, 6)
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
b AS (SELECT vec_id, v, {terms} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 3),
sims AS (
  SELECT q.query_id, b.vec_id,
    round(CASE WHEN sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv)) > 0
      THEN list_dot_product(b.v, q.qv) /
           (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv)))
      ELSE 0.0 END, 6) AS sim
  FROM b JOIN q USING (bucket)),
ranked AS (
  SELECT query_id, vec_id,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


def q_lsh_ann_topk(spark, sf):
    from osm_pt_validator_spark.operators.similarity import lsh_ann_topk

    e = _t(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_ann_topk(e, queries, dim=64, k=5, num_planes=6).select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank")
    )


#: The real-format rows replay the PAYLOAD CONSTRUCTION RULE
#: (fixtures.media_payload: dims/duration are arithmetic in doc_id) —
#: if the engine's stdlib header parsers read the wrong bytes, the
#: parsed values would not match these independently computed ones.
#: The unknown-format rows (doc_id%4==3) replay the documented md5
#: fake tier.
SQL_MEDIA_DECODE = """
WITH media AS (
  SELECT doc_id AS media_id, doc_id % 4 AS m, text, md5(text) AS h
  FROM documents)
SELECT media_id,
  CASE m WHEN 0 THEN 'image' WHEN 1 THEN 'image'
         WHEN 2 THEN 'audio' ELSE 'video' END AS kind,
  CAST(CASE m WHEN 0 THEN 33 WHEN 1 THEN 23 WHEN 2 THEN 108
       ELSE octet_length(encode(text)) END AS BIGINT) AS n_bytes,
  CAST(CASE m WHEN 0 THEN 16 + media_id % 240
              WHEN 1 THEN 16 + media_id % 200 ELSE 0 END AS INT) AS width,
  CAST(CASE m WHEN 0 THEN 16 + (media_id // 7) % 240
              WHEN 1 THEN 16 + (media_id // 3) % 200 ELSE 0 END AS INT) AS height,
  CAST(CASE m WHEN 2 THEN 100 + (media_id % 120) * 50
              WHEN 3 THEN 100 + ('0x' || substr(h, 5, 4))::INT % 60000
              ELSE 0 END AS INT) AS duration_ms
FROM media
"""


def _synth_media(spark, sf, with_meta: bool = False):
    """Deterministic media-fixture frame shared by the media_* keys:
    documents -> (media_id, kind, payload) via fixtures.media_payload
    inside one Arrow mapInPandas (single source of the construction
    rule both SQL_MEDIA_DECODE and SQL_MEDIA_RESIZE replay)."""
    from osm_pt_validator_spark.fixtures import media_payload

    def synth(batches):
        import pandas as _pd

        for pdf in batches:
            kinds, payloads = [], []
            for i, txt in zip(pdf["doc_id"], pdf["text"]):
                k, p = media_payload(int(i), txt)
                kinds.append(k)
                payloads.append(p)
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "kind": kinds, "payload": payloads}
            )

    media = (
        _t(spark, sf, "documents")
        .select("doc_id", "text")
        .repartition(8, "doc_id")
        .mapInPandas(synth, "media_id long, kind string, payload binary")
    )
    if with_meta:
        media = media.withColumn(
            "meta", F.create_map().cast("map<string,string>")
        )
    return media


def q_media_decode(spark, sf):
    """Multimodal decode over REAL container payloads: PNG/JPEG/WAV
    headers synthesized per doc_id (fixtures.media_payload) are parsed
    for real by stdlib struct (multimodal._parse_headers); one residue
    class stays an unknown format to exercise the documented md5 fake
    tier. The oracle replays the construction arithmetic, so the
    parsers are value-checked byte-for-byte."""
    from osm_pt_validator_spark.operators.multimodal import decode_media

    media = _synth_media(spark, sf, with_meta=True)
    return decode_media(media).select(
        "media_id", "kind", "n_bytes", "width", "height", "duration_ms"
    )


def _sql_ivf_ann() -> str:
    """Full IVF replay: md5-class centroids (element-wise AVG per
    residue class), nearest-centroid assignment, nprobe=3 probe cells,
    exact cosine re-rank (rounded 6dp before ranking, ties by vec_id —
    the same determinism contract as the Spark plan)."""
    cos = (
        "CASE WHEN sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})) > 0 "
        "THEN list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) "
        "ELSE 0.0 END"
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cls AS (
  SELECT vec_id, v,
    ('0x' || substr(md5('ivf|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS cid
  FROM e),
cdim AS (
  SELECT cid, i AS dim, AVG(v[i]) AS mx
  FROM cls, UNNEST(range(1, len(v) + 1)) AS t(i)
  GROUP BY 1, 2),
cents AS (SELECT cid, list(mx ORDER BY dim) AS cv FROM cdim GROUP BY 1),
assigned AS (
  SELECT vec_id, v, cid FROM (
    SELECT cls.vec_id, cls.v, cents.cid,
      row_number() OVER (PARTITION BY cls.vec_id
        ORDER BY {cos.format(a="cls.v", b="cents.cv")} DESC, cents.cid ASC) AS r
    FROM cls CROSS JOIN cents)
  WHERE r = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, cents.cid,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {cos.format(a="q.qv", b="cents.cv")} DESC, cents.cid ASC) AS r
    FROM q CROSS JOIN cents)
  WHERE r <= 3),
sims AS (
  SELECT p.query_id, a.vec_id,
    round({cos.format(a="a.v", b="p.qv")}, 6) AS sim
  FROM assigned a JOIN probes p USING (cid)),
ranked AS (
  SELECT query_id, vec_id,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


SQL_FRAME_SAMPLE = """
WITH media AS (
  SELECT doc_id AS media_id, encode(text) AS payload
  FROM documents WHERE doc_id % 3 = 2),
n AS (
  SELECT media_id, payload,
    LEAST(8, GREATEST(1, octet_length(payload) // 64)) AS n_frames
  FROM media)
SELECT media_id, CAST(f AS INT) AS frame_idx,
  md5(substr(hex(payload), f * 128 + 1, 128)) AS frame_md5
FROM n, UNNEST(range(n_frames)) AS t(f)
"""


def q_frame_sample(spark, sf):
    """Deterministic video frame sampling (explode-per-media shape) —
    chunk md5s are SQL-replayable, so the mapInPandas plumbing is
    value-checked end to end."""
    from osm_pt_validator_spark.operators.multimodal import frame_sample

    media = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return frame_sample(media).select(
        "media_id", F.col("frame_idx").cast("int").alias("frame_idx"), "frame_md5"
    )


def q_media_features(spark, sf):
    """REAL no-decoder feature extraction (multimodal.
    byte_stats_features): per-payload high-nibble byte histogram + the
    Shannon entropy signal media curation filters on. Entropy terms are
    micro-bit quantized BEFORE summation, so the total is an integer
    sum the oracle replays from hex-extracted bytes."""
    from osm_pt_validator_spark.operators.multimodal import (
        byte_stats_features,
    )

    media = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return byte_stats_features(media)


SQL_MEDIA_FEATURES = """
WITH media AS (SELECT doc_id AS media_id, encode(text) AS payload FROM documents),
b AS (SELECT media_id, octet_length(payload) AS n, hex(payload) AS hx
      FROM media WHERE octet_length(payload) > 0),
by AS (SELECT media_id, n, ('0x' || substr(hx, i * 2 + 1, 2))::INT // 16 AS bucket
       FROM b, UNNEST(range(n)) AS t(i)),
c AS (SELECT media_id, MIN(n) AS n, bucket, COUNT(*) AS cnt
      FROM by GROUP BY media_id, bucket),
e AS (SELECT media_id, bucket, cnt, n,
        CAST(floor((cnt / CAST(n AS DOUBLE)) * log2(CAST(n AS DOUBLE) / cnt)
                   * 1e6 + 0.5) AS BIGINT) AS ub
      FROM c)
SELECT media_id, CAST(bucket AS INT) AS bucket, cnt,
  (cnt * 1000000) // n AS ppm,
  CAST(SUM(ub) OVER (PARTITION BY media_id) AS BIGINT) AS entropy_ubits
FROM e
"""


def q_media_resize(spark, sf):
    """Aspect-preserving resize planning (multimodal.resize_plan):
    source dims parsed for REAL from the synthesized PNG/JPEG headers,
    fit box in exact integer ppm arithmetic. The oracle replays the
    payload-construction dims + the same fit formula. (The pixel
    resample itself is behind the documented require_real contract —
    resized_key is the deterministic cache key, checked in pytest.)"""
    from osm_pt_validator_spark.operators.multimodal import resize_plan

    media = _synth_media(spark, sf)
    return resize_plan(media, target_w=224, target_h=224).select(
        "media_id", "src_w", "src_h", "dst_w", "dst_h", "scale_ppm"
    )


SQL_MEDIA_RESIZE = """
WITH dims AS (
  SELECT doc_id AS media_id,
    CAST(CASE doc_id % 4 WHEN 0 THEN 16 + doc_id % 240
                         WHEN 1 THEN 16 + doc_id % 200 END AS INT) AS src_w,
    CAST(CASE doc_id % 4 WHEN 0 THEN 16 + (doc_id // 7) % 240
                         WHEN 1 THEN 16 + (doc_id // 3) % 200 END AS INT) AS src_h
  FROM documents WHERE doc_id % 4 IN (0, 1)),
fit AS (
  SELECT media_id, src_w, src_h,
    LEAST((224 * 1000000) // src_w, (224 * 1000000) // src_h) AS scale_ppm
  FROM dims)
SELECT media_id, src_w, src_h,
  CAST(GREATEST(1, (src_w * scale_ppm) // 1000000) AS INT) AS dst_w,
  CAST(GREATEST(1, (src_h * scale_ppm) // 1000000) AS INT) AS dst_h,
  scale_ppm
FROM fit
"""


def q_ivf_ann_topk(spark, sf):
    """IVF coarse-quantizer ANN (inverted lists by md5-residue-class
    centroids — fully replayed by the DuckDB oracle)."""
    from osm_pt_validator_spark.operators.similarity import ivf_ann_topk

    e = _t(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_ann_topk(e, queries, k=5, num_centroids=8, nprobe=3).select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank")
    )


def q_verdict_heatmap(spark, sf):
    """North-star failure heatmap: validation verdicts located at their
    stop coordinates -> z=15 tiles (verdicts from the sequential
    automaton — rows-only)."""
    from osm_pt_validator_spark.config import ValidationConfig
    from osm_pt_validator_spark.fixtures import (
        nodes_df,
        relation_row,
        relations_df,
        route_tags,
        stop_members,
        way_members,
        ways_df,
    )
    from osm_pt_validator_spark.operators.pipeline import validate_route_relations
    from osm_pt_validator_spark.spatial.tiles import verdict_failure_heatmap

    rows = [
        # stop 104 unreachable before 102 -> stop-order verdicts at nodes
        relation_row(1, stop_members(104, 102) + way_members(3, 4), route_tags()),
        relation_row(2, stop_members(106, 100) + way_members(1, 2), route_tags()),
    ]
    verdicts, _ = validate_route_relations(
        relations_df(spark, rows), nodes_df(spark), ways_df(spark), ValidationConfig()
    )
    return verdict_failure_heatmap(verdicts, nodes_df(spark), z=15)


def _sql_verdict_heatmap() -> str:
    """Golden oracle for verdict_heatmap. The failing stop set is
    hand-derived from the reference's greedy stop matcher
    (stop_order.go semantics, ported cases stop_order_test.go:10-130):
      rel 1 (ways 3,4; stops 104 then 102): node order is way 3
        forward [102,103,105,104] then the circular way 4 — stop 104
        matches at index 3, then 102 only occurs BEFORE the cursor ->
        'stop is incorrectly ordered' at node 102;
      rel 2 (ways 1,2; stops 106 then 100): node order
        [100,101]+[101,102] — 106 appears nowhere -> 'stop is not on
        route' at node 106; 100 then matches at the cursor.
    Tiles are computed by the documented slippy formula from the
    documented fixture coordinate rule (FIXTURES.md §7:
    lat = 55.90 + id*1e-4, lon = -3.30 + id*1e-4), not by the engine.
    """
    return f"""
WITH failures(node_id) AS (VALUES (102), (106)),
pts AS (
  SELECT CAST(55.90 AS DOUBLE) + node_id * CAST(1e-4 AS DOUBLE) AS lat,
         CAST(-3.30 AS DOUBLE) + node_id * CAST(1e-4 AS DOUBLE) AS lon
  FROM failures
)
SELECT 15 AS tile_z,
       {_sql_tile_x("lon", 15)} AS tile_x,
       {_sql_tile_y("lat", 15)} AS tile_y,
       COUNT(*) AS n
FROM pts
GROUP BY 1, 2, 3
"""


def q_mentions_extract(spark, sf):
    """G1+G2 over pages synthesized from documents (Arrow UDF path)."""
    from osm_pt_validator_spark.sources.pages import extract_mentions

    docs = _t(spark, sf, "documents")
    pages = docs.select(
        F.format_string("https://pages.example.org/doc/%d", "doc_id").alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.format_string(
                "<html><body><p>%s</p><p>STOP:%d@55.9500,-3.1900 ROUTE:%d</p></body></html>",
                F.col("text"), F.col("doc_id") % 50 + 100, F.col("doc_id"),
            ),
            "utf-8",
        ).alias("html"),
        F.col("text"), F.col("lang"),
    )
    return extract_mentions(pages, from_html=True).select(
        "url", "mention_idx", "kind", "entity_id"
    )


# --- crawl-level curation (operators/crawl.py) -----------------------------


def _synth_crawl_pages(spark, sf):
    """Multi-crawl pages derived deterministically from documents:
    1 + (doc_id % 3) crawl snapshots per url, 7 synthetic hosts, and
    the LAST crawl of even doc_ids gets updated text — the
    change-detection signal. No external data; the DuckDB CTE
    _SQL_CRAWL_PAGES replays this construction bit-for-bit."""
    d = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    c = d.withColumn(
        "crawl", F.explode(F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int")))
    )
    epoch = F.lit(1700000000) + F.col("doc_id") * 97 + F.col("crawl") * 3600
    text = F.when(
        (F.col("crawl") == F.col("doc_id") % 3) & (F.col("doc_id") % 2 == 0),
        F.concat(F.col("text"), F.lit(" updated")),
    ).otherwise(F.col("text"))
    return c.select(
        F.format_string(
            "https://host%d.example.org/p/%d", F.col("doc_id") % 7, F.col("doc_id")
        ).alias("url"),
        F.timestamp_seconds(epoch).alias("warc_ts"),
        text.alias("text"),
        "lang",
    )


_SQL_CRAWL_PAGES = """
c AS (
  SELECT doc_id, lang, crawl,
    1700000000 + doc_id * 97 + crawl * 3600 AS ts_epoch,
    CASE WHEN crawl = doc_id % 3 AND doc_id % 2 = 0
         THEN text || ' updated' ELSE text END AS text
  FROM (SELECT doc_id, text, lang,
          UNNEST(range(0, (doc_id % 3) + 1)) AS crawl
        FROM documents)),
pages AS (
  SELECT printf('https://host%d.example.org/p/%d', doc_id % 7, doc_id) AS url,
    ts_epoch, text, lang
  FROM c)"""


def q_crawl_latest(spark, sf):
    """Recrawl collapse (crawl.latest_crawl): newest snapshot per url —
    one shuffle, WindowGroupLimit-pruned."""
    from osm_pt_validator_spark.operators.crawl import latest_crawl

    p = _synth_crawl_pages(spark, sf)
    return latest_crawl(p).select(
        "url",
        F.unix_timestamp("warc_ts").cast("long").alias("ts_epoch"),
        F.length("text").cast("long").alias("n_chars"),
    )


SQL_CRAWL_LATEST = f"""
WITH {_SQL_CRAWL_PAGES}
SELECT url, ts_epoch, CAST(len(text) AS BIGINT) AS n_chars FROM (
  SELECT url, ts_epoch, text,
    row_number() OVER (PARTITION BY url
                       ORDER BY ts_epoch DESC, md5(text) ASC) AS rk
  FROM pages)
WHERE rk = 1
"""


def q_blocklist_pages(spark, sf):
    """Crawl blocklist filtering (crawl.blocklist_filter, broadcast
    mode): dot-suffix domain matching as a map-side arrays_overlap
    against one broadcast collect_set row — the corpus never
    shuffles."""
    from osm_pt_validator_spark.operators.crawl import blocklist_filter

    p = _synth_crawl_pages(spark, sf)
    blocked = spark.createDataFrame(
        [("host1.example.org",), ("host4.example.org",)], "domain string"
    )
    return blocklist_filter(p, blocked).select(
        "url",
        F.unix_timestamp("warc_ts").cast("long").alias("ts_epoch"),
        F.length("text").cast("long").alias("n_chars"),
    )


SQL_BLOCKLIST_PAGES = f"""
WITH {_SQL_CRAWL_PAGES},
doms AS (
  SELECT url, ts_epoch, text,
    string_split(regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
      '^www\\.', ''), ':\\d+$', ''), '.') AS labels
  FROM pages)
SELECT url, ts_epoch, CAST(len(text) AS BIGINT) AS n_chars
FROM doms
WHERE len(list_filter(
        list_transform(range(1, len(labels) + 1),
                       k -> array_to_string(labels[k:len(labels)], '.')),
        s -> s IN ('host1.example.org', 'host4.example.org'))) = 0
"""


def q_domain_link_graph(spark, sf):
    """Link-graph ingestion (crawl.extract_links/domain_link_graph):
    href extraction is one regexp_extract_all per page, map-only,
    pipelined with the scan; the cross-domain edge rollup is a single
    map-side-combining count. Feeds PageRank crawl prioritization."""
    from osm_pt_validator_spark.operators.crawl import domain_link_graph

    d = _t(spark, sf, "documents").select("doc_id")
    html = F.format_string(
        '<p>d%d</p><a href="https://host%d.example.org/p/%d">a</a>'
        '<a href="https://host%d.example.org/q">b</a><a href="#top">c</a>',
        F.col("doc_id"),
        (F.col("doc_id") * 3) % 7,
        F.col("doc_id"),
        (F.col("doc_id") + 1) % 7,
    )
    pages = d.select(
        F.format_string(
            "https://host%d.example.org/p/%d", F.col("doc_id") % 7, F.col("doc_id")
        ).alias("url"),
        html.cast("binary").alias("html"),
    )
    return domain_link_graph(pages)


SQL_DOMAIN_LINK_GRAPH = """
WITH pages AS (
  SELECT printf('https://host%d.example.org/p/%d', doc_id % 7, doc_id) AS url,
    printf('<p>d%d</p><a href="https://host%d.example.org/p/%d">a</a><a href="https://host%d.example.org/q">b</a><a href="#top">c</a>',
           doc_id, (doc_id * 3) % 7, doc_id, (doc_id + 1) % 7) AS html
  FROM documents),
l AS (
  SELECT url, UNNEST(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS href
  FROM pages),
d AS (
  SELECT
    regexp_replace(regexp_replace(lower(regexp_extract(url,  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)), '^www\\.', ''), ':\\d+$', '') AS src,
    regexp_replace(regexp_replace(lower(regexp_extract(href, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)), '^www\\.', ''), ':\\d+$', '') AS dst
  FROM l)
SELECT src AS src_domain, dst AS dst_domain, COUNT(*) AS n_links
FROM d WHERE dst != '' AND dst != src GROUP BY 1, 2
"""


def q_crawl_changed(spark, sf):
    """Recrawl change detection (crawl.changed_pages): urls whose
    newest snapshot differs from the previous crawl."""
    from osm_pt_validator_spark.operators.crawl import changed_pages

    p = _synth_crawl_pages(spark, sf)
    return changed_pages(p).select(
        "url",
        F.unix_timestamp("warc_ts").cast("long").alias("ts_epoch"),
        F.unix_timestamp("prev_ts").cast("long").alias("prev_epoch"),
        "changed",
    )


SQL_CRAWL_CHANGED = f"""
WITH {_SQL_CRAWL_PAGES},
r AS (
  SELECT url, ts_epoch, md5(text) AS h,
    row_number() OVER w AS rk,
    lead(ts_epoch) OVER w AS prev_epoch,
    lead(md5(text)) OVER w AS prev_h
  FROM pages
  WINDOW w AS (PARTITION BY url ORDER BY ts_epoch DESC, md5(text) ASC))
SELECT url, ts_epoch, prev_epoch, (h <> prev_h) AS changed
FROM r WHERE rk = 1 AND prev_h IS NOT NULL
"""


def q_domain_stats(spark, sf):
    """Per-site rollup (crawl.domain_stats) over the multi-crawl
    corpus: pages, distinct urls, chars, language spread."""
    from osm_pt_validator_spark.operators.crawl import domain_stats

    return domain_stats(_synth_crawl_pages(spark, sf))


_SQL_DOMAIN = (
    "regexp_replace(regexp_replace(lower(regexp_extract(url, "
    "'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)), '^www\\.', ''), ':[0-9]+$', '')"
)

SQL_DOMAIN_STATS = f"""
WITH {_SQL_CRAWL_PAGES}
SELECT {_SQL_DOMAIN} AS domain,
  COUNT(*) AS n_pages,
  COUNT(DISTINCT url) AS n_urls,
  CAST(SUM(len(text)) AS BIGINT) AS total_chars,
  COUNT(DISTINCT lang) AS n_langs
FROM pages GROUP BY 1
"""


def q_doc_repetition(spark, sf):
    """Gopher-style repetition profile (text.repetition_stats):
    dup-line / dup-token / top-bigram fractions, ppm-quantized for
    cross-engine hash stability."""
    from osm_pt_validator_spark.operators.text import repetition_stats

    s = repetition_stats(_t(spark, sf, "documents"))

    def ppm(c):
        return F.round(F.col(c) * 1e6).cast("long")

    return s.select(
        "doc_id",
        ppm("dup_line_frac").alias("dup_line_ppm"),
        ppm("dup_token_frac").alias("dup_token_ppm"),
        ppm("top_bigram_frac").alias("top_bigram_ppm"),
    )


def _sql_doc_repetition() -> str:
    toks = _SQL_TOKENS.format(t="text")
    return f"""
WITH d AS (
  SELECT doc_id, text, {toks} AS toks,
    list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS ls
  FROM documents),
base AS (
  SELECT doc_id,
    CASE WHEN len(ls) > 0
         THEN round(1.0 - len(list_distinct(ls)) * 1.0 / len(ls), 6)
         ELSE 0.0 END AS dup_line_frac,
    CASE WHEN len(toks) > 0
         THEN round(1.0 - len(list_distinct(toks)) * 1.0 / len(toks), 6)
         ELSE 0.0 END AS dup_token_frac
  FROM d),
g AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
  FROM d, UNNEST(CASE WHEN len(toks) >= 2 THEN range(1, len(toks)) ELSE [] END) AS t(i)),
cn AS (SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY 1, 2),
tt AS (SELECT doc_id, MAX(n) AS top_n, SUM(n) AS tot FROM cn GROUP BY 1)
SELECT b.doc_id,
  CAST(round(b.dup_line_frac * 1e6) AS BIGINT) AS dup_line_ppm,
  CAST(round(b.dup_token_frac * 1e6) AS BIGINT) AS dup_token_ppm,
  CAST(round((CASE WHEN tt.tot > 0 THEN round(top_n * 1.0 / tt.tot, 6)
                   ELSE 0.0 END) * 1e6) AS BIGINT) AS top_bigram_ppm
FROM base b LEFT JOIN tt ON tt.doc_id = b.doc_id
"""


# --- raster -> vector (spatial/tiles.py) -----------------------------------


def q_tile_vector_bboxes(spark, sf):
    """Full raster<->vector round trip (tiles.heatmap_vector):
    customer points -> z12 tile raster -> vector bbox features with
    counts. Bounds ppm-quantized for cross-engine hash stability."""
    from osm_pt_validator_spark.spatial.tiles import heatmap_vector

    c = _t(spark, sf, "customer").select(
        _cust_lat(F.col("c_custkey")).alias("lat"),
        _cust_lon(F.col("c_custkey")).alias("lon"),
    )
    v = heatmap_vector(c, z=12)

    def ppm(col):
        return F.round(F.col(col) * 1e6).cast("long")

    return v.select(
        "tile_z",
        "tile_x",
        "tile_y",
        "n",
        ppm("west").alias("west_ppm"),
        ppm("east").alias("east_ppm"),
        ppm("north").alias("north_ppm"),
        ppm("south").alias("south_ppm"),
    )


def _sql_tile_vector() -> str:
    n = float(1 << 12)

    def lat(yy: str) -> str:
        t = f"(pi() * (1.0 - 2.0 * {yy} / {n}))"
        return f"degrees(atan((exp({t}) - exp(-{t})) / 2.0))"

    return f"""
WITH heat AS (
  SELECT CAST(12 AS INT) AS tile_z,
    {_sql_tile_x(_SQL_CUST_LON, 12)} AS tile_x,
    {_sql_tile_y(_SQL_CUST_LAT, 12)} AS tile_y,
    COUNT(*) AS n
  FROM customer GROUP BY 1, 2, 3)
SELECT tile_z, tile_x, tile_y, n,
  CAST(round((tile_x / {n} * 360.0 - 180.0) * 1e6) AS BIGINT) AS west_ppm,
  CAST(round(((tile_x + 1) / {n} * 360.0 - 180.0) * 1e6) AS BIGINT) AS east_ppm,
  CAST(round({lat('tile_y')} * 1e6) AS BIGINT) AS north_ppm,
  CAST(round({lat('(tile_y + 1)')} * 1e6) AS BIGINT) AS south_ppm
FROM heat
"""


# --- paragraph-level dedup (operators/dedup.py) ------------------------------


def q_para_dedup(spark, sf):
    """Cross-document paragraph dedup (dedup.paragraph_dedup):
    boilerplate paragraphs planted into every document survive only in
    the first doc (by doc_id) — the classic newsletter/copyright strip
    over a web corpus."""
    from osm_pt_validator_spark.operators.dedup import paragraph_dedup

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.col("text"),
            F.lit("subscribe to our newsletter today"),
            F.lit("copyright example corp all rights reserved"),
        ).alias("text"),
    )
    out = paragraph_dedup(d)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.length("text").cast("long").alias("n_chars"),
    )


def _sql_para_dedup() -> str:
    return """
WITH d AS (
  SELECT doc_id,
    text || chr(10) || chr(10) || 'subscribe to our newsletter today'
         || chr(10) || chr(10) || 'copyright example corp all rights reserved'
    AS text
  FROM documents),
sp AS (
  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM d),
p AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS para
  FROM sp, UNNEST(range(1, len(parts) + 1)) AS t(i)
  WHERE len(parts[i]) > 0),
k AS (
  SELECT doc_id, pos, para,
    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rk
  FROM p)
SELECT doc_id,
  md5(string_agg(para, chr(10) || chr(10) ORDER BY pos)) AS text_md5,
  CAST(len(string_agg(para, chr(10) || chr(10) ORDER BY pos)) AS BIGINT) AS n_chars
FROM k WHERE rk = 1 GROUP BY doc_id
"""


def q_winnow_fps(spark, sf):
    """Winnowing fingerprints (dedup.winnow_fingerprints): the
    guarantee-bearing rolling-hash fingerprint set per document,
    exploded to (doc_id, fp) pairs."""
    from osm_pt_validator_spark.operators.dedup import winnow_fingerprints

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.explode(winnow_fingerprints(F.col("text"), k=5, w=4)).alias("fp"),
    )


def _sql_winnow_fps() -> str:
    return f"""
WITH {_sql_winnow_ctes()}
SELECT doc_id, fp FROM f
"""


# --- mergeable sketches (operators/sketches.py) -----------------------------


def q_cms_user_counts(spark, sf):
    """Count-Min frequency digest + point lookups (sketches.cms_digest
    / cms_lookup): exact integer counters over md5-derived positions —
    mergeable by counter summation; estimates never undercount.
    Probes: users 0..49 per event type."""
    from osm_pt_validator_spark.operators.sketches import cms_digest, cms_lookup

    e = _t(spark, sf, "events")
    dig = cms_digest(
        e, ["event_type"], F.col("user_id").cast("string"), depth=3, width=256
    )
    probes = (
        e.select("event_type")
        .distinct()
        .crossJoin(spark.range(50).select(F.col("id").cast("string").alias("uid")))
    )
    return cms_lookup(
        dig, probes, ["event_type"], F.col("uid"), depth=3, width=256
    ).select("event_type", "probe", "est_count")


def _sql_cms_user_counts() -> str:
    def h(d: int, expr: str) -> str:
        return f"(('0x' || substr(md5('cms{d}|' || {expr}), 1, 15))::BIGINT & 255)"

    pos_rows = " UNION ALL ".join(
        f"SELECT event_type, {d} AS d, {h(d, 'CAST(user_id AS VARCHAR)')} AS idx FROM events"
        for d in range(3)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT event_type, probe, {d} AS d, {h(d, 'probe')} AS idx FROM probes"
        for d in range(3)
    )
    return f"""
WITH dig AS (
  SELECT event_type, d, idx, COUNT(*) AS counter FROM ({pos_rows}) GROUP BY 1, 2, 3),
probes AS (
  SELECT DISTINCT e.event_type, CAST(r.range AS VARCHAR) AS probe
  FROM events e CROSS JOIN range(0, 50) r),
pp AS ({probe_pos}),
j AS (
  SELECT pp.event_type, pp.probe,
         COALESCE(dig.counter, 0) AS c
  FROM pp LEFT JOIN dig
    ON pp.event_type = dig.event_type AND pp.d = dig.d AND pp.idx = dig.idx)
SELECT event_type, probe, CAST(MIN(c) AS BIGINT) AS est_count
FROM j GROUP BY 1, 2
"""


def q_hll_distinct(spark, sf):
    """HyperLogLog distinct-count sketch (sketches.hll_distinct):
    distinct users per event type from 2^10 registers — the mergeable
    max-register form, with the harmonic sum computed as an EXACT
    integer (order-independent), and the linear-counting small-range
    correction."""
    from osm_pt_validator_spark.operators.sketches import hll_distinct

    e = _t(spark, sf, "events")
    return hll_distinct(e, ["event_type"], F.col("user_id").cast("string"), p=10)


def _sql_hll_distinct() -> str:
    from osm_pt_validator_spark.operators.sketches import hll_distinct_sql

    return hll_distinct_sql(
        "events", "event_type", "CAST(user_id AS VARCHAR)", p=10
    )


def q_weighted_sample(spark, sf):
    """Weighted sampling without replacement (curation.weighted_sample,
    Efraimidis-Spirakis): md5-derived u, priority -ln(u)/w quantized to
    ppb BEFORE ranking (cross-engine ulp absorb), per-source top-k via
    WindowGroupLimit. Weight = doc length: the materialization step of
    a temperature-weighted training mix."""
    from osm_pt_validator_spark.operators.curation import weighted_sample

    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample(
        d, 25, F.col("n_chars"), group_cols=["source"], key_col="doc_id"
    )


def _sql_weighted_sample() -> str:
    return """
WITH base AS (
  SELECT doc_id, source, n_chars,
    CAST(round((-ln((('0x' || substr(md5('wsample' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
        / CAST(1152921504606846976 AS DOUBLE))
      / CAST(n_chars AS DOUBLE)) * 1e9) AS BIGINT) AS priority_ppb
  FROM documents WHERE n_chars > 0),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY source
      ORDER BY priority_ppb ASC, doc_id ASC) AS INT) AS sample_rank
  FROM base)
SELECT doc_id, source, n_chars, priority_ppb, sample_rank
FROM r WHERE sample_rank <= 25
"""


def q_kmv_distinct(spark, sf):
    """KMV distinct-count sketch (sketches.kmv_distinct): estimated
    distinct users per event type from the 64 minimum md5-derived
    hashes. WindowGroupLimit bounds the shuffle to ~k rows per (group,
    map partition) — the mergeable-sketch shape at 100 TB."""
    from osm_pt_validator_spark.operators.sketches import kmv_distinct

    e = _t(spark, sf, "events")
    return kmv_distinct(
        e, ["event_type"], F.col("user_id").cast("string"), k=64
    )


def _sql_kmv_distinct() -> str:
    from osm_pt_validator_spark.operators.sketches import kmv_distinct_sql

    return kmv_distinct_sql(
        "events", "event_type", "CAST(user_id AS VARCHAR)", k=64
    )


def q_bloom_prune(spark, sf):
    """Bloom-semi-join pruning (sketches.bloom_digest/bloom_prune):
    2x63-bit per-group Bloom digests built from even-id events via
    map-side bit_or partial aggregation, broadcast, and used to prune
    odd-id probe rows to the possibly-seen set BEFORE any shuffle join.
    Output: per event type, probe rows and Bloom-pass rows."""
    from osm_pt_validator_spark.operators.sketches import (
        bloom_digest,
        bloom_prune,
    )

    e = _t(spark, sf, "events")
    build = e.filter(F.col("event_id") % 2 == 0)
    probe = e.filter(F.col("event_id") % 2 == 1)
    val = F.col("user_id").cast("string")
    digest = bloom_digest(build, ["event_type"], val, words=2, hashes=2)
    passed = bloom_prune(probe, digest, ["event_type"], val, words=2, hashes=2)
    n_probe = probe.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_probe"))
    n_pass = passed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_pass"))
    return n_probe.join(n_pass, "event_type", "left").select(
        "event_type", "n_probe", F.coalesce("n_pass", F.lit(0)).alias("n_pass")
    )


def _sql_bloom_prune() -> str:
    from osm_pt_validator_spark.operators.sketches import bloom_sql_fragments

    word_exprs, membership = bloom_sql_fragments(
        "CAST(user_id AS VARCHAR)", words=2, hashes=2
    )
    return f"""
WITH build AS (SELECT * FROM events WHERE event_id % 2 = 0),
probe AS (SELECT * FROM events WHERE event_id % 2 = 1),
digest AS (
  SELECT event_type,
         bit_or({word_exprs[0]}) AS w0,
         bit_or({word_exprs[1]}) AS w1
  FROM build GROUP BY 1),
passed AS (
  SELECT p.event_type
  FROM probe p JOIN digest d USING (event_type)
  WHERE {membership.replace('user_id', 'p.user_id')}),
np AS (SELECT event_type, COUNT(*) AS n_probe FROM probe GROUP BY 1),
ns AS (SELECT event_type, COUNT(*) AS n_pass FROM passed GROUP BY 1)
SELECT event_type, n_probe, COALESCE(n_pass, 0) AS n_pass
FROM np LEFT JOIN ns USING (event_type)
"""


def q_value_quantiles(spark, sf):
    """Log-binned quantile sketch (sketches.log_binned_quantiles):
    p50/p90/p99 of the event value (in cents) per event type from a
    deterministic (octave, 8-sub-bucket) histogram — ONE map-side-
    combining groupBy, bit-replayable, unlike percentile_approx whose
    GK sketch is merge-order-dependent."""
    from osm_pt_validator_spark.operators.sketches import log_binned_quantiles

    e = _t(spark, sf, "events")
    return log_binned_quantiles(
        e, ["event_type"], _cents(F.col("value")), quantiles=(0.5, 0.9, 0.99)
    )


def _sql_value_quantiles() -> str:
    from osm_pt_validator_spark.operators.sketches import (
        log_binned_quantiles_sql,
    )

    return log_binned_quantiles_sql(
        "events",
        "event_type",
        "CAST(round(value * 100) AS BIGINT)",
        quantiles=(0.5, 0.9, 0.99),
    )


def q_key_skew_profile(spark, sf):
    """Join-key skew profiler (sketches.skew_profile): the 10 hottest
    l_suppkey values with exact ppm share — the pre-flight measurement
    for choosing a salt factor. TakeOrderedAndProject top-N (parallel
    partial top-k), never a single-partition window over all keys."""
    from osm_pt_validator_spark.operators.sketches import skew_profile

    l = _t(spark, sf, "lineitem")
    return skew_profile(l, ["l_suppkey"], top=10)


def _sql_key_skew_profile() -> str:
    return """
WITH counts AS (SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys FROM counts),
hot AS (SELECT l_suppkey, n,
               row_number() OVER (ORDER BY n DESC, l_suppkey ASC) AS rank
        FROM counts ORDER BY n DESC, l_suppkey ASC LIMIT 10)
SELECT l_suppkey, n, rank, CAST((n * 1000000) // total AS BIGINT) AS share_ppm, n_keys
FROM hot, tot
"""


_PR_EDGES_SQL = """SELECT o_custkey % 500 AS src, (o_orderkey * 7) % 500 AS dst
FROM orders WHERE o_custkey % 500 != (o_orderkey * 7) % 500"""


def q_page_rank(spark, sf):
    """Fixed-iteration integer-scaled PageRank (pagerank.page_rank):
    3 rounds over a 500-node link graph derived from orders. Integer
    rank mass => order-independent sums => bit-replayable, unlike float
    PageRank whose shuffle-order addition does not commute."""
    from osm_pt_validator_spark.operators.pagerank import page_rank

    o = _t(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 500).alias("src"),
        ((F.col("o_orderkey") * 7) % 500).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return page_rank(edges, iterations=3)


def _sql_page_rank() -> str:
    from osm_pt_validator_spark.operators.pagerank import page_rank_sql

    return page_rank_sql(_PR_EDGES_SQL, iterations=3)


def q_inverted_index(spark, sf):
    """Inverted index (sketches.inverted_index): token -> exact df +
    postings capped at the 10 smallest doc ids (comma-joined), min_df
    5. One shuffle: window and aggregation share the token
    partitioning."""
    from osm_pt_validator_spark.operators.sketches import inverted_index

    d = _t(spark, sf, "documents")
    return inverted_index(d, max_postings=10, min_df=5)


def _sql_inverted_index() -> str:
    toks = _SQL_TOKENS.format(t="text")
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.token
  FROM (SELECT doc_id, {toks} AS toks FROM documents), UNNEST(toks) AS t(token)),
r AS (SELECT token, doc_id,
             row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
      FROM tok)
SELECT token, COUNT(*) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
         FILTER (WHERE rn <= 10) AS postings
FROM r GROUP BY 1 HAVING COUNT(*) >= 5
"""


# --- PII scrub (operators/text.py) ------------------------------------------


def q_pii_scrub(spark, sf):
    """PII redaction (text.scrub_pii): deterministic emails / phones /
    IPv4s are planted into each document, scrubbed to typed
    placeholders, and audited via per-kind counts. The oracle replays
    the same regex pipeline (identical Java/RE2-compatible patterns),
    with md5(scrubbed) proving byte-identical redaction."""
    from osm_pt_validator_spark.operators.text import scrub_documents

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.format_string(
                " contact user%d@mail.example.com call +44 20 7946 0958"
                " ip 10.0.%d.7",
                F.col("doc_id"),
                F.col("doc_id") % 256,
            ),
        ).alias("text"),
    )
    s = scrub_documents(d)
    return s.select(
        "doc_id",
        F.md5("scrubbed_text").alias("scrub_md5"),
        "n_email",
        "n_phone",
        "n_ipv4",
    )


def _sql_pii_scrub() -> str:
    from osm_pt_validator_spark.operators.text import PII_PATTERNS

    em, ph, ip = (
        PII_PATTERNS["email"],
        PII_PATTERNS["phone"],
        PII_PATTERNS["ipv4"],
    )
    return f"""
WITH d AS (
  SELECT doc_id,
    text || printf(' contact user%d@mail.example.com call +44 20 7946 0958'
                   ' ip 10.0.%d.7', doc_id, doc_id % 256) AS text
  FROM documents)
SELECT doc_id,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '{em}', '<EMAIL>', 'g'),
      '{ph}', '<PHONE>', 'g'),
      '{ip}', '<IPV4>', 'g')) AS scrub_md5,
  CAST(len(regexp_extract_all(text, '{em}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{ph}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '{ip}')) AS BIGINT) AS n_ipv4
FROM d
"""


# --- temporal operators (operators/temporal.py) ----------------------------


def q_asof_crawl_events(spark, sf):
    """Backward as-of join (temporal.asof_join): each event attached
    to the crawl snapshot of "its" page that was in force at event
    time. Spark has no ASOF JOIN; ours is the union+window shape (one
    shuffle); DuckDB replays it with its NATIVE ASOF LEFT JOIN —
    an independent implementation agreeing value-for-value."""
    from osm_pt_validator_spark.operators.temporal import asof_join

    ev = _t(spark, sf, "events").select(
        "event_id", "ts", (F.col("event_id") % 500).alias("doc_id")
    )
    d = _t(spark, sf, "documents").select("doc_id", "text")
    snaps = d.withColumn(
        "crawl", F.explode(F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int")))
    ).select(
        "doc_id",
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 97 + F.col("crawl") * 604800
        ).alias("crawl_ts"),
        F.length("text").cast("long").alias("snap_chars"),
    )
    j = asof_join(ev, snaps, ["doc_id"], "ts", "crawl_ts")
    # Unmatched events (ts before the doc's first snapshot) keep the
    # LEFT-join semantics but surface as -1, not NULL: a nullable
    # BIGINT would be materialized as float64 by the driver's pandas
    # hop on the DuckDB side, flipping EVERY value's stringification
    # (bit us at sf0.1, where 983 events predate their first snap;
    # sf0.01 happens to have zero).
    return j.select(
        "event_id",
        "doc_id",
        F.coalesce(
            F.unix_timestamp("crawl_ts").cast("long"), F.lit(-1).cast("long")
        ).alias("crawl_epoch"),
        F.coalesce("snap_chars", F.lit(-1).cast("long")).alias("snap_chars"),
    )


SQL_ASOF_CRAWL = """
WITH ev AS (
  SELECT event_id, ts, event_id % 500 AS doc_id FROM events),
snaps AS (
  SELECT doc_id,
    to_timestamp(1704067200 + doc_id * 97 + crawl * 604800) AS crawl_ts,
    CAST(len(text) AS BIGINT) AS snap_chars
  FROM (SELECT doc_id, text, UNNEST(range(0, (doc_id % 3) + 1)) AS crawl
        FROM documents))
SELECT ev.event_id, ev.doc_id,
  COALESCE(CAST(floor(epoch(snaps.crawl_ts)) AS BIGINT), -1) AS crawl_epoch,
  COALESCE(snaps.snap_chars, -1) AS snap_chars
FROM ev ASOF LEFT JOIN snaps
  ON ev.doc_id = snaps.doc_id AND ev.ts >= snaps.crawl_ts
"""


def q_session_stats_events(spark, sf):
    """Gap-based sessionization (temporal.session_stats): 30-min idle
    gap over the events stream, per-user session rollups."""
    from osm_pt_validator_spark.operators.temporal import session_stats

    ev = _t(spark, sf, "events")
    return session_stats(
        ev, "user_id", "ts", gap_s=1800, tiebreak_cols=["event_id"]
    )


SQL_SESSION_STATS = """
WITH o AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
           OR CAST(floor(epoch(ts)) AS BIGINT)
              - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM o)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
  COUNT(*) AS n_events,
  CAST(MIN(floor(epoch(ts))) AS BIGINT) AS start_epoch,
  CAST(MAX(floor(epoch(ts))) AS BIGINT) AS end_epoch
FROM s GROUP BY 1, 2
"""


# --- round-3 additions: int8 ANN, upsert, dup spans, anomalies, mixtures ----


def q_int8_ann_topk(spark, sf):
    """Scalar int8-quantized ANN (similarity.int8_quantized_topk):
    integer dot products over floor(x*127/max|x| + 0.5) codes pick 4*k
    candidates per query (a WindowGroupLimit — losers pruned map-side,
    before the shuffle), exact float64 cosine re-ranks to top-k. The
    integer dot is exact in doubles, so the oracle replays both stages
    bit-for-bit; approx_ppm retained to measure quantization loss."""
    from osm_pt_validator_spark.operators.similarity import int8_quantized_topk

    e = _t(spark, sf, "embeddings")
    qs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = int8_quantized_topk(e, qs, k=5, rescore=4)
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("sim") * 1e6).cast("long").alias("sim_ppm"),
        F.round(F.col("approx_sim") * 1e6).cast("long").alias("approx_ppm"),
    )


SQL_INT8_ANN = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
s AS (SELECT vec_id, v,
        CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END AS sc,
        sqrt(list_dot_product(v, v)) AS nrm
      FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e)),
z AS (SELECT vec_id, v, sc, nrm,
        list_transform(v, x -> floor(x * sc + 0.5)) AS q
      FROM s),
qt AS (SELECT vec_id AS query_id, v AS qv, sc AS qsc, nrm AS qnrm, q AS qq
       FROM z WHERE vec_id < 3),
ap AS (SELECT qt.query_id, z.vec_id, z.v, qt.qv,
         round(CASE WHEN ((z.sc * qt.qsc) * z.nrm) * qt.qnrm > 0
           THEN list_dot_product(z.q, qt.qq) / (((z.sc * qt.qsc) * z.nrm) * qt.qnrm)
           ELSE 0.0 END, 6) AS approx_sim
       FROM z CROSS JOIN qt),
cand AS (SELECT query_id, vec_id, v, qv, approx_sim FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY approx_sim DESC, vec_id ASC) AS cr FROM ap)
         WHERE cr <= 20),
ex AS (SELECT query_id, vec_id, approx_sim,
         round(CASE WHEN sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)) > 0
           THEN list_dot_product(v, qv) /
                (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
           ELSE 0.0 END, 6) AS sim
       FROM cand),
r AS (SELECT query_id, vec_id, sim, approx_sim,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      FROM ex)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
  CAST(round(sim * 1e6) AS BIGINT) AS sim_ppm,
  CAST(round(approx_sim * 1e6) AS BIGINT) AS approx_ppm
FROM r WHERE rank <= 5
"""


def q_int8_ivf_topk(spark, sf):
    """IVF + int8 composition (similarity.int8_ivf_topk): int8 dots
    computed ONLY inside each query's nprobe inverted lists — the
    many-query production shape (int8_quantized_topk's crossJoin is the
    quantized-brute tier). The oracle replays centroids, assignment,
    probe cells, quantization, integer dots, and both rank stages
    bit-for-bit."""
    from osm_pt_validator_spark.operators.similarity import int8_ivf_topk

    e = _t(spark, sf, "embeddings")
    qs = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = int8_ivf_topk(e, qs, k=5, num_centroids=8, nprobe=3, rescore=4)
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("sim") * 1e6).cast("long").alias("sim_ppm"),
        F.round(F.col("approx_sim") * 1e6).cast("long").alias("approx_ppm"),
    )


def _sql_int8_ivf() -> str:
    """IVF CTE chain (as _sql_ivf_ann) + int8 scoring inside probe
    cells (as SQL_INT8_ANN), composed."""
    cos = (
        "CASE WHEN sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})) > 0 "
        "THEN list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) "
        "ELSE 0.0 END"
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cls AS (
  SELECT vec_id, v,
    ('0x' || substr(md5('ivf|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS cid
  FROM e),
cdim AS (
  SELECT cid, i AS dim, AVG(v[i]) AS mx
  FROM cls, UNNEST(range(1, len(v) + 1)) AS t(i)
  GROUP BY 1, 2),
cents AS (SELECT cid, list(mx ORDER BY dim) AS cv FROM cdim GROUP BY 1),
assigned AS (
  SELECT vec_id, v, cid FROM (
    SELECT cls.vec_id, cls.v, cents.cid,
      row_number() OVER (PARTITION BY cls.vec_id
        ORDER BY {cos.format(a="cls.v", b="cents.cv")} DESC, cents.cid ASC) AS r
    FROM cls CROSS JOIN cents)
  WHERE r = 1),
z AS (SELECT vec_id, v, cid,
        CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END AS sc,
        sqrt(list_dot_product(v, v)) AS nrm,
        list_transform(v, x -> floor(x * (CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END) + 0.5)) AS q
      FROM (SELECT vec_id, v, cid, list_max(list_transform(v, x -> abs(x))) AS m FROM assigned)),
q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q0.query_id, q0.qv, cents.cid,
      row_number() OVER (PARTITION BY q0.query_id
        ORDER BY {cos.format(a="q0.qv", b="cents.cv")} DESC, cents.cid ASC) AS r
    FROM q0 CROSS JOIN cents)
  WHERE r <= 3),
qz AS (SELECT query_id, qv, cid,
         CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END AS qsc,
         sqrt(list_dot_product(qv, qv)) AS qnrm,
         list_transform(qv, x -> floor(x * (CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END) + 0.5)) AS qq
       FROM (SELECT query_id, qv, cid, list_max(list_transform(qv, x -> abs(x))) AS m FROM probes)),
ap AS (SELECT qz.query_id, z.vec_id, z.v, qz.qv,
         round(CASE WHEN ((z.sc * qz.qsc) * z.nrm) * qz.qnrm > 0
           THEN list_dot_product(z.q, qz.qq) / (((z.sc * qz.qsc) * z.nrm) * qz.qnrm)
           ELSE 0.0 END, 6) AS approx_sim
       FROM z JOIN qz USING (cid)),
cand AS (SELECT query_id, vec_id, v, qv, approx_sim FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY approx_sim DESC, vec_id ASC) AS cr FROM ap)
         WHERE cr <= 20),
ex AS (SELECT query_id, vec_id, approx_sim,
         round({cos.format(a="v", b="qv")}, 6) AS sim
       FROM cand),
r AS (SELECT query_id, vec_id, sim, approx_sim,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
      FROM ex)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
  CAST(round(sim * 1e6) AS BIGINT) AS sim_ppm,
  CAST(round(approx_sim * 1e6) AS BIGINT) AS approx_ppm
FROM r WHERE rank <= 5
"""


def q_snapshot_upsert(spark, sf):
    """MERGE-style latest-wins upsert (crawl.snapshot_upsert): even
    event ids play the standing snapshot, odd ids the incoming batch;
    one union + one shuffle resolves the winner per user with
    inserted/updated/kept commit metrics — never a full-outer join."""
    from osm_pt_validator_spark.operators.crawl import snapshot_upsert

    e = _t(spark, sf, "events")
    snap = e.filter(F.col("event_id") % 2 == 0)
    batch = e.filter(F.col("event_id") % 2 == 1)
    merged = snapshot_upsert(
        snap, batch, ["user_id"], "ts", tiebreak_cols=["event_id"]
    )
    return merged.select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "event_id",
        "op",
    )


SQL_SNAPSHOT_UPSERT = """
WITH u AS (
  SELECT user_id, ts, event_id, 0 AS side FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT user_id, ts, event_id, 1 AS side FROM events WHERE event_id % 2 = 1),
r AS (SELECT user_id, ts, event_id, side,
        row_number() OVER (PARTITION BY user_id
          ORDER BY ts DESC, side DESC, event_id DESC) AS rn,
        MAX(1 - side) OVER (PARTITION BY user_id) AS has_snap
      FROM u)
SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch, event_id,
  CASE WHEN side = 1 AND has_snap = 1 THEN 'updated'
       WHEN side = 1 THEN 'inserted'
       ELSE 'kept' END AS op
FROM r WHERE rn = 1
"""


def q_dup_spans(spark, sf):
    """Cross-document duplicated-span pairs (dedup.
    duplicated_span_pairs): shared winnowing fingerprints certify
    shared k-token substrings; >= 2 shared fps => verbatim-span
    overlap. One fingerprint groupBy with in-bucket pair expansion;
    fps posted by > 64 docs are dropped as boilerplate (the explicit
    skew cap)."""
    from osm_pt_validator_spark.operators.dedup import duplicated_span_pairs

    d = _t(spark, sf, "documents")
    return duplicated_span_pairs(d, k=5, w=4, min_shared=2, max_postings=64)


def _sql_winnow_ctes() -> str:
    """The winnowing fingerprint CTE chain (tokenize -> 5-token window
    hashes -> ordered hash list -> min-of-4 fingerprints `f`) —
    single source of truth shared by the dup_spans and winnow_fps
    oracles, replaying winnow_fingerprints(k=5, w=4)."""
    from osm_pt_validator_spark.functions.hashing import md5_i64_sql

    toks = _SQL_TOKENS.format(t="text")
    h = md5_i64_sql("array_to_string(toks[i:i+4], ' ')")
    return f"""d AS (SELECT doc_id, {toks} AS toks FROM documents),
g AS (
  SELECT doc_id, i, {h} % 2147483647 AS h
  FROM d, UNNEST(CASE WHEN len(toks) >= 5
                      THEN range(1, len(toks) - 3) ELSE [] END) AS t(i)),
hl AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM g GROUP BY doc_id),
f AS (SELECT DISTINCT doc_id, list_min(hs[j:j+3]) AS fp
      FROM hl, UNNEST(CASE WHEN len(hs) >= 4
                           THEN range(1, len(hs) - 2) ELSE [] END) AS t(j))"""


def _sql_dup_spans() -> str:
    return f"""
WITH {_sql_winnow_ctes()},
elig AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 64)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
JOIN elig ON elig.fp = a.fp
GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


def q_event_anomalies(spark, sf):
    """Trailing-window burst detection (temporal.trailing_anomalies):
    per-event-type hourly volumes vs the 24-hour trailing window; the
    3-sigma decision is exact integer algebra over frame sums (no
    Welford-vs-two-pass float drift), z quantized to ppm."""
    from osm_pt_validator_spark.operators.temporal import trailing_anomalies

    e = _t(spark, sf, "events")
    hourly = e.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # densify: the ROWS-based trailing frame needs zero-filled buckets,
    # or quiet hours vanish and the baseline mean is biased upward
    # (trailing_anomalies docstring) — grid = every type x every hour
    bounds = hourly.agg(
        F.min("hour_epoch").alias("__mn"), F.max("hour_epoch").alias("__mx")
    )
    grid = (
        e.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("__mn"), F.col("__mx"), F.lit(3600))
            ).alias("hour_epoch"),
        )
    )
    dense = grid.join(hourly, ["event_type", "hour_epoch"], "left").select(
        "event_type",
        "hour_epoch",
        F.coalesce("n", F.lit(0).cast("long")).alias("n"),
    )
    out = trailing_anomalies(
        dense, ["event_type"], "hour_epoch", "n",
        lookback=24, min_history=8, sigmas=3,
    )
    return out.select(
        "event_type",
        "hour_epoch",
        "n",
        "hist",
        F.coalesce("z_ppm", F.lit(-999999999)).alias("z_ppm"),
        "is_anomaly",
    )


SQL_EVENT_ANOMALIES = """
WITH h AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
b AS (SELECT MIN(hour_epoch) AS mn, MAX(hour_epoch) AS mx FROM h),
grid AS (
  SELECT t.event_type, g.he AS hour_epoch
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN b, UNNEST(generate_series(b.mn, b.mx, 3600)) AS g(he)),
d AS (
  SELECT grid.event_type, grid.hour_epoch, COALESCE(h.n, 0) AS n
  FROM grid LEFT JOIN h USING (event_type, hour_epoch)),
w AS (
  SELECT event_type, hour_epoch, n,
         COUNT(*) OVER fr AS c,
         SUM(n) OVER fr AS s,
         SUM(n * n) OVER fr AS q
  FROM d
  WINDOW fr AS (PARTITION BY event_type ORDER BY hour_epoch ASC
                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT event_type, hour_epoch, n, c AS hist,
  CASE WHEN c >= 8 AND c * q - s * s > 0
       THEN CAST(round((n * c - s) / sqrt(c * q - s * s) * 1e6) AS BIGINT)
       ELSE -999999999 END AS z_ppm,
  CAST(CASE WHEN c >= 8 AND c * q - s * s > 0 AND n * c - s > 0
             AND (n * c - s) * (n * c - s) > 9 * (c * q - s * s)
       THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM w
"""


def q_funnel(spark, sf):
    """Ordered-funnel conversion (temporal.funnel_stages): per user,
    how far the view -> click -> purchase sequence progressed and when
    it completed. Greedy earliest matching via a fold over the
    time-sorted slim event array — one shuffle, no window, no Python.
    The oracle replays it as a chained min-timestamp lattice (provably
    the same answer for distinct step predicates)."""
    from osm_pt_validator_spark.operators.temporal import funnel_stages

    e = _t(spark, sf, "events")
    out = funnel_stages(
        e, ["user_id"], "ts", ["view", "click", "purchase"]
    )
    return out.select(
        "user_id",
        "stage_reached",
        F.coalesce("completed_epoch", F.lit(-1)).alias("completed_epoch"),
    )


SQL_FUNNEL = """
WITH ev AS (SELECT user_id, event_type, ts FROM events),
s0 AS (SELECT user_id, MIN(ts) AS t FROM ev WHERE event_type = 'view' GROUP BY 1),
s1 AS (SELECT ev.user_id, MIN(ev.ts) AS t
       FROM ev JOIN s0 USING (user_id)
       WHERE ev.event_type = 'click' AND ev.ts >= s0.t GROUP BY 1),
s2 AS (SELECT ev.user_id, MIN(ev.ts) AS t
       FROM ev JOIN s1 USING (user_id)
       WHERE ev.event_type = 'purchase' AND ev.ts >= s1.t GROUP BY 1),
keys AS (SELECT DISTINCT user_id FROM ev
         WHERE event_type IN ('view', 'click', 'purchase'))
SELECT k.user_id,
  CAST(CASE WHEN s2.t IS NOT NULL THEN 3
            WHEN s1.t IS NOT NULL THEN 2
            WHEN s0.t IS NOT NULL THEN 1
            ELSE 0 END AS INT) AS stage_reached,
  COALESCE(CAST(floor(epoch(s2.t)) AS BIGINT), -1) AS completed_epoch
FROM keys k
LEFT JOIN s0 USING (user_id)
LEFT JOIN s1 USING (user_id)
LEFT JOIN s2 USING (user_id)
"""


def q_exact_median(spark, sf):
    """Exact per-group median (sketches.exact_group_median): order
    totals in cents per priority, rank-window middle-row selection —
    the ground truth the log-binned sketch approximates. median_x2
    keeps even-group medians in the integer domain (engines disagree
    on float interpolation order, never on the two middle values)."""
    from osm_pt_validator_spark.operators.sketches import exact_group_median

    o = _t(spark, sf, "orders")
    return exact_group_median(
        o, ["o_orderpriority"], _cents(F.col("o_totalprice"))
    )


SQL_EXACT_MEDIAN = """
WITH v AS (SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders
           WHERE o_totalprice IS NOT NULL),
r AS (SELECT o_orderpriority, v,
        row_number() OVER (PARTITION BY o_orderpriority ORDER BY v ASC) AS rn,
        COUNT(*) OVER (PARTITION BY o_orderpriority) AS c
      FROM v)
SELECT o_orderpriority, CAST(MAX(c) AS BIGINT) AS n,
  CAST(SUM(CASE WHEN (c + 1) // 2 = (c + 2) // 2 THEN v * 2 ELSE v END)
       AS BIGINT) AS median_x2
FROM r
WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2
GROUP BY 1
"""


def q_time_weighted_avg(spark, sf):
    """Time-weighted average (temporal.time_weighted_avg): the
    irregular-sampling-correct mean — each reading weighted by how
    long it held (last-point-carried-forward). Integer cents x whole
    seconds; one window shuffle + combining agg."""
    from osm_pt_validator_spark.operators.temporal import time_weighted_avg

    return time_weighted_avg(_t(spark, sf, "events"), ["user_id", "event_type"])


SQL_TIME_WEIGHTED_AVG = """
WITH slim AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events),
iv AS (
  SELECT user_id, event_type, v,
         lead(t) OVER w - t AS dt
  FROM slim WINDOW w AS (PARTITION BY user_id, event_type ORDER BY t ASC, v ASC)),
agg AS (
  SELECT user_id, event_type, COUNT(*) AS n_intervals,
         CAST(SUM(dt) AS BIGINT) AS span_s,
         CAST(SUM(v * dt) AS BIGINT) AS wsum
  FROM iv WHERE dt IS NOT NULL GROUP BY 1, 2)
SELECT user_id, event_type, n_intervals, span_s,
  CAST(round(CAST(wsum AS DOUBLE) / CAST(span_s AS DOUBLE)) AS BIGINT)
    AS twa_x100
FROM agg WHERE span_s > 0
"""


def q_retention_cohorts(spark, sf):
    """Cohort retention matrix (temporal.retention_cohorts): users
    bucketed by first-activity week, counted in each later week they
    return — (user, bucket) deduped BEFORE the rollup so the cell
    count is a plain map-side-combining count, never count-distinct."""
    from osm_pt_validator_spark.operators.temporal import retention_cohorts

    return retention_cohorts(_t(spark, sf, "events"), bucket_days=7)


SQL_RETENTION_COHORTS = """
WITH slim AS (
  SELECT DISTINCT user_id AS u,
    CAST(floor(CAST(floor(epoch(ts) / 86400) AS BIGINT) / 7) AS BIGINT) AS b
  FROM events),
first_b AS (SELECT u, MIN(b) AS cohort FROM slim GROUP BY 1)
SELECT f.cohort AS cohort_bucket, s.b - f.cohort AS age_buckets,
       COUNT(*) AS n_users
FROM slim s JOIN first_b f USING (u)
GROUP BY 1, 2
"""


def q_exact_mad(spark, sf):
    """Exact per-group median absolute deviation (sketches.
    exact_group_mad): robust spread for outlier rules that 3-sigma
    breaks on heavy tails. Integer end to end: deviations in the x2
    domain, emitted mad_x4 = MAD*4."""
    from osm_pt_validator_spark.operators.sketches import exact_group_mad

    e = _t(spark, sf, "events")
    return exact_group_mad(e, ["event_type"], _cents(F.col("value")))


SQL_EXACT_MAD = """
WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL),
r AS (SELECT event_type, v,
        row_number() OVER (PARTITION BY event_type ORDER BY v ASC) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS c
      FROM v),
med AS (
  SELECT event_type, CAST(MAX(c) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN (c + 1) // 2 = (c + 2) // 2 THEN v * 2 ELSE v END)
         AS BIGINT) AS median_x2
  FROM r WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2 GROUP BY 1),
dev AS (
  SELECT v.event_type, abs(v.v * 2 - med.median_x2) AS d
  FROM v JOIN med USING (event_type)),
rd AS (SELECT event_type, d,
         row_number() OVER (PARTITION BY event_type ORDER BY d ASC) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS c
       FROM dev),
mad AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN (c + 1) // 2 = (c + 2) // 2 THEN d * 2 ELSE d END)
         AS BIGINT) AS mad_x4
  FROM rd WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2 GROUP BY 1)
SELECT event_type, n, median_x2, mad_x4 FROM med JOIN mad USING (event_type)
"""


def q_source_mixture(spark, sf):
    """Temperature-scaled training-mixture weights (curation.
    mixture_weights, alpha=0.5): per-source tempered shares and repeat
    factors. sqrt is IEEE-correctly-rounded and the normalizing sums
    are fixed-point integers, so every engine lands on identical ppm."""
    from osm_pt_validator_spark.operators.curation import mixture_weights

    d = _t(spark, sf, "documents")
    return mixture_weights(d, alpha=0.5)


SQL_SOURCE_MIXTURE = """
WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
w AS (SELECT source, n_docs,
        CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS wq
      FROM c),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_n,
             CAST(SUM(wq) AS BIGINT) AS tot_w FROM w)
SELECT source, n_docs,
  (n_docs * 1000000) // tot_n AS natural_ppm,
  (wq * 1000000) // tot_w AS tempered_ppm,
  CASE WHEN (n_docs * 1000000) // tot_n > 0
       THEN (((wq * 1000000) // tot_w) * 100) // ((n_docs * 1000000) // tot_n)
       ELSE -1 END AS epoch_x100
FROM w CROSS JOIN t
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark, sf_dir):
            _prep(spark)
            return fn(spark, sf_dir)

        return run

    return {
        # relational core
        "pricing_summary": wrap(q_pricing_summary),
        "top_customers": wrap(q_top_customers),
        "part_brand_stats": wrap(q_part_brand_stats),
        "customer_order_ranks": wrap(q_customer_order_ranks),
        "events_hourly": wrap(q_events_hourly),
        "event_props_stats": wrap(q_event_props_stats),
        "events_daily_pivot": wrap(q_events_daily_pivot),
        "orders_rollup": wrap(q_orders_rollup),
        "events_cube": wrap(q_events_cube),
        # validator family (SURVEY §2.2-2.4, §2.7)
        "v_tags": wrap(q_v_tags),
        "v_member_order": wrap(q_v_member_order),
        "v_node_count": wrap(q_v_node_count),
        "v_route_master": wrap(q_v_route_master),
        "v_node_checks": wrap(q_v_node_checks),
        "v_oneway_url": wrap(q_v_oneway_url),
        "parent_relations": wrap(q_parent_relations),
        # spatial (G3-G8)
        "cell_counts_events": wrap(q_cell_counts_events),
        "focal_heatmap": wrap(q_focal_heatmap),
        "zonal_stats_customers": wrap(q_zonal_stats),
        "zone_geometry": wrap(q_zone_geometry),
        "polyfill_zones": wrap(q_polyfill_zones),
        "areal_interpolation": wrap(q_areal_interpolation),
        "segment_intersections": wrap(q_segment_intersections),
        "convex_hull_membership": wrap(q_convex_hull_membership),
        "shared_segments_events": wrap(q_shared_segments),
        "od_flows_events": wrap(q_od_flows),
        "trajectory_turns": wrap(q_trajectory_turns),
        "transit_reach": wrap(q_transit_reach),
        "route_simplify": wrap(q_route_simplify),
        "hotspot_clusters_events": wrap(q_hotspot_clusters),
        "compact_cover": wrap(q_compact_cover),
        "tile_heatmap_customers": wrap(q_tile_heatmap_customers),
        "tile_pyramid_heatmap": wrap(q_tile_pyramid),
        "stop_route_proximity": wrap(q_stop_route_proximity),
        "stop_geometry_order": wrap(q_stop_geometry_order),
        "viterbi_match": wrap(q_viterbi_match),
        "decontaminate": wrap(q_decontaminate),
        "incremental_workset": wrap(q_incremental_workset),
        "tile_vector_bboxes": wrap(q_tile_vector_bboxes),
        "knn_customers_suppliers": wrap(q_knn_customers_suppliers),
        "distance_within_pairs": wrap(q_distance_within_pairs),
        "transfer_candidates": wrap(q_transfer_candidates),
        "salted_cell_join": wrap(q_salted_cell_join),
        # text / dedup / similarity
        "doc_stats": wrap(q_doc_stats),
        "doc_quality": wrap(q_doc_quality),
        "ngram_counts": wrap(q_ngram_counts),
        "pmi_collocations": wrap(q_pmi_collocations),
        "bpe_merges": wrap(q_bpe_merges),
        "bpe_tokenize": wrap(q_bpe_tokenize),
        "pack_chunks_bpe": wrap(q_pack_chunks_bpe),
        "trending_topk": wrap(q_trending_topk),
        "streaming_heatmap_replay": wrap(q_streaming_heatmap_replay),
        "streaming_sessions_replay": wrap(q_streaming_sessions_replay),
        "interval_join_replay": wrap(q_interval_join_replay),
        "passage_windows": wrap(q_passage_windows),
        "tfidf_top_terms": wrap(q_tfidf_top_terms),
        "fingerprint_groups": wrap(q_fingerprint_groups),
        "dedup_kept": wrap(q_dedup_kept),
        "corpus_curate": wrap(q_corpus_curate),
        "corpus_sample": wrap(q_corpus_sample),
        "weighted_sample": wrap(q_weighted_sample),
        "diverse_sample": wrap(q_diverse_sample),
        "corpus_split": wrap(q_corpus_split),
        "dsir_weights": wrap(q_dsir_weights),
        "bigram_lm_scores": wrap(q_bigram_lm_scores),
        "bm25_scores": wrap(q_bm25_scores),
        "curation_funnel": wrap(q_curation_funnel),
        "lang_quota": wrap(q_lang_quota),
        "pack_chunks": wrap(q_pack_chunks),
        "doc_repetition": wrap(q_doc_repetition),
        # crawl-level curation
        "crawl_latest": wrap(q_crawl_latest),
        "blocklist_pages": wrap(q_blocklist_pages),
        "domain_link_graph": wrap(q_domain_link_graph),
        "crawl_changed": wrap(q_crawl_changed),
        "domain_stats": wrap(q_domain_stats),
        "pii_scrub": wrap(q_pii_scrub),
        "para_dedup": wrap(q_para_dedup),
        "winnow_fps": wrap(q_winnow_fps),
        # mergeable sketches (operators/sketches.py)
        "kmv_distinct_users": wrap(q_kmv_distinct),
        "hll_distinct_users": wrap(q_hll_distinct),
        "cms_user_counts": wrap(q_cms_user_counts),
        "bloom_prune_events": wrap(q_bloom_prune),
        "inverted_index": wrap(q_inverted_index),
        "value_quantiles": wrap(q_value_quantiles),
        "key_skew_profile": wrap(q_key_skew_profile),
        "page_rank_orders": wrap(q_page_rank),
        # temporal
        "asof_crawl_events": wrap(q_asof_crawl_events),
        "session_stats_events": wrap(q_session_stats_events),
        "event_anomalies": wrap(q_event_anomalies),
        "exact_median": wrap(q_exact_median),
        "exact_mad": wrap(q_exact_mad),
        "retention_cohorts": wrap(q_retention_cohorts),
        "time_weighted_avg": wrap(q_time_weighted_avg),
        "funnel_stages": wrap(q_funnel),
        "snapshot_upsert": wrap(q_snapshot_upsert),
        "dup_spans": wrap(q_dup_spans),
        "source_mixture": wrap(q_source_mixture),
        "int8_ann_topk": wrap(q_int8_ann_topk),
        "int8_ivf_topk": wrap(q_int8_ivf_topk),
        "minhash_sigs": wrap(q_minhash_sigs),
        "near_dup_pairs": wrap(q_near_dup_pairs),
        "jaccard_join": wrap(q_jaccard_join),
        "split_leakage": wrap(q_split_leakage),
        "near_dup_clusters": wrap(q_near_dup_clusters),
        "dedup_clusters_kept": wrap(q_dedup_clusters_kept),
        "embedding_topk": wrap(q_embedding_topk),
        "kmeans_centroids": wrap(q_kmeans_centroids),
        "semantic_dedup": wrap(q_semantic_dedup),
        "pq_ann_topk": wrap(q_pq_ann_topk),
        "cosine_pairs": wrap(q_cosine_pairs),
        "cosine_bucketed_pairs": wrap(q_cosine_bucketed),
        "pipeline_heatmap": wrap(q_pipeline_heatmap),
        # rows-only (non-SQL-expressible)
        "way_order_verdicts": wrap(q_way_order_verdicts),
        "validate_pipeline": wrap(q_validate_pipeline),
        "pip_contained": wrap(q_pip_contained),
        "simhash_pairs": wrap(q_simhash_pairs),
        "lsh_ann_topk": wrap(q_lsh_ann_topk),
        "ivf_ann_topk": wrap(q_ivf_ann_topk),
        "verdict_heatmap": wrap(q_verdict_heatmap),
        "media_decode": wrap(q_media_decode),
        "media_features": wrap(q_media_features),
        "media_resize": wrap(q_media_resize),
        "frame_sample": wrap(q_frame_sample),
        "gap_prefilter": wrap(q_gap_prefilter),
        "mentions_extract": wrap(q_mentions_extract),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": SQL_PRICING,
        "top_customers": SQL_TOP_CUSTOMERS,
        "part_brand_stats": SQL_PART_BRAND,
        "customer_order_ranks": SQL_ORDER_RANKS,
        "events_hourly": SQL_EVENTS_HOURLY,
        "event_props_stats": SQL_EVENT_PROPS,
        "events_daily_pivot": SQL_EVENTS_PIVOT,
        "orders_rollup": SQL_ORDERS_ROLLUP,
        "events_cube": SQL_EVENTS_CUBE,
        "v_tags": SQL_V_TAGS,
        "v_member_order": SQL_V_MEMBER_ORDER,
        "v_node_count": SQL_V_NODE_COUNT,
        "v_route_master": SQL_V_ROUTE_MASTER,
        "v_node_checks": SQL_V_NODE_CHECKS,
        "v_oneway_url": _sql_v_oneway(),
        "parent_relations": SQL_PARENT_RELATIONS,
        "cell_counts_events": SQL_CELL_COUNTS,
        "focal_heatmap": SQL_FOCAL_HEATMAP,
        "zonal_stats_customers": _sql_zonal_stats(),
        "zone_geometry": _sql_zone_geometry(),
        "polyfill_zones": _sql_polyfill_zones(),
        "areal_interpolation": _sql_areal_interpolation(),
        "segment_intersections": _sql_segment_intersections(),
        "convex_hull_membership": _sql_convex_hull_membership(),
        "shared_segments_events": SQL_SHARED_SEGMENTS,
        "od_flows_events": SQL_OD_FLOWS,
        "trajectory_turns": _sql_trajectory_turns(),
        "transit_reach": _sql_transit_reach(),
        "route_simplify": _sql_route_simplify(),
        "hotspot_clusters_events": SQL_HOTSPOT_CLUSTERS,
        "compact_cover": _sql_compact_cover(),
        "tile_heatmap_customers": SQL_TILE_HEATMAP,
        "tile_pyramid_heatmap": SQL_TILE_PYRAMID,
        "stop_route_proximity": SQL_STOP_ROUTE_PROXIMITY,
        "stop_geometry_order": _sql_stop_geometry_order(),
        "viterbi_match": _sql_viterbi_match(),
        "decontaminate": SQL_DECONTAMINATE,
        "incremental_workset": SQL_INCREMENTAL_WORKSET,
        "tile_vector_bboxes": _sql_tile_vector(),
        "knn_customers_suppliers": SQL_KNN,
        "distance_within_pairs": SQL_DISTANCE_WITHIN,
        "transfer_candidates": SQL_TRANSFER_CANDIDATES,
        "salted_cell_join": SQL_SALTED_JOIN,
        "doc_stats": _sql_doc_stats(),
        "doc_quality": _sql_doc_quality(),
        "fingerprint_groups": SQL_FINGERPRINT_GROUPS,
        "dedup_kept": SQL_DEDUP_KEPT,
        "corpus_curate": _sql_corpus_curate(),
        "corpus_sample": _sql_corpus_sample(),
        "weighted_sample": _sql_weighted_sample(),
        "diverse_sample": _sql_diverse_sample(),
        "corpus_split": _sql_corpus_split(),
        "dsir_weights": _sql_dsir_weights(),
        "bigram_lm_scores": _sql_bigram_lm_scores(),
        "bm25_scores": _sql_bm25_scores(),
        "curation_funnel": _sql_curation_funnel(),
        "lang_quota": _sql_lang_quota(),
        "pack_chunks": _sql_pack_chunks(),
        "doc_repetition": _sql_doc_repetition(),
        "crawl_latest": SQL_CRAWL_LATEST,
        "blocklist_pages": SQL_BLOCKLIST_PAGES,
        "domain_link_graph": SQL_DOMAIN_LINK_GRAPH,
        "crawl_changed": SQL_CRAWL_CHANGED,
        "domain_stats": SQL_DOMAIN_STATS,
        "pii_scrub": _sql_pii_scrub(),
        "para_dedup": _sql_para_dedup(),
        "winnow_fps": _sql_winnow_fps(),
        "kmv_distinct_users": _sql_kmv_distinct(),
        "hll_distinct_users": _sql_hll_distinct(),
        "cms_user_counts": _sql_cms_user_counts(),
        "bloom_prune_events": _sql_bloom_prune(),
        "inverted_index": _sql_inverted_index(),
        "value_quantiles": _sql_value_quantiles(),
        "key_skew_profile": _sql_key_skew_profile(),
        "page_rank_orders": _sql_page_rank(),
        "asof_crawl_events": SQL_ASOF_CRAWL,
        "session_stats_events": SQL_SESSION_STATS,
        "event_anomalies": SQL_EVENT_ANOMALIES,
        "exact_median": SQL_EXACT_MEDIAN,
        "exact_mad": SQL_EXACT_MAD,
        "retention_cohorts": SQL_RETENTION_COHORTS,
        "time_weighted_avg": SQL_TIME_WEIGHTED_AVG,
        "funnel_stages": SQL_FUNNEL,
        "snapshot_upsert": SQL_SNAPSHOT_UPSERT,
        "dup_spans": _sql_dup_spans(),
        "source_mixture": SQL_SOURCE_MIXTURE,
        "int8_ann_topk": SQL_INT8_ANN,
        "int8_ivf_topk": _sql_int8_ivf(),
        "minhash_sigs": _sql_minhash(),
        "jaccard_join": _sql_jaccard_join(),
        "near_dup_pairs": _sql_near_dup(),
        "split_leakage": _sql_split_leakage(),
        "near_dup_clusters": _sql_near_dup_clusters(),
        "dedup_clusters_kept": _sql_dedup_clusters_kept(),
        "embedding_topk": SQL_EMBEDDING_TOPK,
        "kmeans_centroids": _sql_kmeans(),
        "semantic_dedup": _sql_semantic_dedup(),
        "pq_ann_topk": _sql_pq(),
        "cosine_pairs": SQL_COSINE_PAIRS,
        "cosine_bucketed_pairs": _sql_cosine_bucketed(),
        "mentions_extract": SQL_MENTIONS,
        "pipeline_heatmap": _sql_pipeline_heatmap(),
        "lsh_ann_topk": _sql_lsh_ann(),
        "simhash_pairs": _sql_simhash(),
        "ivf_ann_topk": _sql_ivf_ann(),
        "media_decode": SQL_MEDIA_DECODE,
        "media_features": SQL_MEDIA_FEATURES,
        "media_resize": SQL_MEDIA_RESIZE,
        "frame_sample": SQL_FRAME_SAMPLE,
        "gap_prefilter": _sql_gap_prefilter(),
        "pip_contained": _sql_pip(),
        "ngram_counts": _sql_ngram_counts(),
        "pmi_collocations": _sql_pmi_collocations(),
        "bpe_merges": _sql_bpe_merges(),
        "bpe_tokenize": _sql_bpe_tokenize(),
        "pack_chunks_bpe": _sql_pack_chunks_bpe(),
        "trending_topk": _sql_trending_topk(),
        "streaming_heatmap_replay": _sql_streaming_heatmap_replay(),
        "streaming_sessions_replay": _sql_streaming_sessions_replay(),
        "interval_join_replay": _sql_interval_join_replay(),
        "passage_windows": _sql_passage_windows(),
        "tfidf_top_terms": _sql_tfidf(),
        # golden VALUES oracles transcribed from the reference's test
        # expectations (the automaton itself is not SQL-expressible,
        # but its expected outputs on the fixture cases are constants)
        "way_order_verdicts": _sql_way_order_verdicts(),
        "validate_pipeline": SQL_VALIDATE_PIPELINE,
        "verdict_heatmap": _sql_verdict_heatmap(),
    }
