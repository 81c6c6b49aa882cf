"""Spark integration parity: the full pipeline over fixture tables must
reproduce the reference's verdicts for every ported test case."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_pt_validator_spark.config import ValidationConfig
from osm_pt_validator_spark.fixtures import (
    WAY_ORDER_CASES,
    member,
    nodes_df,
    relation_row,
    relations_df,
    route_tags,
    stop_members,
    way_members,
    ways_df,
)
from osm_pt_validator_spark.operators.pipeline import (
    validate_all,
    validate_route_relations,
)


def sorted_verdicts(vdf, relation_id=None):
    if relation_id is not None:
        vdf = vdf.filter(F.col("relation_id") == relation_id)
    rows = vdf.orderBy("relation_id", "stage_no", "seq").collect()
    return [(r.url, r.message) for r in rows]


def make_valid_route_members(*way_ids):
    """stops first (valid member order), then route ways."""
    ways_nodes = {1: [100, 101], 2: [102, 101], 3: [102, 103, 105, 104]}
    return stop_members(100, 102) + way_members(*way_ids)


@pytest.fixture(scope="module")
def dims(spark):
    return nodes_df(spark), ways_df(spark)


def run_routes(spark, dims, rows, config=ValidationConfig()):
    nodes, ways = dims
    rels = relations_df(spark, rows)
    verdicts, errors = validate_route_relations(rels, nodes, ways, config)
    return verdicts, errors


def test_way_order_cases_via_pipeline(spark, dims):
    """All 16 way-order cases at once, as distinct relations in one
    DataFrame — exercises the grouped Arrow path with real parallelism."""
    rows = []
    ignore_all: set[int] = set()
    for i, (name, way_ids, ignore, _expected) in enumerate(WAY_ORDER_CASES):
        # case 16 needs config ignore list; run it separately below
        if ignore:
            continue
        rows.append(
            relation_row(9000 + i, stop_members(100, 102) + way_members(*way_ids), route_tags())
        )
    verdicts, errors = run_routes(spark, dims, rows)
    assert errors.count() == 0
    by_rel: dict[int, list] = {}
    for r in verdicts.filter(F.col("stage_no").isin(4, 5)).orderBy("relation_id", "stage_no", "seq").collect():
        by_rel.setdefault(r.relation_id, []).append((r.url, r.message))
    for i, (name, way_ids, ignore, expected) in enumerate(WAY_ORDER_CASES):
        if ignore:
            continue
        assert by_rel.get(9000 + i, []) == expected, name


def test_way_order_ignore_config(spark, dims):
    name, way_ids, ignore, expected = WAY_ORDER_CASES[-1]
    assert ignore == [7]
    rows = [relation_row(9100, stop_members(100, 102) + way_members(*way_ids), route_tags())]
    verdicts, _ = run_routes(
        spark, dims, rows, ValidationConfig(ignore_traversal_direction_ways=(7,))
    )
    assert sorted_verdicts(verdicts.filter(F.col("stage_no").isin(4, 5))) == []


def test_stop_order_integration(spark, dims):
    """Stops out of order on a continuous route: ways 1(rev),2(rev)
    gives node sequence 101,100 ... — use ways 3 then 2: nodes
    102,103,105,104 then ... simpler: ways 1,2 reversed orientation.
    Use way 3 alone is 1 way; need >=2 stops on route."""
    # route: way 3 (102,103,105,104) forward after seed tbc;
    # stops 105 then 103 -> 103 is incorrectly ordered
    members = stop_members(105, 103) + way_members(3, 4)
    rows = [relation_row(9200, members, route_tags())]
    verdicts, _ = run_routes(spark, dims, rows)
    got = sorted_verdicts(verdicts.filter(F.col("stage_no") == 6))
    assert got == [("https://www.openstreetmap.org/node/103", "stop is incorrectly ordered")]


def test_stop_order_gated_on_way_errors(spark, dims):
    # gap in ways (1,3) => way-order verdict => stop order must NOT run
    members = stop_members(105, 103) + way_members(1, 3)
    rows = [relation_row(9201, members, route_tags())]
    verdicts, _ = run_routes(spark, dims, rows)
    assert sorted_verdicts(verdicts.filter(F.col("stage_no") == 6)) == []
    assert len(sorted_verdicts(verdicts.filter(F.col("stage_no") == 4))) == 1


def test_ptv2_gate_short_circuits(spark, dims):
    rows = [
        relation_row(9300, way_members(1, 3), route_tags(**{"public_transport:version": "1"}))
    ]
    verdicts, _ = run_routes(spark, dims, rows)
    got = sorted_verdicts(verdicts)
    assert got == [
        (
            "https://www.openstreetmap.org/relation/9300",
            "tag 'public_transport:version' should have value '2'",
        )
    ]


def test_re_tags_missing_and_wrong_type(spark, dims):
    tags = route_tags()
    del tags["from"]
    del tags["operator"]
    tags["type"] = "multipolygon"
    rows = [relation_row(9301, stop_members(100, 102) + way_members(1, 2), tags)]
    verdicts, _ = run_routes(spark, dims, rows)
    got = sorted_verdicts(verdicts.filter(F.col("stage_no") == 1))
    url = "https://www.openstreetmap.org/relation/9301"
    assert got == [
        (url, "missing tag 'from'"),
        (url, "missing tag 'operator'"),
        (url, "tag 'type' should have value 'route'"),
    ]


def test_member_order_cases(spark, dims):
    cases = [
        # (id, members, expected (url,message) list for stage 2)
        (9400, [member("node", 100, "stop"), member("way", 1)], []),
        (
            9401,
            [member("way", 1), member("node", 100, "stop"), member("way", 2)],
            [
                ("", "route way appears before stop/platform"),
                ("", "stop/platform appears after route ways"),
            ],
        ),
        (
            9402,
            [member("node", 100, ""), member("way", 1)],
            [
                ("https://www.openstreetmap.org/node/100", "stop/platform with empty role"),
                ("", "route way appears before stop/platform"),
                ("", "route does not contain a stop/platform"),
            ],
        ),
        (
            9403,
            [member("way", 1)],
            [
                ("", "route way appears before stop/platform"),
                ("", "route does not contain a stop/platform"),
            ],
        ),
        (
            9404,
            [member("node", 100, "platform_exit_only")],
            [("", "route does not contain any route ways")],
        ),
        (
            9405,
            [member("node", 100, "stop_entry_only"), member("way", 1, "forward")],
            # stop precedes the way, so no order flags — only the
            # unexpected-role verdict (route_relation_test.go "unexpected
            # way role")
            [
                ("https://www.openstreetmap.org/way/1", "element has unexpected role 'forward'"),
            ],
        ),
    ]
    rows = [relation_row(rid, ms, route_tags()) for rid, ms, _ in cases]
    verdicts, _ = run_routes(spark, dims, rows)
    for rid, _ms, expected in cases:
        got = sorted_verdicts(verdicts.filter(F.col("stage_no") == 2), rid)
        assert got == expected, rid


def test_member_order_stop_after_route_platform(spark, dims):
    # reference case "stop after ways": stop, way, platform
    ms = [member("node", 100, "stop"), member("way", 1), member("node", 102, "platform")]
    rows = [relation_row(9406, ms, route_tags())]
    verdicts, _ = run_routes(spark, dims, rows)
    got = sorted_verdicts(verdicts.filter(F.col("stage_no") == 2), 9406)
    assert got == [("", "stop/platform appears after route ways")]


def test_node_checks_platform_and_stop(spark, dims):
    from osm_pt_validator_spark.fixtures import nodes_df

    nodes = nodes_df(
        spark,
        extra=[
            # bad platform: wrong public_transport, disused, bad highway,
            # no name, no naptan
            (300, {"public_transport": "stop_position", "disused:highway": "yes", "highway": "primary"}),
            # bad stop: missing public_transport, bus=no
            (301, {"bus": "no"}),
        ],
    )
    ways = dims[1]
    ms = [
        member("node", 300, "platform"),
        member("node", 301, "stop"),
        member("way", 1),
        member("way", 2),
    ]
    # need another stop to avoid stop-order interactions? 301 is a stop
    # but not on ways 1,2... stop order needs >=2 stops; only 1 here.
    rels = relations_df(spark, [relation_row(9500, ms, route_tags())])
    verdicts, errors = validate_route_relations(
        rels, nodes, ways, ValidationConfig(naptan_platform_tags=True)
    )
    got = sorted_verdicts(verdicts.filter(F.col("stage_no") == 3), 9500)
    u300 = "https://www.openstreetmap.org/node/300"
    u301 = "https://www.openstreetmap.org/node/301"
    assert got == [
        (u300, "node should have public_transport=platform"),
        (u300, "node has disused:highway tag"),
        (u300, "node should have highway=bus_stop"),
        (u300, "node is missing name tag"),
        (u300, "missing tag 'naptan:AtcoCode'"),
        (u301, "node is missing public_transport tag"),
        (u301, "node should have bus=yes"),
    ]


def test_missing_node_aborts_later_stages(spark, dims):
    nodes, ways = dims
    ms = [
        member("node", 99999, "stop"),
        member("node", 100, "stop"),
        member("way", 1),
        member("way", 3),
        member("way", 77777),
    ]
    rels = relations_df(spark, [relation_row(9501, ms, route_tags())])
    verdicts, errors = validate_route_relations(
        rels, nodes, ways, ValidationConfig(minimum_node_members=5)
    )
    errs = [(r.relation_id, r.message) for r in errors.collect()]
    # the node-load error aborts before any way is loaded: no
    # "failed to load way 77777" (stage -1 is filtered with stages 3-7)
    assert errs == [(9501, "failed to load node 99999")]
    # stages 3+ discarded (route_relation.go:29-33): ways 1,3 have a gap
    # and 2 node members < 5 would fail stage 7, but neither may be
    # reported. Stages 0-2 are clean for this relation, so it ends with
    # zero verdicts, only the engine error.
    assert verdicts.filter(F.col("stage_no") >= 3).count() == 0
    assert sorted_verdicts(verdicts, 9501) == []


def test_missing_way_engine_error_and_stop_fallout(spark, dims):
    nodes, ways = dims
    ms = stop_members(100, 102) + way_members(1, 77777)
    rels = relations_df(spark, [relation_row(9502, ms, route_tags())])
    verdicts, errors = validate_route_relations(rels, nodes, ways, ValidationConfig())
    errs = [(r.relation_id, r.message) for r in errors.collect()]
    assert errs == [(9502, "failed to load way 77777")]
    # reference quirk: way-load failure leaves wayDirects empty but stop
    # order still runs -> every stop "not on route" (route_relation.go:38-41)
    got = sorted_verdicts(verdicts.filter(F.col("stage_no") == 6), 9502)
    assert got == [
        ("https://www.openstreetmap.org/node/100", "stop is not on route"),
        ("https://www.openstreetmap.org/node/102", "stop is not on route"),
    ]


def test_node_count(spark, dims):
    rows = [relation_row(9600, way_members(1, 2), route_tags())]
    verdicts, _ = run_routes(spark, dims, rows, ValidationConfig(minimum_node_members=1))
    got = sorted_verdicts(verdicts.filter(F.col("stage_no") == 7), 9600)
    assert got == [
        (
            "https://www.openstreetmap.org/relation/9600",
            "relation does not have enough node members",
        )
    ]
    # min=0 disables (node_count.go:9-11)
    verdicts2, _ = run_routes(spark, dims, rows, ValidationConfig(minimum_node_members=0))
    assert sorted_verdicts(verdicts2.filter(F.col("stage_no") == 7), 9600) == []


def test_route_master_dispatch(spark, dims):
    nodes, ways = dims
    master_tags = {"type": "route_master", "name": "X", "ref": "X"}  # missing operator
    route1 = relation_row(9701, stop_members(100, 102) + way_members(1, 2), route_tags())
    master = relation_row(
        9700,
        [member("relation", 9701), member("way", 1)],
        master_tags,
    )
    rels = relations_df(spark, [master, route1])
    verdicts, errors = validate_all(rels, nodes, ways, ValidationConfig(minimum_route_variants=2))
    got = sorted_verdicts(verdicts, 9700)
    u = "https://www.openstreetmap.org/relation/9700"
    assert got == [
        ("https://www.openstreetmap.org/way/1", "member is not a relation"),
        (u, "not enough route variants"),
        (u, "missing tag 'operator'"),
    ]
    # member route validated as a route relation: valid => no verdicts
    assert sorted_verdicts(verdicts, 9701) == []


def test_route_master_gone_member(spark, dims):
    nodes, ways = dims
    master = relation_row(
        9710,
        [member("relation", 88888)],
        {"type": "route_master", "name": "X", "ref": "X", "operator": "Op"},
    )
    rels = relations_df(spark, [master])
    verdicts, _ = validate_all(rels, nodes, ways, ValidationConfig())
    got = sorted_verdicts(verdicts, 88888)
    assert got == [("", "relation no longer exists")]


def test_valid_route_produces_zero_verdicts(spark, dims):
    # fully valid: stops 102,104 on oriented ways 3 (forward after fill)
    members = stop_members(102, 104) + way_members(3, 4)
    rows = [relation_row(9800, members, route_tags())]
    verdicts, errors = run_routes(spark, dims, rows)
    assert sorted_verdicts(verdicts, 9800) == []
    assert errors.count() == 0


def test_rendered_verdict_strings_match_go_println(spark, dims):
    """Byte-parity with the reference's printed output: log.Println(ve)
    renders ValidationError.String() = "{message} - {url}"
    (validator.go:31-33; scripts/validate/main.go:183). Includes the
    empty-URL case, whose Go form keeps the trailing ' - '."""
    from osm_pt_validator_spark.operators.pipeline import collect_invalid

    nodes, ways = dims
    rows = [
        # ways 1,3,2 : way 3 incorrectly ordered (way_order_test.go case)
        relation_row(9901, stop_members(100, 102) + way_members(1, 3, 2), route_tags()),
        # master referencing a gone relation -> empty-URL verdict
        relation_row(
            9902,
            [member("relation", 77777), member("relation", 77778)],
            {"type": "route_master", "name": "X", "ref": "X", "operator": "Op"},
        ),
    ]
    verdicts, _ = validate_all(relations_df(spark, rows), nodes, ways, ValidationConfig())
    inv = {r.relation_id: r.rendered for r in collect_invalid(verdicts).collect()}
    assert inv[9901] == [
        "ways are incorrectly ordered - https://www.openstreetmap.org/way/3"
    ]
    assert inv[77777] == ["relation no longer exists - "]
    assert inv[77778] == ["relation no longer exists - "]


def test_nested_route_master_member_validated_as_route(spark, dims):
    """A route_master whose member is ITSELF a route_master: the
    reference validates every master member as a route, unconditionally
    (scripts/validate/main.go:147-160 calls validateRoute regardless of
    the member's own type tag), so the nested master gets route-stage
    verdicts (here: the PTv2 gate fires — master tags carry no
    public_transport:version) IN ADDITION to its own master validation
    from being a route_master in the input set."""
    nodes, ways = dims
    inner = relation_row(
        9721,
        [member("relation", 9722)],
        {"type": "route_master", "name": "I", "ref": "I", "operator": "Op"},
    )
    outer = relation_row(
        9720,
        [member("relation", 9721)],
        {"type": "route_master", "name": "O", "ref": "O", "operator": "Op"},
    )
    route = relation_row(9722, stop_members(102, 104) + way_members(3, 4), route_tags())
    rels = relations_df(spark, [outer, inner, route])
    verdicts, _ = validate_all(
        rels, nodes, ways, ValidationConfig(minimum_route_variants=2)
    )
    from osm_pt_validator_spark.operators.set_stages import MSG_PTV2

    # outer master: only its own master validation (1 variant < 2)
    assert [m for _, m in sorted_verdicts(verdicts, 9720)] == [
        "not enough route variants"
    ]
    # nested master: master validation AND route validation (PTv2 gate)
    assert sorted(m for _, m in sorted_verdicts(verdicts, 9721)) == sorted(
        ["not enough route variants", MSG_PTV2]
    )
    # the nested master's own member is still fanned out and valid
    assert sorted_verdicts(verdicts, 9722) == []


def test_validate_incremental_only_changed(spark, dims):
    """Incremental validation: unchanged relations produce no verdicts
    (skipped entirely), changed/new ones are validated identically to a
    full run, and gone relations get the 410-parity verdict."""
    from osm_pt_validator_spark.operators.incremental import (
        incremental_workset,
        validate_incremental,
    )

    nodes, ways = dims
    # old snapshot: r1 valid, r2 misordered, r4 valid (deleted later)
    old = relations_df(spark, [
        relation_row(1, stop_members(102, 104) + way_members(3, 4), route_tags()),
        relation_row(2, stop_members(102, 104) + way_members(1, 3), route_tags()),
        relation_row(4, stop_members(102, 104) + way_members(3, 4), route_tags()),
    ])
    # new snapshot: r1 untouched, r2 edited (still misordered), r3 new
    new = relations_df(spark, [
        relation_row(1, stop_members(102, 104) + way_members(3, 4), route_tags()),
        relation_row(2, stop_members(104, 102) + way_members(1, 3), route_tags()),
        relation_row(3, stop_members(102, 104) + way_members(1, 3), route_tags()),
    ])

    ws = {r.relation_id: r.status for r in incremental_workset(old, new).collect()}
    assert ws == {1: "unchanged", 2: "changed", 3: "new", 4: "gone"}

    verdicts, errors, _ = validate_incremental(old, new, nodes, ways, ValidationConfig())
    got = verdicts.collect()
    by_rel = {}
    for r in got:
        by_rel.setdefault(r.relation_id, set()).add(r.message)
    # unchanged r1 skipped entirely; gone r4 gets the 410 verdict
    assert 1 not in by_rel
    assert by_rel[4] == {"relation no longer exists"}

    # changed/new relations match the full-run verdicts exactly
    full_v, full_e = validate_all(new, nodes, ways, ValidationConfig())
    full = sorted(
        (r.relation_id, r.stage_no, r.seq, r.url, r.message)
        for r in full_v.collect() if r.relation_id in (2, 3)
    )
    inc = sorted(
        (r.relation_id, r.stage_no, r.seq, r.url, r.message)
        for r in got if r.relation_id in (2, 3)
    )
    assert inc == full and full, "changed subset must reproduce full-run verdicts"
    assert errors.count() == full_e.filter(F.col("relation_id").isin(2, 3)).count()
