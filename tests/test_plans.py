"""Physical-plan assertions — the 100 TB contract, checked in CI.

Correctness tests prove the operators compute the right answer; these
prove the *plans* are the ones we'd accept on a 1000-executor cluster:
column pruning reaches the scan (a pages scan that reads the html BLOB
column for a text-only query is wrong at any scale), filters are pushed
into parquet, small dims broadcast instead of shuffling the fact side,
and the set-based validator stages stay inside whole-stage codegen.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    """A small on-disk pages table (url, warc_ts, html, text, lang) so
    scan-level pruning/pushdown is observable (in-memory relations
    have no scan to prune)."""
    path = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    pid = F.col("id")
    (
        spark.range(0, 100)
        .select(
            F.format_string("https://x.org/p/%d", pid).alias("url"),
            F.to_timestamp(F.lit("2026-01-01")).alias("warc_ts"),
            F.encode(F.format_string("<p>b%d</p>", pid), "utf-8").alias("html"),
            F.format_string("STOP:%d@55.9000,-3.2000", pid).alias("text"),
            F.lit("en").alias("lang"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def test_html_column_pruned_for_text_queries(spark, pages_path):
    """extract_mentions(from_html=False) must never read the html BLOB:
    ReadSchema at the scan excludes it (at 100 TB html is ~95% of
    bytes)."""
    from osm_pt_validator_spark.sources.pages import extract_mentions

    pages = spark.read.parquet(pages_path)
    plan = plan_of(extract_mentions(pages).groupBy("kind").count())
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert all("html" not in ln for ln in scan), scan


def test_filter_pushed_to_parquet_scan(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    plan = plan_of(pages.filter(F.col("lang") == "en").select("url"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_broadcast_join_for_small_dim(spark, pages_path):
    """broadcast_cell_join must plan a BroadcastHashJoin — the probe
    (fact) side must not shuffle."""
    from osm_pt_validator_spark.spatial.joins import broadcast_cell_join

    # coords must be column-derived: literal coords constant-fold the
    # equi-condition away and the planner degenerates to a nested loop
    probe = spark.read.parquet(pages_path).select(
        "url",
        (F.lit(55.9) + F.length("url") * 1e-5).alias("lat"),
        F.lit(-3.2).alias("lon"),
    )
    build = spark.range(10).select(
        F.col("id").alias("stop_id"),
        (F.lit(55.9) + F.col("id") * 1e-4).alias("lat"),
        F.lit(-3.2).alias("lon"),
    )
    plan = plan_of(broadcast_cell_join(probe, build))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_salted_join_is_equi_not_cartesian(spark):
    """The salted join must remain a hash/sort-merge EQUI-join on
    (key, salt) — never a BroadcastNestedLoop/cartesian."""
    from osm_pt_validator_spark.spatial.joins import salted_equi_join

    probe = spark.range(1000).select(
        F.col("id").alias("point_id"), (F.col("id") % 7).alias("cell")
    )
    build = spark.range(50).select(
        F.col("id").alias("stop_id"), (F.col("id") % 7).alias("cell")
    )
    hot = spark.range(2).select(F.col("id").alias("cell"))
    plan = plan_of(
        salted_equi_join(probe, build, "cell", salt_factor=4, hot=hot,
                         probe_salt_col="point_id")
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.fixture(scope="module")
def route_relations(spark):
    from osm_pt_validator_spark.fixtures import (
        relation_row,
        relations_df,
        route_tags,
        stop_members,
        way_members,
    )

    return relations_df(
        spark,
        [relation_row(1, stop_members(100, 102) + way_members(1, 2), route_tags())],
    )


def test_set_based_validators_whole_stage_codegen(route_relations):
    """The fused set-based verdict pass (tags/member-order/node-count)
    is pure column algebra — its plan must contain WholeStageCodegen
    and no Python evals (BatchEvalPython/ArrowEvalPython)."""
    from osm_pt_validator_spark.config import ValidationConfig
    from osm_pt_validator_spark.operators.set_stages import set_based_verdicts

    plan = plan_of(set_based_verdicts(route_relations, ValidationConfig()))
    # formatted explain marks codegen'd operators with a leading '*'
    assert "* Project" in plan or "* Scan" in plan, plan
    assert "EvalPython" not in plan, plan


def test_route_masters_single_pass(route_relations):
    """validate_route_masters builds its per-member and tail verdicts
    in one verdict array: one scan of its input, no Union of branches."""
    import re

    from osm_pt_validator_spark.operators.route_master import validate_route_masters

    plan = plan_of(validate_route_masters(route_relations, 2))
    scans = re.findall(r"^\(\d+\) \S*Scan", plan, re.M)
    assert len(scans) == 1, plan
    assert "Union" not in plan, plan


def test_validate_all_no_route_dedup_shuffle(spark, tmp_path):
    """validate_all's route set is a disjoint union (every route, plus
    every OTHER relation a route master lists): no dedup aggregate, so
    no Sort/SortAggregate anywhere in the plan, and a route that is
    also a master member is still validated exactly once. The tables
    go through parquet so the planner sees their sizes, as in a job."""
    import re

    from osm_pt_validator_spark.config import ValidationConfig, config_col
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
    from osm_pt_validator_spark.operators.pipeline import (
        validate_all,
        validate_route_relations,
    )

    # relation 1 (ways 1, 3 leave a gap) is a route AND a master member
    rels = relations_df(
        spark,
        [
            relation_row(1, stop_members(100, 102) + way_members(1, 3), route_tags()),
            relation_row(2, stop_members(102, 104) + way_members(3, 4), route_tags()),
            relation_row(
                9,
                [member("relation", 1)],
                {"type": "route_master", "name": "M", "ref": "M", "operator": "Op"},
            ),
        ],
    )

    def on_disk(name, df):
        df.write.parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    rels = on_disk("relations", rels)
    nodes, ways = on_disk("nodes", nodes_df(spark)), on_disk("ways", ways_df(spark))
    verdicts, _ = validate_all(rels, nodes, ways, ValidationConfig())
    plan = plan_of(verdicts)
    assert not re.search(r"^\(\d+\) Sort(Aggregate)?\b", plan, re.M), plan

    def rows(vdf):
        return sorted(
            tuple(r) for r in vdf.filter(F.col("relation_id") == 1).collect()
        )

    once, _ = validate_route_relations(
        rels.filter(F.col("relation_id") == 1), nodes, ways
    )
    assert rows(once), "the shared route must have verdicts to count"

    # one row per relation: each table is scanned once, and one
    # MapInPandas emits every verdict
    plan = plan_of(once)
    scanned = re.findall(r"^Location: \w+ \[\S*/(\w+)\]", plan, re.M)
    assert sorted(scanned) == ["nodes", "relations", "ways"], plan
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1, plan
    assert rows(verdicts) == rows(once)

    # a work list holding master 9 and its member route 1: route 1 is
    # requested AND listed, and is still validated once, without a
    # dedup shuffle
    work = spark.createDataFrame([(9,), (1,)], "relation_id long")
    listed, _ = validate_all(rels, nodes, ways, ValidationConfig(), requested=work)
    plan = plan_of(listed)
    assert not re.search(r"^\(\d+\) Sort(Aggregate)?\b", plan, re.M), plan
    assert rows(listed) == rows(once)

    # a work list under three distinct configs is still one plan: one
    # member ⋈ element join, one group and one MapInPandas, and route 1
    # (requested under two configs, listed by master 9 under a third)
    # is validated once per config
    def item(rid, cfg):
        return spark.range(rid, rid + 1).toDF("relation_id").withColumn("config", config_col(cfg))

    configs = [
        ValidationConfig(),
        ValidationConfig(naptan_platform_tags=True),
        ValidationConfig(minimum_node_members=1, ignore_traversal_direction_ways=(7,)),
    ]
    work = item(9, configs[0]).unionByName(item(1, configs[1])).unionByName(item(1, configs[2]))
    three, _ = validate_all(rels, nodes, ways, ValidationConfig(), requested=work)
    plan = plan_of(three)
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1, plan
    assert plan.count("Join type: LeftOuter") == 1, plan
    assert len(re.findall(r"^\(\d+\) ObjectHashAggregate", plan, re.M)) == 2, plan
    assert rows(three) == sorted(rows(once) * 3)


def test_knn_probe_side_broadcasts_ring_dim(spark):
    """kNN: the exploded k-ring probe joins the stops dim; with a small
    dim the planner must pick broadcast (checked via explain), keeping
    the big mention side shuffle-free before the re-rank window."""
    from osm_pt_validator_spark.spatial.knn import knn_join

    mentions = spark.range(2000).select(
        F.col("id").alias("mention_id"),
        (F.lit(55.9) + (F.col("id") % 100) * 1e-4).alias("lat"),
        (F.lit(-3.2) + (F.col("id") % 100) * 1e-4).alias("lon"),
    )
    stops = spark.range(50).select(
        F.col("id").alias("stop_id"),
        (F.lit(55.9) + F.col("id") * 2e-4).alias("lat"),
        (F.lit(-3.2) + F.col("id") * 2e-4).alias("lon"),
    )
    plan = plan_of(knn_join(mentions, stops, "mention_id", "stop_id", k=2, res=14, ring=1))
    assert "BroadcastHashJoin" in plan, plan


def test_knn_non_broadcast_path_is_salted(spark):
    """kNN with broadcast_build=False (build side too big to broadcast)
    must route the cell equi-join through salted_equi_join: the plan
    carries the salt explode (Generate of the replication sequence) and
    joins on (cell, salt) — never a cartesian/nested-loop, and never a
    raw single-key shuffle a Zipfian hot cell would collapse onto one
    reducer."""
    from osm_pt_validator_spark.spatial.knn import knn_join

    mentions = spark.range(2000).select(
        F.col("id").alias("mention_id"),
        (F.lit(55.9) + (F.col("id") % 100) * 1e-4).alias("lat"),
        (F.lit(-3.2) + (F.col("id") % 100) * 1e-4).alias("lon"),
    )
    stops = spark.range(500).select(
        F.col("id").alias("stop_id"),
        (F.lit(55.9) + F.col("id") * 2e-4).alias("lat"),
        (F.lit(-3.2) + F.col("id") * 2e-4).alias("lon"),
    )
    df = knn_join(
        mentions, stops, "mention_id", "stop_id", k=2, res=14, ring=1,
        broadcast_build=False, hot_threshold=10,
    )
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "explode(__salts" in plan, plan  # build-side salt replication
    assert "__salt" in plan, plan
    # and the result is still a correct kNN: every probe row keeps <=k
    counts = df.groupBy("mention_id").count().agg(F.max("count")).collect()
    assert counts[0][0] <= 2


def test_dim_joins_broadcast_small_and_hash_large(spark, tmp_path):
    """The member ⋈ element join (nodes ∪ ways, keyed by type and ref)
    carries NO join hint (a SHUFFLE_HASH hint resolves before size-based
    selection and would forgo broadcast even for a 10-row dim). Intended
    ladder: small parquet-backed dim (the deployment shape, with size
    stats) -> BroadcastHashJoin; broadcast disabled (stand-in for a huge
    dim) -> ShuffledHashJoin via preferSortMergeJoin=false, NOT
    SortMergeJoin."""
    from osm_pt_validator_spark.fixtures import nodes_df, ways_df
    from osm_pt_validator_spark.operators.members import (
        member_rows,
        node_elements,
        way_elements,
    )

    members = spark.range(200_000).select(
        F.col("id").alias("relation_id"),
        F.lit(0).cast("int").alias("member_idx"),
        F.when(F.col("id") % 2 == 0, "node").otherwise("way").alias("type"),
        (F.col("id") % 100 + 100).alias("ref"),
        F.when(F.col("id") % 2 == 0, "stop").otherwise("").alias("role"),
    )
    nodes_df(spark).write.parquet(str(tmp_path / "nodes.parquet"))
    ways_df(spark).write.parquet(str(tmp_path / "ways.parquet"))
    nodes = spark.read.parquet(str(tmp_path / "nodes.parquet"))
    ways = spark.read.parquet(str(tmp_path / "ways.parquet"))

    def joined():
        return member_rows(members, node_elements(nodes), way_elements(ways))

    plan = plan_of(joined())
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan

    # half the dim's size estimate (~40 KB here: the projected columns'
    # default sizes inflate the two tables' ~15 KB of files) rules out
    # broadcast, while the SHJ gate (size < threshold * 4 partitions)
    # still admits it — i.e. the "dim too big to broadcast but
    # partition-small" regime where preferSortMergeJoin=false matters
    dim = node_elements(nodes).unionByName(way_elements(ways), allowMissingColumns=True)
    estimate = dim._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(estimate // 2))
        plan = plan_of(joined())
        assert "ShuffledHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bigram_lm_tables_broadcast(spark):
    """bigram_lm_scores: at fixture scale both vocabulary-bounded LM
    tables (bigram counts, prefix counts) join the doc side by
    broadcast, never by sort-merge."""
    import re

    from osm_pt_validator_spark.operators.text import bigram_lm_scores

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    target = docs.filter(F.col("doc_id") % 10 == 0)
    plan = plan_of(bigram_lm_scores(docs, target))
    # the 1-row vocabulary frame is crossJoined (a nested-loop join);
    # the two equi-joins on g and w1 are the LM tables
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_exact_dedup_single_scan_single_shuffle(spark):
    """exact_dedup is the FIRST pass of the 100 TB pipeline: it must
    scan the corpus exactly once (window row_number, not groupBy +
    self-join which computes the fingerprinted subtree twice) and
    shuffle exactly once (on fp)."""
    from osm_pt_validator_spark.operators.dedup import exact_dedup

    import re

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = plan_of(exact_dedup(docs))
    # count node DETAIL headers ("(n) Scan parquet") — the formatted
    # plan also repeats each operator once in the tree summary
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 1, plan
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, plan
    # bonus of the window form: Spark pushes a WindowGroupLimit below
    # the exchange, so each map task pre-prunes to 1 row per fp
    assert "WindowGroupLimit" in plan, plan


def test_lsh_candidate_pairs_single_scan(spark):
    """minhash_lsh_pairs, simhash_near_duplicates and
    cosine_near_dup_pairs generate candidates with ONE groupBy +
    in-bucket pair expansion, not a self-equi-join: Spark's self-join
    disambiguation gives one side fresh expression ids, so
    ReuseExchange never fires and the join form scans the corpus +
    computes the signature pipeline TWICE. These are corpus-wide
    passes — a doubled scan is the single most expensive redundancy
    available at 100 TB."""
    import re

    from osm_pt_validator_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_duplicates,
    )
    from osm_pt_validator_spark.operators.similarity import cosine_near_dup_pairs

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    embs = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    for df in (
        minhash_lsh_pairs(docs),
        simhash_near_duplicates(docs),
        cosine_near_dup_pairs(embs, dim=8),
    ):
        plan = plan_of(df)
        scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
        assert len(scans) == 1, plan


def test_latest_crawl_window_group_limit(spark):
    """latest_crawl: the row_number()=1 filter must compile to a
    WindowGroupLimit pushed below the url exchange (each map task
    pre-prunes to one candidate per url before shuffling) and the
    multi-crawl corpus must be scanned exactly once."""
    import re

    from osm_pt_validator_spark.operators.crawl import latest_crawl

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    pages = docs.selectExpr(
        "concat('https://h/', doc_id) AS url",
        "timestamp_seconds(1700000000 + doc_id) AS warc_ts",
        "text",
    )
    plan = plan_of(latest_crawl(pages))
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 1, plan
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_repetition_stats_single_scan(spark):
    """repetition_stats computes per-row fractions AND the top-bigram
    aggregate from ONE scan of documents (the fractions ride through
    the explode as first(); a join-back would re-read the corpus)."""
    import re

    from osm_pt_validator_spark.operators.text import repetition_stats

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = plan_of(repetition_stats(docs))
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 1, plan
    joins = re.findall(r"^\(\d+\) \w*Join", plan, re.M)
    assert not joins, plan


def test_curated_corpus_layout_prunes_on_read(spark, tmp_path):
    """The curated-corpus sink's layout must pay off at read time:
    (lang, shard) filters become PartitionFilters (directory skip) and
    a doc_id range predicate reaches PushedFilters (row-group skip via
    the sortWithinPartitions min/max stats)."""
    from osm_pt_validator_spark.sources.corpus import (
        read_curated_corpus,
        shard_of,
        write_curated_corpus,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    path = str(tmp_path / "corpus")
    write_curated_corpus(docs, path, shards=4)

    rb = read_curated_corpus(spark, path, lang="en", shard=3).filter(
        F.col("doc_id") > 100
    )
    plan = plan_of(rb)
    assert "PartitionFilters: [" in plan, plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "lang" in pf and "shard" in pf, plan
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThan(doc_id,100)" in pushed, plan

    # row parity with the direct filter over the source
    want = (
        docs.withColumn("shard", shard_of("doc_id", 4))
        .filter((F.col("lang") == "en") & (F.col("shard") == 3)
                & (F.col("doc_id") > 100))
        .count()
    )
    assert rb.count() == want and want > 0


def test_pq_encode_corpus_side_no_shuffle(spark):
    """pq_encode must be embarrassingly parallel over the corpus: the
    only Exchanges in the plan belong to the tiny codebook collapse
    (groupBy m + global collect — 2 shuffles over K*M rows), and the
    corpus reaches the broadcast join with no Exchange at all. At
    10^12 vectors a shuffle here would be the whole job."""
    import re

    from osm_pt_validator_spark.operators.pq import pq_encode, pq_train

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    cb = pq_train(emb, m=4, k=8, iters=1)
    plan = plan_of(pq_encode(emb, cb, m=4))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    # codebook subtree carries ALL the exchanges (its own training
    # shuffles + the 2-step collapse); the corpus side contributes none:
    # the embeddings scan feeds straight into the broadcast join.
    joins = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert joins, plan
    # corpus scan -> project -> BNLJ with no Exchange in between: the
    # formatted tree prints the streamed side directly under the join;
    # assert no Exchange node lists the embeddings scan as its child by
    # checking the exchange count equals the codebook-only count from a
    # plan with the corpus side replaced by a 1-row dummy.
    dummy = spark.range(1).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.0)] * 64).alias("embedding"),
    )
    base = re.findall(
        r"^\(\d+\) Exchange", plan_of(pq_encode(dummy, cb, m=4)), re.M
    )
    assert len(exchanges) == len(base), plan


def test_int8_ann_prunes_candidates_map_side(spark):
    """int8_quantized_topk's rank<=k*rescore candidate filter must be a
    WindowGroupLimit: each map task keeps its local top candidates per
    query BEFORE the shuffle — the property that makes quantized
    candidate generation cheaper than brute force at scale."""
    from osm_pt_validator_spark.operators.similarity import (
        int8_quantized_topk,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = e.filter(F.col("vec_id") < 3).selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    plan = plan_of(int8_quantized_topk(e, qs, k=5, rescore=4))
    assert "WindowGroupLimit" in plan, plan
    # the embeddings fact side is scanned twice at most (candidates +
    # queries), never more. Formatted explain prints each node twice
    # (tree + detail header) — count detail headers only.
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan


def test_funnel_single_exchange_partial_agg(spark):
    """funnel_stages: ONE shuffle on the key; the collect_list is
    partially aggregated map-side (ObjectHashAggregate partial) so the
    exchange carries per-key slim arrays, not raw events."""
    from osm_pt_validator_spark.operators.temporal import funnel_stages

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = plan_of(
        funnel_stages(e, ["user_id"], "ts", ["view", "click", "purchase"])
    )
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "ObjectHashAggregate" in plan, plan
    # the step filter must reach the scan: only funnel event types read
    assert "PushedFilters: [In(event_type" in plan, plan


def test_zone_geometry_zero_shuffle(spark):
    from osm_pt_validator_spark.spatial.zones import zone_geometry

    polys = spark.createDataFrame(
        [(1, [0.0, 1.0, 1.0], [0.0, 0.0, 1.0])],
        "polygon_id long, xs array<double>, ys array<double>",
    )
    plan = plan_of(zone_geometry(polys))
    assert "Exchange" not in plan, plan
