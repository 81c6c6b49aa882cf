"""Checkpoint/resume + lineage, and the streaming tile heatmap."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F


def test_stage_checkpoint_resume_and_lineage(spark, tmp_path):
    from osm_pt_validator_spark.plans.checkpoint import (
        run_stage,
        stage_complete,
        verify_lineage,
    )

    root = str(tmp_path / "ckpt")
    os.makedirs(root, exist_ok=True)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(0, 1000).withColumn("v", F.col("id") * 2)

    a = run_stage(spark, root, "stage1", build)
    assert a.count() == 1000
    assert calls["n"] == 1
    assert stage_complete(root, "stage1")

    # resume: df_fn must NOT be called again
    b = run_stage(spark, root, "stage1", build)
    assert b.count() == 1000
    assert calls["n"] == 1

    assert verify_lineage(spark, root, "stage1")

    from osm_pt_validator_spark.plans.checkpoint import stage_manifests

    m = stage_manifests(root)
    assert m["stage1"]["rows"] == 1000 and m["stage1"]["seconds"] > 0

    # tamper: rewrite the stage with one row missing -> lineage fails
    spark.range(0, 999).withColumn("v", F.col("id") * 2).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "stage1"))
    assert not verify_lineage(spark, root, "stage1")

    # tamper: same 1000 rows, one value changed -> the checksum catches it
    spark.range(0, 1000).withColumn(
        "v", F.when(F.col("id") == 7, F.lit(-1)).otherwise(F.col("id") * 2)
    ).write.mode("overwrite").parquet(os.path.join(root, "stage1"))
    assert not verify_lineage(spark, root, "stage1")

    # a 0-row stage commits, audits and resumes like any other
    calls["n"] = 0

    def build_empty():
        calls["n"] += 1
        return spark.range(0).withColumn("v", F.col("id") * 2)

    assert run_stage(spark, root, "empty", build_empty).count() == 0
    assert stage_manifests(root)["empty"]["rows"] == 0
    assert verify_lineage(spark, root, "empty")
    assert run_stage(spark, root, "empty", build_empty).count() == 0
    assert calls["n"] == 1


def test_fresh_stage_is_one_write(spark, tmp_path):
    """A computed stage costs its write plus the read-back's schema job:
    rows and checksum ride the write, and they equal the lineage of the
    stage read back."""
    from osm_pt_validator_spark.plans.checkpoint import (
        compute_lineage,
        run_stage,
        stage_manifests,
    )

    root = str(tmp_path / "ckpt1")
    os.makedirs(root, exist_ok=True)
    sc = spark.sparkContext
    sc.setJobGroup("fresh_stage", "fresh_stage")
    try:
        out = run_stage(
            spark, root, "s", lambda: spark.range(0, 5000, numPartitions=4).withColumn(
                "v", (F.col("id") % 7).cast("string")
            )
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("fresh_stage")
    assert 1 <= len(jobs) <= 2, jobs

    lin = compute_lineage(out).agg(
        F.sum("rows").alias("rows"), F.bit_xor("checksum").alias("checksum")
    ).first()
    m = stage_manifests(root)["s"]
    assert (m["rows"], m["checksum"]) == (lin.rows, lin.checksum)
    assert m["rows"] == 5000


def test_kill_and_resume_recomputes_only_missing_stage(spark, tmp_path):
    from osm_pt_validator_spark.plans.checkpoint import run_stage

    root = str(tmp_path / "ckpt2")
    os.makedirs(root, exist_ok=True)
    calls = {"s1": 0, "s2": 0}

    def pipeline():
        s1 = run_stage(
            spark, root, "s1",
            lambda: (calls.__setitem__("s1", calls["s1"] + 1), spark.range(100))[1],
        )
        s2 = run_stage(
            spark, root, "s2",
            lambda: (calls.__setitem__("s2", calls["s2"] + 1), s1.withColumn("y", F.col("id") + 1))[1],
        )
        return s2

    pipeline()
    assert calls == {"s1": 1, "s2": 1}
    # simulate a crash after s1: delete s2's marker
    import shutil

    shutil.rmtree(os.path.join(root, "s2"))
    pipeline()
    assert calls == {"s1": 1, "s2": 2}  # s1 resumed, s2 recomputed
    # a crash after s2's write but before its manifest commit: _SUCCESS
    # alone does not mark the stage complete
    os.remove(os.path.join(root, "s2__manifest.json"))
    pipeline()
    assert calls == {"s1": 1, "s2": 3}
    assert os.path.exists(os.path.join(root, "s2__manifest.json"))


def test_streaming_tile_heatmap(spark, tmp_path):
    from osm_pt_validator_spark.streaming.heatmap import (
        run_available_now,
        streaming_tile_heatmap,
    )

    src = str(tmp_path / "mentions_stream")
    rows = [
        (dt.datetime(2026, 1, 1, 10, 1), 55.95, -3.19),
        (dt.datetime(2026, 1, 1, 10, 2), 55.95, -3.19),
        (dt.datetime(2026, 1, 1, 10, 25), 55.95, -3.19),  # later window
        (dt.datetime(2026, 1, 1, 10, 3), 51.5074, -0.1278),
    ]
    spark.createDataFrame(rows, "ts timestamp, lat double, lon double").write.parquet(src)

    sdf = streaming_tile_heatmap(
        spark, src, "ts timestamp, lat double, lon double", z=10,
        window_duration="10 minutes", watermark="1 hour",
    )
    run_available_now(sdf, "hm_test")
    out = spark.sql("select * from hm_test").collect()
    # 3 groups: (win1, edin)=2, (win3, edin)=1, (win1, london)=1
    assert sum(r.n for r in out) == 4
    assert len(out) == 3
    edin = [r for r in out if r.n == 2]
    assert len(edin) == 1 and edin[0].window_start == dt.datetime(2026, 1, 1, 10, 0)


def test_streaming_trending_topk_closed_windows(spark, tmp_path):
    """Trending tokens: watermarked (window, token) counts close as the
    watermark passes each 10-min window; foreachBatch ranks the CLOSED
    windows and overwrites its own batch_id dir (idempotent). Two
    files forced into two micro-batches: the second file's timestamps
    push the watermark past window 1, so exactly window 1 is emitted."""
    from osm_pt_validator_spark.streaming.trending import (
        start_trending_sink,
        streaming_token_counts,
        top_k_per_window,
    )

    src = str(tmp_path / "docs_stream")
    out = str(tmp_path / "trending_out")
    ckpt = str(tmp_path / "trending_ckpt")
    os.makedirs(src, exist_ok=True)
    schema = "ts timestamp, text string"
    t0 = "2026-01-01 10:0%d:00"
    spark.createDataFrame(
        [(t0 % 1, "alpha beta alpha"), (t0 % 2, "alpha gamma")],
        "ts string, text string",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "text").coalesce(1).write.parquet(
        os.path.join(src, "f1")
    )
    spark.createDataFrame(
        [("2026-01-01 11:00:00", "delta")], "ts string, text string"
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "text").coalesce(1).write.parquet(
        os.path.join(src, "f2")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    counts = streaming_token_counts(
        stream, window_duration="10 minutes", watermark="0 seconds"
    )
    q = start_trending_sink(counts, out, k=2, checkpoint=ckpt)
    q.awaitTermination()
    got = spark.read.option("basePath", out).parquet(out)
    rows = {(r.token): (r.n, r.rank) for r in got.collect()}
    # window 10:00-10:10 closed by the 11:00 watermark: alpha(3) > beta/gamma(1)
    assert rows["alpha"] == (3, 1)
    assert set(rows) == {"alpha", "beta"} or set(rows) == {"alpha", "gamma"}
    # tie at n=1 broken by token asc => beta
    assert rows.get("beta") == (1, 2)
    # batch top_k helper agrees with itself on rank determinism
    batch = spark.createDataFrame(
        [("w1", "x", 5), ("w1", "y", 5), ("w1", "z", 1)],
        "window_start string, token string, n long",
    )
    top = top_k_per_window(batch, k=2).collect()
    assert [(r.token, r.rank) for r in sorted(top, key=lambda r: r.rank)] == [
        ("x", 1), ("y", 2),
    ]


def test_streaming_first_seen_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState: a url emitted in micro-batch 1 must be
    suppressed in micro-batch 2 (state survives batches)."""
    from osm_pt_validator_spark.streaming.dedup import streaming_first_seen

    src = str(tmp_path / "pages_stream")
    os.makedirs(src, exist_ok=True)
    schema = "url string, text string"
    spark.createDataFrame(
        [("u1", "a"), ("u2", "b"), ("u1", "a-dup-same-batch")], schema
    ).coalesce(1).write.parquet(os.path.join(src, "batch1"))
    spark.createDataFrame(
        [("u1", "a-dup-later-batch"), ("u3", "c")], schema
    ).coalesce(1).write.parquet(os.path.join(src, "batch2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # force >=2 micro-batches
        .parquet(src + "/*")
    )
    q = (
        streaming_first_seen(stream, "url")
        .writeStream.format("memory")
        .queryName("first_seen_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r.url: r.text for r in spark.sql("select * from first_seen_test").collect()}
    assert set(out) == {"u1", "u2", "u3"}
    assert out["u2"] == "b" and out["u3"] == "c"
    assert out["u1"] in ("a", "a-dup-same-batch")  # first file wins; intra-batch order is one row


def test_streaming_first_seen_ttl_evicts_and_readmits(spark, tmp_path):
    """With state_ttl_ms, a key idle past the TTL is evicted
    (ProcessingTimeTimeout) and a later arrival is first-seen again —
    the bound that keeps keyed state finite on an unbounded url stream."""
    import time

    from osm_pt_validator_spark.streaming.dedup import streaming_first_seen

    src = str(tmp_path / "ttl_stream")
    out = str(tmp_path / "ttl_out")
    ckpt = str(tmp_path / "ttl_ckpt")
    os.makedirs(src, exist_ok=True)
    schema = "url string, text string"

    def sink_rows():
        try:
            return sorted((r.url, r.text) for r in spark.read.parquet(out).collect())
        except Exception:
            return []

    def run_batch(rows, name, expect):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, name)
        )
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        q = (
            streaming_first_seen(stream, "url", state_ttl_ms=500)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # NB: with ProcessingTimeTimeout, availableNow keeps running
        # no-data "cleaning up state" batches while any key still holds
        # a TTL (the batch clock doesn't advance without data), so the
        # query never self-terminates — poll the sink for the data
        # batch's commit, then stop.
        deadline = time.time() + 120
        while time.time() < deadline and not (set(expect) <= set(sink_rows())):
            time.sleep(0.5)
        q.stop()
        q.awaitTermination()

    run_batch([("u1", "first")], "b1", [("u1", "first")])   # admitted, TTL armed
    time.sleep(1.2)                                          # let u1's TTL lapse
    # batch with NO u1: its data batch advances the clock -> u1's timer
    # fires (hasTimedOut branch), state evicted
    run_batch([("u9", "other")], "b2", [("u9", "other")])
    run_batch([("u1", "again")], "b3", [("u1", "again")])    # u1 re-admitted

    assert sink_rows() == [("u1", "again"), ("u1", "first"), ("u9", "other")]


def test_streaming_validate_micro_batches(spark, tmp_path):
    """The full validator applied per micro-batch over a relations
    stream (foreachBatch + checkpoint): verdicts accumulate across
    batches and a restart with the same checkpoint does not reprocess."""
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
    from osm_pt_validator_spark.schemas import RELATION_SCHEMA
    from osm_pt_validator_spark.streaming.validate import streaming_validate

    src = str(tmp_path / "rels_stream")
    out = str(tmp_path / "verdicts_out")
    ckpt = str(tmp_path / "validate_ckpt")
    os.makedirs(src, exist_ok=True)
    nodes, ways = nodes_df(spark), ways_df(spark)

    def arrive(rows, name):
        relations_df(spark, rows).coalesce(1).write.parquet(os.path.join(src, name))
        stream = spark.readStream.schema(RELATION_SCHEMA).parquet(src + "/*")
        q = streaming_validate(stream, nodes, ways, out, ckpt,
                               config=ValidationConfig())
        q.awaitTermination()

    # batch 1: one valid route, one gap route
    arrive([
        relation_row(1, stop_members(102, 104) + way_members(3, 4), route_tags()),
        relation_row(2, stop_members(100, 102) + way_members(1, 3), route_tags()),
    ], "b1")
    v1 = spark.read.parquet(out)
    assert sorted((r.relation_id, r.message) for r in v1.collect()) == [
        (2, "ways are incorrectly ordered")
    ]

    # batch 2: a oneway violation arrives; batch 1 NOT reprocessed
    arrive([
        relation_row(3, stop_members(107, 110) + way_members(5, 7), route_tags()),
    ], "b2")
    v2 = spark.read.parquet(out)
    assert sorted((r.relation_id, r.message) for r in v2.collect()) == [
        (2, "ways are incorrectly ordered"),
        (3, "way with oneway tag is traversed in wrong direction"),
    ]


def test_streaming_session_stats_matches_batch(spark, tmp_path):
    """The native session_window stream, fully drained, must agree
    with the batch gap-session operator on the same rows — the batch
    side is the oracle."""
    from osm_pt_validator_spark.operators.temporal import session_stats
    from osm_pt_validator_spark.streaming.heatmap import run_available_now
    from osm_pt_validator_spark.streaming.sessions import (
        streaming_session_stats,
    )

    src = str(tmp_path / "events_stream")
    rows = [
        (1, 7, dt.datetime(2026, 1, 1, 10, 0)),
        (2, 7, dt.datetime(2026, 1, 1, 10, 10)),   # same session
        (3, 7, dt.datetime(2026, 1, 1, 11, 30)),   # idle >30min -> new
        (4, 8, dt.datetime(2026, 1, 1, 10, 5)),
    ]
    schema = "event_id long, user_id long, ts timestamp"
    batch_df = spark.createDataFrame(rows, schema)
    batch_df.write.parquet(src)

    sdf = streaming_session_stats(spark, src, schema, gap="30 minutes")
    run_available_now(sdf, "sess_test")
    got = sorted(
        (r.user_id, r.n_events, r.start_epoch, r.end_epoch)
        for r in spark.sql("select * from sess_test").collect()
    )
    want = sorted(
        (r.user_id, r.n_events, r.start_epoch, r.end_epoch)
        for r in session_stats(
            batch_df, "user_id", "ts", gap_s=1800, tiebreak_cols=["event_id"]
        ).collect()
    )
    assert got == want and len(got) == 3


def test_streaming_incremental_skips_unchanged_recrawls(spark, tmp_path):
    """dropDuplicates-on-(id, content_hash) gating: an unchanged
    recrawl in a later micro-batch produces NO new verdict rows (it
    never reaches the validator), while a changed relation and a new
    relation are validated."""
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
    from osm_pt_validator_spark.schemas import RELATION_SCHEMA
    from osm_pt_validator_spark.streaming.incremental import (
        streaming_validate_incremental,
    )

    src = str(tmp_path / "inc_stream")
    out = str(tmp_path / "inc_out")
    ckpt = str(tmp_path / "inc_ckpt")
    os.makedirs(src, exist_ok=True)
    nodes, ways = nodes_df(spark), ways_df(spark)

    def arrive(rows, name):
        relations_df(spark, rows).coalesce(1).write.parquet(os.path.join(src, name))
        stream = spark.readStream.schema(RELATION_SCHEMA).parquet(src + "/*")
        q = streaming_validate_incremental(
            stream, nodes, ways, out, ckpt, config=ValidationConfig()
        )
        q.awaitTermination()

    # batch 1: r1 valid, r2 misordered
    arrive([
        relation_row(1, stop_members(102, 104) + way_members(3, 4), route_tags()),
        relation_row(2, stop_members(100, 102) + way_members(1, 3), route_tags()),
    ], "b1")
    v1 = sorted((r.relation_id, r.message) for r in spark.read.parquet(out).collect())
    assert v1 == [(2, "ways are incorrectly ordered")]

    # batch 2: r2 recrawled UNCHANGED (dropped by the state gate),
    # r1 changed to a misorder (new pair -> validated), r3 new
    arrive([
        relation_row(2, stop_members(100, 102) + way_members(1, 3), route_tags()),
        relation_row(1, stop_members(100, 102) + way_members(1, 3), route_tags()),
        relation_row(3, stop_members(107, 110) + way_members(5, 7), route_tags()),
    ], "b2")
    v2 = sorted((r.relation_id, r.message) for r in spark.read.parquet(out).collect())
    # r2's verdict appears exactly once: the recrawl was never re-validated
    assert v2 == [
        (1, "ways are incorrectly ordered"),
        (2, "ways are incorrectly ordered"),
        (3, "way with oneway tag is traversed in wrong direction"),
    ]


def test_streaming_incremental_watermark_skips_recrawl_within_delay(spark, tmp_path):
    """The bounded-state branch: with an event-time column and a delay,
    the gate is withWatermark + dropDuplicatesWithinWatermark, and an
    unchanged recrawl inside the delay still adds no verdict."""
    from pyspark.sql import types as T

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
    from osm_pt_validator_spark.schemas import RELATION_SCHEMA
    from osm_pt_validator_spark.streaming.incremental import (
        streaming_changed_only,
        streaming_validate_incremental,
    )

    src = str(tmp_path / "wm_stream")
    out = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "wm_ckpt")
    os.makedirs(src, exist_ok=True)
    nodes, ways = nodes_df(spark), ways_df(spark)
    schema = T.StructType(RELATION_SCHEMA.fields + [T.StructField("ts", T.TimestampType())])

    def stream():
        return spark.readStream.schema(schema).parquet(src + "/*")

    def arrive(rows, name, minute):
        ts = F.lit(dt.datetime(2026, 1, 1, 10, minute))
        relations_df(spark, rows).withColumn("ts", ts).coalesce(1).write.parquet(
            os.path.join(src, name)
        )
        q = streaming_validate_incremental(
            stream(), nodes, ways, out, ckpt, config=ValidationConfig(),
            within_watermark_col="ts", delay="1 hour",
        )
        q.awaitTermination()
        return sorted((r.relation_id, r.message) for r in spark.read.parquet(out).collect())

    misordered = relation_row(2, stop_members(100, 102) + way_members(1, 3), route_tags())
    assert arrive([misordered], "b1", 0) == [(2, "ways are incorrectly ordered")]

    # 20 minutes later, inside the 1 hour delay: r2 recrawled unchanged
    # (dropped by the gate), r3 new (validated)
    oneway = relation_row(3, stop_members(107, 110) + way_members(5, 7), route_tags())
    assert arrive([misordered, oneway], "b2", 20) == [
        (2, "ways are incorrectly ordered"),
        (3, "way with oneway tag is traversed in wrong direction"),
    ]

    plan = streaming_changed_only(stream(), "ts")._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in plan, plan


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream enrichment: clicks joined to the impressions they
    follow within 10 minutes, both sides watermarked. availableNow over
    file sources; result must equal the batch join with the identical
    predicate (multi-match kept, out-of-lag and wrong-order dropped)."""
    from osm_pt_validator_spark.streaming.enrich import (
        interval_join_streams,
        stream_from_dir,
    )

    imp_dir = str(tmp_path / "impressions")
    clk_dir = str(tmp_path / "clicks")
    t = lambda m: dt.datetime(2026, 1, 1, 10, m)  # noqa: E731
    imps = [("A", t(0), 10), ("A", t(2), 11), ("B", t(30), 12)]
    clks = [
        ("A", t(5), 100),   # matches imps 10 AND 11 (multi-match)
        ("A", t(20), 101),  # > 10 min after every A impression -> none
        ("B", t(29), 102),  # BEFORE the B impression -> none
        ("B", t(35), 103),  # matches imp 12
        ("C", t(5), 104),   # no impression at all
    ]
    imp_schema = "ad_id string, rts timestamp, imp_id int"
    clk_schema = "ad_id string, lts timestamp, click_id int"
    spark.createDataFrame(imps, imp_schema).write.parquet(imp_dir)
    spark.createDataFrame(clks, clk_schema).write.parquet(clk_dir)

    left = stream_from_dir(spark, clk_dir, clk_schema, "lts", "1 hour")
    right = stream_from_dir(spark, imp_dir, imp_schema, "rts", "1 hour")
    joined = interval_join_streams(
        left, right, ["ad_id"], "lts", "rts", lag="10 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["click_id"], r["imp_id"])
        for r in spark.sql("select * from ssj_test").collect()
    }
    assert got == {(100, 10), (100, 11), (103, 12)}

    # batch equivalence: same predicate over the static tables
    bl = spark.read.parquet(clk_dir).alias("l")
    br = spark.read.parquet(imp_dir).alias("r")
    batch = bl.join(
        br,
        F.expr(
            "l.ad_id = r.ad_id AND r.rts >= l.lts - INTERVAL 10 minutes"
            " AND r.rts <= l.lts"
        ),
    )
    want = {(r["click_id"], r["imp_id"]) for r in batch.collect()}
    assert got == want


def test_session_window_gap_boundary_is_inclusive(spark):
    """Pin the session break rule the batch-replay oracle encodes
    (streaming/sessions.py:session_stats_frame): session_window merges
    closed [ts, ts+gap] intervals, so an event landing EXACTLY at
    prev+gap still EXTENDS the session; only prev+gap+1us starts a
    new one. The streaming_sessions_replay oracle's break flag must
    therefore be `diff > gap`, not `>=`."""
    from osm_pt_validator_spark.streaming.sessions import (
        session_stats_frame,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    gap = dt.timedelta(minutes=30)
    rows = [
        # user 1: second event 1us past the gap -> two sessions
        (1, t0),
        (1, t0 + gap + dt.timedelta(microseconds=1)),
        # user 2: second event exactly at t0+gap -> one session
        (2, t0),
        (2, t0 + gap),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = session_stats_frame(df, gap="30 minutes")
    per_user = {
        u: sorted(
            (r["n_events"], r["start_epoch"], r["end_epoch"])
            for r in g
        )
        for u, g in __import__("itertools").groupby(
            sorted(out.collect(), key=lambda r: r["user_id"]),
            key=lambda r: r["user_id"],
        )
    }
    e0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    e1 = e0 + 1800
    # the +1us event truncates to second e1 under unix_timestamp
    assert per_user[1] == [(1, e0, e0), (1, e1, e1)]
    assert per_user[2] == [(2, e0, e1)]


def test_sessions_replay_oracle_is_tie_proof(spark):
    """Regression for the order-fragile oracle found in review: with
    DUPLICATE (user_id, ts) events at a session boundary, the
    streaming_sessions_replay DuckDB SQL must still agree with Spark's
    session_window — the oracle now pre-groups distinct timestamps so
    its cumulative break-sum has no tie-ordering freedom."""
    import duckdb

    import __spark_entry__ as entry
    from osm_pt_validator_spark.streaming.sessions import (
        session_stats_frame,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: one event, then TWO identical events exactly one
        # gap past it (the tie sits on the session break)
        (1, t0),
        (1, t0 + dt.timedelta(minutes=30, microseconds=1)),
        (1, t0 + dt.timedelta(minutes=30, microseconds=1)),
        # user 2: duplicate timestamps inside one session
        (2, t0),
        (2, t0),
        (2, t0 + dt.timedelta(minutes=5)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(
        (r.user_id, r.n_events, r.start_epoch, r.end_epoch)
        for r in session_stats_frame(df, gap="30 minutes").collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO events VALUES (?, ?)", rows)
    sql = entry.oracle_sql()["streaming_sessions_replay"]
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
    # and the semantics themselves: the tied pair forms ONE session
    e0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert got == sorted(
        [
            (1, 1, e0, e0),
            (1, 2, e0 + 1800, e0 + 1800),
            (2, 3, e0, e0 + 300),
        ]
    )


def test_replay_oracles_floor_pre_1970_sub_second(spark, tmp_path):
    """Both streaming-replay oracles round pre-1970 sub-second epochs
    the way Spark does. Spark FLOORS window starts, so a pre-1970 event
    lands in the window before the epoch, where DuckDB's bare `//`
    (truncating) would put it at the epoch. Spark's unix_timestamp
    TRUNCATES toward zero, and the sessions oracle must too."""
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry
    from oracle_harness import TABLES, compare_query

    epoch = dt.datetime(1970, 1, 1)
    offsets = [
        dt.timedelta(microseconds=-500_000),
        dt.timedelta(hours=-6, microseconds=250_000),
        dt.timedelta(hours=-6, microseconds=-250_000),
        dt.timedelta(days=-400, microseconds=-1),
        dt.timedelta(microseconds=750_000),
    ]
    ts = [epoch + o for o in offsets]
    n = len(ts)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([7, 7, 8, 9, 7], pa.int64()),
            "event_type": ["view"] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }),
        str(tmp_path / "events.parquet"),
    )
    for t in TABLES:
        if t != "events":
            pq.write_table(pa.table({"k": [1]}), str(tmp_path / f"{t}.parquet"))

    queries, oracles = entry.queries(), entry.oracle_sql()
    for name in ("streaming_heatmap_replay", "streaming_sessions_replay"):
        problems, rows = compare_query(
            spark, str(tmp_path), name, queries[name], oracles[name]
        )
        assert not problems, (name, problems)
        assert rows > 0, name
