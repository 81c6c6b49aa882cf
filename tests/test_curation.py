"""Curation operators (operators/curation.py): deterministic hash
sampling, language quotas, concat-and-chunk packing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from osm_pt_validator_spark.operators.curation import (
    hash_sample,
    lang_quota,
    pack_chunks,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_hash_sample_deterministic_and_partition_invariant(spark):
    d = _docs(spark).select("doc_id")
    a = sorted(r.doc_id for r in hash_sample(d, 0.3).collect())
    b = sorted(r.doc_id for r in hash_sample(d.repartition(7), 0.3).collect())
    assert a == b and len(a) > 0


def test_hash_sample_salt_gives_independent_splits(spark):
    d = _docs(spark).select("doc_id")
    a = {r.doc_id for r in hash_sample(d, 0.5, salt="train").collect()}
    b = {r.doc_id for r in hash_sample(d, 0.5, salt="eval").collect()}
    # different salts = different (pseudo-independent) membership
    assert a != b
    # same salt, nested fractions = nested sets (bucket < thr is monotone)
    small = {r.doc_id for r in hash_sample(d, 0.2, salt="train").collect()}
    assert small <= a


def test_lang_quota_caps_and_tiebreak(spark):
    d = _docs(spark).select("doc_id", "text", "lang")
    out = lang_quota(d, quota=10)
    per_lang = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert per_lang and all(n <= 10 for n in per_lang.values())
    # kept set is the quality-then-id top slice: re-derive one language
    lang = sorted(per_lang)[0]
    from osm_pt_validator_spark.operators.text import quality_score

    ranked = (
        d.filter(F.col("lang") == lang)
        .select("doc_id", quality_score(F.col("text")).alias("q"))
        .orderBy(F.col("q").desc(), F.col("doc_id").asc())
        .limit(10)
        .collect()
    )
    kept = sorted(r.doc_id for r in out.filter(F.col("lang") == lang).collect())
    assert kept == sorted(r.doc_id for r in ranked)


def test_pack_chunks_contiguous_within_shard(spark):
    d = _docs(spark).select("doc_id", "text")
    rows = pack_chunks(d, budget=256, num_shards=4).collect()
    assert len(rows) == d.count()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= {0, 1, 2, 3}
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        pos = 0
        for r in shard_rows:
            # concat layout: each doc starts where the previous ended
            assert r.start_tok == pos
            pos += r.n_tokens
            assert r.chunk_first == r.start_tok // 256
            if r.n_tokens > 0:
                assert r.chunk_last == (r.start_tok + r.n_tokens - 1) // 256
                assert r.chunk_first <= r.chunk_last


def test_pack_chunks_zero_token_doc_occupies_no_span(spark):
    d = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, ""), (3, "??!!")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pack_chunks(d, budget=8, num_shards=1).collect()}
    assert rows[2].n_tokens == 0 and rows[3].n_tokens == 0
    # a zero-token doc consumes no budget: the next doc starts at the
    # same position, and the empty doc's chunk_last never exceeds the
    # chunk its start position falls in
    assert rows[2].chunk_last <= rows[2].chunk_first


def test_decontaminate_flags_ngram_overlap(spark):
    """Docs sharing >= min_overlap distinct trigrams with the eval set
    are contaminated; single-trigram overlap is reported unflagged;
    disjoint docs don't appear at all. The eval-side join is a
    broadcast (corpus never shuffles for it)."""
    import re

    from osm_pt_validator_spark.operators.curation import decontaminate
    from tests.test_plans import plan_of

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox leapt away"),        # trigrams: 'the quick brown','quick brown fox' -> 2
            (2, "a quick brown fox appears here today"),  # 'quick brown fox' -> 1
            (3, "completely unrelated text with nothing shared"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in decontaminate(corpus, bench, 3, 2).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_overlap == 2 and out[1].contaminated == 1
    assert out[2].n_overlap == 1 and out[2].contaminated == 0
    plan = plan_of(decontaminate(corpus, bench, 3, 2))
    assert re.search(r"^\(\d+\) BroadcastHashJoin", plan, re.M), plan


def test_grouped_split_is_leakage_safe_and_deterministic(spark):
    from osm_pt_validator_spark.operators.curation import grouped_split

    rows = [(i, f"site-{i % 17}.example", f"text {i}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = grouped_split(df, "source").select("doc_id", "source", "split")

    got = {r.doc_id: (r.source, r.split) for r in out.collect()}
    assert len(got) == 300
    # leakage-safe: one split per group, however many rows the group has
    by_group: dict[str, set[str]] = {}
    for src, split in got.values():
        by_group.setdefault(src, set()).add(split)
    assert all(len(s) == 1 for s in by_group.values())
    assert set().union(*by_group.values()) <= {"train", "val", "test"}

    # deterministic under repartition (split depends only on the key)
    again = {
        r.doc_id: (r.source, r.split)
        for r in grouped_split(df.repartition(7), "source").collect()
    }
    assert again == got

    # weights steer the proportions (degenerate 100%-train sanity)
    only = grouped_split(df, "source", weights={"train": 1.0}).select("split")
    assert set(r.split for r in only.collect()) == {"train"}


def test_grouped_split_no_shuffle(spark):
    from osm_pt_validator_spark.operators.curation import grouped_split

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    plan = grouped_split(df, "source")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_split_leakage_flags_only_cross_split_pairs(spark):
    from osm_pt_validator_spark.operators.curation import (
        grouped_split,
        split_leakage,
    )

    docs = spark.createDataFrame(
        [(1, "a.example"), (2, "a.example"), (3, "b.example"), (4, "c.example")],
        "doc_id long, source string",
    )
    splits = {
        r.doc_id: r.split for r in grouped_split(docs, "source").collect()
    }
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "doc_a long, doc_b long"
    )
    got = sorted(
        (r.doc_a, r.doc_b, r.split_a, r.split_b)
        for r in split_leakage(docs, pairs).collect()
    )
    want = sorted(
        (a, b, splits[a], splits[b])
        for a, b in [(1, 2), (1, 3), (2, 4), (3, 4)]
        if splits[a] != splits[b]
    )
    assert got == want
    # same-group pairs can never leak (grouped split is constant per group)
    assert (1, 2, splits[1], splits[2]) not in got


def test_mixture_weights_sqrt_temperature(spark):
    from osm_pt_validator_spark.operators.curation import mixture_weights

    docs = spark.createDataFrame(
        [(i, "A" if i < 400 else "B") for i in range(404)],
        "doc_id long, source string",
    )
    got = {r["source"]: r for r in mixture_weights(docs, alpha=0.5).collect()}
    # wq_A = 20e6, wq_B = 2e6 (sqrt(400)=20, sqrt(4)=2)
    assert got["A"]["natural_ppm"] == 400 * 1000000 // 404
    assert got["B"]["natural_ppm"] == 4 * 1000000 // 404
    assert got["A"]["tempered_ppm"] == 20_000_000 * 1000000 // 22_000_000
    assert got["B"]["tempered_ppm"] == 2_000_000 * 1000000 // 22_000_000
    # temperature upweights the small source (>1x repeat), downweights
    # the big one
    assert got["B"]["epoch_x100"] == 918
    assert got["A"]["epoch_x100"] == 91
    # shares are floor-quantized: sum <= 1e6
    assert got["A"]["tempered_ppm"] + got["B"]["tempered_ppm"] <= 1000000


def test_diverse_sample_one_per_bucket_and_plan(spark):
    import hashlib

    from osm_pt_validator_spark.operators.curation import diverse_sample
    from osm_pt_validator_spark.operators.similarity import hyperplane_coeffs

    dim, planes = 8, 4
    rows = [(i, [((i * 31 + d * 7) % 13) - 6.0 for d in range(dim)]) for i in range(60)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.vec_id, r.bucket, r.pick_rank)
        for r in diverse_sample(e, dim=dim, per_bucket=2, num_planes=planes).collect()
    }

    coeffs = hyperplane_coeffs(dim, planes)

    def bucket(v):
        b = 0
        for m, plane in enumerate(coeffs):
            acc = 0.0
            for x, c in zip(v, plane):
                acc += x * c
            if acc > 0:
                b |= 1 << m
        return b

    by_bucket: dict[int, list[int]] = {}
    for i, v in rows:
        by_bucket.setdefault(bucket(v), []).append(i)
    want = set()
    for bk, ids in by_bucket.items():
        picked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        for rk, i in enumerate(picked[:2], start=1):
            want.add((i, bk, rk))
    assert got == want and len(want) >= 8

    plan = (
        diverse_sample(e, dim=dim, per_bucket=2, num_planes=planes)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the few-distinct-keys shuffle must be pruned map-side first
    assert "WindowGroupLimit" in plan


def test_weighted_sample_proportional_deterministic_plan(spark):
    from osm_pt_validator_spark.operators.curation import weighted_sample

    rows = [(i, 9.0 if i % 2 == 0 else 1.0) for i in range(20000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample(df, 2000, F.col("w"))
    picked = out.collect()
    assert len(picked) == 2000
    assert {r.sample_rank for r in picked} == set(range(1, 2001))
    heavy = sum(1 for r in picked if r.w == 9.0) / 2000
    # inclusion ∝ weight: 0.9 expected, wide deterministic tolerance
    assert 0.84 < heavy < 0.95
    # repartition-stable kept set
    again = weighted_sample(df.repartition(13), 2000, F.col("w")).collect()
    assert sorted(r.doc_id for r in picked) == sorted(r.doc_id for r in again)
    # zero/negative weights excluded
    dfz = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, 5.0)], "doc_id long, w double"
    )
    assert [r.doc_id for r in weighted_sample(dfz, 3, F.col("w")).collect()] == [3]
    # per-group top-k plans as WindowGroupLimit (map-side prune)
    plan = (
        weighted_sample(df, 5, F.col("w"), group_cols=["w"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_weighted_and_diverse_sample_exclude_null_keys(spark):
    from osm_pt_validator_spark.operators.curation import (
        diverse_sample,
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(None, 1.0)] + [(i, 1000.0) for i in range(29)], "doc_id long, w double"
    )
    picked = weighted_sample(df, 3, F.col("w")).collect()
    assert all(r.doc_id is not None for r in picked) and len(picked) == 3

    e = spark.createDataFrame(
        [(None, [1.0] * 4)] + [(i, [float((i * 3 + d) % 5 - 2) for d in range(4)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    reps = diverse_sample(e, dim=4, per_bucket=1, num_planes=3).collect()
    assert all(r.vec_id is not None for r in reps)


def test_dsir_weights_python_replay_and_domain_separation(spark):
    """dsir_weights against an exact python replay (hashlib md5
    bucketing, math.log ratios, half-away micro-nat rounding) on a
    constructed two-domain corpus; the target-domain docs must score
    strictly higher than the off-domain ones."""
    import hashlib
    import math

    from osm_pt_validator_spark.operators.curation import dsir_weights

    medical = [
        "the patient received a dose of the trial drug",
        "the clinical trial measured the dose response",
        "a patient in the trial reported dose effects",
    ]
    web = [
        "click here to buy cheap shoes online today",
        "subscribe now for the best shoe deals online",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(medical + web + [""])],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(medical)],
        "doc_id long, text string",
    )
    B = 64
    got = {
        r.doc_id: (r.weight_micro, r.n_grams)
        for r in dsir_weights(docs, target, buckets=B).collect()
    }

    def grams(text):
        toks = [t for t in __import__("re").split(r"[^a-z0-9']+", text.lower()) if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(g):
        return int(hashlib.md5(("dsir" + g).encode()).hexdigest()[:15], 16) % B

    raw, tgt = {}, {}
    per_doc = {}
    for i, t in enumerate(medical + web + [""]):
        bs = [bucket(g) for g in grams(t)]
        per_doc[i] = bs
        for b in bs:
            raw[b] = raw.get(b, 0) + 1
    for t in medical:
        for g in grams(t):
            tgt[bucket(g)] = tgt.get(bucket(g), 0) + 1
    rn, tn = sum(raw.values()), sum(tgt.values())

    def half_away(x):
        return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)

    want = {}
    for i, bs in per_doc.items():
        if not bs:
            continue  # zero-gram doc is absent from the output
        w = sum(
            half_away(
                (
                    math.log((tgt.get(b, 0) + 1.0) / (tn + B))
                    - math.log((raw[b] + 1.0) / (rn + B))
                )
                * 1e6
            )
            for b in bs
        )
        want[i] = (w, len(bs))
    assert got == want
    # domain separation: every medical doc outscores every web doc
    assert min(got[i][0] for i in range(3)) > max(got[i][0] for i in (3, 4))


def test_curation_funnel_all_stages(spark):
    """curation.curation_funnel: constructed docs hit every funnel
    stage — lang, quality, repetition, duplicate (whitespace-variant
    of the kept doc, higher id), kept — and the first-failing-stage
    ordering holds (the german doc fails 'lang' even though its
    quality would also fail)."""
    from osm_pt_validator_spark.operators.curation import curation_funnel

    good = "the quick brown fox jumped over the lazy sleeping dog today"
    rows = [
        (0, good),                                     # kept
        (1, "  " + good.replace(" over ", "  over ") + " "),  # duplicate of 0
        (2, "der und die das ist nicht ein"),          # lang (german)
        (3, "the is 111 222 333 444 555 666 777 888"),  # quality (digits)
        (4, "the " * 40 + "cat"),                      # repetition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.stage for r in curation_funnel(df).collect()}
    assert got == {
        0: "kept",
        1: "duplicate",
        2: "lang",
        3: "quality",
        4: "repetition",
    }


def test_dsir_and_bigram_lm_empty_target(spark):
    """Degenerate-input contracts: with an EMPTY target frame both
    scorers must still return a row per gram-bearing doc (uniform
    smoothed model), not crash on NULL totals."""
    from osm_pt_validator_spark.operators.curation import dsir_weights
    from osm_pt_validator_spark.operators.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "")],
        "doc_id long, text string",
    )
    empty = docs.filter("doc_id < 0")
    w = {r.doc_id: r.n_grams for r in dsir_weights(docs, empty).collect()}
    assert w == {0: 5}  # 3 unigrams + 2 bigrams; empty-text doc absent
    s = {r.doc_id: r.n_bigrams for r in bigram_lm_scores(docs, empty).collect()}
    assert s == {0: 2}


def test_dsir_weights_disjoint_target_two_engines(spark):
    """A target sharing no gram bucket with the corpus still counts its
    true size in the target total (the raw<-target LEFT join used to
    see 0 there): Spark matches a DuckDB replay with separate docs and
    target tables."""
    import duckdb

    import __spark_entry__ as entry
    from osm_pt_validator_spark.functions.hashing import md5_i64_sql
    from osm_pt_validator_spark.operators.curation import dsir_weights

    B = 4096
    doc_rows = [(0, "alpha beta gamma"), (1, "beta delta"), (2, "")]
    tgt_rows = [(100, "omega psi"), (101, "psi chi")]
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(doc_rows, schema)
    target = spark.createDataFrame(tgt_rows, schema)
    got = sorted(tuple(r) for r in dsir_weights(docs, target, buckets=B).collect())

    con = duckdb.connect()
    for name, rows in (("documents", doc_rows), ("target", tgt_rows)):
        con.execute(f"CREATE TABLE {name} (doc_id BIGINT, text VARCHAR)")
        con.executemany(f"INSERT INTO {name} VALUES (?, ?)", rows)
    toks = entry._SQL_TOKENS.format(t="text")
    ctes = f"""
    WITH d AS (SELECT 'raw' AS side, doc_id, {toks} AS toks FROM documents
               UNION ALL SELECT 'tgt', doc_id, {toks} FROM target),
    g AS (
      SELECT side, doc_id, t.g AS gram FROM d,
        UNNEST(list_concat(
          toks,
          list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i + 1]))) AS t(g)),
    b AS (SELECT side, doc_id, ({md5_i64_sql("gram", "dsir")}) % {B} AS bucket FROM g),
    dc AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b WHERE side = 'raw' GROUP BY 1, 2),
    rh AS (SELECT bucket, SUM(c) AS r FROM dc GROUP BY 1),
    th AS (SELECT bucket, COUNT(*) AS t FROM b WHERE side = 'tgt' GROUP BY 1),
    tot AS (SELECT (SELECT SUM(r) FROM rh) AS rn, (SELECT SUM(t) FROM th) AS tn),
    ratio AS (
      SELECT rh.bucket,
        CAST(round((ln((COALESCE(th.t, 0) + 1.0) / (tot.tn + {B}))
                  - ln((rh.r + 1.0) / (tot.rn + {B}))) * 1e6) AS BIGINT) AS lr_micro
      FROM rh LEFT JOIN th ON rh.bucket = th.bucket, tot)
    """
    shared = con.execute(
        ctes + "SELECT COUNT(*) FROM (SELECT bucket FROM rh INTERSECT SELECT bucket FROM th)"
    ).fetchone()[0]
    assert shared == 0  # the target really is disjoint from the corpus
    want = sorted(
        tuple(r)
        for r in con.execute(
            ctes + """SELECT dc.doc_id, CAST(SUM(dc.c * ratio.lr_micro) AS BIGINT),
              CAST(SUM(dc.c) AS BIGINT)
            FROM dc JOIN ratio ON dc.bucket = ratio.bucket GROUP BY 1"""
        ).fetchall()
    )
    assert got == want
    assert [n for _, _, n in got] == [5, 3]  # empty-text doc absent


def test_curation_funnel_empty_corpus(spark):
    from osm_pt_validator_spark.operators.curation import curation_funnel

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert curation_funnel(empty).count() == 0
