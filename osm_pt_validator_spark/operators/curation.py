"""Corpus curation operators a training-data pipeline needs AFTER
dedup: deterministic subsampling, language rebalancing,
concat-and-chunk token packing, and benchmark decontamination.

All are pure column algebra / window functions — whole-stage
codegen, no Python in the hot path, and every hash is the repo's
md5-derived int64 (functions/hashing.py) so a DuckDB oracle replays
them bit-for-bit.

Scale shapes (100 TB corpus):
  * hash_sample — a FILTER on a per-row hash: no shuffle at all, full
    predicate parallelism, and reproducible across runs/engines
    (unlike df.sample(), whose output depends on partitioning).
  * lang_quota — one shuffle on (lang); per-language rank windows are
    as skewed as the language mix, so the heavy language (en) is the
    straggler — quota selection ranks by a cheap int score and doc_id
    only, keeping the window row slim. WindowGroupLimit prunes to the
    quota per map task before the exchange.
  * pack_chunks — the GPT-style "concatenate everything, slice into
    fixed token budgets" layout. A single global order would serialize
    at 100 TB, so docs are hash-sharded first (shard = md5 % shards)
    and packed per shard: one shuffle on (shard), windows within the
    shard, chunk ids globally unique via (shard, local_chunk). Shard
    count is the parallelism knob; packing quality is unaffected
    because chunk boundaries only ever straddle within a shard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osm_pt_validator_spark.functions.hashing import md5_i64
from osm_pt_validator_spark.operators.text import bpe_ish_token_count, quality_score


def sample_bucket(key: Column, salt: str = "sample") -> Column:
    """Deterministic bucket in [0, 1e6) from the row key — the basis
    for reproducible Bernoulli sampling (same row => same bucket in
    every run, every engine)."""
    return md5_i64(key.cast("string"), salt) % 1000000


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Keep a deterministic `fraction` of rows: bucket < fraction*1e6.

    Unlike DataFrame.sample(), membership depends only on (salt, key):
    stable under repartitioning, resumable, and the complement
    (a held-out split) is exactly the remaining buckets — disjoint
    splits come free from disjoint bucket ranges."""
    thr = int(round(fraction * 1000000))
    return df.filter(sample_bucket(F.col(key_col), salt) < thr)


def lang_quota(
    documents: DataFrame,
    quota: int,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rebalance a language-skewed corpus: keep at most `quota` docs
    per language, best quality_score first (doc_id breaks ties, so the
    kept set is deterministic). Output: input columns + quality."""
    q = documents.withColumn("quality", quality_score(F.col("text")))
    w = Window.partitionBy(lang_col).orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    return (
        q.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= quota)
        .drop("__rk")
    )


def pack_chunks(
    documents: DataFrame,
    budget: int = 2048,
    num_shards: int = 64,
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk packing layout: documents are concatenated in
    deterministic order and sliced into fixed `budget`-token chunks;
    each doc lands in chunk span [chunk_first, chunk_last] of its
    shard. Output: (doc_id, shard, n_tokens, start_tok, chunk_first,
    chunk_last) — the assignment a sequence-packing writer consumes.

    Docs are hash-sharded (shard = md5(doc_id) % num_shards) and packed
    per shard in doc_id order: the global sort a single stream would
    need does not scale, while per-shard windows shuffle once on
    (shard) and parallelize across num_shards. Zero-token docs occupy
    no span (their token interval [start, start) is empty — writers
    identify them by n_tokens == 0) but stay in the output so the
    writer can account for every input row.

    Token budgets come from ``n_tokens_col`` when given — the REAL
    per-doc token count (e.g. text.bpe_apply's n_tokens after applying
    a trained merge table); without it the bpe_ish_token_count proxy on
    the text column is used (no tokenizer required, same plan shape).
    """
    counted = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else bpe_ish_token_count(F.col("text"))
    )
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        (md5_i64(F.col(id_col).cast("string"), "shard") % num_shards).alias("shard"),
        counted.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return toks.select(
        "doc_id",
        "shard",
        "n_tokens",
        start.alias("start_tok"),
    ).select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_tok",
        F.floor(F.col("start_tok") / budget).alias("chunk_first"),
        F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / budget).alias(
            "chunk_last"
        ),
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 3,
    min_overlap: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing word
    n-grams with an evaluation set (the standard pre-training hygiene
    pass — eval contamination inflates downstream scores).

    Output: one row per corpus doc with >=1 overlapping shingle —
    (doc_id, n_overlap, contaminated) where contaminated marks
    n_overlap >= min_overlap.

    Scale shape (100 TB corpus vs MB-scale eval sets): the benchmark
    shingle set is distinct-ed and BROADCAST, so the corpus side never
    shuffles for the join — shingle explode, broadcast hash join, then
    a groupBy(doc_id) whose input is only the HIT rows (corpus docs
    mostly miss, so the exchange is tiny). countDistinct dedups grams
    that recur inside one doc. If the eval set ever outgrows broadcast
    range, drop the explicit broadcast() and let AQE pick the join —
    the code path is unchanged.
    """
    from osm_pt_validator_spark.operators.dedup import shingles

    corpus_sh = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("gram"),
    )
    bench_sh = (
        benchmark.select(
            F.explode(shingles(F.col(text_col), shingle_n)).alias("gram")
        )
        .distinct()
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_overlap"))
    )
    return hits.withColumn(
        "contaminated", (F.col("n_overlap") >= F.lit(min_overlap)).cast("int")
    )


def grouped_split(
    df: DataFrame,
    group_col: str = "source",
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a pure
    function of the GROUP key (site/domain/source), so every document
    of a group lands in the same split and boilerplate-level near-dups
    within a site can never straddle the train/eval boundary — the
    standard guard against eval contamination that a row-level split
    does not give.

    Pure projection (no shuffle, no state): bucket = md5(salt||group)
    in [0, 1e6), mapped to splits by cumulative weight in dict order.
    Deterministic across runs, engines, and repartitioning — the same
    property :func:`hash_sample` builds on. Output: input + `split`.
    """
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    bucket = sample_bucket(F.col(group_col), salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = bucket < int(round(acc * 1000000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", split)


def split_leakage(
    documents: DataFrame,
    pairs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Cross-split contamination audit: which near-dup pairs straddle
    the train/eval boundary despite the grouped split?

    `pairs` is any (doc_a, doc_b) near-dup table (MinHash-LSH, SimHash,
    n-gram Jaccard, embedding-cosine — all in-tree produce this shape).
    Each side picks up its split via an equi-join on the id; pairs with
    equal splits are dropped. Within-group near-dups can never leak by
    construction of :func:`grouped_split`; what this catches is
    CROSS-group duplication (syndicated articles, mirrors, scrapers) —
    the leakage mode a grouped split cannot prevent and the reason the
    audit must run before training. Output: doc_a, doc_b, split_a,
    split_b.
    """
    splits = grouped_split(
        documents.select(F.col(id_col), F.col(group_col)), group_col, weights, salt
    ).select(F.col(id_col), F.col("split"))
    return (
        pairs.join(
            splits.select(
                F.col(id_col).alias("doc_a"), F.col("split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col(id_col).alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")
    )


def mixture_weights(
    documents: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled training-mixture weights per source — the
    Pile/LLaMA-style rebalancing that upweights small high-quality
    sources: mixture share of source s ~ n_s^alpha (alpha=1 is natural
    proportions, alpha=0 uniform).

    Bit-deterministic across engines AND partitionings: the per-source
    weight n^alpha = exp(alpha*ln(n)) is one double op-sequence on an
    exact integer input (identical in Spark and DuckDB), then
    immediately fixed-point quantized to w = floor(n^alpha * 1e6) — so
    the normalizing sums are INTEGER sums, which commute; a raw double
    sum over a shuffle would depend on row arrival order. Shares are
    floor-quantized to ppm; epoch_x100 = floor(100 * tempered_ppm /
    natural_ppm) = how many repeats (x100) of the source realize the
    tempered mixture over one corpus pass — computed from the two
    already-quantized ppm shares (each <= 1e6, product <= 1e8) so no
    intermediate can overflow int64 at ANY corpus size; a cross
    product of the raw totals would overflow around 2e7 docs/source.
    A source whose natural share floors to 0 ppm gets the -1 sentinel.

    One map-side-combining aggregation over the corpus, then window
    sums over the tiny per-source rows (never the corpus). Output:
    (source, n_docs, natural_ppm, tempered_ppm, epoch_x100).
    """
    counts = documents.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # alpha=0.5 (the common temperature) goes through sqrt, which IEEE
    # requires to be correctly rounded — bit-identical in every engine.
    # exp(alpha*ln(n)) for other alphas is only ulp-accurate per libm;
    # the fixed-point floor makes a boundary flip vanishingly unlikely
    # but only the sqrt path is *guaranteed* replayable.
    n_dbl = F.col("n_docs").cast("double")
    raised = (
        F.sqrt(n_dbl)
        if float(alpha) == 0.5
        else F.exp(F.lit(float(alpha)) * F.log(n_dbl))
    )
    w_int = F.floor(raised * 1e6).cast("long")
    weighted = counts.withColumn("__w", w_int)
    tot = Window.partitionBy()
    return (
        weighted.withColumn("__tot_n", F.sum("n_docs").over(tot))
        .withColumn("__tot_w", F.sum("__w").over(tot))
        .select(
            source_col,
            "n_docs",
            # `div` = exact integer floor division on positives; double
            # `/` + cast would round-vs-truncate differently per engine
            F.expr("n_docs * 1000000 div __tot_n").alias("natural_ppm"),
            F.expr("__w * 1000000 div __tot_w").alias("tempered_ppm"),
            F.expr(
                "CASE WHEN n_docs * 1000000 div __tot_n > 0 THEN"
                " ((__w * 1000000 div __tot_w) * 100)"
                " div (n_docs * 1000000 div __tot_n)"
                " ELSE -1 END"
            ).alias("epoch_x100"),
        )
    )


def diverse_sample(
    embeddings: DataFrame,
    dim: int,
    per_bucket: int = 1,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space-balanced subsample: partition the corpus into
    2^num_planes hyperplane-LSH buckets (regions of embedding space)
    and keep ``per_bucket`` unbiased representatives per bucket —
    coverage-preserving downsampling for training mixes, where naive
    hash_sample would keep the dense clusters' redundancy and starve
    the sparse tails.

    Representatives are the smallest md5(id) per bucket, so the pick
    is uniform within the bucket, deterministic, repartition-stable
    and engine-replayable. 100 TB shape: the bucket is a map-side
    projection (sin-literal hyperplanes, JVM fold — no Python); with
    only 2^num_planes distinct keys the window shuffle would be a
    256-reducer hotspot, but the row_number()<=N filter plans as
    WindowGroupLimit, which prunes to per_bucket rows PER MAP TASK
    before the exchange — the shuffle carries O(tasks * buckets *
    per_bucket) rows, not the corpus (plan-asserted in tests).

    Output: (id_col, bucket, pick_rank).
    """
    from osm_pt_validator_spark.operators.similarity import hyperplane_bucket

    # a NULL id would md5 to NULL and sort FIRST in Spark's window
    # (LAST in DuckDB), stealing a representative slot — exclude it
    b = embeddings.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        hyperplane_bucket(F.col(vec_col), dim, num_planes).alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return b.withColumn("pick_rank", F.row_number().over(w).cast("int")).filter(
        F.col("pick_rank") <= per_bucket
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight: Column,
    group_cols: list[str] | None = None,
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows per group
    (Efraimidis-Spirakis A-ES): each row draws priority
    -ln(u)/w with u = md5(key)/2^60 in (0,1], and the k SMALLEST
    priorities win — inclusion probability proportional to weight,
    exactly the draw a temperature-weighted training mix
    (mixture_weights) needs to materialize.

    Deterministic and repartition-stable: u comes from the
    engine-neutral md5 hash, so the same (key, weight) always draws
    the same priority, and re-runs/resumes pick identical rows (the
    reason this is NOT rand()-based). Non-positive weights are
    excluded (they'd win never / always degenerately).

    100 TB shape: priority is a map-side projection; the per-group
    top-k is row_number <= k, which plans as WindowGroupLimit — each
    map task forwards at most k rows per group to the exchange.

    Output: input columns + (priority_ppb LONG, sample_rank INT).
    The RANKING uses the ppb-quantized priority (ties broken by key):
    quantize-before-rank absorbs last-ulp ln() differences between
    engines — the same cross-engine tie contract as tfidf_top_terms.
    """
    from osm_pt_validator_spark.functions.hashing import md5_i64

    groups = list(group_cols or [])
    u = md5_i64(F.col(key_col).cast("string"), "wsample").cast("double") / F.lit(
        float(1 << 60)
    )
    pri = F.round((-F.log(u) / weight.cast("double")) * 1e9).cast("long")
    # NULL keys would hash to NULL priorities, which Spark's ASC
    # ordering puts FIRST (a free win regardless of weight) while
    # DuckDB puts them LAST — exclude them like non-positive weights
    base = df.filter(weight > 0).filter(
        F.col(key_col).isNotNull()
    ).withColumn("__pri", pri)
    w = (
        Window.partitionBy(*groups).orderBy(
            F.col("__pri").asc(), F.col(key_col).asc()
        )
        if groups
        else Window.partitionBy(F.lit(1)).orderBy(
            F.col("__pri").asc(), F.col(key_col).asc()
        )
    )
    return (
        base.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= k)
        .select(
            *df.columns,
            F.col("__pri").alias("priority_ppb"),
            "sample_rank",
        )
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (public method:
    Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): score every raw document by how much its
    hashed unigram+bigram profile resembles the TARGET domain sample
    rather than the raw corpus.

        weight(doc) = sum over gram occurrences g of
            ln p_tgt(bucket(g)) - ln p_raw(bucket(g))

    with Laplace-smoothed bucket probabilities over `buckets` md5-
    hashed bins. The per-BUCKET log-ratio is quantized to integer
    micro-nats BEFORE the per-doc sum, so the big reduction is exact
    integer arithmetic — order-independent and engine-independent
    (the DuckDB oracle replays it bit-for-bit; float ln enters only
    in the <= `buckets` per-bin constants computed from exact integer
    counts, the same trick tfidf_top_terms uses for its idf).

    Scale shape (100 TB raw corpus, small target by definition —
    DSIR's target is a domain sample): ONE corpus scan explodes
    grams into (doc, bucket) occurrence counts (map-side combining
    groupBy); the raw and target histograms are ONE combining agg
    over THAT table unioned with the target's grams, never a re-scan;
    the target side scans its small frame once. The log-ratios
    (<= `buckets` rows) broadcast back onto the per-doc counts — no
    driver collect, and the only large exchange is the (doc, bucket)
    agg. Docs with zero grams carry no evidence either way and are
    absent from the output (weight undefined, not 0).

    Output: (id_col, weight_micro, n_grams) — selection composes
    downstream (rank / threshold / weighted_sample on weight_micro).
    """
    from osm_pt_validator_spark.operators.text import word_ngrams

    def bucketed(df: DataFrame, with_id: bool) -> DataFrame:
        grams = F.concat(
            word_ngrams(F.col(text_col), 1), word_ngrams(F.col(text_col), 2)
        )
        cols = [F.col(id_col)] if with_id else []
        return df.select(*cols, F.explode(grams).alias("gram")).select(
            *([id_col] if with_id else []),
            (md5_i64(F.col("gram"), "dsir") % buckets).alias("bucket"),
        )

    # doc_counts feeds BOTH the raw histogram and the final weight
    # join; without materialization Spark re-runs the corpus
    # explode+md5 for each consumer, doubling the one genuinely heavy
    # scan. The materialized table is <= buckets rows per doc of pure
    # ints — far smaller than the corpus it summarizes.
    doc_counts = (
        bucketed(docs, with_id=True)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    # ONE histogram of both sides: the union's groupBy combines map-side
    # to <= `buckets` rows per partition, and the totals are windows over
    # the <= `buckets`-row result — no histogram join, no 1-row aggs, no
    # crossJoin.
    # Summing t over every bucket (target-only ones included, dropped
    # after) gives the true target total even when no target bucket
    # occurs in the corpus.
    every = Window.partitionBy(F.lit(1))
    hist = (
        doc_counts.select("bucket", F.col("c").alias("r"), F.lit(0).alias("t"))
        .unionByName(
            bucketed(target, with_id=False).select(
                "bucket", F.lit(0).cast("long").alias("r"), F.lit(1).alias("t")
            )
        )
        .groupBy("bucket")
        .agg(F.sum("r").alias("r"), F.sum("t").alias("t"))
        .withColumn("rn", F.sum("r").over(every))
        .withColumn("tn", F.sum("t").over(every))
    )
    ratio = hist.filter(F.col("r") > 0).select(
        "bucket",
        F.round(
            (
                F.log((F.col("t") + 1.0) / (F.col("tn") + buckets))
                - F.log((F.col("r") + 1.0) / (F.col("rn") + buckets))
            )
            * 1e6
        )
        .cast("long")
        .alias("lr_micro"),
    )
    return (
        doc_counts.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("c") * F.col("lr_micro")).alias("weight_micro"),
            F.sum("c").cast("long").alias("n_grams"),
        )
    )


def curation_funnel(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: int = 65,
    max_rep: float = 0.6,
) -> DataFrame:
    """FineWeb-style filtering funnel (Penedo et al. 2024): every
    document gets the FIRST curation stage it fails — language ID,
    quality score, token-repetition, exact-duplicate (keep-lowest-id
    among docs that survived the content stages) — or 'kept'. The
    per-stage removal counts a pipeline report needs are then one
    groupBy('stage') away, and the decision trace stays auditable
    per document.

    Composes four already-oracle-verified signals (lang_id,
    quality_score, dup_token_fraction, fingerprint) in ONE corpus
    scan; the only shuffle is the fingerprint window that picks each
    duplicate group's surviving representative — the same single-
    exchange shape as the standalone exact dedup.

    Output: (id_col, stage) with stage in
    ('lang', 'quality', 'repetition', 'duplicate', 'kept').
    """
    from osm_pt_validator_spark.operators.text import (
        dup_token_fraction,
        fingerprint,
        lang_id,
    )

    t = F.col(text_col)
    base = docs.select(
        F.col(id_col),
        lang_id(t).alias("lg"),
        quality_score(t).alias("q"),
        dup_token_fraction(t).alias("rep"),
        fingerprint(t).alias("fp"),
    )
    passes = (
        (F.col("lg") == lang)
        & (F.col("q") >= min_quality)
        & (F.col("rep") <= max_rep)
    )
    keeper = F.min(F.when(passes, F.col(id_col))).over(
        Window.partitionBy("fp")
    )
    stage = (
        F.when(F.col("lg") != lang, F.lit("lang"))
        .when(F.col("q") < min_quality, F.lit("quality"))
        .when(F.col("rep") > max_rep, F.lit("repetition"))
        .when(F.col(id_col) != F.col("keeper"), F.lit("duplicate"))
        .otherwise(F.lit("kept"))
    )
    return base.withColumn("keeper", keeper).select(
        id_col, stage.alias("stage")
    )
