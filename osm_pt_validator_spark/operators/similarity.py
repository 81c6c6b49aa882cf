"""Similarity search over embedding columns (ARRAY<FLOAT>):

  * brute-force cosine top-k — the exactness baseline. Dot products via
    zip_with + aggregate (JVM fold, deterministic left-to-right order
    => bit-stable across engines after float64 cast), queries broadcast.
  * LSH-bucketed ANN — random-hyperplane signatures from DETERMINISTIC
    pseudo-planes plane[m][d] = sin(m*8191 + d*131) (reproducible in
    any engine, no RNG state), bucket equi-join + exact re-rank. The
    scale path: candidate set shrinks by ~2^num_planes.
  * embedding-cosine near-dup pairs for dedup pipelines.

One schema: every operator reads the corpus as (vec_id, embedding) and
queries as (query_id, query_vec). Each top-k operator only picks
candidate (query, vector) pairs; all of them end in the same exact
cosine re-rank, :func:`_exact_topk`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left fold — same summation order as the oracle."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _exact_topk(cands: DataFrame, k: int, *keep: str) -> DataFrame:
    """The exact re-rank every top-k operator ends in: cosine of each
    candidate (vec_id, embedding) x (query_id, query_vec) pair rounded
    to 6 dp, rank per query by sim desc then vec_id asc, keep rank <= k.
    Output: (query_id, vec_id, *keep, sim, rank)."""
    sim = F.round(cosine(F.col("embedding"), F.col("query_vec")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        cands.select("query_id", "vec_id", *keep, sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact cosine top-k per query. queries is small => broadcast;
    the probe side streams — no shuffle until the rank window on
    query_id (tiny). Output: (query_id, vec_id, sim, rank)."""
    q = broadcast(queries.select("query_id", "query_vec"))
    return _exact_topk(embeddings.select("vec_id", "embedding").crossJoin(q), k)


def cosine_all_pairs(
    embeddings: DataFrame,
    threshold: float,
    max_corpus_rows: int = 2_000_000,
) -> DataFrame:
    """Brute-force all-pairs cosine above `threshold` — the exactness
    baseline for the LSH/bucketed near-dup paths. Output:
    (vec_a, vec_b, sim) with vec_a < vec_b, sim rounded to 6 dp.

    O(N^2) by definition, so it is computed the only way O(N^2) should
    be: one BLAS matmul per Arrow batch against a broadcast normalized
    corpus matrix, not N^2 Catalyst expression evaluations (higher-order
    zip_with/aggregate dots are interpreted, no codegen — ~50x slower).
    The corpus collect is the sanctioned broadcast-dim materialisation:
    a brute baseline needs the whole corpus on every task, exactly like
    brute_force_topk's broadcast of the query matrix. The scale path for
    large N is cosine_near_dup_pairs / lsh_ann_topk — and the
    ``max_corpus_rows`` guard ENFORCES the small-corpus precondition:
    above the bound the driver collect would OOM long before the O(N^2)
    work even starts, so the call fails fast with a pointer to those
    paths instead.

    Determinism vs the SQL oracle: both sides compute the same float64
    cosine; they differ only in dot-product summation order (pairwise
    BLAS here, sequential fold in SQL), a ~1e-16 relative difference
    absorbed by the 6-dp rounding — a rounded value flips only when the
    exact cosine sits within ~1e-15 of a 0.5e-6 boundary. Rounding is
    half-away-from-zero (floor(|x|*1e6 + 0.5) with the sign restored),
    the same mode as Spark's F.round HALF_UP and DuckDB's round() —
    NOT numpy's default round-half-to-even, which could differ by 1 ppm
    on an exact 0.5e-6 boundary and flip the threshold filter.

    Memory: per task the working set is the broadcast corpus plus one
    (batch_rows x chunk) float64 sims block and its boolean mask — the
    corpus side of the matmul is chunked so the block stays ~32 MB
    regardless of N, instead of the 3x batch_rows x N peak a single
    full-width matmul (sims + two masks) would allocate."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    e = embeddings.select("vec_id", "embedding")
    # fail-fast guard: probe at most max_corpus_rows+1 rows (early-stop
    # scan) rather than a full count of a table we must never collect
    probed = e.limit(max_corpus_rows + 1).count()
    if probed > max_corpus_rows:
        raise ValueError(
            f"cosine_all_pairs is the brute O(N^2) baseline and collects the "
            f"corpus to the driver; it found > {max_corpus_rows} rows. Use the "
            f"bucketed scale paths instead (cosine_near_dup_pairs for "
            f"all-pairs-above-threshold, lsh_ann_topk / ivf_ann_topk for "
            f"top-k), or raise max_corpus_rows explicitly."
        )
    corpus = e.toPandas()  # collect-ok: broadcast-dim materialisation (brute baseline)
    out_schema = "vec_a long, vec_b long, sim double"
    if len(corpus) == 0:
        return spark.createDataFrame([], out_schema)

    def unit_rows(vecs):
        """float64 row matrix scaled to unit length (zero rows stay 0)."""
        m = np.array([np.asarray(v) for v in vecs], dtype=np.float64)
        n = np.sqrt((m * m).sum(axis=1))[:, None]
        return np.divide(m, n, out=np.zeros_like(m), where=n > 0)

    b_ids = spark.sparkContext.broadcast(corpus["vec_id"].to_numpy(dtype=np.int64))
    b_mat = spark.sparkContext.broadcast(unit_rows(corpus["embedding"]))

    def gen(batches):
        bid, bnorm = b_ids.value, b_mat.value
        n_corpus, dim = bnorm.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a = unit_rows(pdf["embedding"])
            # corpus chunk sized so the sims block is ~4M doubles (32 MB)
            chunk = max(256, 4_000_000 // len(pdf))
            for lo in range(0, n_corpus, chunk):
                sub_ids = bid[lo : lo + chunk]
                sims = a @ bnorm[lo : lo + chunk].T
                # candidate superset on RAW sims (1e-6 slack covers any
                # value that could round UP to the threshold), then the
                # exact half-away round + filter on the small survivor
                # vector — never a second batch x chunk float temp
                mask = sims >= (threshold - 1e-6)
                mask &= a_ids[:, None] < sub_ids[None, :]
                ai, bi = np.nonzero(mask)
                if ai.size == 0:
                    continue
                vals = sims[ai, bi]
                rounded = np.copysign(
                    np.floor(np.abs(vals) * 1e6 + 0.5) / 1e6, vals
                )
                keep = rounded >= threshold
                yield pd.DataFrame(
                    {
                        "vec_a": a_ids[ai[keep]],
                        "vec_b": sub_ids[bi[keep]],
                        "sim": rounded[keep],
                    }
                )

    return e.mapInPandas(gen, schema=out_schema)


# ---------------------------------------------------------------------------
# LSH ANN
# ---------------------------------------------------------------------------


def hyperplane_coeffs(dim: int, num_planes: int = 8) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes
    plane[m][d] = sin(m*8191 + d*131), materialised as driver-side
    float64 literals. Both the Spark plan AND the DuckDB oracle consume
    these exact constants, so the bucket is engine-reproducible with no
    dependency on any engine's sin() implementation."""
    import math

    return [
        [math.sin(m * 8191.0 + d * 131.0) for d in range(dim)]
        for m in range(num_planes)
    ]


def hyperplane_bucket(vec: Column, dim: int, num_planes: int = 8) -> Column:
    """Signature bucket as a pure JVM column expression (no Python on
    the hot path): bit m set iff dot(vec, plane_m) > 0, with the dot a
    sequential left fold — the same summation order as the oracle's
    list_dot_product."""
    v = _as_double(vec)
    bits = []
    for m, plane in enumerate(hyperplane_coeffs(dim, num_planes)):
        p = F.array(*[F.lit(c) for c in plane])
        bits.append(F.when(dot(v, p) > 0, F.lit(1 << m)).otherwise(F.lit(0)))
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total.cast("int")


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: same-bucket candidates, exact cosine re-rank.
    Output: (query_id, vec_id, sim, rank) — rank within candidates."""
    e = embeddings.select("vec_id", "embedding").withColumn(
        "__b", hyperplane_bucket(F.col("embedding"), dim, num_planes)
    )
    q = broadcast(
        queries.select("query_id", "query_vec").withColumn(
            "__b", hyperplane_bucket(F.col("query_vec"), dim, num_planes)
        )
    )
    return _exact_topk(e.join(q, "__b", "inner"), k)


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 32,
    num_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup: LSH bucket + exact verify.
    Output: (vec_a, vec_b, sim).

    Candidates come from ONE groupBy on the hyperplane bucket with
    in-bucket pair expansion, not a self-equi-join: Spark's self-join
    disambiguation re-ids one side so ReuseExchange can't fire, and the
    join form scans the embeddings and evaluates the num_planes-dot
    `hyperplane_bucket` fold TWICE (see operators/dedup._bucket_pairs).
    Pair count per bucket is k*(k-1)/2 either way, and an equi-join
    co-locates whole buckets on one task exactly like the groupBy, so
    the distribution is identical — minus one corpus scan."""
    e = embeddings.select("vec_id", "embedding").withColumn(
        "__b", hyperplane_bucket(F.col("embedding"), dim, num_planes)
    )
    # array_sort orders structs by their first field (the unique id),
    # so expansion yields vec_a < vec_b
    members = F.array_sort(
        F.collect_list(
            F.struct(F.col("vec_id").alias("i"), F.col("embedding").alias("v"))
        )
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["i"].alias("vec_a"),
                    y["i"].alias("vec_b"),
                    x["v"].alias("va"),
                    y["v"].alias("vb"),
                ),
            ),
        )
    )
    sim = F.round(cosine(F.col("p.va"), F.col("p.vb")), 6)
    return (
        e.groupBy("__b")
        .agg(members.alias("ms"))
        .filter(F.size("ms") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.vec_a").alias("vec_a"),
            F.col("p.vec_b").alias("vec_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization — the memory-bandwidth scale path
# ---------------------------------------------------------------------------


def with_int8(
    df: DataFrame, vec: str, q_col: str = "__q", s_col: str = "__s"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization of column ``vec``:
    scale s = 127/max|x| (1.0 for the zero vector),
    q_i = floor(x_i*s + 0.5).

    q is carried as ARRAY<BIGINT>: every product |q_i*q_j| <= 127^2 and
    any realistic sum stays far below 2^53, so :func:`dot` of two codes
    is EXACT in doubles — and DuckDB's list_dot_product replays it
    bit-for-bit. floor(x*s + 0.5) (round-half-up toward +inf) is the
    same IEEE op sequence in both engines, unlike each engine's round().

    The 4x memory-bandwidth win at 100 TB comes from PERSISTING the
    (q, s) columns and scanning them INSTEAD of the float vectors —
    with_int8 is that write-path encoder. Computed inline (as
    int8_quantized_topk below does for self-contained correctness
    checking) the float column is still read, so the inline win is the
    exact integer dot + map-side candidate prune, not bandwidth."""
    v = _as_double(F.col(vec))
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    out = df.withColumn(
        s_col, F.when(m > 0, F.lit(127.0) / m).otherwise(F.lit(1.0))
    )
    return out.withColumn(
        q_col, F.transform(v, lambda x: F.floor(x * F.col(s_col) + F.lit(0.5)))
    )


def _int8_candidates(
    corpus: DataFrame, probes: DataFrame, limit: int, on: str | None = None
) -> DataFrame:
    """Each query's ``limit`` best (vec_id, embedding) candidates by
    int8 cosine: corpus rows x broadcast probe rows (query_id,
    query_vec), joined on ``on`` (a cross join without).

    approx_cos = idot / (((s_e * s_q) * |v_e|) * |v_q|) — idot is the
    exact integer dot (see with_int8), the denominator a fixed
    left-associated chain of IEEE doubles, so candidate ranking is
    engine-reproducible. The rank <= limit filter is a WindowGroupLimit
    in Spark 3.5+: each map task keeps only its local top candidates
    per query BEFORE the shuffle, so the exchange carries
    O(queries * limit) rows per partition, never the corpus.
    Output: (query_id, vec_id, embedding, query_vec, approx_sim)."""
    e = with_int8(corpus, "embedding", "__q", "__s").withColumn(
        "__n", norm(F.col("embedding"))
    )
    q = broadcast(
        with_int8(probes, "query_vec", "__qq", "__qs").withColumn(
            "__qn", norm(F.col("query_vec"))
        )
    )
    joined = e.join(q, on) if on else e.crossJoin(q)
    denom = ((F.col("__s") * F.col("__qs")) * F.col("__n")) * F.col("__qn")
    approx = F.round(
        F.when(denom > 0, dot(F.col("__q"), F.col("__qq")) / denom).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("vec_id").asc()
    )
    return (
        joined.select(
            "query_id", "vec_id", "embedding", "query_vec", approx.alias("approx_sim")
        )
        .withColumn("__cr", F.row_number().over(w))
        .filter(F.col("__cr") <= limit)
    )


def int8_quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rescore: int = 4,
) -> DataFrame:
    """Scalar-quantized ANN: int8 dot products pick k*rescore candidates
    per query (:func:`_int8_candidates`, losers pruned map-side), an
    exact float64 cosine re-ranks them to the final top-k. (Codes are
    computed inline here; for the persisted-code scan path — the actual
    4x-bytes win — encode with with_int8 at write time and feed the
    stored columns in.)

    Output: (query_id, vec_id, approx_sim, sim, rank) — sim/rank from
    the exact re-rank; approx_sim retained to measure quantization loss.
    """
    cands = _int8_candidates(
        embeddings.select("vec_id", "embedding"),
        queries.select("query_id", "query_vec"),
        k * rescore,
    )
    return _exact_topk(cands, k, "approx_sim")


# ---------------------------------------------------------------------------
# IVF ANN (inverted-file index) — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def _nearest_cells(
    rows: DataFrame, key: str, vec: str, centroids: DataFrame, n: int
) -> DataFrame:
    """Each row's ``n`` nearest centroids (max cosine, ties on
    centroid_id): broadcast cross join + rank window on ``key``, so only
    the tiny per-row candidate set shuffles. Output: (key, vec,
    centroid_id)."""
    c = broadcast(centroids.select("centroid_id", "centroid_vec"))
    w = Window.partitionBy(key).orderBy(
        F.col("__csim").desc(), F.col("centroid_id").asc()
    )
    return (
        rows.crossJoin(c)
        .withColumn("__csim", cosine(F.col(vec), F.col("centroid_vec")))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n)
        .select(key, vec, "centroid_id")
    )


def ivf_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine).

    centroids: (centroid_id, centroid_vec) — small, broadcast.
    Output: (vec_id, embedding, centroid_id).
    """
    return _nearest_cells(
        embeddings.select("vec_id", "embedding"), "vec_id", "embedding", centroids, 1
    )


def deterministic_centroids(
    embeddings: DataFrame, num_centroids: int = 16
) -> DataFrame:
    """Coarse quantizer without iterative k-means: centroid c = the
    element-wise mean of the vectors whose md5-derived id hash lands in
    residue class c. Deterministic AND engine-reproducible (md5_i64 is
    replayable in the DuckDB oracle, unlike Spark-private xxhash64);
    one aggregation pass, and at scale a perfectly serviceable IVF
    quantizer (k-means would sharpen the cells but not change the plan
    shape). Output: (centroid_id, centroid_vec ARRAY<DOUBLE>)."""
    from osm_pt_validator_spark.functions.hashing import md5_i64

    cls = F.pmod(
        md5_i64(F.col("vec_id").cast("string"), salt="ivf|"), F.lit(num_centroids)
    ).alias("centroid_id")
    exploded = embeddings.select(
        cls, F.posexplode(F.col("embedding")).alias("dim", "x")
    )
    return (
        exploded.groupBy("centroid_id", "dim")
        .agg(F.avg("x").alias("mx"))
        .groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mx"))).alias("dm"))
        .select(
            "centroid_id",
            F.transform(F.col("dm"), lambda s: s["mx"]).alias("centroid_vec"),
        )
    )


def _ivf_probes(
    embeddings: DataFrame, queries: DataFrame, num_centroids: int, nprobe: int
) -> tuple[DataFrame, DataFrame]:
    """(inverted lists (vec_id, embedding, centroid_id), probe cells
    (query_id, query_vec, centroid_id)): the index and each query's
    ``nprobe`` nearest cells, over one broadcast centroid table."""
    cents = deterministic_centroids(embeddings, num_centroids)
    probes = _nearest_cells(
        queries.select("query_id", "query_vec"), "query_id", "query_vec", cents, nprobe
    )
    return ivf_assign(embeddings, cents), probes


def ivf_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF search: probe the `nprobe` nearest centroid cells per query,
    exact cosine re-rank within them.

    Scale shape: the index side is partitioned by centroid_id (the
    inverted lists); each query touches nprobe/num_centroids of the
    data; the probes (queries * nprobe rows) join by broadcast.
    Output: (query_id, vec_id, sim, rank).
    """
    indexed, probes = _ivf_probes(embeddings, queries, num_centroids, nprobe)
    return _exact_topk(indexed.join(broadcast(probes), "centroid_id"), k)


def int8_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    rescore: int = 4,
) -> DataFrame:
    """IVF + int8 composition — the many-query production shape:
    int8 dot products are computed ONLY inside each query's nprobe
    inverted lists, never against the whole corpus (the gap that made
    int8_quantized_topk a quantized-brute tier: its crossJoin scans
    corpus x queries).

    Plan: centroids (one agg pass, broadcast) -> inverted lists
    partitioned by centroid_id with int8 codes attached (the stored
    form a write path would persist) -> per-query nprobe probe cells ->
    ONE broadcast hash join on centroid_id (probes are
    queries * nprobe rows — tiny) -> exact-integer int8 scoring with a
    WindowGroupLimit at k*rescore (losers pruned map-side, before the
    shuffle) -> exact float64 cosine re-rank to top-k. Per-query cost
    is nprobe/num_centroids of the corpus at int8 bandwidth, and the
    only corpus-sized shuffle is the IVF assignment itself.

    All arithmetic is the same IEEE-reproducible contract as
    int8_quantized_topk / ivf_ann_topk (exact integer dots in doubles,
    fixed association order, round-6dp-then-rank, ties by id), so a
    DuckDB oracle replays the full chain bit-for-bit.

    Output: (query_id, vec_id, approx_sim, sim, rank).
    """
    indexed, probes = _ivf_probes(embeddings, queries, num_centroids, nprobe)
    cands = _int8_candidates(indexed, probes, k * rescore, on="centroid_id")
    return _exact_topk(cands, k, "approx_sim")


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (public method: Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"):
    cluster the embedding space, then drop every document whose cosine
    similarity to a LOWER-id member of the SAME cluster clears
    `threshold` — semantic near-dups that no lexical dedup
    (minhash/simhash/winnowing) can see.

    Composition of two already-verified pieces: kmeans_fixed_point
    (integer-exact Lloyd, bit-replayable) for the partition, and the
    deterministic left-fold cosine (round 6 dp) for the verify — so
    the whole chain stays DuckDB-replayable.

    Scale shape (10^9 vectors): the quadratic work is confined WITHIN
    clusters — k is the degeneracy knob (pairs = sum of cluster^2;
    SemDeDup runs k in the tens of thousands at web scale so clusters
    stay ~1e4). One equi-join on cid forms the pairs (AQE handles a
    skewed mega-cluster), one distinct on the loser ids, one left
    join marks survivors. Keep-lowest-id is the same deterministic
    survivor rule the lexical dedup family uses.

    Output: (vec_id, cid, kept 0/1) for EVERY input vector.
    """
    from osm_pt_validator_spark.operators.kmeans import kmeans_fixed_point

    _cents, assign = kmeans_fixed_point(embeddings, k=k, iters=iters)
    member = assign.join(
        embeddings.select(F.col("vec_id").alias("id"), "embedding"), "id"
    )
    # per-member norm computed ONCE (the pair join would otherwise
    # re-fold each vector's self-dot for every partner — 3x the fold
    # work on the quadratic term; same float ops, identical sims)
    scored = member.withColumn("nrm", norm(F.col("embedding")))
    a, b = (
        scored.select(
            F.col("id").alias(f"id_{s}"),
            F.col("cid").alias(f"cid_{s}"),
            F.col("embedding").alias(f"v{s}"),
            F.col("nrm").alias(f"n{s}"),
        )
        for s in "ab"
    )
    pairs = a.join(
        b,
        (F.col("cid_a") == F.col("cid_b")) & (F.col("id_a") < F.col("id_b")),
    )
    denom = F.col("na") * F.col("nb")
    sim = F.round(
        F.when(denom > 0, dot(F.col("va"), F.col("vb")) / denom).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    losers = (
        pairs.select("id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        member.join(losers.withColumn("__dup", F.lit(1)), "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.col("cid").cast("int").alias("cid"),
            F.when(F.col("__dup").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("kept"),
        )
    )
