"""Product quantization (PQ) ANN — the compressed-domain scale path.

IVF (operators/similarity.py) prunes WHICH vectors a query scans;
PQ compresses HOW each vector is scanned: split the d-dim embedding
into M subspaces, k-means each subspace into K codes, store each
vector as M small ints, and answer queries by summing M table lookups
(asymmetric distance computation, ADC) instead of d multiplies.
At 100 TB of float32 embeddings, PQ(M=16, K=256) is a 16x storage cut
(64 floats -> 16 bytes) and turns the scan into integer adds — this is
the difference between "the index fits in cluster RAM" and "it
doesn't". Jegou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011 (public).

Engine-exact like operators/kmeans.py: vectors quantize to fixed-point
int64, so training, encoding, and ADC distances are all integer
arithmetic a DuckDB oracle replays bit-for-bit.

Scale shape (the part that matters at 10^12 vectors):

* **training** is kmeans.lloyd with one space per subspace: it touches
  the corpus once per Lloyd round, and the shuffle is bounded by
  M x K x dim/M = K x dim longs, never the corpus;
* **encoding is ZERO-shuffle**: the full codebook set is M*K*(dim/M)
  = K*dim longs (a few KB) collapsed into ONE broadcast row, and the
  per-subspace argmin is pure column algebra (`array_sort` over a
  K-element struct array per row) — embarrassingly parallel, no
  Exchange in the plan (asserted in tests/test_plans.py);
* **ADC search is also per-row**: per-query lookup tables (M x K longs
  each) are built query-side and broadcast; each document row costs M
  array lookups + adds, and only the final top-k rank shuffles
  (N x Q tiny rows; compose with IVF lists to prune N first).

Reference tie-in: the reference validator has no vector search at all
(it fetches one relation at a time over HTTP, osm/client.go); PQ is
part of the training-data layer this engine adds on top of the same
corpus tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .kmeans import lloyd, quantize, sq_dist


def _subvectors(qv, m: int, ds: int):
    """array<long>[dim] -> array of m slices of length ds (0-indexed m)."""
    return F.array(*[F.slice(qv, j * ds + 1, ds) for j in range(m)])


def pq_train(
    vectors: DataFrame, m: int = 4, k: int = 8, iters: int = 1, dim: int = 64
) -> DataFrame:
    """Train M per-subspace codebooks: kmeans.lloyd with one space per
    subspace.

    Returns (m int, cid int, cv array<long>) — up to k codes per
    subspace (empty clusters drop out, standard Lloyd). Init: per
    subspace, the k smallest ids' subvectors, cid in id order — the
    same deterministic seed rule as kmeans.py so the oracle replays it.
    ``iters=0`` returns those seed codebooks.
    """
    ds = dim // m
    q = vectors.select(
        F.col("vec_id").alias("id"), quantize(F.col("embedding")).alias("qv")
    )
    sub = q.select(
        "id", F.posexplode(_subvectors(F.col("qv"), m, ds)).alias("m", "v")
    )
    cents, _assigned = lloyd(sub, ("m",), k, iters)
    return cents.select(
        F.col("m").cast("int").alias("m"), F.col("cid").cast("int").alias("cid"), "cv"
    )


def _books_row(codebooks: DataFrame) -> DataFrame:
    """Collapse (m, cid, cv) to ONE row: books[m] = sorted array of
    struct(cid, cv). K*dim longs total — broadcastable at any corpus
    size (the codebook is index metadata, not data)."""
    per_m = codebooks.groupBy("m").agg(
        F.sort_array(F.collect_list(F.struct("cid", "cv"))).alias("book")
    )
    return per_m.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("m", "book"))),
            lambda st: st["book"],
        ).alias("books")
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """(id, codes array<int>) — codes[j] = argmin code of subspace j.

    ZERO-shuffle on the corpus side: one broadcast-nested-loop join
    against the single codebook row, then pure column algebra — the
    K-element argmin is `array_sort(struct(dist, cid))[0]`, ties on
    cid, matching the oracle's ORDER BY dist, cid."""
    ds = dim // m
    q = vectors.select(
        F.col("vec_id").alias("id"), quantize(F.col("embedding")).alias("qv")
    )
    enc = q.join(broadcast(_books_row(codebooks)), how="cross")
    sub = _subvectors(F.col("qv"), m, ds)
    codes = F.transform(
        sub,
        lambda sv, j: F.array_sort(
            F.transform(
                F.element_at(F.col("books"), j + 1),
                lambda c: F.struct(
                    sq_dist(sv, c["cv"]).alias("d"), c["cid"].alias("cid")
                ),
            )
        )[0]["cid"].cast("int"),
    )
    return enc.select("id", codes.alias("codes"))


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Top-k per query by ADC distance over PQ codes.

    (query_id, vec_id, adc_dist long, rank int). Per-query LUTs
    (M x K longs) are computed on the tiny query side and broadcast;
    each corpus row then costs M lookups + adds with NO shuffle until
    the final per-query rank (N x Q short rows). ADC is the standard
    PQ approximation: distance to the CODE of the document, not the
    document — exact integers either way, so the oracle agrees."""
    codes = pq_encode(vectors, codebooks, m=m, dim=dim)
    ds = dim // m
    qrows = queries.select("query_id", quantize(F.col("query_vec")).alias("qv"))
    luts = (
        qrows.join(broadcast(_books_row(codebooks)), how="cross")
        .select(
            "query_id",
            F.zip_with(
                _subvectors(F.col("qv"), m, ds),
                F.col("books"),
                lambda sv, book: F.transform(book, lambda c: sq_dist(sv, c["cv"])),
            ).alias("luts"),
        )
    )
    scored = codes.join(broadcast(luts), how="cross").select(
        "query_id",
        F.col("id").alias("vec_id"),
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.col("luts"),
                lambda code, lut: F.element_at(lut, code + 1),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_dist", F.col("rank").cast("int").alias("rank"))
    )
