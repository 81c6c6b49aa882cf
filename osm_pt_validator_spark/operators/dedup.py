"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale shapes:
  * exact      — one groupBy on an md5 key (map-side combine).
  * minhash    — shingle/signature/band computation is per-row array
                 algebra (no Python, no shuffle); candidate generation
                 is ONE self-join on (band_idx, band_hash) — the
                 classic LSH bucket join. Bands are the salting: hot
                 shingles don't concentrate because the join key is the
                 banded signature, not the shingle.
  * simhash    — 64-bit signature via one Arrow pandas UDF (numpy bit
                 ops); near-dup pairs via banded 16-bit chunk join +
                 hamming re-rank (same join shape as minhash).
  * ngram      — exact Jaccard verification on candidate pairs (array
                 intersect/union) — used as the verifier behind LSH.
  * embedding  — cosine near-dup over `embeddings` via the similarity
                 module's join.

All hash functions are md5-derived (functions/hashing.py) so the DuckDB
oracle can replay signatures bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from osm_pt_validator_spark.functions.hashing import md5_i64
from osm_pt_validator_spark.operators.text import fingerprint, tokens


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """(fp, keep_doc_id, dup_count) for every duplicate group (>1 doc)
    keyed by the normalised-text fingerprint."""
    return (
        documents.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Documents minus exact duplicates (keep the min doc_id per
    fingerprint) — the canonical first pass of a data pipeline.

    Shape: ONE window (row_number over fp, ordered by doc_id) = one
    scan of the corpus + one shuffle on fp. The groupBy-min +
    self-join alternative computes the fingerprinted corpus subtree
    TWICE and shuffles twice — at 100 TB this is the first pass of the
    pipeline, where an extra full-corpus scan is the single most
    expensive redundancy possible."""
    w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    return (
        documents.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("fp", "__rn")
    )


# ---------------------------------------------------------------------------
# shingles + minhash
# ---------------------------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined).

    Built as arrays_zip of n shifted slices + one transform. The naive
    form — transform(sequence(1, m-n+1), i -> slice(toks, i, n)) — is
    O(tokens^2) PER ROW: a lambda body referencing the outer `toks`
    expression re-evaluates the whole tokenise pipeline per element
    (higher-order functions don't share subexpressions with their
    enclosing scope). The zip form evaluates each slice once per row.
    """
    toks = tokens(text)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    zipped = F.arrays_zip(*parts)
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    return F.array_distinct(grams)


#: Mersenne prime 2^31-1 — the affine minhash family works mod p, with
#: the base hash folded into [0, p) so (a*x + b) never overflows int64
#: under ANSI arithmetic.
MINHASH_P = 2147483647


def minhash_params(m: int) -> tuple[int, int]:
    """Deterministic affine coefficients for the m-th hash function
    (Knuth multiplicative constants — reproducible in any engine)."""
    a = (2654435761 * (m + 1)) % MINHASH_P or 1
    b = (40503 * m + 7) % MINHASH_P
    return a, b


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """ARRAY<LONG>: one md5-derived base hash in [0, MINHASH_P) per
    distinct shingle. Materialise this ONCE (projection behind a
    shuffle/exchange); the per-function minhashes below are then cheap
    integer affine maps instead of num_hashes full md5 passes (which
    also blow past whole-stage-codegen method limits)."""
    return F.transform(shingles(text, n), lambda s: md5_i64(s) % MINHASH_P)


def minhash_signature_from_hashes(hs: Column, num_hashes: int = 16) -> Column:
    """ARRAY<LONG> signature from pre-computed base hashes:
    sig[m] = min over shingles of (a_m * h + b_m) mod p; empty shingle
    set => nulls.

    NB each transform lambda must take exactly ONE parameter:
    F.transform treats a second parameter as the element index (so
    ``lambda x, a=a: ...`` would silently receive the index)."""

    def affine(m: int):
        a, b = minhash_params(m)
        return lambda x: (x * a + b) % MINHASH_P

    return F.array(
        *[F.array_min(F.transform(hs, affine(m))) for m in range(num_hashes)]
    )


def _pair_structs(ids_col: str = "ids"):
    """(doc_a < doc_b) struct pairs expanded from a sorted id array —
    shared by every in-bucket candidate generator (LSH bands, SimHash
    chunks, span fingerprints): one definition of the slice arithmetic."""
    return F.flatten(
        F.transform(
            F.col(ids_col),
            lambda x, i: F.transform(
                F.slice(F.col(ids_col), i + 2, F.size(F.col(ids_col))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def _bucket_pairs(
    keyed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket: int = 256,
) -> DataFrame:
    """(doc_a < doc_b) pairs co-bucketed on bucket_cols, via bucket-size
    count -> eligibility filter -> in-bucket pair expansion — the LSH
    candidate shape that scans its input once (persisted slim key
    table, both aggregations reuse its partitioning).

    Why not a self-equi-join: Spark's self-join disambiguation assigns
    fresh expression ids to one side, so the two (identical) subtrees
    never compare equal and ReuseExchange can NOT fire — measured: the
    join form scans the corpus and computes the full signature pipeline
    TWICE (initial and final plans both). The groupBy form is also the
    natural distribution: the pair count per bucket is k*(k-1)/2 either
    way (the join produces exactly the same rows), but here the corpus
    is read once and only bucket ids shuffle.

    max_bucket is the degenerate-bucket guard (same role as
    duplicated_span_pairs' max_postings): a bucket of b members expands
    to b*(b-1)/2 pairs INSIDE ONE ROW, so a corpus with millions of
    identical documents — every band hash equal — would otherwise build
    a ~10^12-struct array in a single task. Bucket sizes are counted
    FIRST with a map-side-combining count (no task ever buffers a hot
    bucket's members), and only buckets in [2, max_bucket] reach the
    collect + expansion; an over-cap bucket is near-certain
    exact-duplicate mass, which is exact_duplicates()'s job (the
    composed corpus_curate pipeline collapses exact dups before LSH
    for precisely this reason). Pass max_bucket=None to disable.
    """
    from pyspark.storagelevel import StorageLevel

    ids_sorted = F.array_sort(F.collect_list(F.col(id_col)))
    if max_bucket is None:
        grouped = (
            keyed.groupBy(*bucket_cols)
            .agg(ids_sorted.alias("ids"))
            .filter(F.size("ids") > 1)
        )
    else:
        k = keyed.repartition(*[F.col(c) for c in bucket_cols]).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        eligible = (
            k.groupBy(*bucket_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket))
            .select(*bucket_cols)
        )
        grouped = k.join(eligible, bucket_cols).groupBy(*bucket_cols).agg(
            ids_sorted.alias("ids")
        )
    return (
        grouped.select(F.explode(_pair_structs("ids")).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 256,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) sharing >=1 LSH band.

    rows_per_band = num_hashes / bands; band hash = md5 of the
    signature slice. Candidates come from ONE groupBy on
    (band_idx, band_hash) with in-bucket pair expansion (_bucket_pairs)
    — one corpus scan, one signature computation; at scale the bucket
    sizes are the knob (more bands => higher recall, bigger buckets).
    Buckets larger than max_bucket are dropped before expansion (see
    _bucket_pairs — degenerate exact-duplicate mass; run
    exact_duplicates first, as corpus_curate does).
    """
    assert num_hashes % bands == 0
    rpb = num_hashes // bands
    shingled = documents.select(
        "doc_id", shingle_hashes(F.col("text"), shingle_n).alias("sh")
    ).repartition("doc_id")
    # the repartition is a projection barrier: without the exchange,
    # CollapseProject re-inlines the whole tokenise+shingle+md5
    # pipeline into each of the num_hashes min-hash expressions
    sig = minhash_signature_from_hashes(F.col("sh"), num_hashes)
    # drop docs with NO shingles (the only way sig elements go null)
    # HERE, on the cheap column — filtering on the signature itself
    # would let predicate pushdown drag the whole 16-hash expression
    # through the exchange and re-evaluate it per row in the filter.
    banded = (
        shingled.filter(F.size("sh") > 0)
        .select("doc_id", sig.alias("sig"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.md5(
                        F.concat_ws(",", F.slice(F.col("sig"), b * rpb + 1, rpb))
                    ),
                )
            ).alias("band_idx", "band_hash"),
        )
    )
    return _bucket_pairs(
        banded, ["band_idx", "band_hash"], "doc_id", max_bucket=max_bucket
    )


def ngram_jaccard(text_a: Column, text_b: Column, n: int = 3) -> Column:
    """Exact Jaccard similarity of the two shingle sets, 6 dp."""
    sa, sb = shingles(text_a, n), shingles(text_b, n)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6)


def minhash_near_duplicates(
    documents: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 256,
) -> DataFrame:
    """LSH candidates verified by exact n-gram Jaccard >= threshold.
    Output: (doc_a, doc_b, jaccard)."""
    pairs = minhash_lsh_pairs(documents, num_hashes, bands, shingle_n, max_bucket)
    docs_a = documents.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
    )
    docs_b = documents.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
    )
    return (
        pairs.join(docs_a, "doc_a")
        .join(docs_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            ngram_jaccard(F.col("text_a"), F.col("text_b"), shingle_n).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def make_simhash_udf(bits: int = 64):
    """Arrow-batched SimHash over word tokens, vectorized across the
    WHOLE batch: tokenisation via pandas str ops, md5 computed once per
    *unique* token in the batch (the vocabulary — typically 10-100×
    smaller than the token stream), and the per-document bit votes
    accumulated one bit-plane at a time with np.bincount (peak memory
    O(tokens + rows*bits), never the (tokens, bits) vote matrix). No
    per-row Python loop — at 100 TB the cost is O(vocab) hashes +
    O(tokens*bits) numpy adds per batch, not O(tokens) hashlib calls."""

    @pandas_udf(T.LongType())
    def simhash(text: pd.Series) -> pd.Series:
        import hashlib

        n_rows = len(text)
        tok_lists = (
            text.fillna("").str.lower().str.findall(r"[a-z0-9']+")
        )
        lens = tok_lists.str.len().to_numpy(dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series(np.zeros(n_rows, dtype=np.int64))
        doc_idx = np.repeat(np.arange(n_rows), lens)
        all_toks = np.concatenate(
            [np.asarray(t, dtype=object) for t in tok_lists if t]
        )
        uniq, inv = np.unique(all_toks, return_inverse=True)
        # vocabulary hash: one md5 per UNIQUE token in the batch
        uhash = np.fromiter(
            (
                int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
                for w in uniq
            ),
            dtype=np.uint64,
            count=len(uniq),
        )
        # Per-bit-plane accumulation. Materialising the full
        # (tokens_in_batch, bits) ±1 vote matrix (votes[inv]) before a
        # scatter costs ~512 B/token — a 10k-row batch of 1k-token docs
        # peaks near 5 GB/task. Instead: expand hashes to the token
        # stream once (8 B/token), then per bit count the set tokens per
        # doc with one bincount — the sign of the vote sum is
        # (2*ones > total), bit-identical to acc>0 since
        # acc = ones - zeros = 2*ones - total. Peak memory
        # O(tokens + rows*bits); arithmetic still O(tokens*bits) adds.
        tok_hash = uhash[inv]
        sig = np.zeros(n_rows, dtype=np.uint64)
        for bit in range(bits):
            set_mask = ((tok_hash >> np.uint64(bit)) & np.uint64(1)).astype(bool)
            ones = np.bincount(doc_idx[set_mask], minlength=n_rows)
            sig |= (2 * ones > lens).astype(np.uint64) << np.uint64(bit)
        return pd.Series(sig.astype(np.int64))

    return simhash


def simhash_near_duplicates(
    documents: DataFrame, max_hamming: int = 3, max_bucket: int = 256
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into 4
    16-bit chunks (pigeonhole: hamming<=3 pairs share >=1 chunk),
    bucket on (chunk_idx, chunk) via ONE groupBy with in-bucket pair
    expansion (see _bucket_pairs: the self-join form scans the corpus
    and runs the signature UDF twice), verify exact hamming distance.
    Chunks shared by more than max_bucket documents are dropped before
    expansion — the same degenerate-bucket guard as _bucket_pairs; the
    chunk table is counted first (map-side combine) so no task ever
    buffers a mega-bucket's members.
    Output: (doc_a, doc_b, hamming)."""
    sim = make_simhash_udf(64)
    sigs = documents.select("doc_id", sim(F.col("text")).alias("sig"))
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), 16 * c).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    # carry (doc_id, sig) structs into the bucket so the hamming verify
    # needs no join back; array_sort orders by doc_id (first field), so
    # expansion yields doc_a < doc_b
    members = F.array_sort(F.collect_list(F.struct("doc_id", "sig")))
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    x["sig"].alias("sig_a"),
                    y["sig"].alias("sig_b"),
                ),
            ),
        )
    )
    hamming = F.bit_count(F.col("p.sig_a").bitwiseXOR(F.col("p.sig_b")))
    from pyspark.storagelevel import StorageLevel

    if max_bucket is None:
        grouped = (
            chunks.groupBy("chunk_idx", "chunk")
            .agg(members.alias("ms"))
            .filter(F.size("ms") > 1)
        )
    else:
        ch = chunks.repartition(F.col("chunk_idx"), F.col("chunk")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        eligible = (
            ch.groupBy("chunk_idx", "chunk")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket))
            .select("chunk_idx", "chunk")
        )
        grouped = (
            ch.join(eligible, ["chunk_idx", "chunk"])
            .groupBy("chunk_idx", "chunk")
            .agg(members.alias("ms"))
        )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def paragraph_dedup(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Cross-document paragraph dedup (boilerplate removal): every
    paragraph that already appeared in an earlier document (order:
    doc_id, then position) is dropped; each doc is reassembled from
    its surviving paragraphs in original order.

    The corpus-wide dedup key is md5(paragraph) — first occurrence
    wins, deterministic under any partitioning.

    Plan: posexplode paragraphs -> ONE shuffle on the paragraph hash
    (row_number window; WindowGroupLimit prunes losers map-side) ->
    ONE shuffle back on the doc id (collect_list + array_sort
    reassembly — sorting inside the row, not a global sort). Rows in
    flight are paragraphs, never the full document cross product.
    Output: (id_col, text) with deduped text ('' when every paragraph
    was boilerplate).
    """
    from pyspark.sql import Window

    paras = documents.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).filter(F.length("para") > 0)
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy(
        F.col(id_col).asc(), F.col("pos").asc()
    )
    kept = paras.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") == 1
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                sep,
            ).alias("text")
        )
    )


def winnow_fingerprints(text: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken): ordered
    word k-gram rolling hashes, minimum of each sliding window of w,
    deduplicated — the plagiarism-detection / near-copy fingerprint
    with the guarantee that any match of >= k+w-1 tokens shares a
    fingerprint.

    Same zip-of-shifted-slices construction as shingles() (the naive
    higher-order-function form is O(tokens^2) per row), but ORDER
    PRESERVED and duplicates kept — winnowing needs positional
    windows. Docs shorter than k+w-1 tokens yield an empty set
    (documented contract). Pure column algebra; the md5-derived hash
    makes the set engine-reproducible.
    """
    toks = tokens(text)
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, m) for i in range(k)]
    grams = F.transform(
        F.arrays_zip(*parts),
        lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)]),
    )
    hs = F.transform(grams, lambda g: md5_i64(g) % MINHASH_P)
    wm = F.greatest(F.size(hs) - (w - 1), F.lit(0))
    wparts = [F.slice(hs, i + 1, wm) for i in range(w)]
    mins = F.transform(
        F.arrays_zip(*wparts),
        lambda s: F.least(*[s[str(i)] for i in range(w)]),
    )
    return F.array_sort(F.array_distinct(mins))


def duplicated_span_pairs(
    documents: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_postings: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the exact-substring
    complement to whole-document MinHash: every shared winnowing
    fingerprint certifies a shared k-token substring, so pairs with
    >= min_shared shared fingerprints share (multiple) verbatim spans
    (the "Deduplicating Training Data" failure mode: boilerplate and
    quoted passages inside otherwise-distinct documents).

    Shape at 100 TB: the slim (doc_id, fp) table is shuffled ONCE onto
    the fingerprint key and persisted; postings counts come from a
    map-side-combining count over it (never materializing a postings
    array), and only fingerprints within [2, max_postings] reach the
    collect_set + in-bucket pair expansion (_pair_structs) — so the
    largest array any reducer ever builds is max_postings ids. Counting
    BEFORE collecting is the point: a hot boilerplate fingerprint
    ("all rights reserved", posted by millions of docs) must be dropped
    by a partially-aggregated count, not discovered after one task has
    buffered its full postings set. The eligible-join and both groupBys
    reuse the same fp partitioning — no further shuffle of the pairs
    input. The cap is the explicit skew guard, the same role the
    hot-cell threshold plays in the salted spatial join.

    Output: (doc_a, doc_b, shared_fps) with doc_a < doc_b.
    """
    from pyspark.storagelevel import StorageLevel

    fps = (
        documents.select(
            F.col(id_col),
            F.explode(winnow_fingerprints(F.col(text_col), k=k, w=w)).alias("fp"),
        )
        .repartition(F.col("fp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    eligible = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__n") > 1) & (F.col("__n") <= max_postings))
        .select("fp")
    )
    ids_sorted = F.array_sort(F.collect_set(F.col(id_col)))
    return (
        fps.join(eligible, "fp")
        .groupBy("fp")
        .agg(ids_sorted.alias("ids"))
        .select(F.explode(_pair_structs("ids")).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def jaccard_similarity_join(
    documents: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT all-pairs Jaccard >= threshold over token SETS via prefix
    filtering (the PPJoin family) — the exact counterpart of the
    MinHash-LSH path above: LSH trades recall for speed probabilistically;
    prefix filtering is lossless (every qualifying pair shares at least
    one token in the other's prefix), so this is the operator to run
    when missed duplicates are not acceptable.

    Prefix principle: order each doc's distinct tokens by GLOBAL
    rarity (df asc, token asc — deterministic); a pair with
    Jaccard >= t must overlap within the first
    |s| - ceil(t * |s|) + 1 rarest tokens of each side. Candidates
    therefore come from an equi-join on prefix tokens (rare tokens =>
    tiny posting lists; the frequent-token explosion never enters the
    join), then one exact verify per distinct pair: size filter
    (|b| between t*|a| and |a|/t) and true Jaccard via
    array_intersect on the full sorted arrays.

    Shapes: df table = one combining agg; per-doc sorted arrays = one
    (token df) join + groupBy; candidate join on prefix token; verify
    map-side. Output: (doc_a, doc_b, inter_n, union_n, jac_ppm) with
    doc_a < doc_b.
    """
    import math as _math

    toks = (
        documents.select(F.col(id_col).alias("doc"), F.explode(
            F.array_distinct(tokens(F.col(text_col)))
        ).alias("tok"))
    )
    df_t = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(df_t, "tok").select(
        "doc", F.struct(F.col("df"), F.col("tok")).alias("__o")
    )
    arrs = ranked.groupBy("doc").agg(
        F.array_sort(F.collect_list("__o")).alias("__so")
    ).select(
        "doc",
        F.transform(F.col("__so"), lambda s: s["tok"]).alias("toks"),
    )
    n = F.size("toks")
    # prefix length: n - ceil(t*n) + 1  (>=1 when n>=1)
    pref_len = n - F.ceil(n * F.lit(float(threshold))).cast("int") + 1
    pref = arrs.select(
        "doc", "toks", n.alias("n"),
        F.explode(F.slice("toks", 1, pref_len)).alias("ptok"),
    )
    # Candidates as NARROW id pairs: the prefix join and the pair-dedup
    # shuffle only (doc_a, doc_b, na, nb) — the full token arrays are
    # joined back once per surviving pair, not shipped through the
    # explode join and deduplicated as wide rows.
    a = pref.select(F.col("doc").alias("doc_a"), F.col("n").alias("na"), "ptok")
    b = pref.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb"), "ptok")
    cand_ids = (
        a.join(b, "ptok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # size bound: jac >= t forces t*na <= nb (and symmetric)
        .filter(
            (F.col("nb").cast("double") >= F.col("na") * F.lit(float(threshold)))
            & (F.col("na").cast("double") >= F.col("nb") * F.lit(float(threshold)))
        )
        .select("doc_a", "doc_b", "na", "nb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cand = (
        cand_ids
        .join(arrs.select(F.col("doc").alias("doc_a"), F.col("toks").alias("ta")), "doc_a")
        .join(arrs.select(F.col("doc").alias("doc_b"), F.col("toks").alias("tb")), "doc_b")
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.col("na") + F.col("nb") - inter
    jac_ppm = F.round(
        inter.cast("double") / union.cast("double") * 1e6
    ).cast("long")
    return (
        cand.select(
            "doc_a", "doc_b",
            inter.alias("inter_n"),
            union.alias("union_n"),
            jac_ppm.alias("jac_ppm"),
        )
        .filter(
            F.col("inter_n").cast("double")
            >= F.lit(float(threshold)) * F.col("union_n")
        )
    )
