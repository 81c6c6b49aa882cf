"""Text-analysis operators for training-data pipelines (graft
first-class components): language ID, quality scoring, token counting,
document fingerprinting. All pure column expressions — JVM-side,
SQL-replayable, no Python.

The `documents` table shape: (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# small, fixed stopword inventories — a deterministic n-gram/stopword
# heuristic, not a model (the container has no langid libs; the
# heuristic is the documented operator contract).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sich"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"),
    "es": ("el", "la", "los", "que", "y", "es", "una", "por", "con", "para"),
}

_TOKEN_SPLIT = r"[^a-zA-Z0-9']+"

# bpe_apply's ``auto`` method: the per-rule expression chain up to this
# many merge rules, one Arrow pass above
MAX_EXPR_RULES = 16


def tokens(text: Column) -> Column:
    """Lowercased word tokens (whitespace+punct split, drops empties)."""
    return F.filter(
        F.split(F.lower(text), _TOKEN_SPLIT), lambda t: F.length(t) > 0
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-flavoured proxy: word pieces of <=4 chars — ceil(len/4)
    summed over word tokens. Deterministic, SQL-replayable."""
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("long"),
    )


def stopword_count(text: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax stopword hits across the
    inventories, 'und' (undetermined) when no stopwords hit."""
    counts = [(lang, stopword_count(text, lang)) for lang in LANG_STOPWORDS]
    best = F.greatest(*[c for _, c in counts])
    expr = F.lit("und")
    # iterate reversed so earlier languages win ties (en > de > fr > es)
    for lang, c in reversed(counts):
        expr = F.when((best > 0) & (c == best), F.lit(lang)).otherwise(expr)
    return expr


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword ratio features, rounded to 6 dp
    so cross-engine float hashing is stable."""
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", "")).cast("double")
    digit = F.length(F.regexp_replace(text, r"[^0-9]", "")).cast("double")
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double")
    toks = token_count(text).cast("double")
    stop_en = stopword_count(text, "en").cast("double")
    safe_n = F.when(n > 0, n).otherwise(F.lit(1.0))
    safe_toks = F.when(toks > 0, toks).otherwise(F.lit(1.0))
    return {
        "n_chars": n.cast("long"),
        "n_tokens": toks.cast("long"),
        "alpha_ratio": F.round(alpha / safe_n, 6),
        "digit_ratio": F.round(digit / safe_n, 6),
        "punct_ratio": F.round(punct / safe_n, 6),
        "stopword_ratio": F.round(stop_en / safe_toks, 6),
        "mean_token_len": F.round(alpha / safe_toks, 6),
    }


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,100] (integer — hash-stable):
    rewards alpha content and English stopword presence, penalises
    digit/punct noise and degenerate token lengths."""
    f = quality_features(text)
    raw = (
        F.lit(40.0) * f["alpha_ratio"]
        + F.lit(30.0) * F.least(f["stopword_ratio"] * 2, F.lit(1.0))
        + F.lit(15.0) * F.when(f["mean_token_len"].between(3.0, 9.0), 1.0).otherwise(0.0)
        + F.lit(15.0) * (1.0 - F.least(f["digit_ratio"] * 5, F.lit(1.0)))
    )
    return F.round(raw).cast("int")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalised, lowercased
    text — the exact-dedup key. (A rolling/winnowing variant lives in
    dedup.simhash for near-dup.)"""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def analyze_documents(documents: DataFrame) -> DataFrame:
    t = F.col("text")
    feats = quality_features(t)
    return documents.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        lang_id(t).alias("lang_guess"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fp"),
        *[c.alias(k) for k, c in feats.items() if k not in ("n_chars", "n_tokens")],
    )


def word_ngrams(text: Column, n: int = 2) -> Column:
    """All word n-grams in order (duplicates kept — counting needs
    occurrences, unlike dedup's distinct shingles). Built as arrays_zip
    of n shifted slices: the naive transform(sequence(...), slice)
    form re-evaluates the whole tokenise pipeline per element (see
    dedup.shingles)."""
    toks = tokens(text)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    zipped = F.arrays_zip(*parts)
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )


def ngram_counts(
    documents: DataFrame, n: int = 2, min_count: int = 2, text_col: str = "text"
) -> DataFrame:
    """Corpus n-gram occurrence counts (LM training-data prep).

    Plan: explode n-grams -> groupBy(ngram) count. The aggregation
    partially combines map-side, so the shuffle carries one row per
    (partition, distinct ngram) — the right shape for a 10^12-doc
    corpus; min_count prunes the long tail AFTER the agg (it cannot be
    pushed below it). Output: (ngram, n).
    """
    return (
        documents.select(F.explode(word_ngrams(F.col(text_col), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def tfidf_top_terms(
    documents: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    tf = term count within the doc; idf = ln((N+1)/(df+1)) + 1
    (smoothed); score rounded to 6 dp BEFORE ranking so cross-engine
    ties break identically (then by term asc).

    Plan: one explode -> groupBy(doc, term) for tf (map-side combine);
    df by a second agg over the tf table (no re-scan of the corpus);
    N via a broadcast scalar; rank window partitioned by doc.
    Output: (doc_id, term, rank, score_ppm).
    """
    from pyspark.sql import Window

    tf = (
        documents.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("score") * 1e6).cast("long").alias("score_ppm"),
        )
    )


def dup_line_fraction(text: Column) -> Column:
    """Gopher-style repetition signal: fraction of non-empty lines that
    are repeats of an earlier line (1 - distinct/total), 6 dp. Pure
    column algebra — split/distinct run inside codegen."""
    ls = F.filter(F.split(text, "\n"), lambda x: F.length(x) > 0)
    n = F.size(ls).cast("double")
    d = F.size(F.array_distinct(ls)).cast("double")
    return F.when(n > 0, F.round(1.0 - d / n, 6)).otherwise(F.lit(0.0))


def dup_token_fraction(text: Column) -> Column:
    """Fraction of word tokens that are repeats (1 - distinct/total),
    6 dp — high values flag keyword-stuffed / boilerplate pages."""
    ts = tokens(text)
    n = F.size(ts).cast("double")
    d = F.size(F.array_distinct(ts)).cast("double")
    return F.when(n > 0, F.round(1.0 - d / n, 6)).otherwise(F.lit(0.0))


def repetition_stats(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition profile (the Gopher repetition filters
    re-expressed set-based): dup_line_frac, dup_token_frac, and
    top_bigram_frac — the fraction of bigram occurrences taken by the
    single most frequent bigram.

    Plan: ONE scan of documents; the per-row fractions ride through
    the bigram explode as first() so no join back to the corpus is
    needed. Two shuffles — (doc, gram) count with map-side combine,
    then (doc) max/sum — both keyed on the doc id, so AQE coalesces
    them and no row ever leaves its doc group.
    Output: (doc_id, dup_line_frac, dup_token_frac, top_bigram_frac).
    """
    t = F.col(text_col)
    ex = documents.select(
        F.col(id_col),
        dup_line_fraction(t).alias("dup_line_frac"),
        dup_token_fraction(t).alias("dup_token_frac"),
        F.explode_outer(word_ngrams(t, 2)).alias("gram"),
    )
    per_gram = ex.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("n"),
        F.first("dup_line_frac").alias("dup_line_frac"),
        F.first("dup_token_frac").alias("dup_token_frac"),
    )
    gram_n = F.when(F.col("gram").isNotNull(), F.col("n"))
    agg = per_gram.groupBy(id_col).agg(
        F.first("dup_line_frac").alias("dup_line_frac"),
        F.first("dup_token_frac").alias("dup_token_frac"),
        F.max(gram_n).alias("__top"),
        F.sum(gram_n).alias("__tot"),
    )
    frac = F.when(
        F.col("__tot") > 0, F.round(F.col("__top") / F.col("__tot"), 6)
    ).otherwise(F.lit(0.0))
    return agg.select(
        id_col,
        "dup_line_frac",
        "dup_token_frac",
        frac.alias("top_bigram_frac"),
    )


def repetition_filter(
    documents: DataFrame,
    max_dup_line_frac: float = 0.30,
    max_dup_token_frac: float = 0.80,
    max_top_bigram_frac: float = 0.18,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop repetition-heavy documents (Gopher-rule thresholds as
    defaults). One left-semi shuffle join on the doc id: the survivor
    side is ids ONLY (8 bytes/row), so the exchange it adds is minimal
    — and both sides hash-partition on the same key the stats agg just
    used, so AQE reuses that partitioning."""
    stats = repetition_stats(documents, id_col, text_col)
    keep = stats.filter(
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_token_frac") <= max_dup_token_frac)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac)
    ).select(id_col)
    return documents.join(keep, id_col, "left_semi")


# PII patterns: deliberately simple, deterministic, and identical in
# Spark and DuckDB regex dialects (no lookbehind, no \b ambiguity) —
# the scrub is an engine contract, not a compliance product.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{7,}[0-9]",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def scrub_pii(text: Column) -> Column:
    """Redact emails, phone-ish numbers, and IPv4 literals to typed
    placeholders. Order matters (emails first — an email contains
    digits a phone pattern could nibble); each pass is one JVM regex
    over the column, no Python."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts (audit signal for the scrub)."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def scrub_documents(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents + scrubbed text + per-kind counts — a map-only pass
    (no shuffle), pipelined with the scan."""
    t = F.col(text_col)
    counts = pii_counts(t)
    return documents.select(
        id_col,
        scrub_pii(t).alias("scrubbed_text"),
        *[c.cast("long").alias(f"n_{k}") for k, c in counts.items()],
    )


def pmi_collocations(
    documents: DataFrame,
    min_pair_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Statistical collocation mining: adjacent word pairs ranked by
    pointwise mutual information, PMI = ln(P(ab) / (P(a)P(b))) — the
    classic phrase detector for LM tokenizer/vocab prep.

    ONE corpus scan: each token is emitted exactly once as
    (w, successor-or-NULL) — the doc-final token pairs with NULL — so
    the (w1, w2) count table is simultaneously the bigram table AND a
    lossless unigram multiset: c(w) = SUM(pair_n) GROUP BY w1. Unigram
    counts, the corpus token total, and the PMI join therefore all run
    on the ALREADY-REDUCED pair table (vocabulary-bounded, persisted),
    never re-scanning the corpus. The bigram groupBy combines map-side,
    so the one big shuffle carries per-partition-distinct pairs.

    PMI is rounded to 6 dp before the ppm quantization (same
    cross-engine tie contract as tfidf_top_terms). Output:
    (w1, w2, pair_n, pmi_ppm) for pairs seen >= min_pair_count times.

    Cache lifetime: the vocabulary-bounded pair table is persisted
    (verified: without it Catalyst does NOT reuse the exchange and the
    corpus is scanned 4x). Long-lived sessions should use
    :func:`pmi_collocations_with_cache`, which returns the persisted
    pair table as an explicit handle that survives downstream
    select/filter (a Python attribute on the result would not); call
    ``handle.unpersist()`` after the action. This convenience wrapper
    keeps the handle as ``result._pmi_pair_counts`` for back-compat,
    valid only on the returned object itself.
    """
    out, pair_counts = pmi_collocations_with_cache(
        documents, min_pair_count=min_pair_count, text_col=text_col
    )
    out._pmi_pair_counts = pair_counts  # unpersist handle (see docstring)
    return out


def pmi_collocations_with_cache(
    documents: DataFrame,
    min_pair_count: int = 5,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """:func:`pmi_collocations` plus the persisted pair-count table as
    an explicit ``(result, cache_handle)`` pair — the handle survives
    any downstream DataFrame transformation, so callers can
    ``cache_handle.unpersist()`` deterministically after their action
    instead of pinning executor memory until LRU eviction.
    """
    toks = tokens(F.col(text_col))
    m = F.size(toks)
    succ = F.concat(
        F.slice(toks, 2, F.greatest(m - 1, F.lit(0))),
        F.array(F.lit(None).cast("string")),
    )
    pairs_arr = F.when(
        m > 0,
        F.zip_with(
            toks, succ, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pair_counts = (
        documents.select(F.explode(pairs_arr).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni = pair_counts.groupBy("w1").agg(F.sum("pair_n").alias("c"))
    n_tokens = uni.agg(F.sum("c").alias("n_tokens"))
    big = pair_counts.filter(
        F.col("w2").isNotNull() & (F.col("pair_n") >= min_pair_count)
    )
    ratio = (F.col("pair_n").cast("double") * F.col("n_tokens")) / (
        F.col("c1").cast("double") * F.col("c2")
    )
    out = (
        big.join(uni.select(F.col("w1"), F.col("c").alias("c1")), "w1")
        .join(
            uni.select(F.col("w1").alias("w2"), F.col("c").alias("c2")), "w2"
        )
        .crossJoin(F.broadcast(n_tokens))
        .select(
            "w1",
            "w2",
            "pair_n",
            F.round(F.round(F.log(ratio), 6) * 1e6)
            .cast("long")
            .alias("pmi_ppm"),
        )
    )
    return out, pair_counts


def passage_windows(
    documents: DataFrame,
    window_tokens: int = 64,
    stride: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token windows per document — the retrieval-corpus
    chunking step (each passage gets embedded/indexed; the overlap
    keeps answers that straddle a boundary findable). Complements
    pack_chunks (which packs WHOLE docs into training shards; this
    splits WITHIN docs with overlap).

    Window starts step by ``stride``; the final window is pinned to
    end exactly at the last token (so no suffix is lost and every
    window except possibly a short doc's single window has exactly
    ``window_tokens`` tokens). Pure array algebra — sequence of
    starts, slice per start, array_join — zero shuffle, map-only,
    pipelined with the scan.

    Output: (id_col, window_idx, start_tok, n_tokens, passage) where
    passage is the single-space token join (normalized text).
    """
    if stride <= 0 or window_tokens <= 0:
        raise ValueError("window_tokens and stride must be positive")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    last_start = F.greatest(F.lit(1), n - (window_tokens - 1))
    base = F.sequence(F.lit(1), last_start, F.lit(stride))
    # pin the final window to end at the last token; appended only when
    # the stride lattice missed it, so starts stay strictly increasing
    # (no order-ambiguous distinct — the oracle replays this exactly)
    starts = F.when(
        (last_start - 1) % stride == 0, base
    ).otherwise(F.concat(base, F.array(last_start)))
    wins = F.filter(
        F.transform(
            starts,
            lambda s: F.struct(
                s.alias("start_tok"),
                F.slice(toks, s, window_tokens).alias("w"),
            ),
        ),
        lambda t: F.size(t["w"]) > 0,
    )
    return documents.select(
        id_col, F.posexplode(wins).alias("window_idx", "__w")
    ).select(
        id_col,
        F.col("window_idx").cast("int").alias("window_idx"),
        F.col("__w.start_tok").cast("int").alias("start_tok"),
        F.size("__w.w").alias("n_tokens"),
        F.array_join("__w.w", " ").alias("passage"),
    )


def bpe_merges(
    documents: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer induction: the first ``rounds`` BPE merge rules
    learned from the corpus — per round, the most frequent adjacent
    symbol pair merges corpus-wide (joined with '_', which the base
    tokenizer never emits) and counting repeats on the rewritten
    corpus. The core of byte-pair-encoding vocabulary training,
    restricted to pairs with DISTINCT symbols (l != r): that makes
    adjacent matches impossible, so the greedy left-to-right rewrite
    is expressible as pure per-position array algebra (mark, merge,
    drop-successor) instead of a sequential scan — both the Spark
    rewrite and the DuckDB oracle replay it exactly.

    Ties break by (count DESC, left ASC, right ASC). Like kmeans'
    Lloyd rounds, each round runs one tiny driver action (the argmax
    pair); the corpus-wide work per round is one map-side-combining
    pair count + one map-only rewrite.

    Output: (round, left, right, pair_n) — the merge table, the
    artifact a tokenizer trainer persists.
    """
    cur = documents.select(tokens(F.col(text_col)).alias("toks"))
    out_rows: list[tuple[int, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        m = F.greatest(F.size("toks") - 1, F.lit(0))
        pairs = (
            cur.select(
                F.explode(
                    F.zip_with(
                        F.slice("toks", 1, m),
                        F.slice("toks", 2, m),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p")
            )
            .filter(F.col("p.l") != F.col("p.r"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        top = pairs.orderBy(
            F.col("n").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(1).collect()  # collect-ok: ONE row per round — the merge rule
        # must become a literal in the next round's rewrite expression
        # (the Lloyd-round driver-scalar shape kmeans.py also uses)
        if not top:
            break
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        out_rows.append((rnd, l, r, n))
        # truncate lineage per round (graph.py/pagerank.py convention):
        # without this, round r recomputes all r-1 prior rewrites and
        # the expression tree nests r transforms deep
        cur = cur.select(
            _merge_rewrite(F.col("toks"), l, r).alias("toks")
        ).localCheckpoint(eager=True)
    spark = documents.sparkSession
    return spark.createDataFrame(
        out_rows, "round int, left string, right string, pair_n long"
    )


def _merge_rewrite(toks: Column, l: str, r: str) -> Column:
    """One BPE merge rule (l, r) applied to a token-array COLUMN as
    per-position algebra: position i becomes the merged symbol when
    (x==l and next==r), is dropped when (prev==l and x==r), else stays.
    Because l != r (the trainer's restriction) matches cannot overlap,
    so this marks exactly the pairs a greedy left-to-right scan would
    merge. `toks` must be a plain column reference, not a nested
    expression — try_element_at re-evaluates its input per element."""
    merged = F.lit(f"{l}_{r}")
    return F.filter(
        F.transform(
            toks,
            lambda x, i: F.when(
                (x == F.lit(l)) & (F.try_element_at(toks, i + 2) == F.lit(r)),
                merged,
            )
            .when(
                (i > 0)
                & (F.try_element_at(toks, i) == F.lit(l))
                & (x == F.lit(r)),
                F.lit(None).cast("string"),
            )
            .otherwise(x),
        ),
        lambda y: y.isNotNull(),
    )


def _py_apply_merge(toks: list[str], l: str, r: str, merged: str) -> list[str]:
    """Greedy left-to-right application of one merge rule — the scalar
    twin of :func:`_merge_rewrite` (equal output for l != r rules)."""
    out: list[str] = []
    i, n = 0, len(toks)
    while i < n:
        if toks[i] == l and i + 1 < n and toks[i + 1] == r:
            out.append(merged)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def bpe_apply(
    documents: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "auto",
) -> DataFrame:
    """Tokenize the corpus with a TRAINED merge table — the apply half
    of the BPE loop (:func:`bpe_merges` trains the vocabulary; this is
    the step an LLM-data pipeline actually runs over the full corpus,
    and what pack_chunks consumes for true token budgets).

    ``merges``: (round, left, right[, pair_n]) as produced by
    :func:`bpe_merges`; rules apply in round order. The table is
    vocab-sized by definition, so collecting it to the driver is the
    sanctioned broadcast-dim materialisation — each rule becomes a
    literal in the rewrite (expr path) or a closure constant shipped
    with the Arrow UDF (arrow path).

    Two physical strategies, identical output:

    * ``expr``: one per-rule array rewrite per projection — pure JVM
      column algebra, SQL-replayable. It eagerly localCheckpoints after
      EACH rule, exactly like the trainer's rounds, and this is
      load-bearing, not a tuning knob: chained un-materialized rewrites
      let Catalyst collapse the projections, substituting rule k-1's
      whole rewrite into every lambda reference of rule k — and because
      try_element_at re-evaluates its input expression per element
      access, the work becomes O(tokens^rules) per row (measured: 3
      rules at sf0.01 went from 1.8 s materialized to a >100 s hang
      collapsed). Right for bounded rule counts (tests, oracle twins).
    * ``arrow``: ONE mapInPandas pass applying every rule per batch —
      the 100 TB shape: a production vocabulary is 10^4-10^5 rules,
      which no expression chain survives, while the Arrow pass scans
      the corpus exactly once regardless of vocabulary size. Greedy
      per-rule application is provably identical to the per-position
      algebra because the trainer only emits l != r rules (matches
      cannot overlap).

    ``auto`` picks expr for <= ``MAX_EXPR_RULES`` rules, arrow above.
    Map-only either way — zero shuffle, pipelined with the scan.
    Output: (id_col, toks ARRAY<STRING>, n_tokens INT).
    """
    rules = [
        (row["left"], row["right"])
        for row in merges.orderBy("round").collect()  # collect-ok: vocab-sized merge table -> rewrite literals
    ]
    base = documents.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    if method == "auto":
        method = "expr" if len(rules) <= MAX_EXPR_RULES else "arrow"
    if method == "expr":
        cur = base
        for k, (l, r) in enumerate(rules, start=1):
            cur = cur.select(
                F.col(id_col), _merge_rewrite(F.col("toks"), l, r).alias("toks")
            )
            if k < len(rules):
                cur = cur.localCheckpoint(eager=True)
        out = cur
    elif method == "arrow":
        import pandas as pd

        const_rules = [(l, r, f"{l}_{r}") for l, r in rules]

        def gen(batches):
            for pdf in batches:
                rewritten = []
                for toks in pdf["toks"]:
                    t = list(toks)
                    for l, r, m in const_rules:
                        t = _py_apply_merge(t, l, r, m)
                    rewritten.append(t)
                yield pd.DataFrame({id_col: pdf[id_col], "toks": rewritten})

        id_type = base.schema[id_col].dataType.simpleString()
        out = base.mapInPandas(
            gen, schema=f"{id_col} {id_type}, toks array<string>"
        )
    else:
        raise ValueError(f"unknown method {method!r} (expr | arrow | auto)")
    return out.select(
        id_col, "toks", F.size("toks").cast("int").alias("n_tokens")
    )


def bigram_lm_scores(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LM-fluency scoring for corpus filtering — the distributable
    add-one bigram analog of CCNet's Kneser-Ney perplexity filter
    (Wenzek et al. 2020: keep/bucket documents by how well a LM
    trained on a trusted target corpus predicts them).

    Train on `target`:  p(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V)
    where c(w1·) is w1's bigram-prefix count and V the target's
    distinct-token vocabulary (add-one smoothing, so unseen bigrams
    and OOV prefixes score -ln(1/(c1+V)) instead of blowing up).
    Score every doc by total negative log-likelihood over its bigram
    occurrences. Per-BIGRAM NLL is quantized to integer micro-nats
    before the per-doc sum — exact integer reduction, bit-replayable
    by the DuckDB oracle (same trick as dsir_weights / tfidf).

    Scale shape (100 TB corpus, curated target): the doc side
    pre-aggregates (doc, bigram) occurrence counts map-side; the two
    LM tables (bigram counts, prefix counts) are vocabulary-bounded —
    broadcast when they fit, plain shuffled equi-joins when the LM is
    huge; V rides a broadcast 1-row frame. Per-doc NLL then needs one
    final combining groupBy. Docs with < 2 tokens have no bigram
    evidence and are absent from the output.

    Output: (id_col, nll_micro, n_bigrams) — per-token perplexity is
    exp(nll_micro / 1e6 / n_bigrams) downstream; rank/threshold on it
    to filter.
    """
    g2 = word_ngrams(F.col(text_col), 2)
    doc_b = (
        docs.select(F.col(id_col), F.explode(g2).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("w1", F.substring_index("g", " ", 1))
    )
    tgt_b = (
        target.select(F.explode(g2).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    tgt_p = tgt_b.groupBy(
        F.substring_index("g", " ", 1).alias("w1")
    ).agg(F.sum("c12").alias("c1"))
    # V floored at 1: an empty/tokenless target otherwise zeroes the
    # smoothing denominator (ANSI divide-by-zero); with the floor every
    # bigram scores p = 1 -> NLL 0, the sane no-evidence degenerate
    vocab = target.select(
        F.explode(tokens(F.col(text_col))).alias("w")
    ).agg(F.greatest(F.countDistinct("w"), F.lit(1)).alias("v"))
    nll_micro = (
        F.round(
            -F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            )
            * 1e6
        )
        .cast("long")
        .alias("nm")
    )
    return (
        doc_b.join(tgt_b, "g", "left")
        .join(tgt_p, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(id_col, "c", nll_micro)
        .groupBy(id_col)
        .agg(
            F.sum(F.col("c") * F.col("nm")).alias("nll_micro"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    terms: list,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 relevance of every document to a query term set — the
    retrieve-to-curate primitive (pull the documents most relevant to
    a benchmark/domain seed, the retrieval dual of dsir_weights'
    distribution matching). Robertson/Sparck Jones weighting:

        score = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
        idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))

    Every per-(doc, term) contribution is computed from exact integer
    statistics (tf, df, dl, N, sum_dl) with an IDENTICAL float
    expression shape in Spark and the DuckDB oracle, then quantized
    to integer micro-units — the per-doc sum is exact integer
    algebra, so the oracle replays the scores bit-for-bit.

    Scale shape (100 TB): the query term set is a literal broadcast
    filter pushed into the token explode, so the only rows that
    survive the scan are (doc, query-term) hits; df and the corpus
    totals are combining aggs over that reduced table; one final
    groupBy(doc). No window, no collect.

    Output: (id_col, score_micro, n_terms_hit) for docs hitting >= 1
    query term.
    """
    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col), F.size(toks).alias("dl"), F.explode(toks).alias("t")
    )
    hits = base.filter(F.col("t").isin(list(terms)))
    tf = hits.groupBy(id_col, "t", "dl").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * (F.col("dl") / avgdl))
    )
    contrib = F.round(idf * tf_part * 1e6).cast("long")
    return (
        tf.join(F.broadcast(df_t), "t")
        .crossJoin(F.broadcast(stats))
        .select(id_col, contrib.alias("cm"))
        .groupBy(id_col)
        .agg(
            F.sum("cm").alias("score_micro"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )
