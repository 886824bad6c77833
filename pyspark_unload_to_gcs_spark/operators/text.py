"""Text-analysis operators for training-data pipelines (SURVEY.md §2l).

All hot-path computation is builtin ``pyspark.sql.functions`` column
expressions (JVM-side, whole-stage codegen) — no Python UDFs — so these
scale linearly over 100 TB document sets: narrow per-row transforms with
no shuffle except the explicit group-bys in ``text_stats``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language-ID. Word lists are universal public knowledge.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "del", "las"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "est"),
    "de": ("der", "die", "und", "das", "von", "den", "ist", "mit", "des", "ein"),
}

WORD_SPLIT = "\\s+"
PUNCT_PATTERN = "[^\\p{L}\\p{N}\\s]"


WORD_PATTERN = "[^a-z0-9]+"


def words_col(text: Column) -> Column:
    """Lowercase alphanumeric words of ``text`` as array<string> — the
    project-wide tokenization base shared by the BPE tokenizer, the
    hashed-feature classifier, the diversity profile and their DuckDB
    oracles (same split as ``bpe_pair_stats``; identical regex
    semantics in Java and DuckDB RE2; boundary empty tokens
    filtered)."""
    return F.filter(F.split(F.lower(text), WORD_PATTERN), lambda x: x != "")


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array (Spark's
    split('', pattern) returns [''], which would count as one token)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, WORD_SPLIT)
    )


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: count regex word pieces (runs of
    letters, digits, or single punctuation marks), the standard cheap
    proxy for BPE token counts when no tokenizer model is available."""
    pieces = F.regexp_extract_all(text, F.lit("(\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s])"), 0)
    return F.size(pieces)


def adjacent_pairs(tokens: Column) -> Column:
    """Adjacent symbol pairs of a token array — the statistic the first
    BPE merge iteration ranks (count pairs, merge the most frequent).
    Returns ``array<struct<a,b>>``; arrays with fewer than two tokens
    yield an empty array. Pure builtin slice/zip_with (JVM-side): pair
    k is (tokens[k], tokens[k+1]) via two length-aligned slices.
    """
    n = F.size(tokens)
    left = F.slice(tokens, 1, n - 1)
    right = F.slice(tokens, 2, n - 1)
    zipped = F.zip_with(left, right, lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    empty = F.array().cast("array<struct<a:string,b:string>>")
    return F.when(n >= 2, zipped).otherwise(empty)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation/symbols."""
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, PUNCT_PATTERN, ""))
    return F.when(n > 0, punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long-enough, low punctuation
    noise, reasonable mean word length. Deterministic + SQL-portable."""
    n_tok = token_count(text).cast("double")
    n_char = F.length(F.trim(text)).cast("double")
    mean_word = F.when(n_tok > 0, n_char / n_tok).otherwise(F.lit(0.0))
    length_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    word_term = F.when((mean_word >= 3.0) & (mean_word <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    return (length_term * 0.4 + word_term * 0.3 + punct_term * 0.3).cast("double")


def lang_id(text: Column) -> Column:
    """Stopword-vote language ID: the language whose stopword list hits
    the most token occurrences; ties broken by language code order;
    'und' (undetermined) when nothing hits."""
    toks = tokens_col(F.lower(text))
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    # iterate in reverse alphabetical order so that on ties the
    # alphabetically-first language wins (strict > comparison)
    for code in sorted(STOPWORDS, reverse=True):
        stop = F.array(*[F.lit(w) for w in STOPWORDS[code]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
        take = hits > best_hits
        best_lang = F.when(take, F.lit(code)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


def normalize_text(text: Column) -> Column:
    """Canonical form for dedup/fingerprinting: lowercase, strip
    punctuation, collapse whitespace, trim."""
    t = F.lower(text)
    t = F.regexp_replace(t, PUNCT_PATTERN, " ")
    t = F.regexp_replace(t, "\\s+", " ")
    return F.trim(t)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (A rolling/shingle-based fingerprint for near-dup detection lives in
    operators/dedup.py; this one is the exact-content key.)"""
    return F.md5(normalize_text(text))


def chunk_documents(
    df: DataFrame,
    text_column: str = "text",
    *,
    chunk_size: int = 32,
    stride: int = 16,
    keep_columns: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the LLM
    training-data primitive: context-window-sized pieces with
    ``chunk_size - stride`` tokens of overlap).

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_size)``;
    windows are emitted while their start is inside the document, so
    every token lands in ``ceil(chunk_size/stride)`` chunks (boundary
    chunks fewer). An empty document yields one empty chunk (so no
    documents silently disappear; filter ``n_tokens > 0`` to drop).

    Entirely builtin expressions (split/sequence/explode/slice) — a
    narrow per-row fan-out with no shuffle and no Python, so it runs at
    scan speed over 100 TB and Catalyst prunes every column except
    ``keep_columns`` + the text.
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    staged = df.select(*keep_columns, tokens_col(F.col(text_column)).alias("__toks"))
    n = F.size(F.col("__toks"))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    exploded = staged.select(*keep_columns, "__toks", F.explode(starts).alias("__start"))
    n2 = F.size(F.col("__toks"))
    return exploded.select(
        *keep_columns,
        F.floor(F.col("__start") / stride).cast("bigint").alias("chunk_idx"),
        F.col("__start").cast("bigint").alias("start"),
        F.greatest(F.least(F.lit(chunk_size), n2 - F.col("__start")), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
        F.array_join(F.slice(F.col("__toks"), F.col("__start") + 1, F.lit(chunk_size)), " ").alias(
            "chunk_text"
        ),
    )


# PII scrub patterns (RE2-compatible so the DuckDB oracle can run the
# SAME regexes: no lookaround, no backreferences). Order matters: URLs
# can contain '@', so scrub them before emails.
PII_PATTERNS = (
    ("https?://\\S+", "<URL>"),
    ("[\\w.+-]+@[\\w-]+\\.[\\w.-]+", "<EMAIL>"),
    ("\\+?\\d[\\d()\\s-]{7,}\\d", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Scrub URLs, emails and phone-shaped digit runs to typed
    placeholders — the standard pre-training privacy pass. Chained
    builtin regexp_replace (JVM regex, codegen'd); patterns are kept in
    the RE2-compatible subset so the same strings drive any engine."""
    out = text
    for pattern, replacement in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, replacement)
    return out


def repetition_stats(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Within-document repetition signals (Gopher/C4-style quality
    rules): token count and distinct-token count. High duplicate-token
    ratios (n_distinct/n_tokens low) flag boilerplate/spam for the
    quality gate."""
    toks = tokens_col(F.col(text_column))
    staged = df.withColumn("__toks", toks)
    return staged.select(
        *df.columns,
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(F.col("__toks"))).cast("bigint").alias("n_distinct_tokens"),
    )


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams (empty when the document has
    fewer than ``n`` tokens).

    PERFORMANCE CONTRACT: ``toks`` must be a *materialized column
    attribute* (plain ``F.col`` staged by a prior projection), never a
    nested tokenization expression — the ``F.transform`` lambda body is
    evaluated per gram position outside codegen, so a nested ``split``
    re-runs per element (see operators/dedup.py, 25x measured)."""
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def word_ngrams_zip(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams via aligned slices folded
    with ``zip_with`` — the ``adjacent_pairs`` construction generalized
    to n. Unlike ``word_ngrams_from_tokens`` (whose ``transform``
    lambda SLICES THE TOKEN ARRAY per gram position, re-evaluating the
    tokenization expression per element once CollapseProject refolds a
    staged projection — measured 7.5 s vs 0.5 s on 265k bigrams), every
    lambda here touches only its element arguments, so ``toks`` is
    evaluated O(n) times per ROW, never per element. Safe to use with
    an inline tokenization expression; no materialization barrier
    needed.

    CROSSOVER: the chain is (n-1) interpreted zip_with invocations per
    row, so it wins when gram positions per doc are many relative to n
    (small n, long-ish docs: ngram_diversity's n<=3, 8.7 -> 1.7 s) and
    LOSES to the single-transform build at larger n over short docs
    (ngram_contamination's n=5 on the ~5-token fixture docs: 1.5 s zip
    vs 0.9 s transform, fresh-frame A/B). Pick per call site and
    measure with FRESH frames — re-collecting one DataFrame object
    reuses its shuffle stages and hides ~95% of the cost."""
    sz = F.size(toks)
    out_len = sz - (n - 1)
    acc = F.slice(toks, 1, out_len)
    for i in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(toks, i, out_len), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(sz < n, F.array().cast("array<string>")).otherwise(acc)


def word_ngrams(text: Column, n: int) -> Column:
    """One-expression convenience form of ``tokens_col`` ->
    ``word_ngrams_from_tokens``. Fine for tests/small frames; hot paths
    stage the token array first (performance contract above)."""
    return word_ngrams_from_tokens(tokens_col(text), n)


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check (decontamination primitive): for
    every corpus document, how many of its word n-grams appear in the
    benchmark set. Returns (id, n_grams, n_contaminated); filter on
    ``n_contaminated`` to drop tainted training documents.

    Plan shape at 100 TB: the benchmark gram set is distinct-reduced
    (small — benchmarks are thousands of docs, not billions) and
    broadcast into a left join against the exploded corpus grams, so
    the corpus never shuffles; docs with fewer than ``n`` tokens are
    preserved with counts 0 (explode_outer keeps a NULL-gram row).
    """
    # transform-based gram build, NOT word_ngrams_zip: the zip chain
    # costs (n-1) interpreted HOF invocations per ROW, which loses at
    # n=5 on short documents (fresh-frame A/B at sf0.1: 1.5 s zip vs
    # 0.9 s transform — few gram positions per doc, so the transform's
    # per-element re-eval is the cheaper side of the crossover; see
    # word_ngrams_zip's docstring for the other side).
    corpus_grams = (
        corpus.select(F.col(id_column), tokens_col(F.col(text_column)).alias("__toks"))
        .select(
            F.col(id_column),
            F.explode_outer(word_ngrams_from_tokens(F.col("__toks"), n)).alias("gram"),
        )
    )
    bench_grams = (
        benchmark.select(tokens_col(F.col(text_column)).alias("__toks"))
        .select(F.explode(word_ngrams_from_tokens(F.col("__toks"), n)).alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per_doc = (
        corpus_grams.join(F.broadcast(bench_grams), on="gram", how="left")
        .groupBy(id_column)
        .agg(
            F.count("gram").alias("n_grams"),
            F.count("__hit").alias("n_contaminated"),
        )
    )
    return per_doc


def pack_documents(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    token_budget: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Sequence packing for LLM training: assign documents to fixed
    token-budget bins. Returns (id, shard, bin_id, n_tokens, bin_offset)
    — a downstream writer concatenates each (shard, bin_id) group.

    Packing is start-offset binning: documents are laid end-to-end in
    deterministic id order and a document belongs to the bin its FIRST
    token falls in (bins can overflow by at most one document — the
    standard pack-with-overflow used when truncation/splitting is
    handled by the tokenizer stage).

    Scale shape: a global running sum would serialize onto one
    partition, so documents first shard by ``id % n_shards`` and the
    cumulative sum runs per shard (Window.partitionBy(shard)) —
    embarrassingly parallel, bins never cross shards. At 100 TB set
    ``n_shards`` ≈ cluster cores; determinism is preserved because the
    shard function and the intra-shard order are both pure functions of
    the id.
    """
    toks = tokens_col(F.col(text_column))
    staged = df.select(
        F.col(id_column),
        (F.col(id_column) % n_shards).alias("shard"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_column).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("__pre")
    staged = staged.select(F.col(id_column), "shard", "n_tokens", pre)
    return staged.select(
        F.col(id_column),
        "shard",
        F.floor(F.col("__pre") / token_budget).cast("bigint").alias("bin_id"),
        "n_tokens",
        (F.col("__pre") % token_budget).cast("bigint").alias("bin_offset"),
    )


def length_bucketed_batches(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    bucket_edges: tuple[int, ...] = (16, 64, 256),
    batch_size: int = 32,
) -> DataFrame:
    """Length-bucketed batch assignment for padded inference/training:
    group documents of similar token length so each batch pads to its
    bucket's max instead of the corpus max (the standard bucketed-
    batching trick — padding waste drops from O(max_len) to
    O(bucket_width) per batch).

    Returns (id, n_tokens, bucket, batch_id): ``bucket`` = number of
    edges <= n_tokens (0..len(edges)); ``batch_id`` = deterministic
    id-ordered batch index within the bucket.

    Scale shape: one shuffle on ``bucket`` for the row_number window —
    same top-k-per-group shape as ``take_per_stratum``; buckets are few
    but AQE skew-split keeps a dominant bucket from serializing. For
    strictly-bounded partitions at 100 TB, sub-shard the window key the
    way ``pack_documents`` shards its running sum."""
    n_tok = token_count(F.col(text_column)).cast("bigint")
    staged = df.select(F.col(id_column), n_tok.alias("n_tokens"))
    bucket = F.lit(0).cast("bigint")
    for edge in bucket_edges:
        bucket = bucket + F.when(F.col("n_tokens") >= edge, 1).otherwise(0)
    staged = staged.select(id_column, "n_tokens", bucket.cast("bigint").alias("bucket"))
    w = Window.partitionBy("bucket").orderBy(F.col(id_column).asc())
    return staged.select(
        id_column,
        "n_tokens",
        "bucket",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("bigint").alias("batch_id"),
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (``tf * (ln((N+1)/(df+1)) + 1)`` — the sklearn-style smooth idf).
    Returns (id, term, tf, df, tfidf) with deterministic tie-breaks
    (tfidf desc, term asc).

    Shape at scale: explode to (doc, term) pairs, ONE aggregation for
    per-doc term counts, ONE for document frequencies (|vocab| rows —
    broadcasts), join back, rank. The corpus size N rides along from
    the df aggregation (count of distinct docs is precomputed by the
    caller-side count only once — here a scalar subframe broadcast, no
    driver collect)."""
    toks = df.select(F.col(id_column), tokens_col(F.col(text_column)).alias("__toks"))
    pairs = toks.select(id_column, F.explode("__toks").alias("term"))
    # tf feeds BOTH docfreq and the scored join below; materialize it
    # (localCheckpoint) so the corpus explode + (doc,term) shuffle run
    # once instead of twice — exchange reuse across the two consumers
    # is not guaranteed (lore #7)
    tf = (
        pairs.groupBy(id_column, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(id_column).alias("__n"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (
                F.log((F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy(id_column).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_k)
        .select(id_column, "term", "tf", "df", "tfidf")
    )


def unigram_logprob(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
) -> DataFrame:
    """Perplexity-style quality score: each document's mean unigram
    log-probability under the corpus's own unigram distribution —
    the classic cheap LM quality filter (gibberish and boilerplate
    score far from the corpus mean; no external model needed).
    Returns (id, n_tokens, avg_logprob) for non-empty documents.

    Shape at scale: explode to (doc, token), ONE aggregation for the
    unigram table (|vocab| rows — broadcasts), join back, ONE per-doc
    aggregation. Cross-engine float discipline (same as bm25): ln is
    the only transcendental — each token's logprob rounds to 6 places
    and accumulates as exact DECIMAL, so per-doc sums are order-free;
    the sum casts to DOUBLE once and the final mean is a single IEEE
    double division (correctly rounded, so bit-identical everywhere —
    a ROUND of the DECIMAL division here would re-introduce engine
    drift via intermediate-scale differences)."""
    toks = df.select(F.col(id_column), tokens_col(F.col(text_column)).alias("__toks"))
    pairs = toks.select(id_column, F.explode("__toks").alias("__term"))
    # ONE corpus explode builds the unigram table; it is materialized
    # (localCheckpoint — |vocab| rows, the broadcastable side) so that
    # the corpus total (= Σ vocab freqs) and the logprob lookup both
    # read the checkpoint instead of re-exploding the corpus — without
    # the barrier the vocab subtree appears twice in the plan and
    # exchange reuse is not guaranteed (lore #7). The remaining corpus
    # explode is the scored path itself: 2 passes total, down from 3.
    vocab = (
        pairs.groupBy("__term")
        .agg(F.count(F.lit(1)).alias("__freq"))
        .localCheckpoint(eager=True)
    )
    total = vocab.agg(F.sum("__freq").cast("double").alias("__total"))
    lp = F.round(F.log(F.col("__freq") / F.col("__total")), 6).cast("decimal(28,12)")
    vocab_lp = vocab.join(F.broadcast(total)).select("__term", lp.alias("__lp"))
    scored = pairs.join(F.broadcast(vocab_lp), "__term").select(id_column, "__lp")
    return scored.groupBy(id_column).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("__lp").cast("double") / F.count(F.lit(1))).alias("avg_logprob"),
    )


def bigram_logprob(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    train,
    alpha: float = 0.4,
) -> DataFrame:
    """CCNet-shaped LM quality filter (Wenzek et al. 2020 — public):
    train a bigram model with STUPID BACKOFF (Brants et al. 2007) on a
    reference slice (``train`` — a boolean Column; CCNet uses
    Wikipedia), score EVERY document's mean transition log-probability
    under it. Low scores = text unlike the reference (gibberish,
    boilerplate, wrong language); the distributed-friendly stand-in
    for the KenLM 5-gram perplexity stage of that pipeline.

    Per transition (w_prev -> w):
      seen bigram:    lp = ln(c(w_prev,w)) - ln(c(w_prev))
      backoff:        lp = ln(alpha) + ln(c(w))  - ln(total)
      OOV word:       lp = ln(alpha) + ln(1)     - ln(total)
    Each lp rounds to 6 places and accumulates as exact DECIMAL (the
    ``unigram_logprob`` float discipline: per-doc sums order-free, one
    IEEE division at the end). Documents with < 2 tokens have no
    transitions and drop out.

    Shape at scale: the train slice tokenizes ONCE (localCheckpoint —
    the unigram and bigram count builds both read the materialization,
    lore #7; the bigram table is |bigram vocab| rows — a hash JOIN
    key, deliberately not broadcast; the unigram table broadcasts),
    one explode over the scored corpus joins both. An EMPTY train
    slice raises in-plan (every backoff term would otherwise come back
    NULL and a downstream ``avg_logprob > cutoff`` gate would silently
    drop the whole corpus — NULL never compares true)."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"bigram_logprob: alpha={alpha!r} must be in (0, 1]")
    toks = df.select(
        F.col(id_column),
        train.alias("__train"),
        tokens_col(F.col(text_column)).alias("__toks"),
    )
    # adjacent_pairs is the ONE pair construction in the engine (BPE
    # statistics share it); fields are (a=prev, b=word)
    train_toks = toks.filter(F.col("__train")).localCheckpoint(eager=False)
    uni = (
        train_toks.select(F.explode("__toks").alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__cw"))
        .localCheckpoint(eager=True)
    )
    bg = (
        train_toks.select(
            F.explode(adjacent_pairs(F.col("__toks"))).alias("__b")
        )
        .groupBy(F.col("__b.a").alias("__p"), F.col("__b.b").alias("__w"))
        .agg(F.count(F.lit(1)).alias("__cbg"))
    )
    total = uni.agg(F.sum("__cw").cast("double").alias("__t")).select(
        F.when(F.col("__t") > 0, F.col("__t"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "bigram_logprob: train slice has no tokens — no "
                    "language model to score against"
                )
            ).cast("double")
        )
        .alias("__total")
    )
    prev = uni.select(F.col("__w").alias("__p"), F.col("__cw").alias("__cp"))
    pairs = toks.select(
        id_column, F.explode(adjacent_pairs(F.col("__toks"))).alias("__b")
    ).select(
        id_column,
        F.col("__b.a").alias("__p"),
        F.col("__b.b").alias("__w"),
    )
    ln_alpha = F.log(F.lit(float(alpha)))
    lp = F.round(
        F.when(
            F.col("__cbg").isNotNull(),
            F.log(F.col("__cbg")) - F.log(F.col("__cp")),
        ).otherwise(
            ln_alpha
            + F.log(F.coalesce(F.col("__cw"), F.lit(1)).cast("double"))
            - F.log(F.col("__total"))
        ),
        6,
    ).cast("decimal(28,12)")
    scored = (
        pairs.join(bg, ["__p", "__w"], "left")
        .join(F.broadcast(prev), "__p", "left")
        .join(F.broadcast(uni), "__w", "left")
        .crossJoin(F.broadcast(total))
        .select(id_column, lp.alias("__lp"))
    )
    return scored.groupBy(id_column).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        (F.sum("__lp").cast("double") / F.count(F.lit(1))).alias(
            "avg_logprob"
        ),
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 lexical retrieval: rank documents against a bag of query
    terms (the classic Okapi formula; idf = ln(1+(N-df+0.5)/(df+0.5))).
    Returns (id, score) top-k, tie-broken by id for determinism.

    Shape at scale: term frequencies for the (tiny) query-term set only
    — the explode filters to query terms BEFORE aggregating, so the
    per-doc frame carries at most |query| rows per document; document
    length and the global N/avgdl ride along as broadcast one-row
    frames (no driver collect). Every arithmetic step is double with a
    fixed evaluation order, so any engine reproduces the scores
    bit-for-bit."""
    toks = df.select(
        F.col(id_column), tokens_col(F.col(text_column)).alias("__toks")
    )
    lens = toks.select(id_column, F.size("__toks").cast("double").alias("dl"))
    pairs = toks.select(id_column, F.explode("__toks").alias("term")).filter(
        F.col("term").isin(query_terms)
    )
    tf = pairs.groupBy(id_column, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_term = (F.col("tf") * (F.lit(k1) + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .join(lens, id_column)
        .join(F.broadcast(stats))
        .withColumn("__s", idf * tf_term)
        .groupBy(id_column)
        .agg(F.sum("__s").alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_column).asc()).limit(top_k)


def ngram_diversity(
    df: DataFrame,
    text_column: str = "text",
    group_column: str = "source",
    max_n: int = 3,
    approx: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """Corpus-health diversity profile: per (slice, gram size) token
    counts, DISTINCT gram counts, and the type-token ratio — the
    standard signal for repetitive / template-heavy / synthetic-looped
    slices of a training corpus (a low trigram ratio at normal unigram
    ratio = boilerplate).

    Output: one row per (group, gram_n in 1..max_n) with
    ``n_grams`` (BIGINT), ``n_distinct`` (BIGINT), ``diversity``
    (= n_distinct / n_grams, the one division, rounded to 9).

    Plan shape: one branch per gram size UNIONed (n=1 is a bare token
    explode; n>=2 builds grams with ``word_ngrams_zip`` — the
    slice+zip_with construction whose lambdas never re-evaluate the
    tokenization; the ``transform``-based ``word_ngrams_from_tokens``
    re-tokenized per gram position after CollapseProject refolded the
    staged projection, 7.5 s vs 0.4 s per branch at sf0.1). The union
    scans the corpus once per gram size — scan-bound and cheap next to
    the distinct shuffle. Then a
    TWO-LEVEL aggregation: (group, gram_n, gram) counts first, then
    the slice rollup — the first aggregate map-side-combines to the
    distinct-gram vocabulary, so the shuffle carries distinct grams,
    and no Expand-based distinct rewrite appears (a single-agg
    count+count_distinct mix would Expand the exploded stream).
    ``approx=True`` is the vocabulary-exploding-scale lever: ONE
    aggregation with ``approx_count_distinct(gram, rsd)`` straight
    over the exploded stream — the HLL sketches partial-aggregate
    map-side, so nothing gram-sized ever shuffles (the exact path
    shuffles the distinct-gram vocabulary, which at web scale is
    billions of trigrams). Deterministic for a given dataset (HLL is
    hash-based, no runtime randomness); accuracy is pinned against the
    exact twin by the ``ngram_diversity_approx_accuracy`` query, per
    the repo's approximate-operator contract."""
    from functools import reduce

    if max_n < 1:
        raise ValueError(f"ngram_diversity: max_n must be >= 1, got {max_n}")
    staged = df.select(F.col(group_column).alias("grp"), words_col(F.col(text_column)).alias("toks"))

    branches = [
        staged.select(
            "grp", F.lit(1).alias("gram_n"), F.explode("toks").alias("gram")
        )
    ]
    for n in range(2, max_n + 1):
        branches.append(
            staged.select(
                "grp",
                F.lit(n).alias("gram_n"),
                F.explode(word_ngrams_zip(F.col("toks"), n)).alias("gram"),
            )
        )
    exploded = reduce(lambda a, b: a.unionByName(b), branches)
    if approx:
        agged = exploded.groupBy("grp", "gram_n").agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.approx_count_distinct("gram", rsd).alias("n_distinct"),
        )
    else:
        per_gram = exploded.groupBy("grp", "gram_n", "gram").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        agged = per_gram.groupBy("grp", "gram_n").agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    return (
        agged
        .select(
            F.col("grp").alias(group_column),
            F.col("gram_n").cast("long").alias("gram_n"),
            "n_grams",
            "n_distinct",
            F.round(F.col("n_distinct").cast("double") / F.col("n_grams"), 9).alias(
                "diversity"
            ),
        )
    )


def normalize_unicode(
    df: DataFrame,
    text_column: str = "text",
    *,
    form: str = "NFC",
    output_column: str | None = None,
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) of a text column via a
    streaming Arrow ``mapInPandas`` — the multilingual-corpus
    prerequisite for exact/near dedup and fingerprinting (visually
    identical strings with different codepoint sequences, e.g.
    precomposed vs combining accents, must collide BEFORE hashing).

    Spark has no builtin Unicode normalizer, so this is an honest
    Python step — but a cheap one: pure per-row map, no shuffle, Arrow
    batch transfer, and ``unicodedata.normalize`` short-circuits via
    ``is_normalized`` on already-normalized input (the overwhelmingly
    common case). Cross-engine parity with DuckDB's ``nfc_normalize``
    is pinned for NFC in tests on synthetic multilingual frames; the
    driver fixtures are ASCII (normalization = identity), so this
    stays a local-test-capability rather than a vacuous driver row."""
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"normalize_unicode: unknown form {form!r}")
    out_col = output_column or text_column
    schema = df.withColumn(out_col, F.col(text_column)).schema
    names = [f.name for f in schema.fields]
    src, dst, f_ = text_column, out_col, form

    def run(batches):
        import pandas as pd

        for pdf in batches:
            cols = {n: pdf[n].to_numpy() for n in names if n != dst}
            cols[dst] = [
                unicodedata.normalize(f_, t) if t is not None else None
                for t in pdf[src].to_numpy()
            ]
            yield pd.DataFrame({n: cols[n] for n in names})

    return df.mapInPandas(run, schema)
