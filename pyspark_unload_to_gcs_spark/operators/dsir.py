"""DSIR-style data selection: importance resampling of a raw corpus
toward a target domain over hashed-bigram features (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
NeurIPS — the standard pretraining-corpus domain-selection recipe).

The pipeline:

1. featurize every document as hashed BIGRAMS of the project-wide
   word tokenization (``text.words_col``) — the hashing-trick bucket
   is the md5-derived integer ``classifier.token_bucket``, so the
   features are engine-native and cross-engine exact;
2. estimate bag-of-buckets unigram models for the TARGET domain (a
   caller-supplied predicate over the corpus, e.g. a trusted source
   or language) and the RAW corpus, Laplace-smoothed;
3. score every document with its log importance weight
   ``log p_target(doc) - log p_raw(doc)`` — the sum over the
   document's bigram occurrences of the per-bucket log count ratio;
4. select the top-k documents by weight (the paper resamples
   proportionally; top-k is the deterministic variant, and a
   Gumbel-top-k over the same weights reproduces the sampled one).

Float discipline (the repo's oracle-parity rule, classifier.py
posture): the per-bucket log ratio is quantized ONCE to integer
micro-units (``round(1e6 * log-ratio)`` — a 4096-row table), and all
per-document accumulation is exact BIGINT — no summation-order drift
between partial/final aggregation or between engines. The only floats
are one ``ln`` per distinct bucket, identical expression shape in
Spark and the DuckDB oracle.

Scale design (100 TB corpus, 1000 executors):

- the bigram stream never shuffles: explode happens in the scan
  partition and the per-document partial aggregation collapses it
  back to ~one row per document before the one doc-key shuffle;
- the bucket-count aggregation shuffles only (bucket, flag) partials
  — at most ``num_buckets`` rows reach the reduce side per partition;
- the log-ratio table is ``num_buckets`` rows (a few KB) — AQE
  broadcasts it into the scoring join; the corpus never moves for it;
- top-k is Spark's distributed TakeOrdered (per-partition heaps + a
  k-row driver merge), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.classifier import token_bucket
from pyspark_unload_to_gcs_spark.operators.text import words_col

# Row cap for the dsir_shift_report broadcast hint on the selected-id
# frame (ADVICE r15 — the containment gates' convention): 10M ids
# ≈ 80 MB serialized, comfortably under the driver/executor broadcast
# budget; a larger k falls back to size-based join selection.
_BROADCAST_SELECT_CAP = 10_000_000

MICRO = 1_000_000


def hashed_bigram_stream(
    df: DataFrame,
    *,
    num_buckets: int,
    text_column: str = "text",
    keep: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """One row per bigram OCCURRENCE: (*keep, bucket). Documents with
    fewer than two words contribute no rows (lore: guard
    F.sequence(0, n-2) — for n < 2 it silently yields a DESCENDING
    sequence instead of an empty one)."""
    # materialize the words array ONCE per row: referencing the
    # split+filter expression inside the transform lambda would
    # re-evaluate it per element (no CSE across lambda scopes —
    # measured 10x slower)
    w = F.col("__ws")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat(
                F.element_at(w, i + 1), F.lit(" "), F.element_at(w, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(*keep, words_col(F.col(text_column)).alias("__ws"))
        .select(*keep, F.explode(bigrams).alias("__gram"))
        .select(*keep, token_bucket(F.col("__gram"), num_buckets).alias("bucket"))
    )


def dsir_bucket_counts(
    df: DataFrame,
    target: Column,
    *,
    num_buckets: int,
    text_column: str = "text",
) -> DataFrame:
    """(bucket, r_cnt, t_cnt): per hashed-bigram bucket, the raw-corpus
    and target-domain occurrence counts — the single corpus pass both
    the log-ratio model and the shift report consume (factored out in
    the r15 optimization round so ``dsir_shift_report`` shares one
    pass instead of re-tokenizing the corpus)."""
    grams = hashed_bigram_stream(
        df.withColumn("__is_target", target),
        num_buckets=num_buckets,
        text_column=text_column,
        keep=("__is_target",),
    )
    return grams.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("r_cnt"),
        F.sum(F.when(F.col("__is_target"), 1).otherwise(0))
        .cast("long")
        .alias("t_cnt"),
    )


def dsir_ratio_from_counts(counts: DataFrame, *, num_buckets: int) -> DataFrame:
    """Derive (bucket, r_cnt, t_cnt, lr_micro) from a precomputed
    ``dsir_bucket_counts`` frame — arithmetic only, no corpus pass.
    Expression shape is the original ``dsir_log_ratio_table`` body
    unchanged, so lr_micro stays bit-identical."""
    totals = counts.agg(
        F.sum("r_cnt").cast("long").alias("__R"),
        F.sum("t_cnt").cast("long").alias("__T"),
    )
    b = F.lit(float(num_buckets))
    return counts.crossJoin(totals).select(
        "bucket",
        "r_cnt",
        "t_cnt",
        F.round(
            F.lit(float(MICRO))
            * (
                F.log(F.col("t_cnt").cast("double") + 1.0)
                - F.log(F.col("__T").cast("double") + b)
                - F.log(F.col("r_cnt").cast("double") + 1.0)
                + F.log(F.col("__R").cast("double") + b)
            )
        )
        .cast("long")
        .alias("lr_micro"),
    )


def dsir_log_ratio_table(
    df: DataFrame,
    target: Column,
    *,
    num_buckets: int,
    text_column: str = "text",
) -> DataFrame:
    """(bucket, r_cnt, t_cnt, lr_micro): per hashed-bigram bucket, the
    raw-corpus and target-domain occurrence counts and the quantized
    Laplace-smoothed log count ratio

        lr_micro = round(1e6 * (ln(t+1) - ln(T+B) - ln(r+1) + ln(R+B)))

    where T/R are total target/raw bigram occurrences and B the bucket
    count. ``num_buckets`` rows total."""
    return dsir_ratio_from_counts(
        dsir_bucket_counts(
            df, target, num_buckets=num_buckets, text_column=text_column
        ),
        num_buckets=num_buckets,
    )


def dsir_weights(
    df: DataFrame,
    target: Column,
    *,
    num_buckets: int,
    text_column: str = "text",
    id_column: str = "doc_id",
    ratios: DataFrame | None = None,
) -> DataFrame:
    """Per-document log importance weight toward the target domain:
    (id, n_bigrams, w_micro) where ``w_micro`` is the exact BIGINT sum
    of the quantized per-bucket log ratios over the document's bigram
    occurrences. Zero-bigram documents score 0 (preserved via the
    left join — same contract as the classifier).

    ``ratios`` optionally supplies a precomputed (bucket, lr_micro)
    model table (``dsir_ratio_from_counts`` / a ``dsir_ratio_write``
    readback) so callers that already hold the model skip the
    estimation pass — the frozen-model production shape."""
    if ratios is None:
        ratios = dsir_log_ratio_table(
            df, target, num_buckets=num_buckets, text_column=text_column
        )
    ratios = ratios.select("bucket", "lr_micro")
    stream = hashed_bigram_stream(
        df, num_buckets=num_buckets, text_column=text_column, keep=(id_column,)
    )
    per_doc = (
        stream.join(ratios, "bucket")
        .groupBy(id_column)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("lr_micro").cast("long").alias("w_micro"),
        )
    )
    return (
        df.select(id_column)
        .join(per_doc, id_column, "left")
        .select(
            F.col(id_column),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("w_micro", F.lit(0)).cast("long").alias("w_micro"),
        )
    )


def dsir_select(
    df: DataFrame,
    target: Column,
    *,
    k: int,
    num_buckets: int,
    text_column: str = "text",
    id_column: str = "doc_id",
    normalize: bool = True,
    ratios: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents by importance weight, ties broken on the id —
    fully deterministic, so the whole selection is value-oracle-able.
    Distributed TakeOrdered, never a single-partition window.

    ``normalize=True`` (default) ranks by the PER-BIGRAM average log
    ratio in integer micro-units (``avg_lr_micro = floor(w_micro *
    1e6 / n_bigrams)`` — one IEEE multiply+divide+floor per document,
    bit-identical in any engine; round(x, 9) drifted cross-engine at
    large magnitudes): the raw sum is dominated by document length (short
    documents accumulate the least negative mass and win regardless
    of domain — measured: un-normalized top-k selected 14% target-
    domain docs vs 13% base rate; normalized selects 63-72%), which is
    why the paper scores fixed-length chunks. Zero-bigram documents
    carry no evidence and are excluded from the normalized ranking.
    ``normalize=False`` is the raw chunk-likelihood ratio for callers
    that chunk upstream."""
    w = dsir_weights(
        df,
        target,
        num_buckets=num_buckets,
        text_column=text_column,
        id_column=id_column,
        ratios=ratios,
    )
    if normalize:
        return (
            w.filter(F.col("n_bigrams") > 0)
            .withColumn(
                "avg_lr_micro",
                F.floor(
                    F.col("w_micro").cast("double")
                    * F.lit(1_000_000.0)
                    / F.col("n_bigrams")
                ).cast("long"),
            )
            .orderBy(F.col("avg_lr_micro").desc(), F.col(id_column))
            .limit(k)
        )
    return w.orderBy(F.col("w_micro").desc(), F.col(id_column)).limit(k)


def dsir_shift_report(
    df: DataFrame,
    target: Column,
    *,
    k: int,
    num_buckets: int,
    text_column: str = "text",
    id_column: str = "doc_id",
    checkpoint: bool = True,
) -> DataFrame:
    """One-row semantic self-check of the selection (the pin pattern):

    - ``kl_improved``: KL(target || selected) < KL(target || raw) over
      the Laplace-smoothed hashed-bigram distributions — importance
      resampling must move the selected subset's feature distribution
      TOWARD the target domain (the paper's premise); a sign flip or
      hashing breakage turns this False;
    - ``n_selected``: the actual selected-row count (must be exactly
      k — a selection that silently returns fewer rows is a bug).

    Booleans only — the float KL values stay internal.

    Plan (optimization r15, guide §1.2/§2.3): the corpus is tokenized
    TWICE, not three times — the per-bucket (r_cnt, t_cnt) frame is
    computed once (``dsir_bucket_counts``), feeds the log-ratio model
    via arithmetic only (``dsir_ratio_from_counts`` → the production
    ``dsir_select`` path through its frozen-model parameter), and is
    reused as the report's raw/target counts; the selected-subset
    counts come from re-streaming ONLY the k selected documents (a
    broadcast semi-join), not from a third full-corpus pass with a
    selection flag. Every count is the same aggregation over the same
    rows, so all values are unchanged."""
    # materialize the bucket-count frame (num_buckets rows) and the
    # (<= k)-row selection once: each is referenced more than once, and
    # each lazy reference would re-run a full corpus pass
    # checkpoint=False is the plan-twin arm
    # (registry_pipeline.PLAN_TWINS): the eager checkpoint renders
    # 'Scan ExistingRDD' and would hide the selection pipeline from the
    # plan screens
    counts_rt = dsir_bucket_counts(
        df, target, num_buckets=num_buckets, text_column=text_column
    )
    if checkpoint:
        counts_rt = counts_rt.localCheckpoint(eager=True)
    ratios = dsir_ratio_from_counts(counts_rt, num_buckets=num_buckets)
    selected = dsir_select(
        df,
        target,
        k=k,
        num_buckets=num_buckets,
        text_column=text_column,
        id_column=id_column,
        ratios=ratios,
    ).select(id_column)
    if checkpoint:
        selected = selected.localCheckpoint(eager=True)
    # broadcast-hint gate (ADVICE r15, same convention as the
    # containment _BROADCAST_DOC_CAP gates): k is caller-controlled,
    # and an unconditional hint would force a driver-side broadcast
    # build however large the selection. At or under the cap the
    # (<= k)-row id frame broadcasts (a few MB of ids); above it the
    # hint is dropped and size-based join selection decides. The join
    # itself (left_semi on the id) — and therefore the result — is
    # identical either way.
    sel = F.broadcast(selected) if k <= _BROADCAST_SELECT_CAP else selected
    sel_docs = df.join(sel, id_column, "left_semi")
    s_counts = hashed_bigram_stream(
        sel_docs,
        num_buckets=num_buckets,
        text_column=text_column,
        keep=(),
    ).groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("s_cnt"))
    counts = counts_rt.join(s_counts, "bucket", "left").select(
        "bucket",
        "r_cnt",
        "t_cnt",
        F.coalesce(F.col("s_cnt"), F.lit(0)).cast("long").alias("s_cnt"),
    )
    b = float(num_buckets)
    t_tot, r_tot, s_tot = "__T", "__R", "__S"
    totals = counts.agg(
        F.sum("t_cnt").cast("double").alias(t_tot),
        F.sum("r_cnt").cast("double").alias(r_tot),
        F.sum("s_cnt").cast("double").alias(s_tot),
        F.count(F.lit(1)).cast("double").alias("__n_obs"),
    )
    # Laplace-smoothed probabilities over ALL B buckets; the (B -
    # n_observed) all-zero buckets contribute a closed-form remainder
    tp = (F.col("t_cnt") + 1.0) / (F.col(t_tot) + b)
    rp = (F.col("r_cnt") + 1.0) / (F.col(r_tot) + b)
    sp = (F.col("s_cnt") + 1.0) / (F.col(s_tot) + b)
    per_bucket = counts.crossJoin(totals).select(
        (tp * (F.log(tp) - F.log(rp))).alias("__kl_r"),
        (tp * (F.log(tp) - F.log(sp))).alias("__kl_s"),
        F.col(t_tot),
        F.col(r_tot),
        F.col(s_tot),
        F.col("__n_obs"),
    )
    t0 = 1.0 / (F.col(t_tot) + b)
    r0 = 1.0 / (F.col(r_tot) + b)
    s0 = 1.0 / (F.col(s_tot) + b)
    zero_buckets = F.lit(b) - F.col("__n_obs")
    n_sel = selected.agg(F.count(F.lit(1)).cast("long").alias("n_selected"))
    return (
        per_bucket.groupBy(t_tot, r_tot, s_tot, "__n_obs")
        .agg(F.sum("__kl_r").alias("__sum_r"), F.sum("__kl_s").alias("__sum_s"))
        .crossJoin(n_sel)
        .select(
            (
                F.col("__sum_s") + zero_buckets * t0 * (F.log(t0) - F.log(s0))
                < F.col("__sum_r") + zero_buckets * t0 * (F.log(t0) - F.log(r0))
            ).alias("kl_improved"),
            F.col("n_selected"),
        )
    )


def dsir_ratio_write(
    df: DataFrame,
    target: Column,
    path: str,
    *,
    num_buckets: int,
    text_column: str = "text",
) -> None:
    """Persist the quantized log-ratio table (``num_buckets`` rows of
    (bucket, r_cnt, t_cnt, lr_micro)) — the FROZEN importance model a
    continuous-ingestion pipeline scores every new batch against.
    Same economics as the IVF-PQ index family: the corpus-wide
    estimation pass runs once; increments never rescan it."""
    (
        dsir_log_ratio_table(
            df, target, num_buckets=num_buckets, text_column=text_column
        )
        # persist the model parameter WITH the model: scoring with a
        # different bucket count silently mis-hashes every feature, so
        # dsir_score_batch verifies this column and fails fast instead
        .withColumn("num_buckets", F.lit(int(num_buckets)))
        .write.mode("overwrite")
        .parquet(path)
    )


def dsir_score_batch(
    spark,
    batch: DataFrame,
    ratio_path: str,
    *,
    num_buckets: int,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Score ONLY a new batch against the persisted ratio table:
    (id, n_bigrams, w_micro, avg_lr_micro) with the identical
    exact-BIGINT accumulation as ``dsir_weights`` — a batch scored
    incrementally gets bit-identical weights to the same documents
    scored in the original corpus pass (pinned by test and by the
    staged oracle). The batch featurizes alone; the ratio table is a
    broadcast-size read; the corpus is never rescanned — the same
    increment economics as ``semantic_match_against_index`` /
    ``pq_index_append``.

    ``num_buckets`` must be the value the table was built with (the
    frozen-quantizer contract PQ appends follow: re-deriving the model
    is a rebuild, not an increment); it is verified against the
    ``num_buckets`` column the table carries and a mismatch RAISES —
    a silent mismatch would mis-hash every feature. A batch bigram
    hashing to a bucket absent from the table never occurred in the
    estimation corpus; it scores 0 via the left-join coalesce — the
    neutral conservative choice, stated rather than hidden."""
    table = spark.read.parquet(ratio_path)
    if "num_buckets" in table.columns:
        built_with = table.select("num_buckets").first()[0]
        if int(built_with) != int(num_buckets):
            raise ValueError(
                f"dsir_score_batch: table at {ratio_path!r} was built "
                f"with num_buckets={built_with}, scoring requested "
                f"{num_buckets} — the frozen-model contract requires "
                "the same bucket count (rebuild, don't re-parameterize)"
            )
    ratios = table.select("bucket", "lr_micro")
    stream = hashed_bigram_stream(
        batch, num_buckets=num_buckets, text_column=text_column, keep=(id_column,)
    )
    per_doc = (
        stream.join(ratios, "bucket", "left")
        .groupBy(id_column)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.coalesce("lr_micro", F.lit(0))).cast("long").alias("w_micro"),
        )
    )
    return (
        batch.select(id_column)
        .join(per_doc, id_column, "left")
        .select(
            F.col(id_column),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("w_micro", F.lit(0)).cast("long").alias("w_micro"),
        )
        .withColumn(
            "avg_lr_micro",
            F.when(
                F.col("n_bigrams") > 0,
                F.floor(
                    F.col("w_micro").cast("double")
                    * F.lit(1_000_000.0)
                    / F.col("n_bigrams")
                ).cast("long"),
            ),
        )
    )


__all__ = [
    "MICRO",
    "dsir_log_ratio_table",
    "dsir_ratio_write",
    "dsir_score_batch",
    "dsir_select",
    "dsir_shift_report",
    "dsir_weights",
    "hashed_bigram_stream",
]
