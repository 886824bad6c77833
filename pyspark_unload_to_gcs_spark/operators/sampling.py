"""Dataset-curation sampling operators for training pipelines.

Both are DETERMINISTIC — reproducible across runs, engines and cluster
sizes, which is the property that matters for train/test hygiene (a
``randomSplit`` re-rolls on every retry and can leak rows across the
boundary when lineage is recomputed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.pick import top_per_key

_HEX_DIGITS = 4


def split_threshold_hex(fraction: float, hex_digits: int = _HEX_DIGITS) -> str:
    """Threshold for a hash-prefix split: rows whose md5-prefix sorts
    strictly below it fall in the selected fraction. Lowercase-hex
    string order is isomorphic to numeric order, so a plain string
    comparison works in ANY engine (no hex->int builtin needed).
    Effective fraction quantizes to 1/16^hex_digits (~6e-5 at 4).

    fraction >= 1 returns ``"g"`` — a single char sorting above every
    hex digit, so ``prefix < "g"`` keeps all rows (the naive
    ``"10000"`` would compare char-by-char against 4-char prefixes and
    wrongly DROP anything starting with '2'-'f')."""
    n = int(fraction * 16**hex_digits)
    if n >= 16**hex_digits:
        return "g"
    return format(n, f"0{hex_digits}x")


def deterministic_split(
    df: DataFrame,
    id_column: str,
    *,
    train_fraction: float = 0.8,
    split_column: str = "split",
) -> DataFrame:
    """Append 'train'/'test' assignment derived purely from the row id
    (md5-prefix threshold). Narrow map, no shuffle, stable under
    retries, engine swaps and cluster resizes."""
    prefix = F.substring(F.md5(F.col(id_column).cast("string")), 1, _HEX_DIGITS)
    thresh = split_threshold_hex(train_fraction)
    return df.withColumn(
        split_column, F.when(prefix < thresh, F.lit("train")).otherwise(F.lit("test"))
    )


def take_per_stratum(
    df: DataFrame,
    strata_columns: list[str],
    n: int,
    *,
    order_column: str,
) -> DataFrame:
    """Balanced deterministic sample: the first ``n`` rows per stratum
    by ``order_column`` (one shuffle on the strata key — the top-k-per-
    group shape). For an unbiased-but-deterministic pick, order by the
    md5 of the id instead of a natural column."""
    return top_per_key(df, strata_columns, [F.col(order_column).asc()], n)


def weighted_mix(
    df: DataFrame,
    stratum_column: str,
    rates: dict[str, float],
    id_column: str,
    *,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic source mixing: keep each row of stratum ``s`` with
    probability ``rates[s]`` (strata absent from ``rates`` get
    ``default_rate``) — the data-mixing primitive for assembling a
    training corpus from per-source target weights.

    Selection hashes (id, stratum) through md5 and string-compares the
    prefix against the stratum's threshold, so membership is a pure
    per-row function: reproducible across runs, engines, cluster sizes
    and retries, and rows keep/drop CONSISTENTLY as rates move (raising
    a rate only ever adds rows — hash prefixes sort below the higher
    threshold too — so mixture sweeps are nested, not re-rolled).
    Narrow map + filter; no shuffle, no RNG state.
    """
    prefix = F.substring(
        F.md5(F.concat_ws(":", F.col(id_column).cast("string"), F.col(stratum_column))),
        1,
        _HEX_DIGITS,
    )
    thresh = F.lit(split_threshold_hex(default_rate))
    for value, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(stratum_column) == value, F.lit(split_threshold_hex(rate))
        ).otherwise(thresh)
    return df.filter(prefix < thresh)


def temperature_weights(
    df: DataFrame,
    stratum_column: str,
    *,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-source sampling weights with temperature smoothing:
    ``weight_s = n_s^alpha / sum_t n_t^alpha`` — the standard
    multi-source/multilingual corpus reweighting (alpha=1 keeps natural
    proportions, alpha=0 is uniform, 0<alpha<1 upweights small sources).

    Returns one row per stratum: (stratum, n_docs, weight).

    Cross-engine float discipline: ``pow`` can differ by an
    ulp between engines, so the powered count is rounded to 6 places and
    accumulated as exact DECIMAL; the single normalizing division is
    rounded to 9 before the one cast to DOUBLE. The unpartitioned window
    SUM runs over the per-stratum aggregate — strata counts are small by
    construction (sources, not rows), so the single-partition window is
    a few-row driver-sized frame, not a data-scale sort."""
    powed = F.round(F.pow(F.count(F.lit(1)).cast("double"), F.lit(alpha)), 6).cast(
        "decimal(28,12)"
    )
    per = df.groupBy(F.col(stratum_column)).agg(
        F.count(F.lit(1)).alias("n_docs"), powed.alias("__p")
    )
    total = Window.partitionBy()
    return per.select(
        F.col(stratum_column),
        "n_docs",
        F.round(F.col("__p") / F.sum("__p").over(total), 9).cast("double").alias("weight"),
    )


def temperature_mix(
    df: DataFrame,
    stratum_column: str,
    id_column: str,
    *,
    alpha: float = 0.5,
    target_rows: int,
) -> DataFrame:
    """Apply temperature-smoothed mixing: compute per-source weights
    (``temperature_weights``), convert to per-source keep-rates for a
    ``target_rows`` budget (``rate_s = min(1, weight_s * target /
    n_s)``), and select rows with the deterministic hash-prefix filter
    (``weighted_mix``) — reproducible across runs/engines/retries.

    The weights collect is one row per SOURCE (an index-build-sized
    parameter, like IVF centroids), not a data collect."""
    stats = temperature_weights(df, stratum_column, alpha=alpha).collect()
    rates = {
        row[stratum_column]: min(1.0, row["weight"] * target_rows / row["n_docs"])
        for row in stats
    }
    return weighted_mix(df, stratum_column, rates, id_column)


def token_budget_select(
    df: DataFrame,
    *,
    budget: int,
    quality_column: str = "quality",
    token_column: str = "n_tokens",
    id_column: str = "doc_id",
    bucket_decimals: int = 6,
) -> DataFrame:
    """Fill a token budget with the best documents: order by quality
    (descending, ties by id), keep documents while the running token
    total stays within ``budget``. The standard "select the top-quality
    slice worth N tokens" curation step in a training-data pipeline.

    Semantically this is ``SUM(tokens) OVER (ORDER BY quality DESC,
    id) <= budget`` — but a global ORDER BY window in Spark collapses
    to a SINGLE partition (Window.orderBy without partitionBy), which
    is exactly the plan that dies at 100 TB. Instead, two phases:

    1. Round quality to ``bucket_decimals`` and aggregate per-bucket
       token totals — a tiny frame (bounded by distinct rounded
       scores, <= 10^bucket_decimals+1, independent of corpus size).
       The running total over THAT frame finds each bucket's
       token-count offset; buckets whose offset already exceeds the
       budget are dropped before any row-level work.
    2. Broadcast the surviving bucket offsets back and compute the
       row-level running total with a window PARTITIONED BY bucket
       (parallel, state bounded by one bucket's rows) ordered by id.
       ``cum_tokens = bucket_offset + within-bucket running total``
       equals the global running total exactly (integer arithmetic).

    Zero-token rows must be filtered upstream (asserted nowhere — the
    caller owns tokenization): they would sit exactly ON a budget
    boundary and make "bucket fully excluded" diverge from the
    row-level rule. Worst case is every document sharing one rounded
    score (phase 2 degenerates to the single-partition window); with a
    real-valued quality signal buckets stay small — raise
    ``bucket_decimals`` if a discrete score concentrates mass.

    Output: the input rows plus ``cum_tokens`` (BIGINT running total in
    selection order)."""
    q = F.round(F.col(quality_column), bucket_decimals)
    scored = df.withColumn("__q", q)
    buckets = (
        scored.groupBy("__q")
        .agg(F.sum(token_column).cast("long").alias("__btoks"))
        .withColumn(
            "__offset",
            F.sum("__btoks").over(Window.orderBy(F.col("__q").desc())).cast("long")
            - F.col("__btoks"),
        )
    )
    keep = buckets.filter(F.col("__offset") < budget).select("__q", "__offset")
    wb = Window.partitionBy("__q").orderBy(F.col(id_column).asc())
    return (
        scored.join(F.broadcast(keep), "__q")
        .withColumn(
            "cum_tokens",
            (F.col("__offset") + F.sum(token_column).over(wb)).cast("long"),
        )
        .filter(F.col("cum_tokens") <= F.lit(budget))
        .drop("__q", "__offset")
    )


def quota_temperature_mix(
    df: DataFrame,
    stratum_column: str,
    id_column: str,
    *,
    budget: int | None = None,
    tau: float = 0.5,
) -> DataFrame:
    """EXACT-QUOTA temperature mixing — the deterministic-count
    companion to rate-based ``temperature_mix`` above: where that one
    converts weights to per-row keep-RATES (hash-prefix membership —
    counts land within hash-quantization noise of the target, rows
    keep/drop independently), this one hands each stratum s a hard
    quota floor(B * n_s^tau / Σ_t n_t^tau) and takes EXACTLY that many
    rows (or all of a smaller stratum) by md5(id) rank — the shape a
    fixed-size training-mix manifest needs (quota_s rows, not
    "≈quota_s whp").

    ``budget`` B defaults to half the input rows (computed in-plan, so
    the operator is scale-invariant). tau=0.5 is the cross-engine-
    exact configuration — IEEE sqrt is correctly rounded, and the
    weight sum folds LEFT-TO-RIGHT over strata in ascending order, so
    quotas replay bit-for-bit in a SQL oracle; other tau values run
    through pow(), whose last ulp is libm-dependent (fine in
    production, not oracle-pinned — quota boundaries could flip).

    Plan shape: one bounded groupBy(stratum) count, a one-row stats
    frame broadcast onto the quota table (|strata| rows, broadcast),
    and one rank-within-stratum window over the data — the same single
    data shuffle a plain stratified sample costs."""
    wfn = (
        (lambda c: F.sqrt(c))
        if tau == 0.5
        else (lambda c: F.pow(c, F.lit(float(tau))))
    )
    counts = df.groupBy(stratum_column).agg(F.count(F.lit(1)).alias("__n"))
    stats = counts.agg(
        F.sum("__n").cast("long").alias("__total"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(stratum_column, "__n"))),
            F.lit(0.0),
            lambda acc, s: acc + wfn(s["__n"].cast("double")),
        ).alias("__W"),
    )
    budget_col = (
        F.lit(int(budget)).cast("long")
        if budget is not None
        else F.expr("__total div 2")
    )
    quotas = (
        counts.join(F.broadcast(stats))
        .select(
            stratum_column,
            F.floor(
                budget_col.cast("double")
                * wfn(F.col("__n").cast("double"))
                / F.col("__W")
            )
            .cast("long")
            .alias("__quota"),
        )
    )
    order = [F.md5(F.col(id_column).cast("string")).asc(), F.col(id_column).asc()]
    return top_per_key(
        df.join(F.broadcast(quotas), stratum_column), [stratum_column], order, F.col("__quota")
    ).drop("__quota")


def domain_reweight(
    df: DataFrame,
    domain_column: str,
    score_column: str,
    *,
    eta: float = 1.0,
    baseline: str = "counts",
) -> DataFrame:
    """DoReMi-flavored domain reweighting (Xie et al. 2023, public —
    one exponentiated-gradient step): per-domain sampling weights
    boosted by how much WORSE the domain scores than the corpus under
    a reference quality signal (mean LM logprob from
    ``unigram_logprob``/``bigram_logprob``, a classifier margin, any
    higher-is-better score). DoReMi's insight is that excess loss —
    not raw size — should set mixture weights; the full algorithm
    iterates against a retraining proxy model, which is a training
    loop, not a data operator. The data-side step IS this one
    multiplicative update, applied to whatever score column the
    caller's current proxy produced:

        excess_d = corpus_mean - domain_mean        (worse => positive)
        boost_d  = exp(eta * excess_d)
        weight_d = base_d * boost_d / sum(base * boost)

    ``baseline="counts"`` starts from natural proportions (base_d =
    n_d, the DoReMi initialization); ``"uniform"`` starts flat
    (base_d = 1).

    Returns one row per domain: (domain, n_docs, mean_score, excess,
    weight).

    Cross-engine float discipline (the ``temperature_weights``
    pattern): per-row scores round to 6 and accumulate as exact
    DECIMAL (double summation is order-dependent — a shuffle would
    change the hash); means/excess stay DECIMAL; the one exp() output
    rounds to 6 back into DECIMAL; the single normalizing division
    rounds to 9 before the one DOUBLE cast. The unpartitioned window
    runs over the per-DOMAIN aggregate — a few-row frame (domains,
    not rows), never a data-scale sort; the only data-scale operation
    is one map-side-combined groupBy."""
    if baseline not in ("counts", "uniform"):
        raise ValueError(
            f"domain_reweight: baseline={baseline!r} must be 'counts' "
            "or 'uniform'"
        )
    s6 = F.round(F.col(score_column).cast("double"), 6).cast("decimal(28,12)")
    per = df.groupBy(F.col(domain_column)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(s6).alias("__s"),
    )
    w = Window.partitionBy()
    per = per.select(
        F.col(domain_column),
        "n_docs",
        F.round(F.col("__s") / F.col("n_docs"), 9).alias("__m"),
        F.round(
            F.sum("__s").over(w) / F.sum("n_docs").over(w), 9
        ).alias("__ref"),
    )
    # DECIMAL(18,6) operands, not (28,12): the (28,12)x(28,12) product
    # needs precision 57, so Spark clips the result to scale 6 and the
    # later normalizing division bottoms out at 6 places — the quotient
    # would round-trip as a 6-digit weight. (18,6)x(18,6) -> (37,12)
    # stays exact (both factors have <= 6 decimals) and the division
    # keeps scale 13, comfortably past the round-9 contract.
    boost = F.round(
        F.exp(
            F.lit(float(eta))
            * (F.col("__ref") - F.col("__m")).cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    base = (
        F.col("n_docs").cast("decimal(18,6)")
        if baseline == "counts"
        else F.lit(1).cast("decimal(18,6)")
    )
    per = per.withColumn("__u", base * boost)
    # the normalizing division runs in DOUBLE: Spark's decimal division
    # clamps this quotient's scale to 6 ((37,12)/(38,12) -> (38,6)),
    # which would truncate the round-9 contract; both operands are
    # exact decimals, so the one IEEE division is deterministic in any
    # engine (the temperature_weights single-division discipline)
    return per.select(
        F.col(domain_column),
        "n_docs",
        F.col("__m").cast("double").alias("mean_score"),
        (F.col("__ref") - F.col("__m")).cast("double").alias("excess"),
        F.round(
            F.col("__u").cast("double")
            / F.sum("__u").over(w).cast("double"),
            9,
        ).alias("weight"),
    )


def repeat_epoch_schedule(
    df: DataFrame,
    domain_column: str,
    token_column: str,
    *,
    budget: int,
    max_epochs: int = 4,
    weights: DataFrame | None = None,
    rounds: int = 3,
) -> DataFrame:
    """Data-constrained token-budget scheduling (Muennighoff et al.
    2023, public): decide how many tokens to SERVE from each domain —
    i.e. how many epochs to repeat it — when the training budget and
    the per-domain availability disagree. Repeating a small
    high-weight domain beyond ~4 epochs stops helping, so supply is
    capped at ``avail_d * max_epochs`` and the budget water-fills
    across domains proportionally to their target weights:

        serve_d = min(cap_d, lambda * w_d)   with  sum(serve) = budget

    computed as ``rounds`` exact proportional-redistribution passes
    (each pass hands every unsaturated domain ``floor(B_left * w_d /
    W_active)`` tokens) plus one greedy closure pass that assigns the
    final floor-division crumbs in (weight desc, domain) order — so
    the schedule fills the budget EXACTLY whenever supply allows
    (total served == min(budget, sum(cap))), and every quantity is a
    BIGINT derived by integer floor arithmetic: bit-for-bit
    reproducible across engines, cluster sizes and retries (the
    temperature_weights determinism contract, with no floats at all).

    ``weights`` optionally supplies per-domain target weights as a
    (domain_column, weight) frame — any non-negative BIGINT scale,
    e.g. the ppm-rounded output of ``domain_reweight`` — and defaults
    to availability itself (natural proportions). Domains missing
    from ``weights`` fall back to their availability; a domain listed
    more than once collapses to its MAX weight (aggregated before the
    join, so duplicates can never fan out the per-domain row and
    break the exact-fill invariant).

    Returns one row per domain: (domain, avail_tokens, cap_tokens,
    served_tokens, epochs_ppm = served * 1e6 DIV avail, share_ppm =
    served * 1e6 DIV total_served), all BIGINT.

    Scale shape (100 TB): the only data-scale operation is the one
    map-side-combined groupBy that sums tokens per domain; everything
    after runs on the few-row domain frame, where the unpartitioned
    windows are the documented domain_reweight pattern (domains, not
    rows — never a data-scale sort)."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")

    per = df.groupBy(F.col(domain_column)).agg(
        F.sum(F.col(token_column).cast("long")).alias("avail_tokens")
    )
    if weights is not None:
        # aggregate to one row per domain BEFORE the join: a duplicate
        # domain in the weights frame would fan the per-domain row
        # out, double-counting it in every window sum and silently
        # breaking the exact-fill invariant (max is the documented
        # collapse rule)
        wdf = weights.groupBy(
            F.col(domain_column).alias("__w_dom")
        ).agg(F.max(F.col("weight").cast("long")).alias("__w_in"))
        per = per.join(
            wdf, per[domain_column] == wdf["__w_dom"], "left"
        ).drop("__w_dom")
    else:
        per = per.withColumn("__w_in", F.lit(None).cast("long"))
    per = (
        per.withColumn(
            "__w", F.coalesce(F.col("__w_in"), F.col("avail_tokens"))
        )
        .withColumn(
            "cap_tokens",
            F.expr(
                "CAST(CAST(avail_tokens AS DECIMAL(38,0)) "
                f"* {int(max_epochs)} AS BIGINT)"
            ),
        )
        .withColumn("__served", F.lit(0).cast("long"))
        .drop("__w_in")
    )

    w0 = Window.partitionBy()
    for _ in range(rounds):
        per = (
            per.withColumn(
                "__room", F.col("cap_tokens") - F.col("__served")
            )
            .withColumn(
                "__wtot",
                F.sum(
                    F.when(F.col("__room") > 0, F.col("__w")).otherwise(
                        F.lit(0)
                    )
                ).over(w0),
            )
            .withColumn(
                "__B",
                F.lit(int(budget)) - F.sum("__served").over(w0),
            )
        )
        alloc = F.when(
            (F.col("__room") > 0)
            & (F.col("__wtot") > 0)
            & (F.col("__B") > 0),
            F.least(
                F.col("__room"),
                F.expr(
                    "CAST((CAST(__B AS DECIMAL(38,0)) * __w) DIV __wtot "
                    "AS BIGINT)"
                ),
            ),
        ).otherwise(F.lit(0))
        per = per.withColumn(
            "__served", F.col("__served") + alloc
        ).drop("__room", "__wtot", "__B")

    # greedy closure: crumbs go to active domains in (w desc, domain)
    # order — a cumulative-room prefix sum, exact and deterministic
    per = per.withColumn(
        "__room", F.col("cap_tokens") - F.col("__served")
    ).withColumn("__L", F.lit(int(budget)) - F.sum("__served").over(w0))
    ordw = Window.orderBy(
        F.col("__w").desc(), F.col(domain_column)
    ).rowsBetween(Window.unboundedPreceding, -1)
    csum_before = F.coalesce(
        F.sum(F.when(F.col("__room") > 0, F.col("__room"))).over(ordw),
        F.lit(0),
    )
    topup = F.when(
        (F.col("__room") > 0) & (F.col("__L") > 0),
        F.least(
            F.col("__room"),
            F.greatest(F.col("__L") - csum_before, F.lit(0)),
        ),
    ).otherwise(F.lit(0))
    per = per.withColumn(
        "served_tokens", F.col("__served") + topup
    ).drop("__room", "__L", "__served")

    per = per.withColumn("__total", F.sum("served_tokens").over(w0))
    return per.select(
        F.col(domain_column),
        "avail_tokens",
        "cap_tokens",
        "served_tokens",
        F.expr(
            "CAST((CAST(served_tokens AS DECIMAL(38,0)) * 1000000) "
            "DIV GREATEST(avail_tokens, 1) AS BIGINT)"
        ).alias("epochs_ppm"),
        F.expr(
            "CAST((CAST(served_tokens AS DECIMAL(38,0)) * 1000000) "
            "DIV GREATEST(__total, 1) AS BIGINT)"
        ).alias("share_ppm"),
    )


def domain_fair_keep(
    df: DataFrame,
    domain_column: str,
    score_column: str,
    id_column: str,
    *,
    keep_ppm: int,
) -> DataFrame:
    """Domain-fair quality thresholding: keep the top ``keep_ppm``
    fraction (parts-per-million) of rows WITHIN each domain by score,
    instead of one global cutoff. A global threshold silently empties
    low-scoring domains (the classic quality-filter monoculture
    failure: boilerplate-light encyclopedic prose crowds out forums
    and code); ranking within the domain keeps the mixture while
    still dropping each domain's worst tail.

    The keep rule is exact integer arithmetic: a row is kept iff

        rank_in_domain * 1_000_000 <= keep_ppm * n_domain

    with rank = row_number over (domain, score DESC NULLS LAST, id) —
    floor semantics (a domain keeps exactly floor(keep_ppm * n / 1e6)
    rows), deterministic under ties via the id column, bit-for-bit
    reproducible across engines. NULL scores sort last, so they are
    the first rows a tightening threshold drops.

    Adds (domain_rank, domain_n, kept) to the input columns — one
    shuffle (the per-domain window), no global sort."""
    if not 0 <= keep_ppm <= 1_000_000:
        raise ValueError(
            f"keep_ppm must be in [0, 1e6], got {keep_ppm}"
        )
    w = Window.partitionBy(domain_column).orderBy(
        F.col(score_column).desc_nulls_last(), F.col(id_column)
    )
    out = df.withColumn(
        "domain_rank", F.row_number().over(w).cast("long")
    ).withColumn(
        "domain_n",
        F.count(F.lit(1))
        .over(Window.partitionBy(domain_column))
        .cast("long"),
    )
    return out.withColumn(
        "kept",
        (F.col("domain_rank") * F.lit(1_000_000))
        <= (F.lit(int(keep_ppm)) * F.col("domain_n")),
    )


def split_leakage_audit(
    df: DataFrame,
    id_column: str,
    content_columns: list[str],
    *,
    train_fraction: float = 0.8,
) -> DataFrame:
    """Audit the promise ``deterministic_split`` makes: no CONTENT
    appears on both sides of the train/test boundary. The split is
    leakage-safe per id, but ids are not identities — exact and
    near-exact copies under different ids (mirrors, reposts,
    re-crawls) leak across any id-keyed split, and this is the check
    a pipeline runs before shipping an eval set.

    Rows get their split from ``deterministic_split`` (same
    train_fraction => same assignment, so this audits the REAL
    boundary), group on the NULL-safe md5 content key shared with
    ``exact_dedup`` (``dedup.content_key`` — a NULL column encodes a
    flag rather than silently vanishing from the concat, so
    ('x', NULL) and (NULL, 'x') never collide), and a group that
    contains both a train and a test row is a leak. Rows with NO
    content identity key on their id instead — all columns NULL, or
    every column NULL-or-empty after normalization (punctuation-only
    crawl noise normalizes to '') — because an absent or contentless
    document must not fabricate a leak group.

    Returns ONE summary row, all BIGINT (+ exact floor ppm):
    (n_rows, n_groups, n_dup_groups, n_leaked_groups, leaked_rows,
    leaked_ppm) — leaked_rows counts EVERY row of a leaking group,
    both sides, because the fix (drop or re-side the group) touches
    all of them.

    Scale: one narrow map for split+key (32-byte shuffle key, never
    the document), one hash-shuffle groupBy(key), one global agg.
    """
    from pyspark_unload_to_gcs_spark.operators.dedup import content_key
    from pyspark_unload_to_gcs_spark.operators.text import (
        normalize_text,
    )

    split = deterministic_split(
        df, id_column, train_fraction=train_fraction,
        split_column="__split",
    )
    cols = [F.col(c) for c in content_columns]
    parts = [normalize_text(c) for c in cols]
    contentless = cols[0].isNull() | (parts[0] == "")
    for c, p in zip(cols[1:], parts[1:]):
        contentless = contentless & (c.isNull() | (p == ""))
    key = F.when(
        ~contentless, content_key(list(content_columns), normalize=True)
    ).otherwise(
        # \x02 sentinel, not \x00: content keys start \x01, and a NUL
        # byte would make the key un-replayable in engines that forbid
        # embedded NUL in strings (DuckDB) — the oracle needs chr(2)
        F.md5(F.concat(F.lit("\x02id:"), F.col(id_column).cast("string")))
    )
    per = split.groupBy(key.alias("__key")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(F.when(F.col("__split") == "train", 1)).alias("__tr"),
        F.count(F.when(F.col("__split") == "test", 1)).alias("__te"),
    )
    leaked = (F.col("__tr") > 0) & (F.col("__te") > 0)
    return per.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.count(F.when(F.col("__n") > 1, 1)).cast("long").alias(
            "n_dup_groups"
        ),
        F.count(F.when(leaked, 1)).cast("long").alias(
            "n_leaked_groups"
        ),
        F.coalesce(F.sum(F.when(leaked, F.col("__n"))), F.lit(0))
        .cast("long")
        .alias("leaked_rows"),
        F.expr(
            "CAST((CAST(COALESCE(SUM(CASE WHEN __tr > 0 AND __te > 0 "
            "THEN __n END), 0) AS DECIMAL(38,0)) * 1000000) "
            "DIV GREATEST(COALESCE(SUM(__n), 0), 1) AS BIGINT)"
        ).alias("leaked_ppm"),
    )


def mix_deviation_report(
    df: DataFrame,
    stratum_column: str,
    targets: dict[str, int],
) -> DataFrame:
    """Post-export mixture audit — the check AFTER ``weighted_mix`` /
    ``temperature_mix`` / ``quota_temperature_mix`` ships a corpus:
    does the delivered per-stratum composition actually match the
    target shares? (The mixers are deterministic, but upstream filters
    and dedup run AFTER mixing in most pipelines, and each one bends
    the realized mixture.)

    ``targets`` maps stratum -> target share in ppm (integers; they
    need not sum to exactly 1e6 — the report audits against what the
    caller declared). Strata present in the data but absent from
    ``targets`` audit against 0 (contamination shows up as positive
    deviation); target strata absent from the data emit an n_docs=0
    row (a missing source is a deviation, not a silent omission).

    Returns one row per stratum, all BIGINT: (stratum, n_docs,
    observed_ppm = n*1e6 DIV total, target_ppm, dev_ppm = observed -
    target, abs_dev_ppm, max_abs_dev_ppm — the last repeated on every
    row: the scalar a shipping gate asserts on). Exact integer
    arithmetic end to end; the only data-scale operation is one
    map-side-combined groupBy, and the windows run over the few-row
    stratum frame (the ``domain_reweight`` pattern)."""
    for k, v in targets.items():
        # integrality matters, not just range (the containment_join
        # threshold_pct convention): a fraction-style target like 0.7
        # would int()-truncate to 0 and report fake contamination
        if isinstance(v, bool) or not isinstance(v, int):
            raise ValueError(
                f"mix_deviation_report: target ppm for {k!r} must be "
                f"an int (ppm), got {v!r}"
            )
        if not 0 <= v <= 1_000_000:
            raise ValueError(
                f"mix_deviation_report: target ppm for {k!r} must be "
                f"in [0, 1e6], got {v}"
            )
    tgt = df.sparkSession.createDataFrame(
        [(k, int(v)) for k, v in targets.items()],
        f"`{stratum_column}` string, target_ppm long",
    )
    per = df.groupBy(F.col(stratum_column).cast("string").alias(stratum_column)).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    joined = per.join(tgt, stratum_column, "full_outer").select(
        stratum_column,
        F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
        F.coalesce(F.col("target_ppm"), F.lit(0)).alias("target_ppm"),
    )
    w = Window.partitionBy()
    joined = joined.withColumn(
        "observed_ppm",
        F.expr(
            "CAST((CAST(n_docs AS DECIMAL(38,0)) * 1000000) "
            "DIV GREATEST(SUM(n_docs) OVER (), 1) AS BIGINT)"
        ),
    ).withColumn(
        "dev_ppm", F.col("observed_ppm") - F.col("target_ppm")
    ).withColumn("abs_dev_ppm", F.abs(F.col("dev_ppm")))
    return joined.select(
        stratum_column,
        "n_docs",
        "observed_ppm",
        "target_ppm",
        "dev_ppm",
        "abs_dev_ppm",
        F.max("abs_dev_ppm").over(w).alias("max_abs_dev_ppm"),
    )
