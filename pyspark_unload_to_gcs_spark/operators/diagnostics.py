"""Workload diagnostics: the numbers an engineer needs BEFORE running
a 100 TB join/aggregation — key-skew profiles that predict whether a
shuffle partitions evenly, whether AQE skew-join will engage, and
whether a salting/broadcast strategy is warranted.

All-integer outputs (counts, ranks, parts-per-million shares) so the
profile is value-oracle-able cross-engine with no float drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def key_skew_profile(df: DataFrame, key_column: str, label: str | None = None) -> DataFrame:
    """One-row skew profile of a prospective shuffle key: total rows,
    distinct keys, the heaviest key's count, exact p50/p90/p99 of the
    per-key count distribution (discrete — the value AT rank
    ``(n_keys * pct + 99) div 100`` = ceil(n_keys * pct / 100) in
    count order, pure BIGINT arithmetic), and the heaviest key's row
    share in parts-per-million.

    Shape: one groupBy(key) count (the same shuffle the real join
    would do, so the profile costs one pass of the probe side), then a
    rank selection over the PER-KEY count frame — n_keys rows, orders
    of magnitude smaller than the data. The count-frame sort is exact;
    at extreme key cardinality swap the rank selection for a KLL
    sketch over counts (operators/sketches.py) — same output schema,
    bounded state.

    NULL keys count as a key (they hash-partition together in a real
    shuffle, which is exactly the skew this profile exists to catch).
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_column).alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ranked = counts.select(
        "cnt", F.row_number().over(Window.orderBy("cnt", "k")).alias("rk")
    )
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    # ONE conditional-aggregation pass picks all three rank positions
    # (three per-percentile joins would recompute the count frame and
    # cost 16 exchanges for a diagnostic; the 1-row totals broadcast against the rank frame and a single agg
    # read the values AT ceil(q * n_keys)). max(when(...)) is safe:
    # exactly one row matches each target rank.
    joined = ranked.crossJoin(F.broadcast(totals))
    # rank = ceil(n_keys * pct / 100) computed in PURE BIGINT as
    # (n_keys * pct + 99) div 100: ceil(n_keys * 0.99) would be
    # off-by-one wherever the IEEE product overshoots the integer
    # (0.99 * 100 = 99.000000000000014 -> ceil 100), and oracle parity
    # would hold only because DuckDB repeats the identical float
    # expression. Integer arithmetic has one answer.
    pick = lambda pct: F.max(  # noqa: E731
        F.when(
            F.col("rk") == F.expr(f"(n_keys * {pct} + 99) div 100"),
            F.col("cnt"),
        )
    ).cast("long")
    return joined.agg(
        F.max("n_rows").alias("n_rows"),
        F.max("n_keys").alias("n_keys"),
        F.max("max_cnt").alias("max_cnt"),
        pick(50).alias("p50_cnt"),
        pick(90).alias("p90_cnt"),
        pick(99).alias("p99_cnt"),
    ).select(
        F.lit(label or key_column).alias("key"),
        "n_rows",
        "n_keys",
        "max_cnt",
        "p50_cnt",
        "p90_cnt",
        "p99_cnt",
        # explicit floor: Spark's double->long cast truncates while
        # DuckDB's ROUNDS — floor() on both engines is the only
        # spelling that agrees (NOTES lore #8 family)
        F.floor(F.col("max_cnt") * 1_000_000 / F.col("n_rows"))
        .cast("long")
        .alias("top1_share_ppm"),
    )


def join_cardinality_profile(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    label: str | None = None,
) -> DataFrame:
    """Predict an equi-join's output size WITHOUT running the join:
    |A ⋈ B| = Σ_k cntA(k) · cntB(k), computed by joining the two
    per-key COUNT frames (n_keys rows each — orders of magnitude
    smaller than the data) instead of the data itself. One row out:
    input sizes, per-side distinct keys, matching-key count, and the
    exact predicted join cardinality — the number that decides whether
    a 100 TB join is runnable at all (a fan-out prediction of 10^14
    rows is a design review, not a cluster ticket).

    Cost: the two groupBy(key) counts are the same shuffles the real
    join would do, but the frames that MEET are count rows, so the
    probe is safe even when the join itself would explode. At extreme
    key cardinality, swap exact counts for theta sketches
    (operators/sketches.py) to bound the matching-key estimate.

    Plan: ONE full-outer join of the two
    count frames and ONE final aggregate compute all six numbers —
    every lc row surfaces exactly once in the outer join, so
    sum(ca)/count(ca) over it equal the per-side totals, count(ca AND
    cb) is the matched-key count, and sum(ca*cb) null-skips unmatched
    rows. The previous shape re-aggregated lc and rc separately for
    the totals (each side's count frame fed two consumers → recomputed
    subtree, 7 Exchanges per profile); this one is 4, and the join
    reuses the groupBy partitioning."""
    lc = left.groupBy(F.col(left_key).alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    rc = right.groupBy(F.col(right_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    both = F.col("ca").isNotNull() & F.col("cb").isNotNull()
    return (
        lc.join(rc, "k", "full_outer")
        .agg(
            F.sum("ca").cast("long").alias("n_left"),
            F.sum("cb").cast("long").alias("n_right"),
            F.count("ca").cast("long").alias("n_left_keys"),
            F.count("cb").cast("long").alias("n_right_keys"),
            F.count(F.when(both, F.lit(1))).cast("long").alias("n_common_keys"),
            F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
            .cast("long")
            .alias("predicted_rows"),
        )
        .select(
            F.lit(label or f"{left_key}={right_key}").alias("join"),
            "n_left",
            "n_right",
            "n_left_keys",
            "n_right_keys",
            "n_common_keys",
            "predicted_rows",
        )
    )


def parquet_footer_profile(
    spark,
    path: str,
    key_column: str,
    label: str | None = None,
):
    """Scan-pruning pre-flight from parquet FOOTERS only — no data
    scan: per-file metadata (row counts, row-group counts, per-column
    min/max/null-count statistics) read distributed (one small footer
    per file, pyarrow, Arrow-batched over a paths frame) and folded to
    one row per table:

      (table, n_files, n_row_groups, n_rows, key_min, key_max,
       key_nulls)

    This is the 100 TB question "will a predicate on ``key_column``
    prune?" answered in seconds: row-group min/max spread vs the
    predicate range decides file/row-group skipping before any job
    runs. Footer numbers are WRITER-ASSERTED exact (num_rows and
    null_count always; min/max exact for numeric types), so the
    profile is verifiable against data-derived COUNT/MIN/MAX — the
    registered query does exactly that. A row group without statistics
    propagates NULL into key_min/key_max (unknown, never guessed).

    Fixture paths are local-FS; at scale the path listing and the
    footer opens go through the executors' shared filesystem (object
    stores serve footer byte-ranges without reading the file)."""
    from pyspark.sql import functions as _F

    per_file = footer_file_frame(spark, path, key_column)
    return per_file.agg(
        _F.lit(label or key_column).alias("table"),
        _F.count(_F.lit(1)).cast("long").alias("n_files"),
        _F.sum("n_row_groups").cast("long").alias("n_row_groups"),
        _F.sum("n_rows").cast("long").alias("n_rows"),
        # any file without stats poisons min/max to NULL (unknown)
        _F.when(_F.bool_and("stats_ok"), _F.min("key_min"))
        .cast("long")
        .alias("key_min"),
        _F.when(_F.bool_and("stats_ok"), _F.max("key_max"))
        .cast("long")
        .alias("key_max"),
        # same rule for null counts: unknown anywhere -> NULL, not 0
        _F.when(_F.bool_and("nulls_ok"), _F.sum("key_nulls"))
        .cast("long")
        .alias("key_nulls"),
    )


def footer_file_frame(spark, path: str, key_column: str):
    """Per-FILE parquet footer statistics as a DataFrame — the shared
    metadata reader under ``parquet_footer_profile`` (table fold) and
    ``scan_prune_plan`` (per-partition keep/skip):

      (path, n_row_groups, n_rows, key_min, key_max, key_nulls,
       stats_ok, nulls_ok)

    One small footer read per file, distributed (pyarrow over an
    Arrow-batched paths frame); no data pages are touched. min/max are
    NULL (unknown) when any row group lacks statistics; key_nulls is
    NULL when any row group lacks a null count (optional in the
    format). The files are ``storage.data_files``: hive-partitioned
    layouts (``key=value`` subdirectories) are walked, and leftovers
    of a crashed write (``_temporary/``) are not counted."""
    from pyspark_unload_to_gcs_spark.storage import data_files, local_path

    files = [local_path(f.path) for f in data_files(path)]
    if not files:
        raise ValueError(f"footer_file_frame: no parquet files at {path!r}")
    paths_df = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(min(len(files), 64))

    def _read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                kmin = kmax = None
                knulls = 0
                stats_ok = True
                nulls_ok = True
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    names = [
                        rg.column(i).path_in_schema for i in range(rg.num_columns)
                    ]
                    st = rg.column(names.index(key_column)).statistics
                    if st is None or not st.has_min_max:
                        stats_ok = False
                    else:
                        kmin = st.min if kmin is None else min(kmin, st.min)
                        kmax = st.max if kmax is None else max(kmax, st.max)
                    # null_count is OPTIONAL in the format: pyarrow
                    # returns None when has_null_count is false (legal
                    # for non-pyarrow/Spark writers) — propagate
                    # unknown, never count 0
                    if st is None or not st.has_null_count:
                        nulls_ok = False
                    else:
                        knulls += int(st.null_count)
                rows.append(
                    {
                        "path": p,
                        "n_row_groups": md.num_row_groups,
                        "n_rows": md.num_rows,
                        "key_min": int(kmin) if stats_ok and kmin is not None else None,
                        "key_max": int(kmax) if stats_ok and kmax is not None else None,
                        "key_nulls": knulls if nulls_ok else None,
                        "stats_ok": stats_ok,
                        "nulls_ok": nulls_ok,
                    }
                )
            yield pd.DataFrame(rows)

    return paths_df.mapInPandas(
        _read_footers,
        "path string, n_row_groups long, n_rows long, key_min long, "
        "key_max long, key_nulls long, stats_ok boolean, nulls_ok boolean",
    )


def scan_prune_plan(
    spark,
    path: str,
    key_column: str,
    *,
    lower: int,
    upper: int,
    partition_column: str | None = None,
):
    """The pruning DECISION, before any job runs: which files (or hive
    partitions) of a parquet table would a range predicate
    ``lower <= key_column <= upper`` actually read? Footer min/max per
    file decide ``keep = NOT (key_max < lower OR key_min > upper)``;
    a file without statistics is kept CONSERVATIVELY (unknown must
    never be skipped — skipping drops rows, keeping only wastes I/O).

    Returns one row per hive partition value when
    ``partition_column`` is given (folded across the partition's
    files), else one row per file:

      (partition|path, n_files, n_rows, key_min, key_max, keep)

    This is the planning answer to "is this table laid out so my
    query prunes?" — run it on a candidate layout BEFORE committing a
    100 TB rewrite; the registered query verifies the decisions
    against data-derived truth."""
    from pyspark.sql import functions as _F

    per_file = footer_file_frame(spark, path, key_column)
    if partition_column is None:
        grouped = per_file.select(
            _F.col("path").alias("unit"),
            _F.lit(1).cast("long").alias("n_files"),
            "n_rows",
            "key_min",
            "key_max",
            "stats_ok",
        )
    else:
        import re as _re

        # anchor at a path-segment start and escape the name: an
        # unanchored 'bkt=' would match inside 'region_bkt=1' and
        # silently merge distinct partitions
        pattern = rf"(?:^|/){_re.escape(partition_column)}=([^/]+)"
        grouped = (
            per_file.withColumn(
                "unit",
                _F.regexp_extract("path", pattern, 1),
            )
            .withColumn(
                "unit",
                _F.when(_F.col("unit") != "", _F.col("unit")).otherwise(
                    _F.raise_error(
                        _F.concat(
                            _F.lit(
                                f"scan_prune_plan: no '{partition_column}=' "
                                "segment in file path "
                            ),
                            _F.col("path"),
                        )
                    )
                ),
            )
            .groupBy("unit")
            .agg(
                _F.count(_F.lit(1)).cast("long").alias("n_files"),
                _F.sum("n_rows").cast("long").alias("n_rows"),
                _F.when(_F.bool_and("stats_ok"), _F.min("key_min"))
                .cast("long")
                .alias("key_min"),
                _F.when(_F.bool_and("stats_ok"), _F.max("key_max"))
                .cast("long")
                .alias("key_max"),
                _F.bool_and("stats_ok").alias("stats_ok"),
            )
        )
    return grouped.select(
        "unit",
        "n_files",
        "n_rows",
        "key_min",
        "key_max",
        _F.when(
            # unknown -> never skip. NULL bounds with stats_ok=True
            # happen too: a zero-row-group parquet file is legal and
            # carries no min/max — without this clause the range test
            # evaluates to NULL (neither kept nor skipped) and a
            # consumer filtering on keep silently drops the row
            #; keep must be a TOTAL boolean
            ~_F.col("stats_ok")
            | _F.col("key_min").isNull()
            | _F.col("key_max").isNull(),
            _F.lit(True),
        )
        .otherwise(
            ~((_F.col("key_max") < _F.lit(int(lower)))
              | (_F.col("key_min") > _F.lit(int(upper))))
        )
        .alias("keep"),
    )


def cm_key_counts(
    df, key_column: str, *, rows: int = 4, width: int = 2048
):
    """Count-min sketch of a join key's multiset as a (r, b, c) frame —
    ``rows`` independent md5-salted hash rows of ``width`` buckets,
    built with one narrow explode + one bounded groupBy (at most
    rows x width output rows regardless of input size). NULL keys are
    dropped (they never join, which is the only consumer). The md5
    bucketing (operators/classifier.token_bucket spelling) makes the
    sketch bit-identical across engines, so estimates built on it sit
    under full value oracles."""
    from pyspark.sql import functions as _F

    from pyspark_unload_to_gcs_spark.operators.classifier import token_bucket

    staged = df.filter(_F.col(key_column).isNotNull()).select(
        _F.col(key_column).cast("string").alias("__ks")
    )
    pairs = _F.array(
        *[
            _F.struct(
                _F.lit(r).cast("int").alias("r"),
                token_bucket(
                    _F.concat(_F.lit(f"{r}:"), _F.col("__ks")), width
                ).alias("b"),
            )
            for r in range(rows)
        ]
    )
    return (
        staged.select(_F.explode(pairs).alias("p"))
        .groupBy(_F.col("p.r").alias("r"), _F.col("p.b").alias("b"))
        .agg(_F.count(_F.lit(1)).cast("long").alias("c"))
    )


def cm_join_size_estimate(
    left,
    right,
    *,
    left_key: str,
    right_key: str,
    rows: int = 4,
    width: int = 2048,
):
    """Equi-join output-size pre-flight WITHOUT running the join: the
    count-min inner-product estimator (Cormode & Muthukrishnan 2005) —
    |A join B| = sum_k a_k*b_k is estimated per sketch row as
    sum_b cmA[r][b]*cmB[r][b] and the MINIMUM over rows is returned.
    Since every count is non-negative, each row's estimate equals the
    truth plus collision cross-terms, so the estimate NEVER
    UNDERESTIMATES — the safe direction for the question this answers
    at 100 TB ("do I dare run this join / must I pre-aggregate?").
    Cost: one narrow pass + one bounded (rows x width) aggregate per
    side — no shuffle of either table by the join key.

    Returns one row: (join_size_est BIGINT)."""
    from pyspark.sql import functions as _F

    ca = cm_key_counts(left, left_key, rows=rows, width=width)
    cb = (
        cm_key_counts(right, right_key, rows=rows, width=width)
        .withColumnRenamed("c", "c_b")
    )
    # products/sums in DECIMAL(38,0): long arithmetic would silently
    # WRAP around 9.2e18 (reachable at the table sizes this pre-flight
    # is for), voiding the never-underestimates guarantee
    shared = (
        ca.join(cb, ["r", "b"])
        .groupBy("r")
        .agg(
            _F.sum(
                _F.col("c").cast("decimal(19,0)")
                * _F.col("c_b").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("s")
        )
    )
    # a sketch row with NO shared (r,b) buckets has inner product 0 —
    # the inner join above drops it, and min() over the survivors would
    # report a positive estimate where the row-minimum is exactly 0
    # (disjoint key multisets + collisions elsewhere). Keep
    # every row on a 0..rows-1 spine and coalesce the missing sums to 0.
    spine = left.sparkSession.range(rows).select(
        _F.col("id").cast("int").alias("r")
    )
    per_row = spine.join(shared, "r", "left").select(
        "r",
        _F.coalesce(_F.col("s"), _F.lit(0).cast("decimal(38,0)")).alias("s"),
    )
    long_max = (1 << 63) - 1
    m = _F.min("s")
    return per_row.agg(
        _F.when(
            m > _F.lit(long_max).cast("decimal(38,0)"),
            _F.raise_error(
                _F.lit(
                    "cm_join_size_estimate: estimate exceeds BIGINT — the "
                    "join is too large to size in long units; read the "
                    "decimal directly via cm_key_counts"
                )
            ).cast("long"),
        )
        # no shared (r,b) bucket (disjoint key sets / empty input) means
        # no key can match — the estimate is an exact 0, not NULL
        # (min over an empty aggregate is NULL)
        .otherwise(_F.coalesce(m.cast("long"), _F.lit(0).cast("long")))
        .alias("join_size_est")
    )


def categorical_drift_psi(
    df,
    category_column: str,
    baseline,
):
    """Dataset-drift monitor between two slices of one frame: the
    Population Stability Index of a categorical column, computed in a
    SINGLE scan (the classic two-snapshot drift gate a 100 TB ingest
    pipeline runs before accepting a new crawl: PSI < 0.1 stable,
    0.1-0.25 drifting, > 0.25 block-and-investigate).

    ``baseline`` is a boolean Column splitting the frame into the
    baseline slice (A, true) and the current slice (B, false). Returns
    one row per category: (category, n_a, n_b, psi_term_r) with

        psi_term = (p - q) * ln(p / q),
        p = (n_a + 1) / (N_a + K),  q = (n_b + 1) / (N_b + K)

    — add-one (Laplace) smoothed over the K categories observed in
    EITHER slice, so a category absent from one side contributes a
    finite, well-defined term instead of an infinite ratio; total PSI
    is the caller's SUM. Every count is exact; each probability is one
    IEEE division of integers; the single ``ln`` keeps the replay
    cross-engine (psi_term rounded to 6, the repo's ln-bearing-oracle
    convention).

    Plan shape: one conditional groupBy over the category (the only
    data shuffle — identical to counting either slice alone), a
    one-row totals frame broadcast back on, and bounded-by-K output.
    No second scan, no join of two snapshots.
    """
    from pyspark.sql import functions as _F

    counts = df.groupBy(category_column).agg(
        _F.sum(_F.when(baseline, 1).otherwise(0)).cast("long").alias("n_a"),
        _F.sum(_F.when(baseline, 0).otherwise(1)).cast("long").alias("n_b"),
    )
    return drift_psi_from_counts(counts, category_column)


def drift_psi_from_counts(counts, category_column: str):
    """The PSI arithmetic over a PRE-COUNTED frame (category, n_a
    BIGINT, n_b BIGINT) — the shared core of ``categorical_drift_psi``
    (one-scan batch path) and the streaming drift monitor
    (streaming/drift.py, which joins a frozen baseline count table to
    each micro-batch's counts). Same smoothing, same single-ln
    round(6) contract; K is the category count of ``counts`` itself,
    so callers must include every category observed on EITHER side
    (zero-filled), exactly what a full-outer count join produces."""
    from pyspark.sql import functions as _F

    totals = counts.agg(
        _F.sum("n_a").cast("long").alias("__na"),
        _F.sum("n_b").cast("long").alias("__nb"),
        _F.count(_F.lit(1)).cast("long").alias("__k"),
    )
    p = (_F.col("n_a") + 1).cast("double") / (
        (_F.col("__na") + _F.col("__k")).cast("double")
    )
    q = (_F.col("n_b") + 1).cast("double") / (
        (_F.col("__nb") + _F.col("__k")).cast("double")
    )
    return counts.join(_F.broadcast(totals)).select(
        category_column,
        "n_a",
        "n_b",
        _F.round((p - q) * _F.log(p / q), 6).alias("psi_term_r"),
    )


def numeric_drift_psi(
    df,
    value_column: str,
    baseline,
    *,
    n_bins: int = 10,
    edges: str = "exact",
    kll_k: int = 16384,
):
    """Dataset-drift monitor for a NUMERIC column — the binned PSI that
    completes ``categorical_drift_psi``: bin edges are the baseline
    slice's exact quantiles (so the baseline fills its bins ~evenly and
    every drift term reads as "mass that left its home decile"), both
    slices are histogrammed against those edges, and the per-bin terms
    run through the shared smoothed-PSI arithmetic.

    Exactness: the i-th edge is the value AT rank ceil(n*i/n_bins) of
    the baseline's non-NULL values — computed in pure BIGINT on the
    per-VALUE count frame (groupBy(value) + one cumulative window over
    the distinct-value frame, the ``key_skew_profile`` pattern — never
    a global sort of the data). Bin membership is
    |{edges < value}| — identical parquet doubles compare identically
    cross-engine, so the whole profile sits under a full value oracle.
    NULL values are excluded from both slices (they are a categorical
    fact, not a numeric one — count them separately). Duplicate edges
    (heavily tied values) leave legal empty bins; the 0..n_bins-1 spine
    keeps them in the smoothing mass on both engines.

    Cost: two passes — one over the baseline slice for edges (shuffle
    carries distinct values only), one over the frame for binned
    conditional counts. ``edges="kll"`` is the extreme-scale arm: one
    MERGEABLE sketch aggregation replaces the distinct-value edge pass
    (near-unique doubles at 100 TB make "distinct values only" the
    whole corpus), same output schema; a KLL sketch is EXACT below its
    retained-item capacity (``kll_k``), so at driver scale the two
    arms agree and the exact form stays the oracle posture.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as _F

    if n_bins < 2:
        raise ValueError(f"numeric_drift_psi: n_bins={n_bins} must be >= 2")
    if edges not in ("exact", "kll"):
        raise ValueError(
            f"numeric_drift_psi: edges={edges!r} must be 'exact' or 'kll'"
        )
    if edges == "kll" and not (8 <= kll_k <= 65535):
        # the DataSketches parameter range — out-of-range k fails deep
        # inside the sketch with a cryptic error
        raise ValueError(
            f"numeric_drift_psi: kll_k={kll_k!r} must be in [8, 65535]"
        )
    v = _F.col(value_column)
    if edges == "kll":
        from pyspark.sql import types as _T

        # integral columns ride the BIGINT sketch: the double sketch
        # rounds values past 2^53, perturbing edges and breaking the
        # "arms agree below capacity" contract on id-like/nanosecond
        # columns
        integral = isinstance(
            df.schema[value_column].dataType,
            (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType),
        )
        if integral:
            agg_fn = _F.kll_sketch_agg_bigint
            n_fn = _F.kll_sketch_get_n_bigint
            q_fn = _F.kll_sketch_get_quantile_bigint
            vcast = v.cast("bigint")
        else:
            agg_fn = _F.kll_sketch_agg_double
            n_fn = _F.kll_sketch_get_n_double
            q_fn = _F.kll_sketch_get_quantile_double
            vcast = v.cast("double")
        sk = df.filter(baseline & v.isNotNull()).agg(
            agg_fn(vcast, _F.lit(kll_k)).alias("__sk")
        )
        # CaseWhen branches evaluate lazily — the guard must wrap the
        # array build itself, or get_quantile on an n=0 sketch throws
        # KLL_INVALID_INPUT before the raise_error contract below fires
        edge_frame = sk.select(
            _F.when(
                n_fn("__sk") > 0,
                _F.array(
                    *[
                        q_fn(_F.col("__sk"), _F.lit(i / n_bins))
                        for i in range(1, n_bins)
                    ]
                ),
            ).alias("__edges")
        )
        nonempty = _F.col("__edges").isNotNull()
    else:
        bvals = (
            df.filter(baseline & v.isNotNull())
            .groupBy(value_column)
            .agg(_F.count(_F.lit(1)).alias("__c"))
        )
        cum = bvals.select(
            value_column,
            _F.sum("__c").over(
                Window.orderBy(value_column).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ).alias("__cum"),
            _F.sum("__c").over(Window.partitionBy()).alias("__n"),
        )
        edge_frame = cum.agg(
            _F.array(
                *[
                    _F.min(
                        _F.when(
                            _F.col("__cum")
                            >= _F.expr(f"(__n * {i} + {n_bins - 1}) div {n_bins}"),
                            v,
                        )
                    )
                    for i in range(1, n_bins)
                ]
            ).alias("__edges")
        )
        # a non-empty baseline always yields at least one non-NULL
        # edge, since rank targets are <= n
        nonempty = (
            _F.size(_F.filter(_F.col("__edges"), lambda b: b.isNotNull()))
            > 0
        )
    # an EMPTY baseline slice leaves every edge NULL (exact arm) or an
    # n=0 sketch (kll arm) and would bin the whole current slice into
    # bin 0 — ten rows of smoothing-only terms that LOOK computed;
    # raise IN-PLAN instead. The raise branch is cast to the edges' own
    # array type so the when/otherwise unifies for any numeric value
    # column.
    edges_type = edge_frame.schema["__edges"].dataType
    edges = edge_frame.select(
        _F.when(nonempty, _F.col("__edges"))
        .otherwise(
            _F.raise_error(
                _F.lit(
                    "numeric_drift_psi: baseline slice has no non-NULL "
                    "values — no quantile edges to bin against"
                )
            ).cast(edges_type)
        )
        .alias("__edges")
    )
    binned = (
        df.filter(v.isNotNull())
        .crossJoin(_F.broadcast(edges))
        .select(
            _F.size(_F.filter(_F.col("__edges"), lambda b: v > b))
            .cast("long")
            .alias("bin"),
            _F.when(baseline, 1).otherwise(0).alias("__a"),
            _F.when(baseline, 0).otherwise(1).alias("__b"),
        )
        .groupBy("bin")
        .agg(
            _F.sum("__a").cast("long").alias("n_a"),
            _F.sum("__b").cast("long").alias("n_b"),
        )
    )
    spine = df.sparkSession.range(n_bins).select(_F.col("id").alias("bin"))
    counts = spine.join(binned, "bin", "left").select(
        "bin",
        _F.coalesce(_F.col("n_a"), _F.lit(0)).cast("long").alias("n_a"),
        _F.coalesce(_F.col("n_b"), _F.lit(0)).cast("long").alias("n_b"),
    )
    return drift_psi_from_counts(counts, "bin")


def threshold_sweep(
    df: DataFrame,
    score_column: str,
    thresholds,
    *,
    weight_column: str | None = None,
) -> DataFrame:
    """Keep-rate curve for a quality gate: for every candidate cutoff
    ``t``, how many documents (and optionally how much ``weight`` —
    tokens, bytes) survive ``score >= t``. This is the stage BEFORE
    any filter ships: pipelines pick the classifier/LM-score cutoff
    from exactly this table ("keep 60% of tokens" => find the t whose
    kept_weight crosses 0.6 * total), instead of guessing and
    re-scanning per guess.

    ONE scan, no shuffle beyond the single map-side-combined global
    aggregate: each threshold is a conditional-aggregation expression
    pair in the same agg (the ``categorical_drift_psi`` one-pass
    pattern), and the K-row unpivot happens on the aggregated frame.
    NULL scores never pass any cutoff (they are unkept at every t —
    an unscored doc must not ship through a quality gate).

    Output, one row per threshold: (threshold DOUBLE, kept_docs,
    total_docs, kept_ppm, kept_weight, total_weight — weights NULL
    when no ``weight_column``). All counts BIGINT; ppm is exact
    integer floor (kept * 1e6 DIV total). kept_docs is monotone
    nonincreasing in threshold by construction."""
    ts = [float(t) for t in thresholds]
    if not ts:
        raise ValueError("threshold_sweep: thresholds must be non-empty")
    if len(set(ts)) != len(ts):
        raise ValueError("threshold_sweep: thresholds must be distinct")
    s = F.col(score_column)
    w = (
        F.coalesce(F.col(weight_column).cast("long"), F.lit(0))
        if weight_column is not None
        else None
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    if w is not None:
        aggs.append(F.sum(w).alias("__wt"))
    for i, t in enumerate(ts):
        keep = s.isNotNull() & (s >= F.lit(t))
        aggs.append(
            F.sum(F.when(keep, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"__k{i}")
        )
        if w is not None:
            aggs.append(
                F.sum(F.when(keep, w).otherwise(F.lit(0)))
                .cast("long")
                .alias(f"__kw{i}")
            )
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold"),
                F.col(f"__k{i}").alias("kept_docs"),
                (
                    F.col(f"__kw{i}")
                    if w is not None
                    else F.lit(None).cast("long")
                ).alias("kept_weight"),
            )
            for i, t in enumerate(ts)
        ]
    )
    exploded = one.select(
        F.explode(rows).alias("r"),
        F.col("__n").cast("long").alias("total_docs"),
        (
            F.col("__wt") if w is not None else F.lit(None).cast("long")
        ).alias("total_weight"),
    )
    return exploded.select(
        F.col("r.threshold").alias("threshold"),
        F.col("r.kept_docs").alias("kept_docs"),
        "total_docs",
        F.expr(
            "CAST((CAST(r.kept_docs AS DECIMAL(38,0)) * 1000000) "
            "DIV GREATEST(total_docs, 1) AS BIGINT)"
        ).alias("kept_ppm"),
        F.col("r.kept_weight").alias("kept_weight"),
        "total_weight",
    )


def calibration_bins(
    df: DataFrame,
    score_column: str,
    label_column: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Classifier reliability diagram + ECE — the calibration check a
    pipeline runs BEFORE trusting a quality classifier's scores as
    probabilities (``threshold_sweep`` picks a cutoff; this validates
    that the scores MEAN what the cutoff assumes). Rows bin by
    predicted score (equal-width over [0,1], out-of-range clamps to
    the edge bins), and each bin compares observed positive rate
    against mean predicted score.

    Everything is exact integer arithmetic: per-row confidence is
    round(clamp(score, 0, 1) * 1e6) as BIGINT (clamped exactly like
    the bin, and keeping every integer non-negative sidesteps the
    trunc-vs-floor divergence Spark DIV and DuckDB // have on
    negatives), so bin confidence, positive rate, the per-bin |gap|,
    and the N-weighted ECE are all BIGINT ppm by floor division —
    bit-for-bit engine-replayable. Rows with a NULL
    score or NULL label are excluded (an unscored or unlabeled row
    can neither be placed in a bin nor grade one) — count them
    upstream; this frame answers calibration only.

    Output, one row per non-empty bin: (bin INT, bin_lo_ppm, n,
    positives, pos_rate_ppm, confidence_ppm, gap_ppm, ece_ppm — the
    last repeated on every row: sum(gap*n) DIV total, the scalar a
    gate asserts on). ONE map-side-combined groupBy over n_bins keys;
    the ECE window runs over the <= n_bins aggregated rows (the
    domain_reweight few-row-frame pattern)."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    score = F.col(score_column).cast("double")
    label = F.col(label_column).cast("boolean")
    bin_col = F.least(
        F.greatest(
            F.floor(score * F.lit(float(n_bins))).cast("int"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    conf = F.round(
        F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0))
        * F.lit(1_000_000.0)
    ).cast("long")
    # NaN passes isNotNull() and under greatest/least NaN ordering would
    # land in bin 0 with confidence_ppm 1,000,000 — a fabricated
    # max-confidence point; excluded like NULL, matching
    # the module's _pct_value discipline
    per = (
        df.filter(score.isNotNull() & ~F.isnan(score) & label.isNotNull())
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(label.cast("long")).alias("positives"),
            F.sum(conf).alias("__conf_sum"),
        )
    )
    per = per.select(
        "bin",
        F.expr(
            f"CAST((CAST(bin AS DECIMAL(38,0)) * 1000000) DIV {n_bins} "
            "AS BIGINT)"
        ).alias("bin_lo_ppm"),
        "n",
        "positives",
        F.expr(
            "CAST((CAST(positives AS DECIMAL(38,0)) * 1000000) DIV n "
            "AS BIGINT)"
        ).alias("pos_rate_ppm"),
        F.expr("CAST(__conf_sum DIV n AS BIGINT)").alias(
            "confidence_ppm"
        ),
    ).withColumn(
        "gap_ppm", F.abs(F.col("pos_rate_ppm") - F.col("confidence_ppm"))
    )
    return per.withColumn(
        "ece_ppm",
        F.expr(
            "CAST(SUM(CAST(gap_ppm AS DECIMAL(38,0)) * n) "
            "OVER () DIV SUM(n) OVER () AS BIGINT)"
        ),
    )


def score_auc(
    df: DataFrame,
    score_column: str,
    label_column: str,
    *,
    score_decimals: int = 6,
) -> DataFrame:
    """Exact tie-corrected ROC AUC as a one-row frame — the ranking
    check next to ``calibration_bins`` (AUC grades the ORDER scores
    induce; calibration grades their VALUES).

    A naive rank-based AUC needs a global sort + unpartitioned rank
    window — the single-partition plan that dies at 100 TB. Instead
    (the ``token_budget_select`` two-phase shape): scores round to
    ``score_decimals`` and aggregate into per-score buckets (bounded
    by distinct rounded scores, independent of corpus size), and the
    tie-corrected pair count comes from a cumulative window over THAT
    bucket frame, ordered by score:

        AUC = sum_b[ pos_b * (neg_below_b + neg_b / 2) ] / (P * N)

    computed in doubled integers to keep the half exact:
    ``auc_ppm = sum(pos_b * (2*cum_neg_below + neg_b)) * 1e6 DIV
    (2 * P * N)`` — all BIGINT/DECIMAL floor arithmetic,
    engine-replayable. Rounding scores quantizes ties (two scores
    equal at 6 decimals count as tied), which is the documented
    operating point, not a float hazard. NULL/NaN scores and NULL
    labels are excluded; a degenerate corpus (P == 0 or N == 0)
    returns auc_ppm NULL rather than a fake 500000.

    PRECONDITION: the bucket bound holds only for scores in a BOUNDED
    range — classifier probabilities in [0,1] give <= 10^decimals + 1
    buckets regardless of corpus size. Unbounded scores (raw logits,
    perplexities) make the bucket frame grow with the corpus and the
    cumulative window regress toward the single-partition shape this
    function exists to avoid; squash (sigmoid) or clamp such scores
    first, or lower ``score_decimals``.

    Output: one row (n_pos, n_neg, n_score_buckets, auc_ppm)."""
    score = F.round(
        F.col(score_column).cast("double"), int(score_decimals)
    )
    label = F.col(label_column).cast("boolean")
    # NaN scores are excluded like NULL (NaN passes
    # isNotNull() and would otherwise rank as greater-than-everything)
    buckets = (
        df.filter(score.isNotNull() & ~F.isnan(score) & label.isNotNull())
        .groupBy(score.alias("__s"))
        .agg(
            F.sum(label.cast("long")).alias("__pos"),
            F.sum((~label).cast("long")).alias("__neg"),
        )
    )
    wcum = Window.orderBy("__s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    scored = buckets.withColumn(
        "__neg_below", F.coalesce(F.sum("__neg").over(wcum), F.lit(0))
    )
    return scored.agg(
        F.coalesce(F.sum("__pos"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.sum("__neg"), F.lit(0)).cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_score_buckets"),
        F.expr(
            "CAST(CASE WHEN SUM(__pos) > 0 AND SUM(__neg) > 0 THEN "
            "(SUM(CAST(__pos AS DECIMAL(38,0)) "
            " * (2 * __neg_below + __neg)) * 1000000) "
            "DIV (2 * CAST(SUM(__pos) AS DECIMAL(38,0)) * SUM(__neg)) "
            "END AS BIGINT)"
        ).alias("auc_ppm"),
    )


_PCT_RESERVED = ("p_ppm", "value", "rank", "n", "r")


def _pct_validate(percentiles_ppm, caller: str) -> list[int]:
    """Shared validation for the exact-percentile family (one place —
    a rank-arithmetic or NULL-discipline fix must not drift between
    the global and grouped variants)."""
    ps = [int(p) for p in percentiles_ppm]
    if not ps:
        raise ValueError(f"{caller}: percentiles must be non-empty")
    for p in ps:
        if not 0 <= p <= 1_000_000:
            raise ValueError(
                f"{caller}: p_ppm must be in [0, 1e6], got {p}"
            )
    if len(set(ps)) != len(ps):
        raise ValueError(f"{caller}: percentiles must be distinct")
    return ps


def _pct_rank_expr(p: int):
    """rank = max(1, ceil(p * N)) in pure integer arithmetic over the
    window-provided __n column."""
    return F.expr(
        f"GREATEST((CAST({p} AS DECIMAL(38,0)) * __n + 999999) "
        "DIV 1000000, 1)"
    )


def _pct_value(df: DataFrame, value_column: str, decimals: int):
    """Rounded value with the family's shared non-value discipline:
    NULL and NaN are both absent (a NaN from upstream double math is
    not a distribution point — unfiltered it would rank above every
    real value and surface as a fabricated high percentile)."""
    x = F.col(value_column).cast("double")
    v = F.round(x, int(decimals))
    return F.when(x.isNotNull() & ~F.isnan(x), v)


def _pct_row_structs(ps):
    return F.array(
        *[
            F.struct(
                F.lit(p).cast("long").alias("p_ppm"),
                F.col(f"__p{i}").alias("value"),
                F.col(f"__r{i}").alias("rank"),
            )
            for i, p in enumerate(ps)
        ]
    )


def exact_percentiles(
    df: DataFrame,
    value_column: str,
    percentiles_ppm: list[int],
    *,
    value_decimals: int = 6,
) -> DataFrame:
    """EXACT percentiles of a (rounded) numeric column without a
    global sort — the distribution numbers a pipeline clips, alerts,
    and documents with. ``percentile_approx`` trades accuracy for one
    pass; a rank window needs the single-partition global sort that
    dies at 100 TB. This is the ``score_auc``/``token_budget_select``
    two-phase shape instead: values round to ``value_decimals`` and
    aggregate into per-value buckets (bounded by DISTINCT rounded
    values, independent of corpus size — the documented bounded-range
    precondition), one cumulative window runs over that bucket frame,
    and every requested percentile is a conditional aggregation over
    it (the ``threshold_sweep`` pattern — K percentiles add K
    expressions, not K passes).

    Percentile semantics are the exact lower-rank step function
    (``type 1`` / SQL ``PERCENTILE_DISC``): the value whose 1-based
    rank is ``max(1, ceil(p * N))``, integer arithmetic end to end
    (``rank = GREATEST((p_ppm * N + 999999) DIV 1e6, 1)``) — so the
    answer is a value that actually occurs (at the rounding grain),
    bit-for-bit reproducible across engines. NULLs are excluded from
    ranking; an all-NULL/empty column yields NULL values with n = 0.

    Returns one row per requested percentile: (p_ppm BIGINT,
    value DOUBLE, rank BIGINT, n BIGINT). NULL and NaN are both
    excluded from ranking (``_pct_value``)."""
    ps = _pct_validate(percentiles_ppm, "exact_percentiles")
    v = _pct_value(df, value_column, value_decimals)
    buckets = (
        df.filter(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wcum = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = buckets.withColumn("__cum", F.sum("__c").over(wcum)).withColumn(
        "__n", F.sum("__c").over(Window.partitionBy())
    )
    aggs = []
    for i, p in enumerate(ps):
        rank = _pct_rank_expr(p)
        aggs.append(
            F.min(F.when(F.col("__cum") >= rank, F.col("__v"))).alias(
                f"__p{i}"
            )
        )
        aggs.append(F.min(rank).cast("long").alias(f"__r{i}"))
    one = cum.agg(
        *aggs, F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("__N")
    )
    return one.select(
        F.explode(_pct_row_structs(ps)).alias("r"),
        F.col("__N").alias("n"),
    ).select(
        F.col("r.p_ppm").alias("p_ppm"),
        F.col("r.value").alias("value"),
        F.when(F.col("n") > 0, F.col("r.rank")).alias("rank"),
        "n",
    )


def winsorize(
    df: DataFrame,
    value_column: str,
    *,
    lo_ppm: int = 10_000,
    hi_ppm: int = 990_000,
    out_column: str | None = None,
    value_decimals: int = 6,
) -> DataFrame:
    """Winsorized clip at EXACT percentile bounds (``exact_
    percentiles`` above — never a global sort): values below the
    lo_ppm percentile rise to it, values above the hi_ppm percentile
    drop to it, everything else passes through UNROUNDED (only the
    bound lookup uses the rounding grain; an interior value keeps its
    exact bytes). The standard outlier guard before averaging
    heavy-tailed quality/length/loss columns.

    Adds ``out_column`` (default ``<value_column>_winsor`` DOUBLE) and
    ``clipped`` BOOLEAN; NULL values stay NULL/unclipped. The bounds
    attach via one broadcast of the 1-row bounds frame — no driver
    collect, no second scan of the data beyond the bucket build."""
    if not 0 <= lo_ppm <= hi_ppm <= 1_000_000:
        raise ValueError(
            f"winsorize: need 0 <= lo_ppm <= hi_ppm <= 1e6, got "
            f"({lo_ppm}, {hi_ppm})"
        )
    out = out_column or f"{value_column}_winsor"
    ps = [lo_ppm] if lo_ppm == hi_ppm else [lo_ppm, hi_ppm]
    pct = exact_percentiles(
        df, value_column, ps, value_decimals=value_decimals
    )
    bounds = (
        pct.groupBy()
        .pivot("p_ppm", ps)
        .agg(F.first("value"))
        .select(
            F.col(str(lo_ppm)).alias("__lo"),
            F.col(str(hi_ppm)).alias("__hi")
            if hi_ppm != lo_ppm
            else F.col(str(lo_ppm)).alias("__hi"),
        )
    )
    joined = df.crossJoin(F.broadcast(bounds))
    x = F.col(value_column).cast("double")
    # NaN discipline: Spark orders NaN above every value, so an
    # unguarded x > hi would rewrite a NaN row to the hi bound —
    # fabricating a concrete value from an undefined one. NaN rows
    # pass through as NaN, unclipped (and NaN can never BE a bound:
    # _pct_value excludes it from the distribution).
    clipped_val = F.when(F.isnan(x), F.lit(None).cast("double")).when(
        x < F.col("__lo"), F.col("__lo")
    ).when(x > F.col("__hi"), F.col("__hi"))
    return (
        joined.withColumn(out, F.coalesce(clipped_val, x))
        .withColumn(
            "clipped",
            F.when(x.isNotNull(), ~F.isnan(x) & clipped_val.isNotNull()),
        )
        .drop("__lo", "__hi")
    )


def exact_percentiles_by(
    df: DataFrame,
    group_column: str,
    value_column: str,
    percentiles_ppm: list[int],
    *,
    value_decimals: int = 6,
) -> DataFrame:
    """Per-group ``exact_percentiles`` (same PERCENTILE_DISC
    semantics, same integer rank arithmetic): the per-language /
    per-domain distribution profile a pipeline reports and gates on
    (e.g. token-length p50/p95 per language). The bucket frame is
    (group, rounded value) and BOTH windows partition by the group —
    partition-local, never a global sort; K percentiles are K
    conditional aggregations per group in one groupBy.

    Returns one row per (group, requested percentile):
    (group_column, p_ppm BIGINT, value DOUBLE, rank BIGINT, n BIGINT).
    Groups whose values are all NULL/NaN do not appear (they have no
    distribution to report); NULL group keys form their own group.
    ``group_column`` must not collide with an output column name."""
    ps = _pct_validate(percentiles_ppm, "exact_percentiles_by")
    if group_column in _PCT_RESERVED:
        raise ValueError(
            f"exact_percentiles_by: group_column {group_column!r} "
            f"collides with an output column; rename it first "
            f"(reserved: {_PCT_RESERVED})"
        )
    v = _pct_value(df, value_column, value_decimals)
    buckets = (
        df.filter(v.isNotNull())
        .groupBy(F.col(group_column).alias("__g"), v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wcum = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = buckets.withColumn("__cum", F.sum("__c").over(wcum)).withColumn(
        "__n", F.sum("__c").over(Window.partitionBy("__g"))
    )
    aggs = [F.max("__n").cast("long").alias("__N")]
    for i, p in enumerate(ps):
        rank = _pct_rank_expr(p)
        aggs.append(
            F.min(F.when(F.col("__cum") >= rank, F.col("__v"))).alias(
                f"__p{i}"
            )
        )
        aggs.append(F.min(rank).cast("long").alias(f"__r{i}"))
    one = cum.groupBy("__g").agg(*aggs)
    return one.select(
        F.col("__g").alias(group_column),
        F.explode(_pct_row_structs(ps)).alias("r"),
        F.col("__N").alias("n"),
    ).select(
        group_column,
        F.col("r.p_ppm").alias("p_ppm"),
        F.col("r.value").alias("value"),
        F.col("r.rank").alias("rank"),
        "n",
    )
