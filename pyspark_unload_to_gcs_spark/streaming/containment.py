"""Streaming ingest decontamination: per-micro-batch containment of
NEW documents against an index corpus FROZEN at bootstrap.

The batch operator (operators/dedup.py ``containment_join``) answers
"which of these new docs are mostly contained in something the corpus
already holds?" once; a continuously-crawling 100 TB pipeline wants
that answer on EVERY arriving batch, against the SAME index, without
re-deriving the index's gram structures per batch. So the index is
built once (``containment_index_build``) into three reusable assets:

- ``index/grams``     — (id_b, __g): each index doc's sorted distinct
  gram array (the verify side);
- ``index/postings``  — (__p, id_b) partitioned by a gram hash bucket
  ``pb = pmod(xxhash64(__p), n_buckets)``: the candidate-join side.
  Per batch, the distinct bucket set of the batch's prefix grams is
  bounded by ``n_buckets`` — filtering on it prunes partitions, so a
  small batch reads only the posting shards its prefix can touch
  instead of scanning the whole index;
- ``index/gram_df``   — (__p, __df): the document-frequency table.
  The rarest-first prefix (``operators/dedup.py::rarest_prefix`` — the
  PPJoin ordering, result-invariant by the pigeonhole argument) then
  costs one BATCH-sized window per micro-batch; the corpus-wide df
  aggregation happened once at bootstrap.

Per micro-batch (``containment_match_batch``): gram-build the batch,
pick each doc's df-ordered prefix, join it against the pruned
postings, verify with the shared exact gate
(``operators/dedup.py::verify_containment`` — the batch twin uses the
same function, so the two can never drift), and (re)write
``matches/b=<batch_id>`` idempotently — a retry recomputes identical
rows because the index is frozen and the match set is a deterministic
function of (index, batch rows). Matches are per-doc independent, so
the union over batches equals the batch operator over the union of
batches — the replay oracle's invariant.

All layout I/O — including the ``read_matches`` commit-gated readback
through ``rollup.read_slices`` — goes through the versioned ledger's
Hadoop-FS helpers, so ``state_path`` works on any URI scheme the cluster can
write (file:/gs:/s3a:).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.session import barrier, session_memo
from pyspark_unload_to_gcs_spark.storage import child, qualified_path

_META_COLS = ("shingle_n", "n_buckets", "threshold_pct")

# broadcast-hint gates for containment_match_batch: a
# normal micro-batch sails under both; a backfill batch covering a big
# window must NOT be force-broadcast past what the driver can hold.
# Prefix rows are 16 bytes each (id, hash) — 2M ≈ 32 MB serialized.
# Gram-array rows carry the doc's full distinct-gram array — cap on
# docs, conservatively, since width scales with doc length.
_BROADCAST_PREFIX_ROW_CAP = 2_000_000
_BROADCAST_DOC_CAP = 100_000


def _index_dir(state_path: str, name: str) -> str:
    return child(child(state_path, "index"), name)


def _read_meta(spark: SparkSession, index_root: str):
    """The index's meta Row, read once per (session, index) and dropped
    with the session. The meta is frozen with the index, so one read per
    session is exact and spares every fold a small Spark job.
    ``containment_index_build`` drops the rebuilding session's entry;
    the key is the qualified root (``storage.qualified_path``), so no equivalent
    spelling of the path can serve a stale Row past that drop. A
    rebuild by another process or session is not observed: rebuilding
    an index under a live consumer is not supported."""
    return session_memo(
        spark,
        ("containment_meta", qualified_path(index_root)),
        lambda: spark.read.parquet(_index_dir(index_root, "meta")).first(),
    )


def containment_index_build(
    index: DataFrame,
    id_column: str,
    state_path: str,
    *,
    text_column: str = "text",
    shingle_n: int = 3,
    n_buckets: int = 64,
    threshold_pct: int = 80,
) -> None:
    """Freeze the index corpus's gram structures (module docstring).
    Idempotent overwrite; refuses an empty index — a stream matched
    against nothing emits zero rows forever while LOOKING live (the
    drift-baseline contract). The threshold is frozen WITH the index
    because the prefix length the postings were sized for and the
    verify gate must agree across every future batch."""
    from pyspark_unload_to_gcs_spark.operators.dedup import gram_sets

    if not isinstance(threshold_pct, int) or not (0 < threshold_pct <= 100):
        raise ValueError(
            f"containment_index_build: threshold_pct={threshold_pct!r} "
            "must be an int in (0, 100]"
        )
    # n_buckets < 1 makes pmod() throw REMAINDER_BY_ZERO at execution
    # under ANSI (or NULL every bucket with ANSI off, where the two
    # sides' buckets never agree and the stream silently matches
    # nothing) — refuse with a clear error at call time
    if not isinstance(n_buckets, int) or n_buckets < 1:
        raise ValueError(
            f"containment_index_build: n_buckets={n_buckets!r} must be "
            "an int >= 1"
        )
    if not isinstance(shingle_n, int) or shingle_n < 1:
        raise ValueError(
            f"containment_index_build: shingle_n={shingle_n!r} must be "
            "an int >= 1"
        )
    grams = (
        gram_sets(
            index, id_column, text_column=text_column, shingle_n=shingle_n
        )
        .select(F.col(id_column).alias("id_b"), "__g")
        # a zero-gram index doc can never hold any prefix gram — drop
        # it here so the emptiness guard below sees GRAMS, not rows: an
        # index whose docs all tokenize shorter than shingle_n must
        # refuse, not freeze empty postings that match nothing forever
        #
        .filter(F.size("__g") > 0)
    )
    # one gram pass feeds grams + postings + df — a barrier so the
    # interpreted-HOF build runs once (the containment_join rationale)
    grams = barrier(grams, eager=False)
    if grams.isEmpty():
        raise ValueError(
            "containment_index_build: index corpus has no documents "
            "with at least one word n-gram — cannot freeze a "
            "containment index; build once data exists"
        )
    grams.write.mode("overwrite").parquet(_index_dir(state_path, "grams"))
    postings = grams.select("id_b", F.explode("__g").alias("__p")).withColumn(
        "pb", F.pmod(F.xxhash64("__p"), F.lit(n_buckets)).cast("int")
    )
    # repartition ON the bucket column before the partitioned write:
    # without it every upstream partition writes a sliver into every
    # bucket directory (partitions x buckets files — measured ~2k tiny
    # files at fixture scale), and every later batch fold pays the
    # listing + tiny-task cost. One compact shard per bucket is also
    # the 100 TB layout (scale n via repartition(n, "pb") if a single
    # bucket outgrows a shard).
    postings.repartition(n_buckets, "pb").write.mode("overwrite").partitionBy(
        "pb"
    ).parquet(_index_dir(state_path, "postings"))
    postings.groupBy("__p").agg(
        F.count(F.lit(1)).alias("__df")
    ).write.mode("overwrite").parquet(_index_dir(state_path, "gram_df"))
    spark = index.sparkSession
    spark.createDataFrame(
        [(shingle_n, n_buckets, threshold_pct)], list(_META_COLS)
    ).coalesce(1).write.mode("overwrite").parquet(
        _index_dir(state_path, "meta")
    )
    # drop this session's meta entry: a rebuild must not serve the old Row
    session_memo(spark, ("containment_meta", qualified_path(state_path)), None)


def containment_match_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    id_column: str,
    state_path: str,
    text_column: str = "text",
    index_path: str | None = None,
) -> None:
    """Fold one micro-batch: match its docs against the frozen index
    and (re)write ``matches/b=<batch_id>`` (module docstring). Gram
    parameters and the threshold come from the index meta — a fold
    can't silently disagree with the structures it joins against.

    ``index_path`` lets the frozen index live at a different root
    from the per-stream match state (default: same root, the original
    layout) — several streams, or a stream restarted with fresh
    checkpoints, can then share one bootstrapped corpus index instead
    of re-freezing it per consumer."""
    from pyspark_unload_to_gcs_spark.operators.dedup import (
        gram_sets,
        rarest_prefix,
        verify_containment,
    )

    spark = batch_df.sparkSession
    idx = index_path or state_path
    meta = _read_meta(spark, idx)
    shingle_n, n_buckets, threshold_pct = (meta[c] for c in _META_COLS)

    # prefix + verify both consume the batch grams; one build
    ga = barrier(
        gram_sets(batch_df, id_column, text_column=text_column, shingle_n=shingle_n)
        .select(F.col(id_column).alias("id_a"), "__g")
        .filter(F.size("__g") > 0),
        eager=False,
    )
    df_tab = spark.read.parquet(_index_dir(idx, "gram_df"))
    # ga's id is already aliased id_a; two consumers (bucket probe +
    # candidate join)
    prefix = barrier(rarest_prefix(ga, "id_a", df_tab, threshold_pct), eager=False)

    # partition pruning: the batch's prefix can only meet postings in
    # its own hash buckets — a bounded collect (≤ n_buckets rows, the
    # stamps/centroids class), never the data. Per-bucket counts ride
    # along so the broadcast gate below costs no extra job.
    bucket_rows = (
        prefix.groupBy(
            F.pmod(F.xxhash64("__p"), F.lit(n_buckets)).cast("int").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    buckets = [r["pb"] for r in bucket_rows]
    prefix_rows = sum(r["n"] for r in bucket_rows)
    postings = spark.read.parquet(_index_dir(idx, "postings"))
    if len(buckets) < n_buckets:
        postings = postings.filter(F.col("pb").isin(buckets))
    # candidate join on xxhash64 of the gram (the containment_join
    # trick): 8-byte shuffle key, collisions only add candidates and
    # the exact verify below discards them.
    # A NORMAL micro-batch is small, and AQE can't size it through the
    # barrier, so hint broadcast — but gate the hint on the
    # measured batch size: a replay/backfill batch covering
    # a big window would blow past maxBroadcastTableBytes or driver
    # memory and fail the stream, where size-based join selection would
    # have picked a shuffle. Over the cap, leave the plan to Spark.
    cand_left = prefix.select("id_a", F.xxhash64("__p").alias("__hp"))
    if prefix_rows <= _BROADCAST_PREFIX_ROW_CAP:
        cand_left = F.broadcast(cand_left)
    cand = (
        cand_left.join(
            postings.select("id_b", F.xxhash64("__p").alias("__hp")),
            "__hp",
        )
        .select("id_a", "id_b")
        .distinct()
    )
    gb_arr = spark.read.parquet(_index_dir(idx, "grams")).select(
        "id_b", F.col("__g").alias("__gb")
    )
    # batch-side gram arrays are wide per row (the full gram array), so
    # the doc cap is much lower than the prefix row cap; every doc with
    # grams contributes >= 1 prefix row, so prefix_rows bounds the doc
    # count and a small batch skips the count job entirely
    ga_side = ga.select("id_a", F.col("__g").alias("__ga"))
    if prefix_rows <= _BROADCAST_DOC_CAP or ga.count() <= _BROADCAST_DOC_CAP:
        ga_side = F.broadcast(ga_side)
    out = verify_containment(
        cand,
        ga_side,
        gb_arr,
        threshold_pct,
    ).select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        "id_a",
        "id_b",
        "n_grams_a",
        "n_shared",
        "containment_r",
    )
    out.write.mode("overwrite").parquet(
        child(child(state_path, "matches"), f"b={batch_id}")
    )


def read_matches(spark: SparkSession, state_path: str) -> DataFrame | None:
    """All batches' match rows as one frame (batch_id is a data
    column). Only COMMITTED ``matches/b=<id>`` slices are read (a torn
    overwrite must not surface partial matches that LOOK computed);
    None before any batch committed."""
    from pyspark_unload_to_gcs_spark.streaming.rollup import read_slices

    return read_slices(spark, child(state_path, "matches"), "b")
