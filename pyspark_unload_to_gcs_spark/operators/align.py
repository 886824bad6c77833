"""Margin-based embedding alignment mining (Artetxe & Schwenk 2019,
"Margin-based Parallel Corpus Mining with Multilingual Sentence
Embeddings" — the LASER/CCMatrix bitext-mining recipe): candidate
pairs are scored not by raw cosine but by the RATIO of their cosine
to the average cosine of each side's k nearest neighbors, which
cancels the hubness bias that makes raw-cosine mining pick the same
"central" vectors for everything. Pairs whose margin clears a
threshold, taking each source's best target, are the mined alignment
— the standard pipeline for harvesting parallel/paired training data
from two embedded corpora (bitext, caption-image, doc-translation).

Scale design: candidates come from an IVF grid equi-join (both sides
assigned to coarse cells with the SAME quantizer; pairs only form
within a cell), never an all-pairs cartesian — the identical
cell-pruning posture as the IVF top-k family, with the identical
recall caveat (cross-cell true pairs are missed; raise n_probe /
centroid count to trade cost for recall). Neighbor averages fold over
SORTED cosine arrays (deterministic left fold), so every number is
bit-replayable cross-engine and the whole mining run sits under a
value oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.similarity import (
    _pair_dot,
    ivf_assign,
    norm,
)
from pyspark_unload_to_gcs_spark.session import barrier


def _topk_avg(cos_list: Column, k: int) -> Column:
    """Average of the k largest cosines, folded LEFT-TO-RIGHT over the
    descending-sorted slice — deterministic summation order, so the
    DuckDB oracle's list_reduce over the same sorted slice is
    bit-equal (an AVG over shuffle-ordered rows would drift in the
    last ulp run-to-run)."""
    top = F.slice(F.sort_array(cos_list, asc=False), 1, k)
    return F.aggregate(top, F.lit(0.0), lambda a, x: a + x) / F.size(top)


def margin_align_pairs(
    df: DataFrame,
    source: Column,
    target: Column,
    *,
    centroids: list[tuple[int, list[float]]],
    k: int = 4,
    margin_threshold: float = 1.0,
    mutual: bool = False,
    vec_column: str = "embedding",
    id_column: str = "vec_id",
    assign_method: str = "fold",
) -> DataFrame:
    """Mine aligned (source, target) pairs by ratio margin:

        margin(x, y) = cos(x, y) / ((avg_k(x) + avg_k(y)) / 2)

    where ``avg_k`` is the mean cosine of the row's k nearest
    within-cell candidates on the OTHER side. Emits each source's
    best-margin target (ties -> larger target id) with
    ``margin > margin_threshold``; ``mutual=True`` additionally
    requires the pair to be the target's best source too (CCMatrix's
    high-precision max-margin-mutual mode):

        (src_id, tgt_id, cos_r, margin_r)   -- rounded to 6 for output

    Plan: one narrow IVF assignment (``assign_method``: "fold" is the
    oracle-replayable default; "arrow" is the production matmul arm —
    same argmax tie rule, fixture-equivalence pinned in tests, the
    ivf_assign twin contract), one cell equi-join forming candidates,
    two small per-id aggregates (collect + sorted fold — one row per
    source/target id), broadcast back onto the pairs, one max_by per
    source. No cartesian product anywhere; candidate volume is sum
    over cells of |src_cell| x |tgt_cell|."""
    vec = F.col(vec_column).cast("array<double>")
    assigned = ivf_assign(
        df.select(F.col(id_column), vec.alias(vec_column)),
        centroids,
        vec_column=vec_column,
        method=assign_method,
    ).withColumn("__n", norm(F.col(vec_column)))
    src = assigned.filter(source).select(
        F.col(id_column).alias("src_id"),
        "ivf_cell",
        F.col(vec_column).alias("__va"),
        F.col("__n").alias("__na"),
    )
    tgt = assigned.filter(target).select(
        F.col(id_column).alias("tgt_id"),
        "ivf_cell",
        F.col(vec_column).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    # the pair-dot folds are the dominant cost and THREE branches
    # consume this frame (both kNN aggregates + the scored join) — one
    # barrier so the n²/cells candidate pass runs once, the Spark
    # analogue of the oracle's `pairs AS MATERIALIZED`. Lazy, so
    # building the query (plan screens, --explain) runs nothing.
    pairs = barrier(
        src.join(tgt, "ivf_cell").select(
            "src_id",
            "tgt_id",
            F.when(denom > 0, _pair_dot("__va", "__vb") / denom)
            .otherwise(F.lit(0.0))
            .alias("cos"),
        ),
        eager=False,
    )
    a = pairs.groupBy("src_id").agg(
        _topk_avg(F.collect_list("cos"), k).alias("__ax")
    )
    b = pairs.groupBy("tgt_id").agg(
        _topk_avg(F.collect_list("cos"), k).alias("__by")
    )
    # degenerate guard: a cell whose candidates are ALL mutually
    # orthogonal has zero kNN averages (and zero cos) — margin is
    # 0/0 there; define it as 0 (below any threshold) instead of
    # letting ANSI mode fail the job on the double division
    mdenom = (F.col("__ax") + F.col("__by")) / 2.0
    scored = (
        pairs.join(a, "src_id")
        .join(b, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "cos",
            F.when(mdenom != 0, F.col("cos") / mdenom)
            .otherwise(F.lit(0.0))
            .alias("margin"),
        )
    )
    best = (
        scored.groupBy("src_id")
        .agg(F.max(F.struct("margin", "tgt_id", "cos")).alias("__b"))
        .select(
            "src_id",
            F.col("__b.tgt_id").alias("tgt_id"),
            F.round(F.col("__b.cos"), 6).alias("cos_r"),
            F.round(F.col("__b.margin"), 6).alias("margin_r"),
            F.col("__b.margin").alias("__m"),
        )
    )
    if mutual:
        # CCMatrix max-margin MUTUAL criterion: keep (x, y) only when
        # x is also y's best-margin source (ties -> larger src id) —
        # the high-precision mode for mining into training data. One
        # extra aggregate over the scored pairs + a semi join on the
        # (<= |src|)-row best frame.
        best_of_tgt = (
            scored.groupBy("tgt_id")
            .agg(F.max(F.struct("margin", "src_id")).alias("__t"))
            .select("tgt_id", F.col("__t.src_id").alias("src_id"))
        )
        best = best.join(best_of_tgt, ["src_id", "tgt_id"], "left_semi")
    return best.filter(F.col("__m") > F.lit(float(margin_threshold))).drop("__m")


__all__ = ["margin_align_pairs"]
