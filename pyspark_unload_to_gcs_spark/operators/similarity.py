"""Approximate-nearest-neighbor / similarity search over an embedding
column (``array<float>``) — SURVEY.md §2l.

Two paths:

- ``cosine_topk``: brute-force exact top-k against one query vector.
  The dot product is a builtin ``F.zip_with`` + ``F.aggregate`` fold —
  JVM-side, no Python. Top-k = orderBy + limit, which Spark executes as
  TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  no global sort shuffle). This is the correctness baseline and is also
  the right plan for "score 100 TB of candidates against one query".

- ``lsh_bucketed_topk`` / ``ann_join``: random-hyperplane (sign) LSH —
  vectors land in sign-pattern buckets; the query only scans its bucket
  (and optionally multi-probe neighbors). This is the scale path for
  vector-vs-vector joins: candidate generation is an equality join on
  the bucket key, never O(n^2).

- ``embedding_near_dedup``: drop vectors whose cosine to an earlier
  vector exceeds a threshold, with LSH-bucketed candidates.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.pair_join import (
    blocked_pairs,
    drop_later,
    require_build,
)
from pyspark_unload_to_gcs_spark.operators.pick import top_per_key
from pyspark_unload_to_gcs_spark.session import barrier


def dot_literal(vec_col: Column, query: Sequence[float]) -> Column:
    """Dot product of a vector column with a Python-side query vector,
    as a single fused expression: sum_i vec[i]*q[i]. Left-to-right fold
    -> deterministic double result."""
    q = F.array(*[F.lit(float(x)) for x in query])
    return F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(vec_col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _pair_dot(a: str = "__va", b: str = "__vb") -> Column:
    """Per-candidate-pair dot product for the bucketed verify joins —
    the one HOF fold that must run per pair (norms are staged per row
    upstream; see ``_cosine_pairs``)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_to_query(vec_col: Column, query: Sequence[float]) -> Column:
    qn = math.sqrt(sum(float(x) * float(x) for x in query))
    denom = norm(vec_col) * F.lit(qn)
    return F.when(denom > 0, dot_literal(vec_col, query) / denom).otherwise(F.lit(0.0))


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    ensure_parallel: bool = True,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``. Ties broken by id
    ascending for deterministic output.

    ``ensure_parallel=False`` skips the partition-count probe — pass it
    when ``df`` is already known to be well-partitioned (the probe
    forces physical-plan materialization, which is not free on complex
    upstream plans)."""
    from pyspark_unload_to_gcs_spark.operators.dedup import ensure_parallelism

    if ensure_parallel:
        df = ensure_parallelism(df)
    scored = df.select(
        F.col(id_column),
        cosine_to_query(F.col(vec_column), query).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_column).asc()).limit(k)


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-based, seed-stable
    across runs/engines — no numpy RNG state dependence)."""
    planes = []
    state = seed & 0x7FFFFFFF or 1
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append(state / 0x40000000 - 1.0)  # uniform-ish [-1, 1)
        planes.append(row)
    return planes


def sign_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: bit b = sign(vec . plane_b). 2^len(planes) buckets."""
    bucket = F.lit(0)
    for b, plane in enumerate(planes):
        bit = F.when(dot_literal(vec_col, plane) >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def with_lsh_bucket(
    df: DataFrame,
    *,
    vec_column: str = "embedding",
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    bucket_column: str = "lsh_bucket",
) -> DataFrame:
    from pyspark_unload_to_gcs_spark.operators.dedup import ensure_parallelism

    # n_planes interpreted dot-folds per row: make sure a small single-
    # file scan doesn't serialize this onto one task (no-op at scale).
    # Build parameters ride along as column metadata (survives persist
    # and a parquet round-trip) so an index consumer can verify it was
    # bucketed with the plane family it assumes (ann_match_against_index).
    return ensure_parallelism(df).select(
        "*",
        sign_bucket(F.col(vec_column), _hyperplanes(dim, n_planes, seed)).alias(
            bucket_column, metadata={"dim": dim, "n_planes": n_planes, "seed": seed}
        ),
    )


def lsh_bucketed_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``probe_hamming`` bit flips of the query's bucket (multi-probe).
    At 1000x scale this scans ~ (probes/2^n_planes) of the corpus; the
    bucket column is precomputable + partitionable for repeated queries."""
    dim = len(query)
    planes = _hyperplanes(dim, n_planes, seed)
    q_bucket = 0
    for b, plane in enumerate(planes):
        if sum(float(a) * float(p) for a, p in zip(query, plane)) >= 0:
            q_bucket |= 1 << b
    bucketed = with_lsh_bucket(
        df, vec_column=vec_column, dim=dim, n_planes=n_planes, seed=seed
    )
    probe = F.bit_count(F.col("lsh_bucket").bitwiseXOR(F.lit(q_bucket))) <= probe_hamming
    return cosine_topk(
        bucketed.filter(probe),
        query,
        k,
        id_column=id_column,
        vec_column=vec_column,
        ensure_parallel=False,  # with_lsh_bucket already parallelized
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    vec_column: str = "embedding",
    cell_column: str = "ivf_cell",
    method: str = "fold",
) -> DataFrame:
    """Assign each vector to its nearest centroid (by dot product over
    L2-normalized centroids ~ cosine). ``centroids`` is a small
    driver-side list [(cell_id, vector)] — the coarse quantizer of a
    classic IVF index. One narrow map, no shuffle; the cell column is
    then the partition/cluster key for probing.

    ``method``:
    - ``"fold"`` (default): builtin fold-order-exact dot expressions,
      argmax via struct array_max (ties -> larger cell). Cross-engine
      replayable — every oracle-pinned query uses this path.
    - ``"arrow"``: one Arrow-batched pandas UDF computing all k dots as
      a single numpy matmul — k x dim x batch flops at BLAS speed
      instead of interpreted HOF evaluation (measured ~4x, 2.6 ->
      0.69 s, on the auto-k SemDeDup assignment at sf0.1/k=50; the gap
      widens with k, so this is the production path once k ~ sqrt(n)
      grows past a few dozen). Same tie rule (larger cell). Scores can
      differ from the fold path in the last ulp (different summation
      order), so argmax could in principle flip on an EXACT
      centroid-score tie — fixture-equivalence is pinned in tests;
      keep oracle-facing runs on "fold". PRECONDITION: every vector
      non-null with the centroids' dimension — the matmul can't
      represent NULL scores, so violations FAIL FAST with a clear
      error instead of silently diverging from the fold path's
      NULL-score semantics."""
    from pyspark_unload_to_gcs_spark.operators.dedup import ensure_parallelism

    if method not in ("fold", "arrow"):
        raise ValueError(
            f"ivf_assign: unknown method {method!r} (expected 'fold' or 'arrow')"
        )
    df = ensure_parallelism(df)
    units = []
    for _cell_id, vec in centroids:
        n = math.sqrt(sum(float(x) * float(x) for x in vec)) or 1.0
        units.append([float(x) / n for x in vec])

    meta = {"n_centroids": len(centroids)}
    if method == "arrow":
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        cell_ids = np.array([int(c) for c, _ in centroids], dtype=np.int64)
        cmat = np.array(units, dtype=np.float64)  # k x dim
        dim = cmat.shape[1]
        # columns ordered by ASCENDING cell id so "last argmax" = the
        # larger cell on ties, matching the fold path's struct max
        order = np.argsort(cell_ids, kind="stable")
        cell_ids_sorted = cell_ids[order]
        cmat_sorted = cmat[order]

        @pandas_udf("long")
        def _assign(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype="int64")
            if vecs.isna().any():
                raise ValueError(
                    "ivf_assign(method='arrow'): NULL embedding in batch — "
                    "the matmul path requires non-null fixed-dim vectors "
                    "(use method='fold' or filter/impute first)"
                )
            try:
                m = np.array(vecs.tolist(), dtype=np.float64)  # n x dim
            except ValueError as exc:
                raise ValueError(
                    "ivf_assign(method='arrow'): ragged embedding batch — "
                    "all vectors must share the centroids' dimension"
                ) from exc
            if m.ndim != 2 or m.shape[1] != dim:
                raise ValueError(
                    f"ivf_assign(method='arrow'): vectors have dim "
                    f"{m.shape[1] if m.ndim == 2 else 'mixed'}, centroids {dim}"
                )
            # isna() above only catches whole-NULL vectors; a NULL
            # ELEMENT inside a correct-length vector becomes NaN here
            # and would argmax into a silent arbitrary cell
            if np.isnan(m).any():
                raise ValueError(
                    "ivf_assign(method='arrow'): NULL/NaN element inside "
                    "an embedding — the matmul path requires fully non-null "
                    "vectors (use method='fold' or filter/impute first)"
                )
            scores = m @ cmat_sorted.T  # n x k
            rev = scores[:, ::-1]
            idx = scores.shape[1] - 1 - np.argmax(rev, axis=1)
            return pd.Series(cell_ids_sorted[idx])

        return df.select(
            "*", _assign(F.col(vec_column)).alias(cell_column, metadata=meta)
        )

    # Linear-size expression: one (score, cell) struct per centroid,
    # argmax via array_max (struct ordering: score first). A chained
    # when(cand > best, cand).otherwise(best) would DUPLICATE the whole
    # tree at every level — O(2^n_centroids) nodes, driver OOM at plan
    # build for n=16.
    cands = []
    for (cell_id, _vec), unit in zip(centroids, units):
        cands.append(
            F.struct(
                dot_literal(F.col(vec_column), unit).alias("score"),
                F.lit(cell_id).alias("cell"),
            )
        )
    # quantizer shape rides along as column metadata (survives persist
    # and a parquet round-trip) so an index consumer can verify the
    # index was assigned with the centroid family it assumes
    # (semantic_match_against_index) — same pattern as with_lsh_bucket.
    return df.select(
        "*",
        F.array_max(F.array(*cands))["cell"].alias(cell_column, metadata=meta),
    )


def ivf_centroids_from_sample(
    df: DataFrame,
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    n_centroids: int = 16,
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the ``n_centroids`` smallest-id
    vectors (bounded driver collect — an index-build parameter, like
    LSH planes). A k-means refinement is a drop-in upgrade; sampled
    seeds are the standard cheap start (IVF-Flat)."""
    rows = (
        df.select(F.col(id_column), F.col(vec_column))
        .orderBy(F.col(id_column).asc())
        .limit(n_centroids)
        .collect()
    )
    return [(i, [float(x) for x in r[1]]) for i, r in enumerate(rows)]


def ivf_centroids_kmeans(
    df: DataFrame,
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    n_centroids: int = 16,
    iterations: int = 3,
) -> list[tuple[int, list[float]]]:
    """Lloyd-refined coarse quantizer: sampled seeds, then
    assign (distributed, narrow map) -> per-cell mean (posexplode +
    groupBy(cell, dim) — one shuffle carrying (cell, dim, partial sums))
    -> new centroids (k x dim rows to the driver, an index-build
    parameter). Deterministic: seeds from smallest ids, ties stable.

    At 100 TB the assignment scan dominates and parallelizes linearly;
    the driver only ever holds k x dim floats.
    """
    centroids = ivf_centroids_from_sample(
        df, id_column=id_column, vec_column=vec_column, n_centroids=n_centroids
    )
    vecs = df.select(F.col(vec_column).alias("__v"))
    for _ in range(iterations):
        assigned = ivf_assign(vecs, centroids, vec_column="__v")
        means = (
            assigned.select("ivf_cell", F.posexplode("__v").alias("__dim", "__x"))
            .groupBy("ivf_cell", "__dim")
            .agg(F.avg(F.col("__x").cast("double")).alias("__m"))
            .groupBy("ivf_cell")
            .agg(F.map_from_arrays(F.collect_list("__dim"), F.collect_list("__m")).alias("__mm"))
            .collect()
        )
        new = dict(centroids)
        for r in means:
            mm = r["__mm"]
            new[r["ivf_cell"]] = [mm[i] for i in sorted(mm)]
        centroids = sorted(new.items())
    return centroids


def ivf_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    kmeans_iterations: int = 0,
) -> DataFrame:
    """IVF approximate top-k: exact cosine scan restricted to the
    ``n_probe`` cells whose centroids are closest to the query.
    ``kmeans_iterations > 0`` refines the sampled seeds with Lloyd
    rounds (better-balanced cells -> better recall per probe).

    At scale the assignment is precomputed once (``ivf_assign`` then
    write partitioned by cell); a query then reads only
    n_probe/n_centroids of the data — partition pruning does the work,
    which is exactly how a 100 TB vector corpus should be laid out."""
    if kmeans_iterations > 0:
        centroids = ivf_centroids_kmeans(
            df,
            id_column=id_column,
            vec_column=vec_column,
            n_centroids=n_centroids,
            iterations=kmeans_iterations,
        )
    else:
        centroids = ivf_centroids_from_sample(
            df, id_column=id_column, vec_column=vec_column, n_centroids=n_centroids
        )

    def unit_dot(vec: list[float]) -> float:
        n = math.sqrt(sum(x * x for x in vec)) or 1.0
        return sum(float(a) * x / n for a, x in zip(query, vec))

    probes = sorted(centroids, key=lambda c: -unit_dot(c[1]))[:n_probe]
    probe_ids = [c[0] for c in probes]
    assigned = ivf_assign(df, centroids, vec_column=vec_column)
    return cosine_topk(
        assigned.filter(F.col("ivf_cell").isin(probe_ids)),
        query,
        k,
        id_column=id_column,
        vec_column=vec_column,
        ensure_parallel=False,  # ivf_assign input already scanned; keep plan simple
    )


def _cosine_pairs(
    left: DataFrame, right: DataFrame, key: str, id_columns: tuple[str, str],
    ids: tuple[str, str], *, vec_column: str, threshold: float, ordered: bool,
) -> DataFrame:
    """The vector operators' blocked pair join: candidates share the
    one bucket or cell ``key`` each row carries, verified by exact
    cosine. Norms are staged per ROW on each join input (the projection
    stays on its side of the join), not recomputed per candidate PAIR —
    the per-pair verify is one interpreted HOF fold (the dot), not
    three. A row has one key, so a pair meets once and needs no
    de-duplication shuffle of array-carrying pair rows."""

    def side(frame: DataFrame, id_column: str, out: str, v: str, n: str) -> DataFrame:
        return frame.select(
            F.col(key),
            F.col(id_column).alias(out),
            F.col(vec_column).alias(v),
            norm(F.col(vec_column)).alias(n),
        )

    return blocked_pairs(
        side(left, id_columns[0], ids[0], "__va", "__na"),
        side(right, id_columns[1], ids[1], "__vb", "__nb"),
        key, ids=ids, ordered=ordered, score="cosine",
        value=_pair_dot() / (F.col("__na") * F.col("__nb")),
        keep=F.col("cosine") >= threshold,
    )


def ann_join(
    left: DataFrame,
    right: DataFrame,
    *,
    id_left: str = "vec_id",
    id_right: str = "vec_id",
    vec_column: str = "embedding",
    dim: int,
    n_planes: int = 8,
    cosine_threshold: float = 0.9,
    seed: int = 42,
) -> DataFrame:
    """All (left, right) pairs with cosine >= threshold, candidates from
    shared LSH buckets (equality join on bucket — shuffle on a small int
    key; never a cross join).

    Precondition: ids must be UNIQUE per input row on both sides — a
    row has one bucket and pairs are not de-duplicated, so duplicate-id
    inputs emit duplicate pairs.

    Self-join (``left is right``, the near-dedup case): the bucketed
    frame is materialized once (``session.barrier``) and reused for both
    join sides — the per-plane dot folds are interpreted HOF lambdas
    outside codegen, and without a barrier each plan branch would
    recompute them (2x the dominant cost; no exchange exists upstream
    to be reused). At very large scale prefer writing the bucketed
    frame to storage once and reading it for both sides — same barrier,
    executor-loss-safe."""
    lb = with_lsh_bucket(left, vec_column=vec_column, dim=dim, n_planes=n_planes, seed=seed)
    if right is left:
        lb = barrier(lb, eager=True)
        rb = lb
    else:
        rb = with_lsh_bucket(right, vec_column=vec_column, dim=dim, n_planes=n_planes, seed=seed)
    return _cosine_pairs(
        lb, rb, "lsh_bucket", (id_left, id_right), ("id_a", "id_b"),
        vec_column=vec_column, threshold=cosine_threshold, ordered=True,
    )


def embedding_near_dedup(
    df: DataFrame,
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    dim: int,
    cosine_threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Drop rows whose embedding is near-identical (cosine >= threshold)
    to an earlier (smaller-id) row."""
    pairs = ann_join(
        df,
        df,
        id_left=id_column,
        id_right=id_column,
        vec_column=vec_column,
        dim=dim,
        n_planes=n_planes,
        cosine_threshold=cosine_threshold,
        seed=seed,
    )
    return drop_later(df, pairs, id_column)


def semantic_cluster_dedup(
    df: DataFrame,
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    n_centroids: int | str = 16,
    cosine_threshold: float = 0.95,
    assign_method: str = "fold",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    2303.09540 — public): coarse k-means cells are the candidate
    blocks, exact cosine is computed only WITHIN a cell, and of every
    near-duplicate pair the larger id is dropped.

    This is the clustered alternative to the sign-LSH blocking in
    ``embedding_near_dedup``: LSH blocks by random hyperplane sign
    pattern (no training, fixed recall curve), SemDeDup blocks by
    learned density (cells follow the data, so near-identical points
    co-locate even when they straddle a hyperplane). The candidate join
    is an equality join on a small int cell key — shuffle on k values,
    never O(n^2).

    100 TB notes: cell assignment is one narrow map over the corpus
    (linear, no shuffle); the within-cell self-join shuffles on the
    cell id, so a skewed (dense) cell bounds the worst task — at fixed
    k the within-cell work is O(n^2/k) (measured x4.5 wall at x10 data
    with k=16, SCALE_AUDIT.md). Pass ``n_centroids="auto"`` to scale
    k = max(16, ceil(sqrt(n))): cells then grow as sqrt(n) and the
    within-cell pair mass as n^1.5 rather than n^2 (the classic IVF
    sizing), at the cost of one corpus count. Recursively re-cluster
    any remaining oversized cell. The assigned frame is materialized
    once (``session.barrier``) because the per-centroid dot folds are
    interpreted HOF lambdas: without a barrier both join branches would
    recompute the dominant assignment cost (see ann_join).

    ``assign_method="arrow"`` routes the assignment through the
    numpy-matmul pandas UDF (see ``ivf_assign``) — the production
    choice at auto-k scale where k x dim x n interpreted fold ops
    dominate; oracle-facing runs keep the default exact fold."""
    if n_centroids == "auto":
        n_centroids = max(16, math.isqrt(max(df.count() - 1, 0)) + 1)
    cents = ivf_centroids_from_sample(
        df, id_column=id_column, vec_column=vec_column, n_centroids=n_centroids
    )
    assigned = barrier(
        ivf_assign(df, cents, vec_column=vec_column, method=assign_method),
        eager=True,
    )
    pairs = _cosine_pairs(
        assigned, assigned, "ivf_cell", (id_column, id_column), ("id_a", "id_b"),
        vec_column=vec_column, threshold=cosine_threshold, ordered=True,
    )
    return drop_later(df, pairs, id_column)


def ann_match_against_index(
    new_df: DataFrame,
    index: DataFrame,
    *,
    id_new: str = "vec_id",
    id_index: str = "vec_id",
    vec_column: str = "embedding",
    dim: int,
    n_planes: int = 8,
    cosine_threshold: float = 0.95,
    seed: int = 42,
) -> DataFrame:
    """Incremental ANN: match a NEW batch of vectors against a
    previously bucketed vector ``index`` (the output of
    ``with_lsh_bucket``, typically written to parquet partitioned by
    ``lsh_bucket``). Returns (new_id, index_id, cosine) for every cross
    pair at or above the threshold whose vectors share an LSH bucket.
    Precondition: ids must be UNIQUE per row in both the batch and the
    index — duplicate-id inputs emit duplicate pairs.

    The embeddings twin of ``dedup.match_against_index``, and the
    production shape for continuous embedding ingestion at 100 TB: the
    corpus is bucketed ONCE when the index is written; each increment
    computes only its own bucket keys (a narrow map, ``n_planes`` dot
    folds per row) and equality-joins the index on the bucket key —
    with a bucket-partitioned index layout that join prunes to matching
    partitions and never rescans corpus vectors. Identical vectors
    share every bucket deterministically (seeded planes), so exact
    duplicates are always candidates; near-duplicates probe within one
    bucket (raise ``n_planes`` fidelity / add multi-probe for higher
    recall at threshold).

    If the index carries bucketing metadata (``with_lsh_bucket``
    attaches it), the caller's (dim, n_planes, seed) must match how the
    index was actually built — mismatched planes silently produce
    disjoint bucket spaces and zero recall.
    """
    require_build(
        index, "ann_match_against_index", "lsh_bucket", required=True,
        dim=dim, n_planes=n_planes, seed=seed,
    )
    newb = with_lsh_bucket(new_df, vec_column=vec_column, dim=dim, n_planes=n_planes, seed=seed)
    return _cosine_pairs(
        newb, index, "lsh_bucket", (id_new, id_index), ("new_id", "index_id"),
        vec_column=vec_column, threshold=cosine_threshold, ordered=False,
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization: per vector, scale =
    max(|v_i|)/127, stored as (qvec array<tinyint>, scale float) — a 4x
    storage/bandwidth cut for 100 TB embedding corpora, with max
    per-coordinate error scale/2 (≈0.4% of the vector's peak).

    Everything is builtin array expressions. The vector is staged as a
    column attribute before any lambda references it (HOF re-eval
    hazard — operators/dedup.py); the all-zero vector gets scale 0 and
    an all-zero qvec (dequantizes exactly)."""
    staged = df.select(F.col(id_column), F.col(vec_column).alias("__v"))
    v = F.col("__v")
    peak = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    staged = staged.select(id_column, "__v", (peak / F.lit(127.0)).alias("scale"))
    qvec = F.when(F.col("scale") == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))).otherwise(
        F.transform(v, lambda x: F.round(x.cast("double") / F.col("scale")).cast("tinyint"))
    )
    return staged.select(
        id_column, qvec.alias("qvec"), F.col("scale").cast("float").alias("scale")
    )


def dequantize_embeddings(
    df: DataFrame, *, id_column: str = "vec_id"
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: embedding_i ≈ qvec_i * scale
    (float array, ready for the exact-similarity operators)."""
    staged = df.select(F.col(id_column), F.col("qvec").alias("__q"), F.col("scale"))
    return staged.select(
        id_column,
        F.transform(F.col("__q"), lambda x: (x.cast("double") * F.col("scale")).cast("float")).alias(
            "embedding"
        ),
    )


def rrf_fuse(
    left: DataFrame,
    right: DataFrame,
    *,
    id_column: str,
    rank_column: str = "rank",
    k: int = 60,
    top_k: int = 10,
    query_column: str | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009
    — public) of two ranked candidate lists: score(id) = sum over lists
    of 1/(k + rank), a missing id contributing 0. The standard way to
    combine lexical (BM25) and vector (ANN) retrieval without score
    calibration — ranks, not raw scores, are fused, so the two sides
    can use incomparable scoring scales.

    Inputs are the top-N ranked lists (id, rank), both tiny (N rows)
    regardless of corpus size — the expensive retrieval has already cut
    to top-N, so the fusion join is a constant-size full-outer join.
    All arithmetic is exact-rational-in-double (1/(k+r) of integer
    ranks) with a fixed two-term addition order — reproducible across
    engines bit-for-bit.

    Output: (id, rank_left, rank_right, rrf) top_k by (rrf desc, id).

    ``query_column`` switches to BATCHED fusion — ``left``/``right``
    carry per-query ranked lists keyed by (query, id), ranks assigned
    within each query — and the fusion joins on both keys with the
    top_k cut taken PER QUERY (shuffle partitioned by the query key,
    each group bounded by the two top-N inputs, never a global sort).
    Output gains the query column AND a ``fused_rank`` column (the
    1-based position inside the per-query cut — the window that takes
    the cut already computed it, so consumers must not re-derive it
    with a second identical window). This is the
    retrieval-evaluation shape: M mined/labeled queries fused in one
    plan instead of M driver-looped single-query fusions."""
    keys = [id_column] if query_column is None else [query_column, id_column]
    l = left.select(*keys, F.col(rank_column).cast("long").alias("rank_left"))
    r = right.select(*keys, F.col(rank_column).cast("long").alias("rank_right"))
    fused = l.join(r, keys, "full_outer")
    contrib = F.coalesce(
        F.lit(1.0) / (F.lit(float(k)) + F.col("rank_left")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(float(k)) + F.col("rank_right")), F.lit(0.0))
    scored = fused.withColumn("rrf", contrib)
    if query_column is None:
        return (
            scored.orderBy(F.col("rrf").desc(), F.col(id_column).asc())
            .limit(top_k)
            .select(id_column, "rank_left", "rank_right", "rrf")
        )
    order = [F.col("rrf").desc(), F.col(id_column).asc()]
    return top_per_key(scored, [query_column], order, top_k, rank="fused_rank").select(
        query_column,
        id_column,
        "rank_left",
        "rank_right",
        "rrf",
        F.col("fused_rank").cast("long").alias("fused_rank"),
    )


def semantic_match_against_index(
    new_df: DataFrame,
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    id_new: str = "vec_id",
    id_index: str = "vec_id",
    vec_column: str = "embedding",
    cell_column: str = "ivf_cell",
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """Incremental SemDeDup: match a NEW batch of vectors against a
    previously cell-assigned semantic ``index`` (the output of
    ``ivf_assign``, typically written to parquet partitioned by
    ``ivf_cell``). Returns (new_id, index_id, cosine) for every cross
    pair at or above the threshold whose vectors share a quantizer
    cell. Precondition: ids must be UNIQUE per row in both the batch
    and the index — duplicate-id inputs emit duplicate pairs.

    The exact cosine of each joined pair is the codegen'd HOF dot
    (``_pair_dot``). An Arrow-batched verify arm was measured slower at
    ~63k pairs x 64 dims (1.97 s against 1.49 s quiet min: the
    JVM->Python boundary costs more than the fused fold) and removed.

    The clustered counterpart of ``ann_match_against_index``: the
    corpus is assigned ONCE when the index is written; each increment
    runs the (k dot folds per row) assignment over the batch only and
    equality-joins the index on the cell id — with a cell-partitioned
    index layout the join prunes to touched partitions and never
    rescans corpus vectors. Identical vectors produce identical
    per-centroid scores, so exact duplicates deterministically land in
    the index vector's cell; near-duplicates can straddle a cell
    boundary (probe neighboring cells / raise k for recall, as in any
    IVF index).

    The index's ``ivf_cell`` metadata (``ivf_assign`` attaches the
    centroid count) must match ``len(centroids)`` — an index assigned
    under a different quantizer is a disjoint cell space and every
    match would be silently missed."""
    require_build(
        index, "semantic_match_against_index", cell_column, required=True,
        n_centroids=len(centroids),
    )
    nb = ivf_assign(new_df, centroids, vec_column=vec_column, cell_column=cell_column)
    return _cosine_pairs(
        nb, index, cell_column, (id_new, id_index), ("new_id", "index_id"),
        vec_column=vec_column, threshold=cosine_threshold, ordered=False,
    )


# --------------------------------------------------------------------------
# Product quantization (IVF-PQ ANN compression; Jegou et al., TPAMI 2011)
# --------------------------------------------------------------------------


def pq_codebooks_from_sample(
    df: DataFrame,
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    m: int = 4,
    k: int = 16,
    seeds: list[tuple[int, list[float]]] | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks from the ``k`` smallest-id vectors'
    sub-slices — REUSES ``ivf_centroids_from_sample`` for the seeding
    collect (an index-build parameter, k*dim floats on the driver);
    pass ``seeds`` when the caller already collected coarse centroids
    of the same size so the composed IVF+PQ build runs ONE collect,
    not two identical ones. Returns m codebooks, each in
    ``ivf_assign`` centroid shape [(code, sub_vector)]. A Lloyd
    refinement per subspace is a drop-in upgrade via
    ``ivf_centroids_kmeans`` on the sliced frame; the oracled query
    stays on the sampled seeds its replay can reconstruct."""
    if seeds is None:
        seeds = ivf_centroids_from_sample(
            df, id_column=id_column, vec_column=vec_column, n_centroids=k
        )
    elif len(seeds) != k:
        raise ValueError(
            f"pq_codebooks_from_sample: {len(seeds)} seeds != k={k}"
        )
    if not seeds:
        raise ValueError("pq_codebooks_from_sample: empty input")
    vecs = [vec for _, vec in seeds]
    dim = len(vecs[0])
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [(j, vecs[j][s * sub : (s + 1) * sub]) for j in range(len(vecs))]
        for s in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    *,
    vec_column: str = "embedding",
    code_column: str = "pq_codes",
    method: str = "fold",
) -> DataFrame:
    """Encode vectors to ``m`` sub-space codes (array<long>): slice the
    vector, assign each slice to its nearest codebook entry through the
    SAME ``ivf_assign`` machinery (fold path = oracle-replayable,
    arrow path = BLAS production; identical tie rule). One narrow map,
    no shuffle; the m-byte-ish code row is what a 100 TB corpus stores
    instead of the full vector (dim x 4 bytes -> m codes)."""
    m = len(codebooks)
    sub = len(codebooks[0][0][1])
    out = df
    for s in range(m):
        out = out.withColumn(
            f"__pq_sub{s}", F.slice(F.col(vec_column), s * sub + 1, sub)
        )
        out = ivf_assign(
            out,
            codebooks[s],
            vec_column=f"__pq_sub{s}",
            cell_column=f"__pq_c{s}",
            method=method,
        )
    out = out.withColumn(
        code_column, F.array(*[F.col(f"__pq_c{s}") for s in range(m)])
    )
    return out.drop(
        *[f"__pq_sub{s}" for s in range(m)], *[f"__pq_c{s}" for s in range(m)]
    )


def pq_topk(
    df: DataFrame,
    query,
    k: int = 10,
    *,
    codebooks: list[list[tuple[int, list[float]]]],
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    code_column: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k: the full-precision
    query scores every code row through per-subspace lookup tables —
    ``score = (sum_s lut_dot[s][code_s]) / (|q| * sqrt(sum_s
    lut_ss[s][code_s]))``, i.e. exact cosine against the RECONSTRUCTED
    vector. The LUTs (m x k floats) are computed driver-side and baked
    in as literal arrays, so scoring is m ``element_at`` lookups plus
    a fixed-order sum — whole-stage codegen, no vector math per row,
    and cross-engine replayable (explicit left-associated addition
    chain; DuckDB recomputes the same LUT values from the codebook
    literals). Top-k via orderBy+limit = TakeOrderedAndProject.

    At 100 TB: encode once, store codes (32x smaller than fp32 at
    m=4/dim=64), scan codes only — the memory-bandwidth win is the
    point of PQ; IVF cells + PQ codes compose (encode the assigned
    frame, prune cells first)."""
    import math

    q = [float(x) for x in query]
    m = len(codebooks)
    sub = len(codebooks[0][0][1])
    if len(q) != m * sub:
        raise ValueError(f"pq_topk: query dim {len(q)} != {m * sub}")
    qnorm = math.sqrt(sum(x * x for x in q)) or 1.0

    lut_dot: list[list[float]] = []
    lut_ss: list[list[float]] = []
    for s in range(m):
        qs = q[s * sub : (s + 1) * sub]
        by_code = dict()
        for code, c in codebooks[s]:
            by_code[int(code)] = (
                sum(a * b for a, b in zip(qs, c)),
                sum(x * x for x in c),
            )
        codes_sorted = sorted(by_code)
        if codes_sorted != list(range(len(codes_sorted))):
            raise ValueError("pq_topk: codebook codes must be 0..k-1")
        lut_dot.append([by_code[j][0] for j in codes_sorted])
        lut_ss.append([by_code[j][1] for j in codes_sorted])

    # a frame that already carries ``code_column`` is used as-is — the
    # encode-once-query-many index pattern (the caller persists the
    # encoded corpus once per session; repeated queries scan codes)
    enc = (
        df
        if code_column in df.columns
        else pq_encode(df, codebooks, vec_column=vec_column, code_column=code_column)
    )
    code_at = lambda s: F.element_at(F.col(code_column), s + 1).cast("int") + 1  # noqa: E731
    dot_expr = F.element_at(F.array(*[F.lit(v) for v in lut_dot[0]]), code_at(0))
    ss_expr = F.element_at(F.array(*[F.lit(v) for v in lut_ss[0]]), code_at(0))
    for s in range(1, m):
        dot_expr = dot_expr + F.element_at(
            F.array(*[F.lit(v) for v in lut_dot[s]]), code_at(s)
        )
        ss_expr = ss_expr + F.element_at(
            F.array(*[F.lit(v) for v in lut_ss[s]]), code_at(s)
        )
    recon_norm = F.sqrt(ss_expr)
    score = F.when(recon_norm == 0.0, F.lit(0.0)).otherwise(
        dot_expr / (F.lit(qnorm) * recon_norm)
    )
    return (
        enc.select(F.col(id_column), score.alias("pq_score"))
        .orderBy(F.desc("pq_score"), F.col(id_column).asc())
        .limit(k)
    )


# --------------------------------------------------------------------------
# On-disk IVF-PQ index maintenance
# --------------------------------------------------------------------------


def pq_index_write(
    df: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    cell_column: str = "ivf_cell",
    code_column: str = "pq_codes",
) -> None:
    """Materialize an IVF-PQ index on disk: coarse-assign + PQ-encode
    the corpus and write ONLY (id, cell, codes) as parquet partitioned
    by the cell — the 100 TB layout. The index stores m small ints per
    vector instead of dim floats (32x smaller at m=4/dim=64/fp32), a
    query prunes to probed cell partitions via partition pruning, and
    the full vectors stay in the source table, never in the index."""
    enc = pq_encode(
        ivf_assign(df, centroids, vec_column=vec_column, cell_column=cell_column),
        codebooks,
        vec_column=vec_column,
        code_column=code_column,
    )
    # Cluster by cell before the partitioned write (guide §6: hash
    # distribution before a partitionBy avoids the many-small-files
    # problem at the cost of one shuffle — and the shuffled rows are
    # the 32x-compressed codes, never vectors). Without it each of the
    # encoder's input partitions leaves a file in EVERY cell dir
    # (measured: ~20 files x ~1 KB per cell at fixture scale, ~320
    # footers for the serving row to re-read per query).
    (
        enc.select(id_column, cell_column, code_column)
        .repartition(F.col(cell_column))
        .write.mode("overwrite")
        .partitionBy(cell_column)
        .parquet(path)
    )


def pq_index_append(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    *,
    id_column: str = "vec_id",
    vec_column: str = "embedding",
    cell_column: str = "ivf_cell",
    code_column: str = "pq_codes",
    method: str = "fold",
    compact: bool = False,
) -> int:
    """Incrementally maintain an on-disk IVF-PQ index: assign + encode
    ONLY the new batch (never rescans the corpus), then either

    - ``compact=False`` (default): append the encoded rows into their
      cell partitions — one narrow write, untouched cells are never
      read or written; or
    - ``compact=True``: rewrite the TOUCHED cells as single compacted
      partitions (old rows in those cells + the batch), staged through
      a ``__compact_tmp`` subdirectory because Spark cannot overwrite a
      path it is concurrently reading, then dynamic-partition-overwrite
      back — only partitions present in the staged data are replaced,
      so untouched cells keep their files byte-identical. This is the
      small-file compaction path for high-frequency append streams.

    Returns the number of touched cells. The quantizer (centroids +
    codebooks) must be the one the index was built with — same
    contract as ``semantic_match_against_index``; PQ codebooks are
    frozen at build time and appends re-use them (re-TRAINING the
    quantizer is a rebuild, not an append)."""
    enc = pq_encode(
        ivf_assign(
            new_df, centroids, vec_column=vec_column, cell_column=cell_column, method=method
        ),
        codebooks,
        vec_column=vec_column,
        code_column=code_column,
        method=method,
    ).select(id_column, cell_column, code_column)
    # bounded collect: one small int per touched cell, <= n_centroids
    touched = sorted(
        r[0] for r in enc.select(cell_column).distinct().collect()
    )
    if not touched:
        return 0
    if not compact:
        (
            enc.write.mode("append").partitionBy(cell_column).parquet(path)
        )
        return len(touched)
    # unique staging suffix per call: a crashed run's leftovers can
    # never be confused with (or collide with) live staging data
    import uuid as _uuid

    tmp = path.rstrip("/") + f"__compact_tmp_{_uuid.uuid4().hex[:12]}"
    old = spark.read.parquet(path).filter(F.col(cell_column).isin(touched))
    # compaction IS the small-file fix — cluster by cell so each
    # touched cell compacts to one file per task (same §6 rationale as
    # the base write; the non-compact append path stays shuffle-free
    # because a per-arrival micro-append should not pay an exchange)
    (
        old.unionByName(enc)
        .repartition(F.col(cell_column))
        .write.mode("overwrite")
        .partitionBy(cell_column)
        .parquet(tmp)
    )
    staged = spark.read.parquet(tmp)
    (
        staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(cell_column)
        .parquet(path)
    )
    # the dynamic-partition overwrite above is fully materialized —
    # drop the staging copy so high-frequency append streams don't
    # accumulate a full copy of the touched cells per compaction
    # through storage.delete, so object-store URIs work too
    from pyspark_unload_to_gcs_spark.storage import delete

    delete(tmp, recursive=True)
    return len(touched)


def ivf_drift_report(
    df: DataFrame,
    old_centroids: list[tuple[int, list[float]]],
    new_centroids: list[tuple[int, list[float]]],
    *,
    vec_column: str = "embedding",
) -> DataFrame:
    """Index-rebuild pre-flight for the IVF/IVF-PQ family: how STALE is
    a cell-partitioned index built with ``old_centroids`` relative to a
    candidate quantizer ``new_centroids``? One row:

      (n_vectors, n_moved, moved_ppm, max_cell_share_ppm_old,
       max_cell_share_ppm_new)

    ``n_moved`` counts vectors whose argmax cell differs between the
    two quantizers — the fraction of the index a rebuild would
    physically rewrite AND the recall-decay proxy (a probe targets
    cells chosen by the new geometry; vectors filed under the old one
    are the ones it misses). The max-cell occupancy shares (parts per
    million, exact integers) expose quantizer skew — a hot cell is a
    hot partition at serve time. Plan: two narrow assignment maps over
    one scan of the vectors (ONLY the vector column rides through
    them), one bounded (<= cells) aggregate, no data shuffle beyond
    it; all-integer output — an empty input yields an all-zero row,
    never NULLs or a division error — so the report is
    value-oracle-able cross-engine."""
    both = ivf_assign(
        df.select(F.col(vec_column).cast("array<double>").alias(vec_column)),
        old_centroids,
        vec_column=vec_column,
        cell_column="__old_cell",
    )
    both = ivf_assign(
        both,
        new_centroids,
        vec_column=vec_column,
        cell_column="__new_cell",
    )
    cells = both.select("__old_cell", "__new_cell")
    counts = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.coalesce(
            F.sum(
                F.when(F.col("__old_cell") != F.col("__new_cell"), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_moved"),
    )
    occ_old = (
        cells.groupBy("__old_cell")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("__mx_old"))
    )
    occ_new = (
        cells.groupBy("__new_cell")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("__mx_new"))
    )

    def _ppm(num):
        return (
            F.when(
                F.col("n_vectors") > 0,
                F.floor(num * 1_000_000 / F.col("n_vectors")),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    return (
        counts.join(F.broadcast(occ_old))
        .join(F.broadcast(occ_new))
        .select(
            "n_vectors",
            "n_moved",
            _ppm(F.col("n_moved")).alias("moved_ppm"),
            _ppm(F.col("__mx_old")).alias("max_cell_share_ppm_old"),
            _ppm(F.col("__mx_new")).alias("max_cell_share_ppm_new"),
        )
    )
