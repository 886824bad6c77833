"""The blocked pair join every near-duplicate operator shares: the
filter-and-refine split (candidate pairs from a cheap block key, then an
exact score on the candidates only), written once.

Each operator keeps its own blocking projection (MinHash band keys,
SimHash chunks, FastSS deletion variants, aHash byte bands, sign-LSH
buckets, IVF cells) and its own exact score (Jaccard, Hamming,
Levenshtein, cosine); the equi-join on the key, the pair predicate, the
pair de-duplication, the verify and the threshold live here, next to
the "drop the later id" anti-join and the index build-parameter check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def blocked_pairs(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    *,
    ids: tuple[str, str] = ("id_a", "id_b"),
    ordered: bool = True,
    multi_key: bool = False,
    min_shared: int = 1,
    attach: tuple[DataFrame, DataFrame] | None = None,
    score: str,
    value: Column,
    keep: Column,
) -> DataFrame:
    """Verified ``(ids[0], ids[1], score)`` pairs of rows that share a
    block key. The join shuffles on the key only, so the work is linear
    in the candidates, never ``|left| x |right|``.

    ``left`` carries ``on`` and ``ids[0]``, ``right`` carries ``on`` and
    ``ids[1]``; any other column is payload that ``value`` reads, carried
    through the key join. An id names one document (or vector) per side.

    - ``ordered=True`` (self pairs): keep ``ids[0] < ids[1]``, so each
      unordered pair comes out once and no row pairs with itself.
      ``ordered=False`` (a batch against an index): keep
      ``ids[0] != ids[1]``.
    - ``multi_key``: a row carries several keys (exploded bands,
      deletion variants), so one pair can meet in several keys; the
      candidates are de-duplicated on the two ids before the verify.
      With ``min_shared > 1`` a pair must instead meet in at least that
      many keys (the collision count is free from the join; the count
      keeps only the ids, so the score reads ``attach`` columns).
      Without ``multi_key`` each row has one key and a pair meets once,
      so no de-duplication shuffle runs.
    - ``attach``: ``(a, b)`` frames keyed by ``ids[0]`` / ``ids[1]``
      joined to the distinct candidates only, for payload (shingle
      arrays, texts) too wide to carry through the key join.
    - ``value`` is the exact score, named ``score``; ``keep`` is the
      threshold predicate over it.
    """
    a, b = ids
    keys = [on] if isinstance(on, str) else list(on)
    cand = left.join(right, on).filter(
        F.col(a) < F.col(b) if ordered else F.col(a) != F.col(b)
    )
    if multi_key:
        payload = [c for c in cand.columns if c not in (*keys, a, b)]
        cand = cand.select(a, b, *payload)
        if min_shared > 1:
            cand = (
                cand.groupBy(a, b)
                .agg(F.count(F.lit(1)).alias("__nb"))
                .filter(F.col("__nb") >= min_shared)
                .select(a, b)
            )
        else:
            cand = cand.dropDuplicates([a, b])
    if attach is not None:
        cand = cand.join(attach[0], a).join(attach[1], b)
    return cand.withColumn(score, value).filter(keep).select(a, b, score)


def drop_later(df: DataFrame, pairs: DataFrame, id_column: str) -> DataFrame:
    """``df`` without the later id (``id_b``) of every pair: the earliest
    id of a duplicate group survives. This is the one-pass policy, not a
    transitive closure (``graph.connected_components`` resolves that)."""
    losers = pairs.select(F.col("id_b").alias(id_column)).distinct()
    return df.join(losers, on=id_column, how="left_anti")


def require_build(
    frame: DataFrame, caller: str, *columns: str, required: bool = False, **expected: int
) -> None:
    """Refuse ``frame`` at plan time when the build parameters stored in
    a column's metadata contradict ``expected``. Index builders
    (``dedup.signature_frame``, ``similarity.with_lsh_bucket``,
    ``similarity.ivf_assign``) attach them; metadata survives a barrier
    and a parquet footer, but not a ``partitionBy`` directory column, so
    a missing key is not an error. Keys built under other parameters
    land in other buckets, and every match across them would be missed
    without a sign. ``required`` also refuses a frame that lacks one of
    ``columns``."""
    for column in columns:
        if column not in frame.columns:
            if required:
                raise ValueError(f"{caller}: index lacks the {column!r} column")
            continue
        meta = frame.schema[column].metadata or {}
        for p, v in expected.items():
            if p in meta and int(meta[p]) != v:
                raise ValueError(
                    f"{caller}: {column} was built with {p}={int(meta[p])} but the "
                    f"call assumes {p}={v}; the bucket spaces would be disjoint and "
                    "every match silently missed. Rebuild the index or pass the "
                    "parameters it was built with."
                )
