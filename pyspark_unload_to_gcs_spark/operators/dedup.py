"""Deduplication operators for training-data pipelines (SURVEY.md §2l).

Five tiers, all designed shuffle-light for 100 TB corpora:

- exact:       hash-groupBy on the raw (or normalized) content key. One
               shuffle on a short hash, partial map-side min for the
               keeper id.
- minhash_lsh: word-shingles -> k-minhash signature (builtin xxhash64,
               JVM-side) -> banded LSH bucket join. Candidate pairs only
               where a band collides (explode -> groupBy band key);
               verified with exact Jaccard before dropping. This is the
               standard MinHash+LSH banding construction (Broder 1997 /
               MMDS ch.3) expressed in DataFrame ops.
- simhash:     64-bit simhash from token hashes, computed with a
               vectorized Pandas UDF (bit arithmetic over 64 positions
               is not expressible efficiently in builtin columns);
               near-dups = identical simhash band keys + hamming check.
- ngram_jaccard: exact Jaccard over word n-gram sets for candidate
               pairs from LSH buckets (no quadratic blow-up).
- embedding:   cosine near-dup over embedding vectors — see
               operators/similarity.py for the bucketed join.

Dedup policy everywhere: the *earliest* id in a duplicate group is the
canonical survivor (deterministic, oracle-checkable).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.pair_join import (
    blocked_pairs,
    drop_later,
    require_build,
)
from pyspark_unload_to_gcs_spark.operators.pick import top_per_key
from pyspark_unload_to_gcs_spark.operators.text import normalize_text, tokens_col
from pyspark_unload_to_gcs_spark.session import barrier


# Analyzed-plan node names that keep the df.rdd partition probe cheap: a
# scan plus narrow row-level ops. Anything else (Join/Aggregate/Window/
# Generate/...) means the probe would plan — and, while a cached branch
# of the same plan is being built, possibly execute — the whole subtree.
_NARROW_PLAN_NODES = frozenset(
    {
        "LogicalRelation",
        "LogicalRDD",
        "Project",
        "Filter",
        "SubqueryAlias",
        "View",
        "GlobalLimit",
        "LocalLimit",
        "Repartition",
        "RepartitionByExpression",
        # union of scans: the cross-side parity trick (fuzzy_text_join)
        # feeds a two-scan union into the expensive signature stage
        "Union",
    }
)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the scan has fewer partitions than the
    cluster has cores (e.g. one small local parquet file — typically a
    single row group, which no scan-split setting can parallelize). At
    real scale the source already has >= cores partitions and this is a
    no-op — no shuffle is added. Used ahead of per-row-expensive map
    stages so a single-file input doesn't serialize onto one task.

    Safety: the partition-count probe (``df.rdd``) forces physical
    planning of the frame, which is only acceptable on a simple scan.
    If the analyzed plan contains anything wider than scan/project/
    filter, the probe is skipped and ``df`` is returned unchanged —
    a complex plan has shuffles of its own, so its parallelism is set
    by ``spark.sql.shuffle.partitions``, not the input layout.

    The gate WALKS the JVM logical-plan tree by node class name (a
    parse of the rendered tree string reads bogus tokens from string
    literals that contain newlines, which would silently disable the
    repartition), INCLUDING expression-held subquery plans
    (``subqueries()``): an IN/scalar subquery's Aggregate/Join lives
    inside the expression, not in ``children()``, and the probe would
    plan that whole subtree too."""
    target = df.sparkSession.sparkContext.defaultParallelism
    nodes: set[str] = set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        nodes.add(node.nodeName())
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.length()):
                stack.append(seq.apply(i))
    if not nodes <= _NARROW_PLAN_NODES:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def content_key(
    key_columns: list[str],
    *,
    normalize: bool = False,
) -> Column:
    """NULL-safe 32-byte content identity (md5) over one or more
    columns — the shared shuffle/join key for ``exact_dedup`` and the
    split-leakage audit. Each part encodes as ``\\x00`` (NULL) or
    ``\\x01`` + value BEFORE the ``\\x1f`` join: a bare ``concat_ws``
    silently skips NULL parts, which would key ('x', NULL) and
    (NULL, 'x') — and NULL vs '' — identically, merging rows that
    share no content. ``normalize=True`` keys on the normalized form
    of each (string) column instead of raw bytes."""
    keys = []
    for c in key_columns:
        col = F.col(c)
        p = normalize_text(col) if normalize else col
        keys.append(
            F.when(col.isNull(), F.lit("\x00")).otherwise(
                F.concat(F.lit("\x01"), p.cast("string"))
            )
        )
    return F.md5(F.concat_ws("\x1f", *keys))


def exact_dedup(
    df: DataFrame,
    key_columns: list[str],
    order_column: str,
    *,
    normalize: bool = False,
) -> DataFrame:
    """Keep one row per distinct key: the one with the smallest
    ``order_column`` (deterministic, unlike ``dropDuplicates``).

    ``normalize=True`` dedups on the normalized form of each (string)
    key column instead of raw bytes.

    Scale: row_number over a window partitioned by the key = one hash
    shuffle on the key columns. For very hot keys (the classic empty-
    document skew), AQE skew handling splits the partition; a
    ``F.md5``-of-key pre-projection keeps shuffle rows narrow when the
    key is a long text column.
    """
    # hash the (possibly long) key so the shuffle carries 32 bytes, not
    # the full document text; content_key's NULL-flag encoding keeps
    # NULL distinct from '' and from a skipped column
    key = content_key(key_columns, normalize=normalize)
    return top_per_key(df, [key], [F.col(order_column).asc()])


# ---------------------------------------------------------------------------
# shingles + minhash signatures (builtin expressions only)
# ---------------------------------------------------------------------------


def token_hashes(text: Column) -> Column:
    """64-bit hash per token of the normalized text (xxhash64, JVM-side)."""
    return F.transform(tokens_col(normalize_text(text)), lambda t: F.xxhash64(t))


def shingle_hashes_from_token_hashes(th: Column, n: int = 3) -> Column:
    """Distinct 64-bit shingle identities from a token-hash array, built
    WITHOUT materializing shingle strings: hash the n consecutive token
    hashes per position (xxhash64 over an n-tuple of longs). The Jaccard
    over these hash sets equals the Jaccard over string shingles up to
    negligible 64-bit collisions.

    PERFORMANCE CONTRACT: ``th`` must be a *materialized column
    attribute* (a plain ``F.col``), never a nested expression tree.
    Higher-order-function lambdas are evaluated per array element
    outside whole-stage codegen, so any expression referenced inside
    the lambda is re-evaluated per element — a nested token-hash
    pipeline here costs O(tokens^2) normalize+hash work per row
    (measured 25x slowdown at sf0.1). Stage projections instead:
    select token_hashes() into a column first, then call this.
    """
    k = F.size(th)
    grams = F.transform(
        F.sequence(F.lit(1), k - (n - 1)),
        lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(n)]),
    )
    # short docs (< n tokens): single shingle over all token hashes
    short = F.array(F.xxhash64(F.concat_ws(",", F.transform(th, lambda h: h.cast("string")))))
    return F.array_distinct(
        F.when(k >= n, grams).otherwise(F.when(k > 0, short).otherwise(F.array().cast("array<bigint>")))
    )


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """One-expression convenience form of
    ``token_hashes`` -> ``shingle_hashes_from_token_hashes``.

    WARNING: fine for tests/small frames, but in hot paths use the
    staged two-projection form (see performance contract above) —
    this nests the token pipeline inside a lambda and re-evaluates it
    per gram position."""
    return shingle_hashes_from_token_hashes(token_hashes(text), n)


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mix (public splitmix64 constants) for
    generating per-seed XOR masks Python-side."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _to_signed64(x: int) -> int:
    return x - (1 << 64) if x >= 1 << 63 else x


def _xor_mask_fn(mask: int):
    """One-argument transform lambda XORing elements with ``mask``.

    Deliberately built via closure, NOT ``lambda h, m=mask: ...``:
    PySpark dispatches higher-order-function lambdas on PARAMETER COUNT,
    and a two-parameter lambda (defaults included) is called as
    ``(element, index)`` — the default is silently overridden with the
    array position. Every signature slot would then XOR with its
    element index instead of its per-slot mask, collapsing the 32-hash
    min-wise family into one position-sensitive hash repeated 32 times
    (an r=1-banding oracle query shows it as an impossible LSH miss)."""
    return lambda h: h.bitwiseXOR(F.lit(mask))


def minhash_signature(shingle_hashes: Column, num_hashes: int = 32) -> Column:
    """k-minhash signature over pre-hashed shingles: permutation s is
    ``h XOR mask_s`` (a bijection on 64-bit values — the standard cheap
    min-wise family), so the base hash is computed ONCE per shingle and
    each signature slot is just an XOR + array_min pass. Bitwise ops
    cannot overflow, so this is safe under ANSI mode."""
    masks = [_to_signed64(_splitmix64(s)) for s in range(num_hashes)]
    return F.array(
        *[F.array_min(F.transform(shingle_hashes, _xor_mask_fn(m))) for m in masks]
    )


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Split the signature into ``bands`` bands of ``rows_per_band`` and
    hash each band -> array of band bucket keys (band index baked in so
    buckets from different bands never collide)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(
            b, F.concat_ws(",", F.transform(
                F.slice(signature, b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ))
        ),
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_signatures(
    df: DataFrame,
    id_column: str,
    text_column: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """The band-free signature core: (__id, __sh shingle-hash array,
    __sig minhash signature) per document — one narrow map, no shuffle.

    Banding is derived later (``lsh_band_keys``) and is cheap relative
    to shingling+signing, so ONE materialized signature frame serves
    every band configuration: 8-band standard dedup and 16-band
    high-recall n-gram dedup re-band the same cached signatures instead
    of re-shingling the corpus (at 100 TB: store signatures once,
    choose the precision/recall operating point per query).

    Same staging and MATERIALIZATION CONTRACT as ``signature_frame``
    (see below): pass it through ``session.barrier`` or write it to
    parquet before branching consumers, or CollapseProject refolds the
    staged HOFs."""
    return (
        ensure_parallelism(df.select(F.col(id_column).alias("__id"), F.col(text_column)))
        .select("__id", token_hashes(F.col(text_column)).alias("__th"))
        .select("__id", shingle_hashes_from_token_hashes(F.col("__th"), shingle_n).alias("__sh"))
        .select(
            "__id",
            "__sh",
            minhash_signature(F.col("__sh"), num_hashes).alias(
                # build parameters ride along as column metadata (survives
                # a barrier AND a parquet round-trip via Spark's footer
                # schema), so a consumer re-banding a stored index can
                # verify it was built with the parameters it assumes
                "__sig",
                metadata={"num_hashes": num_hashes, "shingle_n": shingle_n},
            ),
        )
    )


def _rows_per_band(
    num_hashes: int, bands: int, min_matching_bands: int = 1, *, caller: str
) -> int:
    """Signature rows per LSH band, refusing a banding that cannot work:
    with ``bands > num_hashes`` every band slices zero hashes, so every
    document gets the same band key and the candidate join turns
    all-pairs; ``min_matching_bands`` above ``bands`` keeps no pair."""
    if not 1 <= bands <= num_hashes:
        raise ValueError(f"{caller}: bands={bands} must be in 1..num_hashes={num_hashes}")
    if not 1 <= min_matching_bands <= bands:
        raise ValueError(
            f"{caller}: min_matching_bands={min_matching_bands} must be in 1..bands={bands}"
        )
    return num_hashes // bands


def signature_frame(
    df: DataFrame,
    id_column: str,
    text_column: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The LSH signature projection: (__id, __sh shingle-hash array,
    __bands band-key array) per document — one narrow map, no shuffle.

    This IS the persistable "signature index" for incremental dedup:
    write it once for the base corpus, and each new increment only
    computes its own signatures and joins band keys against the stored
    index (``match_against_index``) — the base corpus text is never
    re-shingled. Staged projections (NOT one nested expression): each
    heavy array becomes a real column attribute before any lambda
    references it, so it is computed once per row (collapsing these
    into one select re-evaluates the token pipeline per gram position —
    see shingle_hashes_from_token_hashes docstring; 25x at sf0.1).
    Band keys fold in before any barrier because the raw signature has
    no other consumer (rows carry `bands` longs, not `num_hashes`).

    MATERIALIZATION CONTRACT: consume this frame only through a barrier
    — write it to parquet, or pass it through ``session.barrier`` —
    before branching joins reference it. The staged projections above
    survive only until the optimizer runs: without a barrier, CollapseProject refolds them
    into nested HOF lambdas and the per-element re-evaluation blowup
    returns (observed as a hang, not just 25x, when the index side of
    ``match_against_index`` was left unmaterialized).
    ``minhash_candidate_pairs`` and ``match_against_index`` apply the
    barrier internally for the frames they create; raw callers must do
    it themselves."""
    rows_per_band = _rows_per_band(num_hashes, bands, caller="signature_frame")
    return minhash_signatures(
        df, id_column, text_column, shingle_n=shingle_n, num_hashes=num_hashes
    ).select(
        "__id",
        "__sh",
        lsh_band_keys(F.col("__sig"), bands, rows_per_band).alias(
            "__bands",
            metadata={"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n},
        ),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_column: str,
    text_column: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.8,
    signatures: DataFrame | None = None,
    min_matching_bands: int = 1,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) whose exact shingle
    Jaccard >= threshold, found via banded MinHash LSH.

    Plan shape (scales to 100 TB):
      1. narrow map: shingle + signature + band keys per doc (no shuffle)
      2. explode band keys -> shuffle on band bucket (short key)
      3. self-join within bucket -> candidate pairs only
      4. exact Jaccard verify on the pair (shingle arrays carried only
         for candidates; for very large corpora carry a shingle *hash*
         array instead of strings — done here via xxhash64)

    ``signatures``: an already-MATERIALIZED ``minhash_signatures`` frame
    (``session.barrier`` output or parquet-read) to re-band instead of
    re-shingling — pass it when several band/threshold configurations run over the
    same corpus in one session.

    ``min_matching_bands``: keep only pairs colliding in at least this
    many bands before the (expensive, array-carrying) exact verify.
    The band-collision count is a free by-product of the bucket join,
    and for a pair at Jaccard J each band collides with probability
    J^rows_per_band — so at the r=1 operating point (bands ==
    num_hashes, used for exactness-oracle queries) a J>=0.8 pair
    matches Binomial(32, >=0.8) slots: P(< 12) < 1e-9, while the flood
    of moderate-similarity pairs (J~0.2: mean 6.4 matching slots) is
    eliminated before it ever touches shingle arrays. Measured at
    sf0.1: 269k candidates -> 256 with min_matching_bands=12, same
    final pair set. Leave at 1 for standard multi-row bands, where a
    single collision is already the designed signal.

    ``bucket_cap``: drop band buckets holding more than this many docs
    before the self-join — the production lever for SHARED-VOCABULARY
    corpus growth, where a popular low-hash shingle becomes the band
    minimum for a corpus-proportional set of docs and that one bucket's
    B*(B-1)/2 pair enumeration goes quadratic (measured: max r=1
    bucket 23 at 5k docs -> 13,366 at 50k same-vocabulary docs; see
    SCALE_AUDIT.md). Recall cost is explicit and bounded: a J-pair is
    missed only if EVERY band it collides in is capped —
    P(miss) <= (1 - J^rows_per_band * (1 - cap_fraction))^bands in the
    worst case, and true high-J pairs collide in many independent
    bands while capped buckets concentrate moderate-J mass. None
    (default) disables capping — correctness-checked fixtures are in
    the linear regime and need none.
    """
    rows_per_band = _rows_per_band(
        num_hashes, bands, min_matching_bands, caller="minhash_candidate_pairs"
    )
    if signatures is None:
        # The (id, shingle-hash, signature) projection feeds four plan
        # branches (two band-join sides, two verify join-backs) plus any
        # downstream closure (graph.dedup_clusters), and the staged HOFs
        # must not be refolded (the materialization contract). ~1 KB/doc.
        signatures = barrier(
            minhash_signatures(
                df, id_column, text_column, shingle_n=shingle_n, num_hashes=num_hashes
            ),
            eager=True,
        )
    else:
        # bands is not checked: band keys derive fresh from __sig here,
        # and re-banding one signature cache at several band counts is
        # the design
        require_build(
            signatures, "minhash_candidate_pairs", "__sig",
            num_hashes=num_hashes, shingle_n=shingle_n,
        )

    # Narrow candidate generation: the band self-join carries ONLY
    # (id, band_key) — 16 bytes/row — never the shingle arrays. Both
    # join inputs are the same subplan, so Spark reuses the exchange.
    # Band keys derive from the materialized signature at read time (a
    # few xxhash64 per row — cheap relative to the shingling they replace).
    banded = signatures.select(
        "__id", F.explode(lsh_band_keys(F.col("__sig"), bands, rows_per_band)).alias("__band")
    )
    if bucket_cap is not None:
        # the oversized keys are few by construction (heavy-hitter
        # buckets); broadcast them into an anti-join so the banded
        # frame itself never shuffles for the cap, and both self-join
        # sides stay the same subplan (exchange reuse preserved)
        heavy = (
            banded.groupBy("__band")
            .agg(F.count(F.lit(1)).alias("__bc"))
            .filter(F.col("__bc") > bucket_cap)
            .select("__band")
        )
        banded = banded.join(F.broadcast(heavy), "__band", "left_anti")
    return _jaccard_pairs(
        banded, banded, signatures, signatures, ("id_a", "id_b"),
        ordered=True, min_shared=min_matching_bands, threshold=jaccard_threshold,
    )


def _jaccard_pairs(
    a_banded: DataFrame, b_banded: DataFrame, a_docs: DataFrame, b_docs: DataFrame,
    ids: tuple[str, str], *, ordered: bool, min_shared: int, threshold: float,
) -> DataFrame:
    """MinHash's blocked pair join: candidates from shared band keys
    (``a_banded``/``b_banded``: ``__id``, ``__band``), then the shingle
    arrays of ``a_docs``/``b_docs`` (``__id``, ``__sh``) attach to the
    distinct candidates only — a tiny fraction of the corpus — for the
    exact Jaccard verify."""
    a, b = ids
    return blocked_pairs(
        a_banded.select(F.col("__band"), F.col("__id").alias(a)),
        b_banded.select(F.col("__band"), F.col("__id").alias(b)),
        "__band",
        ids=ids, ordered=ordered, multi_key=True, min_shared=min_shared,
        attach=(
            a_docs.select(F.col("__id").alias(a), F.col("__sh").alias("__sh_a")),
            b_docs.select(F.col("__id").alias(b), F.col("__sh").alias("__sh_b")),
        ),
        score="jaccard",
        value=_jaccard(F.col("__sh_a"), F.col("__sh_b")),
        keep=F.col("jaccard") >= threshold,
    )


def match_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_column: str,
    text_column: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.8,
    min_matching_bands: int = 1,
) -> DataFrame:
    """Incremental near-dedup: match a NEW batch against a previously
    built corpus signature ``index`` (the output of ``signature_frame``,
    typically written to parquet). Returns (new_id, index_id, jaccard)
    for every cross pair at or above the threshold.

    This is the production shape at 100 TB: the base corpus is shingled
    ONCE when the index is written; each daily/hourly increment costs
    only its own narrow signature map plus a band-key join whose index
    side prunes to colliding buckets — never a re-scan of corpus text.
    (Self-duplicates inside the new batch: run minhash_candidate_pairs
    on the batch alone, it's small.) The new batch's signature frame is
    tiny relative to the index, so its band explode broadcasts or
    shuffles cheaply; the verify join carries shingle arrays only for
    candidate ids on both sides. ``min_matching_bands`` is the same
    binomial pre-filter as in ``minhash_candidate_pairs``.

    The batch's signature frame passes one eager ``session.barrier``
    (the ``signature_frame`` materialization contract); its blocks are
    freed with the returned frame, so a per-micro-batch caller leaks
    nothing per epoch.
    """
    rows_per_band = _rows_per_band(
        num_hashes, bands, min_matching_bands, caller="match_against_index"
    )
    # the index's build metadata (signature_frame / minhash_signatures
    # attach it) must match the caller's parameters
    require_build(
        index, "match_against_index", "__sig", "__bands",
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
    )

    # the batch signatures feed the band explode and the verify join-back
    newsig = barrier(
        signature_frame(
            new_df, id_column, text_column, shingle_n=shingle_n, num_hashes=num_hashes,
            bands=bands,
        ),
        eager=True,
    )

    # Accept either index layout: banded (signature_frame, the parquet
    # index format) or band-free (minhash_signatures, e.g. the session's
    # shared signature cache filtered to the base corpus) — band keys
    # derive from the stored signature at read time.
    if "__bands" not in index.columns:
        index = index.select(
            "__id", "__sh", lsh_band_keys(F.col("__sig"), bands, rows_per_band).alias("__bands")
        )
    return _jaccard_pairs(
        newsig.select("__id", F.explode("__bands").alias("__band")),
        index.select("__id", F.explode("__bands").alias("__band")),
        newsig, index, ("new_id", "index_id"),
        ordered=False, min_shared=min_matching_bands, threshold=jaccard_threshold,
    )


def minhash_dedup(
    df: DataFrame,
    id_column: str,
    text_column: str,
    *,
    pairs: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates: a doc is removed if it pairs (at >= the
    Jaccard threshold) with any *earlier* (smaller-id) doc.

    Single-link transitive closure is deliberately NOT computed (it
    needs iterative connected components — see note below); dropping
    anything similar to an earlier survivor-or-not doc is the standard
    one-pass policy and is deterministic. For full CC semantics, run
    ``minhash_candidate_pairs`` through an iterative large-star/small-
    star loop (Kiveris et al.) — pairs output here is the input to that.
    """
    if pairs is None:
        pairs = minhash_candidate_pairs(df, id_column, text_column, **kwargs)
    return drop_later(df, pairs, id_column)


# ---------------------------------------------------------------------------
# n-gram Jaccard dedup (exact verify over LSH candidates)
# ---------------------------------------------------------------------------


def ngram_jaccard_dedup(
    df: DataFrame,
    id_column: str,
    text_column: str,
    *,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    bands: int = 16,
    num_hashes: int = 32,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Like ``minhash_dedup`` but with more bands (higher recall) —
    candidates still come from LSH so there is no O(n^2) pair blow-up,
    and the final decision is the *exact* n-gram Jaccard. Pass the
    session's materialized ``minhash_signatures`` frame as
    ``signatures`` to re-band it instead of re-shingling."""
    return minhash_dedup(
        df,
        id_column,
        text_column,
        shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold,
        bands=bands,
        num_hashes=num_hashes,
        signatures=signatures,
    )


# ---------------------------------------------------------------------------
# simhash (vectorized Pandas UDF — bit-position sums aren't builtin)
# ---------------------------------------------------------------------------


def simhash_column(text_column: str = "text", bits: int = 64):
    """Returns a Pandas-UDF column computing the classic simhash:
    sign of the per-bit weighted sum of token hashes (Charikar 2002).
    Arrow-batched; ~10-100x faster than a row-at-a-time UDF."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        # Fully batch-vectorized: tokenize everything, hash only the
        # DISTINCT vocab (far smaller than the token stream), then
        # accumulate every token's ±1 bit-vector into its document row
        # with one scatter-add — no per-document Python loop. Per-token
        # bit orientation matches the scalar construction: unpackbits is
        # MSB-first per byte, so reversing maps position p to bit p of
        # the big-endian integer.
        n = len(texts)
        tok_lists = [str(t).lower().split() if t else [] for t in texts]
        flat = [tok for toks in tok_lists for tok in toks]
        if not flat:
            return pd.Series(np.zeros(n, dtype=np.int64))
        doc_idx = np.repeat(np.arange(n), [len(toks) for toks in tok_lists])
        uniq, inv = np.unique(np.array(flat, dtype=object), return_inverse=True)
        hashed = np.frombuffer(
            b"".join(hashlib.blake2b(u.encode(), digest_size=8).digest() for u in uniq),
            dtype=np.uint8,
        ).reshape(len(uniq), 8)
        bit_vecs = (np.unpackbits(hashed, axis=1).astype(np.int8) * 2 - 1)[:, ::-1]
        acc = np.zeros((n, bits), dtype=np.int64)
        np.add.at(acc, doc_idx, bit_vecs[inv])
        powers = np.left_shift(np.uint64(1), np.arange(bits, dtype=np.uint64))
        vals = ((acc > 0) @ powers.astype(np.uint64)).astype(np.uint64)
        return pd.Series(vals.view(np.int64))

    return _simhash(text_column)


def _simhash_stage(df: DataFrame, id_column: str, text_column: str) -> DataFrame:
    """``simhash_dedup``'s (id, __simhash) projection, before its barrier."""
    return ensure_parallelism(df.select(F.col(id_column), F.col(text_column))).select(
        F.col(id_column), simhash_column(text_column).alias("__simhash")
    )


def simhash_dedup(
    df: DataFrame,
    id_column: str,
    text_column: str = "text",
    *,
    hamming_threshold: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dedup: docs whose simhash is within
    ``hamming_threshold`` bits of an earlier doc are dropped.

    Candidates via the standard pigeonhole trick: split 64 bits into
    ``bands`` chunks (1..64) — any pair within ``bands-1`` bit flips
    shares at least one exact chunk, so an equality join on chunk values
    finds all candidates without O(n^2)."""
    if not 1 <= bands <= 64:
        # a chunk without bits would give every document the same key
        raise ValueError(f"simhash_dedup: bands={bands} must be in 1..64")
    # simhash is the expensive (Pandas-UDF) step; it feeds the two band
    # self-join sides. Exchange reuse would dedupe the computation when
    # the planner canonicalizes both sides to one subplan, but that
    # reuse is NOT guaranteed (AQE broadcast conversion or a plan-cache
    # miss late in a session re-runs the UDF per side — observed as a
    # ~2.5x swing in the bench loop). The hashed frame is 16 bytes/doc,
    # so a barrier pins the UDF to exactly one execution cheaply.
    hashed = barrier(_simhash_stage(df, id_column, text_column), eager=True)
    chunk_bits = 64 // bands
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("__simhash"), b * chunk_bits)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for b in range(bands)
        ]
    )
    banded = hashed.select(
        F.col(id_column).alias("__id"), F.col("__simhash"), F.explode(chunks).alias("__c")
    )
    pairs = blocked_pairs(
        banded.select(F.col("__c"), F.col("__id").alias("id_a"), F.col("__simhash").alias("h_a")),
        banded.select(F.col("__c"), F.col("__id").alias("id_b"), F.col("__simhash").alias("h_b")),
        "__c", multi_key=True, score="hamming",
        value=F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))),
        keep=F.col("hamming") <= hamming_threshold,
    )
    # survivors keep the original schema; the narrow hashed frame is only
    # used for candidate generation
    return drop_later(df, pairs, id_column)


def _side_tagged_union(
    left: DataFrame, right: DataFrame, id_column: str, text_column: str, *, caller: str
) -> DataFrame:
    """``fuzzy_text_join``'s two sides as one (__uid, text) frame with
    disjoint synthetic ids: left ids double to even, right ids to odd,
    so a pair's sides read back from the parity without a join.
    ``id_column`` must be integral on both sides with values in
    (-2^62, 2^62): a non-integral id would cast __uid to NULL, so it is
    refused here at plan time; an out-of-range value fails loudly at
    execution under ANSI overflow checking."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    for side, df_side in (("left", left), ("right", right)):
        dtype = df_side.schema[id_column].dataType
        if not isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
            raise ValueError(
                f"{caller}: {side}.{id_column} has type {dtype.simpleString()}; "
                "the even/odd side-tag packing requires an integral id in (-2^62, 2^62). "
                "Map ids through an integral surrogate first."
            )
    uid = F.col(id_column).cast("long") * 2
    return left.select(uid.alias("__uid"), F.col(text_column)).unionByName(
        right.select((uid + 1).alias("__uid"), F.col(text_column))
    )


def fuzzy_text_join(
    left: DataFrame,
    right: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.8,
    min_matching_bands: int = 1,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Cross-table fuzzy match (entity resolution): pairs of (left id,
    right id) whose texts have shingle-Jaccard >= threshold. Returns
    (left_id, right_id, jaccard).

    ``signatures``: an already-MATERIALIZED ``minhash_signatures``
    frame over the side-tagged union (build it with
    ``fuzzy_union_signatures`` below) — pass it when several band
    configurations match the same two tables in one session (e.g. the
    production b=8 run and its r=1 recall pin), so the union is
    shingled once instead of per configuration.

    Composed from the single-table LSH machinery: the two sides union
    under a side tag with disjoint synthetic ids (left ids double to
    even, right ids to odd — collision-free and reversible without a
    join), candidate pairs come from the usual band-bucket self-join,
    and only cross-side pairs survive. Same scale shape as
    ``minhash_candidate_pairs``: narrow signatures, one short-key
    shuffle, verify on candidates only — never |left| x |right|.

    PRECONDITION: ``id_column`` must be an integral column with values
    in (-2^62, 2^62) on both sides — the side tag packs ids as id*2 /
    id*2+1. Non-integral id types are rejected at plan time below;
    out-of-range values fail loudly at execution (Spark 4 runs with
    ANSI overflow checking, so the *2 raises ArithmeticException rather
    than silently wrapping). For non-numeric ids, map them through a
    dense integral surrogate first (e.g. ``F.xxhash64`` with a
    collision check, or ``zipWithIndex``-style assignment).
    """
    pairs = minhash_candidate_pairs(
        _side_tagged_union(left, right, id_column, text_column, caller="fuzzy_text_join"),
        "__uid",
        text_column,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        min_matching_bands=min_matching_bands,
        signatures=signatures,
    )
    # candidate pairs are (id_a < id_b); cross-side = opposite parity.
    # Normalize so left id comes first regardless of pair order.
    a, b = F.col("id_a"), F.col("id_b")
    cross = pairs.filter((a % 2) != (b % 2))
    left_uid = F.when(a % 2 == 0, a).otherwise(b)
    right_uid = F.when(a % 2 == 0, b).otherwise(a)
    return cross.select(
        (left_uid / 2).cast("long").alias("left_id"),
        ((right_uid - 1) / 2).cast("long").alias("right_id"),
        F.col("jaccard"),
    )


def fuzzy_union_signatures(
    left: DataFrame,
    right: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """MATERIALIZED ``minhash_signatures`` over ``fuzzy_text_join``'s
    side-tagged union (same even/odd id packing), for passing as its
    ``signatures`` argument when several band configurations match the
    same two tables in one session — the shingling runs once. An eager
    ``session.barrier`` is the materialization the signature contract
    requires (see ``minhash_candidate_pairs``)."""
    return barrier(
        minhash_signatures(
            _side_tagged_union(
                left, right, id_column, text_column, caller="fuzzy_union_signatures"
            ),
            "__uid",
            text_column,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
        ),
        eager=True,
    )


# ---------------------------------------------------------------------------
# exact segment (chunk) dedup — C4/RefinedWeb-style repeated-span removal
# ---------------------------------------------------------------------------


def chunk_dedup(
    df: DataFrame,
    id_column: str,
    text_column: str,
    *,
    chunk_tokens: int = 10,
    max_occurrences: int = 1,
) -> DataFrame:
    """Remove exactly-repeated text segments ACROSS the corpus while
    keeping the rest of each document — the C4/RefinedWeb cleaning pass
    (boilerplate lines, license headers, navigation chrome repeat
    verbatim across millions of pages; whole-doc dedup never sees them).

    Documents are split into non-overlapping ``chunk_tokens``-token
    segments (the fixture's documents carry no newlines, so fixed token
    windows play the role of lines); any segment whose exact text occurs
    more than ``max_occurrences`` times corpus-wide is dropped from
    EVERY document, and the survivors are reassembled in order.

    Returns (id, kept_chunks, clean_text) — one row per non-empty-text
    input document, `kept_chunks == 0` with empty ``clean_text`` when
    everything was boilerplate.

    Plan shape at 100 TB: one narrow map (tokenize + chunk + explode),
    one shuffle on the 8-byte xxhash64 of the chunk text for the global
    occurrence count (window over the hash — never the strings), one
    shuffle back on doc id to reassemble. Nothing quadratic, no UDF.
    The count-by-hash equals count-by-text up to a 2^-64 collision,
    the same trade every shingle operator here makes.
    """
    from pyspark.sql.window import Window

    base = df.filter(F.trim(F.col(text_column)) != "").select(
        F.col(id_column).alias("__id"),
        F.split(F.trim(F.col(text_column)), r"\s+").alias("__t"),
    )
    n_chunks = F.ceil(F.size("__t") / F.lit(float(chunk_tokens))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(F.col("__t"), i * chunk_tokens + 1, chunk_tokens), " "),
    )
    exploded = base.select("__id", F.posexplode(chunks).alias("__idx", "__chunk"))
    counted = exploded.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(F.xxhash64("__chunk")))
    )
    kept = counted.filter(F.col("__n") <= max_occurrences)
    rebuilt = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("kept_chunks"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__idx", "__chunk"))),
                lambda s: s["__chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("__id")
        .join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_column),
            F.coalesce("kept_chunks", F.lit(0)).alias("kept_chunks"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# corpus-wide repeated-span removal (exact substring dedup)
# ---------------------------------------------------------------------------


def _chain_window_hashes(df: DataFrame, th_col: str, k: int, out_col: str) -> DataFrame:
    """Stage an array column ``out_col`` of rolling window hashes: one
    64-bit identity per k-token window (1-based start positions), built
    by BINARY DOUBLING over the per-token hash array — O(log k) staged
    zip_with levels of O(g) each, instead of O(k) per window. Combine
    rule: H_{a+b}[i] = rot(H_a[i], r) XOR H_b[i+a] with a distinct
    rotation per combine step — equality of the combined hash is
    equality of the token window up to the usual ~positions²/2^64
    in-corpus collision odds (the same trade every hashed identity in
    this module makes). ANSI-safe: rotate-XOR cannot overflow, where a
    multiplicative rolling hash would raise under ANSI mode."""
    if k < 1:
        raise ValueError(f"_chain_window_hashes: k must be >= 1, got {k}")

    def _rot(h, r):
        return F.shiftleft(h, r).bitwiseOR(F.shiftrightunsigned(h, 64 - r))

    def _combine_fn(r):
        # closure factory, NOT a defaulted lambda param: extra (even
        # defaulted) params change the HOF dispatch arity (_xor_mask_fn)
        return lambda a, b: _rot(a, r).bitwiseXOR(b)

    g = F.size(F.col(th_col))
    rotations = (13, 26, 39, 52, 7, 21, 35, 49, 11, 23)
    # powers of two up to k
    built = {1: th_col}
    level = 1
    step = 0
    while level * 2 <= k:
        src = built[level]
        dst = f"{out_col}__p{level * 2}"
        cnt = F.greatest(g - (level * 2) + 1, F.lit(0))
        r = rotations[step % len(rotations)]
        df = df.withColumn(
            dst,
            F.zip_with(
                F.slice(src, F.lit(1), cnt),
                F.slice(src, F.lit(level + 1), cnt),
                _combine_fn(r),
            ),
        )
        built[level * 2] = dst
        level *= 2
        step += 1
    # combine the set bits of k, largest first
    parts = [p for p in sorted(built, reverse=True)]
    remaining = k
    acc_col, acc_len = None, 0
    for p in parts:
        if p > remaining:
            continue
        if acc_col is None:
            acc_col, acc_len = built[p], p
        else:
            dst = f"{out_col}__c{acc_len + p}"
            cnt = F.greatest(g - (acc_len + p) + 1, F.lit(0))
            r = rotations[step % len(rotations)]
            df = df.withColumn(
                dst,
                F.zip_with(
                    F.slice(acc_col, F.lit(1), cnt),
                    F.slice(built[p], F.lit(acc_len + 1), cnt),
                    _combine_fn(r),
                ),
            )
            acc_col, acc_len = dst, acc_len + p
            step += 1
        remaining -= p
    assert remaining == 0 and acc_len == k
    return df.withColumn(out_col, F.col(acc_col))


def _span_stage(
    df: DataFrame, id_column: str, text_column: str, span_tokens: int
) -> DataFrame:
    """``repeated_span_dedup``'s staged token frame, before its barrier:
    (__id, __toks, __wh) with __wh the rolling ``span_tokens``-window
    hashes."""
    # explicit whitespace class, NOT \s: Java \s includes U+000B
    # (vertical tab) while the DuckDB oracle's RE2 \s does not, so the
    # "identical tokenization" claim would silently diverge on VT-
    # bearing text. The class below spells out the same
    # five separators on both engines (\x0B written as a hex escape —
    # Java's \v means "any vertical whitespace", not VT).
    toks = F.when(
        F.trim(F.coalesce(F.col(text_column), F.lit(""))) == "",
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim(F.col(text_column)), r"[ \t\n\x0B\f\r]+"))
    staged = df.select(
        F.col(id_column).alias("__id"),
        toks.alias("__toks"),
    ).withColumn("__th", F.transform("__toks", lambda t: F.xxhash64(t)))
    staged = _chain_window_hashes(staged, "__th", span_tokens, "__wh")
    return staged.select("__id", "__toks", "__wh")


def repeated_span_dedup(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    span_tokens: int = 10,
    min_repeats: int = 2,
) -> DataFrame:
    """Corpus-wide EXACT repeated-span removal — the substring-dedup
    method of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", arXiv 2107.06499, public), re-expressed
    for Spark: any ``span_tokens``-token window whose content occurs at
    least ``min_repeats`` times ANYWHERE in the corpus (across or
    within documents) is removed from every document; output is
    (id, n_repeated_windows, n_tokens_removed, clean_text) with
    clean_text = the kept tokens joined by single spaces.

    This complements the document-level near-dedup family: MinHash
    removes whole near-duplicate DOCUMENTS; this removes repeated
    SPANS (boilerplate, licenses, navigation chrome) that infest
    otherwise-unique documents — the pattern the suffix-array method
    targets, here via fixed-length window hashing (the standard
    scalable approximation: every repeated substring of length >=
    span_tokens is covered by repeated windows, so removal is a
    superset of the >=span_tokens suffix-array spans at window
    granularity).

    Scale shape (100 TB):
      1. narrow map: tokenize + per-token xxhash64 + O(log k) rolling
         window-hash levels (binary doubling, no per-window slices);
      2. explode to (id, pos, window_hash) — 8 B hash rows, ~tokens
         per doc; ONE shuffle on the hash for the corpus-wide count
         (map-side partial agg collapses duplicates early);
      3. heavy hashes (count >= min_repeats) semi-join back onto the
         exploded frame — same shuffle key, exchange reuse; repeated
         start positions regroup per doc (shuffle on id);
      4. interval union + token cut happen ARRAY-SIDE per doc (no
         further shuffle): kept positions via an exists() over the
         (typically short) repeated-starts array.
    The staged token frame feeds two consumers (window explode +
    final cut) and passes one eager ``session.barrier`` so the rolling
    window hashes run once; at very large corpora write it to storage
    instead.
    """
    staged = barrier(
        _span_stage(df, id_column, text_column, span_tokens), eager=True
    )

    win = staged.select(
        "__id", F.posexplode("__wh").alias("__pos0", "__h")
    ).select("__id", (F.col("__pos0") + 1).alias("__s"), "__h")
    heavy = (
        win.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_repeats)
        .select("__h")
    )
    starts = (
        win.join(heavy, "__h", "left_semi")
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("__s")).alias("__starts"))
    )
    out = staged.join(starts, "__id", "left").withColumn(
        "__starts", F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.sequence(F.lit(1), F.size("__toks")),
        lambda p: ~F.exists(
            F.col("__starts"), lambda s: (s <= p) & (p < s + span_tokens)
        ),
    )
    out = out.withColumn(
        "__kept", F.when(F.size("__toks") > 0, kept).otherwise(F.array().cast("array<int>"))
    )
    return out.select(
        F.col("__id").alias(id_column),
        F.size("__starts").cast("long").alias("n_repeated_windows"),
        (F.size("__toks") - F.size("__kept")).cast("long").alias("n_tokens_removed"),
        F.concat_ws(
            " ", F.transform("__kept", lambda p: F.element_at(F.col("__toks"), p))
        ).alias("clean_text"),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    max_length: int = 256,
) -> DataFrame:
    """All pairs within Levenshtein distance <= 1, by
    deletion-neighborhood blocking (FastSS; Bocek et al. 2007, public)
    — an EXACT candidate scheme, not an approximate one: any two
    strings at edit distance <= 1 (substitution, insertion, deletion,
    or equality) share at least one member of their deletion
    neighborhoods {s} ∪ {s minus char i}, so an equi-join on the
    variant key finds EVERY qualifying pair and ``levenshtein`` then
    filters grid coincidences. No all-pairs comparison anywhere:

      1. narrow map: each string of length L explodes to L+1 variant
         rows (the 100 TB knob: rows x (L+1) shuffle entries — this is
         a SHORT-STRING operator (names, titles, codes); ``max_length``
         fails fast rather than silently exploding a document corpus,
         where the near-dedup family is the right tool);
      2. ONE shuffle: self-equi-join on the variant string;
      3. pair dedup is a ``distinct`` on (id_a, id_b) — pairs sharing
         several variants (e.g. equal strings) collapse;
      4. verify with the builtin ``levenshtein`` (JVM-side, exact).

    Output: (id_a, id_b, dist) with id_a < id_b, dist in {0, 1}.
    Distance 0 (exact duplicates) is included by design — callers
    wanting strictly-typo pairs filter ``dist = 1``."""
    # the length gate lives IN THE PLAN (raise_error fires on the first
    # offending row at execution) rather than as an eager pre-scan: a
    # limit(1).count() probe would run a full Spark job at plan-
    # construction time on every call, so plan lint, digest and bench
    # would all pay a corpus scan for a validation that usually passes
    guard_msg = (
        f"edit_distance_pairs: {text_column} exceeds max_length="
        f"{max_length}; this is a short-string operator - use the "
        "minhash/simhash near-dedup family for documents"
    )
    # NULL-tolerant guard: length(NULL) is NULL,
    # which is not TRUE, so a plain `length <= max` WHEN drops NULL
    # rows into the raise_error branch and kills the job before the
    # isNotNull() filter below can discard them. NULL text is a
    # no-op row, not an oversized one — let it through to the filter.
    guarded = F.when(
        F.col(text_column).isNull()
        | (F.length(F.col(text_column)) <= max_length),
        F.col(text_column),
    ).otherwise(F.raise_error(F.lit(guard_msg)))
    probe = df.select(
        F.col(id_column).alias("__id"), guarded.alias("__t")
    ).filter(F.col("__t").isNotNull())
    variants = probe.select(
        "__id",
        "__t",
        F.explode(
            F.concat(
                F.array(F.col("__t")),
                F.transform(
                    # sequence(1, 0) yields DESCENDING [1, 0] (implicit
                    # step -1 when start > stop), so a zero-length
                    # string would emit two bogus variant rows built
                    # from out-of-range substrings. An empty string
                    # has an empty deletion neighborhood - guard to an
                    # empty index array.
                    F.when(
                        F.length("__t") > 0,
                        F.sequence(F.lit(1), F.length("__t")),
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.concat(
                        F.substring(F.col("__t"), F.lit(1), i - 1),
                        F.substr(
                            F.col("__t"), i + 1, F.length("__t")
                        ),
                    ),
                ),
            )
        ).alias("__v"),
    )
    # join on the 8-byte hash of the variant, not the variant string:
    # the equi-join shuffles ~(L+1) rows per input string, so key width
    # is the dominant shuffle payload. A hash collision can only ADD a
    # candidate pair, and the builtin-levenshtein verify below already
    # rejects any pair over distance 1 — exactness is unaffected.
    variants = variants.select(
        "__id", "__t", F.xxhash64("__v").alias("__h")
    )
    # candidates carry IDS ONLY through the join + distinct (the texts
    # re-attach afterwards from the small per-id frame): pairs sharing
    # several variants (equal strings share L+1) duplicate every
    # candidate row, so row WIDTH on the candidate stream is the
    # dominant shuffle payload — 16 bytes of ids vs ids plus two
    # strings. The re-attach joins are per-id (corpus-sized, AQE
    # broadcasts them at fixture scale) against the already-distinct
    # pair set.
    return blocked_pairs(
        variants.select(F.col("__id").alias("id_a"), "__h"),
        variants.select(F.col("__id").alias("id_b"), "__h"),
        "__h", multi_key=True,
        attach=(
            probe.select(F.col("__id").alias("id_a"), F.col("__t").alias("__ta")),
            probe.select(F.col("__id").alias("id_b"), F.col("__t").alias("__tb")),
        ),
        score="dist", value=F.levenshtein("__ta", "__tb").cast("long"),
        keep=F.col("dist") <= 1,
    )


# ---------------------------------------------------------------------------
# asymmetric containment (quote / excerpt / boilerplate detection)
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    id_column: str,
    text_column: str,
    *,
    shingle_n: int = 3,
    threshold_pct: int = 80,
    materialize_grams: bool = True,
    prefix_order: str = "lex",
) -> DataFrame:
    """ASYMMETRIC near-dup: all ordered pairs where document A's
    distinct word n-grams are mostly CONTAINED in document B —
    containment(A,B) = |g(A) ∩ g(B)| / |g(A)| ≥ threshold. Jaccard
    misses this shape by construction (a 20-word quote inside a
    2000-word page has tiny Jaccard but containment 1.0), and it is
    exactly the excerpt/boilerplate/quotation redundancy a training
    corpus wants surfaced.

    Blocking is the PREFIX FILTER of the set-similarity-join
    literature (Chaudhuri et al. 2006; Xiao et al. PPJoin 2008 —
    public algorithms): with each doc's distinct grams in one global
    total order (lexicographic here), a pair at containment ≥ θ has at
    most floor((1-θ)·|g(A)|) of A's grams missing from B, so by
    pigeonhole at least one of A's first floor((1-θ)·|g(A)|)+1 sorted
    grams appears in B. Joining ONLY that prefix against B's full gram
    postings therefore has NO false negatives — the blocking is
    result-invariant, which is why the registered row's oracle is the
    plain quadratic definition. The threshold gate is exact integer
    arithmetic (100·inter ≥ pct·|g(A)|), never a float compare.

    Plan shape at 100 TB: one gram build per side, the prefix explode
    carries ~(1-θ) of A's grams, candidates meet in ONE equi-join on
    the gram (the posting-list join), arrays re-attach to the DISTINCT
    candidate pairs only, and the verify is an array intersect per
    candidate. The lever when a shared-vocabulary corpus floods
    candidates: ``prefix_order="df"`` orders grams by ascending
    document frequency (rarest-first prefix — canonical PPJoin); same
    correctness argument, far fewer postings per prefix gram (see
    ``containment_join`` for the cost trade)."""
    return containment_join(
        df,
        df,
        id_column,
        id_column,
        text_column=text_column,
        shingle_n=shingle_n,
        threshold_pct=threshold_pct,
        materialize_grams=materialize_grams,
        prefix_order=prefix_order,
        _exclude_equal_ids=True,
    )


def gram_sets(
    frame: DataFrame,
    id_column: str,
    *,
    text_column: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(<id_column>, __g): each document's DISTINCT word ``shingle_n``-
    grams as a lexicographically sorted array — the shared input shape
    of the containment family (the prefix filter slices it, the verify
    intersects it). The interpreted-HOF gram build is the dominant
    per-pass cost; callers that consume the frame more than once
    should checkpoint (see ``containment_join``)."""
    from pyspark_unload_to_gcs_spark.operators.text import (
        word_ngrams_zip,
        words_col,
    )

    return frame.select(
        F.col(id_column),
        F.array_sort(
            F.array_distinct(
                word_ngrams_zip(words_col(F.col(text_column)), shingle_n)
            )
        ).alias("__g"),
    )


def _containment_prefix(
    ga: DataFrame,
    left_id: str,
    b_post: DataFrame,
    threshold_pct: int,
    prefix_order: str,
) -> DataFrame:
    """One row per (id_a, prefix gram) for the prefix-filter join —
    the fixed per-document subset of floor((1-θ)·|g|)+1 grams whose
    postings the candidate join probes. Factored out so tests can
    count candidates per ordering arm; see ``containment_join`` for
    the ordering semantics and the result-invariance argument."""
    miss = 100 - threshold_pct
    if prefix_order == "lex":
        # the gram array arrives lexicographically sorted — the prefix
        # is a free slice, no extra shuffle
        return ga.select(
            F.col(left_id).alias("id_a"),
            F.explode(
                F.expr(f"slice(__g, 1, (size(__g) * {miss}) div 100 + 1)")
            ).alias("__p"),
        )
    # rarest-first: one groupBy over the right postings builds the df
    # table; both passes are linear in postings and neither touches
    # the documents themselves.
    df_tab = b_post.groupBy("__p").agg(F.count(F.lit(1)).alias("__df"))
    return rarest_prefix(ga, left_id, df_tab, threshold_pct)


def rarest_prefix(
    ga: DataFrame,
    left_id: str,
    df_tab: DataFrame,
    threshold_pct: int,
) -> DataFrame:
    """The df-ordered prefix postings of ``ga`` (one row per (id_a,
    gram)) given a precomputed document-frequency table ``df_tab``
    with columns (__p, __df): rank each gram by ascending df (left
    join — a gram absent from the table has df 0 and sorts FIRST; it
    matches no posting, so it prunes for free) and keep the
    floor((1-θ)·|g|)+1 smallest per document via one window over the
    exploded grams. Shared by ``containment_join(prefix_order="df")``
    (df table from the right postings, built per call) and the
    streaming decontamination twin (df table FROZEN at index-build
    time — the per-batch cost is then one batch-sized window, never a
    corpus pass)."""
    miss = 100 - threshold_pct
    postings = (
        ga.select(
            F.col(left_id).alias("id_a"),
            F.size("__g").alias("__n"),
            F.explode(F.col("__g")).alias("__p"),
        )
        .join(df_tab, "__p", "left")
        .withColumn("__df", F.coalesce(F.col("__df"), F.lit(0)))
    )
    keep = F.expr(f"(__n * {miss}) div 100 + 1")
    return top_per_key(postings, ["id_a"], [F.col("__df"), F.col("__p")], keep).select(
        "id_a", "__p"
    )


def containment_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    *,
    text_column: str = "text",
    shingle_n: int = 3,
    threshold_pct: int = 80,
    materialize_grams: bool = True,
    prefix_order: str = "lex",
    _exclude_equal_ids: bool = False,
) -> DataFrame:
    """Cross-table containment: pairs where >= threshold of a LEFT
    document's distinct word n-grams appear in a RIGHT document — the
    ingest-time decontamination shape (is this new crawl doc an
    excerpt of something already in the corpus?). Same prefix-filter
    blocking and integer gate as ``containment_pairs`` (which
    delegates here with left == right); output ids are aliased
    ``id_a`` (left) / ``id_b`` (right).

    ``prefix_order`` picks which fixed per-document gram subset the
    prefix filter joins against the postings — the pigeonhole argument
    (see ``containment_pairs``) holds for ANY deterministic subset of
    size floor((1-θ)·|g(A)|)+1, so both arms return IDENTICAL results:

    - ``"lex"`` (default): the first grams of the lexicographically
      sorted array. Zero extra shuffles — the prefix is a ``slice`` of
      the already-sorted gram array.
    - ``"df"``: the grams RAREST in the right-side corpus (ascending
      document frequency, gram as tie-break — canonical PPJoin
      ordering, Xiao et al. 2008). Costs one groupBy over the right
      postings (the df table) plus one window over the left postings,
      and in exchange every prefix gram meets the SHORTEST posting
      lists; a prefix gram absent from the right corpus entirely (df
      0) sorts first and generates zero candidates — maximal, still
      exact, pruning. This is the lever for shared-vocabulary /
      Zipfian corpora where a lexicographic prefix lands on stopword
      grams that flood the candidate join.
    """
    # integrality matters, not just range: a float would reach the
    # interpolated `div` as a non-integral operand (cryptic plan-time
    # AnalysisException) and turn the verify gate into the float
    # compare the docstring promises never happens
    if not isinstance(threshold_pct, int) or not (0 < threshold_pct <= 100):
        raise ValueError(
            f"containment_join: threshold_pct={threshold_pct!r} must be "
            "an int in (0, 100]"
        )
    if prefix_order not in ("lex", "df"):
        raise ValueError(
            f"containment_join: prefix_order={prefix_order!r} must be "
            "'lex' or 'df'"
        )

    def _grams(frame: DataFrame, idc: str) -> DataFrame:
        g = gram_sets(
            frame, idc, text_column=text_column, shingle_n=shingle_n
        )
        if materialize_grams:
            # multiple branches consume each gram frame (posting
            # explode + verify re-attach) and the interpreted-HOF gram
            # build is the dominant per-pass cost — a lazy barrier so
            # it runs once at the caller's first action. Plan-lint
            # consumers screen the un-checkpointed arm via
            # registry_pipeline.PLAN_TWINS.
            g = barrier(g, eager=False)
        return g

    same = left is right and left_id == right_id
    lg = _grams(left, left_id)
    rg = lg if same else _grams(right, right_id)
    ga = lg.filter(F.size("__g") > 0)
    b_post = rg.select(
        F.col(right_id).alias("id_b"), F.explode(F.col("__g")).alias("__p")
    )
    a_post = _containment_prefix(
        ga, left_id, b_post, threshold_pct, prefix_order
    )
    # the candidate join runs on xxhash64 of the gram, not the gram
    # string: the shuffle then carries an 8-byte key instead of the
    # ~3-word text, and equality tests are long compares (measured
    # ~40% off the candidate stage at sf0.1). A hash collision can
    # only ADD a candidate pair, never drop one, and the exact
    # array-intersect verify below discards it — result-invariance
    # holds exactly as for the prefix filter itself.
    cand = a_post.select(
        "id_a", F.xxhash64("__p").alias("__hp")
    ).join(
        b_post.select("id_b", F.xxhash64("__p").alias("__hp")), "__hp"
    )
    if _exclude_equal_ids:
        cand = cand.filter(F.col("id_a") != F.col("id_b"))
    cand = cand.select("id_a", "id_b").distinct()
    return verify_containment(
        cand,
        ga.select(F.col(left_id).alias("id_a"), F.col("__g").alias("__ga")),
        rg.select(F.col(right_id).alias("id_b"), F.col("__g").alias("__gb")),
        threshold_pct,
    )


def verify_containment(
    cand: DataFrame,
    ga_arr: DataFrame,
    gb_arr: DataFrame,
    threshold_pct: int,
) -> DataFrame:
    """The exact verify stage of the containment family: re-attach the
    full gram arrays to the DISTINCT candidate pairs, intersect, and
    gate with exact integer arithmetic (100·inter ≥ pct·|g(A)| — never
    a float compare). ``cand`` is (id_a, id_b); ``ga_arr`` is (id_a,
    __ga); ``gb_arr`` is (id_b, __gb). Shared by ``containment_join``
    and the streaming decontamination twin so the two can never drift
    on the gate or the reported ratio."""
    verified = (
        cand.join(ga_arr, "id_a")
        .join(gb_arr, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("__ga").cast("long").alias("n_grams_a"),
            F.size(F.array_intersect("__ga", "__gb"))
            .cast("long")
            .alias("n_shared"),
        )
        .filter(
            F.col("n_shared") * 100 >= F.col("n_grams_a") * threshold_pct
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        "n_grams_a",
        "n_shared",
        F.round(
            F.col("n_shared").cast("double") / F.col("n_grams_a").cast("double"),
            9,
        ).alias("containment_r"),
    )
