"""Driver-facing PINS for production-path behavior that was previously
rows-only: recall pins for the hash-seeded
near-dedup paths, a batch replay of the streaming token-budget
admission, and the auto-k (scale-safe) SemDeDup configuration.

The recall-pin trick (the one the ANN family's driver rows use): the
production operator's output can't be replayed in SQL
(xxhash64 seeds aren't portable), but its CARDINALITY against the
brute-force-oracled exact pair set can — at fixture scale the
production path provably finds every qualifying pair (miss probability
bounds in the docstrings), so the oracle asserts production count ==
overlap count == exact count. Any banding/mask/verify regression that
costs recall (or breaks the precision-1 subset property) turns the
driver row red instead of silently shrinking a rows-only count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators import dedup as D
from pyspark_unload_to_gcs_spark.operators import similarity as S
from pyspark_unload_to_gcs_spark.operators import text as T
from pyspark_unload_to_gcs_spark.registry import _t, register
from pyspark_unload_to_gcs_spark.session import barrier, scratch_dir, session_memo
from pyspark_unload_to_gcs_spark.registry_extensions import (
    _docs,
    _DOT,
    _semantic_dedup_frame,
    _semantic_dedup_sql,
    _SHINGLE_CTE,
    _SS,
    _shared_exact_pairs,
    _shared_minhash_pairs,
    _shared_signatures,
)

# ---------------------------------------------------------------------------
# near-dedup recall pins
# ---------------------------------------------------------------------------

_EXACT_08_COUNT = f"""
WITH {_SHINGLE_CTE},
exact AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
),
n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM exact)
SELECT c AS n_pairs, c AS n_overlap, c AS n_exact FROM n
"""


@register("near_dedup_minhash_recall", oracle=_EXACT_08_COUNT)
def near_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall pin for the PRODUCTION minhash path (r=4: bands=8 x 4
    rows, the scale-safe banding — near_dedup_pairs/minhash): pair
    count, overlap with the exact >=0.8 pair set, and the exact count,
    as one row. The production path's exact-Jaccard verify makes it a
    SUBSET of the exact set (precision 1), and at fixture scale its
    recall is exactly 1 (a J>=0.8 pair misses all 8 bands with
    P=(1-J^4)^8 <= 1.5e-2 at the J=0.8 boundary, and the fixture's
    near-dup pairs sit well above it — verified equal at sf0.001 and
    sf0.01), so all three numbers equal the brute-forced exact count.
    A banding, signature-mask, or verify regression breaks one of the
    three equalities and turns this driver row red — previously the
    production path had only rows-only driver evidence."""
    # TWO branches consume prod (own count + the semi join); without a
    # barrier the band-join+verify subtree executes once per branch
    # (exchange reuse is a plan-cache lookup, not a guarantee — the
    # _shared_minhash_pairs lore). Lazily checkpoint the small pair
    # frame so it materializes once at the row's action.
    # exact is already eagerly checkpointed by _shared_exact_pairs.
    prod = barrier(
        _shared_minhash_pairs(spark, sf_dir).select("id_a", "id_b"), eager=False
    )
    exact = _shared_exact_pairs(spark, sf_dir).select("id_a", "id_b")
    overlap = prod.join(exact, ["id_a", "id_b"], "left_semi")
    return (
        prod.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .crossJoin(overlap.agg(F.count(F.lit(1)).cast("long").alias("n_overlap")))
        .crossJoin(exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
    )


_EXACT_07_COUNT = f"""
WITH {_SHINGLE_CTE},
exact AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
),
n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM exact)
SELECT c AS n_pairs, c AS n_overlap, c AS n_exact FROM n
"""


@register("near_dedup_ngram_recall", oracle=_EXACT_07_COUNT)
def near_dedup_ngram_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall pin for the 16-band/0.7-threshold n-gram Jaccard path
    (near_dedup_ngram's operating point, r=2 per band): production
    pairs vs the exact >=0.7 pair set. Miss probability per J>=0.7
    pair is (1-J^2)^16 <= 2.4e-5 at the boundary; the Spark exact side
    re-bands the shared signature cache at r=1 with a binomial
    >=10-of-32 slot pre-filter (P[Binom(32, 0.7) < 10] ~ 1e-6), the
    same construction as the 0.8 family's pin.
    The DuckDB side brute-forces all pairs at 0.7."""
    docs = _docs(spark, sf_dir)
    # both pair frames feed two branches each (own count + the semi
    # join) — lazily checkpoint so the re-band + verify runs once per
    # frame
    prod = barrier(
        D.minhash_candidate_pairs(
            docs,
            "doc_id",
            "text",
            bands=16,
            jaccard_threshold=0.7,
            signatures=_shared_signatures(spark, sf_dir),
        ).select("id_a", "id_b"),
        eager=False,
    )
    exact = barrier(
        D.minhash_candidate_pairs(
            docs,
            "doc_id",
            "text",
            bands=32,
            num_hashes=32,
            jaccard_threshold=0.7,
            signatures=_shared_signatures(spark, sf_dir),
            min_matching_bands=10,
        ).select("id_a", "id_b"),
        eager=False,
    )
    overlap = prod.join(exact, ["id_a", "id_b"], "left_semi")
    return (
        prod.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .crossJoin(overlap.agg(F.count(F.lit(1)).cast("long").alias("n_overlap")))
        .crossJoin(exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
    )


_FUZZY_EXACT_08_COUNT = f"""
WITH {_SHINGLE_CTE},
exact AS (
    SELECT l.doc_id AS left_id, r.doc_id AS right_id
    FROM sh l JOIN sh r
      ON l.doc_id % 3 = 0 AND r.doc_id % 3 != 0
     AND len(list_distinct(list_concat(l.s, r.s))) > 0
     AND CAST(len(list_intersect(l.s, r.s)) AS DOUBLE)
         / len(list_distinct(list_concat(l.s, r.s))) >= 0.8
),
n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM exact)
SELECT c AS n_pairs, c AS n_overlap, c AS n_exact FROM n
"""


@register("fuzzy_entity_join_recall", oracle=_FUZZY_EXACT_08_COUNT)
def fuzzy_entity_join_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall pin for the PRODUCTION cross-table fuzzy join
    (operators/dedup.py ``fuzzy_text_join`` at its b=8/r=4 default —
    the path ``fuzzy_entity_join`` runs rows-only): cross-side pair
    count, overlap with the exact >=0.8 cross-pair set (r=1 + binomial
    pre-filter, the fuzzy_entity_join_exact machinery), and the exact
    count. Same subset/recall argument as near_dedup_minhash_recall;
    the oracle brute-forces the cross-side pairs. Completes the
    recall-pin family: every production near-dup path (minhash, ngram,
    fuzzy cross-table) now turns driver-red on a recall regression.
    Both arms re-band the session's shared union-signature frame
    (_shared_fuzzy_signatures) — the union is shingled once across the
    whole fuzzy family."""
    from pyspark_unload_to_gcs_spark.operators.dedup import fuzzy_text_join
    from pyspark_unload_to_gcs_spark.registry_extensions import (
        _shared_fuzzy_signatures,
    )

    docs = _docs(spark, sf_dir)
    left = docs.filter(F.col("doc_id") % 3 == 0)
    right = docs.filter(F.col("doc_id") % 3 != 0)
    sig = _shared_fuzzy_signatures(spark, sf_dir)
    # both pair frames feed two branches each — lazily checkpoint so
    # the re-band + verify runs once per frame
    prod = barrier(
        fuzzy_text_join(left, right, jaccard_threshold=0.8, signatures=sig).select(
            "left_id", "right_id"
        ),
        eager=False,
    )
    exact = barrier(
        fuzzy_text_join(
            left,
            right,
            jaccard_threshold=0.8,
            bands=32,
            num_hashes=32,
            min_matching_bands=12,
            signatures=sig,
        ).select("left_id", "right_id"),
        eager=False,
    )
    overlap = prod.join(exact, ["left_id", "right_id"], "left_semi")
    return (
        prod.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .crossJoin(overlap.agg(F.count(F.lit(1)).cast("long").alias("n_overlap")))
        .crossJoin(exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
    )


# ---------------------------------------------------------------------------
# HLL sketch accuracy pins
# ---------------------------------------------------------------------------


@register(
    "events_approx_users_accuracy",
    oracle="""
    SELECT event_type, TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def events_approx_users_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy pin for ``events_approx_users`` (HLL++
    approx_count_distinct, rsd=0.01): per event type, is the estimate
    within 5% of the exact distinct count? The estimate itself isn't
    SQL-replayable (rows-only by contract), but this BOOLEAN is — the
    oracle computes the groups and asserts TRUE, so an HLL-parameter or
    relativeSD regression that blows the error budget turns the driver
    row red (measured worst error at sf0.01: 0.67%; the 5% bound is
    ~7x margin). Same pin pattern as the near-dedup recall queries.

    The approx arm calls THE PRODUCTION QUERY itself
    (registry_analytics.events_approx_users) — a pin that recomputed
    its own sketch would stay green while the production rsd or column
    drifted. The exact arm is a distinct-first plain
    count (no Expand); the full-outer join turns a group present on
    only one side into a NULL -> FALSE (or an extra row), either of
    which breaks the driver hash."""
    from pyspark_unload_to_gcs_spark.registry_analytics import events_approx_users

    approx = events_approx_users(spark, sf_dir)
    exact = (
        _t(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    both = approx.join(exact, "event_type", "full")
    within = (
        F.col("approx_users").isNotNull()
        & F.col("exact_users").isNotNull()
        & (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        )
    )
    return both.select("event_type", within.alias("within_5pct"))


@register(
    "rolling_actives_approx_accuracy",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day_num
        FROM events
    ),
    days AS (SELECT DISTINCT day_num AS d FROM ud)
    SELECT days.d AS day_num, TRUE AS dau_within_5pct, TRUE AS wau_within_5pct
    FROM days JOIN ud ON ud.day_num <= days.d AND ud.day_num > days.d - 7
    GROUP BY days.d
    """,
)
def rolling_actives_approx_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy pin for ``rolling_active_users_approx`` (per-day
    mergeable HLL sketches, trailing-window unions): per observed day,
    are DAU and WAU estimates within 5% of the exact rolling actives?
    FULL-OUTER-joins the sketch path against the exact path (both
    Spark-side, on the same scan) and emits only the tolerance
    booleans; the oracle replays the exact operator's day dimension
    (same SQL as the green ``rolling_active_users`` oracle) with
    constant TRUE. A day on only one side — the sketch path emitting a
    spurious window-end day, or missing an observed one — survives the
    join as an extra row or a NULL -> FALSE, either of which breaks
    the driver hash (an inner join would silently drop extra approx
    days). At fixture cardinalities the sketches
    are in sparse mode and exact; 5% covers dense-mode drift at scale
    without flaking."""
    from pyspark_unload_to_gcs_spark.operators.product import (
        rolling_active_users,
        rolling_active_users_approx,
    )

    ev = _t(spark, sf_dir, "events")
    exact = rolling_active_users(ev, window_days=7)
    approx = rolling_active_users_approx(ev, window_days=7)
    j = exact.join(approx, "day_num", "full")
    ok = lambda a, e: (  # noqa: E731
        F.col(a).isNotNull()
        & F.col(e).isNotNull()
        & (F.abs(F.col(a) - F.col(e)) <= F.col(e) * F.lit(0.05))
    )
    return j.select(
        "day_num",
        ok("dau_approx", "dau").alias("dau_within_5pct"),
        ok("wau_approx", "wau").alias("wau_within_5pct"),
    )


# ---------------------------------------------------------------------------
# streaming token-budget admission, replayed as a batch query
# ---------------------------------------------------------------------------

_STREAM_BUDGET = 12000  # same operating point as token_budget_select
_N_BATCHES = 4

_STREAM_REPLAY_SQL = rf"""
WITH RECURSIVE scored AS (
    SELECT doc_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                AS BIGINT) AS n_tokens,
           CAST(doc_id % {_N_BATCHES} AS BIGINT) AS batch_id
    FROM documents
),
pre AS (
    SELECT doc_id, n_tokens, batch_id,
           SUM(n_tokens) OVER (PARTITION BY batch_id ORDER BY doc_id ASC) AS cum
    FROM scored
),
st(batch_id, spent_before) AS (
    SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL
    SELECT st.batch_id + 1,
           st.spent_before + COALESCE((
               SELECT MAX(p.cum) FROM pre p
               WHERE p.batch_id = st.batch_id
                 AND p.cum <= {_STREAM_BUDGET} - st.spent_before), 0)
    FROM st WHERE st.batch_id < {_N_BATCHES - 1}
)
SELECT p.doc_id, p.n_tokens, p.batch_id
FROM pre p JOIN st ON st.batch_id = p.batch_id
WHERE p.cum <= {_STREAM_BUDGET} - st.spent_before
"""


@register("token_budget_stream_replay", oracle=_STREAM_REPLAY_SQL)
def token_budget_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING token-budget admission (streaming/budget.py
    ``admit_batch``), driver-faced as a deterministic batch replay
    (its batch twin ``token_budget_select`` pins the batch cut; this
    row pins the greedy per-batch prefix-cut streaming semantics):
    the documents table is split into 4 micro-batches (doc_id % 4),
    each folded through the REAL foreachBatch admission function in
    batch order against versioned parquet state in a scratch dir, and the
    final admitted corpus is returned. The oracle replays the exact
    semantics — per-batch prefix cut over the id-ordered cumulative
    token sum, budget spent only by admitted tokens — as one recursive
    CTE over batch boundaries. At the 12000-token budget batch 0 is
    fully admitted, batch 1 is cut mid-prefix, and batches 2-3 admit
    nothing (remaining < any doc), so all three admission cases carry
    driver evidence."""
    from pyspark_unload_to_gcs_spark.streaming.budget import admit_batch, read_admitted
    from pyspark_unload_to_gcs_spark.streaming.replay import replay_batches

    scored = _docs(spark, sf_dir).select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % _N_BATCHES).cast("long").alias("batch_id"),
    )
    out = replay_batches(
        spark,
        ("stream_replay", sf_dir),
        [scored.filter(F.col("batch_id") == b) for b in range(_N_BATCHES)],
        lambda frame, b, state: admit_batch(
            frame,
            b,
            id_column="doc_id",
            token_column="n_tokens",
            budget=_STREAM_BUDGET,
            state_path=state,
        ),
        lambda state: read_admitted(spark, state),
        prefix="budget_stream_replay_",
    )
    return out.select(
        "doc_id", "n_tokens", (F.col("doc_id") % _N_BATCHES).cast("long").alias("batch_id")
    )


# ---------------------------------------------------------------------------
# auto-k SemDeDup (the scale-safe configuration)
# ---------------------------------------------------------------------------


@register(
    "semantic_dedup_auto",
    # The fixed-k semantic_dedup replay with k computed from the corpus
    # size exactly as operators/similarity.py does: max(16, isqrt(n-1)+1).
    # floor(sqrt(m)) == math.isqrt(m) for every m in play (doubles
    # represent these integers exactly and sqrt is correctly rounded, so
    # the floor can't straddle a perfect square).
    oracle=_semantic_dedup_sql(
        """k AS (
        SELECT GREATEST(16, CAST(floor(sqrt(count(*) - 1)) AS BIGINT) + 1) AS k
        FROM uni
    ),
    ranked AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS cell, v AS c
        FROM uni
    ),
    cent AS (
        SELECT cell, c FROM ranked, k WHERE cell < k.k
    )"""
    ),
)
def semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with ``n_centroids="auto"`` — the configuration that
    actually ships at scale (k = max(16, isqrt(n-1)+1), so cells grow
    as sqrt(n) and within-cell pair mass as n^1.5 instead of n^2) —
    under the same full-pipeline value oracle as the fixed-k
    ``semantic_dedup``, so the auto-k path carries driver evidence too.
    Same planted duplicates. The auto-k centroid set is deterministic
    (the k smallest-id vectors), so the oracle computes k from the
    corpus count and replays centroid pick, unit-normalized argmax
    assignment (ties -> larger cell) and fold-order-pinned cosine.

    Benches the ARROW assignment arm — the production matmul path,
    3-7x faster than the fold arm. The fold arm stays the
    oracle-derivation twin, pinned bit-equal to arrow in
    tests/test_asof.py::test_semantic_dedup_auto_arrow_matches_fold,
    so the same DuckDB replay stays exact for both."""
    return semantic_dedup_auto_with_method(spark, sf_dir, assign_method="arrow")


def semantic_dedup_auto_with_method(
    spark: SparkSession, sf_dir: str, *, assign_method: str = "fold"
) -> DataFrame:
    """The ``semantic_dedup_auto`` pipeline with a selectable assignment
    backend — ``fold`` is the oracle-replayable arm; ``tools/scale_audit.py``
    audits ``arrow`` (the production matmul path) against the same x10
    curve and output set."""
    return _semantic_dedup_frame(spark, sf_dir, "auto", assign_method)


# ---------------------------------------------------------------------------
# simhash recall pin (completes the recall-pin family)
# ---------------------------------------------------------------------------

_SIMHASH_RECALL_SQL = """
SELECT CAST(count(CASE WHEN doc_id % 10 = 3 THEN 1 END) AS BIGINT) AS n_planted,
       CAST(count(CASE WHEN doc_id % 10 = 3 THEN 1 END) AS BIGINT) AS n_planted_dropped,
       CAST(count(CASE WHEN doc_id % 10 = 7 THEN 1 END) AS BIGINT) AS n_decoys,
       CAST(0 AS BIGINT) AS n_decoys_dropped
FROM documents
"""


@register("near_dedup_simhash_recall", oracle=_SIMHASH_RECALL_SQL)
def near_dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision pin for the PRODUCTION simhash path
    (``simhash_dedup``, hamming<=3 over 64-bit Charikar simhash with
    4-band pigeonhole candidates) — the last rows-only family member
    without one. The simhash values are blake2b-seeded
    and not SQL-replayable, so the pin plants structurally-guaranteed
    pairs instead of brute-forcing distances:

    - every 10th document is duplicated VERBATIM at doc_id+1_000_000:
      identical text => identical simhash => hamming 0, and the
      pigeonhole banding finds every hamming<=bands-1 pair exactly (all
      4 chunks equal), so each planted copy MUST be dropped (its source
      has the smaller id). n_planted_dropped == n_planted pins recall.
    - every (10k+7)th document is replaced by a DECOY with FIVE tokens
      unique to it: an ODD token count makes each simhash bit exactly
      Bernoulli(1/2) (the +/-1 sum over 5 independent bit vectors can
      never be 0, so sign ties don't skew the distribution — with an
      even count each bit would be set w.p. < 1/2, drifting the hash
      toward all-zeros and within ~1.8e-5/decoy of an empty doc's
      hash-0). The decoy hash is therefore a genuinely uniform 64-bit
      value: P(hamming<=3 to ANY other doc's hash) <= n * 43e3/2^64
      < 1e-9 at bench scale — decoys MUST survive. n_decoys_dropped
      == 0 pins against hash-collapse regressions (a degenerate
      simhash_column mapping everything to one value would drop the
      decoys and turn the row red; planted recall alone would stay
      green under that failure).

    Both sides reduce to counts over the documents table, so the oracle
    is plain SQL while the Spark side runs the real Pandas-UDF hashing,
    banding, pair join, and anti-join end to end.

    Offsets are data-driven (max id + 1 stride, one 1-row agg) rather
    than fixed constants, so planted/decoy ids stay collision-free at
    ANY corpus id range — the x10 scale audit shifts doc_ids by
    replica * 10M, which would overlap fixed offsets."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stride = (docs.agg(F.max("doc_id")).first()[0] or 0) + 1
    dup_off, decoy_off = stride, 2 * stride
    planted = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + dup_off).alias("doc_id"), "text"
    )
    decoys = docs.filter(F.col("doc_id") % 10 == 7).select(
        (F.col("doc_id") + decoy_off).alias("doc_id"),
        F.concat(
            # five tokens, each unique to this doc (odd count -> every
            # simhash bit exactly Bernoulli(1/2), see docstring)
            *[
                part
                for suffix in ("qa ", "qb ", "qc ", "qd ", "qe")
                for part in (F.lit("z"), F.col("doc_id").cast("string"), F.lit(suffix))
            ],
        ).alias("text"),
    )
    corpus = docs.unionByName(planted).unionByName(decoys)
    survivors = D.simhash_dedup(corpus, "doc_id", "text")
    surv_counts = survivors.agg(
        F.count(
            F.when(
                (F.col("doc_id") >= dup_off)
                & (F.col("doc_id") < decoy_off),
                1,
            )
        ).cast("long").alias("__surv_planted"),
        F.count(F.when(F.col("doc_id") >= decoy_off, 1))
        .cast("long")
        .alias("__surv_decoy"),
    )
    base_counts = docs.agg(
        F.count(F.when(F.col("doc_id") % 10 == 3, 1)).cast("long").alias("__n_planted"),
        F.count(F.when(F.col("doc_id") % 10 == 7, 1)).cast("long").alias("__n_decoy"),
    )
    return base_counts.crossJoin(surv_counts).select(
        F.col("__n_planted").alias("n_planted"),
        (F.col("__n_planted") - F.col("__surv_planted")).alias("n_planted_dropped"),
        F.col("__n_decoy").alias("n_decoys"),
        (F.col("__n_decoy") - F.col("__surv_decoy")).alias("n_decoys_dropped"),
    )


# ---------------------------------------------------------------------------
# writer-path roundtrip oracle (K1/K3 bytes-on-disk under a driver row)
# ---------------------------------------------------------------------------

_EXPORT_ROUNDTRIP_SQL = """
SELECT c_custkey, c_name, c_mktsegment,
       md5(to_json(struct_pack(
           c_custkey    := c_custkey,
           c_mktsegment := c_mktsegment,
           c_name       := c_name))) AS row_hash
FROM customer
WHERE c_name IS NOT NULL AND c_name != ''
  AND c_mktsegment IS NOT NULL AND c_mktsegment != ''
"""


@register("export_roundtrip_hash", oracle=_EXPORT_ROUNDTRIP_SQL)
def export_roundtrip_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual end-to-end job under a driver oracle
    (reference export.py:193-233): full sync with
    non-null filter + json-method content hash, written through
    ``write_export`` as gzip JSON-lines with maxRecordsPerFile (K1+K3),
    then read BACK from the bytes on disk and compared against a DuckDB
    oracle computing the same projection+hash directly from parquet —
    so the compression codec, the JSON serialization, and the file
    split all sit inside the hash-checked path. Hash restricted to the
    BIGINT/VARCHAR columns where Spark/DuckDB JSON is byte-identical
    (see content_hash_json). The write is memoized per (session,
    sf_dir): eager side effect, one write per session, plan probes
    reread the same files."""
    from pyspark_unload_to_gcs_spark.config import ExportFormat, SyncConfig
    from pyspark_unload_to_gcs_spark.operators.filters import non_null_filter
    from pyspark_unload_to_gcs_spark.operators.hashing import content_hash
    from pyspark_unload_to_gcs_spark.sinks.writers import write_export

    def build():
        df = non_null_filter(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment"),
            ["c_name", "c_mktsegment"],
        )
        df = content_hash(df, "row_hash", method="json")
        out_dir = scratch_dir(spark, "export_roundtrip_")
        write_export(
            df,
            SyncConfig(
                table="customer",
                export_format=ExportFormat.JSON,
                output_uri=f"file:{out_dir}",
                compression="gzip",
                max_records_per_file=500,
            ),
        )
        return out_dir

    out_dir = session_memo(spark, ("export_roundtrip", sf_dir), build)
    return spark.read.schema(
        "c_custkey bigint, c_name string, c_mktsegment string, row_hash string"
    ).json(f"file:{out_dir}")
