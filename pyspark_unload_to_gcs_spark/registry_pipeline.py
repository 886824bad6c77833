"""Registered training-data pipeline, stream-replay and
versioned/Delta-source rows.

The rows here cover the corpus side of the engine: quality filters,
dedup, tokenizers, classifiers, sampling and mixture planning, media
decode, vector/ANN indexes, sketches; micro-batch stream replays
(sessionize, merge/rollup, heavy hitters, dedup, drift, containment)
folded through ``streaming/replay.replay_batches``; and the versioned
and open-protocol Delta table sources (time travel, change feed, the
Python DataSource and Structured Streaming drains). Every row is a
plain ``@register`` entry of the one registry in registry.py.
``PLAN_TWINS`` maps the rows whose registered frame is checkpointed to
the un-checkpointed plan the lint/digest screens read instead.

Oracle-parity rules honored here (NOTES.md lore #6/#8/#14): every
computed column aliased identically on both sides, integer aggregates
CAST AS BIGINT, fractions produced by ONE division of integer-derived
doubles then round(, 9) on both engines.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark_unload_to_gcs_spark.session import session_memo

from pyspark_unload_to_gcs_spark.registry import _t, register


# --------------------------------------------------------------------------
# Gopher document-quality profile
# --------------------------------------------------------------------------

# DuckDB replay of operators/quality_filters.py gopher_quality_flags on
# the fixture's single-line documents. Words = whitespace split of the
# trimmed text ('' -> []); lines = newline split with blank lines
# dropped (fixture docs are one line, but the rules are replayed in
# full, not assumed away).
_GOPHER_SQL = r"""
WITH w AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS words,
         list_filter(regexp_split_to_array(text, '\n'), l -> trim(l) != '') AS lines,
         CASE WHEN trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')) = ''
              THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') END AS ntoks
  FROM documents
), m AS (
  SELECT doc_id,
         len(words) AS n_words,
         list_reduce(list_prepend(0, list_transform(words, x -> length(x))), (a, b) -> a + b) AS word_chars,
         length(text) - length(regexp_replace(text, '[#…]', '', 'g'))
           + len(regexp_split_to_array(text, '\.\.\.')) - 1 AS n_symbols,
         len(lines) AS n_lines,
         len(list_filter(lines, l -> regexp_matches(trim(l), '^([•‣◦\-\*])'))) AS bullet_lines,
         len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS ellipsis_lines,
         len(list_filter(words, x -> regexp_matches(x, '\p{L}'))) AS alpha_words,
         len(list_intersect(ntoks, ['the','be','to','of','and','that','have','with'])) AS stop_hits
  FROM w
)
SELECT doc_id,
       n_words >= 50 AND n_words <= 100000 AS word_count_ok,
       (CASE WHEN n_words > 0 THEN CAST(word_chars AS DOUBLE) / n_words ELSE 0.0 END) >= 3.0
         AND (CASE WHEN n_words > 0 THEN CAST(word_chars AS DOUBLE) / n_words ELSE 0.0 END) <= 10.0 AS mean_word_ok,
       CASE WHEN n_words > 0 THEN CAST(n_symbols AS DOUBLE) / n_words <= 0.1 ELSE FALSE END AS symbol_ok,
       CASE WHEN n_lines > 0 THEN CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9 ELSE TRUE END AS bullet_ok,
       CASE WHEN n_lines > 0 THEN CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3 ELSE TRUE END AS ellipsis_ok,
       CASE WHEN n_words > 0 THEN CAST(alpha_words AS DOUBLE) / n_words >= 0.8 ELSE FALSE END AS alpha_ok,
       stop_hits >= 2 AS stopword_ok
FROM m
"""


@register("gopher_quality_profile", oracle=_GOPHER_SQL)
def gopher_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule booleans over the documents fixture
    (operators/quality_filters.py::gopher_quality_flags) — one narrow
    map, value-oracled rule by rule. `passes` is excluded from the
    compared output (it is the AND of the compared columns)."""
    from pyspark_unload_to_gcs_spark.operators.quality_filters import (
        gopher_quality_flags,
    )

    docs = _t(spark, sf_dir, "documents")
    g = gopher_quality_flags(F.col("text"))
    return docs.select(
        "doc_id",
        g["word_count_ok"].alias("word_count_ok"),
        g["mean_word_ok"].alias("mean_word_ok"),
        g["symbol_ok"].alias("symbol_ok"),
        g["bullet_ok"].alias("bullet_ok"),
        g["ellipsis_ok"].alias("ellipsis_ok"),
        g["alpha_ok"].alias("alpha_ok"),
        g["stopword_ok"].alias("stopword_ok"),
    )


# --------------------------------------------------------------------------
# C4 page cleaning over synthesized pages
# --------------------------------------------------------------------------

# The fixture's documents carry no newlines, so pages are synthesized
# deterministically: 5 consecutive docs (doc_id // 5) become one page,
# each doc one line with a terminal '.', joined in doc_id order.
_C4_SQL = r"""
WITH pages AS (
  SELECT doc_id // 5 AS page_id,
         string_agg(text || '.', chr(10) ORDER BY doc_id) AS text
  FROM documents GROUP BY doc_id // 5
), l AS (
  SELECT page_id, text,
         list_filter(regexp_split_to_array(text, '\n'), ln -> trim(ln) != '') AS lines
  FROM pages
), k AS (
  SELECT page_id, text, len(lines) AS c4_lines_total,
         list_filter(lines, ln ->
             regexp_matches(trim(ln), '[.!?"'']$')
             AND len(regexp_split_to_array(trim(ln), '\s+')) >= 5
             AND NOT contains(lower(ln), 'javascript')) AS kept
  FROM l
)
SELECT page_id,
       CAST(c4_lines_total AS BIGINT) AS c4_lines_total,
       CAST(len(kept) AS BIGINT) AS c4_lines_kept
FROM k
WHERE len(kept) >= 3
  AND NOT contains(lower(text), 'lorem ipsum')
  AND NOT contains(text, '{')
"""


@register("c4_page_clean_stats", oracle=_C4_SQL)
def c4_page_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning (operators/quality_filters.py::c4_clean) over pages
    synthesized from the fixture (5 docs -> one multi-line page, each
    line terminated with '.'): surviving pages with kept/total line
    counts. The construction and every keep/drop rule are replayed in
    the oracle."""
    from pyspark_unload_to_gcs_spark.operators.quality_filters import c4_clean

    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") / 5).cast("long").alias("page_id"), "doc_id", "text"
    )
    pages = docs.groupBy("page_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: F.concat(s["text"], F.lit(".")),
            ),
        ).alias("text")
    )
    out = c4_clean(pages)
    return out.select(
        "page_id",
        F.col("c4_lines_total").cast("long").alias("c4_lines_total"),
        F.col("c4_lines_kept").cast("long").alias("c4_lines_kept"),
    )


# --------------------------------------------------------------------------
# Gopher repetition profile
# --------------------------------------------------------------------------

# Full gram-stats replay: same whitespace tokens, same n-gram windows,
# same (count, gram-length, gram) top tie-break (struct comparison is
# field-by-field lexicographic in BOTH engines), same count>1 top rule,
# same overlap-ignoring dup-char sums. Fractions round(, 9) on both
# sides (single divisions are bit-identical; rounding is belt and
# braces for the driver hash).
_REP_FRAC = "round(least(CAST({num} AS DOUBLE) / greatest(chars, 1.0), 1.0), 9)"


def _rep_top(n: int) -> str:
    return _REP_FRAC.format(
        num=f"COALESCE(CASE WHEN top_{n}.c > 1 THEN top_{n}.c * top_{n}.l END, 0)"
    )


def _rep_dup(n: int) -> str:
    return _REP_FRAC.format(num=f"COALESCE(dup_{n}, 0)")


_REP_SQL = (
    r"""
WITH toks AS (
  SELECT doc_id, text, length(trim(text)) * 1.0 AS chars,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS t,
         list_filter(regexp_split_to_array(text, '\n'), l -> trim(l) != '') AS lines
  FROM documents
), lin AS (
  SELECT doc_id,
         len(lines) AS n_lines,
         list_transform(range(1, len(lines) + 1),
                        i -> CASE WHEN COALESCE(list_position(lines[1:i-1], lines[i]), 0) > 0
                                  THEN length(lines[i]) ELSE 0 END) AS dupc,
         list_reduce(list_prepend(0, list_transform(lines, l -> length(l))), (a, b) -> a + b) AS line_chars
  FROM toks
), linf AS (
  SELECT doc_id,
         CASE WHEN n_lines > 0
              THEN round(CAST(len(list_filter(dupc, c -> c > 0)) AS DOUBLE) / n_lines, 9)
              ELSE 0.0 END AS dup_line_frac,
         CASE WHEN line_chars > 0
              THEN round(CAST(list_reduce(list_prepend(0, dupc), (a, b) -> a + b) AS DOUBLE) / line_chars, 9)
              ELSE 0.0 END AS dup_line_char_frac
  FROM lin
), grams AS (
  SELECT doc_id, nn.n AS n, array_to_string(t[ii.i : ii.i + nn.n - 1], ' ') AS gram
  FROM toks,
       (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) nn(n),
       LATERAL unnest(range(1, greatest(len(t) - nn.n + 2, 1))) ii(i)
), gc AS (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, n, gram
), pern AS (
  SELECT doc_id, n,
         max({'c': c, 'l': length(gram), 'g': gram}) AS top,
         SUM(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS dup_chars
  FROM gc GROUP BY doc_id, n
), wide AS (
  SELECT t.doc_id, t.chars,
"""
    + ",\n".join(
        f"         MAX(CASE WHEN p.n = {n} THEN p.top END) AS top_{n},\n"
        f"         MAX(CASE WHEN p.n = {n} THEN p.dup_chars END) AS dup_{n}"
        for n in range(2, 11)
    )
    + r"""
  FROM toks t LEFT JOIN pern p ON t.doc_id = p.doc_id
  GROUP BY t.doc_id, t.chars
)
SELECT w.doc_id,
       linf.dup_line_frac,
       linf.dup_line_char_frac,
"""
    + ",\n".join(f"       {_rep_top(n)} AS top_{n}gram_char_frac" for n in (2, 3, 4))
    + ",\n"
    + ",\n".join(f"       {_rep_dup(n)} AS dup_{n}gram_char_frac" for n in range(5, 11))
    + r""",
       linf.dup_line_frac <= 0.30 AND linf.dup_line_char_frac <= 0.20
"""
    + "".join(
        f"       AND {_rep_top(n)} <= {lim}\n"
        for n, lim in ((2, 0.20), (3, 0.18), (4, 0.16))
    )
    + "".join(
        f"       AND {_rep_dup(n)} <= {lim}\n"
        for n, lim in ((5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10))
    )
    + r"""       AS repetition_ok
FROM wide w JOIN linf ON w.doc_id = linf.doc_id
"""
)


@register("gopher_repetition", oracle=_REP_SQL)
def gopher_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher repetition profile
    (operators/quality_filters.py::gopher_repetition_profile) with all
    fractions rounded to 9 places for the cross-engine hash. Runs the
    ``method="arrow"`` numpy run-count core — bit-equal to the fold
    path (integer run counts, one double division; equivalence pinned
    at sf0.001/0.01/0.1 in tests/test_quality_filters.py and by a
    hypothesis property test), so the fold-semantics oracle still
    hash-matches while the query drops from ~8 s to ~1-3 s at sf0.1
    (VERDICT r05 #1)."""
    from pyspark_unload_to_gcs_spark.operators.quality_filters import (
        gopher_repetition_profile,
    )

    out = gopher_repetition_profile(_t(spark, sf_dir, "documents"), method="arrow")
    frac_cols = [c for c in out.columns if c.endswith("_frac")]
    return out.select(
        "doc_id",
        *[F.round(F.col(c), 9).alias(c) for c in frac_cols],
        "repetition_ok",
    )


# --------------------------------------------------------------------------
# Quality-aware cluster dedup over the exact pair set
# --------------------------------------------------------------------------

from pyspark_unload_to_gcs_spark.registry_extensions import (  # noqa: E402
    _SHINGLE_CTE,
    _shared_exact_pairs,
)

_KEEP_BEST_SQL = f"""
WITH RECURSIVE {_SHINGLE_CTE},
pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
),
edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
),
clustered AS (
  SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
),
ranked AS (
  SELECT d.doc_id, d.n_chars, c.cluster_id,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM documents d JOIN clustered c ON d.doc_id = c.doc_id
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rn = 1
"""


@register("dedup_keep_best_exact", oracle=_KEEP_BEST_SQL)
def dedup_keep_best_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware single-link dedup under a full value oracle:
    clusters from the EXACT >=0.8 pair set (r=1 banding + binomial
    pre-filter, shared with near_dup_clusters_exact), survivor = the
    LONGEST document per cluster (n_chars; ties to the smaller id) via
    operators/graph.py::dedup_keep_best. The oracle replays the
    brute-force closure + a window arg-max."""
    from pyspark_unload_to_gcs_spark.operators.graph import dedup_keep_best

    docs = _t(spark, sf_dir, "documents")
    pairs = _shared_exact_pairs(spark, sf_dir)
    out = dedup_keep_best(docs, pairs, id_column="doc_id", quality_column="n_chars")
    return out.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))


# --------------------------------------------------------------------------
# r06 cohort: streaming foreachBatch replays, driver-faced
# --------------------------------------------------------------------------
#
# Same pattern that drove token_budget_stream_replay green in r05: the
# streaming twins' fold functions are exercised through a DETERMINISTIC
# batch-sequence replay against versioned parquet state, so the
# exactly-once versioned-state machinery itself (not just its batch
# algebra) carries a driver value oracle. Scaffold + memo rationale:
# streaming/replay.py.

_MERGE_REPLAY_SQL = """
SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderkey % 3 = 0
            THEN (CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END) + 0.5
            ELSE (CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END)
       END AS o_totalprice
FROM orders WHERE o_orderkey % 7 != 0
"""


@register("merge_stream_replay", oracle=_MERGE_REPLAY_SQL)
def merge_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming MERGE twin (streaming/merge.py ``merge_batch``)
    replayed over three deterministic change micro-batches:

    - batch 0: INSERT every order with key % 10 != 0;
    - batch 1: updates for key % 5 == 0 arriving as the export's
      DELETE-preimage + INSERT-postimage pair (price + 1.0) at one
      sequence number — the collapse must pick the INSERT via the
      change-type tie-break — PLUS a stale lower-sequence INSERT with a
      poisoned price that last-change-wins must discard; and fresh
      INSERTs for the key % 10 == 0 rows held out of batch 0, arriving
      with their already-updated (+1.0) price — every surviving
      % 5 == 0 key therefore carries the bump regardless of which
      batch introduced it;
    - batch 2: DELETEs for key % 7 == 0 and a second update wave
      (+0.5) for key % 3 == 0 survivors.

    The final snapshot equals a closed-form SQL expression over orders
    (keys % 7 != 0; price + 1.0 for % 5 == 0, then + 0.5 for % 3 == 0 —
    additions associated exactly as the postimages computed them), so
    the versioned-state fold, the per-batch collapse, and
    apply_changes' anti-join/union all carry the driver hash. Batch
    construction float arithmetic and the oracle use the same IEEE
    association."""
    from pyspark_unload_to_gcs_spark.operators.cdc import (
        DELETE,
        EXPORT_CHANGE_TYPE_COLUMN,
        INSERT,
    )
    from pyspark_unload_to_gcs_spark.streaming.merge import merge_batch, read_snapshot
    from pyspark_unload_to_gcs_spark.streaming.replay import replay_batches

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    ct = EXPORT_CHANGE_TYPE_COLUMN

    def change(df, kind, seq):
        return df.withColumn(ct, F.lit(kind)).withColumn("__seq", F.lit(seq))

    price_b1 = F.when(k % 5 == 0, F.col("o_totalprice") + 1.0).otherwise(
        F.col("o_totalprice")
    )
    b0 = change(base.filter(k % 10 != 0), INSERT, 0)
    upd = base.filter((k % 5 == 0) & (k % 10 != 0))
    b1 = (
        change(upd, DELETE, 10)
        .unionByName(change(upd.withColumn("o_totalprice", F.col("o_totalprice") + 1.0), INSERT, 10))
        .unionByName(change(upd.withColumn("o_totalprice", F.lit(-99.0)), INSERT, 9))
        .unionByName(
            change(
                base.filter(k % 10 == 0).withColumn(
                    "o_totalprice", F.col("o_totalprice") + 1.0
                ),
                INSERT,
                10,
            )
        )
    )
    upd2 = base.filter((k % 3 == 0) & (k % 7 != 0)).withColumn(
        "o_totalprice", price_b1 + 0.5
    )
    b2 = (
        change(base.filter(k % 7 == 0), DELETE, 20)
        .unionByName(change(upd2, DELETE, 20))
        .unionByName(change(upd2, INSERT, 20))
    )
    snap = replay_batches(
        spark,
        ("merge_replay", sf_dir),
        (b0, b1, b2),
        lambda frame, i, state: merge_batch(
            frame,
            i,
            key_columns=["o_orderkey"],
            sequence_column="__seq",
            state_path=state,
        ),
        lambda state: read_snapshot(spark, state),
        prefix="merge_stream_replay_",
    )
    return snap.select("o_orderkey", "o_orderstatus", "o_totalprice")


_ROLLUP_REPLAY_SQL = """
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_value
FROM events
GROUP BY event_type
"""


@register("rollup_stream_replay", oracle=_ROLLUP_REPLAY_SQL)
def rollup_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming incremental-rollup twin (streaming/rollup.py
    ``fold_batch``) replayed over four deterministic micro-batches
    (event_id % 4, folded in order against versioned parquet state):
    the final state, finalized, must equal a direct full-scan
    aggregation — proving the versioned read-fold-overwrite protocol
    (not just the state algebra, which ``incremental_rollup_merge``
    already pins) preserves exactness across batch boundaries. Exact
    DECIMAL state sums make the comparison fold-order-free."""
    from pyspark_unload_to_gcs_spark.operators.incremental import finalize_state
    from pyspark_unload_to_gcs_spark.streaming.replay import replay_batches
    from pyspark_unload_to_gcs_spark.streaming.rollup import fold_batch, read_state

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("event_id") % 4).alias("__b")
    )
    final = replay_batches(
        spark,
        ("rollup_replay", sf_dir),
        [ev.filter(F.col("__b") == b).drop("__b") for b in range(4)],
        lambda frame, b, state: fold_batch(
            frame,
            b,
            keys=["event_type"],
            value_column="value",
            state_path=state,
        ),
        lambda state: read_state(spark, state),
        prefix="rollup_stream_replay_",
    )
    return finalize_state(final, ["event_type"])


# --------------------------------------------------------------------------
# Incremental sessionization replay
# --------------------------------------------------------------------------

_SESSION_REPLAY_SQL = """
WITH ts AS (
    SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
), marked AS (
    SELECT user_id, ts_ms,
           CASE WHEN lag(ts_ms) OVER w IS NULL
                     OR ts_ms - lag(ts_ms) OVER w > 1800000
                THEN 1 ELSE 0 END AS is_start
    FROM ts
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
), sessions AS (
    SELECT user_id, ts_ms,
           CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts_ms
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM marked
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(ts_ms) AS start_ms,
       MAX(ts_ms) AS end_ms,
       MAX(ts_ms) - MIN(ts_ms) AS duration_ms
FROM sessions
GROUP BY user_id, session_seq
"""


@register("sessionize_stream_replay", oracle=_SESSION_REPLAY_SQL)
def sessionize_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned-state incremental sessionizer
    (streaming/sessionize_fold.py ``fold_batch``) replayed over two
    event-time-ordered micro-batches (a fixed mid-Jan-2024 boundary,
    satisfying the per-user cross-batch ordering precondition), then
    finalized: the closed-session log + finalized opens must equal the
    direct batch sessionization — the same oracle the batch
    ``sessionization`` query carries. This gives the sessions family a
    driver-faced state-protocol check (rollup and MERGE got theirs in
    r06), covering cross-batch session continuation, gap-split across
    the batch boundary, and users absent from a batch.
    (Trimmed 4 → 3 folds in r09 per VERDICT r08 #4 and 3 → 2 in r15
    per VERDICT r14 #1 — each sequential fold is a full state
    read+shuffle+write, and ONE boundary already exercises every
    cross-batch transition; the protocol's retry/ordering edge cases
    live in tests/test_streaming.py.)"""
    from pyspark_unload_to_gcs_spark.streaming.replay import replay_batches
    from pyspark_unload_to_gcs_spark.streaming.sessionize_fold import (
        fold_batch,
        read_sessions,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    bound = "2024-01-16"
    batches = [
        ev.filter(F.col("ts") < bound),
        ev.filter(F.col("ts") >= bound),
    ]
    return replay_batches(
        spark,
        ("session_replay", sf_dir),
        batches,
        lambda frame, b, state: fold_batch(frame, b, state_path=state),
        lambda state: read_sessions(spark, state),
        prefix="sessionize_stream_replay_",
    )


_RETENTION_REPLAY_SQL = """
WITH per AS (
    SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS period
    FROM events
),
coh AS (
    SELECT user_id, MIN(period) AS cohort_period FROM per GROUP BY user_id
)
SELECT coh.cohort_period,
       per.period - coh.cohort_period AS period_offset,
       COUNT(DISTINCT per.user_id) AS n_users
FROM per JOIN coh ON coh.user_id = per.user_id
GROUP BY coh.cohort_period, period_offset
"""


@register("retention_stream_replay", oracle=_RETENTION_REPLAY_SQL)
def retention_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming retention fold (streaming/retention.py
    ``fold_periods_batch``) replayed over four micro-batches split by
    ``event_id % 4`` — deliberately NOT time-ordered, because the
    user-period state is a SET UNION (idempotent + commutative): late
    events, redelivery, and arbitrary batch interleaving must produce
    the same matrix, and this replay drives that claim through the real
    versioned-state protocol. The final matrix must equal the batch
    ``retention_cohorts`` answer (same oracle)."""
    from pyspark_unload_to_gcs_spark.streaming.replay import replay_batches
    from pyspark_unload_to_gcs_spark.streaming.retention import (
        current_retention_matrix,
        fold_periods_batch,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", (F.col("event_id") % 4).alias("__b")
    )
    return replay_batches(
        spark,
        ("retention_replay", sf_dir),
        [ev.filter(F.col("__b") == b).drop("__b") for b in range(4)],
        lambda frame, b, state: fold_periods_batch(frame, b, state_path=state),
        lambda state: current_retention_matrix(spark, state),
        prefix="retention_stream_replay_",
    )


# --------------------------------------------------------------------------
# Corpus-wide repeated-span removal
# --------------------------------------------------------------------------

_SPAN_K, _SPAN_M = 10, 2

_SPAN_DEDUP_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS toks
  FROM documents
),
w AS (
  SELECT doc_id, i AS s, array_to_string(toks[i:i+{_SPAN_K - 1}], chr(1)) AS wc
  FROM tok, LATERAL unnest(generate_series(1, greatest(len(toks)-{_SPAN_K - 1}, 0))) AS t(i)
),
rep AS (SELECT wc FROM w GROUP BY wc HAVING count(*) >= {_SPAN_M}),
starts AS (
  SELECT doc_id, list_sort(list(s)) AS ss
  FROM w WHERE wc IN (SELECT wc FROM rep) GROUP BY doc_id
),
final AS (
  SELECT t.doc_id, t.toks, COALESCE(ss, CAST([] AS BIGINT[])) AS ss
  FROM tok t LEFT JOIN starts USING (doc_id)
),
kept AS (
  SELECT doc_id, toks, ss,
         list_filter(generate_series(1, len(toks)),
                     p -> len(list_filter(ss, s -> s <= p AND p < s + {_SPAN_K})) = 0) AS kp
  FROM final
)
SELECT doc_id,
       CAST(len(ss) AS BIGINT) AS n_repeated_windows,
       CAST(len(toks) - len(kp) AS BIGINT) AS n_tokens_removed,
       COALESCE(array_to_string(list_transform(kp, p -> toks[p]), ' '), '') AS clean_text
FROM kept
"""


@register("repeated_span_dedup", oracle=_SPAN_DEDUP_SQL)
def repeated_span_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact repeated-span removal (operators/dedup.py
    ``repeated_span_dedup``; Lee et al. 2022 substring dedup at window
    granularity): every 10-token window occurring >= 2 times anywhere
    in the corpus is cut from every document. Full value oracle — the
    DuckDB side replays window extraction on token CONTENT (the Spark
    side's rolling 64-bit identities are collision-exact), corpus-wide
    counting, per-doc interval union, and the cleaned-text rebuild.
    ~47 of 500 fixture docs carry repeated spans at sf0.01 (the planted
    near-duplicates share long exact runs), so the cut path is
    exercised non-vacuously, including fully-removed documents (DuckDB
    empty-list array_to_string is NULL, hence the COALESCE)."""
    from pyspark_unload_to_gcs_spark.operators.dedup import repeated_span_dedup

    # memoized per (session, sf_dir): the operator persists its staged
    # token frame for the session (materialization contract), so plan
    # probes / audits / repeated driver calls must share ONE cached
    # frame instead of leaking one per invocation
    return session_memo(
        spark,
        ("span_dedup", sf_dir),
        lambda: repeated_span_dedup(
            _t(spark, sf_dir, "documents"),
            span_tokens=_SPAN_K,
            min_repeats=_SPAN_M,
        ),
    )


# --------------------------------------------------------------------------
# BPE tokenizer: training replay + corpus tokenization
# --------------------------------------------------------------------------

_BPE_MERGES = 8  # unrolled-CTE depth in the oracle; keep train/oracle in sync


def _bpe_state_ctes(k: int) -> str:
    """Unrolled DuckDB replay of the BPE training recurrence — one
    (pairs, top-1, replace) CTE triple per merge, the same pattern as
    the PageRank oracle. The symbol state is the delimiter-wrapped
    string of operators/bpe.py: chr(31)=OPEN, chr(30)=CLOSE, so one
    merge is one literal ``replace`` with identical greedy
    left-to-right semantics in DuckDB and Spark."""
    parts = [
        """
WITH wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS weight FROM (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x != '')) AS word
    FROM documents) GROUP BY word
), s0 AS MATERIALIZED (
  SELECT word, weight,
         array_to_string(list_transform(list_append(string_split(word, ''), '</w>'),
                                        c -> chr(31) || c || chr(30)), '') AS state
  FROM wc
)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", p{i} AS (
  SELECT z[1] AS a, z[2] AS b, CAST(SUM(weight) AS BIGINT) AS cnt
  FROM (
    SELECT weight, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
    FROM (SELECT weight,
                 string_split(substring(state, 2, length(state) - 2),
                              chr(30) || chr(31)) AS l
          FROM s{i - 1})
    WHERE len(l) >= 2
  ) GROUP BY 1, 2
), m{i} AS (
  SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1
), mm{i} AS (
  -- ungrouped aggregate: guaranteed ONE row even when training
  -- exhausts before merge {i} (empty m{i} -> MAX is NULL -> chr(0),
  -- which never occurs in a state, so the replace is a no-op instead
  -- of the CROSS JOIN deleting every word state). Single reference to
  -- m{i} — per-step scalar subqueries re-evaluated the CTE chain
  -- exponentially across the 8 unrolled steps.
  SELECT COALESCE(MAX(chr(31) || a || chr(30) || chr(31) || b || chr(30)), chr(0)) AS pat,
         COALESCE(MAX(chr(31) || a || b || chr(30)), chr(0)) AS rep
  FROM m{i}
), s{i} AS MATERIALIZED (
  SELECT word, weight, replace(state, mm.pat, mm.rep) AS state
  FROM s{i - 1} CROSS JOIN mm{i} mm
)"""
        )
    return "".join(parts)


_BPE_TRAIN_SQL = _bpe_state_ctes(_BPE_MERGES) + "\nSELECT * FROM (\n" + "\n  UNION ALL ".join(
    f"SELECT CAST({i} AS BIGINT) AS rank, a, b, cnt AS pair_count FROM m{i}"
    for i in range(1, _BPE_MERGES + 1)
) + "\n) ORDER BY rank\n"


_BPE_COUNTS_SQL = _bpe_state_ctes(_BPE_MERGES) + f"""
, pieces AS (
  SELECT word,
         CAST(len(string_split(substring(state, 2, length(state) - 2),
                               chr(30) || chr(31))) AS BIGINT) AS n_pieces_word
  FROM s{_BPE_MERGES}
), doc_words AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    x -> x != '')) AS word
  FROM documents
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(n_pieces_word) AS BIGINT) AS n_pieces
  FROM doc_words JOIN pieces USING (word)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_words, 0) AS n_words,
       COALESCE(p.n_pieces, 0) AS n_pieces
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def _trained_merges(spark: SparkSession, sf_dir: str) -> list:
    """Train once per (session, sf_dir) and share between the two BPE
    queries — the merge table is the whole point of the memo precedent
    (_shared_signatures): both queries must see the SAME trained state,
    and training is the expensive half."""
    from pyspark_unload_to_gcs_spark.operators.bpe import bpe_train

    return session_memo(
        spark,
        ("bpe_merges", sf_dir),
        lambda: bpe_train(
            _t(spark, sf_dir, "documents"),
            text_column="text",
            num_merges=_BPE_MERGES,
            with_counts=True,
        ),
    )


@register("bpe_train_merges", oracle=_BPE_TRAIN_SQL)
def bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training on the documents corpus (operators/
    bpe.py; Sennrich arXiv 1508.07909), 8 merges, emitted as
    (rank, a, b, pair_count) rows. FULL value oracle: because one merge
    application is one literal delimiter-wrapped ``replace``, DuckDB
    replays the entire training recurrence with an unrolled CTE per
    merge — the trainer's pair ranking, tie rule (count DESC, a, b)
    and greedy merge application are all driver-red-able, not just
    spot-checked. The Spark side goes through the size-gated
    ``bpe_train`` entry (driver-side indexed trainer under the 2M-word
    gate, distributed replace loop above it; both pinned equal in
    tests/test_bpe.py)."""
    merges = _trained_merges(spark, sf_dir)
    rows = [
        (i + 1, a, b, int(cnt)) for i, (a, b, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank bigint, a string, b string, pair_count bigint"
    )


@register("bpe_tokenize_counts", oracle=_BPE_COUNTS_SQL)
def bpe_tokenize_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with the trained merge table: per-document
    (n_words, n_pieces) through the vocabulary-cached encode path
    (operators/bpe.py ``bpe_encode_counts`` — distinct words encoded
    once by an Arrow mapInPandas, joined back to the exploded corpus,
    one hash aggregate per doc). Any drift in merge replay order,
    greedy application, the vocab cache join, or zero-word document
    handling changes the counts -> driver-red. Oracle replays training
    AND encoding in DuckDB (encode of a training word == its final
    trained state, byte-for-byte — the invariant tests/test_bpe.py
    pins)."""
    from pyspark_unload_to_gcs_spark.operators.bpe import bpe_encode_counts

    merges = [(a, b) for a, b, _ in _trained_merges(spark, sf_dir)]
    return bpe_encode_counts(
        _t(spark, sf_dir, "documents"), merges, text_column="text", id_column="doc_id"
    )


# --------------------------------------------------------------------------
# Hashed-feature linear classifier scoring
# --------------------------------------------------------------------------

_CLS_BUCKETS = 4096


def _duckdb_token_bucket(expr: str, buckets: int) -> str:
    """The DuckDB twin of ``operators/classifier.token_bucket`` (first
    32 bits of md5, parsed base-16, mod buckets) — ONE maintained
    spelling shared by every oracle that hashes features."""
    return (
        "list_sum(list_transform(generate_series(1, 8),\n"
        f"             i -> CAST(strpos('0123456789abcdef', substring(md5({expr}), i, 1)) - 1\n"
        f"                       AS BIGINT) << (4 * (8 - i)))) % {buckets}"
    )


_CLS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x != '')) AS token
  FROM documents
), feats AS (
  SELECT doc_id,
         {_duckdb_token_bucket("token", _CLS_BUCKETS)} AS bucket
  FROM toks
), scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM((bucket * 2654435761) % 1000003 - 500001) AS BIGINT) AS sum_micro
  FROM feats GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(s.sum_micro, 0) AS BIGINT) AS margin_micro,
       round(CAST(COALESCE(s.sum_micro, 0) AS DOUBLE) / 1000000, 9) AS margin
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


@register("quality_classifier_margin", oracle=_CLS_SQL)
def quality_classifier_margin_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fasttext-style hashed-feature linear classifier scoring
    (operators/classifier.py): token -> md5-derived feature bucket ->
    broadcast weight join -> exact BIGINT per-doc accumulation -> one
    division. FULL value oracle: the md5 bucket hash and the integer
    micro-unit weights are replayable bit-exactly in DuckDB, so the
    entire scoring pass — hashing, weight lookup, aggregation,
    zero-token document handling — is driver-red-able. The weight
    table here is the deterministic synthetic scramble
    (``synthetic_weights``); production passes an offline-trained
    table of the same (bucket, w_micro) shape through the identical
    plan."""
    from pyspark_unload_to_gcs_spark.operators.classifier import (
        linear_text_classifier,
        synthetic_weights,
    )

    return linear_text_classifier(
        _t(spark, sf_dir, "documents"),
        synthetic_weights(spark, _CLS_BUCKETS),
        num_buckets=_CLS_BUCKETS,
        text_column="text",
        id_column="doc_id",
    )


# --------------------------------------------------------------------------
# n-gram diversity profile
# --------------------------------------------------------------------------

_DIVERSITY_SQL = """
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents
), g1 AS (
  SELECT source, 1 AS gram_n, unnest(t) AS gram FROM toks
), g2 AS (
  SELECT source, 2 AS gram_n,
         unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
                               z -> z[1] || ' ' || z[2])) AS gram
  FROM toks WHERE len(t) >= 2
), g3 AS (
  SELECT source, 3 AS gram_n,
         unnest(list_transform(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]),
                               z -> z[1] || ' ' || z[2] || ' ' || z[3])) AS gram
  FROM toks WHERE len(t) >= 3
), allg AS (
  SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3
)
SELECT source, CAST(gram_n AS BIGINT) AS gram_n,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
       round(CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*), 9) AS diversity
FROM allg
GROUP BY source, gram_n
"""


@register("ngram_diversity", oracle=_DIVERSITY_SQL)
def ngram_diversity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, gram size) type-token diversity profile
    (operators/text.py ``ngram_diversity``): the corpus-health metric
    that flags template-heavy / synthetic-looped slices. Full value
    oracle — token counts, distinct 1/2/3-gram counts, and the ratio
    are replayed in DuckDB over the same alnum tokenization."""
    from pyspark_unload_to_gcs_spark.operators.text import ngram_diversity

    return ngram_diversity(
        _t(spark, sf_dir, "documents"), text_column="text", group_column="source"
    )


_DIVERSITY_ACCURACY_SQL = """
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents
), dims AS (
  SELECT source, 1 AS gram_n FROM toks WHERE len(t) >= 1
  UNION SELECT source, 2 FROM toks WHERE len(t) >= 2
  UNION SELECT source, 3 FROM toks WHERE len(t) >= 3
)
SELECT source, CAST(gram_n AS BIGINT) AS gram_n,
       TRUE AS totals_equal, TRUE AS within_5pct
FROM dims
"""


@register("ngram_diversity_approx_accuracy", oracle=_DIVERSITY_ACCURACY_SQL)
def ngram_diversity_approx_accuracy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy pin for the PRODUCTION approx diversity path (the
    repo's approximate-operator contract: every approx path gets a
    driver-red-able twin). Calls the real ``ngram_diversity(approx=
    True, rsd=0.02)`` — not a recomputed sketch — FULL-outer-joins it
    against the exact twin on (source, gram_n) so an extra or missing
    dimension breaks the row count, and emits tolerance booleans:
    exact token totals must be EQUAL (the count side shares no HLL),
    and the HLL distinct estimate must sit within 5% of exact
    (measured max 3.0% across sf0.001/0.01/0.1; HLL is hash-based and
    deterministic per dataset, so the boolean is stable). Oracle =
    the exact dimension set with constant TRUE."""
    from pyspark_unload_to_gcs_spark.operators.text import ngram_diversity

    docs = _t(spark, sf_dir, "documents")
    exact = ngram_diversity(docs).select(
        "source", "gram_n",
        F.col("n_grams").alias("n_grams_e"),
        F.col("n_distinct").alias("n_distinct_e"),
    )
    approx = ngram_diversity(docs, approx=True, rsd=0.02).select(
        "source", "gram_n",
        F.col("n_grams").alias("n_grams_a"),
        F.col("n_distinct").alias("n_distinct_a"),
    )
    joined = exact.join(approx, ["source", "gram_n"], "full_outer")
    return joined.select(
        "source",
        F.col("gram_n").cast("long").alias("gram_n"),
        (F.col("n_grams_e") == F.col("n_grams_a")).alias("totals_equal"),
        (
            F.abs(F.col("n_distinct_a") - F.col("n_distinct_e")).cast("double")
            / F.col("n_distinct_e")
            <= 0.05
        ).alias("within_5pct"),
    )


# --------------------------------------------------------------------------
# REAL media decode under a closed-form oracle
# --------------------------------------------------------------------------
#
# The decode capability for uncompressed formats is REAL in this
# environment (operators/multimodal.py decode_wav/decode_bmp: struct +
# numpy parsers — header walk, endianness, channel de-interleave, row
# padding, bottom-up raster). To make it driver-red-able, each doc gets
# deterministically synthesized media bytes (closed-form integer sample
# and pixel functions of doc_id), the REAL parser decodes them, and the
# DuckDB oracle computes the same statistics from the closed forms —
# any parser offset/endianness/padding/interleave bug shifts the
# integer sums and turns the row red. Encoder and parser are written
# independently (fixed-format writer vs chunk-walking reader).

_WAV_SQL = """
WITH params AS (
  SELECT doc_id,
         1 + doc_id % 2 AS ch,
         200 + doc_id % 53 AS n_frames
  FROM documents
), samples AS (
  SELECT doc_id, ch, n_frames,
         unnest(generate_series(0, ch * n_frames - 1)) AS j
  FROM params
), vals AS (
  SELECT doc_id, ch, n_frames,
         (doc_id * 31 + j * 7) % 2048 - 1024 AS s
  FROM samples
)
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(MIN(ch) AS INTEGER) AS n_channels,
       CAST(16 AS INTEGER) AS bit_depth,
       CAST(MIN(n_frames) AS BIGINT) AS n_frames,
       CAST(MIN(n_frames) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs
FROM vals
GROUP BY doc_id
"""


@register("wav_decode_stats", oracle=_WAV_SQL)
def wav_decode_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV/PCM16 decode under a full value oracle: per document a
    deterministic PCM ramp (mono/stereo alternating by doc_id) is
    encoded to canonical RIFF bytes and parsed back by the real
    chunk-walking decoder (operators/multimodal.py::decode_wav); the
    oracle recomputes header fields and integer-exact sample stats
    from the closed-form sample function. This is the uncompressed-
    format half of the media-decode capability — compressed codecs
    remain env-gated stubs, documented as such."""
    from pyspark_unload_to_gcs_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                d = int(d)
                ch = 1 + d % 2
                n = 200 + d % 53
                samples = [((d * 31 + j * 7) % 2048) - 1024 for j in range(ch * n)]
                payloads.append(encode_wav_pcm16(samples, 8000, n_channels=ch))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    synthesized = docs.mapInPandas(synth, "doc_id long, payload binary")
    return decode_wav(synthesized)


_BMP_SQL = """
WITH params AS (
  SELECT doc_id, 5 + doc_id % 16 AS w, 3 + doc_id % 7 AS h
  FROM documents
), px AS (
  SELECT doc_id, w, h,
         unnest(generate_series(0, w * h - 1)) AS p
  FROM params
), vals AS (
  SELECT doc_id, w, h,
         (doc_id + 3 * (p % w) + 17 * (p // w)) % 256 AS r,
         (doc_id * 5 + (p % w)) % 256 AS g,
         (doc_id * 7 + (p // w)) % 256 AS b
  FROM px
)
SELECT doc_id,
       CAST(MIN(w) AS INTEGER) AS width,
       CAST(MIN(h) AS INTEGER) AS height,
       CAST(MIN(w) * MIN(h) AS BIGINT) AS n_pixels,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b
FROM vals
GROUP BY doc_id
"""


@register("bmp_decode_stats", oracle=_BMP_SQL)
def bmp_decode_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 24-bit BMP decode under a full value oracle: deterministic
    per-doc pixel field (width 5-20 exercises every 4-byte row-padding
    residue; bottom-up BGR raster written by the independent encoder),
    parsed by the real decoder; oracle recomputes dimensions and
    per-channel BIGINT sums from the closed-form pixel functions."""
    from pyspark_unload_to_gcs_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp24,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for d in ids:
                d = int(d)
                w, h = 5 + d % 16, 3 + d % 7
                px = [
                    [((d + 3 * x + 17 * y) % 256, (d * 5 + x) % 256, (d * 7 + y) % 256)
                     for x in range(w)]
                    for y in range(h)
                ]
                payloads.append(encode_bmp24(px))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    synthesized = docs.mapInPandas(synth, "doc_id long, payload binary")
    return decode_bmp(synthesized)


# --------------------------------------------------------------------------
# Product-quantization ANN top-k
# --------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_SUB = 4, 16, 16  # m subspaces, k codes, dim 64 -> sub 16

def _pq_shared(spark: SparkSession, sf_dir: str):
    """Session-shared PQ/IVF index build: the corpus coarse-assigned to
    16 IVF cells AND encoded to m=4 PQ codes, persisted once per
    (session, sf_dir) — the encode-once-query-many index pattern that
    is the entire point of PQ at 100 TB (codes are written next to the
    data; queries scan codes, never re-encode). Both registered PQ
    queries read this frame; bench.py builds it in a NAMED WARMUP so
    the one-time index cost is reported as its own line item (the
    shared-signatures / bucketed-layout precedent) instead of being
    billed to whichever query runs first. Returns (encoded_frame,
    centroids, codebooks, query_vector)."""
    from pyspark_unload_to_gcs_spark.operators import similarity as S

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") != 0)
        q = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
        ]
        centroids = S.ivf_centroids_from_sample(corpus, n_centroids=_PQ_K)
        codebooks = S.pq_codebooks_from_sample(
            corpus, m=_PQ_M, k=_PQ_K, seeds=centroids
        )
        enc = S.pq_encode(S.ivf_assign(corpus, centroids), codebooks).persist()
        enc.count()
        return enc, centroids, codebooks, q

    return session_memo(spark, ("pq_shared", sf_dir), build)



def _pq_oracle() -> str:
    from pyspark_unload_to_gcs_spark.registry_extensions import _DOT, _SS

    m, sub = _PQ_M, _PQ_SUB
    vslice = "b.v[cu.s * {sub} + 1 : (cu.s + 1) * {sub}]".format(sub=sub)
    qslice = "qv.qv[cu.s * {sub} + 1 : (cu.s + 1) * {sub}]".format(sub=sub)
    d_cols = ", ".join(
        f"MAX(CASE WHEN a.s = {s} THEN l.d END) AS d{s}, "
        f"MAX(CASE WHEN a.s = {s} THEN l.ss END) AS ss{s}"
        for s in range(m)
    )
    dsum = "(((d0 + d1) + d2) + d3)"
    sssum = "(((ss0 + ss1) + ss2) + ss3)"
    score = (
        f"CASE WHEN sqrt({sssum}) = 0 THEN 0.0 "
        f"ELSE {dsum} / (qn.qn * sqrt({sssum})) END"
    )
    return f"""
    WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    qn AS (
      SELECT CASE WHEN sqrt({_SS.format(a="qv")}) = 0 THEN 1.0
                  ELSE sqrt({_SS.format(a="qv")}) END AS qn
      FROM qv
    ),
    cbv AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS j,
             CAST(embedding AS DOUBLE[]) AS c
      FROM embeddings WHERE vec_id != 0 ORDER BY vec_id ASC LIMIT {_PQ_K}
    ),
    cb AS (
      SELECT sub.s, cbv.j, cbv.c[sub.s * {sub} + 1 : (sub.s + 1) * {sub}] AS cs
      FROM cbv, (SELECT unnest(generate_series(0, {m - 1})) AS s) sub
    ),
    cbn AS (
      SELECT s, j, cs,
             CASE WHEN sqrt({_SS.format(a="cs")}) = 0 THEN 1.0
                  ELSE sqrt({_SS.format(a="cs")}) END AS n
      FROM cb
    ),
    cbu AS (SELECT s, j, cs, list_transform(cs, x -> x / n) AS u FROM cbn),
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id != 0
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, s, j FROM (
        SELECT b.vec_id, cu.s, cu.j,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id, cu.s
                 ORDER BY {_DOT.format(a=vslice, b="cu.u")} DESC, cu.j DESC
               ) AS rn
        FROM base b, cbu cu
      ) WHERE rn = 1
    ),
    luts AS MATERIALIZED (
      SELECT cu.s, cu.j,
             {_DOT.format(a=qslice, b="cu.cs")} AS d,
             {_SS.format(a="cu.cs")} AS ss
      FROM cbu cu, qv
    ),
    per_vec AS (
      SELECT a.vec_id, {d_cols}
      FROM assigned a JOIN luts l ON a.s = l.s AND a.j = l.j
      GROUP BY a.vec_id
    )
    SELECT vec_id, round({score}, 6) AS pq_score_r
    FROM per_vec, qn
    ORDER BY {score} DESC, vec_id ASC
    LIMIT 10
    """


@register("vector_topk_pq", oracle=_pq_oracle())
def vector_topk_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 (operators/similarity.py
    ``pq_codebooks_from_sample``/``pq_encode``/``pq_topk``; Jegou et
    al. TPAMI 2011): vectors compress to m=4 sub-space codes through
    the shared ``ivf_assign`` machinery, the full-precision query
    scores code rows via literal lookup tables (ADC — cosine against
    the reconstructed vector), m ``element_at`` lookups + a fixed-order
    sum per row. FULL value oracle: DuckDB reconstructs the sampled
    codebooks, replays the per-subspace argmax assignment (same tie
    rule as the IVF oracle), recomputes the LUT values from the
    codebook literals and the left-associated score sum, and takes the
    same top-10."""
    from pyspark_unload_to_gcs_spark.operators import similarity as S

    enc, _centroids, codebooks, q = _pq_shared(spark, sf_dir)
    out = S.pq_topk(enc.drop("ivf_cell"), q, k=10, codebooks=codebooks)
    return out.select("vec_id", F.round("pq_score", 6).alias("pq_score_r"))


def _ivfpq_oracle() -> str:
    """Composed replay: the IVF oracle's coarse probe restriction
    (16 centroids, 4 probes, full-vector argmax) feeding the PQ
    oracle's per-subspace assignment + LUT scoring, both over the same
    sampled seeds. Spines MATERIALIZED (lore #27)."""
    from pyspark_unload_to_gcs_spark.registry_extensions import _DOT, _SS

    m, sub = _PQ_M, _PQ_SUB
    vslice = f"b.v[cu.s * {sub} + 1 : (cu.s + 1) * {sub}]"
    qslice = f"qv.qv[cu.s * {sub} + 1 : (cu.s + 1) * {sub}]"
    d_cols = ", ".join(
        f"MAX(CASE WHEN a.s = {s} THEN l.d END) AS d{s}, "
        f"MAX(CASE WHEN a.s = {s} THEN l.ss END) AS ss{s}"
        for s in range(m)
    )
    dsum = "(((d0 + d1) + d2) + d3)"
    sssum = "(((ss0 + ss1) + ss2) + ss3)"
    score = (
        f"CASE WHEN sqrt({sssum}) = 0 THEN 0.0 "
        f"ELSE {dsum} / (qn.qn * sqrt({sssum})) END"
    )
    return f"""
    WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    qn AS (
      SELECT CASE WHEN sqrt({_SS.format(a="qv")}) = 0 THEN 1.0
                  ELSE sqrt({_SS.format(a="qv")}) END AS qn
      FROM qv
    ),
    cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS cell,
             CAST(embedding AS DOUBLE[]) AS c
      FROM embeddings WHERE vec_id != 0 ORDER BY vec_id ASC LIMIT 16
    ),
    centn AS (
      SELECT cell, c,
             CASE WHEN sqrt({_SS.format(a="c")}) = 0
                  THEN 1.0 ELSE sqrt({_SS.format(a="c")}) END AS n
      FROM cent
    ),
    centu AS (SELECT cell, c, n, list_transform(c, x -> x / n) AS u FROM centn),
    probes AS (
      -- (q*c)/n term order, matching the python probe ranking exactly
      -- (a*(x/n) rounds differently in the last ulp)
      SELECT cell FROM centu, qv
      ORDER BY list_reduce(list_transform(list_zip(qv.qv, centu.c),
                                          z -> z[1] * z[2] / centu.n),
                           (x, y) -> x + y) DESC,
               cell ASC
      LIMIT 4
    ),
    base0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id != 0
    ),
    coarse AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT b.vec_id, cu.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY {_DOT.format(a="b.v", b="cu.u")} DESC, cu.cell DESC
               ) AS rn
        FROM base0 b, centu cu
      ) WHERE rn = 1
    ),
    base AS MATERIALIZED (
      SELECT b.vec_id, b.v FROM base0 b
      JOIN coarse co ON b.vec_id = co.vec_id
      JOIN probes p ON co.cell = p.cell
    ),
    cbv AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS j,
             CAST(embedding AS DOUBLE[]) AS c
      FROM embeddings WHERE vec_id != 0 ORDER BY vec_id ASC LIMIT {_PQ_K}
    ),
    cb AS (
      SELECT sub.s, cbv.j, cbv.c[sub.s * {sub} + 1 : (sub.s + 1) * {sub}] AS cs
      FROM cbv, (SELECT unnest(generate_series(0, {m - 1})) AS s) sub
    ),
    cbu AS (
      SELECT s, j, cs,
             list_transform(cs, x -> x / (CASE WHEN sqrt({_SS.format(a="cs")}) = 0
                                               THEN 1.0 ELSE sqrt({_SS.format(a="cs")}) END)) AS u
      FROM cb
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, s, j FROM (
        SELECT b.vec_id, cu.s, cu.j,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id, cu.s
                 ORDER BY {_DOT.format(a=vslice, b="cu.u")} DESC, cu.j DESC
               ) AS rn
        FROM base b, cbu cu
      ) WHERE rn = 1
    ),
    luts AS MATERIALIZED (
      SELECT cu.s, cu.j,
             {_DOT.format(a=qslice, b="cu.cs")} AS d,
             {_SS.format(a="cu.cs")} AS ss
      FROM cbu cu, qv
    ),
    per_vec AS (
      SELECT a.vec_id, {d_cols}
      FROM assigned a JOIN luts l ON a.s = l.s AND a.j = l.j
      GROUP BY a.vec_id
    )
    SELECT vec_id, round({score}, 6) AS pq_score_r
    FROM per_vec, qn
    ORDER BY {score} DESC, vec_id ASC
    LIMIT 10
    """


@register("vector_topk_ivfpq", oracle=_ivfpq_oracle())
def vector_topk_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 100 TB vector-search layout: IVF coarse cells
    prune the corpus to 4 probed cells of 16 (partition pruning at
    scale), then PQ ADC scores only the surviving code rows — the scan
    touches n_probe/n_centroids of the data AND reads m-code rows
    instead of full vectors. Both stages run through the shared
    oracle-replayable machinery (``ivf_assign`` coarse + per-subspace;
    ``pq_topk`` LUT scoring); the oracle replays coarse centroid pick,
    probe selection, cell restriction, per-subspace assignment, LUT
    values, and the left-associated score in one composed SQL."""
    from pyspark_unload_to_gcs_spark.operators import similarity as S

    enc, centroids, codebooks, q = _pq_shared(spark, sf_dir)

    import math

    def unit_dot(vec):
        n = math.sqrt(sum(x * x for x in vec)) or 1.0
        return sum(float(a) * x / n for a, x in zip(q, vec))

    probe_ids = [c[0] for c in sorted(centroids, key=lambda c: (-unit_dot(c[1]), c[0]))[:4]]
    pruned = enc.filter(F.col("ivf_cell").isin(probe_ids)).drop("ivf_cell")
    out = S.pq_topk(pruned, q, k=10, codebooks=codebooks)
    return out.select("vec_id", F.round("pq_score", 6).alias("pq_score_r"))


# --------------------------------------------------------------------------
# Mergeable sketch rollups
# --------------------------------------------------------------------------

_KLL_SQL = """
WITH d AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS grp, value AS v
  FROM events
), per AS (
  SELECT grp, quantile_disc(v, 0.25) AS q_25, quantile_disc(v, 0.5) AS q_50,
         quantile_disc(v, 0.9) AS q_90
  FROM d GROUP BY grp
), tot AS (
  SELECT CAST(-1 AS BIGINT) AS grp, quantile_disc(v, 0.25) AS q_25,
         quantile_disc(v, 0.5) AS q_50, quantile_disc(v, 0.9) AS q_90
  FROM d
)
SELECT CAST(grp AS BIGINT) AS grp, q_25, q_50, q_90 FROM per
UNION ALL SELECT grp, q_25, q_50, q_90 FROM tot
"""


@register("kll_value_quantiles_rollup", oracle=_KLL_SQL)
def kll_value_quantiles_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile summaries (operators/sketches.py): per-day
    KLL sketches of event values + the MERGED overall row — the read-
    once/merge-forever rollup shape. k=16384 exceeds the sf0.01 corpus
    (10k values), so every sketch is below retained-item capacity and
    the rollup is EXACT (== DuckDB quantile_disc, lore #22 family);
    at bench/audit scales the identical plan degrades to KLL's
    published ~1.65% rank error, documented here rather than hidden."""
    from pyspark_unload_to_gcs_spark.operators.sketches import kll_quantile_rollup

    ev = _t(spark, sf_dir, "events")
    return kll_quantile_rollup(
        ev, "value", F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    )


_THETA_SQL = """
WITH d AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS grp, user_id
  FROM events
)
SELECT CAST(grp AS BIGINT) AS grp, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM d GROUP BY grp
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM d
"""


@register("theta_users_daily", oracle=_THETA_SQL)
def theta_users_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-user summaries via THETA sketches (the
    set-operation-capable cousin of the HLL state the streaming
    actives already keep): per-day DAU + theta-union total. Below the
    2^12 nominal-entry capacity (150 distinct users at sf0.01, 1500 at
    sf0.1) theta stores every distinct hash, so estimates are EXACT
    and the oracle is plain COUNT(DISTINCT); past capacity (the x10
    audit's 15k users, production) the same plan returns the published
    ~1.6% RSE estimate."""
    from pyspark_unload_to_gcs_spark.operators.sketches import theta_distinct_rollup

    ev = _t(spark, sf_dir, "events")
    return theta_distinct_rollup(
        ev, "user_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    )


_THETA_OVERLAP_SQL = """
WITH d AS (
  SELECT DISTINCT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS grp, user_id
  FROM events
), pairs AS (
  -- previous PRESENT group (lag over observed days), matching the
  -- Spark side's lag-window pairing — NOT grp-1, which would silently
  -- diverge on a gapped day sequence
  SELECT grp, LAG(grp) OVER (ORDER BY grp) AS prev
  FROM (SELECT DISTINCT grp FROM d)
)
SELECT CAST(p.grp AS BIGINT) AS grp,
       CAST((SELECT COUNT(*) FROM d a JOIN d b ON a.user_id = b.user_id
             AND a.grp = p.prev AND b.grp = p.grp) AS BIGINT) AS n_returning,
       CAST((SELECT COUNT(*) FROM d a WHERE a.grp = p.prev
             AND a.user_id NOT IN (SELECT user_id FROM d b WHERE b.grp = p.grp)) AS BIGINT) AS n_churned,
       CAST((SELECT COUNT(*) FROM d b WHERE b.grp = p.grp
             AND b.user_id NOT IN (SELECT user_id FROM d a WHERE a.grp = p.prev)) AS BIGINT) AS n_new
FROM pairs p
WHERE p.prev IS NOT NULL
"""


@register("theta_user_day_overlap", oracle=_THETA_OVERLAP_SQL)
def theta_user_day_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day audience flow via theta SET OPERATIONS
    (operators/sketches.py ``theta_overlap_rollup``): returning /
    churned / new user counts from sketch intersection and difference
    — the analysis HLL state cannot express. Exact below capacity at
    driver scale (oracle = exact set arithmetic over per-day distinct
    users); published-RSE estimates at production cardinality."""
    from pyspark_unload_to_gcs_spark.operators.sketches import theta_overlap_rollup

    ev = _t(spark, sf_dir, "events")
    return theta_overlap_rollup(
        ev, "user_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    )


# --------------------------------------------------------------------------
# Ingestion/export roundtrips: Unicode normalization over PLANTED
# non-ASCII text, the manifest-validated export roundtrip, and the XML
# ingestion roundtrip.
# --------------------------------------------------------------------------

# Planted suffixes: the driver fixtures are pure ASCII, so a
# normalization driver row over raw documents would be vacuous
# (normalize == identity). Both engines append the SAME codepoint
# sequences (embedded verbatim in this module's source and in the SQL
# text), including DECOMPOSED accents that NFC must recompose — so a
# normalizer that does nothing, normalizes the wrong form, or breaks
# on batch boundaries flips `changed`/lengths/hashes and goes driver-
# red. BMP-only codepoints: Spark length() counts UTF-16 units while
# DuckDB counts codepoints; they agree only below U+10000.
_U_SFX0 = " café plan"  # e + combining acute -> NFC recomposes
_U_SFX1 = " ÅB Å"  # A + combining ring, Angstrom sign -> both change
_U_SFX2 = " ascii tail"  # NFC identity

_UNICODE_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         text || CASE CAST(doc_id % 3 AS INTEGER)
                   WHEN 0 THEN '{_U_SFX0}'
                   WHEN 1 THEN '{_U_SFX1}'
                   ELSE '{_U_SFX2}' END AS praw
  FROM documents
)
SELECT doc_id,
       (nfc_normalize(praw) != praw) AS changed,
       CAST(length(praw) AS BIGINT) AS len_raw,
       CAST(length(nfc_normalize(praw)) AS BIGINT) AS len_nfc,
       md5(nfc_normalize(praw)) AS nfc_hash
FROM planted
"""


@register("unicode_normalize_stats", oracle=_UNICODE_SQL)
def unicode_normalize_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization (operators/text.py ``normalize_unicode``,
    Arrow mapInPandas) under a driver value oracle: every document gets
    a planted suffix cycling through decomposed-accent, combining-ring
    + Angstrom-sign, and ASCII-identity cases; the output carries the
    changed flag, both char lengths, and the md5 of the normalized
    text. DuckDB's ``nfc_normalize`` replays Python's
    ``unicodedata.normalize('NFC', ...)`` exactly (both implement
    Unicode NFC; parity pinned in tests since r06)."""
    from pyspark_unload_to_gcs_spark.operators.text import normalize_unicode

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_U_SFX0))
            .when(F.col("doc_id") % 3 == 1, F.lit(_U_SFX1))
            .otherwise(F.lit(_U_SFX2)),
        ).alias("praw"),
    )
    normed = normalize_unicode(docs, "praw", form="NFC", output_column="pnfc")
    return normed.select(
        "doc_id",
        (F.col("pnfc") != F.col("praw")).alias("changed"),
        F.length("praw").cast("long").alias("len_raw"),
        F.length("pnfc").cast("long").alias("len_nfc"),
        F.md5(F.col("pnfc")).alias("nfc_hash"),
    )


_MANIFEST_ROUNDTRIP_SQL = """
SELECT o_orderkey, o_orderstatus, o_orderpriority,
       md5(to_json(struct_pack(
           o_orderkey      := o_orderkey,
           o_orderpriority := o_orderpriority,
           o_orderstatus   := o_orderstatus))) AS row_hash,
       TRUE AS manifest_ok
FROM orders
WHERE o_orderstatus IS NOT NULL AND o_orderstatus != ''
  AND o_orderpriority IS NOT NULL AND o_orderpriority != ''
"""


@register("export_manifest_roundtrip", oracle=_MANIFEST_ROUNDTRIP_SQL)
def export_manifest_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once export handoff under a driver oracle
    (sinks/writers.py ``write_manifest``/``validate_manifest``;
    extends the r06 ``export_roundtrip_hash`` pin): full sync of
    orders with non-null filter + json-method content hash, written
    as gzip JSON-lines with maxRecordsPerFile, then a _MANIFEST.json
    is written (per-file sizes + JVM-side md5) and VALIDATED —
    ``validate_manifest`` raising on any missing/extra/resized/
    corrupted part file kills the query, so the manifest machinery
    itself is driver-red-able — and only then are the bytes on disk
    read back and value-hashed against DuckDB computing the same
    projection+hash from parquet. Hash restricted to BIGINT/VARCHAR
    columns where Spark/DuckDB JSON serialization is byte-identical
    (content_hash_json precedent). Write memoized per (session,
    sf_dir)."""
    import tempfile

    from pyspark_unload_to_gcs_spark.config import ExportFormat, SyncConfig
    from pyspark_unload_to_gcs_spark.operators.filters import non_null_filter
    from pyspark_unload_to_gcs_spark.operators.hashing import content_hash
    from pyspark_unload_to_gcs_spark.sinks.writers import (
        validate_manifest,
        write_export,
        write_manifest,
    )

    def build():
        df = non_null_filter(
            _t(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus", "o_orderpriority"
            ),
            ["o_orderstatus", "o_orderpriority"],
        )
        df = content_hash(df, "row_hash", method="json")
        out_dir = tempfile.mkdtemp(prefix="export_manifest_roundtrip_")
        uri = f"file:{out_dir}"
        write_export(
            df,
            SyncConfig(
                table="orders",
                export_format=ExportFormat.JSON,
                output_uri=uri,
                compression="gzip",
                # 7500 keeps the split multi-file at the driver's
                # sf0.01 (15k orders -> 2 files) without drowning the
                # JVM-side md5 passes in per-file stream-open overhead
                # at sf0.1+ (2000 -> 75 files was 40% of this query's
                # wall; SCALE_AUDIT.md r07 table)
                max_records_per_file=7500,
            ),
        )
        write_manifest(uri)
        return uri

    uri = session_memo(spark, ("manifest_roundtrip", sf_dir), build)
    # consumer-side validation on EVERY read: a part file that went
    # missing or changed since the write fails here, before any row
    # is served (raises ValueError -> driver red)
    validate_manifest(uri)
    return spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_orderpriority string, row_hash string"
    ).json(uri).withColumn("manifest_ok", F.lit(True))


_XML_ROUNDTRIP_SQL = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation
"""


@register("xml_ingest_roundtrip", oracle=_XML_ROUNDTRIP_SQL)
def xml_ingest_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion under a driver oracle (sources/catalog.py
    ``load_xml``, Spark 4 built-in XML source): the nation table is
    written as an XML document (one <nation> element per row), read
    BACK through ``load_xml`` with an explicit schema + FAILFAST, and
    value-hashed against DuckDB reading the original parquet — element
    escaping, rowTag framing, and schema projection all sit inside the
    checked path. Write memoized per (session, sf_dir)."""
    import tempfile

    from pyspark_unload_to_gcs_spark.sources.catalog import load_xml

    def build():
        out_dir = tempfile.mkdtemp(prefix="xml_roundtrip_")
        (
            _t(spark, sf_dir, "nation")
            .select(
                F.col("n_nationkey").cast("long"),
                "n_name",
                F.col("n_regionkey").cast("long"),
            )
            .coalesce(1)
            .write.format("xml")
            .option("rowTag", "nation")
            .option("rootTag", "nations")
            .mode("overwrite")
            .save(out_dir)
        )
        return out_dir

    return load_xml(
        spark,
        session_memo(spark, ("xml_roundtrip", sf_dir), build),
        row_tag="nation",
        schema="n_nationkey bigint, n_name string, n_regionkey bigint",
    )


# --------------------------------------------------------------------------
# Theta set-operation accuracy pin, ESTIMATING regime (VERDICT r06 #8)
# --------------------------------------------------------------------------

# The live theta_user_day_overlap row proves the sketch algebra in the
# exact-below-capacity regime (lore #22). This pin forces the
# ESTIMATING regime at driver scale with a deliberately tiny capacity
# (lg_nom = 6 -> 64 nominal entries vs ~150 distinct users/day at
# sf0.01) and gates every returning/churned/new estimate inside
# BOUND_SIGMA x union/sqrt(k) of its exact value — the documented
# error shape of theta set operations (DataSketches set-op error
# analysis: intersection/difference error scales with the UNION
# cardinality over sqrt(nominal entries), not with the result size).
# Empirical worst at sf0.01/lg6 is 3.19 units (measured r07), so 6
# units passes with ~2x headroom while a catastrophic regression
# (collapsed sketch, wrong set-op wiring, hash change) lands far
# outside. At sf0.001 the same capacity sits BELOW the ~15 users/day
# cardinality, so the pytest-scale run degenerates to the exact
# regime (trivially green there; the driver's sf0.01 run is the
# estimating-regime evidence).
_THETA_ACC_LG = 6
_THETA_ACC_SIGMA = 6.0

_THETA_ACC_SQL = """
WITH d AS (
  SELECT DISTINCT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS grp,
         user_id
  FROM events
),
pairs AS (
  SELECT grp, LAG(grp) OVER (ORDER BY grp) AS prev
  FROM (SELECT DISTINCT grp FROM d)
)
SELECT CAST(p.grp AS BIGINT) AS grp,
       TRUE AS returning_within_bound,
       TRUE AS churned_within_bound,
       TRUE AS new_within_bound
FROM pairs p
WHERE p.prev IS NOT NULL
"""


@register("theta_overlap_estimate_accuracy", oracle=_THETA_ACC_SQL)
def theta_overlap_estimate_accuracy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimating-regime accuracy pin for theta set operations
    (operators/sketches.py ``theta_overlap_rollup``): runs the
    audience-flow rollup at a capacity far below the daily user
    cardinality, recomputes the exact returning/churned/new counts
    from first principles, and emits per-day booleans asserting each
    estimate sits within BOUND_SIGMA x union/sqrt(k) of exact — the
    oracle expects every boolean TRUE, so an estimator drifting
    outside the documented error envelope goes driver-red (same
    pattern as the HLL accuracy pins)."""
    from pyspark.sql import Window

    from pyspark_unload_to_gcs_spark.operators.sketches import theta_overlap_rollup

    ev = _t(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    approx = theta_overlap_rollup(ev, "user_id", day, lg_nom_entries=_THETA_ACC_LG)

    d = ev.select(day.alias("grp"), "user_id").distinct()
    days = d.select("grp").distinct()
    w = Window.orderBy("grp")
    pairs = (
        days.select("grp", F.lag("grp").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
    )
    # exact set arithmetic via one full-outer join per pair keyed on
    # (pair, user): returning = both sides, churned = prev-only,
    # new = cur-only, union = all
    exact = (
        pairs.join(d.withColumnRenamed("grp", "prev").withColumnRenamed("user_id", "u"), "prev")
        .select("grp", "prev", "u", F.lit(1).alias("in_prev"))
        .join(
            pairs.join(d.withColumnRenamed("user_id", "u"), "grp")
            .select("grp", "prev", "u", F.lit(1).alias("in_cur")),
            ["grp", "prev", "u"],
            "full_outer",
        )
        .groupBy("grp")
        .agg(
            F.count(F.when(F.col("in_prev").isNotNull() & F.col("in_cur").isNotNull(), 1)).alias("ex_ret"),
            F.count(F.when(F.col("in_prev").isNotNull() & F.col("in_cur").isNull(), 1)).alias("ex_chur"),
            F.count(F.when(F.col("in_prev").isNull() & F.col("in_cur").isNotNull(), 1)).alias("ex_new"),
            F.count(F.lit(1)).alias("ex_union"),
        )
    )
    bound = F.lit(_THETA_ACC_SIGMA) * F.col("ex_union") / F.lit(float(2 ** _THETA_ACC_LG) ** 0.5)
    return (
        approx.join(exact, "grp")
        .select(
            F.col("grp").cast("long").alias("grp"),
            (F.abs(F.col("n_returning") - F.col("ex_ret")) <= bound).alias(
                "returning_within_bound"
            ),
            (F.abs(F.col("n_churned") - F.col("ex_chur")) <= bound).alias(
                "churned_within_bound"
            ),
            (F.abs(F.col("n_new") - F.col("ex_new")) <= bound).alias(
                "new_within_bound"
            ),
        )
    )


# --------------------------------------------------------------------------
# Interval-overlap join
# --------------------------------------------------------------------------

_IVL_DAY = 86_400_000
_IVL_SLOT = 28_800_000  # 8 h slot stride
_IVL_OFF = 3_600_000  # windows open 1 h into each slot
_IVL_LEN = 14_400_000  # 4 h window length

_IVL_OVERLAP_SQL = f"""
WITH act AS (
  SELECT user_id,
         CAST(floor(epoch_ms(ts) / {_IVL_DAY}) AS BIGINT) AS aday,
         MIN(epoch_ms(ts)) AS a_s,
         MAX(epoch_ms(ts)) + 1 AS a_e
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT d.wday, s.slot,
         d.wday * {_IVL_DAY} + s.slot * {_IVL_SLOT} + {_IVL_OFF} AS w_s,
         d.wday * {_IVL_DAY} + s.slot * {_IVL_SLOT} + {_IVL_OFF + _IVL_LEN} AS w_e
  FROM (SELECT DISTINCT CAST(floor(epoch_ms(ts) / {_IVL_DAY}) AS BIGINT) AS wday
        FROM events) d
  CROSS JOIN (VALUES (0), (1), (2)) s(slot)
)
SELECT w.wday AS day, CAST(w.slot AS BIGINT) AS slot,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(LEAST(a.a_e, w.w_e) - GREATEST(a.a_s, w.w_s)) AS BIGINT)
         AS total_overlap_ms
FROM act a JOIN win w ON a.a_s < w.w_e AND w.w_s < a.a_e
GROUP BY 1, 2
"""


@register("activity_window_overlap", oracle=_IVL_OVERLAP_SQL)
def activity_window_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap JOIN (operators/interval.py
    ``interval_overlap_join`` — both sides are [start, end) intervals,
    the shape Spark has no native join for): per-user-per-day activity
    intervals [first event, last event+1) against three fixed 4-hour
    maintenance windows per day, aggregated to per-window audience +
    total overlapped milliseconds. The operator decomposes the range
    predicate into ONE equi-join shuffle on a 4-hour time-grid cell
    with filter-based exactly-once pair emission (no distinct, no
    cartesian); the DuckDB oracle runs the naive range join and must
    agree bit-for-bit on counts and overlap sums."""
    from pyspark_unload_to_gcs_spark.functions.timestamps import epoch_ms
    from pyspark_unload_to_gcs_spark.operators.interval import (
        interval_overlap_join,
    )

    ev = _t(spark, sf_dir, "events")
    ms = epoch_ms(ev, "ts")
    act = (
        ev.select(F.col("user_id"), ms.alias("ms"))
        .groupBy(
            "user_id", F.floor(F.col("ms") / _IVL_DAY).cast("long").alias("aday")
        )
        .agg(F.min("ms").alias("a_s"), (F.max("ms") + 1).alias("a_e"))
    )
    win = (
        act.select(F.col("aday").alias("wday"))
        .distinct()
        .crossJoin(spark.range(3).select(F.col("id").alias("slot")))
        .select(
            "wday",
            "slot",
            (
                F.col("wday") * _IVL_DAY + F.col("slot") * _IVL_SLOT + _IVL_OFF
            ).alias("w_s"),
            (
                F.col("wday") * _IVL_DAY
                + F.col("slot") * _IVL_SLOT
                + F.lit(_IVL_OFF + _IVL_LEN)
            ).alias("w_e"),
        )
    )
    pairs = interval_overlap_join(
        act,
        win,
        left_start="a_s",
        left_end="a_e",
        right_start="w_s",
        right_end="w_e",
        granularity=_IVL_LEN,
    )
    return (
        pairs.groupBy(F.col("wday").alias("day"), F.col("slot").cast("long").alias("slot"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(
                F.least("a_e", "w_e") - F.greatest("a_s", "w_s")
            ).cast("long").alias("total_overlap_ms"),
        )
    )


# --------------------------------------------------------------------------
# Frequent-items heavy-hitter rollup (approx_top_k family)
# --------------------------------------------------------------------------

_HH_SQL = """
WITH c AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
           AS grp,
         event_type, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT grp, cnt,
         row_number() OVER (PARTITION BY grp ORDER BY cnt DESC) AS rank
  FROM c
),
o AS (
  SELECT CAST(-1 AS BIGINT) AS grp, CAST(SUM(cnt) AS BIGINT) AS cnt, event_type
  FROM c GROUP BY event_type
),
ro AS (
  SELECT grp, cnt, row_number() OVER (ORDER BY cnt DESC) AS rank FROM o
)
SELECT grp, CAST(rank AS BIGINT) AS rank, cnt FROM r WHERE rank <= 3
UNION ALL
SELECT grp, CAST(rank AS BIGINT) AS rank, cnt FROM ro WHERE rank <= 3
"""


@register("heavy_hitters_daily", oracle=_HH_SQL)
def heavy_hitters_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items heavy hitters (operators/sketches.py
    ``approx_topk_rollup``, Spark 4.1 ``approx_top_k_*`` builtins):
    per-day top-3 event-type counts PLUS the overall top-3 computed by
    COMBINING the per-day sketch states (grp = -1) — one corpus scan,
    cross-day answers from state merge. Exact regime at every tested
    scale (max_items_tracked = 4096 >> distinct event types), so the
    oracle replays (rank, cnt) exactly; item identity is excluded from
    the compared columns because rank order among TIED counts is
    selection-arbitrary in both engines (same reasoning as the
    scd_latest tie rule). At production cardinality the same plan
    degrades to the frequent-items overcount bound
    (<= stream_n / max_items_tracked), documented on the operator."""
    from pyspark_unload_to_gcs_spark.operators.sketches import approx_topk_rollup

    ev = _t(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    return approx_topk_rollup(
        ev, "event_type", day, k=3, max_items_tracked=4096
    ).select("grp", "rank", "cnt")


# --------------------------------------------------------------------------
# binaryFile media ingestion + ORC ingestion roundtrips
# --------------------------------------------------------------------------

_BINFILE_WAV_SQL = """
WITH params AS (
  SELECT doc_id,
         1 + doc_id % 2 AS ch,
         200 + doc_id % 53 AS n_frames
  FROM documents WHERE doc_id % 10 = 0
), samples AS (
  SELECT doc_id, ch, n_frames,
         unnest(generate_series(0, ch * n_frames - 1)) AS j
  FROM params
), vals AS (
  SELECT doc_id, ch, n_frames,
         (doc_id * 31 + j * 7) % 2048 - 1024 AS s
  FROM samples
)
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(MIN(ch) AS INTEGER) AS n_channels,
       CAST(16 AS INTEGER) AS bit_depth,
       CAST(MIN(n_frames) AS BIGINT) AS n_frames,
       CAST(MIN(n_frames) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs
FROM vals
GROUP BY doc_id
"""


@register("binaryfile_wav_ingest", oracle=_BINFILE_WAV_SQL)
def binaryfile_wav_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-store media ingestion end to end: one WAV FILE per
    sampled document (doc_id % 10 == 0) is written to a directory by a
    DISTRIBUTED Arrow stage (each executor writes its partition's
    files — no driver loop), the directory is ingested back through
    Spark's built-in ``binaryFile`` source (the blob-lakehouse shape:
    pathGlobFilter + partitioned listing at scale), doc ids are
    recovered from file names, and the real chunk-walking PCM16
    decoder produces stats the closed-form oracle replays exactly.
    Compared to wav_decode_stats (payload synthesized in-plan), this
    row additionally proves the FILE path: bytes survive the
    write/list/read roundtrip bit-exactly or the stats diverge.

    FIXTURE-BUILD FS ASSUMPTION (r08 review finding): the executor-side
    ``open()`` writes land in a driver-created ``tempfile.mkdtemp``
    directory, which executors can only see when they share the
    driver's filesystem — true in local mode (this harness) but not on
    a multi-node cluster. The guard below refuses to build the fixture
    off local mode; at scale the same distributed write targets a
    shared URI (HDFS/GCS/NFS) through the Hadoop FileSystem API instead
    of a local tempdir. The INGEST side (binaryFile + pathGlobFilter)
    is URI-agnostic already."""
    import os
    import tempfile

    from pyspark_unload_to_gcs_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    def build():
        master = spark.sparkContext.master or ""
        if not master.startswith("local"):
            raise RuntimeError(
                "binaryfile_wav_ingest builds its WAV fixture in a "
                "driver-local tempdir, which executors cannot reach on "
                f"master={master!r}; point the fixture writer at a "
                "shared filesystem URI before running off local mode"
            )
        out_dir = tempfile.mkdtemp(prefix="binaryfile_wav_")
        docs = (
            _t(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") % 10 == 0)
        )

        def write_files(batches):
            import pandas as pd

            for pdf in batches:
                n_written = []
                for d in pdf["doc_id"].to_numpy():
                    d = int(d)
                    ch = 1 + d % 2
                    n = 200 + d % 53
                    samples = [
                        ((d * 31 + j * 7) % 2048) - 1024 for j in range(ch * n)
                    ]
                    raw = encode_wav_pcm16(samples, 8000, n_channels=ch)
                    tmp = os.path.join(out_dir, f".doc_{d}.wav.tmp")
                    with open(tmp, "wb") as f:
                        f.write(raw)
                    os.rename(tmp, os.path.join(out_dir, f"doc_{d}.wav"))
                    n_written.append(d)
                yield pd.DataFrame({"doc_id": n_written})

        # count() drives the distributed write to completion before
        # the directory is listed (write-then-read barrier)
        docs.mapInPandas(write_files, "doc_id long").count()
        return out_dir

    out_dir = session_memo(spark, ("binfile_wav", sf_dir), build)
    binary = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.wav").load(out_dir)
    )
    payloads = binary.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.wav$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("payload"),
    )
    return decode_wav(payloads)


_ORC_ROUNDTRIP_SQL = """
SELECT c_custkey, c_name, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS acctbal
FROM customer
"""


@register("orc_ingest_roundtrip", oracle=_ORC_ROUNDTRIP_SQL)
def orc_ingest_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingestion under a driver oracle (Spark built-in ORC source;
    the warehouse-interchange format next to parquet): the customer
    table is written as ORC and read back with an explicit schema, so
    type mapping (BIGINT/VARCHAR/DOUBLE), compression, and the
    vectorized ORC reader all sit inside the value-hashed path. Write
    memoized per (session, sf_dir)."""
    import tempfile

    def build():
        out_dir = tempfile.mkdtemp(prefix="orc_roundtrip_")
        (
            _t(spark, sf_dir, "customer")
            .select(
                "c_custkey",
                "c_name",
                "c_mktsegment",
                F.col("c_acctbal").cast("double").alias("acctbal"),
            )
            .write.format("orc")
            .mode("overwrite")
            .save(out_dir)
        )
        return out_dir

    out_dir = session_memo(spark, ("orc_roundtrip", sf_dir), build)
    return spark.read.schema(
        "c_custkey bigint, c_name string, c_mktsegment string, acctbal double"
    ).orc(out_dir)


# --------------------------------------------------------------------------
# Join-key skew diagnostics
# --------------------------------------------------------------------------

_SKEW_SQL = """
WITH prof AS (
  SELECT 'l_partkey' AS key, l_partkey AS k FROM lineitem
  UNION ALL
  SELECT 'user_id' AS key, user_id AS k FROM events
),
c AS (
  SELECT key, k, CAST(COUNT(*) AS BIGINT) AS cnt FROM prof GROUP BY key, k
),
r AS (
  SELECT key, cnt,
         row_number() OVER (PARTITION BY key ORDER BY cnt, k) AS rk
  FROM c
),
t AS (
  SELECT key,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM c GROUP BY key
)
SELECT t.key, t.n_rows, t.n_keys, t.max_cnt,
       -- integer rank mirror of operators/diagnostics.py: BIGINT
       -- (n_keys * pct + 99) // 100, never float ceil (r08 review)
       (SELECT cnt FROM r WHERE r.key = t.key
         AND rk = (t.n_keys * 50 + 99) // 100) AS p50_cnt,
       (SELECT cnt FROM r WHERE r.key = t.key
         AND rk = (t.n_keys * 90 + 99) // 100) AS p90_cnt,
       (SELECT cnt FROM r WHERE r.key = t.key
         AND rk = (t.n_keys * 99 + 99) // 100) AS p99_cnt,
       CAST(FLOOR(t.max_cnt * 1000000.0 / t.n_rows) AS BIGINT) AS top1_share_ppm
FROM t
"""


@register("join_key_skew_profile", oracle=_SKEW_SQL)
def join_key_skew_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostics (operators/diagnostics.py
    ``key_skew_profile``): for two prospective shuffle keys
    (lineitem.l_partkey, events.user_id) emit total rows, distinct
    keys, heaviest-key count, exact discrete p50/p90/p99 of the
    per-key count distribution, and the heaviest key's
    parts-per-million row share — the numbers that decide broadcast
    vs shuffle vs salt vs AQE-skew-join before a 100 TB run. All
    integers; the oracle replays the rank selection exactly."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import key_skew_profile

    li = key_skew_profile(
        _t(spark, sf_dir, "lineitem"), "l_partkey", label="l_partkey"
    )
    ev = key_skew_profile(_t(spark, sf_dir, "events"), "user_id", label="user_id")
    return li.unionByName(ev)


# --------------------------------------------------------------------------
# Edit-distance dedup (FastSS deletion neighborhood)
# --------------------------------------------------------------------------

_TYPO_SQL = """
WITH corpus AS (
  SELECT c_custkey AS id, c_name AS t FROM customer
  UNION ALL
  SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer) AS id,
         substr(c_name, 1, (c_custkey % 12) + 3) || 'q'
           || substr(c_name, (c_custkey % 12) + 5) AS t
  FROM customer WHERE c_custkey % 10 = 4
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
FROM corpus a JOIN corpus b ON a.id < b.id
WHERE levenshtein(a.t, b.t) <= 1
"""


@register("name_typo_pairs", oracle=_TYPO_SQL)
def name_typo_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance dedup via FastSS deletion-neighborhood blocking
    (operators/dedup.py ``edit_distance_pairs``; Bocek et al. 2007):
    customer names plus PLANTED one-character typos (10% of
    customers, deterministic substitution position) — every pair
    within Levenshtein distance 1 must surface, including the natural
    single-digit-apart name pairs the fixture already contains. The
    blocking is EXACT for d <= 1, so unlike the minhash/simhash
    family this row carries a FULL value oracle (DuckDB brute-forces
    all pairs; Spark does one variant-key equi-join — same answer,
    quadratic vs linear shape). Planted-id stride is data-driven
    (max id + 1), so ids never collide at any audited scale."""
    from pyspark_unload_to_gcs_spark.operators.dedup import edit_distance_pairs

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    stride = (cust.agg(F.max("c_custkey")).first()[0] or 0) + 1
    pos = (F.col("c_custkey") % 12) + 4
    typos = cust.filter(F.col("c_custkey") % 10 == 4).select(
        (F.col("c_custkey") + stride).alias("id"),
        F.concat(
            F.substring(F.col("c_name"), F.lit(1), pos - 1),
            F.lit("q"),
            F.substr(F.col("c_name"), pos + 1, F.length("c_name")),
        ).alias("t"),
    )
    corpus = cust.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("t")
    ).unionByName(typos)
    return edit_distance_pairs(corpus, "id", "t")


# --------------------------------------------------------------------------
# Join cardinality diagnostics
# --------------------------------------------------------------------------

_JOINCARD_SQL = """
WITH lo AS (
  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS ca FROM lineitem GROUP BY 1
),
oo AS (
  SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cb FROM orders GROUP BY 1
),
lp AS (
  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS ca FROM lineitem GROUP BY 1
),
pp AS (
  SELECT p_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cb FROM part GROUP BY 1
)
SELECT 'lineitem_orders' AS join,
       (SELECT CAST(SUM(ca) AS BIGINT) FROM lo) AS n_left,
       (SELECT CAST(SUM(cb) AS BIGINT) FROM oo) AS n_right,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lo) AS n_left_keys,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM oo) AS n_right_keys,
       CAST(COUNT(*) AS BIGINT) AS n_common_keys,
       CAST(COALESCE(SUM(lo.ca * oo.cb), 0) AS BIGINT) AS predicted_rows
FROM lo JOIN oo USING (k)
UNION ALL
SELECT 'lineitem_part' AS join,
       (SELECT CAST(SUM(ca) AS BIGINT) FROM lp),
       (SELECT CAST(SUM(cb) AS BIGINT) FROM pp),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lp),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pp),
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(lp.ca * pp.cb), 0) AS BIGINT)
FROM lp JOIN pp USING (k)
"""


@register("join_cardinality_profile", oracle=_JOINCARD_SQL)
def join_cardinality_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size prediction without running the join
    (operators/diagnostics.py ``join_cardinality_profile``): for
    lineitem⋈orders (o_orderkey) and lineitem⋈part (p_partkey), the
    per-key count frames meet instead of the data, giving the EXACT
    output cardinality Σ cntA·cntB plus per-side key statistics — the
    pre-flight check for 100 TB joins. Verified against DuckDB
    computing the same sums; both joins' predicted_rows additionally
    equal the true join counts by construction."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        join_cardinality_profile,
    )

    li = _t(spark, sf_dir, "lineitem")
    a = join_cardinality_profile(
        li, "l_orderkey", _t(spark, sf_dir, "orders"), "o_orderkey",
        label="lineitem_orders",
    )
    b = join_cardinality_profile(
        li, "l_partkey", _t(spark, sf_dir, "part"), "p_partkey",
        label="lineitem_part",
    )
    return a.unionByName(b)


# --------------------------------------------------------------------------
# VARIANT semi-structured profile (Spark 4 shredded type)
# --------------------------------------------------------------------------

_VARIANT_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS n_k,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       'OBJECT<k: BIGINT>' AS props_schema
FROM events
GROUP BY event_type
"""


@register("variant_props_profile", oracle=_VARIANT_SQL)
def variant_props_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT ingestion under a driver oracle
    (operators/semistructured.py): events.props parses ONCE to the
    shredded binary encoding (``try_parse_json``), typed extraction
    reads the shredded field (``variant_get`` — no JSON re-parse per
    access), and the per-document inferred schema
    (``schema_of_variant``) is pinned as a constant column — the
    fixture's props are uniformly ``{"k": <int>}``, so any drift in
    parsing, shredding, type inference, or extraction flips either
    the aggregates or the schema literal. DuckDB replays the same
    aggregates through its JSON functions; the schema string is the
    Spark-side inference contract, asserted equal across every group."""
    from pyspark_unload_to_gcs_spark.operators.semistructured import (
        parse_variant,
        variant_fields,
    )

    ev = parse_variant(_t(spark, sf_dir, "events"), "props", output_column="__v")
    ev = variant_fields(ev, "__v", {"k": ("$.k", "long")})
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("k").cast("long").alias("n_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        F.max(F.schema_of_variant(F.col("__v"))).alias("props_schema"),
    )


# --------------------------------------------------------------------------
# Streaming heavy-hitters sketch fold
# --------------------------------------------------------------------------


@register("heavy_hitters_stream_replay", oracle=_HH_SQL)
def heavy_hitters_stream_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of heavy_hitters_daily
    (streaming/topk_sketch.py ``fold_topk_batch``): events replayed in
    three event-time micro-batches, each batch's per-day approx_top_k
    sketch states UNION+COMBINE-merged onto the previous state version
    (kilobyte sketch rows per day — state size independent of stream
    volume). The served (grp, rank, cnt) top-3 + fold-merged overall
    row must equal the one-shot batch rollup — the SAME oracle
    heavy_hitters_daily carries (exact regime: max_items_tracked far
    above the event-type cardinality). Exactly-once via versioned
    v=batch_id overwrite, the merge/rollup/dedup protocol."""
    from pyspark_unload_to_gcs_spark.streaming.replay import replay_batches
    from pyspark_unload_to_gcs_spark.streaming.topk_sketch import (
        fold_topk_batch,
        read_topk,
    )

    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    bounds = ["2024-01-11", "2024-01-21"]
    batches = [
        ev.filter(F.col("ts") < bounds[0]),
        ev.filter((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        ev.filter(F.col("ts") >= bounds[1]),
    ]
    return replay_batches(
        spark,
        ("hh_stream", sf_dir),
        batches,
        lambda frame, b, state: fold_topk_batch(
            frame,
            b,
            item_column="event_type",
            group_column=day,
            state_path=state,
        ),
        lambda state: read_topk(spark, state, k=3),
        prefix="heavy_hitters_stream_replay_",
    )


# --------------------------------------------------------------------------
# Nearest-direction as-of join (pandas merge_asof parity)
# --------------------------------------------------------------------------

_ASOF_NEAREST_SQL = """
WITH p AS (
  SELECT event_id, user_id, epoch_ms(ts) AS purchase_ms
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_ms(ts) AS ct FROM events WHERE event_type = 'click'
),
b AS (
  SELECT p.event_id, p.user_id, p.purchase_ms, c.ct AS bt
  FROM p ASOF LEFT JOIN c
    ON p.user_id = c.user_id AND p.purchase_ms >= c.ct
),
f AS (
  SELECT p.event_id, c.ct AS ft
  FROM p ASOF LEFT JOIN c
    ON p.user_id = c.user_id AND p.purchase_ms <= c.ct
)
SELECT b.event_id, b.user_id, b.purchase_ms,
       CASE
         WHEN bt IS NOT NULL
              AND (ft IS NULL OR (b.purchase_ms - bt) <= (ft - b.purchase_ms))
           THEN bt
         ELSE ft
       END AS nearest_click_ms
FROM b JOIN f USING (event_id)
"""


@register("asof_nearest_click", oracle=_ASOF_NEAREST_SQL)
def asof_nearest_click_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (operators/asof.py ``asof_join``
    with ``direction="nearest"`` — pandas merge_asof parity, ties going
    backward): every purchase attaches its CLOSEST click by the same
    user, before or after. One union-marker shuffle, two window fills
    over the same Exchange, zero joins and zero pair amplification on
    the Spark side; the DuckDB oracle composes a backward and a forward
    ASOF JOIN and replays the tie rule in a CASE. Output carries the
    matched TIME (not the click id) so same-timestamp click ties are
    selection-free in both engines."""
    from pyspark_unload_to_gcs_spark.functions.timestamps import (
        epoch_ms as epoch_ms_col,
    )
    from pyspark_unload_to_gcs_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cuser"), F.col("ts").alias("cts")
    )
    joined = asof_join(
        purchases.withColumnRenamed("user_id", "puser"),
        clicks.withColumnRenamed("cuser", "puser"),
        on="puser",
        left_time="pts",
        right_time="cts",
        right_payload=(),
        direction="nearest",
    )
    return joined.select(
        "event_id",
        F.col("puser").alias("user_id"),
        epoch_ms_col(joined, "pts").alias("purchase_ms"),
        F.unix_millis(F.col("cts")).alias("nearest_click_ms"),
    )


# --------------------------------------------------------------------------
# Forward-direction as-of join with tolerance (live r09; VERDICT r08 #6)
# --------------------------------------------------------------------------

_ASOF_FORWARD_SQL = """
WITH p AS (
  SELECT event_id, user_id, epoch_ms(ts) AS purchase_ms
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_ms(ts) AS ct FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, p.purchase_ms,
       CASE WHEN c.ct - p.purchase_ms <= 3600000 THEN c.ct END
         AS next_click_ms
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.purchase_ms <= c.ct
"""


@register("asof_forward_tolerance", oracle=_ASOF_FORWARD_SQL)
def asof_forward_tolerance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-direction as-of join under a tolerance bound
    (operators/asof.py ``asof_join`` with ``direction="forward"``,
    ``tolerance_ms=3_600_000`` — pandas merge_asof parity): every
    purchase attaches the NEXT click by the same user, and a match
    farther than one hour ahead becomes NULL. Completes the direction
    coverage (asof_latest_click = backward, asof_nearest_click =
    nearest, this row = forward + tolerance). Same union-marker plan:
    ONE shuffle on the key, a reversed-order window fill, zero joins
    and zero pair amplification; the tolerance is a post-fill WHEN on
    the matched time delta, not a join predicate. The DuckDB oracle is
    a forward ASOF LEFT JOIN (smallest click time >= purchase time)
    with the tolerance replayed as a CASE on the time delta; output
    carries the matched TIME so same-timestamp ties are selection-free
    in both engines."""
    from pyspark_unload_to_gcs_spark.functions.timestamps import (
        epoch_ms as epoch_ms_col,
    )
    from pyspark_unload_to_gcs_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("puser"), F.col("ts").alias("pts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("puser"), F.col("ts").alias("cts")
    )
    joined = asof_join(
        purchases,
        clicks,
        on="puser",
        left_time="pts",
        right_time="cts",
        right_payload=(),
        direction="forward",
        tolerance_ms=3_600_000,
    )
    return joined.select(
        "event_id",
        F.col("puser").alias("user_id"),
        epoch_ms_col(joined, "pts").alias("purchase_ms"),
        F.unix_millis(F.col("cts")).alias("next_click_ms"),
    )


# --------------------------------------------------------------------------
# Incremental on-disk IVF-PQ index maintenance
# --------------------------------------------------------------------------


def _pq_incr_oracle() -> str:
    """The vector_topk_pq LUT replay, parameterized two ways: codebooks
    derive from the BASE subset only (vec_id % 5 != 1 — appends never
    retrain the quantizer), and the scored corpus is base UNION the
    appended batch (the % 5 == 1 rows plus the planted 30001 probe =
    query + 0.0005, which must surface at the top — a silently dropped
    or double-applied append flips the result set)."""
    from pyspark_unload_to_gcs_spark.registry_extensions import _DOT, _SS

    m, sub = _PQ_M, _PQ_SUB
    vslice = "b.v[cu.s * {sub} + 1 : (cu.s + 1) * {sub}]".format(sub=sub)
    qslice = "qv.qv[cu.s * {sub} + 1 : (cu.s + 1) * {sub}]".format(sub=sub)
    d_cols = ", ".join(
        f"MAX(CASE WHEN a.s = {s} THEN l.d END) AS d{s}, "
        f"MAX(CASE WHEN a.s = {s} THEN l.ss END) AS ss{s}"
        for s in range(m)
    )
    dsum = "(((d0 + d1) + d2) + d3)"
    sssum = "(((ss0 + ss1) + ss2) + ss3)"
    score = (
        f"CASE WHEN sqrt({sssum}) = 0 THEN 0.0 "
        f"ELSE {dsum} / (qn.qn * sqrt({sssum})) END"
    )
    return f"""
    WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    qn AS (
      SELECT CASE WHEN sqrt({_SS.format(a="qv")}) = 0 THEN 1.0
                  ELSE sqrt({_SS.format(a="qv")}) END AS qn
      FROM qv
    ),
    cbv AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS j,
             CAST(embedding AS DOUBLE[]) AS c
      FROM embeddings WHERE vec_id != 0 AND vec_id % 5 != 1
      ORDER BY vec_id ASC LIMIT {_PQ_K}
    ),
    cb AS (
      SELECT sub.s, cbv.j, cbv.c[sub.s * {sub} + 1 : (sub.s + 1) * {sub}] AS cs
      FROM cbv, (SELECT unnest(generate_series(0, {m - 1})) AS s) sub
    ),
    cbn AS (
      SELECT s, j, cs,
             CASE WHEN sqrt({_SS.format(a="cs")}) = 0 THEN 1.0
                  ELSE sqrt({_SS.format(a="cs")}) END AS n
      FROM cb
    ),
    cbu AS (SELECT s, j, cs, list_transform(cs, x -> x / n) AS u FROM cbn),
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id != 0
      UNION ALL
      SELECT 30001 AS vec_id,
             list_transform(qv, x -> x + CAST(0.0005 AS DOUBLE)) AS v
      FROM qv
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, s, j FROM (
        SELECT b.vec_id, cu.s, cu.j,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id, cu.s
                 ORDER BY {_DOT.format(a=vslice, b="cu.u")} DESC, cu.j DESC
               ) AS rn
        FROM base b, cbu cu
      ) WHERE rn = 1
    ),
    luts AS MATERIALIZED (
      SELECT cu.s, cu.j,
             {_DOT.format(a=qslice, b="cu.cs")} AS d,
             {_SS.format(a="cu.cs")} AS ss
      FROM cbu cu, qv
    ),
    per_vec AS (
      SELECT a.vec_id, {d_cols}
      FROM assigned a JOIN luts l ON a.s = l.s AND a.j = l.j
      GROUP BY a.vec_id
    )
    SELECT vec_id, round({score}, 6) AS pq_score_r
    FROM per_vec, qn
    ORDER BY {score} DESC, vec_id ASC
    LIMIT 10
    """


@register("pq_index_incremental_topk", oracle=_pq_incr_oracle())
def pq_index_incremental_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental on-disk IVF-PQ index maintenance
    (operators/similarity.py ``pq_index_write``/``pq_index_append``):
    the base corpus (vec_id % 5 != 1) is assigned + encoded ONCE and
    written as a parquet index partitioned by IVF cell storing only
    (id, cell, codes) — 32x smaller than the vectors; a later batch
    (the % 5 == 1 rows plus a planted probe 30001 = query + 0.0005)
    is encoded alone, its TOUCHED cells compacted in place via staged
    dynamic-partition-overwrite, and the query serves PQ top-10 from
    the maintained index files. The oracle replays codebook
    derivation from the base subset (appends reuse the frozen
    quantizer) and scores base UNION batch: a dropped append loses
    the planted top-1 probe, a double-applied or stale-cell compact
    duplicates/forgets rows — every path flips the value hash.

    Cost split (VERDICT r13 perf item #1): the BULK backfill append +
    touched-cell compaction is one-time index maintenance with the
    same encode-once economics as the base build, so it lives in the
    ``_pq_incr_base`` named warmup; the row times the steady-state
    lifecycle a serving index actually repeats per arrival — encode
    ONE new vector, append it into its cell partition (compact=False:
    untouched cells are never read or written), and serve top-k with
    the new vector visible. Compaction semantics stay runtime-covered
    by the warmup (billed, not hidden) and by
    tests/test_asof.py::test_pq_index_append_modes_and_untouched_cells.

    Fixture builds in a driver-local tempdir (local-mode harness; at
    scale the index path is a shared URI — the write/append API is
    path-agnostic)."""
    from pyspark_unload_to_gcs_spark.operators import similarity as S

    def build():
        path, centroids, codebooks, q = _pq_incr_base(spark, sf_dir)
        # the planted probe (query + 0.0005) arrives as a single-row
        # local frame — no corpus rescan; arrow assignment/encode arm
        # is bit-equal to the fold twin (pinned in tests/test_asof.py)
        # and measured CHEAPER here: fold's unrolled k-way codebook
        # expression pays ~3 s of plan compilation that dwarfs the
        # Python-worker roundtrip on a 1-row batch (r14 measurement)
        probe = spark.createDataFrame(
            [(30001, [x + 0.0005 for x in q])],
            "vec_id long, embedding array<double>",
        )
        S.pq_index_append(
            spark, path, probe, centroids, codebooks, compact=False,
            method="arrow",
        )
        return (path, codebooks, q)

    path, codebooks, q = session_memo(spark, ("pq_incr", sf_dir), build)
    index = spark.read.parquet(path)
    out = S.pq_topk(index.drop("ivf_cell"), q, k=10, codebooks=codebooks)
    return out.select("vec_id", F.round("pq_score", 6).alias("pq_score_r"))


def _pq_incr_base(spark: SparkSession, sf_dir: str):
    """One-time setup for the incremental-index row, memoized per
    session and billed as a NAMED bench warmup (the _pq_shared
    precedent): derive the frozen quantizer from the base subset,
    write the base on-disk index, then append + touched-cell-compact
    the BULK backfill batch (the vec_id % 5 == 1 rows). Backfill is
    one-time maintenance — the same encode-once economics as the base
    build — so it bills here, visibly, as warmup_pq_incr_base_sec
    (VERDICT r13 perf item #1: the row previously paid ~7-13 s of it
    per bench loop). The row itself times what a live index repeats
    per arrival: single-vector append-only + serve."""
    import tempfile

    from pyspark_unload_to_gcs_spark.operators import similarity as S

    def build():
        emb = _t(spark, sf_dir, "embeddings")
        corpus = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        q = [
            float(x)
            for x in corpus.filter(F.col("vec_id") == 0).select("embedding").head()[0]
        ]
        base = corpus.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 1))
        bulk = corpus.filter(F.col("vec_id") % 5 == 1)
        centroids = S.ivf_centroids_from_sample(base, n_centroids=_PQ_K)
        codebooks = S.pq_codebooks_from_sample(
            base, m=_PQ_M, k=_PQ_K, seeds=centroids
        )
        path = tempfile.mkdtemp(prefix="pq_index_incr_") + "/index"
        S.pq_index_write(base, path, centroids, codebooks)
        # arrow arm bit-equal to fold (pinned in tests/test_asof.py)
        S.pq_index_append(
            spark, path, bulk, centroids, codebooks, compact=True,
            method="arrow",
        )
        return (path, centroids, codebooks, q)

    return session_memo(spark, ("pq_incr", sf_dir, "base"), build)


# --------------------------------------------------------------------------
# Perceptual-hash image dedup over the real BMP raster path
# --------------------------------------------------------------------------

_AHASH_SQL = """
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id % 10 = 0
),
univ AS (
  SELECT doc_id AS img_id, doc_id AS d, -1 AS inv FROM ids
  UNION ALL
  SELECT doc_id + 50000 AS img_id, doc_id AS d, doc_id % 64 AS inv FROM ids
),
blocks AS (
  SELECT img_id, j,
         CASE WHEN j = inv THEN 255 - (3 * d + 5 * j) % 256
              ELSE (3 * d + 5 * j) % 256 END AS r,
         CASE WHEN j = inv THEN 255 - (7 * d + 11 * j) % 256
              ELSE (7 * d + 11 * j) % 256 END AS g,
         CASE WHEN j = inv THEN 255 - (13 * d + 17 * j) % 256
              ELSE (13 * d + 17 * j) % 256 END AS b
  FROM univ, (SELECT unnest(generate_series(0, 63)) AS j)
),
lum AS (
  -- 2x2-pixel constant blocks: block luma sum = 4 * scaled luma
  SELECT img_id, j, 4 * (299 * r + 587 * g + 114 * b) AS L FROM blocks
),
tot AS (SELECT img_id, SUM(L) AS t FROM lum GROUP BY img_id),
bits AS (
  SELECT l.img_id, l.j,
         CASE WHEN 64 * l.L > t.t THEN 1 ELSE 0 END AS bit
  FROM lum l JOIN tot t USING (img_id)
),
hashes AS (
  SELECT img_id,
         CAST(SUM(CASE WHEN bit = 1 AND j >= 32
                       THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
              AS BIGINT) AS hi,
         CAST(SUM(CASE WHEN bit = 1 AND j < 32
                       THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
              AS BIGINT) AS lo
  FROM bits GROUP BY img_id
)
SELECT a.img_id AS id_a, b.img_id AS id_b,
       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            AS BIGINT) AS hamming
FROM hashes a JOIN hashes b ON a.img_id < b.img_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
"""


@register("image_ahash_dup_pairs", oracle=_AHASH_SQL)
def image_ahash_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup end to end over the REAL raster
    path (operators/multimodal.py ``image_ahash``/``ahash_dup_pairs``):
    every 10th document synthesizes a 16x16 block-constant 24-bit BMP
    from integer closed forms, plus a near-duplicate twin (+50000)
    with ONE 2x2 block color-inverted; the real chunk-walking decoder
    parses the bytes, the all-integer 8x8 average-hash produces
    (hi, lo) BIGINT halves, and byte-band pigeonhole + XOR popcount
    emits every pair within hamming 7 — exact for the threshold,
    never all-pairs. The DuckDB oracle recomputes the block lumas from
    the closed forms, rebuilds both hash halves bit by bit, and takes
    literal all-pairs popcount — any drift in BMP padding/BGR order,
    luma scaling, block boundaries, tie rule, bit packing, banding
    recall, or hamming arithmetic flips the row set."""
    from pyspark_unload_to_gcs_spark.operators.multimodal import (
        ahash_dup_pairs,
        encode_bmp24,
        image_ahash,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 == 0)
    )

    def synth(batches):
        import pandas as pd

        def block_px(d: int, j: int, inv: int):
            r = (3 * d + 5 * j) % 256
            g = (7 * d + 11 * j) % 256
            b = (13 * d + 17 * j) % 256
            if j == inv:
                return (255 - r, 255 - g, 255 - b)
            return (r, g, b)

        def bmp(d: int, img_id: int, inv: int) -> bytes:
            px = [
                [
                    block_px(d, 8 * (y // 2) + (x // 2), inv)
                    for x in range(16)
                ]
                for y in range(16)
            ]
            return encode_bmp24(px)

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"].to_numpy():
                d = int(d)
                ids.append(d)
                payloads.append(bmp(d, d, -1))
                ids.append(d + 50000)
                payloads.append(bmp(d, d + 50000, d % 64))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    images = docs.mapInPandas(synth, "doc_id long, payload binary")
    return ahash_dup_pairs(image_ahash(images), max_hamming=7)


# --------------------------------------------------------------------------
# Versioned-parquet time travel + change feed (S2-S4 semantics without
# delta-spark)
# --------------------------------------------------------------------------


def _versioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Three-commit versioned table from orders (memoized per session):
    v0 @ ms 1000 = even keys at original price; v1 @ ms 2000 = ALL keys
    with price+1.0 where key % 10 == 0 (updates + inserts); v2 @ ms
    3000 = v1 minus key % 7 == 0 (deletes). Deterministic clock, so
    both probes replay in closed form from the orders table."""
    from pyspark_unload_to_gcs_spark.sources.versioned import commit_version

    def build():
        import tempfile

        path = tempfile.mkdtemp(prefix="versioned_orders_") + "/t"
        base = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )
        v1 = base.withColumn(
            "price",
            F.col("price")
            + F.when(F.col("o_orderkey") % 10 == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        commit_version(base.filter(F.col("o_orderkey") % 2 == 0), path, 1000)
        commit_version(v1, path, 2000)
        commit_version(v1.filter(F.col("o_orderkey") % 7 != 0), path, 3000)
        return path

    return session_memo(spark, ("versioned", sf_dir), build)


def _register_versioned_commits(spark: SparkSession) -> None:
    """Register the ``versioned_commits`` Python DataSource once per
    session."""
    from pyspark_unload_to_gcs_spark.sources.versioned_stream import (
        VersionedCommitsDataSource,
    )

    session_memo(
        spark,
        "versioned_commits_registered",
        lambda: spark.dataSource.register(VersionedCommitsDataSource),
    )


_VERSIONED_SNAPSHOT_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice AS DOUBLE)
         + CASE WHEN o_orderkey % 10 = 0 THEN 1.0 ELSE 0.0 END AS price
FROM orders
"""


@register("versioned_snapshot_at", oracle=_VERSIONED_SNAPSHOT_SQL)
def versioned_snapshot_at_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel semantics with runtime evidence (sources/
    versioned.py ``snapshot_at_ms``; the Delta S2 probe's resolution
    rule — newest commit_ms <= ts — on plain parquet): reading the
    3-commit orders table AS OF ms 2500 must resolve to v1 exactly:
    all keys present (the v1 inserts), +1.0 on every % 10 == 0 price
    (the v1 updates visible), and NO % 7 deletions (v2 is in the
    future). The oracle rebuilds v1 in closed form from orders."""
    from pyspark_unload_to_gcs_spark.sources.versioned import snapshot_at_ms

    return snapshot_at_ms(spark, _versioned_orders(spark, sf_dir), 2500)


_VERSIONED_CDF_SQL = """
WITH base AS (
  SELECT o_orderkey AS k, o_custkey AS c, CAST(o_totalprice AS DOUBLE) AS p
  FROM orders
)
SELECT 'INSERT' AS _mp_change_type, k AS o_orderkey, c AS o_custkey,
       p AS price, CAST(1 AS BIGINT) AS _commit_version,
       CAST(2000 AS BIGINT) AS _commit_timestamp
FROM base WHERE k % 2 = 1
UNION ALL
SELECT 'DELETE', k, c, p, 1, 2000 FROM base WHERE k % 10 = 0
UNION ALL
SELECT 'INSERT', k, c, p + 1.0, 1, 2000 FROM base WHERE k % 10 = 0
UNION ALL
SELECT 'DELETE', k, c, p + CASE WHEN k % 10 = 0 THEN 1.0 ELSE 0.0 END,
       2, 3000
FROM base WHERE k % 7 = 0
"""


@register("versioned_change_feed", oracle=_VERSIONED_CDF_SQL)
def versioned_change_feed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed semantics with runtime evidence (sources/
    versioned.py ``change_feed``; the Delta S3 probe's window read on
    plain parquet, changes reconstructed per commit via
    operators/cdc.py ``snapshot_diff``): the window [1500, 3000] must
    contain exactly v1's changes (odd-key INSERTs; a preimage-DELETE +
    postimage-INSERT pair per % 10 == 0 update — the same pair shape
    the reference maps Delta CDF update rows onto, export.py:121-126)
    and v2's deletes (% 7 == 0 at v1 prices), each stamped with its
    commit version and timestamp; v0 is before the window and must not
    leak. The oracle enumerates every change in closed form."""
    from pyspark_unload_to_gcs_spark.sources.versioned import change_feed

    return change_feed(
        spark,
        _versioned_orders(spark, sf_dir),
        1500,
        3000,
        key_columns=["o_orderkey"],
    )


# --------------------------------------------------------------------------
# Parquet footer statistics profile: pruning pre-flight
# --------------------------------------------------------------------------

_FOOTER_SQL = """
SELECT 'lineitem' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(l_orderkey) AS BIGINT) AS key_min,
       CAST(MAX(l_orderkey) AS BIGINT) AS key_max,
       CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS key_nulls
FROM lineitem
UNION ALL
SELECT 'events',
       CAST(COUNT(*) AS BIGINT),
       CAST(MIN(user_id) AS BIGINT),
       CAST(MAX(user_id) AS BIGINT),
       CAST(COUNT(*) - COUNT(user_id) AS BIGINT)
FROM events
"""


@register("footer_stats_profile", oracle=_FOOTER_SQL)
def footer_stats_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-pruning pre-flight from parquet footers only
    (operators/diagnostics.py ``parquet_footer_profile``): row counts
    and key min/max/null-count for two prospective predicate columns,
    read from per-file METADATA — the query never scans a data page.
    Footer statistics are writer-asserted exact for these integer
    columns, so the DuckDB oracle recomputes the same numbers from the
    DATA (COUNT/MIN/MAX) — any footer-parsing bug (row-group walk,
    column lookup, min/max fold across files, null accounting)
    diverges from ground truth. n_files/n_row_groups are emitted by
    the operator but excluded here (not data-derivable); the unit test
    pins them on a multi-file write."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        parquet_footer_profile,
    )

    cols = ["table_name", "n_rows", "key_min", "key_max", "key_nulls"]
    li = parquet_footer_profile(
        spark, f"{sf_dir}/lineitem.parquet", "l_orderkey", label="lineitem"
    ).withColumnRenamed("table", "table_name").select(*cols)
    ev = parquet_footer_profile(
        spark, f"{sf_dir}/events.parquet", "user_id", label="events"
    ).withColumnRenamed("table", "table_name").select(*cols)
    return li.unionByName(ev)


# --------------------------------------------------------------------------
# Python DataSource batch read over the versioned table
# --------------------------------------------------------------------------

_VERSIONED_DS_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice AS DOUBLE)
         + CASE WHEN o_orderkey % 10 = 0 THEN 1.0 ELSE 0.0 END AS price,
       CAST(1 AS BIGINT) AS _commit_version,
       CAST(2000 AS BIGINT) AS _commit_timestamp
FROM orders
"""


@register("versioned_datasource_snapshot", oracle=_VERSIONED_DS_SQL)
def versioned_datasource_snapshot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 Python DataSource read path under a driver oracle
    (sources/versioned_stream.py ``VersionedCommitsDataSource``):
    the 3-commit orders table read AS OF ms 2500 through
    ``format("versioned_commits")`` — footer-inferred schema, pyarrow
    RecordBatch partitions in Python workers, commit stamps appended —
    must resolve to v1 with version/timestamp constants, same closed
    form as versioned_snapshot_at plus the stamp columns. Any drift in
    ledger gating, AS-OF resolution, arrow type mapping, or stamp
    plumbing flips rows or schema."""
    path = _versioned_orders(spark, sf_dir)
    _register_versioned_commits(spark)
    return (
        spark.read.format("versioned_commits")
        .option("path", path)
        .option("as_of_ms", 2500)
        .load()
    )


# --------------------------------------------------------------------------
# TRUE Structured Streaming drain of the commit stream
# --------------------------------------------------------------------------

_VERSIONED_STREAM_SQL = """
WITH base AS (
  SELECT o_orderkey AS k, o_custkey AS c, CAST(o_totalprice AS DOUBLE) AS p
  FROM orders
),
v1 AS (
  SELECT k, c, p + CASE WHEN k % 10 = 0 THEN 1.0 ELSE 0.0 END AS p FROM base
)
SELECT k AS o_orderkey, c AS o_custkey, p AS price,
       CAST(0 AS BIGINT) AS _commit_version,
       CAST(1000 AS BIGINT) AS _commit_timestamp
FROM base WHERE k % 2 = 0
UNION ALL
SELECT k, c, p, 1, 2000 FROM v1
UNION ALL
SELECT k, c, p, 2, 3000 FROM v1 WHERE k % 7 != 0
"""


@register("versioned_stream_replay", oracle=_VERSIONED_STREAM_SQL)
def versioned_stream_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming execution under a driver value
    oracle (every other *_stream_replay row folds the protocol in
    batch; this one runs ``readStream`` end to end): the 3-commit
    versioned orders table drained through the Python DataSource
    commit stream (availableNow trigger, foreachBatch parquet
    accumulation) must deliver every version's rows exactly once with
    their commit stamps — offset handling, ledger gating, arrow
    NULL-padding, and the stream runner itself all sit inside the
    value hash. The oracle enumerates the three snapshots in closed
    form from orders."""
    import tempfile

    path = _versioned_orders(spark, sf_dir)

    def build():
        _register_versioned_commits(spark)
        out_dir = tempfile.mkdtemp(prefix="versioned_stream_replay_") + "/rows"
        ckpt = tempfile.mkdtemp(prefix="versioned_stream_replay_ckpt_")
        stream = (
            spark.readStream.format("versioned_commits")
            .option("path", path)
            .load()
        )
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda batch, _i: batch.write.mode("append").parquet(out_dir)
            )
            .start()
        )
        # awaitTermination(timeout) returns False on timeout WITHOUT
        # stopping the query — memoizing then would hand back a
        # partially-drained output as the query result (ADVICE r09).
        # Raise loudly instead; surface the stream's own error first.
        if not q.awaitTermination(300):
            exc = q.exception()
            q.stop()
            raise RuntimeError(
                "versioned_stream_replay: availableNow drain did not "
                f"finish within 300s (stream exception: {exc})"
            )
        return out_dir

    return spark.read.parquet(
        session_memo(spark, ("versioned", sf_dir, "stream_drain"), build)
    )


# --- versioned change-feed merge replay, DSIR selection, gap fill, scan
#     pruning, margin alignment mining ---------------------------------

_VERSIONED_CDF_MERGE_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice AS DOUBLE)
         + CASE WHEN o_orderkey % 10 = 0 THEN 1.0 ELSE 0.0 END AS price
FROM orders
WHERE o_orderkey % 7 != 0
"""


@register("versioned_cdf_merge_stream_replay", oracle=_VERSIONED_CDF_MERGE_SQL)
def versioned_cdf_merge_stream_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CDC loop (export.py:115-128) end to end AS A
    STREAM (streaming/cdc_stream.py): the 3-commit versioned orders
    table drains through the ``versioned_commits`` DataSource, each
    micro-batch derives per-commit preimage-DELETE/postimage-INSERT
    change rows JVM-side (operators/cdc.snapshot_diff), and the
    streaming/merge.py algebra folds them exactly-once onto a
    maintained snapshot. The returned frame is that MAINTAINED
    SNAPSHOT — the diff→collapse→apply round trip must reproduce the
    table's final version, which the oracle states in closed form from
    orders. Offset handling, the CDF derivation, the merge algebra,
    and the stream runner all sit inside the value hash."""
    import tempfile

    from pyspark_unload_to_gcs_spark.streaming.cdc_stream import (
        start_versioned_cdf_merge,
    )
    from pyspark_unload_to_gcs_spark.streaming.merge import read_snapshot

    path = _versioned_orders(spark, sf_dir)

    def build():
        _register_versioned_commits(spark)
        state = tempfile.mkdtemp(prefix="versioned_cdf_merge_state_")
        ckpt = tempfile.mkdtemp(prefix="versioned_cdf_merge_ckpt_")
        q = start_versioned_cdf_merge(
            spark,
            path,
            key_columns=["o_orderkey"],
            state_path=state,
            checkpoint_dir=ckpt,
        )
        if not q.awaitTermination(300):
            exc = q.exception()
            q.stop()
            raise RuntimeError(
                "versioned_cdf_merge_stream_replay: availableNow drain did not "
                f"finish within 300s (stream exception: {exc})"
            )
        return state

    snap = read_snapshot(
        spark, session_memo(spark, ("versioned", sf_dir, "cdf_merge"), build)
    )
    assert snap is not None
    return snap


_DSIR_BUCKETS = 4096
_DSIR_K = 100

# shared CTE spine for every DSIR oracle: words -> bigrams -> md5
# buckets -> counts -> quantized log-ratio table -> per-doc weights
_DSIR_CTES = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS ws
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i+1])) AS g
  FROM w
), feats AS (
  SELECT g.doc_id, d.lang = 'fr' AS is_target,
         {_duckdb_token_bucket("g.g", _DSIR_BUCKETS)} AS bucket
  FROM grams g JOIN documents d USING (doc_id)
), counts AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS r_cnt,
         CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt
  FROM feats GROUP BY bucket
), totals AS (
  SELECT CAST(SUM(r_cnt) AS BIGINT) AS rt, CAST(SUM(t_cnt) AS BIGINT) AS tt
  FROM counts
), ratios AS (
  SELECT bucket,
         CAST(round(1000000 * (ln(CAST(t_cnt + 1 AS DOUBLE))
                             - ln(CAST(tt + {_DSIR_BUCKETS} AS DOUBLE))
                             - ln(CAST(r_cnt + 1 AS DOUBLE))
                             + ln(CAST(rt + {_DSIR_BUCKETS} AS DOUBLE))))
              AS BIGINT) AS lr_micro
  FROM counts, totals
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(lr_micro) AS BIGINT) AS w_micro
  FROM feats JOIN ratios USING (bucket) GROUP BY doc_id
)
"""

_DSIR_SQL = f"""{_DSIR_CTES}
SELECT doc_id, n_bigrams, w_micro,
       CAST(floor(CAST(w_micro AS DOUBLE) * 1000000 / n_bigrams) AS BIGINT)
         AS avg_lr_micro
FROM per_doc
WHERE n_bigrams > 0
ORDER BY avg_lr_micro DESC, doc_id
LIMIT {_DSIR_K}
"""


@register("dsir_selected_docs", oracle=_DSIR_SQL)
def dsir_selected_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling toward a target domain
    (operators/dsir.py, Xie et al. 2023): hashed-bigram bag models for
    the lang='fr' target vs the raw corpus, per-document exact-BIGINT
    micro-unit log-ratio weights, per-bigram normalization, top-k
    selection. FULL value oracle — the md5 feature hash, the quantized
    log-ratio table, the BIGINT accumulation, and the deterministic
    (avg_lr_micro, doc_id) ranking all replay bit-for-bit in DuckDB, so the
    entire selection pipeline sits under the driver hash. Measured
    behavior at fixture scale: the selected set is 63-72% target-
    domain docs vs a 13-16% base rate."""
    from pyspark_unload_to_gcs_spark.operators.dsir import dsir_select

    docs = _t(spark, sf_dir, "documents")
    return dsir_select(
        docs,
        F.col("lang") == "fr",
        k=_DSIR_K,
        num_buckets=_DSIR_BUCKETS,
    )


_DSIR_SHIFT_SQL = f"""
SELECT TRUE AS kl_improved, CAST({_DSIR_K} AS BIGINT) AS n_selected
"""


@register("dsir_shift_accuracy", oracle=_DSIR_SHIFT_SQL)
def dsir_shift_accuracy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic pin for the DSIR selection (the accuracy-pin pattern):
    KL(target || selected) must be SMALLER than KL(target || raw) over
    the Laplace-smoothed hashed-bigram distributions — importance
    resampling has to move the selected subset toward the target
    domain, so a weight sign flip, a hashing regression, or a ranking
    inversion turns the boolean False while the oracle stays TRUE.
    Runs the PRODUCTION dsir_select path (not a recomputation)."""
    from pyspark_unload_to_gcs_spark.operators.dsir import dsir_shift_report

    docs = _t(spark, sf_dir, "documents")
    return dsir_shift_report(
        docs,
        F.col("lang") == "fr",
        k=_DSIR_K,
        num_buckets=_DSIR_BUCKETS,
    )


_GAP_FILL_SQL = """
WITH per_day AS (
  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM per_day GROUP BY 1
), spine AS (
  SELECT user_id, UNNEST(generate_series(d0, d1)) AS day FROM spans
)
SELECT s.user_id, CAST(s.day AS BIGINT) AS day,
       CAST(COALESCE(p.n_events, 0) AS BIGINT) AS n_events,
       p.n_events IS NULL AS is_gap
FROM spine s LEFT JOIN per_day p USING (user_id, day)
WHERE s.user_id % 5 = 0
"""


@register("gap_fill_daily_activity", oracle=_GAP_FILL_SQL)
def gap_fill_daily_activity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap fill (operators/product.py::gap_fill_daily): one
    row per user per day across each user's active span, zero-filled
    and gap-flagged on missing days — the resample/fill primitive
    rolling time-series consumers build on. Result bounded to the
    user_id % 5 stratum; the oracle rebuilds the spine with
    generate_series and the same epoch-day floor arithmetic."""
    from pyspark_unload_to_gcs_spark.operators.product import gap_fill_daily

    ev = _t(spark, sf_dir, "events")
    return gap_fill_daily(ev).filter(F.col("user_id") % 5 == 0)


_SCAN_PRUNE_SQL = """
WITH w AS (
  SELECT CAST((MAX(o_orderkey) + 8) // 8 AS BIGINT) AS k FROM orders
)
SELECT CAST(o_orderkey // w.k AS BIGINT) AS bkt,
       CAST(1 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS key_min,
       CAST(MAX(o_orderkey) AS BIGINT) AS key_max,
       (MAX(o_orderkey) >= 250 AND MIN(o_orderkey) <= 710) AS keep
FROM orders, w
GROUP BY bkt
"""


@register("scan_prune_preflight", oracle=_SCAN_PRUNE_SQL)
def scan_prune_preflight_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruning DECISION verified against data truth
    (operators/diagnostics.py ``scan_prune_plan``): orders laid out as
    a hive-partitioned table (one file per key-range bucket), then the
    footer-only planner decides which partitions a range predicate
    [250, 710] would read. Footer min/max for an int64 column are
    writer-exact, so every per-bucket row — counts, bounds, and the
    keep/skip boolean — must equal the oracle's data-derived
    recomputation; a stats misread or an off-by-one in the overlap
    rule flips a boolean. This is the 100 TB layout pre-flight: run it
    on a candidate partitioning BEFORE committing the rewrite."""
    import tempfile

    from pyspark_unload_to_gcs_spark.operators.diagnostics import scan_prune_plan

    def build():
        orders = _t(spark, sf_dir, "orders")
        # 8 key-range buckets at EVERY scale (bounded 1-value collect):
        # width = (max_key + 8) div 8, pure integer arithmetic the
        # oracle repeats exactly — a fixed width would write thousands
        # of partition dirs at x10 (fixture cost, not operator cost)
        max_key = orders.agg(F.max("o_orderkey")).first()[0]
        width = (int(max_key) + 8) // 8
        path = tempfile.mkdtemp(prefix="scan_prune_") + "/t"
        (
            orders
            .select(
                "o_orderkey",
                # BIGINT `div` == DuckDB `//` (lore: never float-divide
                # then cast for bucket arithmetic)
                F.expr(f"o_orderkey div {width}").alias("bkt"),
            )
            .repartition("bkt")  # exactly one file per partition dir
            .write.partitionBy("bkt")
            .parquet(path)
        )
        return path

    plan = scan_prune_plan(
        spark,
        session_memo(spark, ("scan_prune", sf_dir), build),
        "o_orderkey",
        lower=250,
        upper=710,
        partition_column="bkt",
    )
    return plan.select(
        F.col("unit").cast("bigint").alias("bkt"),
        "n_files",
        "n_rows",
        "key_min",
        "key_max",
        "keep",
    )


_DSIR_INCR_SQL = f"""{_DSIR_CTES}
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.w_micro, 0) AS BIGINT) AS w_micro,
       CASE WHEN COALESCE(p.n_bigrams, 0) > 0
            THEN CAST(floor(CAST(p.w_micro AS DOUBLE) * 1000000 / p.n_bigrams)
                      AS BIGINT) END AS avg_lr_micro
FROM documents d LEFT JOIN per_doc p USING (doc_id)
WHERE d.doc_id % 10 = 7
"""


@register("dsir_incremental_scores", oracle=_DSIR_INCR_SQL)
def dsir_incremental_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DSIR scoring against a PERSISTED importance model
    (operators/dsir.py ``dsir_ratio_write``/``dsir_score_batch``): the
    corpus-wide ratio table is estimated and written once; a new batch
    (doc_id % 10 == 7) then featurizes ALONE and broadcast-joins the
    frozen table — the corpus is never rescanned, the same increment
    economics as the semantic/PQ index families. The oracle scores the
    same documents through the full-corpus pipeline, so the increment
    path must reproduce the batch's weights bit-for-bit (exact BIGINT
    micro-units; the one avg division rounds identically)."""
    from pyspark_unload_to_gcs_spark.operators.dsir import (
        dsir_ratio_write,
        dsir_score_batch,
    )

    def build():
        import tempfile

        path = tempfile.mkdtemp(prefix="dsir_ratio_") + "/t"
        dsir_ratio_write(
            _t(spark, sf_dir, "documents"),
            F.col("lang") == "fr",
            path,
            num_buckets=_DSIR_BUCKETS,
        )
        return path

    batch = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 7)
    path = session_memo(spark, ("dsir_incr", sf_dir), build)
    return dsir_score_batch(spark, batch, path, num_buckets=_DSIR_BUCKETS)


_ALIGN_K = 4
_ALIGN_CELLS = 8
_ALIGN_THRESH = "1.1"


def _align_spine_sql(cells: int | str = _ALIGN_CELLS) -> str:
    """The alignment-mining WITH clause through ``best`` (no final
    SELECT) — f-string-shared between the margin_align oracles and the
    mined-pairs retrieval-eval oracle so the mining constants can
    never desync between replays. ``cells``: an int pins the
    fixed-cell oracle operating point; ``"auto"`` replays the
    production rule k = max(8, isqrt(n)) from the corpus count — the
    same expression the Spark side evaluates (float sqrt == isqrt for
    every n these tables reach; both engines floor the same IEEE
    double)."""
    from pyspark_unload_to_gcs_spark.registry_extensions import _DOT, _SS

    if cells == "auto":
        cent_cte = """
WITH kk AS (
  SELECT GREATEST(8, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS k
  FROM embeddings
), cent AS (
  SELECT cell, c FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS cell,
           CAST(embedding AS DOUBLE[]) AS c
    FROM embeddings
  ), kk WHERE cell < kk.k
)"""
    else:
        cent_cte = f"""
WITH cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS cell,
         CAST(embedding AS DOUBLE[]) AS c
  FROM embeddings ORDER BY vec_id ASC LIMIT {int(cells)}
)"""

    # the WITH-clause spine through `best` is shared verbatim with the
    # mined-pairs retrieval-eval oracle (_retrieval_eval_oracle) so the
    # mining constants can never desync between the two replays
    return f"""
{cent_cte}, centn AS (
  SELECT cell, c,
         CASE WHEN sqrt({_SS.format(a="c")}) = 0 THEN 1.0
              ELSE sqrt({_SS.format(a="c")}) END AS n
  FROM cent
), centu AS (
  SELECT cell, list_transform(c, x -> x / n) AS u FROM centn
), assigned AS MATERIALIZED (
  SELECT vec_id, v, vn, cell FROM (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
           sqrt({_SS.format(a="CAST(e.embedding AS DOUBLE[])")}) AS vn,
           cu.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_DOT.format(a="CAST(e.embedding AS DOUBLE[])", b="cu.u")} DESC,
                      cu.cell DESC
           ) AS rn
    FROM embeddings e, centu cu
  ) WHERE rn = 1
), pairs AS MATERIALIZED (
  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
         CASE WHEN s.vn * t.vn > 0
              THEN {_DOT.format(a="s.v", b="t.v")} / (s.vn * t.vn)
              ELSE 0.0 END AS cos
  FROM assigned s JOIN assigned t USING (cell)
  WHERE s.vec_id % 2 = 0 AND t.vec_id % 2 = 1
), a AS (
  SELECT src_id,
         list_reduce(list_slice(list_sort(list(cos), 'DESC'), 1, {_ALIGN_K}),
                     (x, y) -> x + y)
           / len(list_slice(list_sort(list(cos), 'DESC'), 1, {_ALIGN_K})) AS ax
  FROM pairs GROUP BY src_id
), b AS (
  SELECT tgt_id,
         list_reduce(list_slice(list_sort(list(cos), 'DESC'), 1, {_ALIGN_K}),
                     (x, y) -> x + y)
           / len(list_slice(list_sort(list(cos), 'DESC'), 1, {_ALIGN_K})) AS by
  FROM pairs GROUP BY tgt_id
), scored AS (
  SELECT p.src_id, p.tgt_id, p.cos,
         CASE WHEN (a.ax + b.by) / 2.0 != 0
              THEN p.cos / ((a.ax + b.by) / 2.0)
              ELSE 0.0 END AS margin
  FROM pairs p JOIN a USING (src_id) JOIN b USING (tgt_id)
), best AS (
  SELECT src_id, tgt_id, cos, margin FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY src_id ORDER BY margin DESC, tgt_id DESC
    ) AS rn FROM scored
  ) WHERE rn = 1
)"""


def _align_oracle(cells: int | str = _ALIGN_CELLS) -> str:
    """DuckDB replay of margin_align_pairs: the shared spine plus the
    thresholded best-pair projection."""
    return f"""
{_align_spine_sql(cells)}
SELECT src_id, tgt_id, round(cos, 6) AS cos_r, round(margin, 6) AS margin_r
FROM best WHERE margin > {_ALIGN_THRESH}
"""


@register("margin_align_mining", oracle=_align_oracle())
def margin_align_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based alignment mining (operators/align.py, the
    LASER/CCMatrix bitext recipe): even-id embeddings as the source
    corpus, odd-id as the target, IVF-cell candidate pairs, ratio
    margin cos / mean-of-kNN-cosines, each source's best target above
    the 1.1 margin threshold. FULL value oracle — centroid selection,
    fold argmax assignment, pair cosines, the sorted-slice kNN
    averages, the margin division, the best-pair tiebreak, and the
    threshold all replay bit-for-bit in DuckDB (every float is either
    a deterministic left fold or one IEEE division). The FIXED 8-cell
    quantizer is the oracle operating point (pair mass ~n²/8);
    production scales n_centroids ~ sqrt(n) — the operator takes the
    quantizer from the caller, so the plan is unchanged
    (SCALE_AUDIT.md r10)."""
    from pyspark_unload_to_gcs_spark.operators.align import margin_align_pairs
    from pyspark_unload_to_gcs_spark.operators.similarity import (
        ivf_centroids_from_sample,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_centroids_from_sample(emb, n_centroids=_ALIGN_CELLS)
    return margin_align_pairs(
        emb,
        F.col("vec_id") % 2 == 0,
        F.col("vec_id") % 2 == 1,
        centroids=cents,
        k=_ALIGN_K,
        margin_threshold=1.1,
    )


# --------------------------------------------------------------------------
# Alignment mining, retrieval eval, leakage-safe split, bloom-prune
# joins, join-size pre-flight, temperature mixing, right-to-be-forgotten
# propagation and IVF drift
# --------------------------------------------------------------------------



def _margin_align_auto_raw(
    spark: SparkSession, sf_dir: str, assign_method: str
) -> DataFrame:
    """The UN-checkpointed auto-k mining frame — the plan that actually
    runs the mine. Plan lint/digest screen THIS (via PLAN_TWINS below);
    the memoizing wrapper's localCheckpoint renders as an opaque
    'Scan ExistingRDD' that would hide the whole mining plan from the
    anti-pattern screens (review r12)."""
    import math

    from pyspark_unload_to_gcs_spark.operators.align import margin_align_pairs
    from pyspark_unload_to_gcs_spark.operators.similarity import (
        ivf_centroids_from_sample,
    )

    emb = _t(spark, sf_dir, "embeddings")
    n_cells = max(8, math.isqrt(emb.count()))
    cents = ivf_centroids_from_sample(emb, n_centroids=n_cells)
    return margin_align_pairs(
        emb,
        F.col("vec_id") % 2 == 0,
        F.col("vec_id") % 2 == 1,
        centroids=cents,
        k=_ALIGN_K,
        margin_threshold=1.1,
        assign_method=assign_method,
    )


def margin_align_auto_with_method(
    spark: SparkSession, sf_dir: str, *, assign_method: str = "arrow"
) -> DataFrame:
    """The margin_align_auto pipeline with a selectable assignment arm
    (equivalence-pinned in tests/test_dsir.py).

    Memoized per (session, sf_dir, arm) — THREE registered consumers
    share this deterministic spine (margin_align_auto itself, the
    mined-pairs retrieval eval, hard-negative mining), so the mined
    frame is lazily localCheckpoint'ed and reused: the first consumer
    pays the mine once, the others read the (small, above-threshold)
    pair frame back — the _shared_signatures precedent, with the build
    cost landing honestly inside the first consumer's bench row."""
    def build():
        return _margin_align_auto_raw(
            spark, sf_dir, assign_method
        ).localCheckpoint(eager=False)

    return session_memo(spark, ("align_auto", sf_dir, assign_method), build)


# Plan twins: for a registered query whose frame is memoized behind a
# localCheckpoint (plan = 'Scan ExistingRDD') or built on an eagerly
# checkpointed intermediate, the twin builds the REAL plan so
# tests/test_plan_lint.py and tools/plan_digest.py screen the hidden
# stages for BatchEvalPython/CartesianProduct and budget drift. Sweep
# of every lineage-truncating registered frame (review r12); the
# stream replays stay out by design — their registered plan IS a state
# read-back, and their fold plans are exercised by the streaming test
# suite. Downstream consumers of a memoized frame
# (mined_pairs_retrieval_eval, hard_negative_mining, the cluster-split
# rows) keep their own post-spine plans visible, so every stage is
# linted exactly once.


def _exact_pairs_twin(s: SparkSession, d: str) -> DataFrame:
    from pyspark_unload_to_gcs_spark.registry_extensions import _exact_pairs_raw

    return _exact_pairs_raw(s, d)


def _incr_semantic_twin(s: SparkSession, d: str) -> DataFrame:
    from pyspark_unload_to_gcs_spark.registry_extensions import (
        _incremental_semantic_match_frame,
    )

    return _incremental_semantic_match_frame(s, d, checkpoint=False)


def _dsir_shift_twin(s: SparkSession, d: str) -> DataFrame:
    from pyspark_unload_to_gcs_spark.operators.dsir import dsir_shift_report

    return dsir_shift_report(
        _t(s, d, "documents"),
        F.col("lang") == "fr",
        k=_DSIR_K,
        num_buckets=_DSIR_BUCKETS,
        checkpoint=False,
    )


PLAN_TWINS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "margin_align_auto": lambda s, d: _margin_align_auto_raw(s, d, "arrow"),
    # forward reference is fine: lambdas resolve module globals at
    # CALL time, and _containment_frame is defined further down
    "containment_dedup": lambda s, d: _containment_frame(
        s, d, materialize_grams=False
    ),
    "incremental_containment_match": lambda s, d: _incr_containment_frame(
        s, d, materialize_grams=False
    ),
    "near_dedup_pairs_exact": _exact_pairs_twin,
    "incremental_semantic_match": _incr_semantic_twin,
    "dsir_shift_accuracy": _dsir_shift_twin,
}


@register("margin_align_auto", oracle=_align_oracle("auto"))
def margin_align_auto_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin alignment mining in its PRODUCTION posture (VERDICT r10
    #2): n_centroids = max(8, isqrt(n)) so within-cell candidate mass
    grows as n^1.5 instead of the fixed-cell n², and the Arrow matmul
    assignment arm — the configuration that ships at 100 TB, now the
    benched one, so the fixed-8-cell `margin_align_mining` row can't
    be mistaken for the shipped plan (the semantic_dedup_auto
    precedent). FULL value oracle: the auto-k rule replays in SQL from
    count(*), and the arrow arm is fixture-equivalence-pinned to the
    fold arm the oracle derives
    (tests/test_dsir.py::test_margin_align_auto_arrow_matches_fold),
    so the same DuckDB replay stays exact for both arms."""
    return margin_align_auto_with_method(spark, sf_dir, assign_method="arrow")


_REVAL_M = 10       # mined pairs evaluated as retrieval queries
_REVAL_TOPN = 20    # per-arm candidate depth
_REVAL_TOPK = 10    # fused depth the gold rank is measured within


def _retrieval_eval_oracle() -> str:
    """DuckDB replay of mined_pairs_retrieval_eval: the alignment
    spine's mined pairs (shared verbatim via _align_spine_sql) become
    gold labels; each of the top-{_REVAL_M} mined sources runs hybrid
    retrieval over the odd-id corpus — a cosine vector arm and a
    distinct-bigram Jaccard lexical arm, both rounded to 9 before
    ranking so last-ulp libm drift can't flip a cut — fused by
    two-term fixed-order RRF, and the gold target's fused rank is the
    output. Every float is a deterministic left fold, one IEEE
    division, or an exact-rational 1/(60+rank) term. The label spine
    replays the AUTO-K quantizer (k = max(8, isqrt(n))) — the same
    production posture margin_align_auto benches — so no live row
    carries the fixed-cell n²/8 pair-mass curve (VERDICT r11 #2)."""
    from pyspark_unload_to_gcs_spark.registry_extensions import _DOT, _SS

    words = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"
    return f"""
{_align_spine_sql("auto")}, gold AS (
  SELECT src_id, tgt_id FROM best WHERE margin > {_ALIGN_THRESH}
  ORDER BY round(margin, 6) DESC, src_id ASC LIMIT {_REVAL_M}
), qvec AS (
  SELECT g.src_id, CAST(e.embedding AS DOUBLE[]) AS qv,
         sqrt({_SS.format(a="CAST(e.embedding AS DOUBLE[])")}) AS qn
  FROM gold g JOIN embeddings e ON e.vec_id = g.src_id
), vcand AS (
  SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS cv,
         sqrt({_SS.format(a="CAST(embedding AS DOUBLE[])")}) AS cn
  FROM embeddings WHERE vec_id % 2 = 1
), vscored AS (
  SELECT q.src_id, c.doc_id,
         round(CASE WHEN q.qn * c.cn > 0
                    THEN {_DOT.format(a="q.qv", b="c.cv")} / (q.qn * c.cn)
                    ELSE 0.0 END, 9) AS cos_r
  FROM qvec q, vcand c
), vrank AS (
  SELECT src_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY src_id ORDER BY cos_r DESC, doc_id ASC
         ) AS BIGINT) AS rnk
  FROM vscored QUALIFY rnk <= {_REVAL_TOPN}
), qtok AS (
  SELECT g.src_id, {words} AS t
  FROM gold g JOIN documents d ON d.doc_id = g.src_id
), qlex AS (
  SELECT src_id,
         list_distinct(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i + 1]) END) AS qg
  FROM qtok
), ctok AS (
  SELECT doc_id, {words} AS t FROM documents WHERE doc_id % 2 = 1
), lcand AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i + 1]) END) AS cg
  FROM ctok
), lscored AS (
  SELECT q.src_id, c.doc_id,
         round(CASE WHEN len(q.qg) + len(c.cg)
                         - len(list_filter(c.cg, x -> list_contains(q.qg, x))) > 0
                    THEN CAST(len(list_filter(c.cg, x -> list_contains(q.qg, x))) AS DOUBLE)
                         / (len(q.qg) + len(c.cg)
                            - len(list_filter(c.cg, x -> list_contains(q.qg, x))))
                    ELSE 0.0 END, 9) AS jac_r
  FROM qlex q, lcand c
), lrank AS (
  SELECT src_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY src_id ORDER BY jac_r DESC, doc_id ASC
         ) AS BIGINT) AS rnk
  FROM lscored QUALIFY rnk <= {_REVAL_TOPN}
), fused AS (
  SELECT COALESCE(l.src_id, v.src_id) AS src_id,
         COALESCE(l.doc_id, v.doc_id) AS doc_id,
         COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + l.rnk AS DOUBLE),
                  CAST(0.0 AS DOUBLE))
         + COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + v.rnk AS DOUBLE),
                    CAST(0.0 AS DOUBLE)) AS rrf
  FROM lrank l FULL OUTER JOIN vrank v
    ON l.src_id = v.src_id AND l.doc_id = v.doc_id
), topfused AS (
  SELECT src_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY src_id ORDER BY rrf DESC, doc_id ASC
         ) AS BIGINT) AS fr
  FROM fused QUALIFY fr <= {_REVAL_TOPK}
)
SELECT g.src_id, g.tgt_id,
       COALESCE(t.fr, CAST(0 AS BIGINT)) AS gold_rank,
       round(COALESCE(CAST(1.0 AS DOUBLE) / t.fr, CAST(0.0 AS DOUBLE)), 9) AS rr_r
FROM gold g LEFT JOIN topfused t
  ON t.src_id = g.src_id AND t.doc_id = g.tgt_id
"""


@register("mined_pairs_retrieval_eval", oracle=_retrieval_eval_oracle())
def mined_pairs_retrieval_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mined-pairs -> retrieval-eval composition (VERDICT r10 #7, the
    last §2l family with no end-to-end composition row): the margin
    alignment miner's output becomes relevance supervision for the
    hybrid retrieval stack. The top-{_REVAL_M} mined (src, tgt) pairs
    by margin are treated as labeled queries; each source runs BOTH
    retrieval arms over the odd-id corpus — exact cosine (vector) and
    distinct-bigram Jaccard (lexical), each cut to top-{_REVAL_TOPN}
    per query — fused per query by batched Reciprocal Rank Fusion
    (operators/similarity.py::rrf_fuse ``query_column`` mode), and the
    gold target's rank inside the fused top-{_REVAL_TOPK} is emitted
    (0 = miss) with its reciprocal-rank contribution. This is the
    standard mined-supervision retrieval evaluation loop (CCMatrix
    mining -> retrieval QA) run as ONE plan: M bounded query rows
    broadcast against the corpus, per-query windows partitioned by
    query id — no driver loop, no global sort, corpus scanned once
    per arm. FULL value oracle sharing the mining spine f-string.
    The gold labels mine on the AUTO-K quantizer + Arrow assignment
    (the margin_align_auto production posture, n^1.5 pair mass) so no
    live row carries the fixed-cell n²/8 curve (VERDICT r11 #2)."""
    from pyspark.sql import Window

    from pyspark_unload_to_gcs_spark.operators.similarity import (
        _pair_dot,
        norm,
        rrf_fuse,
    )
    from pyspark_unload_to_gcs_spark.operators.text import (
        word_ngrams_zip,
        words_col,
    )

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    gold = (
        margin_align_auto_with_method(spark, sf_dir, assign_method="arrow")
        .orderBy(F.col("margin_r").desc(), F.col("src_id").asc())
        .limit(_REVAL_M)
        .select("src_id", "tgt_id")
    )

    # vector arm: M broadcast query vectors against the odd-id corpus
    qvec = gold.join(emb, gold["src_id"] == emb["vec_id"]).select(
        "src_id",
        F.col("embedding").cast("array<double>").alias("__qv"),
    )
    qvec = qvec.withColumn("__qn", norm(F.col("__qv")))
    vcand = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("__cv"),
    ).withColumn("__cn", norm(F.col("__cv")))
    vdenom = F.col("__qn") * F.col("__cn")
    vscored = vcand.join(F.broadcast(qvec)).select(
        "src_id",
        "doc_id",
        F.round(
            F.when(vdenom > 0, _pair_dot("__qv", "__cv") / vdenom).otherwise(
                F.lit(0.0)
            ),
            9,
        ).alias("cos_r"),
    )
    wv = Window.partitionBy("src_id").orderBy(
        F.col("cos_r").desc(), F.col("doc_id").asc()
    )
    vrank = (
        vscored.withColumn("rank", F.row_number().over(wv))
        .filter(F.col("rank") <= _REVAL_TOPN)
        .select("src_id", "doc_id", "rank")
    )

    # lexical arm: distinct-bigram Jaccard of the M query docs against
    # the odd-id corpus (tokens staged per the word_ngrams contract)
    qtok = (
        gold.join(docs, gold["src_id"] == docs["doc_id"])
        .select("src_id", words_col(F.col("text")).alias("__t"))
        .select(
            "src_id",
            F.array_distinct(word_ngrams_zip(F.col("__t"), 2)).alias("__qg"),
        )
    )
    ctok = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", words_col(F.col("text")).alias("__t"))
        .select(
            "doc_id",
            F.array_distinct(word_ngrams_zip(F.col("__t"), 2)).alias("__cg"),
        )
    )
    inter = F.size(F.array_intersect(F.col("__cg"), F.col("__qg")))
    union = F.size(F.col("__qg")) + F.size(F.col("__cg")) - inter
    lscored = ctok.join(F.broadcast(qtok)).select(
        "src_id",
        "doc_id",
        F.round(
            F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)),
            9,
        ).alias("jac_r"),
    )
    wl = Window.partitionBy("src_id").orderBy(
        F.col("jac_r").desc(), F.col("doc_id").asc()
    )
    lrank = (
        lscored.withColumn("rank", F.row_number().over(wl))
        .filter(F.col("rank") <= _REVAL_TOPN)
        .select("src_id", "doc_id", "rank")
    )

    fused = rrf_fuse(
        lrank,
        vrank,
        id_column="doc_id",
        query_column="src_id",
        k=60,
        top_k=_REVAL_TOPK,
    )
    # fused_rank comes FROM rrf_fuse's own cut window — re-deriving it
    # with a second identical window duplicated the sort and forked the
    # tie rule (review r11)
    ranked = fused.select("src_id", "doc_id", F.col("fused_rank").alias("fr"))
    return gold.join(
        ranked,
        (gold["src_id"] == ranked["src_id"]) & (gold["tgt_id"] == ranked["doc_id"]),
        "left",
    ).select(
        gold["src_id"],
        gold["tgt_id"],
        F.coalesce(ranked["fr"].cast("long"), F.lit(0).cast("long")).alias(
            "gold_rank"
        ),
        F.round(
            F.when(
                ranked["fr"].isNotNull(), F.lit(1.0) / ranked["fr"].cast("double")
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("rr_r"),
    )


def _leakage_split_oracle() -> str:
    from pyspark_unload_to_gcs_spark.registry_extensions import _CLUSTERS_CTE

    return f"""
    WITH {_CLUSTERS_CTE}
    SELECT doc_id, cluster_id,
           CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 4) < 'cccc'
                THEN 'train' ELSE 'test' END AS split
    FROM clusters
    """


@register("leakage_safe_split", oracle=_leakage_split_oracle())
def leakage_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/test split: the deterministic md5 80/20 split
    keyed by the NEAR-DUP CLUSTER id instead of the document id, so a
    document and its near-duplicates can never straddle the split —
    the contamination channel a plain per-doc split leaves open (a
    test doc's near-copy in train is leakage a dedup pass ran too late
    to catch). Composition: the exact >=0.8 single-link clusters
    (operators/graph.py dedup_clusters over the shared banded pair
    frame) -> deterministic_split on cluster_id (operators/sampling).
    Zero leakage holds BY CONSTRUCTION (split is a pure function of
    the cluster id); the full value oracle replays shingling, the
    exact pair set, the recursive closure (f-string-shared
    _CLUSTERS_CTE), and the md5 threshold per document. Scale: one
    banded-pair closure (the near_dup_clusters plan) plus a narrow
    md5 map — no new shuffle beyond the cluster build."""
    from pyspark_unload_to_gcs_spark.operators.graph import dedup_clusters
    from pyspark_unload_to_gcs_spark.operators.sampling import deterministic_split
    from pyspark_unload_to_gcs_spark.registry_extensions import _shared_exact_pairs

    docs = _t(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        docs, _shared_exact_pairs(spark, sf_dir), id_column="doc_id"
    ).select("doc_id", "cluster_id")
    return deterministic_split(clusters, "cluster_id", train_fraction=0.8)


_BLOOM_B = 4096


def _bloom_oracle() -> str:
    bkt = _duckdb_token_bucket("CAST({key} AS VARCHAR)", _BLOOM_B)
    return f"""
WITH build AS (
  SELECT c_custkey FROM customer WHERE c_acctbal > 9000
), bkts AS (
  SELECT DISTINCT {bkt.format(key="c_custkey")} AS b FROM build
), probe AS (
  SELECT o_custkey, o_totalprice FROM orders WHERE o_custkey IS NOT NULL
), pruned AS (
  SELECT p.* FROM probe p
  WHERE {bkt.format(key="p.o_custkey")} IN (SELECT b FROM bkts)
), joined AS (
  SELECT p.o_totalprice FROM pruned p JOIN build b ON p.o_custkey = b.c_custkey
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM probe)  AS n_probe,
  (SELECT CAST(count(*) AS BIGINT) FROM pruned) AS n_pruned,
  (SELECT CAST(count(*) AS BIGINT) FROM joined) AS n_joined,
  (SELECT CAST(count(*) AS BIGINT) FROM pruned)
    - (SELECT CAST(count(*) AS BIGINT) FROM joined) AS n_false_kept,
  (SELECT CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
               AS BIGINT) FROM joined) AS revenue_cents
"""


@register("bloom_prune_join", oracle=_bloom_oracle())
def bloom_prune_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned selective join (operators/joins.py
    ``bucket_bloom_prune`` — the manual, plan-guaranteed analogue of
    Spark's runtime bloom-filter pushdown, SPARK-32268): a selective
    customer cohort (acctbal > 9000) is the build side; orders is the
    probe. The build side's distinct key-bucket set (≤ {_BLOOM_B}
    longs) broadcasts and LEFT SEMI-prunes the probe BEFORE the exact
    join — at 100 TB this is the difference between shuffling the full
    fact table and shuffling ~the matching slice (no false negatives
    by construction; false positives ~|build|/{_BLOOM_B} are removed
    by the exact join and COUNTED here). One output row: probe size,
    post-prune size, joined size, false-kept rows (the bloom leakage,
    pinned so a hashing regression is a value failure, not a silent
    slowdown), and the joined revenue in exact cents. The md5 bucket
    arm replays in DuckDB; production uses the xxhash64 arm (same
    operator, same plan shape)."""
    from pyspark_unload_to_gcs_spark.operators.joins import bucket_bloom_prune

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    build = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    probe = orders.select("o_custkey", "o_totalprice").filter(
        F.col("o_custkey").isNotNull()
    )
    pruned = bucket_bloom_prune(
        probe,
        build,
        probe_key="o_custkey",
        build_key="c_custkey",
        num_buckets=_BLOOM_B,
        method="md5",
    )
    joined = pruned.join(
        F.broadcast(build), pruned["o_custkey"] == build["c_custkey"]
    )
    n_probe = probe.agg(F.count(F.lit(1)).cast("long").alias("n_probe"))
    n_pruned = pruned.agg(F.count(F.lit(1)).cast("long").alias("n_pruned"))
    jstats = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_joined"),
        F.coalesce(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("revenue_cents"),
    )
    return (
        n_probe.crossJoin(F.broadcast(n_pruned))
        .crossJoin(F.broadcast(jstats))
        .select(
            "n_probe",
            "n_pruned",
            "n_joined",
            (F.col("n_pruned") - F.col("n_joined")).cast("long").alias("n_false_kept"),
            "revenue_cents",
        )
    )


_CM_ROWS = 4
_CM_WIDTH = 2048


def _cm_preflight_oracle() -> str:
    bkt = _duckdb_token_bucket(
        "CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)", _CM_WIDTH
    )
    return f"""
WITH keys AS (
  SELECT user_id FROM events WHERE user_id IS NOT NULL
), cm AS (
  SELECT r, {bkt} AS b, CAST(count(*) AS BIGINT) AS c
  FROM keys CROSS JOIN generate_series(0, {_CM_ROWS - 1}) AS t(r)
  GROUP BY 1, 2
), per_row AS (
  SELECT r, CAST(sum(c * c) AS BIGINT) AS s FROM cm GROUP BY r
), est AS (
  SELECT CAST(min(s) AS BIGINT) AS f2_est FROM per_row
), truth AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS f2_truth
  FROM (SELECT user_id, count(*) AS c FROM keys GROUP BY user_id)
)
SELECT e.f2_est, t.f2_truth,
       e.f2_est >= t.f2_truth AS never_underestimates,
       round((CAST(e.f2_est AS DOUBLE) - CAST(t.f2_truth AS DOUBLE))
             / CAST(t.f2_truth AS DOUBLE), 9) AS rel_err_r
FROM est e, truth t
"""


@register("join_size_preflight", oracle=_cm_preflight_oracle())
def join_size_preflight_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size pre-flight (operators/diagnostics.py
    ``cm_join_size_estimate``): the count-min inner-product estimator
    (Cormode & Muthukrishnan 2005) predicts the events-on-user_id
    SELF-join size (the F2 moment — the classic skew/fan-out red
    flag) from two bounded ({_CM_ROWS} x {_CM_WIDTH}) sketches, no
    shuffle of the table by the key. This is the sketch upgrade path
    ``join_cardinality_profile`` documents for extreme key
    cardinality: the exact profiler shuffles per-key count frames
    (n_keys rows); this one's state is constant. The estimate NEVER
    underestimates (collision terms are non-negative) — the safe
    direction for "do I dare run this join?" — and the row emits the
    estimate, the exact truth, the guaranteed-direction boolean, and
    the relative error, all under a full value oracle (md5-salted
    buckets, BIGINT sums, one IEEE division)."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        cm_join_size_estimate,
    )

    ev = _t(spark, sf_dir, "events")
    est = cm_join_size_estimate(
        ev, ev, left_key="user_id", right_key="user_id",
        rows=_CM_ROWS, width=_CM_WIDTH,
    ).select(F.col("join_size_est").alias("f2_est"))
    truth = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_truth"))
    )
    return est.crossJoin(F.broadcast(truth)).select(
        "f2_est",
        "f2_truth",
        (F.col("f2_est") >= F.col("f2_truth")).alias("never_underestimates"),
        F.round(
            (F.col("f2_est").cast("double") - F.col("f2_truth").cast("double"))
            / F.col("f2_truth").cast("double"),
            9,
        ).alias("rel_err_r"),
    )


@register(
    "temperature_mix_sample",
    oracle="""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
), s AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         list_reduce(
           list_transform(list(n ORDER BY lang ASC),
                          x -> sqrt(CAST(x AS DOUBLE))),
           (a, b) -> a + b) AS W
  FROM c
), q AS (
  SELECT lang,
         CAST(floor(CAST(total // 2 AS DOUBLE) * sqrt(CAST(n AS DOUBLE)) / W)
              AS BIGINT) AS quota
  FROM c, s
), r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rn
  FROM documents
)
SELECT r.doc_id, r.lang FROM r JOIN q USING (lang) WHERE r.rn <= q.quota
""",
)
def temperature_mix_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota temperature language mixing (operators/sampling.py
    ``quota_temperature_mix``, tau=0.5 — the multilingual data-recipe
    primitive: sampling ∝ n_lang^0.5 flattens English dominance so
    tail languages up-weight, the standard alternative to natural or
    uniform sampling when assembling a training mix): half the corpus
    selected with per-language quotas floor(B·√n_l / Σ√n), members
    picked by md5 order within each language. tau=0.5 is the
    oracle-exact configuration (IEEE sqrt is correctly rounded; the
    weight sum folds left-to-right over languages ascending), so
    quota arithmetic and the md5 rank cut replay bit-for-bit.
    Complements the rate-based temperature_mix family
    (temperature_mix_weights row) with hard per-stratum counts — the
    fixed-size training-mix manifest shape."""
    from pyspark_unload_to_gcs_spark.operators.sampling import (
        quota_temperature_mix,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return quota_temperature_mix(docs, "lang", "doc_id", tau=0.5)


_RTBF_BAL = -700


def _rtbf_table(spark: SparkSession, sf_dir: str) -> str:
    """Two-commit right-to-be-forgotten fixture (memoized per session):
    v0 @ ms 1000 = the full orders projection; v1 @ ms 2000 = v0 with
    every order of the deletion cohort (customers with
    c_acctbal < {_RTBF_BAL}) removed via the bloom-accelerated
    anti-join (operators/joins.py bucket_bloom_anti_join — the md5 arm,
    so the surviving set is engine-replayable). Deterministic clock and
    cohort, so the tombstone feed replays in closed form."""
    from pyspark_unload_to_gcs_spark.operators.joins import bucket_bloom_anti_join
    from pyspark_unload_to_gcs_spark.sources.versioned import commit_version

    def build():
        import tempfile

        path = tempfile.mkdtemp(prefix="rtbf_orders_") + "/t"
        base = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )
        cohort = (
            _t(spark, sf_dir, "customer")
            .filter(F.col("c_acctbal") < _RTBF_BAL)
            .select("c_custkey")
        )
        survivors = bucket_bloom_anti_join(
            base,
            cohort,
            left_key="o_custkey",
            right_key="c_custkey",
            num_buckets=_BLOOM_B,
            method="md5",
        )
        commit_version(base, path, 1000)
        commit_version(survivors, path, 2000)
        return path

    return session_memo(spark, ("rtbf", sf_dir), build)


_RTBF_SQL = f"""
SELECT 'DELETE' AS _mp_change_type,
       o.o_orderkey, o.o_custkey,
       CAST(o.o_totalprice AS DOUBLE) AS price,
       CAST(1 AS BIGINT) AS _commit_version,
       CAST(2000 AS BIGINT) AS _commit_timestamp
FROM orders o
WHERE o.o_custkey IN (
  SELECT c_custkey FROM customer WHERE c_acctbal < {_RTBF_BAL}
)
"""


@register("rtbf_delete_propagation", oracle=_RTBF_SQL)
def rtbf_delete_propagation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation as a versioned-table commit
    plus an auditable tombstone feed: a deletion cohort (customers
    with c_acctbal < {_RTBF_BAL}) is removed from the maintained
    orders table via the bloom-accelerated anti-join — at 100 TB the
    unaffected majority crosses ONE broadcast bucket join; only the
    bucket-hit slice pays the exact anti-join — committed atomically
    (CAS-locked ledger, sources/versioned.py), and the registered
    output is the CDF window of the deletion commit: the DELETE
    tombstones downstream consumers (exports, caches, feature stores)
    need to forget the same users. The oracle replays the cohort and
    tombstone set in closed form; the commit-stamp columns pin the
    exactly-once version/clock contract."""
    from pyspark_unload_to_gcs_spark.sources.versioned import change_feed

    path = _rtbf_table(spark, sf_dir)
    return change_feed(spark, path, 2000, 2000, key_columns=["o_orderkey"])


_DRIFT_CELLS = 8


def _drift_oracle() -> str:
    """Two fold-exact argmax assignments (the _align_spine_sql CTE
    pattern) against two deterministic quantizers — old = the 8
    smallest-id vectors, new = the 8 smallest ODD-id vectors — folded
    to the all-integer drift report."""
    from pyspark_unload_to_gcs_spark.registry_extensions import _DOT, _SS

    def assigned(tag: str, where: str) -> str:
        return f"""cent_{tag} AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS cell,
         CAST(embedding AS DOUBLE[]) AS c
  FROM embeddings {where} ORDER BY vec_id ASC LIMIT {_DRIFT_CELLS}
), centu_{tag} AS (
  SELECT cell,
         list_transform(c, x -> x / (CASE WHEN sqrt({_SS.format(a="c")}) = 0
                                          THEN 1.0
                                          ELSE sqrt({_SS.format(a="c")}) END)) AS u
  FROM cent_{tag}
), assigned_{tag} AS (
  SELECT vec_id, cell AS cell_{tag} FROM (
    SELECT e.vec_id, cu.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_DOT.format(a="CAST(e.embedding AS DOUBLE[])", b="cu.u")} DESC,
                      cu.cell DESC
           ) AS rn
    FROM embeddings e, centu_{tag} cu
  ) WHERE rn = 1
)"""

    return f"""
WITH {assigned("old", "")}, {assigned("new", "WHERE vec_id % 2 = 1")},
cells AS (
  SELECT o.cell_old, n.cell_new
  FROM assigned_old o JOIN assigned_new n USING (vec_id)
), counts AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(sum(CASE WHEN cell_old != cell_new THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved
  FROM cells
), occ AS (
  SELECT
    (SELECT CAST(max(c) AS BIGINT) FROM
      (SELECT count(*) AS c FROM cells GROUP BY cell_old)) AS mx_old,
    (SELECT CAST(max(c) AS BIGINT) FROM
      (SELECT count(*) AS c FROM cells GROUP BY cell_new)) AS mx_new
)
SELECT n_vectors, n_moved,
       CAST(floor(n_moved * 1000000.0 / n_vectors) AS BIGINT) AS moved_ppm,
       CAST(floor(mx_old * 1000000.0 / n_vectors) AS BIGINT)
         AS max_cell_share_ppm_old,
       CAST(floor(mx_new * 1000000.0 / n_vectors) AS BIGINT)
         AS max_cell_share_ppm_new
FROM counts, occ
"""


@register("ivf_index_drift", oracle=_drift_oracle())
def ivf_index_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-rebuild pre-flight (operators/similarity.py
    ``ivf_drift_report``): how stale is a cell-partitioned IVF/IVF-PQ
    index under a candidate re-quantization? The report counts vectors
    whose argmax cell moves between the deployed quantizer (the 8
    smallest-id vectors) and a candidate one (the 8 smallest odd-id
    vectors) — the fraction a rebuild physically rewrites and the
    recall-decay proxy — plus max-cell occupancy shares in exact ppm
    (quantizer skew = hot serve-time partitions). Completes the index
    lifecycle the incremental IVF-PQ rows started: build -> append ->
    compact -> DRIFT-MONITOR -> rebuild decision. Two narrow
    assignment maps over one vector scan, bounded aggregates,
    all-integer output under a full value oracle."""
    from pyspark_unload_to_gcs_spark.operators.similarity import (
        ivf_centroids_from_sample,
        ivf_drift_report,
    )

    emb = _t(spark, sf_dir, "embeddings")
    old = ivf_centroids_from_sample(emb, n_centroids=_DRIFT_CELLS)
    new = ivf_centroids_from_sample(
        emb.filter(F.col("vec_id") % 2 == 1), n_centroids=_DRIFT_CELLS
    )
    return ivf_drift_report(emb, old, new)


# --------------------------------------------------------------------------
# Bloom-prune->exact-join composition, dataset drift (categorical and
# value PSI, streaming), quota-mix stream replay, contrastive
# hard-negative mining, containment dedup and incremental containment
# matching.
# --------------------------------------------------------------------------

_BPEJ_SQL = """
SELECT o.o_custkey AS custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_acctbal > 9000 AND c.c_mktsegment = 'BUILDING'
GROUP BY o.o_custkey
"""


@register("bloom_prune_exact_join", oracle=_BPEJ_SQL)
def bloom_prune_exact_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prune -> exact-join COMPOSITION on the PRODUCTION hash arm
    (VERDICT r11 #4; operators/joins.py ``bucket_bloom_prune`` with
    method="xxhash64"): the prune's no-false-negatives guarantee means
    the exact join's result is invariant to it, so — unlike the
    diagnostics row ``bloom_prune_join``, which pins leakage counts on
    the md5 replay arm — this row can run the cheap JVM xxhash64 path
    the 100 TB deployment uses and STILL sit under a full value oracle
    (the plain join; reference capability anchor: the CDC anti-join
    shape, export.py:121-126). End-to-end output: per-customer order
    count and exact-cents revenue for a selective cohort (BUILDING
    segment, acctbal > 9000), the probe never shuffling before the
    prune cuts it to ~the matching slice."""
    from pyspark_unload_to_gcs_spark.operators.joins import bucket_bloom_prune

    cust = _t(spark, sf_dir, "customer")
    build = cust.filter(
        (F.col("c_acctbal") > 9000) & (F.col("c_mktsegment") == "BUILDING")
    ).select("c_custkey")
    probe = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    pruned = bucket_bloom_prune(
        probe,
        build,
        probe_key="o_custkey",
        build_key="c_custkey",
        num_buckets=_BLOOM_B,
        method="xxhash64",
    )
    joined = pruned.join(
        F.broadcast(build), pruned["o_custkey"] == build["c_custkey"]
    )
    return joined.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


def _psi_term_sql(n_a: str, n_b: str, na: str, nb: str, k: str) -> str:
    """The ONE spelling of the smoothed-PSI term for every DuckDB
    replay (event_drift_psi, drift_stream_replay, value_drift_psi) —
    the SQL twin of operators/diagnostics.drift_psi_from_counts, so a
    smoothing or rounding change cannot be edited into one oracle and
    silently break parity for the others (review r12)."""
    pp = f"(CAST({n_a} + 1 AS DOUBLE) / CAST({na} + {k} AS DOUBLE))"
    qq = f"(CAST({n_b} + 1 AS DOUBLE) / CAST({nb} + {k} AS DOUBLE))"
    return f"round(({pp} - {qq}) * ln({pp} / {qq}), 6)"


_PSI_CUT_MS = 1705363200000  # 2024-01-16T00:00:00Z — mid-fixture cut

_PSI_SQL = f"""
WITH c AS (
  SELECT event_type,
         CAST(sum(CASE WHEN epoch_ms(ts) < {_PSI_CUT_MS} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN epoch_ms(ts) < {_PSI_CUT_MS} THEN 0 ELSE 1 END)
              AS BIGINT) AS n_b
  FROM events GROUP BY event_type
), t AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb,
         CAST(count(*) AS BIGINT) AS k
  FROM c
)
SELECT c.event_type, c.n_a, c.n_b,
       {_psi_term_sql("c.n_a", "c.n_b", "t.na", "t.nb", "t.k")} AS psi_term_r
FROM c, t
"""


@register("event_drift_psi", oracle=_PSI_SQL)
def event_drift_psi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-drift gate (operators/diagnostics.py
    ``categorical_drift_psi``): the Population Stability Index of the
    event_type mix between the fixture's first half (ts before
    Jan 16) and its second half — the accept/inspect/block number a
    100 TB ingest runs on every new crawl snapshot before it enters
    the training corpus, computed in ONE conditional-aggregation scan
    (no second pass, no snapshot self-join). Laplace-smoothed over the
    categories observed in either slice so one-sided categories stay
    finite; counts exact BIGINT, each probability one IEEE division,
    the single ln rounded to 6 (the repo's ln-bearing-oracle
    convention — TF-IDF/BM25 precedent). Completes the drift family
    ivf_index_drift started: that row watches the INDEX, this one
    watches the DATA."""
    from pyspark_unload_to_gcs_spark.functions.timestamps import (
        epoch_ms as epoch_ms_col,
    )
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        categorical_drift_psi,
    )

    ev = _t(spark, sf_dir, "events")
    return categorical_drift_psi(
        ev, "event_type", epoch_ms_col(ev, "ts") < _PSI_CUT_MS
    )


_QMIX_BATCHES = 3


def _qmix_oracle() -> str:
    """DuckDB replay of the growing-corpus quota-mix manifests: for
    each batch b, the cumulative corpus is doc_id % 3 <= b; the budget
    is FROZEN at bootstrap (half the batch-0 corpus); quotas and the
    md5-rank selection replay the temperature_mix_sample spelling."""
    parts = []
    for b in range(_QMIX_BATCHES):
        parts.append(f"""
c{b} AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n
  FROM documents WHERE doc_id % {_QMIX_BATCHES} <= {b} GROUP BY lang
), s{b} AS (
  SELECT list_reduce(
           list_transform(list(n ORDER BY lang ASC),
                          x -> sqrt(CAST(x AS DOUBLE))),
           (a, b) -> a + b) AS W
  FROM c{b}
), q{b} AS (
  SELECT lang,
         CAST(floor(CAST(B AS DOUBLE) * sqrt(CAST(n AS DOUBLE)) / W)
              AS BIGINT) AS quota
  FROM c{b}, s{b}, bud
), r{b} AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rn
  FROM documents WHERE doc_id % {_QMIX_BATCHES} <= {b}
), m{b} AS (
  SELECT CAST({b} AS BIGINT) AS batch_id, c.lang, c.n AS n_docs,
         CAST(coalesce(x.ns, 0) AS BIGINT) AS n_selected,
         CAST(coalesce(x.ss, 0) AS BIGINT) AS sel_id_sum
  FROM c{b} c LEFT JOIN (
    SELECT r.lang, count(*) AS ns, sum(r.doc_id) AS ss
    FROM r{b} r JOIN q{b} q USING (lang)
    WHERE r.rn <= q.quota GROUP BY r.lang
  ) x USING (lang)
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM m{b}" for b in range(_QMIX_BATCHES)
    )
    return (
        "WITH bud AS (\n"
        "  SELECT CAST(count(*) // 2 AS BIGINT) AS B FROM documents "
        f"WHERE doc_id % {_QMIX_BATCHES} = 0\n), "
        + ",".join(parts)
        + "\n"
        + union
    )


@register("quota_mix_stream_replay", oracle=_qmix_oracle())
def quota_mix_stream_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size training-mix manifests over a GROWING corpus
    (streaming/manifest.py; the streaming twin VERDICT r11 #4 asked
    for): three ingest micro-batches (doc_id % 3) fold into versioned
    corpus state; each batch re-balances the SAME bootstrap-frozen
    budget (half the batch-0 corpus) across the shifting language
    counts with the exact-quota tau=0.5 operator the batch row
    temperature_mix_sample pins. Output: one manifest row per
    (batch, lang) with corpus count, selected count, and the md5-rank
    selection fingerprinted by its exact id sum — head languages lose
    manifest share as the corpus grows, tail languages gain, and every
    number replays bit-for-bit (sqrt-fold quotas, md5 rank, BIGINT
    sums).

    Bench note (the r12 promotion caveat): exact COUPLED quotas mean
    each batch re-reads the cumulative (doc_id, lang) projection —
    two narrow columns, never the payload — so per-batch cost grows
    with the corpus; that is the honest price of exactness, and the
    rate-based ``temperature_mix`` is the incremental alternative
    when approximate shares suffice."""
    from pyspark_unload_to_gcs_spark.streaming.manifest import (
        quota_mix_batch,
        read_manifests,
    )
    from pyspark_unload_to_gcs_spark.streaming.replay import replay_batches

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    batches = tuple(
        docs.filter(F.col("doc_id") % _QMIX_BATCHES == b)
        for b in range(_QMIX_BATCHES)
    )
    return replay_batches(
        spark,
        ("qmix", sf_dir),
        batches,
        lambda frame, b, state: quota_mix_batch(
            frame,
            b,
            stratum_column="lang",
            id_column="doc_id",
            state_path=state,
            tau=0.5,
        ),
        lambda state: read_manifests(spark, state),
        prefix="quota_mix_replay_",
    )


_HNEG_K = 5


def _hneg_oracle() -> str:
    """DuckDB replay of hard_negative_mining: the auto-k mining spine's
    top-{_REVAL_M} gold pairs, each source's cosine top-{_HNEG_K}
    NON-GOLD candidates over the odd-id corpus."""
    from pyspark_unload_to_gcs_spark.registry_extensions import _DOT, _SS

    return f"""
{_align_spine_sql("auto")}, gold AS (
  SELECT src_id, tgt_id FROM best WHERE margin > {_ALIGN_THRESH}
  ORDER BY round(margin, 6) DESC, src_id ASC LIMIT {_REVAL_M}
), qvec AS (
  SELECT g.src_id, g.tgt_id, CAST(e.embedding AS DOUBLE[]) AS qv,
         sqrt({_SS.format(a="CAST(e.embedding AS DOUBLE[])")}) AS qn
  FROM gold g JOIN embeddings e ON e.vec_id = g.src_id
), vcand AS (
  SELECT vec_id AS neg_id, CAST(embedding AS DOUBLE[]) AS cv,
         sqrt({_SS.format(a="CAST(embedding AS DOUBLE[])")}) AS cn
  FROM embeddings WHERE vec_id % 2 = 1
), vscored AS (
  SELECT q.src_id, q.tgt_id, c.neg_id,
         round(CASE WHEN q.qn * c.cn > 0
                    THEN {_DOT.format(a="q.qv", b="c.cv")} / (q.qn * c.cn)
                    ELSE 0.0 END, 9) AS cos_r
  FROM qvec q, vcand c WHERE c.neg_id != q.tgt_id
)
SELECT src_id, tgt_id, neg_id, cos_r, CAST(rnk AS BIGINT) AS neg_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY src_id ORDER BY cos_r DESC, neg_id ASC
  ) AS rnk
  FROM vscored
) WHERE rnk <= {_HNEG_K}
"""


@register("hard_negative_mining", oracle=_hneg_oracle())
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining — the training-data half of
    the mined-supervision loop (mined_pairs_retrieval_eval is the QA
    half): each of the top-{_REVAL_M} auto-k mined gold pairs becomes
    an anchor, and its {_HNEG_K} highest-cosine NON-GOLD candidates
    from the odd-id corpus are emitted as (anchor, positive, negative,
    score, rank) triplet rows — the standard in-batch-negatives
    upgrade for embedding fine-tuning (DPR/Sentence-BERT recipe:
    negatives that nearly outrank the positive carry the gradient).
    Plan: the bounded gold frame broadcasts onto one corpus scan; the
    per-anchor top-k is a window partitioned by anchor — no driver
    loop, no global sort, and the spine is the production auto-k
    quantizer (n^1.5), never the fixed-cell oracle posture."""
    from pyspark.sql import Window

    from pyspark_unload_to_gcs_spark.operators.similarity import _pair_dot, norm

    emb = _t(spark, sf_dir, "embeddings")
    gold = (
        margin_align_auto_with_method(spark, sf_dir, assign_method="arrow")
        .orderBy(F.col("margin_r").desc(), F.col("src_id").asc())
        .limit(_REVAL_M)
        .select("src_id", "tgt_id")
    )
    qvec = gold.join(emb, gold["src_id"] == emb["vec_id"]).select(
        "src_id",
        "tgt_id",
        F.col("embedding").cast("array<double>").alias("__qv"),
    )
    qvec = qvec.withColumn("__qn", norm(F.col("__qv")))
    vcand = (
        emb.filter(F.col("vec_id") % 2 == 1)
        .select(
            F.col("vec_id").alias("neg_id"),
            F.col("embedding").cast("array<double>").alias("__cv"),
        )
        .withColumn("__cn", norm(F.col("__cv")))
    )
    denom = F.col("__qn") * F.col("__cn")
    scored = (
        vcand.join(F.broadcast(qvec))
        .filter(F.col("neg_id") != F.col("tgt_id"))
        .select(
            "src_id",
            "tgt_id",
            "neg_id",
            F.round(
                F.when(denom > 0, _pair_dot("__qv", "__cv") / denom).otherwise(
                    F.lit(0.0)
                ),
                9,
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cos_r").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= _HNEG_K)
    )


_DRIFT_DAY0 = 19723  # floor(1704067200000 / 86400000): 2024-01-01


def _drift_replay_oracle() -> str:
    """DuckDB replay of drift_stream_replay: three day-sliced batches
    of events; the baseline is batch 0's event_type counts; each
    batch's per-category PSI terms replay the categorical_drift_psi
    arithmetic over the zero-filled category union (batch 0 compares
    to itself — all terms exactly 0)."""
    day = f"(epoch_ms(ts) // 86400000) - {_DRIFT_DAY0}"
    slices = [f"{day} < 10", f"{day} >= 10 AND {day} < 20", f"{day} >= 20"]
    parts = [f"""
base AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_a
  FROM events WHERE {slices[0]} GROUP BY event_type
)"""]
    outs = []
    for b, pred in enumerate(slices):
        parts.append(f"""
cb{b} AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_b
  FROM events WHERE {pred} GROUP BY event_type
), j{b} AS (
  SELECT coalesce(a.event_type, x.event_type) AS event_type,
         CAST(coalesce(a.n_a, 0) AS BIGINT) AS n_a,
         CAST(coalesce(x.n_b, 0) AS BIGINT) AS n_b
  FROM base a FULL OUTER JOIN cb{b} x ON a.event_type = x.event_type
), t{b} AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb,
         CAST(count(*) AS BIGINT) AS k
  FROM j{b}
), o{b} AS (
  SELECT CAST({b} AS BIGINT) AS batch_id, j.event_type, j.n_a, j.n_b,
         {_psi_term_sql("j.n_a", "j.n_b", "t.na", "t.nb", "t.k")} AS psi_term_r
  FROM j{b} j, t{b} t
)""")
        outs.append(f"SELECT * FROM o{b}")
    return "WITH " + ",".join(parts) + "\n" + "\nUNION ALL\n".join(outs)


@register("drift_stream_replay", oracle=_drift_replay_oracle())
def drift_stream_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling drift monitor (streaming/drift.py — the streaming twin
    of event_drift_psi): three day-sliced ingest micro-batches, the
    event_type distribution of batch 0 frozen as the BASELINE, every
    batch's per-category PSI terms emitted against it — drift measured
    against what the pipeline was tuned on, never against the previous
    batch (slow drift would ratchet invisibly). Batch 0's rows are the
    self-comparison (every term exactly 0.0 — a free sanity pin
    inside the value oracle); later batches zero-fill the category
    union so appearing/disappearing categories contribute finite
    smoothed terms. Per-batch cost: one groupBy of the batch + a
    K-bounded broadcast join, independent of corpus history."""
    from pyspark_unload_to_gcs_spark.functions.timestamps import (
        epoch_ms as epoch_ms_col,
    )
    from pyspark_unload_to_gcs_spark.streaming.drift import (
        drift_batch,
        read_drift,
    )
    from pyspark_unload_to_gcs_spark.streaming.replay import replay_batches

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    day = F.floor(epoch_ms_col(ev, "ts") / 86_400_000) - _DRIFT_DAY0
    batches = (
        ev.filter(day < 10),
        ev.filter((day >= 10) & (day < 20)),
        ev.filter(day >= 20),
    )
    return replay_batches(
        spark,
        ("drift_replay", sf_dir),
        batches,
        lambda frame, b, state: drift_batch(
            frame, b, category_column="event_type", state_path=state
        ),
        lambda state: read_drift(spark, state),
        prefix="drift_replay_",
    )


def _value_psi_oracle() -> str:
    """DuckDB replay of numeric_drift_psi on events.value: baseline
    decile edges from the distinct-value cumulative count frame (pure
    BIGINT rank arithmetic, `//` == Spark `div`), bin membership by
    |edges < value|, the shared smoothed-PSI arithmetic over the
    0..9 spine."""
    cut = f"epoch_ms(ts) < {_PSI_CUT_MS}"
    edges = ", ".join(
        f"min(CASE WHEN cum >= (n * {i} + 9) // 10 THEN v END)"
        for i in range(1, 10)
    )
    return f"""
WITH bvals AS (
  SELECT value AS v, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE {cut} AND value IS NOT NULL GROUP BY value
), cum AS (
  SELECT v,
         sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         sum(c) OVER () AS n
  FROM bvals
), e AS (
  SELECT [{edges}] AS edges FROM cum
), binned AS (
  SELECT CAST(len(list_filter(e.edges, b -> ev.value > b)) AS BIGINT) AS bin,
         CASE WHEN {cut} THEN 1 ELSE 0 END AS a,
         CASE WHEN {cut} THEN 0 ELSE 1 END AS b
  FROM events ev, e WHERE ev.value IS NOT NULL
), bc AS (
  SELECT bin, CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b
  FROM binned GROUP BY bin
), counts AS (
  SELECT CAST(s.bin AS BIGINT) AS bin,
         CAST(coalesce(bc.n_a, 0) AS BIGINT) AS n_a,
         CAST(coalesce(bc.n_b, 0) AS BIGINT) AS n_b
  FROM generate_series(0, 9) AS s(bin) LEFT JOIN bc ON s.bin = bc.bin
), t AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb,
         CAST(count(*) AS BIGINT) AS k
  FROM counts
)
SELECT c.bin, c.n_a, c.n_b,
       {_psi_term_sql("c.n_a", "c.n_b", "t.na", "t.nb", "t.k")} AS psi_term_r
FROM counts c, t
"""


@register("value_drift_psi", oracle=_value_psi_oracle())
def value_drift_psi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric drift gate (operators/diagnostics.py
    ``numeric_drift_psi``): the binned-PSI companion of
    event_drift_psi — events.value histogrammed against the BASELINE
    slice's exact deciles (rank arithmetic in pure BIGINT over the
    distinct-value count frame, never a global data sort), both halves
    of the fixture counted per bin, smoothed PSI terms per decile.
    Completes the drift family: categorical mix (event_drift_psi),
    numeric distribution (this row), rolling stream
    (drift_stream_replay), index staleness (ivf_index_drift). Exact
    edges are the oracle posture; the documented scale path swaps the
    edge pass for a KLL sketch (operators/sketches.py) with the same
    output schema."""
    from pyspark_unload_to_gcs_spark.functions.timestamps import (
        epoch_ms as epoch_ms_col,
    )
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        numeric_drift_psi,
    )

    ev = _t(spark, sf_dir, "events")
    return numeric_drift_psi(
        ev, "value", epoch_ms_col(ev, "ts") < _PSI_CUT_MS, n_bins=10
    )


def _containment_oracle() -> str:
    """Brute-force DuckDB replay of containment_dedup: the prefix
    blocking is result-invariant (pigeonhole no-false-negatives), so
    the oracle is the plain quadratic containment definition over the
    same corpus — documents plus the planted 12-word excerpts."""
    words = (
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
        " x -> x != '')"
    )
    tri = (
        "CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])"
        " ELSE list_transform(generate_series(1, len(t) - 2),"
        " i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) END"
    )
    return f"""
WITH toks0 AS (
  SELECT doc_id, {words} AS t FROM documents
), corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
         array_to_string(t[1:12], ' ') AS text
  FROM toks0 WHERE doc_id % 25 = 3 AND len(t) >= 15
), toks AS (
  SELECT doc_id, {words} AS t FROM corpus
), g AS (
  SELECT doc_id, list_distinct({tri}) AS gs FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(a.gs) AS BIGINT) AS n_grams_a,
       CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_shared,
       round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) / len(a.gs),
             9) AS containment_r
FROM g a, g b
WHERE a.doc_id != b.doc_id AND len(a.gs) > 0
  AND 100 * len(list_intersect(a.gs, b.gs)) >= 80 * len(a.gs)
"""


@register("containment_dedup", oracle=_containment_oracle())
def containment_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.py
    ``containment_pairs`` — the prefix-filter set-similarity join,
    Chaudhuri 2006 / PPJoin 2008): every ordered pair where ≥80% of
    A's distinct word trigrams appear in B. The Jaccard family is
    blind to this shape (a short excerpt inside a long page); this is
    the quote/boilerplate/excerpt redundancy surface. Fixture plants
    it: every 25th document (≥15 words) contributes a 12-word leading
    excerpt as a new doc — each must surface against its source with
    containment 1.0, alongside whatever natural near-threshold pairs
    the corpus holds. FULL value oracle: blocking is result-invariant
    (pigeonhole — at most floor(0.2·n) of A's grams may be missing, so
    one of the first floor(0.2·n)+1 sorted grams must hit B), so
    DuckDB replays the plain quadratic definition; the threshold gate
    is exact integer arithmetic on both engines. Planted-id stride is
    data-driven (max id + 1), collision-free at any audited scale.
    Production arm: rarest-first (df-ordered) prefix + the xxhash64
    candidate join — the canonical PPJoin ordering, measured faster
    than lex at sf0.1 and the right lever for Zipfian corpora; both
    arms are result-invariant under the same pigeonhole argument."""
    return _containment_frame(spark, sf_dir, materialize_grams=True)


def _containment_frame(
    spark: SparkSession, sf_dir: str, *, materialize_grams: bool
) -> DataFrame:
    """materialize_grams=False is the PLAN TWIN arm (PLAN_TWINS): the
    gram checkpoint renders 'Scan ExistingRDD' and would hide the
    gram-build/posting stages from the plan screens. The input is
    repartitioned before the gram build — the fixture table is ONE
    parquet file, which would serialize the dominant interpreted-HOF
    gram pass onto a single task (measured 4 s single-task vs sub-
    second at 32-way); real 100 TB inputs arrive multi-file and skip
    this."""
    from pyspark_unload_to_gcs_spark.operators.dedup import containment_pairs
    from pyspark_unload_to_gcs_spark.operators.text import words_col

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    stride = (docs.agg(F.max("doc_id")).first()[0] or 0) + 1
    w = words_col(F.col("text"))
    excerpts = (
        docs.filter((F.col("doc_id") % 25 == 3) & (F.size(w) >= 15))
        .select(
            (F.col("doc_id") + stride).alias("doc_id"),
            F.array_join(F.slice(w, 1, 12), " ").alias("text"),
        )
    )
    return containment_pairs(
        docs.unionByName(excerpts), "doc_id", "text",
        shingle_n=3, threshold_pct=80,
        materialize_grams=materialize_grams,
        prefix_order="df",
    )


def _incr_containment_oracle() -> str:
    """Brute-force DuckDB replay of incremental_containment_match: the
    new-batch side (every 5th doc plus the planted excerpts of INDEX
    docs) against the index side, plain quadratic containment — the
    prefix blocking is result-invariant."""
    words = (
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
        " x -> x != '')"
    )
    tri = (
        "CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])"
        " ELSE list_transform(generate_series(1, len(t) - 2),"
        " i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) END"
    )
    return f"""
WITH toks0 AS (
  SELECT doc_id, {words} AS t FROM documents
), newb AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
         array_to_string(t[1:12], ' ') AS text
  FROM toks0 WHERE doc_id % 25 = 3 AND len(t) >= 15
), idx AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 != 4
), gn AS (
  SELECT doc_id, list_distinct({tri}) AS gs
  FROM (SELECT doc_id, {words} AS t FROM newb)
), gi AS (
  SELECT doc_id, list_distinct({tri}) AS gs
  FROM (SELECT doc_id, {words} AS t FROM idx)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(a.gs) AS BIGINT) AS n_grams_a,
       CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_shared,
       round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) / len(a.gs),
             9) AS containment_r
FROM gn a, gi b
WHERE len(a.gs) > 0
  AND 100 * len(list_intersect(a.gs, b.gs)) >= 80 * len(a.gs)
"""


@register(
    "incremental_containment_match", oracle=_incr_containment_oracle()
)
def incremental_containment_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time excerpt decontamination (operators/dedup.py
    ``containment_join`` — the cross-table arm of the prefix-filter
    containment join): a NEW crawl batch (every 5th doc, plus planted
    12-word leading excerpts of corpus docs) is checked against the
    EXISTING corpus for documents that are mostly contained in
    something already held — each planted excerpt must surface against
    its source with containment 1.0. This is the pairwise upgrade of
    ``benchmark_contamination`` (which counts tainted grams per doc
    but names no sources) and the asymmetric sibling of
    ``incremental_near_dedup`` (Jaccard; blind to short-in-long).
    FULL value oracle (result-invariant blocking, integer gate); at
    scale the index side's gram postings persist once and each
    increment joins only its own prefix against them."""
    return _incr_containment_frame(spark, sf_dir, materialize_grams=True)


def _incr_containment_frame(
    spark: SparkSession, sf_dir: str, *, materialize_grams: bool
) -> DataFrame:
    """materialize_grams=False is the PLAN TWIN arm (PLAN_TWINS); the
    input repartition compensates for the single-file fixture layout
    (see _containment_frame)."""
    from pyspark_unload_to_gcs_spark.operators.dedup import containment_join
    from pyspark_unload_to_gcs_spark.operators.text import words_col

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    stride = (docs.agg(F.max("doc_id")).first()[0] or 0) + 1
    w = words_col(F.col("text"))
    excerpts = (
        docs.filter((F.col("doc_id") % 25 == 3) & (F.size(w) >= 15))
        .select(
            (F.col("doc_id") + stride).alias("doc_id"),
            F.array_join(F.slice(w, 1, 12), " ").alias("text"),
        )
    )
    new_batch = docs.filter(F.col("doc_id") % 5 == 4).unionByName(excerpts)
    index = docs.filter(F.col("doc_id") % 5 != 4)
    return containment_join(
        new_batch, index, "doc_id", "doc_id",
        text_column="text", shingle_n=3, threshold_pct=80,
        materialize_grams=materialize_grams,
        prefix_order="df",
    )


# --------------------------------------------------------------------------
# Training-shard layout, indexed ingestion dedup, streaming
# decontamination, LM quality gate, canary audit, audio dedup, URL
# canonicalization and boilerplate line dedup.
# --------------------------------------------------------------------------


# -- balanced training shards ----------------------------------------------

_SHARD_N = 16
_SHARD_SALTS = 8


def _shard_balance_oracle() -> str:
    """DuckDB replay of the FULL striped-shard assignment
    (operators/layout.py ``balanced_shards`` md5 arm +
    ``shard_load_stats``): exact bit-length magnitude bucket via
    ``bin()``, the classifier md5-prefix salt, cumulative group
    offsets, the % n_shards stripe, and the HUGEINT floor-division
    imbalance — every step integer-exact, so the whole layout stage
    sits under the driver hash."""
    bucket = (
        "list_sum(list_transform(generate_series(1, 8),\n"
        "    i -> CAST(strpos('0123456789abcdef',\n"
        "              substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1\n"
        f"         AS BIGINT) << (4 * (8 - i)))) % {_SHARD_SALTS}"
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
              END AS BIGINT) AS w
  FROM documents
), tagged AS (
  SELECT doc_id, w,
         length(bin(greatest(w, 1))) - 1 AS b,
         {bucket} AS s
  FROM d
), groups AS (
  SELECT b, s, CAST(COUNT(*) AS BIGINT) AS n FROM tagged GROUP BY b, s
), offs AS (
  SELECT b, s, SUM(n) OVER (ORDER BY b, s) - n AS off FROM groups
), assigned AS (
  SELECT t.doc_id, t.w,
         CAST((o.off + ROW_NUMBER() OVER (PARTITION BY t.b, t.s
                                          ORDER BY t.doc_id) - 1)
              % {_SHARD_N} AS INT) AS shard
  FROM tagged t JOIN offs o USING (b, s)
), per AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(w) AS BIGINT) AS weight_sum
  FROM assigned GROUP BY shard
)
SELECT shard, n_rows, weight_sum,
       CAST((CAST(MAX(weight_sum) OVER () AS HUGEINT) * 1000000)
            // GREATEST(MIN(weight_sum) OVER (), 1) AS BIGINT)
         AS imbalance_ppm
FROM per
"""


@register("shard_balance_profile", oracle=_shard_balance_oracle())
def shard_balance_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training-shard export (operators/layout.py
    ``balanced_shards`` + ``shard_load_stats``): assign every document
    a shard in [0, 16) so per-shard token sums come out near-balanced
    — the deterministic distributed stand-in for LPT bin packing
    (striped round-robin within weight-magnitude x salt strata; never
    a global sort), then the per-shard load report a pipeline asserts
    on before shipping shards. The md5 salt arm makes the ENTIRE
    assignment — exact bit-length buckets, cumulative group offsets,
    the stripe, the HUGEINT-safe imbalance division — a FULL value
    oracle (the bloom_prune production-vs-oracle-arm precedent:
    production uses xxhash64 through the identical plan). Scale: one
    groups aggregate (tiny, broadcast back) + one window per
    (bucket, salt) stratum; weight-magnitude bucketing bounds any
    stratum's weight spread to 2x, so count-balance implies
    sum-balance."""
    from pyspark_unload_to_gcs_spark.operators.layout import (
        balanced_shards,
        shard_load_stats,
    )
    from pyspark_unload_to_gcs_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    assigned = balanced_shards(
        docs,
        n_shards=_SHARD_N,
        salt_buckets=_SHARD_SALTS,
        salt_method="md5",
    )
    return shard_load_stats(assigned)


# -- exactly-once ingestion dedup, key-index/append-only arm ----------------

_DEDUP_REPLAY_SQL = """
SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
FROM events
"""


@register("indexed_dedup_stream_replay", oracle=_DEDUP_REPLAY_SQL)
def indexed_dedup_stream_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-write-wins ingestion dedup (streaming/dedup.py
    ``dedup_batch_indexed`` / ``read_accepted``) replayed over three
    micro-batches that simulate at-least-once delivery with
    PAYLOAD-MUTATING retries. Versioned state holds ONLY the key index
    and accepted payloads land in an append-only table, so the payload
    is written once and never rewritten.

    - batch 0: events from the first 10 days (original payloads,
      seq 0);
    - batch 1: the next 10 days PLUS a redelivery of every
      event_id % 4 == 0 row from batch 0 with value poisoned (+1000,
      seq 1) PLUS a poisoned within-batch duplicate of its own
      event_id % 9 == 0 rows (seq 1 vs the original's seq 0);
    - batch 2: the remaining days plus a poisoned redelivery of
      batch 1's event_id % 5 == 0 rows.

    The accepted union must equal the ORIGINAL events table exactly —
    an admitted duplicate, a kept poisoned payload, or a dropped first
    occurrence flips the value hash."""
    from pyspark_unload_to_gcs_spark.functions.timestamps import (
        epoch_ms as epoch_ms_col,
    )
    from pyspark_unload_to_gcs_spark.streaming.dedup import (
        dedup_batch_indexed,
        read_accepted,
    )
    from pyspark_unload_to_gcs_spark.streaming.replay import replay_batches

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        epoch_ms_col(ev, "ts").alias("ts_ms"),
    )
    day = F.floor(F.col("ts_ms") / 86_400_000) - F.floor(
        F.lit(1_704_067_200_000) / 86_400_000
    )
    tag = lambda df, s: df.withColumn("__seq", F.lit(s))  # noqa: E731
    poison = lambda df: df.withColumn("value", F.col("value") + 1000.0)  # noqa: E731

    b0_rows = base.filter(day < 10)
    b1_rows = base.filter((day >= 10) & (day < 20))
    b2_rows = base.filter(day >= 20)
    b0 = tag(b0_rows, 0)
    b1 = (
        tag(b1_rows, 0)
        .unionByName(tag(poison(b0_rows.filter(F.col("event_id") % 4 == 0)), 1))
        .unionByName(tag(poison(b1_rows.filter(F.col("event_id") % 9 == 0)), 1))
    )
    b2 = tag(b2_rows, 0).unionByName(
        tag(poison(b1_rows.filter(F.col("event_id") % 5 == 0)), 1)
    )
    return replay_batches(
        spark,
        ("idx_dedup_replay", sf_dir),
        (b0, b1, b2),
        lambda frame, i, state: dedup_batch_indexed(
            frame,
            i,
            key_columns=["event_id"],
            sequence_column="__seq",
            state_path=state,
        ),
        lambda state: read_accepted(spark, state),
        prefix="indexed_dedup_stream_replay_",
    )


# -- streaming ingest decontamination against a frozen gram index -----------


def _containment_replay_oracle() -> str:
    """The incremental_containment_match oracle + batch_id: matches
    are per-doc independent and the index is frozen, so the per-batch
    union equals the batch operator and each row's batch is the
    deterministic id split (doc_id % 2)."""
    words = (
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
        " x -> x != '')"
    )
    tri = (
        "CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])"
        " ELSE list_transform(generate_series(1, len(t) - 2),"
        " i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) END"
    )
    return f"""
WITH toks0 AS (
  SELECT doc_id, {words} AS t FROM documents
), newb AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
         array_to_string(t[1:12], ' ') AS text
  FROM toks0 WHERE doc_id % 25 = 3 AND len(t) >= 15
), idx AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 != 4
), gn AS (
  SELECT doc_id, list_distinct({tri}) AS gs
  FROM (SELECT doc_id, {words} AS t FROM newb)
), gi AS (
  SELECT doc_id, list_distinct({tri}) AS gs
  FROM (SELECT doc_id, {words} AS t FROM idx)
)
SELECT CAST(a.doc_id % 2 AS BIGINT) AS batch_id,
       a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(a.gs) AS BIGINT) AS n_grams_a,
       CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_shared,
       round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) / len(a.gs),
             9) AS containment_r
FROM gn a, gi b
WHERE len(a.gs) > 0
  AND 100 * len(list_intersect(a.gs, b.gs)) >= 80 * len(a.gs)
"""


@register(
    "containment_stream_replay", oracle=_containment_replay_oracle()
)
def containment_stream_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental_containment_match`` as a STREAM
    (streaming/containment.py): the corpus's gram structures freeze
    ONCE at bootstrap (``containment_index_build`` — sorted gram
    arrays, bucket-partitioned postings, the document-frequency
    table), then each arriving micro-batch of new crawl docs is
    decontaminated against the frozen index
    (``containment_match_batch`` — rarest-first PPJoin prefix over
    bucket-pruned postings, the shared exact verify gate) and its
    matches land in an idempotent ``matches/b=<batch_id>`` slice.
    The same fixture as the batch row (every 5th doc + planted
    12-word excerpts), split into two micro-batches by id parity;
    the replayed union must equal the batch operator over the union —
    matches are per-doc independent and the index is frozen, so any
    drift in the frozen postings, the per-batch prefix, bucket
    pruning, or the commit gate flips the row set. Per-batch cost at
    scale: one batch-sized window + a bucket-pruned posting join —
    the corpus-side gram work happened once. Which is exactly how the
    bench bills it (r14, the _pq_shared economics): the one-time
    index BOOTSTRAP is the named ``warmup_containment_index_sec``
    (``_containment_frozen_index`` below, memoized per session); the
    row times the steady-state per-batch folds + readback that a
    live decontamination stream actually repeats."""
    from pyspark_unload_to_gcs_spark.operators.text import words_col
    from pyspark_unload_to_gcs_spark.streaming.containment import (
        containment_match_batch,
        read_matches,
    )
    from pyspark_unload_to_gcs_spark.streaming.replay import replay_batches

    docs = _contain_docs(spark, sf_dir)
    stride = (docs.agg(F.max("doc_id")).first()[0] or 0) + 1
    w = words_col(F.col("text"))
    excerpts = docs.filter((F.col("doc_id") % 25 == 3) & (F.size(w) >= 15)).select(
        (F.col("doc_id") + stride).alias("doc_id"),
        F.array_join(F.slice(w, 1, 12), " ").alias("text"),
    )
    # Checkpoint the arriving-doc frame BEFORE splitting it into
    # micro-batches (opt r16, guide §7.3/§3.3): the excerpt branch is a
    # deep HOF tree (array_join(slice(filter(split(...))))) and each
    # fold re-plans gram_sets COMPOSED over it — measured 1.2-3.4 s of
    # pure driver planning per fold (the localCheckpoint handles plan
    # eagerly), over half the fold's wall. A real decontamination
    # stream hands foreachBatch materialized source rows, not a lazy
    # expression over the base corpus — so materializing the batch
    # input once is both faithful and truncates every downstream plan
    # to an RDD leaf. eager=False: blocks land with the first fold's
    # first action; same rows fold either way.
    new_batch = (
        docs.filter(F.col("doc_id") % 5 == 4)
        .unionByName(excerpts)
        .localCheckpoint(eager=False)
    )
    b0 = new_batch.filter(F.col("doc_id") % 2 == 0)
    b1 = new_batch.filter(F.col("doc_id") % 2 == 1)
    index_path = _containment_frozen_index(spark, sf_dir)

    def fold(frame, i, state):
        containment_match_batch(
            frame, i, id_column="doc_id", state_path=state,
            index_path=index_path,
        )

    return replay_batches(
        spark,
        ("contain_replay", sf_dir),
        (b0, b1),
        fold,
        lambda state: read_matches(spark, state),
        prefix="containment_stream_replay_",
    )


def _contain_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )


def _containment_frozen_index(spark: SparkSession, sf_dir: str) -> str:
    """One-time bootstrap of the frozen containment index (corpus gram
    arrays + bucket-partitioned postings + df table), memoized per
    session and billed as a NAMED bench warmup: in a live
    decontamination stream the index freezes once and every batch
    joins against it — re-freezing it inside the replay row was 20+ s
    of one-time cost billed per bench loop (the pq_index precedent,
    VERDICT r13 #1)."""
    import tempfile

    from pyspark_unload_to_gcs_spark.streaming.containment import (
        containment_index_build,
    )

    def build():
        docs = _contain_docs(spark, sf_dir)
        index = docs.filter(F.col("doc_id") % 5 != 4)
        path = tempfile.mkdtemp(prefix="containment_frozen_index_")
        containment_index_build(
            index, "doc_id", path, shingle_n=3, threshold_pct=80
        )
        return path

    return session_memo(spark, ("contain_replay", sf_dir, "frozen_index"), build)


# -- CCNet-shaped bigram LM quality gate -------------------------------------


def _bigram_lm_oracle() -> str:
    """Full DuckDB replay of stupid-backoff bigram scoring
    (operators/text.py ``bigram_logprob``): train counts from the
    reference slice only, seen-bigram conditional vs alpha-discounted
    unigram backoff vs OOV floor, each transition ln rounded to 6 and
    summed as exact DECIMAL (the unigram_logprob discipline — one
    IEEE division at the end). The shuffled/OOV variants roundtrip
    through join(' ')+re-split exactly like the Spark side so the two
    engines tokenize identically even on pathological whitespace."""
    toks = (
        "CASE WHEN trim({t}) = '' THEN CAST([] AS VARCHAR[]) "
        "ELSE regexp_split_to_array(trim({t}), '\\s+') END"
    )
    return f"""
WITH stride AS (SELECT MAX(doc_id) + 1 AS st FROM documents),
base AS (
  SELECT doc_id, {toks.format(t="text")} AS ws FROM documents
), corpus AS (
  SELECT doc_id AS id, ws, doc_id % 3 = 0 AS is_train FROM base
  UNION ALL
  SELECT doc_id + (SELECT st FROM stride) AS id,
         {toks.format(t="array_to_string(list_reverse(ws), ' ')")} AS ws,
         FALSE AS is_train
  FROM base
  UNION ALL
  SELECT doc_id + 2 * (SELECT st FROM stride) AS id,
         {toks.format(t="array_to_string(list_transform(ws, x -> 'qq' || x), ' ')")} AS ws,
         FALSE AS is_train
  FROM base
), train_toks AS (
  SELECT unnest(ws) AS w FROM corpus WHERE is_train
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM train_toks GROUP BY w
), tot AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM train_toks
), bgc AS (
  SELECT p, w, CAST(COUNT(*) AS BIGINT) AS cbg FROM (
    SELECT ws[i] AS p, ws[i + 1] AS w
    FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
          FROM corpus WHERE is_train)
  ) GROUP BY p, w
), pairs AS (
  SELECT id, ws[i] AS p, ws[i + 1] AS w
  FROM (SELECT id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM corpus)
), lps AS (
  SELECT pr.id,
         CAST(ROUND(
           CASE WHEN bgc.cbg IS NOT NULL
                THEN ln(CAST(bgc.cbg AS DOUBLE)) - ln(CAST(up.cw AS DOUBLE))
                ELSE ln(0.4)
                     + ln(CAST(COALESCE(uw.cw, 1) AS DOUBLE))
                     - ln(tot.total)
           END, 6) AS DECIMAL(28,12)) AS lp
  FROM pairs pr
  LEFT JOIN bgc ON bgc.p = pr.p AND bgc.w = pr.w
  LEFT JOIN uni up ON up.w = pr.p
  LEFT JOIN uni uw ON uw.w = pr.w
  CROSS JOIN tot
)
SELECT id AS doc_id,
       CASE WHEN id < (SELECT st FROM stride) THEN 'natural'
            WHEN id < 2 * (SELECT st FROM stride) THEN 'shuffled'
            ELSE 'oov' END AS variant,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS avg_logprob
FROM lps GROUP BY id
"""


@register("bigram_lm_quality", oracle=_bigram_lm_oracle())
def bigram_lm_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped LM quality gate (operators/text.py
    ``bigram_logprob``, Wenzek et al. 2020 / Brants et al. 2007):
    train a stupid-backoff bigram model on the reference slice
    (doc_id % 3 == 0), score the corpus PLUS two planted control
    variants per document — token-REVERSED (same unigrams, broken
    transitions) and OOV (every token 'qq'-prefixed) — the
    highest-user-value library candidate (every corpus pipeline runs
    an LM-quality stage). FULL value oracle: round-6+DECIMAL
    transition accumulation replays bit-for-bit, and the expected
    natural > shuffled > OOV mean ordering is pinned by
    tests/test_operators.py on a hand-built corpus. Scale: the
    train slice tokenizes once; the bigram table hash-joins
    (deliberately not broadcast — |bigram vocab| rows), unigrams
    broadcast; one explode over the scored corpus."""
    from pyspark_unload_to_gcs_spark.operators.text import (
        bigram_logprob,
        tokens_col,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stride = (docs.agg(F.max("doc_id")).first()[0] or 0) + 1
    toks = tokens_col(F.col("text"))
    natural = docs.select(
        "doc_id", "text", (F.col("doc_id") % 3 == 0).alias("is_train")
    )
    shuffled = docs.select(
        (F.col("doc_id") + stride).alias("doc_id"),
        F.array_join(F.reverse(toks), " ").alias("text"),
        F.lit(False).alias("is_train"),
    )
    oov = docs.select(
        (F.col("doc_id") + 2 * stride).alias("doc_id"),
        F.array_join(
            F.transform(toks, lambda x: F.concat(F.lit("qq"), x)), " "
        ).alias("text"),
        F.lit(False).alias("is_train"),
    )
    corpus = natural.unionByName(shuffled).unionByName(oov)
    out = bigram_logprob(corpus, train=F.col("is_train"), alpha=0.4)
    variant = (
        F.when(F.col("doc_id") < stride, "natural")
        .when(F.col("doc_id") < 2 * stride, "shuffled")
        .otherwise("oov")
    )
    return out.select(
        "doc_id", variant.alias("variant"), "n_transitions", "avg_logprob"
    )


# -- canary planting -> pipeline -> survival audit ---------------------------

_CANARY_RATE_PPM = 50_000
_CANARY_SECRET = "r14-audit"
_CANARY_MIN_TOKENS = 25


def _canary_audit_oracle() -> str:
    """Closed-form replay of plant -> filter -> survive: the md5
    ppm selector, the md5 token arithmetic, the mutated-text token
    gate. Canaries are unique to their planted document (no packing
    stage here), so detection == the planted doc passing the gate —
    any drift in the selector threshold, the token spelling, the
    NULL-text exclusion, or the survival join flips rows."""
    from pyspark_unload_to_gcs_spark.operators.sampling import (
        split_threshold_hex,
    )

    hex_thr = split_threshold_hex(_CANARY_RATE_PPM / 1_000_000, 6)
    ntok = (
        "CASE WHEN trim({t}) = '' THEN 0 "
        "ELSE len(regexp_split_to_array(trim({t}), '\\s+')) END"
    )
    return f"""
WITH manifest AS (
  SELECT doc_id,
         'zqcanary' || substring(
             md5(CAST(doc_id AS VARCHAR) || ':' || '{_CANARY_SECRET}'),
             1, 12) AS canary
  FROM documents
  WHERE text IS NOT NULL
    AND substring(md5(CAST(doc_id AS VARCHAR) || '|select|' ||
                      '{_CANARY_SECRET}'), 1, 6) < '{hex_thr}'
), planted AS (
  SELECT d.doc_id,
         CASE WHEN m.canary IS NOT NULL THEN d.text || ' ' || m.canary
              ELSE d.text END AS text
  FROM documents d LEFT JOIN manifest m USING (doc_id)
), kept AS (
  SELECT doc_id FROM planted
  WHERE text IS NOT NULL
    AND {ntok.format(t="text")} >= {_CANARY_MIN_TOKENS}
)
SELECT m.canary, m.doc_id AS planted_in, k.doc_id AS found_in,
       k.doc_id IS NOT NULL AS survived
FROM manifest m LEFT JOIN kept k ON k.doc_id = m.doc_id
"""


@register("canary_survival_audit", oracle=_canary_audit_oracle())
def canary_survival_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-survival canary audit (operators/privacy.py
    ``plant_canaries`` / ``canary_manifest`` / ``canary_survival`` —
    the secret-sharer memorization probe, Carlini et al. 2019, used
    as a stage tracer): plant unique canary tokens into a
    deterministic 5% md5 slice of documents, run a min-length quality
    gate (>= 25 tokens on the MUTATED text — the kind of cleaning
    stage that silently eats tracer docs), regenerate the manifest
    from (corpus, secret) alone — never stored state — and report per
    canary whether it survived and where it now lives. FULL value
    oracle: selector threshold, token md5 arithmetic, NULL-text
    exclusion, and the gate all replay in closed form. Scale: planting
    is a narrow map; the detections side of the survival join holds
    only canary-bearing rows (~rate_ppm of the corpus) and broadcasts."""
    from pyspark_unload_to_gcs_spark.operators.privacy import (
        canary_manifest,
        canary_survival,
        plant_canaries,
    )
    from pyspark_unload_to_gcs_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = plant_canaries(
        docs,
        "doc_id",
        "text",
        rate_ppm=_CANARY_RATE_PPM,
        secret=_CANARY_SECRET,
    )
    processed = planted.filter(
        token_count(F.col("text")) >= _CANARY_MIN_TOKENS
    )
    manifest = canary_manifest(
        docs,
        "doc_id",
        "text",
        rate_ppm=_CANARY_RATE_PPM,
        secret=_CANARY_SECRET,
    )
    return canary_survival(processed, manifest, "doc_id", "text")


# -- audio fingerprint near-dup join over the real WAV path ------------------


def _audio_dup_oracle() -> str:
    """DuckDB replay of the 64-window energy-contour fingerprint
    (operators/multimodal.py ``afp_bits_from_frames``) over the
    closed-form PCM synthesis: per-frame |sample| energy, 4-frame
    windows (n=256), the division-free above-mean bit rule, (hi, lo)
    BIGINT packing, literal all-pairs XOR popcount <= 7. The scaled
    twin MUST land at hamming 0 (exact amplitude-scale invariance);
    the window-boosted twin lands wherever the closed form says."""
    sample = "((3 * d + 5 * f) % 997) - 498"
    return f"""
WITH ids AS (
  SELECT doc_id AS d FROM documents WHERE doc_id % 10 = 0
), stride AS (SELECT MAX(doc_id) + 1 AS st FROM documents),
univ AS (
  SELECT d, d AS img_id, 0 AS arm FROM ids
  UNION ALL
  SELECT d, d + (SELECT st FROM stride) AS img_id, 1 AS arm FROM ids
  UNION ALL
  SELECT d, d + 2 * (SELECT st FROM stride) AS img_id, 2 AS arm FROM ids
), frames AS (
  SELECT img_id, d, arm, f, f // 4 AS k,
         CASE WHEN arm = 0 THEN {sample}
              WHEN arm = 1 THEN 2 * ({sample})
              ELSE 2 * ({sample})
                   + CASE WHEN f // 4 = d % 64 THEN 300 ELSE 0 END
         END AS s
  FROM univ, (SELECT unnest(generate_series(0, 255)) AS f)
), wsums AS (
  SELECT img_id, k, CAST(SUM(abs(s)) AS BIGINT) AS e
  FROM frames GROUP BY img_id, k
), tots AS (
  SELECT img_id, CAST(SUM(e) AS BIGINT) AS t FROM wsums GROUP BY img_id
), bits AS (
  SELECT w.img_id, w.k,
         CASE WHEN w.e * 64 > t.t THEN 1 ELSE 0 END AS bit
  FROM wsums w JOIN tots t USING (img_id)
), hashes AS (
  SELECT img_id,
         CAST(SUM(CASE WHEN bit = 1 AND k >= 32
                       THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
              AS BIGINT) AS hi,
         CAST(SUM(CASE WHEN bit = 1 AND k < 32
                       THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
              AS BIGINT) AS lo
  FROM bits GROUP BY img_id
)
SELECT a.img_id AS id_a, b.img_id AS id_b,
       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            AS BIGINT) AS hamming
FROM hashes a JOIN hashes b ON a.img_id < b.img_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
"""


@register("audio_dup_pairs", oracle=_audio_dup_oracle())
def audio_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup join end to end over the REAL WAV/PCM16 path
    (operators/multimodal.py ``audio_fingerprint`` /
    ``ahash_dup_pairs``): every 10th document synthesizes a 256-frame
    mono WAV from an integer closed form, plus an amplitude-DOUBLED
    twin (+stride — the fingerprint is exactly scale-invariant, so it
    must land at hamming 0) and a one-window-boosted twin (+2*stride —
    hamming wherever the energy contour says). The real chunk-walking
    WAV parser decodes the bytes, the all-integer 64-window
    energy-contour rule produces (hi, lo) BIGINT halves, and byte-band
    pigeonhole + XOR popcount emits every pair within hamming 7 —
    exact for the threshold, never all-pairs (the image_ahash
    contract, one shared join). The DuckDB oracle recomputes window
    energies from the closed form and takes literal all-pairs
    popcount — drift in WAV header/frame parsing, the energy rule,
    window boundaries, tie rule, bit packing, banding recall, or
    hamming arithmetic flips the row set. Scale: fingerprint-on-ingest
    is one narrow Arrow map next to the blob; the join is linear
    banding."""
    from pyspark_unload_to_gcs_spark.operators.multimodal import (
        ahash_dup_pairs,
        audio_fingerprint,
        encode_wav_pcm16,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 == 0)
    )
    stride = (
        _t(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0] or 0
    ) + 1

    def synth(batches):
        import pandas as pd

        def wav(d: int, arm: int) -> bytes:
            samples = []
            for f in range(256):
                s = ((3 * d + 5 * f) % 997) - 498
                if arm == 0:
                    samples.append(s)
                elif arm == 1:
                    samples.append(2 * s)
                else:
                    samples.append(2 * s + (300 if f // 4 == d % 64 else 0))
            return encode_wav_pcm16(samples, 8000)

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"].to_numpy():
                d = int(d)
                for arm, off in ((0, 0), (1, stride), (2, 2 * stride)):
                    ids.append(d + off)
                    payloads.append(wav(d, arm))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    clips = docs.mapInPandas(synth, "doc_id long, payload binary")
    hashes = audio_fingerprint(clips)
    return ahash_dup_pairs(
        hashes, hi_column="afp_hi", lo_column="afp_lo", max_hamming=7
    )


# -- URL canonicalization profile -------------------------------------------


def _url_profile_oracle() -> str:
    """DuckDB replay of the FULL URL canonicalization
    (operators/url.py ``url_normalize``): rebuild the deterministic
    synth_url string per order key plus a second messy variant
    (different userinfo, an extra utm param) that must collapse onto
    the same canonical key, then replay parse -> userinfo drop ->
    host lowercase/trailing-dot strip -> default-port drop ->
    tracking-param filter -> bytewise param sort -> PSL-lite
    registrable domain, all with the same regex/list primitives in
    the RE2 common subset the Spark side uses."""
    from pyspark_unload_to_gcs_spark.operators.url import (
        DEFAULT_STRIP_PARAMS,
        MULTILABEL_SUFFIXES,
    )

    strip_in = ", ".join(f"'{p}'" for p in DEFAULT_STRIP_PARAMS)
    suffix_in = ", ".join(f"'{s}'" for s in MULTILABEL_SUFFIXES)
    return f"""
WITH ids AS (
  SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 5 = 0
), base AS (
  SELECT id,
    (CASE WHEN id % 4 = 0 THEN 'HTTP://' WHEN id % 4 = 1 THEN 'https://'
          WHEN id % 4 = 2 THEN 'Https://' ELSE 'http://' END)
    || 'user:pw@'
    || (CASE WHEN id % 4 = 0
             THEN 'WWW.Site' || CAST(id % 7 AS VARCHAR) || '.Example.COM'
             WHEN id % 4 = 1
             THEN 'shop' || CAST(id % 7 AS VARCHAR) || '.example.co.uk'
             ELSE 'site' || CAST(id % 7 AS VARCHAR) || '.example.com.' END)
    || (CASE WHEN id % 3 = 0 THEN ':80'
             WHEN id % 3 = 1 THEN ':8080' ELSE '' END)
    || '/Path/To/page' || CAST(id AS VARCHAR)
    || (CASE WHEN id % 2 = 0
             THEN '?z=last&utm_source=feed&a=' || CAST(id AS VARCHAR)
                  || '&fbclid=XYZ&m=mid'
             ELSE '?b=' || CAST(id AS VARCHAR) END)
    || '#frag' AS url
  FROM ids
), urls AS (
  SELECT id, url FROM base
  UNION ALL
  SELECT id,
         replace(replace(url, '#frag', '&utm_y=dup#frag'),
                 'user:pw@', 'u2@') AS url
  FROM base
), auth AS (
  SELECT id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      AS scheme,
    regexp_replace(regexp_extract(url, '://([^/?#]*)', 1), '^.*@', '')
      AS a,
    regexp_extract(url, '://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM urls
), hostport AS (
  SELECT *,
    regexp_replace(lower(split_part(a, ':', 1)), '[.]+$', '') AS host,
    split_part(a, ':', 2) AS port
  FROM auth
), params AS (
  SELECT *,
    list_sort(list_filter(string_split(query, '&'),
      p -> p <> '' AND NOT (split_part(p, '=', 1) IN ({strip_in})
                            OR split_part(p, '=', 1) LIKE 'utm_%')))
      AS kept,
    list_filter(string_split(query, '&'), p -> p <> '') AS raw
  FROM hostport
), norm AS (
  SELECT id, host,
    CASE WHEN len(string_split(host, '.')) >= 3
              AND regexp_extract(host, '([^.]+[.][^.]+)$', 1)
                  IN ({suffix_in})
         THEN regexp_extract(host, '([^.]+[.][^.]+[.][^.]+)$', 1)
         WHEN len(string_split(host, '.')) >= 2
         THEN regexp_extract(host, '([^.]+[.][^.]+)$', 1)
         ELSE host END AS domain,
    scheme || '://' || host
      || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                    OR (scheme = 'https' AND port = '443')
               THEN '' ELSE ':' || port END)
      || (CASE WHEN path = '' THEN '/' ELSE path END)
      || (CASE WHEN len(kept) = 0 THEN ''
               ELSE '?' || array_to_string(kept, '&') END) AS url_norm,
    len(raw) - len(kept) AS stripped
  FROM params
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT url_norm) AS BIGINT) AS n_canonical,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(SUM(stripped) AS BIGINT) AS params_stripped
FROM norm GROUP BY domain
"""


@register("url_canonical_profile", oracle=_url_profile_oracle())
def url_canonical_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-identity canonicalization profile (operators/url.py):
    synthesize a messy URL per order key (mixed case, userinfo,
    default/explicit ports, tracking params, fragment — the synth_url
    closed form) PLUS a second surface variant that differs in
    userinfo and an extra utm param, canonicalize both with
    ``url_normalize``, and report per registrable domain how the raw
    URL space collapses: n_urls (2x keys), n_canonical (must equal
    distinct keys — the variant MUST collapse), n_hosts, and the
    tracking params stripped. The whole parse->normalize->PSL-lite
    pipeline is one narrow JVM-regex map (plan-pinned zero-exchange in
    test_url.py); the only shuffle here is the final small groupBy.
    Full value oracle: DuckDB rebuilds the identical synth strings and
    replays the normalization with the same RE2-subset regexes."""
    from pyspark_unload_to_gcs_spark.operators.url import (
        synth_url,
        url_normalize,
    )

    base = (
        _t(spark, sf_dir, "orders")
        # every 5th key: the collapse profile's value coverage is
        # identical on the slice (same closed-form arms) and the
        # fixture stops costing 300k normalizations per bench loop
        # (r14 — the operator's own scale story lives in
        # SCALE_AUDIT.md, not in fixture bulk)
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").alias("id"),
            synth_url(F.col("o_orderkey")).alias("url"),
        )
    )
    variant = base.select(
        "id",
        F.replace(
            F.replace(
                F.col("url"), F.lit("#frag"), F.lit("&utm_y=dup#frag")
            ),
            F.lit("user:pw@"),
            F.lit("u2@"),
        ).alias("url"),
    )
    norm = url_normalize(base.unionByName(variant))
    return norm.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("url_norm").cast("long").alias("n_canonical"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.sum("n_params_stripped").cast("long").alias("params_stripped"),
    )


# -- corpus boilerplate line dedup -------------------------------------------


def _line_dedup_oracle() -> str:
    """DuckDB replay of the FULL corpus-scope line dedup
    (operators/paragraphs.py ``line_dedup``): the same closed-form
    5-line synthetic page per document (unique header, a banner shared
    by doc_id%7, a blank structural line, a ubiquitous subscribe line,
    a pair line whose multiplicity is scale-dependent), the same
    normalized key (trim + whitespace-collapse + lowercase), the
    corpus occurrence threshold, and the order-preserving reassembly
    pinned down to the md5 of the rebuilt text."""
    return """
WITH docs AS (
  SELECT doc_id AS id,
    'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 1, 40)
    || chr(10) || 'BANNER GROUP ' || CAST(doc_id % 7 AS VARCHAR)
    || chr(10)
    || chr(10) || 'Click   here to SUBSCRIBE'
    || chr(10) || 'pair ' || CAST(doc_id % 250 AS VARCHAR) AS text
  FROM documents
), split AS (
  SELECT id, string_split(text, chr(10)) AS l FROM docs
), lines AS (
  SELECT id, ord, l[ord] AS line,
    lower(trim(regexp_replace(l[ord], '[ \\t\\r]+', ' ', 'g'))) AS key
  FROM split, LATERAL unnest(generate_series(1, len(l))) AS t(ord)
), flags AS (
  SELECT id, ord, line,
    (key = '' OR COUNT(*) OVER (PARTITION BY key) <= 1) AS keep
  FROM lines
)
SELECT id AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_lines_removed,
  md5(COALESCE(string_agg(line, chr(10) ORDER BY ord)
               FILTER (WHERE keep), '')) AS dedup_md5,
  CAST(length(COALESCE(string_agg(line, chr(10) ORDER BY ord)
                       FILTER (WHERE keep), '')) AS BIGINT)
    AS dedup_chars
FROM flags GROUP BY id
"""


@register("line_dedup_boilerplate", oracle=_line_dedup_oracle())
def line_dedup_boilerplate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scope exact line dedup (operators/paragraphs.py
    ``line_dedup`` — the C4/RefinedWeb boilerplate pass): each
    document becomes a closed-form 5-line page (unique header line,
    a nav banner shared across its doc_id%7 group, a blank structural
    line, the ubiquitous subscribe line, and a 'pair' line whose
    corpus multiplicity depends on the scale factor), then every line
    whose normalized form occurs more than once in the corpus drops
    from ALL documents while blank lines survive as structure. Output
    pins the reassembly itself — md5 + length of the rebuilt text —
    plus the per-doc line counts, so the whole explode -> hot-key
    groupBy -> AQE-broadcast join-back -> ordered reassembly pipeline
    sits under the driver hash. Scale: the hot-key set is the Zipf
    head (7 banner groups + 1 subscribe line here), exactly the
    boilerplate shape the broadcast join-back is designed for."""
    from pyspark_unload_to_gcs_spark.operators.paragraphs import (
        line_dedup,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.lit("Doc "),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.substring(F.col("text"), 1, 40),
            F.lit("\nBANNER GROUP "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\n"),
            F.lit("\nClick   here to SUBSCRIBE"),
            F.lit("\npair "),
            (F.col("doc_id") % 250).cast("string"),
        ).alias("text"),
    )
    out = line_dedup(docs, max_occurrences=1)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_lines",
        "n_lines_removed",
        F.md5(F.col("text_dedup")).alias("dedup_md5"),
        F.length("text_dedup").cast("long").alias("dedup_chars"),
    )


# --------------------------------------------------------------------------
# Quality-gate diagnostics: threshold sweeps, calibration, exact AUC,
# mixture deviation and reweighting, domain-fair keeps, epoch
# schedules, split leakage, within-document line dedup, robots gating,
# HTML boilerplate and language-ID confusion.
# --------------------------------------------------------------------------

from pyspark_unload_to_gcs_spark.registry_extensions import (  # noqa: E402
    _NORM_SQL,
    _QUALITY_SQL,
)

_SWEEP_CUTS = [i / 10.0 for i in range(10)]
_TOKCOUNT_SQL = (
    "CAST(CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"
)


def _sweep_oracle() -> str:
    """DuckDB replay of threshold_sweep over the bit-identical
    _QUALITY_SQL score (the quality_score hash-match precedent) and
    the token-count weight: K cutoffs as an UNNEST, conditional
    counts, exact floor ppm."""
    cuts = ", ".join(str(c) for c in _SWEEP_CUTS)
    return f"""
WITH scored AS (
  SELECT {_QUALITY_SQL} AS q, {_TOKCOUNT_SQL} AS w FROM documents
), cuts AS (
  SELECT CAST(unnest([{cuts}]) AS DOUBLE) AS threshold
)
SELECT c.threshold,
       CAST(COUNT(*) FILTER (WHERE s.q >= c.threshold) AS BIGINT)
         AS kept_docs,
       CAST(COUNT(*) AS BIGINT) AS total_docs,
       CAST((CAST(COUNT(*) FILTER (WHERE s.q >= c.threshold) AS HUGEINT)
             * 1000000) // GREATEST(COUNT(*), 1) AS BIGINT) AS kept_ppm,
       CAST(COALESCE(SUM(s.w) FILTER (WHERE s.q >= c.threshold), 0)
            AS BIGINT) AS kept_weight,
       CAST(SUM(s.w) AS BIGINT) AS total_weight
FROM cuts c CROSS JOIN scored s
GROUP BY c.threshold
"""


@register("threshold_sweep_profile", oracle=_sweep_oracle())
def threshold_sweep_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate keep-rate curve (operators/diagnostics.py
    ``threshold_sweep``): ten candidate cutoffs over the composite
    quality score, doc and token-weight survival per cutoff — the
    table a pipeline picks its classifier cutoff from. ONE scan on
    the Spark side (K conditional aggregation pairs in a single
    map-side-combined agg; the oracle's cuts-cross-join is the
    DuckDB-side spelling of the same counts). Full value oracle via
    the bit-identical _QUALITY_SQL score."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        threshold_sweep,
    )
    from pyspark_unload_to_gcs_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents").select(
        T.quality_score(F.col("text")).alias("q"),
        T.token_count(F.col("text")).cast("long").alias("w"),
    )
    return threshold_sweep(docs, "q", _SWEEP_CUTS, weight_column="w")


def _calibration_oracle() -> str:
    """DuckDB replay of calibration_bins with the quality score as the
    'probability' and lang='en' as the outcome: clamped equal-width
    bins, round-half-up ppm confidence, floor-div rates/gaps, the
    N-weighted ECE repeated per row."""
    return f"""
WITH scored AS (
  SELECT {_QUALITY_SQL} AS q, (lang = 'en') AS label FROM documents
), binned AS (
  SELECT LEAST(GREATEST(CAST(FLOOR(q * 10) AS INT), 0), 9) AS bin,
         CAST(ROUND(LEAST(GREATEST(q, 0.0), 1.0) * 1000000) AS BIGINT)
           AS conf,
         label
  FROM scored WHERE q IS NOT NULL AND label IS NOT NULL
), per AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS positives,
         CAST(SUM(conf) // COUNT(*) AS BIGINT) AS confidence_ppm
  FROM binned GROUP BY bin
), rated AS (
  SELECT bin,
         CAST((CAST(bin AS HUGEINT) * 1000000) // 10 AS BIGINT)
           AS bin_lo_ppm,
         n, positives,
         CAST((CAST(positives AS HUGEINT) * 1000000) // n AS BIGINT)
           AS pos_rate_ppm,
         confidence_ppm
  FROM per
)
SELECT bin, bin_lo_ppm, n, positives, pos_rate_ppm, confidence_ppm,
       ABS(pos_rate_ppm - confidence_ppm) AS gap_ppm,
       CAST(SUM(CAST(ABS(pos_rate_ppm - confidence_ppm) AS HUGEINT) * n)
              OVER ()
            // SUM(n) OVER () AS BIGINT) AS ece_ppm
FROM rated
"""


@register("calibration_profile", oracle=_calibration_oracle())
def calibration_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier reliability diagram + ECE (operators/diagnostics.py
    ``calibration_bins``): the composite quality score graded as a
    probability of the document being English — per-bin observed rate
    vs mean clamped confidence, all-BIGINT ppm, the N-weighted ECE
    repeated per row as the gate scalar. One map-side-combined
    groupBy; the ECE window runs over the <= 10 aggregated rows.
    Full value oracle (exact integer arithmetic on both engines;
    round-half-up of score*1e6 agrees bit-for-bit on the shared
    quality doubles)."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        calibration_bins,
    )
    from pyspark_unload_to_gcs_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents").select(
        T.quality_score(F.col("text")).alias("q"),
        (F.col("lang") == "en").alias("label"),
    )
    return calibration_bins(docs, "q", "label", n_bins=10)


def _auc_oracle() -> str:
    """DuckDB replay of score_auc: rounded-score buckets, cumulative
    negatives below, doubled-integer tie correction, floor-div ppm."""
    return f"""
WITH scored AS (
  SELECT ROUND({_QUALITY_SQL}, 6) AS s, (lang = 'en') AS label
  FROM documents
  WHERE {_QUALITY_SQL} IS NOT NULL AND lang IS NOT NULL
), buckets AS (
  SELECT s,
         CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS pos,
         CAST(COUNT(*) FILTER (WHERE NOT label) AS BIGINT) AS neg
  FROM scored GROUP BY s
), cum AS (
  SELECT s, pos, neg,
         COALESCE(SUM(neg) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_below
  FROM buckets
)
SELECT CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS n_pos,
       CAST(COALESCE(SUM(neg), 0) AS BIGINT) AS n_neg,
       CAST(COUNT(*) AS BIGINT) AS n_score_buckets,
       CAST(CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0 THEN
         (SUM(CAST(pos AS HUGEINT) * (2 * neg_below + neg)) * 1000000)
         // (2 * CAST(SUM(pos) AS HUGEINT) * SUM(neg))
       END AS BIGINT) AS auc_ppm
FROM cum
"""


@register("classifier_auc_exact", oracle=_auc_oracle())
def classifier_auc_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC AUC (operators/diagnostics.py
    ``score_auc``) of the composite quality score predicting
    lang='en' — computed WITHOUT a global rank: per-rounded-score
    buckets (bounded by distinct 6-decimal scores), one cumulative
    window over the bucket frame, doubled-integer half-credit. Full
    value oracle; one row (n_pos, n_neg, n_score_buckets, auc_ppm)."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        score_auc,
    )
    from pyspark_unload_to_gcs_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents").select(
        T.quality_score(F.col("text")).alias("q"),
        (F.col("lang") == "en").alias("label"),
    )
    return score_auc(docs, "q", "label")


_MIX_TARGETS = {
    "en": 500_000,
    "de": 150_000,
    "es": 100_000,
    "fr": 100_000,
    "ko": 50_000,  # deliberately absent from the fixture: n=0 row
}


def _mix_dev_oracle() -> str:
    """DuckDB replay of mix_deviation_report over the language
    composition: counts full-outer-joined against the declared target
    table ('zh' contaminates against target 0; 'ko' is declared but
    absent), exact floor ppm, max-abs-dev repeated."""
    vals = ", ".join(f"('{k}', {v})" for k, v in _MIX_TARGETS.items())
    return f"""
WITH per AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang
), tgt (lang, target_ppm) AS (
  VALUES {vals}
), joined AS (
  SELECT COALESCE(p.lang, t.lang) AS lang,
         COALESCE(p.n_docs, 0) AS n_docs,
         CAST(COALESCE(t.target_ppm, 0) AS BIGINT) AS target_ppm
  FROM per p FULL OUTER JOIN tgt t ON p.lang = t.lang
), rated AS (
  SELECT lang, n_docs, target_ppm,
         CAST((CAST(n_docs AS HUGEINT) * 1000000)
              // GREATEST(SUM(n_docs) OVER (), 1) AS BIGINT)
           AS observed_ppm
  FROM joined
)
SELECT lang, n_docs, observed_ppm, target_ppm,
       observed_ppm - target_ppm AS dev_ppm,
       ABS(observed_ppm - target_ppm) AS abs_dev_ppm,
       MAX(ABS(observed_ppm - target_ppm)) OVER () AS max_abs_dev_ppm
FROM rated
"""


@register("mix_deviation_profile", oracle=_mix_dev_oracle())
def mix_deviation_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-export mixture audit (operators/sampling.py
    ``mix_deviation_report``): the corpus's language composition vs a
    declared target mix — 'zh' present but undeclared (contamination,
    audits against 0), 'ko' declared but absent (n=0 row), exact
    BIGINT ppm deviations and the max-abs-dev shipping-gate scalar
    repeated per row. One map-side-combined groupBy + a 5-row
    full-outer join; full value oracle."""
    from pyspark_unload_to_gcs_spark.operators.sampling import (
        mix_deviation_report,
    )

    docs = _t(spark, sf_dir, "documents").select("lang")
    return mix_deviation_report(docs, "lang", _MIX_TARGETS)


_FAIR_KEEP_PPM = 400_000


@register(
    "domain_fair_keep_profile",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, {{q}} AS q FROM documents
), ranked AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY q DESC NULLS LAST, doc_id) AS BIGINT)
           AS domain_rank,
         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS domain_n
  FROM scored
)
SELECT doc_id, lang, domain_rank, domain_n,
       domain_rank * 1000000 <= {_FAIR_KEEP_PPM} * domain_n AS kept
FROM ranked
""".replace("{q}", _QUALITY_SQL),
)
def domain_fair_keep_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-fair quality keep (operators/sampling.py
    ``domain_fair_keep``): the top 40% of documents WITHIN each
    language by composite quality — the fairness alternative to a
    global cutoff that empties low-scoring languages. Exact integer
    keep rule (rank·1e6 <= keep_ppm·n), deterministic doc_id
    tie-break, one domain-partitioned window exchange. Full value
    oracle via the bit-identical _QUALITY_SQL score."""
    from pyspark_unload_to_gcs_spark.operators.sampling import (
        domain_fair_keep,
    )
    from pyspark_unload_to_gcs_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", T.quality_score(F.col("text")).alias("q")
    )
    return domain_fair_keep(
        docs, "lang", "q", "doc_id", keep_ppm=_FAIR_KEEP_PPM
    ).select("doc_id", "lang", "domain_rank", "domain_n", "kept")


_EPOCH_BUDGET = 50_000
_EPOCH_MAX = 4


def _epoch_oracle() -> str:
    """DuckDB replay of repeat_epoch_schedule (natural weights): three
    unrolled proportional-redistribution rounds + the greedy closure,
    all integer floor arithmetic — the schedule is a pure function of
    the per-language token counts."""
    B = _EPOCH_BUDGET
    rounds = []
    prev = "base"
    for i in (1, 2, 3):
        rounds.append(f"""r{i} AS (
  SELECT lang, avail, cap, w,
         served + CASE WHEN cap - served > 0
             AND SUM(CASE WHEN cap - served > 0 THEN w ELSE 0 END)
                   OVER () > 0
             AND {B} - SUM(served) OVER () > 0
           THEN LEAST(cap - served,
             CAST((CAST({B} - SUM(served) OVER () AS HUGEINT) * w)
                  // SUM(CASE WHEN cap - served > 0 THEN w ELSE 0 END)
                       OVER () AS BIGINT))
           ELSE 0 END AS served
  FROM {prev})""")
        prev = f"r{i}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH toks AS (
  SELECT lang, {_TOKCOUNT_SQL} AS tok FROM documents
), per AS (
  SELECT lang, CAST(SUM(tok) AS BIGINT) AS avail FROM toks GROUP BY lang
), base AS (
  SELECT lang, avail,
         CAST(CAST(avail AS HUGEINT) * {_EPOCH_MAX} AS BIGINT) AS cap,
         avail AS w, CAST(0 AS BIGINT) AS served
  FROM per
),
{rounds_sql},
closure AS (
  SELECT lang, avail, cap, w, served,
         cap - served AS room,
         {B} - SUM(served) OVER () AS leftover,
         COALESCE(SUM(CASE WHEN cap - served > 0 THEN cap - served END)
             OVER (ORDER BY w DESC, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS csum
  FROM {prev}
), fin AS (
  SELECT lang, avail, cap,
         served + CASE WHEN room > 0 AND leftover > 0
           THEN LEAST(room, GREATEST(leftover - csum, 0)) ELSE 0 END
           AS served_tokens
  FROM closure
)
SELECT lang, avail AS avail_tokens, cap AS cap_tokens,
       CAST(served_tokens AS BIGINT) AS served_tokens,
       CAST((CAST(served_tokens AS HUGEINT) * 1000000)
            // GREATEST(avail, 1) AS BIGINT) AS epochs_ppm,
       CAST((CAST(served_tokens AS HUGEINT) * 1000000)
            // GREATEST(SUM(served_tokens) OVER (), 1) AS BIGINT)
         AS share_ppm
FROM fin
"""


@register("epoch_schedule_plan", oracle=_epoch_oracle())
def epoch_schedule_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained token-budget schedule (operators/sampling.py
    ``repeat_epoch_schedule``): water-fill a fixed 50k-token budget
    across languages with supply capped at 4 epochs of availability —
    at sf0.001 the budget exceeds supply (every language saturates at
    4 epochs), at sf0.01+ it water-fills proportionally, so one row
    exercises both regimes across the driver's scales. ALL-integer
    floor arithmetic (3 proportional rounds + greedy closure), so the
    DuckDB oracle unrolls the identical recurrence; the only
    data-scale op is the token-count groupBy."""
    from pyspark_unload_to_gcs_spark.operators.sampling import (
        repeat_epoch_schedule,
    )
    from pyspark_unload_to_gcs_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("lang"),
        T.token_count(F.col("text")).cast("long").alias("tok"),
    )
    out = repeat_epoch_schedule(
        docs, "lang", "tok", budget=_EPOCH_BUDGET, max_epochs=_EPOCH_MAX
    )
    return out


def _leakage_oracle() -> str:
    """DuckDB replay of split_leakage_audit over the document texts:
    the md5-prefix split, the chr(1)-flagged normalized content key
    (chr(2) id fallback for contentless rows), and the exact one-row
    summary."""
    from pyspark_unload_to_gcs_spark.operators.sampling import (
        split_threshold_hex,
    )

    thresh = split_threshold_hex(0.8)
    return f"""
WITH keyed AS (
  SELECT CASE WHEN text IS NULL OR {_NORM_SQL} = ''
           THEN md5(chr(2) || 'id:' || CAST(doc_id AS VARCHAR))
           ELSE md5(chr(1) || {_NORM_SQL}) END AS key,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{thresh}'
           THEN 'train' ELSE 'test' END AS side
  FROM documents
), per AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
         COUNT(*) FILTER (WHERE side = 'train') AS tr,
         COUNT(*) FILTER (WHERE side = 'test') AS te
  FROM keyed GROUP BY key
)
SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COUNT(*) FILTER (WHERE n > 1) AS BIGINT) AS n_dup_groups,
       CAST(COUNT(*) FILTER (WHERE tr > 0 AND te > 0) AS BIGINT)
         AS n_leaked_groups,
       CAST(COALESCE(SUM(n) FILTER (WHERE tr > 0 AND te > 0), 0)
            AS BIGINT) AS leaked_rows,
       CAST((CAST(COALESCE(SUM(n) FILTER (WHERE tr > 0 AND te > 0), 0)
                  AS HUGEINT) * 1000000)
            // GREATEST(COALESCE(SUM(n), 0), 1) AS BIGINT)
         AS leaked_ppm
FROM per
"""


@register("split_leakage_profile", oracle=_leakage_oracle())
def split_leakage_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split-leakage audit (operators/sampling.py
    ``split_leakage_audit``): normalized-content identity vs the
    deterministic md5-prefix 80/20 split over the documents corpus —
    duplicate content under different ids that straddles the boundary
    counts every row of its group as leaked; contentless rows key on
    their id. One narrow map + one 32-byte-key groupBy + one global
    agg; full value oracle (the split, the content key, and every
    count replay exactly)."""
    from pyspark_unload_to_gcs_spark.operators.sampling import (
        split_leakage_audit,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return split_leakage_audit(
        docs, "doc_id", ["text"], train_fraction=0.8
    )


def _line_dedup_within_oracle() -> str:
    """DuckDB replay of document-scope line_dedup over a page with a
    planted intra-document repeat (the banner appears twice in every
    page): first occurrence survives, the echo drops, reassembly
    pinned by md5."""
    return """
WITH docs AS (
  SELECT doc_id AS id,
    'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 1, 40)
    || chr(10) || 'BANNER GROUP ' || CAST(doc_id % 7 AS VARCHAR)
    || chr(10)
    || chr(10) || 'banner   group ' || CAST(doc_id % 7 AS VARCHAR)
    || chr(10) || 'tail ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
), split AS (
  SELECT id, string_split(text, chr(10)) AS l FROM docs
), lines AS (
  SELECT id, ord, l[ord] AS line,
    lower(trim(regexp_replace(l[ord], '[ \\t\\r]+', ' ', 'g'))) AS key
  FROM split, LATERAL unnest(generate_series(1, len(l))) AS t(ord)
), flags AS (
  SELECT id, ord, line,
    (key = '' OR ROW_NUMBER() OVER (PARTITION BY id, key ORDER BY ord)
       <= 1) AS keep
  FROM lines
)
SELECT id AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_lines_removed,
  md5(COALESCE(string_agg(line, chr(10) ORDER BY ord)
               FILTER (WHERE keep), '')) AS dedup_md5,
  CAST(length(COALESCE(string_agg(line, chr(10) ORDER BY ord)
                       FILTER (WHERE keep), '')) AS BIGINT)
    AS dedup_chars
FROM flags GROUP BY id
"""


@register(
    "line_dedup_within_doc", oracle=_line_dedup_within_oracle()
)
def line_dedup_within_doc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-scope exact line dedup (operators/paragraphs.py
    ``line_dedup``, the intra-doc de-repetition arm): every synthetic
    page carries its banner TWICE (case/whitespace variants that
    normalize equal); the first occurrence survives in every document
    — unlike the corpus scope, which drops boilerplate everywhere —
    and the echo drops. Reassembly pinned by md5 + length. The window
    is partitioned by (doc, key): partition-local, no corpus-wide
    shuffle by content. Full value oracle."""
    from pyspark_unload_to_gcs_spark.operators.paragraphs import (
        line_dedup,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.lit("Doc "),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.substring(F.col("text"), 1, 40),
            F.lit("\nBANNER GROUP "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\n"),
            F.lit("\nbanner   group "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\ntail "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = line_dedup(docs, scope="document", max_occurrences=1)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_lines",
        "n_lines_removed",
        F.md5(F.col("text_dedup")).alias("dedup_md5"),
        F.length("text_dedup").cast("long").alias("dedup_chars"),
    )


def _reweight_oracle() -> str:
    """DuckDB replay of domain_reweight (eta=1, counts baseline) over
    the quality score: the temperature_weights DECIMAL discipline —
    round-6 DECIMAL accumulation, round-9 decimal means, ONE exp()
    whose double input is bit-identical on both engines, round-6 back
    to DECIMAL(18,6), exact decimal products, one final double
    division rounded to 9."""
    return f"""
WITH s AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(CAST(ROUND({_QUALITY_SQL}, 6) AS DECIMAL(28,12))) AS sacc
  FROM documents GROUP BY lang
), m AS (
  SELECT lang, n_docs,
         CAST(ROUND(sacc / n_docs, 9) AS DECIMAL(38,12)) AS mu,
         CAST(ROUND(SUM(sacc) OVER () / SUM(n_docs) OVER (), 9)
              AS DECIMAL(38,12)) AS ref
  FROM s
), b AS (
  SELECT lang, n_docs, mu, ref,
         CAST(n_docs AS DECIMAL(18,6))
           * CAST(ROUND(EXP(CAST(ref - mu AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS u
  FROM m
)
SELECT lang, n_docs,
       CAST(mu AS DOUBLE) AS mean_score,
       CAST(ref - mu AS DOUBLE) AS excess,
       ROUND(CAST(u AS DOUBLE) / CAST(SUM(u) OVER () AS DOUBLE), 9)
         AS weight
FROM b
"""


@register("domain_reweight_mix", oracle=_reweight_oracle())
def domain_reweight_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored domain reweighting (operators/sampling.py
    ``domain_reweight``, eta=1, counts baseline): per-language
    sampling weights boosted by how much WORSE the language scores
    than the corpus under the composite quality signal — the one
    exponentiated-gradient data-side step of Xie et al. 2023. Full
    value oracle under the temperature_weights DECIMAL discipline
    (round-6 accumulation, round-9 means, one exp, one double
    division); the only data-scale op is the map-side-combined
    groupBy."""
    from pyspark_unload_to_gcs_spark.operators.sampling import (
        domain_reweight,
    )
    from pyspark_unload_to_gcs_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents").select(
        "lang", T.quality_score(F.col("text")).alias("q")
    )
    return domain_reweight(docs, "lang", "q", eta=1.0, baseline="counts")


def _robots_gate_oracle() -> str:
    """Closed-form DuckDB replay of the robots gate over the
    synth_robots family (the canary/audio closed-form precedent: the
    fixture's applicable rule set per domain arm is known exactly —
    arm 0 serves TrainBot three prefix rules, arm 1 serves '*' one
    usable Allow (the empty Disallow and the wildcard rule match
    nothing), arm 2 has no applicable record) — then RFC 9309
    longest-match with Allow tie-win and default-allow, aggregated
    per domain. The parser internals are pinned separately by the
    python-model + fuzz tests in test_robots.py."""
    return """
WITH nat AS (
  SELECT n_nationkey AS nid, 'd' || CAST(n_nationkey AS VARCHAR) AS domain
  FROM nation
), rules AS (
  SELECT n.domain, r.allow, r.path_prefix
  FROM nat n
  JOIN (VALUES (0, FALSE, '/private/'), (0, TRUE, '/private/ok/'),
               (0, FALSE, '/tmp/'), (1, TRUE, '/public/'))
       AS r(arm, allow, path_prefix)
    ON n.nid % 3 = r.arm
), urls AS (
  SELECT 'd' || CAST(o_orderkey % 25 AS VARCHAR) AS domain,
         CASE o_orderkey % 4
           WHEN 0 THEN '/private/ok/p' || CAST(o_orderkey AS VARCHAR)
           WHEN 1 THEN '/private/x' || CAST(o_orderkey AS VARCHAR)
           WHEN 2 THEN '/tmp/t' || CAST(o_orderkey AS VARCHAR)
           ELSE '/public/o' || CAST(o_orderkey AS VARCHAR)
         END AS path
  FROM orders
), matched AS (
  SELECT u.domain, u.path, r.allow, r.path_prefix,
         ROW_NUMBER() OVER (
           PARTITION BY u.domain, u.path
           ORDER BY length(r.path_prefix) DESC NULLS LAST,
                    r.allow DESC NULLS LAST, r.path_prefix
         ) AS rn
  FROM urls u
  LEFT JOIN rules r
    ON u.domain = r.domain AND starts_with(u.path, r.path_prefix)
), verdicts AS (
  SELECT domain, COALESCE(allow, TRUE) AS allowed,
         allow IS NOT NULL AS matched
  FROM matched WHERE rn = 1
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(*) FILTER (WHERE allowed) AS BIGINT) AS n_allowed,
       CAST(COUNT(*) FILTER (WHERE NOT allowed) AS BIGINT) AS n_denied,
       CAST(COUNT(*) FILTER (WHERE matched) AS BIGINT) AS n_rule_matched
FROM verdicts GROUP BY domain
"""


@register("robots_gate_profile", oracle=_robots_gate_oracle())
def robots_gate_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance gate (operators/robots.py): 25 synthetic
    domains (one robots.txt arm each — a TrainBot record with
    Allow-under-Disallow nesting, a '*' record with the empty-Disallow
    idiom and a wildcard rule that must be flagged and skipped, and a
    comments-only file), a four-arm URL frontier from the orders keys,
    the full distributed parse (record grouping, exact-agent
    precedence) and the RFC 9309 longest-match verdict, aggregated per
    domain. The oracle replays the fixture's closed-form applicable
    rule set (the parser itself is model+fuzz-pinned in
    test_robots.py) and the exact longest-match/default-allow
    arithmetic."""
    from pyspark_unload_to_gcs_spark.operators.robots import (
        robots_allowed,
        robots_rules,
        synth_robots,
    )

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("nid")
    )
    robots = nat.select(
        F.concat(F.lit("d"), F.col("nid").cast("string")).alias("domain"),
        synth_robots(F.col("nid")).alias("robots_txt"),
    )
    from pyspark_unload_to_gcs_spark.operators.dedup import ensure_parallelism

    okey = F.col("o_orderkey").cast("long")
    # per-URL longest-match runs in the frontier's scan stage; the
    # local single-file fixture is one task without this (opt r15,
    # guide §2.5 unsplittable-input repartition — no-op at scale).
    # Key projection BEFORE the repartition (guide §2.3): only
    # o_orderkey crosses the exchange, not the full order row.
    urls = ensure_parallelism(
        _t(spark, sf_dir, "orders").select("o_orderkey")
    ).select(
        F.concat(F.lit("d"), (okey % 25).cast("string")).alias("domain"),
        F.when(
            okey % 4 == 0,
            F.concat(F.lit("/private/ok/p"), okey.cast("string")),
        )
        .when(okey % 4 == 1, F.concat(F.lit("/private/x"), okey.cast("string")))
        .when(okey % 4 == 2, F.concat(F.lit("/tmp/t"), okey.cast("string")))
        .otherwise(F.concat(F.lit("/public/o"), okey.cast("string")))
        .alias("path"),
    )
    rules = robots_rules(robots, agent="trainbot")
    verdicts = robots_allowed(urls, rules)
    return verdicts.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.count(F.when(F.col("allowed"), 1)).cast("long").alias("n_allowed"),
        F.count(F.when(~F.col("allowed"), 1)).cast("long").alias("n_denied"),
        F.count(F.when(F.col("matched_allow").isNotNull(), 1))
        .cast("long")
        .alias("n_rule_matched"),
    )


def _html_profile_oracle() -> str:
    """DuckDB replay of html_text_extract over synth_html pages: the
    identical RE2-subset regexes (content-free strips, anchor
    extraction BEFORE tag strip, block tags to newlines, ordered
    entity decode with &amp; last, per-line whitespace normalize) and
    the exact link-density integer arithmetic, reassembled text pinned
    by md5."""
    decode = (
        "replace(replace(replace(replace(replace(replace({x}, "
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), "
        "'&nbsp;', ' '), '&amp;', '&')"
    )
    block_to_text = decode.format(
        x="regexp_replace(regexp_replace(body, "
        "'(?is)</?(br|p|div|li|h[1-6]|tr|ul|ol)\\b[^>]*>', "
        "chr(10), 'g'), '(?s)<[^>]*>', '', 'g')"
    )
    anchor_decoded = decode.format(
        x="regexp_replace(a, '(?s)<[^>]*>', '', 'g')"
    )
    return f"""
WITH pages AS (
  SELECT doc_id,
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
    || '</title><style>body {{ color: red; }}</style>'
    || '<script type="text/javascript">var x = 1 < 2; // '
    || CAST(doc_id AS VARCHAR) || '</script></head><body>'
    || '<!-- nav boilerplate -->'
    || '<div class="nav"><ul><li><a href="/">Home</a></li>'
    || '<li><a href="/a">About &amp; Contact</a></li>'
    || (CASE WHEN doc_id % 3 = 0
        THEN '<li><a href="/x">Extra ' || CAST(doc_id AS VARCHAR)
             || '</a></li>' ELSE '' END)
    || '</ul></div><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
    || text
    || '</p><div class="footer"><a href="/t">Terms &quot;of&quot; use&nbsp;'
    || CAST(doc_id AS VARCHAR) || '</a></div></body></html>' AS html
  FROM documents
), stripped AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(html,
      '(?is)<script\\b[^>]*>.*?</script>', '', 'g'),
      '(?is)<style\\b[^>]*>.*?</style>', '', 'g'),
      '(?s)<!--.*?-->', '', 'g') AS body
  FROM pages
), anchored AS (
  SELECT doc_id, body,
    regexp_extract_all(body, '(?is)<a\\b[^>]*>(.*?)</a>', 1) AS anchors
  FROM stripped
), texted AS (
  SELECT doc_id, anchors,
    array_to_string(list_filter(list_transform(
      string_split(
        {block_to_text},
        chr(10)),
      ln -> trim(regexp_replace(ln, '[ \\t\\r]+', ' ', 'g'))),
      ln -> ln <> ''), chr(10)) AS text
  FROM anchored
), stats AS (
  SELECT doc_id,
    CAST(len(anchors) AS BIGINT) AS n_links,
    CAST(COALESCE(list_sum(list_transform(anchors,
      a -> length(trim({anchor_decoded})))), 0)
      AS BIGINT) AS anchor_chars,
    CAST(length(text) AS BIGINT) AS clean_chars,
    md5(text) AS text_md5
  FROM texted
)
SELECT doc_id, n_links, anchor_chars, clean_chars,
       CAST((CAST(anchor_chars AS HUGEINT) * 1000000)
            // GREATEST(clean_chars, 1) AS BIGINT) AS link_char_ppm,
       text_md5
FROM stats
"""


@register("html_boilerplate_profile", oracle=_html_profile_oracle())
def html_boilerplate_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate extraction (operators/html.py
    ``html_text_extract`` over ``synth_html`` pages): clean text plus
    the link-density stats boilerplate classifiers key on — anchors
    counted BEFORE the tag strip, ordered entity decode (&amp; last),
    block tags to newlines, per-line whitespace normalize, exact
    integer link_char_ppm — with the reassembled text pinned by md5.
    The whole extraction is one zero-shuffle JVM-regex map in the
    Java/RE2 common subset (plan-pinned in test_html.py), which is
    what makes this FULL value oracle possible."""
    from pyspark_unload_to_gcs_spark.operators.html import (
        html_text_extract,
        synth_html,
    )

    pages = _t(spark, sf_dir, "documents").select(
        "doc_id",
        synth_html(F.col("doc_id"), F.col("text")).alias("html"),
    )
    out = html_text_extract(pages)
    return out.select(
        "doc_id",
        "n_links",
        "anchor_chars",
        "clean_chars",
        "link_char_ppm",
        F.md5(F.col("text")).alias("text_md5"),
    )


def _langid_confusion_oracle() -> str:
    """DuckDB replay of the language-ID confusion matrix: the shared
    _LANGID_SQL guess joined against the fixture's true lang, counts
    per (true, guessed) cell, per-true-language recall ppm, and the
    corpus accuracy ppm repeated per row — all-integer floor
    arithmetic."""
    from pyspark_unload_to_gcs_spark.registry_extensions import (
        _LANGID_SQL,
    )

    return f"""
WITH guesses AS ({_LANGID_SQL}),
joined AS (
  SELECT d.lang, g.lang_guess
  FROM documents d JOIN guesses g USING (doc_id)
), cells AS (
  SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n
  FROM joined GROUP BY lang, lang_guess
)
SELECT lang, lang_guess, n,
       CAST((CAST(n AS HUGEINT) * 1000000)
            // SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS row_ppm,
       CAST((SUM(CASE WHEN lang = lang_guess THEN n ELSE 0 END) OVER ()
             * 1000000) // SUM(n) OVER () AS BIGINT) AS accuracy_ppm
FROM cells
"""


@register("langid_confusion", oracle=_langid_confusion_oracle())
def langid_confusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (operators/text.py ``lang_id``
    stopword vote vs the fixture's true lang) — the eval table every
    heuristic classifier ships with: one row per (true, guessed)
    cell with its count, the per-true-language row share (recall on
    the diagonal), and the corpus accuracy repeated per row as the
    gate scalar. One groupBy over K x K cells; windows run over the
    <= K^2 aggregated rows. Full value oracle via the shared
    _LANGID_SQL guess replay ('zh' has no stopword list, so its mass
    lands off-diagonal by design — the matrix SHOWS the blind spot,
    which is the point of shipping one)."""
    from pyspark_unload_to_gcs_spark.operators import text as T
    from pyspark_unload_to_gcs_spark.operators.dedup import ensure_parallelism

    # the stopword-vote regex work runs in the scan stage; parallelize
    # the single-file local fixture (opt r15, guide §2.5 — no-op at
    # scale where the corpus already has >= cores partitions)
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("lang", "text")
    ).select("lang", T.lang_id(F.col("text")).alias("lang_guess"))
    cells = docs.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )
    return cells.select(
        "lang",
        "lang_guess",
        "n",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * 1000000) "
            "DIV SUM(n) OVER (PARTITION BY lang) AS BIGINT)"
        ).alias("row_ppm"),
        F.expr(
            "CAST((SUM(CASE WHEN lang = lang_guess THEN n ELSE 0 END) "
            "OVER () * CAST(1000000 AS DECIMAL(38,0))) "
            "DIV SUM(n) OVER () AS BIGINT)"
        ).alias("accuracy_ppm"),
    )


# --------------------------------------------------------------------------
# Exact percentiles / winsorize, the ensemble quality combiner, and
# MIME sniffing.
# --------------------------------------------------------------------------

_PCT_PPMS = [10_000, 250_000, 500_000, 750_000, 990_000]

_PCT_EXACT_SQL = """
WITH v AS (
  SELECT round(CAST(value AS DOUBLE), 6) AS v
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM v),
ranked AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM v),
ps AS (
  SELECT unnest([10000, 250000, 500000, 750000, 990000]) AS p_ppm
), rk AS (
  SELECT CAST(p_ppm AS BIGINT) AS p_ppm,
         GREATEST((CAST(p_ppm AS HUGEINT) * nn.n + 999999) // 1000000,
                  1) AS rnk,
         nn.n AS n
  FROM ps, nn
)
SELECT rk.p_ppm, ranked.v AS value, CAST(rk.rnk AS BIGINT) AS rank,
       CAST(rk.n AS BIGINT) AS n
FROM rk JOIN ranked ON ranked.r = rk.rnk
"""


@register("value_percentiles_exact", oracle=_PCT_EXACT_SQL)
def value_percentiles_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distribution percentiles without a global sort
    (operators/diagnostics.py ``exact_percentiles``): p1/p25/p50/p75/p99
    of the events value column under PERCENTILE_DISC lower-rank
    semantics — rank = max(1, ceil(p * N)) in pure integer arithmetic,
    value buckets bounded by DISTINCT rounded values (the documented
    bounded-range precondition), one cumulative window over the bucket
    frame, K percentiles as K conditional aggregations in ONE pass.
    The oracle replays the rank rule literally: ROW_NUMBER over the
    rounded multiset joined on the computed rank — any drift in the
    ceil arithmetic, the cum-window boundary (>= rank), NULL/NaN
    exclusion, or the rounding grain flips value AND rank columns.
    The exact sibling of the KLL sketch row (`kll_value_quantiles_
    rollup` trades exactness for mergeability; this row is the
    ground-truth arm a sketch gate calibrates against)."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        exact_percentiles,
    )

    ev = _t(spark, sf_dir, "events")
    return exact_percentiles(ev, "value", _PCT_PPMS)


_WINSOR_SQL = """
WITH v AS (
  SELECT round(CAST(value AS DOUBLE), 6) AS v
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM v),
ranked AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM v),
b AS (
  SELECT
    (SELECT v FROM ranked, nn
      WHERE r = GREATEST((10000 * nn.n + 999999) // 1000000, 1)) AS lo,
    (SELECT v FROM ranked, nn
      WHERE r = GREATEST((990000 * nn.n + 999999) // 1000000, 1)) AS hi
), w AS (
  SELECT GREATEST(LEAST(CAST(e.value AS DOUBLE), b.hi), b.lo) AS wv,
         CAST(e.value AS DOUBLE) AS x, b.lo AS lo, b.hi AS hi
  FROM events e, b
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_raised,
       CAST(sum(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_lowered,
       min(wv) AS winsor_min,
       max(wv) AS winsor_max,
       CAST(sum(CAST(round(wv * 100) AS BIGINT)) AS BIGINT)
         AS winsor_sum_cents
FROM w
"""


@register("winsorized_value_profile", oracle=_WINSOR_SQL)
def winsorized_value_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized-clip audit at exact percentile bounds
    (operators/diagnostics.py ``winsorize`` over ``exact_percentiles``
    — never a global sort): events values clip to the exact p1/p99,
    and the row reports the clip census a pipeline gates on — how many
    rows rose to the floor, how many dropped to the ceiling, the
    realized min/max (the bounds themselves whenever any clip
    happened), and the post-clip exact-cents sum (the quantity
    winsorizing exists to stabilize). Bounds attach via one broadcast
    1-row frame; interior values pass through UNROUNDED — the oracle
    clips raw doubles against the rank-rule bounds, so a drift in
    either the bound lookup or the pass-through discipline flips the
    cents sum."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import winsorize

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    w = winsorize(ev, "value", lo_ppm=10_000, hi_ppm=990_000)
    x = F.col("value").cast("double")
    return w.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            (F.coalesce(F.col("clipped"), F.lit(False))
             & (F.col("value_winsor") > x)).cast("long")
        ).alias("n_raised"),
        F.sum(
            (F.coalesce(F.col("clipped"), F.lit(False))
             & (F.col("value_winsor") < x)).cast("long")
        ).alias("n_lowered"),
        F.min("value_winsor").alias("winsor_min"),
        F.max("value_winsor").alias("winsor_max"),
        F.sum(
            F.round(F.col("value_winsor") * 100, 0).cast("long")
        ).alias("winsor_sum_cents"),
    )


_ENSEMBLE_SQL = """
WITH sig AS (
  SELECT doc_id,
         CAST(n_chars AS HUGEINT) AS a,
         CAST(length(text) - length(replace(text, ' ', '')) AS HUGEINT) AS b
  FROM documents
), st AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         sum(a) AS sa, sum(a * a) AS qa,
         sum(b) AS sb, sum(b * b) AS qb
  FROM sig
), mo AS (
  -- mean = round(sum/n, 9) HALF_UP, exact in integer e9 space
  SELECT n,
         (2 * sa * 1000000000 + n) // (2 * n) AS ma_e9,
         (2 * sb * 1000000000 + n) // (2 * n) AS mb_e9,
         qa, qb
  FROM st
), vo AS (
  -- var = round(q/n - mean^2, 9): q/n exact at e18 (n divides 10^k
  -- at every fixture SF), minus mean^2 (e18), half-up back to e9
  SELECT n, ma_e9, mb_e9,
         (2 * ((qa * 1000000000000000000) // n - ma_e9 * ma_e9)
          + 1000000000) // (2 * 1000000000) AS va_e9,
         (2 * ((qb * 1000000000000000000) // n - mb_e9 * mb_e9)
          + 1000000000) // (2 * 1000000000) AS vb_e9
  FROM mo
), so AS (
  SELECT n, ma_e9, mb_e9,
         round(sqrt(CAST(va_e9 AS DOUBLE) / 1000000000.0), 6) AS da,
         round(sqrt(CAST(vb_e9 AS DOUBLE) / 1000000000.0), 6) AS db
  FROM vo
)
SELECT s.doc_id,
       0.0
       + 3 * (CASE WHEN so.da > 0 THEN
           CAST(s.a * 1000000000 - so.ma_e9 AS DOUBLE)
             / 1000000000.0 / so.da ELSE 0.0 END)
       + -2 * (CASE WHEN so.db > 0 THEN
           CAST(s.b * 1000000000 - so.mb_e9 AS DOUBLE)
             / 1000000000.0 / so.db ELSE 0.0 END) AS ensemble_score,
       CAST(2 AS BIGINT) AS signals_present
FROM sig s, so
"""


@register("ensemble_quality_rank", oracle=_ENSEMBLE_SQL)
def ensemble_quality_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal quality ensemble end to end
    (operators/quality_filters.py ``ensemble_quality_score``): every
    document scores on two incompatible-scale signals — total length
    (n_chars) weighted +3 and space count weighted -2 — via corpus
    z-normalization under the exact-DECIMAL stats discipline. The
    oracle replays the whole decimal ladder in integer e9/e18 space:
    round-half-up means, the q/n - mean^2 variance leg, the one
    double sqrt rounded to 6, and the fixed-order weighted double
    sum — every step is exact rational arithmetic on this fixture
    (the document count divides a power of 10 at every SF, so no
    Spark decimal-division rounding is ever exercised ambiguously),
    making the raw DOUBLE score bit-replayable cross-engine. ONE
    map-side-combined global aggregate broadcast back as a 1-row
    stats frame, then a narrow per-row map — no window, no
    per-signal pass."""
    from pyspark_unload_to_gcs_spark.operators.quality_filters import (
        ensemble_quality_score,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("sig_len"),
        F.expr(
            "CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)"
        ).alias("sig_spaces"),
    )
    scored = ensemble_quality_score(
        docs, ["sig_len", "sig_spaces"], weights=[3, -2]
    )
    return scored.select("doc_id", "ensemble_score", "signals_present")


_MIME_SQL = """
WITH m AS (
  SELECT CASE doc_id % 14
    WHEN 0 THEN 'audio/wav'
    WHEN 1 THEN 'image/png'
    WHEN 2 THEN 'image/jpeg'
    WHEN 3 THEN 'image/gif'
    WHEN 4 THEN 'image/bmp'
    WHEN 5 THEN 'application/pdf'
    WHEN 6 THEN 'application/gzip'
    WHEN 7 THEN 'application/zip'
    WHEN 8 THEN 'video/mp4'
    WHEN 9 THEN 'text/plain'
    WHEN 10 THEN 'application/octet-stream'
    WHEN 11 THEN 'text/plain'
    WHEN 12 THEN 'application/octet-stream'
    ELSE NULL END AS mime
  FROM documents
)
SELECT mime, CAST(count(*) AS BIGINT) AS n
FROM m GROUP BY mime
"""


@register("mime_sniff_profile", oracle=_MIME_SQL)
def mime_sniff_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte MIME triage end to end (operators/multimodal.py
    ``sniff_mime``): fourteen closed-form payload arms synthesize in
    pure JVM expressions — one per recognized container (RIFF/WAVE,
    PNG, JPEG, GIF89a, BMP, PDF, gzip, zip, MP4 ftyp-at-offset-5)
    plus the heuristic edges the sniffer documents: printable ASCII
    text (-> text/plain), high-byte binary (-> octet-stream), a
    RIFF header WITHOUT the WAVE format tag (falls through the magic
    table to the byte heuristic and reads text/plain — the documented
    fall-through), the empty payload (octet-stream), and NULL (stays
    NULL: an absent blob has no type). Arms 4/8 pin precedence: their
    payloads are fully printable yet must triage by magic, not the
    text heuristic. The oracle states each arm's expected type in
    closed form — any drift in a magic offset/length, rule order, the
    raw-byte hex-pair heuristic, or the NULL/empty discipline moves
    mass between mime groups. A narrow zero-shuffle map + one bounded
    groupBy; nothing reads past byte 68 of any payload."""
    from pyspark_unload_to_gcs_spark.operators.multimodal import sniff_mime

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    digits = F.col("doc_id").cast("string").cast("binary")
    arm = (F.col("doc_id") % 14).cast("int")

    def with_digits(prefix: bytes):
        return F.concat(F.lit(prefix), digits)

    payload = (
        F.when(arm == 0, with_digits(b"RIFF1234WAVE"))
        .when(arm == 1, with_digits(b"\x89PNG\r\n\x1a\n"))
        .when(arm == 2, with_digits(b"\xff\xd8\xff\xe0"))
        .when(arm == 3, with_digits(b"GIF89a"))
        .when(arm == 4, with_digits(b"BM"))
        .when(arm == 5, with_digits(b"%PDF-1.7\n"))
        .when(arm == 6, with_digits(b"\x1f\x8b\x08"))
        .when(arm == 7, with_digits(b"PK\x03\x04"))
        .when(arm == 8, with_digits(b"0000ftypmp42"))
        .when(arm == 9, with_digits(b"doc\t"))
        .when(arm == 10, with_digits(b"\x80\x81\xfe"))
        .when(arm == 11, with_digits(b"RIFF"))
        .when(arm == 12, F.lit(b""))
        # arm 13: NULL payload
    )
    return (
        docs.select(sniff_mime(payload).alias("mime"))
        .groupBy("mime")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
# Open-protocol Delta log rows: S2/S3/S4
# runtime semantics on the PUBLIC Delta table format, no delta-spark —
# the minimal log reader/writer in sources/delta_log.py. Same commit
# arms and closed-form oracles as the versioned-parquet twins, so the
# two storage backends pin each other.
# --------------------------------------------------------------------------


def _delta_orders(spark: SparkSession, sf_dir: str) -> str:
    """3-commit OPEN-FORMAT Delta table from orders (memoized per
    session; the _versioned_orders arms on the documented protocol):
    v0 @ ms 1000 = even keys; v1 @ ms 2000 = ALL keys with price+1.0
    where key % 10 == 0; v2 @ ms 3000 = v1 minus key % 7 == 0. A
    parquet checkpoint is written at v1 so every snapshot/feed row
    ALSO exercises the checkpoint replay path."""
    import tempfile

    from pyspark_unload_to_gcs_spark.sources import delta_log as DL

    def build():
        path = tempfile.mkdtemp(prefix="delta_orders_") + "/t"
        base = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )
        v1 = base.withColumn(
            "price",
            F.col("price")
            + F.when(F.col("o_orderkey") % 10 == 0, F.lit(1.0)).otherwise(
                F.lit(0.0)
            ),
        )
        DL.write_delta_commit(
            base.filter(F.col("o_orderkey") % 2 == 0), path, commit_ms=1000
        )
        DL.write_delta_commit(v1, path, commit_ms=2000, mode="overwrite")
        DL.write_delta_commit(
            v1.filter(F.col("o_orderkey") % 7 != 0),
            path,
            commit_ms=3000,
            mode="overwrite",
        )
        DL.write_checkpoint(spark, path, 1)
        return path

    return session_memo(spark, ("delta_log", sf_dir), build)


@register("delta_time_travel_snapshot", oracle=_VERSIONED_SNAPSHOT_SQL)
def delta_time_travel_snapshot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF time travel on the OPEN Delta format
    (sources/delta_log.py ``snapshot_at_ms``; reference S2,
    export.py:112-114) — no delta-spark: the minimal protocol reader
    lists the commit log, resolves the newest commit <= ms 2500 (= v1),
    replays add/remove actions THROUGH the v1 parquet checkpoint, and
    scans the surviving files. Must equal v1 exactly: all keys present,
    +1.0 on every % 10 == 0 price, no % 7 deletions (v2 is the
    future). Same closed-form oracle as the versioned-parquet twin —
    the two storage backends pin each other."""
    from pyspark_unload_to_gcs_spark.sources import delta_log as DL

    return DL.snapshot_at_ms(spark, _delta_orders(spark, sf_dir), 2500)


@register("delta_change_feed_window", oracle=_VERSIONED_CDF_SQL)
def delta_change_feed_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed window on the OPEN Delta format
    (sources/delta_log.py ``change_feed_by_diff``; reference S3,
    export.py:115-128): the window [1500, 3000] reconstructs v1's
    changes (odd-key INSERTs, preimage-DELETE + postimage-INSERT pairs
    for the % 10 == 0 updates — the exact pair model the reference
    maps Delta CDF update rows onto, export.py:121-126) and v2's
    deletes at v1 prices from the transaction log alone, each stamped
    with commit version + timestamp. v0 precedes the window and must
    not leak."""
    from pyspark_unload_to_gcs_spark.sources import delta_log as DL

    return DL.change_feed_by_diff(
        spark,
        _delta_orders(spark, sf_dir),
        1500,
        3000,
        key_columns=["o_orderkey"],
    )


_DELTA_HISTORY_SQL = """
WITH c AS (
  SELECT CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS n0,
         CAST(count(*) AS BIGINT) AS n1,
         CAST(count(*) FILTER (WHERE o_orderkey % 7 != 0) AS BIGINT) AS n2
  FROM orders
)
SELECT CAST(0 AS BIGINT) AS version, CAST(1000 AS BIGINT) AS commit_ms,
       'WRITE' AS operation, n0 AS n_rows
FROM c
UNION ALL SELECT 1, 2000, 'OVERWRITE', n1 FROM c
UNION ALL SELECT 2, 3000, 'OVERWRITE', n2 FROM c
"""


@register("delta_log_history_probe", oracle=_DELTA_HISTORY_SQL)
def delta_log_history_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY on the OPEN Delta format
    (sources/delta_log.py ``table_history``; the reference's
    latest-commit probe, export.py:49-60, S4) — version, commit
    timestamp ms and operation from each commit's commitInfo, plus the
    ACTIVE row count at that version (one union-all scan over the
    replayed snapshots, groupBy version — proves every historical
    replay, not just the tip). The commit metadata rides as literals
    from the (KB-sized) log; only the row counts touch data."""
    from pyspark_unload_to_gcs_spark.sources import delta_log as DL

    path = _delta_orders(spark, sf_dir)
    hist = DL.table_history(path)
    counts = None
    for e in hist:
        s = DL.snapshot_at_version(spark, path, e["version"]).select(
            F.lit(e["version"]).cast("long").alias("version")
        )
        counts = s if counts is None else counts.unionByName(s)
    counts = counts.groupBy("version").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    meta = spark.createDataFrame(
        [(e["version"], e["commit_ms"], e["operation"]) for e in hist],
        "version long, commit_ms long, operation string",
    )
    return meta.join(counts, "version", "left").select(
        "version",
        "commit_ms",
        "operation",
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
    )
