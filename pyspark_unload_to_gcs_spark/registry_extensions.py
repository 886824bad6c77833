"""Extension-operator queries (SURVEY.md §2l): dedup, similarity search,
text analysis, multimodal — the LLM-training-data pipeline surface.

Approximate / hash-seeded operators (minhash, simhash, LSH similarity)
have no DuckDB-expressible oracle and register rows-only; exact variants
all carry oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.registry import _t, register
from pyspark_unload_to_gcs_spark.operators import dedup as D
from pyspark_unload_to_gcs_spark.operators import similarity as S
from pyspark_unload_to_gcs_spark.operators import text as T
from pyspark_unload_to_gcs_spark.operators.dedup import ensure_parallelism
from pyspark_unload_to_gcs_spark.session import session_memo


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with scan parallelism guaranteed: the per-row regex/
    tokenize expressions below are the expensive part, and the local
    fixture is one small file (one task). No-op at scale."""
    return ensure_parallelism(_t(spark, sf_dir, "documents"))


def _shared_fuzzy_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE side-tagged union signature frame per (session, sf_dir) for
    the fuzzy-join family (production b=8 query, r=1 exact query, and
    the r05 recall pin all re-band this instead of re-shingling the
    union per configuration — same sharing rationale as
    _shared_signatures)."""
    def build():
        docs = _t(spark, sf_dir, "documents")
        return D.fuzzy_union_signatures(
            docs.filter(F.col("doc_id") % 3 == 0),
            docs.filter(F.col("doc_id") % 3 != 0),
        )

    return session_memo(spark, ("fuzzy_sig", sf_dir), build)


def _shared_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE materialized ``minhash_signatures`` frame per (session,
    sf_dir). Every band configuration in the dedup family re-bands this
    cache instead of re-shingling the corpus (8-band standard pairs AND
    16-band high-recall ngram dedup) — the shingling is ~all the cost.
    Persist+count here IS the materialization barrier the signature
    frame's contract requires."""
    def build():
        sig = D.minhash_signatures(
            _t(spark, sf_dir, "documents"), "doc_id", "text"
        ).persist()
        sig.count()
        return sig

    return session_memo(spark, ("sig", sf_dir), build)


def _shared_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE exact >=0.8 pair frame per (session, sf_dir) — the r=1-banded
    + binomial-pre-filtered pair set shared by near_dedup_pairs_exact
    and near_dup_clusters_exact (same sharing rationale as
    _shared_minhash_pairs: share the OBJECT, not an equal plan)."""
    def build():
        return D.minhash_candidate_pairs(
            _t(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            bands=32,
            num_hashes=32,
            jaccard_threshold=0.8,
            signatures=_shared_signatures(spark, sf_dir),
            min_matching_bands=12,
        ).localCheckpoint(eager=True)

    return session_memo(spark, ("pairs_exact", sf_dir), build)


def _exact_pairs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact >=0.8 pair pipeline WITHOUT persist/localCheckpoint —
    signatures built inline, nothing materialized. Exists ONLY as the
    plan twin for the lint/digest screens (registry_pipeline.PLAN_TWINS):
    the shared memoized frame renders as 'Scan ExistingRDD'/
    'InMemoryTableScan', which would hide the whole minhash pipeline
    from the BatchEvalPython/CartesianProduct screens (review r12)."""
    return D.minhash_candidate_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bands=32,
        num_hashes=32,
        jaccard_threshold=0.8,
        signatures=D.minhash_signatures(
            _t(spark, sf_dir, "documents"), "doc_id", "text"
        ),
        min_matching_bands=12,
    )


def _shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE candidate-pairs DataFrame per (session, sf_dir), shared by the
    minhash family (survivors / pair list / clusters). Sharing the
    object — not just an equal plan — pins all consumers to the same
    persisted signature frame, so reuse cannot depend on Spark's plan-
    canonicalization cache lookup (observed to miss across a long
    session, recomputing the 4x-cost signature pipeline)."""
    def build():
        return D.minhash_candidate_pairs(
            _t(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            signatures=_shared_signatures(spark, sf_dir),
        )

    return session_memo(spark, ("pairs", sf_dir), build)

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

# DuckDB spellings of operators/text.py normalization (RE2 'g' flag needed;
# Spark regexp_replace is global by default)
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), "
    "'[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


@register(
    "text_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats grouped by language/source."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "token_count",
    oracle="""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
    FROM documents
    """,
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts per document (empty text -> 0)."""
    df = _docs(spark, sf_dir)
    return df.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over normalized text (exact-dup key)."""
    df = _docs(spark, sf_dir)
    return df.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


# Stopword-vote language guess as portable SQL (mirrors
# operators/text.py lang_id exactly). Shared by lang_id_heuristic and
# the staged langid_confusion row.
_LANGID_SQL = """
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS t
        FROM documents
    ), votes AS (
        SELECT doc_id,
            len(list_filter(t, x -> x IN ('der','die','und','das','von','den','ist','mit','des','ein'))) AS de_hits,
            len(list_filter(t, x -> x IN ('the','and','of','to','in','is','that','it','for','was'))) AS en_hits,
            len(list_filter(t, x -> x IN ('el','la','de','que','y','en','un','los','del','las'))) AS es_hits,
            len(list_filter(t, x -> x IN ('le','la','de','et','les','des','un','une','du','est'))) AS fr_hits
        FROM toks
    )
    SELECT doc_id,
           CASE
               WHEN greatest(de_hits, en_hits, es_hits, fr_hits) = 0 THEN 'und'
               WHEN de_hits >= en_hits AND de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
               WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
               WHEN es_hits >= fr_hits THEN 'es'
               ELSE 'fr'
           END AS lang_guess
    FROM votes
"""


@register("lang_id_heuristic", oracle=_LANGID_SQL)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (alphabetical tie-break)."""
    df = _docs(spark, sf_dir)
    return df.select("doc_id", T.lang_id(F.col("text")).alias("lang_guess"))


# Composite quality heuristic as portable SQL (mirrors operators/text.py
# quality_score exactly — bit-identical float arithmetic, proven by the
# quality_score hash match). Shared by quality_score and the composed
# training_corpus_pipeline oracle.
# Word-3-shingle sets per document in DuckDB — the SQL mirror of
# operators/dedup.py shingling (normalize -> tokenize -> distinct
# 3-grams; <3 tokens contribute the whole token string). Jaccard over
# these string sets equals the engine's Jaccard over 64-bit shingle
# hashes up to 2^-64 collision odds. Shared by the exact near-dedup
# oracles (near_dedup_pairs_exact, incremental_near_dedup,
# near_dup_clusters_exact).
_SHINGLE_CTE = rf"""
toks AS (
  SELECT doc_id,
         CASE WHEN {_NORM_SQL} = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array({_NORM_SQL}, '\s+') END AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
              WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) AS s
  FROM toks
)"""


_QUALITY_SQL = """(least(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END / 100.0, 1.0) * 0.4
     + CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) > 0
             AND length(trim(text)) * 1.0 / (CASE WHEN trim(text) = '' THEN 1
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) BETWEEN 3.0 AND 10.0
            THEN 1.0 ELSE 0.5 END * 0.3
     + (1.0 - least((length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')))
                    * 1.0 / CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END * 5.0, 1.0)) * 0.3
    )"""


@register(
    "quality_score",
    oracle=f"""
    SELECT doc_id, {_QUALITY_SQL} AS quality
    FROM documents
    """,
)
def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite text-quality heuristic (length/word-shape/punctuation)."""
    df = _docs(spark, sf_dir)
    return df.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@register(
    "exact_dedup",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on raw text; earliest doc_id survives."""
    return D.exact_dedup(_t(spark, sf_dir, "documents"), ["text"], "doc_id")


@register(
    "normalized_dedup",
    oracle=f"""
    SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY {_NORM_SQL} ORDER BY doc_id ASC) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def normalized_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on normalized text (case/punct/whitespace-insensitive)."""
    return D.exact_dedup(_t(spark, sf_dir, "documents"), ["text"], "doc_id", normalize=True)


@register("near_dedup_minhash")  # rows-only: xxhash64 seeds not SQL-portable
def near_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup survivors (Jaccard >= 0.8 on 3-shingles)."""
    return D.minhash_dedup(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        pairs=_shared_minhash_pairs(spark, sf_dir),
    ).select("doc_id", "lang", "source")


@register("near_dedup_pairs")  # rows-only
def near_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-duplicate pair list behind near_dedup_minhash."""
    pairs = _shared_minhash_pairs(spark, sf_dir)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard_r"))


@register(
    "near_dedup_pairs_exact",
    # Oracle computes ALL-PAIRS exact shingle Jaccard (fine oracle-side
    # at sf<=0.01: 500 docs -> 125k pairs of small string lists). The
    # Spark side stays bucketed: r=1 banding (bands=num_hashes=32) makes
    # a candidate of any pair sharing >=1 of 32 minhash slots — miss
    # probability for a J>=0.8 pair is (1-J)^32 <= 4e-23, i.e. the LSH
    # candidate set provably contains every qualifying pair, and the
    # exact-Jaccard verify then makes the output EXACTLY the >=0.8 pair
    # set. (This query is also the canary that caught the r<=3 minhash
    # mask bug: under a broken signature family the oracle shows an
    # impossible miss.) Jaccard over 64-bit shingle hashes equals
    # Jaccard over the string shingles themselves up to 2^-64 collision
    # odds, so the DuckDB side shingles strings directly.
    oracle=f"""
    WITH {_SHINGLE_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard_r
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
    """,
)
def near_dedup_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT >=0.8-Jaccard near-duplicate pair set, computed with
    the bucketed LSH machinery at an r=1 operating point (every band is
    a single minhash slot) — recall is 1 minus (1-J)^32, indistinguish-
    able from exact at the threshold, while the plan stays the scale
    shape (band-bucket join, never all-pairs). Re-bands the session's
    shared signature cache; the oracle brute-forces all pairs, which is
    only viable oracle-side at toy scale.

    SCALE CONTRACT (tools/scale_audit.py finding): r=1 banding is a
    VERIFICATION operating point, not a production one — a single-slot
    band key collides for unrelated pairs with P = J, so candidate
    enumeration grows ~quadratically as same-vocabulary corpus grows
    (measured x64 wall at 10x data). Production near-dedup is
    ``near_dedup_pairs``/``near_dedup_minhash`` (r=4: P = J^4) with
    banding scaled alongside the corpus; this query exists to pin the
    engine's output against a cross-engine exact oracle at fixture
    scale."""
    # binomial pre-filter inside: a J>=0.8 pair matches >=12 of 32
    # slots with P ~ 1-1e-9; moderate-J pairs (the r=1 candidate flood
    # — 269k pairs at sf0.1) are dropped before the array-carrying
    # verify join (-> 256 pairs, measured; same final output). The
    # materialized pair frame is shared with near_dup_clusters_exact.
    pairs = _shared_exact_pairs(spark, sf_dir)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard_r"))


@register("near_dedup_simhash")  # rows-only: Pandas-UDF bit arithmetic
def near_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dedup survivors (hamming <= 3 on 64-bit simhash)."""
    return D.simhash_dedup(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    ).select("doc_id", "lang", "source")


@register(
    "incremental_near_dedup",
    # Brute-force cross-join oracle over exact shingle Jaccard: viable
    # oracle-side at sf0.01 (100 x 400 pairs); the Spark side stays the
    # scale shape (band join against the persisted index).
    oracle=f"""
    WITH {_SHINGLE_CTE},
    newb AS (SELECT * FROM sh WHERE doc_id % 5 = 4),
    idx AS (SELECT * FROM sh WHERE doc_id % 5 != 4)
    SELECT n.doc_id AS new_id, i.doc_id AS index_id,
           round(CAST(len(list_intersect(n.s, i.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(n.s, i.s))), 4) AS jaccard_r
    FROM newb n JOIN idx i
      ON len(list_distinct(list_concat(n.s, i.s))) > 0
     AND CAST(len(list_intersect(n.s, i.s)) AS DOUBLE)
         / len(list_distinct(list_concat(n.s, i.s))) >= 0.7
    """,
)
def incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup (operators/dedup.py match_against_index):
    a deterministic 20% slice (doc_id % 5 == 4) plays the incoming
    batch, the other 80% the persisted signature index — the batch's
    signatures join the index's band keys without re-shingling index
    text. The 100 TB shape: index built once, increments cost only
    themselves. Runs at the r=1 operating point with the binomial
    band-count pre-filter (>=10 of 32 slots; a J>=0.7 pair misses with
    P ~ 1e-6), so the output is the exact >=0.7 cross-pair set and
    carries a full value oracle."""
    docs = _t(spark, sf_dir, "documents")
    # The index is the session's shared signature cache filtered to the
    # base corpus — already materialized (the barrier signature frames
    # require; in production it would arrive from parquet, the same
    # barrier), and shared with the rest of the dedup family.
    index = _shared_signatures(spark, sf_dir).filter(F.col("__id") % 5 != 4)
    new_batch = docs.filter(F.col("doc_id") % 5 == 4)
    out = D.match_against_index(
        new_batch, index, "doc_id", "text",
        bands=32, num_hashes=32, jaccard_threshold=0.7, min_matching_bands=10,
    )
    return out.select("new_id", "index_id", F.round("jaccard", 4).alias("jaccard_r"))


@register("near_dedup_ngram")  # rows-only
def near_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard dedup (exact Jaccard over LSH candidates,
    higher-recall 16-band re-banding of the session's shared signature
    cache — no second shingling pass)."""
    return D.ngram_jaccard_dedup(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        jaccard_threshold=0.7,
        signatures=_shared_signatures(spark, sf_dir),
    ).select("doc_id", "lang", "source")


@register(
    "chunk_dedup_clean",
    # Exact replay: same non-overlapping 10-token chunking, global
    # occurrence count, drop-if-repeated, in-order reassembly. DuckDB
    # counts chunk TEXT; Spark counts xxhash64(chunk) — equal up to a
    # 2^-64 collision (the standard shingle trade).
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents WHERE trim(text) != ''
    ), chunks AS (
      SELECT doc_id, i AS idx, array_to_string(t[i*10+1 : i*10+10], ' ') AS chunk
      FROM toks, unnest(range(0, CAST(ceil(len(t)/10.0) AS BIGINT))) AS u(i)
    ), counted AS (
      SELECT *, count(*) OVER (PARTITION BY chunk) AS c FROM chunks
    ), reb AS (
      SELECT doc_id, count(*) AS kept_chunks,
             string_agg(chunk, ' ' ORDER BY idx) AS clean_text
      FROM counted WHERE c <= 1 GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(r.kept_chunks, 0) AS BIGINT) AS kept_chunks,
           md5(COALESCE(r.clean_text, '')) AS clean_hash
    FROM toks t LEFT JOIN reb r USING (doc_id)
    """,
)
def chunk_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style repeated-span removal (operators/dedup.py
    chunk_dedup): any exact 10-token segment occurring more than once
    corpus-wide is cut from every document, survivors reassembled in
    order. The cleaning pass whole-doc and near-dup dedup both miss —
    boilerplate repeats across otherwise-distinct documents (127
    repeated segment texts / 278 occurrences in the sf0.01 fixture).
    Emitted as (doc_id, kept_chunks, md5(clean_text)) so the oracle
    value-checks the exact reassembled text of every document."""
    out = D.chunk_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select("doc_id", "kept_chunks", F.md5("clean_text").alias("clean_hash"))


@register(
    "train_test_split",
    oracle="""
    SELECT lang,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-prefix 80/20 split (operators/sampling.py) —
    stable under retries/engines/cluster sizes, unlike randomSplit.
    Rolled up per language to show split balance."""
    from pyspark_unload_to_gcs_spark.operators.sampling import deterministic_split

    out = deterministic_split(_t(spark, sf_dir, "documents"), "doc_id", train_fraction=0.8)
    return out.groupBy("lang", "split").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "balanced_corpus_sample",
    oracle="""
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC) AS rn
        FROM documents
    ) WHERE rn <= 40
    """,
)
def balanced_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-language sample: 40 docs per lang, picked by md5
    order (deterministic yet unbiased w.r.t. any natural column)."""
    from pyspark_unload_to_gcs_spark.operators.sampling import take_per_stratum

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.md5(F.col("doc_id").cast("string")).alias("__pick")
    )
    return take_per_stratum(docs, ["lang"], 40, order_column="__pick").drop("__pick")


@register(
    "weighted_source_mix",
    # thresholds = split_threshold_hex: 1.0->'g', 0.5->'8000',
    # 0.25->'4000', 0.1->'1999', default 0.05->'0ccc'
    oracle="""
    SELECT source, COUNT(*) AS n_docs
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 4) <
          CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '8000'
                      WHEN 'src2' THEN '4000' WHEN 'src3' THEN '1999'
                      ELSE '0ccc' END
    GROUP BY source
    """,
)
def weighted_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing (operators/sampling.py weighted_mix):
    per-source keep rates via md5(id:source)-prefix thresholds — the
    corpus-assembly primitive. Nested under rate sweeps (raising a rate
    only adds rows), no RNG, no shuffle; rolled up per source."""
    from pyspark_unload_to_gcs_spark.operators.sampling import weighted_mix

    out = weighted_mix(
        _t(spark, sf_dir, "documents"),
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        "doc_id",
        default_rate=0.05,
    )
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "unigram_logprob_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents WHERE trim(text) != ''
    ), vocab AS (
        SELECT term, COUNT(*) AS freq FROM toks GROUP BY term
    ), tot AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM toks
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(ROUND(ln(v.freq / tot.total), 6)
                         AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS avg_logprob
    FROM toks t JOIN vocab v USING (term) CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style LM quality score (operators/text.py
    ``unigram_logprob``): mean unigram log-probability per document
    under the corpus's own unigram distribution — the cheap quality
    filter for corpus curation. ln rounds to 6 then sums as exact
    DECIMAL so both engines agree bit-for-bit."""
    return T.unigram_logprob(_t(spark, sf_dir, "documents"))


@register(
    "temperature_mix_weights",
    oracle="""
    WITH s AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(ROUND(POW(CAST(COUNT(*) AS DOUBLE), 0.5), 6)
                    AS DECIMAL(28,12)) AS p
        FROM documents GROUP BY source
    )
    SELECT source, n_docs,
           CAST(ROUND(p / SUM(p) OVER (), 9) AS DOUBLE) AS weight
    FROM s
    """,
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source weights (operators/sampling.py
    ``temperature_weights``, alpha=0.5): n^alpha renormalization — the
    standard multilingual/multi-source corpus mixing curve. Powered
    counts round to 6 then accumulate as exact DECIMAL so the one
    DOUBLE cast is ulp-identical cross-engine."""
    from pyspark_unload_to_gcs_spark.operators.sampling import temperature_weights

    return temperature_weights(_t(spark, sf_dir, "documents"), "source", alpha=0.5)


@register(
    "length_bucketed_batches",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                    AS BIGINT) AS n_tokens
        FROM documents
    ), b AS (
        SELECT doc_id, n_tokens,
               CAST(CASE WHEN n_tokens >= 16 THEN 1 ELSE 0 END
                  + CASE WHEN n_tokens >= 64 THEN 1 ELSE 0 END
                  + CASE WHEN n_tokens >= 256 THEN 1 ELSE 0 END AS BIGINT) AS bucket
        FROM t
    )
    SELECT doc_id, n_tokens, bucket,
           CAST((ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 32
                AS BIGINT) AS batch_id
    FROM b
    """,
)
def length_bucketed_batches_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching (operators/text.py
    ``length_bucketed_batches``): similar-length docs batch together so
    padding cost is bucket-width, not corpus-max — the inference/training
    throughput trick. One shuffle (bucket window)."""
    return T.length_bucketed_batches(_t(spark, sf_dir, "documents"))


_TOKEN_BUDGET = 12000  # ~44% of sf0.01 corpus tokens, ~4.4% at sf0.1


@register(
    "token_budget_select",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                    AS BIGINT) AS n_tokens,
               round({_QUALITY_SQL}, 6) AS q
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY q DESC, doc_id ASC)
                    AS BIGINT) AS cum_tokens
        FROM scored WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, cum_tokens
    FROM ranked WHERE cum_tokens <= {_TOKEN_BUDGET}
    """,
)
def token_budget_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a fixed token budget with the best-quality documents
    (operators/sampling.py ``token_budget_select``): semantically a
    global quality-ordered running token total cut at the budget, but
    executed as per-quality-bucket offsets + a bucket-PARTITIONED
    window — the oracle's naive global ORDER BY window is exactly the
    single-partition plan the operator exists to avoid at 100 TB. The
    running total is integer (BIGINT) so the cumsum is fold-order-free;
    quality only ORDERS (round-to-6 both sides, ties by doc_id)."""
    from pyspark_unload_to_gcs_spark.operators.sampling import token_budget_select

    df = _docs(spark, sf_dir)
    scored = df.select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        T.quality_score(F.col("text")).alias("__quality"),
    ).filter(F.col("n_tokens") > 0)
    out = token_budget_select(
        scored,
        budget=_TOKEN_BUDGET,
        quality_column="__quality",
        token_column="n_tokens",
        id_column="doc_id",
    )
    return out.select("doc_id", "n_tokens", "cum_tokens")


@register(
    "k_anonymity_profile",
    # quasi = (lang, source, length-bucket): the length bucket keeps
    # combo cardinality growing with the corpus, so group sizes — and
    # therefore the k=3 flag — stay non-vacuous at BOTH the sf0.01
    # correctness scale and the sf0.1 bench scale (a coarse quasi set's
    # group sizes scale linearly with SF and trivialize one of them).
    oracle="""
    SELECT lang, source, CAST(n_chars // 50 AS BIGINT) AS nc_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           COUNT(*) < 3 AS at_risk
    FROM documents GROUP BY lang, source, nc_bucket
    """,
)
def k_anonymity_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification-risk audit (operators/privacy.py): group sizes
    of every (lang, source, length-bucket) quasi-identifier combination
    with the k=3 release-gate flag. One hash agg; |combos| output rows."""
    from pyspark_unload_to_gcs_spark.operators.privacy import k_anonymity_profile

    df = _docs(spark, sf_dir).withColumn("nc_bucket", F.expr("n_chars div 50"))
    return k_anonymity_profile(
        df.select("lang", "source", "nc_bucket"), ["lang", "source", "nc_bucket"], k=3
    )


@register(
    "k_anonymity_suppression",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang, source, CAST(n_chars // 50 AS BIGINT) AS nc_bucket
        FROM documents
    )
    SELECT d.doc_id, d.lang, d.source, d.nc_bucket
    FROM d
    WHERE NOT EXISTS (
        SELECT 1 FROM (
            SELECT lang, source, nc_bucket FROM d
            GROUP BY lang, source, nc_bucket HAVING COUNT(*) < 3
        ) bad
        WHERE d.lang = bad.lang AND d.source = bad.source
          AND d.nc_bucket = bad.nc_bucket
    )
    """,
)
def k_anonymity_suppression_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppression-based k-anonymization (operators/privacy.py): drop
    every document whose (lang, source, length-bucket) combination
    covers fewer than 3 rows. The violating-combo list is broadcast to
    an anti-join — the corpus is scanned once, never re-shuffled on the
    quasi key."""
    from pyspark_unload_to_gcs_spark.operators.privacy import k_anonymity_suppress

    df = _docs(spark, sf_dir).withColumn("nc_bucket", F.expr("n_chars div 50"))
    out = k_anonymity_suppress(df, ["lang", "source", "nc_bucket"], k=3)
    return out.select("doc_id", "lang", "source", "nc_bucket")


@register(
    "l_diversity_profile",
    oracle="""
    SELECT event_type,
           CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS hour_ms,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_sensitive,
           COUNT(DISTINCT user_id) < 5 AS at_risk
    FROM events GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def l_diversity_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (operators/privacy.py): per (event_type, hour)
    cell, how many distinct users carry it — a k-anonymous cell is
    still leaky when one user dominates it. Hour emitted as epoch-ms
    BIGINT (UTC session tz; lore #6)."""
    from pyspark_unload_to_gcs_spark.operators.privacy import l_diversity_profile

    ev = _t(spark, sf_dir, "events").withColumn(
        "hour_ms", F.unix_millis(F.date_trunc("hour", F.col("ts")))
    )
    return l_diversity_profile(
        ev.select("event_type", "hour_ms", "user_id"),
        ["event_type", "hour_ms"],
        "user_id",
        l=5,
    )


@register(
    "hot_users",
    oracle="""
    SELECT user_id, COUNT(*) AS n_rows,
           CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM events) AS fraction
    FROM events
    GROUP BY user_id
    HAVING CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM events) >= 0.002
    ORDER BY n_rows DESC, user_id ASC
    LIMIT 20
    """,
)
def hot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter probe (operators/skew.py skewed_keys): users holding
    >= 0.2% of all events, deterministic top-20 — the skew-mitigation
    planning input (which keys to salt or broadcast-isolate)."""
    from pyspark_unload_to_gcs_spark.operators.skew import skewed_keys

    return skewed_keys(_t(spark, sf_dir, "events"), "user_id", min_fraction=0.002, top=20)


@register(
    "constraint_profile_orders",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey) AS nulls__o_custkey,
           COUNT(DISTINCT o_orderkey) AS distinct__o_orderkey,
           COUNT(o_orderkey) AS present__o_orderkey,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min__o_totalprice,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max__o_totalprice
    FROM orders
    """,
)
def constraint_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality profile (operators/quality.py): null
    count, key uniqueness counters and value ranges from ONE
    aggregation — the batch-gate pattern that avoids a scan per rule."""
    from pyspark_unload_to_gcs_spark.operators.quality import Rules, constraint_profile

    return constraint_profile(
        _t(spark, sf_dir, "orders"),
        Rules(
            not_null=("o_custkey",),
            unique=("o_orderkey",),
            ranges={"o_totalprice": (0.0, 1e9)},
        ),
    )


@register("multimodal_embed_topk")  # rows-only: Pandas-UDF encoder, not SQL-expressible
def multimodal_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal retrieval: binary payloads -> deterministic
    fake encoder (mapInPandas, numpy-vectorized per Arrow batch) ->
    exact cosine top-k against the embedded corpus — the encoder stage
    plugging straight into the similarity stack."""
    from pyspark_unload_to_gcs_spark.operators.multimodal import attach_payload, embed_media
    from pyspark_unload_to_gcs_spark.operators.similarity import cosine_topk

    docs = attach_payload(_t(spark, sf_dir, "documents"), "text")
    embedded = embed_media(docs, dim=16, fake=True)
    query = [1.0] + [0.0] * 15
    return cosine_topk(
        embedded, query, k=25, id_column="doc_id", vec_column="embedding",
        ensure_parallel=False,
    )


@register(
    "vector_topk_quantized",
    # Replays the exact int8 quantize -> dequantize -> cosine arithmetic
    # in DuckDB list functions: per-vector scale = max|v|/127 (double),
    # stored as FLOAT; qvec_i = round(v_i/scale)::TINYINT; dequantized
    # element = (qvec_i::DOUBLE * scale_float)::FLOAT. Both engines
    # round-half-away-from-zero on doubles, and the float/double cast
    # chain is bit-identical, so the r03 "no_oracle by design" label was
    # too conservative — this is deterministic arithmetic end to end.
    oracle="""
    WITH src AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id != 0
    ), qz AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale_d
      FROM src
    ), deq AS (
      SELECT s.vec_id,
             CASE WHEN q.scale_d = 0.0 THEN list_transform(s.embedding, x -> CAST(0.0 AS DOUBLE))
                  ELSE list_transform(s.embedding,
                    x -> CAST(CAST(CAST(CAST(round(CAST(x AS DOUBLE) / q.scale_d) AS TINYINT) AS DOUBLE)
                              * CAST(CAST(q.scale_d AS FLOAT) AS DOUBLE) AS FLOAT) AS DOUBLE)) END AS emb
      FROM src s JOIN qz q USING (vec_id)
    ), qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(list_cosine_similarity(emb, qv.qv), 6) AS cosine_r
    FROM deq, qv
    ORDER BY list_cosine_similarity(emb, qv.qv) DESC, vec_id ASC
    LIMIT 10
    """,
)
def vector_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval over int8-quantized embeddings (similarity.py): 4x
    smaller vectors, exact cosine on the dequantized form — the
    storage-tier path for 100 TB corpora. Deterministic arithmetic, so
    it carries a full value oracle (see SQL above); recall vs the
    unquantized exact top-k is additionally asserted in tests."""
    from pyspark_unload_to_gcs_spark.operators.similarity import (
        cosine_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    deq = dequantize_embeddings(quantize_embeddings(emb))
    q = _query_vec(spark, sf_dir)
    out = cosine_topk(deq.filter(F.col("vec_id") != 0), q, k=10, ensure_parallel=False)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


@register(
    "training_corpus_pipeline",
    # thresholds: 1.0->'g', 0.25->'4000', default 0.5->'8000'
    oracle=f"""
    WITH q AS (
        SELECT * FROM documents WHERE {_QUALITY_SQL} >= 0.5
    ), d AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
            FROM q
        ) WHERE rn = 1
    ), m AS (
        SELECT * FROM d
        WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 4) <
              CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '4000' ELSE '8000' END
    ), tok AS (
        SELECT doc_id, doc_id % 4 AS shard,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
        FROM m
    ), pre AS (
        SELECT doc_id, shard, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS p
        FROM tok
    )
    SELECT shard, CAST(p // 256 AS BIGINT) AS bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM pre GROUP BY shard, bin_id
    """,
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composed pipeline: quality gate -> exact dedup ->
    weighted source mixing -> sequence packing -> per-bin stats. Every
    stage is the registered operator itself (text.quality_score,
    dedup.exact_dedup, sampling.weighted_mix, text.pack_documents), and
    the oracle replays the whole chain in SQL — proving the stages
    compose without semantic drift, not just pass in isolation. Plan
    shape: narrow filters -> one dedup shuffle -> narrow mix filter ->
    per-shard window -> final small agg; nothing quadratic, one wide
    exchange on text, one on shard."""
    from pyspark_unload_to_gcs_spark.operators.sampling import weighted_mix
    from pyspark_unload_to_gcs_spark.operators.text import pack_documents, quality_score

    docs = _t(spark, sf_dir, "documents")
    gated = docs.filter(quality_score(F.col("text")) >= 0.5)
    deduped = D.exact_dedup(gated, ["text"], "doc_id")
    mixed = weighted_mix(
        deduped, "source", {"src0": 1.0, "src1": 0.25}, "doc_id", default_rate=0.5
    )
    packed = pack_documents(mixed, token_budget=256, n_shards=4)
    return packed.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register("fuzzy_entity_join")  # rows-only: seeded minhash not SQL-portable
def fuzzy_entity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table entity resolution (operators/dedup.py
    fuzzy_text_join): near-matching documents across two disjoint
    fixture slices via banded MinHash LSH — blocking + verify, never
    |left| x |right|."""
    from pyspark_unload_to_gcs_spark.operators.dedup import fuzzy_text_join

    docs = _t(spark, sf_dir, "documents")
    return fuzzy_text_join(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        jaccard_threshold=0.8,
        signatures=_shared_fuzzy_signatures(spark, sf_dir),
    )


@register(
    "fuzzy_entity_join_exact",
    # Brute-force cross-side oracle (viable oracle-side at toy scale);
    # the Spark side is the same side-tagged LSH machinery at the r=1 +
    # binomial-pre-filter operating point, so its output is exactly the
    # >=0.8 cross-side pair set.
    oracle=f"""
    WITH {_SHINGLE_CTE}
    SELECT l.doc_id AS left_id, r.doc_id AS right_id,
           round(CAST(len(list_intersect(l.s, r.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(l.s, r.s))), 4) AS jaccard_r
    FROM sh l JOIN sh r
      ON l.doc_id % 3 = 0 AND r.doc_id % 3 != 0
     AND len(list_distinct(list_concat(l.s, r.s))) > 0
     AND CAST(len(list_intersect(l.s, r.s)) AS DOUBLE)
         / len(list_distinct(list_concat(l.s, r.s))) >= 0.8
    """,
)
def fuzzy_entity_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table entity resolution under a full value oracle: the
    exact >=0.8 cross-side pair set via r=1 banding with the binomial
    band-count pre-filter (see near_dedup_pairs_exact). Same plan shape
    as fuzzy_entity_join — blocking + verify, never |L| x |R| engine-
    side; the all-pairs join lives only in the DuckDB oracle. Same
    SCALE CONTRACT as near_dedup_pairs_exact: r=1 is the verification
    operating point (quadratic candidate growth on same-vocabulary
    corpora — x24 wall at 10x data); production fuzzy joins run the
    r=4 default of ``fuzzy_text_join``."""
    from pyspark_unload_to_gcs_spark.operators.dedup import fuzzy_text_join

    docs = _t(spark, sf_dir, "documents")
    out = fuzzy_text_join(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        jaccard_threshold=0.8,
        bands=32,
        num_hashes=32,
        min_matching_bands=12,
        signatures=_shared_fuzzy_signatures(spark, sf_dir),
    )
    return out.select("left_id", "right_id", F.round("jaccard", 4).alias("jaccard_r"))


@register(
    "tfidf_top_terms",
    oracle="""
    WITH pairs AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents WHERE trim(text) != ''
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
        ) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (operators/text.py) — classic feature extraction; both engines use
    the identical double-arithmetic formula so values hash-match."""
    from pyspark_unload_to_gcs_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), top_k=3)


_BM25_TERMS = ("scan", "window", "agg")


# BM25 CTE chain (to the per-doc fixed-order score) — shared by the
# bm25_search oracle and the hybrid_search_rrf oracle.
_BM25_CTES = """toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents WHERE trim(text) != ''
    ), lens AS (
        SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks
        UNION ALL
        SELECT doc_id, 0.0 AS dl FROM documents WHERE trim(text) = ''
    ), pairs AS (
        SELECT doc_id, unnest(t) AS term FROM toks
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM pairs
        WHERE term IN ('scan', 'window', 'agg') GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(dl) / COUNT(*) AS avgdl FROM lens
    ), contrib AS (
        SELECT tf.doc_id, tf.term,
               ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * (1.2 + 1.0))
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))) AS c
        FROM tf JOIN df USING (term) JOIN lens l ON l.doc_id = tf.doc_id
        CROSS JOIN stats s
    ), scored AS (
        SELECT doc_id,
               COALESCE(SUM(CASE WHEN term = 'scan' THEN c END), 0.0)
               + COALESCE(SUM(CASE WHEN term = 'window' THEN c END), 0.0)
               + COALESCE(SUM(CASE WHEN term = 'agg' THEN c END), 0.0) AS score
        FROM contrib GROUP BY doc_id
    )"""


@register(
    "bm25_search",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, round(score, 9) AS score_r FROM scored
    ORDER BY score_r DESC, doc_id ASC LIMIT 20
    """,
)
def bm25_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval for a fixed 3-term query. The per-document
    score adds the per-term contributions in a FIXED order (conditional
    sums over at most one row each, then s1+s2+s3) so float addition
    order — the one nondeterminism in the formula — is pinned on both
    engines; everything else is bit-identical double arithmetic."""
    return _bm25_top20(spark, sf_dir)


def _bm25_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score_r) top-20 by fixed-order BM25 — shared by
    bm25_search and the RRF hybrid-retrieval query."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens_col(F.col("text")).alias("__toks"))
    lens = toks.select("doc_id", F.size("__toks").cast("double").alias("dl"))
    pairs = toks.select("doc_id", F.explode("__toks").alias("term")).filter(
        F.col("term").isin(list(_BM25_TERMS))
    )
    tf = pairs.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_term = (F.col("tf") * (F.lit(1.2) + 1.0)) / (
        F.col("tf") + F.lit(1.2) * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
    )
    contrib = (
        tf.join(F.broadcast(docfreq), "term")
        .join(lens, "doc_id")
        .join(F.broadcast(stats))
        .withColumn("c", idf * tf_term)
    )
    parts = [
        F.coalesce(F.sum(F.when(F.col("term") == term, F.col("c"))), F.lit(0.0))
        for term in _BM25_TERMS
    ]
    score = parts[0] + parts[1] + parts[2]
    # scores round to 9 decimals before ranking: java Math.log and C libm
    # ln can disagree in the last ulp, which must not flip the top-k cut
    scored = contrib.groupBy("doc_id").agg(F.round(score, 9).alias("score_r"))
    return scored.orderBy(F.col("score_r").desc(), F.col("doc_id").asc()).limit(20)


@register(
    "hybrid_search_rrf",
    # Replays BOTH retrieval arms and the fusion: the shared BM25 CTE
    # chain, brute-force cosine top-20, rank assignment, and the
    # two-term fixed-order RRF sum. Rank arithmetic is integer; the two
    # 1/(60+r) terms are exact-rational doubles, so values hash-match.
    oracle=f"""
    WITH {_BM25_CTES},
    lex AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY score_r DESC, doc_id ASC) AS BIGINT)
                   AS rank_left
        FROM (SELECT doc_id, round(score, 9) AS score_r FROM scored
              ORDER BY score_r DESC, doc_id ASC LIMIT 20)
    ),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    vtop AS (
        SELECT vec_id AS doc_id,
               list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.qv) AS c
        FROM embeddings, qv WHERE vec_id != 0
        ORDER BY c DESC, doc_id ASC LIMIT 20
    ),
    vec AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY c DESC, doc_id ASC) AS BIGINT)
                   AS rank_right
        FROM vtop
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.rank_left, v.rank_right,
               COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + l.rank_left AS DOUBLE),
                        CAST(0.0 AS DOUBLE))
               + COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + v.rank_right AS DOUBLE),
                          CAST(0.0 AS DOUBLE)) AS rrf
        FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, rank_left, rank_right, round(rrf, 9) AS rrf_r
    FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-20 + brute-force cosine
    top-20 to the vec_id=0 query embedding, fused by Reciprocal Rank
    Fusion (operators/similarity.py ``rrf_fuse``) — the standard
    lexical+vector combination that needs no score calibration. Both
    rank windows run over constant-size (top-N) frames, so the
    single-partition window is bounded by N, not the corpus."""
    from pyspark.sql import Window

    lex = _bm25_top20(spark, sf_dir).withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("score_r").desc(), F.col("doc_id").asc())),
    )
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    vec = (
        S.cosine_topk(emb.filter(F.col("vec_id") != 0), q, k=20)
        .select(F.col("vec_id").alias("doc_id"), "cosine")
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
            ),
        )
    )
    out = S.rrf_fuse(lex, vec, id_column="doc_id", k=60, top_k=10)
    return out.select(
        "doc_id", "rank_left", "rank_right", F.round("rrf", 9).alias("rrf_r")
    )


@register("near_dup_clusters")  # rows-only: iterative CC (non-SQL-expressible)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-link duplicate clusters: MinHash-LSH pairs closed under
    transitivity by alternating-star connected components
    (operators/graph.py) — the iterative-algorithm path."""
    from pyspark_unload_to_gcs_spark.operators.graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = _shared_minhash_pairs(spark, sf_dir)
    return dedup_clusters(docs, pairs, id_column="doc_id").select("doc_id", "cluster_id")


# Single-link closure replayed in DuckDB: the exact >=0.8 pair set
# (all-pairs, viable oracle-side at toy scale) made symmetric, then a
# recursive-CTE transitive closure; cluster_id = min reachable id, own
# id when unpaired — mirroring operators/graph.py exactly. F-string-
# shared by near_dup_clusters_exact and the leakage-safe split oracle
# (registry_pipeline) so the closure can never desync between them.
_CLUSTERS_CTE = f"""RECURSIVE {_SHINGLE_CTE},
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
    clusters AS (
      SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
    )"""


@register(
    "near_dup_clusters_exact",
    # the iterative-algorithm path (previously rows-only "by design"
    # per the r01-r03 verdicts) is deterministic given an exact pair
    # set, so it CAN carry a value oracle (see _CLUSTERS_CTE above)
    oracle=f"""
    WITH {_CLUSTERS_CTE}
    SELECT doc_id, cluster_id FROM clusters
    """,
)
def near_dup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-link duplicate clusters over the EXACT >=0.8 pair set
    (r=1 banding + binomial pre-filter, see near_dedup_pairs_exact),
    closed under transitivity by the same alternating-star /
    union-find connected components as near_dup_clusters — the
    iterative path under a full value oracle."""
    from pyspark_unload_to_gcs_spark.operators.graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = _shared_exact_pairs(spark, sf_dir)
    return dedup_clusters(docs, pairs, id_column="doc_id").select("doc_id", "cluster_id")


@register(
    "clean_corpus_stats",
    oracle=f"""
    WITH scored AS (
        SELECT *,
            (least(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END / 100.0, 1.0) * 0.4
             + CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                               ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) > 0
                     AND length(trim(text)) * 1.0 / (CASE WHEN trim(text) = '' THEN 1
                               ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.5 END * 0.3
             + (1.0 - least((length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')))
                            * 1.0 / CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END * 5.0, 1.0)) * 0.3
            ) AS q
        FROM documents
    ), kept AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY {_NORM_SQL} ORDER BY doc_id ASC) AS rn
            FROM scored WHERE q >= 0.8
        ) WHERE rn = 1
    )
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS total_tokens
    FROM kept
    GROUP BY lang, source
    """,
)
def clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data pipeline: quality filter ->
    normalized dedup -> corpus stats. One narrow scoring map, one dedup
    shuffle (on the md5 of normalized text), one tiny agg shuffle."""
    docs = _t(spark, sf_dir, "documents")
    kept = docs.filter(T.quality_score(F.col("text")) >= 0.8)
    kept = D.exact_dedup(kept, ["text"], "doc_id", normalize=True)
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The query vector for similarity benchmarks: embedding of vec_id=0
    (a one-row lookup — a query *parameter*, not a data loop)."""
    row = (
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").first()
    )
    return [float(x) for x in row[0]]


@register(
    "vector_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6) AS cosine_r
    FROM embeddings, q
    WHERE vec_id != 0
    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) DESC, vec_id ASC
    LIMIT 10
    """,
)
def vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 to the vec_id=0 embedding.
    Double-precision left-fold dot product matches DuckDB's
    list_cosine_similarity on DOUBLE[] bit-exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    out = S.cosine_topk(emb.filter(F.col("vec_id") != 0), q, k=10)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


# ---------------------------------------------------------------------------
# ANN oracles: the LSH planes and IVF assignment are deterministic
# arithmetic (seeded LCG hyperplanes / smallest-id centroids), so the
# whole approximate pipeline replays in DuckDB — "approximate" means
# approximate w.r.t. the exact top-k, NOT nondeterministic. The r03
# verdict asked for recall-pinning oracles; a full value oracle is
# strictly stronger (any change in bucketing, probing or scoring turns
# the driver row red). Fold order is pinned on both sides: Spark's
# F.aggregate left fold == DuckDB list_reduce left fold (0.0+x1 == x1).
# The embedded plane literals assume the fixture's embedding dim (64) —
# tests/test_oracle_parity.py asserts the dim so a fixture change fails
# in pytest, not silently in the driver.
# ---------------------------------------------------------------------------

_EMB_DIM = 64
_DOT = "list_reduce(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]), (x, y) -> x + y)"
_SS = "list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y)"


def _plane_values_sql(dim: int = _EMB_DIM, n_planes: int = 8, seed: int = 42) -> str:
    """The Spark-side LCG hyperplanes as DuckDB VALUES literals —
    repr() round-trips doubles exactly, so both engines see identical
    plane coordinates."""
    planes = S._hyperplanes(dim, n_planes, seed)
    def lit(vec):
        return "[" + ",".join(repr(float(x)) for x in vec) + "]"
    return ",".join(f"({b}, {lit(p)}::DOUBLE[])" for b, p in enumerate(planes))


@register(
    "vector_topk_lsh",
    oracle=f"""
    WITH planes(b, p) AS (VALUES {_plane_values_sql()}),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    qbucket AS (
      SELECT CAST(SUM(CASE WHEN {_DOT.format(a='qv.qv', b='p.p')} >= 0 THEN 1 << p.b ELSE 0 END) AS BIGINT) AS qb
      FROM planes p, qv
    ),
    bucketed AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             CAST(SUM(CASE WHEN {_DOT.format(a="CAST(e.embedding AS DOUBLE[])", b='p.p')} >= 0 THEN 1 << p.b ELSE 0 END) AS BIGINT) AS bucket
      FROM embeddings e, planes p
      WHERE e.vec_id != 0
      GROUP BY e.vec_id, v
    )
    SELECT b.vec_id, round(list_cosine_similarity(b.v, qv.qv), 6) AS cosine_r
    FROM bucketed b, qv, qbucket
    WHERE bit_count(xor(b.bucket, qbucket.qb)) <= 1
    ORDER BY list_cosine_similarity(b.v, qv.qv) DESC, b.vec_id ASC
    LIMIT 10
    """,
)
def vector_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (random-hyperplane, multi-probe).
    The oracle replays the seeded hyperplanes, sign-bucketing and
    Hamming<=1 multi-probe in SQL, so bucket membership AND scores are
    value-checked — a recall regression in the LSH path turns the
    driver row red instead of hiding behind a rows-only check."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    out = S.lsh_bucketed_topk(emb.filter(F.col("vec_id") != 0), q, k=10)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


@register(
    "vector_topk_ivf",
    oracle=f"""
    WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS cell, CAST(embedding AS DOUBLE[]) AS c
      FROM embeddings WHERE vec_id != 0 ORDER BY vec_id ASC LIMIT 16
    ), centn AS (
      SELECT cell, c,
             CASE WHEN sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)) = 0
                  THEN 1.0
                  ELSE sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)) END AS n
      FROM cent
    ), centu AS (
      SELECT cell, c, n, list_transform(c, x -> x / n) AS u FROM centn
    ),
    probes AS (
      SELECT cell FROM centu, qv
      ORDER BY list_reduce(list_transform(list_zip(qv.qv, c), z -> z[1] * z[2] / n), (x, y) -> x + y) DESC,
               cell ASC
      LIMIT 4
    ),
    assigned AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, cu.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_DOT.format(a="CAST(e.embedding AS DOUBLE[])", b="cu.u")} DESC, cu.cell DESC
               ) AS rn
        FROM embeddings e, centu cu
        WHERE e.vec_id != 0
      ) WHERE rn = 1
    )
    SELECT a.vec_id, round(list_cosine_similarity(a.v, qv.qv), 6) AS cosine_r
    FROM assigned a JOIN probes p USING (cell), qv
    ORDER BY list_cosine_similarity(a.v, qv.qv) DESC, a.vec_id ASC
    LIMIT 10
    """,
)
def vector_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: coarse-quantizer cells, probe the 4
    nearest of 16 — the partition-pruning layout for 100 TB vector
    search (see operators/similarity.py ivf_topk). The oracle replays
    centroid selection (16 smallest-id vectors), unit normalization,
    argmax cell assignment (ties to the larger cell, matching Spark's
    struct array_max) and 4-probe selection in SQL — value-checked end
    to end."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    out = S.ivf_topk(emb.filter(F.col("vec_id") != 0), q, k=10)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine_r"))


@register(
    "bpe_ish_token_count",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '(\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s])')) AS n_pieces
    FROM documents
    """,
)
def bpe_ish_token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish piece counts (letters-run | digits-run | single
    punctuation) — the cheap BPE token-count proxy."""
    df = _docs(spark, sf_dir)
    return df.select("doc_id", T.bpe_ish_token_count(F.col("text")).alias("n_pieces"))


@register(
    "embedding_near_dedup",
    # Full replay: planted duplicates unioned in SQL, the seeded sign-
    # LSH bucketing from plane literals, and Spark's exact cosine
    # formula (dot / (sqrt(ss_a) * sqrt(ss_b)), fold-order-pinned).
    # A recall collapse in the bucketed path returns 550 rows and turns
    # this red; the r01-r03 vacuous version could not fail.
    oracle=f"""
    WITH planes(b, p) AS (VALUES {_plane_values_sql()}),
    uni AS (
      SELECT vec_id, label, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, label, embedding
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM uni),
    bucketed AS (
      SELECT v.vec_id, v.v,
             CAST(SUM(CASE WHEN {_DOT.format(a='v.v', b='p.p')} >= 0 THEN 1 << p.b ELSE 0 END) AS BIGINT) AS bucket
      FROM v, planes p GROUP BY v.vec_id, v.v
    ),
    losers AS (
      SELECT DISTINCT b2.vec_id
      FROM bucketed b1 JOIN bucketed b2 ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
      WHERE {_SS.format(a='b1.v')} > 0 AND {_SS.format(a='b2.v')} > 0
        AND {_DOT.format(a='b1.v', b='b2.v')}
            / (sqrt({_SS.format(a='b1.v')}) * sqrt({_SS.format(a='b2.v')})) >= 0.95
    )
    SELECT vec_id, label FROM uni WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    """,
)
def embedding_near_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dedup (cosine >= 0.95 to an earlier
    vector). The raw fixture contains NO cosine>=0.8 pair (max 0.51 —
    the r01-r03 registration was a vacuous no-op), so every 10th vector
    is planted back as an exact duplicate under vec_id+10000: the
    operator must drop exactly the 10% planted copies (identical
    vectors share every LSH bucket deterministically), and the oracle
    replays buckets + cosine in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(_query_vec(spark, sf_dir))
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "label", "embedding"
    )
    uni = emb.select("vec_id", "label", "embedding").unionByName(planted)
    return S.embedding_near_dedup(uni, dim=dim).select("vec_id", "label")


@register(
    "semantic_dedup",
    # Full replay of the SemDeDup pipeline: planted exact (+10000) and
    # elementwise-perturbed (+20000, x + 0.001) duplicates unioned in
    # SQL, the 16-smallest-id coarse quantizer, unit-normalized argmax
    # cell assignment (ties -> larger cell, matching Spark's struct
    # array_max), and exact fold-order-pinned cosine within a cell.
    # Any change in clustering, assignment or scoring turns this red.
    oracle=f"""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    uni AS (
        SELECT vec_id, label, v FROM base
        UNION ALL
        SELECT vec_id + 10000 AS vec_id, label, v FROM base WHERE vec_id % 10 = 0
        UNION ALL
        SELECT vec_id + 20000 AS vec_id, label,
               list_transform(v, x -> x + CAST(0.001 AS DOUBLE)) AS v
        FROM base WHERE vec_id % 7 = 0
    ),
    cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS cell, v AS c
        FROM uni ORDER BY vec_id ASC LIMIT 16
    ), centn AS (
        SELECT cell, c,
               CASE WHEN sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)) = 0
                    THEN 1.0
                    ELSE sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)) END AS n
        FROM cent
    ), centu AS (
        SELECT cell, list_transform(c, x -> x / n) AS u FROM centn
    ),
    assigned AS (
        SELECT vec_id, v, cell FROM (
            SELECT un.vec_id, un.v, cu.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY un.vec_id
                       ORDER BY {_DOT.format(a="un.v", b="cu.u")} DESC, cu.cell DESC
                   ) AS rn
            FROM uni un, centu cu
        ) WHERE rn = 1
    ),
    losers AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {_SS.format(a='a.v')} > 0 AND {_SS.format(a='b.v')} > 0
          AND {_DOT.format(a='a.v', b='b.v')}
              / (sqrt({_SS.format(a='a.v')}) * sqrt({_SS.format(a='b.v')})) >= 0.95
    )
    SELECT vec_id, label FROM uni WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    """,
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.py
    ``semantic_cluster_dedup``): coarse k-means cells as candidate
    blocks instead of sign-LSH buckets — the learned-density
    counterpart to ``embedding_near_dedup``. Every 10th vector is
    planted back as an exact duplicate (vec_id+10000, cosine 1.0 —
    identical vectors deterministically share a cell, so recall on
    them is structural) and every 7th as an elementwise +0.001
    perturbation (vec_id+20000, cosine ~0.9999 — may straddle a cell
    boundary, in which case BOTH engines keep it, deterministically).

    Benches the ARROW assignment arm like its auto-k sibling (VERDICT
    r08 #3 precedent; 1.8 -> 1.1 s warm at sf0.1); fold stays the
    oracle-derivation twin, pinned output-equal in
    tests/test_asof.py::test_semantic_dedup_fixed_k_arrow_matches_fold."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    exact = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "label", "embedding"
    )
    pert = base.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        "label",
        F.transform("embedding", lambda x: x + F.lit(0.001)).alias("embedding"),
    )
    uni = base.unionByName(exact).unionByName(pert)
    out = S.semantic_cluster_dedup(
        uni, n_centroids=16, cosine_threshold=0.95, assign_method="arrow"
    )
    return out.select("vec_id", "label")


@register(
    "incremental_semantic_match",
    # The incremental (index) shape of the SemDeDup path, fully
    # replayed: centroids from the corpus, assignment of BOTH the index
    # and the re-keyed batch, cell equality join, exact cosine. The
    # batch is every 4th vector re-keyed +50000, so each row has an
    # identical twin in the index (same per-centroid scores -> same
    # cell, structurally) and the raw fixture contributes no other
    # >=0.95 pair.
    oracle=f"""
    WITH idx AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    newb AS (
        SELECT vec_id + 50000 AS vec_id, v FROM idx WHERE vec_id % 4 = 0
    ),
    cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS cell, v AS c
        FROM idx ORDER BY vec_id ASC LIMIT 16
    ), centn AS (
        SELECT cell, c,
               CASE WHEN sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)) = 0
                    THEN 1.0
                    ELSE sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)) END AS n
        FROM cent
    ), centu AS (
        SELECT cell, list_transform(c, x -> x / n) AS u FROM centn
    ),
    idx_assigned AS (
        SELECT vec_id, v, cell FROM (
            SELECT i.vec_id, i.v, cu.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY i.vec_id
                       ORDER BY {_DOT.format(a="i.v", b="cu.u")} DESC, cu.cell DESC
                   ) AS rn
            FROM idx i, centu cu
        ) WHERE rn = 1
    ),
    new_assigned AS (
        SELECT vec_id, v, cell FROM (
            SELECT nb.vec_id, nb.v, cu.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY nb.vec_id
                       ORDER BY {_DOT.format(a="nb.v", b="cu.u")} DESC, cu.cell DESC
                   ) AS rn
            FROM newb nb, centu cu
        ) WHERE rn = 1
    )
    SELECT n.vec_id AS new_id, i.vec_id AS index_id,
           round({_DOT.format(a='n.v', b='i.v')}
                 / (sqrt({_SS.format(a='n.v')}) * sqrt({_SS.format(a='i.v')})), 6)
               AS cosine_r
    FROM new_assigned n JOIN idx_assigned i ON n.cell = i.cell
    WHERE n.vec_id != i.vec_id
      AND {_SS.format(a='n.v')} > 0 AND {_SS.format(a='i.v')} > 0
      AND {_DOT.format(a='n.v', b='i.v')}
          / (sqrt({_SS.format(a='n.v')}) * sqrt({_SS.format(a='i.v')})) >= 0.95
    """,
)
def incremental_semantic_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup against a cell-assigned index
    (operators/similarity.py ``semantic_match_against_index``): the
    corpus is assigned to quantizer cells once (the persisted,
    cell-partitioned index); the batch — every 4th vector re-keyed
    +50000 — runs the k-dot-fold assignment over itself only and
    equality-joins the index on the cell id. Streaming twin:
    tests/test_streaming.py (foreachBatch over micro-batches equals
    this one-shot match).

    Keeps the FOLD pair-verify arm after measurement (opt r16, VERDICT
    r15 #6 explored): an Arrow pair-verify arm was built
    (`_pair_dot_arrow`, bit-identical by IEEE determinism, pinned in
    tests/test_asof.py::test_semantic_match_arrow_verify_matches_fold)
    but measured SLOWER here — isolated quiet A/B min 1.49 s (fold) vs
    1.97 s (arrow) — because this row's candidate volume (~63k pairs x
    64 dims) is far below where the JVM->Python boundary amortizes;
    the codegen'd fold is ~4M fused multiply-adds. The arrow arm stays
    available via ``verify_method`` for index scales where pair volume
    dominates (the assignment-arm precedent at high k)."""
    return _incremental_semantic_match_frame(spark, sf_dir, checkpoint=True)


def _incremental_semantic_match_frame(
    spark: SparkSession, sf_dir: str, *, checkpoint: bool, verify_method: str = "fold"
) -> DataFrame:
    """checkpoint=False is the PLAN TWIN arm
    (registry_pipeline.PLAN_TWINS): the eager index checkpoint renders as
    'Scan ExistingRDD' and would hide the ivf_assign pipeline from the
    plan screens (review r12); the registered query keeps
    checkpoint=True (three consumers of the index frame in one plan)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = S.ivf_centroids_from_sample(emb, n_centroids=16)
    index = S.ivf_assign(emb, cents)
    if checkpoint:
        index = index.localCheckpoint(eager=True)
    new = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 50000).alias("vec_id"), "embedding"
    )
    out = S.semantic_match_against_index(
        new, index, cents, cosine_threshold=0.95, verify_method=verify_method
    )
    return out.select("new_id", "index_id", F.round("cosine", 6).alias("cosine_r"))


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@register(
    "multimodal_meta",
    oracle="""
    SELECT 'image' AS media_type,
           COUNT(*) AS n,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           MAX(octet_length(encode(text))) AS max_bytes
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata plumbing: attach payload from
    text bytes, roll up metadata only (payload column pruned from scan)."""
    from pyspark_unload_to_gcs_spark.operators.multimodal import attach_payload, media_stats

    return media_stats(attach_payload(_t(spark, sf_dir, "documents"), "text"))


@register("multimodal_decode")  # rows-only: blake2b digest not in DuckDB
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode pipeline with the deterministic fake decoder
    (real decode is stubbed — no media libs in this environment)."""
    from pyspark_unload_to_gcs_spark.operators.multimodal import attach_payload, decode_media

    docs = attach_payload(_t(spark, sf_dir, "documents"), "text")
    return decode_media(docs, fake=True)


@register(
    "multimodal_decode_stats",
    # Everything the fake decoder emits except the blake2b digest is
    # pure arithmetic over the payload byte length (payload = UTF-8
    # encoding of text), so the mapInPandas decode pipeline's output is
    # value-checkable in DuckDB minus that one column (the digest
    # algorithm itself is covered by deterministic unit tests).
    oracle="""
    SELECT doc_id, 'image' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 1024 AS INTEGER) AS width,
           CAST(octet_length(encode(text)) // 1024 AS INTEGER) AS height
    FROM documents
    """,
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same mapInPandas decode pipeline as ``multimodal_decode``,
    projected to its arithmetic outputs (byte length and derived
    dimensions) so the Arrow-batch plumbing runs under a real value
    oracle instead of a rows-only check."""
    from pyspark_unload_to_gcs_spark.operators.multimodal import attach_payload, decode_media

    docs = attach_payload(_t(spark, sf_dir, "documents"), "text")
    return decode_media(docs, fake=True).select(
        "doc_id", "media_type", "n_bytes", "width", "height"
    )


# ---------------------------------------------------------------------------
# BPE pair statistics + iterative graph rank (round-4 third sitting)
# ---------------------------------------------------------------------------


@register(
    "bpe_pair_stats",
    oracle="""
    WITH toks AS (
        SELECT list_filter(
                   regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                   x -> x != ''
               ) AS l
        FROM documents
    ), pairs AS (
        SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        FROM toks WHERE len(l) >= 2
    )
    SELECT z[1] AS a, z[2] AS b, COUNT(*) AS pair_count
    FROM pairs
    GROUP BY 1, 2
    ORDER BY pair_count DESC, a, b
    LIMIT 30
    """,
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration statistic: adjacent token-pair counts,
    top 30 by (count DESC, a, b) — the exact ranking a byte-pair-
    encoding trainer consumes each merge round. Tokenization is the
    lowercase alphanumeric split (identical regex semantics in Java and
    DuckDB's RE2 for this class); pair extraction is builtin slice +
    zip_with (operators/text.py ``adjacent_pairs``), so the hot path is
    whole-stage-codegen'd with one hash aggregate and a
    TakeOrderedAndProject top-k — no global sort, no UDF. At 100 TB the
    explode output is the corpus token count, but partial aggregation
    collapses it map-side to the distinct-pair vocabulary. The token
    array is MATERIALIZED in its own projection before adjacent_pairs
    (ADVICE r04): the pair expression references its input several
    times (size/slice/zip_with), so an inline tokenize would be
    re-evaluated per reference — same staging contract as
    word_ngrams_from_tokens."""
    staged = _docs(spark, sf_dir).select(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda x: x != "",
        ).alias("toks")
    )
    pairs = staged.select(F.explode(T.adjacent_pairs(F.col("toks"))).alias("p")).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.desc("pair_count"), "a", "b")
        .limit(30)
    )


def _pagerank_oracle(iterations: int = 5, damping_pct: int = 85, scale: int = 10**9) -> str:
    """Unrolled-CTE replay of the integer PageRank recurrence — one CTE
    per iteration, exact BIGINT arithmetic (// floor division on
    positive operands == Spark ``div``), so the oracle is bit-exact.
    HUGEINT intermediates (SUM / the damped product) are cast back to
    BIGINT per lore #8."""
    teleport = (100 - damping_pct) * scale // 100
    parts = [
        f"""
    WITH edges AS (
        SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR) AS src,
                        'c:' || CAST(o_custkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), outdeg AS (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), r0 AS (
        SELECT node, CAST({scale} AS BIGINT) AS pr FROM nodes
    )"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", r{i} AS (
        SELECT n.node,
               CAST({teleport} + ({damping_pct} * COALESCE(i.inflow, 0)) // 100 AS BIGINT)
                   AS pr
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(r.pr // o.outdeg) AS inflow
            FROM edges e
            JOIN outdeg o ON e.src = o.src
            JOIN r{i - 1} r ON r.node = e.src
            GROUP BY e.dst
        ) i ON n.node = i.node
    )"""
        )
    parts.append(
        f"""
    SELECT node, pr FROM r{iterations}
    ORDER BY pr DESC, node
    LIMIT 20"""
    )
    return "".join(parts)


@register("pagerank_ship_graph", oracle=_pagerank_oracle())
def pagerank_ship_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-iteration PageRank over the supplier->customer shipping
    graph (distinct (l_suppkey, o_custkey) edges via the orders join) —
    the iterative-DataFrame-algorithm pattern under a full value oracle:
    operators/graph.py ``pagerank`` runs 5 rounds of exact BIGINT
    arithmetic (rank div outdeg in-flows, damped + teleport), which the
    oracle replays as 5 unrolled CTEs bit-for-bit. Top 20 nodes by
    (rank DESC, node). Customers are dangling sinks — the leaky
    formulation is intentional and documented on the operator."""
    from pyspark_unload_to_gcs_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Node ids stay LONG through the whole iteration (suppliers >= 0,
    # customers bijectively negative): the distinct / out-degree /
    # per-iteration joins then shuffle 8-byte keys instead of strings
    # (the edge build dominated the query at ~3 s of 4 warm). Only the
    # final top-20 rows are rendered to the oracle's string ids.
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (-F.col("o_custkey") - 1).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(edges)
    node_str = F.when(
        F.col("node") < 0, F.concat(F.lit("c:"), (-F.col("node") - 1).cast("string"))
    ).otherwise(F.concat(F.lit("s:"), F.col("node").cast("string")))
    return (
        ranks.select(node_str.alias("node"), F.col("rank").alias("pr"))
        .orderBy(F.desc("pr"), "node")
        .limit(20)
    )
