"""Publication-backed corpus quality filters, as builtin expressions.

Two standard pretraining-data gates, re-expressed as pure
`pyspark.sql.functions` column logic (JVM-side, codegen-able,
SQL-portable for a DuckDB oracle — every rule is arithmetic over
split/regexp counts):

- Gopher rules (Rae et al. 2021, "Scaling Language Models: ...Gopher",
  arXiv 2112.11446, Table A1): document-level word-count / word-shape /
  bullet / ellipsis / stopword gates.
- C4 cleaning (Raffel et al. 2020, "Exploring the Limits of Transfer
  Learning...", arXiv 1910.10683 §2.2): line-level keep rules plus
  page-level discard rules.

Both are designed for 100 TB corpora: one narrow map per document, no
shuffle, no Python. Registry queries for these are staged for the next
driver-window rotation (the current first-50 window is fully occupied
by never-checked queries — see NOTES.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.text import tokens_col

# --------------------------------------------------------------------------
# Gopher document-level rules
# --------------------------------------------------------------------------

_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _lines(text: Column) -> Column:
    return F.filter(F.split(text, r"\n"), lambda ln: F.trim(ln) != "")


def gopher_quality_flags(
    text: Column,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """Struct of per-rule booleans + ``passes`` (AND of all), following
    the Gopher quality heuristics (arXiv 2112.11446 Table A1; the
    fractions are the paper's: <90% bullet lines means at most 90% of
    lines START with a bullet, <=30% may END with an ellipsis, >=80%
    of words must contain an alphabetic character, and at least 2 of
    the 8 canonical English stopwords must occur)."""
    words = tokens_col(text)
    n_words = F.size(words)
    n_chars_in_words = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_word = F.when(
        n_words > 0, n_chars_in_words.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    # hash/ellipsis symbols per word (the paper's symbol-to-word ratio):
    # '#' and '…' count per character, an ASCII "..." counts once
    n_symbols = (
        F.length(text)
        - F.length(F.regexp_replace(text, r"[#…]", ""))
        + F.size(_split_all(text, r"\.\.\."))
    )
    lines = _lines(text)
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^([•‣◦\-\*])"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"))
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike(r"\p{L}")))
    # stopword presence as exact tokens of the punctuation-stripped,
    # lowercased text (normalize_text semantics, inline to stay a pure
    # column function)
    ntoks = F.split(
        F.trim(F.regexp_replace(F.regexp_replace(F.lower(text), r"[^\p{L}\p{N}\s]", " "), r"\s+", " ")),
        " ",
    )
    # array_intersect, not a HOF filter: a lambda body referencing ntoks
    # would re-evaluate the regexp pipeline per stopword (no CSE across
    # lambda scopes)
    stop_hits = F.size(
        F.array_intersect(ntoks, F.array(*[F.lit(w) for w in _REQUIRED_STOPWORDS]))
    )
    word_count_ok = (n_words >= min_words) & (n_words <= max_words)
    mean_word_ok = (mean_word >= min_mean_word_len) & (mean_word <= max_mean_word_len)
    symbol_ok = F.when(n_words > 0, n_symbols.cast("double") / n_words <= max_symbol_word_ratio).otherwise(F.lit(False))
    bullet_ok = F.when(n_lines > 0, bullet_lines.cast("double") / n_lines <= max_bullet_line_frac).otherwise(F.lit(True))
    ellipsis_ok = F.when(n_lines > 0, ellipsis_lines.cast("double") / n_lines <= max_ellipsis_line_frac).otherwise(F.lit(True))
    alpha_ok = F.when(n_words > 0, alpha_words.cast("double") / n_words >= min_alpha_word_frac).otherwise(F.lit(False))
    stopword_ok = stop_hits >= min_stopword_hits
    passes = (
        word_count_ok & mean_word_ok & symbol_ok & bullet_ok
        & ellipsis_ok & alpha_ok & stopword_ok
    )
    return F.struct(
        word_count_ok.alias("word_count_ok"),
        mean_word_ok.alias("mean_word_ok"),
        symbol_ok.alias("symbol_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stopword_ok.alias("stopword_ok"),
        passes.alias("passes"),
    )


def _split_all(text: Column, pattern: str) -> Column:
    """Occurrences of ``pattern`` as an array (split produces n+1 parts
    for n matches; drop the first so size == match count)."""
    return F.slice(F.split(text, pattern), 2, 2_147_483_646)


def gopher_filter(df: DataFrame, text_column: str = "text", **thresholds) -> DataFrame:
    """Rows passing every Gopher rule (one narrow map, no shuffle)."""
    flags = gopher_quality_flags(F.col(text_column), **thresholds)
    return df.filter(flags["passes"])


# --------------------------------------------------------------------------
# C4 line + page rules
# --------------------------------------------------------------------------


def c4_clean(
    df: DataFrame,
    text_column: str = "text",
    *,
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 cleaning (arXiv 1910.10683 §2.2) as one narrow map:

    line level — keep lines that end in terminal punctuation, have at
    least ``min_words_per_line`` words, and don't mention javascript;
    page level — drop pages with fewer than ``min_kept_lines`` kept
    lines, any "lorem ipsum", or a curly brace.

    Returns the frame filtered to surviving pages, with ``text``
    replaced by the kept lines re-joined and ``c4_lines_kept`` /
    ``c4_lines_total`` stats columns."""
    text = F.col(text_column)
    lines = _lines(text)
    kept = F.filter(
        lines,
        lambda ln: F.trim(ln).rlike(r"[.!?\"']$")
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_words_per_line)
        & ~F.lower(ln).contains("javascript"),
    )
    low = F.lower(text)
    # page_ok references the staged __kept COLUMN, not the `kept`
    # expression — embedding the expression would re-run the per-line
    # rlike/split pipeline a second time per row
    page_ok = (
        (F.size(F.col("__kept")) >= min_kept_lines)
        & ~low.contains("lorem ipsum")
        & ~text.contains("{")
    )
    return (
        df.withColumn("__kept", kept)
        .withColumn("c4_lines_total", F.size(lines))
        .filter(page_ok)
        .withColumn("c4_lines_kept", F.size(F.col("__kept")))
        .withColumn(text_column, F.concat_ws("\n", F.col("__kept")))
        .drop("__kept")
    )


# --------------------------------------------------------------------------
# Gopher repetition rules
# --------------------------------------------------------------------------

# (n-gram size -> max allowed fraction), Rae et al. 2021 Table A1
TOP_NGRAM_LIMITS = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_LIMITS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
MAX_DUP_LINE_FRAC = 0.30
MAX_DUP_LINE_CHAR_FRAC = 0.20


def gopher_repetition_profile(
    df: DataFrame,
    id_column: str = "doc_id",
    text_column: str = "text",
    *,
    method: str = "fold",
) -> DataFrame:
    """Per-document Gopher repetition signals (arXiv 2112.11446 Table
    A1) + ``repetition_ok`` under the paper's thresholds:

    - ``dup_line_frac`` / ``dup_line_char_frac``: lines (and their
      characters) that repeat an earlier identical line — computed
      array-side (lines per doc are few; O(lines^2) stays tiny).
    - ``top_{2,3,4}gram_char_frac``: characters of the single most
      frequent word n-gram (count x gram length) over the document's
      trimmed length; ties broken by (count, length, gram) descending.
    - ``dup_{5..10}gram_char_frac``: characters covered by n-grams
      occurring more than once (count x length summed — the standard
      overlap-ignoring approximation), clamped to 1.

    Scale shape: ZERO shuffle. A document's gram multiset lives
    entirely in its own row, so the per-(doc, n) stats are
    computed ARRAY-SIDE: window identities come from a ROLLING hash
    chained across gram sizes — ``H_n[i] = rot13(H_{n-1}[i]) XOR
    th[i+n-1]`` over per-token xxhash64s, with window char lengths
    chained the same way (``S_n[i] = S_{n-1}[i] + tl[i+n-1]``), each
    level one ``zip_with`` of two sliced arrays, O(g) per n with no
    per-window slice+fold. The (hash, length) window array is then
    sorted, run boundaries are found with O(1) neighbor compares over
    the STAGED sorted array, the top run comes from native
    ``array_max``, and the only interpreted fold runs over the few
    REPEATED runs (dup-char sum). The previous shape (flatten-explode
    of all nine gram sizes -> corpus-wide groupBy((id, n, gram)) ->
    pivot -> join-back) shuffled ~9x the corpus token count; this is a
    single narrow projection chain — embarrassingly parallel, shuffle
    bytes zero (measured 8.3 -> ~4 s at sf0.1, and x1.8 at x10 data
    in the scale audit).

    Output-equivalence of hashing gram identity: every consumer uses
    the top gram only as ``count x length`` (ties on (c, l) have equal
    products — the (c, l, gram) tie-break can change which gram wins,
    never the winning product) and dup chars as ``sum(c x l | c > 1)``,
    so the 64-bit window hash is exact up to in-document collision odds
    ~g^2/2^64 — the same trade the minhash shingles make. (Rotation
    distances 13k mod 64 are distinct for the k < 10 positions in
    play, so permuted windows don't collide structurally.)

    ``method``:
    - ``"fold"`` (default): the builtin zip_with/array_sort/fold chain
      described above — cross-engine replayable, every expression
      JVM-side.
    - ``"arrow"``: one ``mapInPandas`` pass running the numpy run-count
      core (``repetition_profile_pandas``) — same output values
      bit-for-bit (integer run counts, one final double division;
      equivalence pinned at fixture scale AND by a hypothesis property
      test), measured ~2x the whole query at sf0.1 because the fold
      path is per-element interpreted-lambda bound. Same narrow
      zero-shuffle plan shape (MapInPandas instead of Project).
      The registered bench query runs this path; the oracle stays valid
      because the outputs are identical."""
    if method not in ("fold", "arrow"):
        raise ValueError(
            f"gopher_repetition_profile: unknown method {method!r} "
            "(expected 'fold' or 'arrow')"
        )
    if method == "arrow":
        from pyspark_unload_to_gcs_spark.operators.dedup import ensure_parallelism

        id_type = df.schema[id_column].dataType.simpleString()
        schema = ", ".join(
            [f"{id_column} {id_type}", "dup_line_frac double", "dup_line_char_frac double"]
            + [f"top_{n}gram_char_frac double" for n in sorted(TOP_NGRAM_LIMITS)]
            + [f"dup_{n}gram_char_frac double" for n in sorted(DUP_NGRAM_LIMITS)]
            + ["repetition_ok boolean"]
        )

        def _gen(batches):
            for pdf in batches:
                yield repetition_profile_pandas(pdf, id_column, text_column)

        return ensure_parallelism(df.select(id_column, text_column)).mapInPandas(
            _gen, schema
        )

    text = F.col(text_column)
    ns = sorted(TOP_NGRAM_LIMITS) + sorted(DUP_NGRAM_LIMITS)
    staged = df.select(
        F.col(id_column),
        text,
        tokens_col(text).alias("__toks"),
        _lines(text).alias("__lines"),
        F.length(F.trim(text)).cast("double").alias("__chars"),
    ).withColumns(
        {
            # per-token length and hash, computed ONCE: window hashes
            # fold the long array, not the strings (each token sits in
            # up to sum(n) = 54 overlapping windows otherwise)
            "__tl": F.transform("__toks", lambda t: F.length(t)),
            "__th": F.transform("__toks", lambda t: F.xxhash64(t)),
        }
    )
    # lines: duplicate-beyond-first occurrences, array-side
    dup_line_expr = F.transform(
        F.sequence(F.lit(0), F.size("__lines") - 1),
        lambda i: F.when(
            F.array_position(F.slice(F.col("__lines"), 1, i), F.col("__lines")[i]) > 0,
            F.length(F.col("__lines")[i]),
        ).otherwise(F.lit(0)),
    )
    # n-grams: array-side run counting (see docstring) — rolling
    # hash/length chains, one sorted window array + one linear fold per
    # (doc, n); no explode, no shuffle, no pivot, no join. Levels are
    # built consecutively (ns is contiguous 2..10), each from the
    # previous via zip_with of sliced arrays; a doc with fewer than n
    # tokens yields empty slices and therefore an empty window array
    # (same contract as text.word_ngrams_from_tokens).
    def _rot13(h):
        return F.shiftleft(h, 13).bitwiseOR(F.shiftrightunsigned(h, 51))

    grams = staged
    prev_h, prev_s = "__th", "__tl"
    for n in ns:
        cnt = F.greatest(F.size("__toks") - (n - 1), F.lit(0))
        grams = grams.withColumns(
            {
                f"__h{n}": F.zip_with(
                    F.slice(prev_h, F.lit(1), cnt),
                    F.slice("__th", F.lit(n), cnt),
                    lambda a, b: _rot13(a).bitwiseXOR(b),
                ),
                f"__s{n}": F.zip_with(
                    F.slice(prev_s, F.lit(1), cnt),
                    F.slice("__tl", F.lit(n), cnt),
                    lambda a, b: a + b,
                ),
            }
        )
        prev_h, prev_s = f"__h{n}", f"__s{n}"

    # Run counting over the sorted window arrays, in three STAGED
    # layers (sorted windows -> run-start indices -> run (count, len)
    # pairs): every intermediate array is a materialized column
    # attribute, never an inline expression — element_at/size inside a
    # HOF lambda re-evaluate an unstaged subtree PER ELEMENT (measured
    # catastrophic: the whole sort re-ran per boundary test), and an
    # unstaged multi-referenced alias re-evaluates per reference. The
    # layered form replaces a single 6-field aggregate fold whose
    # interpreted merge lambda dominated the query (measured ~5 s of a
    # 7 s total at sf0.1; this form runs ~4 s): boundary tests are two
    # O(1) element_at's, the top run comes from native array_max, and
    # the only remaining fold runs over REPEATED runs — a handful per
    # document, not every window.
    # closure factory, NOT a defaulted lambda: extra (even defaulted)
    # lambda params change the HOF dispatch arity
    def _win_struct(n: int):
        return lambda h, l: F.struct(h.alias("h"), (l + (n - 1)).alias("l"))

    grams = grams.withColumns(
        {
            f"__w{n}": F.array_sort(F.zip_with(f"__h{n}", f"__s{n}", _win_struct(n)))
            for n in ns
        }
    )

    def _run_starts(n: int):
        w = F.col(f"__w{n}")
        return F.filter(
            F.sequence(F.lit(1), F.size(w)),
            lambda i: F.when(i == 1, F.lit(True)).otherwise(
                F.element_at(w, i)["h"] != F.element_at(w, i - 1)["h"]
            ),
        )

    grams = grams.withColumns(
        {
            f"__i{n}": F.when(F.size(f"__w{n}") > 0, _run_starts(n)).otherwise(
                F.array().cast("array<int>")
            )
            for n in ns
        }
    )

    def _runs(n: int):
        w, idx = F.col(f"__w{n}"), F.col(f"__i{n}")
        nxt = F.concat(
            F.slice(idx, 2, F.greatest(F.size(idx) - 1, F.lit(0))),
            F.array(F.size(w) + 1),
        )
        return F.zip_with(
            idx,
            nxt,
            lambda a, b: F.struct(
                (b - a).cast("bigint").alias("c"), F.element_at(w, a)["l"].alias("l")
            ),
        )

    grams = grams.withColumns(
        {
            f"__r{n}": F.when(F.size(f"__w{n}") > 0, _runs(n)).otherwise(
                F.array().cast("array<struct<c:bigint,l:int>>")
            )
            for n in ns
        }
    )

    def _gram_stats(n: int):
        runs = F.col(f"__r{n}")
        # top run by (count, length): struct comparison is field-order
        # lexicographic, so array_max picks max count, ties to max
        # length — its product c*l is what the caller consumes (the
        # c>1 gate is applied there); dup sums only repeated runs
        top = F.array_max(runs)
        dup = F.aggregate(
            F.filter(runs, lambda r: r["c"] > 1),
            F.lit(0).cast("bigint"),
            lambda acc, r: acc + r["c"] * r["l"],
        )
        empty = F.struct(
            F.lit(0).cast("bigint").alias("top_chars"),
            F.lit(0).cast("bigint").alias("top_count"),
            F.lit(0).cast("bigint").alias("dup_chars"),
        )
        return F.when(F.size(runs) == 0, empty).otherwise(
            F.struct(
                (top["c"] * top["l"]).cast("bigint").alias("top_chars"),
                top["c"].alias("top_count"),
                dup.alias("dup_chars"),
            )
        )

    # ONE projection chain carries the line helpers AND all nine gram
    # stat structs — no join back (the previous plan joined the gram
    # pivot onto the line fracs, re-reading the staged frame)
    mid = grams.select(
        id_column,
        "__chars",
        F.size("__lines").alias("__nl"),
        F.when(F.size("__lines") > 0, dup_line_expr).otherwise(
            F.array().cast("array<int>")
        ).alias("__dup_chars_per_line"),
        F.aggregate(
            F.transform(F.col("__lines"), lambda ln: F.length(ln)),
            F.lit(0),
            lambda a, x: a + x,
        ).cast("double").alias("__line_chars"),
        *[_gram_stats(n).alias(f"{n}") for n in ns],
    )
    out = mid.select(
        id_column,
        "__chars",
        F.when(
            F.col("__nl") > 0,
            F.size(F.filter(F.col("__dup_chars_per_line"), lambda c: c > 0)).cast("double")
            / F.col("__nl"),
        ).otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(
            F.col("__line_chars") > 0,
            F.aggregate(
                F.col("__dup_chars_per_line"), F.lit(0), lambda a, x: a + x
            ).cast("double") / F.col("__line_chars"),
        ).otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
        *[f"{n}" for n in ns],
    )
    cols = [F.col(id_column), F.col("dup_line_frac"), F.col("dup_line_char_frac")]
    ok = (F.col("dup_line_frac") <= MAX_DUP_LINE_FRAC) & (
        F.col("dup_line_char_frac") <= MAX_DUP_LINE_CHAR_FRAC
    )
    for n, limit in TOP_NGRAM_LIMITS.items():
        # a top gram occurring ONCE is no repetition signal — without
        # this, any short document trivially fails (its longest unique
        # 4-gram alone can exceed 16% of the text)
        top_chars = F.when(
            F.col(f"{n}.top_count") > 1, F.col(f"{n}.top_chars")
        ).otherwise(F.lit(0))
        frac = F.least(
            F.coalesce(top_chars.cast("double"), F.lit(0.0))
            / F.greatest(F.col("__chars"), F.lit(1.0)),
            F.lit(1.0),
        )
        cols.append(frac.alias(f"top_{n}gram_char_frac"))
        ok = ok & (frac <= limit)
    for n, limit in DUP_NGRAM_LIMITS.items():
        frac = F.least(
            F.coalesce(F.col(f"{n}.dup_chars").cast("double"), F.lit(0.0))
            / F.greatest(F.col("__chars"), F.lit(1.0)),
            F.lit(1.0),
        )
        cols.append(frac.alias(f"dup_{n}gram_char_frac"))
        ok = ok & (frac <= limit)
    return out.select(*cols, ok.alias("repetition_ok"))


# --------------------------------------------------------------------------
# Arrow-vectorized repetition core (same fold/arrow twin pattern as
# similarity.ivf_assign: the fold path above is the cross-engine-
# replayable reference, this is the production path)
# --------------------------------------------------------------------------

_REP_NS = sorted(TOP_NGRAM_LIMITS) + sorted(DUP_NGRAM_LIMITS)


def _splitmix64_np(x):
    """splitmix64 finalizer over a uint64 numpy array (the window-hash
    seed for the Arrow path; internal only — outputs never leave the
    batch, so cross-engine hash portability is not required)."""
    import numpy as np

    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def repetition_profile_pandas(pdf, id_column: str = "doc_id", text_column: str = "text"):
    """One Arrow batch of ``gopher_repetition_profile``, computed with
    numpy sort + run-length counting instead of interpreted HOF folds.

    OUTPUT-EQUIVALENT to the fold path by construction: both reduce a
    document's per-n window multiset to run (count, window_char_len)
    pairs and consume only ``count x len`` products (top run by (c, l),
    dup sum over c > 1 runs), and every scalar here replicates the
    column semantics exactly — trim strips SPACES only (Spark F.trim),
    tokens come from Java-compatible ``re.split(r"\\s+", ..., ASCII)``
    over the trimmed text with leading/trailing empty tokens kept
    (F.split limit=-1), lines filter on space-trimmed non-empty, and
    window char length is token-length sum + (n-1) separators. Window
    identity is hashed (splitmix64 chain over np.unique token codes)
    exactly as the fold path hashes via xxhash64+rot13 — equal up to
    the same ~g^2/2^64 in-document collision odds, with integer counts
    and one final double division, so agreeing runs produce BIT-EQUAL
    fractions. Equivalence is pinned on fixtures and by a hypothesis
    property test in tests/test_quality_filters.py.

    Batch shape: one pass of Python tokenization per doc (the only
    per-doc loop), then flat numpy arrays for the rolling hash/length
    chains across all nine gram sizes, one lexsort per n over the
    batch's windows, and scatter (maximum.at/add.at) per-doc reductions
    — BLAS-free but branch-free, measured ~2x the whole query vs the
    interpreted fold at sf0.1 (the fold's per-element lambda evaluation
    was ~all its cost)."""
    import re

    import numpy as np
    import pandas as pd

    # positional, not index-aligned: mapInPandas batches normally carry a
    # RangeIndex, but assembling the output dict mixes this Series with
    # fresh numpy arrays — a non-default index would silently misalign
    # ids against their rows in the pd.DataFrame constructor
    ids = pdf[id_column].to_numpy()
    texts = pdf[text_column].tolist()
    n_docs = len(texts)
    ns = _REP_NS

    dup_line_frac = np.zeros(n_docs)
    dup_line_char_frac = np.zeros(n_docs)
    chars = np.zeros(n_docs)
    tok_lists = []
    for d, t in enumerate(texts):
        t = "" if t is None else str(t)
        lines = [ln for ln in t.split("\n") if ln.strip(" ") != ""]
        if lines:
            seen = set()
            dup_n = 0
            dup_c = 0
            total_c = 0
            for ln in lines:
                total_c += len(ln)
                if ln in seen:
                    dup_n += 1
                    dup_c += len(ln)
                else:
                    seen.add(ln)
            dup_line_frac[d] = float(dup_n) / len(lines)
            if total_c > 0:
                dup_line_char_frac[d] = float(dup_c) / float(total_c)
        trimmed = t.strip(" ")
        chars[d] = float(len(trimmed))
        tok_lists.append(
            [] if trimmed == "" else re.split(r"\s+", trimmed, flags=re.ASCII)
        )

    counts_per_doc = np.array([len(x) for x in tok_lists], dtype=np.int64)
    total = int(counts_per_doc.sum())
    top_chars = {n: np.zeros(n_docs, dtype=np.int64) for n in ns}
    top_count = {n: np.zeros(n_docs, dtype=np.int64) for n in ns}
    dup_chars = {n: np.zeros(n_docs, dtype=np.int64) for n in ns}
    if total > 0:
        doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts_per_doc)
        flat = [tok for toks in tok_lists for tok in toks]
        _, inv = np.unique(np.array(flat, dtype=object), return_inverse=True)
        tl = np.fromiter((len(tok) for tok in flat), dtype=np.int64, count=total)
        h0 = _splitmix64_np(inv.astype(np.uint64))
        clen = np.concatenate(([0], np.cumsum(tl)))
        prev = h0  # level-1 chain over flat positions
        for n in ns:
            m = total - n + 1
            if m <= 0:
                break
            # H_n[i] = rot13(H_{n-1}[i]) XOR h0[i+n-1] on the flat array;
            # windows crossing a doc boundary get garbage but are masked
            # (any cross-boundary window's sub-window is also cross-boundary)
            prev = ((prev[:m] << np.uint64(13)) | (prev[:m] >> np.uint64(51))) ^ h0[
                n - 1 :
            ]
            valid = doc_idx[:m] == doc_idx[n - 1 :]
            if not valid.any():
                continue
            d = doc_idx[:m][valid]
            h = prev[valid]
            wl = (clen[n:] - clen[:-n])[valid[: total - n + 1]] + (n - 1)
            order = np.lexsort((h, d))
            ds, hs, ls = d[order], h[order], wl[order]
            starts = np.concatenate(
                ([True], (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1]))
            )
            sidx = np.flatnonzero(starts)
            run_c = np.diff(np.concatenate((sidx, [len(ds)])))
            run_d = ds[sidx]
            run_l = ls[sidx]
            # top run per doc by (count, len): pack into one sortable key
            key = (run_c.astype(np.uint64) << np.uint64(32)) | run_l.astype(
                np.uint64
            )
            best = np.zeros(n_docs, dtype=np.uint64)
            np.maximum.at(best, run_d, key)
            bc = (best >> np.uint64(32)).astype(np.int64)
            bl = (best & np.uint64(0xFFFFFFFF)).astype(np.int64)
            top_chars[n] = bc * bl
            top_count[n] = bc
            rep = run_c > 1
            np.add.at(dup_chars[n], run_d[rep], run_c[rep] * run_l[rep])

    denom = np.maximum(chars, 1.0)
    out = {
        id_column: ids,
        "dup_line_frac": dup_line_frac,
        "dup_line_char_frac": dup_line_char_frac,
    }
    ok = (dup_line_frac <= MAX_DUP_LINE_FRAC) & (
        dup_line_char_frac <= MAX_DUP_LINE_CHAR_FRAC
    )
    for n, limit in TOP_NGRAM_LIMITS.items():
        gated = np.where(top_count[n] > 1, top_chars[n], 0)
        frac = np.minimum(gated.astype(np.float64) / denom, 1.0)
        out[f"top_{n}gram_char_frac"] = frac
        ok = ok & (frac <= limit)
    for n, limit in DUP_NGRAM_LIMITS.items():
        frac = np.minimum(dup_chars[n].astype(np.float64) / denom, 1.0)
        out[f"dup_{n}gram_char_frac"] = frac
        ok = ok & (frac <= limit)
    out["repetition_ok"] = ok
    return pd.DataFrame(out)


def compression_ratio_quality(
    df: DataFrame,
    text_column: str = "text",
    *,
    level: int = 6,
    min_ratio: float = 1.2,
    max_ratio: float = 12.0,
) -> DataFrame:
    """Deflate-compressibility quality signal (the RefinedWeb /
    CCNet-family heuristic, public): highly repetitive boilerplate
    compresses extremely well (ratio >> 10), while random/binary junk
    barely compresses (ratio ~= 1); natural prose sits between. Adds
    ``raw_bytes``, ``compressed_bytes`` (zlib, fixed ``level``),
    ``compression_ratio`` (raw/compressed, 0.0 for empty text) and the
    ``compression_ok`` band verdict.

    Shape: pure per-row Arrow map — no shuffle, linear scan, the same
    posture as the other Gopher/C4 filters. zlib is stdlib; bytes
    counted on UTF-8. NOTE: compressed sizes are a property of the
    zlib build (version/strategy), identical across a homogeneous
    cluster but NOT a cross-engine replayable constant — so this
    operator is pinned by a Python referee in tests rather than a
    DuckDB value oracle (the same rule as the env-gated codecs)."""
    if not 1 <= level <= 9:
        raise ValueError(f"compression_ratio_quality: bad zlib level {level}")
    schema_df = (
        df.withColumn("raw_bytes", F.lit(0).cast("long"))
        .withColumn("compressed_bytes", F.lit(0).cast("long"))
        .withColumn("compression_ratio", F.lit(0.0))
        .withColumn("compression_ok", F.lit(True))
    )
    names = [f.name for f in schema_df.schema.fields]
    src, lvl, lo, hi = text_column, level, float(min_ratio), float(max_ratio)

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            texts = pdf[src].to_numpy()
            raw = []
            comp = []
            for t in texts:
                b = (t or "").encode("utf-8")
                raw.append(len(b))
                comp.append(len(zlib.compress(b, lvl)) if b else 0)
            out = {n: pdf[n] for n in names if n in pdf.columns}
            out["raw_bytes"] = pd.Series(raw, dtype="int64")
            out["compressed_bytes"] = pd.Series(comp, dtype="int64")
            ratio = pd.Series(
                [r / c if c else 0.0 for r, c in zip(raw, comp)], dtype="float64"
            )
            out["compression_ratio"] = ratio
            out["compression_ok"] = (ratio >= lo) & (ratio <= hi)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema_df.schema)


def ensemble_quality_score(
    df: DataFrame,
    signal_columns: list[str],
    *,
    weights: list[int] | None = None,
    out_column: str = "ensemble_score",
) -> DataFrame:
    """Combine several quality signals (LM logprob, classifier margin,
    composite heuristics, compression ratio, ...) into ONE ranking
    score by corpus z-normalization: signals live on incompatible
    scales, so each standardizes against its own corpus mean/std
    before the weighted sum — the standard multi-signal curation
    combiner.

    Cross-engine determinism (the temperature_weights discipline, plus
    a variance leg): per-row signals round to 6 and accumulate as
    exact DECIMAL(18,6) — NOT (28,12): a (28,12)x(28,12) square needs
    precision 57, so Spark would clip the product back to scale 6 and
    silently quantize the variance at 1e-6 grain, zeroing the std of
    any small-scale signal; (18,6)x(18,6) -> (37,12) stays exact. The
    mean rounds to 9 and re-quantizes to DECIMAL(18,9) so its square
    ((37,18)) is exact too; variance = round(sumsq/n - mean², 9); the
    ONE sqrt runs in double and rounds to 6; each row's z is one
    double division of exact-decimal differences; the weighted sum
    adds terms in the fixed ``signal_columns`` order with integer
    weights. Same inputs => bit-identical score on any engine.
    Signal bound: |x| < 1e9 — the binding constraint is the MEAN's
    DECIMAL(18,9) re-quantization (9 integer digits), not the raw
    DECIMAL(18,6) accumulator (a signal with |mean| >=
    1e9 overflows the (18,9) cast to NULL under non-ANSI casts).
    Any sane quality signal fits; squash unbounded losses first.
    The bound is ENFORCED, not advisory: the stats leg asserts each
    present signal's mean/std came out non-NULL, so an overflowing
    signal fails the job with a named error instead of silently
    NULLing (mean leg) or zeroing (sumsq leg) every row's score.

    NULL/NaN handling: a NULL or NaN signal contributes z = 0 (a
    missing or undefined signal must not tank, boost, or NULL-out the
    document) and is excluded from that signal's corpus stats — NaN
    especially: counting it present while the DECIMAL sum drops it
    would bias the mean for every other row. ``signals_present``
    (BIGINT) reports how many signals actually scored each row so a
    gate can require completeness. A constant signal (std = 0)
    contributes 0 for every row — it cannot rank.

    Shape: ONE global aggregate for all means/variances (map-side
    combined), broadcast back as a 1-row stats frame, then a narrow
    per-row map. No window, no per-signal pass."""
    if not signal_columns:
        raise ValueError("ensemble_quality_score: need >= 1 signal")
    ws = weights if weights is not None else [1] * len(signal_columns)
    if len(ws) != len(signal_columns):
        raise ValueError(
            "ensemble_quality_score: weights must match signals "
            f"({len(ws)} vs {len(signal_columns)})"
        )
    for w in ws:
        if isinstance(w, bool) or not isinstance(w, int):
            raise ValueError(
                f"ensemble_quality_score: integer weights only, got {w!r}"
            )

    def _ok(c: str):
        x = F.col(c).cast("double")
        return x.isNotNull() & ~F.isnan(x)

    def s6(c: str):
        # NaN gates to NULL here so sum/count/sumsq all agree on what
        # counts as present
        return F.when(
            _ok(c), F.round(F.col(c).cast("double"), 6)
        ).cast("decimal(18,6)")

    aggs = []
    for i, c in enumerate(signal_columns):
        aggs.append(F.count(s6(c)).alias(f"__n{i}"))
        aggs.append(F.sum(s6(c)).alias(f"__s{i}"))
        aggs.append(F.sum(s6(c) * s6(c)).alias(f"__q{i}"))
    stats = df.agg(*aggs)
    sel = []
    for i in range(len(signal_columns)):
        n = F.greatest(F.col(f"__n{i}"), F.lit(1))
        mean = F.round(F.col(f"__s{i}") / n, 9).cast("decimal(18,9)")
        var = F.round(F.col(f"__q{i}") / n - mean * mean, 9)
        std = F.round(
            F.sqrt(F.greatest(var, F.lit(0)).cast("double")), 6
        ).cast("decimal(18,6)")
        # overflow tripwire: with >= 1 present row, a NULL
        # mean/std can only be a DECIMAL overflow — raise a named error
        # at the stats stage instead of silently NULLing every score.
        # assert_true returns NULL when the condition holds, so the
        # when() wrapper passes the value through unchanged and stays
        # lazy (no driver-side collect of the stats frame).
        guard = F.assert_true(
            (F.col(f"__n{i}") == 0)
            | (mean.isNotNull() & std.isNotNull()),
            F.lit(
                f"ensemble_quality_score: signal '{c}' overflowed the "
                "decimal stats legs (|mean| must be < 1e9 — squash or "
                "rescale the signal)"
            ),
        )
        sel.append(F.when(guard.isNull(), mean).alias(f"__m{i}"))
        sel.append(F.when(guard.isNull(), std).alias(f"__d{i}"))
    stats = stats.select(*sel)
    joined = df.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    present = F.lit(0).cast("long")
    for i, (c, w) in enumerate(zip(signal_columns, ws)):
        x = s6(c)
        z = F.when(
            _ok(c) & (F.col(f"__d{i}") > 0),
            (x - F.col(f"__m{i}")).cast("double")
            / F.col(f"__d{i}").cast("double"),
        ).otherwise(F.lit(0.0))
        score = score + F.lit(w) * z
        present = present + _ok(c).cast("long")
    return (
        joined.withColumn(out_column, score)
        .withColumn("signals_present", present)
        .drop(
            *[f"__m{i}" for i in range(len(signal_columns))],
            *[f"__d{i}" for i in range(len(signal_columns))],
        )
    )
