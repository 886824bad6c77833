"""Byte-pair-encoding tokenizer: distributed training + cached encoding.

Extends the single-iteration pair statistic (``text.adjacent_pairs`` /
the ``bpe_pair_stats`` query) into the full tokenizer a training-data
pipeline needs: learn a merge table from the corpus, then tokenize the
corpus with it (algorithm: Sennrich et al., arXiv 1508.07909 — public
literature; no reference-repo counterpart, engine addition per
SURVEY.md §2l).

Scale design (100 TB):

- **Training operates on the word-frequency table, not the corpus.**
  One corpus-sized shuffle aggregates ``(word, weight)``; every merge
  iteration after that touches only the distinct-word vocabulary
  (millions of rows at web scale, not trillions). This is the standard
  trick every production BPE trainer uses.
- **Word symbols are a delimiter-wrapped string and one merge
  application is one literal ``replace``.** A word's symbol state is
  ``OPEN + sym + CLOSE`` concatenated (``"low"`` seeds to
  ``␟l␞␟o␞␟w␞␟</w>␞`` with ␟=\\x1f, ␞=\\x1e); applying merge
  ``(a, b)`` is ``replace(state, "␟a␞␟b␞", "␟ab␞")``. Because every
  symbol is FULLY delimited, a match can only align on whole symbols
  (a bare ``a + SEP + b`` pattern would false-match when ``a`` is the
  suffix of a longer symbol), and literal replace's left-to-right
  never-rescan-output semantics — identical in Spark ``F.replace``,
  Python ``str.replace`` and DuckDB ``replace`` — is EXACTLY greedy
  non-overlapping BPE merge application. One engine-native intrinsic
  per iteration instead of an interpreted per-element fold, and the
  training recurrence becomes cross-engine replayable: the
  ``bpe_train_merges`` query's DuckDB oracle replays it with an
  unrolled CTE per merge, same pattern as the PageRank oracle.
- **Vocabulary-gated driver training.** When the vocabulary fits under
  ``driver_vocab_limit`` (default 2M rows — same order as the
  union-find gate in ``operators/graph.py``), word counts are
  collected once and the merge loop runs driver-side with indexed
  incremental pair counts and a lazy-deletion heap (Sennrich
  ``learn_bpe`` shape: O(touched words + log P) per merge). Above the
  gate, ``bpe_train_distributed`` runs the identical recurrence as
  Spark jobs: per merge, one vocab-sized hash aggregate + a top-1
  ``TakeOrderedAndProject`` (a 1-row collect, bounded) + one
  ``replace`` map, with a ``session.barrier`` cutting the lineage every
  ``checkpoint_every`` iterations. Both paths share one tie rule
  (count DESC, then (a, b) lexicographic ASC) and are pinned equal in
  ``tests/test_bpe.py``.
- **Encoding is vocabulary-cached.** The corpus is tokenized to words
  (builtin split — the corpus-sized work stays JVM-side), the DISTINCT
  words are encoded once by an Arrow-batched ``mapInPandas`` replaying
  the merge list (Python cost is O(vocab), never O(corpus) — the same
  cache shape HF tokenizers use), and the result joins back on the
  word; AQE broadcasts the vocab side when it is small enough, and at
  vocabularies past the broadcast threshold the join degrades to a
  shuffle on the word key, which is the correct plan there too.

Tokenization base is the lowercase-alphanumeric split (``[^a-z0-9]+``)
shared with ``bpe_pair_stats`` — identical regex semantics in Java and
DuckDB's RE2, so oracles replay the word extraction exactly.
"""

from __future__ import annotations

import heapq
from typing import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Symbol delimiters. Words are lowercase alphanumeric (the [^a-z0-9]+
# split) and EOW is ASCII punctuation, so neither control char can
# occur inside a symbol and every delimited match aligns on whole
# symbols.
OPEN = "\x1f"
CLOSE = "\x1e"
# End-of-word marker, its own trailing symbol (Sennrich-style), so the
# encoder distinguishes word-final pieces and roundtrip is exact:
# unwrap, drop the trailing EOW, concatenate, and the word reappears.
EOW = "</w>"

# the shared tokenization base lives in operators/text.py (the layer
# below); re-exported here because the merge-table metadata embeds it
from pyspark_unload_to_gcs_spark.operators.text import WORD_PATTERN, words_col  # noqa: F401
from pyspark_unload_to_gcs_spark.session import barrier


# --------------------------------------------------------------------------
# Word extraction / symbol representation (shared by train + encode)
# --------------------------------------------------------------------------


def word_counts(df: DataFrame, text_column: str = "text") -> DataFrame:
    """``(word, weight)`` frequency table — the ONE corpus-sized job in
    BPE training. Explode output is the corpus token count but partial
    aggregation collapses it map-side to the distinct-word
    vocabulary."""
    return (
        df.select(F.explode(words_col(F.col(text_column))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def wrap_symbols(parts: Sequence[str]) -> str:
    return "".join(OPEN + p + CLOSE for p in parts)


def unwrap_symbols(state: str) -> list[str]:
    if not state:
        return []
    return state[1:-1].split(CLOSE + OPEN)


def seed_symbols(word: str) -> str:
    """Initial symbol state of a word: single characters + EOW."""
    return wrap_symbols(list(word) + [EOW])


def merge_word(state: str, a: str, b: str) -> str:
    """Apply one merge — greedy left-to-right non-overlapping, the
    shared semantics of Python/Spark/DuckDB literal replace."""
    return state.replace(OPEN + a + CLOSE + OPEN + b + CLOSE, OPEN + a + b + CLOSE)


def seed_symbols_col(word):
    """Column form of :func:`seed_symbols` (builtin expressions)."""
    chars = F.filter(F.split(word, ""), lambda x: x != "")
    parts = F.concat(chars, F.array(F.lit(EOW)))
    return F.array_join(
        F.transform(parts, lambda p: F.concat(F.lit(OPEN), p, F.lit(CLOSE))), ""
    )


def symbol_parts_col(state):
    """array<string> of symbols from a wrapped state column."""
    inner = state.substr(F.lit(2), F.length(state) - 2)
    return F.split(inner, CLOSE + OPEN)


# --------------------------------------------------------------------------
# Driver-side trainer (vocabulary under the gate)
# --------------------------------------------------------------------------


def train_merges_py(
    vocab: dict[str, int],
    num_merges: int,
    min_pair_count: int = 1,
    with_counts: bool = False,
):
    """Indexed incremental BPE merge loop over a ``{word: weight}``
    vocabulary. Maintains pair -> weighted count, pair -> containing
    states, and a lazy-deletion max-heap keyed ``(-count, a, b)`` so
    each merge costs O(words touched + log pairs). Tie rule: count
    DESC, then (a, b) ASC — identical to the distributed path and the
    DuckDB replay oracle."""
    states: dict[str, int] = {}
    for word, weight in vocab.items():
        s = seed_symbols(word)
        states[s] = states.get(s, 0) + int(weight)

    pair_counts: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[str]] = {}
    heap: list[tuple[int, tuple[str, str]]] = []

    def pair_occurrences(state: str) -> dict[tuple[str, str], int]:
        parts = unwrap_symbols(state)
        occ: dict[tuple[str, str], int] = {}
        for pair in zip(parts, parts[1:]):
            occ[pair] = occ.get(pair, 0) + 1
        return occ

    def add_state(state: str, weight: int) -> None:
        for pair, k in pair_occurrences(state).items():
            pair_counts[pair] = pair_counts.get(pair, 0) + k * weight
            index.setdefault(pair, set()).add(state)
            heapq.heappush(heap, (-pair_counts[pair], pair))

    def remove_state(state: str, weight: int) -> None:
        for pair, k in pair_occurrences(state).items():
            c = pair_counts.get(pair, 0) - k * weight
            if c > 0:
                pair_counts[pair] = c
                heapq.heappush(heap, (-c, pair))
            else:
                pair_counts.pop(pair, None)
            bucket = index.get(pair)
            if bucket is not None:
                bucket.discard(state)
                if not bucket:
                    del index[pair]

    for state, weight in states.items():
        add_state(state, weight)

    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges:
        best = None
        while heap:
            neg, pair = heap[0]
            current = pair_counts.get(pair)
            if current is None or -neg != current:
                heapq.heappop(heap)  # stale lazy-deleted entry
                continue
            best = pair
            break
        if best is None or pair_counts[best] < min_pair_count:
            break
        merges.append(best + (pair_counts[best],) if with_counts else best)
        a, b = best
        for old in list(index.get(best, ())):
            weight = states.pop(old, None)
            if weight is None:
                continue
            remove_state(old, weight)
            new = merge_word(old, a, b)
            states[new] = states.get(new, 0) + weight
            add_state(new, weight)
    return merges


# --------------------------------------------------------------------------
# Distributed trainer (vocabulary above the gate) + the gated wrapper
# --------------------------------------------------------------------------


def bpe_train_distributed(
    vocab_df: DataFrame,
    num_merges: int,
    min_pair_count: int = 1,
    checkpoint_every: int = 8,
    with_counts: bool = False,
):
    """Merge loop as Spark jobs over a ``(word, weight)`` frame. Per
    iteration: vocab-sized pair explode collapsed by map-side partial
    aggregation, top-1 via ``orderBy().limit(1)`` (a
    TakeOrderedAndProject — no global sort), then one literal
    ``F.replace`` map guarded by ``contains`` so untouched words skip
    the rewrite. A ``session.barrier`` every ``checkpoint_every``
    iterations truncates the N-deep replace lineage. The 1-row
    ``collect()`` per iteration is bounded by construction (the merge
    decision IS driver state — same posture as the k-means centroid
    collects in ``similarity.py``)."""
    from pyspark_unload_to_gcs_spark.operators.text import adjacent_pairs

    # barrier at entry: the seeded states materialize once, so the
    # first iterations don't re-run the caller's upstream lineage (a
    # raw word_counts would otherwise re-shuffle the corpus per
    # iteration until the first in-loop barrier)
    syms = barrier(
        vocab_df.select(
            seed_symbols_col(F.col("word")).alias("state"),
            F.col("weight").cast("long").alias("weight"),
        ),
        eager=True,
    )
    merges: list[tuple[str, str]] = []
    for i in range(num_merges):
        pairs = adjacent_pairs(symbol_parts_col(F.col("state")))
        top = (
            syms.select(F.col("weight"), F.explode(pairs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("weight").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b, int(top[0]["cnt"])) if with_counts else (a, b))
        pat = OPEN + a + CLOSE + OPEN + b + CLOSE
        rep = OPEN + a + b + CLOSE
        syms = syms.withColumn(
            "state",
            F.when(
                F.contains(F.col("state"), F.lit(pat)),
                F.replace(F.col("state"), F.lit(pat), F.lit(rep)),
            ).otherwise(F.col("state")),
        )
        if (i + 1) % checkpoint_every == 0:
            syms = barrier(syms, eager=True)
    return merges


def bpe_train(
    df: DataFrame,
    text_column: str = "text",
    num_merges: int = 64,
    min_pair_count: int = 1,
    driver_vocab_limit: int = 2_000_000,
    checkpoint_every: int = 8,
    with_counts: bool = False,
):
    """Train a BPE merge table on a document frame. Size-gated like the
    union-find/alternating-star split in ``operators/graph.py``: the
    vocabulary cardinality is probed with the limit+1 early-exit trick,
    and only a vocabulary that FITS is collected; larger vocabularies
    stay distributed."""
    # barrier BEFORE the probe: the corpus-sized explode+groupBy
    # runs exactly once, and the probe/collect (driver path) or the
    # per-iteration jobs (distributed path) all read the materialized
    # vocab-sized frame instead of re-shuffling the corpus (same
    # single-pass gate posture as the union-find gate in graph.py)
    wc = barrier(word_counts(df, text_column), eager=True)
    probe = wc.limit(driver_vocab_limit + 1).count()
    if probe <= driver_vocab_limit:
        vocab = {r["word"]: int(r["weight"]) for r in wc.collect()}
        return train_merges_py(vocab, num_merges, min_pair_count, with_counts)
    return bpe_train_distributed(
        wc, num_merges, min_pair_count, checkpoint_every, with_counts
    )


# --------------------------------------------------------------------------
# Encoding (vocabulary-cached)
# --------------------------------------------------------------------------


def encode_word_py(word: str, merges: Sequence[tuple[str, str]]) -> list[str]:
    """Encode one word by replaying the merge list in training order —
    byte-for-byte the trainer's recurrence, so every training word
    encodes to exactly its final trained state (pinned in tests)."""
    state = seed_symbols(word)
    for a, b in merges:
        pat = OPEN + a + CLOSE + OPEN + b + CLOSE
        if pat in state:
            state = state.replace(pat, OPEN + a + b + CLOSE)
    return unwrap_symbols(state)


def encode_word_rank(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word with the min-rank loop (the GPT-2 encoder
    shape): repeatedly find the lowest-rank adjacent pair present and
    merge ALL its occurrences greedy left-to-right, until no adjacent
    pair is in the rank table. Cost is O(len(word)^2) independent of
    the merge-table size — the production path at real vocabularies
    (a 32k-merge table makes the in-order replay O(32k) PER WORD;
    this is O(word)).

    Equivalent to :func:`encode_word_py` whenever the rank table came
    from actual BPE training AND no two merges produce the same output
    string: a pair containing a trained symbol always ranks after the
    merge that created that symbol, so the lowest-rank present pair is
    exactly the next in-order applicable merge. ``encode_ranks``
    enforces the duplicate-output precondition; equivalence on trained
    tables is property-tested against the replay in tests/test_bpe.py."""
    parts = list(word) + [EOW]
    while len(parts) > 1:
        best_rank = None
        best = None
        for pair in zip(parts, parts[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, pair
        if best is None:
            break
        a, b = best
        out, i = [], 0
        while i < len(parts):
            if i + 1 < len(parts) and parts[i] == a and parts[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(parts[i])
                i += 1
        parts = out
    return parts


def encode_ranks(merges: Sequence[tuple[str, str]]) -> dict[tuple[str, str], int]:
    """Rank table for :func:`encode_word_rank`. FAILS FAST when two
    merges produce the same output string (e.g. ('a','bc') and
    ('ab','c') both -> 'abc'): under duplicate outputs a symbol's
    creation rank is ambiguous and the min-rank loop may diverge from
    the in-order replay — callers must use ``method='replay'`` there.
    Real trained tables never contain duplicates (a pair stops
    existing once merged), so this is a corrupt-input guard, not a
    practical restriction."""
    seen_out: dict[str, tuple[str, str]] = {}
    ranks: dict[tuple[str, str], int] = {}
    for i, (a, b) in enumerate(merges):
        out = a + b
        prev = seen_out.get(out)
        if prev is not None and prev != (a, b):
            raise ValueError(
                f"encode_ranks: merges {prev} and {(a, b)} both produce "
                f"{out!r} — min-rank encoding is ambiguous; use the "
                "in-order replay encoder"
            )
        seen_out[out] = (a, b)
        if (a, b) not in ranks:
            ranks[(a, b)] = i
    return ranks


def encode_vocab(
    words_df: DataFrame,
    merges: Sequence[tuple[str, str]],
    word_column: str = "word",
    method: str = "replay",
) -> DataFrame:
    """Add ``pieces array<string>`` to a (distinct-)word frame via an
    Arrow-batched ``mapInPandas`` applying the broadcast merge list.
    Call this on the DISTINCT vocabulary, not the corpus — the join
    back to documents is the corpus-sized step and stays JVM-side.

    ``method``:
    - ``"replay"`` (default): in-order merge replay — byte-for-byte
      the trainer's recurrence, so oracle-facing paths use it (same
      posture as ``ivf_assign(method='fold')``). O(num_merges) per
      word: right at the small merge tables the registered queries
      train, wrong at a production 32k-merge table.
    - ``"rank"``: min-rank loop, O(word²) independent of table size —
      the production path at real vocabularies. Equivalence on trained
      tables is guarded by ``encode_ranks`` (duplicate-output check)
      and property-tested against the replay.
    """
    import pandas as pd

    if method not in ("replay", "rank"):
        raise ValueError(
            f"encode_vocab: unknown method {method!r} (expected 'replay' or 'rank')"
        )
    merge_list = [(str(a), str(b)) for a, b in merges]
    ranks = encode_ranks(merge_list) if method == "rank" else None
    out_fields = [f for f in words_df.schema.fields]
    schema = words_df.withColumn("pieces", F.array().cast("array<string>")).schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # positional arrays, never the input Series: a non-default
            # index misaligns the pd.DataFrame ctor
            words = pdf[word_column].to_numpy()
            if ranks is None:
                pieces = [encode_word_py(w, merge_list) for w in words]
            else:
                pieces = [encode_word_rank(w, ranks) for w in words]
            out = {f.name: pdf[f.name].to_numpy() for f in out_fields}
            out["pieces"] = pieces
            yield pd.DataFrame(out)

    return words_df.mapInPandas(run, schema=schema)


def bpe_encode_counts(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Per-document BPE stats: ``(id, n_words, n_pieces)``. The corpus
    explodes to (id, word) rows JVM-side, joins the Arrow-encoded
    DISTINCT vocabulary on the word key (AQE broadcasts the vocab side
    while it is small; beyond the threshold it is a plain shuffle join
    on a high-cardinality key — the right plan at that size), then one
    hash aggregate back to documents. Documents with zero words are
    preserved with zero counts via the pre-aggregated left join."""
    doc_words = df.select(
        F.col(id_column), F.explode(words_col(F.col(text_column))).alias("word")
    )
    vocab = doc_words.select("word").distinct()
    encoded = encode_vocab(vocab, merges).select(
        "word", F.size("pieces").alias("n_pieces_word")
    )
    per_doc = (
        doc_words.join(encoded, "word")
        .groupBy(id_column)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces_word").alias("n_pieces"),
        )
    )
    return (
        df.select(id_column)
        .join(per_doc, id_column, "left")
        .select(
            F.col(id_column),
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_pieces", F.lit(0)).cast("long").alias("n_pieces"),
        )
    )


# --------------------------------------------------------------------------
# Merge-table persistence (tokenizer artifact management)
# --------------------------------------------------------------------------

_MERGES_FORMAT_VERSION = 1


def save_merges(spark, merges: Sequence[tuple[str, str]], path: str) -> None:
    """Persist a trained merge table as a tiny rank-ordered parquet
    dataset with embedded build metadata (format version + the word
    pattern and EOW marker the table was trained under), so a
    mismatched tokenizer artifact FAILS LOUDLY at load instead of
    silently mis-encoding — the same metadata-guard contract as the
    near-dedup / ANN incremental indexes."""
    rows = [
        (i, str(a), str(b), _MERGES_FORMAT_VERSION, WORD_PATTERN, EOW)
        for i, (a, b) in enumerate(merges)
    ]
    df = spark.createDataFrame(
        rows,
        "rank bigint, a string, b string, __version int, "
        "__word_pattern string, __eow string",
    )
    # one file: the table is vocab-merge-sized (<= tens of thousands of
    # rows), and a single ordered file keeps the artifact atomic
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_merges(spark, path: str) -> list[tuple[str, str]]:
    """Load a merge table saved by :func:`save_merges`, validating the
    embedded metadata against this module's constants."""
    df = spark.read.parquet(path)
    expected = {"rank", "a", "b", "__version", "__word_pattern", "__eow"}
    if set(df.columns) != expected:
        raise ValueError(
            f"load_merges: {path} is not a merge table (columns {df.columns})"
        )
    rows = df.orderBy("rank").collect()
    for r in rows[:1]:
        if r["__version"] != _MERGES_FORMAT_VERSION:
            raise ValueError(
                f"load_merges: format version {r['__version']} != "
                f"{_MERGES_FORMAT_VERSION}"
            )
        if r["__word_pattern"] != WORD_PATTERN or r["__eow"] != EOW:
            raise ValueError(
                "load_merges: merge table was trained under a different "
                f"tokenization base (pattern={r['__word_pattern']!r}, "
                f"eow={r['__eow']!r}) — re-train or use the matching module"
            )
    ranks = [int(r["rank"]) for r in rows]
    if ranks != list(range(len(rows))):
        raise ValueError(f"load_merges: non-contiguous ranks in {path}")
    return [(r["a"], r["b"]) for r in rows]
