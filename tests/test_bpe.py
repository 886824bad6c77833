"""BPE tokenizer tests: trainer-path equivalence, the delimited-replace
merge semantics (including the false-match class the wrapped
representation exists to prevent), an independent tuple-level referee
for the string-replace trainer, and encode/roundtrip invariants."""

import random
import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark_unload_to_gcs_spark.operators import bpe
from pyspark_unload_to_gcs_spark.operators.bpe import (
    EOW,
    bpe_encode_counts,
    bpe_train,
    bpe_train_distributed,
    encode_word_py,
    merge_word,
    seed_symbols,
    train_merges_py,
    unwrap_symbols,
    word_counts,
    wrap_symbols,
)


# --------------------------------------------------------------------------
# merge_word: delimiter-wrapped literal replace == symbol-level greedy merge
# --------------------------------------------------------------------------


def test_merge_word_basic():
    assert merge_word(wrap_symbols(["a", "b"]), "a", "b") == wrap_symbols(["ab"])


def test_merge_word_no_false_match_on_symbol_suffix():
    """A bare a+SEP+b pattern would match inside ['xa','b'] (the 'a'
    suffix of 'xa' followed by 'b') — the wrapped representation must
    not."""
    state = wrap_symbols(["xa", "b"])
    assert merge_word(state, "a", "b") == state


def test_merge_word_no_false_match_on_symbol_prefix():
    """...nor when b is a PREFIX of a longer symbol (['a','bc'] vs
    merge (a,b))."""
    state = wrap_symbols(["a", "bc"])
    assert merge_word(state, "a", "b") == state


def test_merge_word_overlap_is_greedy_left_to_right():
    assert merge_word(wrap_symbols(["a", "a", "a"]), "a", "a") == wrap_symbols(
        ["aa", "a"]
    )


def test_merge_word_adjacent_occurrences_both_merge():
    """[a,b,a,b] must become [ab,ab] — a single-separator boundary
    representation would consume the shared separator and miss the
    second occurrence."""
    assert merge_word(wrap_symbols(["a", "b", "a", "b"]), "a", "b") == wrap_symbols(
        ["ab", "ab"]
    )


def test_wrap_unwrap_roundtrip():
    parts = ["l", "o", "w", EOW]
    assert unwrap_symbols(wrap_symbols(parts)) == parts
    assert unwrap_symbols("") == []


# --------------------------------------------------------------------------
# Independent referee: tuple-level recount-from-scratch trainer
# --------------------------------------------------------------------------


def referee_train(vocab, num_merges, min_pair_count=1):
    """Naive BPE: symbol TUPLES (no string representation at all),
    full pair recount each round, explicit greedy left-to-right merge
    walk — an implementation that shares no code or representation
    with the delimited-replace trainer."""
    sym = {w: tuple(list(w) + [EOW]) for w in vocab}
    merges = []
    for _ in range(num_merges):
        counts = {}
        for w, wt in vocab.items():
            s = sym[w]
            for p in zip(s, s[1:]):
                counts[p] = counts.get(p, 0) + wt
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        if counts[best] < min_pair_count:
            break
        merges.append(best)
        a, b = best
        for w, s in sym.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            sym[w] = tuple(out)
    return merges, sym


WORDS = st.text(alphabet="ab0", min_size=1, max_size=8)


@settings(max_examples=60, deadline=None)
@given(
    vocab=st.dictionaries(WORDS, st.integers(min_value=1, max_value=9), min_size=1, max_size=12),
    k=st.integers(min_value=1, max_value=20),
)
def test_trainer_matches_referee(vocab, k):
    """The tiny 'ab0' alphabet maximizes pair collisions, overlap runs
    (aaaa...) and count ties — the adversarial tail for both the
    incremental index updates and the replace semantics."""
    assert train_merges_py(vocab, k) == referee_train(vocab, k)[0]


@settings(max_examples=30, deadline=None)
@given(
    vocab=st.dictionaries(WORDS, st.integers(min_value=1, max_value=9), min_size=1, max_size=10),
    k=st.integers(min_value=1, max_value=12),
)
def test_encode_matches_referee_final_states(vocab, k):
    """encode_word_py(word, merges) must equal the referee's final
    symbol state for every training word — the invariant that lets the
    bpe_tokenize_counts oracle reuse the training replay."""
    merges, final = referee_train(vocab, k)
    for w in vocab:
        assert tuple(encode_word_py(w, merges)) == final[w]


def test_trainer_tie_break_is_lexicographic():
    # both pairs occur exactly once; (a,b) < (b,c)
    vocab = {"ab": 1, "bc": 1}
    merges = train_merges_py(vocab, 1)
    assert merges == [("a", "b")]


def test_trainer_min_pair_count_stops():
    vocab = {"ab": 1}
    assert train_merges_py(vocab, 5, min_pair_count=2) == []


def test_trainer_with_counts():
    vocab = {"ab": 3, "abab": 2}  # hmm: 'abab' seeds a,b,a,b
    merges = train_merges_py(vocab, 1, with_counts=True)
    # pair (a,b): 'ab' contributes 3, 'abab' contributes 2*2
    assert merges == [("a", "b", 7)]


def test_roundtrip_random_words():
    rng = random.Random(7)
    vocab = {
        "".join(rng.choice("abcde01") for _ in range(rng.randint(1, 10))): rng.randint(1, 5)
        for _ in range(40)
    }
    merges = train_merges_py(vocab, 30)
    for w in vocab:
        pieces = encode_word_py(w, merges)
        assert "".join(pieces) == w + EOW


# --------------------------------------------------------------------------
# Spark paths
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_distributed_trainer_matches_driver_trainer(spark, docs):
    wc = word_counts(docs, "text")
    vocab = {r["word"]: int(r["weight"]) for r in wc.collect()}
    k = 12
    assert bpe_train_distributed(wc, k, checkpoint_every=4) == train_merges_py(vocab, k)


def test_distributed_trainer_with_counts_matches(spark, docs):
    wc = word_counts(docs, "text")
    vocab = {r["word"]: int(r["weight"]) for r in wc.collect()}
    assert bpe_train_distributed(wc, 6, with_counts=True) == train_merges_py(
        vocab, 6, with_counts=True
    )


def test_bpe_train_gate_routes_small_vocab_to_driver(spark, docs):
    """Under the gate both entries agree; forcing the gate to 0 takes
    the distributed path and must give the same merges."""
    gated = bpe_train(docs, num_merges=8)
    forced = bpe_train(docs, num_merges=8, driver_vocab_limit=0)
    assert gated == forced


def test_encode_counts_preserves_empty_docs(spark):
    merges = [("a", "b")]
    df = spark.createDataFrame(
        [(1, "ab ab xy"), (2, ""), (3, "...!!!")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: (r["n_words"], r["n_pieces"])
        for r in bpe_encode_counts(df, merges, "text", "doc_id").collect()
    }
    # 'ab' -> [ab, </w>] = 2 pieces; 'xy' -> [x, y, </w>] = 3
    assert rows == {1: (3, 7), 2: (0, 0), 3: (0, 0)}


def test_encode_counts_matches_python_referee(spark, docs):
    merges = bpe_train(docs, num_merges=10)
    got = {
        r["doc_id"]: (r["n_words"], r["n_pieces"])
        for r in bpe_encode_counts(docs, merges, "text", "doc_id").collect()
    }
    import re

    for row in docs.select("doc_id", "text").collect():
        words = [w for w in re.split(r"[^a-z0-9]+", (row["text"] or "").lower()) if w]
        n_pieces = sum(len(encode_word_py(w, merges)) for w in words)
        assert got[row["doc_id"]] == (len(words), n_pieces)


# --------------------------------------------------------------------------
# Min-rank encoder (production path) and merge persistence
# --------------------------------------------------------------------------


from pyspark_unload_to_gcs_spark.operators.bpe import (  # noqa: E402
    encode_ranks,
    encode_word_rank,
    load_merges,
    save_merges,
)


@settings(max_examples=60, deadline=None)
@given(
    vocab=st.dictionaries(WORDS, st.integers(min_value=1, max_value=9), min_size=1, max_size=12),
    k=st.integers(min_value=1, max_value=20),
    probe=WORDS,
)
def test_rank_encoder_matches_replay_on_trained_tables(vocab, k, probe):
    """On a table produced by actual training, the min-rank loop must
    equal the in-order replay — for every training word AND for
    out-of-vocabulary probes over the same alphabet."""
    merges = train_merges_py(vocab, k)
    ranks = encode_ranks(merges)
    for w in list(vocab) + [probe]:
        assert encode_word_rank(w, ranks) == encode_word_py(w, merges)


def test_encode_ranks_rejects_duplicate_outputs():
    with pytest.raises(ValueError, match="ambiguous"):
        encode_ranks([("a", "bc"), ("ab", "c")])


def test_encode_ranks_tolerates_repeated_identical_merge():
    # a literally repeated entry is harmless (first rank wins)
    ranks = encode_ranks([("a", "b"), ("a", "b")])
    assert ranks == {("a", "b"): 0}


def test_encode_vocab_rank_method_matches_replay(spark, docs):
    from pyspark_unload_to_gcs_spark.operators.bpe import encode_vocab

    merges = bpe_train(docs, num_merges=10)
    wc = word_counts(docs, "text")
    a = {
        r["word"]: r["pieces"]
        for r in encode_vocab(wc.select("word"), merges, method="replay").collect()
    }
    b = {
        r["word"]: r["pieces"]
        for r in encode_vocab(wc.select("word"), merges, method="rank").collect()
    }
    assert a == b


def test_encode_vocab_rejects_unknown_method(spark):
    from pyspark_unload_to_gcs_spark.operators.bpe import encode_vocab

    df = spark.createDataFrame([("x",)], "word string")
    with pytest.raises(ValueError, match="unknown method"):
        encode_vocab(df, [], method="heap")


def test_save_load_merges_roundtrip(spark, docs, tmp_path):
    merges = bpe_train(docs, num_merges=8)
    path = str(tmp_path / "merges")
    save_merges(spark, merges, path)
    assert load_merges(spark, path) == merges


def test_load_merges_rejects_foreign_parquet(spark, tmp_path):
    path = str(tmp_path / "not_merges")
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(path)
    with pytest.raises(ValueError, match="not a merge table"):
        load_merges(spark, path)


def test_load_merges_rejects_mismatched_tokenization_base(spark, tmp_path):
    path = str(tmp_path / "merges_badmeta")
    spark.createDataFrame(
        [(0, "a", "b", 1, "[^a-z]+", "</w>")],
        "rank bigint, a string, b string, __version int, "
        "__word_pattern string, __eow string",
    ).write.parquet(path)
    with pytest.raises(ValueError, match="different .* tokenization|tokenization base"):
        load_merges(spark, path)


def test_bpe_oracle_survives_training_exhaustion(spark):
    """If training exhausts before _BPE_MERGES merges (degenerate
    corpus), the unrolled replay's per-step CTE must become a no-op —
    an unguarded CROSS JOIN against the empty top-1 frame would delete
    every word state and zero the counts (review finding). The corpus
    here supports only 3 merges; both BPE oracles must still match."""
    import duckdb
    import pandas as pd

    from pyspark_unload_to_gcs_spark.operators.bpe import bpe_encode_counts, bpe_train
    from pyspark_unload_to_gcs_spark.registry_pipeline import (
        _BPE_COUNTS_SQL,
        _BPE_TRAIN_SQL,
    )
    from tests.oracle_harness import assert_matches

    rows = [(1, "ab ab"), (2, "ab"), (3, "")]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    docs = spark.createDataFrame(pdf)

    merges = bpe_train(docs, num_merges=8, with_counts=True)
    # exhausts after (a,b) then (ab,</w>): every word is one symbol
    assert len(merges) == 2
    merge_rows = [(i + 1, a, b, int(c)) for i, (a, b, c) in enumerate(merges)]
    train_df = spark.createDataFrame(
        merge_rows, "rank bigint, a string, b string, pair_count bigint"
    )
    assert_matches(train_df, con, _BPE_TRAIN_SQL, name="bpe_train_exhausted")

    counts = bpe_encode_counts(docs, [(a, b) for a, b, _ in merges])
    assert_matches(counts, con, _BPE_COUNTS_SQL, name="bpe_counts_exhausted")
    con.close()
