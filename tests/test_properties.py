"""Property-based tests (hypothesis) for the pure-Python cores and the
snapshot-diff CDC operator's invariants."""

from datetime import datetime, timezone

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark_unload_to_gcs_spark.operators.graph import _driver_union_find
from pyspark_unload_to_gcs_spark.timeutil import datetime_to_ms, ms_to_datetime


# --- timeutil round trips ----------------------------------------------------


@given(st.integers(min_value=0, max_value=4102444800000))  # 1970..2100
def test_ms_datetime_roundtrip(ms):
    assert datetime_to_ms(ms_to_datetime(ms)) == ms


@given(st.datetimes(min_value=datetime(1970, 1, 1), max_value=datetime(2100, 1, 1)))
def test_datetime_ms_truncates_sub_ms(dt):
    """Reference semantics (export.py:14-16, asserted in its tests):
    int() truncation of sub-millisecond precision."""
    dt = dt.replace(tzinfo=timezone.utc)
    ms = datetime_to_ms(dt)
    back = ms_to_datetime(ms)
    assert 0 <= (dt - back).total_seconds() < 0.001


# --- union-find vs brute-force closure ---------------------------------------


@st.composite
def edge_lists(draw):
    n_nodes = draw(st.integers(min_value=2, max_value=20))
    n_edges = draw(st.integers(min_value=1, max_value=40))
    return [
        (
            draw(st.integers(min_value=0, max_value=n_nodes - 1)),
            draw(st.integers(min_value=0, max_value=n_nodes - 1)),
        )
        for _ in range(n_edges)
    ]


def _brute_components(edges):
    nodes = {x for e in edges for x in e}
    comp = {x: x for x in nodes}
    changed = True
    while changed:
        changed = False
        for u, v in edges:
            lo = min(comp[u], comp[v])
            if comp[u] != lo or comp[v] != lo:
                comp[u] = comp[v] = lo
                changed = True
        # propagate: component of my representative
        for x in nodes:
            if comp[comp[x]] < comp[x]:
                comp[x] = comp[comp[x]]
                changed = True
    return comp


@settings(max_examples=200, deadline=None)
@given(edge_lists())
def test_union_find_matches_brute_force(edges):
    edges = [(u, v) for u, v in edges if u != v]
    if not edges:
        return
    got = dict(_driver_union_find(edges))
    assert got == _brute_components(edges)


# --- snapshot-diff CDC invariants ---------------------------------------------


@pytest.fixture(scope="module")
def snap(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 31.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    return old, new


def test_snapshot_diff_classifies(spark, snap):
    from pyspark_unload_to_gcs_spark.operators.cdc import snapshot_diff

    old, new = snap
    rows = {(r._mp_change_type, r.k): (r.s, r.v) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert rows == {
        ("DELETE", 1): ("a", 10.0),   # removed
        ("DELETE", 3): ("c", 30.0),   # update preimage
        ("INSERT", 3): ("c", 31.0),   # update postimage
        ("INSERT", 4): ("d", 40.0),   # added
    }


def test_snapshot_diff_identity_is_empty(spark, snap):
    from pyspark_unload_to_gcs_spark.operators.cdc import snapshot_diff

    old, _ = snap
    assert snapshot_diff(old, old, ["k"]).count() == 0


def test_snapshot_diff_apply_reconstructs_new(spark, snap):
    """Metamorphic closure: old - DELETEs + INSERTs == new."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.cdc import snapshot_diff

    old, new = snap
    diff = snapshot_diff(old, new, ["k"])
    deletes = diff.filter(F.col("_mp_change_type") == "DELETE").drop("_mp_change_type")
    inserts = diff.filter(F.col("_mp_change_type") == "INSERT").drop("_mp_change_type")
    rebuilt = old.exceptAll(deletes).unionByName(inserts)
    assert rebuilt.exceptAll(new).count() == 0
    assert new.exceptAll(rebuilt).count() == 0


def test_snapshot_diff_compares_columns_not_a_row_hash(spark):
    """A '|'-joined string hash with a NULL sentinel collides on keys 1
    and 2; the null-safe column compare sees both. Map columns compare
    through to_json (``<=>`` on a MAP does not analyze)."""
    from pyspark_unload_to_gcs_spark.operators.cdc import snapshot_diff

    schema = "k long, s string, t string, m map<string,int>"
    old = spark.createDataFrame(
        [
            (1, "a|b", "c", {"x": 1}),
            (2, "\x00", "z", {"x": 1}),
            (3, "p", "q", {"x": 1}),
            (4, "p", "q", {"x": 1}),
            (5, "p", "q", {"x": 1}),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            (1, "a", "b|c", {"x": 1}),  # separator moved between columns
            (2, None, "z", {"x": 1}),  # the NULL sentinel's own string
            (3, "p", "r", {"x": 1}),  # plain change
            (4, "p", "q", {"x": 2}),  # map changed
            (5, "p", "q", {"x": 1}),  # unchanged, map included
        ],
        schema,
    )
    rows = snapshot_diff(old, new, ["k"]).collect()
    assert sorted((r._mp_change_type, r.k) for r in rows) == [
        ("DELETE", 1), ("DELETE", 2), ("DELETE", 3), ("DELETE", 4),
        ("INSERT", 1), ("INSERT", 2), ("INSERT", 3), ("INSERT", 4),
    ]
    post = {r.k: (r.s, r.t, r.m) for r in rows if r._mp_change_type == "INSERT"}
    assert post[1] == ("a", "b|c", {"x": 1})
    assert post[2] == (None, "z", {"x": 1})
    assert post[4] == ("p", "q", {"x": 2})


def test_snapshot_diff_schema_mismatch_raises(spark, snap):
    from pyspark_unload_to_gcs_spark.operators.cdc import snapshot_diff

    old, _ = snap
    with pytest.raises(ValueError, match="schemas differ"):
        snapshot_diff(old, old.withColumnRenamed("v", "w"), ["k"])


# --- temperature weights (pure-math core driven through Spark) ---------------


@st.composite
def source_counts(draw):
    n_sources = draw(st.integers(min_value=1, max_value=6))
    return draw(
        st.lists(
            st.integers(min_value=1, max_value=500),
            min_size=n_sources,
            max_size=n_sources,
        )
    )


@pytest.mark.usefixtures("spark")
@settings(max_examples=8, deadline=None)
@given(counts=source_counts())
def test_temperature_weights_invariants(spark, counts):
    """For any source-size profile: weights sum to ~1, each weight is
    positive, and ordering by weight matches ordering by count (n^alpha
    is monotone)."""
    from pyspark_unload_to_gcs_spark.operators.sampling import temperature_weights

    rows = [(f"s{si}", i) for si, c in enumerate(counts) for i in range(c)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    w = {r.source: r.weight for r in temperature_weights(df, "source").collect()}
    assert abs(sum(w.values()) - 1.0) < 1e-6
    assert all(v > 0 for v in w.values())
    by_count = sorted(range(len(counts)), key=lambda i: counts[i])
    by_weight = sorted(range(len(counts)), key=lambda i: w[f"s{i}"])
    # monotone up to exact ties in counts
    for a, b in zip(by_count, by_weight):
        assert counts[a] == counts[b] or a == b


def test_length_bucketed_batches_invariants(spark):
    """Buckets are monotone in n_tokens; every batch holds at most
    batch_size rows; ids partition exactly (no dup/loss)."""
    from pyspark_unload_to_gcs_spark.operators.text import length_bucketed_batches

    rows = [(i, "tok " * (i % 300)) for i in range(1, 401)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = length_bucketed_batches(df, batch_size=16).collect()
    assert sorted(r.doc_id for r in out) == list(range(1, 401))
    from collections import Counter

    per_batch = Counter((r.bucket, r.batch_id) for r in out)
    assert max(per_batch.values()) <= 16
    # bucket is a nondecreasing step function of n_tokens
    by_tok = sorted(out, key=lambda r: r.n_tokens)
    for a, b in zip(by_tok, by_tok[1:]):
        assert a.bucket <= b.bucket
