"""Unit tests for core operators on small in-memory frames, including the
reference-quirk compat flags (SURVEY.md §7 risk list)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.cdc import (
    change_type_mapping,
    snapshot_as_inserts,
)
from pyspark_unload_to_gcs_spark.operators.filters import non_null_filter, time_window_filter
from pyspark_unload_to_gcs_spark.operators.guards import RowCountExceededError, row_count_guard
from pyspark_unload_to_gcs_spark.operators.hashing import content_hash, hashed_columns
from pyspark_unload_to_gcs_spark.operators.scd import latest_per_group, latest_per_group_maxby


# --- non_null_filter (P4) ---------------------------------------------------


def test_non_null_filter_drops_null_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "")], "id long, email string"
    )
    out = non_null_filter(df, ["email"]).collect()
    assert [r.id for r in out] == [1]


def test_non_null_filter_empty_list_is_identity(spark):
    df = spark.createDataFrame([(1, "a")], "id long, email string")
    assert non_null_filter(df, []).count() == 1
    assert non_null_filter(df, [""]).count() == 1


def test_non_null_filter_multi_column_and(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", ""), (3, None, "z")], "id long, a string, b string"
    )
    assert [r.id for r in non_null_filter(df, ["a", "b"]).collect()] == [1]


def test_non_null_filter_non_string_column_gets_null_check_only(spark):
    # comparing an int column with '' casts the empty string, which
    # fails with CAST_INVALID_INPUT under ANSI mode
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, None, "b"), (3, 0, "")], "id long, n int, s string"
    )
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        assert sorted(r.id for r in non_null_filter(df, ["n"]).collect()) == [1, 3]
        assert [r.id for r in non_null_filter(df, ["N", "s"]).collect()] == [1]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


# --- time_window_filter (P5-P7): sargable == compat -------------------------


@pytest.fixture(scope="module")
def ts_df(spark):
    rows = [
        (1, datetime(2024, 3, 1, 0, 0, 0)),      # exactly at cutoff second
        (2, datetime(2024, 2, 29, 23, 59, 59)),  # below
        (3, datetime(2024, 6, 1, 12, 0, 0, 500000)),   # inside
        (4, datetime(2024, 9, 30, 0, 0, 0, 999000)),   # upper bound second
        (5, datetime(2024, 9, 30, 0, 0, 1)),      # above upper
    ]
    return spark.createDataFrame(rows, "id long, ts timestamp")


@pytest.mark.parametrize("sargable", [True, False])
def test_time_window_filter_bounds(ts_df, sargable):
    out = time_window_filter(
        ts_df,
        "ts",
        time_cutoff_ms=1709251200000,  # 2024-03-01T00:00:00Z
        now_ms=1727740800000,          # 2024-10-01
        delay_ms=86400000,             # upper = 2024-09-30T00:00:00 (second granularity)
        sargable=sargable,
    )
    assert sorted(r.id for r in out.collect()) == [1, 3, 4]


@pytest.mark.parametrize("sargable", [True, False])
def test_time_window_no_upper_when_delay_zero(ts_df, sargable):
    out = time_window_filter(ts_df, "ts", time_cutoff_ms=0, now_ms=123, delay_ms=0, sargable=sargable)
    assert out.count() == 5


def test_sargable_filter_pushes_down(ts_df):
    plan = time_window_filter(
        ts_df, "ts", time_cutoff_ms=1709251200000
    )._jdf.queryExecution().executedPlan().toString()
    # bare column comparison (no unix_timestamp wrapper) => pushable
    assert "unix_timestamp" not in plan


# --- latest_per_group (W1+P8) ------------------------------------------------


@pytest.fixture(scope="module")
def scd_df(spark):
    rows = [
        (1, 10, datetime(2024, 1, 1), "v1"),
        (2, 10, datetime(2024, 2, 1), "v2"),
        (3, 20, datetime(2024, 1, 15), "w1"),
        (4, 20, datetime(2024, 1, 15), "w2"),  # tie on time -> id desc wins
    ]
    return spark.createDataFrame(rows, "id long, gid long, t timestamp, v string")


def test_latest_per_group(scd_df):
    out = {r.gid: r.v for r in latest_per_group(scd_df, "gid", "t", ["id"]).collect()}
    assert out == {10: "v2", 20: "w2"}
    assert "row_num" not in latest_per_group(scd_df, "gid", "t").columns


def test_latest_per_group_rank_leak_compat(scd_df):
    # reference leaks row_num into output (export.py:180-185)
    out = latest_per_group(scd_df, "gid", "t", ["id"], keep_rank_column=True)
    assert "row_num" in out.columns
    assert all(r.row_num == 1 for r in out.collect())


def test_latest_per_group_maxby_matches_window(scd_df):
    a = latest_per_group(scd_df, "gid", "t", ["id"]).orderBy("gid").collect()
    b = latest_per_group_maxby(scd_df, "gid", "t", ["id"]).orderBy("gid").collect()
    assert a == b


# --- content_hash ------------------------------------------------------------


def test_content_hash_column_order_invariant(spark):
    df1 = spark.createDataFrame([(1, "a")], "x long, y string")
    df2 = df1.select("y", "x")  # different column order, same content
    h1 = content_hash(df1, "h").select("h").first()[0]
    h2 = content_hash(df2, "h").select("h").first()[0]
    assert h1 == h2  # struct is name-sorted before hashing


def test_content_hash_ignore_membership_vs_substring_bug(spark):
    df = spark.createDataFrame([(1, 2, "e")], "id long, user_id long, email string")
    # intended semantics: ignoring user_id keeps id in the hash
    cols = hashed_columns(df.columns, ["user_id"])
    assert cols == ["email", "id"]
    # reference bug compat: 'id' matches substring of 'user_id' and is
    # wrongly excluded (export.py:208)
    cols_bug = hashed_columns(df.columns, ["user_id"], ignore_substring_compat=True)
    assert cols_bug == ["email"]


def test_content_hash_empty_output_col_is_identity(spark):
    df = spark.createDataFrame([(1,)], "id long")
    assert content_hash(df, "").columns == ["id"]


def test_content_hash_nested_types_json(spark):
    df = spark.createDataFrame(
        [(1, {"a": 1, "b": ["x", "y"]})], "id long, nested struct<a:long, b:array<string>>"
    )
    out = content_hash(df, "h")
    v = out.select("h").first()[0]
    assert len(v) == 32  # md5 hex


def test_content_hash_concat_null_vs_empty_distinct(spark):
    df = spark.createDataFrame([(None,), ("",)], "s string")
    hashes = [r.h for r in content_hash(df, "h", method="concat").collect()]
    assert hashes[0] != hashes[1]  # NULL sentinel != empty string


# --- cdc mapping -------------------------------------------------------------


def test_change_type_mapping_all_kinds(spark):
    df = spark.createDataFrame(
        [("insert", 1), ("update_preimage", 2), ("update_postimage", 3), ("delete", 4), ("garbage", 5)],
        "_change_type string, id long",
    )
    out = {r.id: r._mp_change_type for r in change_type_mapping(df).collect()}
    assert out == {1: "INSERT", 2: "DELETE", 3: "INSERT", 4: "DELETE", 5: "DELETE"}
    # output column is first (reference emits it before *)
    assert change_type_mapping(df).columns[0] == "_mp_change_type"


def test_snapshot_as_inserts(spark):
    df = spark.createDataFrame([(1,)], "id long")
    out = snapshot_as_inserts(df).collect()
    assert out[0]._mp_change_type == "INSERT"


# --- guards ------------------------------------------------------------------


def test_row_count_guard_disabled(spark):
    df = spark.range(100)
    assert row_count_guard(df, 0) == -1


def test_row_count_guard_passes(spark):
    assert row_count_guard(spark.range(5), 10) == 5


def test_row_count_guard_raises(spark):
    with pytest.raises(RowCountExceededError):
        row_count_guard(spark.range(100), 10)


def test_weighted_mix_rates_and_nesting(spark, sf_dir):
    from pyspark_unload_to_gcs_spark.operators.sampling import weighted_mix
    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet
    import os

    docs = load_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    out = weighted_mix(docs, "source", rates, "doc_id", default_rate=0.2)
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["src0"] == total["src0"]          # rate 1.0 keeps ALL rows
    assert "src2" not in counts                     # rate 0.0 drops all
    assert 0 < counts["src1"] < total["src1"]
    # nesting: raising a rate only ADDS rows (no re-roll)
    lo = set(r.doc_id for r in weighted_mix(docs, "source", {"src1": 0.3}, "doc_id").collect())
    hi = set(r.doc_id for r in weighted_mix(docs, "source", {"src1": 0.6}, "doc_id").collect())
    assert lo <= hi
    # determinism across invocations
    again = set(r.doc_id for r in weighted_mix(docs, "source", {"src1": 0.3}, "doc_id").collect())
    assert lo == again


def test_split_threshold_hex_boundaries():
    from pyspark_unload_to_gcs_spark.operators.sampling import split_threshold_hex

    assert split_threshold_hex(0.0) == "0000"
    assert split_threshold_hex(0.5) == "8000"
    assert split_threshold_hex(1.0) == "g"      # sorts above every hex prefix
    assert split_threshold_hex(2.0) == "g"
    assert "ffff" < "g"


def test_constraint_gate_passes_and_fails(spark):
    import pytest

    from pyspark_unload_to_gcs_spark.operators.quality import (
        ConstraintViolation,
        Rules,
        validate_batch,
    )

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 7.5), (3, None, 9.9)],
        "id bigint, name string, score double",
    )
    # clean rules pass and return the profile row
    row = validate_batch(df, Rules(not_null=("id",), unique=("id",), min_rows=3,
                                   ranges={"score": (0.0, 10.0)}))
    assert row.n_rows == 3

    # every violated rule is reported, not just the first
    bad = Rules(not_null=("name",), unique=("name",), min_rows=10,
                ranges={"score": (6.0, 8.0)})
    with pytest.raises(ConstraintViolation) as exc:
        validate_batch(df, bad)
    msg = str(exc.value)
    assert "min_rows" in msg and "not_null[name]" in msg
    assert "range[score]: min" in msg and "range[score]: max" in msg

    # uniqueness counts duplicates over PRESENT values only
    dup = spark.createDataFrame([(1,), (1,), (None,)], "k bigint")
    with pytest.raises(ConstraintViolation) as exc2:
        validate_batch(dup, Rules(unique=("k",)))
    assert "unique[k]: 1 duplicate" in str(exc2.value)


def test_bm25_ranking_sanity(spark):
    from pyspark_unload_to_gcs_spark.operators.text import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),           # high tf for 'spark'
            (2, "spark engine with many other words diluting the term here now"),
            (3, "completely unrelated document text"),
            (4, "engine"),                              # rare-term-only doc
        ],
        "doc_id bigint, text string",
    )
    out = bm25_search(docs, ["spark", "engine"], top_k=4).collect()
    ranks = [r.doc_id for r in out]
    assert ranks[0] == 1          # highest tf, short doc wins
    assert 3 not in ranks         # no query terms -> no score row
    assert all(out[i].score >= out[i + 1].score for i in range(len(out) - 1))


def test_nanos_detection_ignores_spark_written_timestamps(spark, sf_dir, tmp_path):
    """Regression: Spark-written timestamp files (INT96 legacy or INT64
    micros) surface as timestamp[ns] in pyarrow's ARROW schema, but must
    NOT be treated as raw-nanos columns — only INT64 TIMESTAMP(NANOS)
    parquet logical types need the div-1000 conversion."""
    import os

    from pyspark_unload_to_gcs_spark.sources.catalog import (
        _nanos_timestamp_columns,
        load_parquet,
    )

    ev = load_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    out = str(tmp_path / "spark_written")
    ev.write.mode("overwrite").parquet(out)
    assert _nanos_timestamp_columns(out) == []
    back = load_parquet(spark, out)  # must not apply ns conversion
    assert back.count() == ev.count()
    # the driver fixture is native TIMESTAMP(MICROS) — not flagged either
    assert _nanos_timestamp_columns(os.path.join(sf_dir, "events.parquet")) == []
    # a true INT64 TIMESTAMP(NANOS) file IS detected and converted
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns_path = str(tmp_path / "nanos.parquet")
    table = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1704067200_000_000_001, 1704067200_123_456_789], pa.timestamp("ns")),
        }
    )
    pq.write_table(table, ns_path, store_schema=False)
    assert _nanos_timestamp_columns(ns_path) == ["ts"]
    got = load_parquet(spark, ns_path).orderBy("id").collect()
    # ns -> us truncation, read back as epoch-based TimestampType
    assert [r.ts.microsecond for r in got] == [0, 123456]


def test_temperature_mix_budget_and_determinism(spark, sf_dir):
    """temperature_mix selects ~target_rows with alpha-smoothed source
    proportions, deterministically (same rows on re-run), and never
    invents rows."""
    import os

    from pyspark_unload_to_gcs_spark.operators.sampling import (
        temperature_mix,
        temperature_weights,
    )
    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet

    docs = load_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    total = docs.count()
    target = total // 2
    out = temperature_mix(docs, "source", "doc_id", alpha=0.5, target_rows=target)
    n = out.count()
    # hash-prefix quantization (1/16^4) keeps selection within a few % of target
    assert abs(n - target) < max(20, target * 0.1)
    # deterministic: identical id set on re-run
    ids1 = {r.doc_id for r in out.select("doc_id").collect()}
    out2 = temperature_mix(docs, "source", "doc_id", alpha=0.5, target_rows=target)
    assert {r.doc_id for r in out2.select("doc_id").collect()} == ids1
    # subset of input
    assert n <= total
    # weights normalize to ~1 (fixture sources are uniform -> weight ==
    # natural share; the upweighting property needs skew, below)
    w = {r.source: (r.n_docs, r.weight) for r in temperature_weights(docs, "source").collect()}
    assert abs(sum(v[1] for v in w.values()) - 1.0) < 1e-6
    # skewed frame: alpha<1 upweights the small source above its natural share
    skew = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)], "doc_id long, source string"
    )
    ws = {r.source: r.weight for r in temperature_weights(skew, "source").collect()}
    assert abs(sum(ws.values()) - 1.0) < 1e-6
    assert ws["small"] > 100 / 1000
    assert ws["big"] < 900 / 1000


def test_chunk_dedup_removes_repeated_spans_keeps_order(spark):
    """Planted semantics: a 10-token span shared by two docs is cut from
    BOTH; unique spans survive and reassemble in original order; a doc
    that is pure boilerplate comes back empty (kept_chunks=0)."""
    from pyspark_unload_to_gcs_spark.operators.dedup import chunk_dedup

    boiler = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    u1 = "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"
    u2 = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    tail = "t0 t1 t2"  # short final chunk, unique
    rows = [
        (1, f"{u1} {boiler} {tail}"),
        (2, f"{boiler} {u2}"),
        (3, boiler),
        (4, "   "),  # blank text: excluded entirely
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.kept_chunks, r.clean_text)
           for r in chunk_dedup(df, "doc_id", "text").collect()}
    assert out[1] == (2, f"{u1} {tail}")   # boiler cut, order kept
    assert out[2] == (1, u2)
    assert out[3] == (0, "")               # pure boilerplate
    assert 4 not in out
    assert len(out) == 3

    # max_occurrences=3: the 3x span is now allowed everywhere
    out3 = {r.doc_id: r.kept_chunks
            for r in chunk_dedup(df, "doc_id", "text", max_occurrences=3).collect()}
    assert out3 == {1: 3, 2: 2, 3: 1}


def test_chunk_dedup_within_doc_repeat_counts_globally(spark):
    """Two copies of a span inside ONE doc count as 2 occurrences —
    both removed at max_occurrences=1 (C4 counts occurrences, not
    documents)."""
    from pyspark_unload_to_gcs_spark.operators.dedup import chunk_dedup

    span = "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9"
    df = spark.createDataFrame([(1, f"{span} {span}")], "doc_id long, text string")
    out = chunk_dedup(df, "doc_id", "text").collect()[0]
    assert out.kept_chunks == 0 and out.clean_text == ""


def _naive_budget(rows, budget):
    """Reference: global (quality desc, id asc) running total cut."""
    out, cum = {}, 0
    for did, q, nt in sorted(rows, key=lambda r: (-r[1], r[0])):
        cum += nt
        if cum > budget:
            break
        out[did] = cum
    return out


def test_token_budget_select_matches_naive_global_order(spark):
    from pyspark_unload_to_gcs_spark.operators.sampling import token_budget_select

    rows = [
        # (doc_id, quality, n_tokens) — several quality ties to force
        # mid-bucket cuts, distinct bucket offsets, an excluded bucket
        (1, 0.9, 10), (2, 0.9, 25), (3, 0.9, 5),
        (4, 0.7, 40), (5, 0.7, 40),
        (6, 0.5, 100), (7, 0.3, 1),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, quality double, n_tokens bigint")
    for budget in (5, 30, 40, 41, 79, 80, 81, 120, 1000):
        got = {
            r.doc_id: r.cum_tokens
            for r in token_budget_select(df, budget=budget).collect()
        }
        assert got == _naive_budget(rows, budget), f"budget={budget}"


def test_token_budget_select_exact_boundary_inclusive(spark):
    from pyspark_unload_to_gcs_spark.operators.sampling import token_budget_select

    df = spark.createDataFrame(
        [(1, 1.0, 7), (2, 0.5, 3)], "doc_id bigint, quality double, n_tokens bigint"
    )
    got = token_budget_select(df, budget=10).collect()
    assert {(r.doc_id, r.cum_tokens) for r in got} == {(1, 7), (2, 10)}


def test_token_budget_select_keeps_input_columns(spark):
    from pyspark_unload_to_gcs_spark.operators.sampling import token_budget_select

    df = spark.createDataFrame(
        [(1, 1.0, 7, "en")], "doc_id bigint, quality double, n_tokens bigint, lang string"
    )
    out = token_budget_select(df, budget=100)
    assert set(out.columns) == {"doc_id", "quality", "n_tokens", "lang", "cum_tokens"}


def test_rrf_fuse_missing_side_and_ties(spark):
    from pyspark_unload_to_gcs_spark.operators.similarity import rrf_fuse

    left = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "id bigint, rank int")
    right = spark.createDataFrame([(2, 1), (4, 2), (5, 3)], "id bigint, rank int")
    got = {r.id: (r.rank_left, r.rank_right, r.rrf) for r in
           rrf_fuse(left, right, id_column="id", k=60, top_k=10).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    # both-lists id wins
    assert got[2] == (2, 1, 1 / 62 + 1 / 61)
    # one-sided ids contribute only their own term
    assert got[1] == (1, None, 1 / 61)
    assert got[4] == (None, 2, 1 / 62)
    # equal-rrf tie (1@left-rank-1 vs absent, 2@... ) ordering is by id:
    # rank_left=3 and rank_right=3 give identical scores
    assert got[3] == (3, None, 1 / 63) and got[5] == (None, 3, 1 / 63)
    top2 = [r.id for r in rrf_fuse(left, right, id_column="id", top_k=2).collect()]
    assert top2 == [2, 1]


def test_rrf_fuse_batched_per_query_cut(spark):
    """query_column mode: fusion joins on (query, id), the top_k cut is
    PER QUERY, and each query's fusion matches what the single-query
    mode computes on its slice."""
    from pyspark_unload_to_gcs_spark.operators.similarity import rrf_fuse

    left = spark.createDataFrame(
        [("q1", 1, 1), ("q1", 2, 2), ("q2", 7, 1), ("q2", 8, 2), ("q2", 9, 3)],
        "q string, id bigint, rank int",
    )
    right = spark.createDataFrame(
        [("q1", 2, 1), ("q1", 3, 2), ("q2", 9, 1)],
        "q string, id bigint, rank int",
    )
    fused = rrf_fuse(
        left, right, id_column="id", query_column="q", k=60, top_k=2
    ).collect()
    by_q: dict = {}
    for r in fused:
        by_q.setdefault(r.q, []).append((r.id, r.rrf))
    # per-query top-2 (not a global cut): both queries keep 2 rows
    assert {q: len(v) for q, v in by_q.items()} == {"q1": 2, "q2": 2}
    for qn in ("q1", "q2"):
        single = rrf_fuse(
            left.filter(F.col("q") == qn),
            right.filter(F.col("q") == qn),
            id_column="id",
            k=60,
            top_k=2,
        ).collect()
        assert by_q[qn] == [(r.id, r.rrf) for r in single]


# --- apply_changes (MERGE, write-side CDC) ----------------------------------


@pytest.fixture()
def snap_pair(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, s string, v double"
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 25.0), (4, "d", 40.0)], "id long, s string, v double"
    )
    return old, new


def test_apply_changes_roundtrips_snapshot_diff(spark, snap_pair):
    from pyspark_unload_to_gcs_spark.operators.cdc import apply_changes, snapshot_diff

    old, new = snap_pair
    applied = apply_changes(old, snapshot_diff(old, new, ["id"]), ["id"])
    assert sorted(map(tuple, applied.collect())) == sorted(map(tuple, new.collect()))


def test_apply_changes_insert_only_and_delete_only(spark):
    from pyspark_unload_to_gcs_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame([(1, "a")], "id long, s string")
    ins = spark.createDataFrame([("INSERT", 2, "b")], "_mp_change_type string, id long, s string")
    dele = spark.createDataFrame([("DELETE", 1, "a")], "_mp_change_type string, id long, s string")
    assert sorted(r.id for r in apply_changes(snap, ins, ["id"]).collect()) == [1, 2]
    assert apply_changes(snap, dele, ["id"]).count() == 0


def test_apply_changes_upsert_replaces_existing_key(spark):
    from pyspark_unload_to_gcs_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame([(1, "old")], "id long, s string")
    batch = spark.createDataFrame(
        [("DELETE", 1, "old"), ("INSERT", 1, "new")],
        "_mp_change_type string, id long, s string",
    )
    assert [tuple(r) for r in apply_changes(snap, batch, ["id"]).collect()] == [(1, "new")]


def test_apply_changes_rejects_missing_columns(spark):
    from pyspark_unload_to_gcs_spark.operators.cdc import apply_changes

    snap = spark.createDataFrame([(1, "a")], "id long, s string")
    bad = spark.createDataFrame([("INSERT", 1)], "_mp_change_type string, id long")
    with pytest.raises(ValueError, match="lacks snapshot columns"):
        apply_changes(snap, bad, ["id"])


# --- scd2_intervals ---------------------------------------------------------


@pytest.fixture()
def scd2_df(spark):
    rows = [
        (1, 10, datetime(2024, 1, 1)),
        (2, 10, datetime(2024, 1, 5)),
        (3, 10, datetime(2024, 1, 3)),
        (4, 20, datetime(2024, 2, 1)),
    ]
    return spark.createDataFrame(rows, "id long, gid long, t timestamp")


def test_scd2_intervals_tile_per_key(spark, scd2_df):
    from pyspark_unload_to_gcs_spark.operators.scd import scd2_intervals

    out = scd2_intervals(scd2_df, "gid", "t", ["id"]).collect()
    by_id = {r.id: r for r in out}
    # key 10 ordered by t: id 1 -> id 3 -> id 2
    assert by_id[1].valid_to == by_id[3].valid_from
    assert by_id[3].valid_to == by_id[2].valid_from
    assert by_id[2].valid_to is None and by_id[2].is_current
    assert by_id[4].valid_to is None and by_id[4].is_current
    assert not by_id[1].is_current and not by_id[3].is_current
    for r in out:
        assert r.valid_from is not None
        assert r.valid_to is None or r.valid_to >= r.valid_from


def test_scd2_current_rows_equal_latest_per_group(spark, scd2_df):
    from pyspark_unload_to_gcs_spark.operators.scd import scd2_intervals

    cur = (
        scd2_intervals(scd2_df, "gid", "t", ["id"])
        .filter("is_current")
        .select("id", "gid", "t")
    )
    latest = latest_per_group(scd2_df, "gid", "t", ["id"])
    assert sorted(map(tuple, cur.collect())) == sorted(map(tuple, latest.collect()))


def test_scd2_equal_timestamps_use_tiebreak(spark):
    from pyspark_unload_to_gcs_spark.operators.scd import scd2_intervals

    t = datetime(2024, 1, 1)
    df = spark.createDataFrame([(1, 10, t), (2, 10, t)], "id long, gid long, t timestamp")
    by_id = {r.id: r for r in scd2_intervals(df, "gid", "t", ["id"]).collect()}
    assert not by_id[1].is_current and by_id[2].is_current
    assert by_id[1].valid_to == t


# --- adjacent_pairs (BPE pair statistic) ------------------------------------


def test_adjacent_pairs_basic_and_short_arrays(spark):
    from pyspark_unload_to_gcs_spark.operators.text import adjacent_pairs

    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["x"]), (3, []), (4, ["p", "q"])],
        "id long, toks array<string>",
    )
    out = {r.id: [(p.a, p.b) for p in r.pairs] for r in
           df.select("id", adjacent_pairs(F.col("toks")).alias("pairs")).collect()}
    assert out == {1: [("a", "b"), ("b", "c")], 2: [], 3: [], 4: [("p", "q")]}


def test_repeated_span_dedup_hand_cases(spark):
    """Corpus-wide repeated-span removal: within-doc repeats, cross-doc
    repeats, overlapping window union, full removal, and untouched
    unique docs — hand-computed."""
    from pyspark_unload_to_gcs_spark.operators.dedup import repeated_span_dedup

    boiler = "a b c d"  # the repeated 4-token span
    docs = [
        (0, f"{boiler} x y z"),            # cross-doc repeat + unique tail
        (1, f"p q {boiler} r"),            # same span mid-doc
        (2, boiler),                        # fully removed
        (3, "u v w x y z unique tokens"),  # untouched
        (4, f"{boiler} e {boiler}"),       # within-doc repeat too
    ]
    out = {
        r.doc_id: r
        for r in repeated_span_dedup(
            spark.createDataFrame(docs, "doc_id long, text string"),
            span_tokens=4,
            min_repeats=2,
        ).collect()
    }
    # doc 0: one repeated window at pos 1 -> tokens 1-4 cut
    assert out[0].n_repeated_windows == 1
    assert out[0].clean_text == "x y z"
    # doc 1: window at pos 3
    assert out[1].clean_text == "p q r"
    # doc 2: everything removed
    assert out[2].n_tokens_removed == 4 and out[2].clean_text == ""
    # doc 3: untouched
    assert out[3].n_repeated_windows == 0 and out[3].clean_text == docs[3][1]
    # doc 4: "a b c d e a b c d" - windows at 1 and 6; token 5 ('e') kept
    assert out[4].n_repeated_windows == 2
    assert out[4].clean_text == "e"


def test_repeated_span_dedup_overlapping_windows_union(spark):
    """Adjacent repeated windows must union their coverage, not
    double-count: 'a a a a a a' with k=3 has every window repeated
    (all identical), covering all tokens."""
    from pyspark_unload_to_gcs_spark.operators.dedup import repeated_span_dedup

    out = repeated_span_dedup(
        spark.createDataFrame([(1, "a a a a a a")], "doc_id long, text string"),
        span_tokens=3,
        min_repeats=2,
    ).first()
    assert out.n_repeated_windows == 4  # starts 1..4
    assert out.n_tokens_removed == 6
    assert out.clean_text == ""


def test_ngram_diversity_known_values(spark):
    from pyspark_unload_to_gcs_spark.operators.text import ngram_diversity

    df = spark.createDataFrame(
        [
            (1, "a b a b", "s1"),      # toks [a,b,a,b]: 4 uni (2 distinct), 3 bi (2), 2 tri (2)
            (2, "", "s1"),             # no tokens
            (3, "x", "s2"),            # 1 unigram only
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["source"], r["gram_n"]): (r["n_grams"], r["n_distinct"], r["diversity"])
        for r in ngram_diversity(df).collect()
    }
    assert rows[("s1", 1)] == (4, 2, 0.5)
    assert rows[("s1", 2)] == (3, 2, round(2 / 3, 9))
    assert rows[("s1", 3)] == (2, 2, 1.0)
    assert rows[("s2", 1)] == (1, 1, 1.0)
    # s2 has no bigrams/trigrams -> no rows
    assert ("s2", 2) not in rows and ("s2", 3) not in rows


def test_ngram_diversity_rejects_bad_max_n(spark):
    import pytest as _pytest

    from pyspark_unload_to_gcs_spark.operators.text import ngram_diversity

    df = spark.createDataFrame([(1, "a", "s")], "doc_id long, text string, source string")
    with _pytest.raises(ValueError, match="max_n"):
        ngram_diversity(df, max_n=0)


def test_kll_rollup_merged_equals_global_below_capacity(spark):
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.sketches import kll_quantile_rollup

    df = spark.createDataFrame(
        [(g, float(v)) for g in range(4) for v in range(g * 50, g * 50 + 40)],
        "g long, value double",
    )
    out = {
        r["grp"]: (r["q_25"], r["q_50"], r["q_90"])
        for r in kll_quantile_rollup(df, "value", F.col("g"), k=1024).collect()
    }
    assert set(out) == {0, 1, 2, 3, -1}
    # below capacity the merged row is the exact global order statistic
    vals = sorted(float(v) for g in range(4) for v in range(g * 50, g * 50 + 40))
    import math

    def disc(q):
        return vals[max(0, math.ceil(q * len(vals)) - 1)]

    assert out[-1] == (disc(0.25), disc(0.5), disc(0.9))


def test_theta_rollup_exact_below_capacity(spark):
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.sketches import theta_distinct_rollup

    df = spark.createDataFrame(
        [(g, u) for g in range(3) for u in range(g * 10, g * 10 + 20)],
        "g long, user long",
    )
    out = {
        r["grp"]: r["n_distinct"]
        for r in theta_distinct_rollup(df, "user", F.col("g")).collect()
    }
    # groups overlap by 10 users: per-group 20 each, union 40
    assert out == {0: 20, 1: 20, 2: 20, -1: 40}


def test_theta_overlap_rollup_exact_with_gapped_days(spark):
    """Lag-of-present-groups semantics: a missing middle day pairs day
    5 with day 2, not the absent day 4 — pinned so the Spark side and
    oracle can't silently diverge on gapped sequences."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.sketches import theta_overlap_rollup

    rows = (
        [(2, u) for u in range(20)]
        + [(5, u) for u in range(10, 25)]  # gap: days 3-4 absent
        + [(6, u) for u in range(25, 30)]
    )
    df = spark.createDataFrame(rows, "g long, user long")
    out = {
        r["grp"]: (r["n_returning"], r["n_churned"], r["n_new"])
        for r in theta_overlap_rollup(df, "user", F.col("g")).collect()
    }
    # day 5 vs day 2: overlap 10..19 = 10 returning; 0..9 churned; 20..24 new
    # day 6 vs day 5: disjoint -> 0 returning, 15 churned, 5 new
    assert out == {5: (10, 10, 5), 6: (0, 15, 5)}


def test_kll_rollup_handles_empty_frame(spark):
    """Empty input must yield just the (possibly-null) merged sentinel
    row or no rows — not an ANSI slice crash (review finding: the old
    collect_list+fold merged path threw on arr=[])."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.sketches import kll_quantile_rollup

    df = spark.createDataFrame([], "g long, value double")
    rows = kll_quantile_rollup(df, "value", F.col("g"), k=256).collect()
    # per-group part is empty; the global agg emits one sentinel row
    # whose quantiles are NULL (merge of zero sketches)
    assert all(r["grp"] == -1 for r in rows)


def test_theta_union_respects_lg_nom_entries(spark):
    """The union row must use the caller's capacity, not a hardcoded
    one (review finding: theta_union_agg(sk, 12) ignored the
    parameter). At lg=4 (16 entries) a 200-key union must NOT be exact;
    at lg=12 it must be."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.sketches import theta_distinct_rollup

    df = spark.createDataFrame(
        [(g, u) for g in range(2) for u in range(g * 100, g * 100 + 100)],
        "g long, user long",
    )
    exact = {
        r["grp"]: r["n_distinct"]
        for r in theta_distinct_rollup(df, "user", F.col("g"), lg_nom_entries=12).collect()
    }
    assert exact[-1] == 200


def test_normalize_unicode_matches_duckdb_nfc(spark):
    """NFC parity with DuckDB's nfc_normalize on synthetic multilingual
    content (the fixtures are ASCII, so this is the only place the
    capability is non-vacuously exercised)."""
    import duckdb
    import pandas as pd

    from pyspark_unload_to_gcs_spark.operators.text import normalize_unicode

    texts = [
        "café terrasse",        # combining acute -> precomposed
        "éèê",          # already NFC
        "Ångström",        # ring + diaeresis
        "가가",          # hangul precomposed + jamo pair
        "plain ascii",
        "",
        None,
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: r["text"]
        for r in normalize_unicode(sdf, "text").collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    want = dict(con.sql(
        "SELECT doc_id, CASE WHEN text IS NULL THEN NULL ELSE nfc_normalize(text) END FROM t"
    ).fetchall())
    con.close()
    assert got == want


def test_normalize_unicode_enables_exact_dedup_collision(spark):
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.text import fingerprint, normalize_unicode

    df = spark.createDataFrame(
        [(1, "café"), (2, "café")], "doc_id long, text string"
    )
    raw = df.select(fingerprint(F.col("text")).alias("fp")).distinct().count()
    normed = (
        normalize_unicode(df, "text")
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .count()
    )
    assert raw == 2 and normed == 1  # the point of normalizing first


def test_normalize_unicode_rejects_unknown_form(spark):
    import pytest as _pytest

    from pyspark_unload_to_gcs_spark.operators.text import normalize_unicode

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="unknown form"):
        normalize_unicode(df, "text", form="NFX")


def test_approx_topk_rollup_exact_regime_and_merge(spark):
    """Below max_items_tracked the frequent-items sketch is exact:
    per-group (rank, item, cnt) match a plain count/sort, and the
    merged overall row equals global counts (lore #22)."""
    from pyspark_unload_to_gcs_spark.operators.sketches import approx_topk_rollup

    rows = (
        [(1, "a")] * 5 + [(1, "b")] * 3 + [(1, "c")] * 1
        + [(2, "b")] * 4 + [(2, "d")] * 2
    )
    df = spark.createDataFrame(rows, "g int, x string")
    out = approx_topk_rollup(df, "x", F.col("g"), k=2, max_items_tracked=64)
    got = {(r["grp"], r["rank"]): (r["item"], r["cnt"]) for r in out.collect()}
    assert got[(1, 1)] == ("a", 5) and got[(1, 2)] == ("b", 3)
    assert got[(2, 1)] == ("b", 4) and got[(2, 2)] == ("d", 2)
    # merged: global counts a=5, b=7, d=2, c=1 -> top2 = b(7), a(5)
    assert got[(-1, 1)] == ("b", 7) and got[(-1, 2)] == ("a", 5)


def test_approx_topk_rollup_short_groups_emit_partial_ranks(spark):
    from pyspark_unload_to_gcs_spark.operators.sketches import approx_topk_rollup

    df = spark.createDataFrame([(1, "only")], "g int, x string")
    out = approx_topk_rollup(df, "x", F.col("g"), k=3).collect()
    assert {(r["grp"], r["rank"], r["cnt"]) for r in out} == {
        (1, 1, 1),
        (-1, 1, 1),
    }


def test_edit_distance_pairs_matches_bruteforce(spark):
    """FastSS deletion-neighborhood blocking is EXACT for distance <= 1:
    pairs match a brute-force referee on a corpus covering equality,
    substitution, insertion, deletion, distance-2 (excluded), and
    shared-variant multiplicity."""
    import itertools

    from pyspark_unload_to_gcs_spark.operators.dedup import edit_distance_pairs

    rows = [
        (1, "kitten"),
        (2, "kitten"),     # equal -> dist 0
        (3, "mitten"),     # substitution of 1
        (4, "kitte"),      # deletion of 1
        (5, "kittens"),    # insertion of 1
        (6, "sitting"),    # distance 3 from kitten -> excluded
        (7, "x"),
        (8, ""),           # empty vs "x": distance 1
        (9, "y"),          # "x" vs "y": substitution
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df).collect()
    }

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (x[0], y[0]): lev(x[1], y[1])
        for x, y in itertools.combinations(rows, 2)
        if lev(x[1], y[1]) <= 1
    }
    assert got == want
    # and pairs are emitted exactly once despite multi-variant overlap
    assert edit_distance_pairs(df).count() == len(want)


def test_edit_distance_pairs_rejects_long_strings(spark):
    import pytest as _pytest

    from pyspark_unload_to_gcs_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame([(1, "x" * 500)], "doc_id long, text string")
    # the guard is IN THE PLAN (raise_error), so it fires on execution,
    # not at plan construction (review: the eager pre-scan cost a full
    # corpus job per call)
    plan = edit_distance_pairs(df)
    with _pytest.raises(Exception, match="max_length"):
        plan.count()


def test_edit_distance_pairs_tolerates_null_text(spark):
    """r08 review finding: length(NULL) is NULL, so the max_length
    guard's WHEN dropped NULL-text rows into the raise_error branch
    and killed the job before the isNotNull filter could discard
    them. NULL rows must be silently excluded, not fatal."""
    from pyspark_unload_to_gcs_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "kitten"), (2, None), (3, "mitten"), (4, None)],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]) for r in edit_distance_pairs(df).collect()}
    assert got == {(1, 3)}


def test_join_cardinality_profile_predicts_true_join_size(spark, sf_dir):
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        join_cardinality_profile,
    )
    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet

    li = load_parquet(spark, f"{sf_dir}/lineitem.parquet")
    orders = load_parquet(spark, f"{sf_dir}/orders.parquet")
    prof = join_cardinality_profile(li, "l_orderkey", orders, "o_orderkey").first()
    true_rows = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert prof["predicted_rows"] == true_rows
    assert prof["n_left"] == li.count() and prof["n_right"] == orders.count()


def test_key_skew_profile_counts_null_keys_and_ranks(spark):
    from pyspark_unload_to_gcs_spark.operators.diagnostics import key_skew_profile

    rows = [(None,)] * 5 + [("a",)] * 3 + [("b",)] * 1 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    p = key_skew_profile(df, "k").first()
    assert p["n_rows"] == 10 and p["n_keys"] == 4 and p["max_cnt"] == 5
    # counts ascending: [1, 1, 3, 5]; p50 -> rank 2 (1), p90 -> rank 4 (5)
    assert p["p50_cnt"] == 1 and p["p90_cnt"] == 5 and p["p99_cnt"] == 5
    assert p["top1_share_ppm"] == 500_000


def test_key_skew_profile_integer_rank_at_float_boundary(spark):
    """r08 review finding: ceil(n_keys * 0.99) in IEEE double reads
    99.000000000000014 at n_keys=100 and ceils to rank 100 — one rank
    too high. The BIGINT spelling (n_keys*99 + 99) div 100 must pick
    rank 99 exactly: with keys 0..99 carrying counts 1..100, p99 is
    the count at ascending rank 99 (= 99), not rank 100 (= 100)."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import key_skew_profile

    rows = [(f"k{i:03d}",) for i in range(100) for _ in range(i + 1)]
    df = spark.createDataFrame(rows, "k string")
    p = key_skew_profile(df, "k").first()
    assert p["n_keys"] == 100 and p["max_cnt"] == 100
    # ceil(100*0.50)=50 -> count 50; ceil(100*0.90)=90 -> 90;
    # ceil(100*0.99)=99 -> 99 (the float ceil bug read 100 here)
    assert p["p50_cnt"] == 50
    assert p["p90_cnt"] == 90
    assert p["p99_cnt"] == 99


def test_variant_parse_extract_and_drift_profile(spark):
    from pyspark_unload_to_gcs_spark.operators.semistructured import (
        parse_variant,
        variant_fields,
        variant_schema_profile,
    )

    rows = [
        (1, '{"k": 5, "m": {"x": 1.5}, "tags": ["a", "b"]}'),
        (2, '{"k": 7, "m": {"x": 2.5}, "tags": []}'),
        (3, '{"k": "not-a-number"}'),
        (4, "not json at all"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, props string")
    v = parse_variant(df, "props")
    out = variant_fields(
        v, "v", {"k": ("$.k", "long"), "mx": ("$.m.x", "double"), "t0": ("$.tags[0]", "string")}
    )
    got = {r["id"]: (r["k"], r["mx"], r["t0"]) for r in out.collect()}
    assert got[1] == (5, 1.5, "a")
    assert got[2] == (7, 2.5, None)
    assert got[3] == (None, None, None)  # type-mismatch -> NULL, not error
    assert got[4] == (None, None, None)  # malformed -> try parse NULL
    assert got[5] == (None, None, None)

    prof = {r["variant_schema"]: r["n_docs"] for r in variant_schema_profile(v, "v").collect()}
    assert prof[None] == 2  # malformed + NULL input group together
    assert sum(prof.values()) == 5
    assert any(s and s.startswith("OBJECT<") for s in prof if s)


def test_variant_parse_fail_mode_raises_on_malformed(spark):
    import pytest as _pytest

    from pyspark_unload_to_gcs_spark.operators.semistructured import parse_variant

    df = spark.createDataFrame([(1, "nope")], "id long, props string")
    with _pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING|JSON"):
        parse_variant(df, "props", mode="fail").collect()
    with _pytest.raises(ValueError, match="unknown mode"):
        parse_variant(df, "props", mode="bogus")


def test_approx_topk_estimating_regime_error_envelope(spark):
    """Above max_items_tracked the frequent-items estimates must stay
    inside the documented envelope |est - true| <= stream_n / m for the
    genuinely heavy items (DataSketches frequent-items guarantee)."""
    from pyspark_unload_to_gcs_spark.operators.sketches import approx_topk_rollup

    # 40 distinct items, tracked capacity 8: heavy items a(300), b(200)
    # over a 100-item uniform tail (n = 600)
    rows = [(1, "a")] * 300 + [(1, "b")] * 200 + [
        (1, f"t{i % 40}") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "g int, x string")
    out = {
        r["rank"]: (r["item"], r["cnt"])
        for r in approx_topk_rollup(
            df, "x", F.col("g"), k=2, max_items_tracked=8
        ).collect()
        if r["grp"] == 1
    }
    n = len(rows)
    m = 8
    assert out[1][0] == "a" and abs(out[1][1] - 300) <= n / m
    assert out[2][0] == "b" and abs(out[2][1] - 200) <= n / m


def test_parquet_footer_profile_multifile_and_missing_stats(spark, tmp_path):
    """Footer profile over a MULTI-FILE table: n_files/n_row_groups
    reflect the layout, min/max fold across files, null counts sum;
    and a key column must exist in every file."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        parquet_footer_profile,
    )

    out = str(tmp_path / "multi")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") * 2).alias("v"),
    )
    df.repartition(4).write.parquet(out)
    prof = parquet_footer_profile(spark, out, "k", label="multi").first()
    assert prof["n_files"] == 4
    assert prof["n_row_groups"] >= 4
    assert prof["n_rows"] == 1000
    assert prof["key_min"] == 0 and prof["key_max"] == 999
    assert prof["key_nulls"] == 0
    vprof = parquet_footer_profile(spark, out, "v").first()
    assert vprof["key_nulls"] == 100
    assert vprof["key_min"] == 2 and vprof["key_max"] == 1998

    import pytest as _pytest

    with _pytest.raises(Exception):
        parquet_footer_profile(spark, out, "no_such_column").first()

    # a file written WITHOUT column statistics (legal parquet; some
    # writers omit them) must propagate NULL into min/max AND
    # key_nulls — unknown is never counted as 0 (ADVICE r09)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    nostats = str(tmp_path / "nostats")
    import os as _os

    _os.makedirs(nostats)
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"k": [1, 2, None]})),
        _os.path.join(nostats, "part-0.parquet"),
        write_statistics=False,
    )
    nprof = parquet_footer_profile(spark, nostats, "k").first()
    assert nprof["n_rows"] == 3
    assert nprof["key_min"] is None
    assert nprof["key_max"] is None
    assert nprof["key_nulls"] is None


def test_scan_prune_plan_decisions_and_conservatism(spark, tmp_path):
    """Keep/skip from footers: kept units cover every matching row (no
    false drops — the correctness half of pruning), skipped units
    contain none, and a file WITHOUT statistics is kept conservatively."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.diagnostics import scan_prune_plan

    out = str(tmp_path / "t")
    (
        spark.range(0, 1000)
        .select(F.col("id").alias("k"), (F.col("id") / 100).cast("long").alias("b"))
        .repartition("b")
        .write.partitionBy("b")
        .parquet(out)
    )
    plan = scan_prune_plan(
        spark, out, "k", lower=150, upper=420, partition_column="b"
    ).collect()
    keep = {int(r["unit"]) for r in plan if r["keep"]}
    skip = {int(r["unit"]) for r in plan if not r["keep"]}
    assert keep == {1, 2, 3, 4}
    assert skip == {0, 5, 6, 7, 8, 9}
    # no false drops: every row matching the predicate lives in a kept unit
    kept_rows = (
        spark.read.parquet(out)
        .filter(F.col("b").isin([int(u) for u in keep]))
        .filter((F.col("k") >= 150) & (F.col("k") <= 420))
        .count()
    )
    assert kept_rows == 420 - 150 + 1

    # per-file mode (no partition column): one row per part file
    flat = str(tmp_path / "flat")
    spark.range(0, 100).select(F.col("id").alias("k")).coalesce(1).write.parquet(flat)
    rows = scan_prune_plan(spark, flat, "k", lower=1000, upper=2000).collect()
    assert len(rows) == 1 and rows[0]["keep"] is False

    # a statistics-less file must be KEPT (unknown is never skipped)
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    nostats = str(tmp_path / "nostats")
    os.makedirs(nostats)
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"k": [1, 2, 3]})),
        os.path.join(nostats, "part-0.parquet"),
        write_statistics=False,
    )
    rows = scan_prune_plan(spark, nostats, "k", lower=9999, upper=99999).collect()
    assert len(rows) == 1 and rows[0]["keep"] is True and rows[0]["key_min"] is None

    # a ZERO-row-group file (legal empty parquet) has stats_ok=True but
    # NULL bounds — keep must still be a total boolean (True), never
    # NULL, or a consumer filtering on keep drops the row (ADVICE r10)
    empty_dir = str(tmp_path / "emptyfile")
    os.makedirs(empty_dir)
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"k": pd.Series([], dtype="int64")})),
        os.path.join(empty_dir, "part-0.parquet"),
    )
    rows = scan_prune_plan(spark, empty_dir, "k", lower=0, upper=10).collect()
    assert len(rows) == 1
    assert rows[0]["keep"] is True, "empty file yielded NULL/False keep"
    assert rows[0]["n_rows"] == 0


def test_categorical_psi_identical_slices_is_zero(spark):
    """Identical category mixes on both sides => every PSI term is
    exactly 0 when the slice SIZES match (p_i == q_i termwise)."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        categorical_drift_psi,
    )

    rows = [(c, s) for s in (True, False) for c in "aabbbc"]
    df = spark.createDataFrame(rows, "cat string, base boolean")
    out = categorical_drift_psi(df, "cat", F.col("base")).collect()
    assert {r["cat"] for r in out} == {"a", "b", "c"}
    assert all(r["psi_term_r"] == 0.0 for r in out)
    assert {(r["cat"], r["n_a"], r["n_b"]) for r in out} == {
        ("a", 2, 2), ("b", 3, 3), ("c", 1, 1)
    }


def test_categorical_psi_one_sided_category_is_finite_and_positive(spark):
    """A category present in only one slice must contribute a FINITE
    positive term (Laplace smoothing) — the raw ratio would be an
    infinite ln. Drifted mixes sum to a positive PSI."""
    import math

    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        categorical_drift_psi,
    )

    rows = [("a", True)] * 9 + [("b", True)] + [("b", False)] * 9 + [("c", False)]
    df = spark.createDataFrame(rows, "cat string, base boolean")
    out = {r["cat"]: r for r in categorical_drift_psi(df, "cat", F.col("base")).collect()}
    assert set(out) == {"a", "b", "c"}
    assert out["c"]["n_a"] == 0 and out["c"]["n_b"] == 1
    for r in out.values():
        assert math.isfinite(r["psi_term_r"])
    # every term of this fully-drifted mix is positive ((p-q), ln(p/q)
    # always share sign), and the total crosses the 0.25 alarm line
    assert all(r["psi_term_r"] > 0 for r in out.values())
    assert sum(r["psi_term_r"] for r in out.values()) > 0.25


def test_quota_mix_batch_budget_frozen_and_idempotent(spark, tmp_path):
    """The manifest budget is provisioned at bootstrap (half the
    batch-0 corpus) and stays FIXED as the corpus grows: total selected
    never exceeds it in any later batch, head-stratum share shrinks as
    the head grows, and a retried batch rewrites identical state."""
    from pyspark_unload_to_gcs_spark.streaming.manifest import (
        quota_mix_batch,
        read_manifests,
    )

    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(40)], "id long, s string"
    )
    # batch 1 adds ONLY head-stratum rows — quotas must rebalance
    b1 = spark.createDataFrame(
        [(100 + i, "en") for i in range(160)], "id long, s string"
    )
    kw = dict(stratum_column="s", id_column="id", state_path=state)
    quota_mix_batch(b0, 0, **kw)
    with open(str(tmp_path / "state" / "budget.txt")) as f:
        assert int(f.read()) == 20  # half the bootstrap corpus, frozen
    quota_mix_batch(b1, 1, **kw)
    man = {(r["batch_id"], r["s"]): r for r in read_manifests(spark, state).collect()}
    assert man[(0, "en")]["n_docs"] == 20 and man[(1, "en")]["n_docs"] == 180
    for b in (0, 1):
        assert sum(man[(b, s)]["n_selected"] for s in ("en", "de")) <= 20
    # the head stratum grew 9x; the tail's ABSOLUTE quota shrinks (the
    # sqrt weight sum grew under a fixed B) but its share of the
    # manifest stays flattened ABOVE its corpus share — the point of
    # temperature mixing
    sel1 = sum(man[(1, s)]["n_selected"] for s in ("en", "de"))
    docs1 = sum(man[(1, s)]["n_docs"] for s in ("en", "de"))
    assert (
        man[(1, "de")]["n_selected"] / sel1
        > man[(1, "de")]["n_docs"] / docs1
    )
    # retry idempotence: refolding batch 1 reproduces identical rows
    quota_mix_batch(b1, 1, **kw)
    man2 = {(r["batch_id"], r["s"]): (r["n_docs"], r["n_selected"], r["sel_id_sum"])
            for r in read_manifests(spark, state).collect()}
    assert man2 == {k: (v["n_docs"], v["n_selected"], v["sel_id_sum"]) for k, v in man.items()}


def test_quota_mix_batch_refuses_empty_bootstrap(spark, tmp_path):
    """A rowless bootstrap batch would freeze B=0 permanently (every
    later manifest selects nothing while looking computed) — the fold
    must refuse loudly (review r12)."""
    import pytest as _pytest

    from pyspark_unload_to_gcs_spark.streaming.manifest import quota_mix_batch

    empty = spark.createDataFrame([], "id long, s string")
    with _pytest.raises(ValueError, match="bootstrap batch is empty"):
        quota_mix_batch(
            empty, 0, stratum_column="s", id_column="id",
            state_path=str(tmp_path / "state"),
        )


def test_categorical_psi_properties_nonneg_and_symmetric(spark):
    """Model properties of the PSI arithmetic under random mixes:
    every term is >= 0 ((p - q) and ln(p / q) always share sign), and
    swapping the two sides reproduces the identical terms (PSI is
    symmetric). Run over a grid of adversarial mixes including
    one-sided and singleton categories."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        categorical_drift_psi,
    )

    mixes = [
        {"a": (5, 5), "b": (3, 3)},
        {"a": (10, 0), "b": (0, 10)},
        {"a": (1, 0)},
        {"a": (100, 1), "b": (1, 100), "c": (50, 50), "d": (0, 7)},
    ]
    for mix in mixes:
        rows = []
        for cat, (na, nb) in mix.items():
            rows += [(cat, True)] * na + [(cat, False)] * nb
        df = spark.createDataFrame(rows, "cat string, base boolean")
        fwd = {r["cat"]: r["psi_term_r"]
               for r in categorical_drift_psi(df, "cat", F.col("base")).collect()}
        rev = {r["cat"]: r["psi_term_r"]
               for r in categorical_drift_psi(df, "cat", ~F.col("base")).collect()}
        assert all(v >= 0 for v in fwd.values()), (mix, fwd)
        assert fwd == rev, (mix, fwd, rev)


def test_numeric_psi_identical_slices_zero_and_even_fill(spark):
    """Identical numeric slices: every decile term 0; the baseline's
    own histogram fills its deciles evenly when values are distinct."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        numeric_drift_psi,
    )

    rows = [(float(i), s) for s in (True, False) for i in range(100)]
    df = spark.createDataFrame(rows, "v double, base boolean")
    out = {r["bin"]: r for r in numeric_drift_psi(df, "v", F.col("base")).collect()}
    assert set(out) == set(range(10))
    assert all(r["psi_term_r"] == 0.0 for r in out.values())
    assert all(r["n_a"] == 10 for r in out.values())


def test_numeric_psi_shift_detected_and_nulls_excluded(spark):
    """A location shift concentrates current-slice mass in the top
    baseline deciles -> positive total PSI; NULL values never enter
    either histogram."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        numeric_drift_psi,
    )

    rows = (
        [(float(i), True) for i in range(100)]
        + [(float(i) + 80.0, False) for i in range(100)]
        + [(None, True), (None, False)]
    )
    df = spark.createDataFrame(rows, "v double, base boolean")
    out = numeric_drift_psi(df, "v", F.col("base")).collect()
    assert sum(r["n_a"] for r in out) == 100 and sum(r["n_b"] for r in out) == 100
    assert sum(r["psi_term_r"] for r in out) > 0.25  # alarm-line drift
    assert all(r["psi_term_r"] >= 0 for r in out)


def test_numeric_psi_kll_arm_matches_exact_below_capacity(spark):
    """The mergeable-sketch edge arm (edges='kll'): EXACT below the
    sketch's retained-item capacity (the sketches-module contract), so
    on driver-scale data the two arms must emit identical rows — and
    the empty-baseline raise and argument validation carry over."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        numeric_drift_psi,
    )

    rows = (
        [(float((i * 37) % 250), i % 3 == 0) for i in range(600)]
        + [(None, True), (None, False)]
    )
    df = spark.createDataFrame(rows, "v double, base boolean")
    exact = sorted(
        tuple(r) for r in numeric_drift_psi(df, "v", F.col("base")).collect()
    )
    kll = sorted(
        tuple(r)
        for r in numeric_drift_psi(
            df, "v", F.col("base"), edges="kll"
        ).collect()
    )
    assert exact == kll
    # a tiny capacity forces the estimating regime: still a full valid
    # profile (10 bins, all mass accounted), just approximate edges
    est = numeric_drift_psi(
        df, "v", F.col("base"), edges="kll", kll_k=8
    ).collect()
    assert len(est) == 10
    assert sum(r["n_a"] for r in est) == 200
    assert sum(r["n_b"] for r in est) == 400
    with pytest.raises(ValueError, match="edges"):
        numeric_drift_psi(df, "v", F.col("base"), edges="sketch")
    with pytest.raises(ValueError, match="kll_k"):
        numeric_drift_psi(df, "v", F.col("base"), edges="kll", kll_k=4)
    with pytest.raises(Exception, match="no non-NULL"):
        numeric_drift_psi(df, "v", F.lit(False), edges="kll").collect()

    # integral columns past 2^53 ride the BIGINT sketch — a double
    # sketch would round the values, perturb edges, and break the
    # arms-agree contract (review r12)
    big = spark.createDataFrame(
        [(2**53 + i * 3 + 1, i % 2 == 0) for i in range(200)],
        "v long, base boolean",
    )
    exact_big = sorted(
        tuple(r) for r in numeric_drift_psi(big, "v", F.col("base")).collect()
    )
    kll_big = sorted(
        tuple(r)
        for r in numeric_drift_psi(
            big, "v", F.col("base"), edges="kll"
        ).collect()
    )
    assert exact_big == kll_big


def test_drift_batch_refuses_empty_bootstrap_and_unions_null_category(
    spark, tmp_path
):
    """The streaming drift fold must (a) refuse a rowless bootstrap —
    a frozen EMPTY baseline would make every later PSI row
    smoothing-only while looking computed — and (b) keep a NULL
    category as ONE union row (plain full-outer equi-joins never match
    NULL keys), matching the batch twin's groupBy semantics
    (review r12)."""
    import pytest as _pytest

    from pyspark_unload_to_gcs_spark.streaming.drift import (
        drift_batch,
        read_drift,
    )

    with _pytest.raises(ValueError, match="bootstrap batch is empty"):
        drift_batch(
            spark.createDataFrame([], "cat string"),
            0,
            category_column="cat",
            state_path=str(tmp_path / "s0"),
        )

    state = str(tmp_path / "s1")
    b0 = spark.createDataFrame([("a",), ("a",), (None,)], "cat string")
    b1 = spark.createDataFrame([("a",), (None,), (None,)], "cat string")
    drift_batch(b0, 0, category_column="cat", state_path=state)
    drift_batch(b1, 1, category_column="cat", state_path=state)
    rows = read_drift(spark, state).collect()
    by = {(r["batch_id"], r["cat"]): (r["n_a"], r["n_b"], r["psi_term_r"])
          for r in rows}
    # batch 0 self-comparison: identical sides, zero terms
    assert by[(0, "a")] == (2, 2, 0.0) and by[(0, None)] == (1, 1, 0.0)
    # batch 1: NULL category is ONE row carrying both sides' counts
    assert by[(1, None)][:2] == (1, 2)
    assert len([k for k in by if k[0] == 1]) == 2


def test_drift_batch_refold_idempotent(spark, tmp_path):
    """A retried drift batch must reproduce byte-identical rows: the
    baseline is frozen and PSI is a deterministic function of
    (baseline counts, batch rows) — the exactly-once contract the
    module docstring claims."""
    from pyspark_unload_to_gcs_spark.streaming.drift import (
        drift_batch,
        read_drift,
    )

    state = str(tmp_path / "s")
    b0 = spark.createDataFrame([("a",)] * 4 + [("b",)] * 2, "cat string")
    b1 = spark.createDataFrame([("a",)] * 1 + [("b",)] * 5, "cat string")
    drift_batch(b0, 0, category_column="cat", state_path=state)
    drift_batch(b1, 1, category_column="cat", state_path=state)
    first = sorted(map(tuple, read_drift(spark, state).collect()))
    drift_batch(b1, 1, category_column="cat", state_path=state)  # retry
    assert sorted(map(tuple, read_drift(spark, state).collect())) == first


def test_psi_matches_pure_python_model(spark):
    """The smoothed-PSI arithmetic against an independent pure-Python
    model over randomized mixes (hypothesis): counts, smoothing, and
    the rounded term must agree exactly — the model recomputes from
    scratch, so a Spark-side expression drift (wrong K, wrong side,
    missing +1) breaks this even where the DuckDB oracle (which
    mirrors the SQL spelling) would follow along."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        categorical_drift_psi,
    )

    @settings(max_examples=6, deadline=None)
    @given(
        mix=st.dictionaries(
            st.sampled_from("abcdef"),
            st.tuples(st.integers(0, 20), st.integers(0, 20)),
            min_size=1,
            max_size=5,
        ).filter(lambda m: any(na + nb > 0 for na, nb in m.values()))
    )
    def run(mix):
        mix = {c: v for c, v in mix.items() if sum(v) > 0}
        rows = []
        for cat, (na, nb) in mix.items():
            rows += [(cat, True)] * na + [(cat, False)] * nb
        df = spark.createDataFrame(rows, "cat string, base boolean")
        got = {r["cat"]: (r["n_a"], r["n_b"], r["psi_term_r"])
               for r in categorical_drift_psi(df, "cat", F.col("base")).collect()}
        k = len(mix)
        ta = sum(v[0] for v in mix.values())
        tb = sum(v[1] for v in mix.values())
        # Spark's round() is HALF_UP; python's round() is HALF_EVEN —
        # model with the same mode so a 6th-decimal tie can't flake
        from decimal import ROUND_HALF_UP, Decimal

        half_up = lambda x: float(  # noqa: E731
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )
        want = {}
        for cat, (na, nb) in mix.items():
            p = (na + 1) / (ta + k)
            q = (nb + 1) / (tb + k)
            want[cat] = (na, nb, half_up((p - q) * math.log(p / q)))
        assert got == want

    run()


def test_containment_pairs_matches_brute_force(spark):
    """Prefix-filter blocking must be RESULT-INVARIANT (the pigeonhole
    no-false-negatives argument): the blocked operator equals a
    brute-force crossJoin evaluation of the containment definition on
    an adversarial corpus — an excerpt inside a long page (tiny
    Jaccard, containment 1.0), an exactly-at-threshold pair, a
    just-below pair, identical twins, and a sub-n-gram-length doc
    (no grams -> excluded as A, still a valid B)."""
    from pyspark_unload_to_gcs_spark.operators.dedup import containment_pairs
    from pyspark_unload_to_gcs_spark.operators.text import (
        word_ngrams_zip,
        words_col,
    )

    page = " ".join(f"w{i} w{i+1} x{i}" for i in range(40))
    quote = " ".join(page.split()[30:42])  # contiguous excerpt
    # 10 distinct trigrams, 8 shared with 'at' -> exactly 0.8 vs 'at8'
    base = [f"t{i}" for i in range(12)]
    at8 = " ".join(base)               # grams t0..t9 (10 grams)
    other = " ".join(base[:10] + ["zz", "qq"])  # shares 8 of its own...
    rows = [
        (1, page),
        (2, quote),
        (3, at8),
        (4, other),
        (5, at8),          # identical twin of 3
        (6, "too short"),  # < 3 words: no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"], r["n_grams_a"], r["n_shared"])
        for r in containment_pairs(df, "doc_id", "text").collect()
    }

    grams = df.select(
        "doc_id",
        F.array_distinct(
            word_ngrams_zip(words_col(F.col("text")), 3)
        ).alias("g"),
    )
    a = grams.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
    b = grams.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
    brute = (
        a.crossJoin(b)
        .filter((F.col("id_a") != F.col("id_b")) & (F.size("ga") > 0))
        .select(
            "id_a",
            "id_b",
            F.size("ga").cast("long").alias("n_grams_a"),
            F.size(F.array_intersect("ga", "gb")).cast("long").alias("n_shared"),
        )
        .filter(F.col("n_shared") * 100 >= F.col("n_grams_a") * 80)
    )
    want = {
        (r["id_a"], r["id_b"], r["n_grams_a"], r["n_shared"])
        for r in brute.collect()
    }
    assert got == want
    assert (2, 1) in {(x[0], x[1]) for x in got}  # the excerpt surfaces
    assert (3, 5) in {(x[0], x[1]) for x in got}  # identical twins, both ways
    assert (5, 3) in {(x[0], x[1]) for x in got}
    assert all(x[0] != 6 for x in got)  # gramless doc never an A side


def test_containment_blocking_fuzz_matches_brute_force(spark):
    """Hypothesis fuzz of the prefix-filter pigeonhole claim: over
    random tiny-vocab corpora (maximum gram collision pressure) and
    random thresholds, the blocked operator must equal brute force
    EXACTLY — any off-by-one in the prefix length shows up here as a
    missing near-threshold pair."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark_unload_to_gcs_spark.operators.dedup import containment_pairs
    from pyspark_unload_to_gcs_spark.operators.text import (
        word_ngrams_zip,
        words_col,
    )

    @settings(max_examples=5, deadline=None)
    @given(
        docs=st.lists(
            st.lists(st.sampled_from("ab"), min_size=0, max_size=12).map(
                " ".join
            ),
            min_size=2,
            max_size=8,
        ),
        pct=st.sampled_from([50, 67, 80, 100]),
        order=st.sampled_from(["lex", "df"]),
    )
    def run(docs, pct, order):
        rows = [(i, t) for i, t in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"], r["n_grams_a"], r["n_shared"])
            for r in containment_pairs(
                df, "doc_id", "text", threshold_pct=pct, prefix_order=order
            ).collect()
        }
        g = df.select(
            "doc_id",
            F.array_distinct(
                word_ngrams_zip(words_col(F.col("text")), 3)
            ).alias("g"),
        )
        brute = (
            g.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
            .crossJoin(
                g.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
            )
            .filter((F.col("id_a") != F.col("id_b")) & (F.size("ga") > 0))
            .select(
                "id_a",
                "id_b",
                F.size("ga").cast("long").alias("n_grams_a"),
                F.size(F.array_intersect("ga", "gb"))
                .cast("long")
                .alias("n_shared"),
            )
            .filter(F.col("n_shared") * 100 >= F.col("n_grams_a") * pct)
        )
        want = {
            (r["id_a"], r["id_b"], r["n_grams_a"], r["n_shared"])
            for r in brute.collect()
        }
        assert got == want

    run()


def test_containment_df_prefix_invariant_and_prunes(spark):
    """The rarest-first (df-ordered) prefix arm: on a boilerplate-heavy
    corpus it must return EXACTLY the lexicographic arm's pairs (the
    pigeonhole argument holds for any fixed-size subset) while probing
    strictly fewer posting rows — the lexicographic prefix lands on the
    shared boilerplate grams (every doc's postings), the df prefix on
    each doc's unique tail grams."""
    import pyspark_unload_to_gcs_spark.operators.dedup as dd
    from pyspark_unload_to_gcs_spark.operators.dedup import (
        containment_join,
        containment_pairs,
    )
    from pyspark_unload_to_gcs_spark.operators.text import (
        word_ngrams_zip,
        words_col,
    )

    boiler = "aaa bbb ccc ddd eee"  # lexicographically-first grams
    rows = [
        (i, f"{boiler} tail{i}a tail{i}b tail{i}c tail{i}d tail{i}e")
        for i in range(8)
    ]
    rows.append((100, boiler))  # pure-boilerplate doc: contained in all
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(order):
        return sorted(
            (r["id_a"], r["id_b"], r["n_grams_a"], r["n_shared"])
            for r in containment_pairs(
                df, "doc_id", "text", threshold_pct=60, prefix_order=order
            ).collect()
        )

    lex, dfo = pairs("lex"), pairs("df")
    assert lex == dfo
    assert {(a, b) for a, b, *_ in dfo} == {(100, i) for i in range(8)}

    # candidate fan-out: count posting-join rows per arm
    g = df.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(word_ngrams_zip(words_col(F.col("text")), 3))
        ).alias("__g"),
    )
    ga = g.filter(F.size("__g") > 0)
    b_post = g.select(
        F.col("doc_id").alias("id_b"), F.explode("__g").alias("__p")
    )
    n = {
        o: dd._containment_prefix(ga, "doc_id", b_post, 60, o)
        .join(b_post, "__p")
        .count()
        for o in ("lex", "df")
    }
    assert n["df"] < n["lex"]

    # the cross-table arm takes the same parameter: planted excerpt
    # surfaces identically under both orderings
    new_b = df.filter(F.col("doc_id") == 100)
    idx = df.filter(F.col("doc_id") != 100)
    for order in ("lex", "df"):
        got = containment_join(
            new_b, idx, "doc_id", "doc_id",
            threshold_pct=60, prefix_order=order,
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in got} == {
            (100, i) for i in range(8)
        }

    with pytest.raises(ValueError, match="prefix_order"):
        containment_pairs(df, "doc_id", "text", prefix_order="rarest")


def test_bigram_logprob_matches_python_model(spark):
    """Stupid-backoff bigram LM (operators/text.py ``bigram_logprob``)
    vs an independent python reimplementation: counts from the TRAIN
    slice only, seen-bigram conditional vs alpha-discounted unigram
    backoff vs OOV floor — and the in-distribution doc must outscore
    the shuffled-gibberish doc."""
    import math

    from pyspark_unload_to_gcs_spark.operators.text import bigram_logprob

    train_docs = {
        0: "the cat sat on the mat",
        1: "the dog sat on the rug",
        2: "a cat and a dog sat here",
    }
    score_docs = {
        3: "the cat sat on the rug",   # in-distribution
        4: "rug the on sat cat the",   # shuffled: rare transitions
        5: "zz qq vv ww",              # all OOV
        6: "single",                   # no transitions -> drops out
    }
    rows = [(d, t, True) for d, t in train_docs.items()] + [
        (d, t, False) for d, t in score_docs.items()
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_train boolean")
    got = {
        r["doc_id"]: (r["n_transitions"], r["avg_logprob"])
        for r in bigram_logprob(
            df, train=F.col("is_train"), alpha=0.4
        ).collect()
    }

    # python model
    uni, bg = {}, {}
    for t in train_docs.values():
        ws = t.split()
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for p, w in zip(ws, ws[1:]):
            bg[(p, w)] = bg.get((p, w), 0) + 1
    total = sum(uni.values())

    def lp(p, w):
        if (p, w) in bg:
            v = math.log(bg[(p, w)]) - math.log(uni[p])
        else:
            v = math.log(0.4) + math.log(uni.get(w, 1)) - math.log(total)
        return round(v, 6)

    for d, t in {**train_docs, **score_docs}.items():
        ws = t.split()
        if len(ws) < 2:
            assert d not in got
            continue
        lps = [lp(p, w) for p, w in zip(ws, ws[1:])]
        n, avg = got[d]
        assert n == len(lps)
        assert abs(avg - sum(lps) / len(lps)) < 1e-9, (d, avg)

    assert got[3][1] > got[4][1] > got[5][1]  # natural > shuffled > OOV

    with pytest.raises(ValueError, match="alpha"):
        bigram_logprob(df, train=F.col("is_train"), alpha=0.0)


def test_bigram_logprob_refuses_empty_train_slice(spark):
    """An empty train slice must raise in-plan, never emit NULL scores
    a downstream threshold gate would silently drop (review r12)."""
    from pyspark_unload_to_gcs_spark.operators.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, "some words here", False), (2, "more words", False)],
        "doc_id long, text string, is_train boolean",
    )
    with pytest.raises(Exception, match="train slice has no tokens"):
        bigram_logprob(df, train=F.col("is_train")).collect()


def test_domain_reweight_matches_python_model(spark):
    """DoReMi-style exponentiated-gradient reweighting
    (operators/sampling.py ``domain_reweight``) vs an independent
    python model: below-average domains get boosted, counts vs
    uniform baselines, and the DECIMAL round-6/round-9 discipline
    reproduces to 1e-9."""
    import math

    from pyspark_unload_to_gcs_spark.operators.sampling import domain_reweight

    rows = [
        *[("web", -4.0 - 0.1 * i) for i in range(10)],   # big, bad
        *[("wiki", -2.0 - 0.05 * i) for i in range(4)],  # small, good
        *[("code", -3.0 - 0.2 * i) for i in range(6)],   # mid
    ]
    df = spark.createDataFrame(
        [(d, s) for d, s in rows], "domain string, score double"
    )

    def model(baseline):
        from collections import defaultdict

        agg = defaultdict(lambda: [0, 0.0])
        for d, s in rows:
            agg[d][0] += 1
            agg[d][1] += round(s, 6)
        ref = round(sum(v[1] for v in agg.values()) / len(rows), 9)
        out = {}
        for d, (n, tot) in agg.items():
            m = round(tot / n, 9)
            ex = ref - m
            boost = round(math.exp(1.0 * ex), 6)
            out[d] = (n, m, ex, (n if baseline == "counts" else 1) * boost)
        z = sum(v[3] for v in out.values())
        return {
            d: (n, m, ex, round(u / z, 9)) for d, (n, m, ex, u) in out.items()
        }

    for baseline in ("counts", "uniform"):
        got = {
            r["domain"]: (
                r["n_docs"], r["mean_score"], r["excess"], r["weight"]
            )
            for r in domain_reweight(
                df, "domain", "score", baseline=baseline
            ).collect()
        }
        want = model(baseline)
        assert set(got) == set(want)
        for d in want:
            assert got[d][0] == want[d][0]
            assert abs(got[d][1] - want[d][1]) < 1e-9, (baseline, d)
            assert abs(got[d][2] - want[d][2]) < 1e-9, (baseline, d)
            assert abs(got[d][3] - want[d][3]) < 1e-8, (baseline, d)
        assert abs(sum(v[3] for v in got.values()) - 1.0) < 1e-6
    # the worst-scoring domain must gain vs its natural proportion
    got = {
        r["domain"]: r["weight"]
        for r in domain_reweight(df, "domain", "score").collect()
    }
    assert got["web"] > 10 / 20  # boosted above natural 50%
    assert got["wiki"] < 4 / 20  # good domain gives up share

    import pytest as _pytest

    with _pytest.raises(ValueError, match="baseline"):
        domain_reweight(df, "domain", "score", baseline="nope")


def test_domain_reweight_eta_zero_is_baseline(spark):
    """eta=0 must reduce to the pure baseline mix (boost == 1
    everywhere): counts -> natural proportions, uniform -> 1/K."""
    from pyspark_unload_to_gcs_spark.operators.sampling import domain_reweight

    df = spark.createDataFrame(
        [("a", -1.0)] * 6 + [("b", -9.0)] * 2,
        "domain string, score double",
    )
    nat = {
        r["domain"]: r["weight"]
        for r in domain_reweight(df, "domain", "score", eta=0.0).collect()
    }
    assert abs(nat["a"] - 0.75) < 1e-9 and abs(nat["b"] - 0.25) < 1e-9
    uni = {
        r["domain"]: r["weight"]
        for r in domain_reweight(
            df, "domain", "score", eta=0.0, baseline="uniform"
        ).collect()
    }
    assert abs(uni["a"] - 0.5) < 1e-9 and abs(uni["b"] - 0.5) < 1e-9


def test_threshold_sweep_matches_python_model(spark):
    """Quality-gate keep-rate curve (operators/diagnostics.py
    ``threshold_sweep``) vs a python model: per-cutoff kept docs and
    kept weight, NULL scores unkept at every cutoff, exact-ppm floor,
    monotone nonincreasing kept counts."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        threshold_sweep,
    )

    rows = [
        (1, -3.2, 100), (2, -2.5, 50), (3, -2.5, 10), (4, -1.0, 7),
        (5, None, 999), (6, -4.9, 3), (7, -0.1, 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")
    ts = [-5.0, -2.5, -1.0, 0.0]
    got = {
        r["threshold"]: r.asDict()
        for r in threshold_sweep(
            df, "score", ts, weight_column="n_tokens"
        ).collect()
    }
    assert set(got) == set(ts)
    for t in ts:
        kept = [(s, w) for _i, s, w in rows if s is not None and s >= t]
        assert got[t]["kept_docs"] == len(kept), t
        assert got[t]["kept_weight"] == sum(w for _s, w in kept), t
        assert got[t]["total_docs"] == len(rows)
        assert got[t]["total_weight"] == sum(w for *_x, w in rows)
        assert got[t]["kept_ppm"] == (len(kept) * 1_000_000) // len(rows)
    ks = [got[t]["kept_docs"] for t in sorted(ts)]
    assert ks == sorted(ks, reverse=True)  # monotone in threshold

    # weightless mode: weight columns NULL, counts identical
    nw = {
        r["threshold"]: r
        for r in threshold_sweep(df, "score", ts).collect()
    }
    for t in ts:
        assert nw[t]["kept_docs"] == got[t]["kept_docs"]
        assert nw[t]["kept_weight"] is None
        assert nw[t]["total_weight"] is None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        threshold_sweep(df, "score", [])
    with _pytest.raises(ValueError, match="distinct"):
        threshold_sweep(df, "score", [1.0, 1.0])


def test_threshold_sweep_plan_is_one_aggregate(spark):
    """The sweep must cost ONE scan + one global aggregate no matter
    how many cutoffs — K cutoffs as K conditional expressions, never a
    data x thresholds join."""
    from pyspark_unload_to_gcs_spark.operators.diagnostics import (
        threshold_sweep,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id long, score double"
    )
    plan = (
        threshold_sweep(df, "score", [float(t) for t in range(20)])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan ") <= 1
    assert "Join" not in plan


def test_repeated_span_dedup_vertical_tab_parity(spark):
    """Regression for the r06 advice finding: Java ``\\s`` includes
    U+000B (vertical tab) while RE2's does not, so tokenizing with
    ``\\s+`` on the Spark side and ``\\s+`` on the DuckDB side diverges
    on VT-bearing text. Both sides now use the explicit class
    ``[ \\t\\n\\x0B\\f\\r]+``; this pins parity on documents where VT
    actually separates tokens inside a repeated span."""
    import duckdb
    import pandas as pd

    from pyspark_unload_to_gcs_spark.operators.dedup import repeated_span_dedup
    from pyspark_unload_to_gcs_spark.registry_pipeline import _SPAN_DEDUP_SQL
    from tests.oracle_harness import assert_matches

    span = "w1 w2\x0bw3 w4 w5\x0bw6 w7 w8 w9 w10"  # 10 tokens iff VT splits
    rows = [
        (1, f"lead {span} tail1"),
        (2, f"{span} other trailing words here"),
        (3, "unique\x0btext with no repeated ten token span at all"),
        (4, ""),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)

    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    out = repeated_span_dedup(sdf, span_tokens=10, min_repeats=2)
    assert_matches(out, con, _SPAN_DEDUP_SQL, name="repeated_span_dedup_vt")
    # the repeated 10-token windows must actually have been detected
    # (i.e. VT really tokenized): docs 1 and 2 lose the shared span
    got = {r["doc_id"]: r["n_tokens_removed"] for r in out.collect()}
    assert got[1] >= 10 and got[2] >= 10 and got[3] == 0
