"""Unit tests for as-of / range joins and IVF assignment on tiny frames
(edge semantics the oracle queries don't isolate: ties, tolerance,
no-match NULLs)."""

from datetime import datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.operators.asof import asof_join, range_join
from pyspark_unload_to_gcs_spark.operators.similarity import ivf_assign


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_basic_tie_and_null(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01T10:00:00")),  # matches r2 (exact tie)
            (2, 10, _ts("2024-01-01T09:30:00")),  # matches r1
            (3, 10, _ts("2024-01-01T08:00:00")),  # before everything -> NULL
            (4, 20, _ts("2024-01-01T12:00:00")),  # no right rows for key -> NULL
        ],
        "id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01T09:00:00")),
            (200, 10, _ts("2024-01-01T10:00:00")),
        ],
        "rid long, k long, ts timestamp",
    )
    out = {
        r.id: r.rid
        for r in asof_join(
            left, right, on="k", left_time="ts", right_time="ts", right_payload=("rid",)
        ).collect()
    }
    assert out == {1: 200, 2: 100, 3: None, 4: None}


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01T10:00:00"))], "id long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, 10, _ts("2024-01-01T08:00:00"))], "rid long, k long, ts timestamp"
    )
    with_tol = asof_join(
        left, right, on="k", left_time="ts", right_time="ts",
        right_payload=("rid",), tolerance_ms=3600_000,
    ).first()
    assert with_tol.rid is None  # 2h gap > 1h tolerance
    no_tol = asof_join(
        left, right, on="k", left_time="ts", right_time="ts", right_payload=("rid",)
    ).first()
    assert no_tol.rid == 100


def test_range_join_bounds_inclusive(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01T10:00:00"))], "id long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01T10:00:00")),   # delta 0 -> in
            (200, 10, _ts("2024-01-01T10:30:00")),   # delta = max -> in
            (300, 10, _ts("2024-01-01T10:30:01")),   # past max -> out
            (400, 10, _ts("2024-01-01T09:59:59")),   # negative -> out
        ],
        "rid long, k long, ts timestamp",
    )
    out = range_join(
        left, right, on="k", left_time="ts", right_time="ts", max_delta_ms=1800_000
    )
    assert sorted(r["rid"] for r in out.select(F.col("r.rid")).collect()) == [100, 200]


def test_ivf_assign_nearest_cell(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    centroids = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    out = {r.vec_id: r.ivf_cell for r in ivf_assign(df, centroids).collect()}
    assert out == {1: 0, 2: 1, 3: 0}


def test_ivf_assign_arrow_matches_fold(spark, sf_dir):
    """The numpy-matmul assignment (method="arrow") must agree with the
    fold-order-exact default cell for cell on real fixture vectors —
    including the exact-score tie rule (larger cell wins), exercised
    with a duplicated centroid."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.similarity import (
        ivf_centroids_from_sample,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    cents = ivf_centroids_from_sample(emb, n_centroids=20)
    fold = {r.vec_id: r.ivf_cell for r in ivf_assign(emb, cents).collect()}
    arrow = {
        r.vec_id: r.ivf_cell
        for r in ivf_assign(emb, cents, method="arrow").collect()
    }
    assert fold == arrow

    # exact tie: identical centroids under two ids -> both methods must
    # pick the LARGER cell id
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    dup = [(0, [1.0, 0.0]), (1, [1.0, 0.0])]
    assert ivf_assign(df, dup).first().ivf_cell == 1
    assert ivf_assign(df, dup, method="arrow").first().ivf_cell == 1


def test_semantic_dedup_auto_arrow_matches_fold(spark, sf_dir):
    """The audit-only arrow-assignment SemDeDup configuration
    (tools/scale_audit.py `semantic_dedup_auto_arrow`) must return the
    SAME survivor set as the registered fold-path query — the scale
    audit row is only meaningful if the production config is
    output-equivalent (VERDICT r05 #7)."""
    from pyspark_unload_to_gcs_spark.registry_pins import (
        semantic_dedup_auto_with_method,
    )

    fold = {
        tuple(r)
        for r in semantic_dedup_auto_with_method(
            spark, sf_dir, assign_method="fold"
        ).collect()
    }
    arrow = {
        tuple(r)
        for r in semantic_dedup_auto_with_method(
            spark, sf_dir, assign_method="arrow"
        ).collect()
    }
    assert fold == arrow


def test_semantic_dedup_fixed_k_arrow_matches_fold(spark, sf_dir):
    """The registered fixed-k semantic_dedup now benches the arrow
    assignment arm (r09, following the auto-k precedent) — its
    survivor set must equal the fold path's, which is what the DuckDB
    oracle replays."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators import similarity as S
    from pyspark_unload_to_gcs_spark.sources.catalog import load_parquet

    emb = load_parquet(spark, f"{sf_dir}/embeddings.parquet")
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
    out = {}
    for method in ("fold", "arrow"):
        out[method] = {
            tuple(r)
            for r in S.semantic_cluster_dedup(
                uni, n_centroids=16, cosine_threshold=0.95, assign_method=method
            )
            .select("vec_id", "label")
            .collect()
        }
    assert out["fold"] == out["arrow"]


# --------------------------------------------------------------------------
# Product quantization
# --------------------------------------------------------------------------


def test_pq_encode_arrow_matches_fold(spark, sf_dir):
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter("vec_id != 0")
    cb = S.pq_codebooks_from_sample(emb, m=4, k=16)
    fold = {r["vec_id"]: r["pq_codes"] for r in S.pq_encode(emb, cb).collect()}
    arrow = {
        r["vec_id"]: r["pq_codes"]
        for r in S.pq_encode(emb, cb, method="arrow").collect()
    }
    assert fold == arrow


def test_pq_planted_duplicate_ranks_first(spark):
    import random

    from pyspark_unload_to_gcs_spark.operators import similarity as S

    rng = random.Random(11)
    dim, m, k = 8, 2, 4
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(1, 40)]
    query = rows[4][1]          # vec_id 5's vector IS the query
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = S.pq_codebooks_from_sample(df, m=m, k=k)
    top = S.pq_topk(df, query, k=3, codebooks=cb).collect()
    # identical vector -> identical codes -> exact reconstructed-cosine
    # of the quantized self -> must be the argmax row
    assert top[0]["vec_id"] == 5


def test_pq_dim_validation(spark):
    from pyspark_unload_to_gcs_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not divisible"):
        S.pq_codebooks_from_sample(df, m=2, k=2)
    cb = S.pq_codebooks_from_sample(df, m=3, k=1)
    with _pytest.raises(ValueError, match="query dim"):
        S.pq_topk(df, [1.0, 2.0], k=1, codebooks=cb)


def test_pq_codebooks_kmeans_refinement_drop_in(spark, sf_dir):
    """pq_codebooks_from_sample documents ivf_centroids_kmeans as a
    drop-in per-subspace refinement — prove the composition: refined
    codebooks slot into pq_encode/pq_topk unchanged and (on the
    fixture) produce a valid, deterministic top-k."""
    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter("vec_id != 0")
    m, k = 4, 8
    dim = len(emb.select("embedding").head()[0])
    sub = dim // m
    refined = []
    for s in range(m):
        sliced = emb.select(
            "vec_id", F.slice("embedding", s * sub + 1, sub).alias("embedding")
        )
        refined.append(
            S.ivf_centroids_kmeans(sliced, n_centroids=k, iterations=1)
        )
    # plant the query: vec_id 3's own vector — identical input means
    # identical codes, and the ADC score of a vector against its own
    # reconstruction is the maximum over rows sharing those codes, so
    # the planted row must appear in the top-k (a tautological
    # "run-it-twice" assertion could not catch a wrong-result bug;
    # review finding)
    q = [float(x) for x in emb.filter("vec_id = 3").select("embedding").head()[0]]
    top = S.pq_topk(emb, q, k=5, codebooks=refined).collect()
    assert len(top) == 5
    ids = [r["vec_id"] for r in top]
    assert 3 in ids
    # and the planted row's score is the max (ties allowed)
    by_id = {r["vec_id"]: r["pq_score"] for r in top}
    assert by_id[3] == max(by_id.values())


def _asof_referee(lrows, rrows, direction, tolerance=None):
    """Brute-force merge_asof semantics: (key, lt) -> matched rt or None;
    exact matches allowed; nearest ties go backward."""
    out = {}
    for lid, k, lt in lrows:
        backs = [rt for rk, rt in rrows if rk == k and rt <= lt]
        fwds = [rt for rk, rt in rrows if rk == k and rt >= lt]
        b = max(backs) if backs else None
        f = min(fwds) if fwds else None
        if tolerance is not None:
            if b is not None and lt - b > tolerance:
                b = None
            if f is not None and f - lt > tolerance:
                f = None
        if direction == "backward":
            out[lid] = b
        elif direction == "forward":
            out[lid] = f
        elif b is None:
            out[lid] = f
        elif f is None:
            out[lid] = b
        else:
            out[lid] = b if (lt - b) <= (f - lt) else f
    return out


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("tolerance", [None, 5_000])
def test_asof_join_directions_match_referee(spark, direction, tolerance):
    import pyspark.sql.functions as FF

    from pyspark_unload_to_gcs_spark.operators.asof import asof_join

    lrows = [
        (1, "u", 10_000), (2, "u", 13_000), (3, "u", 30_000),
        (4, "v", 5_000), (5, "w", 8_000), (6, "u", 12_000),
    ]
    rrows = [
        ("u", 9_000), ("u", 12_000), ("u", 21_000),
        ("v", 50_000), ("x", 1_000),
    ]
    left = spark.createDataFrame(
        [(i, k, t) for i, k, t in lrows], "lid long, k string, lt long"
    ).select("lid", "k", FF.timestamp_millis(FF.col("lt")).alias("lt"))
    right = spark.createDataFrame(
        [(k, t, f"p{t}") for k, t in rrows], "k string, rt long, pay string"
    ).select("k", FF.timestamp_millis(FF.col("rt")).alias("rt"), "pay")
    out = asof_join(
        left, right, on="k", left_time="lt", right_time="rt",
        right_payload=("pay",), direction=direction, tolerance_ms=tolerance,
    )
    got = {
        r["lid"]: (None if r["rt"] is None else int(r["rt"].timestamp() * 1000))
        for r in out.collect()
    }
    want = _asof_referee(lrows, [(k, t) for k, t in rrows], direction, tolerance)
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    lrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=0, max_size=10
    ),
    rrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=0, max_size=10
    ),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    tol=st.sampled_from([None, 3_000, 10_000]),
)
def test_asof_join_directions_fuzz(spark, lrows, rrows, direction, tol):
    import pyspark.sql.functions as FF

    from pyspark_unload_to_gcs_spark.operators.asof import asof_join

    lrows = [(i, f"k{k}", t * 1000) for i, (k, t) in enumerate(lrows)]
    rrows = [(f"k{k}", t * 1000) for k, t in rrows]
    if not lrows:
        return
    left = spark.createDataFrame(
        lrows, "lid long, k string, lt long"
    ).select("lid", "k", FF.timestamp_millis(FF.col("lt")).alias("lt"))
    right = spark.createDataFrame(
        rrows + [("__never", 0)], "k string, rt long"
    ).select("k", FF.timestamp_millis(FF.col("rt")).alias("rt"))
    right = right.withColumn("pay", FF.col("rt").cast("string"))
    out = asof_join(
        left, right, on="k", left_time="lt", right_time="rt",
        right_payload=("pay",), direction=direction, tolerance_ms=tol,
    )
    got = {
        r["lid"]: (None if r["rt"] is None else int(r["rt"].timestamp() * 1000))
        for r in out.collect()
    }
    assert got == _asof_referee(lrows, rrows, direction, tol)


def test_asof_join_rejects_unknown_direction(spark):
    from pyspark_unload_to_gcs_spark.operators.asof import asof_join

    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="direction"):
        asof_join(df, df, on="x", left_time="x", right_time="x",
                  right_payload=(), direction="sideways")


def test_pq_index_append_modes_and_untouched_cells(spark, tmp_path):
    """On-disk IVF-PQ maintenance (similarity.pq_index_write/append):
    append mode adds batch rows without reading old cells; compact
    mode rewrites ONLY touched cell partitions (untouched partition
    files stay byte-identical); both end states serve the same top-k
    as a from-scratch index over the union."""
    import os
    import random

    from pyspark_unload_to_gcs_spark.operators import similarity as S

    rng = random.Random(23)
    dim, m, k = 8, 2, 4
    mk = lambda i: [rng.uniform(-1, 1) for _ in range(dim)]  # noqa: E731
    base_rows = [(i, mk(i)) for i in range(1, 31)]
    new_rows = [(i, mk(i)) for i in range(100, 110)]
    schema = "vec_id long, embedding array<double>"
    base = spark.createDataFrame(base_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    query = base_rows[2][1]
    cents = S.ivf_centroids_from_sample(base, n_centroids=k)
    cb = S.pq_codebooks_from_sample(base, m=m, k=k, seeds=cents)

    def serve(path):
        idx = spark.read.parquet(path).drop("ivf_cell")
        return [
            (r["vec_id"], round(r["pq_score"], 9))
            for r in S.pq_topk(idx, query, k=5, codebooks=cb).collect()
        ]

    # reference: one-shot index over the union
    ref = str(tmp_path / "ref_idx")
    S.pq_index_write(base.unionByName(new), ref, cents, cb)
    want = serve(ref)

    for compact in (False, True):
        path = str(tmp_path / f"idx_compact_{compact}")
        S.pq_index_write(base, path, cents, cb)
        # fingerprint every partition file before the append
        pre = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    pre[p] = os.path.getsize(p)
        touched = S.pq_index_append(
            spark, path, new, cents, cb, compact=compact
        )
        assert 1 <= touched <= k
        assert serve(path) == want, f"compact={compact} diverges from rebuild"
        # untouched cell partitions keep their original files
        touched_cells = {
            r[0]
            for r in S.pq_encode(
                S.ivf_assign(new, cents), cb
            ).select("ivf_cell").distinct().collect()
        }
        for p, size in pre.items():
            cell = int(p.split("ivf_cell=")[1].split("/")[0])
            if cell not in touched_cells:
                assert os.path.exists(p) and os.path.getsize(p) == size, (
                    f"compact={compact}: untouched cell {cell} was rewritten"
                )
        # compaction staging dirs must not leak (ADVICE r09): a
        # high-frequency append stream would otherwise accumulate a
        # full copy of the touched cells per compaction
        leftovers = [
            d
            for d in os.listdir(str(tmp_path))
            if "__compact_tmp" in d
        ]
        assert leftovers == [], f"compact={compact}: staging leak {leftovers}"

    # empty batch is a no-op
    assert S.pq_index_append(spark, path, new.limit(0), cents, cb) == 0
