"""DSIR importance resampling (operators/dsir.py) and the date-spine
gap fill (operators/product.py::gap_fill_daily)."""

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark_unload_to_gcs_spark.operators import dsir

BUCKETS = 256


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_hashed_bigram_stream_edges(spark):
    df = _docs(
        spark,
        [
            (1, "alpha beta gamma", "en"),  # 2 bigrams
            (2, "single", "en"),            # <2 words -> no rows
            (3, "", "en"),                  # empty -> no rows
            (4, "x y", "en"),               # exactly one bigram
        ],
    )
    out = dsir.hashed_bigram_stream(df, num_buckets=BUCKETS).groupBy(
        "doc_id"
    ).count()
    got = {r["doc_id"]: r["count"] for r in out.collect()}
    assert got == {1: 2, 4: 1}


def test_log_ratio_sign_and_totals(spark):
    """A bigram exclusive to the target domain gets a POSITIVE log
    ratio; one absent from the target gets a NEGATIVE one (the raw
    corpus includes the target, so 'absent from target' means the
    ratio numerator is the +1 smoothing alone)."""
    df = _docs(
        spark,
        [
            (1, "targetonly wordpair targetonly wordpair", "fr"),
            (2, "rawonly tokens rawonly tokens rawonly tokens", "en"),
            (3, "rawonly tokens more filler text here", "en"),
        ],
    )
    ratios = dsir.dsir_log_ratio_table(
        df, F.col("lang") == "fr", num_buckets=BUCKETS
    )
    rows = ratios.collect()
    assert sum(r["r_cnt"] for r in rows) > 0
    # every target occurrence is also a raw occurrence
    assert all(r["t_cnt"] <= r["r_cnt"] for r in rows)
    target_only = [r for r in rows if r["t_cnt"] == r["r_cnt"] and r["t_cnt"] > 0]
    raw_only = [r for r in rows if r["t_cnt"] == 0]
    assert target_only and raw_only
    assert all(r["lr_micro"] > 0 for r in target_only)
    assert all(r["lr_micro"] < 0 for r in raw_only)


def test_weights_zero_bigram_doc_preserved(spark):
    df = _docs(spark, [(1, "a b c", "en"), (2, "solo", "en")])
    w = {
        r["doc_id"]: (r["n_bigrams"], r["w_micro"])
        for r in dsir.dsir_weights(
            df, F.col("lang") == "fr", num_buckets=BUCKETS
        ).collect()
    }
    assert w[1][0] == 2
    assert w[2] == (0, 0)


def test_select_deterministic_and_enriched(spark, sf_dir):
    """On the documents fixture, the normalized top-k must (a) return
    exactly k rows in a deterministic order and (b) over-represent the
    target domain vs its corpus base rate — the operator's reason to
    exist. The un-normalized raw sum is length-dominated and must NOT
    be the default."""
    from pyspark_unload_to_gcs_spark.registry import _t

    docs = _t(spark, sf_dir, "documents")
    tgt = F.col("lang") == "fr"
    sel = dsir.dsir_select(docs, tgt, k=50, num_buckets=4096)
    rows = sel.collect()
    assert len(rows) == 50
    assert rows == sel.collect()  # deterministic re-run
    ids = [r["doc_id"] for r in rows]
    n_fr_sel = docs.filter(F.col("doc_id").isin(ids)).filter(tgt).count()
    n_fr = docs.filter(tgt).count()
    n = docs.count()
    assert n_fr_sel / 50 > 2 * (n_fr / n), (
        f"no enrichment: {n_fr_sel}/50 selected vs {n_fr}/{n} base"
    )


def test_shift_report_booleans(spark, sf_dir):
    from pyspark_unload_to_gcs_spark.registry import _t

    docs = _t(spark, sf_dir, "documents")
    row = dsir.dsir_shift_report(
        docs, F.col("lang") == "fr", k=50, num_buckets=4096
    ).first()
    assert row["kl_improved"] is True
    assert row["n_selected"] == 50


def test_gap_fill_daily_exact(spark):
    """Known gaps fill with zeros inside each user's own span: user 1
    active on days 10 and 13 (gap 11-12), user 2 active once (span of
    one day, no gaps)."""
    from pyspark_unload_to_gcs_spark.operators.product import gap_fill_daily

    ms = 86_400_000
    rows = [
        (1, 10 * ms), (1, 10 * ms + 5), (1, 13 * ms),
        (2, 20 * ms),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_ms long").select(
        "user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts")
    )
    got = {
        (r["user_id"], r["day"]): (r["n_events"], r["is_gap"])
        for r in gap_fill_daily(df).collect()
    }
    assert got == {
        (1, 10): (2, False),
        (1, 11): (0, True),
        (1, 12): (0, True),
        (1, 13): (1, False),
        (2, 20): (1, False),
    }


def test_incremental_scoring_bit_identical(spark, sf_dir, tmp_path):
    """A batch scored against the persisted ratio table must reproduce
    the full-corpus pass's weights bit-for-bit (the frozen-model
    increment contract), and unseen-vocabulary documents score 0."""
    from pyspark_unload_to_gcs_spark.registry import _t

    docs = _t(spark, sf_dir, "documents")
    tgt = F.col("lang") == "fr"
    path = str(tmp_path / "ratio")
    dsir.dsir_ratio_write(docs, tgt, path, num_buckets=4096)

    batch = docs.filter(F.col("doc_id") % 7 == 3)
    inc = {
        r["doc_id"]: (r["n_bigrams"], r["w_micro"], r["avg_lr_micro"])
        for r in dsir.dsir_score_batch(
            spark, batch, path, num_buckets=4096
        ).collect()
    }
    full = {
        r["doc_id"]: (r["n_bigrams"], r["w_micro"])
        for r in dsir.dsir_weights(docs, tgt, num_buckets=4096).collect()
        if r["doc_id"] % 7 == 3
    }
    assert set(inc) == set(full)
    for d, (n, w) in full.items():
        assert inc[d][:2] == (n, w), d

    # vocabulary unseen by the model scores 0 (conservative neutral)
    alien = spark.createDataFrame(
        [(999999, "zzqx wwvu zzqx wwvu", "xx")], "doc_id long, text string, lang string"
    )
    row = dsir.dsir_score_batch(spark, alien, path, num_buckets=4096).first()
    assert row["n_bigrams"] == 3 and row["w_micro"] == 0


def test_margin_align_planted_pair_and_hub_suppression(spark):
    """A planted near-duplicate across the two sides must be mined
    with the top margin, while a HUB target (moderately similar to
    every source) must not win any source whose true partner exists —
    the ratio margin exists precisely to suppress hubs that raw
    cosine retrieval would pick."""
    import math
    import random

    from pyspark.sql import functions as F

    from pyspark_unload_to_gcs_spark.operators.align import margin_align_pairs
    from pyspark_unload_to_gcs_spark.operators.similarity import (
        ivf_centroids_from_sample,
    )

    rng = random.Random(7)
    dim = 16

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    base = [unit([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(6)]
    rows = []
    # sources 0,2,4,...: base vectors; targets = tiny perturbations
    for i, v in enumerate(base):
        rows.append((2 * i, v))
        rows.append((2 * i + 1, unit([x + 0.01 * rng.gauss(0, 1) for x in v])))
    # hub target: the normalized mean — similar to everything
    hub = unit([sum(v[d] for v in base) for d in range(dim)])
    rows.append((99, hub))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids_from_sample(df, n_centroids=1)  # one cell: all pairs
    out = {
        r["src_id"]: (r["tgt_id"], r["margin_r"])
        for r in margin_align_pairs(
            df,
            F.col("vec_id") % 2 == 0,
            F.col("vec_id") % 2 == 1,
            centroids=cents,
            k=3,
            margin_threshold=1.0,
        ).collect()
    }
    for i in range(6):
        tgt, margin = out[2 * i]
        assert tgt == 2 * i + 1, f"src {2*i} mined {tgt}, not its partner"
        assert margin > 1.0


def test_score_batch_bucket_count_mismatch_raises(spark, sf_dir, tmp_path):
    """The persisted model carries its bucket count; scoring with a
    different one would silently mis-hash every feature — it must
    raise instead (the frozen-model contract)."""
    import pytest

    from pyspark_unload_to_gcs_spark.registry import _t

    docs = _t(spark, sf_dir, "documents").limit(20)
    path = str(tmp_path / "ratio")
    dsir.dsir_ratio_write(docs, F.col("lang") == "fr", path, num_buckets=256)
    with pytest.raises(ValueError, match="num_buckets"):
        dsir.dsir_score_batch(spark, docs, path, num_buckets=512)


def test_margin_align_mutual_mode(spark, sf_dir):
    """mutual=True keeps only pairs that are each other's best — a
    strict subset of the forward mining, and every surviving pair's
    source must be its target's argmax-margin source."""
    from pyspark_unload_to_gcs_spark.operators.align import margin_align_pairs
    from pyspark_unload_to_gcs_spark.operators.similarity import (
        ivf_centroids_from_sample,
    )

    from pyspark_unload_to_gcs_spark.registry import _t

    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_centroids_from_sample(emb, n_centroids=8)
    kw = dict(centroids=cents, k=4, margin_threshold=1.0)
    fwd = {
        (r["src_id"], r["tgt_id"])
        for r in margin_align_pairs(
            emb, F.col("vec_id") % 2 == 0, F.col("vec_id") % 2 == 1, **kw
        ).collect()
    }
    mut = {
        (r["src_id"], r["tgt_id"])
        for r in margin_align_pairs(
            emb, F.col("vec_id") % 2 == 0, F.col("vec_id") % 2 == 1, mutual=True, **kw
        ).collect()
    }
    assert mut <= fwd
    assert 0 < len(mut) < len(fwd)
    # mutuality: no target appears for two different sources in mut
    tgts = [t for _s, t in mut]
    assert len(tgts) == len(set(tgts))


def test_margin_align_auto_arrow_matches_fold(spark, sf_dir):
    """The benched margin_align_auto row runs the Arrow matmul
    assignment; the DuckDB oracle derives from the fold arm. This pin
    makes the two arms' OUTPUT equality a test invariant at the
    auto-k operating point (the ivf_assign twin contract) — if the
    argmax ever flips on an exact centroid-score tie, this fails
    before the driver row does."""
    from pyspark_unload_to_gcs_spark.registry_pipeline import (
        margin_align_auto_with_method,
    )

    def rows(method):
        return {
            (r["src_id"], r["tgt_id"], r["cos_r"], r["margin_r"])
            for r in margin_align_auto_with_method(
                spark, sf_dir, assign_method=method
            ).collect()
        }

    arrow = rows("arrow")
    assert arrow == rows("fold")
    assert len(arrow) > 0


def test_leakage_safe_split_members_share_split(spark, sf_dir):
    """The property the row exists for: every near-dup cluster's
    members land in the SAME split (zero leakage), and both splits are
    non-empty on the fixture."""
    from pyspark_unload_to_gcs_spark.registry_pipeline import leakage_safe_split_q

    out = leakage_safe_split_q(spark, sf_dir)
    leaky = (
        out.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert leaky == 0
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits == {"train", "test"}
